package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the index of the enclosing span in
  * [[Tracer.spans]] (-1 at the root); times are epoch milliseconds. */
final case class Span(kind: String, name: String, parent: Int,
    startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty)

/** What one batch query cost, from the listeners' point of view. */
final case class QueryTrace(name: String, module: String, wallMs: Double,
    buildMs: Double, execMs: Double, buildJobs: Int, execJobs: Int,
    stages: Int, tasks: Int, taskCpuMs: Double, gcMs: Double,
    shuffleRead: Double, shuffleWrite: Double, spill: Double,
    inputBytes: Double, inputRows: Double, skew: Double, gapMs: Double,
    planMs: Double, sparkExecMs: Double, persistedRdds: Int,
    cachedBlocks: Int, unattributedJobs: Int) {
  /** Share of the query's wall time covered by its build and execute
    * spans (the two are measured back to back). */
  def coverage: Double = if (wallMs > 0) (buildMs + execMs) / wallMs else 1.0
}

/** The traced run's instrumentation: a SparkListener (jobs, stages,
  * tasks), a QueryExecutionListener (planning phases of each action) and
  * a StreamingQueryListener (per-batch duration breakdown). Jobs are
  * attributed through their `<query>/<phase>` job description; the
  * listener bus is drained between phases so every event lands in the
  * phase that caused it. Spans stay in memory until [[spans]] is read. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  private val planned = mutable.ArrayBuffer.empty[(String, Double, Double)]
  @volatile private var phaseTag = ""
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  val spans = mutable.ArrayBuffer.empty[Span]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val tag = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, tag, batch, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.taskMs += e.taskInfo.duration.toDouble
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
      planned += ((phaseTag, plan, durationNs / 1e6))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
  }

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = PerfbenchShim.drainListeners(sc)

  /** Tag every job the calling thread starts from now on. */
  def phase(query: String, phase: String): Unit = {
    drain()
    phaseTag = s"$query/$phase"
    sc.setJobGroup(query, phaseTag)
    sc.setJobDescription(phaseTag)
  }
  def clearPhase(): Unit = {
    drain(); phaseTag = ""; sc.clearJobGroup(); sc.setJobDescription(null)
  }

  def span(kind: String, name: String, parent: Int, startMs: Long, endMs: Long,
      attrs: Map[String, Double] = Map.empty): Int = synchronized {
    spans += Span(kind, name, parent, startMs, endMs, attrs); spans.size - 1
  }

  /** Jobs seen so far whose tag is `tag`, and those with no known query. */
  private def jobsTagged(tag: String): Seq[JobRec] = jobs.values.filter(_.tag == tag).toSeq

  /** Fold everything the listeners saw for `query` into one record, add
    * its spans under `parent`, and forget its jobs. */
  def finishQuery(query: String, module: String, parent: Int, startMs: Long,
      buildEndMs: Long, execStartMs: Long, endMs: Long, buildMs: Double,
      execMs: Double, wallMs: Double): QueryTrace = {
    clearPhase()
    synchronized {
      val build = jobsTagged(s"$query/build"); val exec = jobsTagged(s"$query/execute")
      val mine = build ++ exec
      val unattributed = jobs.values.count(j => j.tag.isEmpty && j.batch.isEmpty)
      val aggs = mine.flatMap(_.stages).distinct.flatMap(stageAgg.get)
      val qi = span("query", query, parent, startMs, endMs)
      val bi = span("build", s"$query/build", qi, startMs, buildEndMs)
      val ei = span("execute", s"$query/execute", qi, execStartMs, endMs)
      for (j <- mine) span("job", s"job ${j.id}", if (build.contains(j)) bi else ei,
        j.start, math.max(j.end, j.start))
      // time inside the query during which no job of it was running
      val covered = union(mine.map(j => (math.max(j.start, startMs),
        math.min(if (j.end < 0) endMs else j.end, endMs))))
      val skew = aggs.filter(_.taskMs.size >= 2).map { a =>
        a.taskMs.max / math.max(Stats.median(a.taskMs.toSeq), 1.0)
      }.maxOption.getOrElse(1.0)
      val execPlans = planned.filter(_._1 == s"$query/execute")
      val persisted = sc.getPersistentRDDs.size
      val blocks = sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
      val t = QueryTrace(query, module, wallMs, buildMs, execMs, build.size,
        exec.size, aggs.size, aggs.map(_.tasks).sum, aggs.map(_.cpuNs).sum / 1e6,
        aggs.map(_.gcMs).sum.toDouble, aggs.map(_.shRead).sum.toDouble,
        aggs.map(_.shWrite).sum.toDouble, aggs.map(_.spill).sum.toDouble,
        aggs.map(_.inBytes).sum.toDouble, aggs.map(_.inRows).sum.toDouble, skew,
        math.max(0.0, (endMs - startMs - covered).toDouble), execPlans.map(_._2).sum,
        execPlans.map(_._3).sum, persisted, blocks, unattributed)
      mine.foreach(j => jobs.remove(j.id))
      jobs.filterInPlace((_, j) => j.tag.nonEmpty || j.batch.nonEmpty)
      mine.flatMap(_.stages).foreach(stageAgg.remove)
      planned.clear()
      t
    }
  }

  /** Spark jobs per streaming micro-batch id, and the stages of each. */
  def streamJobs: Map[Long, Int] = synchronized {
    jobs.values.flatMap(_.batch).groupBy(identity).map { case (b, js) => b -> js.size }
  }

  /** Length of the union of closed intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Tracer {
  private final class StageAgg {
    var tasks = 0; var cpuNs = 0L; var gcMs = 0L
    var shRead = 0L; var shWrite = 0L; var spill = 0L
    var inBytes = 0L; var inRows = 0L
    val taskMs = mutable.ArrayBuffer.empty[Double]
  }
  private final case class JobRec(id: Int, tag: String, batch: Option[Long],
      start: Long, stages: Seq[Int], var end: Long = -1L)
}
