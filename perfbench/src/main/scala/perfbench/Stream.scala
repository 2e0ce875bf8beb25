package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Drives `StreamingPipeline.indexedDedupStream` from a MemoryStream.
  *
  * Phase (a): the source is always ahead — each trigger is handed
  * `perTrigger` documents and drained before the next is added.
  * Phase (b): an open loop — one generator thread adds rows on a fixed
  * schedule (`rate` rows/s) that does not slow when the query slows;
  * each row's latency runs from its due time to the commit of the
  * micro-batch that holds it. */
object Stream {

  /** One open-loop run of the generator. */
  final case class OpenLoop(latMs: Seq[Double], lateMaxMs: Double, backlogMax: Long,
      rows: Long)

  /** graft's maintained-band-index dedup sink, writing under `root`. */
  def indexedDedup(docs: DataFrame, root: String): StreamingQuery =
    graft.streaming.StreamingPipeline.indexedDedupStream(docs, s"$root/index",
      s"$root/hits", s"$root/checkpoint")

  /** A MemoryStream of (doc_id, text) feeding the query `start` builds. */
  final class Run(spark: SparkSession, root: String, seed: Long,
      start: (DataFrame, String) => StreamingQuery = indexedDedup) {
    private val ctx = spark.sqlContext
    val stream = MemoryStream[(Long, String)](Encoders.product[(Long, String)], ctx)
    val indexDir = s"$root/index"; val hitsDir = s"$root/hits"
    val query: StreamingQuery = start(stream.toDF().toDF("doc_id", "text"), root)
    /** Due time (epoch ms) of the rows of every addData call, by offset. */
    private val due = mutable.ArrayBuffer.empty[Array[Long]]
    var next = 0L

    def add(n: Int, dueMs: Array[Long]): Unit = {
      stream.addData((next until next + n).map(i => (i, Gen.streamDoc(seed, i))): _*)
      due += dueMs; next += n
    }

    /** Closed-loop trigger: add `n` rows, wait for their commit. */
    def trigger(n: Int): Double = {
      val t0 = System.nanoTime()
      add(n, Array.fill(n)(System.currentTimeMillis()))
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }

    def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

    /** The last offset (addData call) whose rows `p` committed. */
    private def committedThrough(p: StreamingQueryProgress): Int =
      Option(p.sources.head.endOffset).flatMap(_.trim.toIntOption).getOrElse(-1)

    /** Epoch-ms commit time of every addData call's batch. */
    def commitTimes: Map[Int, Long] = {
      val byEnd = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
      var from = -1
      byEnd.flatMap { p =>
        val end = committedThrough(p)
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.getOrDefault("triggerExecution", 0L)
        val r = ((from + 1) to end).map(_ -> at)
        from = math.max(from, end)
        r
      }.toMap
    }

    /** Phase (b): at every `tickMs` boundary, add the rows due by then
      * at `rate` rows/s, for `seconds`; then wait for all of them to
      * commit. Lateness is how long after its tick a chunk was added. */
    def openLoop(rate: Double, seconds: Double, tickMs: Long): OpenLoop = {
      val total = (rate * seconds).round
      val firstOffset = due.size
      val t0 = System.currentTimeMillis()
      var sent = 0L; var lateMax = 0.0; var backlogMax = 0L
      val committedRows = () => {
        val off = progress.lastOption.map(committedThrough).getOrElse(-1)
        due.take(off + 1).map(_.length.toLong).sum
      }
      while (sent < total) {
        Thread.sleep(tickMs - Math.floorMod(System.currentTimeMillis() - t0, tickMs))
        val tick = t0 + (System.currentTimeMillis() - t0) / tickMs * tickMs
        val dueNow = math.min(total, math.floor((tick - t0) * rate / 1000.0).toLong + 1)
        if (dueNow > sent) {
          add((dueNow - sent).toInt, Array.tabulate((dueNow - sent).toInt)(k =>
            t0 + math.ceil((sent + k) * 1000.0 / rate).toLong))
          lateMax = math.max(lateMax, (System.currentTimeMillis() - tick).toDouble)
          sent = dueNow
          backlogMax = math.max(backlogMax, next - committedRows())
        }
      }
      query.processAllAvailable()
      val commits = commitTimes
      val lat = (firstOffset until due.size).flatMap { off =>
        val at = commits.getOrElse(off, Long.MaxValue)
        due(off).map(d => (at - d).toDouble)
      }
      OpenLoop(lat, lateMax, backlogMax, total)
    }

    def stop(): Unit = { query.stop(); query.awaitTermination(60000) }
  }

  /** Planted facts: every twin reported, no duplicate hit rows, every
    * ingested doc in the index. */
  def check(spark: SparkSession, run: Run, out: Outcome): Unit = {
    import spark.implicits._
    val hits = spark.read.parquet(run.hitsDir).select($"id_a", $"id_b").as[(Long, Long)]
      .collect().toSeq
    val twins = (0L until run.next).filter(_ % 100 == 99).map(i => (i - 1, i))
    val missing = twins.filterNot(hits.toSet)
    out.check("planted twins reported", missing.isEmpty,
      s"${twins.size - missing.size}/${twins.size} twins; missing ${missing.take(5).mkString(",")}")
    out.check("no duplicate hit rows", hits.size == hits.distinct.size,
      s"${hits.size} rows, ${hits.distinct.size} distinct")
    val indexed = spark.read.parquet(run.indexDir).select($"doc_id").distinct().count()
    out.check("index holds every ingested doc", indexed == run.next,
      s"$indexed of ${run.next} docs")
  }

  /** Sink files and bytes under `dir`. */
  def files(dir: String): (Int, Long) = {
    val fs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.length, fs.map(_.length).sum)
  }
}

/** The stream_dedup workload: set-up (query start, `WarmTriggers` warm
  * triggers), then phase (a), phase (b), planted-fact checks and metrics. */
object StreamRunner {
  /** Documents per closed-loop trigger, and phase (a)'s trigger count. */
  val PerTrigger = 1000
  val TriggersA = 10
  /** Closed-loop triggers of set-up: the first few micro-batches of a
    * query are still compiling and are slower than the later ones. */
  val WarmTriggers = 6
  /** Phase (b)'s open-loop rate in rows/s: about a third of phase (a)'s
    * measured throughput on a 4-core host (see README); at half, the
    * commit latency spread more from run to run. Rows due within
    * one tick are added together, so a micro-batch reads a few
    * MemoryStream blocks, not one per row. */
  val Rate = 300.0
  val TickMs = 250L

  /** Spark's per-trigger duration components, in execution order. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
  private val Key = Map("latestOffset" -> "latest_offset_ms", "walCommit" -> "wal_commit_ms",
    "getBatch" -> "get_batch_ms", "queryPlanning" -> "query_planning_ms",
    "addBatch" -> "add_batch_ms", "commitOffsets" -> "commit_offsets_ms")
  /** A generator later than this measured itself, not graft. */
  val LateLimitMs = 1000.0

  def setUp(spark: SparkSession, root: String, a: Main.Args,
      out: Outcome): Option[Tracer] => Unit = {
    Main.rmrf(new java.io.File(root))
    val r = new Stream.Run(spark, root, a.seed)
    try for (_ <- 0 until WarmTriggers) r.trigger(PerTrigger)
    catch { case e: Exception => r.stop(); throw e }
    tracer => run(spark, r, a, tracer, out)
  }

  private def run(spark: SparkSession, r: Stream.Run, a: Main.Args, tracer: Option[Tracer],
      out: Outcome): Unit = {
    try {
      val warmBatches = r.progress.count(_.numInputRows > 0)
      val host0 = Host.sample()
      val a0 = System.nanoTime()
      val trig = (0 until TriggersA).map { k =>
        val traced = tracer.isDefined && k % 2 == 1
        if (traced) tracer.get.attach()
        val ms = r.trigger(PerTrigger)
        if (traced) tracer.get.detach()
        (ms, traced)
      }
      val wallA = (System.nanoTime() - a0) / 1e9
      tracer.foreach(_.attach())
      val ol = r.openLoop(Rate, a.seconds, TickMs)
      tracer.foreach(_.detach())
      val host = Host.window(host0)
      val batches = r.progress.filter(_.numInputRows > 0).drop(warmBatches)
      out.attempted += batches.size
      Stream.check(spark, r, out)
      out.check("generator on time", ol.lateMaxMs <= LateLimitMs,
        f"latest row added ${ol.lateMaxMs}%.0f ms after its due time (limit $LateLimitMs%.0f)")
      val rowsA = TriggersA.toLong * PerTrigger
      val lat = ol.latMs
      // one stalled trigger (host steal, a GC pause) barely moves the median
      val passS = TriggersA * Stats.median(trig.map(_._1)) / 1000
      out.report += f"phase a: $rowsA rows in $wallA%.3f s = ${rowsA / wallA}%.1f ingest_rows_per_s; " +
        f"trigger p50 ${Stats.median(trig.map(_._1))}%.1f ms; pass_s $passS%.3f; triggers (ms): " +
        trig.map(t => f"${t._1}%.0f").mkString(", ")
      out.report += f"phase b: ${ol.rows} rows at $Rate%.0f rows/s; commit_lat_p50_ms ${Stats.median(lat)}%.1f" +
        Stats.tail(lat, 0.99).map(t => f"; commit_lat_p${t.level * 100}%.0f_ms ${t.value}%.1f over ${t.samples} rows").getOrElse("") +
        f"; backlog max ${ol.backlogMax} rows; generator late max ${ol.lateMaxMs}%.0f ms"
      if (tracer.isEmpty) {
        out.metric("pass_s", passS, "s")
        out.metric("op_ms", Stats.median(lat), "ms")
      } else {
        val t = tracer.get
        val prog = t.progress.map(_.progress).filter(_.numInputRows > 0).toSeq
        for (ph <- Phases)
          out.metric(s"streaming.${Key(ph)}",
            Stats.mean(prog.map(_.durationMs.getOrDefault(ph, 0L).toDouble)), "ms")
        val jobs = t.streamJobs
        out.metric("streaming.jobs_per_batch",
          Stats.mean(prog.map(p => jobs.getOrElse(p.batchId, 0).toDouble)), "count")
        val addA = batches.take(TriggersA).map(_.durationMs.getOrDefault("addBatch", 0L).toDouble)
        val tenth = math.max(1, addA.size / 10)
        out.metric("streaming.add_batch_growth",
          Stats.mean(addA.takeRight(tenth)) / math.max(1.0, Stats.mean(addA.take(tenth))), "ratio")
        val (idxFiles, idxBytes) = Stream.files(r.indexDir)
        out.metric("sinks.index_files", idxFiles, "count")
        out.metric("sinks.index_bytes", idxBytes.toDouble, "B")
        out.metric("sinks.hits_files", Stream.files(r.hitsDir)._1, "count")
        out.metric("sources.backlog_rows_max", ol.backlogMax.toDouble, "count")
        out.metric("sources.gen_late_ms", ol.lateMaxMs, "ms")
        Host.metrics(Seq(host), out)
        val (tr, pl) = trig.partition(_._2)
        val overhead = 100 * (Stats.median(tr.map(_._1)) / Stats.median(pl.map(_._1)) - 1)
        out.metric("trace.overhead_pct", overhead, "%")
        out.report += f"tracing overhead: traced trigger ${Stats.median(tr.map(_._1))}%.1f ms vs untraced " +
          f"${Stats.median(pl.map(_._1))}%.1f ms ($overhead%+.1f%%)"
        for (p <- prog) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          val total = p.durationMs.getOrDefault("triggerExecution", 0L)
          val bi = t.span("batch", s"batch ${p.batchId}", 0, start, start + total,
            Map("rows" -> p.numInputRows.toDouble))
          var at = start
          for (ph <- Phases) {
            val d = p.durationMs.getOrDefault(ph, 0L)
            t.span("phase", ph, bi, at, at + d); at += d
          }
        }
      }
    } catch { case e: Exception => out.fail("stream_dedup", e) }
    finally r.stop()
  }
}
