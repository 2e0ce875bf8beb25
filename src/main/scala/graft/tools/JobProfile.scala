package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB wall-time profile of one or more registered queries — the
  * measurement companion to [[graft.Bench]] (guide §1: find where the
  * seconds go before touching anything). Runs each named query once
  * through the noop sink with a listener that records every job's wall
  * time, description, stage count and shuffle bytes, then prints a
  * table. Not part of the driver contract; local tooling only.
  *
  * Usage: sbt "runMain graft.tools.JobProfile <sfDir> q_a,q_b,..."
  */
object JobProfile {
  private case class JobRow(id: Int, desc: String, ms: Long,
      stages: Int, shufWriteB: Long, shufReadB: Long, tasks: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Int)]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        starts.put(e.jobId, (e.time, desc, e.stageIds.size))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        val jid = Option(stageToJob.get(e.stageInfo.stageId)).getOrElse(-1)
        stageAgg.merge(jid,
          (m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead, e.stageInfo.numTasks),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.get(e.jobId)).foreach { case (t0, desc, nStages) =>
          val (w, r, t) = Option(stageAgg.get(e.jobId)).getOrElse((0L, 0L, 0))
          jobs.put(e.jobId,
            JobRow(e.jobId, desc, e.time - t0, nStages, w, r, t))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    graft.Bench.warmUp(spark, sfDir)

    val iters = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ITERS", "3").toInt
    names.foreach { name =>
      // run `iters` times; report every iteration's total and the job
      // table of the FASTEST iteration (the bench's min-of-N analogue,
      // so first-run codegen/JIT is attributed separately)
      import scala.jdk.CollectionConverters._
      var best: (Double, Seq[JobRow]) = (Double.MaxValue, Nil)
      val totals = (1 to iters).map { _ =>
        jobs.clear(); starts.clear(); stageAgg.clear(); stageToJob.clear()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e6
        Thread.sleep(150) // let the listener bus drain the last job-end
        val rows = jobs.values.asScala.toSeq.sortBy(_.id)
        if (total < best._1) best = (total, rows)
        total
      }
      val (total, rows) = best
      println(f"== $name best=${total}%.0f ms  " +
        totals.map(t => f"$t%.0f").mkString("[", ", ", "] ms"))
      val jobSum = rows.map(_.ms).sum
      rows.foreach { j =>
        println(f"  job ${j.id}%3d ${j.ms}%6d ms stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d shufW=${j.shufWriteB}%9d " +
          f"shufR=${j.shufReadB}%9d ${j.desc.take(80)}")
      }
      println(f"  [jobs=${rows.size} jobSum=$jobSum ms, " +
        f"gap=${total - jobSum}%.0f ms (driver/planning)]")
    }
    spark.stop()
  }
}
