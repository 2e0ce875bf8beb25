package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM). sf0.001 keeps specs fast; the driver's sf0.01
  * DuckDB gate is the authoritative correctness check. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Each test frees what it held, so no spec runs on blocks an earlier
    * spec pinned in the shared session. */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test) finally Scope.close()

  /** `body`'s result and the properties of every Spark job it started.
    * Listener events arrive asynchronously but in order, so once a
    * marker job's start is seen every earlier job has been counted. */
  def jobsDuring[T](body: => T): (T, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val fence = new java.util.concurrent.CountDownLatch(1)
    val marker = "jobsDuring fence"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new java.util.Properties())
        if (props.getProperty("spark.job.description") == marker) fence.countDown()
        else jobs.add(props)
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.toArray(Array.empty[java.util.Properties]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = Sessions.local("4",
    appName = Some("graft-test"),
    conf = Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))
}
