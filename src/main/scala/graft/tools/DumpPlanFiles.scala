package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Sessions, SparkEntry}

/** Writes one `plans/<dir>/<query>_<suffix>.txt` file per requested
  * query with its `explain("formatted")` output — the before/after
  * evidence trail for optimization rounds (the judge reads these files
  * instead of running Spark).
  *
  *   sbt "runMain graft.tools.DumpPlanFiles r13 before q_video_frames q_x"
  *
  * Queries are planned at the bench SF (`SPARK_GRAFT_SF_DIR`, default
  * sf0.1) so the dumped plan is the one the bench actually measures
  * (AQE initial plan; broadcast-threshold and codegen decisions match
  * the bench geometry, unlike the sf0.01 PLANS.md dump).
  */
object DumpPlanFiles {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: DumpPlanFiles <roundDir> <suffix> <query>...")
    val (dir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      appName = Some("graft-plan-files"), logLevel = "ERROR")
    val out = Paths.get(s"plans/$dir")
    Files.createDirectories(out)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim + "\n"
      Files.writeString(out.resolve(s"${name}_$suffix.txt"), txt)
      println(s"wrote plans/$dir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
