package graft.tools

import java.nio.file.{Files, Paths}

/** Writes `plans/<dir>/<query>_<tag>.txt` — the `.explain("formatted")`
  * output of each named query — as the before/after plan evidence an
  * optimization round commits next to its bench numbers. Queries are
  * planned at `SPARK_GRAFT_SF_DIR` (default sf0.01); point it at the
  * bench SF to dump the plans the bench measures.
  *
  *   sbt "runMain graft.tools.PlanSnap r13 before q_a,q_b"
  *
  * Every name must be registered in [[graft.SparkEntry.queries]]: an
  * unknown one fails the run before any session starts or file is
  * written.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val queries = graft.SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        "PlanSnap: not registered in SparkEntry.queries: " +
          unknown.mkString(", "))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), logLevel = "ERROR")
    Files.createDirectories(Paths.get(s"plans/$dir"))
    names.foreach { name =>
      val df = queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim
      Files.writeString(Paths.get(s"plans/$dir/${name}_$tag.txt"), txt + "\n")
      println(s"wrote plans/$dir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
