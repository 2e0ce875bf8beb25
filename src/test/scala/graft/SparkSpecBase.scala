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
}

object SparkSpecBase {
  lazy val session: SparkSession = Sessions.local("4",
    appName = Some("graft-test"),
    conf = Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))
}
