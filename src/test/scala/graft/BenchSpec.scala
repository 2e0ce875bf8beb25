package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSpec extends SparkSpecBase {

  test("a failing query yields no times and is named on stderr, one line per run") {
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("planted\nfailure")
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val timed =
      try Bench.time(spark, sfDir, 2, Seq("q_boom" -> boom))
      finally System.setErr(err)
    assert(timed === Seq("q_boom" -> Seq.empty[Double]))
    val lines = buf.toString("UTF-8").linesIterator
      .filter(_.startsWith("[bench] q_boom failed: ")).toList
    assert(lines.size === 2, lines)
    assert(lines.forall(_.contains(
      "java.lang.IllegalStateException: planted failure")), lines)
  }

  test("PlanSnap names every unregistered query and writes nothing") {
    val dir = s"planSnapSpec_${System.nanoTime()}"
    val ex = intercept[IllegalArgumentException] {
      graft.tools.PlanSnap.main(Array(dir, "before",
        "q_nope_one,q_delivery_gap,q_nope_two"))
    }
    assert(ex.getMessage ===
      "PlanSnap: not registered in SparkEntry.queries: q_nope_one, q_nope_two")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"plans/$dir")))
  }
}
