package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query at the
  * bench SF and prints one JSON line. Queries are fully materialized via
  * the `noop` DataSource V2 sink — a bare `count()` would let Spark skip
  * projection-only work through parquet row-group statistics. */
object Bench {
  /** Time each selected query `iters` times through the noop sink;
    * returns SUCCESSFUL iteration times sorted ascending per query (an
    * empty seq = the query failed every iteration; each failed
    * iteration is named on stderr). Shared by the reporting main below
    * and [[graft.tools.BenchGate]] so the gate measures exactly what the
    * round artifact reports. */
  def time(spark: SparkSession, sfDir: String, iters: Int,
      selected: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Seq[(String, Seq[Double])] =
    selected.map { case (name, fn) =>
      val times = (0 until iters).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable => failed(name, e); None }
      }
      name -> times.sorted
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    warmUp(spark, sfDir)
    // three timed iterations, report the min: machine noise on this
    // shared host swings single runs by 2x (an entire round-5 bench
    // window was contaminated that way), and min-of-3 gives one more
    // draw against a noise spike than min-of-2 at ~30s extra cost
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)
    // optional comma-separated name filter for focused local iteration;
    // the driver leaves it unset and measures everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val raw = time(spark, sfDir, iters, selected)
    // `queries` stays the min (the established cross-round comparison
    // key — best draw against host-steal spikes); `queries_median` is
    // the variance-aware companion: a single-run outlier moves the min
    // never and the median only if 2 of n draws were contaminated, so
    // round-over-round movers are adjudicable from the artifact itself
    // instead of requiring a manual re-run.
    val results = raw.map { case (n, ts) =>
      n -> (if (ts.nonEmpty) ts.head else -1.0)
    }
    val medians = raw.map { case (n, ts) =>
      n -> (if (ts.nonEmpty) ts(ts.size / 2) else -1.0)
    }
    def obj(kv: Seq[(String, Double)]) = kv
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total = successful queries only; failures are COUNTED, not summed —
    // a -1 marker must not silently shrink the total it sits inside
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val totalMed = medians.collect { case (_, v) if v >= 0 => v }.sum
    val failures = results.count(_._2 < 0)
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""failures":$failures,"iters":$iters,"queries":${obj(results)},""" +
      s""""total_median":$totalMed,"queries_median":${obj(medians)},""" +
      s""""sf":"$sfDir"}"""
    println(fullLine)
    // Measurement-reporting fix (r14):
    // the full line above is ~11 KB for 170 queries and has outlived the
    // driver's 2000-char stdout tail every round (BENCH_r01..r13 all carry
    // parsed:null), so no optimization round has earned driver-verified
    // perf credit. Additions only: the full line stays (same keys, same
    // numbers), the complete object is ALSO written to bench_out.json, and
    // a compact line with the totals is printed LAST so it fits inside the
    // tail window even after sbt's trailing "[success]" line.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => failed("bench_out.json", e) }
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""failures":$failures,"iters":$iters,"total_median":$totalMed,""" +
      s""""n_queries":${results.size},"queries_file":"bench_out.json",""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }

  /** One stderr line per failed run (a multi-line message is joined),
    * so a `-1` in the report has a named cause; stdout keeps only the
    * JSON lines. */
  def failed(name: String, e: Throwable): Unit =
    System.err.println(s"[bench] $name failed: ${describe(e)}")

  /** `<ExceptionClass>: <message>` on one line — the cause as the
    * `[bench]` and `[verify]` failure lines print it. */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getName}: " + s"${e.getMessage}".linesIterator.mkString(" ")

  /** One untimed pass of the flagship, so JVM/codegen startup isn't
    * attributed to the first measured query. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try SparkEntry.queries("q_delivery_gap")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => failed("q_delivery_gap", e) }
}
