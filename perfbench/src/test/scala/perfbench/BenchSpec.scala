package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark = Main.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    Main.rmrf(new java.io.File(work))
  }

  // ---- the percentile rule --------------------------------------------------

  test("p90 of 100 samples leaves exactly ten above it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs, 0.9).get
    assert(t.level == 0.9 && t.value == 90.0 && t.samples == 100)
    assert(xs.count(_ > t.value) == 10)
  }

  test("with too few samples the rule falls back to the highest level with ten beyond") {
    val xs = (1 to 20).map(_.toDouble)
    val t = Stats.tail(xs, 0.9).get
    assert(t.level == 0.5 && t.value == 10.0 && t.samples == 20)
    assert(xs.count(_ > t.value) >= 10)
    for (n <- 11 to 400; want <- Seq(0.5, 0.9, 0.99)) {
      val ys = (1 to n).map(_.toDouble)
      val r = Stats.tail(ys, want).get
      assert(ys.count(_ > r.value) >= 10, s"n=$n want=$want")
      assert(r.level <= want)
    }
    assert(Stats.tail((1 to 10).map(_.toDouble), 0.9).isEmpty)
  }

  test("a query stalled in one pass moves neither pass_s nor op_ms") {
    val ops = Seq("q_a", "q_b", "q_c").map(q => Op(q, "Test", "none", s"$work/none"))
    def passes(stallMs: Double): Seq[Batch.Pass] = (0 until 5).map { k =>
      val ss = ops.zip(Seq(100.0, 200.0, 400.0)).map { case (op, ms) =>
        Batch.Sample(op, if (k == 2 && op.name == "q_c") stallMs else ms + k, 0, 0)
      }
      Batch.Pass(ss.map(_.wallMs).sum / 1000, traced = false, ss, Nil, Host.Window(0, 0))
    }
    def figures(stallMs: Double): (Double, Double) = {
      val out = new Outcome()
      Batch.endToEnd(passes(stallMs), out)
      (out.metrics("pass_s")._1, out.metrics("op_ms")._1)
    }
    val (passS, opMs) = figures(400.0 + 2)
    assert(math.abs(passS - 0.706) < 1e-9)
    assert(math.abs(opMs - math.cbrt(102.0 * 202.0 * 402.0)) < 1e-9)
    // a 5 s stall shifts q_c's median by one sample, from 402 to 403 ms
    val (stalledS, stalledMs) = figures(5000.0)
    assert(math.abs(stalledS - 0.707) < 1e-9)
    assert(stalledMs / opMs < 1.001)
  }

  // ---- determinism of the generators ----------------------------------------

  test("the same seed gives the same inputs, another seed different ones") {
    assert(Gen.permute(1 to 20, 7) == Gen.permute(1 to 20, 7))
    assert(Gen.permute(1 to 20, 7).sorted == (1 to 20))
    assert(Gen.permute(1 to 20, 7) != Gen.permute(1 to 20, 8))
    assert(Gen.scaleText(3, 42, 80) == Gen.scaleText(3, 42, 80))
    assert(Gen.scaleText(3, 42, 80) != Gen.scaleText(4, 42, 80))
    assert(Gen.streamDoc(3, 42) == Gen.streamDoc(3, 42))
    assert(Gen.streamDoc(3, 42) != Gen.streamDoc(4, 42))
    assert(Gen.plantedVec(3, 42).sameElements(Gen.plantedVec(3, 42)))

    def rows(seed: Long, tag: String): Map[String, Seq[String]] = {
      val dir = s"$work/gen-$tag"
      Gen.fixtureTables(spark, s"$dir/fixture", seed, 0.001, parts = 3)
      Main.scaleCorpus(spark, s"$dir/corpus", seed)
      Main.bm25Overflow(spark, s"$dir/bm25_overflow", seed)
      val tables = Seq("fixture/nation", "fixture/customer", "fixture/orders",
        "fixture/events", "corpus/documents", "corpus/embeddings", "bm25_overflow/documents")
      tables.map { t =>
        t -> spark.read.parquet(s"$dir/$t.parquet").collect().map(_.toString).sorted.toSeq
      }.toMap
    }
    val a = rows(5, "a"); val b = rows(5, "b"); val c = rows(6, "c")
    assert(a == b)
    for (t <- Seq("fixture/customer", "fixture/orders", "fixture/events",
        "corpus/documents", "corpus/embeddings", "bm25_overflow/documents"))
      assert(a(t) != c(t), t)
  }

  // ---- failures -------------------------------------------------------------

  test("an operation that throws makes the run incorrect, unless it is a known defect") {
    val op = Op("q_no_such_query", "Test", "none", s"$work/none")
    val plain = new Outcome()
    Batch.correctness(spark, Seq(op), 1, s"$work/results", plain)
    assert(plain.failures.map(_._1) == Seq("q_no_such_query@none"))
    assert(!plain.correct)
    val timed = new Outcome()
    Batch.timed(spark, Seq(op), 1, 0.0, None, timed)
    assert(timed.failures.size == Batch.MinPasses && !timed.correct)
    val known = new Outcome(Set("q_no_such_query@none"))
    Batch.correctness(spark, Seq(op), 1, s"$work/results", known)
    assert(known.failures.size == 1 && known.correct)
    known.check("a planted fact", ok = false, "broken")
    assert(!known.correct)
  }

  // ---- attribution ----------------------------------------------------------

  test("a job started inside an operator is counted under build") {
    val t = new Tracer(spark)
    t.attach()
    val root = t.span("pass", "pass", -1, System.currentTimeMillis(), 0L)
    val t0 = System.currentTimeMillis()
    t.phase("q_eager", "build")
    // an operator that runs an eager action before returning its frame
    val df = {
      val n = spark.range(0, 1000, 1, 2).count()
      spark.range(0, n, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count()
    }
    val t1 = System.currentTimeMillis()
    t.phase("q_eager", "execute")
    val t2 = System.currentTimeMillis()
    df.write.format("noop").mode("overwrite").save()
    val q = t.finishQuery("q_eager", "Test", root, t0, t1, t2, System.currentTimeMillis(),
      (t1 - t0).toDouble, 0.0, 0.0)
    t.detach()
    // the eager count runs as its own jobs (one per stage under AQE)
    assert(q.buildJobs >= 1)
    assert(q.execJobs >= 1)
    assert(q.unattributedJobs == 0)
    assert(q.tasks > 0 && q.stages >= 2)
    val kinds = t.spans.map(_.kind)
    assert(kinds.count(_ == "job") == q.buildJobs + q.execJobs)
    assert(t.spans.filter(_.kind == "job").forall(j => t.spans(j.parent).kind != "query"))
  }

  // ---- stalls ---------------------------------------------------------------

  test("a stalled consumer raises the latency of the rows queued behind it") {
    def run(stallMs: Long, tag: String): Seq[Double] = {
      val stalled = new java.util.concurrent.atomic.AtomicBoolean(stallMs == 0)
      val start = (docs: DataFrame, root: String) => docs.writeStream
        .option("checkpointLocation", s"$root/checkpoint")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (b.count() > 0 && stalled.compareAndSet(false, true)) Thread.sleep(stallMs)
        }.start(): StreamingQuery
      val r = new Stream.Run(spark, s"$work/stall-$tag", 1, start)
      try r.openLoop(rate = 100, seconds = 3, tickMs = 100).latMs finally r.stop()
    }
    run(0, "warm") // the first stream of a JVM is slow to start: keep it out of the baseline
    val calm = run(0, "calm")
    val stall = run(3000, "stall")
    assert(calm.size == 300 && stall.size == 300)
    // the row due when the stall began waited for all of it, and the rows
    // queued behind it waited too: latency counts from the due time
    assert(stall.max >= 3000, s"stalled max ${stall.max}")
    assert(stall.max > calm.max + 1500, s"calm max ${calm.max} vs stalled ${stall.max}")
    assert(stall.count(_ >= 1000) > calm.count(_ >= 1000) + 50)
  }
}
