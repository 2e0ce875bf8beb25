package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered graft query, run over the input `input` in `dir`.
  * `check` tests the planted facts of a generated input; it returns the
  * problems it finds. */
final case class Op(name: String, module: String, input: String, dir: String,
    check: Option[DataFrame => Seq[String]] = None) {
  def label: String = s"$name@$input"
  def build(spark: SparkSession): DataFrame = graft.SparkEntry.queries(name)(spark, dir)
}

/** Runs a batch workload: an untimed correctness pass, then timed passes
  * over the same queries, each fully materialized through the `noop`
  * sink, until the window is spent. Every pass runs the queries in its
  * own seed-driven order. */
object Batch {

  val MinPasses = 4

  final case class Sample(op: Op, wallMs: Double, buildMs: Double, execMs: Double)
  final case class Pass(wallS: Double, traced: Boolean, samples: Seq[Sample],
      queries: Seq[QueryTrace], host: Host.Window)

  /** The correctness pass: every result is written for the DuckDB
    * oracle (`run.py` compares them) and tested against its planted
    * facts. A known defect is expected to throw, and its oracle would
    * overflow too, so a known defect gets only its planted check. */
  def correctness(spark: SparkSession, ops: Seq[Op], seed: Long, resultDir: String,
      out: Outcome): Unit = {
    val took = mutable.ArrayBuffer.empty[String]
    for (op <- Gen.permute(ops, seed)) {
      out.attempted += 1
      val t0 = System.currentTimeMillis()
      try {
        val res = s"$resultDir/${op.label}"
        op.build(spark).coalesce(1).write.mode("overwrite").parquet(res)
        val known = out.known(op.label)
        if (known) out.report += s"${op.label} ran without its known defect"
        val sql = graft.SparkEntry.oracleSql.get(op.name)
          .filterNot(_ => known || Main.NoOracle.contains(op.name))
        sql.foreach(q => out.oracle += ((op.label, op.dir, res, q)))
        for (check <- op.check) {
          val problems = check(spark.read.parquet(res))
          out.check(op.label, problems.isEmpty, problems.take(5).mkString("; "))
          problems.headOption.foreach(p => out.failures += ((op.label, "wrong result: " + p)))
        }
        if (sql.isEmpty && op.check.isEmpty) out.check(op.label, false, "nothing checks its result")
      } catch { case e: Exception => out.fail(op.label, e) }
      took += s"${op.label} ${System.currentTimeMillis() - t0}"
    }
    out.report += "correctness pass (ms): " + took.mkString(", ")
  }

  /** One untimed pass through the `noop` sink, so that the timed passes
    * start warm. */
  def warmUp(spark: SparkSession, ops: Seq[Op], out: Outcome): Unit =
    for (op <- ops) {
      out.attempted += 1
      try op.build(spark).write.format("noop").mode("overwrite").save()
      catch { case e: Exception => out.fail(op.label, e) }
    }

  /** The number of timed passes: `seconds` at a pass time of
    * `NominalPassS` (one pass on a 4-core host), and at least `MinPasses`.
    * It depends on `seconds` alone, so a slow window stretches the run
    * instead of measuring fewer passes. Later passes of a run are still a
    * little faster than earlier ones, so a count that shrank with the
    * host's speed would also shift the passes the median picks. */
  def passCount(seconds: Double): Int =
    math.max(MinPasses, math.ceil(seconds / NominalPassS).toInt)
  val NominalPassS = 4.0

  /** `passCount(seconds)` timed passes, so each query's figure is a median
    * over passes made at different times. With a tracer, passes alternate
    * untraced / traced, starting and ending untraced, so the untraced ones
    * bracket the traced ones for the tracing overhead; an odd count near
    * `passCount` keeps a traced run about as long as an untraced one. */
  def timed(spark: SparkSession, ops: Seq[Op], seed: Long, seconds: Double,
      tracer: Option[Tracer], out: Outcome): Seq[Pass] = {
    val passes = mutable.ArrayBuffer.empty[Pass]
    val n = passCount(seconds)
    def done = passes.size >= (if (tracer.isEmpty) n else n / 2 * 2 + 1)
    while (!done) {
      val traced = tracer.isDefined && passes.size % 2 == 1
      val tr = tracer.filter(_ => traced)
      tr.foreach(_.attach())
      val host0 = Host.sample()
      val p0 = System.currentTimeMillis(); val pn = System.nanoTime()
      val passSpan = tr.map(_.span("pass", s"pass ${passes.size}", 0, p0, p0)).getOrElse(-1)
      val samples = mutable.ArrayBuffer.empty[Sample]
      val traces = mutable.ArrayBuffer.empty[QueryTrace]
      for (op <- Gen.permute(ops, seed * 1000003L + passes.size + 1)) {
        out.attempted += 1
        tr.foreach(_.phase(op.name, "build"))
        val q0 = System.nanoTime(); val q0ms = System.currentTimeMillis()
        try {
          val df = op.build(spark)
          val q1 = System.nanoTime(); val q1ms = System.currentTimeMillis()
          tr.foreach(_.phase(op.name, "execute"))
          val q2 = System.nanoTime(); val q2ms = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
          val q3 = System.nanoTime()
          val s = Sample(op, (q3 - q0) / 1e6, (q1 - q0) / 1e6, (q3 - q2) / 1e6)
          samples += s
          tr.foreach(t => traces += t.finishQuery(op.name, op.module, passSpan, q0ms,
            q1ms, q2ms, System.currentTimeMillis(), s.buildMs, s.execMs, s.wallMs))
        } catch { case e: Exception =>
          out.fail(op.label, e)
          tr.foreach(_.clearPhase())
        }
      }
      val wall = (System.nanoTime() - pn) / 1e9
      tr.foreach { t =>
        t.spans(passSpan) = t.spans(passSpan).copy(endMs = System.currentTimeMillis())
        t.detach()
      }
      passes += Pass(wall, traced, samples.toSeq, traces.toSeq, Host.window(host0))
    }
    passes.toSeq
  }

  /** End-to-end metrics of the untraced passes, from each query's median
    * wall time over the passes, so a query stalled in one pass (a GC
    * pause, a busy host core) does not carry the figure: `pass_s` is their
    * sum, `op_ms` their geometric mean. The median of all samples would
    * be one query's figure, whichever sits in the middle. */
  def endToEnd(passes: Seq[Pass], out: Outcome): Unit = {
    val plain = passes.filterNot(_.traced)
    val ms = plain.flatMap(_.samples).map(_.wallMs)
    val perQuery = plain.flatMap(_.samples).groupBy(_.op.label).values
      .map(ss => Stats.median(ss.map(_.wallMs))).toSeq
    val passS = perQuery.sum / 1000
    out.metric("pass_s", passS, "s")
    out.metric("op_ms", Stats.geomean(perQuery), "ms")
    out.report += f"query latency: p50 ${Stats.median(ms)}%.1f ms" +
      Stats.tail(ms, 0.9).map(t => f", p${t.level * 100}%.0f ${t.value}%.1f ms").getOrElse("") +
      f" over ${ms.size} queries; ${plain.size} passes, pass_s $passS%.3f" +
      f" (median pass wall ${Stats.median(plain.map(_.wallS))}%.3f s)"
    for (p <- plain)
      out.report += "  pass: " + p.samples.map(s => f"${s.op.name} ${s.wallMs}%.0f").mkString(", ")
  }

  /** Per-layer metrics: per-pass totals over the traced passes. */
  def layers(passes: Seq[Pass], out: Outcome): Unit = {
    val traced = passes.filter(_.traced)
    val plain = passes.filterNot(_.traced)
    def perPass(f: QueryTrace => Double): Double = Stats.mean(traced.map(_.queries.map(f).sum))
    out.metric("operators.build_ms", perPass(_.buildMs), "ms")
    out.metric("operators.build_jobs", perPass(_.buildJobs), "count")
    for (m <- Main.Modules)
      out.metric(s"operators.$m.wall_ms", perPass(q => if (q.module == m) q.wallMs else 0), "ms")
    val all = traced.flatMap(_.queries)
    out.metric("operators.persisted_after", all.map(_.persistedRdds.toDouble).maxOption.getOrElse(0), "count")
    out.metric("operators.cached_blocks_after", all.map(_.cachedBlocks.toDouble).maxOption.getOrElse(0), "count")
    out.metric("spark.plan_ms", perPass(_.planMs), "ms")
    out.metric("spark.exec_ms", perPass(_.sparkExecMs), "ms")
    out.metric("spark.jobs", perPass(q => q.buildJobs + q.execJobs), "count")
    out.metric("spark.stages", perPass(_.stages), "count")
    out.metric("spark.tasks", perPass(_.tasks), "count")
    out.metric("spark.driver_gap_ms", perPass(_.gapMs), "ms")
    out.metric("spark.task_cpu_ms", perPass(_.taskCpuMs), "ms")
    out.metric("spark.shuffle_read_bytes", perPass(_.shuffleRead), "B")
    out.metric("spark.shuffle_write_bytes", perPass(_.shuffleWrite), "B")
    out.metric("spark.spill_bytes", perPass(_.spill), "B")
    out.metric("spark.gc_ms", perPass(_.gcMs), "ms")
    out.metric("spark.task_skew", all.map(_.skew).maxOption.getOrElse(1.0), "ratio")
    out.metric("ops.input_bytes", perPass(_.inputBytes), "B")
    out.metric("ops.input_rows", perPass(_.inputRows), "count")
    out.metric("trace.coverage_min_pct", 100 * all.map(_.coverage).minOption.getOrElse(1.0), "%")
    out.metric("trace.unattributed_jobs", all.map(_.unattributedJobs.toDouble).maxOption.getOrElse(0), "count")
    val (tWall, pWall) = (Stats.mean(traced.map(_.wallS)), Stats.mean(plain.map(_.wallS)))
    val overhead = 100 * (tWall / pWall - 1)
    out.metric("trace.overhead_pct", overhead, "%")
    Host.metrics(passes.map(_.host), out)
    out.report += f"tracing overhead: traced pass $tWall%.3f s vs untraced $pWall%.3f s ($overhead%+.1f%%)"
    for (q <- all.groupBy(_.name).values.map(_.head).toSeq.sortBy(_.name))
      out.report += f"  ${q.name}%-26s wall ${q.wallMs}%8.1f ms  build ${q.buildMs}%8.1f ms " +
        f"(${q.buildJobs} jobs)  execute ${q.execMs}%8.1f ms (${q.execJobs} jobs)  " +
        f"plan ${q.planMs}%6.1f ms  gap ${q.gapMs}%7.1f ms  cover ${100 * q.coverage}%5.1f%%"
  }
}
