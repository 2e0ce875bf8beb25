package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.Record
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.ParseStage

/** Sustained-load streaming bench — the measurement the reference is
  * BUILT around (throughput-oriented consumer framework: per-partition
  * parallelism, 1024-msg buffers, 128-row/2-s batching —
  * `src/lib.rs:254`, `src/main.rs:115-116`) that the batch bench cannot
  * see. Drives the three durable sinks from a MemoryStream at a fixed
  * rows-per-trigger admission (the `maxOffsetsPerTrigger` analogue) and
  * records, per sink: total rows, wall seconds, rows/s, and the
  * per-micro-batch latency distribution (p50/p95/p99/max ms with the
  * sample count — latency-quoted lanes run ≥50 timed batches so the
  * upper percentiles are order statistics, not "the worst batch").
  *
  * Sinks measured:
  *  - dual_write      — parse → ok/DLQ parquet dual-write (the
  *                      reference demo's main path)
  *  - size_flush      — exact 128-row size-triggered chunk flush (the
  *                      reference's `ReducerWhenFullBehaviour::Flush`)
  *  - indexed_dedup   — maintained-band-index near-dup ingest (probe +
  *                      hits/index upsert per batch)
  *  - stateful_neardup — the state-store form of the same detection
  *                      (flatMapGroupsWithState per band bucket)
  *
  * The dual_write/indexed_dedup rows-per-sec ratio is emitted as a
  * sanity figure: the indexed path pays minhash + band join + anti-join
  * + two appends per batch, so plain delivery must be ≥10× faster —
  * if it isn't, the plain path regressed.
  *
  * One JSON line to stdout (and `streambench.json` when
  * SPARK_GRAFT_STREAMBENCH_OUT is set), same spirit as
  * [[graft.Bench]]. Lane shapes live in [[StreamBench.Load]]; the full
  * load is what BENCH_BASELINE.md's streaming gate table was measured
  * at, and [[StreamGate]] runs a scaled-down load against the same
  * per-batch workload definitions and FAILS (exit 1) below the gate
  * thresholds — the regression gate is a red exit, not a stale doc.
  */
object StreamBench {

  final case class Fig(rows: Long, secs: Double, batchMs: Seq[Double]) {
    def rowsPerSec: Double = if (secs > 0) rows / secs else 0.0
    /** Empty-safe: a lane that recorded no timed batches reports 0.0
      * rather than crashing the whole bench at report time. */
    def pct(p: Double): Double = {
      val s = batchMs.sorted
      if (s.isEmpty) 0.0
      else s(math.max(0, math.min(s.size - 1,
        math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
    def maxMs: Double = if (batchMs.isEmpty) 0.0 else batchMs.max
    /** MEDIAN-batch throughput: rows-per-trigger over the p50 batch
      * time. The mean form ([[rowsPerSec]]) lets ONE hypervisor-stall
      * batch drag the whole lane (observed: a single 1.25 s batch among
      * 572 ms peers tripping a 35%-headroom gate on identical code);
      * the median moves only if ≥ half the draws were contaminated —
      * the variance-robust figure [[StreamGate]] gates on. */
    def rowsPerSecMed: Double =
      if (batchMs.isEmpty) rowsPerSec
      else (rows.toDouble / batchMs.size) / math.max(pct(50) / 1000.0, 1e-9)
    def json: String =
      f"""{"rows":$rows,"secs":$secs%.3f,"rows_per_sec":$rowsPerSec%.1f,""" +
        f""""rows_per_sec_med":$rowsPerSecMed%.1f,""" +
        f""""batch_ms_p50":${pct(50)}%.1f,"batch_ms_p95":${pct(95)}%.1f,""" +
        f""""batch_ms_p99":${pct(99)}%.1f,""" +
        f""""batch_ms_max":$maxMs%.1f,"n_batches":${batchMs.size}}"""
  }

  /** Lane shapes: timed-batch counts per lane (rows per trigger are
    * FIXED across loads — they define the workload the gates were
    * calibrated on; a load only chooses how many samples to take). */
  final case class Load(dwBatches: Int, dwBigBatches: Int, sfBatches: Int,
      idBatches: Int, ndBatches: Int, sdBatches: Int)
  /** The figures-of-record load (BENCH_BASELINE.md streaming table):
    * ≥50 timed batches on every latency-quoted lane. dual_write_50k is
    * the throughput end of the admission-cap trade — its gate is
    * rows/s, so 8 batches suffice. */
  val Full = Load(dwBatches = 50, dwBigBatches = 8, sfBatches = 50,
    idBatches = 50, ndBatches = 50, sdBatches = 50)
  /** Per-round gate load: same per-trigger row counts (so rows/s is
    * comparable to the calibrated gates), fewer samples. ~1 min. */
  // dwBigBatches: 8, not 4 — at 4 samples a single hypervisor-stall
  // batch (observed: one 1.25 s batch among 572 ms peers) drags the
  // lane's rows/s under its 35%-headroom gate; 8 halves the
  // sensitivity for ~4 s of smoke cost
  val Smoke = Load(dwBatches = 12, dwBigBatches = 8, sfBatches = 12,
    idBatches = 12, ndBatches = 12, sdBatches = 12)

  /** Run every lane at `load`; returns figures keyed by lane name. */
  def run(spark: SparkSession, load: Load): Map[String, Fig] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-streambench")
    def tmp(n: String): String = root.resolve(n).toString

    /** Feed `batches` one micro-batch each (warmup first, untimed — the
      * first trigger pays query start + codegen), timing
      * addData→processAllAvailable per batch. */
    def drive[T](stream: MemoryStream[T], q: StreamingQuery,
        warmup: Seq[T], batches: Seq[Seq[T]]): Fig = {
      try {
        stream.addData(warmup: _*)
        q.processAllAvailable()
        val times = batches.map { b =>
          val t0 = System.nanoTime()
          stream.addData(b: _*)
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e6
        }
        Fig(batches.map(_.size.toLong).sum, times.sum / 1000.0, times)
      } finally q.stop()
    }

    // ---- dual_write: N batches x 10k records, 5% poison to the DLQ
    val payload = "x" * 100
    def rec(i: Long): Record = Record("bench", (i % 32).toInt, i,
      1700000000000L + i, None,
      (if (i % 20 == 19) s"poison-$i" else s"$payload-$i").getBytes("UTF-8"))
    // ONE parse stage and ONE twin-doc generator shared by every lane:
    // the cross-lane ratios are only meaningful if the lanes measure
    // the same workload definition
    val parseStage = ParseStage(
      valid = !decode(col("value"), "UTF-8").startsWith("poison"),
      parsed = Seq(col("partition"), col("offset"),
        decode(col("value"), "UTF-8").as("payload")))
    def doc(i: Long): (Long, String) =
      if (i % 100 == 99) // near-twin of the previous doc: one token edit
        (i, (0 until 40).map(j =>
          if (j == 7) "EDITED" else s"w${i - 1}_$j").mkString(" "))
      else (i, (0 until 40).map(j => s"w${i}_$j").mkString(" "))
    val dwFig = {
      val stream = MemoryStream[Record]
      // ProcessingTime(0): a long-lived query that fires as data arrives
      // (AvailableNow would stop after the warmup drain)
      val q = StreamingPipeline.dualWrite(stream.toDF(), parseStage,
        tmp("ok"), tmp("dlq"), tmp("ckpt_dw"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      drive(stream, q,
        warmup = (0L until 2000L).map(rec),
        batches = (0 until load.dwBatches).map(b =>
          (0L until 10000L).map(i => rec(2000L + b * 10000L + i))))
    }

    // ---- dual_write at a 5x admission cap: the reference's batch-size
    // knob trade — per-trigger overhead (checkpoint fsync + two write
    // jobs) amortizes over more rows, so rows/s rises while per-batch
    // latency does too. Both points recorded.
    val dwBigFig = {
      val stream = MemoryStream[Record]
      val q = StreamingPipeline.dualWrite(stream.toDF(), parseStage,
        tmp("ok_big"), tmp("dlq_big"), tmp("ckpt_dw_big"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      drive(stream, q,
        warmup = (0L until 2000L).map(i => rec(1000000L + i)),
        batches = (0 until load.dwBigBatches).map(b =>
          (0L until 50000L).map(i => rec(1100000L + b * 50000L + i))))
    }

    // ---- size_flush: N batches x 5k ordered control rows, cap 128
    val sfFig = {
      val stream = MemoryStream[(Long, String)]
      val q = StreamingPipeline.sizeFlushSink(
        stream.toDF().toDF("seq", "payload"), "seq", cap = 128,
        tmp("chunks"), tmp("carry"), tmp("ckpt_sf"))
      def rows(from: Long, n: Int) =
        (0 until n).map(i => (from + i, s"ctl-${from + i}"))
      drive(stream, q,
        warmup = rows(0L, 1000),
        batches = (0 until load.sfBatches).map(b =>
          rows(1000L + b * 5000L, 5000)))
    }

    // ---- indexed_dedup: N batches x 1k docs (40 tokens), 1% twins
    val idFig = {
      val stream = MemoryStream[(Long, String)]
      val q = StreamingPipeline.indexedDedupStream(
        stream.toDF().toDF("doc_id", "text"),
        tmp("index"), tmp("hits"), tmp("ckpt_id"))
      drive(stream, q,
        warmup = (0L until 200L).map(doc),
        batches = (0 until load.idBatches).map(b =>
          (0L until 1000L).map(i => doc(200L + b * 1000L + i))))
    }

    // ---- stateful near-dup (stream-internal state, no durable index):
    // the flatMapGroupsWithState path — per batch: minhash, band
    // explode, per-bucket state probe+insert. Complements indexed_dedup
    // (same detection semantics, state store instead of parquet index).
    val ndFig = {
      val stream = MemoryStream[(Long, String)]
      val hits = StreamingPipeline.nearDupHits(
        stream.toDF().toDF("doc_id", "text"))
      val q = hits.toDF("doc_id", "dup_of", "est_jaccard")
        .writeStream.outputMode("append")
        .format("memory").queryName("streambench_neardup")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
        .start()
      drive(stream, q,
        warmup = (0L until 200L).map(doc),
        batches = (0 until load.ndBatches).map(b =>
          (0L until 1000L).map(i => doc(200L + b * 1000L + i))))
    }

    // ---- semantic_dedup: N batches x 1k 64-dim vectors, 1% planted
    // twins — the embedding-side mirror of indexed_dedup (codebook
    // assignment + cell-bounded probe + hits/index upsert per batch).
    // Cluster noise is sized so intra-cluster cosine (~0.75) sits well
    // below tau=0.95 while planted twins (exact colinear, cos 1.0)
    // clear it: the hits volume stays at the planted rate, not
    // quadratic in the standing index.
    def smix(z0: Long): Long = { // splitmix64 finalizer
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** semantic-dedup lane at `k` cells, flat or two-level assignment —
      * the same workload definition at every k (1k vecs/trigger, 1%
      * planted colinear twins), so lane ratios read directly as
      * assignment + cell-density cost. */
    def sdLane(k: Int, twoLevelSupers: Option[Int], tag: String): Fig = {
      def svec(i: Long): (Long, Array[Float]) = {
        val base = if (i % 100 == 99) i - 1 else i
        val c = java.lang.Math.floorMod(smix(base * 31 + 17), k)
        val v = Array.tabulate(64) { d =>
          val center =
            (java.lang.Math.floorMod(smix(c * 53L + d), 2001) - 1000) / 1000.0f
          val noise =
            (java.lang.Math.floorMod(smix(base * 977 + d), 2001) - 1000) / 1000.0f
          center + noise * 0.6f
        }
        // twin = predecessor SCALED (cosine exactly 1): same cell, hit
        if (i % 100 == 99) (i, v.map(_ * 0.5f)) else (i, v)
      }
      val codebook = (0L until k.toLong).map { c =>
        (c, Array.tabulate(64) { d =>
          (java.lang.Math.floorMod(smix(c * 53L + d), 2001) - 1000) / 1000.0f
        })
      }
      val stream = MemoryStream[(Long, Array[Float])]
      val q = StreamingPipeline.semanticDedupStream(
        stream.toDF().toDF("vec_id", "v"), codebook,
        tmp(s"sem_index$tag"), tmp(s"sem_hits$tag"), tmp(s"ckpt_sd$tag"),
        tau = 0.95, twoLevelSupers = twoLevelSupers)
      drive(stream, q,
        warmup = (0L until 200L).map(svec),
        batches = (0 until load.sdBatches).map(b =>
          (0L until 1000L).map(i => svec(200L + b * 1000L + i))))
    }
    val sdFig = sdLane(64, None, "")
    // assignment-cost A/B at a deployment-flavored K: 1,024 cells is
    // ~64 kernel scans per vector under the hierarchy (32 supers + 32
    // children) vs 1,024 flat. MEASURED: at 1k-row triggers the two
    // are statistically identical (~1,300 rows/s both, smoke load) —
    // per-batch fixed costs (standing read + join + two appends)
    // dominate, so the hierarchy costs NOTHING here and its win lives
    // where assignment is the workload: index builds and large batches
    // (ivf2_recall: 9.7 s vs 64.8 s per 10⁷ rows at K = 2,500). The
    // lanes stay as the no-regression pin on both paths.
    val sdFlat1k = sdLane(1024, None, "_flat1k")
    val sdTwo1k = sdLane(1024, Some(32), "_2l1k")

    // ---- standing stats maintenance: the per-(source, token) tf/df
    // table kept current per micro-batch (mergeable partials —
    // StreamingPipeline.statsMaintenanceSink). 1k docs × 40 tokens per
    // trigger, the same doc generator as the dedup lanes; the property
    // the lane pins is that upkeep is ONE bounded aggregate of the
    // batch, never a corpus re-aggregate — a regression that re-reads
    // the standing table per trigger shows up as a throughput cliff.
    val stFig = {
      val stream = MemoryStream[(Long, String, String)]
      val q = StreamingPipeline.statsMaintenanceSink(
        stream.toDF().toDF("doc_id", "source", "text"),
        tmp("stats"), tmp("ckpt_stats"))
      def docRow(i: Long): (Long, String, String) = {
        val (id, text) = doc(i); (id, s"src${i % 20}", text)
      }
      drive(stream, q,
        warmup = (0L until 1000L).map(docRow),
        batches = (0 until load.sdBatches).map(b =>
          (0L until 1000L).map(i => docRow(1000L + b * 1000L + i))))
    }

    // ---- standing retrieval maintenance: the FOUR bm25 serving
    // tables (tf/dl/df/totals) kept current per micro-batch
    // (StreamingPipeline.retrievalMaintenanceSink) — the same workload
    // as stats_maintain with four partial writes per trigger instead
    // of one; the lane pins that upkeep stays batch-bounded across the
    // wider write fan-out.
    val rtFig = {
      val stream = MemoryStream[(Long, String)]
      val q = StreamingPipeline.retrievalMaintenanceSink(
        stream.toDF().toDF("doc_id", "text"),
        tmp("retr"), tmp("ckpt_retr"))
      drive(stream, q,
        warmup = (0L until 1000L).map(doc),
        batches = (0 until load.sdBatches).map(b =>
          (0L until 1000L).map(i => doc(1000L + b * 1000L + i))))
    }

    // ---- restart/catch-up (the recovery-time figure): run dual_write
    // to steady state, STOP the query, let a 50k-row backlog accumulate
    // while the consumer is down, restart from the same checkpoint and
    // time the drain — end-to-end from process start (checkpoint read +
    // replanning) to caught-up. The backlog drains as one oversized
    // micro-batch, so catch-up rows/s should EXCEED the steady-state
    // 10k-cap figure: trigger overhead amortizes over the whole backlog.
    // This is the at-least-once contract priced: being down costs only
    // the catch-up time, never data. THREE down/restart/drain cycles,
    // not one: the lane is gated on its MEDIAN like every other, and a
    // single-draw median is just the draw — one hypervisor stall on the
    // one restart read as a 2x regression (observed r12: 1.065 s vs the
    // 0.564 s record on identical code).
    val recFig = {
      val stream = MemoryStream[Record]
      def start() = StreamingPipeline.dualWrite(stream.toDF(), parseStage,
        tmp("ok_rec"), tmp("dlq_rec"), tmp("ckpt_rec"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      val q1 = start()
      stream.addData((0L until 20000L).map(rec): _*)
      q1.processAllAvailable()
      q1.stop()
      var next = 20000L
      val cycleMs = (0 until 3).map { _ =>
        val backlog = (0 until 5).flatMap(b =>
          (0L until 10000L).map(i => rec(next + b * 10000L + i)))
        stream.addData(backlog: _*) // arrives while the consumer is DOWN
        next += backlog.size
        val t0 = System.nanoTime()
        val q2 = start() // same checkpoint: resumes past committed rows
        q2.processAllAvailable()
        val ms = (System.nanoTime() - t0) / 1e6
        q2.stop()
        ms
      }
      Fig(next - 20000L, cycleMs.sum / 1000.0, cycleMs)
    }

    scala.collection.immutable.ListMap(
      "dual_write" -> dwFig,
      "dual_write_50k" -> dwBigFig,
      "size_flush" -> sfFig,
      "indexed_dedup" -> idFig,
      "stateful_neardup" -> ndFig,
      "semantic_dedup" -> sdFig,
      "semantic_dedup_k1024_flat" -> sdFlat1k,
      "semantic_dedup_k1024_2l" -> sdTwo1k,
      "stats_maintain" -> stFig,
      "retrieval_maintain" -> rtFig,
      "restart_catchup_50k" -> recFig)
  }

  def session(): SparkSession =
    graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      // micro-batches here are 10³-10⁴ rows: 8 shuffle partitions keep
      // per-trigger task overhead from dominating what is a
      // latency-per-batch measurement (the batch bench uses 32 for its
      // sf0.1 scans; a real cluster sizes this to executor count)
      shufflePartitions = Some("8"),
      adaptive = false, // fixed plans per batch
      logLevel = "ERROR")

  def jsonLine(figs: Map[String, Fig]): String = {
    val ratio = figs("dual_write").rowsPerSec /
      math.max(figs("indexed_dedup").rowsPerSec, 1e-9)
    val total = figs.values.map(_.secs).sum
    f"""{"metric":"stream_total","value":$total%.2f,"unit":"sec",""" +
      s""""sinks":{${figs.map { case (k, f) => s""""$k":${f.json}""" }
        .mkString(",")}},""" +
      f""""dual_over_indexed_ratio":$ratio%.1f}"""
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val figs = run(spark, Full)
    val line = jsonLine(figs)
    println(line)
    sys.env.get("SPARK_GRAFT_STREAMBENCH_OUT").foreach { p =>
      Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
      ()
    }
    val ratio = figs("dual_write").rowsPerSec /
      math.max(figs("indexed_dedup").rowsPerSec, 1e-9)
    if (ratio < 10.0)
      System.err.println(f"WARN: dual_write only $ratio%.1fx indexed_dedup " +
        "(expected >=10x) — the plain delivery path may have regressed")
    spark.stop()
  }
}

/** The ENFORCED form of BENCH_BASELINE.md's streaming gate table: runs
  * every StreamBench lane at the smoke load (same rows-per-trigger, so
  * rows/s is comparable to the calibrated gates; fewer samples, ~1 min)
  * and exits NON-ZERO if any lane falls below its threshold — a
  * refactor that halves dual_write throughput now fails a command, not
  * just contradicts a doc. Run per round alongside Verify/Bench, the
  * same discipline as the reference's CI (`.github/workflows/
  * rust.yml:18-22`: tests gate merge, not a README).
  *
  * Thresholds are the BENCH_BASELINE gates (~35% headroom under the
  * round-8 figures of record) — defined HERE as the single source;
  * the doc table cites this object.
  */
object StreamGate {
  /** lane -> minimum MEDIAN-batch rows/s ([[StreamBench.Fig.rowsPerSecMed]]).
    *
    * Variance discipline: gates compare the per-lane MEDIAN batch
    * throughput, not the mean — the round-10 size_flush flakes
    * (3,021-4,965 rows/s on identical code, two of ten runs tripping
    * the then-3,300 mean gate, both passing on immediate re-run) were
    * single steal-spiked batches dragging a 12-batch mean; the median
    * of the same runs never moved. Gating the median lets the
    * thresholds stay at their calibrated ~35%-headroom-under-record
    * values instead of being ratcheted down to the weakest observed
    * mean — size_flush is restored to 3,300 accordingly. A real
    * regression (every batch slower) moves the median exactly as it
    * moves the mean, so nothing real escapes. */
  val Gates: Map[String, Double] = Map(
    "dual_write" -> 14000.0,
    "dual_write_50k" -> 65000.0,
    "size_flush" -> 3300.0,
    "indexed_dedup" -> 850.0,
    "stateful_neardup" -> 900.0,
    "semantic_dedup" -> 800.0,
    // K=1024 A/B lanes: same workload class as semantic_dedup, same
    // 35%-headroom class gate (first figures ~1,300 rows/s median)
    "semantic_dedup_k1024_flat" -> 800.0,
    "semantic_dedup_k1024_2l" -> 800.0,
    // first figure 3,515 rows/s median (smoke, session-loaded host);
    // ~35% headroom
    "stats_maintain" -> 2300.0,
    "restart_catchup_50k" -> 55000.0)
  /** dual_write must stay ≥ this × indexed_dedup (sanity invariant). */
  val MinDualOverIndexed = 10.0

  def main(args: Array[String]): Unit = {
    val spark = StreamBench.session()
    val figs = StreamBench.run(spark, StreamBench.Smoke)
    println(StreamBench.jsonLine(figs))
    val failures = Gates.toSeq.sortBy(_._1).flatMap { case (lane, min) =>
      figs.get(lane) match {
        case Some(f) if f.rowsPerSecMed >= min => None
        case Some(f) => Some(
          f"GATE FAIL: $lane ${f.rowsPerSecMed}%.0f median rows/s " +
            f"(mean ${f.rowsPerSec}%.0f) < gate $min%.0f")
        case None => Some(s"GATE FAIL: lane $lane missing from run")
      }
    } ++ {
      val ratio = figs("dual_write").rowsPerSecMed /
        math.max(figs("indexed_dedup").rowsPerSecMed, 1e-9)
      if (ratio >= MinDualOverIndexed) Nil
      else Seq(f"GATE FAIL: dual/indexed ratio $ratio%.1f < " +
        f"$MinDualOverIndexed%.1f")
    }
    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(System.err.println)
      sys.exit(1)
    }
    println(s"STREAMGATE PASS: ${Gates.size} lanes above thresholds")
  }
}
