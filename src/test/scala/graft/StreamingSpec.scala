package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Record
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.ParseStage

/** Streaming-path ports of the reference lifecycle tests (SURVEY §5):
  * drain semantics, DLQ dual-write, checkpoint commit / no-reprocessing. */
class StreamingSpec extends SparkSpecBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  private def rec(p: Int, o: Long, v: String): Record =
    Record("topic", p, o, 1700000000000L + o, None, v.getBytes("UTF-8"))

  private val stage = ParseStage(
    valid = !decode(col("value"), "UTF-8").contains("poison"),
    parsed = Seq(col("partition"), col("offset"),
      decode(col("value"), "UTF-8").as("payload")))

  test("dual-write: ok and DLQ branches from the same micro-batch; drain on AvailableNow") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (okDir, dlqDir, ckpt) = (tmp(), tmp(), tmp())
    val stream = MemoryStream[Record]
    stream.addData(rec(0, 0, "a"), rec(0, 1, "poison"), rec(1, 0, "b"))
    val q = StreamingPipeline.dualWrite(
      stream.toDF(), stage, okDir, dlqDir, ckpt)
    q.awaitTermination() // AvailableNow = drain pending input, then stop
    val ok = spark.read.parquet(okDir)
    assert(ok.select("payload").as[String].collect().sorted.toSeq
      === Seq("a", "b"))
    val dlq = spark.read.parquet(dlqDir)
    // DLQ carries the ORIGINAL record (full schema, original value bytes)
    assert(dlq.count() === 1)
    assert(new String(dlq.select("value").head().getAs[Array[Byte]](0),
      "UTF-8") === "poison")
  }

  test("NULL validity lands on the DLQ, not dropped from both branches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (okDir, dlqDir, ckpt) = (tmp(), tmp(), tmp())
    // a stage whose validity is NULL for the marker payload
    val nullableStage = ParseStage(
      valid = when(decode(col("value"), "UTF-8") === "weird", lit(null))
        .otherwise(lit(true)),
      parsed = Seq(col("partition"), col("offset")))
    val stream = MemoryStream[Record]
    stream.addData(rec(0, 0, "fine"), rec(0, 1, "weird"))
    val q = StreamingPipeline.dualWrite(
      stream.toDF(), nullableStage, okDir, dlqDir, ckpt)
    q.awaitTermination()
    assert(spark.read.parquet(okDir).count() === 1)
    // the NULL-validity record is DEAD-LETTERED, not lost
    assert(spark.read.parquet(dlqDir).select("offset")
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("checkpoint commit: restart does not reprocess acked offsets") {
    implicit val sqlCtx = spark.sqlContext
    val (okDir, dlqDir, ckpt) = (tmp(), tmp(), tmp())
    val stream = MemoryStream[Record]
    stream.addData(rec(0, 0, "a"), rec(0, 1, "b"))
    val q1 = StreamingPipeline.dualWrite(
      stream.toDF(), stage, okDir, dlqDir, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(okDir).count() === 2)
    // restart against the SAME checkpoint with new data appended
    stream.addData(rec(0, 2, "c"))
    val q2 = StreamingPipeline.dualWrite(
      stream.toDF(), stage, okDir, dlqDir, ckpt)
    q2.awaitTermination()
    // only the new record was processed — old offsets stay committed
    assert(spark.read.parquet(okDir).count() === 3)
  }

  test("processing-time trigger: micro-batch flush loop with graceful stop") {
    implicit val sqlCtx = spark.sqlContext
    val (okDir, dlqDir, ckpt) = (tmp(), tmp(), tmp())
    val stream = MemoryStream[Record]
    stream.addData(rec(0, 0, "x"))
    val q = StreamingPipeline.dualWrite(stream.toDF(), stage, okDir, dlqDir,
      ckpt, Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable() // reference: flush-interval tick
      stream.addData(rec(0, 1, "y"))
      q.processAllAvailable()
      assert(spark.read.parquet(okDir).count() === 2)
    } finally q.stop() // D13: graceful stop drains the running batch
  }

  test("test_fail_on_flush port: batch replay after sink crash does not duplicate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (okDir, dlqDir, ckpt) = (tmp(), tmp(), tmp())
    // simulate batch 0 committed by a previous (crashed-after-write)
    // attempt: completed dir with _SUCCESS present
    val preDir = new java.io.File(s"$okDir/batch=0")
    Seq((0, 0L, "already-written")).toDF("partition", "offset", "payload")
      .coalesce(1).write.parquet(preDir.toString)
    assert(new java.io.File(preDir, "_SUCCESS").isFile)
    val stream = MemoryStream[Record]
    stream.addData(rec(0, 0, "fresh"))
    val q = StreamingPipeline.dualWrite(stream.toDF(), stage, okDir, dlqDir, ckpt)
    q.awaitTermination()
    // replayed batch 0 was skipped: the committed content survives
    val payloads = spark.read.parquet(okDir).select("payload")
      .as[String].collect().toSeq
    assert(payloads === Seq("already-written"))
    // whereas a PARTIAL dir (no _SUCCESS) is overwritten on replay
    val (okDir2, dlqDir2, ckpt2) = (tmp(), tmp(), tmp())
    val partial = new java.io.File(s"$okDir2/batch=0")
    partial.mkdirs() // crashed attempt: directory but no _SUCCESS
    val stream2 = MemoryStream[Record]
    stream2.addData(rec(0, 0, "retried"))
    val q2 = StreamingPipeline.dualWrite(stream2.toDF(), stage, okDir2,
      dlqDir2, ckpt2)
    q2.awaitTermination()
    assert(spark.read.parquet(okDir2).select("payload")
      .as[String].collect().toSeq === Seq("retried"))
  }

  test("size-bound flush: source admission control caps every micro-batch") {
    // the reference's is_full / 128-row batch cap (src/clickhouse.rs:60-63,
    // ReducerWhenFullBehaviour src/lib.rs:697-701): a full buffer flushes
    // and the source stops feeding until it has. Spark form: admission
    // control (maxFilesPerTrigger here; maxOffsetsPerTrigger on Kafka via
    // KafkaRecords.Config) bounds what each trigger may pull, so one
    // "full" flush becomes several capped micro-batches.
    import spark.implicits._
    val (inDir, okDir, dlqDir, ckpt) = (tmp(), tmp(), tmp(), tmp())
    (0 until 3).foreach { f =>
      Seq((0, f * 2L, s"a$f".getBytes("UTF-8")),
        (0, f * 2 + 1L, s"b$f".getBytes("UTF-8")))
        .toDF("partition", "offset", "value")
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    val src = spark.readStream
      .schema("partition INT, offset BIGINT, value BINARY")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = StreamingPipeline.dualWrite(src, stage, okDir, dlqDir, ckpt)
    q.awaitTermination()
    val batchDirs = new java.io.File(okDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).toSeq
    // 6 rows arrived as (at least) 3 capped flushes, none above the cap
    assert(batchDirs.size >= 3)
    batchDirs.foreach { d =>
      assert(spark.read.parquet(d.toString).count() <= 2,
        s"batch ${d.getName} overran the flush cap")
    }
    assert(spark.read.parquet(okDir).count() === 6)
  }

  test("Drop shutdown: a stopped topology pulls nothing more; restart redelivers") {
    // MapShutdownBehaviour::Drop / ReduceShutdownBehaviour::Drop
    // (src/lib.rs:556-560,691-695): shutdown discards not-yet-processed
    // work instead of draining it. Spark form: after stop(), input the
    // query never pulled is simply NOT processed — but since its offsets
    // were never committed either, the same checkpoint redelivers it on
    // restart (drop-without-loss, vs. Drain = AvailableNow which flushes
    // everything before stopping).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (okDir, dlqDir, ckpt) = (tmp(), tmp(), tmp())
    val stream = MemoryStream[Record]
    stream.addData(rec(0, 0, "a"), rec(0, 1, "b"))
    val q = StreamingPipeline.dualWrite(stream.toDF(), stage, okDir, dlqDir,
      ckpt, Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable() // first flush: a, b
      assert(spark.read.parquet(okDir).count() === 2)
    } finally q.stop() // shutdown signal
    // input arriving around/after shutdown is dropped from processing:
    // several trigger intervals pass and the record stays unprocessed
    stream.addData(rec(0, 2, "dropped-for-now"))
    Thread.sleep(500)
    assert(spark.read.parquet(okDir).count() === 2)
    // Drain restart from the same checkpoint: the dropped record arrives
    stream.addData(rec(0, 3, "late"))
    val q2 = StreamingPipeline.dualWrite(stream.toDF(), stage, okDir, dlqDir,
      ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(okDir).select("payload").as[String]
      .collect().sorted.toSeq === Seq("a", "b", "dropped-for-now", "late"))
  }

  test("streaming CUSUM: the statistic folds across micro-batches and alarms") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val mon = StreamingPipeline.rateCusumStream(
      stream.toDF().toDF("k"), "k", refPerBatch = 2L, alarmAt = 3L)
    val q = mon.writeStream.outputMode("append")
      .format("memory").queryName("cusum_out").start()
    try {
      stream.addData("a", "a", "a", "b") // a: S=max(0,0+(3-2))=1; b: S=0
      q.processAllAvailable()
      stream.addData("a", "a", "a", "a") // a: S=max(0,1+(4-2))=3 -> alarm
      q.processAllAvailable()
      stream.addData("b") // b: S=max(0,0+(1-2))=0 — never negative
      q.processAllAvailable()
      val out = spark.table("cusum_out")
        .as[(String, Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      // per-key trajectories: (key, batch_count, cusum, alarm)
      assert(out("a").map(r => (r._3, r._4)).toSet === Set((1L, 0L), (3L, 1L)))
      assert(out("b").map(_._3).forall(_ === 0L)) // clamped at zero
      assert(out("b").map(_._4).forall(_ === 0L))
    } finally q.stop()
  }

  test("streaming heavy hitters: MG guarantees hold across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, String)]
    val mon = StreamingPipeline.heavyHittersStream(
      stream.toDF().toDF("key", "tok"), k = 3)
    val q = mon.writeStream.outputMode("append")
      .format("memory").queryName("hh_out").start()
    try {
      stream.addData(Seq.fill(5)("s" -> "a") ++ Seq.fill(2)("s" -> "b")
        ++ Seq("s" -> "c", "s" -> "d"): _*) // N=9
      q.processAllAvailable()
      stream.addData(Seq.fill(3)("s" -> "a") ++ Seq.fill(4)("s" -> "e"): _*)
      q.processAllAvailable() // N=16; true: a=8, e=4, b=2, c=1, d=1
      val rows = spark.table("hh_out")
        .as[(String, String, Long, Long)].collect()
      // state folded across batches: the second emission reports the
      // full stream's n_seen
      val last = rows.filter(_._4 == 16L)
      assert(last.nonEmpty, rows.mkString(","))
      assert(last.length <= 3) // bounded summary
      val est = last.map(r => r._2 -> r._3).toMap
      val truth = Map("a" -> 8L, "e" -> 4L, "b" -> 2L, "c" -> 1L, "d" -> 1L)
      // membership: any token with true count > N/(k+1) = 4 is present
      assert(est.contains("a"))
      // estimates never overcount, and undercount by at most N/(k+1)
      est.foreach { case (t, c) =>
        assert(c <= truth(t), s"$t overcounted")
        assert(truth(t) - c <= 16L / 4L, s"$t undercounted too far")
      }
      // the first batch's emission was the 9-item summary with a on top
      val first = rows.filter(_._4 == 9L)
      assert(first.nonEmpty && first.maxBy(_._3)._2 === "a")
    } finally q.stop()
  }

  test("streaming heavy hitters: state survives a query RESTART from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (ckpt, out) = (tmp(), tmp())
    val stream = MemoryStream[(String, String)]
    // memory sink can't recover from a checkpoint; the file sink can
    def start() = StreamingPipeline.heavyHittersStream(
      stream.toDF().toDF("key", "tok"), k = 3)
      .toDF("key", "tok", "est", "n_seen")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    val q1 = start()
    try {
      stream.addData(Seq.fill(6)("s" -> "a") ++ Seq.fill(2)("s" -> "b"): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // new process, same checkpoint: the MG counters and n_seen resume
    val q2 = start()
    try {
      stream.addData(Seq.fill(3)("s" -> "a") ++ Seq("s" -> "c"): _*)
      q2.processAllAvailable()
      val rows = spark.read.parquet(out)
        .as[(String, String, Long, Long)].collect()
      val last = rows.filter(_._4 == 12L) // 8 pre-restart + 4 post
      assert(last.nonEmpty, rows.mkString(","))
      val a = last.find(_._2 == "a").map(_._3)
      // a's estimate folded across the restart: true 9, undercount <= 3
      assert(a.exists(c => c <= 9L && c >= 9L - 12L / 4L), last.mkString(","))
    } finally q2.stop()
  }

  test("streaming ingest drift: a shape-matching batch passes, a skewed one alarms") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val monitor = tmp()
    // reference: everything lives in bucket 1 (16-31 tokens)
    val refDoc = (1 to 20).map(i => s"t$i").mkString(" ")
    val ref = StreamingPipeline.referenceHistogram(
      Seq.fill(10)(refDoc).toDF("text"))
    assert(ref.keySet === Set(1L) && ref(1L) === 1.0)
    val stream = MemoryStream[String]
    val q = StreamingPipeline.ingestDriftStream(
      stream.toDF().toDF("text"), ref, monitor, alarmGap = 0.5)
    try {
      stream.addData(Seq.fill(5)(refDoc): _*) // matches the reference
      q.processAllAvailable()
      // a skewed drop: every doc 100+ tokens (bucket >= 6)
      val longDoc = (1 to 100).map(i => s"u$i").mkString(" ")
      stream.addData(Seq.fill(5)(longDoc): _*)
      q.processAllAvailable()
      val rows = spark.read.parquet(monitor)
        .select($"batch_id", $"bucket", $"gap", $"alarm")
        .as[(Long, Long, Double, Boolean)].collect()
      val byBatch = rows.groupBy(_._1)
      assert(byBatch.size === 2)
      // batch 0: identical shape, zero gap, no alarm
      byBatch(0L).foreach { r => assert(r._3 === 0.0 && !r._4, r) }
      // batch 1: the whole mass sits in an unreferenced bucket — alarm
      assert(byBatch(1L).exists(r => r._3 === 1.0 && r._4), byBatch(1L))
      // AND the reference bucket the drop abandoned is reported as
      // vanished (gap = its full reference share), not silently absent
      val vanished = byBatch(1L).filter(_._2 == 1L)
      assert(vanished.nonEmpty && vanished.forall(r => r._3 === 1.0 && r._4),
        byBatch(1L).mkString(","))
    } finally q.stop()
  }

  test("late-data census: planted late rows are counted per source with their lateness") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val census = StreamingPipeline.lateDataCensus(
      stream.toDF().toDF("ts", "source"), "ts", "source", delaySeconds = 60L)
    val q = census.toDF("source", "n_rows", "n_late", "total_late", "worst_s")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_census").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00").getTime
      def ts(deltaS: Long) = new java.sql.Timestamp(t0 + deltaS * 1000L)
      // batch 1: establishes each source's high-water mark; nothing can
      // be late yet (no previous batches to be late against)
      stream.addData((ts(0), "a"), (ts(100), "a"), (ts(0), "b"))
      q.processAllAvailable()
      // batch 2: a's watermark = t0+100-60 = t0+40; b's = t0-60
      stream.addData(
        (ts(0), "a"),   // 40 s behind a's watermark -> late
        (ts(200), "a"), // on time
        (ts(-120), "b")) // 60 s behind b's watermark -> late
      q.processAllAvailable()
      val rows = spark.table("late_census")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      // batch-1 emissions: zero late for both sources
      assert(rows.contains(("a", 2L, 0L, 0L, 0L)), rows)
      assert(rows.contains(("b", 1L, 0L, 0L, 0L)), rows)
      // batch-2 emissions carry the planted lateness
      assert(rows.contains(("a", 2L, 1L, 1L, 40L)), rows)
      assert(rows.contains(("b", 1L, 1L, 1L, 60L)), rows)
    } finally q.stop()
  }

  test("streaming dedup: duplicate keys across micro-batches emit once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "id", "payload")
    val deduped = StreamingPipeline.dedupStream(df, Seq("id"), "ts")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      stream.addData((t, 1L, "a"), (t, 1L, "a-dup"), (t, 2L, "b"))
      q.processAllAvailable()
      stream.addData((t, 1L, "a-replay"), (t, 3L, "c")) // replay in later batch
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select($"id")
        .as[Long].collect().sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L)) // each key exactly once
    } finally q.stop()
  }

  test("near-dup idle-state timeout knob: armed timeout on a live query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val twin = (1 to 40).map(i => if (i == 7) "EDITED" else s"tok$i").mkString(" ")
    val stream = MemoryStream[(Long, String)]
    stream.addData((1L, base), (3L, twin))
    // the production knob: ProcessingTimeTimeout armed. An armed timeout
    // keeps the query scheduling no-data batches (to fire expirations), so
    // neither processAllAvailable() nor AvailableNow ever observes an idle
    // query — the knob is for LIVE deployments; poll the sink instead.
    val hits = StreamingPipeline.nearDupHits(
      stream.toDF().toDF("doc_id", "text"),
      idleStateTimeout = Some("1 second"))
    val q = hits.toDF("doc_id", "dup_of", "est_jaccard")
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_timeout")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      def got() = spark.table("neardup_timeout")
        .select($"doc_id", $"dup_of").as[(Long, Long)].collect().toSet
      val deadline = System.currentTimeMillis() + 120000
      while (System.currentTimeMillis() < deadline && got() != Set((3L, 1L))) {
        assert(q.exception.isEmpty, q.exception)
        Thread.sleep(200)
      }
      assert(got() === Set((3L, 1L)), got())
    } finally q.stop()
  }

  test("streaming near-dup dedup: a cross-batch fuzzy twin is flagged, others pass") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val twin = (1 to 40).map(i => if (i == 20) "EDITED" else s"token$i")
      .mkString(" ") // one of 38 shingles' tokens changed: J well above 0.8
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val stream = MemoryStream[(Long, String)]
    val hits = StreamingPipeline.nearDupHits(
      stream.toDF().toDF("doc_id", "text"))
    val q = hits.toDF("doc_id", "dup_of", "est_jaccard")
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_hits").start()
    try {
      stream.addData((1L, base), (2L, other))
      q.processAllAvailable()
      assert(spark.table("neardup_hits").count() === 0) // no dups yet
      stream.addData((3L, twin)) // LATER BATCH: fuzzy twin of doc 1
      q.processAllAvailable()
      val got = spark.table("neardup_hits")
        .select($"doc_id", $"dup_of").as[(Long, Long)].collect().toSet
      assert(got === Set((3L, 1L)), got)
      // CHAINED near-dups: doc 4 is a twin of doc 2 (which never matched
      // anything) — every doc is indexed into its buckets, so the chain
      // B -> C is found even though B was no one's duplicate
      val otherTwin = (100 to 140)
        .map(i => if (i == 120) "EDITED" else s"word$i").mkString(" ")
      stream.addData((4L, otherTwin))
      q.processAllAvailable()
      val got2 = spark.table("neardup_hits")
        .select($"doc_id", $"dup_of").as[(Long, Long)].collect().toSet
      assert(got2 === Set((3L, 1L), (4L, 2L)), got2)
    } finally q.stop()
  }

  test("stream-static dedup: in-flight docs probe the persisted corpus index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorExpressions.text_shingles
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    // standing corpus: docs 1 and 2, indexed once as a static table
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
      .select(col("doc_id"), text_shingles(col("text"), 3).as("sh"))
    val index = graft.operators.NearDup.bandIndex(corpus)
    val stream = MemoryStream[(Long, String)]
    val hits = StreamingPipeline.staticIndexHits(
      stream.toDF().toDF("doc_id", "text"), index)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("static_hits").start()
    try {
      val twin = (1 to 40).map(i => if (i == 20) "EDITED" else s"token$i")
        .mkString(" ")
      val novel = (200 to 240).map(i => s"fresh$i").mkString(" ")
      stream.addData((10L, twin), (11L, novel))
      q.processAllAvailable()
      val got = spark.table("static_hits")
        .as[(Long, Long)].collect().toSet
      // the twin hits its corpus original; the novel doc hits nothing —
      // and unlike nearDupHits, the corpus doc was never on the stream
      assert(got === Set((10L, 1L)), got)
      // a later batch still sees the full static index
      val otherTwin = (100 to 140)
        .map(i => if (i == 120) "EDITED" else s"word$i").mkString(" ")
      stream.addData((12L, otherTwin))
      q.processAllAvailable()
      val got2 = spark.table("static_hits")
        .as[(Long, Long)].collect().toSet
      assert(got2 === Set((10L, 1L), (12L, 2L)), got2)
    } finally q.stop()
  }

  test("size-flush sink: chunks of exactly cap rows emit mid-interval, remainder carries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val chunksDir = tmp(); val carryDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    val q = StreamingPipeline.sizeFlushSink(
      stream.toDF().toDF("seq", "payload"), "seq", cap = 3,
      chunksDir, carryDir, ckpt)
    def chunks(): Seq[(Long, Long, Seq[Long])] =
      spark.read.parquet(chunksDir)
        .select($"batch_id", $"chunk", $"seq")
        .as[(Long, Long, Long)].collect().toSeq
        .groupBy(r => (r._1, r._2)).toSeq
        .map { case ((b, c), rs) => (b, c, rs.map(_._3).sorted) }
        .sortBy(r => (r._1, r._2))
    try {
      // 5 rows, cap 3: ONE chunk flushes now (not at some later
      // trigger); 2 rows carry
      stream.addData((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"))
      q.processAllAvailable()
      assert(chunks() === Seq((0L, 0L, Seq(0L, 1L, 2L))), chunks())
      assert(spark.read.parquet(s"$carryDir/batch_id=0")
        .as[(Long, String)].collect().map(_._1).sorted.toSeq === Seq(3L, 4L))
      // 4 more rows: carry (3,4) + (5,6,7,8) = 6 buffered -> two full
      // chunks, empty carry
      stream.addData((5L, "f"), (6L, "g"), (7L, "h"), (8L, "i"))
      q.processAllAvailable()
      assert(chunks() === Seq(
        (0L, 0L, Seq(0L, 1L, 2L)),
        (1L, 0L, Seq(3L, 4L, 5L)),
        (1L, 1L, Seq(6L, 7L, 8L))), chunks())
      assert(spark.read.parquet(s"$carryDir/batch_id=1").count() === 0)
      // every flushed chunk has EXACTLY cap rows — the reference's
      // "emit the moment 128 rows buffer" contract
      assert(chunks().forall(_._3.size === 3))
    } finally q.stop()
    // determinism / retry-idempotency: replaying the same input through
    // a fresh checkpoint rewrites the same batch_id dirs with the same
    // content instead of duplicating chunks. A checkpoint reset with
    // RETAINED carry state fails fast (batch numbering restarted below
    // existing carry ids is ambiguous intent — pinned below), so the
    // documented replay procedure clears the carry dir first; chunk
    // output is what the determinism contract is about.
    val streamStale = MemoryStream[(Long, String)]
    val qStale = StreamingPipeline.sizeFlushSink(
      streamStale.toDF().toDF("seq", "payload"), "seq", cap = 3,
      chunksDir, carryDir, tmp())
    try {
      streamStale.addData((0L, "a"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qStale.processAllAvailable()
      }
      assert(ex.getMessage.contains("NEWER than current micro-batch"),
        ex.getMessage)
    } finally qStale.stop()
    val carryPath = new org.apache.hadoop.fs.Path(carryDir)
    val cfs = carryPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    cfs.delete(carryPath, true)
    val stream2 = MemoryStream[(Long, String)]
    val q2 = StreamingPipeline.sizeFlushSink(
      stream2.toDF().toDF("seq", "payload"), "seq", cap = 3,
      chunksDir, carryDir, tmp())
    try {
      stream2.addData((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"))
      q2.processAllAvailable()
      stream2.addData((5L, "f"), (6L, "g"), (7L, "h"), (8L, "i"))
      q2.processAllAvailable()
      assert(chunks() === Seq(
        (0L, 0L, Seq(0L, 1L, 2L)),
        (1L, 0L, Seq(3L, 4L, 5L)),
        (1L, 1L, Seq(6L, 7L, 8L))), chunks())
    } finally q2.stop()
  }

  test("maintained band index: upsert, compaction, and restart lose and duplicate nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    def start() = StreamingPipeline.indexedDedupStream(
      stream.toDF().toDF("doc_id", "text"), indexDir, hitsDir, ckpt)
    val docA = (1 to 40).map(i => s"token$i").mkString(" ")
    val docB = (100 to 140).map(i => s"word$i").mkString(" ")
    val twinA = (1 to 40).map(i => if (i == 20) "EDITED" else s"token$i")
      .mkString(" ")
    val twinB = (100 to 140).map(i => if (i == 120) "EDITED" else s"word$i")
      .mkString(" ")
    def hits(): Set[(Long, Long)] =
      spark.read.parquet(hitsDir).as[(Long, Long)].collect().toSet
    val q1 = start()
    try {
      stream.addData((1L, docA), (2L, docB)) // seed the standing index
      q1.processAllAvailable()
      assert(hits() === Set.empty, hits())
      stream.addData((3L, twinA)) // probes the UPSERTED index -> finds 1
      q1.processAllAvailable()
      assert(hits() === Set((1L, 3L)), hits())
    } finally q1.stop()
    // maintenance window: compact the index (fold small batch files);
    // row content must survive the two-rename swap exactly
    val before = spark.read.parquet(indexDir).count()
    graft.sources.Ddl.compact(spark, indexDir, targetBytes = 1L << 30)
    assert(spark.read.parquet(indexDir).count() === before)
    // new process, same checkpoint: resumes after the refresh
    val q2 = start()
    try {
      stream.addData((4L, twinB), (5L, twinB)) // batch-internal twins too
      q2.processAllAvailable()
      // doc 2 was only reachable through the COMPACTED index files; the
      // (1,3) hit must not re-emit; 4 and 5 pair with 2 and each other
      assert(hits() === Set((1L, 3L), (2L, 4L), (2L, 5L), (4L, 5L)), hits())
    } finally q2.stop()
    // retry-idempotency: replaying the last batch through a FRESH query
    // (new checkpoint, same tables) re-derives only known pairs -> no
    // new hit rows, and the duplicate index rows it appends are absorbed
    val ckpt2 = tmp()
    val stream2 = MemoryStream[(Long, String)]
    val q3 = StreamingPipeline.indexedDedupStream(
      stream2.toDF().toDF("doc_id", "text"), indexDir, hitsDir, ckpt2)
    try {
      stream2.addData((4L, twinB), (5L, twinB))
      q3.processAllAvailable()
      assert(hits() === Set((1L, 3L), (2L, 4L), (2L, 5L), (4L, 5L)), hits())
    } finally q3.stop()
  }

  test("flatMapGroupsWithState: per-key highwater state persists across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Record]
    val out = StreamingPipeline.statefulHighwater(stream.toDS())
      .toDF("topic", "partition", "hwm", "n_seen")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("hw_state").start()
    try {
      stream.addData(rec(0, 1, "a"), rec(1, 0, "b"))
      q.processAllAvailable()
      stream.addData(rec(0, 5, "c")) // same key, later batch
      q.processAllAvailable()
      val rows = spark.table("hw_state")
        .select($"partition", $"hwm", $"n_seen")
        .as[(Int, Long, Long)].collect().toSeq
      // reference test_commit expectations for batch 1 ...
      assert(rows.contains((0, 2L, 1L)) && rows.contains((1, 1L, 1L)))
      // ... and the fold RESUMED (not restarted) in batch 2
      assert(rows.contains((0, 6L, 2L)))
    } finally q.stop()
  }

  test("stream-stream interval join: purchase attributed to click within window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(java.sql.Timestamp, String, Long)]
    val purchases = MemoryStream[(java.sql.Timestamp, String, Double)]
    val c = clicks.toDF().toDF("c_ts", "c_user", "click_id")
    val p = purchases.toDF().toDF("p_ts", "p_user", "amount")
    val joined = StreamingPipeline.streamIntervalJoin(
      c, "c_ts", p, "p_ts",
      expr("c_user = p_user AND p_ts >= c_ts AND " +
        "p_ts <= c_ts + INTERVAL 15 MINUTES"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attributed").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      clicks.addData(
        (ts("2024-01-01 00:00:00"), "u1", 1L),
        (ts("2024-01-01 00:00:00"), "u2", 2L))
      purchases.addData(
        (ts("2024-01-01 00:10:00"), "u1", 9.5), // within 15 min of click 1
        (ts("2024-01-01 01:00:00"), "u1", 3.0)) // outside every window
      q.processAllAvailable()
      val got = spark.table("attributed")
        .select($"click_id", $"amount").as[(Long, Double)].collect().toSeq
      // exactly one attribution: u1's in-window purchase; u2 unmatched
      assert(got === Seq((1L, 9.5)))
    } finally q.stop()
  }

  test("event-time windowed counts with watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val df = stream.toDF().toDF("ts", "kind")
    val agg = StreamingPipeline.windowedCounts(df, "ts", "kind", "10 minutes")
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("win_counts").start()
    try {
      stream.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "click"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "click"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:15:00"), "view"))
      q.processAllAvailable()
      val got = spark.table("win_counts")
        .select($"kind", $"n").as[(String, Long)].collect().toMap
      assert(got === Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("streaming hourly windowed counts equal the batch rollup on the full fixture") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = graft.ops.Tables.events(spark, sfDir)
      .select($"ts", $"event_type")
      .as[(java.sql.Timestamp, String)].collect()
    // batch truth: tumbling-hour counts per type over the same rows
    val want = ev.groupBy { case (t, k) =>
      (t.getTime / 1000 / 3600, k)
    }.view.mapValues(_.length.toLong).toMap
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val agg = StreamingPipeline.windowedCounts(
      stream.toDF().toDF("ts", "event_type"), "ts", "event_type", "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_parity").start()
    try {
      stream.addData(ev.toIndexedSeq: _*)
      q.processAllAvailable()
      val maxTs = ev.map(_._1.getTime).max
      stream.addData( // sentinel closes every real window
        (new java.sql.Timestamp(maxTs + 48L * 3600 * 1000), "sentinel"))
      q.processAllAvailable()
      val got = spark.table("win_parity")
        .select($"window.start".cast("long") / 3600, $"event_type", $"n")
        .as[(Double, String, Long)].collect()
        .map { case (h, k, n) => (h.toLong, k) -> n }.toMap
      assert(got === want)
    } finally q.stop()
  }

  test("streaming session windows match a single-node replay on the full fixture") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val gapS = 1800L
    val ev = graft.ops.Tables.events(spark, sfDir)
      .select($"user_id", $"ts")
      .as[(Long, java.sql.Timestamp)].collect()
    // single-node reference of session_window semantics: sorted per
    // user, a new event MERGES while its gap is strictly < 30 min
    // (window end = last_ts + gap, merge iff ts < end)
    val want = ev.groupBy(_._1).view.mapValues { es =>
      val ts = es.map(_._2.getTime / 1000).sorted
      1L + ts.zip(ts.tail).count { case (a, b) => b - a >= gapS }
    }.toMap
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val counts = StreamingPipeline.sessionCounts(
      stream.toDF().toDF("user_id", "ts"), "ts", "user_id",
      gap = "30 minutes", watermark = "1 second")
    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("sess_parity").start()
    try {
      stream.addData(ev.map { case (u, t) => (u, t) }.toIndexedSeq: _*)
      q.processAllAvailable()
      // sentinel far past every real session pushes the watermark so
      // append mode EMITS all real windows; sentinels' own windows
      // stay open and never emit
      val maxTs = ev.map(_._2.getTime).max
      stream.addData(ev.map(_._1).distinct.map(u =>
        (u, new java.sql.Timestamp(maxTs + 48L * 3600 * 1000))).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("sess_parity")
        .groupBy($"user_id").count()
        .as[(Long, Long)].collect().toMap
      assert(got === want)
      // when the fixture has no exact-30-min gap, the batch rule
      // (break on STRICTLY more than the gap) agrees too
      val boundary = ev.groupBy(_._1).values.map { es =>
        val ts = es.map(_._2.getTime / 1000).sorted
        ts.zip(ts.tail).count { case (a, b) => b - a == gapS }
      }.sum
      if (boundary == 0) {
        val batch = graft.operators.Sessionize.sessionize(spark, sfDir)
          .groupBy($"user_id").agg(countDistinct($"session_id").as("n"))
          .as[(Long, Long)].collect().toMap
        assert(batch === got)
      }
    } finally q.stop()
  }

  test("size-flush sink housekeeping: stale carry dirs are GC'd; an oversized batch fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val chunksDir = tmp(); val carryDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    val q = StreamingPipeline.sizeFlushSink(
      stream.toDF().toDF("seq", "payload"), "seq", cap = 3,
      chunksDir, carryDir, ckpt, maxBufferedRows = 8L)
    def carryDirs(): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(carryDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).toSet
    }
    try {
      stream.addData((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"))
      q.processAllAvailable() // batch 0: chunk (0,1,2), carry (3,4)
      assert(carryDirs() === Set("batch_id=0"), carryDirs())
      stream.addData((5L, "f"), (6L, "g"), (7L, "h"), (8L, "i"))
      q.processAllAvailable() // batch 1: two chunks, empty carry
      // latest two retained (batch 1 + the batch-0 carry it read)
      assert(carryDirs() === Set("batch_id=0", "batch_id=1"), carryDirs())
      stream.addData((9L, "j"), (10L, "k"))
      q.processAllAvailable() // batch 2: no chunk, carry (9,10)
      // batch_id=0 is now unreachable by any replay -> GC'd
      assert(carryDirs() === Set("batch_id=1", "batch_id=2"), carryDirs())
      // misuse guard: carry(2) + 7 incoming = 9 > maxBufferedRows=8 ->
      // the batch fails FAST with a message naming the knob, before any
      // chunk or carry write
      stream.addData((11L to 17L).map(i => (i, s"x$i")): _*)
      val err = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      val cause = (chain(err) ++ q.exception.toSeq.flatMap(chain))
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(cause.contains("maxBufferedRows"), cause)
      // the oversized batch wrote NOTHING: chunks and carry untouched
      assert(spark.read.parquet(chunksDir).count() === 9L)
      assert(carryDirs() === Set("batch_id=1", "batch_id=2"), carryDirs())
    } finally q.stop()
  }

  test("size-flush sink: crash between chunk and carry write replays to a gapless, dup-free chunk stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val chunksDir = tmp(); val carryDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    def start() = StreamingPipeline.sizeFlushSink(
      stream.toDF().toDF("seq", "payload"), "seq", cap = 3,
      chunksDir, carryDir, ckpt)
    def chunks(): Seq[(Long, Long, Seq[Long])] =
      spark.read.parquet(chunksDir)
        .select($"batch_id", $"chunk", $"seq")
        .as[(Long, Long, Long)].collect().toSeq
        .groupBy(r => (r._1, r._2)).toSeq
        .map { case ((b, c), rs) => (b, c, rs.map(_._3).sorted) }
        .sortBy(r => (r._1, r._2))
    val q1 = start()
    try {
      stream.addData((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"))
      q1.processAllAvailable() // batch 0 commits: chunk (0,1,2), carry (3,4)
      // arm the reference's test_fail_on_flush point: batch 1 dies AFTER
      // its chunks land but BEFORE its carry (and offset commit) do
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      StreamingPipeline.Faults.sizeFlushAfterChunks = _ =>
        if (armed.getAndSet(false))
          throw new RuntimeException("injected crash: killed between " +
            "chunk write and carry write")
      stream.addData((5L, "f"), (6L, "g"), (7L, "h"), (8L, "i"))
      intercept[Exception] { q1.processAllAvailable() }
      assert(q1.exception.isDefined)
    } finally { q1.stop(); StreamingPipeline.Faults.reset() }
    // mid-crash state on disk: batch 1's chunks exist, its carry doesn't
    val fs = new org.apache.hadoop.fs.Path(carryDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$carryDir/batch_id=1")))
    // restart on the same checkpoint: batch 1 replays (its offsets were
    // never committed), overwrites its own chunk dir with identical
    // content, and completes the carry — no gap, no duplicate
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(chunks() === Seq(
        (0L, 0L, Seq(0L, 1L, 2L)),
        (1L, 0L, Seq(3L, 4L, 5L)),
        (1L, 1L, Seq(6L, 7L, 8L))), chunks())
      assert(spark.read.parquet(s"$carryDir/batch_id=1").count() === 0L)
      // and the stream keeps flowing correctly past the recovery
      stream.addData((9L, "j"), (10L, "k"), (11L, "l"))
      q2.processAllAvailable()
      assert(chunks().last === ((2L, 0L, Seq(9L, 10L, 11L))), chunks())
      assert(chunks().forall(_._3.size === 3)) // every chunk exactly cap
      assert(chunks().flatMap(_._3) === (0L to 11L)) // gapless, dup-free
    } finally q2.stop()
  }

  test("size-flush sink: the SAME crash firing again during replay still converges (replay path is itself idempotent)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val chunksDir = tmp(); val carryDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    def start() = StreamingPipeline.sizeFlushSink(
      stream.toDF().toDF("seq", "payload"), "seq", cap = 3,
      chunksDir, carryDir, ckpt)
    def chunks(): Seq[(Long, Long, Seq[Long])] =
      spark.read.parquet(chunksDir)
        .select($"batch_id", $"chunk", $"seq")
        .as[(Long, Long, Long)].collect().toSeq
        .groupBy(r => (r._1, r._2)).toSeq
        .map { case ((b, c), rs) => (b, c, rs.map(_._3).sorted) }
        .sortBy(r => (r._1, r._2))
    val q1 = start()
    // the fault fires TWICE: once on the original batch 1, once on its
    // replay — a first-retry-only pin would miss a replay path that
    // only works because the crash site was disarmed
    val remaining = new java.util.concurrent.atomic.AtomicInteger(2)
    StreamingPipeline.Faults.sizeFlushAfterChunks = id =>
      if (id == 1L && remaining.getAndDecrement() > 0)
        throw new RuntimeException("injected crash: killed between " +
          "chunk write and carry write (fires on replay too)")
    try {
      stream.addData((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"))
      q1.processAllAvailable() // batch 0 commits
      stream.addData((5L, "f"), (6L, "g"), (7L, "h"), (8L, "i"))
      intercept[Exception] { q1.processAllAvailable() } // crash #1
    } finally q1.stop()
    val q2 = start()
    try {
      intercept[Exception] { q2.processAllAvailable() } // crash #2, mid-replay
    } finally q2.stop()
    assert(remaining.get() <= 0, "fault must have fired twice")
    StreamingPipeline.Faults.reset()
    // third incarnation: replay of a twice-crashed batch converges to
    // the exact same gapless stream a clean run produces
    val q3 = start()
    try {
      q3.processAllAvailable()
      assert(chunks() === Seq(
        (0L, 0L, Seq(0L, 1L, 2L)),
        (1L, 0L, Seq(3L, 4L, 5L)),
        (1L, 1L, Seq(6L, 7L, 8L))), chunks())
      stream.addData((9L, "j"), (10L, "k"), (11L, "l"))
      q3.processAllAvailable()
      assert(chunks().flatMap(_._3) === (0L to 11L)) // gapless, dup-free
    } finally q3.stop()
  }

  test("size-flush sink: crash between carry write and carry GC retains stale dirs but never loses a needed one") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val chunksDir = tmp(); val carryDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    def start() = StreamingPipeline.sizeFlushSink(
      stream.toDF().toDF("seq", "payload"), "seq", cap = 3,
      chunksDir, carryDir, ckpt)
    def carryIds(): Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(carryDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).sorted
    }
    def chunkSeqs(): Seq[Long] =
      spark.read.parquet(chunksDir).select($"seq")
        .as[Long].collect().toSeq.sorted
    val q1 = start()
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    StreamingPipeline.Faults.sizeFlushAfterCarry = id =>
      if (id == 2 && armed.compareAndSet(false, true))
        throw new RuntimeException("injected crash: killed between " +
          "carry write and carry GC")
    try {
      stream.addData((0L until 5L).map(i => (i, s"v$i")): _*)
      q1.processAllAvailable() // batch 0: carry {3,4}
      stream.addData((5L until 9L).map(i => (i, s"v$i")): _*)
      q1.processAllAvailable() // batch 1: GC'able state exists
      stream.addData((9L until 13L).map(i => (i, s"v$i")): _*)
      intercept[Exception] { q1.processAllAvailable() } // batch 2 crash
    } finally { q1.stop(); StreamingPipeline.Faults.reset() }
    // mid-crash: batch 2's carry landed, GC never ran — batch 1's carry
    // (the one a replay of batch 2 READS) must still be on disk
    assert(carryIds().contains(1L), carryIds())
    assert(carryIds().contains(2L), carryIds())
    // restart: batch 2 replays (offsets uncommitted), re-reads carry 1,
    // overwrites its own dirs, and this time completes GC
    val q2 = start()
    try {
      q2.processAllAvailable()
      // 13 rows total, cap 3 → 12 chunked, {12} carried
      assert(chunkSeqs() === (0L to 11L), chunkSeqs())
      // GC completed on the replay: only {prev, own} dirs remain
      assert(carryIds() === Seq(1L, 2L), carryIds())
      // the stream continues past the recovery and GC keeps rolling
      stream.addData((13L until 17L).map(i => (i, s"v$i")): _*)
      q2.processAllAvailable()
      assert(carryIds() === Seq(2L, 3L), carryIds())
    } finally q2.stop()
  }

  test("size-flush sink: restart AFTER a completed GC finds the retained carry sufficient") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val chunksDir = tmp(); val carryDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    def start() = StreamingPipeline.sizeFlushSink(
      stream.toDF().toDF("seq", "payload"), "seq", cap = 3,
      chunksDir, carryDir, ckpt)
    def carryIds(): Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(carryDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).sorted
    }
    val q1 = start()
    try {
      // three committed batches: GC has deleted batch 0's carry by now
      stream.addData((0L until 5L).map(i => (i, s"v$i")): _*)
      q1.processAllAvailable()
      stream.addData((5L until 9L).map(i => (i, s"v$i")): _*)
      q1.processAllAvailable()
      stream.addData((9L until 13L).map(i => (i, s"v$i")): _*)
      q1.processAllAvailable()
      assert(carryIds() === Seq(1L, 2L), carryIds()) // 0 was GC'd
    } finally q1.stop()
    // cold restart on the GC'd state: batch 3 reads the retained carry
    // (batch 2's) — the GC'd dirs were provably unreachable
    val q2 = start()
    try {
      stream.addData((13L until 17L).map(i => (i, s"v$i")): _*)
      q2.processAllAvailable()
      val all = spark.read.parquet(chunksDir).select($"seq")
        .as[Long].collect().toSeq.sorted
      // 17 rows total, cap 3 → 15 chunked, {15,16} carried
      assert(all === (0L to 14L), all)
      assert(spark.read.parquet(s"$carryDir/batch_id=3")
        .as[(Long, String)].collect().map(_._1).sorted.toSeq === Seq(15L, 16L))
    } finally q2.stop()
  }

  test("size-flush sink: acknowledged chunk dirs are retired, unacknowledged ones survive restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val chunksDir = tmp(); val carryDir = tmp(); val ckpt = tmp()
    val ack = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val stream = MemoryStream[(Long, String)]
    def start() = StreamingPipeline.sizeFlushSink(
      stream.toDF().toDF("seq", "payload"), "seq", cap = 3,
      chunksDir, carryDir, ckpt, ackedChunks = () => ack.get())
    def chunkBatchIds(): Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(chunksDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).sorted
    }
    val q1 = start()
    try {
      stream.addData((0L until 5L).map(i => (i, s"v$i")): _*)
      q1.processAllAvailable() // batch 0
      stream.addData((5L until 9L).map(i => (i, s"v$i")): _*)
      q1.processAllAvailable() // batch 1
      assert(chunkBatchIds() === Seq(0L, 1L)) // nothing acked: all retained
      ack.set(0L) // consumer finished batch 0's chunks
      stream.addData((9L until 13L).map(i => (i, s"v$i")): _*)
      q1.processAllAvailable() // batch 2 retires batch 0's output
      assert(chunkBatchIds() === Seq(1L, 2L), chunkBatchIds())
    } finally q1.stop()
    // restart: unacknowledged chunks (1, 2) survive; the stream resumes
    // and an ack that covers everything committed retires all but the
    // newest batch's own output
    val q2 = start()
    try {
      assert(chunkBatchIds() === Seq(1L, 2L))
      ack.set(Long.MaxValue) // consumer caught all the way up
      stream.addData((13L until 17L).map(i => (i, s"v$i")): _*)
      q2.processAllAvailable() // batch 3: acked capped at id-1 = 2
      assert(chunkBatchIds() === Seq(3L), chunkBatchIds())
      // the data in the surviving dirs is still the correct tail
      val rows = spark.read.parquet(s"$chunksDir/batch_id=3")
        .select($"seq").as[Long].collect().toSeq.sorted
      assert(rows === Seq(12L, 13L, 14L), rows)
    } finally q2.stop()
  }

  test("dual-write: crash between ok and DLQ writes replays without duplicating the ok batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (okDir, dlqDir, ckpt) = (tmp(), tmp(), tmp())
    val stream = MemoryStream[Record]
    def start() = StreamingPipeline.dualWrite(
      stream.toDF(), stage, okDir, dlqDir, ckpt,
      trigger = Trigger.ProcessingTime(0L))
    val q1 = start()
    try {
      stream.addData(rec(0, 0, "a"), rec(0, 1, "b"))
      q1.processAllAvailable() // batch 0 commits both branches
      // batch 1 dies AFTER its ok branch landed (with _SUCCESS), BEFORE
      // its DLQ branch — the split-write torn-batch point
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      StreamingPipeline.Faults.dualWriteAfterOk = _ =>
        if (armed.getAndSet(false))
          throw new RuntimeException("injected crash: killed between " +
            "ok write and DLQ write")
      stream.addData(rec(0, 2, "c"), rec(1, 0, "poison"))
      intercept[Exception] { q1.processAllAvailable() }
      assert(q1.exception.isDefined)
    } finally { q1.stop(); StreamingPipeline.Faults.reset() }
    // mid-crash: ok/batch=1 is complete on disk, dlq/batch=1 absent
    val fs = new org.apache.hadoop.fs.Path(okDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$okDir/batch=1/_SUCCESS")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dlqDir/batch=1")))
    // restart: batch 1 replays; writeBatchOnce SKIPS the completed ok
    // dir (its _SUCCESS marker) and completes the DLQ branch — content
    // exactly-once on both branches, no torn batch
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(okDir).select($"payload").as[String]
        .collect().sorted.toSeq === Seq("a", "b", "c"))
      val dlq = spark.read.parquet(dlqDir)
      assert(dlq.count() === 1)
      assert(new String(dlq.select("value").head().getAs[Array[Byte]](0),
        "UTF-8") === "poison")
    } finally q2.stop()
  }

  test("maintained band index: crash between hits append and index append replays to an exact hit set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    def start() = StreamingPipeline.indexedDedupStream(
      stream.toDF().toDF("doc_id", "text"), indexDir, hitsDir, ckpt)
    val docA = (1 to 40).map(i => s"token$i").mkString(" ")
    val docB = (100 to 140).map(i => s"word$i").mkString(" ")
    val twinA = (1 to 40).map(i => if (i == 20) "EDITED" else s"token$i")
      .mkString(" ")
    def hits(): Set[(Long, Long)] =
      spark.read.parquet(hitsDir).as[(Long, Long)].collect().toSet
    val q1 = start()
    try {
      stream.addData((1L, docA), (2L, docB)) // batch 0 seeds the index
      q1.processAllAvailable()
      // batch 1 dies AFTER appending its hits, BEFORE indexing its docs
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      StreamingPipeline.Faults.indexedDedupAfterHits = _ =>
        if (armed.getAndSet(false))
          throw new RuntimeException("injected crash: killed between " +
            "hits append and index append")
      stream.addData((3L, twinA))
      intercept[Exception] { q1.processAllAvailable() }
      assert(q1.exception.isDefined)
    } finally { q1.stop(); StreamingPipeline.Faults.reset() }
    // mid-crash state: the hit row is already on disk, doc 3 is NOT in
    // the index, offsets were never committed
    assert(hits() === Set((1L, 3L)), hits())
    // restart: batch 1 replays, re-derives (1,3), the anti-join against
    // the hits table absorbs it (no duplicate row), and the index append
    // completes this time
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(hits() === Set((1L, 3L)), hits())
      assert(spark.read.parquet(hitsDir).count() === 1L) // dup-free, not just set-equal
      // doc 3 really is in the index now: a new twin pairs with BOTH
      // doc 1 (original) and doc 3 (indexed only by the replay)
      stream.addData((4L, twinA))
      q2.processAllAvailable()
      assert(hits() === Set((1L, 3L), (1L, 4L), (3L, 4L)), hits())
    } finally q2.stop()
  }

  test("maintained IVF cell index: streaming semantic dedup upserts, " +
    "survives compaction+restart, and replays exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    // two well-separated coarse cells; ids deliberately non-contiguous
    val codebook = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (5L, Array(0f, 1f, 0f, 0f)))
    val stream = MemoryStream[(Long, Array[Float])]
    def start(cp: String = ckpt,
        st: MemoryStream[(Long, Array[Float])] = stream) =
      StreamingPipeline.semanticDedupStream(
        st.toDF().toDF("vec_id", "v"), codebook,
        indexDir, hitsDir, cp, tau = 0.95,
        cellBuckets = Some(2)) // the deployment layout under test
    val a1 = (1L, Array(0.9f, 0.1f, 0f, 0f)) // cell 0
    val b2 = (2L, Array(0.1f, 0.9f, 0f, 0f)) // cell 5
    val twinA3 = (3L, Array(0.45f, 0.05f, 0f, 0f)) // = a1 scaled: cos 1
    val twinB4 = (4L, Array(0.2f, 1.8f, 0f, 0f)) // = b2 scaled: cos 1
    val twinB5 = (5L, Array(0.05f, 0.45f, 0f, 0f)) // colinear with b2, 4
    def hits(): Set[(Long, Long)] = spark.read.parquet(hitsDir)
      .select($"vec_id", $"matched_id").as[(Long, Long)].collect().toSet
    val q1 = start()
    try {
      stream.addData(a1, b2) // seed the standing cell index
      q1.processAllAvailable()
      assert(hits() === Set.empty, hits())
      stream.addData(twinA3) // probes the UPSERTED index -> matches 1
      q1.processAllAvailable()
      assert(hits() === Set((3L, 1L)), hits())
    } finally q1.stop()
    // the index landed HIVE-PARTITIONED on the cell bucket (B = 2 puts
    // cells 0 and 5 in a dir each): the layout every later batch's
    // pruned standing read depends on
    val idxFs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellDirs = idxFs
      .listStatus(new org.apache.hadoop.fs.Path(indexDir))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(cellDirs.exists(_.startsWith("cell_bucket=")), cellDirs)
    // and a bucket-restricted read prunes at the PARTITION level, not
    // with a post-scan filter
    val pruned = spark.read.parquet(indexDir)
      .where($"cell_bucket".cast("long") === 0L)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("cell_bucket=0") ||
      scan.contains("PartitionFilters: [isnotnull(cell_bucket") ||
      scan.contains("PartitionFilters: [(cell_bucket"), scan)
    // maintenance window: compact the index with the layout's own
    // operation; content must survive
    val before = spark.read.parquet(indexDir).count()
    graft.sources.Ddl.compactPartitions(spark, indexDir,
      targetBytes = 1L << 30)
    assert(spark.read.parquet(indexDir).count() === before)
    // new process, same checkpoint: standing member always wins (4 and
    // 5 both report matched_id 2), batch-internal lower id wins (5
    // reports 4, never the reverse)
    val q2 = start()
    try {
      stream.addData(twinB4, twinB5)
      q2.processAllAvailable()
      assert(hits() === Set((3L, 1L), (4L, 2L), (5L, 2L), (5L, 4L)),
        hits())
    } finally q2.stop()
    // fresh-checkpoint replay of the last batch with its rows ALREADY
    // standing in the index: the self-exclusion filter must keep the
    // batch-internal winner orientation — no reversed (4, matched=5)
    // hit — and the anti-join must append nothing
    val stream2 = MemoryStream[(Long, Array[Float])]
    val q3 = start(cp = tmp(), st = stream2)
    try {
      stream2.addData(twinB4, twinB5)
      q3.processAllAvailable()
      assert(hits() === Set((3L, 1L), (4L, 2L), (5L, 2L), (5L, 4L)),
        hits())
      assert(spark.read.parquet(hitsDir).count() === 4L)
    } finally q3.stop()
  }

  test("maintained IVF cell index: crash between hits append and index " +
    "append replays to an exact hit set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val codebook = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (5L, Array(0f, 1f, 0f, 0f)))
    val stream = MemoryStream[(Long, Array[Float])]
    def start() = StreamingPipeline.semanticDedupStream(
      stream.toDF().toDF("vec_id", "v"), codebook,
      indexDir, hitsDir, ckpt, tau = 0.95)
    def hits(): Set[(Long, Long)] = spark.read.parquet(hitsDir)
      .select($"vec_id", $"matched_id").as[(Long, Long)].collect().toSet
    val q1 = start()
    try {
      stream.addData((1L, Array(0.9f, 0.1f, 0f, 0f)),
        (2L, Array(0.1f, 0.9f, 0f, 0f)))
      q1.processAllAvailable()
      // batch 1 dies AFTER appending its hits, BEFORE indexing itself
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      StreamingPipeline.Faults.semanticDedupAfterHits = _ =>
        if (armed.getAndSet(false))
          throw new RuntimeException("injected crash: killed between " +
            "hits append and index append")
      stream.addData((3L, Array(0.45f, 0.05f, 0f, 0f)))
      intercept[Exception] { q1.processAllAvailable() }
      assert(q1.exception.isDefined)
    } finally { q1.stop(); StreamingPipeline.Faults.reset() }
    // mid-crash state: hit row on disk, vec 3 NOT in the index
    assert(hits() === Set((3L, 1L)), hits())
    assert(spark.read.parquet(indexDir).count() === 2L)
    // restart: the replay re-derives (3,1), the anti-join absorbs it,
    // and the index append completes this time
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(hits() === Set((3L, 1L)), hits())
      assert(spark.read.parquet(hitsDir).count() === 1L)
      // vec 3 really is indexed now: a new twin matches BOTH 1 and 3
      stream.addData((4L, Array(1.8f, 0.2f, 0f, 0f)))
      q2.processAllAvailable()
      assert(hits() === Set((3L, 1L), (4L, 1L), (4L, 3L)), hits())
    } finally q2.stop()
  }

  test("takedown through the IVF cell index: tombstoned vectors stop " +
    "matching, purged hits stay purged under replay, compact applies " +
    "tombstones physically") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val codebook = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (5L, Array(0f, 1f, 0f, 0f)))
    val stream = MemoryStream[(Long, Array[Float])]
    def start(cp: String = ckpt,
        st: MemoryStream[(Long, Array[Float])] = stream) =
      StreamingPipeline.semanticDedupStream(
        st.toDF().toDF("vec_id", "v"), codebook,
        indexDir, hitsDir, cp, tau = 0.95)
    def hits(): Set[(Long, Long)] = spark.read.parquet(hitsDir)
      .select($"vec_id", $"matched_id").as[(Long, Long)].collect().toSet
    def indexIds(): Set[Long] = spark.read.parquet(indexDir)
      .select($"vec_id").as[Long].collect().toSet
    val a = Array(0.9f, 0.1f, 0f, 0f)
    val q1 = start()
    try {
      stream.addData((1L, a), (2L, Array(0.1f, 0.9f, 0f, 0f)))
      q1.processAllAvailable()
      stream.addData((3L, Array(0.45f, 0.05f, 0f, 0f))) // twin of 1
      q1.processAllAvailable()
      assert(hits() === Set((3L, 1L)), hits())
    } finally q1.stop()
    // RETRACT vec 1 between micro-batches: hits purged, index rows
    // logically deleted (tombstone pending — physical rows remain
    // until the next compact)
    StreamingPipeline.takedownVectors(spark, indexDir, hitsDir, Seq(1L))
    assert(hits() === Set.empty, hits())
    assert(indexIds() === Set(1L, 2L, 3L))
    assert(graft.sources.Ddl.tombstonesOf(spark, indexDir).isDefined)
    // same checkpoint, new process: a fresh twin matches ONLY the
    // remaining member 3 — never the retracted 1
    val q2 = start()
    try {
      stream.addData((4L, Array(1.8f, 0.2f, 0f, 0f))) // twin of 1 AND 3
      q2.processAllAvailable()
      assert(hits() === Set((4L, 3L)), hits())
    } finally q2.stop()
    // compaction applies the tombstone physically and clears it
    graft.sources.Ddl.compact(spark, indexDir, targetBytes = 1L << 30)
    assert(indexIds() === Set(2L, 3L, 4L))
    assert(graft.sources.Ddl.tombstonesOf(spark, indexDir).isEmpty)
    // a replayed batch carrying the since-retracted id resurrects
    // NOTHING: not its purged hits, not its index rows. Re-tombstone
    // first (the compact consumed the pending set; a real replay races
    // a pending tombstone, not a consumed one).
    StreamingPipeline.takedownVectors(spark, indexDir, hitsDir, Seq(1L))
    val stream2 = MemoryStream[(Long, Array[Float])]
    val q3 = start(cp = tmp(), st = stream2)
    try {
      stream2.addData((1L, a)) // the retracted doc replays alone
      q3.processAllAvailable()
      assert(hits() === Set((4L, 3L)), hits())
      assert(indexIds() === Set(2L, 3L, 4L))
    } finally q3.stop()
  }

  test("sharded cell-bucket index layout: bounded dir count, standing " +
    "reads through bucket dirs, compactPartitions applies tombstones " +
    "layout-preserved, member-swap crash heals") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    // 8 orthogonal cells bucketed into 3 dirs: cell 0 and 3 share
    // bucket 0, exercising bucket-level co-residence under pruning
    val codebook = (0 until 8).map { c =>
      val v = Array.fill(8)(0f); v(c) = 1f; (c.toLong, v)
    }
    def vecOf(cell: Int, scale: Float): Array[Float] = {
      val v = Array.fill(8)(0f); v(cell) = scale; v
    }
    val stream = MemoryStream[(Long, Array[Float])]
    val q1 = StreamingPipeline.semanticDedupStream(
      stream.toDF().toDF("vec_id", "v"), codebook,
      indexDir, hitsDir, ckpt, tau = 0.95, cellBuckets = Some(3))
    def hits(): Set[(Long, Long)] = spark.read.parquet(hitsDir)
      .select($"vec_id", $"matched_id").as[(Long, Long)].collect().toSet
    def indexIds(): Set[Long] = spark.read.parquet(indexDir)
      .select($"vec_id").as[Long].collect().toSet
    def dirNames(): Set[String] = {
      val fs = new org.apache.hadoop.fs.Path(indexDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(indexDir))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(_.startsWith("_")).toSet
    }
    try {
      stream.addData((1L, vecOf(0, 0.9f)), (2L, vecOf(1, 0.9f)),
        (10L, vecOf(3, 0.7f))) // cells 0, 1, 3 -> buckets 0, 1, 0
      q1.processAllAvailable()
      assert(hits() === Set.empty)
      // directory count is the BUCKET count, not the cell count
      assert(dirNames() === Set("cell_bucket=0", "cell_bucket=1"),
        dirNames())
      stream.addData((3L, vecOf(0, 0.4f))) // twin of 1, via bucket dir 0
      q1.processAllAvailable()
      assert(hits() === Set((3L, 1L)), hits())
    } finally q1.stop()
    // retraction + layout-preserving maintenance; the returned census
    // (footer counts, post-tombstone) is the re-bucketing self-report
    StreamingPipeline.takedownVectors(spark, indexDir, hitsDir, Seq(1L))
    val census = graft.sources.Ddl.compactPartitions(spark, indexDir,
      targetBytes = 1L << 30)
    assert(census.toMap ===
      Map("cell_bucket=0" -> 2L, "cell_bucket=1" -> 1L), census)
    assert(indexIds() === Set(2L, 3L, 10L))
    assert(graft.sources.Ddl.tombstonesOf(spark, indexDir).isEmpty)
    assert(dirNames() === Set("cell_bucket=0", "cell_bucket=1"))
    // post-compact standing reads still serve matches through the
    // preserved bucket layout — and never the retracted member
    val q2 = StreamingPipeline.semanticDedupStream(
      stream.toDF().toDF("vec_id", "v"), codebook,
      indexDir, hitsDir, ckpt, tau = 0.95, cellBuckets = Some(3))
    try {
      stream.addData((4L, vecOf(0, 1.7f)))
      q2.processAllAvailable()
      assert(hits() === Set((4L, 3L)), hits())
    } finally q2.stop()
    // member-swap crash: a bucket dir parked at ._compact_old with a
    // stale ._compact_tmp left behind — recover must restore the one
    // and delete the other
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = indexIds()
    val member = new org.apache.hadoop.fs.Path(indexDir, "cell_bucket=0")
    val parked = new org.apache.hadoop.fs.Path(indexDir,
      "cell_bucket=0._compact_old")
    val staleTmp = new org.apache.hadoop.fs.Path(indexDir,
      "cell_bucket=1._compact_tmp")
    assert(fs.rename(member, parked))
    fs.mkdirs(staleTmp)
    graft.sources.Ddl.recover(spark, indexDir)
    assert(fs.exists(member) && !fs.exists(parked) && !fs.exists(staleTmp))
    assert(indexIds() === before)
    // FROZEN-B contract: the first sharded batch pinned B=3 in the
    // _cell_buckets marker (it survived compactPartitions — underscore
    // dirs are maintenance-invisible); a restart under any other B
    // would map touched cells to the WRONG bucket dirs and silently
    // miss duplicates, so it must fail fast instead
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(indexDir, "_cell_buckets")))
    def msgOf(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val qBad = StreamingPipeline.semanticDedupStream(
      stream.toDF().toDF("vec_id", "v"), codebook,
      indexDir, hitsDir, tmp(), tau = 0.95, cellBuckets = Some(5))
    try {
      stream.addData((7L, vecOf(1, 1.2f)))
      val ex = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { qBad.processAllAvailable() }
      assert(msgOf(ex).contains("pinned to cellBuckets=3"), msgOf(ex))
    } finally qBad.stop()
    val qNone = StreamingPipeline.semanticDedupStream(
      stream.toDF().toDF("vec_id", "v"), codebook,
      indexDir, hitsDir, tmp(), tau = 0.95)
    try {
      stream.addData((8L, vecOf(2, 1.2f)))
      val ex = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { qNone.processAllAvailable() }
      assert(msgOf(ex).contains("without cellBuckets"), msgOf(ex))
    } finally qNone.stop()
    // an index dir written by the removed per-cell layout (one
    // centroid_id= dir per cell) fails fast
    val oldIndex = tmp()
    Seq((6L, 0L, vecOf(0, 1f), 1.0)).toDF("vec_id", "centroid_id", "v", "nrm")
      .write.parquet(s"$oldIndex/centroid_id=0")
    val oldStream = MemoryStream[(Long, Array[Float])]
    val qOld = StreamingPipeline.semanticDedupStream(
      oldStream.toDF().toDF("vec_id", "v"), codebook,
      oldIndex, tmp(), tmp(), tau = 0.95, cellBuckets = Some(3))
    try {
      oldStream.addData((11L, vecOf(0, 1.2f)))
      val ex = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { qOld.processAllAvailable() }
      assert(msgOf(ex).contains("removed per-cell layout"), msgOf(ex))
    } finally qOld.stop()
    // neither failed start corrupted anything: the original B still
    // serves (resuming the ORIGINAL checkpoint — only new rows replay)
    val qOk = StreamingPipeline.semanticDedupStream(
      stream.toDF().toDF("vec_id", "v"), codebook,
      indexDir, hitsDir, ckpt, tau = 0.95, cellBuckets = Some(3))
    try {
      stream.addData((9L, vecOf(3, 0.5f))) // twin of standing 10
      qOk.processAllAvailable()
      assert(hits().contains((9L, 10L)), hits())
    } finally qOk.stop()
  }

  test("takedown through the band index: retracted docs stop matching " +
    "and their purged hits never re-emit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    def start() = StreamingPipeline.indexedDedupStream(
      stream.toDF().toDF("doc_id", "text"), indexDir, hitsDir, ckpt)
    val docA = (1 to 40).map(i => s"token$i").mkString(" ")
    val twinA = (1 to 40).map(i => if (i == 20) "EDITED" else s"token$i")
      .mkString(" ")
    def hits(): Set[(Long, Long)] =
      spark.read.parquet(hitsDir).as[(Long, Long)].collect().toSet
    val q1 = start()
    try {
      stream.addData((1L, docA))
      q1.processAllAvailable()
      stream.addData((3L, twinA))
      q1.processAllAvailable()
      assert(hits() === Set((1L, 3L)), hits())
    } finally q1.stop()
    StreamingPipeline.takedownDocs(spark, indexDir, hitsDir, Seq(1L))
    assert(hits() === Set.empty, hits())
    val q2 = start()
    try {
      stream.addData((4L, docA)) // identical to the RETRACTED doc
      q2.processAllAvailable()
      // matches only the remaining twin 3, never the tombstoned 1
      assert(hits() === Set((3L, 4L)), hits())
    } finally q2.stop()
    graft.sources.Ddl.compact(spark, indexDir, targetBytes = 1L << 30)
    assert(spark.read.parquet(indexDir)
      .where($"doc_id" === 1L).count() === 0L)
    assert(graft.sources.Ddl.tombstonesOf(spark, indexDir).isEmpty)
  }

  /** Text of a 41-token band-index test doc; `edit` replaces one token,
    * which keeps the doc a near-dup twin of the unedited one. */
  private def bandDoc(from: Int, word: String, edit: Int = -1): String =
    (from to from + 40).map(i => if (i == edit) "EDITED" else s"$word$i")
      .mkString(" ")

  private def parquetFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".parquet")).toSet

  /** Jobs started while `body` runs, by the streaming micro-batch id
    * Spark tags them with. */
  private def jobsByBatch(body: => Unit): Map[Long, Int] =
    jobsDuring(body)._2.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .groupBy(_.toLong).map { case (b, js) => b -> js.size }

  test("maintained band index: a steady-state micro-batch runs at most six Spark jobs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    val q = StreamingPipeline.indexedDedupStream(
      stream.toDF().toDF("doc_id", "text"), indexDir, hitsDir, ckpt)
    def hits(): Set[(Long, Long)] =
      spark.read.parquet(hitsDir).as[(Long, Long)].collect().toSet
    try {
      // steady state: both tables exist and hold rows before the
      // measured batch
      stream.addData((1L, bandDoc(1, "token")), (2L, bandDoc(100, "word")))
      q.processAllAvailable()
      stream.addData((3L, bandDoc(1, "token", edit = 20)))
      q.processAllAvailable()
      assert(hits() === Set((1L, 3L)), hits())
      val jobs = jobsByBatch {
        stream.addData((4L, bandDoc(100, "word", edit = 120)),
          (5L, bandDoc(200, "term")))
        q.processAllAvailable()
      }
      val batch = q.lastProgress.batchId
      assert(q.lastProgress.numInputRows === 2L)
      val n = jobs.getOrElse(batch, 0)
      assert(n >= 1 && n <= 6, s"micro-batch $batch ran $n jobs: $jobs")
      assert(hits() === Set((1L, 3L), (2L, 4L)), hits())
    } finally q.stop()
  }

  test("maintained band index: a micro-batch of several source blocks " +
    "appends one index file and finds the single-block hit set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (3L, bandDoc(1, "token", edit = 20)), (4L, bandDoc(200, "term")),
      (5L, bandDoc(100, "word", edit = 120)), (6L, bandDoc(200, "term", edit = 220)),
      (7L, bandDoc(300, "item")), (8L, bandDoc(1, "token", edit = 30)))
    /** Seeds the index with docs 1 and 2, then ingests `blocks` as ONE
      * micro-batch: they are queued while the query is stopped, so the
      * restart reads them together. Returns the index files that batch
      * appended and the final hit set. */
    def run(blocks: Seq[Seq[(Long, String)]]): (Int, Set[(Long, Long)]) = {
      val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
      val stream = MemoryStream[(Long, String)]
      def start() = StreamingPipeline.indexedDedupStream(
        stream.toDF().toDF("doc_id", "text"), indexDir, hitsDir, ckpt)
      val q1 = start()
      try {
        stream.addData((1L, bandDoc(1, "token")), (2L, bandDoc(100, "word")))
        q1.processAllAvailable()
      } finally q1.stop()
      val before = parquetFiles(indexDir)
      blocks.foreach(b => stream.addData(b: _*))
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(q2.recentProgress.count(_.numInputRows > 0) === 1)
      } finally q2.stop()
      val added = parquetFiles(indexDir) -- before
      (added.size, spark.read.parquet(hitsDir).as[(Long, Long)].collect().toSet)
    }
    val (oneFiles, oneHits) = run(Seq(docs))
    val (manyFiles, manyHits) = run(docs.grouped(2).toSeq)
    assert(Set((1L, 3L), (1L, 8L), (2L, 5L), (4L, 6L)).subsetOf(oneHits),
      oneHits)
    assert(manyHits === oneHits)
    assert(oneFiles === 1)
    assert(manyFiles === 1, s"3 source blocks appended $manyFiles index files")
  }

  test("maintained band index: a trigger whose docs are all tombstoned " +
    "writes nothing, and the next trigger still finds its twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    def start() = StreamingPipeline.indexedDedupStream(
      stream.toDF().toDF("doc_id", "text"), indexDir, hitsDir, ckpt)
    def hits(): Set[(Long, Long)] =
      spark.read.parquet(hitsDir).as[(Long, Long)].collect().toSet
    val q1 = start()
    try {
      stream.addData((1L, bandDoc(1, "token")), (2L, bandDoc(100, "word")))
      q1.processAllAvailable()
    } finally q1.stop()
    // retract two docs before they arrive: their whole trigger is dead
    StreamingPipeline.takedownDocs(spark, indexDir, hitsDir, Seq(3L, 4L))
    val index0 = parquetFiles(indexDir); val hits0 = parquetFiles(hitsDir)
    val rows0 = spark.read.parquet(indexDir).count()
    val q2 = start()
    try {
      stream.addData((3L, bandDoc(1, "token", edit = 20)),
        (4L, bandDoc(100, "word", edit = 120)))
      q2.processAllAvailable()
      assert(q2.exception.isEmpty)
      assert(q2.lastProgress.numInputRows === 2L)
      assert(parquetFiles(indexDir) === index0)
      assert(parquetFiles(hitsDir) === hits0)
      assert(spark.read.parquet(indexDir).count() === rows0)
      assert(hits() === Set.empty, hits())
      stream.addData((5L, bandDoc(1, "token", edit = 30)))
      q2.processAllAvailable()
      assert(hits() === Set((1L, 5L)), hits())
    } finally q2.stop()
  }

  test("maintained IVF cell index: a trigger whose vectors are all " +
    "tombstoned writes nothing, and the next trigger still finds its twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val codebook = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (5L, Array(0f, 1f, 0f, 0f)))
    val stream = MemoryStream[(Long, Array[Float])]
    def start() = StreamingPipeline.semanticDedupStream(
      stream.toDF().toDF("vec_id", "v"), codebook,
      indexDir, hitsDir, ckpt, tau = 0.95)
    def hits(): Set[(Long, Long)] = spark.read.parquet(hitsDir)
      .select($"vec_id", $"matched_id").as[(Long, Long)].collect().toSet
    val q1 = start()
    try {
      stream.addData((1L, Array(0.9f, 0.1f, 0f, 0f)),
        (2L, Array(0.1f, 0.9f, 0f, 0f)))
      q1.processAllAvailable()
    } finally q1.stop()
    // retract two vectors before they arrive: their whole trigger is dead
    StreamingPipeline.takedownVectors(spark, indexDir, hitsDir, Seq(3L, 4L))
    val index0 = parquetFiles(indexDir); val hits0 = parquetFiles(hitsDir)
    val rows0 = spark.read.parquet(indexDir).count()
    val q2 = start()
    try {
      stream.addData((3L, Array(0.45f, 0.05f, 0f, 0f)),
        (4L, Array(0.2f, 1.8f, 0f, 0f)))
      q2.processAllAvailable()
      assert(q2.exception.isEmpty)
      assert(q2.lastProgress.numInputRows === 2L)
      assert(parquetFiles(indexDir) === index0)
      assert(parquetFiles(hitsDir) === hits0)
      assert(spark.read.parquet(indexDir).count() === rows0)
      stream.addData((5L, Array(1.8f, 0.2f, 0f, 0f))) // twin of 1
      q2.processAllAvailable()
      assert(hits() === Set((5L, 1L)), hits())
    } finally q2.stop()
  }

  test("maintained IVF cell index: a steady-state micro-batch runs at most " +
    "nine Spark jobs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val codebook = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (5L, Array(0f, 1f, 0f, 0f)))
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingPipeline.semanticDedupStream(
      stream.toDF().toDF("vec_id", "v"), codebook,
      indexDir, hitsDir, ckpt, tau = 0.95)
    def hits(): Set[(Long, Long)] = spark.read.parquet(hitsDir)
      .select($"vec_id", $"matched_id").as[(Long, Long)].collect().toSet
    try {
      // steady state: both tables exist and hold rows before the
      // measured batch
      stream.addData((1L, Array(0.9f, 0.1f, 0f, 0f)),
        (2L, Array(0.1f, 0.9f, 0f, 0f)))
      q.processAllAvailable()
      stream.addData((3L, Array(0.45f, 0.05f, 0f, 0f)))
      q.processAllAvailable()
      assert(hits() === Set((3L, 1L)), hits())
      val jobs = jobsByBatch {
        stream.addData((4L, Array(0.2f, 1.8f, 0f, 0f)),
          (5L, Array(0f, 0f, 1f, 0f)))
        q.processAllAvailable()
      }
      val batch = q.lastProgress.batchId
      assert(q.lastProgress.numInputRows === 2L)
      val n = jobs.getOrElse(batch, 0)
      // 13 before the sink shared the pinned reads and the one-pass range
      assert(n >= 1 && n <= 9, s"micro-batch $batch ran $n jobs: $jobs")
      assert(hits() === Set((3L, 1L), (4L, 2L)), hits())
    } finally q.stop()
  }

  test("maintained IVF cell index, TWO-LEVEL quantizer: same hit " +
    "semantics, crash replay exact, restart rebuilds the structure") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    // 6 cells in two direction groups (e1-ish, e2-ish): the refined
    // supers split the groups, so nprobe=1 probes scan 3 children, not
    // 6 — the deployment shape at toy scale. Twins are colinear with
    // their predecessor (identical cosine to EVERY centroid), so flat
    // and two-level assignment agree on them by construction.
    val codebook = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.95f, 0.05f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)), (5L, Array(0f, 1f, 0f, 0f)),
      (6L, Array(0.05f, 0.95f, 0f, 0f)), (7L, Array(0.1f, 0.9f, 0f, 0f)))
    val stream = MemoryStream[(Long, Array[Float])]
    def start(cp: String = ckpt,
        st: MemoryStream[(Long, Array[Float])] = stream) =
      StreamingPipeline.semanticDedupStream(
        st.toDF().toDF("vec_id", "v"), codebook,
        indexDir, hitsDir, cp, tau = 0.95,
        cellBuckets = Some(2),
        twoLevelSupers = Some(2), twoLevelNprobe = 1)
    val a1 = (1L, Array(0.93f, 0.07f, 0f, 0f)) // e1 group
    val b2 = (2L, Array(0.07f, 0.93f, 0f, 0f)) // e2 group
    val twinA3 = (3L, Array(0.465f, 0.035f, 0f, 0f)) // = a1 × 0.5
    val twinB4 = (4L, Array(0.14f, 1.86f, 0f, 0f)) // = b2 × 2
    def hits(): Set[(Long, Long)] = spark.read.parquet(hitsDir)
      .select($"vec_id", $"matched_id").as[(Long, Long)].collect().toSet
    val q1 = start()
    try {
      stream.addData(a1, b2)
      q1.processAllAvailable()
      assert(hits() === Set.empty, hits())
      // crash between hits append and index append, mid-batch
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      StreamingPipeline.Faults.semanticDedupAfterHits = _ =>
        if (armed.getAndSet(false))
          throw new RuntimeException("injected crash")
      stream.addData(twinA3)
      intercept[Exception] { q1.processAllAvailable() }
      assert(q1.exception.isDefined)
    } finally { q1.stop(); StreamingPipeline.Faults.reset() }
    assert(hits() === Set((3L, 1L)), hits())
    // restart = NEW process: the two-level structure is rebuilt from
    // the frozen codebook (deterministic), the replay re-derives the
    // same hit, and the anti-join appends nothing
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(hits() === Set((3L, 1L)), hits())
      assert(spark.read.parquet(hitsDir).count() === 1L)
      stream.addData(twinB4) // other super's group: matches b2 only
      q2.processAllAvailable()
      assert(hits() === Set((3L, 1L), (4L, 2L)), hits())
    } finally q2.stop()
    // the index layout is the standard sharded one — cells are
    // child ids, unchanged by the two-level routing
    val idxFs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellDirs = idxFs
      .listStatus(new org.apache.hadoop.fs.Path(indexDir))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(cellDirs.exists(_.startsWith("cell_bucket=")), cellDirs)
  }

  test("TRAINED codebook end to end: trainedCodebook2 feeds the " +
    "two-level streaming semantic dedup sink; twins flagged exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the full deployment path in one pin: train the coarse codebook
    // from the corpus (hash sample + two-level Lloyd rounds), hand it
    // to the streaming sink with hierarchical assignment, and verify
    // colinear twins are flagged (colinear ⇒ identical assignment
    // under ANY deterministic quantizer, trained or not)
    val vecs = graft.ops.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".as("v"))
    val codebook = graft.operators.Similarity
      .trainedCodebook2(vecs, k = 6, iters = 2, trainPerCell = 16)
    val indexDir = tmp(); val hitsDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingPipeline.semanticDedupStream(
      stream.toDF().toDF("vec_id", "v"), codebook,
      indexDir, hitsDir, ckpt, tau = 0.95,
      cellBuckets = Some(2),
      twoLevelSupers = Some(2), twoLevelNprobe = 1)
    try {
      // standing: two fixture vectors; twins: the same vectors scaled
      val rows = vecs.where($"vec_id".isin(3L, 4L))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      assert(rows.length == 2)
      stream.addData((1001L, rows(0)._2), (1002L, rows(1)._2))
      q.processAllAvailable()
      stream.addData((2001L, rows(0)._2.map(_ * 0.5f)),
        (2002L, rows(1)._2.map(_ * 2.0f)))
      q.processAllAvailable()
      val hits = spark.read.parquet(hitsDir)
        .select($"vec_id", $"matched_id").as[(Long, Long)].collect().toSet
      assert(hits === Set((2001L, 1001L), (2002L, 1002L)), hits)
    } finally q.stop()
  }

  test("late-census parity: streamed fixture replay equals the oracle-gated batch census") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val delay = 3600L
    // the batch form is the DuckDB-gated authority (q_late_census)
    val want = graft.operators.Sessionize
      .lateArrivalCensus(spark, sfDir, delay)
      .select($"event_type", $"n_events", $"n_late", $"worst_s")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // replay arrivals so each micro-batch holds at most ONE row per
    // source: the streaming threshold (max event time over PREVIOUS
    // batches − delay) then coincides exactly with the batch form's
    // strictly-earlier-arrivals running max — the two disciplines are
    // the same function, evaluated per-row there and per-batch here
    val bySrc = graft.ops.Tables.events(spark, sfDir)
      .select($"event_type", $"event_id", $"ts")
      .as[(String, Long, java.sql.Timestamp)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(e => (e._3, e._1)).toIndexedSeq).toMap
    val maxLen = bySrc.values.map(_.size).max
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val census = StreamingPipeline.lateDataCensus(
      stream.toDF().toDF("ts", "source"), "ts", "source", delay)
    // hundreds of 5-row micro-batches: 1 shuffle partition keeps the
    // per-trigger overhead to one task (restored below)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val q = census.toDF("source", "n_rows", "n_late", "total_late", "worst_s")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_parity").start()
    try {
      var r = 0
      while (r < maxLen) {
        val batch = bySrc.values.flatMap(s =>
          if (r < s.size) Some(s(r)) else None).toSeq
        stream.addData(batch: _*)
        q.processAllAvailable()
        r += 1
      }
      val got = spark.table("late_parity")
        .as[(String, Long, Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues { es =>
          (es.map(_._2).sum, es.map(_._4).max, es.map(_._5).max)
        }.toMap
      assert(got.keySet === want.keySet)
      want.foreach { case (src, (nEvents, nLate, worst)) =>
        val (gN, gLate, gWorst) = got(src)
        assert(gN === nEvents, s"$src n_events")
        assert(gLate === nLate, s"$src n_late")
        assert(gWorst === worst, s"$src worst_s")
      }
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("streaming sessionization: session_window groups by gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val df = stream.toDF().toDF("ts", "user")
    val agg = StreamingPipeline.sessionCounts(df, "ts", "user", "30 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sess_counts").start()
    try {
      stream.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "u1"),
        (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "u1"),
        // > 30 min silence -> new session
        (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), "u1"))
      q.processAllAvailable()
      val sessions = spark.table("sess_counts")
        .select($"n").as[Long].collect().sorted.toSeq
      assert(sessions === Seq(1L, 2L))
    } finally q.stop()
  }

  test("standing stats maintenance: mergeable ingest partials, " +
    "idempotent takedown subtraction, crash-recoverable fold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val statsDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String, String)]
    def start() = StreamingPipeline.statsMaintenanceSink(
      stream.toDF().toDF("doc_id", "source", "text"), statsDir, ckpt)
    def read(): Set[(String, String, Long, Long)] =
      StreamingPipeline.readStats(spark, statsDir)
        .as[(String, String, Long, Long)].collect().toSet
    assert(read() === Set.empty) // empty-safe before any ingest
    val q = start()
    try {
      stream.addData((1L, "a", "x y x"), (2L, "a", "y z"))
      q.processAllAvailable()
      stream.addData((3L, "a", "x"), (4L, "b", "z"))
      q.processAllAvailable()
      stream.addData((5L, "a", "q"))
      q.processAllAvailable()
    } finally q.stop()
    val full = Set(("a", "x", 3L, 2L), ("a", "y", 2L, 2L),
      ("a", "z", 1L, 1L), ("b", "z", 1L, 1L), ("a", "q", 1L, 1L))
    assert(read() === full)
    // parity with the batch operator over the same corpus
    val docs = Seq((1L, "a", "x y x"), (2L, "a", "y z"), (3L, "a", "x"),
      (4L, "b", "z"), (5L, "a", "q")).toDF("doc_id", "source", "text")
    assert(graft.operators.Corpus.sourceTokenStats(docs)
      .as[(String, String, Long, Long)].collect().toSet === full)
    // takedown doc 2 — twice with the SAME id: the retry rewrites its
    // negative-partial dir instead of subtracting again
    val rm = Seq((2L, "a", "y z")).toDF("doc_id", "source", "text")
    StreamingPipeline.retractStats(spark, statsDir, rm, takedownId = 0L)
    StreamingPipeline.retractStats(spark, statsDir, rm, takedownId = 0L)
    val afterT = Set(("a", "x", 3L, 2L), ("a", "y", 1L, 1L),
      ("b", "z", 1L, 1L), ("a", "q", 1L, 1L)) // (a, z) fully retracted
    assert(read() === afterT)
    // crash-injected compaction: die after the FIRST folded-dir delete
    // (stage + manifest on disk, partials partially deleted)
    @volatile var killed = false
    StreamingPipeline.Faults.statsCompactMidDelete = _ =>
      if (!killed) { killed = true; throw new RuntimeException("boom") }
    intercept[RuntimeException] {
      StreamingPipeline.compactStats(spark, statsDir)
    }
    StreamingPipeline.Faults.reset()
    assert(read() === afterT) // reader heals the crashed fold
    // clean compaction: everything but the newest ingest dir folds,
    // fully-cancelled rows drop inside the fold
    StreamingPipeline.compactStats(spark, statsDir)
    assert(read() === afterT)
    val fs = new org.apache.hadoop.fs.Path(statsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(): Set[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(statsDir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    // the fold lands on the smallest folded INGEST id (0) — never the
    // retraction id -1, whose dir a retried retractStats is allowed to
    // overwrite (a fold there would be destroyed wholesale)
    assert(dirs() === Set("batch_id=0", "batch_id=2"), dirs())
    // the stream resumes past the fold: new batches land in fresh dirs
    val q2 = start()
    try {
      stream.addData((6L, "b", "q"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(read() === afterT + (("b", "q", 1L, 1L)))
  }

  test("retrieval maintenance: maintained tables serve bm25TopK " +
    "exactly; takedown = tombstones + negated partials; " +
    "crash-recoverable per-dir fold applies tombstones physically") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val retrDir = tmp(); val ckpt = tmp()
    val stream = MemoryStream[(Long, String)]
    def serve(): Seq[(Long, Long, Long, Long, Long)] = {
      val (tf, dl, dfq, tot) =
        StreamingPipeline.readRetrieval(spark, retrDir)
      graft.operators.Corpus.serveBm25TopK(tf, dl, dfq, tot)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    }
    assert(serve() === Seq.empty) // empty-safe before any ingest
    val q = StreamingPipeline.retrievalMaintenanceSink(
      stream.toDF().toDF("doc_id", "text"), retrDir, ckpt)
    try {
      stream.addData((1L, "x y x"), (2L, "y z"), (11L, "x z q"))
      q.processAllAvailable()
      stream.addData((3L, "x q"), (12L, "z z y"))
      q.processAllAvailable()
      stream.addData((4L, "y q w"))
      q.processAllAvailable()
    } finally q.stop()
    // parity with the batch operator's serve over the same corpus —
    // the EXACT query the oracle gate hashes, per serveBm25TopK
    val docsAll = Seq((1L, "x y x"), (2L, "y z"), (11L, "x z q"),
      (3L, "x q"), (12L, "z z y"), (4L, "y q w"))
    def batchServe(docs: Seq[(Long, String)])
        : Seq[(Long, Long, Long, Long, Long)] = {
      val (tf, dl, dfq, tot) = graft.operators.Corpus.bm25Partials(
        docs.toDF("doc_id", "text"))
      graft.operators.Corpus.serveBm25TopK(tf, dl, dfq, tot)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    }
    val full = batchServe(docsAll)
    assert(full.nonEmpty)
    assert(serve() === full)
    // takedown docs 2 and 12 — twice with the SAME id: tombstone
    // appends are removal facts, the negative partials overwrite
    val rm = Seq((2L, "y z"), (12L, "z z y")).toDF("doc_id", "text")
    StreamingPipeline.retractRetrieval(spark, retrDir, rm, 0L)
    StreamingPipeline.retractRetrieval(spark, retrDir, rm, 0L)
    val afterT =
      batchServe(docsAll.filterNot(d => d._1 == 2L || d._1 == 12L))
    assert(afterT !== full)
    assert(serve() === afterT)
    // crash-injected compaction: die mid-fold on the FIRST dir (tf) —
    // the next reader heals it, the other dirs' partials are untouched
    @volatile var killed = false
    StreamingPipeline.Faults.statsCompactMidDelete = _ =>
      if (!killed) { killed = true; throw new RuntimeException("boom") }
    intercept[RuntimeException] {
      StreamingPipeline.compactRetrieval(spark, retrDir)
    }
    StreamingPipeline.Faults.reset()
    assert(serve() === afterT)
    StreamingPipeline.compactRetrieval(spark, retrDir)
    assert(serve() === afterT)
    val fs = new org.apache.hadoop.fs.Path(retrDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(sub: String): Set[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$retrDir/$sub")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    // every table folded to {target, newest}; retraction dir folded
    // away on df/tot, tombstones applied physically on tf/dl
    Seq("tf", "dl", "df", "tot").foreach { sub =>
      assert(dirs(sub) === Set("batch_id=0", "batch_id=2"), sub)
    }
    val foldedTf = spark.read
      .parquet(s"$retrDir/tf/batch_id=0")
      .select($"doc_id").as[Long].collect().toSet
    assert(!foldedTf.contains(2L) && !foldedTf.contains(12L))
    // the tombstone set PERSISTS (the newest dir was not folded) and
    // stays idempotent for readers
    assert(graft.sources.Ddl
      .tombstonesOf(spark, s"$retrDir/tf").nonEmpty)
  }

  test("compactStats: fold target is an ingest id (a retried takedown " +
    "overwrites only its own dir); retraction-only settled sets wait") {
    import spark.implicits._
    def dirsOf(statsDir: String): Set[String] = {
      val fs = new org.apache.hadoop.fs.Path(statsDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(statsDir)).toSeq
        .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    }
    def write(statsDir: String, id: Long,
        rows: Seq[(String, String, Long, Long)]): Unit =
      rows.toDF("source", "token", "tf", "df").coalesce(1)
        .write.mode("overwrite").parquet(s"$statsDir/batch_id=$id")
    def read(statsDir: String): Set[(String, String, Long, Long)] =
      StreamingPipeline.readStats(spark, statsDir)
        .as[(String, String, Long, Long)].collect().toSet
    val d1 = tmp()
    write(d1, 0L, Seq(("a", "x", 5L, 3L), ("a", "y", 2L, 2L)))
    write(d1, 1L, Seq(("a", "x", 1L, 1L))) // newest — never folded
    val rm = Seq((9L, "a", "y")).toDF("doc_id", "source", "text")
    StreamingPipeline.retractStats(spark, d1, rm, takedownId = 0L)
    assert(dirsOf(d1) === Set("batch_id=-1", "batch_id=0", "batch_id=1"))
    StreamingPipeline.compactStats(spark, d1)
    // fold = {-1, 0} → target 0 (the ingest id), never -1
    assert(dirsOf(d1) === Set("batch_id=0", "batch_id=1"), dirsOf(d1))
    // folded dir 0 holds x(5,3) + y(2,2) − y(1,1); dir 1 adds x(1,1)
    assert(read(d1) === Set(("a", "x", 6L, 4L), ("a", "y", 1L, 1L)))
    // an OUT-OF-CONTRACT post-fold retry recreates its own negative
    // partial — double-subtracting (the documented settled-contract
    // violation) but leaving the folded ingest aggregate INTACT, where
    // the old fold-at-minimum landed the aggregate at batch_id=-1 and
    // this same retry would have overwritten it wholesale
    StreamingPipeline.retractStats(spark, d1, rm, takedownId = 0L)
    assert(dirsOf(d1) ===
      Set("batch_id=-1", "batch_id=0", "batch_id=1"))
    assert(read(d1) === Set(("a", "x", 6L, 4L))) // y over-cancelled only
    // retraction-only settled set: nothing folds (no ingest id to land
    // on) — partials wait for the next settled ingest batch
    val d2 = tmp()
    write(d2, 5L, Seq(("a", "x", 3L, 2L))) // newest — kept out
    StreamingPipeline.retractStats(spark, d2,
      Seq((1L, "a", "x")).toDF("doc_id", "source", "text"), 1L)
    StreamingPipeline.retractStats(spark, d2,
      Seq((2L, "a", "x")).toDF("doc_id", "source", "text"), 2L)
    val before = dirsOf(d2)
    assert(before === Set("batch_id=-2", "batch_id=-3", "batch_id=5"))
    StreamingPipeline.compactStats(spark, d2)
    assert(dirsOf(d2) === before)
    assert(read(d2) === Set.empty) // tf 3−2=1 but df 2−2=0 → row drops
  }

  test("recoverStats: an aborted manifest write (tmp present, manifest " +
    "absent) discards the stage; partials intact") {
    import spark.implicits._
    val statsDir = tmp()
    Seq(("a", "x", 2L, 1L)).toDF("source", "token", "tf", "df")
      .coalesce(1).write.parquet(s"$statsDir/batch_id=0")
    Seq(("a", "x", 1L, 1L)).toDF("source", "token", "tf", "df")
      .coalesce(1).write.parquet(s"$statsDir/batch_id=1")
    // a crash between the stage data write and the manifest COMMIT
    // (rename): stage holds folded-looking data plus a truncated
    // _manifest.tmp — pre-fix this was a live `_manifest` that a crash
    // could leave zero-length, wedging every later readStats on a
    // MatchError; now the tmp never parses, it just marks an abort
    val stage = new org.apache.hadoop.fs.Path(statsDir,
      "_stats_compact_tmp")
    Seq(("a", "x", 99L, 99L)).toDF("source", "token", "tf", "df")
      .coalesce(1).write.parquet(stage.toString)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(stage, "_manifest.tmp"), true)
    out.write("0".getBytes("UTF-8")) // truncated: no newline, no target
    out.close()
    val got = StreamingPipeline.readStats(spark, statsDir)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got === Set(("a", "x", 3L, 2L)), got) // partials, no ghost 99s
    assert(!fs.exists(stage)) // aborted stage swept
  }
}
