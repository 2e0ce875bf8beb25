package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming execution of the reference's consumer topology (SURVEY
  * §2.1/2.3/2.8/2.9) on Structured Streaming.
  *
  * Semantic mapping, stage by stage:
  *  - Kafka source / per-partition split queues (D1, S1) → `readStream`
  *    (tests use `MemoryStream[Record]`, mirroring the reference's own
  *    broadcast-channel mock — `src/lib.rs:1829-1833`);
  *  - flush interval (`ReduceConfig.flush_interval`, 2 s in the demo,
  *    `src/main.rs:116`) → `Trigger.ProcessingTime`;
  *  - drain-on-end-of-input (`ShutdownCondition::Drain`,
  *    `src/lib.rs:685-689`) → `Trigger.AvailableNow`;
  *  - batching sink + ack (S2/S3, `src/clickhouse.rs:65-184`) →
  *    `foreachBatch`: the batch write IS the ack — if it throws, the batch
  *    is retried, offsets are not committed;
  *  - DLQ split (E1) → dual-write inside the same `foreachBatch`, so the
  *    error branch sees the ORIGINAL records of the same micro-batch
  *    (exactly the reference's "err sees original messages");
  *  - offset store + periodic commit (D6, C1, `src/lib.rs:980-994`) →
  *    the checkpoint directory: offsets are recorded per micro-batch
  *    after the sink callback returns — same at-least-once contract.
  *
  * Deliberate difference (SURVEY §7.3): the reference errs per-MESSAGE
  * mid-batch; `foreachBatch` errs per-BATCH. Capability parity is kept by
  * doing the per-record Try-split BEFORE the sink (the `valid` predicate),
  * so a poison record lands on the DLQ without failing its batch.
  *
  * Policy-knob mapping (reference `src/lib.rs:556-560,691-701`,
  * `src/clickhouse.rs:60-63,130-134`):
  *  - size-bound flush (`is_full`, the 128-row batch cap) → source
  *    ADMISSION CONTROL caps the micro-batch: `maxOffsetsPerTrigger` on
  *    the Kafka source ([[graft.sources.KafkaRecords.Config]]),
  *    `maxFilesPerTrigger` on file sources — each trigger flushes at most
  *    the cap, pinned by StreamingSpec's size-bound test;
  *  - `ReducerWhenFullBehaviour::Flush` vs `::Backpressure` → both
  *    collapse into the same mechanism: a full batch flushes (writes) at
  *    the trigger, and the PULL-based source reads no further input until
  *    the write returns — backpressure is structural in micro-batching,
  *    not a policy choice that can drop or overrun;
  *  - `MapShutdownBehaviour::Drop` / `ReduceShutdownBehaviour::Drop` →
  *    `query.stop()` with input still pending: in-flight work is
  *    abandoned and pending records are NOT processed — but their offsets
  *    were never committed, so a restart from the same checkpoint
  *    redelivers them (drop-without-loss, the at-least-once form of the
  *    reference's drop-on-shutdown);
  *  - `::Drain` → `Trigger.AvailableNow` / `processAllAvailable()`:
  *    pending input is flushed before the query stops.
  */
object StreamingPipeline {

  /** Test-only crash injection for the exactly-once sinks — the Spark
    * analogue of the reference's failure-injecting mock writer
    * (`test_fail_on_flush`, `src/lib.rs:1498-1665`): each hook runs at
    * the sink's ugliest mid-write point (after the first write of a
    * pair, before the second), so a spec can kill the query exactly
    * there and assert the restart replays to the exact same state.
    * No-ops in production; only specs assign them. */
  private[graft] object Faults {
    @volatile var sizeFlushAfterChunks: Long => Unit = _ => ()
    @volatile var sizeFlushAfterCarry: Long => Unit = _ => ()
    @volatile var indexedDedupAfterHits: Long => Unit = _ => ()
    @volatile var semanticDedupAfterHits: Long => Unit = _ => ()
    @volatile var dualWriteAfterOk: Long => Unit = _ => ()
    @volatile var statsCompactMidDelete: Long => Unit = _ => ()
    def reset(): Unit = {
      sizeFlushAfterChunks = _ => ()
      sizeFlushAfterCarry = _ => ()
      indexedDedupAfterHits = _ => ()
      semanticDedupAfterHits = _ => ()
      dualWriteAfterOk = _ => ()
      statsCompactMidDelete = _ => ()
    }
  }

  /** A declarative parse/validate stage: `valid` decides ok-vs-DLQ,
    * `parsed` is the projected payload for the ok branch. Both are Column
    * expressions — codegen'd, no UDF in the hot path. */
  final case class ParseStage(valid: Column, parsed: Seq[Column])

  /** Source → parse → dual-write (ok parquet + DLQ parquet) → checkpoint
    * commit. Returns the running query; callers own its lifecycle
    * (`processAllAvailable`/`stop` — D10/D13's drain and stop).
    *
    * Writes are IDEMPOTENT per micro-batch: each batch lands in its own
    * `batch=<id>/` partition directory (partition discovery exposes a
    * `batch` lineage column on read) and a batch whose `_SUCCESS` marker
    * already exists is skipped. A batch that crashed mid-write (no marker) is
    * overwritten cleanly on replay — so the at-least-once replay of
    * foreachBatch becomes exactly-once CONTENT on disk (the
    * `test_fail_on_flush` concern, reference `src/lib.rs:1498-1665`,
    * resolved the storage-level way). */
  def dualWrite(
      records: DataFrame,
      stage: ParseStage,
      okDir: String,
      dlqDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    records.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // NULL valid (e.g. tombstone payloads) must mean INVALID, not
        // "dropped from both branches": both where() filters reject NULL
        val staged = batch
          .withColumn("_ok", coalesce(stage.valid, lit(false)))
          .persist()
        try {
          writeBatchOnce(staged.where(col("_ok")).select(stage.parsed: _*),
            s"$okDir/batch=$id")
          Faults.dualWriteAfterOk(id)
          writeBatchOnce(staged.where(!col("_ok")).drop("_ok"),
            s"$dlqDir/batch=$id")
        } finally staged.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Write `df` to `dir` unless a completed write (`_SUCCESS`) is already
    * there; a partial dir from a crashed attempt is overwritten. Uses the
    * Hadoop FileSystem resolved from the path so the check works on any
    * scheme (hdfs://, s3a://, ...), not just local disk. */
  private[streaming] def writeBatchOnce(df: DataFrame, dir: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    val fs = marker.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) df.write.mode("overwrite").parquet(dir)
  }

  /** Console/debug sink (S4 — the reference's `OsStreamWriter`,
    * `src/os_stream.rs:12-70`): latest rows to stdout per micro-batch,
    * rate-limited by the trigger interval (the analogue of its
    * `print_duration`). */
  def debugSink(
      df: DataFrame,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      maxRows: Int = 20): StreamingQuery =
    df.writeStream
      .format("console")
      .option("numRows", maxRows)
      .option("truncate", value = true)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** DLQ consumer (D5 — `reduce_err`, reference `src/lib.rs:842-932`):
    * drains a dead-letter directory written by [[dualWrite]] and reduces
    * it to per-partition failure counts, output discarded semantics =
    * a metrics-style sink. */
  def dlqSummary(spark: SparkSession, dlqDir: String): DataFrame =
    spark.read.parquet(dlqDir)
      .groupBy(col("topic"), col("partition"))
      .agg(count(lit(1)).as("n_failed"),
        min(col("offset")).as("first_offset"),
        max(col("offset")).as("last_offset"))

  /** Per-key custom state via `flatMapGroupsWithState` — the streaming
    * form of the reference's stateful commit tracking (`HighwaterMark`
    * folded one message at a time, `src/lib.rs:956-962`): each key keeps
    * a running (highwater, seen-count) across micro-batches and emits the
    * updated value whenever the key appears. The state store is
    * checkpoint-backed, so restarts resume the fold exactly where the
    * last commit left it. */
  def statefulHighwater(records: org.apache.spark.sql.Dataset[graft.pipeline.Record])
      : org.apache.spark.sql.Dataset[(String, Int, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import records.sparkSession.implicits._
    records
      .groupByKey(r => (r.topic, r.partition))
      .flatMapGroupsWithState[(Long, Long), (String, Int, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Long)]) =>
          val (hwm0, n0) = state.getOption.getOrElse((Long.MinValue, 0L))
          var hwm = hwm0
          var n = n0
          rows.foreach { r =>
            if (r.offset + 1 > hwm) hwm = r.offset + 1
            n += 1
          }
          state.update((hwm, n))
          Iterator((key._1, key._2, hwm, n))
      }
  }

  /** Streaming exact dedup: drop records whose key was already seen
    * within the watermark horizon — dedup state is bounded by event time,
    * and duplicates with drifted timestamps still collapse (the streaming
    * form of the batch dedup operators: at-least-once upstream delivery
    * becomes exactly-once content downstream). */
  def dedupStream(
      records: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    records
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream INTERVAL join (the enrichment shape the reference
    * cannot express at all — SURVEY §2.6): both sides are unbounded, so
    * Spark buffers each in the state store and the join emits as matches
    * arrive. Bounded state REQUIRES both ingredients the signature forces:
    * a watermark on each side (how late input may be) and a time-range
    * term in `condition` (how far apart matches may be) — together they
    * let the state store evict rows that can no longer match, so state is
    * O(watermark × rate), not O(stream). Caller contract: `condition`
    * carries the key equality AND the event-time range (e.g.
    * `p_ts BETWEEN c_ts AND c_ts + INTERVAL 15 MINUTES`), and the two
    * sides use distinct column names. */
  def streamIntervalJoin(
      left: DataFrame,
      leftTsCol: String,
      right: DataFrame,
      rightTsCol: String,
      condition: Column,
      watermark: String = "1 hour"): DataFrame =
    left.withWatermark(leftTsCol, watermark)
      .join(right.withWatermark(rightTsCol, watermark), condition)

  /** Streaming NEAR-duplicate detection — the fuzzy sibling of
    * [[dedupStream]], which only collapses exact keys. Each incoming
    * document is MinHash-signed (native expression, before any state),
    * exploded to its LSH band keys, and each band bucket keeps the FIRST
    * document's full signature in `flatMapGroupsWithState` state. A later
    * arrival whose estimated Jaccard against a stored signature (the
    * fraction of agreeing components — the standard unbiased MinHash
    * estimator, sigma ~ sqrt(J(1-J)/128) ~ 0.035 at J=0.8) reaches `tau`
    * emits a hit (doc_id, dup_of, est_jaccard) against the EARLIEST such
    * match; multiple band collisions of one doc dedupe downstream.
    *
    * Every document is indexed into its buckets (capped at
    * `maxPerBucket`, oldest kept — an index that stored only each
    * bucket's first claimant would miss chained near-dups: B below tau
    * of A never indexed where A sits, then C ~ B finds only A), so state
    * is at most `maxPerBucket` signatures per occupied bucket — but the
    * NUMBER of occupied buckets grows with the number of distinct band
    * keys, unbounded over the stream's lifetime — production deployments
    * MUST set `idleStateTimeout` (processing-time) so buckets no
    * document has touched recently expire. It defaults to None because
    * an armed processing-time timeout schedules no-data batches forever,
    * which makes `processAllAvailable()`-style bounded replays (and any
    * drain-to-quiesce harness) never observe an idle query. Expiry
    * trades recall the same way the per-bucket cap does: a near-dup of
    * a document whose buckets have expired is reported as novel. Exact
    * shingle verification would require storing shingle sets in state
    * (unbounded per-doc payload); the signature estimate is the
    * streaming-budget trade, and its banding prefilter is identical to
    * the batch [[graft.operators.NearDup.minhashNearDup]].
    *
    * State-schema note: the per-bucket state is a LIST of (id, sig);
    * checkpoints written by an earlier single-entry revision are not
    * schema-compatible — restarting on an old checkpoint requires a new
    * checkpoint dir (re-indexing the stream), as with any stateful
    * operator schema change. */
  def nearDupHits(
      docs: DataFrame, // columns: doc_id LONG, text STRING
      tau: Double = 0.8,
      maxPerBucket: Int = 32,
      idleStateTimeout: Option[String] = None)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    val perms = graft.operators.NearDup.permCount
    val sig = graft.functions.VectorExpressions
      .minhash_sig(graft.functions.VectorExpressions
        .text_shingles(col("text"), 3), perms)
    val banded = docs
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(graft.operators.NearDup.bandKeysOf(col("sig")))
          .as("bkey"))
      .as[(Long, Array[Long], Long)]
    val timeoutConf =
      if (idleStateTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded
      .groupByKey(_._3)
      .flatMapGroupsWithState[List[(Long, Array[Long])], (Long, Long, Double)](
        OutputMode.Append(), timeoutConf) {
        case (_, _, state: GroupState[List[(Long, Array[Long])]])
            if state.hasTimedOut =>
          state.remove() // idle bucket expired: free its signatures
          Iterator.empty
        case (_, rows, state: GroupState[List[(Long, Array[Long])]]) =>
          // deterministic intra-batch order: docs probe/index by id order
          val sorted = rows.toSeq.sortBy(_._1)
          val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Double)]
          var index = state.getOption.getOrElse(Nil) // oldest first
          sorted.foreach { case (id, s, _) =>
            val hit = index.iterator
              .filter(_._1 != id)
              .map { case (storedId, storedSig) =>
                var eq = 0
                var i = 0
                while (i < perms) {
                  if (s(i) == storedSig(i)) eq += 1
                  i += 1
                }
                (storedId, eq.toDouble / perms)
              }
              .find(_._2 >= tau)
            hit.foreach { case (dupOf, est) => out += ((id, dupOf, est)) }
            if (index.size < maxPerBucket && !index.exists(_._1 == id))
              index = index :+ ((id, s))
          }
          state.update(index)
          // re-arm the idle clock on every touch: timeout fires only after
          // the bucket sees no traffic for the full interval
          idleStateTimeout.foreach(state.setTimeoutDuration)
          out.iterator
      }
  }

  /** STREAM-STATIC ingest dedup — in-flight documents probe the
    * PERSISTED corpus band index ([[graft.operators.NearDup.bandIndex]]
    * written via [[graft.sources.Ddl.createBucketedTable]]): each
    * micro-batch's band keys equi-join the static index, so a streaming
    * ingest gets the same one-sided dedup the batch
    * `incrementalNearDup` runs — against the standing corpus, not just
    * against what this stream has seen (which is [[nearDupHits]]'
    * stream-internal state). The static side is planned per micro-batch
    * like any batch join: bucketed layout and pushdown apply, and the
    * stream side is the only thing that moves.
    *
    * Emits (doc_id, corpus_id) candidate hits, deduped across batches
    * with stateful dropDuplicates (constant-width keys; at deployment
    * scale bound the state with a watermark on an ingest-time column).
    * Exact-verify (shingle Jaccard) happens downstream on the flagged
    * minority, exactly as in the batch pipeline. */
  def staticIndexHits(
      docs: DataFrame, // streaming; columns: doc_id LONG, text STRING
      corpusIndex: DataFrame // static; columns: bkey LONG, doc_id LONG
  ): DataFrame = {
    val perms = graft.operators.NearDup.permCount
    val sig = graft.functions.VectorExpressions
      .minhash_sig(graft.functions.VectorExpressions
        .text_shingles(col("text"), 3), perms)
    docs
      .select(col("doc_id"), sig.as("s"))
      .select(col("doc_id"),
        explode(graft.operators.NearDup.bandKeysOf(col("s")))
          .as("bkey"))
      .join(corpusIndex.withColumnRenamed("doc_id", "corpus_id"), Seq("bkey"))
      .where(col("doc_id") =!= col("corpus_id"))
      .select(col("doc_id"), col("corpus_id"))
      .dropDuplicates("doc_id", "corpus_id")
  }

  /** EXACT SIZE-TRIGGERED FLUSH — the reference's
    * `ReducerWhenFullBehaviour::Flush` ("emit the moment 128 rows
    * buffer", `src/lib.rs:697-701,794,832-835`) realized as a
    * foreachBatch-internal buffer sink: rows accumulate across
    * micro-batches in a checkpoint-consistent CARRY table, and every
    * time the buffer reaches `cap` rows a chunk of EXACTLY `cap` rows
    * is flushed — mid-interval, not at the next trigger. This closes
    * the one deliberate non-parity SURVEY §4.3 documents (Spark's
    * trigger+admission-control mapping bounds batch size but cannot
    * emit early).
    *
    * Exactly-once without transactions, same discipline as
    * [[indexedDedupStream]]:
    *  - chunks and carry both land in `batch_id=<id>`-keyed partition
    *    dirs with overwrite, so a retried micro-batch rewrites its own
    *    output instead of duplicating it;
    *  - batch N reads the carry of the LATEST batch id < N — immutable
    *    once N commits — so a retry re-derives identical chunks.
    *
    * Rows are globally ordered by `seqCol` before chunking (the
    * reference is a single sequential consumer; a strict "every chunk
    * is exactly the next cap rows" contract is inherently total-order,
    * so this sink — like the reference's reducer — is a per-stream
    * sequential stage, not a wide operator; use it for the small
    * ordered control streams the reference built it for, not for bulk
    * data). Chunk files carry (batch_id, chunk) so a consumer can
    * replay them in order.
    *
    * `maxBufferedRows` ENFORCES that scope instead of merely advising
    * it: a batch whose carry+input exceeds the cap fails fast with a
    * message naming this knob, before any write — misuse (pointing the
    * sink at a bulk stream) surfaces as a loud error on the first
    * oversized trigger, not as a silently serialized total sort.
    *
    * Housekeeping: after a successful batch, carry dirs older than the
    * one this batch READ are deleted — two retained dirs (this batch's
    * own + the immutable one it read) cover the at-least-once retry,
    * everything older is unreachable by construction (a retry of batch
    * N reads the latest carry < N, which is exactly the retained one).
    * Without this the carry dir grows one subdir per micro-batch
    * forever, and the per-batch listStatus scan grows with it.
    * Chunk dirs are OUTPUT and are retained until the consumer
    * acknowledges them via `ackedChunks` (see the parameter note) —
    * the producer cannot know on its own when a chunk is consumed. */
  def sizeFlushSink(
      rows: DataFrame, // streaming; must carry an ordering column seqCol
      seqCol: String,
      cap: Int,
      chunksDir: String,
      carryDir: String,
      checkpointDir: String,
      maxBufferedRows: Long = 1000000L,
      // Consumer-acknowledged retention watermark: chunk batch_id dirs
      // <= this value are deleted after each successful batch. Default
      // retains everything (the chunks dir is the sink's OUTPUT — only
      // the consumer knows when it is done with a chunk; the reference's
      // durable home is the ClickHouse table, `src/clickhouse.rs:86-89`,
      // ours needs the consumer to say so). A consumer that acks batch N
      // before the producer's offset commit can see N replayed once
      // after a crash — at-least-once delivery downstream, same contract
      // as every sink here.
      ackedChunks: () => Long = () => Long.MinValue): StreamingQuery = {
    require(cap > 0, "cap must be positive")
    require(maxBufferedRows >= cap,
      "maxBufferedRows must be at least cap")
    rows.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val fs = new org.apache.hadoop.fs.Path(carryDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val prev = {
          val base = new org.apache.hadoop.fs.Path(carryDir)
          if (!fs.exists(base)) None
          else {
            val ids = fs.listStatus(base).toSeq
              .map(_.getPath.getName)
              .filter(_.startsWith("batch_id="))
              // foreign entries (a non-numeric suffix someone dropped in
              // the dir) are ignored, not a query-killing parse error
              .flatMap(n => scala.util.Try(
                n.stripPrefix("batch_id=").toLong).toOption)
            // ids > id can only exist when the checkpoint was reset while
            // carry dirs were kept: batch numbering restarted below dirs
            // from the old incarnation. Proceeding would silently GC the
            // NEWER carries and union stale rows — fail loudly instead.
            // (id itself is fine: that is this batch's own carry from a
            // prior attempt of the same micro-batch.)
            val stale = ids.filter(_ > id)
            if (stale.nonEmpty)
              throw new IllegalStateException(
                s"sizeFlushSink: carry dir $carryDir holds batch ids " +
                  s"${stale.sorted.mkString(",")} NEWER than current " +
                  s"micro-batch $id — the checkpoint was reset while " +
                  "carry state was kept. Clear the carry dir (or restore " +
                  "the matching checkpoint) before restarting.")
            ids.filter(_ < id) // a retried batch must not read its own carry
              .sorted.lastOption
          }
        }
        val carried = prev
          .map(p => s.read.parquet(s"$carryDir/batch_id=$p"))
          .getOrElse(batch.limit(0))
        val unioned = carried.unionByName(batch)
        // misuse guard BEFORE the window: counting the pre-sort union
        // is a cheap narrow action, so an oversized batch fails in
        // O(count) — tripping it after the persist would first pay the
        // very single-partition total sort the cap exists to prevent
        val n = unioned.count()
        if (n > maxBufferedRows)
          throw new IllegalStateException(
            s"sizeFlushSink: micro-batch $id buffers $n rows " +
              s"(carry + input) > maxBufferedRows=$maxBufferedRows. " +
              "This sink is a SEQUENTIAL total-order stage for small " +
              "ordered control streams (see scaladoc); route bulk data " +
              "through dualWrite, or raise maxBufferedRows explicitly " +
              "if the stream really is this large.")
        // order by (seqCol, full-row hash): ties on seqCol alone would
        // let the chunk and carry actions rank rows differently across
        // their independent executions (duplicating one row, dropping
        // another); the hash tiebreaker makes the rank deterministic up
        // to fully identical rows, which are interchangeable. The
        // persist makes the two write actions share one carry-read +
        // sort instead of re-running it.
        val all = unioned
          .withColumn("rn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col(seqCol),
                xxhash64(struct(unioned.columns.toIndexedSeq.map(col): _*))))
              - 1)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val emit = n / cap * cap // whole chunks only; remainder carries
          all.where($"rn" < emit)
            .withColumn("chunk", ($"rn" / cap).cast("long"))
            .drop("rn")
            .repartition(1) // each chunk is one sink call's body
            .write.mode("overwrite").partitionBy("chunk")
            .parquet(s"$chunksDir/batch_id=$id")
          Faults.sizeFlushAfterChunks(id)
          all.where($"rn" >= emit).drop("rn")
            .write.mode("overwrite").parquet(s"$carryDir/batch_id=$id")
          Faults.sizeFlushAfterCarry(id)
          // GC: everything older than the carry this batch read is
          // unreachable (a retry of ANY future batch M > id reads the
          // latest carry < M, which is >= prev) — delete it. Keep prev
          // (a retry of THIS batch re-reads it) and this batch's own.
          val keep = Set(Some(id), prev).flatten
          fs.listStatus(new org.apache.hadoop.fs.Path(carryDir)).toSeq
            .filter(_.getPath.getName.startsWith("batch_id="))
            // delete only entries that parse AND are strictly older than
            // a kept id: foreign names and anything newer are retained
            // (best-effort GC never deletes what it cannot prove stale)
            .filter(st => scala.util.Try(
              st.getPath.getName.stripPrefix("batch_id=").toLong).toOption
              .exists(n => !keep.contains(n) && n < id))
            .foreach(st => fs.delete(st.getPath, true))
          // chunk retention: drop output dirs the CONSUMER has finished
          // with (never this batch's own — its commit is still pending)
          val acked = math.min(ackedChunks(), id - 1)
          if (acked >= 0L) {
            val cbase = new org.apache.hadoop.fs.Path(chunksDir)
            if (fs.exists(cbase))
              fs.listStatus(cbase).toSeq
                .filter(_.getPath.getName.startsWith("batch_id="))
                .filter(st => scala.util.Try(
                  st.getPath.getName.stripPrefix("batch_id=").toLong)
                  .toOption.exists(_ <= acked))
                .foreach(st => fs.delete(st.getPath, true))
          }
        } finally { all.unpersist(false); () }
        ()
      }
      .start()
  }

  /** MAINTAINED band index: the deployment form of [[staticIndexHits]]
    * where the persisted `(doc_id, bkey)` index table is also KEPT
    * CURRENT by the stream — each micro-batch probes the standing index
    * (plus its own keys, so batch-internal twins are seen), emits newly
    * discovered candidate pairs, and UPSERTS its band keys into the
    * index so later batches match against everything ingested so far.
    *
    * Exactly-once by construction under foreachBatch's at-least-once
    * contract — neither write needs a transaction:
    *  - hits: candidates are anti-joined against the hits table before
    *    appending, so a retried batch re-derives the same candidates,
    *    finds them already present, and appends nothing;
    *  - index: (doc_id, bkey) rows are immutable FACTS — a retried
    *    append leaves duplicate rows, which the candidate `.distinct()`
    *    absorbs; they cost bytes, not correctness, and the next
    *    [[graft.sources.Ddl.compact]] maintenance pass folds them away
    *    (compose: stop-or-quiesce → `Ddl.compact(indexDir)` → resume —
    *    the crash-safe two-rename swap keeps every row through it, and
    *    [[graft.sources.Ddl.recover]] runs on every batch so a swap
    *    crash never hides the index).
    *
    * Scale shape: the probe join is one-sided (|batch| × bands against
    * the index — corpus × corpus never pairs); at deployment the index
    * is bucketed on bkey ([[graft.sources.Ddl.createBucketedTable]]) so
    * only the batch side shuffles, and the anti-join keys are
    * constant-width (id_a, id_b) pairs.
    *
    * Fixed cost: a steady-state micro-batch runs at most SIX Spark jobs
    * (StreamingSpec pins the budget). Both tables are read with pinned
    * schemas, so no schema-inference job runs; one pass over the
    * persisted batch index materializes it and returns the batch's
    * doc_id range and row count, which the hits pruning and the size
    * of the index append (one file per 4·10⁶ rows, not one per source
    * block) both use. An empty batch writes nothing.
    *
    * Versioning: the index rows and any state carried across restarts
    * are keyed on `bkey` — values of the band-key SCHEME
    * ([[graft.functions.VecOps.BandKeySchemeVersion]]). A
    * build with a different scheme probes an old index/checkpoint to
    * zero matches with no error: rebuild the index dir (and stamp
    * catalog copies via [[graft.sources.Ddl.stampBandScheme]]) and
    * start from a fresh checkpoint after any scheme bump. */
  def indexedDedupStream(
      docs: DataFrame, // streaming; columns: doc_id LONG, text STRING
      indexDir: String,
      hitsDir: String,
      checkpointDir: String): StreamingQuery = {
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        graft.sources.Ddl.recover(s, indexDir)
        val liveIds = liveIdsOf(s, indexDir, "doc_id")
        val shingled = liveIds(batch.toDF()).select(col("doc_id"),
          graft.functions.VectorExpressions
            .text_shingles(col("text"), 3).as("sh"))
        val batchIdx = graft.operators.NearDup.bandIndex(shingled)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          graft.ops.Par.idRange(batchIdx, "doc_id").foreach { case (lo, hi, rows) =>
            val probeSide = readIfExists(s, indexDir, "doc_id LONG, bkey LONG")
              .map(liveIds).map(_.unionByName(batchIdx)).getOrElse(batchIdx)
            val cand = batchIdx.select($"bkey", $"doc_id".as("id_p"))
              .join(probeSide.select($"bkey", $"doc_id".as("id_i")), Seq("bkey"))
              .where($"id_p" =!= $"id_i")
              .select(least($"id_p", $"id_i").as("id_a"),
                greatest($"id_p", $"id_i").as("id_b"))
              .distinct()
            // every candidate this batch can derive contains at least one
            // batch doc, so a hits row with BOTH endpoints outside the
            // batch's doc_id range can never match
            appendFreshHits(s, cand, hitsDir, "id_a LONG, id_b LONG",
              Seq("id_a", "id_b"),
              ($"id_a" >= lo && $"id_a" <= hi) || ($"id_b" >= lo && $"id_b" <= hi))
            Faults.indexedDedupAfterHits(id)
            // files sized by the batch, not one per source block: every
            // later probe lists and opens each index file
            batchIdx.coalesce((rows / IndexRowsPerFile + 1).toInt)
              .write.mode("append").parquet(indexDir)
          }
        } finally { batchIdx.unpersist(false); () }
        ()
      }
      .start()
  }

  /** Index rows per file an [[indexedDedupStream]] micro-batch appends
    * (16 B a row unencoded). */
  private val IndexRowsPerFile = 4000000L

  // The maintained-index plumbing both dedup sinks share.

  /** Whether `dir` holds parquet files at its root. */
  private def hasRootParquet(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** `dir` read under `schema`, if it holds root parquet files. The sinks
    * wrote their tables themselves, so their schemas are known: pinning
    * them skips Spark's per-read inference job. */
  private def readIfExists(s: SparkSession, dir: String,
      schema: String): Option[DataFrame] =
    if (hasRootParquet(s, dir)) Some(s.read.schema(schema).parquet(dir))
    else None

  /** Retraction: drops the `idCol` values tombstoned on `indexDir`.
    * A sink applies it to BOTH sides — the standing read (tombstoned
    * rows are logically deleted until the next compact applies them
    * physically) and the batch itself (a REPLAYED batch containing a
    * since-retracted id must not resurrect its purged hits or re-append
    * its index rows; ids are never reused — the same monotone-id
    * contract the hits range pruning relies on). */
  private def liveIdsOf(s: SparkSession, indexDir: String,
      idCol: String): DataFrame => DataFrame =
    graft.sources.Ddl.tombstonesOf(s, indexDir)
      .map(t => broadcast(t.select(col(idCol)).distinct()))
      .map(t => (df: DataFrame) => df.join(t, Seq(idCol), "left_anti"))
      .getOrElse(identity[DataFrame] _)

  /** Appends to `hitsDir` the rows of `cand` it does not already hold:
    * exactly-once under replay, because a retried batch re-derives the
    * same rows and the anti-join on `keys` drops them. The anti-join is
    * PRUNED to the hits rows `relevant` to this batch — a semantics-
    * preserving superset filter over its id range that parquet min/max
    * stats turn into file skipping (hits append in batch order, so old
    * files' id ranges are disjoint under monotone ingest ids). Without
    * it the anti-join re-scans the sink's whole history every batch. */
  private def appendFreshHits(s: SparkSession, cand: DataFrame,
      hitsDir: String, schema: String, keys: Seq[String],
      relevant: Column): Unit =
    readIfExists(s, hitsDir, schema)
      .map(h => cand.join(h.where(relevant).select(keys.map(col): _*), keys,
        "left_anti"))
      .getOrElse(cand)
      .write.mode("append").parquet(hitsDir)

  /** MAINTAINED IVF cell index — the embedding-side mirror of
    * [[indexedDedupStream]], streaming the semantics of
    * [[graft.operators.Similarity.incrementalSemanticDedup]]: each
    * micro-batch of (vec_id, v) embeddings is assigned to its coarse
    * IVF cell (a NARROW codegen'd codebook scan — no join, no
    * shuffle), probes the standing cell index PLUS its own assignments
    * (so batch-internal twins are seen), emits (vec_id, matched_id,
    * cosine) hit rows for every fresh vector with a cell-mate at
    * cosine ≥ `tau`, and UPSERTS its assignments into the index so
    * later batches match against everything ingested so far.
    *
    * Winner semantics match the batch operator exactly: a standing
    * corpus member always wins (its verdict is immutable — the hit
    * reports the FRESH vector as the duplicate), and within a batch
    * the lower vec_id wins.
    *
    * Exactly-once the same storage-level way as [[indexedDedupStream]],
    * through the same private helpers: hits are anti-joined on
    * (vec_id, matched_id) before appending, so a replayed batch
    * re-derives the same hits and appends nothing; index rows are
    * immutable facts whose replay duplicates the final hit `.distinct()`
    * absorbs and compaction folds away. Both tables are read with pinned
    * schemas, one pass over the persisted batch returns its vec_id
    * range, and an empty batch (every vector tombstoned) writes nothing;
    * StreamingSpec pins the steady-state job count.
    *
    * Scale shape: the probe join is one-sided and CELL-BOUNDED
    * (|batch-cell| × |cell| — corpus × corpus never pairs); the
    * codebook is K-row driver metadata riding into codegen
    * ([[graft.functions.NearestCentroidExpr]]), never a join side; the
    * stored index carries precomputed norms so probes never rescan
    * vector payloads to renormalize. The index has two layouts — a
    * MEASURED trade, not a free win:
    *  - flat (the default): one file per write task per batch. Every
    *    batch's standing read scans the whole index (the touched-cell
    *    isin still filters rows before the join). Right when batches
    *    touch most cells — at the bench geometry (1k vecs/trigger over
    *    K=64, every cell touched every batch) a cell-partitioned layout
    *    measured 2.8× SLOWER (515 vs 1,433 vecs/s at 50 batches, p99
    *    3,970 vs 1,138 ms) because it writes one file per touched cell
    *    per batch (8× the file count, so 8× the listing/open cost) and
    *    prunes nothing. Maintenance via [[graft.sources.Ddl.compact]].
    *  - `cellBuckets = Some(B)`: the SHARDED layout, for cell-sparse
    *    batches over a large standing index. Cells are bucketed into B
    *    dirs (`cell_bucket = centroid_id % B`, centroid_id kept as a
    *    SORTED data column): each batch's standing read lists only its
    *    touched buckets' dirs, and within a bucket the pushed-down
    *    centroid_id isin skips row groups via the sorted write's min/max
    *    stats. B above the largest cell id (B = K for ids 0..K-1) gives
    *    one dir per cell; a smaller B caps the dir count where K ∝
    *    corpus would walk one-dir-per-cell into filesystem-metadata
    *    territory around 10⁵-10⁶ dirs (≈10⁹-10¹⁰ rows at 4,000/cell).
    *    Measured (ScaleBench `semstream_layout`, K=1024, 256-row
    *    batches touching 4 cells, local disk): flat p50 grows 1.23 →
    *    2.05 → 2.52 s across 10⁶ → 10⁷ → 3·10⁷ standing rows, while the
    *    pruned read's does not grow with the stream's history; at 10⁷,
    *    B=32 (p50 1352 ms, 32 dirs) tied one dir per cell (1317 ms, 1024
    *    dirs), which is why the separate per-cell layout was removed
    *    (an index dir it wrote fails the batch). Choose by
    *    standing-index size, not taste. Maintenance via
    *    [[graft.sources.Ddl.compactPartitions]] at the index ROOT (folds
    *    each bucket's files AND applies the root-level tombstones
    *    [[takedownVectors]] writes, clearing them with the swap, layout
    *    preserved); a root `Ddl.compact` would flatten the layout, and
    *    per-bucket `Ddl.compact` calls never see the root tombstone set.
    *    B is FROZEN for the index's life, exactly like the codebook:
    *    `cell_bucket = centroid_id % B` is only invertible under the B
    *    that wrote it, so a standing read under any other B maps
    *    touched cells to the WRONG bucket dirs (silently missing
    *    duplicates) and then appends mis-bucketed files. The first
    *    sharded batch pins B in an `_cell_buckets` marker at the index
    *    root and every batch validates against it
    *    (`validateCellBuckets`) — restart with a different or absent
    *    `cellBuckets` fails fast instead of corrupting the layout.
    *    Change B ⇒ rebuild the index dir + fresh checkpoint.
    *
    * The codebook must be FROZEN for
    * the life of the index: cell ids are only comparable under the
    * codebook that assigned them — retrain ⇒ rebuild the index dir and
    * start a fresh checkpoint (same contract as the band-key scheme
    * version on [[indexedDedupStream]]).
    *
    * `codebook` rows are (centroid_id, centroid); ids must be strictly
    * ascending (nearest-centroid ties break toward the EARLIEST entry,
    * which must mean the lowest id).
    *
    * `twoLevelSupers = Some(S)` routes assignment through the
    * HIERARCHICAL coarse quantizer
    * ([[graft.operators.Similarity.twoLevelFromSeq]] — S refined
    * supers over the K cells, probes scanning `twoLevelNprobe` supers'
    * children): per-vector assignment drops from O(K·D) to
    * O((S + nprobe·K/S)·D), the difference between affordable and not
    * at the deployment geometry K ∝ corpus. The index schema, hit
    * semantics and exactly-once discipline are UNCHANGED (cells are
    * still child ids); assignment is deterministic, and the structure
    * is rebuilt bit-identically from the frozen codebook on restart,
    * so the replay contract is exactly the flat path's. The
    * frozen-codebook rule extends verbatim: retrain ⇒ rebuild index
    * dir + fresh checkpoint. */
  def semanticDedupStream(
      vecs: DataFrame, // streaming; columns: vec_id LONG, v ARRAY<FLOAT>
      codebook: Seq[(Long, Array[Float])],
      indexDir: String,
      hitsDir: String,
      checkpointDir: String,
      tau: Double = 0.9,
      twoLevelSupers: Option[Int] = None,
      twoLevelNprobe: Int = 1,
      cellBuckets: Option[Int] = None): StreamingQuery = {
    require(codebook.nonEmpty, "semanticDedupStream: empty codebook")
    require(cellBuckets.forall(_ >= 1),
      s"semanticDedupStream: cellBuckets must be >= 1, got $cellBuckets")
    require(codebook.map(_._1).sliding(2).forall(
      p => p.length < 2 || p(0) < p(1)),
      "semanticDedupStream: codebook ids must be strictly ascending " +
        "(nearest-centroid ties break toward the lowest id)")
    val cbIds = codebook.map(_._1).toArray
    val cbCents = codebook.map(_._2.map(_.toDouble)).toArray
    val cbNorms = cbCents.map(c => math.sqrt(c.map(x => x * x).sum))
    // built ONCE at stream construction (deterministic from the frozen
    // codebook — restart rebuilds it bit-identically)
    val cb2 = twoLevelSupers.map(s0 =>
      graft.operators.Similarity.twoLevelFromSeq(codebook, s0,
        refineIters = 2))
    val indexSchema = "vec_id LONG, centroid_id LONG, v ARRAY<FLOAT>, nrm DOUBLE"
    vecs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        graft.sources.Ddl.recover(s, indexDir)
        validateCellBuckets(s, indexDir, cellBuckets)
        val assignCol = cb2 match {
          case Some(c2) => graft.functions.VectorExpressions
            .nearest_centroid2($"v", $"nrm", c2.superCents, c2.superNorms,
              c2.offs, c2.ids, c2.cents, c2.norms, twoLevelNprobe)
          case None => graft.functions.VectorExpressions
            .nearest_centroid($"v", $"nrm", cbIds, cbCents, cbNorms)
        }
        val liveIds = liveIdsOf(s, indexDir, "vec_id")
        val assigned = liveIds(batch.toDF())
          .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
          .withColumn("_best", assignCol)
          .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
            $"v", $"nrm")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          graft.ops.Par.idRange(assigned, "vec_id").foreach { case (lo, hi, _) =>
            val batchSide = assigned.select($"centroid_id",
              $"vec_id".as("id_i"), $"v".as("vi"), $"nrm".as("ni"),
              lit(false).as("standing"))
            // the batch's touched cells — ≤ K driver values (the same
            // bounded-metadata class as the codebook itself). Under the
            // sharded layout they pick the bucket DIRECTORIES the standing
            // read lists; in both layouts the isin is a pushed-down row
            // filter ahead of the join.
            val touched = assigned.select($"centroid_id").distinct()
              .collect().map(_.getLong(0)).toSeq
            // Standing read, cheapest listing first: under a PURE sharded
            // layout (bucket dirs, no root files) it is scoped to the
            // TOUCHED buckets' directories via basePath — discovery lists
            // O(touched buckets) dirs, bounded by B — and within a bucket
            // the isin prunes ROW GROUPS via the write path's
            // sortWithinPartitions(centroid_id) stats. The flat and
            // post-compact/mixed layouts keep the full-dir read.
            val standingRead: Option[DataFrame] = {
              val root = new org.apache.hadoop.fs.Path(indexDir)
              val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
              val rootSt =
                if (fs.exists(root)) fs.listStatus(root)
                else Array.empty[org.apache.hadoop.fs.FileStatus]
              val bucketDirs = rootSt.filter(st => st.isDirectory &&
                st.getPath.getName.startsWith("cell_bucket="))
                .map(_.getPath.getName).toSet
              if (bucketDirs.nonEmpty && !rootSt.exists(st =>
                  st.isFile && st.getPath.getName.endsWith(".parquet"))) {
                // cellBuckets is guaranteed defined AND equal to the
                // marker-pinned modulus here — validateCellBuckets (run
                // at the top of every batch) fails the query fast
                // otherwise, because touched→bucket mapping under any
                // other B silently misses duplicate hits
                val b = cellBuckets.getOrElse(throw new IllegalStateException(
                  s"semanticDedupStream: cell_bucket= dirs at $indexDir " +
                    "but cellBuckets is unset (validateCellBuckets missed?)"))
                val dirs = touched.map(c =>
                  s"cell_bucket=${java.lang.Math.floorMod(c, b.toLong)}")
                  .distinct
                  .filter(bucketDirs.contains).map(nm => s"$indexDir/$nm")
                if (dirs.isEmpty) None
                else Some(s.read.schema(indexSchema)
                  .option("basePath", indexDir).parquet(dirs: _*))
              } else readIfExists(s, indexDir, indexSchema)
            }
            // the standing side EXCLUDES this batch's own ids: a batch
            // whose index append landed but whose checkpoint commit did
            // not is replayed with its own rows already standing, and
            // without the exclusion a batch-internal pair (a < b) would
            // re-emit as the reversed (a, matched=b) "standing wins" hit
            // — replay must derive exactly the first attempt's rows.
            val probeSide = standingRead
              .map(df => liveIds(df.where($"centroid_id".isin(touched: _*)))
                .join(assigned.select($"vec_id"), Seq("vec_id"),
                  "left_anti")
                .select($"centroid_id", $"vec_id".as("id_i"),
                  $"v".as("vi"), $"nrm".as("ni"), lit(true).as("standing"))
                .unionByName(batchSide))
              .getOrElse(batchSide)
            val hits = assigned
              .select($"centroid_id", $"vec_id", $"v".as("vp"),
                $"nrm".as("np"))
              .join(probeSide, Seq("centroid_id"))
              .where($"id_i" =!= $"vec_id" &&
                ($"standing" || $"id_i" < $"vec_id"))
              .withColumn("cosine", graft.functions.VectorFunctions
                .cosineWithNorms($"vp", $"vi", $"np", $"ni"))
              .where($"cosine" >= lit(tau))
              .select($"vec_id", $"id_i".as("matched_id"), $"cosine")
              .distinct()
            // a hit row's vec_id is always the FRESH side, so hits rows
            // outside this batch's vec_id range can never match
            appendFreshHits(s, hits, hitsDir,
              "vec_id LONG, matched_id LONG, cosine DOUBLE",
              Seq("vec_id", "matched_id"), $"vec_id" >= lo && $"vec_id" <= hi)
            Faults.semanticDedupAfterHits(id)
            cellBuckets match {
              case Some(b) =>
                // SHARDED: one dir per bucket (B dirs total — bounded,
                // where K ∝ corpus is not), one file per touched bucket
                // per batch, rows SORTED by centroid_id within the file
                // so parquet min/max stats serve the standing read's
                // pushed-down isin at row-group grain
                assigned
                  .withColumn("cell_bucket",
                    pmod($"centroid_id", lit(b.toLong)))
                  .repartition(math.min(8, b), $"cell_bucket")
                  .sortWithinPartitions($"cell_bucket", $"centroid_id")
                  .write.partitionBy("cell_bucket")
                  .mode("append").parquet(indexDir)
              case None =>
                assigned.write.mode("append").parquet(indexDir)
            }
          }
        } finally { assigned.unpersist(false); () }
        ()
      }
      .start()
  }

  /** Enforce the frozen-B contract of [[semanticDedupStream]]'s sharded
    * layout: the layout is SELECTED by on-disk `cell_bucket=` dirs, but
    * the touched-cell → bucket-dir mapping (and the write path's
    * bucketing) comes from the `cellBuckets` OPTION — under a restart
    * with a different or absent B the standing read silently misses
    * duplicate hits and the writes corrupt the layout. So: the first
    * sharded write pins B in an `_cell_buckets` marker (written
    * tmp+rename — atomic, like every marker in this module), and every
    * batch fails fast on any marker/option/dir inconsistency. Adopting
    * a pre-marker index is allowed only when every existing bucket dir
    * is consistent with the offered B (all indices < B). An index dir
    * holding `centroid_id=` dirs, which the removed per-cell layout
    * wrote, fails too. One marker read + one root listing per
    * micro-batch — filesystem-metadata cost, not data cost. */
  private[graft] def validateCellBuckets(spark: SparkSession,
      indexDir: String, cellBuckets: Option[Int]): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, "_cell_buckets")
    val pinned: Option[Int] =
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        val t = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        in.close()
        Some(t.toInt)
      } else None
    val names: Seq[String] =
      if (fs.exists(root)) fs.listStatus(root).toSeq.map(_.getPath.getName)
      else Seq.empty
    if (names.exists(_.startsWith("centroid_id=")))
      throw new IllegalStateException(
        s"semanticDedupStream: index at $indexDir holds centroid_id= " +
          "dirs, written by the removed per-cell layout " +
          "(partitionIndexByCell = true). Rebuild the index dir and start " +
          "a fresh checkpoint; cellBuckets = Some(B) with B above the " +
          "largest cell id gives one dir per cell.")
    val bucketIdx: Seq[Long] = names.filter(_.startsWith("cell_bucket="))
      .flatMap(n => scala.util.Try(
        n.stripPrefix("cell_bucket=").toLong).toOption)
    (cellBuckets, pinned) match {
      case (Some(b), Some(m)) if b != m =>
        throw new IllegalStateException(
          s"semanticDedupStream: index at $indexDir is pinned to " +
            s"cellBuckets=$m but this stream was built with " +
            s"cellBuckets=Some($b). B is frozen for the index's life " +
            "(cell_bucket = centroid_id % B is only invertible under " +
            "the B that wrote it) — rebuild the index dir and start a " +
            "fresh checkpoint to change it.")
      case (Some(_), Some(_)) => () // consistent
      case (Some(b), None) =>
        // first sharded write, or adoption of a pre-marker index: any
        // existing bucket dir must already be consistent with B
        bucketIdx.find(_ >= b).foreach { bad =>
          throw new IllegalStateException(
            s"semanticDedupStream: index at $indexDir holds " +
              s"cell_bucket=$bad but cellBuckets=Some($b) can only " +
              s"produce buckets 0..${b - 1} — the index was written " +
              "under a larger B. Rebuild the index dir (or pass the " +
              "original B).")
        }
        val tmp = new org.apache.hadoop.fs.Path(root, "_cell_buckets.tmp")
        fs.mkdirs(root)
        val out = fs.create(tmp, true)
        out.write(b.toString.getBytes("UTF-8"))
        out.close()
        fs.delete(marker, false)
        if (!fs.rename(tmp, marker))
          throw new java.io.IOException(
            s"semanticDedupStream: cannot pin cellBuckets marker $marker")
        ()
      case (None, Some(m)) =>
        throw new IllegalStateException(
          s"semanticDedupStream: index at $indexDir is a SHARDED " +
            s"layout pinned to cellBuckets=$m, but this stream was " +
            "built without cellBuckets — its standing read would miss " +
            "duplicates and its writes would corrupt the layout. Pass " +
            s"cellBuckets=Some($m).")
      case (None, None) =>
        if (bucketIdx.nonEmpty)
          throw new IllegalStateException(
            s"semanticDedupStream: index at $indexDir holds " +
              "cell_bucket= dirs but carries no _cell_buckets marker " +
              "and this stream was built without cellBuckets — the " +
              "bucket modulus is unknowable. Rebuild the index dir " +
              "(or pass the original B to pin it).")
    }
  }

  /** Document RETRACTION through a standing [[semanticDedupStream]]
    * index — the takedown path a production corpus needs for opt-out /
    * copyright removals, without rebuilding the index (a full rebuild
    * per takedown batch is the all-pairs anti-pattern in time):
    *
    *  1. the removed vec_ids are TOMBSTONED on the index dir
    *     ([[graft.sources.Ddl.tombstone]] — an append of removal facts
    *     under `_tombstones/`, invisible to data reads): every later
    *     micro-batch drops them from its standing read AND from its
    *     own input (a replayed batch containing a since-retracted
    *     vector must not resurrect purged hits), and the next
    *     [[graft.sources.Ddl.compact]] applies them physically,
    *     clearing the set atomically with the data swap;
    *  2. the hits table is PURGED of rows referencing a removed id on
    *     EITHER side ([[graft.sources.Ddl.rewrite]] — the compact swap
    *     discipline, crash-recoverable via `Ddl.recover`).
    *
    * At-least-once like every maintenance op here: a crash between the
    * two steps is healed by re-running the takedown with the same ids
    * (tombstone appends are idempotent removal facts; the purge filter
    * is idempotent). The hits rewrite briefly quiesces the sink — run
    * takedowns between micro-batches (stop the query or call from the
    * maintenance window), the same contract as compact itself.
    * Retired ids must never be reused — the monotone-ingest-id
    * contract the hits range pruning already relies on; a re-ingested
    * id would be swallowed by its own tombstone at the next compact.
    *
    * `ids` is a driver-side takedown batch (bounded metadata, like the
    * codebook); takedown sets beyond driver scale should write the
    * tombstone DataFrame directly and rewrite hits with the same two
    * calls. */
  def takedownVectors(spark: SparkSession, indexDir: String,
      hitsDir: String, ids: Seq[Long]): Unit =
    takedownIds(spark, indexDir, hitsDir, "vec_id",
      Seq("vec_id", "matched_id"), ids)

  /** [[takedownVectors]] for the band index of [[indexedDedupStream]]:
    * tombstones on doc_id, hit purge on (id_a, id_b). */
  def takedownDocs(spark: SparkSession, indexDir: String,
      hitsDir: String, ids: Seq[Long]): Unit =
    takedownIds(spark, indexDir, hitsDir, "doc_id",
      Seq("id_a", "id_b"), ids)

  private def takedownIds(spark: SparkSession, indexDir: String,
      hitsDir: String, idCol: String, hitIdCols: Seq[String],
      ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    import spark.implicits._
    graft.sources.Ddl.tombstone(spark, indexDir, ids.toDF(idCol))
    graft.sources.Ddl.recover(spark, hitsDir)
    if (hasRootParquet(spark, hitsDir))
      graft.sources.Ddl.rewrite(spark, hitsDir) { h =>
        hitIdCols.foldLeft(h)((acc, c) =>
          acc.join(broadcast(ids.toDF(c)), Seq(c), "left_anti"))
      }
  }

  /** STANDING CORPUS-STATISTICS maintenance — the streaming form of
    * [[graft.operators.Corpus.sourceTokenStats]], keeping the
    * per-(source, token) tf/df table a retrieval deployment reads
    * (BM25 document frequencies, source signatures) CURRENT under both
    * ingest and takedown, without ever re-aggregating the corpus.
    *
    * Layout: `statsDir/batch_id=<id>/` holds each micro-batch's
    * per-(source, token) PARTIAL aggregate, written with overwrite so
    * a replayed micro-batch rewrites its own partial — exactly-once
    * CONTENT on disk, the same per-batch-dir discipline as
    * [[sizeFlushSink]]'s chunks. The partials are MERGEABLE BY SUM:
    * tf trivially; df because streaming delivers every doc in exactly
    * one micro-batch (and ingest ids are never reused — the module's
    * standing monotone-id contract), so each batch's df counts a
    * DISJOINT doc set. Readers aggregate partials via [[readStats]];
    * [[retractStats]] appends a NEGATED partial derived from the
    * removed docs' content (takedown is subtraction — the
    * [[graft.operators.Corpus.takedownStatsOn]] math as a standing
    * maintenance op); [[compactStats]] folds settled partials into one
    * with a crash-recoverable protocol ([[recoverStats]]).
    *
    * At deployment scale nothing here scans the corpus: ingest cost is
    * one aggregate of each batch, takedown cost one aggregate of the
    * removed docs, read cost the (vocab × sources)-bounded partial
    * union, compaction the same — the standing table's grain, never
    * the corpus's. */
  def statsMaintenanceSink(
      docs: DataFrame, // streaming; columns: doc_id, source, text
      statsDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.operators.Corpus.sourceTokenStats(batch.toDF())
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$statsDir/batch_id=$id")
        ()
      }
      .start()

  /** The current statistics: partials summed, fully-retracted rows
    * dropped. Empty-safe (a never-written or crashed-empty dir reads
    * as an empty table, not an error). */
  def readStats(spark: SparkSession, statsDir: String): DataFrame = {
    import spark.implicits._
    recoverStats(spark, statsDir)
    val p = new org.apache.hadoop.fs.Path(statsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id="))
    if (!hasData)
      Seq.empty[(String, String, Long, Long)]
        .toDF("source", "token", "tf", "df")
    else
      spark.read.parquet(statsDir)
        .groupBy($"source", $"token")
        .agg(sum($"tf").as("tf"), sum($"df").as("df"))
        .where($"df" > 0)
  }

  /** Takedown as a NEGATED partial: aggregate the removed docs'
    * contributions, negate, land under `batch_id=-(takedownId + 1)` —
    * negative ids cannot collide with micro-batch ids (≥ 0), and the
    * overwrite makes a RETRIED takedown idempotent (same id → same
    * dir, rewritten not doubled). The retry window ends when the
    * takedown id is FOLDED: [[compactStats]] only folds takedowns the
    * caller has settled (will not retry — a post-fold retry recreates
    * the dir and subtracts twice), and it never lands a fold ON a
    * retraction id, so an in-contract retry can only ever rewrite its
    * own partial, never a folded aggregate. `removedDocs` must be documents the
    * stream has INGESTED (subtracting what was never added corrupts
    * the sums — the same already-ingested contract as
    * [[takedownVectors]]), carrying (source, doc_id, text). */
  def retractStats(spark: SparkSession, statsDir: String,
      removedDocs: DataFrame, takedownId: Long): Unit = {
    require(takedownId >= 0, s"takedownId must be >= 0, got $takedownId")
    import spark.implicits._
    graft.operators.Corpus.sourceTokenStats(removedDocs)
      .select($"source", $"token",
        (-$"tf").as("tf"), (-$"df").as("df"))
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$statsDir/batch_id=${-(takedownId + 1)}")
  }

  /** Fold all SETTLED partials (every dir except the highest
    * batch_id, which an in-flight micro-batch retry may still
    * rewrite) into one partial under the smallest folded INGEST id —
    * never a retraction id, which a retried [[retractStats]] is
    * CONTRACTUALLY allowed to overwrite (retry-idempotence via same
    * dir); landing the fold there would let that retry destroy every
    * folded ingest partial. A settled set holding only retractions is
    * left unfolded until an ingest partial settles. Crash
    * protocol: the folded result is staged at
    * `statsDir/_stats_compact_tmp` together with a `_manifest` naming
    * every dir it replaces; only then are the folded dirs deleted and
    * the stage renamed into place. A crash anywhere is healed by
    * [[recoverStats]]: stage present → finish the deletes from the
    * manifest and complete the rename (the stage holds the folded
    * rows, so re-deleting already-deleted dirs loses nothing);
    * stage absent → nothing was committed, partials intact.
    *
    * Settled-only contract: the newest ingest dir is kept because
    * Structured Streaming may retry exactly the last uncommitted
    * micro-batch (its overwrite must find its own dir, not a folded
    * ghost). The same applies to retractions: a takedown id must be
    * known durable (its caller will not retry it) before compaction
    * folds it — a retry AFTER folding would recreate the dir and
    * subtract twice.
    *
    * Single-maintainer contract (the [[graft.sources.Ddl.compact]]
    * quiesce discipline): readers are safe at any point — a crashed
    * fold is healed by the next [[readStats]] — but two CONCURRENT
    * compactors race the rename; run one maintenance process per
    * table. */
  def compactStats(spark: SparkSession, statsDir: String): Unit = {
    import spark.implicits._
    compactPartialsWith(spark, statsDir) { dfs =>
      dfs.reduce(_ unionByName _)
        .groupBy($"source", $"token")
        .agg(sum($"tf").as("tf"), sum($"df").as("df"))
        // fully-cancelled rows (ingest + retraction both folded) drop;
        // readStats' df > 0 filter stays for unfolded cancellations
        .where($"tf" =!= 0L || $"df" =!= 0L)
    }
  }

  /** The settled-partials fold machinery [[compactStats]] documents,
    * generalized over the fold arithmetic (the stats table, the
    * retrieval tables and any future mergeable-partial layout share
    * the listing/target/stage/manifest protocol verbatim — only the
    * merge differs): fold every settled `batch_id=` dir through
    * `foldFn` and commit the result with the crash discipline
    * [[recoverStats]] heals. */
  private def compactPartialsWith(spark: SparkSession, dir: String)(
      foldFn: Seq[DataFrame] => DataFrame): Unit = {
    recoverStats(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val ids = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .flatMap(n => scala.util.Try(
        n.stripPrefix("batch_id=").toLong).toOption)
    if (ids.size < 3) return // nothing worth folding
    val fold = ids.sorted.dropRight(1) // keep the newest dir untouched
    // the fold target must be an id NO later overwrite can reclaim.
    // Ingest ids qualify: only the NEWEST micro-batch can be replayed
    // (and it is kept out of the fold), so any settled ingest id is
    // dead forever. Retraction ids do NOT: retractStats advertises
    // retry-idempotence VIA overwrite of batch_id=-(takedownId+1) — a
    // fold landed on a retraction id would be silently DESTROYED by a
    // retried takedown (every folded ingest partial gone, standing
    // stats corrupted wholesale, not merely double-subtracted). So the
    // target is the smallest folded INGEST id; a settled set holding
    // only retractions waits for the next settled ingest partial
    // (bounded loss: partials are (vocab × sources)-grained, and one
    // ingest batch later the fold proceeds).
    val target = fold.filter(_ >= 0) match {
      case nn if nn.nonEmpty => nn.min
      case _ => return
    }
    val stage = new org.apache.hadoop.fs.Path(root, "_stats_compact_tmp")
    fs.delete(stage, true)
    val folded = foldFn(fold.map(i =>
      spark.read.parquet(s"$dir/batch_id=$i")))
    folded.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    // manifest AFTER the data: its presence marks the stage COMPLETE
    // (recovery treats a manifest-less stage as an aborted write).
    // Written tmp+rename: create/write/close is NOT atomic — a crash
    // mid-write would leave a zero-length or truncated manifest that
    // recovery takes for a complete stage and then wedges on (or, a
    // rare truncation, PARSES to a wrong rename target). The rename is
    // the same atomicity primitive the rest of the protocol rides;
    // a leftover `_manifest.tmp` sits inside a manifest-less stage, so
    // recovery's aborted-stage delete sweeps it with the stage.
    val manifest = new org.apache.hadoop.fs.Path(stage, "_manifest")
    val manifestTmp = new org.apache.hadoop.fs.Path(stage, "_manifest.tmp")
    val out = fs.create(manifestTmp, true)
    out.write((fold.mkString(",") + "\n" + target).getBytes("UTF-8"))
    out.close()
    if (!fs.rename(manifestTmp, manifest))
      throw new java.io.IOException(
        s"compactStats: cannot commit manifest $manifest")
    finishStatsCompact(fs, root, stage)
  }

  /** Complete a staged stats compaction: delete every folded dir named
    * in the manifest, rename the stage to `batch_id=<target>` (the
    * manifest RIDES the rename — underscore files are invisible to
    * Spark readers, so the renamed dir is immediately readable), then
    * drop the manifest at its new home. Idempotent: deletes of
    * already-gone dirs are no-ops, and every crash point leaves either
    * the manifest-bearing stage (resume here) or the manifest-bearing
    * target (drop the marker). */
  private def finishStatsCompact(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      stage: org.apache.hadoop.fs.Path): Unit = {
    val manifest = new org.apache.hadoop.fs.Path(stage, "_manifest")
    val in = fs.open(manifest)
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    in.close()
    val Array(foldLine, targetLine) = text.split("\n", 2)
    val target = targetLine.trim.toLong
    foldLine.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong)
      .foreach { i =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"batch_id=$i"),
          true)
        Faults.statsCompactMidDelete(i)
      }
    val dest = new org.apache.hadoop.fs.Path(root, s"batch_id=$target")
    if (!fs.rename(stage, dest))
      throw new java.io.IOException(
        s"compactStats: cannot rename $stage into place")
    fs.delete(new org.apache.hadoop.fs.Path(dest, "_manifest"), false)
    ()
  }

  /** Heal a crashed [[compactStats]]: a COMPLETE stage (manifest
    * present) is finished — re-delete its folded dirs, rename it into
    * place; an INCOMPLETE stage (no manifest — crashed mid-write) is
    * discarded, every partial it read still intact; a manifest
    * LEFTOVER inside a batch dir (crash between rename and marker
    * drop) is swept. */
  def recoverStats(spark: SparkSession, statsDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(statsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val stage = new org.apache.hadoop.fs.Path(root, "_stats_compact_tmp")
    if (fs.exists(stage)) {
      val manifest = new org.apache.hadoop.fs.Path(stage, "_manifest")
      if (fs.exists(manifest)) finishStatsCompact(fs, root, stage)
      else fs.delete(stage, true)
    }
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_id="))
      .foreach { st =>
        fs.delete(new org.apache.hadoop.fs.Path(st.getPath, "_manifest"),
          false)
      }
  }

  /** STANDING BM25-SERVING-TABLE maintenance — the streaming form of
    * [[graft.operators.Corpus.takedownBm25On]]'s artifact set, keeping
    * all four tables a BM25 deployment serves from (per-(doc, token)
    * tf, per-doc length, per-token df, the one-row corpus totals)
    * CURRENT under ingest and takedown without ever re-tokenizing the
    * corpus. The tables split into two maintenance classes, each under
    * the protocol its math allows:
    *
    *  - `tf/` and `dl/` are PER-DOC-KEYED: each micro-batch writes its
    *    docs' rows under `batch_id=<id>` with overwrite (a replayed
    *    batch rewrites its own dir — exactly-once content, the
    *    [[statsMaintenanceSink]] discipline), rows merge by plain
    *    UNION (streaming delivers every doc in exactly one micro-batch
    *    and ingest ids are never reused), and takedown is a KEYED
    *    DELETE: [[graft.sources.Ddl.tombstone]] on the dir, readers
    *    anti-join the set, [[compactRetrieval]] applies it to the
    *    folded dirs. The tombstone set persists after compaction (the
    *    kept newest dir may still hold a retracted doc ingested in the
    *    final pre-takedown batch; re-applying a tombstone is a no-op
    *    by anti-join semantics) — it grows with takedown history, and
    *    a quiesced full rewrite reclaims it when that matters.
    *  - `df/` and `tot/` are SUMMED PARTIALS: disjoint doc sets per
    *    batch make per-batch df counts mergeable by sum, takedown is a
    *    NEGATED partial under `batch_id=-(takedownId+1)` (the
    *    [[retractStats]] math), and [[compactRetrieval]] folds settled
    *    partials through the [[compactStats]] crash protocol.
    *
    * Serving reads [[readRetrieval]] and runs
    * [[graft.operators.Corpus.serveBm25TopK]] — the EXACT query the
    * batch gate hashes, so spec parity here proves the maintained
    * chain end-to-end. Weights derive at query time, which is why
    * delete + subtract is the whole maintenance even though a removal
    * changes every document's weights.
    *
    * A crash mid-batch can leave the four dirs torn for that batch id
    * (some written, some not); the replay's overwrite heals all four —
    * the same at-least-once window every sink here has, wider only by
    * the intra-batch write order. Readers wanting a torn-free view
    * read between micro-batches (the compact quiesce discipline). */
  def retrievalMaintenanceSink(
      docs: DataFrame, // streaming; columns: doc_id, text
      retrDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val (tf, dl, dfq, tot) =
          graft.operators.Corpus.bm25Partials(batch.toDF())
        tf.coalesce(1).write.mode("overwrite")
          .parquet(s"$retrDir/tf/batch_id=$id")
        dl.coalesce(1).write.mode("overwrite")
          .parquet(s"$retrDir/dl/batch_id=$id")
        dfq.coalesce(1).write.mode("overwrite")
          .parquet(s"$retrDir/df/batch_id=$id")
        tot.coalesce(1).write.mode("overwrite")
          .parquet(s"$retrDir/tot/batch_id=$id")
        ()
      }
      .start()

  /** The current BM25 serving tables under `retrDir`: (tf, dl, df,
    * totals), ready for [[graft.operators.Corpus.serveBm25TopK]].
    * tf/dl are partial UNIONS minus the tombstoned doc_ids; df sums
    * its partials (negative retraction partials cancel, rows at 0
    * drop); totals always yields exactly one row (zeros when empty).
    * Empty-safe on never-written dirs; each read heals any crashed
    * fold first ([[recoverStats]]). */
  def readRetrieval(spark: SparkSession, retrDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    def partials(sub: String): Option[DataFrame] = {
      val d = s"$retrDir/$sub"
      recoverStats(spark, d)
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasData = fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      if (!hasData) None
      else Some(spark.read.parquet(d).drop("batch_id"))
    }
    def keyed(sub: String, empty: => DataFrame): DataFrame =
      partials(sub) match {
        case None => empty
        case Some(base) =>
          graft.sources.Ddl.tombstonesOf(spark, s"$retrDir/$sub") match {
            case Some(ts) =>
              base.join(broadcast(ts.distinct()), Seq("doc_id"),
                "left_anti")
            case None => base
          }
      }
    val tf = keyed("tf",
      Seq.empty[(Long, String, Long)].toDF("doc_id", "token", "tf"))
    val dl = keyed("dl", Seq.empty[(Long, Long)].toDF("doc_id", "dl"))
    val dfq = partials("df") match {
      case None => Seq.empty[(String, Long)].toDF("token", "df")
      case Some(base) => base.groupBy($"token")
        .agg(sum($"df").as("df")).where($"df" > 0)
    }
    val tot = partials("tot") match {
      case None => Seq((0L, 0L)).toDF("n", "s")
      case Some(base) => base.agg(
        coalesce(sum($"n"), lit(0L)).as("n"),
        coalesce(sum($"s"), lit(0L)).as("s"))
    }
    (tf, dl, dfq, tot)
  }

  /** Takedown through the standing retrieval tables: tombstone the
    * removed doc_ids on `tf/` and `dl/` (keyed deletes) and land
    * NEGATED df/totals partials under `batch_id=-(takedownId+1)`
    * (subtraction — 0-rows drop at read). Work ∝ the removed docs'
    * token mass; the standing corpus is never re-read.
    *
    * Contracts, both inherited from the module's takedown discipline:
    * `removedDocs` must carry the EXACT text the stream ingested (the
    * negated partial must mirror the ingested contribution — the
    * [[retractStats]] fidelity rule), and removal sets across takedown
    * ids must be DISJOINT: the tombstone side is idempotent under
    * overlap (anti-join), but a doc named in two takedown ids would
    * have its df/totals contribution subtracted twice. Retry-safe with
    * the SAME id: the negative dirs overwrite and tombstone appends
    * are removal facts. */
  def retractRetrieval(spark: SparkSession, retrDir: String,
      removedDocs: DataFrame, takedownId: Long): Unit = {
    require(takedownId >= 0, s"takedownId must be >= 0, got $takedownId")
    import spark.implicits._
    val (_, _, dfq, tot) =
      graft.operators.Corpus.bm25Partials(removedDocs)
    dfq.select($"token", (-$"df").as("df")).coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$retrDir/df/batch_id=${-(takedownId + 1)}")
    tot.select((-$"n").as("n"), (-$"s").as("s")).coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$retrDir/tot/batch_id=${-(takedownId + 1)}")
    val ids = removedDocs.select($"doc_id").distinct()
    graft.sources.Ddl.tombstone(spark, s"$retrDir/tf", ids)
    graft.sources.Ddl.tombstone(spark, s"$retrDir/dl", ids)
  }

  /** Fold each retrieval table's settled partials ([[compactStats]]'s
    * protocol per dir — each dir folds independently; a crash between
    * dirs leaves the others' partials intact and every reader
    * correct): tf/dl fold by UNION with the pending tombstones applied
    * to the folded rows (the set itself persists — see
    * [[retrievalMaintenanceSink]]), df by summed groups (0-rows drop),
    * totals by a one-row sum. Single-maintainer contract as ever. */
  def compactRetrieval(spark: SparkSession, retrDir: String): Unit = {
    import spark.implicits._
    def applyTombstones(sub: String)(df: DataFrame): DataFrame =
      graft.sources.Ddl.tombstonesOf(spark, s"$retrDir/$sub") match {
        case Some(ts) =>
          df.join(broadcast(ts.distinct()), Seq("doc_id"), "left_anti")
        case None => df
      }
    compactPartialsWith(spark, s"$retrDir/tf")(dfs =>
      applyTombstones("tf")(dfs.reduce(_ unionByName _)))
    compactPartialsWith(spark, s"$retrDir/dl")(dfs =>
      applyTombstones("dl")(dfs.reduce(_ unionByName _)))
    compactPartialsWith(spark, s"$retrDir/df")(dfs =>
      dfs.reduce(_ unionByName _)
        .groupBy($"token").agg(sum($"df").as("df"))
        .where($"df" =!= 0L))
    compactPartialsWith(spark, s"$retrDir/tot")(dfs =>
      dfs.reduce(_ unionByName _)
        .agg(coalesce(sum($"n"), lit(0L)).as("n"),
          coalesce(sum($"s"), lit(0L)).as("s")))
  }

  /** Event-time windowed aggregation with watermark (the event-time
    * capability the reference lacks — SURVEY §2.6): counts per tumbling
    * window per key, late data bounded by the watermark. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowLen: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** LATE-DATA ACCOUNTING census — the monitoring query every
    * production stream pairs with [[windowedCounts]]: watermarked
    * aggregations silently DROP rows older than the watermark, and
    * nothing in the aggregate's output says how much was lost or which
    * source lost it. This census reports, per source and micro-batch:
    * rows seen, rows that arrived behind the source's watermark (batch
    * and cumulative), and the worst lateness observed — the "source X
    * delivers 3 h out of order, your watermark is eating it" readout
    * that decides whether to widen the delay or fix the producer.
    *
    * Semantics mirror Spark's own watermark discipline: the threshold a
    * batch is judged against is max(event_time) over PREVIOUS batches
    * minus `delay` — advancing only at batch boundaries, exactly when
    * the engine's global watermark advances. Kept per-source (each
    * source judged against its own high-water mark) so one fast source
    * cannot mask another's disorder; the per-source threshold trails the
    * engine's global one, so a row flagged here is at risk, and counts
    * are a conservative floor on cross-source drops.
    *
    * Scale shape: state is two longs per source — bounded by the source
    * count, not the stream length; rows shuffle once to their source's
    * state partition (the same exchange any per-source fold pays). */
  def lateDataCensus(
      events: DataFrame, // streaming; columns: (tsCol, srcCol)
      tsCol: String,
      srcCol: String,
      delaySeconds: Long)
      : org.apache.spark.sql.Dataset[(String, Long, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .select(col(srcCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (String, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Long)]) =>
          val (prevMax, prevLate) =
            state.getOption.getOrElse((Long.MinValue, 0L))
          val wm =
            if (prevMax == Long.MinValue) Long.MinValue
            else prevMax - delaySeconds * 1000L
          var nRows = 0L; var nLate = 0L; var worst = 0L; var mx = prevMax
          rows.foreach { case (_, ts) =>
            val t = ts.getTime
            nRows += 1
            if (t < wm) {
              nLate += 1
              worst = math.max(worst, (wm - t) / 1000L)
            }
            if (t > mx) mx = t
          }
          state.update((mx, prevLate + nLate))
          // (source, rows in batch, late in batch, late since start,
          //  worst lateness this batch in seconds)
          Iterator((key, nRows, nLate, prevLate + nLate, worst))
      }
  }

  /** Streaming CUSUM rate monitor — the stateful form of the batch
    * [[graft.operators.Sessionize.rateCusum]]: per key, the one-sided
    * statistic S = max(0, S + (batch_count − ref)) folds across
    * micro-batches in `flatMapGroupsWithState` state, emitting
    * (key, batch_count, cusum, alarm) each time the key appears. The
    * reference rate is a configured expectation (streaming cannot see
    * the whole series to take a mean); state is two longs per key,
    * checkpoint-backed, so restarts resume the fold exactly where the
    * last commit left it — the same recurrence the batch oracle pins,
    * now incremental. */
  def rateCusumStream(
      events: DataFrame,
      keyCol: String,
      refPerBatch: Long,
      alarmAt: Long): org.apache.spark.sql.Dataset[(String, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .select(col(keyCol).cast("string").as("k"))
      .as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (String, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Long]) =>
          val c = rows.size.toLong
          val s = math.max(0L, state.getOption.getOrElse(0L) + (c - refPerBatch))
          state.update(s)
          Iterator((key, c, s, if (s >= alarmAt) 1L else 0L))
      }
  }

  /** Streaming Misra–Gries heavy-hitter monitor: per group key (e.g.
    * per source), a k-counter MG summary folded across micro-batches in
    * checkpoint-backed state — the streaming form of
    * [[graft.operators.Corpus.heavyHitters]] (same
    * [[graft.pipeline.Aggregators.mgCompact]] kernel, so the two
    * surfaces cannot drift). Per trigger it emits the group's CURRENT
    * summary rows (key, token, estimate, n_seen); the MG contract holds
    * over the whole stream since start: any token with true count
    * > n_seen/(k+1) is present, and every estimate undercounts its true
    * count by at most n_seen/(k+1).
    *
    * Scale shape: state is ≤ k counters + one long per group key —
    * bounded no matter how long the stream runs — and the per-batch
    * fold is one pass over the batch's rows; tokens shuffle once to
    * their group's state partition (the flatMapGroupsWithState
    * exchange), exactly like the batch aggregator's merge tree. */
  def heavyHittersStream(
      rows: DataFrame, // columns: (key, tok)
      k: Int): org.apache.spark.sql.Dataset[(String, String, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import rows.sparkSession.implicits._
    import graft.pipeline.Aggregators.mgCompact
    rows
      .select(col(rows.columns(0)).cast("string").as("k"),
        col(rows.columns(1)).cast("string").as("tok"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Map[String, Long], Long),
        (String, String, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, batch, state: GroupState[(Map[String, Long], Long)]) =>
          var (m, seen) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          batch.foreach { case (_, t) =>
            m = mgCompact(m.updated(t, m.getOrElse(t, 0L) + 1L), k)
            seen += 1L
          }
          state.update((m, seen))
          m.toSeq.sortBy { case (t, c) => (-c, t) }
            .iterator.map { case (t, c) => (key, t, c, seen) }
      }
  }

  /** Token-length histogram SHARES of a static corpus — the reference
    * side for [[ingestDriftStream]]. Bounded collect: one row per
    * 16-token bucket (domain-bounded by max document length / 16). */
  def referenceHistogram(docs: DataFrame): Map[Long, Double] = {
    import docs.sparkSession.implicits._
    // the library-wide whitespace token rule + 16-token buckets, SHARED
    // with the batch ingestDrift via TextOps.tokenCount so the monitor
    // and the report it claims parity with cannot drift apart
    val hist = docs
      .select((graft.operators.TextOps.tokenCount($"text") / 16L)
        .cast("long").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val total = hist.map(_._2).sum.toDouble
    hist.map { case (b, n) => b -> n / total }.toMap
  }

  /** Streaming INGEST-DRIFT monitor — the incremental form of
    * [[graft.operators.Curation.ingestDrift]]: every micro-batch's
    * token-length histogram is compared bucket-by-bucket against the
    * standing corpus' reference shares, and one report row per bucket
    * lands in `monitorDir` with the share gap and an alarm flag — the
    * accept-a-drop check running AT the door instead of after the drop
    * is merged. Batch-local by design (no cross-batch state): each drop
    * is accepted or rejected on its own shape, so the monitor needs no
    * state store — the checkpoint only tracks offsets.
    *
    * Scale shape: the per-batch aggregate is one map-side-combined
    * groupBy on the derived bucket; the reference rides the closure as
    * a bucket→share map (domain-bounded, same class as an IVF
    * codebook). */
  def ingestDriftStream(
      docs: DataFrame, // streaming; column: text
      reference: Map[Long, Double],
      monitorDir: String,
      alarmGap: Double = 0.2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        import batch.sparkSession.implicits._
        val hist = batch
          .select((graft.operators.TextOps.tokenCount($"text") / 16L)
            .cast("long").as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n_batch"))
        // bounded collect (one row per present bucket) so the report can
        // cover reference ∪ batch buckets: a bucket the reference
        // expects that the batch MISSES is drift too — share 0.3
        // vanishing must alarm, and a batch-side-only histogram would
        // simply not emit that row
        val present = hist.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val t = math.max(present.values.sum, 1L).toDouble
        val report = (present.keySet ++ reference.keySet).toSeq.sorted.map {
          b =>
            val n = present.getOrElse(b, 0L)
            val sb = n / t
            val sr = reference.getOrElse(b, 0.0)
            (id, b, n, sb, sr, math.abs(sb - sr), math.abs(sb - sr) >= alarmGap)
        }
        // idempotent per-batch write: foreachBatch is at-least-once, so a
        // retried micro-batch must OVERWRITE its own partition directory
        // rather than append a second copy of its rows. batch_id comes
        // back to monitorDir readers as a Hive-style PARTITION column
        // (integer-inferred, appended last) — same columns by NAME as
        // the old flat layout, but positional or strict-dtype consumers
        // must select by name, and a read of one batch_id=N dir alone
        // has no batch_id column.
        report
          .toDF("batch_id", "bucket", "n_batch", "share_batch",
            "share_ref", "gap", "alarm")
          .drop("batch_id")
          .write.mode("overwrite").parquet(s"$monitorDir/batch_id=$id")
        ()
      }
      .start()
  }

  /** Session windows per key (streaming sessionization; batch equivalent
    * is graft.operators.Sessionize). */
  def sessionCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      gap: String = "30 minutes",
      watermark: String = "60 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
}
