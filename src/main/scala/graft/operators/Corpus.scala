package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scope
import graft.ops.{QueryDef, QueryModule, Tables}

/** Corpus-level operators a training-data pipeline runs before/while
  * building datasets: reproducible sampling and vocabulary statistics.
  */
object Corpus extends QueryModule {

  /** Deterministic hash-bucket sampling: a ~10% sample selected by an
    * md5 prefix of the key — reproducible across engines, runs, and
    * cluster sizes (unlike `TABLESAMPLE`/`rand()`), and composable: the
    * same bucketing yields disjoint train/eval splits. At scale this is a
    * pushdown-friendly filter on a scan, no shuffle. */
  def deterministicSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string")), 1, 2), 16, 10)
          .cast("long"))
      .where($"bucket" < 26) // 26/256 ≈ 10%
      .select($"doc_id", $"lang", $"n_chars", $"bucket")
      .orderBy($"doc_id")
  }

  /** WEIGHTED deterministic sampling: inclusion probability proportional
    * to a per-doc weight (here the source's mixing weight, w ∈ {1,2,3}),
    * decided by an EXACT integer comparison against a 24-bit md5-derived
    * uniform — keep iff u·30 < w·2^24, i.e. P(keep) = w/30. No rand(),
    * no pow/ln (transcendentals differ across engines in the last ulp);
    * the same doc keeps or drops on any engine, run, or cluster size.
    * Like [[deterministicSample]] this is a narrow scan-level filter —
    * the 100 TB shape where sampling must not shuffle. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = substring($"source", 4, 10).cast("long") % 3L + 1L
    val u = conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
      .cast("long")
    Tables.documents(s, d)
      .select($"doc_id", $"source", w.as("w"), u.as("u"))
      .where($"u" * 30L < $"w" * lit(1L << 24))
      .orderBy($"doc_id")
  }

  /** EXACT stratified sampling: precisely ceil(10%) of each language,
    * selected by a deterministic hash order within the group — the
    * train/eval-split shape where per-stratum fractions must be exact
    * (hash-threshold sampling like [[deterministicSample]] is stratified
    * only in expectation). One shuffle on the stratum key; the window
    * rank and group count share its partitioning. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val order = Window.partitionBy($"lang")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val grp = Window.partitionBy($"lang")
    Tables.documents(s, d)
      .select($"doc_id", $"lang")
      .withColumn("rn", row_number().over(order).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(grp))
      .where($"rn" <= ceil(lit(0.1) * $"n_lang"))
      .select($"doc_id", $"lang", $"rn")
      .orderBy($"doc_id")
  }

  /** TF-IDF top terms per document (feature extraction for quality
    * scoring / dedup weighting): tf from one (doc, token) aggregate, df
    * from a token aggregate over it, corpus size broadcast as a 1-row
    * join. The idf is the RATIONAL surrogate (N - df + 0.5)/(df + 0.5)
    * (the BM25 idf core without the log): monotone in df, so rankings
    * match log-idf rankings, while staying bit-reproducible across
    * engines — ln() implementations may differ in the last ulp, which a
    * hash-comparing oracle would catch. */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("token"))
    val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"token")
    tf.join(df, "token")
      .crossJoin(broadcast(n)) // 1 row
      .withColumn("score",
        $"tf" * ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= 3 && $"doc_id" < 50)
      .select($"doc_id", $"rank", $"token", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rank")
  }

  /** Corpus vocabulary: term frequency and document frequency per token,
    * top 50 by tf. Explode + two-level aggregate; the shuffle key is the
    * token, partials are map-side combined. */
  def tokenFrequencies(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("tf"),
        countDistinct($"doc_id").as("df"))
      .orderBy($"tf".desc, $"token")
      .limit(50)
  }

  /** Decontamination: drop training documents whose normalized
    * fingerprint matches a held-out benchmark set (here: every 25th doc
    * stands in for the eval set). The held-out side is tiny → broadcast
    * anti-join on a constant-width md5 key; the corpus never shuffles. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def fp(c: org.apache.spark.sql.Column) =
      md5(graft.functions.NormalizeText.normalize_text(c))
    val docs = Tables.documents(s, d)
    val benchmark = broadcast(
      docs.where($"doc_id" % 25 === 0).select(fp($"text").as("bfp")))
    docs.select($"doc_id", $"lang", fp($"text").as("fp"))
      .join(benchmark, $"fp" === $"bfp", "left_anti")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"))
      .orderBy($"lang")
  }

  /** Decontamination, bloom-accelerated: the benchmark fingerprint set is
    * sketched into a bloom filter ([[graft.functions.BloomSketch]]) and
    * the corpus tests membership AT THE SCAN — definite-negatives (the
    * overwhelming majority) never enter any join; only might-contain
    * candidates reach the exact anti-join that resolves false positives.
    * Results are identical to [[decontaminate]] by construction (bloom
    * filters have no false negatives), so this query shares its
    * brute-force oracle — the gate proves the sketch loses nothing.
    * This is the decontamination shape for benchmark sets too large to
    * broadcast raw: ~10 bits/key instead of the full key bytes. */
  def decontaminateBloom(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def fp(c: org.apache.spark.sql.Column) =
      md5(graft.functions.NormalizeText.normalize_text(c))
    val docs = Tables.documents(s, d)
    val benchmark = docs.where($"doc_id" % 25 === 0).select(fp($"text").as("bfp"))
    val sketch = graft.functions.BloomSketch.build(benchmark, $"bfp", 100000L)
    val fps = docs.select($"doc_id", $"lang", fp($"text").as("fp"))
    val clean = fps.where(!graft.functions.BloomSketch.mightContain(sketch, $"fp"))
    val candidates = fps.where(graft.functions.BloomSketch.mightContain(sketch, $"fp"))
      .join(broadcast(benchmark), $"fp" === $"bfp", "left_anti")
    clean.unionByName(candidates)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"))
      .orderBy($"lang")
  }

  /** Chunk-level duplication profile via content-defined chunking
    * ([[graft.functions.ContentChunksExpr]], Gear rolling hash): how many
    * distinct chunks appear in more than one document — the signal
    * chunk-level dedup acts on. Oracle: the Gear walk + FNV chunk hash
    * reproduced as a recursive CTE ([[graft.ops.HashOracleSql.chunksCte]]);
    * CorpusSpec additionally pins the chunker's CDC edit-stability. */
  def chunkDupProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        explode(graft.functions.VectorExpressions
          .content_chunks($"text", 5)).as("chunk"))
      .groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("n_docs"))
      .groupBy($"n_docs")
      .agg(count(lit(1)).as("n_chunks"))
      .orderBy($"n_docs")
  }

  /** Exact distribution statistics per group: min / max / exact median
    * (percentile with linear interpolation) of the event value. */
  def valueQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        min($"value").as("v_min"),
        expr("percentile(value, 0.5D)").as("v_median"),
        max($"value").as("v_max"))
      .orderBy($"event_type")
  }

  /** The 100 TB form of [[valueQuantiles]]: a mergeable t-digest-style
    * sketch (`approx_percentile`) instead of the exact sort-based
    * percentile — constant memory per group at any scale, tunable
    * accuracy. Not a gate query (approx output cannot hash-match an
    * exact oracle); CorpusSpec pins it within tolerance of the exact
    * result instead. */
  def valueQuantilesApprox(s: SparkSession, d: String,
      accuracy: Int = 10000): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        min($"value").as("v_min"),
        expr(s"approx_percentile(value, 0.5D, $accuracy)").as("v_median"),
        max($"value").as("v_max"))
      .orderBy($"event_type")
  }

  /** The 100 TB form of count(DISTINCT): HyperLogLog++ with a bounded
    * relative error — fixed sketch size per group versus the exact
    * form's expand+aggregate over every distinct value. Spec-pinned
    * within its rsd of the exact counts. */
  def distinctUsersApprox(s: SparkSession, d: String,
      rsd: Double = 0.02): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", rsd).as("n_users_approx"))
      .orderBy($"event_type")
  }

  /** Heavy-hitter tokens via a Misra–Gries summary
    * ([[graft.pipeline.Aggregators.MisraGriesAgg]]): a k-entry mergeable
    * counter map replaces the full token groupBy — bounded memory at any
    * corpus size, with the MG guarantees (every token above n/k is
    * present; undercount at most n/k). Estimates depend on merge order,
    * so this is spec-pinned against exact counts rather than
    * oracle-gated, like the other sketches. */
  def heavyHitterTokens(s: SparkSession, d: String, k: Int = 32): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("tok"))
      .select(xxhash64($"tok").as("th")).as[Long]
    toks.select(new graft.pipeline.Aggregators.MisraGriesAgg(k).toColumn)
      .toDF("mg")
      .select(explode($"mg"))
      .toDF("token_hash", "est_count")
      .orderBy(desc("est_count"), $"token_hash")
  }

  /** ORACLE-GATED heavy hitters: the deterministic DERIVED property of
    * the Misra–Gries summary. Raw MG estimates depend on merge order
    * (partial-aggregate scheduling), so they can never hash-match a
    * single-threaded oracle — but the GUARANTEES are order-free: after
    * n tokens with k counters, (a) every token with true count > n/k is
    * present in the summary, and (b) its estimate undercounts by at
    * most n/k and never overcounts. This query emits, for exactly the
    * tokens an exact count puts above the n/k bar, whether the summary
    * holds both guarantees; the DuckDB oracle computes the same rows
    * from exact counts with the guarantee columns REQUIRED true — any
    * sketch violation flips a boolean and fails the hash compare. The
    * threshold compares n_exact·k > n_total in integers, so no
    * division-rounding can disagree across engines.
    *
    * Scale shape: one exact token aggregate (the same shuffle
    * [[tokenFrequencies]] pays), the MG summary as one bounded-memory
    * aggregation whose k-entry result joins back as a 1-row cross of
    * corpus mass + a broadcast-sized map side. */
  def heavyHitters(s: SparkSession, d: String, k: Int = 32): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("tok"))
    val exact = toks.groupBy($"tok").agg(count(lit(1)).as("n_exact"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    val summary = toks.select(xxhash64($"tok").as("th")).as[Long]
      .select(new graft.pipeline.Aggregators.MisraGriesAgg(k).toColumn)
      .toDF("mg")
      .select(explode($"mg"))
      .toDF("th", "est")
    exact
      .withColumn("th", xxhash64($"tok"))
      .join(broadcast(summary), Seq("th"), "left")
      .crossJoin(broadcast(total)) // 1 row
      .where($"n_exact" * lit(k.toLong) > $"n_total")
      .select($"tok", $"n_exact",
        $"est".isNotNull.as("in_summary"),
        ($"est".isNotNull && $"est" <= $"n_exact" &&
          ($"n_exact" - $"est") * lit(k.toLong) <= $"n_total")
          .as("within_bound"))
      .orderBy($"tok")
  }

  /** ORACLE-GATED sketch audit — the [[heavyHitters]] technique applied
    * to the other two approx sketches: their raw outputs cannot
    * hash-match an exact oracle, but their accuracy CONTRACTS are
    * deterministic booleans over exactly-computed rows (both sketches
    * are merge-order-insensitive where it matters: HLL++ registers
    * combine by max, and the quantile summary's rank-error bound holds
    * under any merge order).
    *  - HLL++: |approx − exact distinct| within max(10% of exact, 3) —
    *    5x its rsd=0.02, slack for small groups;
    *  - approx median: the returned element's value lies between the
    *    exact 0.4 and 0.6 quantiles (rank error 1/accuracy = 1e-4 of
    *    the group, orders of magnitude inside that band).
    * Any violation flips a boolean the oracle requires TRUE. */
  def sketchAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    // the exact-percentile and distinct aggregates run in SEPARATE
    // aggregations joined on the (tiny) group key: mixing a distinct agg
    // with non-distinct ones plans an Expand that doubles every row
    // through the heavyweight percentile buffers. accuracy=1000 keeps
    // the sketch's rank error (1e-3) two orders inside the p40-p60 band
    // at a fraction of the summary-compression cost of 10000.
    val perc = ev.groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        expr("approx_percentile(value, 0.5D, 1000)").as("amed"),
        expr("percentile(value, array(0.4D, 0.6D))").as("band"))
    val dist = ev.groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("n_users"),
        approx_count_distinct($"user_id", 0.02).as("hll"))
    perc.join(dist, Seq("event_type"))
      .select($"event_type", $"n", $"n_users",
        (abs($"hll" - $"n_users") <=
          greatest(($"n_users" / lit(10L)), lit(3L))).as("hll_within"),
        ($"amed" >= element_at($"band", 1) &&
          $"amed" <= element_at($"band", 2)).as("median_within"))
      .orderBy($"event_type")
  }

  /** BM25-shaped SPARSE retrieval: top-5 most relevant documents per
    * query doc (doc_id < 10), scored by summed BM25 term weights over
    * shared tokens — the inverted-index counterpart to the dense ANN
    * queries ([[Similarity]]), i.e. the retrieval side of a
    * dedup/decontamination audit.
    *
    * EXACT arithmetic throughout: with k1 = 1.2 and b = 0.75 the BM25
    * term weight idf·tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) — using the
    * rational idf surrogate (N−df+.5)/(df+.5) from [[tfidfTopTerms]] —
    * reduces to the integer ratio
    *   (2N−2df+1)·44·S·tf / [(2df+1)·(20S·tf + 6S + 18·dl·N)]
    * (S = corpus token mass, avgdl = S/N), and each weight is kept as
    * the micro-scaled integer floor(ratio·10^6), so per-pair scores are
    * order-free BIGINT sums that hash-match any engine. Operand bound:
    * 2N·44·S·tf·10^6 must stay under 2^63 (ANSI mode throws, DuckDB
    * errors — both engines fail loudly past ~sf1; a deployment at that
    * scale drops the exactness requirement and scores in double).
    *
    * Scale shape: tf/dl/df are the standard one-shuffle token
    * aggregates; the corpus stats are a 1-row broadcast; candidate
    * generation is the inverted-index equi-join on token (query side is
    * 10 docs — broadcastable); the score is one aggregate over the
    * candidate stream. At deployment scale the candidate join adds
    * impact-ordered pruning (WAND); the exhaustive form is the oracle-
    * checkable baseline. */
  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val (tf, dl, dfreq, tot) = bm25Partials(Tables.documents(s, d))
    serveBm25TopK(tf, dl, dfreq, tot)
  }

  /** The four standing tables a BM25 deployment stores, built from a
    * document frame: per-(doc, token) tf, per-doc length, per-token df
    * and the one-row corpus totals (n docs, Σdl). Each is a sum over
    * disjoint documents — the decomposability [[takedownBm25On]] and
    * the streaming maintenance sink
    * ([[graft.streaming.StreamingPipeline.retrievalMaintenanceSink]])
    * both ride: a micro-batch's partials merge by union/sum, a
    * takedown's subtract. */
  private[graft] def bm25Partials(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("s"))
    (tf, dl, dfreq, tot)
  }

  /** Serve [[bm25TopK]]'s exact query from STANDING tables — the ONE
    * serve form every path runs (the batch gate, the batch takedown,
    * the streaming maintenance read), so hash parity on any of them
    * proves the serving chain itself, not a lookalike. Weights derive
    * at query time from (tf, dl, df, n, s) — nothing here caches a
    * score a maintenance subtraction would stale. */
  private[graft] def serveBm25TopK(tf: DataFrame, dl: DataFrame,
      dfreq: DataFrame, totals: DataFrame): DataFrame = {
    val s = tf.sparkSession
    import s.implicits._
    val st = broadcast(totals) // 1 row
    val q = broadcast(
      tf.where($"doc_id" < 10).select($"doc_id".as("q_id"), $"token"))
    // r14 (guide §3.2/§1.2): scope the WEIGHT DERIVATION to candidates
    // by pure inner-join reordering — the probe⋈tf join runs FIRST, so
    // dl/df/totals attach (and the weight expression evaluates) only on
    // postings of the query's tokens instead of every posting in the
    // corpus. Join multiplicity is unchanged (dl is unique per doc_id,
    // df per token, totals is one row), so the result is identical.
    // Deliberately NOT a semi-filter below the tf aggregate (the r13
    // attempt, measured negative; the r14 retry with df scoped too was
    // ALSO slower): Catalyst pushes such a semi below the aggregate
    // onto the corpus scan, and the serve's top-level orderBy makes the
    // range partitioner SAMPLE the child — narrow stages re-run in the
    // sample pass, while shuffle map stages are reused, so trading the
    // (reused) full-tf exchange for (re-run) narrow filtered explodes
    // pays twice at any scale. This form keeps every original exchange
    // in place and just moves the join that shrinks the stream to the
    // front.
    val cand = q.join(tf, Seq("token")).where($"doc_id" =!= $"q_id")
    val wt = cand.join(dl, "doc_id").join(dfreq, "token").crossJoin(st)
      .select($"q_id", $"doc_id", $"token",
        // the numerator passes 2⁶³ once n·Σdl·tf passes ~10¹¹ (a
        // 2000-doc corpus with one keyword-stuffed page does): exact
        // DECIMAL(38,0) (HUGEINT in the oracles), the quotient a long
        expr("""CAST(2*n - 2*df + 1 AS DECIMAL(38,0)) * 44 * s * tf * 1000000
                DIV ((2*df + 1) * (20*s*tf + 6*s + 18*dl*n))""").as("w_micro"))
    // bounded top-K aggregate, not a row_number window: the candidate
    // set is every document sharing a query term — corpus-scaling —
    // and the window form's partial phase sorts each task's full
    // candidate slice (see TopKByScoreBase). The exact Long score
    // rides as Double: the denominator's 20·s·tf term bounds each weight
    // by 2.2·10⁶·(2n−1)/3 < 1.5·10⁶·n (df ≥ 1), so a score stays below
    // 2⁵³ — exact, injective, tie-break behavior identical — while
    // n_shared·n < 6·10⁹. n_shared travels as the aggregate's payload
    // instead of a rejoin that would re-plan the token join.
    val tk = udaf(new graft.pipeline.Aggregators.TopKScorePayloadAgg(5),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Double, Long)]())
    wt.groupBy($"q_id", $"doc_id")
      .agg(sum($"w_micro").as("score_micro"),
        count(lit(1)).as("n_shared"))
      .groupBy($"q_id")
      .agg(tk($"doc_id", $"score_micro".cast("double"), $"n_shared")
        .as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", ($"pos" + 1).cast("long").as("rank"),
        $"col._1".as("doc_id"), $"col._2".cast("long").as("score_micro"),
        $"col._3".as("n_shared"))
      .orderBy($"q_id", $"rank")
  }

  /** The BM25 ranked-candidate CTE chain (DuckDB), shared by the
    * q_bm25_topk oracle and the hybrid-fusion oracle
    * ([[Retrieval.hybridTopK]]): ends in
    * `rb(q_id, doc_id, score_micro, n_shared, rank)` — every candidate
    * document per query doc (doc_id < 10), ranked by the exact
    * micro-scaled BM25 weight of [[serveBm25TopK]] with
    * (score DESC, doc_id) ties. Callers compose it after `WITH` and
    * select from `rb`; aliases are suffixed (qb/pb/rb) so dense-side
    * CTEs can share one WITH list without collision. */
  private[graft] val oracleBm25Ranked: String = """
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents),
        tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
               FROM tok GROUP BY doc_id, token),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
               FROM tok GROUP BY doc_id),
        df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY token),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(dl) AS BIGINT) AS s FROM dl),
        wt AS (SELECT tf.doc_id, tf.token,
                 CAST(2*st.n - 2*df.df + 1 AS HUGEINT) * 44 * st.s * tf.tf * 1000000
                   // ((2*df.df + 1) * (20*st.s*tf.tf + 6*st.s
                      + 18*dl.dl*st.n)) AS w_micro
               FROM tf JOIN dl USING (doc_id) JOIN df USING (token)
               CROSS JOIN st),
        qb AS (SELECT doc_id AS q_id, token FROM tf WHERE doc_id < 10),
        pb AS (SELECT qb.q_id, wt.doc_id,
                     CAST(sum(wt.w_micro) AS BIGINT) AS score_micro,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM qb JOIN wt ON wt.token = qb.token AND wt.doc_id <> qb.q_id
              GROUP BY qb.q_id, wt.doc_id),
        rb AS (SELECT q_id, doc_id, score_micro, n_shared,
                     CAST(row_number() OVER (PARTITION BY q_id
                       ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
              FROM pb)"""

  /** Sequence PACKING: greedy in-order bin packing of documents into
    * fixed token-budget bins per source — the "pack documents into
    * training sequences" step of an LLM data pipeline (concatenate docs
    * up to the context length, start a new sequence when the next doc
    * would overflow). Semantics are inherently sequential WITHIN a
    * source (bin boundaries depend on every prior doc), so the scalable
    * shape is: compute each doc's token cost BEFORE the shuffle (3
    * narrow columns move, never the text), one hash shuffle on
    * `source`, in-partition sort by (source, doc_id), then a single
    * streaming pass per partition carrying (bin, running) state across
    * rows — no per-group materialization, so a source larger than
    * memory still packs. Parallelism = #sources; at 100 TB you pack per
    * (source, shard) so group length — not corpus size — bounds the
    * walk. Oracle = the same greedy walk as a recursive CTE. */
  /** CONTEXT-WINDOW CHUNKING — split each document's token stream into
    * overlapping fixed-width windows (size 64, stride 48 ⇒ 16-token
    * overlap): the step a training pipeline runs on long documents
    * BEFORE packing ([[packBins]] assembles the resulting chunks into
    * sequence bins), so a document longer than the model context is
    * never silently truncated and boundaries keep local context.
    *
    * Scale shape: entirely ROW-LOCAL — per-doc window starts come from
    * a `sequence` explode and each chunk is a slice of the already-split
    * token array, so the only exchange in the plan is the presentation
    * sort. Output amplification is the chosen size/stride ratio (4/3),
    * a constant — not a join, not a shuffle of the token stream. The
    * trailing window keeps whatever tokens remain (a short tail beats a
    * dropped one; dedup of tiny tails is [[TextOps]]' job downstream). */
  def chunkWindows(
      s: SparkSession, d: String,
      window: Int = 64, stride: Int = 48): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0),
          greatest(size($"toks") - 1, lit(0)), lit(stride))).as("start"))
      .select($"doc_id",
        ($"start" / stride).cast("long").as("chunk_id"),
        $"start".cast("long").as("start"),
        size(slice($"toks", $"start" + 1, lit(window))).cast("long")
          .as("n_tokens"),
        array_join(slice($"toks", $"start" + 1, lit(window)), " ")
          .as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  def packBins(s: SparkSession, d: String, budget: Long = 256L): DataFrame = {
    import s.implicits._
    val cost = when(length(trim($"text")) === 0, 0L)
      .otherwise(
        (length($"text") - length(regexp_replace($"text", " ", ""))).cast("long")
          + lit(1L))
    val costed = Tables.documents(s, d)
      .select($"source", $"doc_id", cost.as("n_tokens"))
      .repartition($"source")
      .sortWithinPartitions($"source", $"doc_id")
      .as[(String, Long, Long)]
    costed.mapPartitions { it =>
      // one partition may hold several sources (hash partitioning); the
      // sort makes each source contiguous, so state resets on change
      var curSrc: String = null
      var bin = 0L
      var running = 0L
      it.map { case (src, id, c) =>
        if (src != curSrc) { curSrc = src; bin = 0L; running = c }
        else if (running + c > budget) { bin += 1L; running = c }
        else running += c
        (src, id, bin, c)
      }
    }.toDF("source", "doc_id", "bin_id", "n_tokens")
      .orderBy($"source", $"doc_id")
  }

  /** Deterministic SHARD ASSIGNMENT + within-shard order: the "write the
    * corpus as N reproducibly-shuffled training shards" step. Shard =
    * md5 bucket of the key (engine/cluster-size independent, unlike
    * rand()); position = rank in md5 order within the shard, i.e. a
    * deterministic global shuffle of the corpus — two different engines
    * (or two runs on different cluster sizes) produce byte-identical
    * shard files. One shuffle on `shard`, which IS the shard-write
    * shuffle; the window rank reuses its partitioning. */
  def shardAssign(s: SparkSession, d: String, nShards: Int = 8): DataFrame = {
    import s.implicits._
    val h = md5($"doc_id".cast("string"))
    Tables.documents(s, d)
      .select($"doc_id", h.as("h"),
        (conv(substring(h, 1, 2), 16, 10).cast("long") % nShards).as("shard"))
      .withColumn("pos",
        row_number().over(
          Window.partitionBy($"shard").orderBy($"h", $"doc_id")).cast("long"))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"doc_id")
  }

  /** Inverted-index build: token → document frequency + a CAPPED posting
    * list (first `cap` doc_ids) — the index artifact behind exact-match
    * decontamination and retrieval audits. The cap is a BOUNDED
    * bottom-K aggregate ([[graft.pipeline.Aggregators.BottomKLongAgg]]):
    * no buffer ever holds more than `cap` postings per token AND no
    * task ever sorts a token's posting partition (the previous
    * window-rank form capped the buffer but still sorted each token's
    * full posting list — a stop-word token's partition IS the corpus,
    * the exact shape the bounded-aggregate rule exists for; map-side
    * partials now reduce each task to ≤ cap ids per token before the
    * exchange, which carries tokens × cap rows). Postings serialize as
    * a sorted csv string (arrays don't hash stably across engines). */
  def invertedIndex(s: SparkSession, d: String, cap: Int = 8): DataFrame = {
    import s.implicits._
    val posting = Tables.documents(s, d)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("token"))
      .where(length($"token") > 0)
    val bk = udaf(new graft.pipeline.Aggregators.BottomKLongAgg(cap),
      org.apache.spark.sql.Encoders.scalaLong)
    posting
      .groupBy($"token")
      .agg(
        count(lit(1)).as("df"),
        array_join(
          transform(bk($"doc_id"), _.cast("string")),
          ",").as("postings"))
      .orderBy($"token")
  }

  /** BPE MERGE INDUCTION — the tokenizer-training core loop (Sennrich,
    * Haddow & Birch, "Neural Machine Translation of Rare Words with
    * Subword Units", ACL'16): start every word as characters, repeatedly
    * merge the corpus-most-frequent ADJACENT symbol pair. Output is the
    * first K rows of the merge table a trained BPE tokenizer ships
    * (step, l, r, merged, cnt).
    *
    * Scale shape — the production trainer architecture (word-histogram
    * first, then merge over the VOCABULARY, never the corpus): the
    * corpus is touched exactly ONCE (token explode → (word, count)
    * shuffle with map-side partials); each merge step then runs on the
    * distinct-word table (vocab ≪ corpus at any scale — it grows with
    * content entropy, not data volume), as one pair-count aggregate plus
    * a ONE-ROW argmax collect (bounded driver traffic, the same
    * contract as IVF codebook training), and a row-local literal
    * replace applies the merge. One persisted base + a lazy
    * bounded-depth replace chain keeps lineage
    * flat; no corpus re-scan ever happens.
    *
    * Symbol sequences live in a padded-doubled string encoding —
    * `" a  b  c "`, two spaces between symbols, one at each end — chosen
    * so applying a merge is ONE literal replace (`" l  r "` → `" lr "`):
    * adjacent occurrences can never share a separator (no overlap
    * hazard), matching is left-to-right greedy exactly like reference
    * BPE trainers, and the replacement string restores the encoding's
    * own invariant. Ties break on (count desc, pair bytes asc), so the
    * induced merges are engine-reproducible — the DuckDB oracle replays
    * all K steps from the same rule and must land on the identical
    * merge table. */
  /** The shared trainer loop: returns the collected merge rows AND the
    * final (w, sym, wc) vocabulary, still persisted — the caller owns
    * the unpersist (merges don't need the table; encoding does). */
  private def bpeLoop(words: DataFrame, steps: Int,
      materializeFinal: Boolean)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val s = words.sparkSession
    import s.implicits._
    // ONE persisted base: the symbolized histogram. Each merge is a
    // narrow literal replace, so the per-round plan is the cached base
    // plus ≤ `steps` chained map stages. Re-running that chain against
    // cached blocks measures level with the per-round persist+count
    // alternative at sf0.1 (vocab work is job-overhead-bound here) while
    // issuing HALF the jobs — one TakeOrdered per round instead of a
    // count + TakeOrdered pair — which is the term that matters on a
    // busy cluster scheduler; lineage depth stays bounded by `steps`.
    val base = words
      .select($"w", regexp_replace($"w", "(.)", " $1 ").as("sym"), $"wc")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var vocab = base
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= steps && !exhausted) {
      val t = split(trim($"sym"), "  ")
      val best = vocab
        .select($"wc",
          slice(t, lit(1), size(t) - 1).as("a1"),
          slice(t, lit(2), size(t) - 1).as("a2"))
        .select($"wc", explode(arrays_zip($"a1", $"a2")).as("p"))
        .select($"p.a1".as("l"), $"p.a2".as("r"), $"wc")
        .groupBy($"l", $"r").agg(sum($"wc").as("c"))
        .orderBy($"c".desc, $"l".asc, $"r".asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every word is one symbol
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        out += ((k.toLong, l, r, l + r, c))
        vocab = vocab
          .select($"w", call_function("replace", $"sym",
            lit(s" $l  $r "), lit(s" $l$r ")).as("sym"), $"wc")
        k += 1
      }
    }
    if (materializeFinal && (vocab ne base)) {
      // hand the caller a self-contained final vocabulary, then drop the
      // base blocks the lazy chain was reading — encode's path; the
      // merges-only path skips this whole extra job
      vocab = vocab
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      vocab.count()
      base.unpersist(false)
    } else if (!materializeFinal) base.unpersist(false)
    (out.result(), vocab)
  }

  private[graft] def bpeTrain(words: DataFrame, steps: Int): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val (merges, _) = bpeLoop(words, steps, materializeFinal = false)
    merges.toDF("step", "l", "r", "merged", "cnt").orderBy($"step")
  }

  /** The corpus's whitespace word histogram — the one corpus-scale scan
    * of BPE training; exposed on a DataFrame so the scale probe measures
    * the identical pipeline the gated queries run. */
  private[graft] def wordHistogram(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(split($"text", " ")).as("w"))
      .where($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("wc"))
  }

  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeTrain(wordHistogram(Tables.documents(s, d)), steps = 6)

  /** BPE ENCODING audit — the tokenizer-fertility report over the corpus
    * under the merges [[bpeMerges]] just induced: per document, the
    * whitespace word count and the BPE token count after K merges, plus
    * the bytes-per-token compression ratio a tokenizer owner tracks. The
    * corpus-scale work is one word explode joined against the
    * vocabulary's final symbol counts (vocab ≪ corpus; broadcastable in
    * deployment, AQE decides here) — the documents are never themselves
    * re-segmented, because segmentation is word-local by construction:
    * a word's BPE token count is a pure function of the word. */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, vocab) = bpeLoop(wordHistogram(Tables.documents(s, d)),
      steps = 6, materializeFinal = true)
    Scope.hold(vocab)
    val nsym = vocab.select($"w",
      size(split(trim($"sym"), "  ")).cast("long").as("ns"))
    Tables.documents(s, d)
      .select($"doc_id", $"n_chars", explode(split($"text", " ")).as("w"))
      .where($"w" =!= "")
      .join(nsym, Seq("w"))
      .groupBy($"doc_id")
      .agg(
        max($"n_chars").as("n_chars"),
        count(lit(1)).as("n_words"),
        sum($"ns").as("n_bpe_tokens"))
      .select($"doc_id", $"n_words", $"n_bpe_tokens",
        ($"n_chars".cast("double") / $"n_bpe_tokens").as("chars_per_token"))
      .orderBy($"doc_id")
  }

  /** The shared oracle CTE chain: K unrolled merge steps, each
    * re-deriving the argmax pair under the identical tie-break and
    * applying the identical padded-doubled literal replace. MATERIALIZED
    * is load-bearing — DuckDB inlines plain CTEs, and each step
    * references its predecessors several times, so the inlined tree
    * grows exponentially in K (measured: a non-materialized 6-step chain
    * does not finish; materialized it runs in well under a second). */
  private def bpeChainSql(steps: Int): String = {
    val sb = new StringBuilder
    sb.append("""
        WITH w1 AS MATERIALIZED (
          SELECT w, regexp_replace(w, '(.)', ' \1 ', 'g') AS sym,
                 CAST(count(*) AS BIGINT) AS wc
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE w <> '' GROUP BY w)""")
    for (k <- 1 to steps) {
      sb.append(s"""
        , s$k AS MATERIALIZED (
          SELECT string_split(trim(sym), '  ') AS t, wc FROM w$k),
        b$k AS MATERIALIZED (
          SELECT t[i] AS l, t[i + 1] AS r, CAST(sum(wc) AS BIGINT) AS c
          FROM (SELECT t, wc, unnest(generate_series(1, len(t) - 1)) AS i
                FROM s$k WHERE len(t) >= 2)
          GROUP BY l, r ORDER BY c DESC, l, r LIMIT 1),
        w${k + 1} AS MATERIALIZED (
          SELECT w, replace(sym,
                   ' ' || (SELECT l FROM b$k) || '  ' ||
                     (SELECT r FROM b$k) || ' ',
                   ' ' || (SELECT l FROM b$k) ||
                     (SELECT r FROM b$k) || ' ') AS sym, wc
          FROM w$k)""")
    }
    sb.toString
  }

  /** The [[bpeMerges]] oracle: the chain's K argmax rows. */
  private def bpeOracleSql(steps: Int): String = {
    val sb = new StringBuilder(bpeChainSql(steps))
    sb.append("""
        SELECT * FROM (""")
    sb.append((1 to steps).map { k =>
      s"""
          SELECT CAST($k AS BIGINT) AS step, l, r, l || r AS merged,
                 c AS cnt FROM b$k"""
    }.mkString("""
          UNION ALL"""))
    sb.append("""
        ) ORDER BY step""")
    sb.toString
  }

  /** The [[bpeEncode]] oracle: per-word symbol counts off the chain's
    * final vocabulary, summed per document. */
  private def bpeEncodeOracleSql(steps: Int): String = {
    val sb = new StringBuilder(bpeChainSql(steps))
    sb.append(s"""
        , ns AS MATERIALIZED (
          SELECT w, CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS ns
          FROM w${steps + 1}),
        dw AS (
          SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS w
          FROM documents)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(ns) AS BIGINT) AS n_bpe_tokens,
               CAST(max(n_chars) AS DOUBLE) / CAST(sum(ns) AS BIGINT)
                 AS chars_per_token
        FROM dw JOIN ns USING (w)
        WHERE dw.w <> ''
        GROUP BY doc_id ORDER BY doc_id""")
    sb.toString
  }

  /** Token co-occurrence lift: the 20 unordered token pairs most
    * over-represented within a ±2 skip-gram window relative to their
    * unigram frequencies — collocation mining (PMI's argmax without
    * PMI's logarithm: lift = n_ab·N / (n_a·n_b) as integer ppm through
    * HUGEINT/decimal(38,0) intermediates, so the ranking reproduces
    * bit-for-bit where a log-based score would drift in the last ulp).
    * Pairs are canonicalized (least, greatest) so both token orders
    * accumulate together; n_ab ≥ 5 suppresses hapax noise.
    *
    * Scale: pair generation is row-local (slice + arrays_zip, no
    * position window, no self-join); the exploded pair stream reduces
    * by map-side partials to ≤ vocab² rows before its one exchange, and
    * the unigram sides broadcast. */
  def cooccurLift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d).select(split($"text", " ").as("t"))
    def grams(g: Int) = toks
      .select(
        slice($"t", lit(1), greatest(size($"t") - g, lit(0))).as("a1"),
        slice($"t", lit(1 + g), greatest(size($"t") - g, lit(0))).as("a2"))
      .select(explode(arrays_zip($"a1", $"a2")).as("z"))
      .select(least($"z.a1", $"z.a2").as("a"),
        greatest($"z.a1", $"z.a2").as("b"))
    val pc = grams(1).unionByName(grams(2))
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_ab"))
    val uni = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
    val tot = uni.agg(sum($"n").as("nn"))
    pc.join(broadcast(uni.select($"tok".as("a"), $"n".as("n_a"))), Seq("a"))
      .join(broadcast(uni.select($"tok".as("b"), $"n".as("n_b"))), Seq("b"))
      .crossJoin(broadcast(tot))
      .where($"n_ab" >= 5L)
      .withColumn("lift_ppm", expr(
        """CAST((CAST(n_ab AS DECIMAL(38,0)) * nn * 1000000)
               div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"""))
      .select($"a", $"b", $"n_ab", $"n_a", $"n_b", $"lift_ppm")
      .orderBy($"lift_ppm".desc, $"a", $"b")
      .limit(20)
  }

  /** Per-source vocabulary signature: the 3 tokens most over-represented
    * in each source relative to the whole corpus, ranked by lift
    * n_source_tok / n_global_tok. Within a source the per-source and
    * global totals are constants, so this single ratio IS the
    * tf-lift order. The ratio is ONE double division of two exact
    * BIGINTs — correctly rounded IEEE, bit-identical across engines —
    * so ordering (and the emitted ratio) reproduces exactly; ties break
    * on the token. The "what does this source talk about" profile a
    * mixture designer reads before weighting sources.
    *
    * Scale: the exploded token stream is reduced by map-side partial
    * aggregation to (source, token) pairs before either shuffle, so the
    * exchanges carry ~vocab x sources rows, not the corpus; the global
    * vocab side is a broadcast-size join. */
  def sourceSignature(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"source", explode(split($"text", " ")).as("tok"))
    val bySrc = toks.groupBy($"source", $"tok").agg(count(lit(1)).as("n_st"))
    val glob = toks.groupBy($"tok").agg(count(lit(1)).as("n_t"))
    val lift = $"n_st".cast("double") / $"n_t"
    val w = Window.partitionBy($"source").orderBy(lift.desc, $"tok")
    bySrc.join(broadcast(glob), Seq("tok"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= 3)
      .select($"source", $"rank", $"tok", $"n_st", $"n_t",
        lift.as("lift_ratio"))
      .orderBy($"source", $"rank")
  }

  // ------------------------------------------------- importance selection

  /** DSIR-shaped importance SELECTION (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS'23): score
    * every document by how target-domain-like its bigram distribution
    * is, and keep the top `k`. Target here = the `lang = 'en'` slice
    * (any domain predicate works); raw = the whole corpus. The paper's
    * score is Σ log p_tgt(b)/p_raw(b) — transcendental and therefore
    * engine-divergent — so the exact-arithmetic surrogate is the ratio
    * of the doc's AVERAGE target-frequency to average raw-frequency:
    *
    *   score_ppm = (Σ_b c_tgt(b)) · N_raw · 10⁶  div  (Σ_b c_raw(b)) · N_tgt
    *
    * — the same mean-likelihood-ratio family as [[TextOps.lmFit]], in
    * exact DECIMAL(38,0)/HUGEINT products (the paper's own hashed-ngram
    * variant motivates bag-of-bigram statistics). > 10⁶ ⇒ more
    * target-like than the corpus average. The paper RESAMPLES with
    * Gumbel noise; the deterministic analogue under this library's
    * no-RNG rule is top-k by (score, doc_id). Every doc bigram occurs
    * in the raw counts by construction, so the denominator is never 0.
    *
    * Scale shape: the two count tables reduce map-side from the bigram
    * stream ((w1,w2)-keyed, the [[TextOps.lmFit]] shape); the per-doc
    * score is one join of the doc's bigram stream against those tables
    * and one doc_id aggregate; top-k is a TakeOrdered, never a global
    * sort materialization. */
  def dsirSelect(s: SparkSession, d: String, k: Int = 100): DataFrame = {
    import s.implicits._
    // the exploded stream feeds FIVE subtrees (target counts + total,
    // raw counts + total, probe side); Catalyst does not CSE across
    // DataFrame reuse, so unpersisted the corpus would be re-tokenized
    // and re-exploded for each
    val bg = Scope.hold(Tables.documents(s, d)
      .where(size(split($"text", " ")) >= 2)
      .select($"doc_id", $"lang", split($"text", " ").as("toks"))
      .select($"doc_id", $"lang",
        slice($"toks", lit(1), size($"toks") - 1).as("a1"),
        slice($"toks", lit(2), size($"toks") - 1).as("a2"))
      .select($"doc_id", $"lang", explode(arrays_zip($"a1", $"a2")).as("b"))
      .select($"doc_id", $"lang", $"b.a1".as("w1"), $"b.a2".as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tgt = bg.where($"lang" === "en")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("ct"))
    val raw = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("cr"))
    val nT = broadcast(tgt.agg(sum($"ct").as("n_tgt")))  // 1 row
    val nR = broadcast(raw.agg(sum($"cr").as("n_raw")))  // 1 row
    bg.join(raw, Seq("w1", "w2"))
      .join(tgt, Seq("w1", "w2"), "left")
      .groupBy($"doc_id")
      .agg(
        min($"lang").as("lang"),
        count(lit(1)).as("n_bigrams"),
        sum(coalesce($"ct", lit(0L))).as("sum_ct"),
        sum($"cr").as("sum_cr"))
      .crossJoin(nT).crossJoin(nR)
      .select($"doc_id", $"lang", $"n_bigrams",
        expr("""CAST((CAST(sum_ct AS DECIMAL(38,0))
                      * CAST(n_raw AS DECIMAL(38,0)) * 1000000)
                 div (CAST(sum_cr AS DECIMAL(38,0))
                      * CAST(n_tgt AS DECIMAL(38,0))) AS BIGINT)""")
          .as("score_ppm"))
      .orderBy($"score_ppm".desc, $"doc_id")
      .limit(k)
  }

  /** Per-(source, token) corpus statistics — the standing artifact
    * retrieval scoring reads (BM25/tf-idf document frequencies, source
    * vocabulary signatures): term count and document frequency per
    * source and token. One explode + one map-side-combined aggregate. */
  private[graft] def sourceTokenStats(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"source", $"doc_id",
        explode(split($"text", " ")).as("token"))
      .groupBy($"source", $"token")
      .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
  }

  /** Takedown through standing CORPUS STATISTICS — the DECOMPOSABLE
    * artifact class, completing the retraction story alongside the
    * graph artifacts ([[NearDup.takedownSurvivors]]/[[NearDup
    * .takedownKcoreOn]]/[[NearDup.takedownPagerankOn]]): tf and df are
    * SUMS over disjoint document sets, so retracting a doc set needs
    * one scan of the REMOVED documents only — aggregate their
    * per-(source, token) contributions and subtract from the standing
    * table; rows whose df reaches 0 disappear (their token no longer
    * occurs in the source). Work ∝ removal set, never ∝ corpus; the
    * standing corpus is not re-read. Hash parity with the oracle's
    * from-scratch recompute on the filtered corpus proves the
    * subtraction exact (df subtracts cleanly because each doc has ONE
    * source — contributions never straddle groups).
    *
    * The contrast that makes this a class, not a one-off: SKETCH
    * artifacts (KMV distinct sketches, Misra–Gries heavy hitters,
    * bloom filters) are NOT subtractable — deletion support needs a
    * different sketch family entirely (count-min CAN subtract but
    * keeps its error; KMV/MG cannot know what the removed docs would
    * have displaced). A deployment keeping q_sketch_audit-style
    * artifacts standing rebuilds them per takedown batch; the rebuild
    * is one corpus scan, and the decomposable tables here are the ones
    * worth maintaining incrementally. */
  private[graft] def takedownStatsOn(
      standing: DataFrame,    // (source, token, tf, df) standing stats
      removedDocs: DataFrame  // (source, doc_id, text) the REMOVED docs
  ): DataFrame = {
    val s = standing.sparkSession
    import s.implicits._
    val small = removedDocs.count() <= NearDup.VerifyIdsBroadcastCap
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val sub = sourceTokenStats(removedDocs)
      .select($"source", $"token",
        $"tf".as("tf_rem"), $"df".as("df_rem"))
    standing.join(hinted(sub), Seq("source", "token"), "left")
      .select($"source", $"token",
        ($"tf" - coalesce($"tf_rem", lit(0L))).as("tf"),
        ($"df" - coalesce($"df_rem", lit(0L))).as("df"))
      .where($"df" > 0)
      .orderBy($"source", $"token")
  }

  def takedownStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val standing = Scope.hold(sourceTokenStats(docs).localCheckpoint(true))
    takedownStatsOn(standing, docs.where(NearDup.TakedownSparkPred))
  }

  /** Takedown through the standing BM25 SERVING artifacts — the
    * retrieval-side completion of [[takedownStatsOn]]'s decomposable
    * class: a deployed BM25 index stores per-(doc, token) tf, per-doc
    * length, per-token df and the corpus totals (n, Σdl); every one is
    * a sum over disjoint documents, so retracting a doc set needs ONE
    * scan of the removed documents — tf/dl rows are keyed deletes
    * (anti-join here; tombstone + compact on a stored table), df and
    * the totals subtract the removed docs' contributions, df rows
    * reaching 0 vanish. Work ∝ removal set; the standing corpus is
    * never re-read. The maintained tables then SERVE the exact
    * [[bm25TopK]] query — weights are derived at query time from
    * (tf, dl, df, n, s), which is why pure subtraction suffices even
    * though a removal changes EVERY document's weights (the weights
    * were never materialized). Hash parity with the oracle's
    * from-scratch BM25 on the filtered corpus proves the whole
    * maintained-serve chain exact. */
  private[graft] def takedownBm25On(
      tf: DataFrame,     // (doc_id, token, tf) standing
      dl: DataFrame,     // (doc_id, dl) standing
      dfreq: DataFrame,  // (token, df) standing
      totals: DataFrame, // one row (n, s) standing
      removedDocs: DataFrame // (doc_id, text) the REMOVED docs
  ): DataFrame = {
    val s = tf.sparkSession
    import s.implicits._
    val rmTok = removedDocs
      .select($"doc_id", explode(split($"text", " ")).as("token"))
    val rmDl = rmTok.groupBy($"doc_id").agg(count(lit(1)).as("dl_rem"))
    val rmTot = broadcast(rmDl.agg(
      count(lit(1)).as("n_rem"),
      coalesce(sum($"dl_rem"), lit(0L)).as("s_rem")))
    val rmDf = rmTok.select($"doc_id", $"token").distinct()
      .groupBy($"token").agg(count(lit(1)).as("df_rem"))
    val rmIds = broadcast(removedDocs.select($"doc_id").distinct())
    val tf2 = tf.join(rmIds, Seq("doc_id"), "left_anti")
    val dl2 = dl.join(rmIds, Seq("doc_id"), "left_anti")
    val df2 = dfreq.join(broadcast(rmDf), Seq("token"), "left")
      .select($"token",
        ($"df" - coalesce($"df_rem", lit(0L))).as("df"))
      .where($"df" > 0)
    val st2 = totals.crossJoin(rmTot) // 1 row × 1 row
      .select(($"n" - $"n_rem").as("n"), ($"s" - $"s_rem").as("s"))
    // serve: bm25TopK's query, verbatim, over the maintained tables
    serveBm25TopK(tf2, dl2, df2, st2)
  }

  /** GATE: [[takedownBm25On]] over standing tables built in-gate (the
    * deployment amortizes them — the q_takedown_* convention); oracle
    * = from-scratch BM25 on the filtered corpus. The per-doc length
    * table derives as Σtf (identical to the token count), so ONE
    * checkpointed tf table carries all four standing artifacts. */
  def takedownBm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val tf = Scope.hold(docs
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true))
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val totals = dl.agg(count(lit(1)).as("n"), sum($"dl").as("s"))
    takedownBm25On(tf, dl, dfreq, totals,
      docs.where(NearDup.TakedownSparkPred).select($"doc_id", $"text"))
  }

  /** Takedown through the standing TF-IDF artifacts — same
    * decomposable math as [[takedownBm25On]] on the (tf, df, n_docs)
    * triple [[tfidfTopTerms]] serves from: tf rows are keyed deletes,
    * df subtracts (0 rows vanish), n_docs decrements; scores are
    * query-time derivations so subtraction is the whole maintenance.
    * Serves tfidfTopTerms' exact output on the maintained tables. */
  private[graft] def takedownTfidfOn(
      tf: DataFrame,     // (doc_id, token, tf) standing
      dfreq: DataFrame,  // (token, df) standing
      nDocs: DataFrame,  // one row (n_docs) standing
      removedDocs: DataFrame // (doc_id, text)
  ): DataFrame = {
    val s = tf.sparkSession
    import s.implicits._
    val rmIds = broadcast(removedDocs.select($"doc_id").distinct())
    val rmDf = removedDocs
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .select($"doc_id", $"token").distinct()
      .groupBy($"token").agg(count(lit(1)).as("df_rem"))
    val rmN = broadcast(rmIds.agg(count(lit(1)).as("n_rem")))
    val tf2 = tf.join(rmIds, Seq("doc_id"), "left_anti")
    val df2 = dfreq.join(broadcast(rmDf), Seq("token"), "left")
      .select($"token",
        ($"df" - coalesce($"df_rem", lit(0L))).as("df"))
      .where($"df" > 0)
    val n2 = broadcast(nDocs.crossJoin(rmN)
      .select(($"n_docs" - $"n_rem").as("n_docs")))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"token")
    tf2.join(df2, "token")
      .crossJoin(n2) // 1 row
      .withColumn("score",
        $"tf" * ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= 3 && $"doc_id" < 50)
      .select($"doc_id", $"rank", $"token", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rank")
  }

  /** GATE: [[takedownTfidfOn]] over in-gate standing tables; oracle =
    * from-scratch TF-IDF on the filtered corpus. */
  def takedownTfidf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val tf = Scope.hold(docs
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true))
    val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    takedownTfidfOn(tf, dfreq, nDocs,
      docs.where(NearDup.TakedownSparkPred).select($"doc_id", $"text"))
  }

  /** Takedown through the CAPPED inverted index — the artifact class
    * where subtraction alone is NOT enough: the served posting list
    * keeps only the bottom-`cap` doc_ids, so removing a doc that held
    * a slot must RE-ELECT from rows below the old cut — information
    * the served row discarded. The honest standing form therefore
    * keeps the FULL posting table (the distinct (doc_id, token) pairs
    * — at deployment the token-partitioned posting store itself) next
    * to the capped serving rows, and a takedown touches exactly:
    *
    *  1. UNAFFECTED tokens (none of their postings removed): served
    *     rows pass through untouched — never recomputed, never read
    *     beyond the anti-join key;
    *  2. AFFECTED tokens (≥ 1 posting removed): df and the bottom-cap
    *     posting list re-elect from the full postings with the
    *     removed docs dropped — work ∝ the affected tokens' posting
    *     lists, never the corpus. Tokens whose last posting vanishes
    *     drop entirely.
    *
    * This is the [[NearDup]] touchedLabels pattern applied to tokens.
    * Hash parity with a from-scratch rebuild on the filtered corpus
    * proves both the re-election and the pass-through exact. */
  private[graft] def takedownIndexOn(
      fullPostings: DataFrame, // (doc_id, token) distinct — standing
      served: DataFrame,       // (token, df, postings) — the capped index
      removedDocs: DataFrame,  // (doc_id, text)
      cap: Int = 8): DataFrame = {
    val s = fullPostings.sparkSession
    import s.implicits._
    val rmIds = broadcast(removedDocs.select($"doc_id").distinct())
    val affected = broadcast(removedDocs
      .select(explode(array_distinct(split($"text", " "))).as("token"))
      .where(length($"token") > 0)
      .distinct())
    val untouched = served.join(affected, Seq("token"), "left_anti")
    val bk = udaf(new graft.pipeline.Aggregators.BottomKLongAgg(cap),
      org.apache.spark.sql.Encoders.scalaLong)
    val reelect = fullPostings
      .join(affected, Seq("token"))
      .join(rmIds, Seq("doc_id"), "left_anti")
      .groupBy($"token")
      .agg(count(lit(1)).as("df"),
        array_join(transform(bk($"doc_id"), _.cast("string")), ",")
          .as("postings"))
    untouched.unionByName(reelect).orderBy($"token")
  }

  /** GATE: [[takedownIndexOn]] over in-gate standing artifacts (full
    * postings + the capped serving index, both checkpointed); oracle =
    * from-scratch [[invertedIndex]] on the filtered corpus. */
  def takedownIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val full = Scope.hold(docs
      .select($"doc_id",
        explode(array_distinct(split($"text", " "))).as("token"))
      .where(length($"token") > 0)
      .localCheckpoint(true))
    val bk = udaf(new graft.pipeline.Aggregators.BottomKLongAgg(8),
      org.apache.spark.sql.Encoders.scalaLong)
    val served = Scope.hold(full
      .groupBy($"token")
      .agg(count(lit(1)).as("df"),
        array_join(transform(bk($"doc_id"), _.cast("string")), ",")
          .as("postings"))
      .localCheckpoint(true))
    takedownIndexOn(full, served,
      docs.where(NearDup.TakedownSparkPred).select($"doc_id", $"text"))
  }

  /** DELETION-CAPABLE count-min sketch over token occurrences — the
    * sketch family that CAN subtract, closing the class the other
    * standing sketches honestly cannot (KMV and Misra–Gries discard
    * exactly the information a deletion would restore; count-min is a
    * LINEAR projection of the count vector, so a member's contribution
    * subtracts exactly). Cells are (depth, col, cnt): `depth` hash
    * rows, col = the first byte of md5(depth ':' token) — the
    * engine-portable determinism idiom [[deterministicSample]]
    * established (no engine-specific hash leaves the plan). Point
    * estimates are min over depths of the token's cells and
    * OVERESTIMATE only (collisions add, never subtract) — the standard
    * CM guarantee, width 256 per row bounds the additive error by
    * ‖counts‖₁/256 per row.
    *
    * At 100 TB the sketch is a bounded map-side-combined aggregate
    * (≤ depth × 256 partial cells per task) and retraction scans only
    * the removed docs — sub-scan takedown on sketched stats, which the
    * rebuild-only sketches cannot offer at any width. */
  private[graft] def cmCells(docs: DataFrame,
      depth: Int = 4): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // r13 (guide §1.2 step 2: per-task work): aggregate the token
    // stream to per-token counts FIRST, then hash each DISTINCT token
    // `depth` times and sum counts into cells — the previous shape ran
    // `depth` md5 computations per token OCCURRENCE (4× the corpus
    // token mass) and shuffled the ×depth-exploded occurrence stream;
    // linearity of the sketch makes the cells identical (a cell's count
    // is the sum of its tokens' occurrence counts either way), and the
    // md5 work drops to vocabulary grain.
    docs.select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("tc"))
      .select($"token", $"tc", explode(array(
        (0 until depth).map(d => lit(d.toLong)): _*)).as("depth"))
      .select($"depth",
        conv(substring(md5(concat($"depth".cast("string"), lit(":"),
          $"token")), 1, 2), 16, 10).cast("long").as("col"),
        $"tc")
      .groupBy($"depth", $"col").agg(sum($"tc").as("cnt"))
  }

  /** GATE: the sketch SERVING point queries — every vocabulary token's
    * count-min estimate (min over the depth rows' cells) next to its
    * exact count; `overcount = est - true_cnt ≥ 0` is the CM
    * guarantee, visible per token. The probe side joins the
    * (≤ depth × 256)-cell sketch, never re-scans the corpus — at
    * deployment the exact side is the one-off audit, the sketch side
    * the standing answerer. */
  def cmEstimate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val cells = Scope.hold(cmCells(docs).localCheckpoint(true))
    val exact = docs.select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("true_cnt"))
    exact
      .select($"token", $"true_cnt", explode(array(
        (0 until 4).map(i => lit(i.toLong)): _*)).as("depth"))
      .select($"token", $"true_cnt", $"depth",
        conv(substring(md5(concat($"depth".cast("string"), lit(":"),
          $"token")), 1, 2), 16, 10).cast("long").as("col"))
      .join(broadcast(cells), Seq("depth", "col"))
      .groupBy($"token", $"true_cnt")
      .agg(min($"cnt").as("est"))
      .select($"token", $"true_cnt", $"est",
        ($"est" - $"true_cnt").as("overcount"))
      .orderBy($"token")
  }

  /** GATE: takedown through the standing count-min sketch — subtract
    * the removed docs' cells (scanning only them); linearity makes the
    * result EQUAL the from-scratch sketch of the filtered corpus,
    * which is exactly what the oracle computes. Cells netting to zero
    * drop (a from-scratch GROUP BY never emits empty cells). */
  def takedownSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val standing = Scope.hold(cmCells(docs).localCheckpoint(true))
    val sub = cmCells(docs.where(NearDup.TakedownSparkPred))
      .select($"depth", $"col", $"cnt".as("cnt_rem"))
    standing.join(broadcast(sub), Seq("depth", "col"), "left")
      .select($"depth", $"col",
        ($"cnt" - coalesce($"cnt_rem", lit(0L))).as("cnt"))
      .where($"cnt" > 0)
      .orderBy($"depth", $"col")
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef(
      // Spark: standing stats + one removed-docs scan, subtractive
      // update. Oracle: from-scratch aggregate on the filtered corpus.
      "q_takedown_stats", takedownStats, Some(s"""
        SELECT source, token,
               CAST(count(*) AS BIGINT) AS tf,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT source, doc_id,
                     unnest(string_split(text, ' ')) AS token
              FROM documents
              WHERE NOT ${NearDup.TakedownSqlPred}) t
        GROUP BY source, token
        ORDER BY source, token""")),
    QueryDef(
      // Spark: standing (tf, dl, df, totals) maintained subtractively
      // from one removed-docs scan, then bm25TopK's serve verbatim.
      // Oracle: from-scratch BM25 on the filtered corpus — parity
      // proves the maintained tables serve identical rankings.
      "q_takedown_bm25", takedownBm25, Some(s"""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents
                     WHERE NOT ${NearDup.TakedownSqlPred}),
        tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
               FROM tok GROUP BY doc_id, token),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
               FROM tok GROUP BY doc_id),
        df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY token),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(dl) AS BIGINT) AS s FROM dl),
        wt AS (SELECT tf.doc_id, tf.token,
                 CAST(2*st.n - 2*df.df + 1 AS HUGEINT) * 44 * st.s * tf.tf * 1000000
                   // ((2*df.df + 1) * (20*st.s*tf.tf + 6*st.s
                      + 18*dl.dl*st.n)) AS w_micro
               FROM tf JOIN dl USING (doc_id) JOIN df USING (token)
               CROSS JOIN st),
        q AS (SELECT doc_id AS q_id, token FROM tf WHERE doc_id < 10),
        p AS (SELECT q.q_id, wt.doc_id,
                     CAST(sum(wt.w_micro) AS BIGINT) AS score_micro,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM q JOIN wt ON wt.token = q.token AND wt.doc_id <> q.q_id
              GROUP BY q.q_id, wt.doc_id),
        r AS (SELECT q_id, doc_id, score_micro, n_shared,
                     CAST(row_number() OVER (PARTITION BY q_id
                       ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
              FROM p)
        SELECT q_id, rank, doc_id, score_micro, n_shared
        FROM r WHERE rank <= 5 ORDER BY q_id, rank""")),
    QueryDef(
      // same subtractive maintenance on the (tf, df, n_docs) triple;
      // oracle = from-scratch TF-IDF on the filtered corpus
      "q_takedown_tfidf", takedownTfidf, Some(s"""
        WITH tf AS (
          SELECT doc_id, token, count(*) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
                WHERE NOT ${NearDup.TakedownSqlPred}) t
          GROUP BY doc_id, token),
        df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        n AS (SELECT count(*) AS n_docs FROM documents
              WHERE NOT ${NearDup.TakedownSqlPred}),
        scored AS (
          SELECT tf.doc_id, tf.token, tf.tf, df.df,
                 tf.tf * (n.n_docs - df.df + 0.5) / (df.df + 0.5) AS score
          FROM tf JOIN df USING (token) CROSS JOIN n),
        r AS (
          SELECT doc_id, token, tf, df, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, token) AS rank
          FROM scored)
        SELECT doc_id, rank, token, tf, df, score
        FROM r WHERE rank <= 3 AND doc_id < 50
        ORDER BY doc_id, rank""")),
    QueryDef(
      // Spark: untouched tokens pass through the STANDING capped index
      // byte-identical; affected tokens re-elect bottom-cap postings
      // from the full posting table. Oracle: from-scratch rebuild on
      // the filtered corpus — parity proves re-election AND
      // pass-through exact (a stale pass-through row would mismatch).
      "q_takedown_index", takedownIndex, Some(s"""
        WITH p AS (
          SELECT DISTINCT doc_id, token
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
                WHERE NOT ${NearDup.TakedownSqlPred}) t
          WHERE length(token) > 0),
        r AS (
          SELECT doc_id, token,
                 row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
          FROM p)
        SELECT token, CAST(count(*) AS BIGINT) AS df,
               string_agg(CASE WHEN rn <= 8 THEN CAST(doc_id AS VARCHAR) END,
                          ',' ORDER BY doc_id) AS postings
        FROM r GROUP BY token ORDER BY token""")),
    QueryDef(
      // the CM guarantee per token: est >= true_cnt, both engines
      // deriving estimate and exact independently
      "q_cm_estimate", cmEstimate, Some("""
        WITH tok AS (
          SELECT unnest(string_split(text, ' ')) AS token
          FROM documents),
        ex AS (SELECT token, CAST(count(*) AS BIGINT) AS true_cnt
               FROM tok GROUP BY token),
        cells AS (
          SELECT CAST(d.depth AS BIGINT) AS depth,
                 CAST((strpos('0123456789abcdef',
                         substr(md5(CAST(d.depth AS VARCHAR) || ':' ||
                                    token), 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef',
                         substr(md5(CAST(d.depth AS VARCHAR) || ':' ||
                                    token), 2, 1)) - 1)
                   AS BIGINT) AS col,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM tok, (SELECT unnest([0, 1, 2, 3]) AS depth) d
          GROUP BY 1, 2),
        pr AS (
          SELECT ex.token, ex.true_cnt,
                 CAST(d.depth AS BIGINT) AS depth,
                 CAST((strpos('0123456789abcdef',
                         substr(md5(CAST(d.depth AS VARCHAR) || ':' ||
                                    ex.token), 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef',
                         substr(md5(CAST(d.depth AS VARCHAR) || ':' ||
                                    ex.token), 2, 1)) - 1)
                   AS BIGINT) AS col
          FROM ex, (SELECT unnest([0, 1, 2, 3]) AS depth) d)
        SELECT token, true_cnt, min(cnt) AS est,
               min(cnt) - true_cnt AS overcount
        FROM pr JOIN cells USING (depth, col)
        GROUP BY token, true_cnt ORDER BY token""")),
    QueryDef(
      // Spark: standing sketch minus the removed docs' cells (linear
      // subtraction). Oracle: from-scratch sketch of the filtered
      // corpus — equality IS the linearity proof.
      "q_takedown_sketch", takedownSketch, Some(s"""
        WITH tok AS (
          SELECT unnest(string_split(text, ' ')) AS token
          FROM documents WHERE NOT ${NearDup.TakedownSqlPred}),
        c AS (
          SELECT CAST(d.depth AS BIGINT) AS depth,
                 CAST((strpos('0123456789abcdef',
                         substr(md5(CAST(d.depth AS VARCHAR) || ':' ||
                                    token), 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef',
                         substr(md5(CAST(d.depth AS VARCHAR) || ':' ||
                                    token), 2, 1)) - 1)
                   AS BIGINT) AS col
          FROM tok, (SELECT unnest([0, 1, 2, 3]) AS depth) d)
        SELECT depth, col, CAST(count(*) AS BIGINT) AS cnt
        FROM c GROUP BY depth, col ORDER BY depth, col""")),
    QueryDef(
      "q_dsir_select", dsirSelect(_, _), Some("""
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                   FROM documents WHERE len(string_split(text, ' ')) >= 2),
        ks AS (SELECT doc_id, lang, toks,
                      unnest(generate_series(1, len(toks) - 1)) AS k
               FROM t),
        bg AS (SELECT doc_id, lang, toks[k] AS w1, toks[k+1] AS w2 FROM ks),
        tgt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS ct
                FROM bg WHERE lang = 'en' GROUP BY w1, w2),
        raw AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cr
                FROM bg GROUP BY w1, w2),
        nt AS (SELECT CAST(sum(ct) AS HUGEINT) AS n_tgt FROM tgt),
        nr AS (SELECT CAST(sum(cr) AS HUGEINT) AS n_raw FROM raw),
        sc AS (
          SELECT bg.doc_id, min(bg.lang) AS lang,
                 CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(coalesce(tgt.ct, 0)) AS HUGEINT) AS sum_ct,
                 CAST(sum(raw.cr) AS HUGEINT) AS sum_cr
          FROM bg JOIN raw USING (w1, w2) LEFT JOIN tgt USING (w1, w2)
          GROUP BY bg.doc_id)
        SELECT doc_id, lang, n_bigrams,
               CAST(sum_ct * n_raw * 1000000 // (sum_cr * n_tgt)
                 AS BIGINT) AS score_ppm
        FROM sc, nt, nr
        ORDER BY score_ppm DESC, doc_id LIMIT 100""")),
    QueryDef(
      "q_cooccur", cooccurLift, Some("""
        WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        ks1 AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS k
                FROM t),
        p1 AS (SELECT least(toks[k], toks[k+1]) AS a,
                      greatest(toks[k], toks[k+1]) AS b FROM ks1),
        ks2 AS (SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS k
                FROM t),
        p2 AS (SELECT least(toks[k], toks[k+2]) AS a,
                      greatest(toks[k], toks[k+2]) AS b FROM ks2),
        pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
               FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
               GROUP BY a, b),
        uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS tok
                      FROM documents) GROUP BY tok),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM uni)
        SELECT a, b, n_ab, ua.n AS n_a, ub.n AS n_b,
               CAST(CAST(n_ab AS HUGEINT) * nn * 1000000 //
                 (CAST(ua.n AS HUGEINT) * ub.n) AS BIGINT) AS lift_ppm
        FROM pc JOIN uni ua ON pc.a = ua.tok
                JOIN uni ub ON pc.b = ub.tok, tot
        WHERE n_ab >= 5
        ORDER BY lift_ppm DESC, a, b LIMIT 20""")),
    QueryDef(
      "q_source_signature", sourceSignature, Some("""
        WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
        s AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n_st
              FROM t GROUP BY 1, 2),
        g AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_t
              FROM t GROUP BY 1),
        r AS (SELECT s.source, s.tok, s.n_st, g.n_t,
                     CAST(s.n_st AS DOUBLE) / g.n_t AS lift_ratio,
                     row_number() OVER (PARTITION BY s.source
                       ORDER BY CAST(s.n_st AS DOUBLE) / g.n_t DESC, s.tok)
                       AS rank
              FROM s JOIN g USING (tok))
        SELECT source, CAST(rank AS BIGINT) AS rank, tok, n_st, n_t,
               lift_ratio
        FROM r WHERE rank <= 3 ORDER BY source, rank""")),
    QueryDef(
      "q_bpe_merges", bpeMerges(_, _), Some(bpeOracleSql(6))),
    QueryDef(
      "q_bpe_encode", bpeEncode(_, _), Some(bpeEncodeOracleSql(6))),
    QueryDef(
      "q_chunk_windows", chunkWindows(_, _), Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        w AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0,
                   greatest(len(toks) - 1, 0), 48)) AS start
          FROM t)
        SELECT doc_id,
               CAST(start // 48 AS BIGINT) AS chunk_id,
               CAST(start AS BIGINT) AS start,
               CAST(len(toks[start + 1 : start + 64]) AS BIGINT) AS n_tokens,
               array_to_string(toks[start + 1 : start + 64], ' ')
                 AS chunk_text
        FROM w ORDER BY doc_id, chunk_id""")),
    QueryDef(
      "q_pack_bins", packBins(_, _), Some("""
        WITH RECURSIVE d AS (
          SELECT source, doc_id,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
                   length(text) - length(replace(text, ' ', '')) + 1 END
                   AS BIGINT) AS n_tokens,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM documents),
        walk AS (
          SELECT source, doc_id, n_tokens, rn,
                 CAST(0 AS BIGINT) AS bin_id, n_tokens AS running
          FROM d WHERE rn = 1
          UNION ALL
          SELECT d.source, d.doc_id, d.n_tokens, d.rn,
                 CASE WHEN w.running + d.n_tokens > 256
                      THEN w.bin_id + 1 ELSE w.bin_id END,
                 CASE WHEN w.running + d.n_tokens > 256
                      THEN d.n_tokens ELSE w.running + d.n_tokens END
          FROM walk w JOIN d ON d.source = w.source AND d.rn = w.rn + 1)
        SELECT source, doc_id, bin_id, n_tokens
        FROM walk ORDER BY source, doc_id""")),
    QueryDef(
      "q_shard_assign", shardAssign(_, _), Some("""
        WITH a AS (
          SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                 CAST(((strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 8
                   AS BIGINT) AS shard
          FROM documents)
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                 AS BIGINT) AS pos
        FROM a ORDER BY doc_id""")),
    QueryDef(
      "q_inverted_index", invertedIndex(_, _), Some("""
        WITH p AS (
          SELECT DISTINCT doc_id, token
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents) t
          WHERE length(token) > 0),
        r AS (
          SELECT doc_id, token,
                 row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
          FROM p)
        SELECT token, CAST(count(*) AS BIGINT) AS df,
               string_agg(CASE WHEN rn <= 8 THEN CAST(doc_id AS VARCHAR) END,
                          ',' ORDER BY doc_id) AS postings
        FROM r GROUP BY token ORDER BY token""")),
    QueryDef(
      "q_sample_deterministic", deterministicSample, Some("""
        SELECT doc_id, lang, n_chars, bucket FROM (
          SELECT doc_id, lang, n_chars,
                 CAST((strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                   AS BIGINT) AS bucket
          FROM documents) t
        WHERE bucket < 26 ORDER BY doc_id""")),
    QueryDef(
      "q_bm25_topk", bm25TopK, Some(s"""
        WITH $oracleBm25Ranked
        SELECT q_id, rank, doc_id, score_micro, n_shared
        FROM rb WHERE rank <= 5 ORDER BY q_id, rank""")),
    QueryDef(
      "q_weighted_sample", weightedSample, Some {
        // 6-hex-char md5 prefix as BIGINT, digit by digit (DuckDB has no
        // base-16 conv(); strpos over the digit alphabet is exact)
        val h = "md5(CAST(doc_id AS VARCHAR))"
        val hex6 = (1 to 6).map(i =>
          s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}")
          .mkString("(", " + ", ")")
        s"""
        WITH a AS (
          SELECT doc_id, source,
                 CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS w,
                 CAST($hex6 AS BIGINT) AS u
          FROM documents)
        SELECT doc_id, source, w, u FROM a
        WHERE u * 30 < w * 16777216 ORDER BY doc_id"""
      }),
    QueryDef(
      "q_stratified_sample", stratifiedSample, Some("""
        WITH r AS (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n_lang
          FROM documents)
        SELECT doc_id, lang, rn FROM r
        WHERE rn <= ceil(0.1 * n_lang) ORDER BY doc_id""")),
    QueryDef(
      "q_tfidf", tfidfTopTerms, Some("""
        WITH tf AS (
          SELECT doc_id, token, count(*) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents) t
          GROUP BY doc_id, token),
        df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token, tf.tf, df.df,
                 tf.tf * (n.n_docs - df.df + 0.5) / (df.df + 0.5) AS score
          FROM tf JOIN df USING (token) CROSS JOIN n),
        r AS (
          SELECT doc_id, token, tf, df, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, token) AS rank
          FROM scored)
        SELECT doc_id, rank, token, tf, df, score
        FROM r WHERE rank <= 3 AND doc_id < 50
        ORDER BY doc_id, rank""")),
    QueryDef(
      "q_token_freq", tokenFrequencies, Some("""
        SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents) t
        GROUP BY token ORDER BY tf DESC, token LIMIT 50""")),
    QueryDef(
      "q_decontaminate", decontaminate, Some("""
        WITH fps AS (
          SELECT doc_id, lang,
                 md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
          FROM documents),
        bench AS (SELECT fp AS bfp FROM fps WHERE doc_id % 25 = 0)
        SELECT lang, count(*) AS n_kept
        FROM fps WHERE fp NOT IN (SELECT bfp FROM bench)
        GROUP BY lang ORDER BY lang""")),
    QueryDef(
      // same oracle as q_decontaminate: the bloom pre-filter must be
      // result-invisible (no false negatives; positives exactly verified)
      "q_decontaminate_bloom", decontaminateBloom, Some("""
        WITH fps AS (
          SELECT doc_id, lang,
                 md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
          FROM documents),
        bench AS (SELECT fp AS bfp FROM fps WHERE doc_id % 25 = 0)
        SELECT lang, count(*) AS n_kept
        FROM fps WHERE fp NOT IN (SELECT bfp FROM bench)
        GROUP BY lang ORDER BY lang""")),
    QueryDef(
      "q_chunk_dedup", chunkDupProfile, Some(s"""
        ${graft.ops.HashOracleSql.chunksCte},
        per_chunk AS (
          SELECT chunk, count(DISTINCT doc_id) AS n_docs
          FROM chunks GROUP BY chunk)
        SELECT n_docs, count(*) AS n_chunks
        FROM per_chunk GROUP BY n_docs ORDER BY n_docs""")),
    QueryDef(
      // rows = tokens an EXACT count puts above n/k; booleans = the MG
      // guarantees, required TRUE by the oracle (see heavyHitters doc)
      "q_heavy_hitters", heavyHitters(_, _), Some("""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        e AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
              FROM toks GROUP BY tok),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
        SELECT tok, n_exact,
               TRUE AS in_summary, TRUE AS within_bound
        FROM e, t WHERE n_exact * 32 > n_total
        ORDER BY tok""")),
    QueryDef(
      // exact rows + sketch-contract booleans, required TRUE (see
      // sketchAudit doc): gates HLL++ and the quantile sketch the way
      // q_heavy_hitters gates Misra-Gries
      "q_sketch_audit", sketchAudit, Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               TRUE AS hll_within, TRUE AS median_within
        FROM events GROUP BY event_type ORDER BY event_type""")),
    QueryDef(
      "q_value_quantiles", valueQuantiles, Some("""
        SELECT event_type, count(*) AS n,
               min(value) AS v_min,
               quantile_cont(value, 0.5) AS v_median,
               max(value) AS v_max
        FROM events GROUP BY event_type ORDER BY event_type"""))
  )
}
