package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scope
import graft.ops.{QueryDef, QueryModule, Tables}

/** Text-analysis + deduplication operators over the `documents` table — the
  * LLM-training-data-pipeline extension (north star; absent from the
  * reference, which only moves opaque payloads — /root/reference/src/main.rs:22-34).
  *
  * The row-local operators (stats, lang-ID, repetition, LM fit) are
  * narrow projections — zero shuffles; the corpus-grain operators
  * (dedup, span census/scrub, novelty, overlap) shuffle exactly once on
  * a constant-width hash key, never on text. All hot-path expressions
  * are Catalyst built-ins or codegen'd natives — no UDFs except the
  * bounded bottom-k sketch aggregate — so the same plans scale to
  * 100 TB by adding executors.
  *
  * Cross-engine determinism: all counts are derived with the
  * occurrence-count identity `(len(s) - len(replace(s, m, ''))) / len(m)`
  * and regexp character classes that mean the same thing in Java regex
  * (Spark) and RE2 (DuckDB); ratios are single double divisions of exact
  * integers, reproducible bit-for-bit on both engines.
  */
object TextOps extends QueryModule {

  /** #tokens equal to `w` — token-exact, immune to the adjacent-marker
    * undercount that padded-substring counting has ("a a a" counts 3, not
    * 2): filter over the split array, identical in DuckDB as
    * len(list_filter(string_split(text,' '), t -> t = w)).
    *
    * MEASURED: replacing this with codegen'd
    * `regexp_count("(?<=^| )w(?= |$)")` made q_lang_id 54% and
    * q_text_stats 30% SLOWER at sf0.1 — Java's variable-length
    * lookbehind backtracks at every byte, costing more than the
    * interpreted-HOF overhead it removes. The split array is also
    * shared across the four stopword counts by Catalyst subexpression
    * elimination, so the HOF form pays for one split, not four. */
  private[operators] def tokenOccurrences(s: Column, w: String): Column =
    size(filter(split(s, " "), t => t === w)).cast("long")

  /** #tokens in any of `words` — the set form of [[tokenOccurrences]],
    * computed by the native single-pass zero-allocation kernel
    * ([[graft.functions.TokenSetCount]]) instead of split+filter: the
    * split array may be shared across counts by subexpression
    * elimination, but it is still one array allocation + interpreted
    * HOF lambda per row; the kernel scans the raw bytes once. Counts
    * are identical to Σ_w tokenOccurrences(s, w) on any input. */
  private[operators] def tokenSetCount(s: Column, words: Seq[String]): Column =
    graft.functions.TokenSetCount.token_set_count(s, words)

  /** The library-wide stopword-count rule (the 4-word English set every
    * quality filter uses), one native pass. */
  private[operators] def stopwordCount(s: Column): Column =
    tokenSetCount(s, StopWords)

  private val StopWords = Seq("the", "a", "of", "and")

  /** Whitespace token count for single-space-separated text:
    * #spaces + 1 (0 for empty/blank), the spaces counted as the length
    * a plain `replace` removes — long arithmetic, no regex. */
  private[graft] def tokenCount(s: Column): Column =
    when(length(trim(s)) === 0, 0L)
      .otherwise(length(s).cast("long") -
        length(replace(s, lit(" "), lit(""))).cast("long") + lit(1L))

  /** The composite quality score (stopword-ratio weight + length-band
    * bonus) — ONE definition shared by [[textStats]] and
    * [[Curation.qualityCalibrate]] (and mirrored in both oracles), so
    * the calibration can never silently diverge from the stats. */
  private[graft] def qualityScore(t: Column): Column = {
    val nTokens = tokenCount(t)
    val nStop = stopwordCount(t)
    when(nTokens === 0, 0.0).otherwise(
      (nStop.cast("double") / nTokens) * 2.0
        + when(nTokens >= 20 && nTokens <= 1000, 1.0).otherwise(0.0))
  }

  /** [[tokenCount]] of the text column `t`, in DuckDB SQL. */
  private[graft] def oracleTokenCount(t: String = "text") =
    s"""CASE WHEN length(trim($t)) = 0 THEN 0 ELSE
                   length($t) - length(replace($t, ' ', '')) + 1 END"""

  /** [[stopwordCount]] of `text`, in DuckDB SQL: one whole-token count
    * per word of the same 4-word set. */
  private[graft] val oracleStopwordCount =
    StopWords
      .map(w => s"len(list_filter(string_split(text, ' '), t -> t = '$w'))")
      .mkString("\n                  + ")

  /** [[qualityScore]] in DuckDB SQL, over the columns `n_tokens` and
    * `nStop` (the [[oracleTokenCount]] and [[oracleStopwordCount]]). */
  private[graft] def oracleQualityScore(nStop: String) = s"""
                 CASE WHEN n_tokens = 0 THEN 0.0 ELSE
                   (CAST($nStop AS DOUBLE) / n_tokens) * 2.0
                   + (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000
                      THEN 1.0 ELSE 0.0 END) END"""

  /** `q(doc_id, quality_score)`: [[qualityScore]] of every document, the
    * survivor rank of the near-dup and curation oracles. */
  private[graft] val oracleQuality = s"""
        q AS (
          SELECT doc_id,
                 ${oracleQualityScore("n_stopwords")} AS quality_score
          FROM (SELECT doc_id,
                  ${oracleTokenCount()}
                    AS n_tokens,
                  $oracleStopwordCount
                    AS n_stopwords
                FROM documents) b)"""

  /** `grams`: every 8-token window `g` of every document, with the
    * columns `cols` of its start position `pos(doc_id, t, i)`. */
  private def oracleGrams8(cols: String) = s"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
          FROM toks WHERE len(t) >= 8),
        grams AS (
          SELECT $cols, array_to_string(t[i:i+7], ' ') AS g FROM pos)"""

  /** The source-overlap sketch: each source's distinct 5-gram set `g`,
    * its bottom-128 md5 sketch `sk`, every source pair `pairs`, and
    * `est`, the pair's sketch hits among the bottom 128 of the merged
    * sketches. */
  private val oracleSourceSketch = """
        WITH d AS (
          SELECT source, string_split(text, ' ') AS t FROM documents),
        g0 AS (
          SELECT source,
                 unnest(list_transform(generate_series(1, len(t) - 4),
                   i -> array_to_string(t[i:i+4], ' '))) AS g
          FROM d WHERE len(t) >= 5),
        g AS (SELECT DISTINCT source, g FROM g0),
        h AS (SELECT source, md5(g) AS h FROM g),
        sk AS (
          SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM h)
          WHERE rn <= 128),
        srcs AS (SELECT DISTINCT source FROM g),
        pairs AS (
          SELECT a.source AS src_a, b.source AS src_b
          FROM srcs a JOIN srcs b ON a.source < b.source),
        m AS (
          SELECT src_a, src_b, h,
                 max(in_a) AS in_a, max(in_b) AS in_b
          FROM (
            SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN sk s ON s.source = p.src_a
            UNION ALL
            SELECT p.src_a, p.src_b, s.h, 0, 1
            FROM pairs p JOIN sk s ON s.source = p.src_b) u
          GROUP BY src_a, src_b, h),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY src_a, src_b ORDER BY h) AS rn
          FROM m),
        est AS (
          SELECT src_a, src_b,
                 CAST(sum(CASE WHEN in_a = 1 AND in_b = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS sketch_hits,
                 CAST(count(*) AS BIGINT) AS k_used
          FROM r WHERE rn <= 128 GROUP BY src_a, src_b)"""

  /** [[normalize]]d text's md5, the exact-dup key of [[fingerprint]]. */
  private[graft] val oracleFingerprint =
    """md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"""

  /** `b`: per document the inputs of the curation filters ([[tokenCount]],
    * [[stopwordCount]], [[oracleFingerprint]]) plus the columns `cols`. */
  private def oracleFilterInputs(cols: String) = s"""
        b AS (
          SELECT doc_id, $cols,
                 CAST(${oracleTokenCount()}
                   AS BIGINT) AS n_tokens,
                 CAST($oracleStopwordCount
                   AS BIGINT) AS n_stop,
                 $oracleFingerprint AS fp
          FROM documents)"""

  /** [[oracleFilterInputs]], then `r`: the first failed filter rule of
    * [[curateCorpus]] (NULL when none), and `rk`: the exact-dup rank
    * `rn` within each (fingerprint, passed-so-far) group. */
  private val oracleFilterReasons = s"""${oracleFilterInputs("lang")},
        r AS (
          SELECT doc_id, n_tokens, fp,
                 CASE WHEN lang NOT IN ('en', 'de', 'es', 'fr') THEN 'lang'
                      WHEN n_tokens < 20 THEN 'too_short'
                      WHEN n_tokens > 1000 THEN 'too_long'
                      WHEN n_stop * 100 < n_tokens THEN 'low_stopword'
                 END AS pre_reason
          FROM b),
        rk AS (
          SELECT *, row_number() OVER (
                   PARTITION BY fp, pre_reason IS NULL ORDER BY doc_id) AS rn
          FROM r)"""

  /** Normalization for fingerprinting: lowercase, strip non-alphanumerics
    * (keeping spaces), collapse runs of whitespace. Native one-pass
    * kernel ([[graft.functions.NormalizeText]]) — identical output to
    * the regex chain it replaced (exact Java fallback for rows with
    * non-ASCII bytes), without two regex engines per row. */
  private def normalize(s: Column): Column =
    graft.functions.NormalizeText.normalize_text(s)

  /** Exact deduplication: hash-groupBy on the full text. At scale this is
    * one shuffle on the dedup key with map-side partial aggregation; the
    * usual 100 TB variant groups on a fingerprint hash instead of the raw
    * text to bound shuffle width — see [[fingerprint]]. */
  def dedupExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"text")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  /** Fingerprint dedup: md5 over normalized text — the constant-width dedup
    * key used at scale (group/shuffle on 16 bytes, not document bodies). */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", md5(normalize($"text")).as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  /** Per-document quality statistics: token/char counts, punctuation and
    * stopword ratios, and a composite quality score (the length/punct/
    * stopword heuristic used to filter LLM training text). */
  def textStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = $"text"
    val nTokens = tokenCount(t)
    val nStop = stopwordCount(t)
    val nPunct = length(t) - length(regexp_replace(t, "[^a-zA-Z0-9\\s]", ""))
    // r13: regex/token counting per row on the single-partition bench
    // scan — spread first (structural no-op at deployment scale)
    graft.ops.Par.spread(
      Tables.documents(s, d).select($"doc_id", $"text"), $"doc_id")
      .select(
        $"doc_id",
        length(t).cast("long").as("n_chars"),
        nTokens.as("n_tokens"),
        nStop.as("n_stopwords"),
        nPunct.cast("long").as("n_punct"),
        (length(regexp_replace(t, " ", "")).cast("double") / nTokens)
          .as("avg_token_len"),
        (nStop.cast("double") / nTokens).as("stopword_ratio"),
        qualityScore(t).as("quality_score"))
      .orderBy($"doc_id")
  }

  /** Gopher-style repetition signals: the duplicate-content heuristics
    * (top-token fraction, distinct-bigram fraction) used to filter
    * boilerplate/spam from LLM training corpora. Every signal is
    * document-LOCAL, so the whole query is one narrow codegen'd scan —
    * per-doc token counts from [[graft.functions.RepetitionStatsExpr]],
    * the distinct-bigram count from the native shingle-set expression —
    * where the naive explode + groupBy(doc, token) form would shuffle
    * the corpus's entire token stream twice. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        graft.functions.VectorExpressions.repetition_stats($"text").as("rep"),
        size(graft.functions.VectorExpressions.text_shingles($"text", 2))
          .cast("long").as("ndb"))
      .select($"doc_id",
        $"rep.n_tokens".as("n_tokens"),
        $"rep.n_distinct_tokens".as("n_distinct_tokens"),
        ($"rep.top_cnt".cast("double") / $"rep.n_tokens").as("top_tok_frac"),
        ($"ndb".cast("double") / greatest($"rep.n_tokens" - 1, lit(1L)))
          .as("distinct_bigram_frac"))
      .orderBy($"doc_id")
  }

  /** Language-ID: marker-word n-gram heuristic (argmax of per-language
    * marker counts, deterministic tie-break by fixed priority). */
  def langId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lowered = lower($"text")
    val cEn = tokenSetCount(lowered, Seq("the"))
    val cDe = tokenSetCount(lowered, Seq("der", "und"))
    val cFr = tokenSetCount(lowered, Seq("le", "et"))
    val cEs = tokenSetCount(lowered, Seq("el", "y"))
    Tables.documents(s, d)
      .select($"doc_id", $"lang".as("labeled_lang"),
        cEn.as("c_en"), cDe.as("c_de"), cFr.as("c_fr"), cEs.as("c_es"))
      .withColumn(
        "pred_lang",
        when($"c_en" >= greatest($"c_de", $"c_fr", $"c_es"), "en")
          .when($"c_de" >= greatest($"c_fr", $"c_es"), "de")
          .when($"c_fr" >= $"c_es", "fr")
          .otherwise("es"))
      .orderBy($"doc_id")
  }

  /** Token count with a BPE-ish regex (letter runs / digit runs / single
    * other non-space chars), alongside the whitespace count. */
  def tokenCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(
        $"doc_id",
        tokenCount($"text").as("n_ws_tokens"),
        size(expr(
          "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
          .cast("long").as("n_bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** End-to-end corpus CLEANING composition — the canonical LLM
    * data-prep chain run as ONE declarative plan: language allowlist +
    * quality thresholds (token count in range, minimum stopword
    * density) + fingerprint dedup keeping the lowest doc_id, reported
    * as kept-docs/kept-tokens per (lang, source). Each stage is exactly
    * the operator registered standalone ([[langId]]-style filter,
    * [[textStats]] thresholds, [[fingerprint]] dedup) — composing them
    * in one DataFrame lets Catalyst fuse all the narrow work into a
    * single codegen'd scan stage before the one dedup shuffle, instead
    * of three materialized passes over the corpus. The stopword
    * threshold is exact integer math (`n_stop * 100 >= n_tokens`), not
    * a float ratio compare, so the predicate is bit-identical across
    * engines. */
  def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = $"text"
    val nTokens = tokenCount(t)
    val nStop = stopwordCount(t)
    val keepRank = Window.partitionBy($"fp").orderBy($"doc_id")
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source",
        nTokens.as("n_tokens"), nStop.as("n_stop"),
        md5(normalize(t)).as("fp"))
      .where($"lang".isin("en", "de", "es", "fr")
        && $"n_tokens".between(20, 1000)
        && $"n_stop" * 100L >= $"n_tokens")
      .withColumn("rn", row_number().over(keepRank))
      .where($"rn" === 1)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
      .orderBy($"lang", $"source")
  }

  /** The first row-local rule that rejects a document (lang →
    * too_short → too_long → low_stopword), NULL when all pass — over
    * the `lang`, `n_tokens` and `n_stop` columns. */
  private def preReason: Column =
    when(!col("lang").isin("en", "de", "es", "fr"), "lang")
      .when(col("n_tokens") < 20, "too_short")
      .when(col("n_tokens") > 1000, "too_long")
      .when(col("n_stop") * 100L < col("n_tokens"), "low_stopword")

  /** FILTER AUDIT — per-rule drop attribution for the [[cleanCorpus]]
    * cascade: every document gets the FIRST rule that rejects it (rule
    * order fixed: lang → too_short → too_long → low_stopword →
    * exact_dup → kept), aggregated to (reason, n_docs, n_tokens). This
    * is the artifact a production cascade is tuned with: "how much did
    * each rule cost me, in documents and tokens" — survivors alone
    * ([[cleanCorpus]]) can't answer it.
    *
    * Scale shape: all rule columns are row-local scan-stage work; the
    * only wide stage before the final tiny aggregate is the SAME
    * fingerprint-window shuffle cleanCorpus runs — the dup rank is
    * computed within (fp, passed-prior-rules), so failing docs can't
    * displace a survivor's rank, exactly matching the cascade's
    * semantics (dedup runs on what the filters let through). */
  def filterAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = $"text"
    val nTokens = tokenCount(t)
    val nStop = stopwordCount(t)
    // rank only among docs that passed every row-local rule: the window
    // partitions on (fp, passed) so rejected docs sit in a partition a
    // survivor's rank never sees
    val w = Window.partitionBy($"fp", $"pre_reason".isNull)
      .orderBy($"doc_id")
    Tables.documents(s, d)
      .select($"doc_id", $"lang",
        nTokens.as("n_tokens"), nStop.as("n_stop"),
        md5(normalize(t)).as("fp"))
      .withColumn("pre_reason", preReason)
      .withColumn("rn", row_number().over(w))
      .select($"n_tokens",
        coalesce($"pre_reason",
          when($"rn" > 1, "exact_dup").otherwise("kept")).as("reason"))
      .groupBy($"reason")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .orderBy($"reason")
  }

  /** Bigram-LM corpus-fit scoring: train bigram/unigram counts on the
    * corpus, then score each document by how typical its bigrams are —
    * the n-gram-LM quality-filter shape (KenLM-style perplexity
    * filtering) with EXACT arithmetic: instead of Σ -log p (ln differs
    * across engines in the last ulp, which a hash oracle would catch),
    * the score is the aggregate likelihood ratio Σc(w1,w2) / Σc(w1·) —
    * order-free BIGINT sums and ONE correctly-rounded double division —
    * plus a rare-bigram count (c12 ≤ 2), the strongest outlier signal.
    *
    * Scale shape: bigram extraction is ROW-LOCAL (slice + arrays_zip,
    * all codegen'd — no window over token position, so no shuffle before
    * counting); the count tables shuffle once each on their token keys
    * with map-side partials; scoring re-joins the bigram stream against
    * both (broadcastable when the vocabulary is bounded; plain shuffle
    * equi-joins otherwise) and folds per doc. */
  def lmFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bg = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id",
        slice($"toks", lit(1), size($"toks") - 1).as("a1"),
        slice($"toks", lit(2), size($"toks") - 1).as("a2"))
      .select($"doc_id", explode(arrays_zip($"a1", $"a2")).as("b"))
      .select($"doc_id", $"b.a1".as("w1"), $"b.a2".as("w2"))
    val c12 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
    bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum($"c12").as("sum_c12"),
        sum($"c1").as("sum_c1"),
        (sum($"c12").cast("double") / sum($"c1").cast("double")).as("fit"),
        sum(when($"c12" <= 2L, 1L).otherwise(0L)).as("n_rare"))
      .orderBy($"doc_id")
  }

  /** Corpus-scale ordinary least squares (chars-on-tokens), solved by
    * the normal equations in ONE aggregation pass: the six sufficient
    * statistics (n, Σx, Σy, Σx², Σxy, Σy²) reduce map-side, and the
    * closed form runs on the single reduced row — no iterations, no
    * driver loop, unbounded corpus. Every operand up to the final
    * division is an exact integer (decimal(38,0) here, HUGEINT in the
    * oracle), so both engines divide the same two integers — the
    * determinism discipline of the md5 samplers applied to regression.
    * The fitted line itself is the length-model used for packing
    * estimates and outlier flagging (a doc far off the corpus
    * chars-per-token line is boilerplate or junk). */
  def linregFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sums = Tables.documents(s, d)
      .select(tokenCount($"text").as("x"), $"n_chars".as("y"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"),
        sum($"x" * $"y").as("sxy"),
        sum($"y" * $"y").as("syy"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val n = dec($"n"); val sx = dec($"sx"); val sy = dec($"sy")
    val sxx = dec($"sxx"); val sxy = dec($"sxy"); val syy = dec($"syy")
    val det = n * sxx - sx * sx
    val slopeNum = n * sxy - sx * sy
    val interNum = sxx * sy - sx * sxy
    val sstNum = n * syy - sy * sy
    sums.select(
      $"n".cast("long").as("n"),
      when(det === 0, 0.0)
        .otherwise(slopeNum.cast("double") / det.cast("double"))
        .as("slope"),
      when(det === 0, 0.0)
        .otherwise(interNum.cast("double") / det.cast("double"))
        .as("intercept"),
      when(det === 0 || sstNum === 0, 0.0)
        .otherwise((slopeNum * slopeNum).cast("double")
          / (det * sstNum).cast("double"))
        .as("r2"))
  }

  /** Duplicated-SPAN detection: the corpus-level exact-substring dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL'22) re-shaped for a distributed engine — their
    * suffix array is a single-machine structure, so the scalable form is
    * fixed-width token n-grams (n = 8): a span is "duplicated" when the
    * same 8-token window appears in ≥ 2 DISTINCT documents (within-doc
    * repetition is [[repetition]]'s domain). Output is the per-document
    * span census a cleaning pass keys off: total spans, corpus-duplicated
    * spans, and their ratio.
    *
    * Scale shape: n-gram construction is ROW-LOCAL (one codegen'd
    * [[graft.functions.VecOps.ngramHashes]] pass: per-token FNV-1a/64
    * once, O(1) rolling window slide) and each span travels as an 8-byte
    * long, never the text. The span stream shuffles ONCE on (gram, doc) with
    * map-side partial counts — the unavoidable corpus-wide exchange any
    * global frequency needs; the cross-doc count rides a window over the
    * already-reduced (gram, doc) table (an exchange of the REDUCED set,
    * not the span stream — and no countDistinct, whose Expand would
    * double the stream through the aggregation); the final per-doc fold
    * shuffles rows already collapsed to one per (gram, doc).
    *
    * Known scale lever — boilerplate-gram skew: the window keys the
    * (gram, doc) table by gram alone, so a gram present in a large
    * fraction of the corpus lands in ONE window partition (windows have
    * no AQE skew mitigation). The swap is persist the (gram, doc)
    * aggregate and replace the window with a groupBy(gram) count joined
    * back on gram — sort-merge joins ARE AQE-skew-splittable. It is not
    * the default because without the persist Catalyst plans the span
    * stream TWICE (measured: AQE re-plans the count subtree as an
    * independent scan instead of reusing the exchange), which doubles
    * the dominant cost for every corpus to hedge a pathological one. */
  /** N-GRAM DECONTAMINATION — the industry-standard eval-overlap rule
    * (n-gram collision, not whole-document identity, which
    * [[graft.operators.Corpus.decontaminate]]'s fingerprint form
    * checks): a training document is contaminated when it shares ANY
    * 8-token span with a held-out benchmark document (every 25th doc
    * stands in, as in the fingerprint form). Catches partial inclusion
    * — an embedded eval question inside an otherwise-novel document —
    * which no whole-doc hash can see.
    *
    * Scale shape: spans move as constant-width row-local hashes, never
    * text — [[graft.functions.VecOps.ngramHashes]]' rolling 64-bit keys:
    * the hash only forms JOIN candidates (a collision is one spurious
    * flag, ~1e-8 odds even at 10^12 corpus grams, and the oracle joins
    * raw gram strings so the gate is hash-agnostic). The native kernel
    * hashes each token ONCE and slides the window in O(1) longs, where
    * the previous xxhash64(array_join(slice(…))) chain built and hashed
    * an n-token string per position (a HOF-composed hash-of-token-hashes
    * attempt had measured 6x WORSE — nested array HOFs leave codegen —
    * which is exactly what pushing the loop into one codegen'd
    * expression fixes; measured ~3.5x on this query). The
    * benchmark gram set is DISTINCT'd and broadcast (a benchmark suite
    * is small by construction — and past broadcast size the
    * [[graft.functions.BloomSketch]] scan-side test from the
    * fingerprint form composes unchanged); the corpus side then flags
    * in its scan stage with one semi-join shape and aggregates
    * per (lang, contaminated). */
  def decontaminateNgram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 8
    val docs = Tables.documents(s, d)
    def grams(df: DataFrame) = df
      .select($"doc_id", $"lang",
        graft.functions.VectorExpressions.ngram_hashes($"text", n).as("ghs"))
    val benchGrams = broadcast(
      grams(docs.where($"doc_id" % 25 === 0))
        .select(explode($"ghs").as("bg")).distinct())
    val flagged = grams(docs.where($"doc_id" % 25 =!= 0))
      .select($"doc_id", explode($"ghs").as("gh"))
      .join(benchGrams, $"gh" === $"bg")
      .select($"doc_id").distinct()
      .withColumn("hit", lit(true))
    docs.where($"doc_id" % 25 =!= 0)
      .select($"doc_id", $"lang")
      .join(flagged, Seq("doc_id"), "left")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"hit", 1L).otherwise(0L)).as("n_contaminated"))
      .orderBy($"lang")
  }

  def dupSpans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 8
    val docs = Tables.documents(s, d)
    val grams = docs
      .select($"doc_id",
        graft.functions.VectorExpressions.ngram_hashes($"text", n).as("ghs"))
      .select($"doc_id", explode($"ghs").as("gh"))
    val perDocGram = grams.groupBy($"gh", $"doc_id")
      .agg(count(lit(1)).as("npos"))
    val nDocsWithGram = Window.partitionBy($"gh")
    val perDoc = perDocGram
      .withColumn("ndocs", count(lit(1)).over(nDocsWithGram))
      .groupBy($"doc_id")
      .agg(
        sum($"npos").as("spans"),
        sum(when($"ndocs" > 1, $"npos").otherwise(0L)).as("dups"))
    docs.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"spans", lit(0L)).as("n_spans"),
        coalesce($"dups", lit(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio",
        when($"n_spans" === 0L, 0.0)
          .otherwise($"n_dup_spans".cast("double") / $"n_spans"))
      .orderBy($"doc_id")
  }

  /** Duplicated-span REMOVAL — the actionable half of [[dupSpans]]:
    * scrub every token covered by a corpus-duplicated 8-token span
    * (boilerplate-style removal: an occurrence in ≥ 2 documents drops
    * everywhere; survivor-aware removal would additionally key on
    * [[NearDup.dedupSurvivor]]'s keep flag). Span hits overlap heavily —
    * a duplicated run of L tokens fires L−7 overlapping windows — so
    * positions collapse to interval ISLANDS first (gaps-and-islands:
    * running max of span end, break when a span starts past it), and the
    * rewrite drops exactly the tokens inside some island.
    *
    * Scale shape: everything before the rewrite moves (doc_id, position)
    * pairs and 8-byte rolling-hash keys, never text; islands group by
    * doc with
    * map-side partials (bounded: islands per doc ≤ spans per doc, and a
    * fully-duplicated doc is ONE island). The rewrite is a row-local
    * nested higher-order filter (token index ∉ any island) in the scan
    * stage of the final join — text crosses one join boundary, the
    * unavoidable cost of emitting rewritten documents. */
  def spanScrub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 8
    val docs = Tables.documents(s, d)
    val positions = graft.ops.Par.spread(
      docs.select($"doc_id", $"text"), $"doc_id") // r13: kernel spread
      .select($"doc_id",
        graft.functions.VectorExpressions.ngram_hashes($"text", n).as("ghs"))
      .select($"doc_id", posexplode($"ghs").as(Seq("p", "gh")))
      .select($"doc_id", ($"p" + 1).as("i"), $"gh") // 1-based span starts
    // positions ride the ONE (gram, doc) shuffle as a packed list, so no
    // second exchange / join is needed to recover them afterwards
    val nDocsWithGram = Window.partitionBy($"gh")
    val dupPositions = positions
      .groupBy($"gh", $"doc_id")
      .agg(collect_list($"i").as("pos"))
      .withColumn("ndocs", count(lit(1)).over(nDocsWithGram))
      .where($"ndocs" > 1)
      .select($"doc_id", explode($"pos").as("i"))
    val byPos = Window.partitionBy($"doc_id").orderBy($"i")
    val prevEnd = Window.partitionBy($"doc_id").orderBy($"i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val islands = dupPositions
      .select($"doc_id", $"i", ($"i" + (n - 1)).as("e"))
      .withColumn("pme", max($"e").over(prevEnd))
      .withColumn("brk",
        when($"pme".isNull || $"i" > $"pme" + 1, 1L).otherwise(0L))
      .withColumn("isl", sum($"brk").over(byPos))
      .groupBy($"doc_id", $"isl")
      .agg(min($"i").as("s"), max($"e").as("e"))
      .groupBy($"doc_id")
      .agg(collect_list(struct($"s", $"e")).as("iv"),
        sum($"e" - $"s" + 1L).as("covered"))
    val joined = docs
      .join(islands, Seq("doc_id"), "left")
      .select($"doc_id", $"text",
        coalesce($"iv", array().cast("array<struct<s:int,e:int>>")).as("iv"),
        coalesce($"covered", lit(0L)).as("n_covered"))
    // The higher-order-function rewrite is the only form: a native
    // interval-walk kernel measured no faster (this form vs the kernel:
    // sf0.1 min-of-3 1.305 vs 1.294 s, 10⁶ single run 23.4 vs 25.1 s) —
    // this query's cost is the duplicated-span join, and the covered
    // interval lists are short enough that the interpreted
    // filter/exists lambda never shows.
    joined
      .select($"doc_id", split($"text", " ").as("t"), $"iv", $"n_covered")
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens"),
        $"n_covered",
        array_join(
          filter($"t", (x, idx) =>
            !exists($"iv", v => idx + 1 >= v("s") && idx + 1 <= v("e"))),
          " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  /** Per-document NOVELTY score — the fraction of a document's DISTINCT
    * 5-token-grams that appear in no other document. The inverse signal
    * of [[dupSpans]]' dup_ratio: dup_ratio measures how much of a doc's
    * span MASS is corpus-duplicated (boilerplate detection), novelty
    * measures how much of its VOCABULARY-in-context is unique
    * (upweighting signal for information-dense documents in mixture
    * sampling — the doc-level uniqueness score curation recipes rank
    * on).
    *
    * Scale shape (same skeleton as [[dupSpans]]): grams dedup ROW-LOCALLY
    * (`array_distinct` inside the scan projection, so per-doc repeats
    * never reach the exchange), then ONE gram-grain exchange carries the
    * document-frequency window, and the per-doc rollup aggregates with
    * map-side partials back at doc grain. Text itself never shuffles —
    * only 8-byte rolling-hash keys ([[graft.functions.VectorExpressions.ngram_hashes]],
    * the codegen'd FNV kernel).
    *
    * Determinism: counts are exact longs; the ratio is a single double
    * division, bit-reproducible in both engines. */
  def novelty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 5
    val docs = Tables.documents(s, d)
    val grams = docs
      .select($"doc_id",
        array_distinct(
          graft.functions.VectorExpressions.ngram_hashes($"text", n))
          .as("ghs"))
      .select($"doc_id", explode($"ghs").as("gh"))
    // grams are per-doc distinct, so count-over-gram IS document frequency
    val dfw = Window.partitionBy($"gh")
    val perDoc = grams
      .withColumn("df", count(lit(1)).over(dfw))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when($"df" === 1L, 1L).otherwise(0L)).as("unique_grams"))
    docs.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"unique_grams", lit(0L)).as("unique_grams"))
      .withColumn("novelty",
        when($"n_grams" === 0L, 0.0)
          .otherwise($"unique_grams".cast("double") / $"n_grams"))
      .orderBy($"doc_id")
  }

  /** Cross-source corpus overlap: for every unordered pair of sources,
    * the bottom-k-sketch ESTIMATE of the 5-token-gram Jaccard similarity
    * next to the exact value — the "how much does source A duplicate
    * source B" matrix that drives source selection and mixing weights
    * before any doc-level dedup runs.
    *
    * ONE corpus-grain pass feeds both answers: gram occurrences hash to
    * md5 and aggregate into a per-gram source-set POSTING (map-side
    * collect_set partials dedup before the exchange; the set is bounded
    * by S = #sources, metadata cardinality). From the postings:
    *  - exact intersection counts per pair via a narrow ≤S×S explode —
    *    no gram-grain self-join anywhere;
    *  - per-source KMV sketches ([[graft.pipeline.Aggregators.BottomKAgg]]:
    *    k smallest md5 values, BOUNDED k-entry per-task state, map-side
    *    combined) collapse each source to one sorted array, and the
    *    pair ESTIMATE — |bottom-k of sketch(A) ∪ sketch(B) present in
    *    both| / k — is entirely ROW-LOCAL array arithmetic over S²
    *    broadcast-joined rows. Everything below the postings line is
    *    O(S²·k), independent of corpus size.
    * Standalone-sketch note: without the exact audit, the sketches can
    * also be built straight from raw occurrences (BottomKAgg dedups in
    * its buffer), skipping the postings shuffle entirely; the audit
    * needs the postings anyway, so the pass is shared here. Exact
    * counts assume S is bounded (top-level provenance buckets); a
    * million-domain `source` column would run the sketch path only.
    *
    * Determinism: md5 is the one hash with identical output in Spark and
    * DuckDB, and a KMV sketch is a pure set property (k smallest distinct
    * values), independent of aggregation order — so the sketch CONTENT,
    * not just its error bound, is oracle-gated. The two ratio columns are
    * single divisions of exact integers.
    *
    * The source-pair enumeration is a broadcast non-equi self-join of the
    * DISTINCT SOURCE list — metadata cardinality (S rows, S² pairs), the
    * same class as the 1-row scalar crossJoins elsewhere, never data
    * volume. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame =
    sourceOverlapDocs(Tables.documents(s, d))

  /** 5-token-gram OCCURRENCES as (source, md5-hex) — the shared scan
    * stage of both overlap paths; md5 is the engine-portable key. */
  private def gramOccurrences(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val n = 5
    // r13: the 5-gram concat+md5 kernel otherwise runs on the
    // single-partition bench scan (Par.spread: no-op at scale)
    graft.ops.Par.spread(docs.select($"doc_id", $"source", $"text"),
      $"doc_id") // doc_id: high-cardinality spread key (guide §2.5)
      .select($"source", split($"text", " ").as("t"))
      .where(size($"t") >= n)
      .select($"source", explode(
        transform(sequence(lit(1), size($"t") - (n - 1)),
          i => concat_ws(" ", slice($"t", i, lit(n))))).as("g"))
      .select($"source", md5($"g").as("h"))
  }

  /** Row-local KMV pair estimates over the S persisted sketches:
    * U = k smallest of the sketch union; hits = members of U present in
    * BOTH (arrays are sorted distinct, string order = the oracle's
    * ORDER BY h). Broadcast non-equi self-join of the S-row source list
    * — metadata cardinality, never data volume. */
  private def kmvEstimates(skArr: DataFrame, k: Int): DataFrame = {
    val s = skArr.sparkSession
    import s.implicits._
    val srcs = skArr.select($"source")
    val allPairs = broadcast(srcs.toDF("src_a"))
      .join(srcs.toDF("src_b"), $"src_a" < $"src_b")
    allPairs
      .join(broadcast(skArr.toDF("src_a", "ska")), Seq("src_a"))
      .join(broadcast(skArr.toDF("src_b", "skb")), Seq("src_b"))
      .withColumn("u", slice(array_sort(array_union($"ska", $"skb")), 1, k))
      .select($"src_a", $"src_b",
        size(filter($"u", x =>
          array_contains($"ska", x) && array_contains($"skb", x)))
          .cast("long").as("sketch_hits"),
        size($"u").cast("long").as("k_used"))
  }

  private[graft] def sourceOverlapDocs(
      docs: DataFrame, k: Int = 128): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // THE one corpus-grain pass, shared by both answers: gram
    // occurrences aggregated into a source-SET posting per distinct
    // gram. Map-side collect_set partials dedup before the exchange,
    // and the set is bounded by S (metadata cardinality), so downstream
    // pair extraction is a narrow ≤S×S explode — no gram-grain
    // self-join anywhere. NOTE the postings table itself is
    // corpus-grain state (every distinct gram): right for the bounded
    // audit SFs this query serves; at corpus scale run
    // [[sourceOverlapSketch]], which never materializes it. Persisted:
    // it feeds the source list, the per-source counts and the pair
    // extraction, and Catalyst does not CSE the subtree.
    val postings = Scope.hold(gramOccurrences(docs)
      .groupBy($"h").agg(collect_set($"source").as("ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val expanded = postings.select($"h", explode($"ss").as("source"))
    // per-source KMV sketches as SORTED ARRAYS (S rows total) — all
    // est sides broadcast-consume them, so they are persisted. r13
    // (guide §1.2): the sketch and the per-source gram count now come
    // out of ONE aggregate pass over the expanded postings (previously
    // two passes + two exchanges over the corpus-grain expansion).
    val bk = udaf(new graft.pipeline.Aggregators.BottomKAgg(k),
      org.apache.spark.sql.Encoders.STRING)
    val perSrc = Scope.hold(expanded.groupBy($"source")
      .agg(bk($"h").as("sk"), count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val skArr = perSrc.select($"source", $"sk")
    val perSrcN = perSrc.select($"source", $"n")
    val est = kmvEstimates(skArr, k)
    val inter = postings
      .select(explode($"ss").as("src_a"), $"ss")
      .select($"src_a", explode($"ss").as("src_b"))
      .where($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("exact_inter"))
    est
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(perSrcN.toDF("src_a", "n_a"), Seq("src_a"))
      .join(perSrcN.toDF("src_b", "n_b"), Seq("src_b"))
      .select($"src_a", $"src_b",
        coalesce($"sketch_hits", lit(0L)).as("sketch_hits"),
        coalesce($"k_used", lit(0L)).as("k_used"),
        when(coalesce($"k_used", lit(0L)) === 0L, 0.0)
          .otherwise($"sketch_hits".cast("double") / $"k_used")
          .as("est_jaccard"),
        coalesce($"exact_inter", lit(0L)).as("exact_inter"),
        ($"n_a" + $"n_b" - coalesce($"exact_inter", lit(0L)))
          .as("exact_union"),
        (coalesce($"exact_inter", lit(0L)).cast("double") /
          ($"n_a" + $"n_b" - coalesce($"exact_inter", lit(0L))))
          .as("exact_jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  /** Sketch-ONLY cross-source overlap — [[sourceOverlap]]'s documented
    * scale path made real: the KMV sketches build STRAIGHT from raw
    * gram occurrences ([[graft.pipeline.Aggregators.BottomKAgg]] dedups
    * inside its k-entry buffer, and a multiset's bottom-k equals its
    * set's bottom-k), so the corpus-grain postings table of the audit
    * path never exists. Per-task aggregation state is ≤ S×k entries,
    * the one exchange moves S×k rows, and every pair stage is the same
    * row-local O(S²·k) arithmetic — corpus-size-independent end to end.
    * This is the deployment form for corpora where the audit path's
    * distinct-gram state is unaffordable (it exhausts a single JVM
    * around 10^6 docs; the sketch path is flat there — see ScaleBench).
    *
    * Sketch CONTENT is identical to the audit path's (same pure set
    * property), so the oracle gates it exactly, and est columns agree
    * bit-for-bit between the two queries. */
  def sourceOverlapSketch(s: SparkSession, d: String): DataFrame =
    sourceOverlapSketchDocs(Tables.documents(s, d))

  private[graft] def sourceOverlapSketchDocs(
      docs: DataFrame, k: Int = 128): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bk = udaf(new graft.pipeline.Aggregators.BottomKAgg(k),
      org.apache.spark.sql.Encoders.STRING)
    val skArr = Scope.hold(gramOccurrences(docs)
      .groupBy($"source").agg(bk($"h").as("sk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    kmvEstimates(skArr, k)
      .select($"src_a", $"src_b", $"sketch_hits", $"k_used",
        when($"k_used" === 0L, 0.0)
          .otherwise($"sketch_hits".cast("double") / $"k_used")
          .as("est_jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  /** END-TO-END curation verdict — the full cascade a training corpus
    * runs, fused into one per-document answer: row-local language +
    * length + stopword rules, exact-fingerprint dedup among the docs
    * that passed them, then NEAR-dup clustering (LSH banding + exact
    * Jaccard ≥ 0.8, connected components) restricted to the remaining
    * survivors, with the per-cluster best copy kept (max quality, ties
    * to min id — [[graft.operators.NearDup.dedupSurvivor]]'s rule).
    * Output: every doc's final verdict (`lang` / `too_short` /
    * `too_long` / `low_stopword` / `exact_dup` / `near_dup` / `kept`)
    * plus its token count, so kept-token accounting is one GROUP BY
    * away. This is "corpus in, training corpus out" as ONE plan —
    * each stage's work runs only on the previous stage's survivors.
    *
    * Scale: stages compose without materialization barriers — the
    * row-local rules fuse into the scan, the fp window and the band
    * join shuffle only survivor rows, and the CC rounds run on the
    * (orders smaller) near-dup pair graph. */
  /** The cascade's stage-1/2 table: row-local quality rules + exact
    * fingerprint dedup, as (doc_id, text, n_tokens, reason12) where
    * reason12 ∈ {rule name, 'exact_dup', NULL = survivor}.
    *
    * The fingerprint dedup is one row_number window over (fp, passed)
    * that shuffles every full row on fp: 51 s at 10^6 all-pass, 50 s
    * with 30% planted rule failures. The narrow form — quality filter
    * first, fp → (min doc_id, count) aggregate, join back only the
    * duplicating fps, so text crosses no exchange — returned identical
    * rows but measured 155 s / 108 s on the same corpora: Catalyst
    * does not CSE the scan + token statistics across its three
    * branches, and the three evaluations cost ~3x the local text-width
    * shuffle they avoid. */
  private[graft] def curateStagedTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = $"text"
    val nTokens = tokenCount(t)
    val nStop = stopwordCount(t)
    val w = Window.partitionBy($"fp", $"pre_reason".isNull)
      .orderBy($"doc_id")
    Tables.documents(s, d)
      .select($"doc_id", $"lang", t,
        nTokens.as("n_tokens"), nStop.as("n_stop"))
      .withColumn("pre_reason", preReason)
      .withColumn("fp", md5(normalize(t)))
      .withColumn("rn", row_number().over(w))
      .withColumn("reason12",
        coalesce($"pre_reason", when($"rn" > 1, "exact_dup")))
      .select($"doc_id", $"text", $"n_tokens", $"reason12")
  }

  def curateCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The staged table is consumed by several downstream subtrees
    // (survivor text feeds the band join TWICE — banding and verify —
    // plus the node list and the final verdict join) and Catalyst does
    // not CSE across DataFrame reuse, so without materialization every
    // consumer re-runs the scan + fingerprint stage: measured 184 s vs
    // ~60 s of component cost at 10^6 docs. The persisted, held staged
    // table pins the scan to one evaluation per stage; at deployment
    // scale this materialization point is where a pipeline would
    // checkpoint between stages anyway.
    val staged = Scope.hold(curateStagedTable(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val (nd, ndHint) = curateNd(staged, curateLabels(staged))
    curateVerdict(staged, nd, ndHint)
  }

  /** The cascade's stage-3 input: the staged rows no stage-1/2 rule
    * dropped, as (doc_id, text). */
  private[graft] def curateSurvivors(staged: DataFrame): DataFrame = {
    import staged.sparkSession.implicits._
    staged.where($"reason12".isNull).select($"doc_id", $"text")
  }

  /** The touched labels (doc_id, comp) of the survivors' verified
    * near-dup pairs — eager, checkpointed, held in the caller's
    * [[graft.Scope]]. */
  private[graft] def curateLabels(staged: DataFrame): DataFrame =
    NearDup.touchedLabels(NearDup.pairsOver(curateSurvivors(staged)))

  /** The cascade's near-dup verdict stage over a (materialized) staged
    * table, from its [[curateLabels]]: per-component quality argmax →
    * (doc_id, nd_reason = 'near_dup') for every non-survivor. Split at
    * the label set so the STAGED executions (ScaleBench `curate_staged`:
    * each stage its own Spark session writing parquet, shuffle scratch
    * freed at every stop — the single-host form of
    * checkpoint-between-stages; `curate_stages`: barriers inside one
    * session) run bit-the-same code as the fused [[curateCorpus]];
    * parity is hash-checked across the forms at scale. Returns the
    * verdict frame plus the label set's capped-broadcast hint (the final
    * join reuses the decision).
    *
    * Only documents with at least one VERIFIED near-dup edge can
    * receive a near_dup verdict, so the survivor-selection stage runs
    * on the TOUCHED label set (near-dup-family-bounded, checkpointed),
    * not the corpus: the previous form expanded labels to every
    * survivor through connectedComponents' left join + total sort,
    * windowed 10⁷ mostly-singleton rows, and then paid that subtree
    * AGAIN when the final orderBy's range-partition sampling pass
    * re-executed it — the dominant unattributed cost between the
    * stage-barrier figures and the fused figure at 10⁷. */
  private[graft] def curateNd(staged: DataFrame, labels: DataFrame)
      : (DataFrame, NearDup.BroadcastHint) = {
    import staged.sparkSession.implicits._
    // checkpointed → the count is cheap driver metadata; under the cap
    // the label side broadcasts (the cached staged table never
    // re-shuffles), above it (adversarial mostly-duplicate corpora)
    // the joins fall back to shuffle
    val hinted = NearDup.cappedHint(labels.count())
    // quality scores from the staged table, not a second parquet scan
    // through textStats: the label set filters the join BEFORE the
    // text-local qualityScore projection, so scoring work is
    // touched-rows-only
    val wSurv = Window.partitionBy($"comp")
      .orderBy($"quality_score".desc, $"doc_id")
    val nd = hinted(labels)
      .join(staged.select($"doc_id", $"text"), Seq("doc_id"))
      .withColumn("quality_score", qualityScore($"text"))
      .withColumn("survivor_id", first($"doc_id").over(wSurv))
      .where($"doc_id" =!= $"survivor_id")
      .select($"doc_id", lit("near_dup").as("nd_reason"))
    (nd, hinted)
  }

  /** Final verdict join of the cascade — see [[curateNd]]. */
  private[graft] def curateVerdict(staged: DataFrame, nd: DataFrame,
      ndHint: NearDup.BroadcastHint): DataFrame = {
    import staged.sparkSession.implicits._
    staged.select($"doc_id", $"n_tokens", $"reason12")
      .join(ndHint(nd), Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"reason12", $"nd_reason", lit("kept")).as("verdict"))
      .orderBy($"doc_id")
  }

  /** Lexical diversity per document: whitespace token count, distinct
    * token ("type") count, and the type-token ratio as exact
    * parts-per-million (integer floor division — a double ratio would be
    * engine-exact here too, but the ppm form keeps the whole row in
    * BIGINT and composes with the other integer quality signals).
    * Low TTR = repetitive/templated text; pairs with [[repetitionScore]]
    * (which looks at ADJACENT repeats) as a corpus-quality filter.
    *
    * Scale: row-local (split + array_distinct per row, no shuffle);
    * the scan prunes to (doc_id, text). */
  def lexicalDiversity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = split($"text", " ")
    Tables.documents(s, d)
      .select(
        $"doc_id",
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"))
      .withColumn("ttr_ppm", expr("n_types * 1000000 div n_tokens"))
      .orderBy($"doc_id")
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_curate_corpus", curateCorpus, Some(
        graft.operators.NearDup.oracleShingles
          .replace("WITH s AS", "WITH RECURSIVE s AS") + s""",
        $oracleFilterReasons,
        st AS (
          SELECT doc_id, n_tokens,
                 coalesce(pre_reason,
                   CASE WHEN rn > 1 THEN 'exact_dup' END) AS reason12
          FROM rk),
        sv AS (SELECT doc_id FROM st WHERE reason12 IS NULL),
        sh2 AS (SELECT s.doc_id, s.sh FROM s JOIN sv USING (doc_id)),
        p AS (
          SELECT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM sh2 a JOIN sh2 b2 ON a.doc_id < b2.doc_id
          WHERE ${NearDup.oracleJaccard("a", "b2")}
                >= 0.8),
        e AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        reach(a, bb) AS (
          SELECT doc_id, doc_id FROM sv
          UNION
          SELECT r2.a, e.dst FROM reach r2 JOIN e ON r2.bb = e.src),
        cl AS (SELECT a AS doc_id, min(bb) AS cluster_id
               FROM reach GROUP BY a),
        $oracleQuality,
        j AS (SELECT cl.doc_id, cl.cluster_id, q.quality_score
              FROM cl JOIN q USING (doc_id)),
        rk2 AS (SELECT doc_id,
                  row_number() OVER (PARTITION BY cluster_id
                    ORDER BY quality_score DESC, doc_id) AS rn2
                FROM j),
        nd AS (SELECT doc_id,
                 CASE WHEN rn2 > 1 THEN 'near_dup' END AS nd_reason
               FROM rk2)
        SELECT st.doc_id, st.n_tokens,
               coalesce(st.reason12, nd.nd_reason, 'kept') AS verdict
        FROM st LEFT JOIN nd USING (doc_id)
        ORDER BY st.doc_id""")),
    QueryDef(
      "q_lexical_diversity", lexicalDiversity, Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_types
          FROM documents)
        SELECT doc_id, n_tokens, n_types,
               n_types * 1000000 // n_tokens AS ttr_ppm
        FROM t ORDER BY doc_id""")),
    QueryDef(
      "q_linreg_fit", linregFit, Some(s"""
        WITH t AS (
          SELECT CAST(n AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(x * x) AS HUGEINT) AS sxx,
                 CAST(sum(x * y) AS HUGEINT) AS sxy,
                 CAST(sum(y * y) AS HUGEINT) AS syy
          FROM (
            SELECT count(*) OVER () AS n,
                   CAST(${oracleTokenCount()}
                     AS BIGINT) AS x,
                   n_chars AS y
            FROM documents)
          GROUP BY n)
        SELECT CAST(n AS BIGINT) AS n,
               CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
               CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                    ELSE CAST(sxx * sy - sx * sxy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) END AS intercept,
               CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                    THEN 0.0
                    ELSE CAST((n * sxy - sx * sy) * (n * sxy - sx * sy)
                           AS DOUBLE)
                       / CAST((n * sxx - sx * sx) * (n * syy - sy * sy)
                           AS DOUBLE) END AS r2
        FROM t""")),
    QueryDef(
      "q_lm_fit", lmFit, Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        ks AS (SELECT doc_id, toks,
                      unnest(generate_series(1, len(toks) - 1)) AS k
               FROM t),
        bg AS (SELECT doc_id, toks[k] AS w1, toks[k+1] AS w2 FROM ks),
        c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM bg GROUP BY w1, w2),
        c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
               FROM bg GROUP BY w1)
        SELECT bg.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(c12.c12) AS BIGINT) AS sum_c12,
               CAST(sum(c1.c1) AS BIGINT) AS sum_c1,
               CAST(sum(c12.c12) AS DOUBLE) / CAST(sum(c1.c1) AS DOUBLE)
                 AS fit,
               CAST(sum(CASE WHEN c12.c12 <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_rare
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY bg.doc_id ORDER BY bg.doc_id""")),
    QueryDef(
      "q_clean_corpus", cleanCorpus, Some(s"""
        WITH ${oracleFilterInputs("lang, source")},
        f AS (
          SELECT * FROM b
          WHERE lang IN ('en', 'de', 'es', 'fr')
            AND n_tokens BETWEEN 20 AND 1000
            AND n_stop * 100 >= n_tokens),
        k AS (
          SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM f)
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        FROM k WHERE rn = 1
        GROUP BY lang, source ORDER BY lang, source""")),
    QueryDef(
      "q_filter_audit", filterAudit, Some(s"""
        WITH $oracleFilterReasons
        SELECT coalesce(pre_reason,
                 CASE WHEN rn > 1 THEN 'exact_dup' ELSE 'kept' END) AS reason,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM rk GROUP BY reason ORDER BY reason""")),
    QueryDef(
      "q_decontaminate_ngram", decontaminateNgram, Some(s"""
        ${oracleGrams8("doc_id")},
        bg AS (
          SELECT DISTINCT g FROM grams WHERE doc_id % 25 = 0),
        fl AS (
          SELECT DISTINCT grams.doc_id
          FROM grams JOIN bg ON grams.g = bg.g
          WHERE grams.doc_id % 25 <> 0)
        SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_contaminated
        FROM documents d LEFT JOIN fl ON d.doc_id = fl.doc_id
        WHERE d.doc_id % 25 <> 0
        GROUP BY d.lang ORDER BY d.lang""")),
    QueryDef(
      "q_dedup_exact", dedupExact, Some("""
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY text ORDER BY keep_id""")),
    QueryDef(
      "q_fingerprint", fingerprint, Some(s"""
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM (SELECT doc_id,
                     $oracleFingerprint AS fp
              FROM documents) t
        GROUP BY fp ORDER BY keep_id""")),
    QueryDef(
      "q_text_stats", textStats, Some(raw"""
        WITH b AS (
          SELECT doc_id,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(${oracleTokenCount()}
                   AS BIGINT) AS n_tokens,
                 CAST($oracleStopwordCount
                   AS BIGINT) AS n_stopwords,
                 CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))
                   AS BIGINT) AS n_punct,
                 CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / (${oracleTokenCount()})
                   AS avg_token_len
          FROM documents)
        SELECT doc_id, n_chars, n_tokens, n_stopwords, n_punct, avg_token_len,
               CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
               ${oracleQualityScore("n_stopwords")} AS quality_score
        FROM b ORDER BY doc_id""")),
    QueryDef(
      "q_lang_id", langId, Some("""
        WITH c AS (
          SELECT doc_id, lang AS labeled_lang,
            CAST(len(list_filter(toks, t -> t = 'the')) AS BIGINT) AS c_en,
            CAST(len(list_filter(toks, t -> t = 'der'))
               + len(list_filter(toks, t -> t = 'und')) AS BIGINT) AS c_de,
            CAST(len(list_filter(toks, t -> t = 'le'))
               + len(list_filter(toks, t -> t = 'et')) AS BIGINT) AS c_fr,
            CAST(len(list_filter(toks, t -> t = 'el'))
               + len(list_filter(toks, t -> t = 'y')) AS BIGINT) AS c_es
          FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
                FROM documents) t)
        SELECT doc_id, labeled_lang, c_en, c_de, c_fr, c_es,
               CASE WHEN c_en >= greatest(c_de, c_fr, c_es) THEN 'en'
                    WHEN c_de >= greatest(c_fr, c_es) THEN 'de'
                    WHEN c_fr >= c_es THEN 'fr'
                    ELSE 'es' END AS pred_lang
        FROM c ORDER BY doc_id""")),
    QueryDef(
      "q_repetition", repetition, Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        tc AS (
          SELECT doc_id, tok, count(*) AS cnt
          FROM toks GROUP BY doc_id, tok),
        ta AS (
          SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                 max(cnt) AS top_cnt,
                 CAST(count(*) AS BIGINT) AS n_distinct_tokens
          FROM tc GROUP BY doc_id),
        bg AS (
          SELECT doc_id,
                 CASE WHEN len(tl) < 2 THEN 1
                      ELSE len(list_distinct(list_transform(
                        generate_series(1, len(tl) - 1),
                        i -> tl[i] || ' ' || tl[i + 1]))) END AS ndb
          FROM (SELECT doc_id, string_split(text, ' ') AS tl
                FROM documents) x)
        SELECT ta.doc_id, n_tokens, n_distinct_tokens,
               CAST(top_cnt AS DOUBLE) / n_tokens AS top_tok_frac,
               CAST(ndb AS DOUBLE) / greatest(n_tokens - 1, 1)
                 AS distinct_bigram_frac
        FROM ta JOIN bg ON ta.doc_id = bg.doc_id
        ORDER BY ta.doc_id""")),
    QueryDef(
      "q_token_count", tokenCounts, Some(raw"""
        SELECT doc_id,
               CAST(${oracleTokenCount()}
                 AS BIGINT) AS n_ws_tokens,
               CAST(length(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                 AS n_bpe_tokens
        FROM documents ORDER BY doc_id""")),
    QueryDef(
      "q_dup_spans", dupSpans, Some(s"""
        ${oracleGrams8("doc_id")},
        pdg AS (
          SELECT g, doc_id, count(*) AS npos FROM grams GROUP BY g, doc_id),
        dup AS (
          SELECT doc_id, npos,
                 count(*) OVER (PARTITION BY g) AS ndocs
          FROM pdg),
        perdoc AS (
          SELECT doc_id,
                 sum(npos) AS spans,
                 sum(CASE WHEN ndocs > 1 THEN npos ELSE 0 END) AS dups
          FROM dup GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(p.spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(p.dups, 0) AS BIGINT) AS n_dup_spans,
               CASE WHEN coalesce(p.spans, 0) = 0 THEN 0.0
                    ELSE CAST(coalesce(p.dups, 0) AS DOUBLE)
                         / coalesce(p.spans, 0) END AS dup_ratio
        FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        ORDER BY d.doc_id""")),
    QueryDef(
      "q_span_scrub", spanScrub, Some(s"""
        ${oracleGrams8("doc_id, i")},
        pdg AS (
          SELECT g, doc_id, list(i) AS ps FROM grams GROUP BY g, doc_id),
        dup AS (
          SELECT doc_id, unnest(ps) AS i
          FROM (SELECT doc_id, ps,
                       count(*) OVER (PARTITION BY g) AS ndocs
                FROM pdg)
          WHERE ndocs > 1),
        spans AS (
          SELECT doc_id, i, i + 7 AS e,
                 max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          FROM dup),
        brks AS (
          SELECT doc_id, i, e,
                 CASE WHEN pme IS NULL OR i > pme + 1 THEN 1 ELSE 0 END AS brk
          FROM spans),
        isl AS (
          SELECT doc_id, i, e,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
          FROM brks),
        islands AS (
          SELECT doc_id, g, min(i) AS s, max(e) AS e
          FROM isl GROUP BY doc_id, g),
        perdoc AS (
          SELECT doc_id,
                 list(struct_pack(s := s, e := e)) AS iv,
                 sum(e - s + 1) AS covered
          FROM islands GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
               CAST(coalesce(p.covered, 0) AS BIGINT) AS n_covered,
               coalesce(array_to_string(
                 list_filter(string_split(d.text, ' '),
                   (x, ix) -> len(list_filter(coalesce(p.iv, []),
                     v -> ix >= v.s AND ix <= v.e)) = 0),
                 ' '), '') AS clean_text
        FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        ORDER BY d.doc_id""")),
    QueryDef(
      "q_novelty", novelty, Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        g0 AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(t) - 4),
                   i -> array_to_string(t[i:i+4], ' '))) AS g
          FROM toks WHERE len(t) >= 5),
        g AS (SELECT DISTINCT doc_id, g FROM g0),
        dfc AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY g),
        per AS (
          SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS unique_grams
          FROM g JOIN dfc ON g.g = dfc.g GROUP BY g.doc_id)
        SELECT d.doc_id,
               coalesce(p.n_grams, 0) AS n_grams,
               coalesce(p.unique_grams, 0) AS unique_grams,
               CASE WHEN coalesce(p.n_grams, 0) = 0 THEN 0.0
                    ELSE CAST(p.unique_grams AS DOUBLE) / p.n_grams
               END AS novelty
        FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
        ORDER BY d.doc_id""")),
    QueryDef(
      "q_source_overlap", sourceOverlap, Some(s"""
        $oracleSourceSketch,
        n AS (SELECT source, CAST(count(*) AS BIGINT) AS n
              FROM g GROUP BY source),
        ix AS (
          SELECT a.source AS src_a, b.source AS src_b,
                 CAST(count(*) AS BIGINT) AS exact_inter
          FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
          GROUP BY a.source, b.source)
        SELECT p.src_a, p.src_b,
               coalesce(e.sketch_hits, 0) AS sketch_hits,
               coalesce(e.k_used, 0) AS k_used,
               CASE WHEN coalesce(e.k_used, 0) = 0 THEN 0.0
                    ELSE CAST(e.sketch_hits AS DOUBLE) / e.k_used
               END AS est_jaccard,
               coalesce(ix.exact_inter, 0) AS exact_inter,
               na.n + nb.n - coalesce(ix.exact_inter, 0) AS exact_union,
               CAST(coalesce(ix.exact_inter, 0) AS DOUBLE)
                 / (na.n + nb.n - coalesce(ix.exact_inter, 0))
                 AS exact_jaccard
        FROM pairs p
        LEFT JOIN est e ON e.src_a = p.src_a AND e.src_b = p.src_b
        LEFT JOIN ix ON ix.src_a = p.src_a AND ix.src_b = p.src_b
        JOIN n na ON na.source = p.src_a
        JOIN n nb ON nb.source = p.src_b
        ORDER BY p.src_a, p.src_b""")),
    QueryDef(
      "q_source_overlap_sketch", sourceOverlapSketch, Some(s"""
        $oracleSourceSketch
        SELECT p.src_a, p.src_b,
               coalesce(e.sketch_hits, 0) AS sketch_hits,
               coalesce(e.k_used, 0) AS k_used,
               CASE WHEN coalesce(e.k_used, 0) = 0 THEN 0.0
                    ELSE CAST(e.sketch_hits AS DOUBLE) / e.k_used
               END AS est_jaccard
        FROM pairs p
        LEFT JOIN est e ON e.src_a = p.src_a AND e.src_b = p.src_b
        ORDER BY p.src_a, p.src_b"""))
  )
}
