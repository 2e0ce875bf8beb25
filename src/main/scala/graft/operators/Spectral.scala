package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{QueryDef, QueryModule, Tables}

/** SPECTRAL operators over the embedding table: the corpus Gram matrix,
  * the dominant principal direction, and the projection of every
  * embedding onto it — the spectral toolkit behind embedding whitening,
  * drift monitoring, and PCA-style pre-reduction ahead of clustering /
  * semantic dedup. (North-star extensions; the reference — a Kafka
  * map-reduce pipeline, /root/reference/src/lib.rs — has no vector
  * surface.)
  *
  * Everything here is ENGINE-EXACT by construction, the same discipline
  * as the samplers' md5 rules: embeddings are quantized by
  * `floor(x * 2^10)` — float widens to double exactly and a power-of-two
  * product is exact, so both engines floor the identical double — and
  * all downstream arithmetic (Gram sums, power-iteration mat-vecs,
  * projections) is 64-bit-integer exact and summation-order-free. No
  * real-valued linear algebra crosses an engine boundary: the single
  * inexact step anywhere is the final Rayleigh division, one IEEE op on
  * two exact integers, identical on both sides.
  *
  * Scale notes (100 TB):
  *  - [[gramMatrix]] is ONE map-side-combined aggregation: the explode
  *    produces D(D+1)/2 products per vector inside whole-stage codegen
  *    and the exchange carries at most D(D+1)/2 partial sums PER TASK,
  *    independent of corpus size. (A mapPartitions BLAS accumulator
  *    would cut the constant factor, but it would also leave codegen
  *    and exactness; the declarative form keeps both.)
  *  - the power iteration runs on the COLLECTED Gram — bounded by
  *    D² = 4096 longs, the same bounded-collect contract as the IVF
  *    codebook (operators/Similarity.scala), never by corpus size.
  *  - Long arithmetic stays exact while λ_max·D·V² < 2^63, i.e. up to
  *    ~10^8 unit vectors at D = 64. Past that, fit the direction on a
  *    deterministic md5-capped sample (the [[Corpus]] sampler rule) and
  *    project the full corpus — projection is per-row and unbounded.
  */
object Spectral extends QueryModule {

  /** Quantization scale 2^10: |x| ≤ 1 ⇒ |xq| ≤ 1024, and float·2^10 is
    * exactly representable, so `floor` sees the same double in Spark and
    * DuckDB. */
  private val Q = 1024
  /** Power-iteration renormalization target: each round rescales the
    * iterate to max-abs ≈ 2^10, keeping every mat-vec inside 2^53 (so
    * the oracle could even run the sums in doubles) and far inside 2^63. */
  private val VScale = 1024L
  /** Fixed iteration count: determinism demands a fixed budget, not a
    * convergence test (both engines must stop at the same step). 30
    * rounds contract the subdominant ratio (λ2/λ1)^30 — ≤ 1e-3 already
    * at a 0.8 gap — and cost D² multiplies each, trivial at D = 64. */
  private val Iters = 30

  /** floor(x · 2^10) as a Long — the engine-exact quantizer. */
  private def quant(x: Column): Column =
    floor(x.cast("double") * lit(Q.toDouble)).cast("long")

  /** Upper triangle of the D×D Gram matrix of the quantized embeddings:
    * (i, j, g = Σ_docs xq_i · xq_j) for j ≥ i. The generate → filter →
    * aggregate pipeline never shuffles row data: partial sums combine
    * map-side and the single exchange moves ≤ D(D+1)/2 longs per task. */
  def gramMatrix(s: SparkSession, d: String): DataFrame =
    gramOf(Tables.embeddings(s, d))

  /** [[gramMatrix]] over an arbitrary embedding frame — the fit side of
    * the sample-fit path takes a filtered frame here. */
  private[graft] def gramOf(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb
      .select(transform($"embedding", x => quant(x)).as("q"))
      .select(posexplode($"q").as(Seq("i", "xi")), $"q")
      .select($"i", $"xi", posexplode($"q").as(Seq("j", "xj")))
      .where($"j" >= $"i")
      .groupBy($"i".cast("long").as("i"), $"j".cast("long").as("j"))
      .agg(sum($"xi" * $"xj").as("g"))
      .orderBy($"i", $"j")
  }

  /** The fixed-point power loop: mirror the collected triangle, run
    * [[Iters]] exact-integer rounds, return (v, rayleighNum, rayleighDen).
    * Renormalization rule, identical in the SQL oracle:
    *   q = 1 + max|u| / VScale   (integer division)
    *   v'_i = sign(u_i) · (|u_i| / q)   (truncation toward zero —
    *     written via |·| so floor-division engines agree on negatives)
    */
  private[graft] def powerLoop(
      tri: Array[(Int, Int, Long)], dims: Int): (Array[Long], Long, Long) = {
    // BigInt throughout: driver-side Long arithmetic has no ANSI
    // overflow check, and at extreme corpus energy the Rayleigh
    // products would wrap SILENTLY — the one failure mode worse than
    // failing. BigInt keeps every intermediate exact at any scale (the
    // renormalized iterate itself never exceeds VScale, so this is
    // belt-and-braces, not a real slowdown on a 64×64 matrix); the
    // guard below only rejects results the Long output schema cannot
    // carry, with the documented remedy. BigInt division truncates
    // toward zero, matching the oracle's sign·(abs // q) rule.
    val g = Array.ofDim[BigInt](dims, dims)
    for (i <- 0 until dims; j <- 0 until dims) g(i)(j) = BigInt(0)
    tri.foreach { case (i, j, v) => g(i)(j) = BigInt(v); g(j)(i) = BigInt(v) }
    def matvec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(dims) { i =>
        var acc = BigInt(0); var j = 0
        while (j < dims) { acc += g(i)(j) * v(j); j += 1 }
        acc
      }
    var v = Array.fill(dims)(BigInt(VScale))
    var it = 0
    while (it < Iters) {
      val u = matvec(v)
      val q = BigInt(1) + u.map(_.abs).max / VScale
      v = u.map(_ / q) // BigInt /: truncation toward zero, both signs
      it += 1
    }
    val u = matvec(v)
    val num = v.indices.map(i => v(i) * u(i)).sum
    val den = v.map(x => x * x).sum
    require(num.isValidLong,
      s"Rayleigh numerator $num exceeds the 64-bit output contract — " +
        "the corpus energy is past the exact-integer range; fit the " +
        "direction on a deterministic sample (the " +
        "Corpus.deterministicSample md5 rule) and project the full " +
        "corpus instead. The DuckDB oracle fails the same way (HUGEINT " +
        "to BIGINT cast), so both engines are loud, never wrong.")
    (v.map(_.toLong), num.toLong, den.toLong)
  }

  /** Collected triangle as (i, j, g) — bounded by D², not corpus size. */
  private def collectTri(s: SparkSession, d: String): Array[(Int, Int, Long)] =
    triOf(Tables.embeddings(s, d))

  private def triOf(emb: DataFrame): Array[(Int, Int, Long)] =
    gramOf(emb).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2)))

  /** Dominant principal direction of the corpus Gram by fixed-point
    * power iteration: (i, vi, lam) — the integer direction vector plus
    * its Rayleigh quotient (≈ top eigenvalue of the quantized Gram, in
    * squared-quantized units). One corpus pass (the Gram); the
    * iteration itself is driver-side on the bounded D×D matrix. */
  def pcaPower(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tri = collectTri(s, d)
    if (tri.isEmpty) return Seq.empty[(Long, Long, Double)].toDF("i", "vi", "lam")
    val dims = tri.map(_._2).max + 1
    val (v, num, den) = powerLoop(tri, dims)
    val lam = if (den == 0L) 0.0 else num.toDouble / den.toDouble
    v.zipWithIndex
      .map { case (x, i) => (i.toLong, x, lam) }
      .toSeq.toDF("i", "vi", "lam")
      .orderBy($"i")
  }

  /** Projection of every embedding onto the dominant direction:
    * (vec_id, proj = Σ_i xq_i · v_i) — exact integer dot products, the
    * per-document coordinate used for spectral binning / whitening. Two
    * corpus passes total (fit + transform); the transform is a pure
    * per-row map with the direction folded in as a literal array — no
    * join, no shuffle, scan-speed at any corpus size. */
  def pcaProject(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tri = collectTri(s, d)
    if (tri.isEmpty) return Seq.empty[(Long, Long)].toDF("vec_id", "proj")
    val dims = tri.map(_._2).max + 1
    val (v, _, _) = powerLoop(tri, dims)
    val vLit = array(v.toIndexedSeq.map(lit(_)): _*)
    Tables.embeddings(s, d)
      .select($"vec_id",
        aggregate(
          zip_with($"embedding", vLit, (x, w) => quant(x) * w),
          lit(0L), (acc, t) => acc + t).as("proj"))
      .orderBy($"vec_id")
  }

  /** Sample-fit PCA projection — the documented SCALE PATH of this
    * module made real: past ~10^8 unit vectors at D = 64 (or any corpus
    * whose energy pushes the Rayleigh numerator over the 64-bit output
    * contract — [[powerLoop]]'s loud guard), the direction is fit on a
    * deterministic md5-bucketed sample (the [[Corpus.deterministicSample]]
    * rule: first md5 byte of the id, keep `bucket < 26` ≈ 10%) and the
    * FULL corpus is projected onto it. The fit-side Gram shrinks 10×
    * (extending the exact-integer range 10×); the transform is the same
    * per-row literal-array dot product as [[pcaProject]] — no join, no
    * shuffle, scan-speed at any corpus size.
    *
    * Determinism: the sample is a pure function of vec_id (no rand()),
    * so the fitted direction — and therefore every projection — is
    * identical on any engine, run, or cluster size; the DuckDB oracle
    * replays the same bucket rule, the same 30 fixed-point rounds on
    * the sampled Gram, and the same full-corpus projection. */
  def pcaProjectSampled(s: SparkSession, d: String): DataFrame =
    pcaProjectSampledCap(s, d, 26)

  private[graft] def pcaProjectSampledCap(
      s: SparkSession, d: String, cap: Int): DataFrame = {
    import s.implicits._
    val bucket = conv(substring(md5($"vec_id".cast("string")), 1, 2), 16, 10)
      .cast("long")
    val tri = triOf(Tables.embeddings(s, d).where(bucket < cap))
    if (tri.isEmpty) return Seq.empty[(Long, Long)].toDF("vec_id", "proj")
    val dims = tri.map(_._2).max + 1
    val (v, _, _) = powerLoop(tri, dims)
    val vLit = array(v.toIndexedSeq.map(lit(_)): _*)
    Tables.embeddings(s, d)
      .select($"vec_id",
        aggregate(
          zip_with($"embedding", vLit, (x, w) => quant(x) * w),
          lit(0L), (acc, t) => acc + t).as("proj"))
      .orderBy($"vec_id")
  }

  /** Explained-variance audit: what fraction of the corpus's total
    * quantized energy the dominant direction carries — `num/(den·trace)`
    * where num/den is the Rayleigh quotient and trace = Σ|xq|² (the Gram
    * diagonal). The go/no-go check before committing to a rank-1
    * whitening or spectral binning: a low ratio says the corpus has no
    * dominant axis and the projection would be noise. No extra corpus
    * pass — pure driver arithmetic on the already-collected Gram; exact
    * integers up to the single final division. */
  def explainedVar(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tri = collectTri(s, d)
    if (tri.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("trace", "num", "den", "explained")
    val dims = tri.map(_._2).max + 1
    val (_, num, den) = powerLoop(tri, dims)
    val trace = tri.filter(t => t._1 == t._2).map(_._3).sum
    val explained =
      if (den == 0L || trace == 0L) 0.0
      else num.toDouble / (den * trace).toDouble
    Seq((trace, num, den, explained))
      .toDF("trace", "num", "den", "explained")
  }

  /** Embedding-space drift report — the vector sibling of
    * [[Curation.ingestDrift]]'s token-length histogram: per-dimension
    * mean of the quantized embeddings, standing corpus vs fresh batch
    * (same deterministic `% 10 >= 8` split), plus the absolute mean
    * gap. Catches what token statistics can't: an encoder-version bump
    * or a source-mix change that moves the embedding distribution while
    * leaving text stats flat. ONE pass: both sides sum conditionally in
    * the same map-side-combined aggregation (the [[gramMatrix]]
    * contract — ≤ D partials per task, never row data); counts and sums
    * are exact integers, the gap is two IEEE divisions and a subtract
    * on identical exact inputs, so both engines agree bit-for-bit. */
  def embedDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select(($"vec_id" % 10 >= 8).as("fresh"),
        posexplode(transform($"embedding", x => quant(x)))
          .as(Seq("i", "xi")))
      .groupBy($"i".cast("long").as("i"))
      .agg(
        sum(when($"fresh", 0L).otherwise(1L)).as("n_corpus"),
        sum(when($"fresh", 1L).otherwise(0L)).as("n_batch"),
        sum(when($"fresh", 0L).otherwise($"xi")).as("s_corpus"),
        sum(when($"fresh", $"xi").otherwise(0L)).as("s_batch"))
      .select($"i", $"n_corpus", $"n_batch", $"s_corpus", $"s_batch",
        when($"n_corpus" === 0 || $"n_batch" === 0, 0.0)
          .otherwise(abs(
            $"s_corpus".cast("double") / $"n_corpus".cast("double")
              - $"s_batch".cast("double") / $"n_batch".cast("double")))
          .as("mean_gap"))
      .orderBy($"i")
  }

  /** LABEL-CENTROID AFFINITY: for every unordered label pair, the exact
    * squared cosine (ppm) between the two groups' centroid directions,
    * plus the dot-product sign — "which label groups point the same way
    * in embedding space", the corpus-organization readout that decides
    * whether two sources/domains are semantically redundant before any
    * pairwise document work is scheduled.
    *
    * Exactness: cosine is scale-invariant, so the per-label SUM vector
    * stands in for the mean — no count division anywhere. Quantized
    * components sum exactly per (label, dim); cross-label dots are
    * decimal(38,0) products of those BIGINT sums (HUGEINT on the DuckDB
    * side); cos² = dot²·10⁶ div (‖a‖²·‖b‖²) is one integral division of
    * non-negative exact integers — floor == truncate, both engines
    * agree. Squaring sidesteps the square root no integer engine has;
    * the sign column restores the lost direction.
    *
    * Scale shape: ONE map-side-combined pass reduces the corpus to the
    * (labels × D) sum table — partials bounded per task, row data never
    * shuffled. The pair stage is a self-join of that table keyed on dim:
    * |labels|²·D rows, corpus-size-independent, broadcast-sized for any
    * realistic source count. */
  def labelAffinity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sums = Tables.embeddings(s, d)
      .select($"label",
        posexplode(transform($"embedding", x => quant(x)))
          .as(Seq("dim", "q")))
      .groupBy($"label", $"dim")
      .agg(sum($"q").as("sv"), count(lit(1)).as("n"))
    val a = sums.select($"label".as("label_a"), $"dim",
      $"sv".cast("decimal(38,0)").as("sa"), $"n".as("n_a"))
    val b = sums.select($"label".as("label_b"), $"dim",
      $"sv".cast("decimal(38,0)").as("sb"), $"n".as("n_b"))
    val dots = a.join(b, Seq("dim"))
      .where($"label_a" <= $"label_b")
      .groupBy($"label_a", $"label_b")
      .agg(sum($"sa" * $"sb").as("dot"),
        max($"n_a").as("n_a"), max($"n_b").as("n_b"))
    val sq = dots.where($"label_a" === $"label_b")
      .select($"label_a".as("l"), $"dot".as("sq"))
    dots.where($"label_a" < $"label_b")
      .join(broadcast(sq.select($"l".as("label_a"), $"sq".as("sq_a"))),
        Seq("label_a"))
      .join(broadcast(sq.select($"l".as("label_b"), $"sq".as("sq_b"))),
        Seq("label_b"))
      .select($"label_a", $"label_b", $"n_a", $"n_b",
        when($"dot" < 0, -1L).when($"dot" > 0, 1L).otherwise(0L)
          .as("dot_sign"),
        expr("CAST((dot * dot * 1000000) div (sq_a * sq_b) AS BIGINT)")
          .as("cos2_ppm"))
      .orderBy($"label_a", $"label_b")
  }

  // ---------------------------------------------------------- oracles

  /** `els(vec_id, i, xi)`: the quantized elements. The parallel unnests
    * zip element-wise (same idiom as the codebook oracle in
    * [[Similarity]]). */
  private val oracleEls = s"""
    WITH els AS MATERIALIZED (
      SELECT vec_id,
             unnest(generate_series(1, len(embedding))) - 1 AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $Q) AS BIGINT)
               AS xi
      FROM embeddings),"""

  /** `gt`: the Gram triangle of the elements `src`; `gf`: the mirrored
    * Gram; `v0`: the all-ones (×VScale) starting iterate. */
  private def oracleGram(src: String) = s"""
    gt AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS g
      FROM $src a JOIN $src b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i),
    gf AS MATERIALIZED (
      SELECT i, j, g FROM gt
      UNION ALL
      SELECT j AS i, i AS j, g FROM gt WHERE i <> j),
    v0 AS MATERIALIZED (SELECT DISTINCT i, CAST($VScale AS BIGINT) AS x
                        FROM $src)"""

  /** Shared oracle prelude: [[oracleEls]] and their [[oracleGram]]. */
  private val oraclePrelude: String = oracleEls + oracleGram("els")

  /** [[oraclePrelude]] with the FIT side restricted to the md5-bucket
    * sample — `els` stays full for the projection; `gt`/`gf`/`v0` (the
    * names [[iterCtes]] chains from) build on the sampled elements. The
    * bucket is `q_sample_deterministic`'s
    * [[graft.ops.HashOracleSql.md5Byte]]. */
  private val sampledPrelude: String = s"""
$oracleEls
    sels AS MATERIALIZED (
      SELECT * FROM els
      WHERE CAST(${graft.ops.HashOracleSql.md5Byte("CAST(vec_id AS VARCHAR)")}
              AS BIGINT) < 26),${oracleGram("sels")}"""

  /** The [[Iters]] unrolled fixed-point rounds (the k-center oracle uses
    * the same generated-CTE pattern): each round is one mat-vec, one
    * max, one renormalize — all integer-exact. */
  private def iterCtes: String = (1 to Iters).map { k =>
    s"""
    u$k AS MATERIALIZED (
      SELECT gf.i AS i, CAST(sum(gf.g * v${k - 1}.x) AS BIGINT) AS u
      FROM gf JOIN v${k - 1} ON v${k - 1}.i = gf.j GROUP BY gf.i),
    m$k AS MATERIALIZED (SELECT 1 + (CAST(max(abs(u)) AS BIGINT) // $VScale) AS q
            FROM u$k),
    v$k AS MATERIALIZED (
      SELECT u$k.i AS i,
             CAST(CASE WHEN u < 0 THEN -((-u) // m$k.q)
                  ELSE u // m$k.q END AS BIGINT) AS x
      FROM u$k, m$k)"""
  }.mkString(",")

  /** `uf`/`ray`: the Rayleigh quotient num/den of the last iterate. */
  private val oracleRayleigh = s"""
        uf AS MATERIALIZED (
          SELECT gf.i AS i, CAST(sum(gf.g * v$Iters.x) AS BIGINT) AS u
          FROM gf JOIN v$Iters ON v$Iters.i = gf.j GROUP BY gf.i),
        ray AS MATERIALIZED (
          SELECT CAST(sum(v.x * u.u) AS BIGINT) AS num,
                 CAST(sum(v.x * v.x) AS BIGINT) AS den
          FROM v$Iters v JOIN uf u ON u.i = v.i)"""

  /** Each vector's projection on the last iterate. */
  private val oracleProjection = s"""
        SELECT e.vec_id, CAST(sum(e.xi * v.x) AS BIGINT) AS proj
        FROM els e JOIN v$Iters v ON v.i = e.i
        GROUP BY e.vec_id ORDER BY e.vec_id"""

  override def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_gram_matrix", gramMatrix, Some(s"""$oraclePrelude
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, g
        FROM gt ORDER BY i, j""")),
    QueryDef(
      "q_pca_power", pcaPower, Some(s"""$oraclePrelude,$iterCtes,$oracleRayleigh
        SELECT CAST(v.i AS BIGINT) AS i, v.x AS vi,
               CASE WHEN ray.den = 0 THEN 0.0
                    ELSE CAST(ray.num AS DOUBLE) / CAST(ray.den AS DOUBLE)
               END AS lam
        FROM v$Iters v CROSS JOIN ray ORDER BY i""")),
    QueryDef(
      "q_pca_project", pcaProject, Some(s"""$oraclePrelude,$iterCtes
$oracleProjection""")),
    QueryDef(
      "q_pca_sampled", pcaProjectSampled, Some(s"""$sampledPrelude,$iterCtes
$oracleProjection""")),
    QueryDef(
      "q_explained_var", explainedVar, Some(s"""$oraclePrelude,$iterCtes,$oracleRayleigh,
        tr AS MATERIALIZED (
          SELECT CAST(sum(g) AS BIGINT) AS trace FROM gt WHERE i = j)
        SELECT tr.trace, ray.num, ray.den,
               CASE WHEN ray.den = 0 OR tr.trace = 0 THEN 0.0
                    ELSE CAST(ray.num AS DOUBLE)
                       / CAST(ray.den * tr.trace AS DOUBLE) END AS explained
        FROM tr CROSS JOIN ray""")),
    QueryDef(
      "q_embed_drift", embedDrift, Some(s"""
        WITH els AS MATERIALIZED (
          SELECT vec_id % 10 >= 8 AS fresh,
                 unnest(generate_series(1, len(embedding))) - 1 AS i,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $Q)
                   AS BIGINT) AS xi
          FROM embeddings),
        a AS (
          SELECT CAST(i AS BIGINT) AS i,
                 CAST(sum(CASE WHEN fresh THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_corpus,
                 CAST(sum(CASE WHEN fresh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_batch,
                 CAST(sum(CASE WHEN fresh THEN 0 ELSE xi END) AS BIGINT)
                   AS s_corpus,
                 CAST(sum(CASE WHEN fresh THEN xi ELSE 0 END) AS BIGINT)
                   AS s_batch
          FROM els GROUP BY i)
        SELECT i, n_corpus, n_batch, s_corpus, s_batch,
               CASE WHEN n_corpus = 0 OR n_batch = 0 THEN 0.0
                    ELSE abs(CAST(s_corpus AS DOUBLE) / n_corpus
                           - CAST(s_batch AS DOUBLE) / n_batch) END
                 AS mean_gap
        FROM a ORDER BY i""")),
    QueryDef(
      "q_label_affinity", labelAffinity, Some(s"""
        WITH els AS MATERIALIZED (
          SELECT label,
                 unnest(generate_series(1, len(embedding))) - 1 AS dim,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $Q)
                   AS BIGINT) AS q
          FROM embeddings),
        sums AS MATERIALIZED (
          SELECT label, dim, CAST(sum(q) AS BIGINT) AS sv,
                 CAST(count(*) AS BIGINT) AS n
          FROM els GROUP BY label, dim),
        dots AS MATERIALIZED (
          SELECT a.label AS label_a, b.label AS label_b,
                 sum(CAST(a.sv AS HUGEINT) * b.sv) AS dot,
                 max(a.n) AS n_a, max(b.n) AS n_b
          FROM sums a JOIN sums b ON a.dim = b.dim AND a.label <= b.label
          GROUP BY a.label, b.label),
        sq AS (SELECT label_a AS l, dot AS sq FROM dots
               WHERE label_a = label_b)
        SELECT d.label_a, d.label_b, d.n_a, d.n_b,
               CAST(CASE WHEN d.dot < 0 THEN -1 WHEN d.dot > 0 THEN 1
                 ELSE 0 END AS BIGINT) AS dot_sign,
               CAST((d.dot * d.dot * 1000000) // (sa.sq * sb.sq)
                 AS BIGINT) AS cos2_ppm
        FROM dots d
        JOIN sq sa ON sa.l = d.label_a
        JOIN sq sb ON sb.l = d.label_b
        WHERE d.label_a < d.label_b
        ORDER BY d.label_a, d.label_b"""))
  )
}
