package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scope
import graft.functions.VectorFunctions._
import graft.ops.{QueryDef, QueryModule, Tables}

/** Similarity search over the `embeddings` table (north-star extension;
  * the reference has no vector surface).
  *
  * Three scale postures, all without a CartesianProduct node:
  *  - [[cosineTopK]]: batch-probe ANN baseline — a small probe set is
  *    broadcast against the corpus (BroadcastNestedLoopJoin). This is the
  *    100 TB shape for "find neighbors of these N new items": the corpus
  *    streams once per executor, no shuffle of the big side.
  *  - [[labelBucketTopK]]: IVF-style bucketed self-similarity — candidates
  *    only within a coarse partition (here the `label` column standing in
  *    for a cluster assignment), a shuffle-hash equi-join on the bucket key.
  *  - [[nearDupLsh]]: random-hyperplane LSH banding for near-duplicate
  *    pairs — signatures via [[graft.functions.VectorFunctions.lshBucket]],
  *    candidates from an equi-join on (table, bucket), then exact cosine
  *    verification. The only self-join is on the LSH key, so the plan
  *    scales as the bucket sizes, not n².
  */
object Similarity extends QueryModule {

  /** LSH banding: 48 tables x 14 bits for cosine >= 0.9 near-dup pairs.
    * p_bit = 1 - acos(0.9)/pi ≈ 0.856; per-band hit 0.856^14 ≈ 0.113;
    * miss (1-0.113)^48 ≈ 0.3% at the threshold (lower for truer dups),
    * while a random pair collides in ~0.5^14 * 48 ≈ 0.3% of bands, so
    * candidate volume stays ~linear. Signature cost is native-loop cheap
    * (LshBucketsExpr), not interpreted per element. */
  private val LshTables = 48
  private val LshBits = 14
  private val NearDupTau = 0.9

  /** Embeddings with raw float vector and precomputed double norm (the
    * native dot accumulates in double either way — bit-identical to
    * casting first). */
  /** Shared oracle CTE chain replaying the TWO-LEVEL assignment
    * ([[twoLevelFrom]] at nSuper = 2, refineIters = 0; probe
    * nprobe = 1) → `asg2(vec_id, super_id, centroid_id, cos)`. Expects
    * [[oracleVecs]]'s `e` in scope. Every stage carries the strict
    * (cos DESC, id ASC) tie rule of the kernels. */
  private lazy val oracleTwoLevelAsg = s"""
        $oracleSeeds,
        sup AS (SELECT centroid_id AS super_id, cemb AS semb, cn AS sn
                FROM c WHERE centroid_id < 2),
        -- child -> super: nearest of the two super seeds
        ca AS (
          SELECT c.centroid_id, sup.super_id,
                 row_number() OVER (PARTITION BY c.centroid_id ORDER BY
                   ${oracleDotOf("c.cemb", "sup.semb")}
                     / (c.cn * sup.sn) DESC, sup.super_id) AS rn
          FROM c CROSS JOIN sup),
        cmap AS (SELECT centroid_id, super_id FROM ca WHERE rn = 1),
        -- probe -> super (nprobe = 1)
        vs AS (
          SELECT e.vec_id, sup.super_id,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   ${oracleDotOf("e.embedding", "sup.semb")}
                     / (e.nrm * sup.sn) DESC, sup.super_id) AS rn
          FROM e CROSS JOIN sup),
        vsel AS (SELECT vec_id, super_id FROM vs WHERE rn = 1),
        -- probe -> child, scanning ONLY the selected super's children
        vc AS (
          SELECT e.vec_id, vsel.super_id, c.centroid_id,
                 $oracleCellCos AS cos
          FROM e
          JOIN vsel ON vsel.vec_id = e.vec_id
          JOIN cmap ON cmap.super_id = vsel.super_id
          JOIN c ON c.centroid_id = cmap.centroid_id),
        r2 AS (SELECT vec_id, super_id, centroid_id, cos,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, centroid_id) AS rn
              FROM vc),
        asg2 AS (SELECT vec_id, super_id, centroid_id, cos
                 FROM r2 WHERE rn = 1)"""

  private def vecs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", l2Norm($"v"))
  }

  /** Bounded top-K UDAF columns shared by every top-K query surface —
    * the (score DESC, id ASC) semantics of a `row_number` window with
    * K-entry state instead of a full candidate sort (the scale
    * argument lives on
    * [[graft.pipeline.Aggregators.TopKBuffer]]). */
  private def topKIds(k: Int) =
    udaf(new graft.pipeline.Aggregators.TopKCosineAgg(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Double)]())
  private def topKPairs(k: Int) =
    udaf(new graft.pipeline.Aggregators.TopKScorePairsAgg(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Double)]())

  /** The ranked-neighbours tail of every top-K surface: per `q_id`, the
    * bounded top-`k` of (`id`, `score`) candidates as rows (q_id, rank,
    * `id`, `out(score)`), rank 1 = best — `score` ranks DESC with ties
    * to the lower id; `out` maps the winning score back to the emitted
    * column (a distance ranked as its negation turns positive again). */
  private[graft] def rankedNeighbours(cands: DataFrame, k: Int, id: String,
      score: Column, out: Column => Column): DataFrame =
    cands.groupBy(col("q_id"))
      .agg(topKPairs(k)(col(id), score).as("nbrs"))
      .select(col("q_id"), posexplode(col("nbrs")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as(id), out(col("col._2")))

  /** [[rankedNeighbours]] by `cosine`, presented in (q_id, rank) order. */
  private def nearestByCosine(cands: DataFrame, k: Int): DataFrame =
    rankedNeighbours(cands, k, "neighbor_id", col("cosine"), _.as("cosine"))
      .orderBy(col("q_id"), col("rank"))

  /** [[rankedNeighbours]] by ascending ADC distance `adist`, presented
    * in (q_id, rank) order — the PQ family's tail. */
  private def nearestByAdc(cands: DataFrame, k: Int): DataFrame =
    rankedNeighbours(cands, k, "neighbor_id", -col("adist"),
      d => (-d).as("adist"))
      .orderBy(col("q_id"), col("rank"))

  /** Brute-force-exact top-5 neighbors for a small probe set (vec_id < 20),
    * probe side broadcast. */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val probes = broadcast(
      e.where($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn")))
    // bounded top-K aggregate, not a row_number window: the candidate
    // volume is |probes| × corpus, and the window form sorts ALL of it
    // (see TopKBuffer — map-side partials cap every task's
    // contribution at K rows per probe)
    e.join(probes, $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cosine"))
      .transform(nearestByCosine(_, 5))
  }

  /** The IVF coarse codebook: deterministic seed centroids (vec_id < 8)
    * resolved to driver arrays. A BOUNDED collect — K codebook rows, the
    * same bounded-metadata class as the reference's TopicPartitionList
    * commit contract, never a data-volume collect; the codebook then
    * rides to executors inside [[graft.functions.NearestCentroidExpr]]
    * as a codegen reference object (the FAISS shape: centroids are index
    * metadata, not a join side). */
  private case class Codebook(
      ids: Array[Long], cents: Array[Array[Double]], norms: Array[Double])

  private def centroids(e: DataFrame): Codebook = {
    import e.sparkSession.implicits._
    // ids ASCENDING: NearestCentroidExpr breaks cosine ties toward the
    // earliest entry, which must mean the lowest centroid_id. Sorted on
    // the driver: the ≤ 8 rows need no range-sort sample job and shuffle
    val rows = e.where($"vec_id" < 8)
      .select($"vec_id", $"v", $"nrm").collect().sortBy(_.getLong(0))
    Codebook(
      rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray.map(_.toDouble)),
      rows.map(_.getDouble(2)))
  }

  /** Nearest-centroid assignment of every row of `vectors` (must carry
    * `v`, `nrm`; all columns pass through). A NARROW codegen'd pass —
    * no join, no window, no shuffle: the one full-corpus stage of every
    * IVF query costs exactly one scan, shared by [[ivfAssign]],
    * [[ivfTopK]] and [[labelBucketTopK]]. */
  private def assignTo(vectors: DataFrame, cb: Codebook): DataFrame = {
    import vectors.sparkSession.implicits._
    vectors
      .withColumn("_best", graft.functions.VectorExpressions
        .nearest_centroid($"v", $"nrm", cb.ids, cb.cents, cb.norms))
      .withColumn("centroid_id", $"_best.centroid_id")
      .withColumn("cos", $"_best.cos")
      .drop("_best")
  }

  /** TWO-LEVEL coarse codebook (driver metadata, like [[Codebook]]):
    * `nSuper` super-centroids over the K children in CSR layout —
    * children of super `s` occupy `offs(s) until offs(s+1)` of
    * `ids`/`cents`/`norms`, sorted by (super, child id). The structure
    * that makes assignment affordable at the DEPLOYMENT geometry
    * K ∝ corpus (K = n / cell_target, the lever that keeps cells — and
    * hence per-cell pair work — constant as the corpus grows): a flat
    * scan is O(K·D) per probe vector, i.e. assignment cost grows
    * linearly with the corpus; the two-level scan is
    * O((S + nprobe·K/S)·D), minimized at S ≈ √K. */
  /** `marginMean` / `marginP10` are the SELF-REPORTED recall regime of
    * the hierarchy: over all children (zero-norm children excluded),
    * the gap `cos(child, nearest super) − cos(child, second super)`.
    * A probe near a child misroutes only when its super ranking
    * diverges from the child's, and the room it has to diverge is
    * exactly this gap — so the statistic predicts the HIERARCHY's
    * recall cost (recall_2l / recall_flat at the same nprobe — cell
    * truncation is the corpus's, not the hierarchy's) WITHOUT
    * re-running the recall rung. MEASURED (ScaleBench `ivf2_margin`,
    * flat-IVF baseline in-run, noise 0.6; 10⁶/K=250/S=16 and
    * 10⁷/K=2,500/S=50):
    *  - clustered codebook (children around S anchor directions — the
    *    shape [[trainedCodebook2]] yields on a manifold corpus):
    *    marginMean 0.70-0.75, marginP10 0.63-0.64 → hierarchy ratio
    *    1.000 at BOTH scales, at EVERY config down to sp=1/np=1 — the
    *    super layer is free; trust nprobe 1-4.
    *  - isotropic random-direction codebook (ivf2_recall's worst
    *    case): the margin THINS with K (marginMean 0.194/p10 0.050 at
    *    K=250 → 0.0996/0.0162 at K=2,500) and the ratio tracks it
    *    (0.82-0.89 → 0.54-0.71 at sp=1-2; 0.325 absolute at
    *    10⁸/K=25,000 per ivf2_recall) — raise index-time AND
    *    probe-time super fan-out (idxSp/superProbe ≥ 4, recovering
    *    0.88-0.99) or retrain the codebook on the corpus manifold
    *    before trusting the index.
    * Guidance: marginP10 ≳ 0.3 ⇒ clustered regime, sp=1 is safe;
    * marginP10 ≲ 0.1 ⇒ isotropic regime, budget idxSp/sp ≥ 4.
    * Both are +∞ when the structure has a single live super (every
    * probe scans all children — routing cannot lose). The pairing is
    * re-measured by the rung each run and pinned in SimilaritySpec
    * for the two geometries. */
  private[graft] case class Codebook2(
      superCents: Array[Array[Double]], superNorms: Array[Double],
      offs: Array[Int], ids: Array[Long], cents: Array[Array[Double]],
      norms: Array[Double], marginMean: Double, marginP10: Double)

  /** Build a [[Codebook2]] over an existing flat codebook — pure
    * driver arithmetic on K centroid rows (K × nSuper × D flops per
    * round: bounded index metadata, never a data-volume pass).
    *
    * `refineIters = 0` (the gate geometry) groups children under their
    * nearest of the FIRST-nSuper child centroids — one deterministic
    * assignment step with no iteration, so a SQL oracle can replay it
    * exactly. `refineIters > 0` (deployment) runs spherical Lloyd
    * rounds over the unit-normalized children: supers move to their
    * member mean, empty supers hold position — deterministic, and the
    * child→super map only affects WHICH supers a probe scans, never
    * the winning child's identity at nprobe = S (exactness pin in
    * SimilaritySpec).
    *
    * nprobe guidance, MEASURED (ScaleBench ivf2_recall, 10⁷ vectors,
    * K = 2,500, S = 50, unstructured random-direction codebook — the
    * worst case for a super layer, which then has near-zero cosine
    * margins): nprobe = 1 on both sides loses ~46 points of recall@10
    * purely to super misrouting (flat assignment at the same geometry
    * measured recall 1.000); nprobe = 4 at INDEX time plus 4-8 at
    * probe time recovers 0.93-0.99 while still costing
    * O((S + nprobe·K/S)·D) — 6.7× below the flat scan at K = 2,500
    * and ~32× at K = 25,000. Codebooks with real cluster structure
    * (trained on the corpus manifold) give the super layer margin and
    * need less; measure with the rung before committing an nprobe. */
  private[graft] def twoLevelFrom(cb: Codebook, nSuper: Int,
      refineIters: Int = 0): Codebook2 = {
    val k = cb.ids.length
    require(nSuper >= 1 && nSuper <= k,
      s"twoLevelFrom: nSuper $nSuper outside [1, $k]")
    val dim = cb.cents(0).length
    def l2(a: Array[Double]): Double = math.sqrt(a.map(x => x * x).sum)
    val sup = Array.tabulate(nSuper)(i => cb.cents(i).clone())
    val supN = Array.tabulate(nSuper)(i => cb.norms(i))
    def assign(): Array[Int] = Array.tabulate(k) { j =>
      var best = 0
      var bestCos = Double.NegativeInfinity
      var s = 0
      while (s < nSuper) {
        var acc = 0.0
        var d = 0
        while (d < dim) { acc += cb.cents(j)(d) * sup(s)(d); d += 1 }
        val cos = acc / (cb.norms(j) * supN(s))
        if (cos > bestCos) { bestCos = cos; best = s }
        s += 1
      }
      best
    }
    var asg = assign()
    var it = 0
    while (it < refineIters) {
      val sums = Array.fill(nSuper)(new Array[Double](dim))
      val cnt = new Array[Int](nSuper)
      var j = 0
      while (j < k) {
        val s = asg(j)
        cnt(s) += 1
        val nj = cb.norms(j)
        if (nj > 0) {
          var d = 0
          while (d < dim) { sums(s)(d) += cb.cents(j)(d) / nj; d += 1 }
        }
        j += 1
      }
      var s = 0
      while (s < nSuper) {
        if (cnt(s) > 0 && l2(sums(s)) > 0) {
          sup(s) = sums(s); supN(s) = l2(sums(s))
        }
        s += 1
      }
      asg = assign()
      it += 1
    }
    // COMPACT away empty supers (a refined Lloyd round can orphan one
    // — the classic empty-cluster case; its held position may end up
    // nearest to some probe, and probing a childless super wastes the
    // slot): keep only supers that own children, relative order
    // preserved. The kernel also skips empty supers defensively, but
    // the structure itself should not carry them. refineIters = 0
    // never produces empties (each seed self-assigns), so the gate
    // oracle's super ids are unaffected.
    val live = (0 until nSuper).filter(s => asg.contains(s)).toArray
    val remap = live.zipWithIndex.toMap
    val nLive = live.length
    val asgC = asg.map(remap)
    val order = (0 until k).sortBy(j => (asgC(j), cb.ids(j))).toArray
    val offs = new Array[Int](nLive + 1)
    order.foreach(j => offs(asgC(j) + 1) += 1)
    (1 to nLive).foreach(s => offs(s) += offs(s - 1))
    // self-reported recall regime: per-child top1−top2 super cosine
    // gap over the LIVE supers (K × nLive × D driver flops — the same
    // bounded-metadata class as the build itself). See Codebook2's
    // scaladoc for the statistic ↔ measured-recall pairing.
    val liveSup = live.map(sup)
    val liveSupN = live.map(supN)
    val (mMean, mP10) =
      if (nLive < 2) (Double.PositiveInfinity, Double.PositiveInfinity)
      else {
        val margins = (0 until k).iterator
          .filter(j => cb.norms(j) > 0)
          .map { j =>
            var best = Double.NegativeInfinity
            var second = Double.NegativeInfinity
            var s = 0
            while (s < nLive) {
              if (liveSupN(s) > 0) {
                var acc = 0.0
                var d = 0
                while (d < dim) { acc += cb.cents(j)(d) * liveSup(s)(d); d += 1 }
                val cos = acc / (cb.norms(j) * liveSupN(s))
                if (cos > best) { second = best; best = cos }
                else if (cos > second) { second = cos }
              }
              s += 1
            }
            best - second
          }
          .filterNot(_.isNaN).toArray
        if (margins.isEmpty) (Double.NaN, Double.NaN)
        else {
          val sorted = margins.sorted
          (margins.sum / margins.length,
            sorted(((sorted.length - 1) * 0.1).toInt))
        }
      }
    Codebook2(liveSup, liveSupN, offs,
      order.map(cb.ids), order.map(cb.cents), order.map(cb.norms),
      mMean, mP10)
  }

  /** [[twoLevelFrom]] over a public (centroid_id, centroid) codebook
    * seq — the entry the streaming semantic sink uses. Deterministic
    * for a given input (seeding, Lloyd rounds and CSR order all are),
    * so a restarted stream rebuilding it from the same frozen codebook
    * gets the byte-identical structure — the replay contract. */
  private[graft] def twoLevelFromSeq(codebook: Seq[(Long, Array[Float])],
      nSuper: Int, refineIters: Int): Codebook2 = {
    val cents = codebook.map(_._2.map(_.toDouble)).toArray
    twoLevelFrom(Codebook(codebook.map(_._1).toArray, cents,
      cents.map(c => math.sqrt(c.map(x => x * x).sum))), nSuper,
      refineIters)
  }

  /** Two-level sibling of [[assignTo]]: the same one-narrow-scan shape
    * (codebook rides the expression, no exchange), adding a `super_id`
    * column. `nprobe` supers are scanned for children. */
  private def assignTo2(vectors: DataFrame, cb2: Codebook2,
      nprobe: Int): DataFrame = {
    import vectors.sparkSession.implicits._
    vectors
      .withColumn("_best", graft.functions.VectorExpressions
        .nearest_centroid2($"v", $"nrm", cb2.superCents, cb2.superNorms,
          cb2.offs, cb2.ids, cb2.cents, cb2.norms, nprobe))
      .withColumn("super_id", $"_best.super_id")
      .withColumn("centroid_id", $"_best.centroid_id")
      .withColumn("cos", $"_best.cos")
      .drop("_best")
  }

  /** IVF-style bucketed self-similarity: top-3 most similar pairs within
    * each (label, centroid) CELL. The label alone is an unbounded bucket
    * (it grows linearly with the corpus, so within-bucket pairs grow
    * quadratically); sub-partitioning every label by the IVF coarse
    * assignment bounds the cell — at deployment scale the centroid count
    * K is the lever (K ∝ corpus/target_cell_size keeps cells, and hence
    * per-cell pair counts, constant), exactly how IVF indexes keep
    * "within-cell" work flat as the corpus grows. */
  def labelBucketTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"label", $"embedding".as("v"))
      .withColumn("nrm", l2Norm($"v"))
    // the pair join consumes the assignment TWICE (both sides); persist
    // materializes the index-build pass once instead of letting Catalyst
    // plan two corpus scans (no CSE across self-join subtrees). The cached
    // table is the (small) id+vector assignment; a real
    // deployment materializes the IVF assignment as a stored table and
    // joins against that, exactly like [[ivfTopK]] probes [[ivfAssign]].
    val cells = Scope.hold(assignTo(e, centroids(e))
      .select($"label", $"centroid_id", $"vec_id", $"v", $"nrm")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = cells.select($"label", $"centroid_id", $"vec_id".as("id_a"),
      $"v".as("va"), $"nrm".as("na"))
    val b = cells.select($"label", $"centroid_id", $"vec_id".as("id_b"),
      $"v".as("vb"), $"nrm".as("nb"))
    val w = Window.partitionBy($"label", $"centroid_id")
      .orderBy($"cosine".desc, $"id_a", $"id_b")
    a.join(b, Seq("label", "centroid_id"))
      .where($"id_a" < $"id_b")
      .select($"label", $"centroid_id", $"id_a", $"id_b",
        cosineWithNorms($"va", $"vb", $"na", $"nb").as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= 3)
      .select($"label", $"centroid_id", $"rank", $"id_a", $"id_b", $"cosine")
      .orderBy($"label", $"centroid_id", $"rank")
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023's shape): cluster
    * the corpus with the coarse codebook, then inside each cluster drop
    * every vector that has a LOWER-id cell-mate more similar than τ —
    * keep-the-canonical pairwise rule, order-independent and exactly
    * SQL-expressible, which lets the brute-force oracle gate the whole
    * operator. τ is corpus-calibrated (this synthetic corpus tops out
    * near cosine 0.47 within cells; a real near-dup threshold like 0.95
    * would make the drop path dead code in the gate).
    *
    * Scale shape: the assignment is the one narrow codebook scan shared
    * with [[ivfAssign]]; the only join is cell-bounded (K is the lever
    * that keeps cells constant-size as the corpus grows — same argument
    * as [[labelBucketTopK]]); the verdict is one existence join of each
    * vector against its cell-mates, so no drop set is built, deduplicated
    * or joined back. */
  private val SemDedupTau = 0.3

  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    semanticDedupOn(assignTo(e, centroids(e)))
  }

  /** [[semanticDedup]] through the TWO-LEVEL coarse quantizer — same
    * drop rule (any higher-similarity cell-mate with a lower id wins),
    * cells assigned by [[twoLevelFrom]] + nprobe = 1 instead of the
    * flat scan. At deployment K ∝ corpus this is the form that stays
    * affordable (assignment O(√K·D) per vector; the ivf2 rungs carry
    * the cost and recall envelope); at the gate geometry it hash-pins
    * the full hierarchy → cell-pair → verdict pipeline against the
    * SQL replay. Its cell assignment is held in the caller's
    * [[graft.Scope]], as [[semanticDedup]]'s is. */
  def semanticDedup2(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val cb2 = twoLevelFrom(centroids(e), nSuper = 2)
    semanticDedupOn(assignTo2(e, cb2, nprobe = 1))
  }

  /** The drop rule of both semantic-dedup forms over an `assigned`
    * corpus (carries vec_id, centroid_id, v, nrm): `is_dup` is a
    * correlated EXISTS over the vector's lower-id cell-mates, which
    * Spark plans as ONE ExistenceJoin keyed on the cell — a null cosine
    * (a zero norm) matches nothing, as in the oracle. */
  private def semanticDedupOn(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    val cells = persistedCells(assigned)
    // qualified on both sides: an unqualified outer name that the mate
    // side also carries resolves inside the subquery, as a self-match
    val dupOf = cells.as("mate").where(
      $"mate.centroid_id" === $"cell.centroid_id".outer() &&
        $"mate.vec_id" < $"cell.vec_id".outer() &&
        cosineWithNorms($"mate.v", $"cell.v".outer(),
          $"mate.nrm", $"cell.nrm".outer()) >= lit(SemDedupTau))
    cells.as("cell")
      .select($"vec_id", $"centroid_id", dupOf.exists().as("is_dup"))
      .orderBy($"vec_id")
  }

  /** The (vec_id, centroid_id, v, nrm) cell table of an assigned corpus,
    * persisted (the cell join reads it on both sides) and held in the
    * caller's [[graft.Scope]]. */
  private def persistedCells(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    Scope.hold(assigned
      .select($"vec_id", $"centroid_id", $"v", $"nrm")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Two-stage dedup cascade — the deployed shape of large-scale near-dup
    * removal: a cheap high-recall EMBEDDING stage proposes candidate
    * pairs (same coarse cell, cosine ≥ τ), and an exact TEXT stage
    * verifies each candidate by distinct-token Jaccard before anything
    * is dropped. Embedding recall alone over-fires on topically-similar
    * non-duplicates; text verification alone cannot be run all-pairs.
    * The cascade runs the expensive exact measure only on the candidate
    * set, and the output keeps both measures per pair so the precision
    * of stage 1 is itself auditable.
    *
    * Exactness: cosine is the established bit-reproducible double path;
    * the Jaccard is pure BIGINT (|A∩B| on distinct token sets,
    * |A∪B| = |A|+|B|−|A∩B|, floor-divided ppm).
    *
    * Scale: stage 1 is the cell-bounded pair join (never corpus²); the
    * candidate set that reaches the text join is orders of magnitude
    * smaller than the corpus, and the documents side joins on doc_id —
    * an equi-join Spark plans hash-partitioned (or broadcast when the
    * candidate set is small, the common case).
    *
    * Eager: launches jobs at call time (cell assignments persist, the
    * text-verify candidate set checkpoints); both are held in the
    * caller's [[graft.Scope]]. */
  def cascadeDedup(s: SparkSession, d: String): DataFrame =
    cascadeDedup(s, d, SemDedupTau)

  /** `tau` is the stage-1 recall knob and is corpus-dependent: 0.3 is
    * discriminative on the fixtures' clustered embeddings, while a
    * uniform-random corpus needs ~0.9+ to keep the candidate set near
    * the true-twin rate (ScaleBench probes at 0.95 for exactly that
    * reason — stage-1 selectivity, not the cascade's shape, is what the
    * threshold buys). */
  def cascadeDedup(s: SparkSession, d: String, tau: Double): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cells = persistedCells(assignTo(e, centroids(e)))
    val a = cells.select($"centroid_id", $"vec_id".as("id_a"),
      $"v".as("va"), $"nrm".as("na"))
    val b = cells.select($"centroid_id", $"vec_id".as("id_b"),
      $"v".as("vb"), $"nrm".as("nb"))
    // checkpointed: the cell-bounded cosine join is the expensive
    // stage-1 pass and would otherwise re-run once per verify-join
    // consumer subtree; the candidate ids then bound the text side
    // BEFORE the token-array projection (NearDup.candidateBounded), so
    // the exact-verify stage costs work ∝ the candidate set, never a
    // second full-corpus tokenize + two corpus-width shuffles
    val (cand, pairs) = NearDup.countedCheckpoint(
      a.join(b, Seq("centroid_id"))
        .select($"id_a", $"id_b",
          cosineWithNorms($"va", $"vb", $"na", $"nb").as("cosine"))
        .where($"id_a" < $"id_b" && $"cosine" >= lit(tau)))
    val docs = NearDup.candidateBounded(Tables.documents(s, d), cand, pairs)
      .select($"doc_id", array_distinct(split($"text", " ")).as("types"))
    cand
      .join(docs.select($"doc_id".as("id_a"), $"types".as("ta")), Seq("id_a"))
      .join(docs.select($"doc_id".as("id_b"), $"types".as("tb")), Seq("id_b"))
      .select($"id_a", $"id_b", $"cosine",
        size(array_intersect($"ta", $"tb")).cast("long").as("n_inter"),
        (size($"ta") + size($"tb")).cast("long").as("n_sum"))
      .withColumn("n_union", $"n_sum" - $"n_inter")
      .withColumn("jac_ppm", expr("n_inter * 1000000 div n_union"))
      .withColumn("confirmed", $"jac_ppm" >= 500000)
      .select($"id_a", $"id_b", $"cosine", $"n_inter", $"n_union",
        $"jac_ppm", $"confirmed")
      .orderBy($"id_a", $"id_b")
  }

  /** INCREMENTAL semantic dedup — the embedding-side analogue of
    * [[graft.operators.NearDup.incrementalNearDup]]: a fresh embedding
    * batch (vec_id % 10 >= 8) is deduped against corpus ∪ batch through
    * the SHARED coarse cells, without ever pairing corpus × corpus. A
    * fresh vector drops when any corpus cell-mate — regardless of id:
    * the standing corpus is immutable, its members always win — or any
    * LOWER-id fresh cell-mate is more similar than τ.
    *
    * Scale shape: assignment is the same narrow codebook scan as
    * [[ivfAssign]] (at deployment the corpus half is the STORED IVF
    * index; here it is recomputed inline, which exercises the same
    * plan); the pair join is cell-bounded AND one-sided — candidate
    * volume is |batch-cell| × |cell|, not |cell|². Only fresh rows are
    * reported: the verdict on the standing corpus cannot change. */
  def incrementalSemanticDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cells = Scope.hold(assignTo(e, centroids(e))
      .select($"vec_id", $"centroid_id", $"v", $"nrm",
        ($"vec_id" % 10 >= 8).as("fresh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val index = cells.select($"centroid_id", $"vec_id".as("id_a"),
      $"v".as("va"), $"nrm".as("na"), $"fresh".as("fresh_a"))
    val probe = cells.where($"fresh").select($"centroid_id",
      $"vec_id".as("id_b"), $"v".as("vb"), $"nrm".as("nb"))
    val dropped = index.join(probe, Seq("centroid_id"))
      .where($"id_a" =!= $"id_b" &&
        (!$"fresh_a" || $"id_a" < $"id_b") &&
        cosineWithNorms($"va", $"vb", $"na", $"nb") >= lit(SemDedupTau))
      .select($"id_b".as("vec_id")).distinct()
      .withColumn("hit", lit(true))
    cells.where($"fresh").select($"vec_id", $"centroid_id")
      .join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", $"centroid_id",
        coalesce($"hit", lit(false)).as("is_dup"))
      .orderBy($"vec_id")
  }

  /** IVF index build: assign every vector to its nearest coarse centroid.
    * The codebook rides inside the expression, so assignment is one
    * narrow scan of the corpus with NO exchange anywhere — the
    * index-build shape that scales to any corpus size. */
  def ivfAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    assignTo(e, centroids(e))
      .select($"vec_id", $"centroid_id", $"cos")
      .orderBy($"vec_id")
  }

  /** TWO-LEVEL IVF assignment gate — the hierarchical coarse quantizer
    * ([[twoLevelFrom]] + [[graft.functions.VecOps.nearestCentroid2]])
    * at oracle-able toy geometry: 8 children grouped under 2 supers
    * (seeds = children 0, 1; refineIters = 0 so the grouping is a
    * single SQL-replayable assignment step), probes scanning nprobe = 1
    * super. The oracle replays every stage — child→super map, probe→
    * super argmax, within-super child argmax, all with the strict
    * (cos DESC, id ASC) tie rule — so the full two-level kernel
    * semantics are hash-gated, not just spec-pinned. At deployment the
    * same kernel runs with K ∝ corpus, S ≈ √K, refined supers: the
    * assignment cost that made flat-scan deployment-K IVF unaffordable
    * drops to O(√K·D) per vector (measured: ScaleBench ivf2_deploy). */
  def ivfAssign2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cb2 = twoLevelFrom(centroids(e), nSuper = 2)
    assignTo2(e, cb2, nprobe = 1)
      .select($"vec_id", $"super_id", $"centroid_id", $"cos")
      .orderBy($"vec_id")
  }

  /** Cluster-label purity audit: assign every vector to its nearest
    * coarse centroid, then per cell report the population, the majority
    * label (ties toward the smallest label), and purity as integer ppm.
    * The standard "is this clustering aligned with supervision" check a
    * curation pipeline runs before trusting cluster-level decisions
    * (cell-quota sampling, semantic dedup) — low-purity cells are where
    * those decisions mix unrelated content.
    *
    * Everything after the assignment is exact integer arithmetic, so the
    * gate pins the full cell-assignment path (codebook collect +
    * NearestCentroidExpr) through to counts. Scale: the narrow
    * assignment scan reduces to (centroid, label) pairs via map-side
    * partial aggregation — the shuffles carry K x labels rows. */
  def clusterPurity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".as("v"), $"label")
      .withColumn("nrm", l2Norm($"v"))
    val counts = assignTo(e, centroids(vecs(s, d)))
      .groupBy($"centroid_id", $"label")
      .agg(count(lit(1)).as("n_top"))
    val byCell = Window.partitionBy($"centroid_id")
    val w = byCell.orderBy($"n_top".desc, $"label")
    counts
      .withColumn("rn", row_number().over(w))
      .withColumn("n_cell", sum($"n_top").over(byCell))
      .where($"rn" === 1)
      .select($"centroid_id", $"label".cast("long").as("top_label"),
        $"n_top", $"n_cell")
      .withColumn("purity_ppm", expr("n_top * 1000000 div n_cell"))
      .orderBy($"centroid_id")
  }

  /** IVF-probed search: probes (vec_id 8..17) only scan their own
    * cluster's inverted list — the candidate set shrinks by ~k versus a
    * full scan, the essential ANN-index trade.
    *
    * The corpus assignment runs ONCE (one narrow scan): the probe side
    * is assigned separately from a `vec_id`-filtered scan (the predicate
    * pushes into the parquet read, so the probe pass touches the 10
    * probe rows, not the corpus — Catalyst does not CSE the two
    * subtrees, and re-deriving probes from the corpus assignment would
    * plan the full pass twice). */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val cents = centroids(e)
    cellProbeTopK(e, assignTo(_, cents))
  }

  /** The inverted-list probe of [[ivfTopK]] and [[ivf2TopK]] under one
    * `assign`ment (adds centroid_id): the full corpus pass once, the
    * probes (vec_id 8..17) from their own filtered scan, a cell-bounded
    * candidate join and the bounded top-3 (cells grow with the corpus —
    * same sort-elimination as cosineTopK). */
  private def cellProbeTopK(e: DataFrame,
      assign: DataFrame => DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val indexed = assign(e) // the one full corpus×centroids pass
      .select($"vec_id", $"v", $"nrm", $"centroid_id")
    val probes = broadcast(
      assign(e.where($"vec_id" >= 8 && $"vec_id" < 18))
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
          $"centroid_id"))
    indexed.join(probes, Seq("centroid_id"))
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cosine"))
      .transform(nearestByCosine(_, 3))
  }

  /** Top-K search THROUGH the two-level index — [[ivfTopK]]'s probe
    * shape with BOTH sides assigned by the hierarchical quantizer
    * ([[twoLevelFrom]] + nprobe = 1): index and probes share the
    * quantizer, the consistency requirement the ivf2_deploy rung
    * measures (a flat-assigned probe against a two-level-assigned
    * index silently loses recall). Same bounded top-K aggregate, same
    * cell-bounded candidate join; at deployment the assignment pass
    * costs O(√K·D) per vector instead of O(K·D). Oracle replays the
    * full two-level assignment for corpus AND probes, then the ranked
    * inverted-list probe. */
  def ivf2TopK(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val cb2 = twoLevelFrom(centroids(e), nSuper = 2)
    cellProbeTopK(e, assignTo2(_, cb2, nprobe = 1))
  }

  /** The exact top-K ground truth both recall gates measure against:
    * brute-force cosine top-K for probes (vec_id 8..17) over the full
    * corpus, one broadcast-probe scan. Shared so [[annRecall]] and
    * [[annRecallMultiprobe]] can never drift to different baselines. */
  private def bruteTruthTopK(e: DataFrame, k: Int): DataFrame = {
    import e.sparkSession.implicits._
    val probes = broadcast(
      e.where($"vec_id" >= 8 && $"vec_id" < 18)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn")))
    // bounded top-K aggregate over the |probes| × corpus candidate
    // volume — the window form sorted all of it (TopKBuffer)
    e.join(probes, $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cosine"))
      .groupBy($"q_id")
      .agg(topKIds(k)($"neighbor_id", $"cosine").as("nbrs"))
      .select($"q_id", explode($"nbrs").as("neighbor_id"))
  }

  /** ANN RECALL@K eval — the index-quality monitor every approximate
    * search deployment runs on a probe sample before trusting the
    * index: for each probe, the EXACT top-K neighbors (brute-force over
    * the full corpus — the deliberate baseline, one broadcast-probe
    * scan) against the [[ivfTopK]] candidates, reporting hits and
    * recall as integer ppm. A single-cell IVF probe trades recall for
    * the ~K× candidate-set shrink; this query MEASURES that trade
    * instead of assuming it, and is the regression gate to re-run after
    * every [[codebookUpdate]] round.
    *
    * Scale shape: truth is |probes| × corpus through one broadcast join
    * (probe samples are small by design); the approx side rides the
    * IVF machinery (narrow assignment + inverted-list join); the
    * compare is (probe × K)-grain — trivial at any corpus size. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val truth = bruteTruthTopK(e, 3)
    val approx = ivfTopK(s, d).select($"q_id", $"neighbor_id")
      .withColumn("hit", lit(1L))
    truth.join(approx, Seq("q_id", "neighbor_id"), "left")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .select($"q_id", $"n_true", $"n_hit",
        expr("n_hit * 1000000 div n_true").as("recall_ppm"))
      .orderBy($"q_id")
  }

  /** SEMANTIC DECONTAMINATION — the embedding-space member of the
    * decontamination family ([[graft.operators.Corpus]] has the exact /
    * bloom / n-gram forms): eval-benchmark vectors (vec_id ≡ 0 mod 50,
    * the deterministic stand-in for a held-out test set) are probed
    * against the corpus through the SHARED IVF cells, flagging corpus
    * vectors whose cosine to any benchmark vector in their cell clears
    * `tau` — paraphrased eval contamination that no n-gram overlap
    * catches. Per benchmark vector: its cell, the corpus population
    * probed, the flag count, and the max cosine seen (the margin
    * readout that calibrates tau).
    *
    * Scale shape: ONE narrow assignment scan of the corpus (codebook in
    * the expression, no join); the pair stage joins the tiny benchmark
    * side to its own cells only — work ∝ |bench| × |cell|, never
    * corpus², exactly [[incrementalSemanticDedup]]'s one-sided probe
    * with the roles relabeled. */
  def semanticDecontaminate(s: SparkSession, d: String, tau: Double = 0.9)
      : DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cells = assignTo(e, centroids(e))
      .select($"vec_id", $"v", $"nrm", $"centroid_id")
    val bench = broadcast(cells.where($"vec_id" % 50 === 0)
      .select($"vec_id".as("bench_id"), $"v".as("bv"), $"nrm".as("bn"),
        $"centroid_id"))
    cells.where($"vec_id" % 50 =!= 0)
      .join(bench, Seq("centroid_id"))
      .select($"bench_id", $"centroid_id", $"vec_id",
        cosineWithNorms($"bv", $"v", $"bn", $"nrm").as("cos"))
      .groupBy($"bench_id")
      .agg(min($"centroid_id").as("centroid_id"),
        count(lit(1)).as("n_probed"),
        sum(when($"cos" >= tau, 1L).otherwise(0L)).as("n_flagged"),
        max($"cos").as("max_cos"))
      .orderBy($"bench_id")
  }

  /** MULTI-PROBE recall@K — the deployment knob [[annRecall]] exists to
    * calibrate: probing the `nprobe` nearest cells instead of one
    * multiplies the candidate set by ~nprobe/K_cells and buys recall
    * back (FAISS's `nprobe`). The probe side ranks cells through a
    * tiny broadcast cross join (|probes| × K rows — probe samples are
    * small by design); the corpus side is untouched: still ONE narrow
    * assignment scan, candidates still come from the inverted-list
    * equi-join, now on nprobe cells per probe. */
  def annRecallMultiprobe(s: SparkSession, d: String, nprobe: Int = 3)
      : DataFrame = {
    import s.implicits._
    val K = 3
    val e = vecs(s, d)
    val indexed = assignTo(e, centroids(e))
      .select($"vec_id", $"v", $"nrm", $"centroid_id")
    val centDf = broadcast(e.where($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"v".as("cv"), $"nrm".as("cn")))
    val wCell = Window.partitionBy($"q_id").orderBy($"ccos".desc, $"centroid_id")
    val probeCells = broadcast(
      e.where($"vec_id" >= 8 && $"vec_id" < 18)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
        .crossJoin(centDf)
        .withColumn("ccos", cosineWithNorms($"qv", $"cv", $"qn", $"cn"))
        .withColumn("crn", row_number().over(wCell))
        .where($"crn" <= nprobe)
        .select($"q_id", $"qv", $"qn", $"centroid_id"))
    // same bounded top-K aggregate as the truth side (the wCell window
    // above ranks a K_cells-bounded broadcast — that one is fine)
    val approx = indexed.join(probeCells, Seq("centroid_id"))
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cosine"))
      .groupBy($"q_id")
      .agg(topKIds(K)($"neighbor_id", $"cosine").as("nbrs"))
      .select($"q_id", explode($"nbrs").as("neighbor_id"))
      .withColumn("hit", lit(1L))
    val truth = bruteTruthTopK(e, K)
    truth.join(approx, Seq("q_id", "neighbor_id"), "left")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .select($"q_id", lit(nprobe.toLong).as("nprobe"), $"n_true", $"n_hit",
        expr("n_hit * 1000000 div n_true").as("recall_ppm"))
      .orderBy($"q_id")
  }

  /** One Lloyd UPDATE step of the IVF codebook, in exact arithmetic —
    * the trainable half of the index-build story as an oracle-gated
    * query. Assignment is the same narrow [[assignTo]] pass as
    * [[ivfAssign]]; the update is the per-(centroid, dimension) mean,
    * computed over `floor(x * 2^20)` scaled INTEGERS: a float32 times an
    * exact power of two is exact in double, so the per-cell sums are
    * order-independent BIGINT arithmetic (a straight double sum would be
    * partition-order-dependent and could never hash-match an oracle).
    * Shuffle volume is bounded by partial aggregation: each task emits
    * at most K×D cells, not its row count. */
  def codebookUpdate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    assignTo(e, centroids(e))
      .select($"centroid_id", posexplode($"v"))
      .select($"centroid_id", $"pos".cast("long").as("dim"),
        floor($"col".cast("double") * lit(1048576L)).cast("long").as("sv"))
      .groupBy($"centroid_id", $"dim")
      .agg(count(lit(1)).as("n"),
        (sum($"sv").cast("double") / count(lit(1))).as("c_new"))
      .orderBy($"centroid_id", $"dim")
  }

  /** Cluster-BALANCED sampling: keep a fixed fraction of every IVF cell
    * instead of a fraction of the corpus — the diversity-preserving
    * subsample (the SemDeDup/SSL-prototypes curation family): uniform
    * corpus sampling keeps dense regions dense, while per-cell quotas
    * keep every mode of the distribution represented. Keeps
    * ceil(0.2 × |cell|) vectors per cell, chosen by the same
    * md5-over-id deterministic rule the sampling family uses (exact,
    * seed-stable, engine-independent — no rand()).
    *
    * Scale shape: assignment is the narrow no-exchange [[assignTo]]
    * scan; both window functions (rank within cell, cell size) share
    * ONE hash exchange on centroid_id, and cells are capacity-bounded
    * by construction (k scales with corpus size in a real IVF build),
    * so no single partition outgrows an executor. */
  def cellSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cells = assignTo(e, centroids(e)).select($"vec_id", $"centroid_id")
    val key = md5(concat(lit("cell:"), $"vec_id".cast("string")))
    val rankW = Window.partitionBy($"centroid_id").orderBy(key, $"vec_id")
    val sizeW = Window.partitionBy($"centroid_id")
    cells
      .withColumn("rn", row_number().over(rankW).cast("long"))
      .withColumn("cell_n", count(lit(1)).over(sizeW))
      .where($"rn" <= ceil($"cell_n" * lit(0.2)).cast("long"))
      .select($"vec_id", $"centroid_id", $"rn".as("sample_rank"))
      .orderBy($"vec_id")
  }

  /** Full spherical k-means codebook TRAINING (iterated Lloyd): assign
    * every vector to its nearest centroid by cosine, re-estimate each
    * centroid as the mean of its members' UNIT vectors (the
    * cosine-optimal update — the mean direction maximizes average
    * cosine, which makes the objective monotone), repeat. Returns the
    * per-iteration training report (iter, centroid_id, n, avg_cos).
    *
    * Scale shape per iteration: one NARROW assignment scan (the codebook
    * rides inside [[graft.functions.NearestCentroidExpr]]), one
    * posexplode + hash-aggregate whose shuffle is bounded at K×D cells
    * per task by partial aggregation, and a K×D driver collect — index
    * METADATA, the same bounded class as [[centroids]]. Iteration count
    * is a constant knob, so the whole train is O(iters) corpus scans, no
    * lineage growth (each round's codebook is plain driver state, not a
    * growing plan). */
  def trainCodebook(s: SparkSession, d: String, iters: Int = 3): DataFrame = {
    import s.implicits._
    val e = vecs(s, d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cb = centroids(e)
    val reports = (1 to iters).map { it =>
      val assigned = assignTo(e, cb)
      // training report BEFORE the update: quality of the current codebook
      val report = assigned.groupBy($"centroid_id")
        .agg(count(lit(1)).as("n"), avg($"cos").as("avg_cos"))
        .withColumn("iter", lit(it.toLong))
        .select($"iter", $"centroid_id", $"n", $"avg_cos")
        .collect() // K rows
      // spherical update: mean of unit vectors per cell, per dimension
      cb = recenter(cb, assigned)
      report
    }
    val out = s.createDataFrame(
      s.sparkContext.parallelize(reports.flatten.toSeq, 1),
      reports.head.head.schema)
    e.unpersist(false)
    out.orderBy($"iter", $"centroid_id")
  }

  /** [[lloydStep]] with TWO-LEVEL assignment — the round shape that
    * makes deployment-K training affordable: the per-round assignment
    * drops from O(n_train·K·D) to O(n_train·(√K + sp·√K)·D); the
    * hierarchy is rebuilt from the CURRENT codebook each round (pure
    * driver arithmetic, K×√K×D flops — bounded index metadata). */
  private def lloydStep2(e: DataFrame, cb: Codebook,
      superProbe: Int): Codebook = {
    val s0 = math.max(8,
      math.ceil(math.sqrt(cb.ids.length.toDouble)).toInt)
    val cb2 = twoLevelFrom(cb, math.min(s0, cb.ids.length),
      refineIters = 1)
    recenter(cb, assignTo2(e, cb2, superProbe))
  }

  /** Hierarchically-accelerated spherical k-means — the TRAIN leg of
    * the K ∝ corpus lever ([[twoLevelFrom]] covered build+probe; a
    * deployment-K codebook also has to come from somewhere, and flat
    * Lloyd at K = 25,000 over 10⁸ vectors is O(n·K·D) per round —
    * hours). Two standard economies compose:
    *  - train on a DETERMINISTIC HASH SAMPLE of ≈ `trainPerCell` rows
    *    per centroid (FAISS's own sizing guidance: ~256/centroid is
    *    enough for a coarse quantizer) — training cost bounded by K,
    *    not the corpus;
    *  - assign each round through the two-level structure rebuilt from
    *    the current codebook (`superProbe` supers probed — 4 per the
    *    ivf2_recall guidance), O(√K·D) per sample vector.
    * Seeds are the k lowest-(hash, id) sample rows — deterministic, so
    * retraining from the same table reproduces the same codebook
    * (float-truncated for the public codebook contract). Returns
    * (centroid_id = 0..k-1, centroid) ready for
    * [[graft.streaming.StreamingPipeline.semanticDedupStream]] /
    * [[twoLevelFromSeq]]. Not oracle-gated (training quality is a
    * measured figure, ScaleBench `ivf2_train`): spec-pinned for
    * determinism, shape and finiteness. */
  private[graft] def trainedCodebook2(vectors: DataFrame, k: Int,
      iters: Int, trainPerCell: Int = 256, superProbe: Int = 4)
      : Seq[(Long, Array[Float])] = {
    val s = vectors.sparkSession
    import s.implicits._
    require(k >= 1 && iters >= 0)
    val n = vectors.count()
    val den = math.max(1L, n / math.max(trainPerCell.toLong * k, 1L))
    val sample = vectors
      .where(pmod(xxhash64($"vec_id"), lit(den)) === 0)
      .select($"vec_id", $"v")
      .withColumn("nrm", l2Norm($"v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seedRows = sample
        .orderBy(xxhash64($"vec_id"), $"vec_id").limit(k)
        .select($"v").collect()
      require(seedRows.length == k,
        s"trainedCodebook2: sample too small for k=$k " +
          s"(${seedRows.length} rows — lower trainPerCell or k)")
      var cb = Codebook(
        (0L until k.toLong).toArray,
        seedRows.map(_.getSeq[Float](0).toArray.map(_.toDouble)),
        seedRows.map(r =>
          math.sqrt(r.getSeq[Float](0).map(x => x.toDouble * x).sum)))
      (1 to iters).foreach(_ => cb = lloydStep2(sample, cb, superProbe))
      cb.ids.indices.map(i => (cb.ids(i), cb.cents(i).map(_.toFloat)))
    } finally { sample.unpersist(false); () }
  }

  /** One spherical-Lloyd update of `cb` over `e` (must carry v, nrm):
    * assign with the narrow [[assignTo]] scan, then [[recenter]]. */
  private def lloydStep(e: DataFrame, cb: Codebook): Codebook =
    recenter(cb, assignTo(e, cb))

  /** Re-center each cell of `cb` on the mean of its `assigned` unit
    * vectors (rows carry centroid_id, v, nrm) — the spherical update of
    * every Lloyd round ([[trainCodebook]], [[lloydStep]],
    * [[lloydStep2]]). K×D bounded collect, index metadata. Empty cells
    * keep their centroid. */
  private def recenter(cb: Codebook, assigned: DataFrame): Codebook = {
    import assigned.sparkSession.implicits._
    val means = assigned
      .select($"centroid_id", $"nrm", posexplode($"v"))
      // zero-norm guard: /0 yields NULL, which avg would silently skip
      // (biased mean) and an all-zero cell would NPE the driver decode;
      // a zero vector instead contributes a zero direction — neutral
      .select($"centroid_id", $"pos",
        when($"nrm" > 0, $"col".cast("double") / $"nrm")
          .otherwise(0.0).as("u"))
      .groupBy($"centroid_id", $"pos")
      .agg(avg($"u").as("m"))
      .collect()
      .groupBy(_.getLong(0))
    val kept = cb.ids.zipWithIndex.map { case (id, i) =>
      means.get(id) match {
        case Some(rows) =>
          val v = new Array[Double](cb.cents(i).length)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
          (id, v)
        case None => (id, cb.cents(i))
      }
    }
    Codebook(kept.map(_._1), kept.map(_._2),
      kept.map(p => math.sqrt(p._2.map(x => x * x).sum)))
  }

  /** DEPLOYMENT-GEOMETRY recall@K eval — [[annRecall]] /
    * [[annRecallMultiprobe]] run the gate fixture's toy geometry (8
    * cells, corpus-row centroids); this is the same measurement at the
    * geometry a deployment actually ships: a codebook of `k` cells
    * (seeded from the first `k` vectors, then `iters` spherical-Lloyd
    * rounds over the corpus), probes selected by `probePred`, and
    * recall@`topK` against the brute-force truth for every `nprobe` in
    * `nprobes` — the recall-vs-nprobe curve that calibrates the FAISS
    * `nprobe` knob before anyone trusts the index.
    *
    * Scale shape, per stage:
    *  - training: `iters` narrow assignment scans (codebook rides the
    *    expression), each reduced map-side to K×D cells;
    *  - corpus assignment for search: ONE more narrow scan, persisted;
    *  - truth: |probes| × corpus through one broadcast join — the
    *    deliberate exact baseline, priced by the probe sample size;
    *  - probe→cell ranking: computed on the DRIVER (|probes| × K × D
    *    multiplies — bounded index metadata, the same class as the
    *    codebook collect itself);
    *  - candidates: inverted-list equi-join per nprobe, work ∝
    *    Σ|probed cells|, never corpus².
    * Returns one row per nprobe: (nprobe, n_probes, n_true, n_hit,
    * recall_ppm, scanned_ppm) — recall_ppm = Σhits·10⁶ div Σtruth over
    * all probes; scanned_ppm = the mean fraction of the corpus the
    * probed cells cover (from the K-row cell histogram, driver-side) —
    * the COST axis of the recall-vs-nprobe curve, so the trade reads
    * directly: recall bought per corpus-fraction scanned.
    *
    * CONTRACT — `vectors` must be a DETERMINISTIC frame (a stored
    * table, or a pure derivation of one). It is deliberately NOT
    * persisted (two corpus-sized copies in the storage pool are what
    * killed the 10⁸ rung), so it is re-scanned iters+2 times; a frame
    * containing `rand()` / `monotonically_increasing_id()` / any
    * non-deterministic expression would yield DIFFERENT data per scan
    * and silently corrupt centroids, truth, and the recall figure:
    * materialize such inputs to parquet first. */
  private[graft] def recallEval(
      vectors: DataFrame, // columns: vec_id LONG, v ARRAY<FLOAT>
      k: Int,
      iters: Int,
      probePred: org.apache.spark.sql.Column,
      topK: Int,
      nprobes: Seq[Int]): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // NOT persisted: the source is scanned iters+2 times (seed collect,
    // Lloyd rounds, final assignment) — narrow scans of the stored
    // table, the deployment shape. Persisting it alongside `indexed`
    // held TWO full corpus copies in the storage pool at once; the
    // second copy (plus the truth sort it fed, below) is what ran the
    // 10⁸-vector rung out of single-host scratch.
    val e = vectors.select($"vec_id", $"v").withColumn("nrm", l2Norm($"v"))
    locally {
      var cb = {
        val rows = e.where($"vec_id" < k)
          .select($"vec_id", $"v", $"nrm").orderBy($"vec_id").collect()
        Codebook(rows.map(_.getLong(0)),
          rows.map(_.getSeq[Float](1).toArray.map(_.toDouble)),
          rows.map(_.getDouble(2)))
      }
      (1 to iters).foreach(_ => cb = lloydStep(e, cb))
      val indexed = assignTo(e, cb)
        .select($"vec_id", $"v", $"nrm", $"centroid_id").persist(lvl)
      try {
        val probes = indexed.where(probePred)
          .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
        // exact top-K per probe via the BOUNDED aggregate — identical
        // selection+tie semantics to the row_number window it replaces
        // (TopKBuffer scaladoc has the scale argument: the window
        // sorted the full probes × corpus candidate volume)
        val tk = topKIds(topK)
        val truth = indexed.join(broadcast(probes), $"vec_id" =!= $"q_id")
          .select($"q_id", $"vec_id".as("neighbor_id"),
            cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cosine"))
          .groupBy($"q_id")
          .agg(tk($"neighbor_id", $"cosine").as("nbrs"))
          .select($"q_id", explode($"nbrs").as("neighbor_id"))
          .persist(lvl)
        try {
          truth.count()
          // K-row cell-population histogram (index metadata): prices
          // each nprobe's candidate volume without re-running the join
          val cellSize: Map[Long, Long] = indexed
            .groupBy($"centroid_id").agg(count(lit(1)).as("n"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val corpusN = math.max(cellSize.values.sum, 1L)
          // probe→cell ranking on the driver: |probes| × K × D
          val pRows = probes.collect()
          val rankedCells: Array[(Long, Array[Float], Double, Array[Long])] =
            pRows.map { r =>
              val qid = r.getLong(0)
              val qv = r.getSeq[Float](1).toArray
              val qn = r.getDouble(2)
              val byCos = cb.ids.indices.map { i =>
                var dotv = 0.0
                var j = 0
                while (j < qv.length) {
                  dotv += qv(j) * cb.cents(i)(j); j += 1
                }
                (cb.ids(i), dotv / math.max(qn * cb.norms(i), 1e-300))
              }.sortBy { case (id, c) => (-c, id) }.map(_._1).toArray
              (qid, qv, qn, byCos)
            }
          val perNprobe = nprobes.map { np =>
            val scannedPpm =
              if (rankedCells.isEmpty) 0L
              else rankedCells.map(_._4.take(np)
                .map(c => cellSize.getOrElse(c, 0L)).sum * 1000000L / corpusN)
                .sum / rankedCells.length
            val pc = broadcast(
              rankedCells.flatMap { case (qid, qv, qn, cells) =>
                cells.take(np).map(c => (qid, qv.toSeq, qn, c))
              }.toSeq.toDF("q_id", "qv", "qn", "centroid_id"))
            // same bounded top-K aggregate as the truth side: the
            // candidate volume here is cell-bounded but still grows
            // with the corpus (|probes| × nprobe × n/K rows)
            val approx = indexed.join(pc, Seq("centroid_id"))
              .where($"vec_id" =!= $"q_id")
              .select($"q_id", $"vec_id".as("neighbor_id"),
                cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cosine"))
              .groupBy($"q_id")
              .agg(tk($"neighbor_id", $"cosine").as("nbrs"))
              .select($"q_id", explode($"nbrs").as("neighbor_id"))
              .withColumn("hit", lit(1L))
            // coalesce + greatest: an EMPTY probe set (probePred matched
            // nothing) must report a 0-row recall of 0, not NULL-decode
            truth.join(approx, Seq("q_id", "neighbor_id"), "left")
              .agg(countDistinct($"q_id").as("n_probes"),
                count(lit(1)).as("n_true"),
                coalesce(sum(coalesce($"hit", lit(0L))), lit(0L))
                  .as("n_hit"))
              .select(lit(np.toLong).as("nprobe"), $"n_probes", $"n_true",
                $"n_hit",
                expr("n_hit * 1000000 div greatest(n_true, 1)")
                  .as("recall_ppm"),
                lit(scannedPpm).as("scanned_ppm"))
          }
          val out = perNprobe.reduce(_ unionByName _).collect()
          s.createDataFrame(
            s.sparkContext.parallelize(out.toSeq, 1), perNprobe.head.schema)
        } finally { truth.unpersist(false); () }
      } finally { indexed.unpersist(false); () }
    }
  }

  /** Product-quantization sub-codebooks: M contiguous subspaces of the
    * 64-d embedding, each with a small deterministic codebook (the
    * sub-vectors of vec_id < PqK, same data-derived-seed convention as
    * [[centroids]]). cents(m)(c)(j) = component j of sub-centroid c of
    * subspace m. A bounded collect — PqK rows of index metadata. */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 4

  private def pqCodebook(e: DataFrame): Array[Array[Array[Double]]] = {
    import e.sparkSession.implicits._
    val rows = e.where($"vec_id" < PqK)
      .select($"vec_id", $"v").orderBy($"vec_id").collect()
    // code c must equal source vec_id: the oracle labels codes by vec_id
    require(rows.map(_.getLong(0)).sameElements(0L until rows.length.toLong),
      "PQ codebook seed rows must be the dense vec_ids 0..PqK-1")
    val vs = rows.map(_.getSeq[Float](1).toArray.map(_.toDouble))
    Array.tabulate(PqM)(m =>
      vs.map(v => java.util.Arrays.copyOfRange(v, m * PqSubDim,
        (m + 1) * PqSubDim)))
  }

  /** PQ index build: encode every vector to M sub-centroid codes (a
    * 16-bit key here; M bytes in general) plus its reconstruction error.
    * The codebooks ride inside [[graft.functions.PqEncodeExpr]], so the
    * build is ONE narrow corpus scan with no exchange — at 100 TB the
    * encoded corpus is ~D_bytes/M× smaller than the raw vectors, which
    * is the artifact a PQ ANN index actually stores. */
  def pqEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cb = pqCodebook(e)
    val enc = e.withColumn("codes",
      graft.functions.VectorExpressions.pq_encode($"v", cb))
    val key = (0 until PqM)
      .map(m => element_at($"codes", m + 1) * lit(1L << (2 * m)))
      .reduce(_ + _)
    enc.select($"vec_id", key.as("code_key"),
      graft.functions.VectorExpressions.pq_adc($"v", $"codes", cb)
        .as("recon_err"))
      .orderBy($"vec_id")
  }

  /** PQ-probed ANN search via asymmetric distance (ADC): raw query
    * vectors against the ENCODED corpus — the memory-bound shape of a
    * production PQ index, where the scan touches M-byte codes instead of
    * 4·D-byte vectors. Probes broadcast (BNLJ, corpus streams once);
    * top-k per probe by reconstructed squared L2. The oracle is the
    * same distance computed from a SQL-reconstructed corpus, so any
    * encode/ADC disagreement surfaces as a hash mismatch. */
  def pqTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cb = pqCodebook(e)
    val enc = e.select($"vec_id",
      graft.functions.VectorExpressions.pq_encode($"v", cb).as("codes"))
    val probes = broadcast(
      e.where($"vec_id" >= 20 && $"vec_id" < 30)
        .select($"vec_id".as("q_id"), $"v".as("qv")))
    // bounded top-K aggregate over the |probes| × corpus ADC scan; the
    // aggregate ranks by score DESC, so the ASCENDING distance rides in
    // negated (exact: adist is a sum of squares, always +0.0-or-more,
    // and -(-x) is bit-identical for finite doubles)
    enc.join(probes, $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        graft.functions.VectorExpressions.pq_adc($"qv", $"codes", cb)
          .as("adist"))
      .transform(nearestByAdc(_, 5))
  }

  /** Scalar-quantization audit: per-vector reconstruction error of a
    * `levels`-cell uniform int8-style quantizer (midpoint reconstruction)
    * — the capacity check run before committing a corpus to a quantized
    * ANN index. One NARROW codegen'd pass over the embeddings (the
    * [[graft.functions.QuantErrExpr]] expression); no joins, no shuffle
    * except the presentation sort, so it scales as a plain scan. */
  /** IVF-PQ search — the FAISS IVFADC composition, end to end: the
    * TWO-LEVEL coarse quantizer prunes candidates to the probe's cell
    * (work ∝ cell size, never corpus) and ADC on the PQ CODES scores
    * them (the scan touches M-byte codes, not D-float vectors — the
    * memory shape that lets a 100 TB corpus's index fit a cluster's
    * RAM). One narrow scan builds both index facets (cell id + codes
    * ride the same projection); probes join on the cell and rank by
    * ADC distance through the bounded top-K aggregate.
    *
    * Codes are PQ of the RAW vector; [[ivfPqResidualTopK]] is the
    * residual-encoded refinement (FAISS's IVFPQ proper) with the same
    * plan shape — both oracle-replayed end to end. */
  def ivfPqTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cb2 = twoLevelFrom(centroids(e), nSuper = 2)
    val pqcb = pqCodebook(e)
    val indexed = assignTo2(e, cb2, nprobe = 1)
      .select($"vec_id", $"centroid_id",
        graft.functions.VectorExpressions.pq_encode($"v", pqcb)
          .as("codes"))
    val probes = broadcast(
      assignTo2(e.where($"vec_id" >= 20 && $"vec_id" < 30), cb2,
        nprobe = 1)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"centroid_id"))
    indexed.join(probes, Seq("centroid_id"))
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        graft.functions.VectorExpressions.pq_adc($"qv", $"codes", pqcb)
          .as("adist"))
      .transform(nearestByAdc(_, 5))
  }

  /** RESIDUAL IVF-PQ — the faithful FAISS IVFPQ: codes quantize the
    * residual v − centroid(cell(v)) rather than the raw vector, so the
    * PQ codebook models only the WITHIN-CELL distribution (tighter
    * quantization for the same M bytes — the coarse quantizer already
    * explains the between-cell variance) — and ADC compares the QUERY
    * residual w.r.t. the probed cell against the codes. Search shape
    * is identical to [[ivfPqTopK]] (cell-bounded candidates, code-width
    * scan, bounded top-K); only the encoded quantity changes. The
    * oracle replays the residual computation, the residual-trained PQ
    * chain and the residual ADC verbatim — every arithmetic step is
    * the same double fold on both engines. */
  def ivfPqResidualTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (indexed, probes, pqcb) = residualPqIndex(vecs(s, d))
    indexed.join(probes, Seq("centroid_id"))
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        graft.functions.VectorExpressions.pq_adc($"qres", $"codes", pqcb)
          .as("adist"))
      .transform(nearestByAdc(_, 5))
  }

  /** The per-(subspace, code, dimension) EXACT Lloyd-update cells of the
    * PQ sub-codebooks over `vectors` (must carry a vector column `vcol`)
    * encoded with `book`: n members and the scaled-integer mean
    * `c_val = (Σ floor(x·2²⁰)) / n / 2²⁰` — the same order-independent
    * BIGINT-sum discipline as [[codebookUpdate]], so the update is
    * bit-reproducible by a SQL oracle AND merge-order-independent
    * across partitions (a straight double mean is neither). One narrow
    * encode scan + a hash aggregate bounded at M×PqK×subDim cells per
    * task by partial aggregation. */
  private def pqTrainAgg(vectors: DataFrame, vcol: String,
      book: Array[Array[Array[Double]]]): DataFrame = {
    import vectors.sparkSession.implicits._
    val subDim = book(0)(0).length
    vectors
      .select(col(vcol).as("_v"),
        graft.functions.VectorExpressions.pq_encode(col(vcol), book)
          .as("codes"))
      .select($"codes", posexplode($"_v"))
      .select(
        floor($"pos" / lit(subDim)).cast("long").as("m"),
        ($"pos" % subDim).cast("long").as("dim"),
        element_at($"codes", ($"pos" / lit(subDim)).cast("int") + 1)
          .as("code"),
        floor($"col".cast("double") * lit(1048576L)).cast("long").as("sv"))
      .groupBy($"m", $"code", $"dim")
      .agg(count(lit(1)).as("n"),
        (sum($"sv").cast("double") / count(lit(1)) / lit(1048576.0))
          .as("c_val"))
  }

  /** PQ sub-codebook TRAINING, one exact Lloyd round as an oracle-gated
    * query: encode the corpus with the SEED book ([[pqCodebook]] — the
    * first-PqK rows' slices, the shipped gate convention), then emit
    * the updated sub-centroid table (m, code, dim, n, c_val). This is
    * the training arithmetic every deployed PQ index needs (seeded
    * books quantize poorly — the sub-centroids must move to their
    * members' means) pinned end to end against the SQL replay; the
    * iterated deployment form is [[trainedPqBook]], which loops this
    * exact aggregation on a bounded hash sample.
    *
    * Scale shape: the encode is ONE narrow codegen scan (the book rides
    * [[graft.functions.PqEncodeExpr]]); the update shuffle is bounded
    * at M × PqK × subDim cells per task by partial aggregation —
    * index-metadata-sized regardless of corpus size. */
  def pqTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    pqTrainAgg(e, "v", pqCodebook(e)).orderBy($"m", $"code", $"dim")
  }

  /** The trained gate book: seed sub-centroids moved one exact Lloyd
    * round ([[pqTrainAgg]] collected — M×PqK×subDim cells of index
    * metadata, the bounded class of [[centroids]]); a (m, code) pair
    * with no members keeps its seed slice (the empty-cell rule every
    * Lloyd step here uses). */
  private def trainedPqGateBook(e: DataFrame): Array[Array[Array[Double]]] = {
    val seed = pqCodebook(e)
    val book = seed.map(_.map(_.clone()))
    pqTrainAgg(e, "v", seed).collect().foreach { r =>
      book(r.getLong(0).toInt)(r.getLong(1).toInt)(r.getLong(2).toInt) =
        r.getDouble(4)
    }
    book
  }

  /** [[pqTopK]] through the TRAINED sub-codebooks — the deployment form
    * of PQ search, oracle-replayed end to end: the oracle recomputes
    * the seed encode, the exact scaled-integer Lloyd update, the
    * re-encode against the trained book (strict-less argmin, ties to
    * the lowest code) and the ADC fold, so the full train→encode→search
    * chain is hash-gated, not just the seeded gate geometry. Same plan
    * shape as [[pqTopK]]: one narrow encode scan, broadcast probes,
    * bounded top-K aggregate. */
  def pqTopKTrained(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val book = trainedPqGateBook(e)
    val enc = e.select($"vec_id",
      graft.functions.VectorExpressions.pq_encode($"v", book).as("codes"))
    val probes = broadcast(
      e.where($"vec_id" >= 20 && $"vec_id" < 30)
        .select($"vec_id".as("q_id"), $"v".as("qv")))
    enc.join(probes, $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        graft.functions.VectorExpressions.pq_adc($"qv", $"codes", book)
          .as("adist"))
      .transform(nearestByAdc(_, 5))
  }

  /** DEPLOYMENT PQ sub-codebook training — per-subspace k-means with
    * the [[trainedCodebook2]] economies: train on a deterministic hash
    * sample of ≈ `perCode` rows per code (cost bounded by k, not the
    * corpus), each round ONE narrow encode scan of the sample + the
    * exact scaled-integer update of [[pqTrainAgg]] (deterministic AND
    * partition-order-independent, so retraining from the same table
    * reproduces the same book bit-for-bit — the replay contract).
    * Seeds are the k lowest-(hash, id) sample rows' sub-slices; empty
    * codes keep their current sub-centroid. Works over any vector
    * column (`vcol` float or double array) — the RESIDUAL variant of
    * the FAISS IVFPQ recipe is this function applied to a residual
    * frame (v − centroid(cell(v)), as [[ivfPqResidualTopK]] builds).
    * Not oracle-gated at deployment k (quality is a measured figure —
    * ScaleBench `pq_train`); [[pqTrain]] gates the identical round
    * arithmetic at the fixture geometry. Spec-pinned for determinism,
    * shape, and distortion improvement over the seed book. */
  private[graft] def trainedPqBook(vectors: DataFrame, vcol: String,
      idCol: String, mSub: Int, subDim: Int, k: Int, iters: Int,
      perCode: Int = 256): Array[Array[Array[Double]]] = {
    val s = vectors.sparkSession
    import s.implicits._
    require(mSub >= 1 && subDim >= 1 && k >= 1 && iters >= 0)
    val n = vectors.count()
    val den = math.max(1L, n / math.max(perCode.toLong * k, 1L))
    val sample = vectors
      .where(pmod(xxhash64(col(idCol)), lit(den)) === 0)
      .select(col(idCol).as("_id"), col(vcol).as("_v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seedRows = sample
        .orderBy(xxhash64($"_id"), $"_id").limit(k)
        .select($"_v").collect()
      require(seedRows.length == k,
        s"trainedPqBook: sample too small for k=$k " +
          s"(${seedRows.length} rows — lower perCode or k)")
      def slice(r: org.apache.spark.sql.Row): Array[Array[Double]] = {
        val v = r.get(0).asInstanceOf[scala.collection.Seq[Any]]
          .map {
            case f: Float => f.toDouble
            case dd: Double => dd
          }.toArray
        require(v.length == mSub * subDim,
          s"trainedPqBook: vector dim ${v.length} != $mSub*$subDim")
        Array.tabulate(mSub)(m =>
          java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim))
      }
      val seedSlices = seedRows.map(slice)
      var book = Array.tabulate(mSub, k)((m, c) => seedSlices(c)(m))
      (1 to iters).foreach { _ =>
        val next = book.map(_.map(_.clone()))
        pqTrainAgg(sample, "_v", book).collect().foreach { r =>
          next(r.getLong(0).toInt)(r.getLong(1).toInt)(r.getLong(2).toInt) =
            r.getDouble(4)
        }
        book = next
      }
      book
    } finally { sample.unpersist(false); () }
  }

  /** [[pqCodebook]] over a residual frame (column `rv`, double). */
  /** The residual IVF-PQ index facets at the gate geometry, shared by
    * [[ivfPqResidualTopK]], [[ivfPqRerankTopK]] and
    * [[ivf2PqTrainedTopK]]: the encoded corpus (vec_id, centroid_id,
    * codes), the probe rows with their per-cell residuals, and the
    * residual sub-codebook. `train = true` moves the seed residual
    * sub-centroids one exact scaled-integer Lloyd round
    * ([[pqTrainAgg]] over the residual frame — [[trainedPqGateBook]]'s
    * arithmetic, empty (m, code) cells keep their seed slice) before
    * encoding, so the composed trained chain is gateable end to end. */
  private def residualPqIndex(e: DataFrame, train: Boolean = false)
      : (DataFrame, DataFrame, Array[Array[Array[Double]]]) = {
    val s = e.sparkSession
    import s.implicits._
    val cb2 = twoLevelFrom(centroids(e), nSuper = 2)
    // K-row centroid lookup (child vectors, already double) — broadcast
    val centDf = broadcast(
      cb2.ids.indices.map(j => (cb2.ids(j), cb2.cents(j).toSeq))
        .toDF("centroid_id", "cvec"))
    def residuals(src: DataFrame): DataFrame = src
      .join(centDf, Seq("centroid_id"))
      .select($"vec_id", $"centroid_id",
        zip_with($"v", $"cvec",
          (a, b) => a.cast("double") - b).as("rv"))
    val res = residuals(assignTo2(e, cb2, nprobe = 1))
    val seed = pqResidualCodebook(res)
    val pqcb =
      if (!train) seed
      else {
        val book = seed.map(_.map(_.clone()))
        pqTrainAgg(res, "rv", seed).collect().foreach { r =>
          book(r.getLong(0).toInt)(r.getLong(1).toInt)(
            r.getLong(2).toInt) = r.getDouble(4)
        }
        book
      }
    val indexed = res.select($"vec_id", $"centroid_id",
      graft.functions.VectorExpressions.pq_encode($"rv", pqcb)
        .as("codes"))
    val probes = broadcast(
      residuals(assignTo2(e.where($"vec_id" >= 20 && $"vec_id" < 30),
        cb2, nprobe = 1))
        .select($"vec_id".as("q_id"), $"rv".as("qres"), $"centroid_id"))
    (indexed, probes, pqcb)
  }

  /** Re-rank levers at the gate geometry: ADC shortlist size R·k and
    * the final exact-ranked k. Deployment sizing guidance lives on
    * [[ivfPqRerankTopK]]'s scaladoc; the measured recall-vs-R curve is
    * the `pq_rerank` ScaleBench rung. */
  private val RerankShortlist = 5
  private val RerankK = 3

  /** EXACT RE-RANK over the residual IVF-PQ shortlist — the standard
    * refinement recipe (FAISS IndexRefine shape), closing the gap the
    * pq_train rung measured (residual ADC recall@10 ≈ 0.22 at 10⁷ vs
    * the exact-IVF ceiling 1.0): ADC ranks are good enough to
    * SHORTLIST but not to SHIP. The search keeps the cell-bounded,
    * M-byte-code ADC scan for candidate generation (top R·k per probe,
    * (adist, id) ties), then reads the RAW vectors of the shortlist
    * rows ONLY — a |probes|·R·k-row bounded lookup via the join on
    * neighbor_id, never a corpus re-scan — and scores them with the
    * exact squared L2 ((dist2, id) ties). R is the recall lever next
    * to nprobe: raising it widens the bounded exact read, never the
    * code scan. The final rank is a row_number window whose partition
    * is ≤ R·k rows BY CONSTRUCTION (the shortlist aggregate already
    * bounded it), so the bounded-top-K-aggregate rule for
    * corpus-scaling candidate sets does not apply. The oracle replays
    * the full chain — residual encode → ADC shortlist → exact re-rank
    * — in the kernels' arithmetic. */
  def ivfPqRerankTopK(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val (indexed, probes, pqcb) = residualPqIndex(e)
    adcShortlistRerank(e, indexed, probes, pqcb)
  }

  /** The COMPOSED deployment index at gate geometry — every stage of
    * the 100 TB ANN artifact in ONE search path, oracle-replayed end
    * to end: two-level coarse assignment ([[twoLevelFrom]], the
    * hierarchy that keeps assignment cost flat as K ∝ corpus) →
    * per-cell residuals → residual sub-codebook moved one exact
    * scaled-integer Lloyd round ([[pqTrainAgg]] — the training every
    * deployed book needs) → ADC shortlist over the M-byte codes →
    * exact re-rank of the shortlist rows only ([[ivfPqRerankTopK]]'s
    * refinement). [[ivfPqRerankTopK]] gates the same chain with the
    * SEED book; this gate adds the training stage, so the full
    * hierarchy + train + encode + search + refine composition is
    * hash-gated, not just its pieces. The deployment-K form (trained
    * coarse hierarchy via [[trainedCodebook2]], [[trainedPqBook]]
    * residual subspaces, measured recall/latency vs the flat-coarse
    * scan) is the ScaleBench `ivf2pq` rung. */
  def ivf2PqTrainedTopK(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val (indexed, probes, pqcb) = residualPqIndex(e, train = true)
    adcShortlistRerank(e, indexed, probes, pqcb)
  }

  /** ADC shortlist (top R·k per probe by (adist, id)) → exact
    * squared-L2 re-rank of the shortlist rows only — the refinement
    * stage shared by [[ivfPqRerankTopK]] and [[ivf2PqTrainedTopK]];
    * the scale argument lives on [[ivfPqRerankTopK]]. */
  private def adcShortlistRerank(e: DataFrame, indexed: DataFrame,
      probes: DataFrame,
      pqcb: Array[Array[Array[Double]]]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val shortlist = indexed.join(probes, Seq("centroid_id"))
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        graft.functions.VectorExpressions.pq_adc($"qres", $"codes", pqcb)
          .as("adist"))
      .groupBy($"q_id")
      .agg(topKPairs(RerankShortlist)($"neighbor_id", -$"adist")
        .as("cand"))
      .select($"q_id", explode($"cand").as("c"))
      .select($"q_id", $"c._1".as("neighbor_id"), (-$"c._2").as("adist"))
    val nv = e.select($"vec_id".as("neighbor_id"), $"v".as("nv"))
    val qv = broadcast(e.where($"vec_id" >= 20 && $"vec_id" < 30)
      .select($"vec_id".as("q_id"), $"v".as("qv")))
    // exact squared L2, the oracle's left-to-right diff-square fold
    // (NOT |q|²+|n|²−2qn — algebraically equal, floating-point not);
    // higher-order-function cost is irrelevant on ≤ |probes|·R·k rows
    val dist2 = aggregate(
      zip_with($"qv", $"nv",
        (a, b) => (a.cast("double") - b.cast("double")) *
          (a.cast("double") - b.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    shortlist
      .join(nv, Seq("neighbor_id"))
      .join(qv, Seq("q_id"))
      .select($"q_id", $"neighbor_id", $"adist", dist2.as("dist2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"q_id")
          .orderBy($"dist2".asc, $"neighbor_id".asc)).cast("long"))
      .where($"rank" <= RerankK)
      .select($"q_id", $"rank", $"neighbor_id", $"dist2", $"adist")
      .orderBy($"q_id", $"rank")
  }

  private def pqResidualCodebook(res: DataFrame)
      : Array[Array[Array[Double]]] = {
    import res.sparkSession.implicits._
    val rows = res.where($"vec_id" < PqK)
      .select($"vec_id", $"rv").orderBy($"vec_id").collect()
    require(rows.map(_.getLong(0)).sameElements(0L until rows.length.toLong),
      "PQ residual codebook seed rows must be the dense vec_ids 0..PqK-1")
    val vs = rows.map(_.getSeq[Double](1).toArray)
    Array.tabulate(PqM)(m =>
      vs.map(v => java.util.Arrays.copyOfRange(v, m * PqSubDim,
        (m + 1) * PqSubDim)))
  }

  def quantizeErr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id",
        graft.functions.VectorExpressions.quant_err($"embedding", 255).as("qe"))
      .select($"vec_id", $"qe.lo".as("lo"), $"qe.hi".as("hi"),
        $"qe.max_err".as("max_err"), $"qe.mse".as("mse"))
      .orderBy($"vec_id")
  }

  /** Near-duplicate pairs (cosine >= 0.9) via LSH banding + exact verify.
    * Correctly empty when no near-dups exist — the oracle is the
    * brute-force definition, so any LSH recall loss would surface as a
    * mismatch. */
  def nearDupLsh(s: SparkSession, d: String): DataFrame =
    lshNearDupPairs(vecs(s, d), NearDupTau)

  /** The LSH near-dup pair stage over any (vec_id, v, nrm) frame —
    * factored out so specs can pin RECALL on synthetic corpora with
    * known planted near-dups (the driver fixture has none above tau, so
    * its gate proves only precision/emptiness). */
  private[graft] def lshNearDupPairs(e: DataFrame, tau: Double): DataFrame = {
    import e.sparkSession.implicits._
    // one row per (vec, table) with that table's bucket signature — all
    // 48 signatures come from one native-expression evaluation per vector
    val sigs = e.select($"vec_id", $"v", $"nrm",
      posexplode(graft.functions.VectorExpressions
        .lsh_buckets($"v", LshTables, LshBits)))
      .withColumnsRenamed(Map("pos" -> "t", "col" -> "bucket"))
    val a = sigs.select($"t", $"bucket", $"vec_id".as("id_a"),
      $"v".as("va"), $"nrm".as("na"))
    val b = sigs.select($"t", $"bucket", $"vec_id".as("id_b"),
      $"v".as("vb"), $"nrm".as("nb"))
    a.join(b, Seq("t", "bucket"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b", $"va", $"vb", $"na", $"nb")
      .distinct() // candidate pair may collide in several tables
      .select($"id_a", $"id_b",
        cosineWithNorms($"va", $"vb", $"na", $"nb").as("cosine"))
      .where($"cosine" >= tau)
      .orderBy($"id_a", $"id_b")
  }

  /** Shared oracle scaffolding: per-vector double vector + norm. */
  private val oracleVecs = """
    WITH e AS (
      SELECT vec_id, label, embedding,
             sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
               k -> CAST(embedding[k] AS DOUBLE) * CAST(embedding[k] AS DOUBLE))))
               AS nrm
      FROM embeddings)"""

  /** Dot product of the float-list columns `x` and `y`, folded left to
    * right in double like the native kernels. */
  private def oracleDotOf(x: String, y: String) =
    s"""list_sum(list_transform(generate_series(1, len($x)),
        k -> CAST($x[k] AS DOUBLE) * CAST($y[k] AS DOUBLE)))"""

  private def oracleDot(a: String, b: String) =
    oracleDotOf(s"$a.embedding", s"$b.embedding")

  /** `c(centroid_id, cemb, cn)`: the flat codebook, seeded with the
    * first 8 vectors. Expects [[oracleVecs]]'s `e` in scope. */
  private val oracleSeeds = """
        c AS (SELECT vec_id AS centroid_id, embedding AS cemb, nrm AS cn
              FROM e WHERE vec_id < 8)"""

  /** Cosine of the vector `e` to the centroid `c`. */
  private val oracleCellCos =
    s"""${oracleDotOf("e.embedding", "c.cemb")}
                     / (e.nrm * c.cn)"""

  /** [[oracleSeeds]], then `name`: every (vector, centroid) pair with
    * the centroid's rank `rn` for that vector under the kernels' strict
    * (cos DESC, id ASC) rule — `rn = 1` is the flat assignment of
    * [[ivfAssign]], `rn <= nprobe` its multi-probe. `cols` are columns
    * of `e` carried along, each followed by a comma. */
  private def oracleFlatRank(name: String, cols: String) = s"""$oracleSeeds,
        $name AS (
          SELECT e.vec_id, ${cols}c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   $oracleCellCos DESC, c.centroid_id) AS rn
          FROM e CROSS JOIN c)"""

  /** `asg(vec_id, centroid_id)`: the flat assignment, from rank `a`. */
  private val oracleFlatAsg = s"""${oracleFlatRank("a", "")},
        asg AS (SELECT vec_id, centroid_id FROM a WHERE rn = 1)"""

  /** `cells(vec_id, embedding, nrm, centroid_id)`: the flat assignment
    * with each vector's embedding and norm, from rank `asg0`. */
  private val oracleFlatCells =
    s"""${oracleFlatRank("asg0", "e.embedding, e.nrm, ")},
        cells AS (SELECT vec_id, embedding, nrm, centroid_id
                  FROM asg0 WHERE rn = 1)"""

  /** Probes 8..17 against every cell-mate under the assignment `asg`,
    * as (q_id, neighbor_id, cosine), without the closing paren. */
  private def oracleCellProbe(asg: String) = s"""
          SELECT pa.vec_id AS q_id, ea.vec_id AS neighbor_id,
                 ${oracleDot("pe", "ee")} / (pe.nrm * ee.nrm) AS cosine
          FROM $asg pa
          JOIN e pe ON pe.vec_id = pa.vec_id
          JOIN $asg ea ON ea.centroid_id = pa.centroid_id
                     AND ea.vec_id <> pa.vec_id
          JOIN e ee ON ee.vec_id = ea.vec_id
          WHERE pa.vec_id >= 8 AND pa.vec_id < 18"""

  /** The top 3 (q_id, neighbor_id) per probe of the cosine pairs `src`
    * by (cosine DESC, neighbor_id), without the closing paren. */
  private def oracleTop3(src: String) = s"""
          SELECT q_id, neighbor_id FROM (
            SELECT q_id, neighbor_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY cosine DESC, neighbor_id) AS rank
            FROM $src) WHERE rank <= 3"""

  /** `tp`/`t3`: the exact top 3 of probes 8..17 over all vectors — the
    * truth set of the recall queries. */
  private val oracleBruteTop3 = s"""
        tp AS (
          SELECT qa.vec_id AS q_id, b.vec_id AS neighbor_id,
                 ${oracleDot("qa", "b")} / (qa.nrm * b.nrm) AS cosine
          FROM e qa JOIN e b ON b.vec_id <> qa.vec_id
          WHERE qa.vec_id >= 8 AND qa.vec_id < 18),
        t3 AS (${oracleTop3("tp")})"""

  /** Per probe, recall@3 of the probe's top 3 `i3` against the exact
    * top 3 `t3` ([[oracleBruteTop3]]); `cols` are extra leading output
    * columns, each followed by a comma. */
  private def oracleRecall(cols: String) = s"""
        SELECT t.q_id,$cols
               CAST(count(*) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_hit,
               CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0
                        END) * 1000000 // count(*) AS BIGINT) AS recall_ppm
        FROM t3 t LEFT JOIN i3 i USING (q_id, neighbor_id)
        GROUP BY t.q_id ORDER BY q_id"""

  /** [[oracleCellProbe]] as `p`, ranked, and the top-3 select. */
  private def oracleProbeTop3(asg: String) = s"""
        p AS (${oracleCellProbe(asg)}),
        r AS (SELECT q_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
              FROM p)
        SELECT q_id, rank, neighbor_id, cosine FROM r WHERE rank <= 3
        ORDER BY q_id, rank"""

  /** `dup` and the final select of the semantic dedup: a vector is a
    * dup when a lower id in its cell has cosine ≥ 0.3. Expects `cells`. */
  private val oracleCellDedup = s"""
        dup AS (
          SELECT DISTINCT b.vec_id
          FROM cells a JOIN cells b
            ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
          WHERE ${oracleDot("a", "b")} / (a.nrm * b.nrm) >= 0.3)
        SELECT c2.vec_id, c2.centroid_id,
               (d.vec_id IS NOT NULL) AS is_dup
        FROM cells c2 LEFT JOIN dup d ON c2.vec_id = d.vec_id
        ORDER BY c2.vec_id"""

  /** PQ oracle scaffolding: per-vector codes (argmin sub-centroid per
    * subspace, ties to the lowest code — the same strict-less rule as
    * [[graft.functions.VecOps.pqEncode]]) and the reconstructed corpus
    * vector `rv` (per-subspace codebook slices flattened in m order).
    * Every distance folds left-to-right, matching the native kernels. */
  private val oraclePq = s"""
    WITH cb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $PqK),
    ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
    enc0 AS (
      SELECT em.vec_id, ms.m, cb.vec_id AS code,
             row_number() OVER (PARTITION BY em.vec_id, ms.m ORDER BY
               list_sum(list_transform(generate_series(1, $PqSubDim),
                 j -> (CAST(em.embedding[ms.m*$PqSubDim+j] AS DOUBLE)
                     - CAST(cb.embedding[ms.m*$PqSubDim+j] AS DOUBLE))
                    * (CAST(em.embedding[ms.m*$PqSubDim+j] AS DOUBLE)
                     - CAST(cb.embedding[ms.m*$PqSubDim+j] AS DOUBLE)))),
               cb.vec_id) AS rn
      FROM embeddings em CROSS JOIN ms CROSS JOIN cb),
    codes AS (SELECT vec_id, m, code FROM enc0 WHERE rn = 1),
    rsub AS (
      SELECT cd.vec_id, cd.m,
             list_transform(generate_series(1, $PqSubDim),
               j -> CAST(c.embedding[cd.m*$PqSubDim+j] AS DOUBLE)) AS sub
      FROM codes cd JOIN embeddings c ON c.vec_id = cd.code),
    recon AS (
      SELECT vec_id, flatten(list(sub ORDER BY m)) AS rv
      FROM rsub GROUP BY vec_id)"""

  /** RESIDUAL-PQ oracle scaffolding, the SQL replay of
    * [[residualPqIndex]]: per-vector residual `rv0` w.r.t. its
    * two-level cell, the residual sub-codebook (vec_id < PqK slices),
    * residual codes (strict-less argmin, ties to the lowest code) and
    * the reconstructed residual `rrv`. Expects [[oracleVecs]]'s `e`
    * and [[oracleTwoLevelAsg]]'s `c`/`asg2` in scope. Shared by
    * q_ivfpq_residual_topk and q_ivfpq_rerank_topk. */
  private lazy val oracleResidualRecon = s"""
        res AS (
          SELECT a2.vec_id, a2.centroid_id,
                 list_transform(generate_series(1, len(e2.embedding)),
                   k -> CAST(e2.embedding[k] AS DOUBLE)
                      - CAST(c.cemb[k] AS DOUBLE)) AS rv0
          FROM asg2 a2
          JOIN e e2 ON e2.vec_id = a2.vec_id
          JOIN c ON c.centroid_id = a2.centroid_id),
        rcb AS (SELECT vec_id, rv0 FROM res WHERE vec_id < $PqK),
        ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
        enc0 AS (
          SELECT r.vec_id, ms.m, rcb.vec_id AS code,
                 row_number() OVER (PARTITION BY r.vec_id, ms.m ORDER BY
                   list_sum(list_transform(generate_series(1, $PqSubDim),
                     j -> (r.rv0[ms.m*$PqSubDim+j] - rcb.rv0[ms.m*$PqSubDim+j])
                        * (r.rv0[ms.m*$PqSubDim+j] - rcb.rv0[ms.m*$PqSubDim+j]))),
                   rcb.vec_id) AS rn
          FROM res r CROSS JOIN ms CROSS JOIN rcb),
        pcodes AS (SELECT vec_id, m, code FROM enc0 WHERE rn = 1),
        rsub AS (
          SELECT cd.vec_id, cd.m,
                 list_transform(generate_series(1, $PqSubDim),
                   j -> c2.rv0[cd.m*$PqSubDim+j]) AS sub
          FROM pcodes cd JOIN rcb c2 ON c2.vec_id = cd.code),
        reconr AS (SELECT vec_id, flatten(list(sub ORDER BY m)) AS rrv
                   FROM rsub GROUP BY vec_id)"""

  /** One-fold ADC squared L2 between a raw vector column and `rv`. */
  private def oracleAdc(qe: String, rv: String) =
    s"""list_sum(list_transform(generate_series(1, ${PqM * PqSubDim}),
        kk -> (CAST($qe[kk] AS DOUBLE) - $rv[kk])
            * (CAST($qe[kk] AS DOUBLE) - $rv[kk])))"""

  /** `rk`: the ADC pairs `p(q_id, neighbor_id, adist)` ranked per probe
    * by (adist, neighbor_id), and the top-5 select. */
  private val oracleAdcTop5 = """
        rk AS (SELECT q_id, neighbor_id, adist,
                      CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY adist, neighbor_id) AS BIGINT) AS rank
               FROM p)
        SELECT q_id, rank, neighbor_id, adist FROM rk WHERE rank <= 5
        ORDER BY q_id, rank"""

  /** `p`: probes 20..29 against every cell-mate under `asg2`, by the
    * squared L2 from the probe's residual `rv0` to the cell-mate's
    * reconstructed residual `recon.rv`. */
  private def oracleResidualAdc(recon: String, rv: String) = s"""
        p AS (
          SELECT pa.vec_id AS q_id, ea.vec_id AS neighbor_id,
                 list_sum(list_transform(generate_series(1, ${PqM * PqSubDim}),
                   kk -> (pr.rv0[kk] - r.$rv[kk])
                       * (pr.rv0[kk] - r.$rv[kk]))) AS adist
          FROM asg2 pa
          JOIN res pr ON pr.vec_id = pa.vec_id
          JOIN asg2 ea ON ea.centroid_id = pa.centroid_id
                      AND ea.vec_id <> pa.vec_id
          JOIN $recon r ON r.vec_id = ea.vec_id
          WHERE pa.vec_id >= 20 AND pa.vec_id < 30)"""

  /** The re-rank tail over the ADC pairs `p`: `sl`, the shortlist of
    * the best `RerankShortlist` by (adist, neighbor_id); `ex`, their
    * exact squared L2; `fr`, ranked by (dist2, neighbor_id); and the
    * top-`RerankK` select. */
  private val oracleRerank = s"""
        sl AS (
          SELECT q_id, neighbor_id, adist FROM (
            SELECT q_id, neighbor_id, adist,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY adist, neighbor_id) AS srank
            FROM p) WHERE srank <= $RerankShortlist),
        ex AS (
          SELECT sl.q_id, sl.neighbor_id, sl.adist,
                 list_sum(list_transform(generate_series(1, len(qe.embedding)),
                   kk -> (CAST(qe.embedding[kk] AS DOUBLE)
                        - CAST(ne.embedding[kk] AS DOUBLE))
                       * (CAST(qe.embedding[kk] AS DOUBLE)
                        - CAST(ne.embedding[kk] AS DOUBLE)))) AS dist2
          FROM sl
          JOIN embeddings qe ON qe.vec_id = sl.q_id
          JOIN embeddings ne ON ne.vec_id = sl.neighbor_id),
        fr AS (SELECT q_id, neighbor_id, adist, dist2,
                      CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY dist2, neighbor_id) AS BIGINT) AS rank
               FROM ex)
        SELECT q_id, rank, neighbor_id, dist2, adist
        FROM fr WHERE rank <= $RerankK
        ORDER BY q_id, rank"""

  /** K-CENTER diversity selection — farthest-point traversal (Gonzalez,
    * "Clustering to minimize the maximum intercluster distance", TCS'85;
    * the greedy 2-approximation), the coreset-selection step
    * diversity-aware data curation runs over an embedding column: seed
    * deterministically, then repeatedly pick the vector FARTHEST from
    * everything already chosen (minimal max-cosine), so each pick covers
    * the least-represented region of embedding space. Output: selection
    * order, chosen ids, and the max-cosine-to-prior-picks at selection
    * time — the non-decreasing coverage certificate.
    *
    * Scale shape: the chosen set is bounded driver metadata (≤ K rows —
    * the codebook contract), carried into ONE narrow codegen'd scan per
    * round by [[graft.functions.NearestCentroidExpr]] (max-cos over the
    * chosen set is exactly the nearest-centroid kernel); each round adds
    * a 1-row argmin collect. K narrow scans total, no joins, no
    * shuffles beyond TakeOrdered. The oracle replays every round
    * (unrolled MATERIALIZED stages, greatest() over the same per-pair
    * doubles), so the full greedy trajectory is hash-gated. */
  def kcenterSelect(s: SparkSession, d: String): DataFrame =
    kcenterFrom(vecs(s, d), 8)

  /** Core loop over any (vec_id, v, nrm) frame; seed = lowest vec_id. */
  private[graft] def kcenterFrom(vectors: DataFrame, k0: Int): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    val K = k0
    val e = vectors
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = e.orderBy($"vec_id".asc)
      .select($"vec_id", $"v", $"nrm").limit(1).collect()
    val out = Seq.newBuilder[(Long, Long, Double)]
    if (seeds.nonEmpty) {
      val seed = seeds(0)
      var ids = Array(seed.getLong(0))
      var cents = Array(seed.getSeq[Float](1).toArray.map(_.toDouble))
      var norms = Array(seed.getDouble(2))
      out += ((1L, seed.getLong(0), 1.0)) // the seed's radius slot, by convention
      var k = 2
      var exhausted = false
      while (k <= K && !exhausted) {
        val far = assignTo(
          e.where(!$"vec_id".isin(ids.toIndexedSeq: _*)),
          Codebook(ids, cents, norms))
          .orderBy($"cos".asc, $"vec_id".asc)
          .select($"vec_id", $"v", $"nrm", $"cos")
          .limit(1).collect()
        if (far.isEmpty) exhausted = true // fewer than K vectors: stop early
        else {
          out += ((k.toLong, far(0).getLong(0), far(0).getDouble(3)))
          ids = ids :+ far(0).getLong(0)
          cents = cents :+ far(0).getSeq[Float](1).toArray.map(_.toDouble)
          norms = norms :+ far(0).getDouble(2)
          k += 1
        }
      }
    }
    e.unpersist(false)
    out.result().toDF("rank", "vec_id", "max_cos_prior").orderBy($"rank")
  }

  /** The [[kcenterSelect]] oracle: K unrolled farthest-point stages;
    * stage k cross-joins the k−1 one-row chosen CTEs and argmins
    * greatest() of the per-pair cosines under the identical tie-break. */
  private def kcenterOracleSql(steps: Int): String = {
    val sb = new StringBuilder(oracleVecs)
    sb.append("""
        , c1 AS MATERIALIZED (
          SELECT vec_id, embedding, nrm FROM e
          WHERE vec_id = (SELECT min(vec_id) FROM e))""")
    for (k <- 2 to steps) {
      val prior = 1 until k
      val joins = prior.map(j => s"CROSS JOIN c$j x$j").mkString(" ")
      val notChosen = prior.map(j => s"e.vec_id <> x$j.vec_id")
        .mkString(" AND ")
      val coss = prior.map(j =>
        s"${oracleDot("e", s"x$j")} / (e.nrm * x$j.nrm)")
      val mc = if (coss.size == 1) coss.head
        else s"greatest(${coss.mkString(", ")})"
      sb.append(s"""
        , c$k AS MATERIALIZED (
          SELECT vec_id, embedding, nrm, mc FROM (
            SELECT e.vec_id, e.embedding, e.nrm, $mc AS mc
            FROM e $joins
            WHERE $notChosen)
          ORDER BY mc ASC, vec_id ASC LIMIT 1)""")
    }
    sb.append("""
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS rank, vec_id,
                 CAST(1.0 AS DOUBLE) AS max_cos_prior FROM c1""")
    for (k <- 2 to steps) {
      sb.append(s"""
          UNION ALL
          SELECT CAST($k AS BIGINT) AS rank, vec_id, mc AS max_cos_prior
          FROM c$k""")
    }
    sb.append("""
        ) ORDER BY rank""")
    sb.toString
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_kcenter_select", kcenterSelect, Some(kcenterOracleSql(8))),
    QueryDef(
      "q_cosine_topk", cosineTopK, Some(s"""
        $oracleVecs,
        p AS (
          SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
                 ${oracleDot("a", "b")} / (a.nrm * b.nrm) AS cosine
          FROM e a JOIN e b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < 20),
        r AS (
          SELECT q_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, neighbor_id) AS rank
          FROM p)
        SELECT q_id, rank, neighbor_id, cosine
        FROM r WHERE rank <= 5 ORDER BY q_id, rank""")),
    QueryDef(
      "q_sim_label_topk", labelBucketTopK, Some(s"""
        $oracleVecs,
        ${oracleFlatRank("asg0", "e.label, ")},
        cells AS (SELECT vec_id, label, centroid_id FROM asg0 WHERE rn = 1),
        p AS (
          SELECT ca.label, ca.centroid_id, ca.vec_id AS id_a,
                 cb.vec_id AS id_b,
                 ${oracleDot("a", "b")} / (a.nrm * b.nrm) AS cosine
          FROM cells ca
          JOIN cells cb ON ca.label = cb.label
                       AND ca.centroid_id = cb.centroid_id
                       AND ca.vec_id < cb.vec_id
          JOIN e a ON a.vec_id = ca.vec_id
          JOIN e b ON b.vec_id = cb.vec_id),
        r AS (
          SELECT label, centroid_id, id_a, id_b, cosine,
                 row_number() OVER (PARTITION BY label, centroid_id
                   ORDER BY cosine DESC, id_a, id_b) AS rank
          FROM p)
        SELECT label, centroid_id, rank, id_a, id_b, cosine
        FROM r WHERE rank <= 3 ORDER BY label, centroid_id, rank""")),
    QueryDef(
      "q_cluster_purity", clusterPurity, Some(s"""
        $oracleVecs,
        ${oracleFlatRank("asg", "e.label, ")},
        cnt AS (SELECT centroid_id, label, CAST(count(*) AS BIGINT) AS n_top
                FROM asg WHERE rn = 1 GROUP BY 1, 2),
        top AS (SELECT centroid_id, label, n_top,
                       row_number() OVER (PARTITION BY centroid_id
                         ORDER BY n_top DESC, label) AS rn2,
                       CAST(sum(n_top) OVER (PARTITION BY centroid_id)
                         AS BIGINT) AS n_cell
                FROM cnt)
        SELECT centroid_id, CAST(label AS BIGINT) AS top_label, n_top,
               n_cell, n_top * 1000000 // n_cell AS purity_ppm
        FROM top WHERE rn2 = 1 ORDER BY centroid_id""")),
    QueryDef(
      "q_ivf_assign", ivfAssign, Some(s"""
        $oracleVecs,
        $oracleSeeds,
        a AS (
          SELECT e.vec_id, c.centroid_id,
                 $oracleCellCos AS cos
          FROM e CROSS JOIN c),
        r AS (SELECT vec_id, centroid_id, cos,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, centroid_id) AS rn
              FROM a)
        SELECT vec_id, centroid_id, cos FROM r WHERE rn = 1
        ORDER BY vec_id""")),
    QueryDef(
      "q_ivf_assign2", ivfAssign2, Some(s"""
        $oracleVecs,
        $oracleTwoLevelAsg
        SELECT vec_id, super_id, centroid_id, cos FROM asg2
        ORDER BY vec_id""")),
    QueryDef(
      "q_ivf2_topk", ivf2TopK, Some(s"""
        $oracleVecs,
        $oracleTwoLevelAsg,
        ${oracleProbeTop3("asg2")}""")),
    QueryDef(
      "q_semantic_dedup", semanticDedup, Some(s"""
        $oracleVecs,
        $oracleFlatCells,
        $oracleCellDedup""")),
    QueryDef(
      "q_semantic_dedup2", semanticDedup2, Some(s"""
        $oracleVecs,
        $oracleTwoLevelAsg,
        cells AS (
          SELECT a2.vec_id, e2.embedding, e2.nrm, a2.centroid_id
          FROM asg2 a2 JOIN e e2 ON e2.vec_id = a2.vec_id),
        $oracleCellDedup""")),
    QueryDef(
      "q_cascade_dedup", cascadeDedup, Some(s"""
        $oracleVecs,
        $oracleFlatCells,
        cand AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ${oracleDot("a", "b")} / (a.nrm * b.nrm) AS cosine
          FROM cells a JOIN cells b
            ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
          WHERE ${oracleDot("a", "b")} / (a.nrm * b.nrm) >= 0.3),
        docs AS (SELECT doc_id, list_distinct(string_split(text, ' '))
                   AS types FROM documents),
        j AS (
          SELECT p.id_a, p.id_b, p.cosine,
                 CAST(len(list_distinct(list_intersect(da.types, db.types)))
                   AS BIGINT) AS n_inter,
                 CAST(len(da.types) + len(db.types) AS BIGINT) AS n_sum
          FROM cand p
          JOIN docs da ON p.id_a = da.doc_id
          JOIN docs db ON p.id_b = db.doc_id)
        SELECT id_a, id_b, cosine, n_inter,
               n_sum - n_inter AS n_union,
               n_inter * 1000000 // (n_sum - n_inter) AS jac_ppm,
               (n_inter * 1000000 // (n_sum - n_inter)) >= 500000
                 AS confirmed
        FROM j ORDER BY id_a, id_b""")),
    QueryDef(
      "q_incremental_semdedup", incrementalSemanticDedup, Some(s"""
        $oracleVecs,
        $oracleFlatCells,
        dup AS (
          SELECT DISTINCT b.vec_id
          FROM cells a JOIN cells b
            ON a.centroid_id = b.centroid_id
           AND b.vec_id % 10 >= 8
           AND a.vec_id <> b.vec_id
           AND (a.vec_id % 10 < 8 OR a.vec_id < b.vec_id)
          WHERE ${oracleDot("a", "b")} / (a.nrm * b.nrm) >= 0.3)
        SELECT c2.vec_id, c2.centroid_id,
               (d.vec_id IS NOT NULL) AS is_dup
        FROM cells c2 LEFT JOIN dup d ON c2.vec_id = d.vec_id
        WHERE c2.vec_id % 10 >= 8
        ORDER BY c2.vec_id""")),
    QueryDef(
      "q_ivf_topk", ivfTopK, Some(s"""
        $oracleVecs,
        $oracleFlatAsg,
        ${oracleProbeTop3("asg")}""")),
    QueryDef(
      // recall@3 of the single-cell IVF probe vs the exact brute top-3:
      // both sides rebuilt from scratch (brute all-pairs for the probe
      // rows; cell assignment + inverted-list ranking), compared by set
      "q_ann_recall", annRecall, Some(s"""
        $oracleVecs,
        $oracleFlatAsg,
        $oracleBruteTop3,
        ip AS (${oracleCellProbe("asg")}),
        i3 AS (${oracleTop3("ip")})
        ${oracleRecall("")}""")),
    QueryDef(
      // benchmark vectors vs their IVF cellmates; max_cos is the one
      // double column (a single correctly-rounded division per pair,
      // max is order-free) — engine-reproducible like q_cosine_topk
      "q_decontaminate_semantic", (s, d) => semanticDecontaminate(s, d),
      Some(s"""
        $oracleVecs,
        $oracleFlatAsg,
        p AS (
          SELECT b.vec_id AS bench_id, b.centroid_id, x.vec_id,
                 ${oracleDot("be", "xe")} / (be.nrm * xe.nrm) AS cos
          FROM asg b
          JOIN asg x ON x.centroid_id = b.centroid_id
                    AND x.vec_id % 50 <> 0
          JOIN e be ON be.vec_id = b.vec_id
          JOIN e xe ON xe.vec_id = x.vec_id
          WHERE b.vec_id % 50 = 0)
        SELECT bench_id, CAST(min(centroid_id) AS BIGINT) AS centroid_id,
               CAST(count(*) AS BIGINT) AS n_probed,
               CAST(sum(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               max(cos) AS max_cos
        FROM p GROUP BY bench_id ORDER BY bench_id""")),
    QueryDef(
      // same compare with nprobe=3 cells per probe — the recall knob
      "q_ann_recall_multiprobe", (s, d) => annRecallMultiprobe(s, d),
      Some(s"""
        $oracleVecs,
        $oracleFlatAsg,
        pc AS (SELECT vec_id AS q_id, centroid_id FROM a
               WHERE vec_id >= 8 AND vec_id < 18 AND rn <= 3),
        $oracleBruteTop3,
        ip AS (
          SELECT pc.q_id, ea.vec_id AS neighbor_id,
                 ${oracleDot("pe", "ee")} / (pe.nrm * ee.nrm) AS cosine
          FROM pc
          JOIN e pe ON pe.vec_id = pc.q_id
          JOIN asg ea ON ea.centroid_id = pc.centroid_id
                     AND ea.vec_id <> pc.q_id
          JOIN e ee ON ee.vec_id = ea.vec_id),
        i3 AS (${oracleTop3("ip")})
        ${oracleRecall(" CAST(3 AS BIGINT) AS nprobe,")}""")),
    QueryDef(
      "q_codebook_update", codebookUpdate, Some(s"""
        $oracleVecs,
        $oracleFlatAsg,
        u AS (
          -- parallel unnests zip element-wise: (position, value) pairs
          SELECT asg.centroid_id,
                 unnest(generate_series(1, len(em.embedding))) - 1 AS dim,
                 CAST(floor(CAST(unnest(em.embedding) AS DOUBLE) * 1048576)
                   AS BIGINT) AS sv
          FROM asg JOIN embeddings em ON em.vec_id = asg.vec_id)
        SELECT centroid_id, CAST(dim AS BIGINT) AS dim,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(sv) AS DOUBLE) / count(*) AS c_new
        FROM u GROUP BY centroid_id, dim ORDER BY centroid_id, dim""")),
    QueryDef(
      "q_quantize_err", quantizeErr, Some("""
        WITH dv AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        mm AS (
          SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi,
                 list_max(v) - list_min(v) AS span, len(v) AS n
          FROM dv),
        e AS (
          SELECT vec_id, lo, hi, span, n,
                 CASE WHEN span = 0 THEN NULL ELSE
                   list_transform(v, x -> abs(x - (lo +
                     (floor((x - lo) * 255 / span) + 0.5) * span / 255)))
                 END AS errs
          FROM mm)
        SELECT vec_id, lo, hi,
               CASE WHEN span = 0 THEN 0.0 ELSE list_max(errs) END AS max_err,
               CASE WHEN span = 0 THEN 0.0
                    ELSE list_sum(list_transform(errs, x -> x * x)) / n
               END AS mse
        FROM e ORDER BY vec_id""")),
    QueryDef(
      "q_pq_encode", pqEncode, Some(s"""
        $oraclePq,
        key AS (SELECT vec_id,
                  CAST(sum(code * (CAST(1 AS BIGINT) << (2 * m))) AS BIGINT)
                    AS code_key
                FROM codes GROUP BY vec_id)
        SELECT k.vec_id, k.code_key,
               ${oracleAdc("em.embedding", "r.rv")} AS recon_err
        FROM key k
        JOIN recon r ON r.vec_id = k.vec_id
        JOIN embeddings em ON em.vec_id = k.vec_id
        ORDER BY k.vec_id""")),
    QueryDef(
      "q_pq_topk", pqTopK, Some(s"""
        $oraclePq,
        pr AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
               WHERE vec_id >= 20 AND vec_id < 30),
        p AS (
          SELECT pr.q_id, r.vec_id AS neighbor_id,
                 ${oracleAdc("pr.qe", "r.rv")} AS adist
          FROM pr CROSS JOIN recon r
          WHERE r.vec_id <> pr.q_id),
        $oracleAdcTop5""")),
    QueryDef(
      // one exact Lloyd round of the PQ sub-codebooks: seed encode,
      // then the scaled-integer per-(m, code, dim) mean — the same
      // BIGINT discipline as q_codebook_update, so both engines
      // compute the identical doubles
      "q_pq_train", pqTrain, Some(s"""
        $oraclePq,
        js AS (SELECT unnest(generate_series(1, $PqSubDim)) AS j)
        SELECT CAST(cd.m AS BIGINT) AS m, cd.code,
               CAST(js.j - 1 AS BIGINT) AS dim,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(
                 CAST(em.embedding[cd.m*$PqSubDim+js.j] AS DOUBLE)
                   * 1048576) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1048576.0 AS c_val
        FROM codes cd
        JOIN embeddings em ON em.vec_id = cd.vec_id
        CROSS JOIN js
        GROUP BY 1, 2, 3 ORDER BY m, code, dim""")),
    QueryDef(
      // ADC top-K through the TRAINED book: the oracle replays seed
      // encode -> exact Lloyd update (empty codes keep their seed
      // slice) -> re-encode (strict-less argmin, ties to the lowest
      // code) -> flattened-fold ADC, all in the kernels' arithmetic
      "q_pq_topk_trained", pqTopKTrained, Some(s"""
        $oraclePq,
        js AS (SELECT unnest(generate_series(1, $PqSubDim)) AS j),
        trm AS (
          SELECT cd.m, cd.code, js.j AS j,
                 CAST(sum(CAST(floor(
                   CAST(em.embedding[cd.m*$PqSubDim+js.j] AS DOUBLE)
                     * 1048576) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1048576.0 AS c_val
          FROM codes cd
          JOIN embeddings em ON em.vec_id = cd.vec_id
          CROSS JOIN js
          GROUP BY 1, 2, 3),
        tb AS (SELECT m, code, list(c_val ORDER BY j) AS sub
               FROM trm GROUP BY m, code),
        seedb AS (
          SELECT ms.m, cb.vec_id AS code,
                 list_transform(generate_series(1, $PqSubDim),
                   j -> CAST(cb.embedding[ms.m*$PqSubDim+j] AS DOUBLE))
                   AS sub
          FROM ms CROSS JOIN cb),
        book AS (
          SELECT s0.m, s0.code, coalesce(t.sub, s0.sub) AS sub
          FROM seedb s0
          LEFT JOIN tb t ON t.m = s0.m AND t.code = s0.code),
        e1 AS (
          SELECT em.vec_id, b.m, b.code,
                 row_number() OVER (PARTITION BY em.vec_id, b.m ORDER BY
                   list_sum(list_transform(generate_series(1, $PqSubDim),
                     j -> (CAST(em.embedding[b.m*$PqSubDim+j] AS DOUBLE)
                         - b.sub[j])
                        * (CAST(em.embedding[b.m*$PqSubDim+j] AS DOUBLE)
                         - b.sub[j]))),
                   b.code) AS rn
          FROM embeddings em CROSS JOIN book b),
        codes1 AS (SELECT vec_id, m, code FROM e1 WHERE rn = 1),
        recon1 AS (
          SELECT cd.vec_id, flatten(list(b.sub ORDER BY cd.m)) AS rv1
          FROM codes1 cd JOIN book b ON b.m = cd.m AND b.code = cd.code
          GROUP BY cd.vec_id),
        pr AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
               WHERE vec_id >= 20 AND vec_id < 30),
        p AS (
          SELECT pr.q_id, r.vec_id AS neighbor_id,
                 ${oracleAdc("pr.qe", "r.rv1")} AS adist
          FROM pr CROSS JOIN recon1 r
          WHERE r.vec_id <> pr.q_id),
        $oracleAdcTop5""")),
    QueryDef(
      "q_ivfpq_topk", ivfPqTopK, Some(s"""
        $oraclePq,
        ${oracleVecs.replaceFirst("WITH ", "")},
        $oracleTwoLevelAsg,
        p AS (
          SELECT pa.vec_id AS q_id, ea.vec_id AS neighbor_id,
                 ${oracleAdc("pe.embedding", "r.rv")} AS adist
          FROM asg2 pa
          JOIN e pe ON pe.vec_id = pa.vec_id
          JOIN asg2 ea ON ea.centroid_id = pa.centroid_id
                      AND ea.vec_id <> pa.vec_id
          JOIN recon r ON r.vec_id = ea.vec_id
          WHERE pa.vec_id >= 20 AND pa.vec_id < 30),
        $oracleAdcTop5""")),
    QueryDef(
      "q_ivfpq_residual_topk", ivfPqResidualTopK, Some(s"""
        $oracleVecs,
        $oracleTwoLevelAsg,
        $oracleResidualRecon,
        ${oracleResidualAdc("reconr", "rrv")},
        $oracleAdcTop5""")),
    QueryDef(
      // ADC shortlist (rank ≤ R·k by (adist, id)) → exact squared-L2
      // re-rank on the shortlist rows only ((dist2, id) ties) — the
      // oracle replays residual encode, shortlist AND refine, so any
      // disagreement in either stage surfaces as a hash mismatch
      "q_ivfpq_rerank_topk", ivfPqRerankTopK, Some(s"""
        $oracleVecs,
        $oracleTwoLevelAsg,
        $oracleResidualRecon,
        ${oracleResidualAdc("reconr", "rrv")},
        $oracleRerank""")),
    QueryDef(
      // The COMPOSED deployment chain: two-level coarse assignment ->
      // residuals -> seed residual book -> ONE exact scaled-integer
      // Lloyd round (empty cells keep their seed slice) -> re-encode
      // -> ADC shortlist -> exact re-rank. The oracle replays every
      // stage in the kernels' arithmetic, so a disagreement anywhere
      // in the hierarchy + train + encode + search + refine chain
      // surfaces as a hash mismatch.
      "q_ivf2pq_trained_topk", ivf2PqTrainedTopK, Some(s"""
        $oracleVecs,
        $oracleTwoLevelAsg,
        $oracleResidualRecon,
        js AS (SELECT unnest(generate_series(1, $PqSubDim)) AS j),
        trm AS (
          SELECT cd.m, cd.code, js.j AS j,
                 CAST(sum(CAST(floor(
                   r.rv0[cd.m*$PqSubDim+js.j] * 1048576) AS BIGINT))
                   AS DOUBLE) / count(*) / 1048576.0 AS c_val
          FROM pcodes cd
          JOIN res r ON r.vec_id = cd.vec_id
          CROSS JOIN js
          GROUP BY 1, 2, 3),
        tb AS (SELECT m, code, list(c_val ORDER BY j) AS sub
               FROM trm GROUP BY m, code),
        seedb AS (
          SELECT ms.m, rc.vec_id AS code,
                 list_transform(generate_series(1, $PqSubDim),
                   j -> rc.rv0[ms.m*$PqSubDim+j]) AS sub
          FROM ms CROSS JOIN rcb rc),
        book AS (
          SELECT s0.m, s0.code, coalesce(t.sub, s0.sub) AS sub
          FROM seedb s0
          LEFT JOIN tb t ON t.m = s0.m AND t.code = s0.code),
        e1 AS (
          SELECT r.vec_id, b.m, b.code,
                 row_number() OVER (PARTITION BY r.vec_id, b.m ORDER BY
                   list_sum(list_transform(generate_series(1, $PqSubDim),
                     j -> (r.rv0[b.m*$PqSubDim+j] - b.sub[j])
                        * (r.rv0[b.m*$PqSubDim+j] - b.sub[j]))),
                   b.code) AS rn
          FROM res r CROSS JOIN book b),
        codes1 AS (SELECT vec_id, m, code FROM e1 WHERE rn = 1),
        recon1 AS (
          SELECT cd.vec_id, flatten(list(b.sub ORDER BY cd.m)) AS rrv1
          FROM codes1 cd JOIN book b ON b.m = cd.m AND b.code = cd.code
          GROUP BY cd.vec_id),
        ${oracleResidualAdc("recon1", "rrv1")},
        $oracleRerank""")),
    QueryDef(
      "q_embed_neardup", nearDupLsh, Some(s"""
        $oracleVecs
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ${oracleDot("a", "b")} / (a.nrm * b.nrm) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ${oracleDot("a", "b")} / (a.nrm * b.nrm) >= 0.9
        ORDER BY id_a, id_b""")),
    QueryDef(
      "q_cell_sample", cellSample, Some(s"""
        $oracleVecs,
        $oracleSeeds,
        a AS (
          SELECT e.vec_id, c.centroid_id,
                 $oracleCellCos AS cos
          FROM e CROSS JOIN c),
        r AS (SELECT vec_id, centroid_id,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, centroid_id) AS rn
              FROM a),
        cells AS (SELECT vec_id, centroid_id FROM r WHERE rn = 1),
        rk AS (
          SELECT vec_id, centroid_id,
                 CAST(row_number() OVER (PARTITION BY centroid_id
                   ORDER BY md5('cell:' || CAST(vec_id AS VARCHAR)), vec_id)
                   AS BIGINT) AS srn,
                 count(*) OVER (PARTITION BY centroid_id) AS cell_n
          FROM cells)
        SELECT vec_id, centroid_id, srn AS sample_rank
        FROM rk WHERE srn <= ceil(cell_n * 0.2)
        ORDER BY vec_id"""))
  )
}
