package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scope
import graft.functions.SimHash64.simhash64
import graft.ops.{QueryDef, QueryModule, Tables}

/** Near-duplicate detection on `documents` — the LLM-pipeline dedup family
  * (north star; no analogue in the reference).
  *
  * Scale design: the only self-join is the MinHash/LSH band equi-join — a
  * shuffle on a constant-width (band, signature) key whose bucket sizes are
  * governed by the banding parameters, never an all-pairs product. Exact
  * Jaccard verification runs only on LSH candidates. The DuckDB oracle is
  * the brute-force *definition* (all pairs with J >= tau), so the
  * correctness gate also measures LSH recall: any missed pair fails the
  * hash compare.
  */
object NearDup extends QueryModule {

  /** 32 bands x 4 rows = 128 permutations, sized for the ACTUAL
    * verification threshold Tau=0.8: per-band hit rate 0.8^4 ≈ 0.41,
    * miss probability (1-0.41)^32 ≈ 5e-8 for a pair at exactly J=0.8
    * (and far lower above it). The oracle is the brute-force definition
    * at Tau, so banding must be near-perfect AT Tau, not just at 0.9. */
  private val Bands = 32
  private val Rows = 4
  private val Perms = Bands * Rows
  private val Tau = 0.8

  /** `jaccard >= Tau` as EXACT integer arithmetic (Tau = 4/5):
    * n/(A+B−n) >= 4/5 ⟺ 9n >= 4(A+B). Same pair set as the double
    * form — the IEEE division is correctly rounded and the nearest
    * candidate ratio to 4/5 at denominator d differs from it by
    * ≥ 1/(5d) ≫ ulp for every realistic shingle count — but ONE
    * `intersect_count` evaluation instead of three: predicate pushdown
    * copies the filter into the verify-join condition and the output
    * projection recomputes `n_common` (Catalyst does not CSE across
    * Filter/Project), so the double-division form ran the sorted-merge
    * intersection kernel 3× per candidate pair (guide §1.2 step 2:
    * per-task work on the hot path). Keep in sync with [[Tau]]. */
  private def tauPassExact: org.apache.spark.sql.Column =
    lit(9) * col("n_common") >=
      lit(4) * (size(col("sh_a")) + size(col("sh_b"))).cast("long")

  /** Shingle sets as sorted distinct 64-bit hashes (native
    * [[graft.functions.TextShinglesExpr]], one pass per document):
    * Jaccard arithmetic over hashes is identical to string shingles
    * (collision odds ~n²/2^64 ≈ 1e-9) but the pair join shuffles 8-byte
    * elements instead of ~25-char strings and the per-pair intersection
    * is a primitive merge — shuffle volume and verify cost are what
    * dominate any pairwise stage at scale. */
  private def hashedShingles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r13: the shingle kernel otherwise runs on the single-partition
    // bench scan (Par.spread: structural no-op at deployment scale)
    graft.ops.Par.spread(
      Tables.documents(s, d).select($"doc_id", $"text"), $"doc_id")
      .select($"doc_id",
        graft.functions.VectorExpressions.text_shingles($"text", 3).as("sh"))
  }

  /** One 64-bit LSH band key per band, as an array column: each band's
    * Rows-wide signature slice fmix64-folded from a per-band seed
    * (native [[graft.functions.BandKeysExpr]] — one primitive pass,
    * replacing a 32-expression xxhash64 chain that dominated the
    * banding projection's cost at 10⁷). Identical slices always produce
    * identical keys, so recall is unaffected; a hash collision can only
    * add a false candidate, which the exact-verify stage discards.
    * Shared by the batch pair join, the persisted band index, and the
    * streaming near-dup dedup state key. */
  private[graft] def bandKeysOf(sig: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.functions.VectorExpressions.band_keys(sig, Bands, Rows)

  /** Signature width shared with the streaming dedup. */
  private[graft] def permCount: Int = Perms

  /** Distinct candidate pairs from a banded (doc_id, bkey) table: a
    * self-join on the single-long band key. The two sides are
    * canonically identical, so Spark's ReuseExchange computes the
    * shuffle ONCE; the sorted merge join streams runs without
    * materializing per-bucket lists.
    *
    * Why the join is the only form (ScaleBench `lsh_anatomy`,
    * xor-checksum equal): a single-shuffle bucket form (groupBy bkey,
    * collect each bucket's id list, emit ordered pairs map-side) won
    * slightly at 10⁶ (5.6 vs 6.3 s) but lost at 10⁷ — verified pairs
    * 102.1 s against the join's 79.2 s (join candidates alone: 52.8 s).
    * At 10⁷ rows per partition its collect_list object aggregate falls
    * back to sort-based with a per-bucket array allocation, costing
    * more than the merge join it avoids.
    *
    * The per-bucket candidate count is governed by the duplicate-family
    * size (LSH buckets are near-dup clusters, not corpus partitions),
    * never a corpus² product. */
  private[graft] def candidatesFromBands(banded: DataFrame): DataFrame = {
    val s = banded.sparkSession
    import s.implicits._
    val a = banded.select($"bkey", $"doc_id".as("id_a"))
    val b = banded.select($"bkey", $"doc_id".as("id_b"))
    a.join(b, Seq("bkey"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b")
      .distinct()
  }

  /** Near-duplicate pairs: LSH candidates verified with exact shingle
    * Jaccard >= tau.
    *
    * Eager: calling this LAUNCHES jobs at once — the candidate plan's
    * shuffle stages, then ONE pass that materializes the candidate
    * checkpoint and counts its pairs ([[countedCheckpoint]]); only a
    * candidate set with 2·pairs above the id cap adds the exact id
    * census ([[candidateBounded]]). The checkpoint is held in the
    * caller's [[graft.Scope]]. */
  def minhashNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r13 measured and NOT spread: Par.spread over this projection was
    // A/B'd and REVERTED — the verify plan is re-evaluated by
    // multi-consumer riders (graphStats evaluates the pair subtree ~6x;
    // q_graph_stats 1.5 -> 1.9 s with the spread in), and each
    // evaluation re-pays the spread's exchange stages, costing more
    // than the parallel banding kernel saves at the bench SF.
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    verifiedCandidates(docs, candidatesFromBands(bandedOver(docs)))
      .where(tauPassExact)
      .select($"id_a", $"id_b", $"n_common", $"jaccard")
      .orderBy($"id_a", $"id_b")
  }

  /** Distinct-id count at or under this → the candidate ids broadcast-
    * semi-filter the shingle side (8 B/id ⇒ ≤ ~40 MB broadcast at the
    * cap). Above it (adversarial corpora where a large fraction of
    * documents collide in some band) the full-corpus join shape is
    * kept: a semi-filter that cannot broadcast would shuffle the
    * text-width table and cost more than it saves. */
  private val VerifyIdsBroadcastCap =
    sys.env.get("SPARK_GRAFT_VERIFY_IDS_CAP").map(_.toLong)
      .getOrElse(5000000L)

  /** A capped-broadcast decision for a counted side: `small` sides are
    * hinted to broadcast, larger ones keep the shuffle. Every bounded
    * metadata side in the engine (candidate ids, touched labels, removal
    * sets, per-round graph state) takes its hint from [[cappedHint]]. */
  private[graft] final case class BroadcastHint(small: Boolean) {
    def apply(df: DataFrame): DataFrame = if (small) broadcast(df) else df
  }

  /** The hint for a side of `rows` rows: broadcast at or under `cap`
    * ([[VerifyIdsBroadcastCap]] unless a caller shares it out). */
  private[graft] def cappedHint(rows: Long,
      cap: Long = VerifyIdsBroadcastCap): BroadcastHint =
    BroadcastHint(rows <= cap)

  /** The shared exact-verify stage: candidate pairs joined with both
    * sides' shingle sets plus the intersection / Jaccard columns.
    *
    * Scale shape: the candidate list is localCheckpoint'ed (it is
    * near-dup-family-bounded — orders smaller than the corpus — and is
    * otherwise re-evaluated once per consumer subtree, the single most
    * expensive recompute in the cascade) and counted by the same job
    * ([[countedCheckpoint]]), and its doc_ids, when they fit
    * [[VerifyIdsBroadcastCap]], semi-filter the document side BEFORE
    * the shingle projection: shingle computation and the verify join
    * then cost work ∝ the candidate set, never ∝ the corpus — at 10⁷
    * docs the old shape computed and shuffled 10⁷ shingle arrays twice
    * to serve ~2·10⁵ verified pairs.
    *
    * BELOW the cap no shingle table is materialized: localCheckpointing
    * the bounded (doc_id, sh) table was A/B'd at the bench SF and LOST
    * (the extra eager job + block-manager serialization of the shingle
    * arrays cost more than the ~10³-doc kernel pass it saved; focused
    * min-of-5: family sum 34.3 s → 40.0 s). Both verify sides join the
    * SAME shingle frame ([[jaccardVerified]]), so Spark computes the
    * semi-filter, the shingle kernel and its broadcast once and reuses
    * the exchange for the second side.
    *
    * r14, ABOVE the cap only: the unfiltered corpus-sized shingle
    * table persists DISK_ONLY before the two verify-side joins, so the
    * shingle kernel runs ONCE over the corpus instead of once per
    * verify side. Disk-backed, not in-memory — the corpus-sized array
    * table must not compete with execution memory (the r13 in-memory
    * form's failure mode); at that size a second full kernel pass
    * dwarfs the block write+read it replaces. Probe:
    * `SPARK_GRAFT_VERIFY_IDS_CAP=0 SPARK_GRAFT_SCALE_ONLY=minhash_neardup
    * runMain graft.tools.ScaleBench 1000000` forces this path on any
    * corpus; at 10⁶ docs it measured 46.1 → 29.7 s and 21.4 → 16.4 s. */
  private[graft] def verifiedCandidates(
      docs: DataFrame, cand0: DataFrame,
      cap: Long = VerifyIdsBroadcastCap): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (cand, pairs) = countedCheckpoint(cand0)
    val bounded = candidateBounded(docs, cand, pairs, cap)
    val shBase = bounded.select($"doc_id",
      graft.functions.VectorExpressions.text_shingles($"text", 3).as("sh"))
    // above the cap candidateBounded passes `docs` itself through
    val sh =
      if (bounded ne docs) shBase
      else Scope.hold(
        shBase.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    jaccardVerified(cand, sh)
  }

  /** The exact shingle-Jaccard verify join: candidate (id_a, id_b) pairs
    * joined with both sides' (doc_id, sh) shingle sets, plus the
    * intersection size `n_common` and the `jaccard` ratio. Output:
    * id_b, id_a, sh_a, sh_b, n_common, jaccard.
    *
    * Both sides join `sh` itself and rename only after the joins: sides
    * renamed before the join (`sh.select(... as sh_a)` vs `... as sh_b`)
    * differ in their alias names, so Spark cannot see they are the same
    * plan and computes and exchanges the shingle side twice; joined
    * unrenamed, the second side is a `ReusedExchange`. */
  private def jaccardVerified(cand: DataFrame, sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    cand
      .join(sh.as("sa"), $"id_a" === $"sa.doc_id")
      .join(sh.as("sb"), $"id_b" === $"sb.doc_id")
      .select($"id_b", $"id_a", $"sa.sh".as("sh_a"), $"sb.sh".as("sh_b"))
      .withColumn("n_common",
        graft.functions.VectorExpressions.intersect_count($"sh_a", $"sh_b"))
      .withColumn("jaccard",
        $"n_common".cast("double") /
          (size($"sh_a") + size($"sh_b") - $"n_common"))
  }

  /** `cand` localCheckpoint'ed and its row count, from ONE job: the
    * checkpoint is lazy and the counting pass ([[graft.ops.Par.idRange]])
    * is what materializes it, where an eager checkpoint plus a count
    * ran two. The checkpoint is held in the caller's [[graft.Scope]]. */
  private[graft] def countedCheckpoint(cand: DataFrame): (DataFrame, Long) = {
    val cp = Scope.hold(cand.localCheckpoint(false))
    (cp, graft.ops.Par.idRange(cp, "id_a").fold(0L)(_._3))
  }

  /** The verify-side input restricted to ids that actually appear in one
    * of the `pairs` (id_a, id_b) rows of `cand`: a broadcast semi-filter
    * BEFORE any per-document projection, so downstream feature
    * computation and join shuffles cost work ∝ the candidate set, never
    * ∝ the corpus. `cand` must be cheap to re-evaluate (checkpointed or
    * cache-backed).
    *
    * The filter applies exactly when the distinct id census fits
    * [[VerifyIdsBroadcastCap]], but the census is only taken when the
    * pair count cannot decide it: the ids number at most 2·pairs, so
    * 2·pairs ≤ cap proves the census fits, and the filter broadcasts
    * the id union as it stands (at most `cap` rows; a semi-join
    * ignores the repeats) with no eager job and no shuffle. Above that
    * bound the exact distinct count decides, one bounded driver-side
    * count. Above the cap the input passes through unfiltered: a
    * semi-filter that cannot broadcast would shuffle the full
    * document-width table and cost more than it saves. */
  private[graft] def candidateBounded(
      docs: DataFrame, cand: DataFrame, pairs: Long,
      cap: Long = VerifyIdsBroadcastCap): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val ids = cand.select($"id_a".as("doc_id"))
      .union(cand.select($"id_b".as("doc_id")))
    val semi =
      if (2L * pairs <= cap) Some(ids)
      else Some(ids.distinct()).filter(d => cappedHint(d.count(), cap).small)
    semi.fold(docs)(i => docs.join(broadcast(i), Seq("doc_id"), "leftsemi"))
  }

  /** Character-level verification of the near-dup pairs: Levenshtein
    * distance and a normalized similarity (1 − dist/maxlen, as integer
    * ppm) for every shingle-verified pair — the closeness measure edit
    * scripts and span diffs need that set-based Jaccard can't give
    * (Jaccard is order-blind; edit distance is not). Runs only on the
    * (orders-smaller) verified pair set: Levenshtein is O(len²) per
    * pair and must never see a candidate join, let alone a corpus².
    *
    * Exact cross-engine: both Levenshteins count unit character edits;
    * the normalization is integer floor division. */
  def editDistance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    // r13: spread the verified pair list before the text joins — the
    // O(len²) Levenshtein kernel runs in the join output stage, whose
    // partitioning is the (single-block) candidate checkpoint's, i.e.
    // ONE core at the bench SF. An unconditional keyed repartition
    // (not Par.spread — its partition probe would force the verify
    // plan's broadcast stages once extra under AQE) is right here at
    // every scale: the pair list is narrow and family-bounded, and the
    // per-row kernel behind it is quadratic in text length, so evenly
    // spreading pairs is the desired layout at 100 TB too.
    minhashNearDup(s, d).select($"id_a", $"id_b").repartition($"id_a")
      .join(docs.select($"doc_id".as("id_a"), $"text".as("ta")), Seq("id_a"))
      .join(docs.select($"doc_id".as("id_b"), $"text".as("tb")), Seq("id_b"))
      .select($"id_a", $"id_b",
        levenshtein($"ta", $"tb").cast("long").as("edit_dist"),
        length($"ta").cast("long").as("len_a"),
        length($"tb").cast("long").as("len_b"))
      .withColumn("sim_ppm", expr(
        "(greatest(len_a, len_b) - edit_dist) * 1000000" +
          " div greatest(len_a, len_b)"))
      .orderBy($"id_a", $"id_b")
  }

  /** Global statistics of the near-dup graph: edges, wedges (length-2
    * paths), triangles, and the global clustering coefficient
    * 3·triangles/wedges as integer ppm — how CLIQUE-LIKE duplicate
    * families are (boilerplate mirrors triangle-close; chained partial
    * copies don't), read next to the cluster-size census.
    *
    * Triangles use the standard oriented-edge formulation (edges stored
    * a<b, so each triangle a<b<c is counted exactly once by joining
    * e1=(a,b), e2=(b,c), e3=(a,c)) — the distributed-graph shape whose
    * join volume is Σ wedges, not edges²; wedges come from the degree
    * table alone. All arithmetic exact BIGINT; the three scalars meet
    * in 1-row broadcast crossJoins (metadata, never data volume). */
  def graphStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = minhashNearDup(s, d).select($"id_a", $"id_b")
    val nEdges = p.agg(count(lit(1)).as("n_edges"))
    val wedges = p.select($"id_a".as("v"))
      .union(p.select($"id_b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
      .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val tri = p.as("e1")
      .join(p.as("e2"), col("e2.id_a") === col("e1.id_b"))
      .join(p.as("e3"), col("e3.id_a") === col("e1.id_a")
        && col("e3.id_b") === col("e2.id_b"))
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(wedges).crossJoin(tri)
      .select($"n_edges", coalesce($"n_wedges", lit(0L)).as("n_wedges"),
        $"n_triangles")
      .withColumn("global_cc_ppm",
        when($"n_wedges" > 0L,
          expr("n_triangles * 3000000 div n_wedges")).otherwise(0L))
  }

  /** Dedup-threshold calibration sweep: for each candidate Jaccard
    * threshold at or above the banding tau, how many verified pairs
    * survive and how many distinct documents they touch — the two
    * numbers that decide where to SET tau before a full dedup run
    * (pairs ≈ work, docs ≈ blast radius). Thresholds below the banding
    * tau would need a looser band configuration, so the sweep starts at
    * [[Tau]] — every count here is exact, not recall-limited.
    *
    * Exact cross-engine: each comparison is the same IEEE double
    * (n_common/union vs t/100.0) on both sides. Scale shape: rides the
    * verified pair set (orders smaller than the corpus); the 4×
    * threshold replication and both rollups are pair-table-local. */
  def thresholdSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val taus = Seq(80, 85, 90, 95)
    val sw = minhashNearDup(s, d)
      .select(explode(typedLit(taus)).as("tau_pct"),
        $"jaccard", $"id_a", $"id_b")
      .where($"jaccard" >= $"tau_pct".cast("double") / 100.0)
    val nPairs = sw.groupBy($"tau_pct").agg(count(lit(1)).as("n_pairs"))
    val nDocs = sw
      .select($"tau_pct", explode(array($"id_a", $"id_b")).as("doc"))
      .distinct()
      .groupBy($"tau_pct").agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("tau_pct"))
      .select($"tau_pct", $"n_pairs", $"n_docs")
      .orderBy($"tau_pct")
  }

  /** The banded (doc_id, bkey) stream over an arbitrary (doc_id, text)
    * set — shingles → signature → 32 band keys, all narrow; exposed
    * for the ScaleBench candidate-stage anatomy probe. */
  private[graft] def bandedOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id",
      explode(graft.functions.VectorExpressions.minhash_band_keys(
        graft.functions.VectorExpressions.text_shingles($"text", 3),
        Perms, Bands)).as("bkey"))
  }

  /** Near-dup pairs (LSH banding + exact-Jaccard verify, same knobs as
    * [[minhashNearDup]]) over an ARBITRARY (doc_id, text) set — the
    * building block composed stages use on a filtered corpus.
    * Signatures and band keys are doc-local, so restricting the input
    * set restricts the pair set exactly (a subset pair collides in a
    * band iff it collides over the full corpus). */
  private[graft] def pairsOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // deliberately NOT Par.spread — see [[minhashNearDup]]'s note
    verifiedCandidates(docs, candidatesFromBands(bandedOver(docs)))
      .where(tauPassExact)
      .select($"id_a", $"id_b")
  }

  /** Dedup CLUSTERING: connected components over the near-duplicate pair
    * graph — pair lists alone cannot drive dedup (near-dup is not
    * transitive: A~B, B~C pairs must still collapse to ONE keeper), so
    * every document gets the smallest doc_id reachable through near-dup
    * edges as its canonical `cluster_id`; singletons label themselves.
    *
    * Spark shape: iterative min-label propagation — each round, a node
    * takes the min of its own label and its neighbors' labels; rounds
    * needed = component diameter (near-dup clusters are shallow chains).
    * Each round is one equi-join of the edge list against the label
    * table plus a groupBy(min); labels are localCheckpoint'ed per round
    * so lineage and plan size stay FLAT across iterations (the classic
    * iterative-Spark failure mode is an exponentially deepening plan).
    * The driver-side loop decides only convergence from a count — no
    * data ever leaves the executors. At deployment scale the same loop
    * gains the alternating large-star/small-star contraction (O(log n)
    * rounds on any graph shape); diameter-bounded propagation is the
    * right form while components are known-shallow.
    *
    * The min-label fixpoint is UNIQUE, so the result is deterministic
    * regardless of execution order; the oracle recomputes it as a
    * recursive-CTE transitive closure over the brute-force pair
    * definition.
    *
    * Eager: launches jobs at call time (candidate checkpoint, label
    * iteration); the checkpoints are held in the caller's
    * [[graft.Scope]]. */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    connectedComponents(
      Tables.documents(s, d).select($"doc_id"),
      minhashNearDup(s, d).select($"id_a", $"id_b"))
  }

  /** EFFECTIVE-TOKEN census per source — the bridge between dedup and
    * mixture planning: a source's raw token count overstates its worth
    * by exactly its redundant mass, so mixture weights
    * ([[graft.operators.Curation.temperaturePlan]] /
    * [[graft.operators.Curation.mixSchedule]]) should be fed
    * `n_tokens − dup_tokens`, not `n_tokens`. Per source: document and
    * token totals, the documents whose near-dup cluster keeps a
    * DIFFERENT representative (keeper = the cluster's min doc_id, the
    * [[dedupClusters]] label), their token mass, and that mass as ppm
    * of the source — the "how much of this source is copies" readout.
    *
    * Scale shape: rides [[dedupClusters]]' labels (the banded LSH +
    * O(log n)-round CC machinery — never an all-pairs stage); the
    * census itself is one doc_id join of constant-width rows and one
    * map-side-combined rollup to a row per source. */
  def effectiveTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r13 (guide §2.4): ride the TOUCHED label set directly instead of
    // [[dedupClusters]]' corpus-wide frame — the previous shape joined
    // two corpus-grain tables on doc_id (dedupClusters' expanded labels
    // × the token scan: a full sort-merge shuffle of BOTH at deployment
    // scale) to re-derive mostly-singleton identities. The touched set
    // is near-dup-family-bounded and checkpointed; under the cap it
    // broadcasts into ONE pass over the corpus scan (singletons label
    // themselves via the same coalesce [[connectedComponents]] applies),
    // above it the join falls back to shuffle — either way one corpus
    // pass instead of two plus their join.
    val labels = touchedLabels(
      minhashNearDup(s, d).select($"id_a", $"id_b"))
    val hinted = cappedHint(labels.count())
    Tables.documents(s, d)
      .select($"doc_id", $"source", TextOps.tokenCount($"text").as("t"))
      .join(hinted(labels), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce($"comp", $"doc_id"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"t").as("n_tokens"),
        sum(when($"doc_id" =!= $"cluster_id", 1L).otherwise(0L))
          .as("n_dup_docs"),
        sum(when($"doc_id" =!= $"cluster_id", $"t").otherwise(0L))
          .as("dup_tokens"))
      .select($"source", $"n_docs", $"n_tokens", $"n_dup_docs",
        $"dup_tokens",
        ($"n_tokens" - $"dup_tokens").as("effective_tokens"),
        // DECIMAL(38,0) product: at ~10^13 deployment tokens the BIGINT
        // product dup_tokens*1e6 (~10^19) would wrap silently in
        // non-ANSI Spark — same discipline as Curation.temperaturePlan
        expr("CAST(CAST(dup_tokens AS DECIMAL(38,0)) * 1000000" +
          " div greatest(n_tokens, 1) AS BIGINT)")
          .as("dup_ppm"))
      .orderBy($"source")
  }

  /** CROSS-SOURCE SYNDICATION census — which source pairs mirror each
    * other's content: every verified near-dup pair labeled with its two
    * endpoints' sources and rolled up per unordered (source_a,
    * source_b) pair, split into within-source and cross-source
    * duplication. A hot cross-source cell is syndicated/mirrored
    * content — the curation action is a source-level dedup preference
    * (keep the canonical domain), which per-document survivor selection
    * alone cannot express.
    *
    * Scale shape: rides the banded near-dup pair list (never
    * all-pairs); the two source lookups are constant-width doc_id
    * joins, and the rollup grain is (sources choose 2) — bounded. */
  def crossSourceDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, d).select($"doc_id", $"source")
    minhashNearDup(s, d)
      .select($"id_a", $"id_b")
      .join(src.select($"doc_id".as("id_a"), $"source".as("src_a")),
        Seq("id_a"))
      .join(src.select($"doc_id".as("id_b"), $"source".as("src_b")),
        Seq("id_b"))
      .select(
        least($"src_a", $"src_b").as("source_a"),
        greatest($"src_a", $"src_b").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", $"source_a" =!= $"source_b")
      .orderBy($"source_a", $"source_b")
  }

  /** LEAKAGE-SAFE train/val/test split — the dedup-aware fix for the
    * classic eval-contamination pitfall: splitting by document hash
    * puts near-duplicate FAMILY MEMBERS on both sides of the
    * train/test line, and the model "generalizes" to test documents it
    * effectively saw in training. Assigning the md5 bucket from the
    * CLUSTER id instead of the doc id puts every near-dup family
    * wholly inside one split by construction — no post-hoc audit
    * needed, the invariant is structural. Buckets 0-203/204-229/230-255
    * of 256 give the 80/10/10 the plain split
    * ([[graft.operators.Curation.globalShuffle]]) targets; the realized
    * ratio wobbles with cluster sizes, which is the price of zero
    * leakage (the audit columns make the wobble visible).
    *
    * Scale shape: rides [[dedupClusters]]' labels; the split rule is
    * row-local arithmetic on the label — no additional shuffle beyond
    * the presentation sort. */
  def leakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dedupClusters(s, d)
      .withColumn("bucket",
        conv(substring(md5($"cluster_id".cast("string")), 1, 2), 16, 10)
          .cast("long"))
      .select($"doc_id", $"cluster_id",
        when($"bucket" < 204, "train")
          .when($"bucket" < 230, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** Cluster-size CENSUS over the near-dup components — the redundancy
    * profile of the corpus: how many duplicate families exist at each
    * size, how many documents they hold, and how many are removable
    * (size − 1 per family). This is the one-page answer to "what does
    * dedup buy us" that decides whether a corpus is worth cleaning
    * before the (much more expensive) survivor pass runs.
    *
    * Scale shape: rides [[dedupClusters]]' labels; both rollups are
    * map-side-combined hash aggregates whose grain only ever SHRINKS
    * (docs → clusters → distinct sizes — the last is at most the largest
    * family size, a handful of rows at any corpus scale). The derived
    * columns are row-local arithmetic on exact longs. */
  def clusterSizes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dedupClusters(s, d)
      .groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select($"cluster_size", $"n_clusters",
        ($"cluster_size" * $"n_clusters").as("n_docs"),
        (($"cluster_size" - 1L) * $"n_clusters").as("removable"))
      .orderBy($"cluster_size")
  }

  /** Quality-aware SURVIVOR selection — the step a real dedup pass runs
    * after clustering: each near-dup cluster keeps its single best copy
    * (highest [[TextOps.textStats]] quality_score, ties to the smallest
    * doc_id), everything else is marked for drop. min-doc_id survivor
    * selection (what [[dedupClusters]]' cluster_id alone gives) throws
    * away the best-written copy whenever it isn't the oldest; keying the
    * keeper on a quality signal is how production cleaning pipelines
    * pick canonicals.
    *
    * Scale shape: labels join the (narrow, row-local) quality scan on
    * doc_id ONCE, and the per-cluster argmax rides a single window over
    * cluster_id — first(doc_id) under the (quality DESC, doc_id) total
    * order, so the winner is unique and merge-order-independent. The
    * obvious aggregate-then-rejoin formulation plans the label/quality
    * join SUBTREE TWICE (Catalyst does not CSE it) and adds a second
    * full shuffle of the membership; the window form is one computation
    * of the join and one exchange on cluster_id. Near-dup clusters are
    * small by construction, so the per-partition sort is bounded.
    *
    * Eager: launches jobs at call time; the checkpoints are held in the
    * caller's [[graft.Scope]]. */
  def dedupSurvivor(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    survivorsFrom(Tables.documents(s, d),
      minhashNearDup(s, d).select($"id_a", $"id_b"))
  }

  /** [[dedupSurvivor]]'s core given an explicit verified pair list —
    * factored so the takedown path can derive the STANDING artifact
    * and the incremental relabel from ONE pair computation. `pairs`
    * must be cheap to re-evaluate (checkpoint- or cache-backed). */
  private[graft] def survivorsFrom(
      docs: DataFrame, pairs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Survivor selection runs on the TOUCHED label set (documents with
    // a verified near-dup edge — near-dup-family-bounded, checkpointed):
    // a singleton's survivor is itself, so windowing the full corpus —
    // and paying that subtree AGAIN under the final orderBy's
    // range-partition sampling pass — only re-derives that identity n
    // times. The capped broadcast keeps the quality scan and the node
    // list from re-shuffling on the small side's account; above the cap
    // (adversarial mostly-duplicate corpora) the joins fall back to
    // shuffle.
    val labels = touchedLabels(pairs)
    val hinted = cappedHint(labels.count())
    val w = Window.partitionBy($"comp")
      .orderBy($"quality_score".desc, $"doc_id")
    // quality_score is row-LOCAL (length/punct/stopword heuristic), so
    // it is computed only for the touched set: a semi-filter on the
    // (checkpointed, capped-broadcast) label ids BEFORE the scoring
    // scan — the full-corpus textStats pass tokenized 10⁷ documents to
    // serve the ~2% with a near-dup edge.
    val scored = docs
      .join(hinted(labels.select($"doc_id")), Seq("doc_id"), "leftsemi")
      .select($"doc_id", TextOps.qualityScore($"text").as("quality_score"))
    val surv = hinted(labels)
      .join(scored, Seq("doc_id"))
      .withColumn("survivor_id", first($"doc_id").over(w))
      .select($"doc_id", $"comp".as("cluster_id"), $"survivor_id")
    docs.select($"doc_id")
      .join(hinted(surv), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cluster_id", $"doc_id").as("cluster_id"),
        coalesce($"survivor_id", $"doc_id").as("survivor_id"))
      .withColumn("keep", $"doc_id" === $"survivor_id")
      .orderBy($"doc_id")
  }

  /** INCREMENTAL document takedown through a standing dedup artifact —
    * the retraction path a production corpus needs for opt-out /
    * copyright removals, where a full recompute per takedown batch is
    * the all-pairs anti-pattern in TIME: removing a handful of
    * documents re-runs LSH + verification + connected components over
    * the whole corpus to change a few clusters.
    *
    * Inputs are the stored artifacts a deployment already has:
    * `standing` = the [[dedupSurvivor]] table (doc_id, cluster_id,
    * survivor_id, keep) over the full corpus, `pairs` = its verified
    * near-dup edges, `removed` = the takedown doc_id set. Returns the
    * survivor table over `docs` MINUS `removed`, equal row-for-row to
    * a from-scratch [[survivorsFrom]] on the filtered corpus (parity
    * is the q_takedown_survivor ORACLE: Spark runs this incremental
    * path, DuckDB recomputes from scratch on the filtered corpus, and
    * the gate hashes them equal; re-pinned at 10⁷ by ScaleBench
    * `takedown`).
    *
    * Why parity holds: a cluster with no removed member keeps its
    * exact edge set (removal never ADDS edges, and only edges with a
    * removed endpoint drop), so its membership, min-id label and
    * quality survivor are all unchanged — those rows PASS THROUGH.
    * Clusters containing a removed doc are recomputed honestly: a
    * removed doc can be a BRIDGE, so the remaining members' subgraph
    * (surviving edges only) goes back through the same
    * [[touchedLabels]] machinery and can split into several new
    * min-id-labeled components, each re-electing its quality survivor.
    * No edge crosses a standing cluster boundary (clusters ARE the
    * components), so the recomputation is BOUNDED to the affected
    * clusters' members and edges — work ∝ takedown blast radius,
    * never ∝ corpus.
    *
    * All three narrow inputs (affected cluster ids, remaining members,
    * removal set) ride capped broadcasts like every other bounded
    * metadata side in this module; a caller that already sized the
    * removal set passes its hint as `removedHint`. */
  private[graft] def takedownSurvivors(
      docs: DataFrame,     // (doc_id, text, ...) the FULL corpus
      standing: DataFrame, // (doc_id, cluster_id, survivor_id, keep)
      pairs: DataFrame,    // (id_a, id_b) verified edges, standing corpus
      removed: DataFrame,  // (doc_id) takedown set
      removedHint: Option[BroadcastHint] = None
  ): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val BlastRadius(hinted, affected, members, subPairs) = blastRadius(
      standing, pairs, removed,
      removedHint.getOrElse(cappedHint(removed.count())))
    val untouched = standing
      .join(hinted(affected), Seq("cluster_id"), "left_anti")
      .select($"doc_id", $"cluster_id", $"survivor_id", $"keep")
    val relabeled = touchedLabels(subPairs) // (doc_id, comp), min-id label
    val labeled = members
      .join(hinted(relabeled), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"comp", $"doc_id").as("cluster_id"))
    val scored = docs
      .join(hinted(members), Seq("doc_id"), "leftsemi")
      .select($"doc_id", TextOps.qualityScore($"text").as("quality_score"))
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"quality_score".desc, $"doc_id")
    val recomputed = labeled
      .join(scored, Seq("doc_id"))
      .withColumn("survivor_id", first($"doc_id").over(w))
      .select($"doc_id", $"cluster_id", $"survivor_id")
      .withColumn("keep", $"doc_id" === $"survivor_id")
    untouched.unionByName(recomputed).orderBy($"doc_id")
  }

  /** A takedown's blast radius through a standing component map: the
    * capped-broadcast hint sized by the removal set (`hinted`), the
    * standing clusters with a removed member, their remaining members,
    * and the surviving edges among those members. Edges never cross a
    * standing cluster boundary, so membership in `members` is exactly
    * "in an affected cluster and not removed". */
  private final case class BlastRadius(hinted: BroadcastHint,
      affected: DataFrame, members: DataFrame, subPairs: DataFrame)

  private def blastRadius(
      standing: DataFrame, // (doc_id, cluster_id, ...) component map
      pairs: DataFrame,    // (id_a, id_b) verified edges
      removed: DataFrame,  // (doc_id) takedown set
      hinted: BroadcastHint
  ): BlastRadius = {
    import standing.sparkSession.implicits._
    val rem = hinted(removed.select($"doc_id"))
    val affected = standing.join(rem, Seq("doc_id"), "leftsemi")
      .select($"cluster_id").distinct()
    val members = standing
      .join(hinted(affected), Seq("cluster_id"), "leftsemi")
      .join(rem, Seq("doc_id"), "left_anti")
      .select($"doc_id")
    val subPairs = pairs
      .join(hinted(members.select($"doc_id".as("id_a"))),
        Seq("id_a"), "leftsemi")
      .join(hinted(members.select($"doc_id".as("id_b"))),
        Seq("id_b"), "leftsemi")
    BlastRadius(hinted, affected, members, subPairs)
  }

  /** Deterministic gate takedown rule (≈6% of the corpus) — both
    * engines derive the identical set, so the oracle can recompute
    * from scratch on the filtered corpus while Spark runs the
    * INCREMENTAL path: the hash compare IS the incremental ≡ full
    * parity proof. */
  private[graft] val TakedownSparkPred = col("doc_id") % 17 === 3
  private[graft] val TakedownSqlPred = "(doc_id % 17) = 3"

  /** INCREMENTAL k-core under takedown — retraction through the second
    * standing GRAPH artifact (the boilerplate-core labels of
    * [[kcoreOnPairs]]), with the same blast-radius bound as
    * [[takedownSurvivors]] and for the same reason: peeling is
    * COMPONENT-LOCAL (every degree it computes counts only
    * same-component neighbors, and no global scalar enters), so a
    * component whose edge set survives intact peels to exactly its old
    * core — those (doc_id, deg) rows PASS THROUGH. Components holding
    * a removed doc re-peel honestly on their surviving edges (losing a
    * member can cascade: its neighbors drop below k and peel in a
    * later round), through the same bounded-round [[kcoreOnPairs]] the
    * standing artifact was built with.
    *
    * `standing` is the survivor table — its cluster_id IS the pair
    * graph's component map, so a deployment that keeps both artifacts
    * pays no extra closure to find the blast radius. `standingCore` is
    * the stored k-core, checkpointed as [[takedownKcore]] builds it. */
  private[graft] def takedownKcoreOn(
      standingCore: DataFrame, // (doc_id, deg) k-core over standing corpus
      standing: DataFrame,     // (doc_id, cluster_id, ...) component map
      pairs: DataFrame,        // (id_a, id_b) verified edges
      removed: DataFrame,      // (doc_id) takedown set
      k: Int = 2, rounds: Int = 4): DataFrame = {
    val s = standingCore.sparkSession
    import s.implicits._
    val BlastRadius(hinted, affected, members, subPairs) =
      blastRadius(standing, pairs, removed, cappedHint(removed.count()))
    val untouched = standingCore
      .join(standing.select($"doc_id", $"cluster_id"), Seq("doc_id"))
      .join(hinted(affected), Seq("cluster_id"), "left_anti")
      .select($"doc_id", $"deg")
    // explicit reselect: using-joins hoist their key to the front, and
    // kcoreOnPairs' toDF("id_a", "id_b") renames POSITIONALLY
    untouched.unionByName(
      kcoreOnPairs(subPairs.select($"id_a", $"id_b"), k, rounds))
      .orderBy($"doc_id")
  }

  /** Takedown through the standing PAGERANK artifact — the HONEST
    * form: recompute-on-surviving-edges, never passthrough. Unlike the
    * survivor and k-core artifacts, PageRank CANNOT pass untouched
    * components through: the teleport term is `Scale div n` with n the
    * GLOBAL surviving-node count, so removing any node moves `init`
    * and `base` for every component — and the fixed-point floor
    * divisions make the move non-rescalable (with exact rationals the
    * untouched components' scores would scale by n_old/n_new
    * component-locally; floor arithmetic breaks that identity
    * bit-wise, and bit-parity is the gate's contract). What the
    * incremental path DOES reuse is the expensive part: the standing
    * verified pair list — at 10⁷ docs the pair derivation costs
    * ~305 s while the 5 bounded rounds on the (near-dup-sized, not
    * corpus-sized) edge list cost seconds — so the takedown filters
    * edges to surviving endpoints and re-runs only the rounds. */
  private[graft] def takedownPagerankOn(
      pairs: DataFrame, removed: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val hinted = cappedHint(removed.count())
    val subPairs = pairs
      .join(hinted(removed.select($"doc_id".as("id_a"))),
        Seq("id_a"), "left_anti")
      .join(hinted(removed.select($"doc_id".as("id_b"))),
        Seq("id_b"), "left_anti")
      .select($"id_a", $"id_b")
    // r14: per-round broadcast hints OFF for the takedown form — the
    // r13 full-bench regression (1.62→2.68 s) reproduced under
    // JobProfile and the hint-free form measured faster in the same
    // window (see pageRankOnPairs); q_pagerank keeps its hinted static
    // 0-SMJ shape.
    pageRankOnPairs(subPairs, hintBroadcasts = false)
  }

  /** The standing artifacts every takedown gate starts from, built the
    * way a deployment stores them: the corpus, its verified pair list
    * (one pair computation, checkpointed) and the gate's removal set
    * with its capped-broadcast hint (`removedHint`, counted once, on
    * first use); `survivors()` checkpoints the standing [[survivorsFrom]]
    * table over them. Both checkpoints are held in the caller's
    * [[graft.Scope]]. */
  private final class Standing(s: SparkSession, d: String) {
    import s.implicits._
    val docs: DataFrame = Tables.documents(s, d)
    val pairs: DataFrame = Scope.hold(
      minhashNearDup(s, d).select($"id_a", $"id_b").localCheckpoint(true))
    val removed: DataFrame = docs.where(TakedownSparkPred).select($"doc_id")
    lazy val removedHint: BroadcastHint = cappedHint(removed.count())
    def survivors(): DataFrame =
      Scope.hold(survivorsFrom(docs, pairs).localCheckpoint(true))
  }

  /** GATE: [[takedownKcoreOn]] end-to-end — standing pairs, component
    * map and k-core built once (checkpointed), takedown applied with
    * untouched-component passthrough; the oracle re-peels from scratch
    * on the filtered corpus. Hash equality proves component-local
    * peeling commutes with blast-radius-bounded maintenance. */
  def takedownKcore(s: SparkSession, d: String): DataFrame = {
    val st = new Standing(s, d)
    // r13 (guide §2.6): the two standing artifacts read only the pairs
    // checkpoint, so their build jobs — each a chain of bounded rounds
    // with driver sync points — overlap from two driver threads instead
    // of serializing ~equal wall times end to end. Both hold into this
    // thread's scope (Par runs them under it).
    val Seq(standing, core) = graft.ops.Par.concurrently(Seq(
      () => st.survivors(),
      () => Scope.hold(kcoreOnPairs(st.pairs).localCheckpoint(true))))
    takedownKcoreOn(core, standing, st.pairs, st.removed)
  }

  /** GATE: [[takedownPagerankOn]] — standing pairs reused, rounds
    * re-run on the surviving edges; the oracle recomputes pairs AND
    * rounds from scratch on the filtered corpus. */
  def takedownPagerank(s: SparkSession, d: String): DataFrame = {
    val st = new Standing(s, d)
    takedownPagerankOn(st.pairs, st.removed)
  }

  /** GATE: [[takedownSurvivors]] end-to-end — build the standing
    * artifacts the way a deployment stores them (one pair computation,
    * checkpointed), then apply the takedown INCREMENTALLY. The oracle
    * recomputes the survivor table from scratch on the filtered
    * corpus; hash equality proves blast-radius-bounded incremental
    * maintenance derives exactly the full recompute. */
  def takedownSurvivor(s: SparkSession, d: String): DataFrame = {
    val st = new Standing(s, d)
    takedownSurvivors(st.docs, st.survivors(), st.pairs, st.removed)
  }

  /** GATE: the takedown's blast-radius census — the summary a
    * retraction run reports: documents removed, standing clusters
    * touched, remaining documents whose cluster label or survivor
    * changed, and clusters SPLIT by losing a bridge member. Both
    * engines derive old and new artifacts independently (Spark:
    * standing + incremental takedown; DuckDB: two from-scratch
    * component closures) and aggregate the same comparison. */
  def takedownCensus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val st = new Standing(s, d)
    val standing = st.survivors()
    val hinted = st.removedHint
    val after = takedownSurvivors(st.docs, standing, st.pairs, st.removed,
      Some(hinted))
    // remaining docs, old vs new labels — reused by three aggregates,
    // so it is checkpointed once (forcing `after` exactly once)
    val cmp = Scope.hold(standing
      .select($"doc_id", $"cluster_id".as("old_cluster"),
        $"survivor_id".as("old_surv"))
      .join(after.select($"doc_id", $"cluster_id".as("new_cluster"),
        $"survivor_id".as("new_surv")), Seq("doc_id"))
      .localCheckpoint(true))
    val touched = standing.join(hinted(st.removed), Seq("doc_id"),
      "leftsemi")
    // r13 (guide §1.2: don't re-scan what one pass can answer): the
    // five metrics previously ran five aggregate branches — three
    // passes over cmp and two over the standing⋈removed semi-join —
    // unioned row by row. Now ONE pass over `touched` yields
    // clusters_affected + removed_docs, ONE pass over cmp yields
    // relabeled_docs + survivor_reassigned (conditional sums in a
    // shared aggregate), and only clusters_split keeps its own
    // two-level rollup (it needs a per-old-cluster distinct). The three
    // 1-row scalars meet in crossJoins (metadata, never data volume)
    // and unpivot into the same (metric, n) rows.
    val tAgg = touched.agg(
      countDistinct($"cluster_id").as("clusters_affected"),
      count(lit(1)).as("removed_docs"))
    val cAgg = cmp.agg(
      coalesce(sum(when($"old_cluster" =!= $"new_cluster", 1L)
        .otherwise(0L)), lit(0L)).as("relabeled_docs"),
      coalesce(sum(when($"old_surv" =!= $"new_surv", 1L)
        .otherwise(0L)), lit(0L)).as("survivor_reassigned"))
    val splitAgg = cmp.join(hinted(touched.select(
          $"cluster_id".as("old_cluster")).distinct()),
        Seq("old_cluster"), "leftsemi")
      .groupBy($"old_cluster")
      .agg(countDistinct($"new_cluster").as("nc"))
      .where($"nc" > 1).agg(count("*").as("clusters_split"))
    tAgg.crossJoin(cAgg).crossJoin(splitAgg)
      .select(expr(
        "stack(5," +
          " 'clusters_affected', clusters_affected," +
          " 'clusters_split', clusters_split," +
          " 'relabeled_docs', relabeled_docs," +
          " 'removed_docs', removed_docs," +
          " 'survivor_reassigned', survivor_reassigned)")
        .as(Seq("metric", "n")))
      .orderBy($"metric")
  }

  /** PageRank over the near-duplicate similarity graph — importance
    * weighting for curation: a document sitting inside a dense near-dup
    * neighborhood (boilerplate families, mirrored pages) concentrates
    * rank, which downstream sampling can use to down-weight redundant
    * regions (the inverse of web-graph PageRank-weighted crawl
    * selection, but the same computation). Nodes = documents with at
    * least one near-dup edge; damping 0.85, 5 iterations.
    *
    * All arithmetic is SCALED-INTEGER (pr as units of 1e-12, integral
    * `div` at every division) so five join-aggregate rounds produce the
    * bit-identical longs in Spark and DuckDB — the same fixed-point
    * discipline as [[graft.operators.Spectral]]'s power iteration.
    * Per round: contrib = pr div deg from each neighbor, inflow = exact
    * long sum, pr' = (15·(SCALE div n)) div 100 + (85·inflow) div 100. */
  def pageRank(s: SparkSession, d: String): DataFrame =
    pageRankOnPairs(minhashNearDup(s, d).select("id_a", "id_b"))

  /** Scale shape: the graph is checkpointed ONCE (edges + degrees — both
    * orders of magnitude smaller than the corpus: only documents with a
    * near-dup edge appear), then each of the 5 fixed rounds is one
    * shuffle-on-node-id join + one partial-aggregated sum; the rounds
    * chain in a single lazy plan whose leaves are the checkpointed RDDs,
    * so nothing upstream of the graph is recomputed per round. The
    * node-count scalar is a bounded driver aggregate (same class as the
    * convergence counts in [[propagateLabels]]). */
  private[graft] def pageRankOnPairs(
      pairs0: DataFrame, iters: Int = 5,
      hintBroadcasts: Boolean = true): DataFrame = {
    require(iters >= 1, s"pageRankOnPairs: iters must be >= 1, got $iters")
    import pairs0.sparkSession.implicits._
    val Scale = 1000000000000L
    val pairs = pairs0.toDF("id_a", "id_b")
    val edges = pairs.union(pairs.select($"id_b", $"id_a"))
      .toDF("src", "dst")
      .localCheckpoint(true)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .select($"src".as("node"), $"deg")
      .localCheckpoint(true)
    val n = deg.count()
    val init = if (n == 0) 0L else Scale / n
    val base = 15L * init / 100L
    // r13 (guide §2.4/§3.1): the per-round state tables (contrib and
    // inflow — both node-sized, n rows) ride capped BROADCASTS; n is
    // already on the driver, so the decision is free. Both round joins
    // previously planned SMJ against stats-free checkpoint leaves, so
    // every round re-exchanged + re-sorted the EDGE stream and the
    // degree table to move an n-row state; now the edge stream is
    // joined where it sits and only the inflow aggregate exchanges
    // rows (the round's fundamental movement). The rounds still chain
    // in ONE lazy plan — each broadcast subtree is materialized once
    // by the single final action, never per round.
    // r14 adjustments, both measured (JobProfile best-of-3 + focused
    // min-of-7):
    //  - the cap divides by 2·iters: this ONE chained plan keeps
    //    2·iters broadcast relations alive until the final action, so
    //    the per-broadcast budget the cap was sized for must be shared
    //    across all of them (above the tighter cap: shuffle fallback,
    //    as everywhere else in this module — AQE still localizes tiny
    //    joins at runtime).
    //  - `hintBroadcasts` lets the takedown path OPT OUT: r13 measured
    //    q_takedown_pagerank regressing 1.62→2.68 s with the hints on
    //    while q_pagerank stayed neutral; the r14 A/B (same window,
    //    JobProfile) reads takedown 3282→2842 ms wall / jobSum
    //    1588→1285 ms with hints off, because the anti-join preamble
    //    already forces AQE replanning per round and the 10 forced
    //    broadcast materializations serialize on the driver.
    val hinted =
      if (hintBroadcasts) cappedHint(n, VerifyIdsBroadcastCap / (2L * iters))
      else BroadcastHint(false)
    var pr = deg.select($"node", $"deg", lit(init).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = pr.select($"node".as("cnode"), expr("pr div deg").as("c"))
      val inflow = edges.join(hinted(contrib), $"src" === $"cnode")
        .groupBy($"dst").agg(sum($"c").as("inflow"))
      pr = deg.join(hinted(inflow), $"node" === $"dst", "left")
        .select($"node", $"deg",
          (lit(base) + expr("(85 * coalesce(inflow, 0L)) div 100")).as("pr"))
    }
    // the edge/degree checkpoints the returned plan reads
    Scope.hold(pr.select($"node".as("doc_id"), $"pr".as("pr_scaled"), $"deg")
      .orderBy($"doc_id"))
  }

  /** k-CORE of a pair graph via bounded-round peeling: repeatedly drop
    * nodes with fewer than `k` surviving neighbors; what remains is the
    * maximal subgraph of minimum degree ≥ k. On the near-dup graph the
    * 2-core is the BOILERPLATE-CORE detector: duplicate chains and
    * isolated pairs peel away, while mutually-near-duplicate families
    * (template farms — every member close to every other) survive, so
    * core membership separates "a re-crawl copied this page once" from
    * "this page is a stamped template", two different cleaning actions.
    *
    * Rounds are BOUNDED (`rounds`, default 4), matching the unrolled
    * oracle: fixed-round peel equals the true k-core whenever peeling
    * converges within the bound — each round is one degree aggregate +
    * two semi-join-shaped edge filters, so the cost is rounds × the
    * (already near-dup-sized, not corpus-sized) edge list. A fifth
    * round on the gate graph is a no-op (NearDupSpec pins convergence);
    * deployments with deeper cascades raise `rounds`, the same bounded-
    * fixpoint trade [[pageRankOnPairs]] makes. */
  private[graft] def kcoreOnPairs(
      pairs0: DataFrame, k: Int = 2, rounds: Int = 4): DataFrame = {
    import pairs0.sparkSession.implicits._
    val pairs = pairs0.toDF("id_a", "id_b")
    val edges = pairs.union(pairs.select($"id_b", $"id_a"))
      .toDF("src", "dst")
      .localCheckpoint(true)
    // each round's survivor set is CHECKPOINTED (lazily; the next
    // round's first action materializes it) before the next round
    // references it twice — without the cut, alive_r's lazy plan embeds
    // TWO copies of alive_{r-1}, i.e. ~2^rounds subtrees, and the
    // "raise `rounds` for deeper cascades" knob this operator documents
    // would hang Catalyst analysis long before any data moved. The
    // previous round's blocks are freed once the new round materializes.
    var alive = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .where($"deg" >= k).select($"src".as("node"))
      .localCheckpoint(false)
    // r13 (guide §2.4/§3.1): the per-round survivor set rides a capped
    // BROADCAST into leftsemi edge filters — alive is a node set (≤ the
    // touched-node count, orders under the edge stream), and the round's
    // materialization count is already on the driver, so the decision is
    // free. The previous inner joins planned SMJ (a checkpoint leaf has
    // no stats), re-exchanging the edge stream TWICE per round; now the
    // edge stream is never shuffled for the filters — only the degree
    // aggregate moves rows. Above the cap: shuffle fallback, as
    // everywhere else in this module. The extra count on round 1
    // replaces the materialization round 2's first action paid anyway.
    var hinted = cappedHint(alive.count())
    for (_ <- 2 to rounds) {
      val e = edges
        .join(hinted(alive.select($"node".as("src"))), Seq("src"), "leftsemi")
        .join(hinted(alive.select($"node".as("dst"))), Seq("dst"), "leftsemi")
      val next = e.groupBy($"src").agg(count(lit(1)).as("deg"))
        .where($"deg" >= k).select($"src".as("node"))
        .localCheckpoint(false)
      val n = next.count() // materialize, then the previous round can go
      Scope.free(alive)
      alive = next
      hinted = cappedHint(n)
    }
    Scope.hold(edges
      .join(hinted(alive.select($"node".as("src"))), Seq("src"), "leftsemi")
      .join(hinted(alive.select($"node".as("dst"))), Seq("dst"), "leftsemi")
      .groupBy($"src").agg(count(lit(1)).as("deg"))
      .select($"src".as("doc_id"), $"deg")
      .orderBy($"doc_id"))
  }

  /** Gate form: the 2-core of the verified near-dup pair graph. */
  def kcore(s: SparkSession, d: String): DataFrame =
    kcoreOnPairs(minhashNearDup(s, d).select("id_a", "id_b"))

  /** Connected components over an undirected pair list: every `doc_id`
    * in `nodes` → (doc_id, cluster_id = min reachable id). Factored out
    * so specs can pin the component semantics on planted graphs
    * (chains, forests) independent of the near-dup pair stage.
    *
    * Two strategies, same unique fixpoint:
    *  - `starContraction = false` (default): min-label propagation,
    *    rounds = component diameter. Right when components are known
    *    shallow (near-dup clusters are short chains), because each
    *    round is ONE job — the convergence count doubles as the lazy
    *    checkpoint's materialization — and only touched nodes carry
    *    state. If a component's diameter exceeds `propagationRoundCap`
    *    the strategy AUTO-FALLS-BACK to star contraction instead of
    *    failing: the cap is a heuristic for "components are shallow",
    *    not a correctness bound, so a pathological graph (one long
    *    boilerplate chain in a 100 TB corpus) degrades to the O(log n)
    *    algorithm, never to an error.
    *  - `starContraction = true`: alternating large-star/small-star
    *    edge contraction (Kiveris et al., "Connected Components in
    *    MapReduce and Beyond", SoCC'14) — O(log n) rounds on ANY graph
    *    shape, the form that survives a long-chain or high-diameter
    *    component at deployment scale where diameter-bounded
    *    propagation would spin past any round cap. */
  private[graft] def connectedComponents(
      nodes: DataFrame, // column: doc_id
      pairs: DataFrame, // columns: id_a, id_b
      starContraction: Boolean = false,
      propagationRoundCap: Int = 50
  ): DataFrame = {
    import nodes.sparkSession.implicits._
    val labels = touchedLabels(pairs, starContraction, propagationRoundCap)
    // The labels side is near-dup-family-bounded but checkpoint-backed
    // (LogicalRDD — no size stats), so Spark would plan the corpus-wide
    // left join as sort-merge: a full exchange of every node, paid
    // AGAIN under the final sort's range-partition sampling pass. The
    // label count is a bounded read off the checkpoint; under the cap,
    // hint the broadcast the stats would have earned. Above it, fall
    // back to the shuffle — same discipline as [[candidateBounded]].
    val hinted = cappedHint(labels.count())
    nodes.select($"doc_id")
      .join(hinted(labels), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"comp", $"doc_id").as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** Component labels (doc_id, comp) for nodes that HAVE a near-dup
    * edge — localCheckpoint'ed, near-dup-family-bounded (orders smaller
    * than the corpus). Exposed for cascade stages that only need the
    * touched set: a document with no verified edge can never receive a
    * near_dup verdict, so expanding labels to the full corpus (the
    * [[connectedComponents]] left join + total sort) just to window
    * mostly-singleton rows is pure overhead there. */
  private[graft] def touchedLabels(pairs: DataFrame,
      starContraction: Boolean = false,
      propagationRoundCap: Int = 50): DataFrame = {
    val labels =
      if (starContraction) starLabels(pairs)
      else propagateLabels(pairs, propagationRoundCap)
        .getOrElse(starLabels(pairs))
    Scope.hold(labels)
  }

  /** Min-label propagation: (doc_id, comp) for every node with an edge.
    * Each round a node takes the min of its own and its neighbors'
    * labels; labels are localCheckpoint'ed LAZILY each round so the
    * convergence count is the one and only job per round (it
    * materializes the checkpoint as a side effect), lineage stays flat,
    * and the PREVIOUS round's blocks are freed as soon as the new
    * checkpoint is materialized. The driver sees only the changed
    * count — no data leaves the executors.
    *
    * Returns None when `maxRounds` passes without convergence (after
    * freeing every checkpoint this attempt materialized) — the caller
    * falls back to [[starLabels]], whose round count is O(log n)
    * regardless of diameter. */
  private def propagateLabels(
      pairs: DataFrame, maxRounds: Int): Option[DataFrame] = {
    import pairs.sparkSession.implicits._
    val edges = pairs.toDF("id_a", "id_b")
    val sym = edges.union(edges.select($"id_b", $"id_a"))
      .toDF("src", "dst")
      .localCheckpoint(true) // materialized once, reused every round
    // iterate ONLY over nodes that have an edge: in a dedup corpus the
    // overwhelming majority of documents are singletons, and they need
    // no propagation at all — they join back as their own label at the
    // end, so every round's state is the (small) touched-node set
    var labels = sym.select($"src".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("comp"))
      .localCheckpoint(true)
    // r13 (guide §2.4/§3.1): the label table's cardinality is CONSTANT
    // across rounds (every touched node, no more), so one census up
    // front decides capped broadcasts for every round's two joins. The
    // previous SMJs against stats-free checkpoint leaves re-exchanged
    // and re-sorted the edge stream AND the label table each round to
    // move node-sized state; now only the per-round min aggregate
    // exchanges rows. Above the cap: shuffle fallback.
    val hinted = cappedHint(labels.count())
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = sym
        .join(hinted(labels.select($"doc_id".as("dst"),
          $"comp".as("nbr_comp"))), Seq("dst"))
        .groupBy($"src")
        .agg(min($"nbr_comp").as("nbr_min"))
      val updated = labels
        .join(hinted(nbrMin), labels("doc_id") === nbrMin("src"), "left")
        .select(labels("doc_id"),
          least($"comp", coalesce($"nbr_min", $"comp")).as("comp"),
          coalesce($"nbr_min" < $"comp", lit(false)).as("chg"))
        .localCheckpoint(eager = false)
      changed = updated.where($"chg").count() // materializes the checkpoint
      Scope.free(labels) // previous round's blocks, now unreferenced
      labels = updated
      rounds += 1
    }
    Scope.free(sym)
    if (changed > 0) { // diameter > cap: hand the graph to star contraction
      Scope.free(labels)
      None
    } else Some(labels.select($"doc_id", $"comp"))
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.
    * SoCC'14): (doc_id, comp) for every node with an edge.
    *
    * Edges are kept canonical `(lo, hi)`, lo < hi. Per round:
    *  - LARGE-STAR: every node u links each STRICTLY LARGER neighbor to
    *    m = min(neighborhood ∪ u). Emitted edges (v, m) keep v > m, so
    *    they stay canonical as (m, v).
    *  - SMALL-STAR: every node u links each smaller-or-equal neighbor —
    *    and itself — to the min of its smaller neighborhood. Over
    *    canonical edges that is a groupBy(hi): m = min(lo), emit (lo, m)
    *    for every smaller neighbor plus (hi, m).
    * Both steps strictly never disconnect anything (every new edge
    * replaces a path through u), and the pair halves component heights
    * geometrically — O(log n) rounds to the fixpoint, where every
    * component is a star centered on its min node.
    *
    * Convergence = edge set unchanged (symmetric difference empty); the
    * check rides the same job that materializes the round's lazy
    * checkpoint. */
  private def starLabels(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    var edges = pairs.toDF("a", "b")
      .where($"a" =!= $"b")
      .select(least($"a", $"b").as("lo"), greatest($"a", $"b").as("hi"))
      .distinct()
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    val maxRounds = 40 // 2^40 nodes before the log bound is the binder
    while (!converged && rounds < maxRounds) {
      // large-star over the symmetric view
      val sym = edges.union(edges.select($"hi", $"lo")).toDF("u", "v")
      val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      val large = sym.join(mins, Seq("u"))
        .where($"v" > $"u")
        .select($"m".as("lo"), $"v".as("hi")) // m <= u < v: canonical
        .distinct()
      // small-star over canonical edges: group the SMALLER neighbors
      val smins = large.groupBy($"hi").agg(min($"lo").as("m"))
      val small = large.join(smins, Seq("hi"))
        .select($"m".as("a"), $"lo".as("b")) // (smaller neighbor -> m)
        .union(smins.select($"m".as("a"), $"hi".as("b"))) // (u -> m)
        .where($"a" =!= $"b") // lo == m is the center itself
        .select($"a".as("lo"), $"b".as("hi")) // m <= lo and m < hi
        .distinct()
        .localCheckpoint(eager = false)
      // one job: materializes the checkpoint AND decides convergence
      converged = small.exceptAll(edges)
        .union(edges.exceptAll(small))
        .isEmpty
      Scope.free(edges)
      edges = small
      rounds += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds")
    // fixpoint is a forest of stars: hi -> its center, centers -> self
    edges.groupBy($"hi").agg(min($"lo").as("comp"))
      .select($"hi".as("doc_id"), $"comp")
      .union(edges.select($"lo", $"lo").distinct()
        .toDF("doc_id", "comp"))
      .groupBy($"doc_id").agg(min($"comp").as("comp"))
  }

  /** INCREMENTAL near-dup: today's ingest batch against the standing
    * corpus — the shape a production pipeline actually runs daily. The
    * batch (`fresh`) is deduped against corpus ∪ batch WITHOUT ever
    * re-pairing corpus × corpus: band keys are probed one-sided, so the
    * candidate join is proportional to |batch| × bands, not |corpus|².
    *
    * At deployment scale the corpus index `(bkey, doc_id)` and the
    * shingle table are PERSISTED tables (bucketed by bkey / doc_id via
    * [[graft.sources.Ddl.createBucketedTable]] so the probe join and the
    * verify joins shuffle only the batch side); here both sides derive
    * from the same documents table split on doc_id, which exercises the
    * identical plan with the index subtree inlined.
    *
    * Gate split: corpus = doc_id % 10 < 8, fresh = the remaining 20% —
    * deterministic, so the DuckDB oracle reproduces it exactly: the
    * brute-force pair definition restricted to pairs touching the fresh
    * side. Recall story is [[minhashNearDup]]'s: banding must not lose a
    * pair at tau, or the hash compare fails. */
  def incrementalNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = hashedShingles(s, d)
    val fresh = ($"doc_id" % 10) >= 8
    incrementalPairs(sh.where(!fresh), sh.where(fresh))
  }

  /** The LSH band index of a (doc_id, sh) shingle frame: one (bkey,
    * doc_id) row per band — the table a production pipeline PERSISTS
    * (bucketed on bkey via [[graft.sources.Ddl.createBucketedTable]],
    * so a batch probe joins it with NO exchange on the index side —
    * pinned by NearDupSpec). */
  private[graft] def bandIndex(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    sh.select($"doc_id",
      explode(graft.functions.VectorExpressions.minhash_band_keys(
        $"sh", Perms, Bands)).as("bkey"))
  }

  /** Verified near-dup pairs touching `fresh`: fresh × (corpus ∪ fresh),
    * never corpus × corpus. Both inputs are (doc_id, sh) shingle-set
    * frames ([[hashedShingles]] shape). Factored out so specs can pin
    * the one-sided-probe semantics on planted splits. */
  private[graft] def incrementalPairs(
      corpus: DataFrame, fresh: DataFrame): DataFrame =
    incrementalPairsIndexed(corpus, bandIndex(corpus), fresh)

  /** [[incrementalPairs]] with the corpus' band index supplied as an
    * ALREADY-MATERIALIZED table — the deployment form, where the index
    * is a stored bucketed-on-bkey table ([[graft.sources.Ddl
    * .createBucketedTable]]) built once and probed by every ingest
    * batch with no index-side exchange (pinned by NearDupSpec's
    * persisted-band-index plan test; timed at scale by ScaleBench's
    * incremental_persisted probe). */
  private[graft] def incrementalPairsIndexed(
      corpus: DataFrame, corpusIndex: DataFrame, fresh: DataFrame)
      : DataFrame = {
    import corpus.sparkSession.implicits._
    def banded(df: DataFrame): DataFrame = bandIndex(df)
    // the index side is what production keeps as a stored table; the
    // batch's own keys are unioned in so fresh×fresh dups are also seen
    val index = corpusIndex.union(banded(fresh))
    val candidates = banded(fresh).select($"bkey", $"doc_id".as("id_p"))
      .join(index.select($"bkey", $"doc_id".as("id_i")), Seq("bkey"))
      .where($"id_p" =!= $"id_i")
      // canonicalize so a fresh×fresh pair (probed from both ends) and a
      // multi-band hit collapse in one distinct
      .select(least($"id_p", $"id_i").as("id_a"),
        greatest($"id_p", $"id_i").as("id_b"))
      .distinct()
    jaccardVerified(candidates, corpus.unionByName(fresh))
      .where(tauPassExact)
      .select($"id_a", $"id_b", $"n_common", $"jaccard")
      .orderBy($"id_a", $"id_b")
  }

  /** EXACT set-similarity join via prefix filtering (AllPairs/PPJoin
    * family): a pair with Jaccard >= t must share at least one token in
    * the first `|A| - ceil(t*|A|) + 1` tokens of a canonical ordering,
    * so candidates come from an equi-join on PREFIX tokens only —
    * guaranteed 100% recall with no hashing, the deterministic
    * counterpart to [[minhashNearDup]].
    *
    * Canonical order = rarest-token-first. The order costs a
    * corpus-wide document-frequency aggregate, a join, and a re-sort —
    * three shuffles of the token stream — but it keeps prefix-token join
    * buckets SMALL under token skew, and that is what bounds candidate
    * fan-out. (Measured on this corpus: the shuffle-free alternative of
    * using the arrays' existing hash order made the query ~60% slower —
    * small-vocabulary shingles have heavily skewed df, so random prefix
    * tokens land in fat buckets. Hash order only wins when df is
    * near-uniform.) */
  def prefixSimJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // t also bounds the prefix length (= n - ceil(t*n) + 1): higher
    // thresholds mean shorter prefixes and fewer candidates
    val t = 0.5
    val sh = hashedShingles(s, d) // sorted distinct hashed shingles
    val tokens = sh.select($"doc_id", explode($"sh").as("tok"))
    val freq = tokens.groupBy($"tok").agg(count(lit(1)).as("freq"))
    // canonical rarest-first order; prefix keeps the first
    // n - ceil(t*n) + 1 tokens
    val ordered = tokens.join(freq, "tok")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"freq", $"tok"))).as("by_rarity"),
        count(lit(1)).as("n"))
      .select($"doc_id", $"n",
        slice($"by_rarity", lit(1),
          ($"n" - ceil(lit(t) * $"n") + 1).cast("int")).as("prefix"))
    val pa = ordered.select($"doc_id".as("id_a"), $"n".as("n_a"),
      posexplode($"prefix.tok"))
      .withColumnsRenamed(Map("pos" -> "pos_a", "col" -> "tok"))
    val pb = ordered.select($"doc_id".as("id_b"), $"n".as("n_b"),
      posexplode($"prefix.tok"))
      .withColumnsRenamed(Map("pos" -> "pos_b", "col" -> "tok"))
    // PPJoin filters in the join condition, both necessary for J >= t:
    //  - length: min(|A|,|B|) >= t * max(|A|,|B|);
    //  - positional: a match at (0-based) prefix positions (pa, pb) caps
    //    the achievable overlap at min(|A|-pa-1, |B|-pb-1) + 1 (only the
    //    suffixes after the matching token can still contribute), while
    //    J >= t needs overlap >= t/(1+t) * (|A|+|B|).
    // Both discard candidates BEFORE the distinct + verify stages ever
    // see them (the prefix filter alone admits any pair sharing one
    // prefix token regardless of size or match position).
    val candidates = pa.join(pb, Seq("tok"))
      .where($"id_a" < $"id_b" &&
        $"n_b" >= lit(t) * $"n_a" && $"n_a" >= lit(t) * $"n_b" &&
        least($"n_a" - $"pos_a" - 1, $"n_b" - $"pos_b" - 1) + 1 >=
          lit(t / (1 + t)) * ($"n_a" + $"n_b"))
      .select($"id_a", $"id_b")
      .distinct()
    jaccardVerified(candidates, sh)
      .where($"jaccard" >= t)
      .select($"id_a", $"id_b", $"jaccard")
      .orderBy($"id_a", $"id_b")
  }

  /** Containment (subset) similarity join: DIRECTIONAL C(A→B) =
    * |A∩B| / |A| >= t — catches a document whose content sits inside a
    * larger one (quotes, boilerplate-wrapped copies), which symmetric
    * Jaccard — and therefore every Jaccard-tuned dedup stage — misses:
    * a 40-shingle doc fully contained in a 400-shingle doc has J ≈ 0.1.
    *
    * Candidates via the ASYMMETRIC prefix filter: if C(A→B) >= t, then B
    * shares at least one of the first |A| - ceil(t·|A|) + 1 tokens of
    * A's canonical (rarest-first) order, so the contained side joins a
    * short prefix (10% of its tokens at t=0.9) against the container
    * side's FULL token postings. Exact — the oracle is the brute-force
    * definition, so the gate proves the prefix scheme loses no pair.
    * No length filter exists for containment (that is the point: sizes
    * may differ arbitrarily); the prefix join IS the candidate bound. */
  def containmentJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = 0.9
    val sh = hashedShingles(s, d)
    val tokens = sh.select($"doc_id", explode($"sh").as("tok"))
    val freq = tokens.groupBy($"tok").agg(count(lit(1)).as("freq"))
    val prefixes = tokens.join(freq, "tok")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"freq", $"tok"))).as("by_rarity"),
        count(lit(1)).as("n"))
      .select($"doc_id", slice($"by_rarity.tok", lit(1),
        ($"n" - ceil(lit(t) * $"n") + 1).cast("int")).as("prefix"))
    val pa = prefixes.select($"doc_id".as("contained_id"),
      explode($"prefix").as("tok"))
    val pb = tokens.select($"doc_id".as("container_id"), $"tok")
    val candidates = pa.join(pb, Seq("tok"))
      .where($"contained_id" =!= $"container_id")
      .select($"contained_id", $"container_id")
      .distinct()
    candidates
      .join(sh.select($"doc_id".as("contained_id"), $"sh".as("sh_a")),
        Seq("contained_id"))
      .join(sh.select($"doc_id".as("container_id"), $"sh".as("sh_b")),
        Seq("container_id"))
      .withColumn("containment",
        graft.functions.VectorExpressions.intersect_count($"sh_a", $"sh_b")
          .cast("double") / size($"sh_a"))
      .where($"containment" >= t)
      .select($"contained_id", $"container_id", $"containment")
      .orderBy($"contained_id", $"container_id")
  }

  /** N-gram Jaccard similarity, bucketed by `source` (pre-partitioned
    * corpus blocks): top-3 most similar OVERLAPPING pairs per block —
    * pairs sharing at least one shingle, which is every pair a shingle
    * inverted index can see (a zero-overlap pair has similarity 0 and is
    * not a "similar pair" under any ranking that matters).
    *
    * Scale shape: an inverted-index count join, NOT a block self-join.
    * Shingle postings self-join on (source, shingle-hash) — an 8-byte
    * key — and `n_common` falls out of a count aggregate, exact because
    * shingle arrays are distinct. Per-shingle fan-out is df², so total
    * pair volume is Σ df² ≤ max_df · Σ df: linear-ish in corpus size for
    * 3-gram shingles (df concentrates at 1-2), versus n² per block for
    * the naive form — and no shingle array ever rides a shuffle; the
    * per-doc set SIZES join in afterward on the (already small)
    * candidate-pair table. The generic unblocked form at scale is
    * [[minhashNearDup]]. */
  def ngramJaccardTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = graft.ops.Par.spread(
      Tables.documents(s, d).select($"doc_id", $"source", $"text"),
      $"doc_id") // r13: shingle kernel off the single-partition scan
      .select($"doc_id", $"source",
        graft.functions.VectorExpressions.text_shingles($"text", 3).as("sh"))
    val sizes = sh.select($"source", $"doc_id", size($"sh").as("n"))
    val toks = sh.select($"source", $"doc_id", explode($"sh").as("tok"))
    val a = toks.select($"source", $"tok", $"doc_id".as("id_a"))
    val b = toks.select($"source", $"tok", $"doc_id".as("id_b"))
    val common = a.join(b, Seq("source", "tok"))
      .where($"id_a" < $"id_b")
      .groupBy($"source", $"id_a", $"id_b")
      .agg(count(lit(1)).as("n_common"))
    // bounded top-K aggregate (pair-keyed variant): the per-source
    // sharing-pair volume is corpus-scaling, and the window form's
    // partial phase sorted each task's full slice of it
    // (TopKBuffer has the scale argument)
    val tk = udaf(new graft.pipeline.Aggregators.TopKPairsByScoreAgg(3),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Long, Double)]())
    common
      .join(sizes.select($"source", $"doc_id".as("id_a"), $"n".as("n_a")),
        Seq("source", "id_a"))
      .join(sizes.select($"source", $"doc_id".as("id_b"), $"n".as("n_b")),
        Seq("source", "id_b"))
      .withColumn("jaccard",
        $"n_common".cast("double") / ($"n_a" + $"n_b" - $"n_common"))
      .groupBy($"source")
      .agg(tk($"id_a", $"id_b", $"jaccard").as("top"))
      .select($"source", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast("long").as("rank"),
        $"col._1".as("id_a"), $"col._2".as("id_b"),
        $"col._3".as("jaccard"))
      .orderBy($"source", $"rank")
  }

  /** SimHash near-dup pairs within Hamming distance <= 6, via TWO-CHUNK
    * combination keys (the multi-block candidate scheme of Manku et al.'s
    * simhash dedup): the 64-bit fingerprint splits into 8 8-bit chunks;
    * <= 6 differing bits touch at most 6 chunks, so at least 2 chunks are
    * untouched and the pair agrees on SOME 16-bit two-chunk combination —
    * one equi-join on C(8,2)=28 packed combo keys, then exact popcount
    * verification. The key space per combo is 2^16 (vs 2^8 for a single
    * chunk), so bucket sizes — and the quadratic within-bucket candidate
    * count — shrink by ~256x at any corpus size; that is what keeps this
    * candidate stage sub-quadratic as n grows. Oracle: brute-force pairs
    * over the SQL-reproduced SimHash ([[graft.ops.HashOracleSql]]), so
    * the gate also proves the pigeonhole candidate stage loses no pair. */
  def simhashNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val maxDist = 6
    val chunks = 8
    val sigs = Tables.documents(s, d)
      .select($"doc_id", simhash64($"text").as("simhash"))
    val chunkCols = (0 until chunks).map(c =>
      shiftright($"simhash", c * 8).bitwiseAND(lit(0xffL)))
    // packed long key per combo: comboIdx*2^16 + ci*2^8 + cj (< 2^21)
    val comboKeys = for {
      i <- 0 until chunks; j <- (i + 1) until chunks
    } yield lit(((i * chunks + j).toLong) << 16) +
      chunkCols(i) * lit(256L) + chunkCols(j)
    val keyed = sigs.select($"doc_id", $"simhash",
      explode(array(comboKeys: _*)).as("bkey"))
    val a = keyed.select($"bkey", $"doc_id".as("id_a"), $"simhash".as("sh_a"))
    val b = keyed.select($"bkey", $"doc_id".as("id_b"), $"simhash".as("sh_b"))
    a.join(b, Seq("bkey"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b", $"sh_a", $"sh_b")
      .distinct()
      .withColumn("hamming", bit_count($"sh_a".bitwiseXOR($"sh_b")).cast("long"))
      .where($"hamming" <= maxDist)
      .select($"id_a", $"id_b", $"hamming")
      .orderBy($"id_a", $"id_b")
  }

  /** SimHash fingerprints via the native [[graft.functions.SimHash64]]
    * expression, grouped to dedup clusters on the exact fingerprint.
    * Oracle: the same FNV-1a64 + bit-voting fold reproduced in DuckDB
    * SQL ([[graft.ops.HashOracleSql.simhashCte]]), bit-exact. */
  def simhashClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", simhash64($"text").as("simhash"))
      .groupBy($"simhash")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
      .select($"keep_id", $"simhash", $"n_docs")
      .orderBy($"keep_id")
  }

  /** The shingle projection alone (no WITH wrapper) — shared by
    * [[oracleShingles]] and the takedown oracles, which append a
    * corpus filter. */
  private[graft] val oracleShingleBody = """
      SELECT doc_id, source,
        CASE WHEN len(string_split(text, ' ')) >= 3 THEN
          list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> string_split(text, ' ')[i] || ' ' ||
                 string_split(text, ' ')[i+1] || ' ' ||
                 string_split(text, ' ')[i+2]))
        ELSE [text] END AS sh
      FROM documents"""

  private[graft] val oracleShingles = s"""
    WITH s AS ($oracleShingleBody)"""

  /** 3-shingle Jaccard of the shingle sets `$a.sh` and `$b.sh`, as a
    * double — the similarity every near-dup oracle thresholds. */
  private[graft] def oracleJaccard(a: String, b: String) =
    s"""CAST(len(list_intersect($a.sh, $b.sh)) AS DOUBLE) /
                (len($a.sh) + len($b.sh) - len(list_intersect($a.sh, $b.sh)))"""

  /** `p(id_a, id_b)`: the near-dup pair set over `s` — every doc pair at
    * Jaccard ≥ 0.8, [[dedupClusters]]'s edge rule. MATERIALIZED because
    * DuckDB inlines a plain CTE per reference: the peel, rank and
    * closure stages that read it would each redo the all-pairs join
    * (hours at sf0.1 instead of minutes). */
  private[graft] val oraclePairs = s"""
        p AS MATERIALIZED (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE ${oracleJaccard("a", "b")}
                >= 0.8)"""

  /** [[oraclePairs]] plus `e(src, dst)`, its symmetric edge list. */
  private[graft] val oracleEdges = s"""$oraclePairs,
        e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p
              UNION ALL SELECT id_b, id_a FROM p)"""

  /** `reach`/`cl(doc_id, cluster_id)`: the connected components of `e`
    * by recursive reachability from every `anchor` document, labelled by
    * their least member — [[dedupClusters]]'s labels. Needs `WITH
    * RECURSIVE`. */
  private[graft] def oracleComponents(anchor: String = "documents") = s"""
        reach(a, b) AS (
          SELECT doc_id, doc_id FROM $anchor
          UNION
          SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        cl AS (SELECT a AS doc_id, min(b) AS cluster_id
               FROM reach GROUP BY a)"""

  /** The whole near-dup cluster chain over the full corpus: shingles,
    * [[oracleEdges]] and [[oracleComponents]]. */
  private[graft] val oracleClusters = s"""
    WITH RECURSIVE s AS ($oracleShingleBody),
        $oracleEdges,
        ${oracleComponents()}"""

  /** `s`: the shingles of the corpus after the takedown, for the
    * oracles that recompute a takedown result from scratch. */
  private val oracleTakedownShingles = s"""s AS ($oracleShingleBody
          WHERE NOT $TakedownSqlPred)"""

  /** `j`, `rk` and `surv(cluster_id, survivor_id)` of [[dedupSurvivor]]:
    * per cluster `cl`, the best [[TextOps.oracleQuality]] document
    * survives; [[oracleSurvivors]] adds the final select. */
  private val oracleSurvivorRanks = s"""
        ${TextOps.oracleQuality},
        j AS (SELECT cl.doc_id, cl.cluster_id, q.quality_score
              FROM cl JOIN q ON cl.doc_id = q.doc_id),
        rk AS (SELECT doc_id, cluster_id,
                 row_number() OVER (PARTITION BY cluster_id
                   ORDER BY quality_score DESC, doc_id) AS rn
               FROM j),
        surv AS (SELECT cluster_id, doc_id AS survivor_id
                 FROM rk WHERE rn = 1)"""

  private val oracleSurvivors = s"""$oracleSurvivorRanks
        SELECT j.doc_id, j.cluster_id, surv.survivor_id,
               j.doc_id = surv.survivor_id AS keep
        FROM j JOIN surv ON j.cluster_id = surv.cluster_id
        ORDER BY j.doc_id"""

  /** Unrolled fixed-point PageRank rounds for the DuckDB oracle — the
    * same integral arithmetic as [[pageRankOnPairs]] (`//` is DuckDB's
    * integral division, Spark's `div`; both truncate, and every value is
    * positive so truncation = floor on both engines) — over the edges
    * `e`, then the final select. */
  private def pageRankOracle(iters: Int): String = s"""
        deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
                FROM e GROUP BY src),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
        r0 AS (SELECT node, deg,
                 1000000000000 // (SELECT n FROM nn) AS pr FROM deg),""" +
    (1 to iters).map { i => s"""
        r$i AS (
          SELECT d.node, d.deg,
                 (15 * (1000000000000 // (SELECT n FROM nn))) // 100
                 + (85 * coalesce(f.inflow, 0)) // 100 AS pr
          FROM deg d LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum(r.pr // r.deg) AS BIGINT) AS inflow
            FROM e JOIN r${i - 1} r ON r.node = e.src
            GROUP BY e.dst) f ON f.node = d.node)""" }.mkString(",") + s"""
        SELECT node AS doc_id, pr AS pr_scaled, deg
        FROM r$iters ORDER BY doc_id"""

  // ----------------------------------------------------------- winnowing

  /** WINNOWING near-dup pairs (Schleimer, Wilkerson & Aiken, SIGMOD'03
    * — the MOSS fingerprinting scheme): hash every K-token gram, slide
    * a W-hash window over the gram sequence, and keep the MINIMUM hash
    * of each window as a fingerprint. The guarantee the scheme exists
    * for: any shared run of at least K+W-1 tokens produces at least one
    * SHARED fingerprint, while only ~2/(W+1) of all grams are kept — a
    * position-robust, density-bounded selection, unlike fixed-stride
    * sampling (alignment-sensitive) or MinHash (whole-document, not
    * run-local). Docs sharing ≥ `MinShared` fingerprints are reported
    * with their overlap (shared / smaller fingerprint set, ppm).
    *
    * Cross-engine determinism: gram hash = md5 hex of the
    * space-joined gram, window minimum = lexicographic min over those
    * hex strings — any fixed total order yields a valid winnowing; md5
    * gives both engines the identical one.
    *
    * Scale shape: gram hashing and window minima are ROW-LOCAL array
    * expressions (transform/slice/array_min) — no token stream ever
    * shuffles, each doc contributes ~2/(W+1) of its grams to the only
    * exploded output. The pair stage is the inverted-index count join
    * (q_ngram_jaccard's shape): postings self-join on the fingerprint
    * key, Σdf² not n², with hot fingerprints (df > `DfCap`) dropped
    * first — the boilerplate-suppression lever that bounds any single
    * key's fan-out at 100 TB; a shared run the hot gram would have
    * witnessed is almost surely witnessed again by its other windows. */
  private val WinnowK = 4 // tokens per gram
  private val WinnowW = 4 // grams per window
  private val WinnowDfCap = 64
  private val WinnowMinShared = 5

  /** Winnowing fingerprints of a (doc_id, text) frame: one exploded row
    * per (doc, fingerprint) with the doc's fingerprint-set size carried
    * alongside. The extraction is ONE native codegen'd expression
    * ([[graft.functions.VecOps.winnowFps]]) — gram md5s + sliding-window
    * minima in a single O(grams) pass per document; the first cut as a
    * transform(sequence)/slice HOF chain was ~25x slower at bench SF
    * because Catalyst inlines the collapsed projections and re-evaluates
    * the whole gram array per window element (and again inside the
    * explode's implicit non-empty filter). Factored out so specs can pin
    * the SIGMOD'03 guarantee (shared K+W-1-token run ⇒ shared
    * fingerprint) on planted texts. */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id",
        graft.functions.VectorExpressions
          .winnow_fps($"text", WinnowK, WinnowW).as("fps"))
      .select($"doc_id", size($"fps").cast("long").as("n_fps"),
        explode($"fps").as("fp"))
  }

  def winnowNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the postings table is consumed THREE times (df filter + both join
    // sides); persisted, the narrow extraction runs one corpus scan
    // instead of three — at deployment scale the fingerprint table is a
    // stored index, exactly like the LSH band index.
    //
    // The md5 STRING exists only inside the kernel, where its lex
    // order picks the window minima (matching the oracle); every
    // downstream stage is pure key equality, so the posting carries a
    // TWO-long (128-bit) fold of the string. Unlike the LSH band keys —
    // whose collisions a downstream Jaccard verify discards — winnow
    // output has NO verify stage: a posting-key collision would
    // directly inflate n_shared and could merge df counts across the
    // WinnowDfCap, so the key keeps the md5's effective width (joint
    // 64+64-bit collision, birthday bound ~2⁻⁶⁴·n² — negligible at any
    // target scale, where a single-long key's ~2⁻⁶⁴ pairwise rate
    // starts to bite at 10⁹⁺ postings). Measured: the string form's
    // postings crossed five exchange/sort stages at 56 B/row and
    // filled >73 GB of scratch at 10⁷ docs (the run died); the 32-byte
    // two-long posting fits the same pipeline in memory.
    val f = Scope.hold(winnowFingerprints(
      Tables.documents(s, d).select($"doc_id", $"text"))
      .select($"doc_id", $"n_fps", xxhash64($"fp").as("fp"),
        xxhash64(lit(0x5851F42D4C957F2DL), $"fp").as("fp2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // df cap as a broadcast ANTI-join on the HOT set: hot fingerprints
    // (boilerplate head) are few by construction, so the cached
    // postings never re-sort against a corpus-sized keep-list — same
    // capped-broadcast discipline as [[candidateBounded]], with the
    // sort-merge fallback above the cap.
    val hot = f.groupBy($"fp", $"fp2").agg(count(lit(1)).as("df"))
      .where($"df" > WinnowDfCap)
      .select($"fp", $"fp2")
    val ff =
      f.join(cappedHint(hot.count())(hot), Seq("fp", "fp2"), "left_anti")
    ff.select($"fp", $"fp2", $"doc_id".as("id_a"), $"n_fps".as("nf_a"))
      .join(ff.select($"fp", $"fp2", $"doc_id".as("id_b"),
        $"n_fps".as("nf_b")),
        Seq("fp", "fp2"))
      .where($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("n_shared"),
        min($"nf_a").as("nf_a"), min($"nf_b").as("nf_b"))
      .where($"n_shared" >= WinnowMinShared)
      .select($"id_a", $"id_b", $"n_shared",
        expr("n_shared * 1000000 div least(nf_a, nf_b)").as("overlap_ppm"))
      .orderBy($"id_a", $"id_b")
  }

  /** The winnowing fingerprint CTEs, shared semantics with
    * [[winnowNearDup]] (K=4-token grams, W=4 window, md5 order). */
  private val oracleWinnowFps = s"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id,
        CASE WHEN len(tk) >= $WinnowK THEN
          list_transform(generate_series(0, len(tk) - $WinnowK),
            i -> md5(array_to_string(
                   list_slice(tk, i + 1, i + $WinnowK), ' ')))
        ELSE [md5(text)] END AS gr
      FROM t),
    w AS (
      SELECT doc_id,
        CASE WHEN len(gr) >= $WinnowW THEN
          list_distinct(list_transform(
            generate_series(0, len(gr) - $WinnowW),
            j -> list_min(list_slice(gr, j + 1, j + $WinnowW))))
        ELSE [list_min(gr)] END AS fps
      FROM g),
    f AS (
      SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps, unnest(fps) AS fp
      FROM w),
    k AS (SELECT fp FROM f GROUP BY fp
          HAVING count(*) <= $WinnowDfCap),
    ff AS (SELECT f.* FROM f JOIN k USING (fp))"""

  /** Unrolled peel rounds for the k-core oracle — a1/e2/a2/…, matching
    * [[kcoreOnPairs]] round for round — over the edges `e`, then each
    * core member's degree inside the core. */
  private def kcoreOracle(rounds: Int, k: Int): String = {
    val steps = (2 to rounds).map { r => s"""
        e$r AS (SELECT e.src, e.dst FROM e
                JOIN a${r - 1} x ON e.src = x.node
                JOIN a${r - 1} y ON e.dst = y.node),
        a$r AS (SELECT src AS node FROM e$r GROUP BY src
                HAVING count(*) >= $k)""" }.mkString(",")
    s"""
        a1 AS (SELECT src AS node FROM e GROUP BY src
               HAVING count(*) >= $k),$steps,
        ef AS (SELECT e.src, e.dst FROM e
               JOIN a$rounds x ON e.src = x.node
               JOIN a$rounds y ON e.dst = y.node)
        SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
        FROM ef GROUP BY src ORDER BY doc_id"""
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_kcore", kcore, Some(s"""
        $oracleShingles,
        $oracleEdges,
        ${kcoreOracle(4, 2)}""")),
    QueryDef(
      "q_winnow_neardup", winnowNearDup, Some(s"""
        $oracleWinnowFps
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared,
               count(*) * 1000000 // least(min(a.n_fps), min(b.n_fps))
                 AS overlap_ppm
        FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= $WinnowMinShared
        ORDER BY id_a, id_b""")),
    QueryDef(
      "q_pagerank", pageRank, Some(s"""
        $oracleShingles,
        $oracleEdges,
        ${pageRankOracle(5)}""")),
    QueryDef(
      "q_edit_distance", editDistance, Some(s"""
        $oracleShingles,
        $oraclePairs,
        j AS (
          SELECT p.id_a, p.id_b,
                 CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
                 CAST(length(da.text) AS BIGINT) AS len_a,
                 CAST(length(db.text) AS BIGINT) AS len_b
          FROM p
          JOIN documents da ON p.id_a = da.doc_id
          JOIN documents db ON p.id_b = db.doc_id)
        SELECT id_a, id_b, edit_dist, len_a, len_b,
               (greatest(len_a, len_b) - edit_dist) * 1000000 //
                 greatest(len_a, len_b) AS sim_ppm
        FROM j ORDER BY id_a, id_b""")),
    QueryDef(
      "q_graph_stats", graphStats, Some(s"""
        $oracleShingles,
        $oraclePairs,
        ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM p),
        nw AS (
          SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
            AS n_wedges
          FROM (SELECT v, count(*) AS deg FROM (
                  SELECT id_a AS v FROM p
                  UNION ALL SELECT id_b FROM p) u GROUP BY v)),
        nt AS (
          SELECT CAST(count(*) AS BIGINT) AS n_triangles
          FROM p e1
          JOIN p e2 ON e2.id_a = e1.id_b
          JOIN p e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
        SELECT n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges > 0
                 THEN n_triangles * 3000000 // n_wedges
                 ELSE 0 END AS global_cc_ppm
        FROM ne, nw, nt""")),
    QueryDef(
      "q_minhash_neardup", minhashNearDup, Some(s"""
        $oracleShingles,
        p AS MATERIALIZED (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
                 ${oracleJaccard("a", "b")}
                   AS jaccard
          FROM s a JOIN s b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b, n_common, jaccard
        FROM p WHERE jaccard >= 0.8 ORDER BY id_a, id_b""")),
    QueryDef(
      "q_dedup_tau_sweep", thresholdSweep, Some(s"""
        $oracleShingles,
        p AS MATERIALIZED (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 ${oracleJaccard("a", "b")}
                   AS jaccard
          FROM s a JOIN s b ON a.doc_id < b.doc_id),
        sw AS (
          SELECT t.tau_pct, p.id_a, p.id_b
          FROM p, (SELECT unnest([80, 85, 90, 95]) AS tau_pct) t
          WHERE p.jaccard >= CAST(t.tau_pct AS DOUBLE) / 100.0),
        np AS (
          SELECT tau_pct, CAST(count(*) AS BIGINT) AS n_pairs
          FROM sw GROUP BY tau_pct),
        nd AS (
          SELECT tau_pct, CAST(count(*) AS BIGINT) AS n_docs FROM (
            SELECT DISTINCT tau_pct, doc FROM (
              SELECT tau_pct, id_a AS doc FROM sw
              UNION ALL
              SELECT tau_pct, id_b AS doc FROM sw))
          GROUP BY tau_pct)
        SELECT np.tau_pct, np.n_pairs, nd.n_docs
        FROM np JOIN nd USING (tau_pct)
        ORDER BY np.tau_pct""")),
    QueryDef(
      "q_ngram_jaccard", ngramJaccardTopK, Some(s"""
        $oracleShingles,
        p AS (
          SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
                 ${oracleJaccard("a", "b")}
                   AS jaccard
          FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE len(list_intersect(a.sh, b.sh)) >= 1),
        r AS (
          SELECT source, id_a, id_b, jaccard,
                 row_number() OVER (PARTITION BY source
                   ORDER BY jaccard DESC, id_a, id_b) AS rank
          FROM p)
        SELECT source, rank, id_a, id_b, jaccard
        FROM r WHERE rank <= 3 ORDER BY source, rank""")),
    QueryDef(
      "q_dedup_clusters", dedupClusters, Some(s"""
        $oracleClusters
        SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""")),
    QueryDef(
      "q_cross_source_dup", crossSourceDup, Some(s"""
        $oracleShingles,
        $oraclePairs,
        lab AS (
          SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b
          FROM p
          JOIN documents da ON da.doc_id = p.id_a
          JOIN documents db ON db.doc_id = p.id_b)
        SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
               source_a <> source_b AS cross_source
        FROM lab GROUP BY source_a, source_b
        ORDER BY source_a, source_b""")),
    QueryDef(
      "q_leakage_split", leakageSafeSplit, Some(s"""
        $oracleClusters,
        bk AS (
          SELECT doc_id, cluster_id,
                 CAST(${graft.ops.HashOracleSql.md5Byte("CAST(cluster_id AS VARCHAR)")}
                   AS BIGINT) AS bucket
          FROM cl)
        SELECT doc_id, cluster_id,
               CASE WHEN bucket < 204 THEN 'train'
                    WHEN bucket < 230 THEN 'val'
                    ELSE 'test' END AS split
        FROM bk ORDER BY doc_id""")),
    QueryDef(
      "q_effective_tokens", effectiveTokens, Some(s"""
        $oracleClusters,
        dt AS (
          SELECT d.source, d.doc_id, cl.cluster_id,
                 CAST(${TextOps.oracleTokenCount("d.text")}
                   AS BIGINT) AS t
          FROM documents d JOIN cl USING (doc_id)),
        agg AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(t) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_dup_docs,
                 CAST(sum(CASE WHEN doc_id <> cluster_id THEN t ELSE 0 END)
                   AS BIGINT) AS dup_tokens
          FROM dt GROUP BY source)
        SELECT source, n_docs, n_tokens, n_dup_docs, dup_tokens,
               n_tokens - dup_tokens AS effective_tokens,
               CAST(CAST(dup_tokens AS HUGEINT) * 1000000
                 // greatest(n_tokens, 1) AS BIGINT) AS dup_ppm
        FROM agg ORDER BY source""")),
    QueryDef(
      "q_cluster_sizes", clusterSizes, Some(s"""
        $oracleClusters,
        sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
               FROM cl GROUP BY cluster_id),
        cs AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
               FROM sz GROUP BY cluster_size)
        SELECT cluster_size, n_clusters,
               cluster_size * n_clusters AS n_docs,
               (cluster_size - 1) * n_clusters AS removable
        FROM cs ORDER BY cluster_size""")),
    QueryDef(
      // Spark runs the INCREMENTAL takedown (blast-radius-bounded);
      // the oracle recomputes the survivor table FROM SCRATCH on the
      // filtered corpus — the hash compare is the parity proof.
      "q_takedown_survivor", takedownSurvivor, Some(s"""
        WITH RECURSIVE $oracleTakedownShingles,
        $oracleEdges,
        ${oracleComponents(s"documents WHERE NOT $TakedownSqlPred")},
        $oracleSurvivors""")),
    QueryDef(
      // both engines derive old and new artifacts (DuckDB: two
      // from-scratch closures) and aggregate the same comparison
      "q_takedown_census", takedownCensus, Some(s"""
        $oracleClusters,
        $oracleSurvivorRanks,
        olds AS (SELECT j.doc_id, j.cluster_id, surv.survivor_id
                 FROM j JOIN surv ON j.cluster_id = surv.cluster_id),
        rem AS (SELECT doc_id FROM documents WHERE $TakedownSqlPred),
        e2 AS MATERIALIZED (
          SELECT src, dst FROM e
          WHERE src NOT IN (SELECT doc_id FROM rem)
            AND dst NOT IN (SELECT doc_id FROM rem)),
        reach2(a, b) AS (
          SELECT doc_id, doc_id FROM documents WHERE NOT $TakedownSqlPred
          UNION
          SELECT r.a, e2.dst FROM reach2 r JOIN e2 ON r.b = e2.src),
        cl2 AS (SELECT a AS doc_id, min(b) AS cluster_id
                FROM reach2 GROUP BY a),
        jj2 AS (SELECT cl2.doc_id, cl2.cluster_id, q.quality_score
                FROM cl2 JOIN q ON cl2.doc_id = q.doc_id),
        rk2 AS (SELECT doc_id, cluster_id,
                  row_number() OVER (PARTITION BY cluster_id
                    ORDER BY quality_score DESC, doc_id) AS rn
                FROM jj2),
        surv2 AS (SELECT cluster_id, doc_id AS survivor_id
                  FROM rk2 WHERE rn = 1),
        news AS (SELECT jj2.doc_id, jj2.cluster_id, surv2.survivor_id
                 FROM jj2 JOIN surv2 ON jj2.cluster_id = surv2.cluster_id),
        cmp AS (SELECT o.doc_id, o.cluster_id AS old_cluster,
                       o.survivor_id AS old_surv,
                       n2.cluster_id AS new_cluster,
                       n2.survivor_id AS new_surv
                FROM olds o JOIN news n2 ON o.doc_id = n2.doc_id),
        touched AS (SELECT DISTINCT cluster_id FROM olds
                    WHERE doc_id IN (SELECT doc_id FROM rem))
        SELECT 'clusters_affected' AS metric, count(*) AS n FROM touched
        UNION ALL
        SELECT 'clusters_split', count(*) FROM (
          SELECT old_cluster FROM cmp
          WHERE old_cluster IN (SELECT cluster_id FROM touched)
          GROUP BY old_cluster HAVING count(DISTINCT new_cluster) > 1)
        UNION ALL
        SELECT 'relabeled_docs', count(*) FROM cmp
        WHERE old_cluster <> new_cluster
        UNION ALL
        SELECT 'removed_docs', (SELECT count(*) FROM rem)
        UNION ALL
        SELECT 'survivor_reassigned', count(*) FROM cmp
        WHERE old_surv <> new_surv
        ORDER BY metric""")),
    QueryDef(
      // Spark: standing core + component map, untouched components
      // pass through, affected re-peel. Oracle: full re-peel on the
      // filtered corpus — hash parity proves component-local peeling
      // commutes with blast-radius-bounded maintenance.
      "q_takedown_kcore", takedownKcore, Some(s"""
        WITH $oracleTakedownShingles,
        $oracleEdges,
        ${kcoreOracle(4, 2)}""")),
    QueryDef(
      // Spark: standing pairs reused, 5 fixed-point rounds re-run on
      // surviving edges (teleport's global n makes passthrough
      // impossible — see takedownPagerankOn). Oracle: pairs AND rounds
      // from scratch on the filtered corpus.
      "q_takedown_pagerank", takedownPagerank, Some(s"""
        WITH $oracleTakedownShingles,
        $oracleEdges,
        ${pageRankOracle(5)}""")),
    QueryDef(
      "q_dedup_survivor", dedupSurvivor, Some(s"""
        $oracleClusters,
        $oracleSurvivors""")),
    QueryDef(
      "q_incremental_neardup", incrementalNearDup, Some(s"""
        $oracleShingles,
        p AS MATERIALIZED (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
                 ${oracleJaccard("a", "b")}
                   AS jaccard
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE a.doc_id % 10 >= 8 OR b.doc_id % 10 >= 8)
        SELECT id_a, id_b, n_common, jaccard
        FROM p WHERE jaccard >= 0.8 ORDER BY id_a, id_b""")),
    QueryDef(
      "q_simjoin_prefix", prefixSimJoin, Some(s"""
        $oracleShingles,
        p AS MATERIALIZED (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 ${oracleJaccard("a", "b")}
                   AS jaccard
          FROM s a JOIN s b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b, jaccard
        FROM p WHERE jaccard >= 0.5 ORDER BY id_a, id_b""")),
    QueryDef(
      "q_containment", containmentJoin, Some(s"""
        $oracleShingles,
        p AS (
          SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
                   AS containment
          FROM s a JOIN s b ON a.doc_id <> b.doc_id)
        SELECT contained_id, container_id, containment
        FROM p WHERE containment >= 0.9
        ORDER BY contained_id, container_id""")),
    QueryDef(
      "q_simhash", simhashClusters, Some(s"""
        ${graft.ops.HashOracleSql.simhashCte}
        SELECT min(doc_id) AS keep_id, simhash,
               count(*) AS n_docs
        FROM sh GROUP BY simhash ORDER BY keep_id""")),
    QueryDef(
      "q_simhash_neardup", simhashNearDup, Some(s"""
        ${graft.ops.HashOracleSql.simhashCte}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
        ORDER BY id_a, id_b"""))
  )
}
