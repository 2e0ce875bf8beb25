package graft

import graft.functions.SimHash
import graft.operators.NearDup

class NearDupSpec extends SparkSpecBase {

  test("simhash64 is deterministic and tokenization-sensitive") {
    val a = SimHash.simhash64("the quick brown fox")
    assert(a === SimHash.simhash64("the quick brown fox"))
    assert(a !== SimHash.simhash64("the quick brown cat"))
    // near-identical docs land within small Hamming distance
    val b = SimHash.simhash64("the quick brown fox jumps")
    val dist = java.lang.Long.bitCount(a ^ b)
    assert(dist < 24, s"hamming=$dist")
    // far documents differ a lot
    val c = SimHash.simhash64("completely unrelated words entirely different")
    assert(java.lang.Long.bitCount(a ^ c) > dist)
  }

  test("simhash native expression matches the Scala implementation") {
    import spark.implicits._
    import graft.functions.SimHash64.simhash64
    val df = Seq("alpha beta gamma", "one two three four").toDF("text")
    val got = df.select(simhash64($"text")).as[Long].collect().toSeq
    assert(got === Seq(SimHash.simhash64("alpha beta gamma"),
      SimHash.simhash64("one two three four")))
  }

  test("minhash near-dup finds only genuinely similar pairs") {
    import spark.implicits._
    val df = NearDup.minhashNearDup(spark, sfDir)
    assert(df.where($"jaccard" < 0.8).count() === 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ngram jaccard top-k is bucketed by source") {
    import spark.implicits._
    val df = NearDup.ngramJaccardTopK(spark, sfDir)
    val perSource = df.groupBy($"source").count()
    assert(perSource.where($"count" > 3).count() === 0)
  }

  test("simhash hamming near-dup finds the known near-duplicate pairs at sf0.01") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.01"
    val got = NearDup.simhashNearDup(spark, sf01)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // the corpus' strongest shingle-Jaccard near-dups (J >= 0.97) must
    // land within the hamming ball
    assert(got.contains((285L, 301L)), got.take(10))
    assert(got.contains((98L, 290L)))
    assert(got.contains((70L, 447L)))
    // and every reported pair is within the advertised distance
    val over = NearDup.simhashNearDup(spark, sf01)
      .where($"hamming" > 6).count()
    assert(over === 0)
  }

  test("simhash clusters cover every document exactly once") {
    import spark.implicits._
    val df = NearDup.simhashClusters(spark, sfDir)
    val total = df.agg(org.apache.spark.sql.functions.sum($"n_docs"))
      .as[Long].head()
    val docs = graft.ops.Tables.documents(spark, sfDir).count()
    assert(total === docs)
  }

  test("containment join: directional, threshold-respecting, sees near-dups both ways") {
    import spark.implicits._
    val rows = NearDup.containmentJoin(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 >= 0.9))
    val dirs = rows.map(r => (r._1, r._2)).toSet
    // a symmetric near-dup pair (J >= 0.8 at near-equal sizes) is
    // contained in BOTH directions
    val nd = NearDup.minhashNearDup(spark, sfDir)
      .where($"jaccard" >= 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    nd.foreach { case (a, b) =>
      assert(dirs.contains((a, b)) && dirs.contains((b, a)), s"($a,$b)")
    }
  }

  test("connected components: chains collapse transitively, forests stay apart") {
    import spark.implicits._
    // two chains (1-2-3-4, 10-11) and singletons 20, 21: near-dup is not
    // transitive but dedup clustering must be — the chain's far ends
    // share a canonical id even though no edge joins them directly
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = NearDup.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L))
  }

  test("star contraction: identical labels to propagation on chains, forests, singletons") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val prop = NearDup.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    val star = NearDup.connectedComponents(nodes, pairs, starContraction = true)
      .as[(Long, Long)].collect().toMap
    assert(star === prop)
    assert(star === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L))
  }

  test("star contraction: a 200-node chain converges in O(log n) rounds to one component") {
    import spark.implicits._
    // ids deliberately NOT in chain order: the min id sits mid-chain, so
    // a correct result requires labels to cross the whole diameter
    val n = 200
    val ids = (0 until n).map(i => ((i * 73) % n).toLong + 1000L)
    val nodes = ids.toDF("doc_id")
    val pairs = ids.sliding(2).map(w => (w(0), w(1))).toSeq.toDF("id_a", "id_b")
    val got = NearDup.connectedComponents(nodes, pairs, starContraction = true)
      .as[(Long, Long)].collect().toMap
    assert(got.size === n)
    assert(got.values.toSet === Set(1000L))
  }

  test("connected components match a union-find reference on random graphs, both strategies") {
    import spark.implicits._
    // deterministic xorshift stream — reproducible failures
    var seed = 0x9e3779b97f4a7c15L
    def next(): Long = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17; seed
    }
    for (trial <- 0 until 5) {
      val n = 30 + trial * 25
      val nEdges = n / 2 + trial * 20 // spans sparse forests to cyclic blobs
      val ids = (0 until n).map(i => i.toLong * 7 + 3)
      val pairs = (0 until nEdges).map { _ =>
        val a = ids(java.lang.Math.floorMod(next(), n).toInt)
        val b = ids(java.lang.Math.floorMod(next(), n).toInt)
        if (a < b) (a, b) else (b, a)
      }.filter(p => p._1 != p._2).distinct
      // union-find reference with path compression
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical label = min id of the component, matching the operator
      val byRoot = ids.groupBy(find)
      val want = byRoot.flatMap { case (_, members) =>
        val m = members.min; members.map(_ -> m)
      }
      val nodes = ids.toDF("doc_id")
      val pairsDf = pairs.toDF("id_a", "id_b")
      val prop = NearDup.connectedComponents(nodes, pairsDf)
        .as[(Long, Long)].collect().toMap
      val star = NearDup.connectedComponents(nodes, pairsDf,
        starContraction = true).as[(Long, Long)].collect().toMap
      assert(prop === want, s"propagation, trial $trial")
      assert(star === want, s"star contraction, trial $trial")
    }
  }

  test("propagation auto-falls-back to star contraction past its round cap") {
    import spark.implicits._
    // diameter 199 >> cap 6: the default strategy cannot converge and
    // must hand the graph to star contraction instead of failing — the
    // exact long-chain shape the fallback exists for
    val n = 200
    val ids = (0 until n).map(_.toLong)
    val nodes = ids.toDF("doc_id")
    val pairs = ids.sliding(2).map(w => (w(0), w(1))).toSeq.toDF("id_a", "id_b")
    val got = NearDup.connectedComponents(nodes, pairs,
      propagationRoundCap = 6).as[(Long, Long)].collect().toMap
    assert(got.size === n)
    assert(got.values.toSet === Set(0L))
    // and a shallow-enough graph still converges WITHIN the cap (pure
    // propagation): diameter 4 < cap 6, same answer either way
    val shallow = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    val sNodes = (0L to 4L).toDF("doc_id")
    val viaProp = NearDup.connectedComponents(sNodes, shallow,
      propagationRoundCap = 6).as[(Long, Long)].collect().toMap
    assert(viaProp.values.toSet === Set(0L))
  }

  test("star contraction: two cliques bridged by one edge collapse to one component") {
    import spark.implicits._
    val c1 = (0L until 6L)
    val c2 = (100L until 106L)
    val cliquePairs = (for {
      g <- Seq(c1, c2); a <- g; b <- g if a < b
    } yield (a, b)) :+ ((5L, 100L)) // the bridge
    val nodes = (c1 ++ c2).toDF("doc_id")
    val pairs = cliquePairs.toDF("id_a", "id_b")
    val star = NearDup.connectedComponents(nodes, pairs, starContraction = true)
      .as[(Long, Long)].collect().toMap
    val prop = NearDup.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert(star === prop)
    assert(star.values.toSet === Set(0L))
  }

  test("incremental near-dup: probes one-sided — batch pairs found, corpus-only pairs never") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorExpressions.text_shingles
    // corpus holds an internal dup pair (1,2) that an incremental pass
    // must NOT re-report; doc 3 is the corpus twin of fresh doc 10;
    // fresh docs 10/11 are twins of each other; 12 matches nothing
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
      .select(col("doc_id"), text_shingles(col("text"), 3).as("sh"))
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = mk(Seq(
      1L -> base, 2L -> base, 3L -> (base + " lambda"),
      4L -> "one two three four five six seven eight nine ten"))
    val fresh = mk(Seq(
      10L -> (base + " lambda"), 11L -> (base + " lambda"),
      12L -> "red orange yellow green blue indigo violet colors here now"))
    val got = NearDup.incrementalPairs(corpus, fresh)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((3L, 10L)), got)   // corpus × fresh
    assert(got.contains((10L, 11L)), got)  // fresh × fresh
    assert(got.contains((3L, 11L)), got)
    assert(!got.contains((1L, 2L)), "corpus-internal pair re-reported")
    assert(got.forall { case (a, b) => b >= 10L }, s"non-fresh pair in $got")
    // the gate query agrees with the full pass restricted to fresh docs
    val full = NearDup.minhashNearDup(spark, sfDir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => a % 10 >= 8 || b % 10 >= 8 }.toSet
    val inc = NearDup.incrementalNearDup(spark, sfDir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(inc === full)
  }

  test("persisted band index: batch probe joins the stored index with no index-side exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorExpressions.text_shingles
    val sh = graft.ops.Tables.documents(spark, sfDir)
      .select(col("doc_id"), text_shingles(col("text"), 3).as("sh"))
    // persist the corpus index ONCE, bucketed on the band key — the
    // write-time distribution every later ingest batch reuses
    graft.sources.Ddl.createBucketedTable(
      NearDup.bandIndex(sh.where($"doc_id" % 10 < 8)), "lsh_index_b", "bkey")
    val probe = NearDup.bandIndex(sh.where($"doc_id" % 10 >= 8))
      .withColumnRenamed("doc_id", "probe_id")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lsh_index_b").join(probe, "bkey")
        .where($"doc_id" =!= $"probe_id")
      val plan = joined.queryExecution.executedPlan.toString
      // only the (small) probe side shuffles; the stored index is read
      // in its bucket layout — the 100 TB half of the join never moves
      assert(plan.sliding("Exchange".length).count(_ == "Exchange") === 1,
        plan)
      assert(plan.indexOf("Exchange") > plan.indexOf("probe_id") ||
        !plan.substring(0, plan.indexOf("Exchange")).contains("lsh_index_b"),
        plan)
      // and the probe finds exactly the corpus×fresh band collisions the
      // inline two-sided computation finds
      val inline = NearDup.bandIndex(sh.where($"doc_id" % 10 < 8))
        .join(NearDup.bandIndex(sh.where($"doc_id" % 10 >= 8))
          .withColumnRenamed("doc_id", "probe_id"), "bkey")
        .where($"doc_id" =!= $"probe_id")
      assert(joined.count() === inline.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS lsh_index_b")
    }
  }

  test("band-key scheme stamp: current-version index passes, a foreign " +
    "version fails loud, unstamped tables pass") {
    import spark.implicits._
    import graft.functions.VectorExpressions.text_shingles
    val sh = graft.ops.Tables.documents(spark, sfDir)
      .limit(50)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        text_shingles(org.apache.spark.sql.functions.col("text"), 3)
          .as("sh"))
    try {
      graft.sources.Ddl.createBucketedTable(
        NearDup.bandIndex(sh), "lsh_index_ver", "bkey")
      // unstamped (foreign / pre-versioning): assert must pass
      graft.sources.Ddl.assertBandScheme(spark, "lsh_index_ver")
      // stamped under the CURRENT scheme: passes
      graft.sources.Ddl.stampBandScheme(spark, "lsh_index_ver")
      graft.sources.Ddl.assertBandScheme(spark, "lsh_index_ver")
      // stamped under a DIFFERENT scheme: a probe would silently match
      // zero rows — the assert must turn that into a loud failure
      spark.sql("ALTER TABLE lsh_index_ver SET TBLPROPERTIES " +
        "('graft.band_key_scheme' = '1')")
      val e = intercept[IllegalStateException] {
        graft.sources.Ddl.assertBandScheme(spark, "lsh_index_ver")
      }
      assert(e.getMessage.contains("scheme 1"))
      assert(e.getMessage.contains("Rebuild"))
    } finally spark.sql("DROP TABLE IF EXISTS lsh_index_ver")
  }

  test("dedup clusters: every near-dup pair shares a label, labels are minima") {
    import spark.implicits._
    val labels = NearDup.dedupClusters(spark, sfDir)
    val byDoc = labels.as[(Long, Long)].collect().toMap
    // canonical id never exceeds the member id (min-label fixpoint)
    assert(byDoc.forall { case (id, c) => c <= id })
    // endpoints of every verified near-dup pair collapse to one cluster
    val pairs = NearDup.minhashNearDup(spark, sfDir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      assert(byDoc(a) === byDoc(b), s"pair ($a,$b) split across clusters")
    }
    // coverage: one label per document
    assert(byDoc.size === graft.ops.Tables.documents(spark, sfDir).count())
  }

  test("dedup survivor: one keeper per cluster, and it is the best-quality member") {
    import spark.implicits._
    val rows = NearDup.dedupSurvivor(spark, sfDir)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(rows.length ===
      graft.ops.Tables.documents(spark, sfDir).count())
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      // exactly one keep per cluster, and it is the named survivor
      val keeps = members.filter(_._4)
      assert(keeps.length === 1, s"cluster $c keeps ${keeps.length}")
      assert(keeps.head._1 === keeps.head._3)
      // all members agree on who survives, and the survivor is a member
      assert(members.map(_._3).distinct.length === 1)
      assert(members.exists(_._1 === members.head._3))
    }
    // the survivor maximizes quality_score (ties to the smallest doc_id)
    val quality = graft.operators.TextOps.textStats(spark, sfDir)
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect().toMap
    byCluster.foreach { case (c, members) =>
      val want = members.map(_._1).minBy(id => (-quality(id), id))
      assert(members.head._3 === want,
        s"cluster $c survivor ${members.head._3} != best-quality $want")
    }
    // clusters must agree with dedupClusters' labels
    val labels = NearDup.dedupClusters(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (id, c, _, _) => assert(labels(id) === c) }
  }

  test("takedown: incremental relabel equals full recompute — bridge " +
    "split, survivor reassignment, untouched clusters pass through") {
    import spark.implicits._
    val hiQ = "the cat and the dog of the house and the bird of " +
      "the tree and the fish of the pond sat here" // >=20 tokens, stopwords
    val loQ = "plain words without common glue here today"
    val docs = Seq(
      (1L, loQ + " one"), (2L, loQ + " two"), (3L, loQ + " three"),
      (10L, loQ + " ten"), (11L, hiQ),
      (20L, loQ + " twenty"), (21L, hiQ + " again"), (22L, loQ + " x"),
      (30L, loQ + " thirty"), (31L, loQ + " thirtyone")
    ).toDF("doc_id", "text")
    // planted verified edges: chain 1-2-3 (2 is a BRIDGE), pair 10-11
    // (11 is the high-quality survivor), triangle-less pair 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val standing = NearDup.survivorsFrom(docs, pairs).localCheckpoint(true)
    // remove the bridge (2), the quality survivor (11), a singleton (30)
    val removed = Seq(2L, 11L, 30L).toDF("doc_id")
    val got = NearDup
      .takedownSurvivors(docs, standing, pairs, removed)
      .as[(Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // PARITY: full recompute on the filtered corpus
    val remSet = Set(2L, 11L, 30L)
    val fDocs = docs.where(!$"doc_id".isin(remSet.toSeq: _*))
    val fPairs = pairs.where(!$"id_a".isin(remSet.toSeq: _*) &&
      !$"id_b".isin(remSet.toSeq: _*))
    val want = NearDup.survivorsFrom(fDocs, fPairs)
      .as[(Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(got === want)
    val byId = got.map(r => r._1 -> r).toMap
    // the bridge removal SPLIT the chain: 1 and 3 now label apart
    assert(byId(1L)._2 !== byId(3L)._2)
    assert(byId(1L)._4 && byId(3L)._4) // each its own survivor
    // survivor reassigned after the quality keeper's takedown
    assert(byId(10L)._3 === 10L && byId(10L)._4)
    // untouched cluster rows pass through IDENTICALLY (same labels,
    // same quality survivor 21)
    Seq(20L, 21L, 22L).foreach { id =>
      assert(byId(id)._2 === 20L && byId(id)._3 === 21L)
    }
    // removed docs are gone; untouched singleton remains
    assert(!byId.contains(2L) && !byId.contains(11L) &&
      !byId.contains(30L))
    assert(byId(31L) === ((31L, 31L, 31L, true)))
  }

  test("takedown k-core: untouched components pass through, affected " +
    "re-peel with cascade — equals full re-peel on the filtered graph") {
    import spark.implicits._
    // component A: 4-cycle 1-2-3-4 (all deg 2 -> in the 2-core; losing
    // ONE member leaves a path whose peel CASCADES to nothing);
    // component B: triangle 20-21-22 (untouched, stays core);
    // component C: pair 30-31 (deg 1 -> never in the 2-core)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))
      .toDF("id_a", "id_b")
    val standing = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L)
      .toDF("doc_id", "cluster_id")
    val core = NearDup.kcoreOnPairs(pairs).localCheckpoint(true)
    assert(core.as[(Long, Long)].collect().toMap.keySet ===
      Set(1L, 2L, 3L, 4L, 20L, 21L, 22L))
    val removed = Seq(1L, 30L).toDF("doc_id")
    val got = NearDup.takedownKcoreOn(core, standing, pairs, removed)
      .as[(Long, Long)].collect().toSeq.sorted
    // full re-peel on the filtered graph
    val fPairs = pairs.where(!$"id_a".isin(1L, 30L) &&
      !$"id_b".isin(1L, 30L))
    val want = NearDup.kcoreOnPairs(fPairs)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got === want)
    // the cascade emptied component A; B passed through identically
    assert(got === Seq((20L, 2L), (21L, 2L), (22L, 2L)))
  }

  test("takedown pagerank: surviving-edge recompute equals full " +
    "recompute — global teleport re-scales, edge-orphaned nodes drop") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))
      .toDF("id_a", "id_b")
    val before = NearDup.pageRankOnPairs(pairs)
      .as[(Long, Long, Long)].collect()
      .map { case (id, pr, dg) => id -> ((pr, dg)) }.toMap
    val removed = Seq(1L, 30L).toDF("doc_id")
    val got = NearDup.takedownPagerankOn(pairs, removed)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val fPairs = pairs.where(!$"id_a".isin(1L, 30L) &&
      !$"id_b".isin(1L, 30L))
    val want = NearDup.pageRankOnPairs(fPairs)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got === want)
    val ids = got.map(_._1).toSet
    // 31 lost its only neighbor -> no surviving edge -> out of the
    // node set entirely (nodes = docs with >=1 edge)
    assert(!ids.contains(31L) && !ids.contains(1L) && !ids.contains(30L))
    // the UNTOUCHED triangle's scores still moved: teleport is
    // Scale div n and n shrank — the documented reason pagerank
    // takedown cannot pass components through
    val gotMap = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(gotMap(20L) !== before(20L))
  }

  /** In-spec reference PageRank: the same scaled-integer recurrence as
    * [[NearDup.pageRankOnPairs]], computed single-threaded over plain
    * Scala maps — an independent second implementation, not a replay of
    * the Spark plan. */
  private def refPageRank(
      pairs: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val Scale = 1000000000000L
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size.toLong
    val init = Scale / n
    val base = 15L * init / 100L
    var pr: Map[Long, Long] = deg.map { case (k, _) => k -> init }
    for (_ <- 1 to iters) {
      val inflow = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      pr = deg.map { case (k, _) =>
        k -> (base + 85L * inflow.getOrElse(k, 0L) / 100L)
      }
    }
    pr.map { case (k, v) => k -> (v, deg(k)) }
  }

  test("pagerank: matches the scaled-integer reference on a mixed graph") {
    import spark.implicits._
    // triangle, a 2-clique, a 3-path, and a star — mixed degrees so
    // rank actually differentiates
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L),
      (30L, 31L), (30L, 32L), (30L, 33L), (30L, 34L))
    val got = NearDup.pageRankOnPairs(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === refPageRank(pairs, 5))
    // structure: the star center out-ranks its leaves; the path middle
    // out-ranks its endpoints; triangle members tie exactly
    assert(got(30L)._1 > got(31L)._1)
    assert(got(21L)._1 > got(20L)._1)
    assert(got(1L)._1 === got(2L)._1 && got(2L)._1 === got(3L)._1)
    // mass conservation up to integral-division shortfall: total rank
    // never exceeds SCALE, never loses more than (15+85) units per
    // node per round
    val total = got.values.map(_._1).sum
    assert(total <= 1000000000000L)
    assert(total >= 1000000000000L - 100L * got.size * 5 - got.size)
  }

  test("pagerank: iters = 0 is rejected up front, not a division by zero") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      NearDup.pageRankOnPairs(pairs, iters = 0)
    }
    assert(e.getMessage.contains("iters"), e.getMessage)
  }

  test("cluster sizes: census reconciles with the labels") {
    import spark.implicits._
    // collect labels FIRST: clusterSizes re-runs dedupClusters, whose
    // one-slot checkpoint free-list invalidates the earlier lazy plan
    val labels = NearDup.dedupClusters(spark, sfDir)
      .as[(Long, Long)].collect()
    val bySize = labels.groupBy(_._2).values.map(_.size.toLong)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = NearDup.clusterSizes(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.map(r => r._1 -> r._2).toMap === bySize)
    rows.foreach { case (sz, nc, nd, rm) =>
      assert(nd === sz * nc, s"size $sz n_docs")
      assert(rm === (sz - 1L) * nc, s"size $sz removable")
    }
    // every document lands in exactly one cluster: census closes
    assert(rows.map(_._3).sum === labels.length.toLong)
    // fixture has planted near-dup families: a size > 1 row must exist
    assert(rows.exists(_._1 > 1L))
  }

  test("effective tokens: reconciles with cluster labels and corpus totals") {
    import spark.implicits._
    // collect the census FIRST, then the labels: each call re-runs
    // dedupClusters, whose one-slot checkpoint free-list invalidates
    // the earlier lazy plan (same discipline as the cluster-sizes test)
    val rows = NearDup.effectiveTokens(spark, sfDir).collect()
    val labels = NearDup.dedupClusters(spark, sfDir)
      .as[(Long, Long)].collect()
    def l(r: org.apache.spark.sql.Row, c: String) = r.getAs[Long](c)
    rows.foreach { r =>
      assert(l(r, "effective_tokens") === l(r, "n_tokens") - l(r, "dup_tokens"))
      assert(l(r, "dup_ppm") ===
        l(r, "dup_tokens") * 1000000L / math.max(l(r, "n_tokens"), 1L))
      assert(l(r, "n_dup_docs") <= l(r, "n_docs"))
    }
    assert(rows.map(l(_, "n_docs")).sum === labels.length.toLong)
    assert(rows.map(l(_, "n_dup_docs")).sum ===
      labels.count { case (d, c) => d != c }.toLong)
    // fixture has planted near-dup families: some source carries dups
    assert(rows.exists(l(_, "n_dup_docs") > 0L))
  }

  test("cross-source census reconciles with the verified pair list") {
    import spark.implicits._
    val rows = NearDup.crossSourceDup(spark, sfDir)
      .as[(String, String, Long, Boolean)].collect()
    val pairs = NearDup.minhashNearDup(spark, sfDir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    // total census mass = total verified pairs, nothing dropped
    assert(rows.map(_._3).sum === pairs.length.toLong)
    rows.foreach { case (a, b, n, cross) =>
      assert(a <= b) // canonical unordered pair
      assert(cross === (a != b))
      assert(n > 0L)
    }
  }

  test("leakage-safe split: clusters never straddle a split boundary") {
    import spark.implicits._
    val rows = NearDup.leakageSafeSplit(spark, sfDir)
      .as[(Long, Long, String)].collect()
    val docs = graft.ops.Tables.documents(spark, sfDir).count()
    assert(rows.length.toLong === docs) // total: every doc assigned
    // the invariant the operator exists for: one split per cluster
    rows.groupBy(_._2).foreach { case (cl, ms) =>
      assert(ms.map(_._3).distinct.length === 1, s"cluster $cl straddles")
    }
    // all three splits materialize and train dominates
    val byS = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byS.keySet === Set("train", "val", "test"), byS)
    assert(byS("train") > byS("val") && byS("train") > byS("test"), byS)
  }

  test("winnowing honors the SIGMOD'03 guarantee and density bound") {
    import spark.implicits._
    // tokens chosen disjoint across docs except the planted run
    val run = "r1 r2 r3 r4 r5 r6 r7" // exactly K+W-1 = 7 tokens
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 $run a6 a7 a8 a9"),
      (2L, s"b1 b2 b3 b4 $run b5 b6 b7 b8 b9 b10"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
      (4L, "d1 d2 d3") // shorter than one gram window
    ).toDF("doc_id", "text")
    val f = NearDup.winnowFingerprints(docs)
      .as[(Long, Long, String)].collect()
    val byDoc = f.groupBy(_._1).view
      .mapValues(_.map(_._3).toSet).toMap
    // guarantee: a shared K+W-1-token run yields >= 1 shared fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    // token-disjoint docs share nothing
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    assert((byDoc(2L) & byDoc(3L)).isEmpty)
    // short doc degrades to a single whole-text fingerprint
    assert(byDoc(4L).size === 1)
    // density: fingerprints <= windows = grams - W + 1, and n_fps is
    // carried consistently on every exploded row
    f.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.map(_._2).toSet.size === 1, s"doc $id n_fps varies")
      assert(rows.head._2 === byDoc(id).size.toLong)
    }
    val n1 = docs.where($"doc_id" === 1L)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")))
      .head.getInt(0)
    assert(byDoc(1L).size <= n1 - 4 + 1 - 4 + 1) // grams - W + 1
  }

  test("winnow near-dup gate: pairs meet the floor, no cartesian, symmetric overlap") {
    import spark.implicits._
    val df = NearDup.winnowNearDup(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    val rows = df.as[(Long, Long, Long, Long)].collect()
    rows.foreach { case (a, b, shared, ppm) =>
      assert(a < b)
      assert(shared >= 5L)
      assert(ppm > 0L && ppm <= 1000000L, s"($a,$b) ppm=$ppm")
    }
  }

  test("k-core peel: triangles survive, chains and pendants peel, bound converges") {
    import spark.implicits._
    // triangle (1,2,3) with pendant 4; separate 5-chain 10-14
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)
    ).toDF("id_a", "id_b")
    val got = NearDup.kcoreOnPairs(pairs, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    // the 2-core is exactly the triangle, every member at degree 2:
    // the pendant falls in round 1, the chain unravels from both ends
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // bounded-round = true k-core here: one more round changes nothing
    val more = NearDup.kcoreOnPairs(pairs, k = 2, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(more === got)
    // k=3: nothing in this graph has min degree 3
    assert(NearDup.kcoreOnPairs(pairs, k = 3).count() === 0L)
    // gate graph converges within the bound too
    val gate = NearDup.kcore(spark, "/root/testdata/sf0.01")
      .as[(Long, Long)].collect().toMap
    val gate5 = NearDup.kcoreOnPairs(
      NearDup.minhashNearDup(spark, "/root/testdata/sf0.01")
        .select("id_a", "id_b"), k = 2, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(gate === gate5)
    gate.values.foreach(d => assert(d >= 2L))
  }

  test("pagerank: empty graph yields an empty 3-column result") {
    import spark.implicits._
    val got = NearDup.pageRankOnPairs(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(got.columns.toSeq === Seq("doc_id", "pr_scaled", "deg"))
    assert(got.count() === 0L)
  }

  test("candidate-bounded verify: under the cap docs shrink to candidate " +
      "ids via a broadcast semi-join; over the cap docs pass through") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val n = docs.count()
    val cand = Seq((3L, 7L), (7L, 11L)).toDF("id_a", "id_b")
    // under the cap: exactly the ids appearing in a pair survive, and
    // the filter is a broadcast semi-join (no shuffle on the doc side)
    val bounded = NearDup.candidateBounded(docs, cand, pairs = 2L)
    assert(bounded.select($"doc_id").as[Long].collect().sorted
      === Array(3L, 7L, 11L))
    val plan = bounded.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan)
    // over the cap (cap=0 forces it): unfiltered passthrough — a
    // semi-filter that cannot broadcast would shuffle the corpus-width
    // table and cost more than it saves
    val over = NearDup.candidateBounded(docs, cand, pairs = 2L, cap = 0L)
    assert(over.count() === n)
    // the bounded verify itself returns the same verified pairs as the
    // corpus-wide gate query (the semi-filter is candidate-complete:
    // every id the verify join needs appears in some pair by
    // construction)
    val full = NearDup.minhashNearDup(spark, sfDir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val viaPairs = NearDup.pairsOver(docs)
      .as[(Long, Long)].collect().toSet
    assert(viaPairs === full)
  }

  test("candidate census at the bound's edges: every cap verifies the same " +
      "rows, and the semi-filter applies exactly when the distinct ids fit") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    def cand = NearDup.candidatesFromBands(NearDup.bandedOver(docs))
    val pairs = cand.count()
    val ids = cand.select($"id_a".as("id")).union(cand.select($"id_b"))
      .distinct().count()
    assert(pairs > 0 && ids < 2 * pairs,
      s"the fixture must share an id between pairs ($pairs pairs, $ids ids)")
    def verified(cap: Option[Long]) = {
      val v = cap.fold(NearDup.verifiedCandidates(docs, cand))(
        c => NearDup.verifiedCandidates(docs, cand, cap = c))
      val semi = v.queryExecution.executedPlan.toString.contains("LeftSemi")
      (v.columns.toSeq, v.collect().toSet, semi)
    }
    val (cols, want, _) = verified(None)
    assert(cols === Seq("id_b", "id_a", "sh_a", "sh_b", "n_common", "jaccard"))
    for (cap <- Seq(0L, pairs, 2 * pairs - 1, 2 * pairs, ids - 1, ids)) {
      val (_, got, semi) = verified(Some(cap))
      assert(got === want, s"cap $cap")
      assert(semi === (ids <= cap), s"cap $cap: semi-filter $semi, $ids ids")
    }
  }

  test("above-cap verify: the disk-backed single shingle materialization " +
      "returns the same verified pairs and pins exactly one DISK_ONLY table") {
    import spark.implicits._
    graft.Scope.close()
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    def verified(cap: Long): Set[(Long, Long, Long)] =
      NearDup.verifiedCandidates(docs,
          NearDup.candidatesFromBands(NearDup.bandedOver(docs)), cap = cap)
        .where($"jaccard" >= 0.8)
        .select($"id_a", $"id_b", $"n_common")
        .as[(Long, Long, Long)].collect().toSet
    val below = verified(cap = Long.MaxValue) // r13 dual-compute path
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val above = verified(cap = 0L) // r14 disk-backed single pass
    assert(above === below)
    // among the newly pinned blocks (the cand localCheckpoint is
    // MEMORY_AND_DISK) exactly the shingle table is DISK_ONLY: the
    // corpus-sized array table must never compete for executor memory
    // (the failure mode that killed the r13 in-memory form)
    val diskOnly = (sc.getPersistentRDDs -- before).values
      .filter(r => r.getStorageLevel.useDisk && !r.getStorageLevel.useMemory)
    assert(diskOnly.size === 1,
      s"expected exactly the DISK_ONLY shingle table, got ${diskOnly.size}")
    graft.Scope.close()
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty,
      "release must also free the above-cap shingle table")
  }

  test("touched labels: exactly the nodes with a verified edge, matching " +
      "connectedComponents on that subgraph") {
    import spark.implicits._
    val pairs = NearDup.minhashNearDup(spark, sfDir)
      .select($"id_a", $"id_b")
    val touched = pairs.as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a, b) }.toSet
    val labels = NearDup.touchedLabels(
      NearDup.minhashNearDup(spark, sfDir).select($"id_a", $"id_b"))
      .as[(Long, Long)].collect().toMap
    assert(labels.keySet === touched)
    // agreement with the corpus-expanded form on the touched subset
    val cc = NearDup.dedupClusters(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    touched.foreach(id => assert(labels(id) === cc(id), s"doc $id"))
  }

  test("Scope.close frees every block the operator family pins " +
      "and is idempotent") {
    val sc = spark.sparkContext
    graft.Scope.close() // clear whatever earlier tests pinned
    val before = sc.getPersistentRDDs.keySet
    // checkpoint-backed (cand + labels) and window paths both exercised
    NearDup.dedupClusters(spark, sfDir).count()
    NearDup.dedupSurvivor(spark, sfDir).count()
    assert(sc.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "expected the run to pin checkpoint blocks")
    graft.Scope.close()
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty,
      "release must drop every block the run pinned")
    graft.Scope.close() // idempotent on an empty slate
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty)
  }
}
