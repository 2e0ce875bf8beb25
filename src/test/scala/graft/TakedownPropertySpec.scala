package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, NearDup}

/** Property pin for the round's takedown-parity claims: on RANDOM
  * graphs, corpora and removal sets (bridges, whole clusters,
  * singletons, empty and total removals all reachable), every
  * incremental retraction path equals the from-scratch recompute on
  * the filtered inputs — the same identity the oracle gates check on
  * one fixture, here checked adversarially. Uses raw ScalaCheck (the
  * scalatest bridge isn't in the offline cache). */
class TakedownPropertySpec extends SparkSpecBase {

  /** (node count, undirected edge list, removal set) */
  private val instances: Gen[(Int, List[(Int, Int)], List[Int])] = for {
    n <- Gen.chooseNum(4, 16)
    m <- Gen.chooseNum(0, 2 * n)
    edges <- Gen.listOfN(m, for {
      a <- Gen.chooseNum(0, n - 1)
      b <- Gen.chooseNum(0, n - 1) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    removed <- Gen.someOf(0 until n)
  } yield (n, edges.distinct, removed.toList)

  // deterministic synthetic docs: shared tokens across ids (so stats
  // groups overlap) and varying quality (so survivor election is
  // non-trivial); source cycles over 3 values
  private def docText(i: Int): String =
    (Seq.fill(i % 3 + 1)("the a of and").mkString(" ") +
      s" w$i w${i % 4} w${i % 7}")

  test("takedown parity on random instances: survivors, k-core, " +
    "pagerank, stats (property)") {
    import spark.implicits._
    val prop = Prop.forAll(instances) { case (n, edges, removedIdsRaw) =>
      val removedIds = removedIdsRaw.map(_.toLong)
      val docs = (0 until n).map(i =>
          (i.toLong, s"src${i % 3}", docText(i)))
        .toDF("doc_id", "source", "text")
      val pairs = edges.map { case (a, b) => (a.toLong, b.toLong) }
        .toDF("id_a", "id_b").localCheckpoint(true)
      val removed = removedIds.toDF("doc_id")
      val fDocs = docs.where(!$"doc_id".isin(removedIds: _*))
      val fPairs = pairs.where(!$"id_a".isin(removedIds: _*) &&
        !$"id_b".isin(removedIds: _*)).localCheckpoint(true)

      // survivors: incremental vs full (docs column order differs from
      // survivorsFrom's (doc_id, text) expectation only by extras —
      // both paths read by name)
      val standing = NearDup.survivorsFrom(docs, pairs)
        .localCheckpoint(true)
      val survInc = NearDup
        .takedownSurvivors(docs, standing, pairs, removed)
        .as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
      val survFull = NearDup.survivorsFrom(fDocs, fPairs)
        .as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
      // k-core: incremental (passthrough + re-peel) vs full re-peel
      val core = NearDup.kcoreOnPairs(pairs).localCheckpoint(true)
      val coreInc = NearDup
        .takedownKcoreOn(core, standing, pairs, removed)
        .as[(Long, Long)].collect().toSeq.sorted
      val coreFull = NearDup.kcoreOnPairs(fPairs)
        .as[(Long, Long)].collect().toSeq.sorted
      // pagerank: rounds on surviving edges vs from-scratch
      val prInc = NearDup.takedownPagerankOn(pairs, removed)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val prFull = NearDup.pageRankOnPairs(fPairs)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      // stats: subtractive vs recompute
      val stats = Corpus.sourceTokenStats(docs).localCheckpoint(true)
      val statsInc = Corpus
        .takedownStatsOn(stats, docs.where($"doc_id".isin(removedIds: _*)))
        .as[(String, String, Long, Long)].collect().toSeq.sorted
      val statsFull = Corpus.sourceTokenStats(fDocs)
        .as[(String, String, Long, Long)].collect().toSeq.sorted
      Seq(pairs, fPairs, standing, core, stats)
        .foreach(graft.Scope.free)
      val ok = survInc == survFull && coreInc == coreFull &&
        prInc == prFull && statsInc == statsFull
      if (!ok) println(
        s"COUNTEREXAMPLE n=$n edges=$edges removed=$removedIds\n" +
          s"surv: $survInc vs $survFull\ncore: $coreInc vs $coreFull\n" +
          s"pr: $prInc vs $prFull\nstats: $statsInc vs $statsFull")
      ok
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(result.passed, result.status.toString)
  }

  test("retrieval-artifact takedown parity on random corpora: bm25, " +
    "tfidf, capped inverted index (property)") {
    import spark.implicits._
    // both arms run the SAME maintained-serve code — the incremental
    // arm subtracts a real removal set from the full corpus's standing
    // tables, the reference arm gives the filtered corpus's standing
    // tables an EMPTY removal set (pinning empty-takedown = identity
    // as a side effect); equality proves subtraction == rebuild
    def emptyRm = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def bm25(docs: org.apache.spark.sql.DataFrame,
        rm: org.apache.spark.sql.DataFrame) = {
      val tf = docs
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
      val totals = dl.agg(count(lit(1)).as("n"), sum($"dl").as("s"))
      Corpus.takedownBm25On(tf, dl, dfreq, totals, rm)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    }
    def tfidf(docs: org.apache.spark.sql.DataFrame,
        rm: org.apache.spark.sql.DataFrame) = {
      val tf = docs
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      Corpus.takedownTfidfOn(tf, dfreq, nDocs, rm)
        .as[(Long, Long, String, Long, Long, Double)].collect()
        .toSeq.sorted
    }
    def index(docs: org.apache.spark.sql.DataFrame,
        rm: org.apache.spark.sql.DataFrame) = {
      val full = docs
        .select($"doc_id",
          explode(array_distinct(split($"text", " "))).as("token"))
        .where(length($"token") > 0)
      val bk = udaf(new graft.pipeline.Aggregators.BottomKLongAgg(8),
        org.apache.spark.sql.Encoders.scalaLong)
      val served = full.groupBy($"token")
        .agg(count(lit(1)).as("df"),
          array_join(transform(bk($"doc_id"), _.cast("string")), ",")
            .as("postings"))
      Corpus.takedownIndexOn(full, served, rm)
        .as[(String, Long, String)].collect().toSeq.sorted
    }
    val prop = Prop.forAll(instances) { case (n, _, removedIdsRaw) =>
      val removedIds = removedIdsRaw.map(_.toLong)
      val docs = (0 until n).map(i =>
          (i.toLong, s"src${i % 3}", docText(i)))
        .toDF("doc_id", "source", "text")
        .select($"doc_id", $"text") // the retrieval ops are sourceless
      val rm = docs.where($"doc_id".isin(removedIds: _*))
      val fDocs = docs.where(!$"doc_id".isin(removedIds: _*))
      val ok = bm25(docs, rm) == bm25(fDocs, emptyRm) &&
        tfidf(docs, rm) == tfidf(fDocs, emptyRm) &&
        index(docs, rm) == index(fDocs, emptyRm)
      if (!ok) println(
        s"COUNTEREXAMPLE n=$n removed=$removedIds\n" +
          s"bm25: ${bm25(docs, rm)} vs ${bm25(fDocs, emptyRm)}\n" +
          s"tfidf: ${tfidf(docs, rm)} vs ${tfidf(fDocs, emptyRm)}\n" +
          s"index: ${index(docs, rm)} vs ${index(fDocs, emptyRm)}")
      ok
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(result.passed, result.status.toString)
  }
}
