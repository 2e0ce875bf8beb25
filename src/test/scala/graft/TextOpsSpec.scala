package graft

import org.apache.spark.sql.functions.{filter, lower, regexp_replace, size, split, trim}

import graft.operators.TextOps

class TextOpsSpec extends SparkSpecBase {

  test("dedup keeps one row per distinct text") {
    val df = TextOps.dedupExact(spark, sfDir)
    val total = df.count()
    assert(total > 0)
    // keep_id unique
    assert(df.select("keep_id").distinct().count() === total)
  }

  test("text stats are internally consistent") {
    import spark.implicits._
    val df = TextOps.textStats(spark, sfDir).cache()
    assert(df.where($"n_tokens" <= 0).count() === 0)
    assert(df.where($"n_stopwords" > $"n_tokens").count() === 0)
    assert(df.where($"stopword_ratio" < 0 || $"stopword_ratio" > 1).count() === 0)
    df.unpersist()
  }

  test("repetition signals: fractions well-formed, identities hold") {
    import spark.implicits._
    val df = graft.operators.TextOps.repetition(spark, sfDir).cache()
    val rows = df.as[(Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nTok, nDistinct, topFrac, bigramFrac) =>
      assert(nDistinct >= 1 && nDistinct <= nTok, s"doc $id")
      // the most frequent token occurs at least the mean count
      assert(topFrac >= 1.0 / nDistinct - 1e-12, s"doc $id topFrac=$topFrac")
      assert(topFrac <= 1.0 + 1e-12, s"doc $id")
      assert(bigramFrac > 0.0 && bigramFrac <= 1.0 + 1e-12,
        s"doc $id bigramFrac=$bigramFrac")
    }
    df.unpersist()
  }

  test("bpe token count >= whitespace token count on space-free punct text") {
    import spark.implicits._
    val df = TextOps.tokenCounts(spark, sfDir)
    assert(df.where($"n_bpe_tokens" < $"n_ws_tokens").count() === 0)
  }

  test("lang id predicts a language for every doc") {
    import spark.implicits._
    val df = TextOps.langId(spark, sfDir)
    assert(df.where($"pred_lang".isNull).count() === 0)
  }

  test("lmFit: likelihood ratio bounded, bigram totals reconcile") {
    import spark.implicits._
    val rows = TextOps.lmFit(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nBg, s12, s1, fit, nRare) =>
      // c12 <= c1 per bigram, so the aggregate ratio is in (0, 1]
      assert(s12 >= nBg && s1 >= s12, s"doc $id")
      assert(fit > 0.0 && fit <= 1.0, s"doc $id fit=$fit")
      assert(nRare >= 0L && nRare <= nBg, s"doc $id")
    }
    // every multi-token doc contributes exactly (n_tokens - 1) bigrams
    val expected = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .where($"n" >= 2L).as[(Long, Long)].collect()
      .map { case (id, n) => id -> (n - 1L) }.toMap
    assert(rows.map(r => r._1 -> r._2).toMap === expected)
  }

  test("filter audit: reasons partition the corpus and 'kept' equals cleanCorpus survivors") {
    import spark.implicits._
    val audit = TextOps.filterAudit(spark, sfDir)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    val allowed = Set("lang", "too_short", "too_long", "low_stopword",
      "exact_dup", "kept")
    assert(audit.keySet.subsetOf(allowed), audit.keySet.toString)
    // every document gets exactly one reason
    val total = graft.ops.Tables.documents(spark, sfDir).count()
    assert(audit.values.map(_._2).sum === total)
    // the kept bucket is exactly cleanCorpus's survivor count
    val survivors = TextOps.cleanCorpus(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum($"n_docs")).as[Long].head()
    assert(audit.get("kept").map(_._2).getOrElse(0L) === survivors)
  }

  test("n-gram decontamination: counts close, brute-force flags agree") {
    import spark.implicits._
    val out = TextOps.decontaminateNgram(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (lang, n, c) =>
      assert(c >= 0 && c <= n, s"$lang: $c of $n") }
    // totals cover every non-benchmark doc exactly once
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(out.map(_._2).sum === docs.count(_._1 % 25 != 0))
    // brute-force: per-lang contaminated counts from raw 8-gram overlap
    def grams(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length < 8) Set.empty
      else toks.sliding(8).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._1 % 25 == 0).flatMap(g => grams(g._2)).toSet
    val langs = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val want = docs.filter(_._1 % 25 != 0)
      .groupBy(d => langs(d._1))
      .view.mapValues(ds => (ds.length.toLong,
        ds.count(d => grams(d._2).exists(bench)).toLong)).toMap
    out.foreach { case (lang, n, c) =>
      assert((n, c) === want(lang), s"lang $lang") }
  }

  test("dup spans: census identities hold and match a brute-force recount") {
    import spark.implicits._
    val df = TextOps.dupSpans(spark, sfDir).cache()
    // span count identity: max(0, n_tokens - 7) spans per doc
    val expected = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .as[(Long, Long)].collect()
      .map { case (id, n) => id -> math.max(0L, n - 7L) }.toMap
    val rows = df.as[(Long, Long, Long, Double)].collect()
    assert(rows.map(r => r._1 -> r._2).toMap === expected)
    rows.foreach { case (id, nSpans, nDup, ratio) =>
      assert(nDup >= 0L && nDup <= nSpans, s"doc $id")
      val want = if (nSpans == 0L) 0.0 else nDup.toDouble / nSpans
      assert(ratio === want, s"doc $id")
    }
    // a span duplicated in one doc is by definition in >= 2 docs, and the
    // fixture's planted near-dups guarantee the signal is non-trivial
    val withDups = rows.count(_._3 > 0L)
    assert(withDups >= 2, s"expected shared spans in the fixture, got $withDups")
    // ground truth for the flagged docs: brute-force recount of cross-doc
    // span frequencies must agree with the distributed census
    val gramSets = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("t"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, t) =>
        id -> t.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toVector
      }
    val docsWithGram = gramSets
      .flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    val wantDup = gramSets.map { case (id, gs) =>
      id -> gs.count(g => docsWithGram(g) > 1).toLong
    }.toMap
    assert(rows.map(r => r._1 -> r._3).toMap === wantDup)
    df.unpersist()
  }

  test("span scrub: coverage arithmetic closes and agrees with the census") {
    import spark.implicits._
    val scrub = TextOps.spanScrub(spark, sfDir)
      .as[(Long, Long, Long, String)].collect()
    val census = TextOps.dupSpans(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(scrub.length === census.size)
    scrub.foreach { case (id, nTok, nCov, clean) =>
      assert(nCov >= 0L && nCov <= nTok, s"doc $id")
      // removing exactly the covered tokens leaves n_tokens - covered
      val kept =
        if (clean.isEmpty) 0L else (clean.count(_ == ' ') + 1).toLong
      assert(kept === nTok - nCov, s"doc $id: $kept != $nTok - $nCov")
      // scrub fires iff the census saw a duplicated span, and a
      // duplicated span covers at least its own 8 tokens
      if (census(id) > 0L) assert(nCov >= 8L, s"doc $id")
      else assert(nCov === 0L, s"doc $id")
    }
    // fully-duplicated docs scrub to nothing; untouched docs keep text
    val texts = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    scrub.foreach { case (id, nTok, nCov, clean) =>
      if (nCov === nTok) assert(clean.isEmpty, s"doc $id")
      if (nCov === 0L) assert(clean === texts(id), s"doc $id")
    }
  }

  private def gramSet(texts: Seq[String]): Set[String] =
    texts.flatMap(_.split(" ").sliding(5).filter(_.size == 5)
      .map(_.mkString(" "))).toSet

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Independent KMV reference: bottom-k of each source's md5'd gram
    * set, merged per pair exactly as the operator defines. */
  private def refOverlap(bySrc: Map[String, Set[String]], k: Int)
      : Map[(String, String), (Long, Long)] = {
    val sk = bySrc.map { case (s, g) =>
      s -> g.map(md5hex).toSeq.sorted.take(k)
    }
    (for {
      a <- bySrc.keys; b <- bySrc.keys if a < b
    } yield {
      val u = (sk(a) ++ sk(b)).distinct.sorted.take(k)
      val hits = u.count(h => sk(a).contains(h) && sk(b).contains(h))
      (a, b) -> (hits.toLong, u.size.toLong)
    }).toMap
  }

  test("source overlap: exact counts match brute force; sketch is exact when k covers the union") {
    import spark.implicits._
    val bySrc = Map(
      "s1" -> Seq("a b c d e f g h"),
      "s2" -> Seq("a b c d e f g h"), // identical to s1
      "s3" -> Seq("x y z w v u t s q p"), // disjoint
      "s4" -> Seq("a b c d e x y z w v", "m m m m m m")) // partial overlaps
    val docs = bySrc.toSeq.flatMap { case (src, ts) => ts.map(src -> _) }
      .zipWithIndex
      .map { case ((src, t), i) => (i.toLong, t, "en", src, 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val grams = bySrc.map { case (s, ts) => s -> gramSet(ts) }
    val got = TextOps.sourceOverlapDocs(docs, k = 128)
      .as[(String, String, Long, Long, Double, Long, Long, Double)]
      .collect()
    assert(got.map(r => (r._1, r._2)).toSeq ===
      (for { a <- grams.keys.toSeq.sorted; b <- grams.keys.toSeq.sorted
             if a < b } yield (a, b)))
    got.foreach { case (a, b, hits, kUsed, est, inter, union, exact) =>
      val (gi, gu) = (grams(a) & grams(b), grams(a) | grams(b))
      assert(inter === gi.size.toLong, s"($a,$b) inter")
      assert(union === gu.size.toLong, s"($a,$b) union")
      assert(exact === gi.size.toDouble / gu.size, s"($a,$b) exact")
      // k=128 >= every union here, so the sketch degenerates to exact
      assert(kUsed === gu.size.toLong, s"($a,$b) k_used")
      assert(hits === gi.size.toLong, s"($a,$b) hits")
      assert(est === exact, s"($a,$b) est")
    }
  }

  test("source overlap: small-k sketch matches the KMV reference") {
    import spark.implicits._
    // many docs per source with heavy cross-source sharing, so k=4
    // sketches genuinely truncate
    val bySrc = Map(
      "sa" -> Seq("a b c d e f g h i j", "k l m n o p q r s t"),
      "sb" -> Seq("a b c d e f g h i j", "u v w x y z a2 b2 c2 d2"),
      "sc" -> Seq("k l m n o p q r s t", "u v w x y z a2 b2 c2 d2"))
    val docs = bySrc.toSeq.flatMap { case (src, ts) => ts.map(src -> _) }
      .zipWithIndex
      .map { case ((src, t), i) => (i.toLong, t, "en", src, 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val k = 4
    val want = refOverlap(bySrc.map { case (s, ts) => s -> gramSet(ts) }, k)
    val got = TextOps.sourceOverlapDocs(docs, k)
      .as[(String, String, Long, Long, Double, Long, Long, Double)]
      .collect()
    got.foreach { case (a, b, hits, kUsed, est, _, _, _) =>
      val (wHits, wK) = want((a, b))
      assert(hits === wHits, s"($a,$b) hits")
      assert(kUsed === wK, s"($a,$b) k_used")
      assert(est === (if (wK == 0) 0.0 else wHits.toDouble / wK),
        s"($a,$b) est")
    }
  }

  test("sketch-only overlap path agrees bit-for-bit with the audit path") {
    import spark.implicits._
    // KMV of a multiset = KMV of its set, so building straight from raw
    // occurrences must give the IDENTICAL sketch columns
    val audit = TextOps.sourceOverlapDocs(
      graft.ops.Tables.documents(spark, sfDir), 16)
      .select("src_a", "src_b", "sketch_hits", "k_used", "est_jaccard")
      .as[(String, String, Long, Long, Double)].collect().toSet
    val sketch = TextOps.sourceOverlapSketchDocs(
      graft.ops.Tables.documents(spark, sfDir), 16)
      .as[(String, String, Long, Long, Double)].collect().toSet
    assert(sketch === audit)
  }

  test("novelty: brute-force distinct-gram uniqueness agrees") {
    import spark.implicits._
    val rows = TextOps.novelty(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    val gramSets = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("t"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, t) =>
        id -> t.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet }
    val owners = gramSets.flatMap { case (id, gs) => gs.iterator.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val want = gramSets.map { case (id, gs) =>
      val n = gs.size.toLong
      val u = gs.count(g => owners(g) == 1).toLong
      id -> ((n, u, if (n == 0L) 0.0 else u.toDouble / n))
    }.toMap
    assert(rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap === want)
    // the fixture's planted near-dups must drag some docs below full
    // novelty, and fully-unique docs must exist — both tails populated
    assert(rows.exists(r => r._2 > 0L && r._4 < 1.0))
    assert(rows.exists(r => r._4 === 1.0))
  }

  test("native text kernels match their regex/split reference forms exactly") {
    import spark.implicits._
    import graft.functions.{NormalizeText, TokenSetCount}
    // adversarial hand-picks: empty/blank, runs of spaces and symbols,
    // mixed case, non-ASCII that lowercases OUT of the kept set, and
    // non-ASCII that lowercases INTO it (U+212A KELVIN SIGN -> k, the
    // case that forces the kernel's exact slow path)
    val picked = Seq("", " ", "   ", "Hello, World!  the A of-and ",
      "a!? b", "Ümlaut Örtlich the", "K the a",
      "MiXeD 42 c0de the a of and", "the  the   the", " of ", "and",
      "a\tb", "İstanbul the")
    val rng = new scala.util.Random(8)
    val alphabet = "ab E!?.09 ZéK  the of and "
    val fuzz = (1 to 300).map(_ =>
      (1 to rng.nextInt(60)).map(_ =>
        alphabet(rng.nextInt(alphabet.length))).mkString)
    val words = Seq("the", "a", "of", "and")
    val rows = (picked ++ fuzz).toDF("t")
      .select(
        trim(regexp_replace(regexp_replace(lower($"t"), "[^a-z0-9 ]", ""),
          " +", " ")).as("norm_ref"),
        NormalizeText.normalize_text($"t").as("norm_k"),
        words.map(w => size(filter(split($"t", " "), x => x === w))
          .cast("long")).reduce(_ + _).as("cnt_ref"),
        TokenSetCount.token_set_count($"t", words).as("cnt_k"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) === r.getString(1), r)
      assert(r.getLong(2) === r.getLong(3), r)
    }
  }
}
