package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{coalesce, explode, lit, split}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VecOps
import graft.operators.Corpus

class CorpusSpec extends SparkSpecBase {

  private def chunks(s: String): Seq[Long] = {
    val a = VecOps.contentChunks(UTF8String.fromString(s), 5)
      .asInstanceOf[ArrayData]
    (0 until a.numElements()).map(a.getLong)
  }

  test("content-defined chunking: early edits don't shift later chunks") {
    // non-repeating body: periodic text would let even fixed-width
    // chunks accidentally realign after the edit
    val base = (0 until 300).map(i => s"w${i * 2654435761L % 99991}")
      .mkString(" ")
    val edited = "INSERTED PREFIX " + base
    val a = chunks(base).toSet
    val b = chunks(edited).toSet
    // the edit perturbs at most the first chunk(s); the tail chunks keep
    // their identities, so the overlap stays high
    val overlap = a.intersect(b).size.toDouble / a.size
    assert(overlap > 0.5, s"overlap=$overlap a=${a.size} b=${b.size}")
    // whereas fixed-width chunking at the same granularity would share ~0
    val fixedA = base.getBytes.grouped(32).map(new String(_)).toSet
    val fixedB = edited.getBytes.grouped(32).map(new String(_)).toSet
    assert(fixedA.intersect(fixedB).size < a.intersect(b).size)
  }

  test("chunker is deterministic and covers the document") {
    val s = "some document body with enough bytes to chunk repeatedly " * 5
    assert(chunks(s) === chunks(s))
    assert(chunks(s).nonEmpty)
  }

  test("decontamination removes exactly the benchmark fingerprints") {
    import spark.implicits._
    val total = graft.ops.Tables.documents(spark, sfDir).count()
    val bench = graft.ops.Tables.documents(spark, sfDir)
      .where($"doc_id" % 25 === 0).count()
    val kept = Corpus.decontaminate(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum($"n_kept")).as[Long].head()
    // all texts are distinct in the fixture, so kept = total - benchmark
    assert(kept === total - bench)
  }

  test("stratified sample takes exactly ceil(10%) of every stratum") {
    import spark.implicits._
    val perLang = graft.ops.Tables.documents(spark, sfDir)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    val sampled = Corpus.stratifiedSample(spark, sfDir)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    // exact per-group fraction — including SKEWED strata: every language
    // present, each at exactly ceil(0.1 * n), never the in-expectation
    // approximation hash-threshold sampling gives
    perLang.foreach { case (lang, n) =>
      assert(sampled.getOrElse(lang, 0L) === math.ceil(0.1 * n).toLong,
        s"$lang: n=$n sampled=${sampled.get(lang)}")
    }
  }

  test("bloom sketch: no false negatives, and decontaminateBloom == exact") {
    import spark.implicits._
    val keys = (0 until 2000).map(i => s"key-$i")
    val df = keys.toDF("k")
    val sketch = graft.functions.BloomSketch.build(df, $"k", 2000L)
    // every inserted key MUST test positive (bloom guarantees no false
    // negatives — what makes the pre-filter result-invisible)
    val hits = df.where(graft.functions.BloomSketch.mightContain(sketch, $"k"))
      .count()
    assert(hits === 2000L)
    // and the composed query equals the exact anti-join, row for row
    val exact = Corpus.decontaminate(spark, sfDir).collect().toSeq
    val bloom = Corpus.decontaminateBloom(spark, sfDir).collect().toSeq
    assert(bloom === exact)
    // an EMPTY key set builds an empty sketch (nothing might-contains),
    // not a NULL that would poison every downstream predicate
    val empty = graft.functions.BloomSketch.build(
      df.where($"k" === "absent"), $"k", 10L)
    assert(empty != null)
    assert(df.where(graft.functions.BloomSketch.mightContain(empty, $"k"))
      .count() === 0L)
  }

  test("approx quantiles and approx distinct stay within their error bounds") {
    import spark.implicits._
    val exactQ = Corpus.valueQuantiles(spark, sfDir)
      .select($"event_type", $"v_median").as[(String, Double)].collect().toMap
    val approxQ = Corpus.valueQuantilesApprox(spark, sfDir)
      .select($"event_type", $"v_median").as[(String, Double)].collect().toMap
    exactQ.foreach { case (k, exact) =>
      val spread = math.max(1e-9, math.abs(exact) * 0.05)
      assert(math.abs(approxQ(k) - exact) <= spread,
        s"$k: exact=$exact approx=${approxQ(k)}")
    }
    val exactD = graft.operators.Breadth.distinctUsers(spark, sfDir)
      .select($"event_type", $"n_users").as[(String, Long)].collect().toMap
    val approxD = Corpus.distinctUsersApprox(spark, sfDir)
      .select($"event_type", $"n_users_approx").as[(String, Long)]
      .collect().toMap
    exactD.foreach { case (k, exact) =>
      // rsd 0.02 → allow 3 sigma ≈ 6% (plus slack for tiny groups)
      assert(math.abs(approxD(k) - exact) <= math.max(2.0, exact * 0.06),
        s"$k: exact=$exact approx=${approxD(k)}")
    }
  }

  test("profile: exact per-column stats; one-pass approx within HLL bounds; pruned scans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val orders = graft.ops.Tables.orders(spark, sfDir)
    val exact = graft.operators.Breadth.profile(orders)
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(exact.keySet === orders.schema.fieldNames.toSet)
    val nRows = orders.count()
    exact.values.foreach { case (name, rows, nulls, dist, mn, mx) =>
      assert(rows === nRows, name)
      assert(nulls >= 0 && nulls <= rows, name)
      assert(dist <= rows - nulls, name)
      assert(mn <= mx || dist === 0L, s"$name: $mn > $mx")
    }
    // spot-check one column against a direct computation
    val wantDist = orders.select(col("o_custkey")).distinct().count()
    assert(exact("o_custkey")._4 === wantDist)
    // the one-pass approx profile agrees: exact counts/min/max, HLL
    // distinct within its default 5% standard error (take 3x slack)
    val approx = graft.operators.Breadth.profileOnePass(orders)
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (name, (_, rows, nulls, dist, mn, mx)) =>
      val a = approx(name)
      assert(a._2 === rows, name)
      assert(a._3 === nulls, name)
      assert(a._5 === mn && a._6 === mx, name)
      assert(math.abs(a._4 - dist) <= math.max(1L, (dist * 0.15).toLong),
        s"$name: approx ${a._4} vs exact $dist")
    }
    // plan audit: every branch's scan reads exactly ONE column, and no
    // Expand (the countDistinct rewrite) appears anywhere
    val plan = graft.operators.Breadth.profile(orders)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty &&
      readSchemas.forall(s => s.count(_ == ':') == 1), readSchemas.toString)
  }

  test("Misra-Gries heavy hitters: membership and error bounds hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val k = 32
    val exact = graft.ops.Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("tok"))
      .select(xxhash64($"tok").as("th"))
      .groupBy($"th").count()
      .as[(Long, Long)].collect().toMap
    val n = exact.values.sum
    val mg = Corpus.heavyHitterTokens(spark, sfDir, k)
      .as[(Long, Long)].collect().toMap
    assert(mg.nonEmpty && mg.size <= k)
    // every true heavy hitter (count > n/k) must be present
    exact.filter(_._2 > n / k).keys.foreach { t =>
      assert(mg.contains(t), s"heavy hitter $t missing")
    }
    // estimates never overcount and undercount by at most n/k
    mg.foreach { case (t, est) =>
      val truth = exact(t)
      assert(est <= truth, s"$t overcounted: $est > $truth")
      assert(truth - est <= n / k, s"$t undercount ${truth - est} > ${n / k}")
    }
  }

  test("chunk dedup profile is a partition of distinct chunks") {
    import spark.implicits._
    val prof = Corpus.chunkDupProfile(spark, sfDir).cache()
    assert(prof.where($"n_docs" < 1).count() === 0)
    assert(prof.agg(org.apache.spark.sql.functions.sum($"n_chunks"))
      .as[Long].head() > 0)
    prof.unpersist()
  }

  test("chunkWindows: stride arithmetic, overlap, and lossless reconstruction") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val chunks = graft.operators.Corpus.chunkWindows(spark, sfDir)
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(chunks.keySet === docs.keySet)
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val cs = chunks(id)
      // window count: one start per stride step within the token stream
      assert(cs.length === 1 + (math.max(toks.length - 1, 0)) / 48, s"doc $id")
      cs.foreach { case (_, cid, start, n, body) =>
        assert(start === cid * 48)
        val want = toks.slice(start.toInt, start.toInt + 64)
        assert(n === want.length, s"doc $id chunk $cid")
        assert(body === want.mkString(" "), s"doc $id chunk $cid")
      }
      // lossless: chunk 0 plus each later chunk minus the 16-token
      // overlap reconstructs the document exactly
      val rebuilt = cs.head._5.split(" ", -1) ++
        cs.tail.flatMap(c => c._5.split(" ", -1).drop(16))
      assert(rebuilt.toSeq === toks.toSeq, s"doc $id reconstruction")
    }
  }

  test("packBins: greedy packing is budget-bounded, tight, and total") {
    import spark.implicits._
    val budget = 256L
    val rows = Corpus.packBins(spark, sfDir, budget)
      .as[(String, Long, Long, Long)].collect()
    // every document appears exactly once
    assert(rows.length ===
      graft.ops.Tables.documents(spark, sfDir).count())
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val inOrder = docs.sortBy(_._2)
      // bin ids start at 0 and are consecutive within a source
      assert(inOrder.head._3 === 0L, s"$src first bin")
      inOrder.sliding(2).foreach {
        case Array((_, _, b1, _), (_, _, b2, _)) =>
          assert(b2 === b1 || b2 === b1 + 1, s"$src bin jump $b1->$b2")
        case _ =>
      }
      val bins = inOrder.groupBy(_._3).toSeq.sortBy(_._1)
      bins.foreach { case (bin, members) =>
        val tot = members.map(_._4).sum
        // a bin only exceeds the budget when a single doc does
        assert(tot <= budget || members.length === 1,
          s"$src bin $bin total $tot")
      }
      // tightness: the first doc of every bin would NOT have fit into
      // the previous bin (otherwise the greedy walk would have kept it)
      bins.sliding(2).foreach {
        case Seq((_, prev), (_, cur)) =>
          val prevTot = prev.map(_._4).sum
          val firstCost = cur.minBy(_._2)._4
          assert(prevTot + firstCost > budget,
            s"$src: bin not tight ($prevTot + $firstCost <= $budget)")
        case _ =>
      }
    }
  }

  test("bm25TopK: ranked lists well-formed, scores positive non-increasing") {
    import spark.implicits._
    val rows = Corpus.bm25TopK(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to rs.length).toSeq, s"q $q")
      sorted.sliding(2).filter(_.length == 2).foreach(p =>
        assert(p(0)._4 >= p(1)._4, s"q $q: scores must be non-increasing"))
      rs.foreach { r =>
        assert(r._3 !== q) // never retrieves itself
        assert(r._4 > 0L && r._5 >= 1L)
      }
    }
  }

  test("weightedSample: inclusion rule is exact and proportional to weight") {
    import spark.implicits._
    val kept = Corpus.weightedSample(spark, sfDir)
      .as[(Long, String, Long, Long)].collect()
    assert(kept.nonEmpty)
    kept.foreach { case (_, _, w, u) =>
      assert(w >= 1L && w <= 3L)
      assert(u >= 0L && u < (1L << 24))
      assert(u * 30L < w * (1L << 24)) // the exact inclusion rule
    }
    // deterministic across invocations
    val again = Corpus.weightedSample(spark, sfDir)
      .as[(Long, String, Long, Long)].collect()
    assert(kept.toSeq === again.toSeq)
    // the kept set is EXACTLY the rule applied to every doc (w/30
    // inclusion probability; per-weight rates on a fixed 500-doc corpus
    // are too noisy to order, so pin the rule, not the rates)
    val expected = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source").as[(Long, String)].collect()
      .filter { case (id, src) =>
        val w = src.drop(3).toLong % 3 + 1
        val u = java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString)
            .substring(0, 6), 16)
        u * 30L < w * (1L << 24)
      }.map(_._1).toSet
    assert(kept.map(_._1).toSet === expected)
  }

  test("bpeTrain: hand-computed merges, greedy-left application, early stop") {
    import spark.implicits._
    // corpus: "abab" x2, "ab" x3.  Pair counts round 1: (a,b) = 2*2 + 1*3
    // = 7, (b,a) = 1*2 = 2 -> merge (a,b).  Round 2 the only pair left is
    // (ab,ab) = 2 -> merge.  Round 3 has no adjacent pairs anywhere, so a
    // 6-step budget must stop early with exactly 2 rows.
    val words = Seq(("abab", 2L), ("ab", 3L)).toDF("w", "wc")
    val got = Corpus.bpeTrain(words, steps = 6)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "a", "b", "ab", 7L),
      (2L, "ab", "ab", "abab", 2L)))
    // greedy-left in a run of identical symbols: "aaa" pairs (a,a) twice
    // in round 1; the replace pairs the LEFTMOST two, so round 2 must see
    // (aa, a) — a right-to-left application would produce (a, aa)
    val runs = Seq(("aaa", 1L)).toDF("w", "wc")
    val got2 = Corpus.bpeTrain(runs, steps = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got2 === Seq(
      (1L, "a", "a", "aa", 2L),
      (2L, "aa", "a", "aaa", 1L)))
    // tie-break: equal counts resolve by pair bytes ascending — "xy" x1
    // and "za" x1 tie at 1; (x,y) < (z,a) byte-wise
    val ties = Seq(("xy", 1L), ("za", 1L)).toDF("w", "wc")
    val got3 = Corpus.bpeTrain(ties, steps = 1)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got3 === Seq((1L, "x", "y", "xy", 1L)))
  }

  test("dsirSelect matches a single-node BigInt recount of the surrogate score") {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect()
    // reference recount: bag-of-bigram counts, exact BigInt ratio
    val bigrams = docs.map { case (id, lang, text) =>
      val t = text.split(" ", -1)
      (id, lang, t.sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))).toSeq)
    }.filter(_._3.nonEmpty)
    val tgtC = bigrams.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rawC = bigrams.flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nT = BigInt(tgtC.values.sum)
    val nR = BigInt(rawC.values.sum)
    val want = bigrams.map { case (id, lang, bs) =>
      val sumCt = BigInt(bs.map(b => tgtC.getOrElse(b, 0L)).sum)
      val sumCr = BigInt(bs.map(rawC).sum)
      (id, lang, bs.length.toLong,
        (sumCt * nR * 1000000 / (sumCr * nT)).toLong)
    }.sortBy { case (id, _, _, sc) => (-sc, id) }.take(100)
    val got = Corpus.dsirSelect(spark, sfDir)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got === want.toSeq)
    // the target slice scores structurally high: en docs dominate the
    // selected head relative to their corpus share
    val enShare = got.count(_._2 == "en").toDouble / got.length
    val enCorpus = docs.count(_._2 == "en").toDouble / docs.length
    assert(enShare >= enCorpus, s"selected en=$enShare corpus en=$enCorpus")
  }

  test("takedown stats: subtractive update equals full recompute; " +
    "tokens whose df reaches 0 vanish") {
    import spark.implicits._
    val docs = Seq(
      ("src_a", 1L, "alpha beta alpha"),
      ("src_a", 2L, "beta gamma"),
      ("src_a", 3L, "alpha delta delta"),
      ("src_b", 4L, "alpha alpha"),
      ("src_b", 5L, "omega")
    ).toDF("source", "doc_id", "text")
    val standing = Corpus.sourceTokenStats(docs).localCheckpoint(true)
    // remove 1 and 5: src_a loses one alpha-doc (df 2->1, tf 3->1) and
    // its only... beta survives in 2; src_b loses its ONLY omega doc —
    // that (source, token) row must VANISH, not linger at df=0
    val removed = docs.where($"doc_id".isin(1L, 5L))
    val got = Corpus.takedownStatsOn(standing, removed)
      .as[(String, String, Long, Long)].collect().toSeq
    val want = Corpus
      .sourceTokenStats(docs.where(!$"doc_id".isin(1L, 5L)))
      .orderBy($"source", $"token")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got === want)
    assert(!got.exists(r => r._1 == "src_b" && r._2 == "omega"))
    // src_a alpha after removal: doc 3 only -> tf 1, df 1; src_b alpha
    // untouched: tf 2, df 1
    assert(got.filter(_._2 == "alpha").toSet ===
      Set(("src_a", "alpha", 1L, 1L), ("src_b", "alpha", 2L, 1L)))
    standing.unpersist()
  }

  test("count-min sketch: point estimates overestimate only; takedown " +
    "subtraction equals the filtered-corpus sketch exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "beta beta delta"),
      (3L, "alpha epsilon"),
      (4L, "zeta zeta zeta")
    ).toDF("doc_id", "text")
    val cells = Corpus.cmCells(docs)
      .as[(Long, Long, Long)].collect()
      .map { case (d, c, n) => (d, c) -> n }.toMap
    // exact counts for the overestimate check
    val truth = docs.select(explode(split($"text", " ")).as("t"))
      .groupBy($"t").count().as[(String, Long)].collect().toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def estimate(token: String): Long = (0L until 4L).map { d =>
      val col = java.lang.Long.parseLong(
        md5hex(s"$d:$token").substring(0, 2), 16)
      cells.getOrElse((d, col), 0L)
    }.min
    truth.foreach { case (t, n) =>
      assert(estimate(t) >= n, s"$t: est ${estimate(t)} < true $n")
    }
    // linearity: standing minus removed-docs cells == filtered sketch
    val sub = Corpus.cmCells(docs.where($"doc_id".isin(2L, 4L)))
      .select($"depth", $"col", $"cnt".as("cnt_rem"))
    val inc = Corpus.cmCells(docs).join(sub, Seq("depth", "col"), "left")
      .select($"depth", $"col",
        ($"cnt" - coalesce($"cnt_rem", lit(0L))).as("cnt"))
      .where($"cnt" > 0)
      .as[(Long, Long, Long)].collect().toSet
    val want = Corpus.cmCells(docs.where(!$"doc_id".isin(2L, 4L)))
      .as[(Long, Long, Long)].collect().toSet
    assert(inc === want)
  }

  test("shardAssign: deterministic, total, positions are per-shard ranks") {
    import spark.implicits._
    val a = Corpus.shardAssign(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val b = Corpus.shardAssign(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(a.toSeq === b.toSeq) // reproducible across runs
    assert(a.map(_._1).distinct.length === a.length)
    a.groupBy(_._2).foreach { case (shard, docs) =>
      assert(shard >= 0 && shard < 8)
      // positions are exactly 1..n within the shard
      assert(docs.map(_._3).sorted.toSeq === (1L to docs.length).toSeq)
    }
  }

  test("takedownIndexOn edge cases: vanished token, posting re-fill " +
    "from below the old cap cut, byte-identical pass-through") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // "hot" in docs 0..11 (cap 8 -> served postings 0..7; 8..11 below
    // the cut); "solo" only in a removed doc; "calm" in untouched docs
    val docs = ((0 until 12).map(i =>
        (i.toLong, if (i == 0) "hot solo" else "hot")) ++
      Seq((20L, "calm x"), (21L, "calm")))
      .toDF("doc_id", "text")
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
      .localCheckpoint(true)
    val servedRows = served.as[(String, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(servedRows("hot")._3 === "0,1,2,3,4,5,6,7")
    val rm = docs.where($"doc_id".isin(0L, 3L))
    val got = graft.operators.Corpus.takedownIndexOn(full, served, rm)
      .as[(String, Long, String)].collect().map(r => r._1 -> r).toMap
    // vanished: solo's last posting was removed -> the token is gone
    assert(!got.contains("solo"))
    // re-fill: docs 8 and 9 rise from below the old cut — information
    // the served row discarded, recoverable only from the full postings
    assert(got("hot") === (("hot", 10L, "1,2,4,5,6,7,8,9")))
    // pass-through: calm's served row re-emits EXACTLY (never re-read,
    // never re-elected — the work-∝-affected-tokens claim)
    assert(got("calm") === servedRows("calm"))
    assert(got("x") === servedRows("x"))
    assert(got.keySet === Set("hot", "calm", "x"))
    graft.Scope.free(served)
  }
}
