package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpecBase {

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every top-K entry point against its row_number window over a
    * (q_id, neighbor_id, cosine) frame: per q_id, the aggregate's entries
    * in rank order equal the window's first `k` rows — ids-only and
    * (id, score) under (cosine DESC, neighbor_id), the payload form
    * carrying `pay` through, and the pair-keyed form under (cosine DESC,
    * id_a, id_b) with id_a = neighbor_id % 5, so equal scores on one
    * id_a leave id_b (= neighbor_id) to break the tie. */
  private def assertTopKMatchesWindow(
      df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import graft.pipeline.Aggregators._
    val in = df.withColumn("id_a", $"neighbor_id" % 5)
      .withColumn("pay", $"neighbor_id" * 3 + $"q_id")
      .repartition(8) // force multi-partition partial+merge
    def window(keys: Column*)(out: Column): Map[Long, Seq[Long]] = in
      .withColumn("rank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cosine".desc +: keys: _*)))
      .where($"rank" <= k)
      .groupBy($"q_id")
      .agg(sort_array(collect_list(struct($"rank", out.as("v")))).as("l"))
      .select($"q_id", $"l.v").as[(Long, Seq[Long])].collect().toMap
    def topK(agg: org.apache.spark.sql.expressions.UserDefinedFunction,
        args: Column*)(out: String): Map[Long, Seq[Long]] = in
      .groupBy($"q_id").agg(agg(args: _*).as("l"))
      .select($"q_id", col(out)).as[(Long, Seq[Long])].collect().toMap
    val byId = window($"neighbor_id")($"neighbor_id")
    val pairEnc = ExpressionEncoder[(Long, Double)]()
    assert(topK(udaf(new TopKCosineAgg(k), pairEnc),
      $"neighbor_id", $"cosine")("l") === byId)
    assert(topK(udaf(new TopKScorePairsAgg(k), pairEnc),
      $"neighbor_id", $"cosine")("l._1") === byId)
    assert(topK(udaf(new TopKScorePayloadAgg(k),
        ExpressionEncoder[(Long, Double, Long)]()),
      $"neighbor_id", $"cosine", $"pay")("l._3") ===
      window($"neighbor_id")($"pay"))
    assert(topK(udaf(new TopKPairsByScoreAgg(k),
        ExpressionEncoder[(Long, Long, Double)]()),
      $"id_a", $"neighbor_id", $"cosine")("l._2") ===
      window($"id_a", $"neighbor_id")($"neighbor_id"))
  }

  test("cosine top-k: ranks ordered by similarity, no cartesian product") {
    import spark.implicits._
    val df = Similarity.cosineTopK(spark, sfDir).cache()
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    val rows = df.as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (hi, lo) => hi >= lo })
    }
    df.unpersist()
  }

  test("label-bucket top-k joins on the bucket key only") {
    val df = Similarity.labelBucketTopK(spark, sfDir)
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(df.count() > 0)
  }

  test("semantic dedup: drop rule matches brute force, cell-bounded join") {
    import spark.implicits._
    val df = Similarity.semanticDedup(spark, sfDir).cache()
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    val out = df.as[(Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    // brute-force re-derivation of the keep-canonical rule on the small SF
    val cells = out.map { case (id, c, _) => id -> c }.toMap
    val vecs = graft.ops.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    out.foreach { case (id, cell, isDup) =>
      val expected = vecs.keys.exists(o =>
        o < id && cells(o) == cell && cos(vecs(o), vecs(id)) >= 0.3)
      assert(expected === isDup, s"vec $id cell $cell")
    }
    df.unpersist()
  }

  /** A table directory holding `embeddings` as its embeddings table (one
    * parquet file, as the fixtures ship) and the fixture's other tables,
    * so every registered query and its DuckDB oracle can run on it. */
  private def withEmbeddings(
      embeddings: org.apache.spark.sql.DataFrame): String = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-embeddings")
    Files.list(Paths.get(sfDir)).forEach { f =>
      if (f.getFileName.toString != "embeddings.parquet")
        Files.createSymbolicLink(dir.resolve(f.getFileName), f)
    }
    val tmp = dir.resolve("embeddings.tmp")
    embeddings.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, dir.resolve("embeddings.parquet"))
    dir.toString
  }

  test("semantic dedup: an all-zero embedding is no duplicate and every " +
      "cosine stays defined, flat and two-level, as the oracles say") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val zeroId = 100L
    val dir = withEmbeddings(graft.ops.Tables.embeddings(spark, sfDir)
      .withColumn("embedding", when($"vec_id" === zeroId,
        transform($"embedding", _ => lit(0.0f))).otherwise($"embedding")))
    assertOracleAgrees(Seq("q_semantic_dedup", "q_semantic_dedup2"), dir)
    Seq(Similarity.semanticDedup(spark, dir),
        Similarity.semanticDedup2(spark, dir)).foreach { df =>
      assert(df.where($"vec_id" === zeroId).select($"is_dup")
        .as[Boolean].collect().toSeq === Seq(false))
    }
  }

  test("semantic dedup: a cell-mate at exactly tau is a duplicate, and the " +
      "higher id is the one dropped") {
    import spark.implicits._
    // one seed (vec_id < 8), so every vector shares its cell. cos(10, 11)
    // = 3 / (1 · 10) = 0.3 exactly in doubles; 13 sits just below tau
    // against 10 and near 1 against 11; the seed is below tau against all
    val rows = Seq(
      0L -> Seq(0f, 0f, 0f, 1f),
      10L -> Seq(1f, 0f, 0f, 0f),
      11L -> Seq(3f, 9f, 3f, 1f),
      13L -> Seq(3f, 9f, 3f, 1.01f))
    val dir = withEmbeddings(rows.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label"))
    val got = Similarity.semanticDedup(spark, dir)
      .as[(Long, Long, Boolean)].collect()
    assert(got.map(_._2).toSet === Set(0L))
    assert(got.map(r => r._1 -> r._3).toSeq ===
      Seq(0L -> false, 10L -> false, 11L -> true, 13L -> true))
    assertOracleAgrees(Seq("q_semantic_dedup"), dir)
  }

  test("incremental semantic dedup: fresh-only verdicts, corpus always wins, brute-force agrees") {
    import spark.implicits._
    val full = Similarity.semanticDedup(spark, sfDir)
      .as[(Long, Long, Boolean)].collect()
    val inc = Similarity.incrementalSemanticDedup(spark, sfDir)
      .as[(Long, Long, Boolean)].collect()
    // exactly the fresh split is reported, with the full pass's cells
    val fullById = full.map(r => r._1 -> r).toMap
    assert(inc.map(_._1).toSet === fullById.keySet.filter(_ % 10 >= 8))
    inc.foreach { case (id, cell, _) => assert(cell === fullById(id)._2) }
    // brute-force re-derivation of the incremental rule: a fresh vector
    // drops on ANY corpus cell-mate or a lower-id fresh cell-mate
    val cells = full.map { case (id, c, _) => id -> c }.toMap
    val vecs = graft.ops.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    inc.foreach { case (id, cell, isDup) =>
      val expected = vecs.keys.exists(o => o != id && cells(o) == cell &&
        (o % 10 < 8 || o < id) && cos(vecs(o), vecs(id)) >= 0.3)
      assert(expected === isDup, s"vec $id cell $cell")
      // and the full pass's fresh dups are a subset of the incremental's
      if (fullById(id)._3) assert(isDup, s"vec $id: full dup lost")
    }
  }

  test("PQ encode: codes match brute-force argmin; recon_err = ADC self-distance") {
    import spark.implicits._
    val out = Similarity.pqEncode(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    val vecs = graft.ops.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .toMap
    val cb = (0L until 4L).map(vecs).toArray
    out.take(50).foreach { case (id, codeKey, reconErr) =>
      val v = vecs(id)
      var expectKey = 0L
      var expectErr = 0.0
      for (m <- 0 until 8) {
        var best = 0
        var bestD = Double.PositiveInfinity
        for (c <- 0 until 4) {
          var dd = 0.0
          for (j <- 0 until 8) {
            val diff = v(m * 8 + j) - cb(c)(m * 8 + j)
            dd += diff * diff
          }
          if (dd < bestD) { bestD = dd; best = c }
        }
        expectKey += best.toLong << (2 * m)
        for (j <- 0 until 8) {
          val diff = v(m * 8 + j) - cb(best)(m * 8 + j)
          expectErr += diff * diff
        }
      }
      assert(codeKey === expectKey, s"vec $id")
      assert(math.abs(reconErr - expectErr) < 1e-9, s"vec $id")
    }
  }

  test("PQ top-k: ADC ranking matches exact reconstruction distances") {
    import spark.implicits._
    val df = Similarity.pqTopK(spark, sfDir)
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    val rows = df.as[(Long, Long, Long, Double)].collect()
    assert(rows.length === 50) // 10 probes x top-5
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to 5L).toSeq)
      // distances non-decreasing in rank
      sorted.sliding(2).foreach(p => assert(p(0)._4 <= p(1)._4))
    }
  }

  test("LSH near-dup: equi-join on (table, bucket), exact-verified") {
    val df = Similarity.nearDupLsh(spark, sfDir)
    val plan = physicalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    // every surviving pair is above the verification threshold
    import spark.implicits._
    assert(df.where($"cosine" < 0.9).count() === 0)
  }

  test("sign sequence is stable and balanced") {
    import graft.functions.VectorFunctions.signAt
    val head = (0L until 8L).map(signAt)
    assert(head.forall(v => v == 1.0 || v == -1.0))
    assert(head === (0L until 8L).map(signAt)) // deterministic
    // avalanche sanity: over a long stretch the signs are near-balanced
    // (an affine-LCG bit here was a quasi-periodic rotation sequence)
    val mean = (0L until 4096L).map(signAt).sum / 4096.0
    assert(math.abs(mean) < 0.1, s"biased sign sequence: mean=$mean")
  }

  test("quantize-err: bounded by the quantizer cell half-width") {
    import spark.implicits._
    val df = Similarity.quantizeErr(spark, sfDir).cache()
    val rows = df.as[(Long, Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, lo, hi, maxErr, mse) =>
      assert(hi >= lo, s"vec $id: hi < lo")
      // midpoint reconstruction of a 255-cell uniform quantizer can't err
      // more than half a cell (x = hi lands half a cell past the last
      // midpoint, exactly the bound)
      val bound = (hi - lo) / 510.0 * (1.0 + 1e-12)
      assert(maxErr <= bound, s"vec $id: max_err $maxErr > $bound")
      assert(mse <= maxErr * maxErr + 1e-18, s"vec $id: mse above max^2")
      assert(mse >= 0.0)
    }
    df.unpersist()
  }

  test("nearest-centroid assignment pass plans no join and no extra exchange") {
    val df = Similarity.ivfAssign(spark, sfDir)
    val plan = physicalPlan(df)
    assert(!plan.contains("Join"), plan) // narrow expression, not a BNLJ
    // the ONLY exchange is the final presentation sort's range partition
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"assignment pass shuffles: $plan")
  }

  test("LSH recall: planted near-dup twins are all recovered") {
    import spark.implicits._
    // 100 deterministic ±1 vectors in 64 dims; ids 0..9 get a twin
    // (id+1000) with ONE flipped coordinate -> cosine 62/64 ≈ 0.969,
    // while unrelated pairs concentrate near 0 (±~0.125) — recall at
    // tau=0.9 must be perfect (designed miss odds ~1e-13 per twin)
    def vec(id: Long): Array[Float] = Array.tabulate(64) { k =>
      if ((graft.functions.VecOps.fmix64(id * 64 + k) & 1L) == 0L) 1.0f
      else -1.0f
    }
    val base = (0L until 100L).map(i => (i, vec(i)))
    val twins = (0L until 10L).map { i =>
      val v = vec(i).clone(); v(7) = -v(7); (i + 1000L, v)
    }
    val e = (base ++ twins).toDF("vec_id", "v")
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
    val pairs = graft.operators.Similarity.lshNearDupPairs(e, 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expected = (0L until 10L).map(i => (i, i + 1000L)).toSet
    assert(pairs === expected,
      s"missing=${expected -- pairs} spurious=${pairs -- expected}")
  }

  test("codebook training: objective is monotone and cells partition the corpus") {
    import spark.implicits._
    val iters = 3
    val rep = graft.operators.Similarity.trainCodebook(spark, sfDir, iters)
      .as[(Long, Long, Long, Double)].collect()
    val total = graft.ops.Tables.embeddings(spark, sfDir).count()
    val byIter = rep.groupBy(_._1)
    assert(byIter.keySet === (1L to iters).toSet)
    // every iteration's cells partition the corpus
    byIter.values.foreach(rows => assert(rows.map(_._3).sum === total))
    // spherical k-means objective (mean cosine to assigned centroid,
    // weighted by cell size) never decreases across Lloyd iterations
    val obj = (1 to iters).map { it =>
      val rows = byIter(it.toLong)
      rows.map(r => r._3 * r._4).sum / total
    }
    obj.sliding(2).foreach {
      case Seq(a, b) => assert(b >= a - 1e-12, s"objective fell: $obj")
      case _ =>
    }
    // training must actually improve on the seed codebook
    assert(obj.last > obj.head, s"no improvement: $obj")
  }

  test("kcenter: planted geometry picks in farthest-first order") {
    import spark.implicits._
    import graft.functions.VectorFunctions.l2Norm
    // unit-ish 2D directions planted at known angles: seed 0 at 0°, then
    // the greedy must take 180° (most opposed), then 90° (orthogonal to
    // BOTH chosen — 45° is still 0.707-close to the seed), then 45°
    val pts = Seq(
      (0L, Array(1.0f, 0.0f)),         // 0°   (seed: lowest vec_id)
      (1L, Array(0.7071f, 0.7071f)),   // 45°
      (2L, Array(0.0f, 1.0f)),         // 90°
      (3L, Array(-1.0f, 0.0f)))        // 180°
    val e = pts.toDF("vec_id", "v").withColumn("nrm", l2Norm($"v"))
    val got = Similarity.kcenterFrom(e, 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._2) === Seq(0L, 3L, 2L, 1L))
    // the coverage certificate: radii (max-cos to prior picks) are
    // non-decreasing after the seed — each pick is less isolated
    val radii = got.drop(1).map(_._3)
    assert(radii === radii.sorted)
    assert(math.abs(radii(0) - (-1.0)) < 1e-6)     // 180° vs seed
    assert(math.abs(radii(1) - 0.0) < 1e-6)        // 90° vs {0°, 180°}
    assert(math.abs(radii(2) - 0.7071) < 1e-3)     // 45° vs the rest
    // and on the real table: deterministic + monotone
    val a = Similarity.kcenterSelect(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSeq
    val b = Similarity.kcenterSelect(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(a === b)
    val r = a.drop(1).map(_._3)
    assert(r === r.sorted)
  }

  test("cell-balanced sample: exact per-cell quota, members only, deterministic") {
    import spark.implicits._
    val sample = Similarity.cellSample(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val cells = Similarity.ivfAssign(spark, sfDir)
      .select($"vec_id", $"centroid_id").as[(Long, Long)].collect()
    val cellSizes = cells.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val byCell = sample.groupBy(_._2)
    // every cell is represented with exactly ceil(0.2 * |cell|) picks
    assert(byCell.keySet === cellSizes.keySet)
    byCell.foreach { case (c, picks) =>
      val quota = math.ceil(cellSizes(c) * 0.2).toLong
      assert(picks.length.toLong === quota, s"cell $c: ${picks.length} != $quota")
      assert(picks.map(_._3).sorted.toSeq === (1L to quota))
    }
    // picks are members of their cell
    val assign = cells.toMap
    sample.foreach { case (v, c, _) => assert(assign(v) === c) }
    // deterministic: a second run returns the identical set
    val again = Similarity.cellSample(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq === sample.sortBy(_._1).toSeq)
  }

  test("TopKCosineAgg reproduces the row_number window exactly, " +
    "cosine ties included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // 8+ neighbors share each cosine level, so tie-break order (lowest
    // neighbor_id first) decides membership at the rank-10 boundary —
    // the aggregate must reproduce
    // row_number() OVER (ORDER BY cosine DESC, neighbor_id) <= 10
    val rows = for {
      q <- 0L until 5L
      nb <- 0L until 57L
    } yield (q, nb, (nb % 7).toDouble / 7.0)
    val df = rows.toDF("q_id", "neighbor_id", "cosine")
    val w = Window.partitionBy($"q_id")
      .orderBy($"cosine".desc, $"neighbor_id")
    val want = df.withColumn("rank", row_number().over(w))
      .where($"rank" <= 10).select($"q_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val tk = udaf(new graft.pipeline.Aggregators.TopKCosineAgg(10),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Double)]())
    val agged = df.groupBy($"q_id")
      .agg(tk($"neighbor_id", $"cosine").as("nbrs"))
    val got = agged
      .select($"q_id", explode($"nbrs").as("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    assert(got === want)
    // finish() returns ids in RANK order, not merely the right set
    val ordered = agged.where($"q_id" === 0)
      .select($"nbrs").as[Seq[Long]].head()
    val wantOrdered = df.where($"q_id" === 0)
      .orderBy($"cosine".desc, $"neighbor_id")
      .select($"neighbor_id").as[Long].take(10).toSeq
    assert(ordered === wantOrdered)
    // the payload and pair-keyed aggregators share the buffer and its
    // order; the pair form's (cosine, id_a) ties fall to id_b
    assertTopKMatchesWindow(df, 10)
  }

  test("labelBucketTopK planted label skew: the dominant label is " +
    "sub-partitioned by cells, and output matches brute force") {
    import spark.implicits._
    // maximal label skew: EVERY vector carries label 7, spread over 8
    // well-separated latent directions (seed rows 0..7 are one per
    // direction). The label alone would make one 400-row window
    // partition (160k pairs in one sort); the (label, centroid) cell
    // key must split it into ~50-row cells — the claim labelBucketTopK's
    // scaladoc makes for its documented window-rank exception.
    val n = 400
    def vecOf(i: Int): Array[Float] = Array.tabulate(64) { d =>
      val base = if (d == (i % 8) * 8) 1.0f else 0.0f
      val noise = (java.lang.Math.floorMod(
        (i * 2862933555777941757L + d * 3037000493L), 2001L) - 1000L) /
        10000.0f
      base + noise
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-labelskew").toString
    (0 until n).map(i => (i.toLong, vecOf(i), 7))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      // cell-boundedness, via the PUBLIC assignment query on the same
      // table: every cell holds ≪ the label's population
      val pops = Similarity.ivfAssign(spark, dir)
        .groupBy($"centroid_id").count()
        .as[(Long, Long)].collect().toMap
      assert(pops.size >= 6, s"skewed label collapsed into cells: $pops")
      assert(pops.values.max <= n / 4,
        s"a cell absorbed the label partition: $pops")
      // brute-force recount (same double fold order as the kernels)
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var acc = 0.0; var k = 0
        while (k < 64) { acc += a(k).toDouble * b(k).toDouble; k += 1 }
        acc
      }
      def nrm(a: Array[Float]) = math.sqrt(dot(a, a))
      val vs = (0 until n).map(i => i.toLong -> vecOf(i)).toMap
      val cellOf = Similarity.ivfAssign(spark, dir)
        .select($"vec_id", $"centroid_id")
        .as[(Long, Long)].collect().toMap
      val want = cellOf.groupBy(_._2).toSeq.flatMap { case (cell, ms) =>
        val ids = ms.keys.toSeq.sorted
        val pairs = for {
          a <- ids; b <- ids if a < b
        } yield (a, b, dot(vs(a), vs(b)) / (nrm(vs(a)) * nrm(vs(b))))
        pairs.sortBy { case (a, b, c) => (-c, a, b) }.take(3)
          .zipWithIndex
          .map { case ((a, b, c), r) =>
            (7L, cell, (r + 1).toLong, a, b, c) }
      }.sortBy(t => (t._2, t._3)).toSeq
      val got = Similarity.labelBucketTopK(spark, dir)
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
      assert(got === want)
    } finally {
      def rm(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles().foreach(rm)
        p.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("trainedCodebook2: deterministic, dense ascending ids, finite " +
    "nonzero centroids, usable by the two-level builder") {
    import spark.implicits._
    val vecs = graft.ops.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".as("v"))
    val a = Similarity.trainedCodebook2(vecs, k = 6, iters = 2,
      trainPerCell = 16)
    val b = Similarity.trainedCodebook2(vecs, k = 6, iters = 2,
      trainPerCell = 16)
    assert(a.map(_._1) === (0L until 6L))
    assert(a.map(_._1) === b.map(_._1))
    a.zip(b).foreach { case ((_, va), (_, vb)) =>
      assert(va.toSeq === vb.toSeq) // retrain reproduces bit-identically
    }
    a.foreach { case (_, v) =>
      assert(v.forall(x => !x.isNaN && !x.isInfinite))
      assert(v.map(x => x.toDouble * x).sum > 0, "zero-norm centroid")
    }
    // the trained codebook feeds the hierarchy builder directly
    val cb2 = Similarity.twoLevelFromSeq(a, nSuper = 2, refineIters = 1)
    assert(cb2.offs.last === 6)
    assert(cb2.offs.sliding(2).forall(p => p(1) > p(0)))
  }

  test("trainedPqBook: deterministic, correct shape, float and double " +
    "inputs, and the trained book beats the seed book's distortion") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = graft.ops.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".as("v"))
    val a = Similarity.trainedPqBook(vecs, "v", "vec_id",
      mSub = 8, subDim = 8, k = 4, iters = 2, perCode = 16)
    val b = Similarity.trainedPqBook(vecs, "v", "vec_id",
      mSub = 8, subDim = 8, k = 4, iters = 2, perCode = 16)
    assert(a.length === 8)
    a.foreach { sub =>
      assert(sub.length === 4)
      sub.foreach { c =>
        assert(c.length === 8)
        assert(c.forall(x => !x.isNaN && !x.isInfinite))
      }
    }
    // retrain from the same table reproduces the book bit-identically
    a.zip(b).foreach { case (sa, sb) =>
      sa.zip(sb).foreach { case (ca, cb) => assert(ca.toSeq === cb.toSeq) }
    }
    // the residual contract: the same trainer runs on a DOUBLE array
    // column (the rv frames ivfPqResidualTopK builds) with the same
    // determinism
    val dbl = vecs.select($"vec_id",
      transform($"v", x => x.cast("double")).as("v"))
    val d1 = Similarity.trainedPqBook(dbl, "v", "vec_id",
      mSub = 8, subDim = 8, k = 4, iters = 1, perCode = 16)
    val d2 = Similarity.trainedPqBook(dbl, "v", "vec_id",
      mSub = 8, subDim = 8, k = 4, iters = 1, perCode = 16)
    d1.zip(d2).foreach { case (sa, sb) =>
      sa.zip(sb).foreach { case (ca, cb) => assert(ca.toSeq === cb.toSeq) }
    }
    // quality: mean ADC self-distance (reconstruction error) of the
    // trained book strictly under the seed book's — the defect the
    // trainer exists to fix (seed sub-centroids are arbitrary rows)
    val seed = Similarity.trainedPqBook(vecs, "v", "vec_id",
      mSub = 8, subDim = 8, k = 4, iters = 0, perCode = 16)
    def meanErr(book: Array[Array[Array[Double]]]): Double = {
      val e = vecs.select($"v",
        graft.functions.VectorExpressions.pq_encode($"v", book).as("c"))
      e.select(avg(graft.functions.VectorExpressions
        .pq_adc($"v", $"c", book))).collect().head.getDouble(0)
    }
    val errSeed = meanErr(seed)
    val errTrained = meanErr(a)
    assert(errTrained < errSeed,
      s"trained $errTrained !< seed $errSeed")
  }

  test("twoLevelFrom compacts empty supers; kernel skips empty/NaN " +
    "supers and never returns a non-child, degenerate probes included") {
    import graft.functions.VecOps
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def vecOf(seed: Long): Array[Float] = Array.tabulate(6)(d =>
      (java.lang.Math.floorMod(mix(seed * 53 + d), 2001) - 1000) / 1000.0f)
    // REFINED structures (Lloyd rounds can orphan a super — the
    // empty-cluster case the round-10 tests never reached): the
    // compacted CSR must have strictly increasing offs and every probe
    // must land on a real child
    for (seed <- 0 until 40; refine <- 1 to 3) {
      val k = 5 + seed % 20
      val s0 = math.min(1 + seed % 7, k)
      val codebook = (0 until k).map(j => (j.toLong, vecOf(seed * 31 + j)))
      val cb2 = graft.operators.Similarity
        .twoLevelFromSeq(codebook, s0, refine)
      assert(cb2.offs.head === 0 && cb2.offs.last === k)
      assert(cb2.offs.sliding(2).forall(p => p(1) > p(0)),
        s"empty super survived compaction: ${cb2.offs.toSeq}")
      val childIds = cb2.ids.toSet
      for (pSeed <- 0 until 3; nprobe <- Seq(1, 2)) {
        val pv = vecOf(seed * 977 + pSeed)
        val nrm = math.sqrt(pv.map(x => x.toDouble * x).sum)
        val res = VecOps.nearestCentroid2(
          new GenericArrayData(pv), true, nrm,
          cb2.superCents, cb2.superNorms, cb2.offs, cb2.ids, cb2.cents,
          cb2.norms, nprobe)
        assert(childIds.contains(res.getLong(1)), res.getLong(1))
        assert(res.getLong(0) >= 0 &&
          res.getLong(0) < cb2.superCents.length)
      }
      // zero-norm probe: all cosines NaN — the fallback must still
      // return a deterministic REAL child, never Long.MinValue
      val z = new GenericArrayData(Array.fill(6)(0.0f))
      val rz = VecOps.nearestCentroid2(z, true, 0.0,
        cb2.superCents, cb2.superNorms, cb2.offs, cb2.ids, cb2.cents,
        cb2.norms, 1)
      assert(childIds.contains(rz.getLong(1)), rz.getLong(1))
    }
    // hand-built CSR with an EMPTY first super (defense-in-depth for
    // structures not built by twoLevelFrom): the kernel must skip it
    // even when it is the nearest super
    val sup = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val supN = Array(1.0, 1.0)
    val offs = Array(0, 0, 2) // super 0: empty; super 1: children 0, 1
    val ids = Array(7L, 9L)
    val cents = Array(Array(1.0, 0.1), Array(0.0, 1.0))
    val norms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val probe = new GenericArrayData(Array(1.0f, 0.0f)) // nearest: sup 0
    val r = VecOps.nearestCentroid2(probe, true, 1.0,
      sup, supN, offs, ids, cents, norms, 1)
    assert(r.getLong(0) === 1L && r.getLong(1) === 7L, r)
  }

  test("Codebook2 margin statistic self-reports the recall regime: " +
    "clustered children wide, isotropic near-zero, single super +inf") {
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def noise(seed: Long, d: Int): Float =
      (java.lang.Math.floorMod(mix(seed * 53 + d), 2001) - 1000) / 1000.0f
    val dim = 16
    // clustered: 4 orthogonal anchors, children = anchor + small jitter
    // (the geometry a manifold-trained codebook has)
    val clustered = (0 until 64).map { j =>
      val v = Array.tabulate(dim)(d => 0.12f * noise(j + 1000L, d))
      v(j % 4) += 1.0f
      (j.toLong, v)
    }
    // isotropic: random directions (ivf2_recall's worst case)
    val iso = (0 until 64).map(j =>
      (j.toLong, Array.tabulate(dim)(d => noise(j + 5000L, d))))
    val cbC = graft.operators.Similarity
      .twoLevelFromSeq(clustered, nSuper = 4, refineIters = 2)
    val cbI = graft.operators.Similarity
      .twoLevelFromSeq(iso, nSuper = 4, refineIters = 2)
    // clustered sits decisively above isotropic on BOTH statistics —
    // the pairing ivf2_margin measures at scale with recall attached
    assert(cbC.marginMean > 0.5, s"clustered mean ${cbC.marginMean}")
    assert(cbC.marginP10 > 0.3, s"clustered p10 ${cbC.marginP10}")
    assert(cbI.marginMean < cbC.marginMean / 2,
      s"iso mean ${cbI.marginMean} vs clustered ${cbC.marginMean}")
    assert(cbI.marginP10 < cbC.marginP10 / 2,
      s"iso p10 ${cbI.marginP10} vs clustered ${cbC.marginP10}")
    // single live super: routing cannot lose — reported as +inf
    val one = graft.operators.Similarity
      .twoLevelFromSeq(iso, nSuper = 1, refineIters = 0)
    assert(one.marginMean.isPosInfinity && one.marginP10.isPosInfinity)
    // margins are deterministic (the replay contract extends to the
    // self-report: a restarted stream rebuilds the same statistic)
    val cbC2 = graft.operators.Similarity
      .twoLevelFromSeq(clustered, nSuper = 4, refineIters = 2)
    assert(cbC.marginMean === cbC2.marginMean &&
      cbC.marginP10 === cbC2.marginP10)
  }

  test("TopKCosineAgg matches the window under NaN scores " +
    "(Double.compare total order, NaN ranked largest like Spark)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // zero-norm vectors yield cosine = NaN; Spark's DESC sort puts NaN
    // first. A naive `>`/`==` comparator is never true for NaN, which
    // breaks the sorted-buffer invariant — this pins the buffer's
    // Double.compare-based ordering against the window on a mix of
    // NaN, negative, -0.0/0.0 and tied finite scores.
    val rows = (for {
      q <- 0L until 3L
      nb <- 0L until 40L
    } yield {
      val score = nb % 8 match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case 3 => -0.5
        case k => (k % 3).toDouble / 3.0
      }
      (q, nb, score)
    })
    val df = rows.toDF("q_id", "neighbor_id", "cosine")
    val w = Window.partitionBy($"q_id")
      .orderBy($"cosine".desc, $"neighbor_id")
    val want = df.withColumn("rank", row_number().over(w))
      .where($"rank" <= 7)
      .orderBy($"q_id", $"rank")
      .select($"q_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSeq
    val tk = udaf(new graft.pipeline.Aggregators.TopKCosineAgg(7),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Double)]())
    val got = df.repartition(8) // force multi-partition partial+merge
      .groupBy($"q_id")
      .agg(tk($"neighbor_id", $"cosine").as("nbrs"))
      .select($"q_id", posexplode($"nbrs").as(Seq("pos", "neighbor_id")))
      .orderBy($"q_id", $"pos")
      .select($"q_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSeq
    assert(got === want)
    // every entry point, over the full ranking: NaN first, -0.0 tied
    // with 0.0 (Spark's sort treats them as equal, so the id decides),
    // and the pair form's (score, id_a) ties broken by id_b
    assertTopKMatchesWindow(df, 40)
  }

  test("ann recall: multi-probe dominates single-cell per probe (superset candidates)") {
    import spark.implicits._
    // nprobe=3's candidate set is a superset of nprobe=1's, and any
    // candidate displacing a true-top-3 member from the approx top-3
    // must itself be in the true top-3 — so per-probe hits can only go
    // up. A violation means the two gates rank against different truth.
    val single = Similarity.annRecall(spark, sfDir)
      .select($"q_id", $"n_hit").as[(Long, Long)].collect().toMap
    val multi = Similarity.annRecallMultiprobe(spark, sfDir)
      .select($"q_id", $"n_hit").as[(Long, Long)].collect().toMap
    assert(single.keySet === multi.keySet)
    single.foreach { case (q, h) =>
      assert(multi(q) >= h, s"probe $q: multiprobe ${multi(q)} < single $h")
    }
    assert(multi.values.sum > single.values.sum,
      "nprobe=3 should strictly improve total recall on these fixtures")
  }

  test("ivfPqRerankTopK is the exact-L2 re-ranking of the ADC " +
    "shortlist: members come from the shortlist, order is exact, " +
    "exactness verified against a spec-side recompute") {
    import spark.implicits._
    // the residual gate's top-5 IS the rerank gate's shortlist (same
    // R·k, same tie rule), so the composition is cross-checkable from
    // the two registered surfaces alone
    val shortlist = Similarity.ivfPqResidualTopK(spark, sfDir)
      .select($"q_id", $"neighbor_id", $"adist")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(r => r._2 -> r._3).toMap }
    val rr = Similarity.ivfPqRerankTopK(spark, sfDir)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(rr.nonEmpty)
    val vecs = graft.ops.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val t = a(i).toDouble - b(i).toDouble; acc += t * t; i += 1
      }
      acc
    }
    rr.groupBy(_._1).foreach { case (q, rows) =>
      val sl = shortlist(q)
      val byRank = rows.sortBy(_._2)
      byRank.foreach { case (_, _, n, dist2, adist) =>
        assert(sl.contains(n), s"probe $q: $n not in the ADC shortlist")
        assert(sl(n) === adist, s"probe $q: carried adist drifted")
        assert(math.abs(d2(vecs(q), vecs(n)) - dist2) < 1e-9,
          s"probe $q -> $n: dist2 not the exact squared L2")
      }
      // exact order, (dist2, id) ties — and the kept rows are the
      // dist2-smallest of the WHOLE shortlist, not just sorted
      val keyOf: ((Long, Long, Long, Double, Double)) => (Double, Long) =
        r => (r._4, r._3)
      assert(byRank.map(keyOf) === byRank.map(keyOf).sorted)
      val kept = byRank.map(_._3).toSet
      val best = sl.keys.toSeq
        .map(n => (d2(vecs(q), vecs(n)), n)).sorted
        .take(byRank.length).map(_._2).toSet
      assert(kept === best, s"probe $q: kept $kept != exact-best $best")
    }
  }

  test("ivf2PqTrainedTopK composes the trained residual chain: " +
    "exact re-rank order and dist2, and the one-Lloyd-round book " +
    "is not the seed book") {
    import spark.implicits._
    val tr = Similarity.ivf2PqTrainedTopK(spark, sfDir)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(tr.nonEmpty)
    assert(tr.groupBy(_._1).size === 10) // the 10 gate probes
    val vecs = graft.ops.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val t = a(i).toDouble - b(i).toDouble; acc += t * t; i += 1
      }
      acc
    }
    tr.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      byRank.foreach { case (_, _, n, dist2, _) =>
        assert(math.abs(d2(vecs(q), vecs(n)) - dist2) < 1e-9,
          s"probe $q -> $n: dist2 not the exact squared L2")
      }
      val keyOf: ((Long, Long, Long, Double, Double)) => (Double, Long) =
        r => (r._4, r._3)
      assert(byRank.map(keyOf) === byRank.map(keyOf).sorted)
    }
    // training MOVED the book: the trained chain's ADC distances are
    // not the seed chain's (same probes, same shortlist rule — only
    // the sub-centroids differ; with 500 members over 4 codes the
    // one-round means cannot reproduce the 4 seed slices)
    val seed = Similarity.ivfPqRerankTopK(spark, sfDir)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(tr.map(r => (r._1, r._3, r._5)).toSet !==
      seed.map(r => (r._1, r._3, r._5)).toSet,
      "trained-chain ADC distances identical to the seed chain's — " +
        "the Lloyd round did not move the book")
  }
}
