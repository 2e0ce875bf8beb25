package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-order-of-magnitude scale probe for the dedup/ANN shapes: generates
  * a DETERMINISTIC synthetic corpus (10^5 documents / 10^5 embeddings —
  * 20x the sf0.1 fixtures, with planted near-duplicates), writes it as
  * the standard table layout, and times the three pair-producing
  * operators whose 100 TB story rests on bucketing:
  *  - q_minhash_neardup's shape (banded LSH join + exact verify),
  *  - q_dedup_clusters' shape (pairs -> connected components),
  *  - q_semantic_dedup's shape (cell-bounded cosine pair join).
  * Not a gate (no oracle at this size — DuckDB's recursive CTE would be
  * the bottleneck); the product is the wall-clock-vs-corpus-size note in
  * COVERAGE.md. Determinism: all content derives from splitmix64 of the
  * row id — re-runs produce byte-identical corpora.
  *
  *   sbt "runMain graft.tools.ScaleBench [nDocs]"
  */
object ScaleBench {

  /** splitmix64 finalizer — deterministic per-(id, slot) stream. */
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** ~80 words from a 4k vocabulary; every 47th doc is a near-copy of
    * its predecessor with 2 words swapped (shingle Jaccard ~ 0.86 > the
    * operator's tau 0.8), so the planted near-dup rate is ~2%. */
  private def docText(id: Long): String = {
    val base = if (id % 47 == 1) id - 1 else id
    val words = (0 until 80).map { j =>
      val w = java.lang.Math.floorMod(mix(base * 131 + j), 4096)
      s"w$w"
    }
    val mutated =
      if (id % 47 == 1)
        words.zipWithIndex.map { case (w, j) =>
          if (j == 13 || j == 57) s"m${java.lang.Math.floorMod(mix(id), 4096)}_$j"
          else w
        }
      else words
    mutated.mkString(" ")
  }

  /** 64-dim float vector; every 97th is its predecessor perturbed in one
    * component (cosine ~ 1), planting semantic near-dups. */
  /** Recursive delete of a local scratch path. */
  private def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
    f.delete(); ()
  }

  /** Cosine of the 64-dim probe `qv` (norm `qn`) to the centroid `c`
    * (norm `cn`). */
  private def cosTo(qv: Array[Float], qn: Double)(c: Array[Double],
      cn: Double): Double = {
    var acc = 0.0; var d = 0
    while (d < 64) { acc += qv(d) * c(d); d += 1 }
    acc / (qn * cn)
  }

  /** Probe-side routing of a two-level codebook: the probe's best
    * `superProbe` supers, then all their children ranked by
    * (cos DESC, id) — the cell ids in probe order. */
  private def rankedCells2(cb2: graft.operators.Similarity.Codebook2,
      qv: Array[Float], superProbe: Int): Array[Long] = {
    val f = cosTo(qv, math.sqrt(qv.map(x => x.toDouble * x).sum)) _
    cb2.superCents.indices
      .sortBy(i => (-f(cb2.superCents(i), cb2.superNorms(i)), i))
      .take(superProbe)
      .flatMap(sp => (cb2.offs(sp) until cb2.offs(sp + 1)))
      .sortBy(j => (-f(cb2.cents(j), cb2.norms(j)), cb2.ids(j)))
      .map(j => cb2.ids(j)).toArray
  }

  /** Probe-side routing of a flat codebook: every cell index ranked by
    * (cos DESC, index). */
  private def rankedCellsFlat(cents: Array[Array[Double]],
      norms: Array[Double], qv: Array[Float]): Array[Long] = {
    val f = cosTo(qv, math.sqrt(qv.map(x => x.toDouble * x).sum)) _
    cents.indices.sortBy(i => (-f(cents(i), norms(i)), i))
      .map(_.toLong).toArray
  }

  /** Per q_id, the top-10 vec_id set of (q_id, vec_id, score) candidates
    * under (score DESC, vec_id) — the bounded top-K aggregate, collected:
    * the truth and the approximate side of every recall rung. */
  private def top10Sets(
      cands: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
    import cands.sparkSession.implicits._
    val tk10 = udaf(new graft.pipeline.Aggregators.TopKCosineAgg(10),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Double)]())
    cands.groupBy($"q_id")
      .agg(tk10($"vec_id", col(cands.columns(2))).as("nbrs"))
      .as[(Long, Seq[Long])].collect()
      .map { case (q, ns) => q -> ns.toSet }.toMap
  }

  /** (hits, truth size) of `approx` against `truth`, summed over the
    * truth's probes. */
  private def recallHits(truth: Map[Long, Set[Long]],
      approx: Map[Long, Set[Long]]): (Int, Int) =
    truth.toSeq.map { case (q, ts) =>
      (approx.getOrElse(q, Set.empty).intersect(ts).size, ts.size)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  private def vec(id: Long): Array[Float] = {
    val base = if (id % 97 == 1) id - 1 else id
    val v = Array.tabulate(64) { d =>
      (java.lang.Math.floorMod(mix(base * 257 + d), 2001) - 1000) / 1000.0f
    }
    if (id % 97 == 1) v(7) = v(7) + 0.01f
    v
  }

  /** Clustered 64-dim vector with PLANTED neighbor structure for the
    * deployment-geometry recall rung: 256 latent clusters, cluster
    * chosen by HASH of the id (deliberately not `id % 256`: the
    * codebook seeds are the first 256 rows, and modulo assignment
    * would hand training a perfect one-seed-per-cluster start —
    * hashing makes Lloyd do real work from a lumpy seed), center ± a
    * small per-component noise. Intra-cluster cosine ≈ 0.98,
    * inter-cluster ≈ N(0, 0.125) — a probe's true top-10 is
    * in-cluster, so recall measures whether the trained IVF actually
    * recovered the latent cells. */
  private def clusteredVec(id: Long): Array[Float] = {
    val c = java.lang.Math.floorMod(mix(id * 31 + 17), 256)
    Array.tabulate(64) { d =>
      val center =
        (java.lang.Math.floorMod(mix(c * 53L + d), 2001) - 1000) / 1000.0f
      val noise =
        (java.lang.Math.floorMod(mix(id * 977 + d), 2001) - 1000) / 1000.0f
      center + noise * 0.15f
    }
  }

  /** Deployment-geometry vector for the semdedup rung: `k` latent
    * clusters (same analytic centers as [[clusteredVec]]'s formula),
    * noise 0.6 (intra-cluster cosine ~0.74 — under any dedup τ), and
    * every id ≡ 1 (mod 1000) a ×0.5-scaled colinear twin (cosine
    * exactly 1) of its predecessor. Object-level so the Dataset map
    * closure serializes without dragging the driver scope along. */
  private def deployVec(id: Long, k: Int): Array[Float] = {
    val base = if (id % 1000 == 1) id - 1 else id
    val c = java.lang.Math.floorMod(mix(base * 31 + 17), k)
    val v = Array.tabulate(64) { d =>
      val center =
        (java.lang.Math.floorMod(mix(c * 53L + d), 2001) - 1000) / 1000.0f
      val noise =
        (java.lang.Math.floorMod(mix(base * 977 + d), 2001) - 1000) / 1000.0f
      center + noise * 0.6f
    }
    if (id % 1000 == 1) v.map(_ * 0.5f) else v
  }

  /** ivf2_deploy geometry (object-level so executor closures capture
    * only primitives, never the rung's driver-side state): analytic
    * cell centers, id→cluster hash, ordinary cluster member. */
  private def ivf2Center(c: Long, d: Int): Float =
    ((java.lang.Math.floorMod(mix(c * 53L + d), 2001) - 1000) / 1000.0f)
  private def ivf2Cluster(id: Long, k: Int): Long =
    java.lang.Math.floorMod(mix(id * 31 + 17), k)
  /** Cluster tightness knob (bench-tool, local-mode single JVM): 0.6 ≈
    * intra-cluster cosine ~0.74 (near-isotropic members — the WORST
    * case for a super layer); 0.15 ≈ ~0.98 (the clustered-manifold
    * shape real embedding corpora have, ann_recall_deploy's geometry). */
  private val ivf2Noise =
    sys.env.getOrElse("SPARK_GRAFT_IVF2_NOISE", "0.6").toFloat
  private def ivf2Member(id: Long, k: Int): Array[Float] = {
    val c = ivf2Cluster(id, k)
    Array.tabulate(64) { d =>
      val noise =
        (java.lang.Math.floorMod(mix(id * 977 + d), 2001) - 1000) / 1000.0f
      ivf2Center(c, d) + noise * ivf2Noise
    }
  }
  /** ivf2_margin lane generators (object-level so executor closures
    * reference the module statically instead of capturing an
    * eta-expanded function value): `hier = true` plants children
    * around S anchor directions — the geometry a manifold-trained
    * codebook has; `false` is ivf2Center's isotropic worst case. */
  private def marginCenter(hier: Boolean, s: Int, c: Long, d: Int): Float =
    if (hier)
      ivf2Center(java.lang.Math.floorMod(c, s.toLong), d) +
        0.22f * ((java.lang.Math.floorMod(mix(c * 71L + d * 13L + 5L),
          2001) - 1000) / 1000.0f)
    else ivf2Center(c, d)
  private def marginMember(
      hier: Boolean, s: Int, k: Int, id: Long): Array[Float] = {
    val c = ivf2Cluster(id, k)
    Array.tabulate(64) { d =>
      val noise =
        (java.lang.Math.floorMod(mix(id * 977 + d), 2001) - 1000) / 1000.0f
      marginCenter(hier, s, c, d) + noise * ivf2Noise
    }
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    // Shuffle partitions scale with the probe size so per-task sort
    // state fits in execution memory: at 5·10⁷ docs the LSH band
    // self-join sorts bands×n rows, and 32 partitions put ~1.2 GB of
    // unsafe rows in each task's sorter — the spill files (~65 GB)
    // filled the disk before the memory ceiling ever mattered. ~312k
    // base-table rows per partition (≈10M band rows ≈ 240 MB of sort
    // state) keeps each sorter in memory; AQE coalesces the stages
    // where that over-partitions. ≤10⁷ stays at exactly 32, so all
    // prior figures' conditions are unchanged.
    val shuffleParts = math.max(32L, n / 312500L).toString
    // Past 10⁷ the cumulative text-width exchanges of the curation
    // cascade outgrow this single host's scratch disk under lz4 (the
    // 5·10⁷ rung filled ~65 GB of shuffle files); zstd shrinks shuffle
    // and spill blocks ~40% for ~10% stage CPU. A real cluster
    // distributes shuffle storage across executors — this is a
    // single-host harness bound, not an engine shape. ≤10⁷ keeps lz4
    // so prior figures' conditions are unchanged.
    val shuffleCodec = if (n > 10000000L) "zstd" else "lz4"
    def session(appName: String): SparkSession =
      graft.Sessions.local("32", appName = Some(appName),
        shufflePartitions =
          Some(sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", shuffleParts)),
        conf = Map("spark.io.compression.codec" ->
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", shuffleCodec)))
    val spark = session("graft-scale")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft-scale").toString
    // the text/embedding corpora are only generated when a requested
    // shape reads them — the salt_vs_aqe rung builds its own join
    // tables and can therefore probe row counts (10⁸) whose document
    // corpus would not fit the disk
    val requested = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // ann_recall_deploy builds its clustered vectors inline (the
    // codebook-planted geometry, not the generic embedding table) — a
    // run restricted to it must not pay the corpus write (~27 GB of
    // unread parquet at 5·10⁷)
    val needCorpus = !requested.exists(
      _.subsetOf(Set("salt_vs_aqe", "ann_recall_deploy",
        "semdedup_deploy", "semstream_layout", "ivf2_deploy",
        "ivf2_recall", "ivf2_train", "ivf2_margin", "pq_train",
        "pq_rerank", "ivf2pq_deploy",
        "stats_stream")))
    // shapes that never read embeddings.parquet — a text-only probe
    // (e.g. the 10⁸ pair-family rung) skips the vector table's
    // generation cost and disk footprint entirely
    val embeddingShapes = Set("semantic_dedup", "cascade_dedup_tau95",
      "pca_project", "pca_project_sampled", "label_affinity",
      "ann_recall_deploy")
    val needEmbeddings =
      needCorpus && !requested.exists(_.intersect(embeddingShapes).isEmpty)
    // when ONLY curate shapes were requested, the stopworded text the
    // curate copy would produce is generated directly — at 5·10⁷ docs
    // the duplicate corpus is 14 GB of scratch the probe can't spare
    val curateOnly = requested.exists(r =>
      r.nonEmpty && r.subsetOf(Set("curate_corpus", "curate_stages",
        "curate_staged")))
    if (needCorpus) {
      val suffix = if (curateOnly) " the a of and" else ""
      spark.range(0, n, 1, 32)
        .map { i => (i, docText(i) + suffix, "en", s"src${i % 20}", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    if (needEmbeddings) {
      spark.range(0, n, 1, 32)
        .map { i => (i, vec(i), (i % 10).toInt) }
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }

    // Materialize by CHECKSUMMING every column of every row: a bare
    // count() lets Catalyst prune row-local work and left-join branches
    // (count references no columns), silently under-measuring the
    // operator. xxhash64 over the full row defeats all pruning for one
    // extra hash per row.
    // optional comma-separated shape filter, mirroring the Bench main's
    // SPARK_GRAFT_BENCH_ONLY — focused re-probes without the full sweep
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def time(name: String)(body: => org.apache.spark.sql.DataFrame): Unit = {
      if (!only.forall(_.contains(name))) return
      val t0 = System.nanoTime()
      val d = body
      val rows = d
        .select(xxhash64(struct(d.columns.toIndexedSeq.map(col): _*)).as("h"))
        .agg(count(lit(1)), bit_xor($"h")).collect().head.getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"shape":"$name","n":$n,"rows":$rows,"sec":$sec%.2f}""")
      // each rung measured from a clean slate: without this, the
      // previous rung's pinned blocks squeeze the execution pool and
      // inflated a following rung ~2× at 10⁷ (see graft.Scope)
      graft.Scope.close()
    }

    time("minhash_neardup") {
      graft.operators.NearDup.minhashNearDup(spark, dir)
    }
    time("dedup_clusters") {
      graft.operators.NearDup.dedupClusters(spark, dir)
    }
    // semantic dedup + cascade: the cell-bounded pair join's cost is
    // |cell|² per cell, and the probe's codebook is FIXED at K=8 — so
    // these two are probed only at ≤10^5 vectors (12.5k-row cells,
    // ~0.6G pair evals). At deployment K scales with the corpus
    // (K ∝ n / target_cell_size keeps |cell| and per-cell work
    // constant — the documented IVF lever); a fixed-K probe at 10^6
    // would measure 60G pair evals, i.e. the misconfiguration the
    // lever exists to prevent, not the operator.
    if (n <= 100000L) time("semantic_dedup") {
      graft.operators.Similarity.semanticDedup(spark, dir)
    }
    // cascade: embedding candidates verified by exact text Jaccard —
    // the claim under test is that the text-verify stage costs work
    // ∝ the CANDIDATE set, not the corpus. tau=0.95 because these
    // vectors are uniform-random (cos ~ N(0, 1/8)): the gate default
    // 0.3 is discriminative on clustered real embeddings but passes
    // ~3% of random within-cell pairs here, drowning the probe in
    // stage-1 output. At 0.95 candidates ≈ the planted 97-twins, and
    // the verify stage correctly REJECTS most of them (embedding twins
    // are planted independently of text twins — only ids ≡ 1 mod
    // 47·97 are both), which is the cascade's reason to exist.
    if (n <= 100000L) time("cascade_dedup_tau95") {
      graft.operators.Similarity.cascadeDedup(spark, dir, tau = 0.95)
    }
    // winnowing: the planted near-copies share long runs, so the
    // fingerprint-overlap pairs exist; the probe times the narrow
    // native extraction plus the df-capped postings join
    time("winnow_neardup") {
      graft.operators.NearDup.winnowNearDup(spark, dir)
    }
    // binary CDC near-dup: same planted copies through the chunk-hash
    // postings join (payloads = text bytes, as in the gate query)
    time("media_chunk_dedup") {
      graft.operators.Multimodal.mediaChunkDedup(spark, dir)
    }
    // span census + scrub: the planted near-copies share 8-token spans,
    // so the duplicated-span paths are exercised, not just scanned
    time("dup_spans") {
      graft.operators.TextOps.dupSpans(spark, dir)
    }
    time("span_scrub") {
      graft.operators.TextOps.spanScrub(spark, dir)
    }
    // PII scan+redact: row-local regex work
    time("pii_redact") {
      graft.operators.Curation.piiRedact(spark, dir)
    }
    // r14: the range-sort double-execution rung — same kernel, but a
    // hash exchange materializes the kernel output before the orderBy,
    // so the range partitioner's sample pass re-reads shuffle files
    // instead of re-running the regex kernel. Compare against the
    // pii_redact figure from the SAME run; the winner at ≥10⁷ is what
    // the gate operator adopts (see Curation.piiRedactWith).
    time("pii_redact_sortx") {
      graft.operators.Curation.piiRedactWith(spark, dir,
        sortExchange = true)
    }
    time("dedup_survivor") {
      graft.operators.NearDup.dedupSurvivor(spark, dir)
    }
    // the fused curation cascade: row-local rules + fp dedup + LSH
    // near-dup CC + survivor argmax, each stage on the prior stage's
    // survivors — should cost ~ the minhash+CC passes on the filtered
    // set, not a sum of standalone full-corpus operators. The probe
    // corpus has no stopwords (every doc would fail the low_stopword
    // rule and the later stages would run on nothing), so curate gets a
    // variant with a 4-stopword suffix: identical for every doc, so it
    // adds ~4 shared shingles out of ~84 — far below any near-dup
    // threshold — while letting the corpus through the rules.
    val curDir = if (curateOnly) dir else s"$dir-curate"
    if (needCorpus && !curateOnly)
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("text", concat($"text", lit(" the a of and")))
        .write.mode("overwrite").parquet(s"$curDir/documents.parquet")
    time("curate_corpus") {
      graft.operators.TextOps.curateCorpus(spark, curDir)
    }
    // LSH candidate-stage anatomy — explicit opt-in
    // (SPARK_GRAFT_SCALE_ONLY=lsh_anatomy): the band self-join
    // candidate stage on the banded stream, with the scan, shingle,
    // signature and banding passes timed alone as its floors, plus the
    // full verified pairs. Row count + xxhash are printed per shape.
    // same checksum materialization as `time`, minus the name filter —
    // for rungs (lsh_anatomy, salt_vs_aqe) whose opt-in gate is the rung
    // key itself and whose inner shapes print rows + xor for identity
    // comparison across variants
    def timeA(name: String)(body: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val d = body
      val Array(rows, h) = d
        .select(xxhash64(struct(d.columns.toIndexedSeq.map(col): _*)).as("h"))
        .agg(count(lit(1)), bit_xor($"h")).collect()
        .head.toSeq.map(v => Option(v).map(_.toString).getOrElse("0")).toArray
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"shape":"$name","n":$n,"rows":$rows,"xor":"$h","sec":$sec%.2f}""")
      graft.Scope.close()
    }
    if (only.exists(_.contains("lsh_anatomy"))) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"text")
      timeA("lsh_scan_only") {
        docs.select($"doc_id", length($"text").as("len"))
      }
      timeA("lsh_shingles_narrow") {
        docs.select($"doc_id", graft.functions.VectorExpressions
          .text_shingles($"text", 3).as("sh"))
      }
      timeA("lsh_sig_narrow") {
        docs.select($"doc_id", graft.functions.VectorExpressions
          .minhash_sig(graft.functions.VectorExpressions
            .text_shingles($"text", 3), graft.operators.NearDup.permCount)
          .as("mh"))
      }
      timeA("lsh_banded_narrow") {
        graft.operators.NearDup.bandedOver(docs)
      }
      timeA("lsh_candidates_join") {
        graft.operators.NearDup.candidatesFromBands(
          graft.operators.NearDup.bandedOver(docs))
      }
      // the historical UNBOUNDED verify shape (full-corpus shingle
      // join on both sides) — kept as the comparison record for the
      // candidate-bounded default below
      timeA("lsh_verified_pairs_join") {
        graft.operators.NearDup.candidatesFromBands(
          graft.operators.NearDup.bandedOver(docs))
          .join(docs.select($"doc_id".as("id_a"),
            graft.functions.VectorExpressions
              .text_shingles($"text", 3).as("sh_a")), Seq("id_a"))
          .join(docs.select($"doc_id".as("id_b"),
            graft.functions.VectorExpressions
              .text_shingles($"text", 3).as("sh_b")), Seq("id_b"))
          .withColumn("n_common", graft.functions.VectorExpressions
            .intersect_count($"sh_a", $"sh_b"))
          .where($"n_common".cast("double") /
            (size($"sh_a") + size($"sh_b") - $"n_common") >= 0.8)
          .select($"id_a", $"id_b")
      }
      // the deployed verify (candidate checkpoint + broadcast-capped
      // id semi-filter ahead of the shingle projection) — what
      // pairsOver/minhashNearDup actually run
      timeA("lsh_verified_bounded") {
        graft.operators.NearDup.pairsOver(docs)
      }
    }
    // salted-vs-AQE-vs-plain adjudication at a REAL skew scale —
    // explicit opt-in (SPARK_GRAFT_SCALE_ONLY=salt_vs_aqe): n probe rows
    // with ONE key owning ~30% of them (the straggler profile the census
    // flags at SkewSharePpm=10%), a build side far over any broadcast
    // threshold, three executions of the identical logical join:
    //   - salted:   the census-decided pre-salted form (NumSalts spread)
    //   - aqe_skew: sort-merge under AQE's runtime skew splitter, with
    //     its byte thresholds scaled to this probe (defaults are sized
    //     for 256 MB cluster partitions; the RATIO — split when a
    //     partition is ≥ 5x median — is what is under test)
    //   - plain_smj: sort-merge with skew handling off — the straggler
    //     baseline both contenders must beat
    // Row count + xor are printed per variant: all three must be
    // row-identical, the times + the decision rule go to COVERAGE.md.
    if (only.exists(_.contains("salt_vs_aqe"))) {
      val nKeys = math.max(n / 5L, 1000L)
      val joinDir = s"$dir-saltjoin"
      spark.range(0L, nKeys, 1L, 32)
        .select($"id".as("k"),
          concat(lit("payload_" * 8), $"id").as("payload"))
        .write.mode("overwrite").parquet(s"$joinDir/build.parquet")
      // ~30% of probe rows hash onto key 0, the rest spread uniformly
      spark.range(0L, n, 1L, 32)
        .select(
          when(pmod(xxhash64($"id"), lit(10L)) < 3L, 0L)
            .otherwise(pmod(xxhash64($"id" + lit(n)), lit(nKeys)))
            .as("k"),
          $"id".as("v"))
        .write.mode("overwrite").parquet(s"$joinDir/probe.parquet")
      val build = spark.read.parquet(s"$joinDir/build.parquet")
      val probe = spark.read.parquet(s"$joinDir/probe.parquet")
      // warm the page cache so the first variant doesn't pay the only
      // cold read
      build.count(); probe.count()
      val census = graft.operators.Profiling.decideJoin(build, probe)
      println(s"""{"shape":"salt_vs_aqe_census","n":$n,""" +
        s""""decision":"${census.strategy}",""" +
        s""""top_share_ppm":${census.topSharePpm}}""")
      def withConf(kv: (String, String)*)(body: => Unit): Unit = {
        val saved = kv.map { case (k, _) =>
          k -> scala.util.Try(spark.conf.get(k)).toOption }
        kv.foreach { case (k, v) => spark.conf.set(k, v) }
        try body
        finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      withConf("spark.sql.adaptive.skewJoin.enabled" -> "false") {
        timeA("salt_vs_aqe_salted") {
          graft.operators.Profiling.executeDecided(build, probe, census)
        }
      }
      withConf(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
        // scale the byte thresholds to this probe: the hot key is
        // ~30% of n rows ≈ n*0.3*16B; defaults (256 MB) would only
        // trigger past ~5x10^8 rows — the ratio under test (≥ 5x
        // median partition) is scale-free, the floor is not
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
          "4MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2MB") {
        timeA("salt_vs_aqe_aqe") {
          probe.join(build.hint("merge"), Seq("k"))
        }
      }
      withConf("spark.sql.adaptive.skewJoin.enabled" -> "false") {
        timeA("salt_vs_aqe_plain") {
          probe.join(build.hint("merge"), Seq("k"))
        }
      }
    }
    // stage attribution for the cascade — explicit opt-in
    // (SPARK_GRAFT_SCALE_ONLY=curate_stages): it re-runs the cascade's
    // stages with materialization barriers between them, deliberately
    // paying persist costs the fused plan avoids, to ATTRIBUTE the fused
    // figure, not to add to the default sweep.
    if (only.exists(_.contains("curate_stages"))) {
      import org.apache.spark.storage.StorageLevel
      def timed[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        println(f"""{"shape":"curate_stage_$name","n":$n,""" +
          f""""sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
        r
      }
      // a barrier after each stage so the clock isolates it
      val staged = timed("filter_fp") {
        val df = graft.operators.TextOps.curateStagedTable(spark, curDir)
          .persist(StorageLevel.MEMORY_AND_DISK)
        df.count(); df
      }
      val pairs = timed("lsh_pairs") {
        val df = graft.operators.NearDup.pairsOver(
            graft.operators.TextOps.curateSurvivors(staged))
          .persist(StorageLevel.MEMORY_AND_DISK)
        df.count(); df
      }
      // the fused pass's own TOUCHED-labels survivor stage
      // (TextOps.curateNd), timed behind its own barrier
      val labels = timed("cc") {
        val df = graft.operators.NearDup.touchedLabels(pairs)
        df.count(); df // checkpoint-backed; the count pins the clock
      }
      timed("survivor_verdict") {
        val (nd, ndHint) = graft.operators.TextOps.curateNd(staged, labels)
        graft.operators.TextOps.curateVerdict(staged, nd, ndHint)
          .groupBy(col("verdict")).agg(count(lit(1))).collect()
      }
      staged.unpersist(false)
      pairs.unpersist(false)
    }
    // incremental ingest: a 1% batch probed against the other 99% — the
    // claim under test is that this costs ~one corpus scan (index build)
    // plus work ∝ the BATCH, far under the full pair pass above
    time("incremental_neardup_1pct") {
      graft.operators.NearDup.incrementalPairs(
        spark.read.parquet(s"$dir/documents.parquet")
          .where($"doc_id" % 100 =!= 1)
          .select($"doc_id", graft.functions.VectorExpressions
            .text_shingles($"text", 3).as("sh")),
        spark.read.parquet(s"$dir/documents.parquet")
          .where($"doc_id" % 100 === 1)
          .select($"doc_id", graft.functions.VectorExpressions
            .text_shingles($"text", 3).as("sh")))
    }
    // real-codec multimodal family: PNG/WAV/frame-container encode +
    // decode per doc is embarrassingly parallel partition work with no
    // shuffle until the ~70-byte feature rows — throughput should be
    // linear in n (codec-bound, so probed at 10^5 where a run is
    // minutes, not the 10^6+ rungs the pair family needs)
    if (n <= 100000L) {
      time("media_features") {
        graft.operators.Multimodal.mediaFeatures(spark, dir)
      }
      time("audio_features") {
        graft.operators.Multimodal.audioFeatures(spark, dir)
      }
      time("video_frames") {
        graft.operators.Multimodal.videoFrames(spark, dir)
      }
    }
    // incremental ingest, DEPLOYMENT form: the corpus index is a stored
    // bucketed-on-bkey table built once; the probe pays only the batch's
    // work against it. The build is timed separately — it's the one-time
    // cost the recurring probe amortizes.
    if (only.forall(_.contains("incremental_persisted_1pct"))) {
      val corpusSh = spark.read.parquet(s"$dir/documents.parquet")
        .where($"doc_id" % 100 =!= 1)
        .select($"doc_id", graft.functions.VectorExpressions
          .text_shingles($"text", 3).as("sh"))
      val freshSh = spark.read.parquet(s"$dir/documents.parquet")
        .where($"doc_id" % 100 === 1)
        .select($"doc_id", graft.functions.VectorExpressions
          .text_shingles($"text", 3).as("sh"))
      val tb = System.nanoTime()
      graft.sources.Ddl.createBucketedTable(
        graft.operators.NearDup.bandIndex(corpusSh),
        "scale_lsh_idx", "bkey", buckets = 32)
      graft.sources.Ddl.stampBandScheme(spark, "scale_lsh_idx")
      val secB = (System.nanoTime() - tb) / 1e9
      println(f"""{"shape":"index_build_99pct","n":$n,"rows":-1,"sec":$secB%.2f}""")
      graft.sources.Ddl.assertBandScheme(spark, "scale_lsh_idx")
      time("incremental_persisted_1pct") {
        graft.operators.NearDup.incrementalPairsIndexed(
          corpusSh, spark.table("scale_lsh_idx"), freshSh)
      }
      spark.sql("DROP TABLE IF EXISTS scale_lsh_idx")
    }
    // BPE training: the claim under test is that the merge loop runs at
    // VOCABULARY scale — the 4k-word synthetic vocab saturates long
    // before the corpus grows, so train time should be near-flat in n
    // (only the one word-histogram scan scales with the corpus)
    time("bpe_train_6") {
      graft.operators.Corpus.bpeTrain(
        graft.operators.Corpus.wordHistogram(
          spark.read.parquet(s"$dir/documents.parquet")),
        steps = 6)
    }
    // spectral fit+transform: the claim under test is that the Gram pass
    // scales linearly (bounded D² partials per task) and the projection
    // at scan speed — together ~two corpus passes regardless of n. The
    // synthetic vectors are NOT unit-norm (quantized components to
    // ±1024), so the direct fit's 64-bit Rayleigh guard fires loudly
    // past ~10^5 vectors here — which is exactly the regime the
    // sample-fit path exists for; probe direct only below the guard.
    if (n <= 100000L) time("pca_project") {
      graft.operators.Spectral.pcaProject(spark, dir)
    }
    time("pca_project_sampled") {
      graft.operators.Spectral.pcaProjectSampled(spark, dir)
    }
    // novelty: one gram-grain exchange (8-byte keys), doc-grain rollup —
    // should track the corpus scan, never the gram pair space
    time("novelty") {
      graft.operators.TextOps.novelty(spark, dir)
    }
    // source overlap, audit path: the exact-intersection postings table
    // is corpus-grain state — affordable at audit SFs, exhausts a
    // single JVM around 10^6 docs. Probe it only below that.
    if (n <= 100000L) time("source_overlap_audit") {
      graft.operators.TextOps.sourceOverlapDocs(
        spark.read.parquet(s"$dir/documents.parquet"))
    }
    // source overlap, sketch path: per-task state ≤ S×k entries, the
    // exchange moves S×k rows — the claim under test is corpus-size
    // independence of everything past the scan
    time("source_overlap_sketch") {
      graft.operators.TextOps.sourceOverlapSketchDocs(
        spark.read.parquet(s"$dir/documents.parquet"))
    }
    // pagerank: the graph is the planted ~2% near-dup pairs — orders
    // smaller than the corpus — so the 5 rounds should cost a small
    // multiple of the one minhash pass that builds it
    time("pagerank") {
      graft.operators.NearDup.pageRankOnPairs(
        graft.operators.NearDup.minhashNearDup(spark, dir)
          .select("id_a", "id_b"))
    }
    // profiling family: all three reduce to domain- or label-bounded
    // state in one map-side-combined pass, so they should track the
    // corpus scan. Synthetic inputs: a key stream with a planted hot
    // key holding ~20% of rows (the skew the profiler exists to
    // flag), and a value stream over a fixed 10^5-bucket milli domain.
    time("skew_profile") {
      graft.operators.Profiling.skewProfileOver(
        spark.range(0, n, 1, 32)
          .select(when($"id" % 5 === 0, 0L)
            .otherwise(abs(xxhash64($"id")) % (n / 10)).as("k")))
    }
    time("anomaly_mad") {
      graft.operators.Profiling.anomalyMadOver(
        spark.range(0, n, 1, 32)
          .select(concat(lit("t"), $"id" % 5).as("event_type"),
            ((abs(xxhash64($"id", lit(1))) % 100000L)
              .cast("double") / 100.0).as("value")))
    }
    time("label_affinity") {
      graft.operators.Spectral.labelAffinity(spark, dir)
    }
    // deployment-geometry ANN recall: the gate's q_ann_recall* run 8
    // cells over 500 vectors — this rung trains K=256 via spherical
    // Lloyd over the clustered synthetic corpus and records the
    // recall@10-vs-nprobe curve against brute-force truth on a ~100-
    // probe sample. The monotonicity the gate pins should hold, and
    // recall@10 at nprobe=16 should clear 0.9 at recoverable geometry.
    // incremental SEMANTIC dedup at deployment geometry: a 0.2% fresh
    // batch (the daily-ingest shape) probes the standing corpus
    // one-sided through K=256 coarse cells. Planted ground truth the
    // run must recover EXACTLY: fresh ids ≡ 1 (mod 1000) are colinear
    // twins (×0.5 scale, cosine exactly 1) of their standing
    // predecessor — every one must flag; fresh ids ≡ 2 (mod 1000) are
    // ordinary cluster members (noise 0.6 ⇒ intra-cluster cosine ~0.74,
    // far under τ=0.95) — none may flag. Cell geometry: the latent
    // centers are ANALYTIC (the generator's own formula), so the
    // codebook is exact index metadata and the rung prices pure
    // assignment + one-sided probe cost, not training.
    if (only.forall(_.contains("semdedup_deploy"))) {
      val sdK = 256
      val cbIds = (0L until sdK.toLong).toArray
      val cbCents = Array.tabulate(sdK) { c =>
        Array.tabulate(64) { d =>
          ((java.lang.Math.floorMod(mix(c * 53L + d), 2001) - 1000) /
            1000.0f).toDouble
        }
      }
      val cbNorms = cbCents.map(c => math.sqrt(c.map(x => x * x).sum))
      val t0 = System.nanoTime()
      val assigned = spark.range(0, n, 1, 32)
        .map(i => (i, deployVec(i, sdK)))
        .toDF("vec_id", "v")
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
        .withColumn("_best", graft.functions.VectorExpressions
          .nearest_centroid($"v", $"nrm", cbIds, cbCents, cbNorms))
        .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
          $"v", $"nrm")
      val isFresh = $"vec_id" % 1000 === 1 || $"vec_id" % 1000 === 2
      val standing = assigned.where(!isFresh)
        .select($"centroid_id", $"vec_id".as("id_i"),
          $"v".as("vi"), $"nrm".as("ni"))
      val fresh = assigned.where(isFresh)
        .select($"centroid_id", $"vec_id", $"v".as("vp"), $"nrm".as("np"))
      val flagged = fresh.join(standing, Seq("centroid_id"))
        .where(graft.functions.VectorFunctions
          .cosineWithNorms($"vp", $"vi", $"np", $"ni") >= lit(0.95))
        .select($"vec_id").distinct()
      val counts = flagged
        .agg(count(lit(1)).as("n_flagged"),
          sum(when($"vec_id" % 1000 === 1, 1L).otherwise(0L))
            .as("n_twin_flagged"),
          sum(when($"vec_id" % 1000 === 2, 1L).otherwise(0L))
            .as("n_control_flagged"))
        .collect().head
      val sec = (System.nanoTime() - t0) / 1e9
      val nTwins = (1L to n - 1L by 1000L).size // ids ≡1 (mod 1000), ≥1
      println(f"""{"shape":"semdedup_deploy","n":$n,"k":$sdK,""" +
        f""""n_twins_planted":$nTwins,""" +
        f""""n_twin_flagged":${counts.getLong(1)},""" +
        f""""n_control_flagged":${counts.getLong(2)},""" +
        f""""n_flagged":${counts.getLong(0)},"sec":$sec%.2f}""")
      graft.Scope.close()
    }
    // A/B of the streaming semantic sink's two index LAYOUTS at the
    // cell-SPARSE geometry the sharded form exists for: a standing
    // index of n vectors spread over K=1024 cells (seeded directly in
    // each layout — byte-for-byte what the sink itself appends), then
    // steady-state probe batches of 256 vectors drawn from 4 cells
    // each, through the REAL semanticDedupStream. The flat layout
    // must scan the whole standing index every batch; the sharded
    // layout prunes to the touched buckets' dirs. Complements the
    // StreamBench lane, whose every-cell-touched geometry measured the
    // flat form 2.8× FASTER than one dir per cell — together they pin
    // where each layout wins.
    if (only.forall(_.contains("semstream_layout"))) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      val K = 1024
      val cbIds = (0L until K.toLong).toArray
      val cbCents = Array.tabulate(K) { c =>
        Array.tabulate(64) { d =>
          ((java.lang.Math.floorMod(mix(c * 53L + d), 2001) - 1000) /
            1000.0f).toDouble
        }
      }
      val cbNorms = cbCents.map(c => math.sqrt(c.map(x => x * x).sum))
      val codebook = cbIds.toSeq.map(c =>
        (c, cbCents(c.toInt).map(_.toFloat)))
      val root = java.nio.file.Files
        .createTempDirectory("graft-semlayout").toString
      val standing = spark.range(0, n, 1, 32)
        .map(i => (i, deployVec(i * 1000 + 3, K))) // ordinary members
        .toDF("vec_id", "v")
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
        .withColumn("_best", graft.functions.VectorExpressions
          .nearest_centroid($"v", $"nrm", cbIds, cbCents, cbNorms))
        .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
          $"v", $"nrm")
      val shardB = 32
      Seq(("flat", None), ("sharded", Some(shardB))).foreach {
        case (tag, buckets: Option[Int]) =>
        val indexDir = s"$root/index_$tag"
        val hitsDir = s"$root/hits_$tag"
        val ckpt = s"$root/ckpt_$tag"
        // seed the standing index in this layout — 32 files (flat) /
        // one sorted file per bucket (sharded), the sink's own shapes
        buckets match {
          case Some(b) =>
            standing
              .withColumn("cell_bucket", pmod($"centroid_id", lit(b.toLong)))
              .repartition(b, $"cell_bucket")
              .sortWithinPartitions($"cell_bucket", $"centroid_id")
              .write.partitionBy("cell_bucket").parquet(indexDir)
          case None => standing.write.parquet(indexDir)
        }
        val stream = MemoryStream[(Long, Array[Float])]
        val q = graft.streaming.StreamingPipeline.semanticDedupStream(
          stream.toDF().toDF("vec_id", "v"), codebook,
          indexDir, hitsDir, ckpt, tau = 0.95, cellBuckets = buckets)
        try {
          // warmup batch, then 12 timed cell-sparse batches: batch b
          // draws its 256 vectors from 4 clusters (base ids landing in
          // 4 cells), ids disjoint from the standing range
          def batchRows(b: Int): Seq[(Long, Array[Float])] =
            (0 until 256).map { j =>
              val cluster = (b * 4 + j % 4) % K
              // an id whose deployVec cluster-hash is forced by search
              val id = 2000000000L + b * 100000L + j
              (id, Array.tabulate(64) { d =>
                val center = (java.lang.Math.floorMod(
                  mix(cluster * 53L + d), 2001) - 1000) / 1000.0f
                val noise = (java.lang.Math.floorMod(
                  mix(id * 977 + d), 2001) - 1000) / 1000.0f
                center + noise * 0.6f
              })
            }
          stream.addData(batchRows(100): _*)
          q.processAllAvailable()
          val times = (0 until 12).map { b =>
            val t0 = System.nanoTime()
            stream.addData(batchRows(b): _*)
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e6
          }.sorted
          val nDirs = Option(new java.io.File(indexDir).listFiles())
            .map(_.count(_.isDirectory)).getOrElse(0)
          println(f"""{"shape":"semstream_layout","n":$n,"k":$K,""" +
            f""""layout":"$tag","batch_rows":256,"cells_per_batch":4,""" +
            f""""n_index_dirs":$nDirs,"n_batches":${times.size},""" +
            f""""batch_ms_p50":${times(times.size / 2)}%.1f,""" +
            f""""batch_ms_min":${times.head}%.1f,""" +
            f""""batch_ms_max":${times.last}%.1f}""")
        } finally q.stop()
      }
      rmrf(root)
    }
    // TWO-LEVEL quantizer at the K ∝ corpus deployment geometry — the
    // rung the flat kernel cannot run: K = m/4000 keeps cells (and so
    // per-cell pair work) constant as the corpus grows, which makes
    // ASSIGNMENT the scaling risk (flat: O(K·D) per vector, linear in
    // the corpus; two-level: O((S + K/S)·D) ≈ O(√K·D)). An INTERNAL
    // doubling ladder m ∈ {n/4, n/2, n} measures, per rung:
    //  - standing index build (two-level assignment + partitioned
    //    write, K dirs) — the index-build pass;
    //  - 8 steady-state probe batches (1024 rows from 8 cells, ¼
    //    planted colinear twins): assignment + touched-dir-pruned
    //    standing read + one-sided cell join. basePath-scoped reads
    //    list ONLY the ≤8 touched cell dirs, not K — discovery cost
    //    O(touched), the manifest-free form of partition-listing
    //    amortization;
    //  - the same batches through the FLAT kernel (same pruned read,
    //    same join) — the assignment-cost A/B;
    //  - exact planted recovery (twins are colinear ⇒ identical
    //    cosine to every centroid ⇒ same cell as their predecessor
    //    under ANY deterministic quantizer — recovery must be exact).
    // "Done" reads directly off the JSON: two-level batch_ms_p50 ~flat
    // down the ladder while K doubles; build_sec scaling ~linearly in
    // m (not m·K); twin counts exact at every rung.
    // Takedown at scale: a ~0.1% removal batch through a STANDING
    // 10⁷-doc dedup artifact — incremental (blast-radius-bounded
    // takedownSurvivors) vs the full recompute (LSH + verify + CC +
    // survivor election on the filtered corpus). Parity asserted
    // row-for-row (exceptAll both ways); the cost gap is the point:
    // the incremental path touches only affected clusters' members and
    // edges, the full path re-pays the whole pipeline.
    if (only.forall(_.contains("takedown"))) {
      import graft.operators.NearDup
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"text")
      val tP0 = System.nanoTime()
      val pairs = NearDup.pairsOver(docs).localCheckpoint(true)
      val nPairs = pairs.count()
      val pairsSec = (System.nanoTime() - tP0) / 1e9
      val tS0 = System.nanoTime()
      val standing = NearDup.survivorsFrom(docs, pairs)
        .localCheckpoint(true)
      standing.count()
      val standingSec = (System.nanoTime() - tS0) / 1e9
      val removed = docs.where($"doc_id" % 1009 === 3).select($"doc_id")
      val nRemoved = removed.count()
      val nAffected = standing
        .join(broadcast(removed), Seq("doc_id"), "leftsemi")
        .select($"cluster_id").distinct().count()
      val tI0 = System.nanoTime()
      val inc = NearDup
        .takedownSurvivors(docs, standing, pairs, removed)
        .localCheckpoint(true)
      val nInc = inc.count()
      val incSec = (System.nanoTime() - tI0) / 1e9
      // the full path re-derives everything from the filtered corpus
      val tF0 = System.nanoTime()
      val fDocs = docs.join(broadcast(removed), Seq("doc_id"),
        "left_anti").localCheckpoint(true)
      val fPairs = NearDup.pairsOver(fDocs).localCheckpoint(true)
      fPairs.count()
      val full = NearDup.survivorsFrom(fDocs, fPairs)
        .localCheckpoint(true)
      val nFull = full.count()
      val fullSec = (System.nanoTime() - tF0) / 1e9
      val bad = inc.exceptAll(full).count() + full.exceptAll(inc).count()
      println(f"""{"shape":"takedown","n":$n,"n_pairs":$nPairs,""" +
        f""""n_removed":$nRemoved,"n_affected_clusters":$nAffected,""" +
        f""""rows_incremental":$nInc,"rows_full":$nFull,""" +
        f""""parity_mismatches":$bad,""" +
        f""""standing_pairs_sec":$pairsSec%.1f,""" +
        f""""standing_survivor_sec":$standingSec%.1f,""" +
        f""""incremental_sec":$incSec%.1f,"full_recompute_sec":$fullSec%.1f}""")
      require(bad == 0L, s"takedown parity violated: $bad mismatched rows")
      graft.Scope.close()
    }

    // Retraction through DERIVED standing artifacts — the three honesty
    // classes priced at scale, all parity-asserted row-for-row:
    //  - stats (decomposable sums): subtractive update scans ONLY the
    //    removed docs vs the full re-aggregate's corpus scan — the
    //    structural ~1/removal-fraction win;
    //  - k-core (component-local): untouched components pass through,
    //    affected re-peel, vs a full re-peel of the whole filtered
    //    graph (both GIVEN the standing pairs — the pair re-derivation
    //    cost is the survivor rung's figure, not re-priced here);
    //  - pagerank (globally-coupled teleport): no passthrough exists,
    //    so the incremental path = rounds on surviving edges; its
    //    figure shows what "incremental" honestly costs when the math
    //    allows only input reuse.
    if (only.forall(_.contains("retract_derived"))) {
      import graft.operators.{Corpus, NearDup}
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"source", $"text")
      val pairs = NearDup.pairsOver(docs.select($"doc_id", $"text"))
        .localCheckpoint(true)
      val nPairs = pairs.count()
      val standing = NearDup
        .survivorsFrom(docs.select($"doc_id", $"text"), pairs)
        .localCheckpoint(true)
      standing.count()
      val removed = docs.where($"doc_id" % 1009 === 3)
        .localCheckpoint(true)
      val removedIds = removed.select($"doc_id")
      val nRemoved = removed.count()
      // ---- stats
      val tSB = System.nanoTime()
      val stats = Corpus.sourceTokenStats(docs).localCheckpoint(true)
      stats.count()
      val statsBuildSec = (System.nanoTime() - tSB) / 1e9
      val tSI = System.nanoTime()
      val incStats = Corpus.takedownStatsOn(stats, removed)
        .localCheckpoint(true)
      incStats.count()
      val statsIncSec = (System.nanoTime() - tSI) / 1e9
      val tSF = System.nanoTime()
      val fullStats = Corpus.sourceTokenStats(
        docs.join(broadcast(removedIds), Seq("doc_id"), "left_anti"))
        .localCheckpoint(true)
      fullStats.count()
      val statsFullSec = (System.nanoTime() - tSF) / 1e9
      val statsBad = incStats.exceptAll(fullStats).count() +
        fullStats.exceptAll(incStats).count()
      // ---- k-core
      val tKB = System.nanoTime()
      val core = NearDup.kcoreOnPairs(pairs).localCheckpoint(true)
      core.count()
      val coreBuildSec = (System.nanoTime() - tKB) / 1e9
      val tKI = System.nanoTime()
      val incCore = NearDup
        .takedownKcoreOn(core, standing, pairs, removedIds)
        .localCheckpoint(true)
      incCore.count()
      val kcoreIncSec = (System.nanoTime() - tKI) / 1e9
      val tKF = System.nanoTime()
      val fPairs = pairs
        .join(broadcast(removedIds.select($"doc_id".as("id_a"))),
          Seq("id_a"), "left_anti")
        .join(broadcast(removedIds.select($"doc_id".as("id_b"))),
          Seq("id_b"), "left_anti")
        .select($"id_a", $"id_b").localCheckpoint(true)
      val fullCore = NearDup.kcoreOnPairs(fPairs).localCheckpoint(true)
      fullCore.count()
      val kcoreFullSec = (System.nanoTime() - tKF) / 1e9
      val kcoreBad = incCore.exceptAll(fullCore).count() +
        fullCore.exceptAll(incCore).count()
      // ---- pagerank (rounds on surviving edges; = the full form)
      val tP = System.nanoTime()
      val incPr = NearDup.takedownPagerankOn(pairs, removedIds)
        .localCheckpoint(true)
      val nPr = incPr.count()
      val prSec = (System.nanoTime() - tP) / 1e9
      println(f"""{"shape":"retract_derived","n":$n,"n_pairs":$nPairs,""" +
        f""""n_removed":$nRemoved,""" +
        f""""stats_build_sec":$statsBuildSec%.1f,""" +
        f""""stats_incremental_sec":$statsIncSec%.1f,""" +
        f""""stats_full_sec":$statsFullSec%.1f,""" +
        f""""stats_parity_mismatches":$statsBad,""" +
        f""""kcore_build_sec":$coreBuildSec%.1f,""" +
        f""""kcore_incremental_sec":$kcoreIncSec%.1f,""" +
        f""""kcore_full_sec":$kcoreFullSec%.1f,""" +
        f""""kcore_parity_mismatches":$kcoreBad,""" +
        f""""pagerank_rounds_sec":$prSec%.1f,"pagerank_nodes":$nPr}""")
      require(statsBad == 0L && kcoreBad == 0L,
        s"retract_derived parity violated: stats=$statsBad kcore=$kcoreBad")
      graft.Scope.close()
    }

    // Takedown through the CAPPED INVERTED INDEX at scale — the
    // retrieval artifact whose maintenance is NOT pure subtraction
    // (bounded postings must re-elect from below the old cut): the
    // incremental path re-aggregates ONLY the affected tokens'
    // posting lists and passes every other served row through
    // untouched, vs the full rebuild's all-token re-aggregation.
    // The affected-token census is the work bound's denominator: under
    // a Zipfian vocabulary most TOKENS are rare and unaffected even
    // when most POSTINGS belong to affected (frequent) tokens — the
    // pass-through is what the census prices. Parity: exceptAll both
    // ways against the rebuild. (The bm25/tfidf subtractive tables are
    // the retract_derived stats lane's math — measured there at 39×.)
    if (only.forall(_.contains("retract_text"))) {
      import graft.operators.Corpus
      // the capped-postings aggregate is a typed UDAF (bottom-K), so it
      // runs as ObjectHashAggregate — which FALLS BACK to sort-based
      // aggregation past 128 distinct keys per task, and the fallback
      // sorts the task's ENTIRE posting slice (~2.5·10⁷ rows at 10⁷
      // docs): at 32 concurrent tasks the fallback sorters exhausted
      // the execution pool (observed: UNABLE_TO_ACQUIRE_MEMORY at 10⁷).
      // The hash path's real state is 4,096 tokens × a bounded
      // bottom-8 buffer — trivially in-memory — so raise the fallback
      // threshold past the vocab for THIS rung only (restored below;
      // other rungs' recorded conditions unchanged).
      val prevFallback = spark.conf.getOption(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      spark.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"text")
      val tB = System.nanoTime()
      val fullPost = docs.select($"doc_id",
          explode(array_distinct(split($"text", " "))).as("token"))
        .where(length($"token") > 0).localCheckpoint(true)
      val nPost = fullPost.count()
      val bk = udaf(new graft.pipeline.Aggregators.BottomKLongAgg(8),
        org.apache.spark.sql.Encoders.scalaLong)
      def cappedOf(p: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = p.groupBy($"token")
        .agg(count(lit(1)).as("df"),
          array_join(transform(bk($"doc_id"), _.cast("string")), ",")
            .as("postings"))
      val served = cappedOf(fullPost).localCheckpoint(true)
      val nTokens = served.count()
      val buildSec = (System.nanoTime() - tB) / 1e9
      // two removal regimes: the bulk sweep (~0.1% of the corpus —
      // with long docs over this generator's compact vocabulary it
      // touches most FREQUENT tokens, the bound's worst case) and the
      // single-document opt-out (the common production case, where
      // the affected set is one doc's distinct tokens)
      Seq(("bulk", docs.where($"doc_id" % 1009 === 3)),
        ("single", docs.where($"doc_id" === 3)))
        .foreach { case (regime, rmDf) =>
        val removed = rmDf.localCheckpoint(true)
        val nRemoved = removed.count()
        val removedIds = removed.select($"doc_id")
        val nAffected = removed
          .select(explode(array_distinct(split($"text", " "))).as("token"))
          .where(length($"token") > 0).distinct().count()
        val tI = System.nanoTime()
        val inc = Corpus.takedownIndexOn(fullPost, served, removed)
          .localCheckpoint(true)
        val nInc = inc.count()
        val incSec = (System.nanoTime() - tI) / 1e9
        val tF = System.nanoTime()
        val fPost = fullPost
          .join(broadcast(removedIds), Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        val fullIdx = cappedOf(fPost).localCheckpoint(true)
        fullIdx.count()
        val fullSec = (System.nanoTime() - tF) / 1e9
        val bad = inc.exceptAll(fullIdx).count() +
          fullIdx.exceptAll(inc).count()
        println(f"""{"shape":"retract_text","regime":"$regime",""" +
          f""""n":$n,"n_postings":$nPost,""" +
          f""""n_tokens":$nTokens,"n_removed":$nRemoved,""" +
          f""""n_affected_tokens":$nAffected,"n_index_rows":$nInc,""" +
          f""""build_sec":$buildSec%.1f,"incremental_sec":$incSec%.1f,""" +
          f""""full_sec":$fullSec%.1f,"parity_mismatches":$bad}""")
        require(bad == 0L, s"retract_text parity violated: $bad")
        Seq(removed, inc, fPost, fullIdx)
          .foreach(graft.Scope.free)
      }
      prevFallback match {
        case Some(v) => spark.conf.set(
          "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", v)
        case None => spark.conf.unset(
          "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      }
      graft.Scope.close()
    }

    // Standing-stats maintenance economics, end-to-end through the
    // STREAMING sink: per-batch upkeep cost at steady state, the
    // standing-read latency as partials accumulate (the lever
    // compactStats exists for), the fold's own cost, a retraction, and
    // the final read's row-for-row parity with a from-scratch batch
    // aggregate over ingested-minus-removed. n is the TOTAL ingested
    // doc count (batches of 10k).
    if (only.forall(_.contains("stats_stream"))) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StreamingPipeline
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      val statsDir = s"$dir/stats_stream"
      val ckpt = s"$dir/stats_stream_ckpt"
      val stream = MemoryStream[(Long, String, String)]
      val q = StreamingPipeline.statsMaintenanceSink(
        stream.toDF().toDF("doc_id", "source", "text"), statsDir, ckpt)
      val rowsPerBatch = 10000
      val batches = math.max(2, (n / rowsPerBatch).toInt)
      val batchMs = new scala.collection.mutable.ArrayBuffer[Double]
      var nextId = 0L
      (0 until batches).foreach { _ =>
        val data = (0 until rowsPerBatch).map { i =>
          val id = nextId + i
          (id, s"src${id % 20}", docText(id))
        }
        stream.addData(data: _*)
        nextId += rowsPerBatch
        val t0 = System.nanoTime()
        q.processAllAvailable()
        batchMs += (System.nanoTime() - t0) / 1e6
      }
      q.stop()
      def readMs(): Double = {
        val t0 = System.nanoTime()
        StreamingPipeline.readStats(spark, statsDir)
          .agg(count(lit(1)), sum($"tf")).collect()
        (System.nanoTime() - t0) / 1e6
      }
      val readPre = (0 until 3).map(_ => readMs()).sorted.apply(1)
      val tC = System.nanoTime()
      StreamingPipeline.compactStats(spark, statsDir)
      val compactSec = (System.nanoTime() - tC) / 1e9
      val readPost = (0 until 3).map(_ => readMs()).sorted.apply(1)
      val removedDocs = spark.range(0, nextId, 1, 32)
        .filter($"id" % 1009 === 3)
        .map { r => val id = r.toLong
          (id, s"src${id % 20}", docText(id)) }
        .toDF("doc_id", "source", "text")
      val tR = System.nanoTime()
      StreamingPipeline.retractStats(spark, statsDir, removedDocs, 0L)
      val retractSec = (System.nanoTime() - tR) / 1e9
      val got = StreamingPipeline.readStats(spark, statsDir)
      val want = graft.operators.Corpus.sourceTokenStats(
        spark.range(0, nextId, 1, 32)
          .filter($"id" % 1009 =!= 3)
          .map { r => val id = r.toLong
            (id, s"src${id % 20}", docText(id)) }
          .toDF("doc_id", "source", "text"))
      val bad = got.exceptAll(want).count() + want.exceptAll(got).count()
      val p50 = batchMs.sorted.apply(batchMs.size / 2)
      println(f"""{"shape":"stats_stream","n":$nextId,""" +
        f""""batches":$batches,"batch_ms_p50":$p50%.0f,""" +
        f""""read_ms_pre_fold":$readPre%.0f,""" +
        f""""compact_sec":$compactSec%.1f,""" +
        f""""read_ms_post_fold":$readPost%.0f,""" +
        f""""retract_sec":$retractSec%.1f,""" +
        f""""parity_mismatches":$bad}""")
      require(bad == 0L, s"stats_stream parity violated: $bad rows")
      graft.Scope.close()
    }

    if (only.forall(_.contains("ivf2_deploy"))) {
      val cellTarget = 4000L
      val ladder = Seq(n / 4, n / 2, n).filter(_ >= 100000L).distinct
      if (ladder.isEmpty)
        println(s"""{"shape":"ivf2_deploy","n":$n,""" +
          """"skipped":"every ladder size n/4, n/2, n is below 100000"}""")
      ladder.foreach { m =>
        val K = math.max(64L, m / cellTarget).toInt
        val S = math.max(8, math.ceil(math.sqrt(K.toDouble)).toInt)
        // analytic child codebook (generator's own centers) + driver
        // two-level build over it — timed: K×S×D flops/round
        val tB0 = System.nanoTime()
        val codebook = (0L until K.toLong).map(c =>
          (c, Array.tabulate(64)(ivf2Center(c, _))))
        val cb2 = graft.operators.Similarity
          .twoLevelFromSeq(codebook, S, refineIters = 2)
        val buildCbSec = (System.nanoTime() - tB0) / 1e9
        def assign2(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
          .withColumn("_best", graft.functions.VectorExpressions
            .nearest_centroid2($"v", $"nrm", cb2.superCents,
              cb2.superNorms, cb2.offs, cb2.ids, cb2.cents, cb2.norms,
              nprobe = 1))
          .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
            $"v", $"nrm")
        val cbIdsF = codebook.map(_._1).toArray
        val cbCentsF = codebook.map(_._2.map(_.toDouble)).toArray
        val cbNormsF = cbCentsF.map(c => math.sqrt(c.map(x => x * x).sum))
        def assignFlat(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
          .withColumn("_best", graft.functions.VectorExpressions
            .nearest_centroid($"v", $"nrm", cbIdsF, cbCentsF, cbNormsF))
          .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
            $"v", $"nrm")
        // standing index: m members, two-level-assigned, HIVE-
        // partitioned on the cell (K dirs, ~1 file each: the
        // repartition puts each cell in exactly one task)
        val idxDir = s"$dir/ivf2_index_$m"
        val tI0 = System.nanoTime()
        assign2(spark.range(0, m, 1, 32)
            .map(i => (i, ivf2Member(i, K))).toDF("vec_id", "v"))
          .repartition(64, $"centroid_id")
          .write.partitionBy("centroid_id").mode("overwrite")
          .parquet(idxDir)
        val buildSec = (System.nanoTime() - tI0) / 1e9
        val fs = new org.apache.hadoop.fs.Path(idxDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val emptyStanding = assign2(
          spark.emptyDataset[(Long, Array[Float])].toDF("vec_id", "v"))
        def readTouched(cells: Seq[Long]) = {
          val dirs = cells.map(c => s"$idxDir/centroid_id=$c")
            .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
          if (dirs.isEmpty) emptyStanding
          else spark.read.option("basePath", idxDir).parquet(dirs: _*)
            .withColumn("centroid_id", $"centroid_id".cast("long"))
        }
        // batch b: 1024 rows over 8 clusters; j ≡ 0 (mod 4) rows are
        // ×0.5 colinear twins of a SEARCHED standing member of that
        // cluster (scaling a float by 0.5 is exact, so cosine is
        // exactly 1); others are fresh ordinary members (intra-cluster
        // cosine ~0.74 ≪ τ=0.95 — must not flag)
        def standingIdIn(cluster: Long): Long = {
          var id = java.lang.Math.floorMod(mix(cluster * 7919L), m)
          while (ivf2Cluster(id, K) != cluster) id = (id + 1) % m
          id
        }
        def batchRows(b: Int): Seq[(Long, Array[Float])] =
          (0 until 1024).map { j =>
            val cluster = java.lang.Math.floorMod(
              mix((b * 8 + j % 8).toLong * 104729L), K).toLong
            val id = 3000000000L + b * 100000L + j
            if (j % 4 == 0)
              (id, ivf2Member(standingIdIn(cluster), K).map(_ * 0.5f))
            else (id, Array.tabulate(64) { d =>
              val noise = (java.lang.Math.floorMod(
                mix(id * 977 + d), 2001) - 1000) / 1000.0f
              ivf2Center(cluster, d) + noise * 0.6f
            })
          }
        def probeOnce(rows: Seq[(Long, Array[Float])],
            flat: Boolean,
            reader: Seq[Long] => org.apache.spark.sql.DataFrame =
              readTouched): (Double, Long, Long) = {
          val t0 = System.nanoTime()
          val asg = {
            val df = rows.toDF("vec_id", "v")
            if (flat) assignFlat(df) else assign2(df)
          }.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
          try {
            val touched = asg.select($"centroid_id").distinct()
              .collect().map(_.getLong(0)).toSeq
            val standing = reader(touched)
              .select($"centroid_id", $"vec_id".as("id_i"),
                $"v".as("vi"), $"nrm".as("ni"))
            val flagged = asg
              .select($"centroid_id", $"vec_id", $"v".as("vp"),
                $"nrm".as("np"))
              .join(standing, Seq("centroid_id"))
              .where(graft.functions.VectorFunctions
                .cosineWithNorms($"vp", $"vi", $"np", $"ni") >=
                lit(0.95))
              .select($"vec_id").distinct()
            val r = flagged.agg(
              sum(when($"vec_id" % 4 === 0, 1L).otherwise(0L))
                .as("tw"),
              sum(when($"vec_id" % 4 =!= 0, 1L).otherwise(0L))
                .as("ct")).collect().head
            ((System.nanoTime() - t0) / 1e6,
              if (r.isNullAt(0)) 0L else r.getLong(0),
              if (r.isNullAt(1)) 0L else r.getLong(1))
          } finally { asg.unpersist(false); () }
        }
        Seq(false, true).foreach { flat =>
          val tag = if (flat) "flat" else "two_level"
          probeOnce(batchRows(99), flat) // warmup
          val runs = (0 until 8).map(b => probeOnce(batchRows(b), flat))
          val times = runs.map(_._1).sorted
          // twin ids are 3e9 + b·1e5 + j with j ≡ 0 (mod 4); the bases
          // are ≡ 0 (mod 4) too, so vec_id % 4 === 0 ⇔ twin
          val twins = runs.map(_._2).sum
          val controls = runs.map(_._3).sum
          println(f"""{"shape":"ivf2_deploy","m":$m,"k":$K,"s":$S,""" +
            f""""kernel":"$tag","n_index_dirs":$K,""" +
            f""""build_codebook_sec":$buildCbSec%.2f,""" +
            f""""build_index_sec":$buildSec%.2f,""" +
            f""""batch_rows":1024,"cells_per_batch":8,"n_batches":8,""" +
            f""""batch_ms_p50":${times(times.size / 2)}%.1f,""" +
            f""""batch_ms_min":${times.head}%.1f,""" +
            f""""batch_ms_max":${times.last}%.1f,""" +
            f""""n_twins_planted":${8 * 256},"n_twin_flagged":$twins,""" +
            f""""n_control_flagged":$controls}""")
        }
        // SHARDED layout lane: cells bucketed into B = min(K, 512)
        // dirs (cell_bucket = centroid_id % B, centroid_id a SORTED
        // data column) — the directory-count ceiling fix. Touched-dir
        // reads list O(touched buckets); the pushed-down isin prunes
        // row groups via the sorted write's min/max stats.
        val B = math.min(K, 512)
        val shardDir = s"$dir/ivf2_index_sh_$m"
        val tS0 = System.nanoTime()
        assign2(spark.range(0, m, 1, 32)
            .map(i => (i, ivf2Member(i, K))).toDF("vec_id", "v"))
          .withColumn("cell_bucket", pmod($"centroid_id", lit(B.toLong)))
          .repartition(64, $"cell_bucket")
          .sortWithinPartitions($"cell_bucket", $"centroid_id")
          .write.partitionBy("cell_bucket").mode("overwrite")
          .parquet(shardDir)
        val buildShSec = (System.nanoTime() - tS0) / 1e9
        def readTouchedSharded(cells: Seq[Long]) = {
          val dirs = cells.map(c => java.lang.Math.floorMod(c, B.toLong))
            .distinct.map(b => s"$shardDir/cell_bucket=$b")
            .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
          if (dirs.isEmpty) emptyStanding
          else spark.read.option("basePath", shardDir).parquet(dirs: _*)
            .where($"centroid_id".isin(cells: _*))
            .select($"vec_id", $"centroid_id", $"v", $"nrm")
        }
        locally {
          probeOnce(batchRows(99), flat = false, readTouchedSharded)
          val runs = (0 until 8).map(b =>
            probeOnce(batchRows(b), flat = false, readTouchedSharded))
          val times = runs.map(_._1).sorted
          val twins = runs.map(_._2).sum
          val controls = runs.map(_._3).sum
          println(f"""{"shape":"ivf2_deploy","m":$m,"k":$K,"s":$S,""" +
            f""""kernel":"two_level_sharded","n_index_dirs":$B,""" +
            f""""build_codebook_sec":$buildCbSec%.2f,""" +
            f""""build_index_sec":$buildShSec%.2f,""" +
            f""""batch_rows":1024,"cells_per_batch":8,"n_batches":8,""" +
            f""""batch_ms_p50":${times(times.size / 2)}%.1f,""" +
            f""""batch_ms_min":${times.head}%.1f,""" +
            f""""batch_ms_max":${times.last}%.1f,""" +
            f""""n_twins_planted":${8 * 256},"n_twin_flagged":$twins,""" +
            f""""n_control_flagged":$controls}""")
        }
        rmrf(idxDir)
        rmrf(shardDir)
      }
    }
    // Recall cost of the TWO-LEVEL approximation at deployment K — the
    // companion to ivf2_deploy's cost-flatness: ann_recall_deploy
    // already prices recall-vs-nprobe for a FLAT-trained K=256 index;
    // this rung asks what the hierarchy GIVES UP at K = n/4000, where
    // the flat kernel is unaffordable. Standing corpus two-level-
    // assigned (nprobe_super = 1 — the production index build); probe
    // cells ranked through the SAME two-level path (top superProbe
    // supers driver-side, then their children), candidates = the top
    // nprobe cells' members, recall@10 against the exact broadcast
    // brute-force truth. Driver-side cell ranking is |probes| × S×D +
    // |probes| × (superProbe·K/S)×D — bounded index metadata, the
    // recallEval discipline.
    if (only.forall(_.contains("ivf2_recall"))) {
      val cellTarget = 4000L
      val K = math.max(64L, n / cellTarget).toInt
      val S = math.max(8, math.ceil(math.sqrt(K.toDouble)).toInt)
      val codebook = (0L until K.toLong).map(c =>
        (c, Array.tabulate(64)(ivf2Center(c, _))))
      val cb2 = graft.operators.Similarity
        .twoLevelFromSeq(codebook, S, refineIters = 2)
      // the build-time self-report the recall lines below calibrate:
      // a deployment reads THIS statistic instead of re-running the rung
      println(f"""{"shape":"ivf2_margin","n":$n,"k":$K,"s":$S,""" +
        f""""noise":$ivf2Noise%.2f,""" +
        f""""margin_mean":${cb2.marginMean}%.4f,""" +
        f""""margin_p10":${cb2.marginP10}%.4f}""")
      def standingAt(idxSp: Int) = spark.range(0, n, 1, 32)
        .map(i => (i, ivf2Member(i, K)))
        .toDF("vec_id", "v")
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
        .withColumn("_best", graft.functions.VectorExpressions
          .nearest_centroid2($"v", $"nrm", cb2.superCents, cb2.superNorms,
            cb2.offs, cb2.ids, cb2.cents, cb2.norms, idxSp))
        .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
          $"v", $"nrm")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val standing = standingAt(1)
      standing.count()
      val nProbes = 100
      val probeIds = (0 until nProbes)
        .map(i => java.lang.Math.floorMod(mix(i * 15485863L + 11L), n))
        .distinct
      val probeRows = probeIds.map(id => (id, ivf2Member(id, K)))
      val probesDf = probeRows.toDF("q_id", "qv")
        .withColumn("qn", graft.functions.VectorFunctions.l2Norm($"qv"))
      val tT0 = System.nanoTime()
      val truth = top10Sets(standing
        .join(broadcast(probesDf), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          graft.functions.VectorFunctions
            .cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos")))
      val truthSec = (System.nanoTime() - tT0) / 1e9
      def sweep(idx: org.apache.spark.sql.DataFrame, idxSp: Int,
          idxSec: Double, configs: Seq[(Int, Int)]): Unit =
        configs.foreach { case (superProbe, nprobe) =>
          val t0 = System.nanoTime()
          val probeCells = probeRows.flatMap { case (q, qv) =>
            rankedCells2(cb2, qv, superProbe).take(nprobe)
              .map(c => (q, c))
          }.toDF("q_id", "centroid_id")
          val approx = top10Sets(idx
            .join(broadcast(probeCells), Seq("centroid_id"))
            .join(broadcast(probesDf), Seq("q_id"))
            .where($"vec_id" =!= $"q_id")
            .select($"q_id", $"vec_id",
              graft.functions.VectorFunctions
                .cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos")))
          val sec = (System.nanoTime() - t0) / 1e9
          val (hit, tot) = recallHits(truth, approx)
          val ppm = hit.toLong * 1000000L / math.max(tot, 1)
          println(f"""{"shape":"ivf2_recall","n":$n,"k":$K,"s":$S,""" +
            f""""noise":$ivf2Noise%.2f,""" +
            f""""index_super_probe":$idxSp,"super_probe":$superProbe,""" +
            f""""nprobe":$nprobe,""" +
            f""""n_probes":${probeIds.size},"n_hit":$hit,"n_true":$tot,""" +
            f""""recall_ppm":$ppm,"truth_sec":$truthSec%.2f,""" +
            f""""index_assign_sec":$idxSec%.2f,"sec":$sec%.2f}""")
        }
      sweep(standing, 1, 0.0, Seq((1, 1), (1, 4), (2, 4), (2, 16)))
      // the misassignment lever: the index itself assigned probing
      // idxSp supers — cost O((S + idxSp·K/S)·D) per vector, still
      // ≈ S/(idxSp+1)× below flat — with matched probe-side ranking
      standing.unpersist(false)
      val tI4 = System.nanoTime()
      val standing4 = standingAt(4)
      standing4.count()
      val idx4Sec = (System.nanoTime() - tI4) / 1e9
      sweep(standing4, 4, idx4Sec,
        Seq((4, 4), (4, 16), (8, 16), (8, 64)))
      standing4.unpersist(false)
      // FLAT-IVF baseline at the SAME geometry (n ≤ 10⁷ — the flat
      // corpus assignment is the O(n·K·D) pass the hierarchy exists to
      // avoid, affordable here once for attribution): how much of the
      // two-level recall loss is the HIERARCHY vs how much is plain
      // IVF cell truncation at this noise level. Flat ranks all K
      // cells per probe; candidates from the top nprobe.
      if (n <= 10000000L) {
        val cbIdsF = codebook.map(_._1).toArray
        val cbCentsF = codebook.map(_._2.map(_.toDouble)).toArray
        val cbNormsF = cbCentsF.map(c => math.sqrt(c.map(x => x * x).sum))
        val tF0 = System.nanoTime()
        val standingF = spark.range(0, n, 1, 32)
          .map(i => (i, ivf2Member(i, K)))
          .toDF("vec_id", "v")
          .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
          .withColumn("_best", graft.functions.VectorExpressions
            .nearest_centroid($"v", $"nrm", cbIdsF, cbCentsF, cbNormsF))
          .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
            $"v", $"nrm")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        standingF.count()
        val flatAssignSec = (System.nanoTime() - tF0) / 1e9
        Seq(1, 4, 16).foreach { nprobe =>
          val t0 = System.nanoTime()
          val probeCells = probeRows.flatMap { case (q, qv) =>
            rankedCellsFlat(cbCentsF, cbNormsF, qv).take(nprobe)
              .map(c => (q, c))
          }.toDF("q_id", "centroid_id")
          val approx = top10Sets(standingF
            .join(broadcast(probeCells), Seq("centroid_id"))
            .join(broadcast(probesDf), Seq("q_id"))
            .where($"vec_id" =!= $"q_id")
            .select($"q_id", $"vec_id",
              graft.functions.VectorFunctions
                .cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos")))
          val sec = (System.nanoTime() - t0) / 1e9
          val (hit, tot) = recallHits(truth, approx)
          val ppm = hit.toLong * 1000000L / math.max(tot, 1)
          println(f"""{"shape":"ivf2_recall","n":$n,"k":$K,"s":$S,""" +
            f""""super_probe":0,"nprobe":$nprobe,""" +
            f""""n_probes":${probeIds.size},"n_hit":$hit,"n_true":$tot,""" +
            f""""recall_ppm":$ppm,""" +
            f""""flat_assign_sec":$flatAssignSec%.2f,"sec":$sec%.2f}""")
        }
        standingF.unpersist(false)
      }
      standing.unpersist(false)
      graft.Scope.close()
    }
    // Deployment-K codebook TRAINING through the hierarchy — the third
    // leg of the K ∝ corpus lever (build and probe are ivf2_deploy;
    // recall envelope is ivf2_recall; a real deployment also has to
    // TRAIN the codebook, and flat Lloyd at K = n/4000 is O(n·K·D) per
    // round). trainedCodebook2 samples ~256 rows/centroid and assigns
    // each round through the two-level structure (superProbe 4):
    // per-round cost bounded by K·trainPerCell·√K·D, independent of n.
    // Quality: recall@10 (sp=4/np=4, trained codebook, two-level
    // index+probe) vs the SAME measurement on the analytic-center
    // codebook (ivf2_recall's reference) — trained-vs-oracle-codebook
    // quality on one line.
    // ivf2_margin: the Codebook2 self-report calibrated against
    // MEASURED recall for both codebook geometries in ONE run. The
    // isotropic lane is ivf2_recall's worst case (random-direction
    // children — near-zero super margins); the clustered lane plants
    // children around S anchor directions (the shape trainedCodebook2
    // yields on a manifold-structured corpus — real embedding
    // geometry). Each lane runs a FLAT-IVF baseline (flat assignment +
    // full-K probe ranking) at the same nprobe next to the two-level
    // form: raw recall conflates cell truncation (a property of the
    // corpus, identical for both index forms) with super MISROUTING
    // (what the hierarchy adds and the margin statistic predicts) —
    // the number keyed to the statistic is recall_2l / recall_flat.
    if (only.forall(_.contains("ivf2_margin"))) {
      val cellTarget = 4000L
      val K = math.max(64L, n / cellTarget).toInt
      val S = math.max(8, math.ceil(math.sqrt(K.toDouble)).toInt)
      Seq(("isotropic", false), ("clustered", true)).foreach {
        case (tag, hier) =>
          val codebook = (0L until K.toLong).map(c =>
            (c, Array.tabulate(64)(marginCenter(hier, S, c, _))))
          val cb2 = graft.operators.Similarity
            .twoLevelFromSeq(codebook, S, refineIters = 2)
          val standing = spark.range(0, n, 1, 32)
            .map(i => (i, marginMember(hier, S, K, i)))
            .toDF("vec_id", "v")
            .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
            .withColumn("_best", graft.functions.VectorExpressions
              .nearest_centroid2($"v", $"nrm", cb2.superCents,
                cb2.superNorms, cb2.offs, cb2.ids, cb2.cents, cb2.norms, 1))
            .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
              $"v", $"nrm")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          standing.count()
          val probeIds = (0 until 100)
            .map(i => java.lang.Math.floorMod(mix(i * 15485863L + 11L), n))
            .distinct
          val probeRows = probeIds.map(id =>
            (id, marginMember(hier, S, K, id)))
          val probesDf = probeRows.toDF("q_id", "qv")
            .withColumn("qn", graft.functions.VectorFunctions.l2Norm($"qv"))
          val truth = top10Sets(standing
            .join(broadcast(probesDf), $"vec_id" =!= $"q_id")
            .select($"q_id", $"vec_id",
              graft.functions.VectorFunctions
                .cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos")))
          val cbCentsF = codebook.map(_._2.map(_.toDouble)).toArray
          val cbNormsF = cbCentsF.map(c => math.sqrt(c.map(x => x * x).sum))
          def recallOf(idx: org.apache.spark.sql.DataFrame,
              cellsOf: Array[Float] => Array[Long], nprobe: Int): Long = {
            val probeCells = probeRows.flatMap { case (q, qv) =>
              cellsOf(qv).take(nprobe).map(c => (q, c))
            }.toDF("q_id", "centroid_id")
            val approx = top10Sets(idx
              .join(broadcast(probeCells), Seq("centroid_id"))
              .join(broadcast(probesDf), Seq("q_id"))
              .where($"vec_id" =!= $"q_id")
              .select($"q_id", $"vec_id",
                graft.functions.VectorFunctions
                  .cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos")))
            val (hit, tot) = recallHits(truth, approx)
            hit.toLong * 1000000L / math.max(tot, 1)
          }
          // the flat-IVF reference: flat assignment + full-K ranking —
          // same cell truncation, zero hierarchy misrouting
          val standingF = spark.range(0, n, 1, 32)
            .map(i => (i, marginMember(hier, S, K, i)))
            .toDF("vec_id", "v")
            .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
            .withColumn("_best", graft.functions.VectorExpressions
              .nearest_centroid($"v", $"nrm", codebook.map(_._1).toArray,
                cbCentsF, cbNormsF))
            .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
              $"v", $"nrm")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          standingF.count()
          val flatPpm: Map[Int, Long] = Seq(1, 4).map(np =>
            np -> recallOf(standingF,
              rankedCellsFlat(cbCentsF, cbNormsF, _), np)).toMap
          standingF.unpersist(false)
          Seq((1, 1), (1, 4), (2, 4)).foreach { case (superProbe, nprobe) =>
            val t0 = System.nanoTime()
            val ppm = recallOf(standing,
              rankedCells2(cb2, _, superProbe), nprobe)
            val sec = (System.nanoTime() - t0) / 1e9
            val fl = flatPpm.getOrElse(nprobe, flatPpm(4))
            val ratioPpm = ppm * 1000000L / math.max(fl, 1)
            println(f"""{"shape":"ivf2_margin","geometry":"$tag",""" +
              f""""n":$n,"k":$K,"s":$S,"noise":$ivf2Noise%.2f,""" +
              f""""margin_mean":${cb2.marginMean}%.4f,""" +
              f""""margin_p10":${cb2.marginP10}%.4f,""" +
              f""""super_probe":$superProbe,"nprobe":$nprobe,""" +
              f""""recall_ppm":$ppm,"flat_ppm":$fl,""" +
              f""""hierarchy_ratio_ppm":$ratioPpm,"sec":$sec%.2f}""")
          }
          standing.unpersist(false)
      }
      graft.Scope.close()
    }

    if (only.forall(_.contains("ivf2_train"))) {
      val cellTarget = 4000L
      val K = math.max(64L, n / cellTarget).toInt
      val S = math.max(8, math.ceil(math.sqrt(K.toDouble)).toInt)
      val corpus = spark.range(0, n, 1, 32)
        .map(i => (i, ivf2Member(i, K)))
        .toDF("vec_id", "v")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpus.count()
      val tT0 = System.nanoTime()
      val trained = graft.operators.Similarity
        .trainedCodebook2(corpus, K, iters = 3)
      val trainSec = (System.nanoTime() - tT0) / 1e9
      // recall with a given codebook: two-level index (sp=4) + driver
      // cell ranking (sp=4, np=4) vs exact broadcast truth
      val probeIds = (0 until 100)
        .map(i => java.lang.Math.floorMod(mix(i * 15485863L + 11L), n))
        .distinct
      val probeRows = probeIds.map(id => (id, ivf2Member(id, K)))
      val probesDf = probeRows.toDF("q_id", "qv")
        .withColumn("qn", graft.functions.VectorFunctions.l2Norm($"qv"))
      def recallOf(codebook: Seq[(Long, Array[Float])]): Long = {
        val cb2 = graft.operators.Similarity
          .twoLevelFromSeq(codebook, S, refineIters = 2)
        val standing = corpus
          .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
          .withColumn("_best", graft.functions.VectorExpressions
            .nearest_centroid2($"v", $"nrm", cb2.superCents,
              cb2.superNorms, cb2.offs, cb2.ids, cb2.cents, cb2.norms, 4))
          .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
            $"v", $"nrm")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        standing.count()
        try {
          val truth = top10Sets(standing
            .join(broadcast(probesDf), $"vec_id" =!= $"q_id")
            .select($"q_id", $"vec_id",
              graft.functions.VectorFunctions
                .cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos")))
          val probeCells = probeRows.flatMap { case (q, qv) =>
            rankedCells2(cb2, qv, 4).take(4).map(c => (q, c))
          }.toDF("q_id", "centroid_id")
          val approx = top10Sets(standing
            .join(broadcast(probeCells), Seq("centroid_id"))
            .join(broadcast(probesDf), Seq("q_id"))
            .where($"vec_id" =!= $"q_id")
            .select($"q_id", $"vec_id",
              graft.functions.VectorFunctions
                .cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos")))
          val (hit, tot) = recallHits(truth, approx)
          hit.toLong * 1000000L / math.max(tot, 1)
        } finally { standing.unpersist(false); () }
      }
      val trainedPpm = recallOf(trained)
      val analytic = (0L until K.toLong).map(c =>
        (c, Array.tabulate(64)(ivf2Center(c, _))))
      val analyticPpm = recallOf(analytic)
      println(f"""{"shape":"ivf2_train","n":$n,"k":$K,"s":$S,""" +
        f""""noise":$ivf2Noise%.2f,"iters":3,"train_per_cell":256,""" +
        f""""train_sec":$trainSec%.2f,""" +
        f""""recall_ppm_trained":$trainedPpm,""" +
        f""""recall_ppm_analytic":$analyticPpm}""")
      corpus.unpersist(false)
      graft.Scope.close()
    }
    // SEEDED vs TRAINED PQ sub-codebooks at deployment geometry — the
    // quality axis the hash gates can't price (q_pq_train pins the
    // round ARITHMETIC at the fixture; this rung measures what the
    // training BUYS): K=256 coarse cells (analytic centers), corpus
    // assigned once, then four IVFADC lanes over the SAME nprobe=4
    // candidates — raw/residual codes, each with the first-256-row
    // SEED book (the gate convention the r11 verdict flagged) and the
    // trainedPqBook (bounded hash sample, exact scaled-integer
    // rounds). An exact-L2 lane on the same candidates is the recall
    // CEILING of the cell truncation, so the quantization loss reads
    // as (ceiling − lane), cleanly attributed. Truth = brute exact-L2
    // top-10 over the full corpus. avg_recon is the mean ADC
    // self-distance (the distortion the Lloyd rounds minimize).
    if (only.forall(s => s.contains("pq_train") || s.contains("pq_rerank"))) {
      // pq_rerank shares this block's artifacts (coarse assignment,
      // residual training, exact truth); a restricted run pays only
      // what its lanes read — raw-book training is pq_train-only
      val wantTrain = only.forall(_.contains("pq_train"))
      val wantRerank = only.forall(_.contains("pq_rerank"))
      val K = 256
      val coarse = Array.tabulate(K)(c =>
        Array.tabulate(64)(d => ivf2Center(c.toLong, d).toDouble))
      val coarseNorms = coarse.map(c => math.sqrt(c.map(x => x * x).sum))
      val coarseIds = (0L until K.toLong).toArray
      val centDf = broadcast(coarseIds.indices
        .map(j => (coarseIds(j), coarse(j).toSeq))
        .toDF("centroid_id", "cvec"))
      // one narrow assignment scan; rv (the residual) rides the same
      // persist so every lane reads one cached table
      val indexed = spark.range(0, n, 1, 32)
        .map(i => (i, ivf2Member(i, K)))
        .toDF("vec_id", "v")
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
        .withColumn("_best", graft.functions.VectorExpressions
          .nearest_centroid($"v", $"nrm", coarseIds, coarse, coarseNorms))
        .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
          $"v", $"nrm")
        .join(centDf, Seq("centroid_id"))
        .select($"vec_id", $"centroid_id", $"v", $"nrm",
          zip_with($"v", $"cvec", (a, b) => a.cast("double") - b).as("rv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      indexed.count()
      def sliceBook(rows: Array[Array[Double]]): Array[Array[Array[Double]]] =
        Array.tabulate(8, K)((m, c) =>
          java.util.Arrays.copyOfRange(rows(c), m * 8, (m + 1) * 8))
      val seedRaw = sliceBook(indexed.where($"vec_id" < K)
        .orderBy($"vec_id").select($"v").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble)))
      val seedRes = sliceBook(indexed.where($"vec_id" < K)
        .orderBy($"vec_id").select($"rv").collect()
        .map(_.getSeq[Double](0).toArray))
      val tR0 = System.nanoTime()
      val trainedRaw =
        if (wantTrain) graft.operators.Similarity.trainedPqBook(
          indexed, "v", "vec_id", mSub = 8, subDim = 8, k = K, iters = 5)
        else null
      val rawTrainSec = (System.nanoTime() - tR0) / 1e9
      val tS0 = System.nanoTime()
      val trainedRes = graft.operators.Similarity.trainedPqBook(
        indexed, "rv", "vec_id", mSub = 8, subDim = 8, k = K, iters = 5)
      val resTrainSec = (System.nanoTime() - tS0) / 1e9
      // probes + exact-L2 truth (one brute broadcast scan)
      val probeIds = (0 until 100)
        .map(i => java.lang.Math.floorMod(mix(i * 15485863L + 11L), n))
        .distinct
      val probeRows = probeIds.map(id => (id, ivf2Member(id, K)))
      val probesDf = probeRows.toDF("q_id", "qv")
        .withColumn("qn2",
          graft.functions.VectorExpressions.array_dot($"qv", $"qv"))
      val tT0 = System.nanoTime()
      val truth = top10Sets(indexed
        .join(broadcast(probesDf), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (-($"qn2" + $"nrm" * $"nrm" - lit(2.0) *
            graft.functions.VectorExpressions.array_dot($"qv", $"v")))
            .as("score")))
      val truthSec = (System.nanoTime() - tT0) / 1e9
      // nprobe=4 cells per probe, ranked by exact L2 to the centers
      // (driver: |probes| × K × D — bounded index metadata); the
      // residual lanes need the probe's residual W.R.T. EACH probed
      // cell, so it rides the probe-cells broadcast
      val nprobe = 4
      val probeCells = probeRows.flatMap { case (q, qv) =>
        val qn2 = qv.map(x => x.toDouble * x).sum
        (0 until K).sortBy { c =>
          var acc = 0.0; var d = 0
          while (d < 64) {
            val t = qv(d) - coarse(c)(d); acc += t * t; d += 1
          }
          (acc, c)
        }.take(nprobe).map { c =>
          (q, c.toLong, qv.toSeq, qn2,
            Array.tabulate(64)(d => qv(d) - coarse(c)(d)).toSeq)
        }
      }.toDF("q_id", "centroid_id", "qv", "qn2", "qres")
      def lane(name: String, trainSec: Double,
          idx: org.apache.spark.sql.DataFrame, // the stored index facet
          score: org.apache.spark.sql.Column,
          avgRecon: Option[Double]): Unit = {
        val t0 = System.nanoTime()
        val approx = top10Sets(idx
          .join(broadcast(probeCells), Seq("centroid_id"))
          .where($"vec_id" =!= $"q_id")
          .select($"q_id", $"vec_id", score.as("score")))
        val sec = (System.nanoTime() - t0) / 1e9
        val (hit, tot) = recallHits(truth, approx)
        val ppm = hit.toLong * 1000000L / math.max(tot, 1)
        val recon = avgRecon
          .map(r => f""""avg_recon":$r%.4f,""").getOrElse("")
        println(f"""{"shape":"pq_train","n":$n,"k_coarse":$K,""" +
          f""""pq_m":8,"pq_k":$K,"nprobe":$nprobe,"variant":"$name",""" +
          f""""n_probes":${probeIds.size},"n_hit":$hit,"n_true":$tot,""" +
          f""""recall_ppm":$ppm,$recon"truth_sec":$truthSec%.2f,""" +
          f""""train_sec":$trainSec%.2f,"sec":$sec%.2f}""")
      }
      // one encoded-index scan per book: the M-byte code column IS the
      // stored facet a deployed IVFADC reads (the raw vectors never
      // reach the search); avg recon err rides the same encode
      def encoded(vcol: String, book: Array[Array[Array[Double]]])
          : (org.apache.spark.sql.DataFrame, Double) = {
        val e = indexed.select($"vec_id", $"centroid_id",
          graft.functions.VectorExpressions
            .pq_encode(col(vcol), book).as("codes"),
          graft.functions.VectorExpressions.pq_adc(col(vcol),
            graft.functions.VectorExpressions.pq_encode(col(vcol), book),
            book).as("_re"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val recon = e.agg(avg($"_re")).collect().head.getDouble(0)
        (e.drop("_re"), recon)
      }
      if (wantTrain) {
        lane("ivf_exact", 0.0, indexed,
          -($"qn2" + $"nrm" * $"nrm" - lit(2.0) *
            graft.functions.VectorExpressions.array_dot($"qv", $"v")), None)
        Seq(("raw_seed", "v", seedRaw, 0.0, "qv"),
          ("raw_trained", "v", trainedRaw, rawTrainSec, "qv"),
          ("res_seed", "rv", seedRes, 0.0, "qres"),
          ("res_trained", "rv", trainedRes, resTrainSec, "qres"))
          .foreach { case (name, vcol, book, tSec, qcol) =>
            val (idx, recon) = encoded(vcol, book)
            try lane(name, tSec, idx,
              -graft.functions.VectorExpressions
                .pq_adc(col(qcol), $"codes", book), Some(recon))
            finally { idx.unpersist(false); () }
          }
      }
      if (wantRerank) {
        // EXACT RE-RANK sweep — q_ivfpq_rerank_topk's chain at
        // deployment geometry, pricing the R lever the pq_train rung
        // motivated (residual-trained ADC recall@10 ≈ 0.22 at 10⁷):
        // the residual-trained codes generate an ADC shortlist of
        // R·10 per probe; ONLY those rows are re-read at full vector
        // width (a broadcast-hash lookup against the stored corpus —
        // the bounded extra read) and exactly re-ranked. R=1 is the
        // no-reorder floor (same set as raw ADC — prices the lookup
        // alone); the sweep shows where recall saturates vs the
        // exact-IVF ceiling (the ivf_exact lane / nprobe truncation).
        val (idxRes, _) = encoded("rv", trainedRes)
        try {
          Seq(1, 2, 5, 10, 25).foreach { r =>
            val tkRK = udaf(
              new graft.pipeline.Aggregators.TopKCosineAgg(r * 10),
              org.apache.spark.sql.catalyst.encoders
                .ExpressionEncoder[(Long, Double)]())
            val t0 = System.nanoTime()
            val sl = idxRes
              .join(broadcast(probeCells), Seq("centroid_id"))
              .where($"vec_id" =!= $"q_id")
              .select($"q_id", $"vec_id",
                (-graft.functions.VectorExpressions
                  .pq_adc($"qres", $"codes", trainedRes)).as("score"))
              .groupBy($"q_id").agg(tkRK($"vec_id", $"score").as("cand"))
              .select($"q_id", explode($"cand").as("vec_id"))
            val approx = top10Sets(sl
              .join(indexed.select($"vec_id", $"v", $"nrm"),
                Seq("vec_id"))
              .join(broadcast(probesDf), Seq("q_id"))
              .select($"q_id", $"vec_id",
                (-($"qn2" + $"nrm" * $"nrm" - lit(2.0) *
                  graft.functions.VectorExpressions
                    .array_dot($"qv", $"v"))).as("score")))
            val sec = (System.nanoTime() - t0) / 1e9
            val (hit, tot) = recallHits(truth, approx)
            val ppm = hit.toLong * 1000000L / math.max(tot, 1)
            println(f"""{"shape":"pq_rerank","n":$n,"k_coarse":$K,""" +
              f""""pq_m":8,"pq_k":$K,"nprobe":$nprobe,"r":$r,""" +
              f""""shortlist":${r * 10},"variant":"res_trained",""" +
              f""""n_probes":${probeIds.size},"n_hit":$hit,""" +
              f""""n_true":$tot,"recall_ppm":$ppm,""" +
              f""""train_sec":$resTrainSec%.2f,"sec":$sec%.2f}""")
          }
        } finally { idxRes.unpersist(false); () }
      }
      indexed.unpersist(false)
      graft.Scope.close()
    }
    // COMPOSED DEPLOYMENT INDEX at deployment K — q_ivf2pq_trained_topk's
    // chain at scale: two-level coarse assignment (the corpus pass that
    // stays ~sqrt(K)x below flat) -> per-cell residuals -> trained
    // residual PQ book -> M-byte codes (the stored facet: 8 code bytes
    // + cell + id vs 256 raw vector bytes) -> ADC shortlist of R*10 ->
    // exact re-rank on the shortlist rows only. The flat-coarse lane
    // (n <= 1e7 — the O(n*K*D) assignment the hierarchy exists to
    // avoid) prices what the hierarchy gives up END-TO-END at the SAME
    // K, book training and R sweep: any recall delta is coarse
    // misassignment (index side) + probe-side routing — the two-level
    // tax ivf2_recall measured for exact search, here composed with PQ.
    // Recall@10 is set-based, so the r = 1 row doubles as the ADC-only
    // figure (the re-rank of a 10-item shortlist can reorder but not
    // change the set).
    if (only.forall(_.contains("ivf2pq_deploy"))) {
      val cellTarget = 4000L
      val K = math.max(64L, n / cellTarget).toInt
      val S = math.max(8, math.ceil(math.sqrt(K.toDouble)).toInt)
      val codebook = (0L until K.toLong).map(c =>
        (c, Array.tabulate(64)(ivf2Center(c, _))))
      val tB0 = System.nanoTime()
      val cb2 = graft.operators.Similarity
        .twoLevelFromSeq(codebook, S, refineIters = 2)
      val buildCbSec = (System.nanoTime() - tB0) / 1e9
      val cbIds = codebook.map(_._1).toArray
      val cbCents = codebook.map(_._2.map(_.toDouble)).toArray
      val cbNorms = cbCents.map(c => math.sqrt(c.map(x => x * x).sum))
      val centDf = broadcast(codebook
        .map { case (c, v) => (c, v.map(_.toDouble).toSeq) }
        .toDF("centroid_id", "cvec"))
      val corpus = spark.range(0, n, 1, 32)
        .map(i => (i, ivf2Member(i, K)))
        .toDF("vec_id", "v")
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm($"v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpus.count()
      val probeIds = (0 until 100)
        .map(i => java.lang.Math.floorMod(mix(i * 15485863L + 11L), n))
        .distinct
      val probeRows = probeIds.map(id => (id, ivf2Member(id, K)))
      val probesDf = probeRows.toDF("q_id", "qv")
        .withColumn("qn2",
          graft.functions.VectorExpressions.array_dot($"qv", $"qv"))
      val tT0 = System.nanoTime()
      val truth = top10Sets(corpus
        .join(broadcast(probesDf), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (-($"qn2" + $"nrm" * $"nrm" - lit(2.0) *
            graft.functions.VectorExpressions.array_dot($"qv", $"v")))
            .as("score")))
      val truthSec = (System.nanoTime() - tT0) / 1e9
      // probe-side routing: rank superProbe supers, then their
      // children (super_probe = 2 is ivf2_recall's guidance against an
      // sp = 1-assigned index; the sp4 mitigation lane widens both)
      val nprobe = 4
      def lane(tag: String,
          assigned: org.apache.spark.sql.DataFrame, assignSec: Double,
          cellsFor: Array[Float] => Array[Long]): Unit = {
        val withRes = assigned
          .join(centDf, Seq("centroid_id"))
          .select($"vec_id", $"centroid_id", $"v", $"nrm",
            zip_with($"v", $"cvec", (a, b) => a.cast("double") - b)
              .as("rv"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        withRes.count()
        val tTr = System.nanoTime()
        val book = graft.operators.Similarity.trainedPqBook(
          withRes, "rv", "vec_id", mSub = 8, subDim = 8, k = 256,
          iters = 5)
        val trainSec = (System.nanoTime() - tTr) / 1e9
        // the stored facet a deployed searcher reads: cell + M bytes
        val tE = System.nanoTime()
        val idx = withRes.select($"vec_id", $"centroid_id",
          graft.functions.VectorExpressions.pq_encode($"rv", book)
            .as("codes"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        idx.count()
        val encodeSec = (System.nanoTime() - tE) / 1e9
        withRes.unpersist(false)
        val probeCells = probeRows.flatMap { case (q, qv) =>
          val qn2 = qv.map(x => x.toDouble * x).sum
          cellsFor(qv).take(nprobe).map { c =>
            (q, c, qv.toSeq, qn2,
              Array.tabulate(64)(d => qv(d) - ivf2Center(c, d).toDouble)
                .toSeq)
          }
        }.toDF("q_id", "centroid_id", "qv", "qn2", "qres")
        Seq(1, 5, 10, 25).foreach { r =>
          val tkR = udaf(
            new graft.pipeline.Aggregators.TopKCosineAgg(r * 10),
            org.apache.spark.sql.catalyst.encoders
              .ExpressionEncoder[(Long, Double)]())
          val t0 = System.nanoTime()
          val sl = idx
            .join(broadcast(probeCells), Seq("centroid_id"))
            .where($"vec_id" =!= $"q_id")
            .select($"q_id", $"vec_id",
              (-graft.functions.VectorExpressions
                .pq_adc($"qres", $"codes", book)).as("score"))
            .groupBy($"q_id").agg(tkR($"vec_id", $"score").as("cand"))
            .select($"q_id", explode($"cand").as("vec_id"))
          val approx = top10Sets(corpus
            .join(broadcast(sl), Seq("vec_id"))
            .join(broadcast(probesDf), Seq("q_id"))
            .select($"q_id", $"vec_id",
              (-($"qn2" + $"nrm" * $"nrm" - lit(2.0) *
                graft.functions.VectorExpressions.array_dot($"qv", $"v")))
                .as("score")))
          val sec = (System.nanoTime() - t0) / 1e9
          val (hit, tot) = recallHits(truth, approx)
          val ppm = hit.toLong * 1000000L / math.max(tot, 1)
          println(f"""{"shape":"ivf2pq_deploy","n":$n,"k":$K,"s":$S,""" +
            f""""kernel":"$tag","pq_m":8,"pq_k":256,"nprobe":$nprobe,""" +
            f""""r":$r,"shortlist":${r * 10},""" +
            f""""n_probes":${probeIds.size},"n_hit":$hit,"n_true":$tot,""" +
            f""""recall_ppm":$ppm,"build_codebook_sec":$buildCbSec%.2f,""" +
            f""""assign_sec":$assignSec%.2f,"train_sec":$trainSec%.2f,""" +
            f""""encode_sec":$encodeSec%.2f,"truth_sec":$truthSec%.2f,""" +
            f""""sec":$sec%.2f}""")
        }
        idx.unpersist(false)
      }
      // two lanes on the hierarchy: the sp=1/probe-sp=2 floor and the
      // ivf2_recall-guided mitigation (idxSp=4 assignment, probe sp=4)
      // — what a deployment actually runs when the build-time margin
      // statistic reports an isotropic codebook like this one
      Seq(("two_level", 1, 2), ("two_level_sp4", 4, 4)).foreach {
        case (tag, idxSp, probeSp) =>
          val tA = System.nanoTime()
          val asg = corpus
            .withColumn("_best", graft.functions.VectorExpressions
              .nearest_centroid2($"v", $"nrm", cb2.superCents,
                cb2.superNorms, cb2.offs, cb2.ids, cb2.cents, cb2.norms,
                nprobe = idxSp))
            .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
              $"v", $"nrm")
            .persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          asg.count()
          val assignSec = (System.nanoTime() - tA) / 1e9
          try lane(tag, asg, assignSec, rankedCells2(cb2, _, probeSp))
          finally { asg.unpersist(false); () }
      }
      if (n <= 10000000L) {
        val tA = System.nanoTime()
        val asg = corpus
          .withColumn("_best", graft.functions.VectorExpressions
            .nearest_centroid($"v", $"nrm", cbIds, cbCents, cbNorms))
          .select($"vec_id", $"_best.centroid_id".as("centroid_id"),
            $"v", $"nrm")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        asg.count()
        val assignSec = (System.nanoTime() - tA) / 1e9
        try lane("flat", asg, assignSec,
          rankedCellsFlat(cbCents, cbNorms, _))
        finally { asg.unpersist(false); () }
      }
      corpus.unpersist(false)
      graft.Scope.close()
    }
    if (only.forall(_.contains("ann_recall_deploy"))) {
      val vecsDf = spark.range(0, n, 1, 32)
        .map(i => (i, clusteredVec(i)))
        .toDF("vec_id", "v")
      val t0 = System.nanoTime()
      // target residue taken mod the modulus so the probe set is
      // non-empty at ANY n (at n < 3800 a bare 37 would select nothing)
      val mod = math.max(n / 100L, 1L)
      val curve = graft.operators.Similarity.recallEval(
        vecsDf, k = 256, iters = 3,
        probePred = col("vec_id") % lit(mod) === lit(37L % mod),
        topK = 10, nprobes = Seq(1, 4, 16)).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      curve.foreach { r =>
        println(f"""{"shape":"ann_recall_deploy","n":$n,"k":256,""" +
          f""""nprobe":${r.getLong(0)},"n_probes":${r.getLong(1)},""" +
          f""""n_true":${r.getLong(2)},"n_hit":${r.getLong(3)},""" +
          f""""recall_ppm":${r.getLong(4)},""" +
          f""""scanned_ppm":${r.getLong(5)},"sec_total":$sec%.2f}""")
      }
    }
    // STAGED curate execution — the single-host form of
    // checkpoint-between-stages: each cascade stage runs in its OWN
    // Spark session and writes its verdict to parquet; stopping a
    // session deletes its shuffle/spill scratch, so the stages'
    // exchanges never COEXIST on disk (the fused 10⁸ run died at
    // ~79 GB free precisely because they did — every stage had
    // individually fit). The corpus parquet is dropped after stage 1
    // (the staged table carries text forward), returning ~n×300 B of
    // scratch before the LSH stage's shuffle starts. At n ≤ 2·10⁷ the
    // rung ALSO runs the fused curateCorpus in a fourth session and
    // prints both xors — the hash-parity record that the staged and
    // fused forms compute the identical relation.
    // Requires SPARK_GRAFT_SCALE_ONLY=curate_staged (restarts the
    // session, so no other rung may follow in the same run).
    if (only.exists(_.contains("curate_staged"))) {
      def staged(sec: => Unit): Double = {
        val t0 = System.nanoTime(); sec; (System.nanoTime() - t0) / 1e9
      }
      def xorOf(d: org.apache.spark.sql.DataFrame): (Long, String) = {
        val r = d
          .select(xxhash64(struct(d.columns.toIndexedSeq.map(col): _*))
            .as("h"))
          .agg(count(lit(1)), bit_xor(col("h"))).collect().head
        (r.getLong(0),
          Option(r.get(1)).map(_.toString).getOrElse("0"))
      }
      spark.stop()
      // stage 1: row-local rules + exact-fp dedup → staged.parquet
      val s1 = session("graft-scale-staged")
      val sec1 = staged {
        graft.operators.TextOps.curateStagedTable(s1, curDir)
          .write.mode("overwrite").parquet(s"$dir/curate_staged.parquet")
      }
      s1.stop()
      rmrf(s"$curDir/documents.parquet") // staged table carries the text
      // stage 2: LSH pairs → touched labels → near-dup verdicts
      val s2 = session("graft-scale-staged")
      var ndHint = graft.operators.NearDup.BroadcastHint(false)
      val sec2 = staged {
        val st = s2.read.parquet(s"$dir/curate_staged.parquet")
        val (nd, hint) = graft.operators.TextOps.curateNd(st,
          graft.operators.TextOps.curateLabels(st))
        nd.write.mode("overwrite").parquet(s"$dir/curate_nd.parquet")
        ndHint = hint
      }
      // what this stage held (LSH checkpoint, staged cache) must be
      // freed while THIS context is alive — freeing it on a dead
      // context NPEs in BlockManager
      graft.Scope.close()
      s2.stop()
      // stage 3: final verdict join + checksum
      val s3 = session("graft-scale-staged")
      var out = (0L, "0")
      val sec3 = staged {
        val st = s3.read.parquet(s"$dir/curate_staged.parquet")
        val nd = s3.read.parquet(s"$dir/curate_nd.parquet")
        out = xorOf(graft.operators.TextOps.curateVerdict(st, nd, ndHint))
      }
      graft.Scope.close()
      s3.stop()
      val total = sec1 + sec2 + sec3
      println(f"""{"shape":"curate_staged","n":$n,"rows":${out._1},""" +
        f""""xor":"${out._2}","stage1_sec":$sec1%.2f,""" +
        f""""stage2_sec":$sec2%.2f,"stage3_sec":$sec3%.2f,""" +
        f""""sec":$total%.2f}""")
      if (n <= 20000000L) {
        // parity record: the fused form on the same staged table's
        // SOURCE corpus — regenerate it (dropped above), then compare
        val s4 = session("graft-scale-staged")
        val regen = {
          import s4.implicits._
          val suffix = " the a of and"
          s4.range(0, n, 1, 32)
            .map { i => (i, docText(i) + suffix, "en", s"src${i % 20}", 0L) }
            .toDF("doc_id", "text", "lang", "source", "n_chars")
            .write.mode("overwrite").parquet(s"$curDir/documents.parquet")
        }
        locally { regen }
        val t0 = System.nanoTime()
        val fused = xorOf(graft.operators.TextOps.curateCorpus(s4, curDir))
        val fusedSec = (System.nanoTime() - t0) / 1e9
        println(f"""{"shape":"curate_staged_parity","n":$n,""" +
          f""""staged_rows":${out._1},"fused_rows":${fused._1},""" +
          f""""staged_xor":"${out._2}","fused_xor":"${fused._2}",""" +
          f""""equal":${out == fused},"fused_sec":$fusedSec%.2f}""")
        graft.Scope.close()
        s4.stop()
      }
    }
    spark.stop()
    // the synthetic corpora are GiB-sized at 10⁷ — delete them on exit
    // (a KILLED run still leaks its dirs; `rm -rf /tmp/graft-scale*`
    // between sessions is the manual sweep for that)
    Seq(dir, s"$dir-curate", s"$dir-saltjoin")
      .foreach(rmrf)
  }
}
