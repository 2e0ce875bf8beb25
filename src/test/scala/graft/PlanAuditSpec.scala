package graft

import graft.operators.{Dataflow, Relational, TextOps}

/** Pins the physical-plan properties the 100 TB design depends on:
  * column pruning into the scan, predicate pushdown, broadcast joins for
  * dimensions, and no cartesian products anywhere in the registry. */
class PlanAuditSpec extends SparkSpecBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("delivery gap prunes the events scan to its two columns") {
    val p = plan(Dataflow.deliveryGap(spark, sfDir))
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("user_id") && readSchema.contains("event_id"),
      readSchema)
    assert(!readSchema.contains("props") && !readSchema.contains("ts"),
      readSchema)
  }

  test("shipdate filter is pushed to the parquet scan") {
    val p = plan(Relational.shipdateFilter(spark, sfDir))
    assert(p.contains("PushedFilters:"), p)
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined
      || "PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(p).isDefined, p)
  }

  test("revenue-by-nation joins dimensions via broadcast, no sort-merge") {
    val p = plan(Relational.revenueByNation(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("adaptive join executes the shape its census decided") {
    import org.apache.spark.sql.functions._
    import graft.operators.Profiling
    val s = spark
    import s.implicits._
    val aBuild = graft.ops.Tables.nation(spark, sfDir)
      .select($"n_nationkey".cast("long").as("k"),
        $"n_regionkey".cast("long").as("p"))
    val aProbe = graft.ops.Tables.customer(spark, sfDir)
      .select($"c_nationkey".cast("long").as("k"),
        $"c_custkey".cast("long").as("v"))
    val dA = Profiling.decideJoin(aBuild, aProbe)
    assert(dA.strategy === "broadcast", dA)
    assert(plan(Profiling.executeDecided(aBuild, aProbe, dA))
      .contains("BroadcastHashJoin"))

    val bBuild = graft.ops.Tables.orders(spark, sfDir)
      .select($"o_orderkey".cast("long").as("k"),
        $"o_custkey".cast("long").as("p"))
    val bProbe = graft.ops.Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".cast("long").as("k"),
        $"l_linenumber".cast("long").as("v"))
    val dB = Profiling.decideJoin(bBuild, bProbe)
    assert(dB.strategy === "shuffle", dB)
    assert(plan(Profiling.executeDecided(bBuild, bProbe, dB))
      .contains("SortMergeJoin"))

    val cProbe = graft.ops.Tables.lineitem(spark, sfDir)
      .select(when($"l_orderkey" % 3 === 0, 0L).otherwise($"l_orderkey")
        .cast("long").as("k"), $"l_linenumber".cast("long").as("v"))
    val cBuild = graft.ops.Tables.orders(spark, sfDir)
      .select(when($"o_orderkey" % 3 === 0, 0L).otherwise($"o_orderkey")
        .cast("long").as("k"))
      .groupBy($"k").agg(count(lit(1)).as("p"))
    val dC = Profiling.decideJoin(cBuild, cProbe)
    assert(dC.strategy === "salted", dC)
    // the census names the hot key it found
    assert(dC.hotKeys === Seq(0L), dC)
    // with AQE's skew join available (the default), the salted decision
    // DEFERS to the runtime split: plain sort-merge on the key alone
    // (the 10⁸ adjudication: AQE 8.4 s vs targeted-salt 15.4 s)
    val pC = plan(Profiling.executeDecided(cBuild, cProbe, dC))
    assert(pC.contains("SortMergeJoin"), pC)
    assert("SortMergeJoin \\[k#\\d+L?, __graft_salt#\\d+".r.findFirstIn(pC).isEmpty,
      pC)
    // without runtime skew splitting, the manual TARGETED salt engages:
    // the join carries BOTH the key and the salt — the hot key's rows
    // land in NumSalts different sort-merge partitions
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try {
      val pS = plan(Profiling.executeDecided(cBuild, cProbe, dC))
      assert(pS.contains("SortMergeJoin"), pS)
      assert("SortMergeJoin \\[k#\\d+L?, __graft_salt#\\d+".r.findFirstIn(pS).isDefined,
        pS)
    } finally spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
  }

  test("native text kernels stay inside whole-stage codegen") {
    // the kernels' doGenCode emits a static call; the row-local quality
    // stage must plan as a codegen'd ('*(N)') Project over the scan —
    // an interpreted fallback would silently re-open the 4x-split cost
    // the kernels were measured to remove
    val df = TextOps.textStats(spark, sfDir)
    df.collect() // finalize THIS df's adaptive plan (count() would plan anew)
    val p = plan(df).toLowerCase
    assert("\\*\\(\\d+\\) project [^\\n]*tokensetcount".r
      .findFirstIn(p).isDefined, p.take(2000))
    val dff = TextOps.fingerprint(spark, sfDir)
    dff.collect()
    val pf = plan(dff).toLowerCase
    assert("\\*\\(\\d+\\) [^\\n]*normalizetext".r
      .findFirstIn(pf).isDefined, pf.take(2000))
  }

  test("semi/anti joins plan as semi/anti, not inner+distinct") {
    val p = plan(Relational.orderLineitemSemiAnti(spark, sfDir))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("as-of join: attributed purchase is same-user, at-or-before, and is a purchase") {
    import spark.implicits._
    val asof = Relational.asofJoin(spark, sfDir)
      .where($"last_purchase_id".isNotNull).cache()
    val ev = graft.ops.Tables.events(spark, sfDir)
    val probes = ev.select($"event_id", $"ts".as("e_ts"))
    val markers = ev.select($"event_id".as("last_purchase_id"),
      $"ts".as("p_ts"), $"user_id".as("p_user"), $"event_type")
    val joined = asof.join(probes, Seq("event_id"))
      .join(markers, Seq("last_purchase_id"))
    assert(joined.where($"p_ts" > $"e_ts").count() === 0)
    assert(joined.where($"p_user" =!= $"user_id").count() === 0)
    assert(joined.where($"event_type" =!= "purchase").count() === 0)
    assert(asof.count() > 0)
    asof.unpersist()
  }

  test("ngram jaccard joins on the shingle posting key, never source alone") {
    // the scale property of the round-3 rewrite: the only self-join key
    // is (source, tok) — an unfiltered per-source block self-join would
    // plan a join whose keys are [source] only, quadratic in block size
    val p = plan(graft.operators.NearDup.ngramJaccardTopK(spark, sfDir))
    assert(p.contains("tok"), p.take(2000))
    // and no shingle ARRAY column survives into any exchange: the
    // posting key is the exploded 8-byte hash, sizes join in later
    assert(!"Exchange [^\\n]*sh#".r.findFirstIn(p).isDefined, p.take(2000))
  }

  test("ivf probe assignment reads a filter-pushed probe scan, not the corpus") {
    val p = plan(graft.operators.Similarity.ivfTopK(spark, sfDir))
    // the probe-side parquet scan must carry the vec_id range pushdown —
    // that is what keeps the SECOND centroid pass at |probes|, not |corpus|
    assert(
      "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(vec_id,8\\)[^\\]]*LessThan\\(vec_id,18\\)".r
        .findFirstIn(p).isDefined, p.take(3000))
  }

  test("two-level IVF assignment stays a NARROW codegen'd pass: no " +
    "exchange before the presentation sort") {
    val p = plan(graft.operators.Similarity.ivfAssign2(spark, sfDir))
    // the CSR codebook rides inside the expression — a join against a
    // centroid table or a window would each plan an Exchange ahead of
    // the final ORDER BY's range exchange; exactly ONE Exchange total
    assert("(?m)Exchange".r.findAllIn(p).size <= 2, p.take(3000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("OHLC bars plan ONE aggregate, no rank windows, no per-bucket sort") {
    val p = plan(graft.operators.Dataflow.ohlcBars(spark, sfDir))
    assert(!p.contains("Window"), p.take(2000))
    // partial + final aggregate around one exchange — min_by/max_by
    // carry open/close as bounded per-bucket state (ObjectHashAggregate
    // if Spark plans them imperatively)
    assert(p.contains("Aggregate"), p.take(2000))
  }

  test("inverted index caps postings WITHOUT a window: bounded bottom-K " +
    "aggregate on the token shuffle") {
    val p = plan(graft.operators.Corpus.invertedIndex(spark, sfDir))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("label-bucket cells reuse ONE materialized assignment pass") {
    val p = plan(graft.operators.Similarity.labelBucketTopK(spark, sfDir))
    // both sides of the pair join scan the cached assignment; without the
    // persist the plan contains two independent corpus×centroid subtrees
    assert(p.contains("InMemoryTableScan"), p.take(2000))
  }

  test("repetition signals stay a narrow scan: no token-stream shuffle") {
    val p = plan(graft.operators.TextOps.repetition(spark, sfDir))
    // per-doc token stats are row-local native expressions; the only
    // exchange is the presentation sort — an explode + groupBy form
    // would shuffle the whole token stream (twice)
    assert(!p.contains("Generate"), p.take(2000)) // no explode
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("gap-by-window plans exactly one exchange: distinct, window, and agg share it") {
    // hash(user_id) co-locates (user_id, event_id), so the distinct
    // aggregation, the lag window, and the final groupBy(user_id) all
    // satisfy their distribution from the ONE repartition — a second
    // exchange here would re-shuffle the whole deduped corpus at scale
    val df = Dataflow.gapByWindow(spark, sfDir)
    df.collect() // finalize the adaptive plan
    // an adaptive plan's toString appends the INITIAL plan after the
    // final one — count exchanges in the final section only
    val p = plan(df).split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
    // (the only other exchange is the rangepartitioning presentation sort)
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(3000))
  }

  test("trailing window: one hash exchange, range frame, no self-join") {
    // the RANGE frame is evaluated inside the Window operator over each
    // user's sorted run — a range-JOIN formulation would plan a second
    // exchange (or worse, a BNLJ) and rescan the stream per row
    val df = Dataflow.trailingWindow(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("sliding counts: one Expand (window replication) into one aggregate") {
    // size = 2x slide: Spark replicates each row into its two windows via
    // a single Expand feeding a partial+final hash aggregate — the shape
    // that scales (a per-window union or self-join would rescan events
    // once per window offset)
    val df = Dataflow.slidingCounts(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Expand".r.findAllIn(p).size === 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
  }

  test("length deciles: window and aggregate share the lang exchange") {
    val df = graft.operators.Breadth.lengthDeciles(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // ntile's partitionBy(lang) exchange also satisfies the (lang,
    // decile) aggregate via partial aggregation on co-located data
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  // (the former "both rank windows share the bucket exchange" pin was
  // retired with the round-11 min_by/max_by conversion — the plan now
  // has NO windows at all; see "OHLC bars plan ONE aggregate" above)

  test("active time: running-max and island windows plus aggregates share one exchange") {
    val df = graft.operators.Sessionize.activeTime(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("cell sample: rank and cell-size windows share one hash exchange") {
    val df = graft.operators.Similarity.cellSample(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df).split("== Initial Plan ==").head
    // one hash exchange on centroid_id feeds BOTH window functions; the
    // only other exchange is the rangepartitioning presentation sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(3000))
    assert("Window".r.findAllIn(p).size === 2, p.take(3000))
  }

  test("dup spans: span stream shuffles once, no countDistinct Expand") {
    val df = TextOps.dupSpans(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the raw span stream enters exactly one exchange — the (gram, doc)
    // partial aggregate; the window and per-doc fold run on REDUCED data.
    // An Expand node would mean a countDistinct doubled the stream.
    assert(!p.contains("Expand"), p.take(3000))
    // gram hashes, not text, move: no `text` column in any exchange
    assert(!"Exchange [^\\n]*text#".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("novelty: text never enters an exchange, no Expand") {
    val df = TextOps.novelty(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // per-doc repeats die in array_distinct INSIDE the scan projection,
    // so the exchange moves (doc_id, 8-byte gram hash) pairs only; an
    // Expand would mean a countDistinct doubled the stream
    assert(!p.contains("Expand"), p.take(3000))
    assert(!"Exchange [^\\n]*text#".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("dedup survivor: the label/quality join subtree is planned once") {
    val df = graft.operators.NearDup.dedupSurvivor(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the aggregate-then-rejoin form planned TWO copies of the quality
    // scan; the window argmax form reads documents.text exactly once
    // (the doc_id-only CC nodes scan is separate and carries no text)
    val textScans = "Scan parquet [^\\n]*text#".r.findAllIn(p).size
    assert(textScans === 1, p.take(3000))
    assert("Window".r.findAllIn(p).size === 1, p.take(3000))
  }

  test("pivot: explicit value list, no eager discovery job, one agg exchange") {
    // .pivot(col) WITHOUT a value list runs a distinct-collect job at
    // plan-construction time — an extra corpus pass plus an unbounded
    // driver collect. The explicit list must keep plan construction
    // job-free (the property the operator's doc sells):
    val tracker = spark.sparkContext.statusTracker
    def jobs = tracker.getJobIdsForGroup(null).length
    // control: constructing a PLAIN aggregate over the same table costs
    // a fixed number of jobs (the fresh parquet read's schema/footer
    // job); explicit-list pivot construction must cost exactly the
    // same — the discovery form (.pivot(col) with no list) measures +4
    // more here, the distinct-collect pass the operator must not run
    val a = jobs
    graft.ops.Tables.orders(spark, sfDir).groupBy("o_orderpriority").count()
    val control = jobs - a
    val b = jobs
    val df = graft.operators.Breadth.pivotStatus(spark, sfDir)
    val pivotCost = jobs - b
    assert(pivotCost === control,
      s"pivot construction launched $pivotCost job(s) vs $control for a " +
        "plain aggregate — the value list is no longer explicit")
    // and the corpus shuffles ONCE: Spark plans pivot as an aggregate on
    // (group, pivot) followed by a PivotFirst aggregate on the group —
    // the first exchange carries map-side-combined partials, the second
    // only the already-reduced (priority, status) table. Pin exactly
    // those two hash exchanges and the pruned scan.
    val p = plan(df)
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2, p)
    assert(p.contains("pivotfirst"), p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("o_orderpriority")
      && readSchema.contains("o_orderstatus") && !readSchema.contains("o_totalprice"),
      readSchema)
  }

  test("gram matrix: one agg exchange, scan pruned to the embedding column") {
    val p = plan(graft.operators.Spectral.gramMatrix(spark, sfDir))
    // partial aggregation combines map-side: the one hash exchange moves
    // ≤ D(D+1)/2 partial sums per task, never row data (the final sort's
    // range exchange moves the same bounded set)
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("embedding") && !readSchema.contains("vec_id")
      && !readSchema.contains("label"), readSchema)
  }

  test("pca projection is a per-row map: no join, direction folded as literal") {
    val p = plan(graft.operators.Spectral.pcaProject(spark, sfDir))
    assert(!p.contains("Join"), p)
    // only the final presentation sort may exchange; no hash exchange
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("dedup builds stay within their job budgets, and the verify join " +
      "reuses the shingle side's exchange") {
    import spark.implicits._
    // warm the schema memo, so a table's first-read inference is not counted
    graft.ops.Tables.documents(spark, sfDir)
    graft.ops.Tables.embeddings(spark, sfDir)
    // the candidate plan's two shuffle stages and the one pass that
    // materializes and counts its checkpoint
    def build(name: String) = jobsDuring(SparkEntry.queries(name)(spark, sfDir))
    val (_, ndJobs) = build("q_minhash_neardup")
    assert(ndJobs.size <= 3, s"q_minhash_neardup build: ${ndJobs.size} jobs")
    // the codebook collect
    val (_, sdJobs) = build("q_semantic_dedup")
    assert(sdJobs.size <= 1, s"q_semantic_dedup build: ${sdJobs.size} jobs")
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val v = graft.operators.NearDup.verifiedCandidates(docs,
      graft.operators.NearDup.candidatesFromBands(
        graft.operators.NearDup.bandedOver(docs)))
    v.collect()
    assert(plan(v).contains("ReusedExchange"), plan(v))
  }

  test("no registered query plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = plan(fn(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$name: $p")
    }
  }

  test("the queries that plan an unpartitioned window are pinned, each with its reason") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    object H extends AdaptiveSparkPlanHelper
    // a window with no PARTITION BY moves all its input rows into one
    // task; cached subtrees are searched too
    def unpartitioned(p: SparkPlan): Int =
      H.collectWithSubqueries(p) {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.size + H.collectWithSubqueries(p) {
        case m: InMemoryTableScanExec => m
      }.map(m => unpartitioned(m.relation.cachedPlan)).sum
    // each window's input is bounded by design, not by the corpus
    val expected = Map(
      "q_rate_cusum" -> "running CUSUM over the observed-hour series",
      "q_skew_profile" -> ("cumulative rank over the counts-of-counts " +
        "histogram (one row per distinct multiplicity)"),
      "q_source_concentration" -> ("rank and cumulative share over the " +
        "per-source totals (one row per source)"))
    val found = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn)
          if unpartitioned(fn(spark, sfDir).queryExecution.executedPlan) > 0 =>
        name
    }
    assert(found === expected.keys.toSeq.sorted)
  }

  test("event transitions: full rows cross one exchange; state totals broadcast") {
    // the user_id exchange feeding the lag window is the ONLY one that
    // carries event rows — everything after operates on the |types|²
    // adjacency table, and the out-degree join must be broadcast, never
    // a sort-merge of two metadata-sized sides with a full shuffle
    val df = graft.operators.Profiling.eventTransitions(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("skew profile: scan pruned to the key, no joins, histogram-only sort") {
    // both groupBys are map-side combined; the rank-block cumulative runs
    // on the counts-of-counts histogram (width = distinct multiplicities,
    // not keys), so the single-partition window there is metadata-sized
    val df = graft.operators.Profiling.skewProfile(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), p.take(3000))
  }

  test("anomaly MAD: joins eliminated — both median passes are windows") {
    // the naive form builds five broadcast jobs (totals, medians, MAD);
    // the window form keeps every per-type constant inside the exchanges
    // the histogram already needs, and only (event_type, value) is read
    val df = graft.operators.Profiling.anomalyMad(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), p.take(3000))
    assert("Window".r.findAllIn(p).nonEmpty, p.take(3000))
    assert(p.contains("event_type") && p.contains("ReadSchema"), p.take(3000))
    assert(!p.contains("text"), p.take(3000)) // documents never scanned
  }

  test("snapshot diff: text dies at the scan — only fingerprints cross the join") {
    val df = graft.operators.Curation.snapshotDiff(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // every Exchange input carries md5 fingerprints, never raw text:
    // text appears only below the scans' projections, so no exchange
    // row should reference the text attribute
    val exchanges = "Exchange [^\n]*".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(!e.contains("text#"), e))
    assert(p.contains("FullOuter"), p.take(3000))
  }

  test("winnow fingerprint extraction is a narrow native pass (no HOFs, no window exchange)") {
    import spark.implicits._
    val fps = graft.operators.NearDup.winnowFingerprints(
      graft.ops.Tables.documents(spark, sfDir).select($"doc_id", $"text"))
    val p = plan(fps)
    // the r6 rewrite's contract: no interpreted higher-order transform
    // chain, no Window/Exchange — extraction runs at scan speed
    assert(!p.contains("transform("), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("winnowfpsexpr") || p.contains("WinnowFps")
      || p.toLowerCase.contains("winnow"), p)
  }

  test("mix schedule: one hash exchange on source; weights broadcast") {
    val df = graft.operators.Curation.mixSchedule(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // per-DOC rows cross exactly one hash exchange (the source rank
    // window); the other two hash exchanges are the weight branch's
    // map-side-combined per-source aggregates (rows = source count),
    // and the weights reach the corpus via broadcast — pin the counts
    // so a regression that re-shuffles the corpus (e.g. a second
    // window or a shuffled weight join) fails this
    val hashEx = "Exchange hashpartitioning[^\n]*".r.findAllIn(p).toSeq
    assert(hashEx.length <= 3, p.take(3000))
    val rangeEx = "Exchange rangepartitioning[^\n]*".r.findAllIn(p).toSeq
    assert(rangeEx.length === 1, p.take(3000)) // the presentation sort
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("text stats stay in one whole-stage codegen span (no UDFs)") {
    val df = TextOps.textStats(spark, sfDir)
    df.collect() // finalize THIS df's adaptive plan (count() would plan anew)
    val p = plan(df)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // "*(n)" node prefixes mark WholeStageCodegen spans in plan strings
    assert(p.contains("*("), p)
  }
}
