package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Sessions, SparkEntry}

/** Writes PLANS.md: the formatted physical plan of each representative
  * query, as reviewable evidence of the scale-relevant plan properties
  * (pushdown, pruning, broadcast, no cartesian, codegen spans).
  *
  *   sbt "runMain graft.tools.DumpPlans"
  */
object DumpPlans {

  private val Representative = Seq(
    "q_delivery_gap" -> "flagship: distinct → single hash-agg, 2-column scan",
    "q_shipdate_filter" -> "predicate pushdown into the parquet scan",
    "q_revenue_by_nation" -> "pre-aggregated fact + broadcast dimension joins",
    "q_minhash_neardup" -> "LSH band equi-join on single-long keys + verify joins",
    "q_embed_neardup" -> "native LSH signatures, bucket equi-join, no cartesian",
    "q_cosine_topk" -> "broadcast probe set over corpus scan (BNLJ) + bounded top-k aggregate (no candidate-volume sort: the window form's WindowGroupLimit already bounded the exchange, but its partial phase still SORTED every task's full candidate slice — the K-entry aggregate state replaces that local sort)",
    "q_ivf_assign" -> "IVF index build as a NARROW codegen'd pass: nearestcentroidexpr carries the codebook, no join / window / shuffle before the presentation sort",
    "q_ivf_topk" -> "inverted-list probe: one narrow corpus assignment; probe side assigned from a vec_id-filter-pushed 10-row scan",
    "q_ngram_jaccard" -> "inverted-index count join on (source, shingle-hash) — no block self-join, no shingle arrays in any shuffle",
    "q_sim_label_topk" -> "bounded (label, centroid) cells from a narrow codebook assignment materialized once (InMemoryTableScan on both pair-join sides)",
    "q_repetition" -> "document-local stats as row-local native expressions: no explode, no token-stream shuffle, single narrow scan",
    "q_containment" -> "asymmetric prefix filter: contained-side prefix postings × container-side full postings, equi-join on the 8-byte token key",
    "q_sessionize" -> "one shuffle on user_id shared by lag + running-sum windows",
    "q_salted_agg" -> "two-phase salted aggregation (hot-key spreading)",
    "q_pack_bins" -> "sequence packing: cost computed before the one shuffle on source (3 narrow columns move, never text), then a streaming per-partition walk",
    "q_clean_corpus" -> "filter chain + dedup composed into one plan: narrow quality/lang work fused into the scan stage ahead of the fp-window shuffle",
    "q_inverted_index" -> "bounded bottom-K postings cap: one map-side-combined aggregate on the token shuffle — no window, no per-token posting sort (a stop-word's partition is the corpus)",
    "q_ivf_assign2" -> "TWO-LEVEL IVF assignment as a NARROW codegen'd pass: nearestcentroid2expr carries the CSR codebook (supers + grouped children), no join / window / shuffle before the presentation sort",
    "q_ohlc_bars" -> "hourly OHLC as ONE map-side-combined aggregate: min_by/max_by carry (open, close) under the total (us, event_id) order — no rank windows, no per-bucket sort",
    "q_pq_encode" -> "PQ index build as a NARROW codegen'd pass: pqencodeexpr carries the sub-codebooks, no join / shuffle before the presentation sort",
    "q_pq_topk" -> "ADC search: broadcast raw probes over the encoded corpus (BNLJ — the corpus side carries M-byte codes, not vectors) + window top-k",
    "q_semantic_dedup" -> "SemDeDup: one narrow assignment materialized once (InMemoryTableScan both sides), cell-bounded pair join, drop-set rejoin on vec_id",
    "q_bm25_topk" -> "sparse retrieval: token aggregates → inverted-index equi-join with broadcast 10-doc query side → one score aggregate",
    "q_lm_fit" -> "bigram LM: row-local slice+arrays_zip extraction (no window over token position), count-table joins, per-doc fold",
    "q_global_shuffle" -> "deterministic global order: ONE range exchange, within-partition rank, bounded per-partition offset map — no single-task global window",
    "q_quality_calibrate" -> "per-language percentile floor: narrow scan-stage scoring, one hash exchange on lang feeding the rank window (low-cardinality partition — the documented deployment lever is sketch-thresholds + narrow filter), presentation sort",
    "q_gap_by_window" -> "ONE hash exchange on user_id shared by the distinct aggregation, the lag window, and the per-user aggregate (plus the presentation range sort)",
    "q_dedup_clusters" -> "near-dup pairs -> connected components: banded LSH joins feed min-label propagation (star-contraction fallback past the round cap); per-round state is localCheckpoint'ed and freed",
    "q_dup_spans" -> "duplicated-span census: row-local rolling n-gram hashing (one ngramhashesexpr pass, spans move as 8-byte longs, never text), ONE shuffle of the span stream into the (gram, doc) partial agg, window over the reduced table — no countDistinct Expand",
    "q_dedup_survivor" -> "cluster labels join the narrow quality scan; per-cluster argmax is one max(struct) partial agg; survivor join reuses the cluster_id hash partitioning",
    "q_cell_sample" -> "narrow no-join centroid assignment; rank + cell-size windows share ONE exchange on centroid_id",
    "q_span_scrub" -> "duplicated-span removal: positions packed into the one (gram, doc) shuffle (no rejoin of the span stream), gaps-and-islands interval union, row-local nested-HOF token rewrite at the final doc join",
    "q_incremental_neardup" -> "incremental ingest dedup: batch-side band keys probe the corpus∪batch index one-sided — candidate volume scales with the BATCH, corpus×corpus never joins; verify joins fetch shingles for candidates only",
    "q_profile" -> "per-column profiling: one two-level aggregation per column (groupBy value → roll-up) — NO countDistinct Expand anywhere, every branch's scan pruned to its single column",
    "q_filter_audit" -> "drop attribution: all cascade rules are row-local scan-stage work; ONE fp-window exchange (partitioned on (fp, passed)) before the tiny reason aggregate",
    "q_incremental_semdedup" -> "incremental embedding dedup: narrow codebook assignment (no join), cell-bounded ONE-SIDED pair join (index × fresh probe), fresh-only verdict rejoin",
    "q_decontaminate_ngram" -> "span-level decontamination: row-local rolling-hash gram stream (ngramhashesexpr), DISTINCT'd benchmark grams broadcast into the probe join, per-lang aggregate",
    "q_gram_matrix" -> "corpus Gram matrix: D(D+1)/2 quantized products per vector generated inside codegen, ONE map-side-combined hash aggregation (bounded partials per task), scan pruned to the embedding column",
    "q_pca_project" -> "PCA projection: the dominant direction folded in as a literal array — per-row integer dot product, NO join, no hash exchange, scan-speed transform",
    "q_source_cap" -> "per-source frequency cap: ONE hash exchange on source feeding the md5-rank window, O(1) rank state per partition",
    "q_linreg_fit" -> "one-pass OLS: six sufficient statistics reduce map-side into a single row; the closed form is driver-free scalar arithmetic on that row",
    "q_source_overlap" -> "cross-source KMV sketches: bounded bottom-k ObjectHashAggregate (k-entry partials, map-side combined) collapses the corpus to Sxk rows; pair stages touch sketches only; the exact-audit path is the one gram equi-join",
    "q_pagerank" -> "5 fixed join-agg rounds chained in ONE lazy plan over checkpointed edge/degree RDD leaves — nothing upstream of the graph recomputes per round; inflow sums are map-side partial aggregates",
    "q_novelty" -> "per-doc distinct-gram uniqueness: array_distinct inside the scan projection (per-doc repeats never reach the exchange), ONE gram-grain exchange for the df window, doc-grain rollup with map-side partials; text never shuffles, only 8-byte FNV keys",
    "q_cluster_sizes" -> "census over CC labels: two hash aggregates whose grain only shrinks (docs -> clusters -> distinct sizes), both map-side combined; derived columns row-local",
    "q_pca_sampled" -> "sample-fit PCA: the fit-side Gram filters to the md5-bucket sample in the scan stage (a hash rule cannot prune row groups, but 90% of rows die before the explode), and the fit subtree materializes at build time -- the dumped plan is the full-corpus projection, the same no-join literal-array dot product as q_pca_project",
    "q_source_overlap_sketch" -> "sketch-only overlap: KMV sketches build straight from raw occurrences through the bounded bottom-k ObjectHashAggregate (<= Sxk per-task state, Sxk rows over the one exchange) -- the audit path's corpus-grain postings table never exists; pair stages are row-local over broadcast sketches",
    "q_trailing_window" -> "per-event trailing RANGE frame over epoch-micros: ONE hash exchange on user_id, the frame evaluated as a sliding run inside the Window operator -- no self-join, no per-row rescan",
    "q_sliding_counts" -> "sliding event-time windows in batch: one Expand (factor 2 = windows per event) into a single partial+final hash aggregate -- no per-window union or self-join",
    "q_cascade_dedup" -> "two-stage dedup cascade: cell-bounded embedding pair join proposes candidates (assignment materialized once, InMemoryTableScan both sides), then the exact token-Jaccard verify joins documents on doc_id for the CANDIDATE set only",
    "q_cluster_purity" -> "cluster-label purity: narrow no-join centroid assignment reduced by map-side partials to (centroid, label) rows; majority-label window and cell-total window share the centroid_id exchange",
    "q_curate_corpus" -> "the fused curation cascade: row-local rules in the scan stage, fp-window exact dedup, LSH band join + CC + survivor argmax running ONLY on each prior stage's survivors, verdict rejoin on doc_id",
    "q_funnel" -> "ordered funnel: three chained per-user min-aggregates, every stage reusing the user_id partitioning (broadcast when tiny) -- no event self-join, no full-stream window",
    "q_graph_stats" -> "triangle census: oriented-edge joins (a<b storage means each triangle counts once) -- join volume is the wedge count; the three scalar aggregates meet in 1-row broadcast crossJoins",
    "q_skew_profile" -> "join-key skew census: scan pruned to the key, two shrinking-grain map-side-combined aggregates (rows -> keys -> distinct multiplicities), rank-block Gini closed-form on the counts-of-counts histogram -- no global rank materialized, no joins",
    "q_anomaly_mad" -> "robust outlier census: the ONLY full-data pass is the map-side-combined (type, value-milli) histogram; both median passes are stacked windows sharing the event_type exchange -- zero joins, zero broadcast-build jobs",
    "q_group_quantiles" -> "exact per-group p50/p90/p99: same domain-bounded histogram + cumulative window as the MAD scan, quantiles read at rank ceil(n*p/100) in the final aggregate -- never a per-group sort of raw rows",
    "q_event_transitions" -> "Markov adjacency: full rows cross ONE user_id exchange for the lag window; everything after is the |types|^2 table, out-degrees joined via broadcast",
    "q_join_census" -> "exact join-size prediction: each side reduces map-side to its per-key count table; the census joins COUNT tables (one row per distinct key), scalars meet in 1-row crossJoins",
    "q_rate_cusum" -> "CUSUM rate change-point: map-side-combined hourly rollup, then prefix-sum + running-min windows over the time-range-bounded series -- the nonlinear recurrence without recursion",
    "q_label_affinity" -> "label-centroid affinity: one corpus explode reduced map-side to the (labels x dim) sum table; the pair stage is a corpus-size-independent self-join on dim with broadcast norms",
    "q_dedup_tau_sweep" -> "threshold calibration: rides the verified pair set; 4x threshold replication and both rollups are pair-table-local",
    "q_source_concentration" -> "Lorenz concentration profile: the corpus reduces map-side to one row per source; ranking + cumulative windows run on that domain-bounded table",
    "q_snapshot_diff" -> "two-snapshot diff: md5 fingerprint + token cost computed IN the scan stage on both sides, so the full-outer doc_id join moves constant-width rows, never text; final aggregate grain is (source, status)",
    "q_temperature_plan" -> "temperature mixture plan: one map-side-combined aggregate reduces the corpus to a row per source; sqrt-flattened weights and the epoch-capped budget run on that bounded table against a 1-row broadcast of the totals",
    "q_winnow_neardup" -> "winnowing near-dup: fingerprint extraction is ONE narrow codegen'd pass (native winnow_fps -- gram md5s + sliding minima, no token-stream shuffle); pair stage is the inverted-index count join on the fingerprint key with hot keys (df > cap) dropped before the self-join",
    "q_mix_schedule" -> "WFQ mixture schedule: one source exchange for the md5 rank window, ppm weights ride a source-count-bounded broadcast join, the finish tag is row-local BIGINT arithmetic -- no global window; consumers range-partition on vt",
    "q_dsir_select" -> "DSIR importance selection: target/raw bigram count tables reduce map-side from the (w1,w2) stream; the score joins the doc bigram stream to those tables once, aggregates per doc_id, and the top-k is a TakeOrdered -- no global sort, no transcendental arithmetic",
    "q_effective_tokens" -> "dedup-aware token census: rides dedupClusters' labels (banded LSH + O(log n) CC, never all-pairs); the census is one constant-width doc_id join and a map-side-combined rollup to a row per source",
    "q_media_chunk_dedup" -> "binary CDC near-dup: one narrow codegen'd chunking pass (payload bytes never shuffle, only 8-byte chunk hashes explode); df-capped inverted-index count join, Sigma-df^2 not n^2",
    "q_leakage_split" -> "leakage-safe split: rides dedupClusters' labels; the md5-of-cluster-id split rule is row-local, so the only added node over the clustering is a projection before the presentation sort",
    "q_kcore" -> "k-core peel: 4 bounded rounds of degree-aggregate + semi-join edge filters over the near-dup-sized (not corpus-sized) edge list; the checkpointed symmetric edge table is reused every round",
    "q_effective_mix" -> "dedup-aware mixture weights: rides the effective-token census (LSH + CC + per-source rollup); the weight arithmetic runs on the source-count-bounded table against a 1-row broadcast",
    "q_active_users" -> "DAU/WAU: events reduce first to distinct (day, user) pairs; the trailing-7-day distinct is an equi-groupable 7x explode of that reduced table -- no non-equi BroadcastNestedLoop range join",
    "q_adaptive_join" -> "census-driven join choice: per case, the bounded census decides broadcast / salted / sort-merge and the join executes THROUGH the decision -- the skew case carries (k, salt) join keys so the hot key spreads over NumSalts tasks",
    "q_media_features" -> "real-codec decode: PNG generation and ImageIO decode are two partition-batched narrow passes; payload bytes never shuffle -- features (70 bytes/row) are extracted before the presentation sort",
    "q_video_frames" -> "frame container decode: strided seek + per-frame PNG decode in one mapPartitions pass; only sampled frames reach the codec, and only (doc, frame) stat rows reach the exchange",
    "q_decontaminate_semantic" -> "semantic decontamination: one narrow codebook-in-expression assignment scan; the tiny benchmark side broadcasts into its own cells only -- pair work is bench x cell, corpus^2 never planned",
    "q_takedown_stats" -> "subtractive retraction: the standing stats table (checkpoint leaf) left-joins the broadcast removed-docs aggregate -- the corpus scan appears only UNDER the pushed-down removal predicate; the full corpus is never re-read",
    "q_takedown_kcore" -> "blast-radius k-core maintenance: untouched components stream through two anti/semi joins on broadcast cluster ids; only the affected subgraph's surviving edges enter the bounded re-peel rounds")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local("4", appName = Some("graft-plans"),
      logLevel = "ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` at $sfDir. What to look\n")
    sb.append("for per plan is noted above it; regenerate after plan-shape\n")
    sb.append("changes.\n")
    Representative.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${Representative.size} plans)")
    spark.stop()
  }
}
