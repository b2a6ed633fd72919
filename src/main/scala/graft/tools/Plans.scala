// plan-shape artifact generator — run via: sbt "runMain graft.tools.Plans"
// Regenerates PLANS.md (the .explain evidence for the scale-design claims).
package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

object Plans {

  /** headline query -> the plan property it demonstrates */
  private val picks: Seq[(String, String)] = Seq(
    "q_scan_filter_project" ->
      "predicates + projection pushed into the parquet scan (PushedFilters / ReadSchema)",
    "q_agg_pricing_summary" ->
      "partial (map-side) HashAggregate below the exchange, final above — one shuffle",
    "q_join_broadcast" ->
      "dim-dim join broadcasts (BroadcastHashJoin), no shuffle of either side",
    "q_join_shuffle3" ->
      "3-way fact join: small filtered dims broadcast, fact shuffles once on the join key",
    "q_sort_limit" ->
      "global top-k = TakeOrderedAndProject (per-partition heaps), never a full sort",
    "q_window_topk" ->
      "ranking window partitioned by the group key — one exchange, state stays per-key",
    "q_dedup_minhash" ->
      "row-local MinHash: each doc's text shuffles ONCE on doc_id (fanning the shingling out over every partition and making the exact doc_id merge partition-local), its shingle array, 16-way signature (native minhashsig) and band keys are computed in-row in the checkpointed build pass below the Scan ExistingRDD (plans/minhash_rowlocal shows it) — no shingle explode, no (doc_id, shingle) aggregate; candidates from equi-joins on (band, key), verify by in-row array_intersect",
    "q_knn_brute" ->
      "query set broadcast against the corpus scan; native codegen cosine in the project",
    "q_sample_systematic" ->
      "pure hash-predicate sampler: scan + filter, zero exchanges, zero RNG",
    "q_parity_sort" ->
      "scalable total order: range exchange + per-range ranks + tiny offset join, no single-task window",
    "q_text_tfidf" ->
      "corpus-size scalar broadcast; tf/df aggregates shuffle once each on their keys",
    "q_knn_ivf_probe" ->
      "IVF multi-probe: codebook broadcast (BroadcastExchange), candidates keyed by cell — ~nprobe/cells of the corpus scored per query",
    "q_dedup_clusters" ->
      "connected components: per-round plans read localCheckpoint'd RDDs, not the re-planned candidate pipeline",
    "q_join_bloom" ->
      "runtime-filter join: 512-word bloom broadcast (BroadcastNestedLoopJoin over one row), probe side stays narrow to the final agg",
    "q_text_pack" ->
      "sequence packing: per-bucket window cumsum — ONE hash exchange on bucket, no global sort, no sequential state",
    "q_join_asof_near" ->
      "nearest as-of: two direction windows over the SAME key partitioning — one exchange, two in-partition sorts, zero pair blow-up",
    "q_agg_hll_merge" ->
      "mergeable sketches: per-group HLL partials union up the rollup (hll_union_agg) — distinct-count rollups never rescan raw data",
    "q_sample_mixture" ->
      "domain mixture: rate lookup + hash-derived copy count + generate — fully narrow, no shuffle at any scale",
    "q_dedup_decontaminate_ngram" ->
      "13-gram decontamination: eval grams broadcast (BroadcastHashJoin left-semi), train documents never shuffle",
    "q_pipeline_upsert" ->
      "CDC merge: ONE full-outer sort-merge join on the key (full outer cannot broadcast) — the Delta/Iceberg MERGE shape",
    "q_pipeline_upsert_bucketed" ->
      "CDC merge onto a key-bucketed base: the base side reaches the full-outer SMJ with ZERO Exchange (bucket layout satisfies the join's distribution) — only the change batch shuffles, the per-batch cost at 100 TB",
    "q_text_bigrams" ->
      "top-20 head via TakeOrderedAndProject + 20x20 broadcast rank join — no unpartitioned window anywhere (registry-wide invariant in PlanShapeSpec)",
    "q_dedup_ngram_jaccard" ->
      "inverted shingle index: pair candidates from an equi-join on (shingle, lang, band) over the checkpointed index (broadcast at sf0.1, SMJ at scale); doc-size joins broadcast. r4's 1.52->1.92 s delta re-profiled in r5: warm min 1.66 s under quiet load, same plan — co-tenant noise, not a regression",
    "q_text_novelty" ->
      "novelty scoring: trigram keys shuffle for df, docs aggregate once — no document payload in any exchange",
    "q_multimodal_resize" ->
      "real avg-pool image resize at the sanctioned opaque boundary: one narrow typed MapPartitions (decode->pool->re-encode), zero exchanges — payload bytes never shuffle",
    "q_bus_ingest" ->
      "bus ingestion: DSv2 BatchScan with ONE InputPartition per bus partition (read parallelism = topic partition count, Kafka's own model), then the shared partial/final windowed agg — records never touch the driver",
    "q_cluster_kmeans" ->
      "k-means final assignment: k-row codebook broadcast (BroadcastNestedLoopJoin over checkpointed centroids), max-cosine rank window partitioned by vector id — per-round plans read the checkpointed codebook, never the accumulated training lineage; re-center rounds shuffle (cell, dim) pairs only",
    "q_knn_pq" ->
      "product-quantization ANN: per-subspace codebooks and the query ADC lookup table both broadcast (M*k rows); the corpus scan scores codes against the LUT with no shuffle, TakeOrderedAndProject keeps the shortlist, and only the constant-size shortlist joins back for the exact-cosine rerank — corpus vectors never leave their partitions",
    "q_dedup_semantic" ->
      "semantic dedup: trained centroids broadcast (k rows) for the centrality rank; the ONLY non-broadcast join is the within-cell pair equi-join on the cell key (cells stay constant-size when k scales with the corpus); every window is partitioned by cell — no global sort, no cartesian",
    "q_text_bpe_train" ->
      "BPE training: the final round's plan reads ONLY checkpointed vocab-table RDDs (corpus scanned once, rounds truncated by localCheckpoint); the best rule enters as a 1-row broadcast (BroadcastNestedLoopJoin), the merge itself is a narrow project — no per-round corpus rescans in any plan",
    "q_text_bpe_encode" ->
      "BPE encode (the 100 TB hot path): the trained vocab joins the per-doc token stream as a BroadcastHashJoin — the corpus-side explode never shuffles; the only exchange is the final per-doc count aggregate, partial below it",
    "q_graph_pagerank" ->
      "PageRank round: edges+degrees enter checkpointed and pre-partitioned by src, so each round's plan shuffles only the node-sized rank table to the edge partitioning plus one map-side-combined contribution aggregate on dst — edge relation never re-shuffles across rounds",
    "q_text_dupspans" ->
      "duplicated-span detection: grams shuffle as 8-byte h60 keys (never 13-word strings) into ONE gram-partitioned count window (single md5 pass — the groupBy+join formulation derived grams twice, measured 2x slower); coverage explodes dup STARTS only (rare) into a distinct-position count",
    "q_events_funnel" ->
      "ordered funnel: three stage aggregates over ONE checkpointed user-ranked relation, pre-partitioned by user_id — the stage joins and partial/final aggs all reuse that exchange; per-user state is three ints",
    "q_graph_triangles" ->
      "triangle counting: degree-ordered orientation bounds hub out-degrees (~sqrt m) before the wedge self-join on the center node; the closure check is a pure equi-join on the canonical (least, greatest) pair — every join an equi-join, no nested loop",
    "q_sql_shipping_priority" ->
      "TPC-H Q3 shape: all three filters pushed to their own scans (PushedFilters on customer/orders/lineitem), pruned dims broadcast, top-10 via TakeOrderedAndProject — the partial agg's exchange is the only shuffle",
    "q_quality_profile" ->
      "whole-table profile: ONE parquet scan feeds every per-column metric (Expand for multi-distinct, two-stage HashAggregate); the result explodes from a single row — no row data in any exchange",
    "q_quality_anomaly" ->
      "median/MAD outlier fence: group sizes from a tiny broadcast pre-aggregate, then ONE rank window per metric, both partitioned by lang — never a second whole-partition pass over the fact rows",
    "q_agg_countmin" ->
      "count-min sketch: cells built from the token-count AGGREGATE (distinct tokens shuffle once; instances never shuffle twice) into a constant 4x1024 table; top-k probe via TakeOrderedAndProject + equi-join on (row, bucket)",
    "q_graph_bfs" ->
      "level-synchronous BFS: each round's plan joins only the checkpointed frontier to the src-partitioned edge relation and anti-joins the checkpointed discovered set — work per round is frontier out-edges, not O(V), and no round re-plans prior rounds' lineage",
    "q_layout_partition_prune" ->
      "hive-partitioned layout: the status predicate lands in the scan's PartitionFilters — 2 of 3 directory trees skipped before any file opens (the skip rung above zorder's file zonemaps)",
    "q_quality_profile_approx" ->
      "the 100 TB profile: the production aggregate is ONE all-algebraic pass (HLL n_distinct) with NO Expand node anywhere in the plan — the exact-distinct contract twins ride as six broadcast 1-row single-distinct aggs, droppable in production",
    "q_quality_drift" ->
      "snapshot drift: each snapshot reduces to (column, bin, count) histogram rows in one aggregate pass — the L1 fold runs over histogram rows only, row data never reaches an exchange",
    "q_graph_sssp" ->
      "bounded Bellman-Ford round: src equi-join against the checkpointed weighted edge relation + one min-fold aggregate on dst — the pagerank shuffle shape, needed because weighted distances improve after discovery (BFS's anti-join finality would lock in the first, possibly costlier, path)",
    "q_agg_histogram_eqdepth" ->
      "equi-depth histogram: ONE rank window partitioned by the group key feeds the per-tile aggregate — the exact-quantile shape that survives billion-row groups, no value->count map accumulation",
    "q_sql_order_priority" ->
      "TPC-H Q4 shape: the EXISTS decorrelates to a left-semi SortMergeJoin on l_orderkey — lineitem contributes keys+predicate columns only, and the orders date filter is pushed to its scan before the join",
    "q_sql_large_orders" ->
      "TPC-H Q18 shape: the HAVING subquery's ~1% survivors semi-join back into the fact joins (keys only), and the final ORDER BY ... LIMIT is TakeOrderedAndProject — no global sort at any stage",
    "q_mine_copairs" ->
      "market-basket pairs: a self-EQUI-join on the basket key (bounded baskets => O(rows x basket) candidates, AQE-splittable), never a cartesian; both join sides read the ONE checkpointed basket relation (scan+distinct runs once), support threshold after one partial/final aggregate",
    "q_mine_transitions" ->
      "transition matrix: ONE lag window partitioned by user_id (state = a user's own stream) materialized once via localCheckpoint into the 25-cell count table; per-source totals derive from those 25 rows and broadcast back — the window pass never runs twice",
    "q_layout_zonemap" ->
      "zone-map skipping: chunk zones from one map-side-combined aggregate over z-key range buckets; the planner-side decision reads zones only (chunks, not rows) — 2 of 32 chunks survive the 2-D predicate at sf0.01",
    "q_graph_degrees" ->
      "degree distribution: edges aggregate to per-target counts BEFORE the node join (map-side combine), isolated nodes via left join — the histogram never shuffles edge-sized data twice",
    "q_sql_disjunctive_pushdown" ->
      "TPC-H Q19 shape: Catalyst factors the OR of three conjunct groups into per-table implications pushed to BOTH scans (p_brand IN (...) + p_size/l_quantity ranges in PushedFilters), leaving only the cross-table residual on the join",
    "q_sql_market_share" ->
      "TPC-H Q8 shape: the deepest join tree in the registry — part/supplier/both nations/region ALL broadcast, lineitem->orders is the only shuffle join, and the share ratio folds into ONE partial/final aggregate pass",
    "q_sql_waiting_orders" ->
      "TPC-H Q21 shape, pre-decorrelated: the EXISTS/NOT-EXISTS pair is ONE per-order aggregate (distinct-supplier count, late count, null-skipping max) — lineitem shuffles once on l_orderkey instead of being rescanned per correlated branch",
    "q_sql_customer_distribution" ->
      "TPC-H Q13 shape: the priority filter stays in the LEFT join's ON clause (pushed to the orders scan, join stays outer); the second aggregate runs over |customers| short rows from the first",
    "q_graph_kcore" ->
      "k-core peel round: two left-semi joins of the checkpointed undirected edge list against the node-sized alive set + one map-side-combined degree aggregate — the final round's plan reads only checkpointed RDDs, and per-round work shrinks with the live edge set",
    "q_layout_bloomskip" ->
      "bloom skipping: the 12-row probe-position table broadcasts (BroadcastHashJoin) against the chunk-sized bloom table — the planner-side decision reads blooms, never rows; bloom build is one distinct + one map-side-combined bit_or aggregate",
    "q_layout_encoding_advisor" ->
      "encoding advisor: one native-typed leg per column, each a chunk-partitioned lag window + one aggregate — no unpartitioned window, no stringified union (the 3M-row unpivot formulation measured ~3x slower)",
    "q_agg_join_cardinality" ->
      "join-size estimation: both inputs reduce to per-key count aggregates then constant 4x4096 cell tables; the estimate is a cells-only equi-join — the two row-level tables never meet",
    "q_quality_fd" ->
      "FD discovery: each candidate is a keys-only two-stage aggregate (per-LHS distinct-RHS count, then one row) over the checkpointed denormalized view — nothing row-sized crosses a per-candidate exchange",
    "q_sql_forecast_revenue" ->
      "TPC-H Q6 shape: the scan-dominated member — date bracket, discount band, and quantity cap ALL land in PushedFilters and ReadSchema carries exactly three columns; at 100 TB this query IS its scan",
    "q_sql_part_promotion" ->
      "TPC-H Q20 shape: the nested IN decorrelates to a left-semi join chain; the name-sliced part dim prunes at its scan before anything joins, and the all-decimal dominance predicate (2*qty > tot) rides the per-part aggregate, never a per-row rescan",
    "q_mine_skyline" ->
      "2-D skyline with no pairwise comparison: per-day grain aggregate, bucket-partitioned suffix-max window, constant-size cross-bucket carry (broadcast), survivors broadcast-semi-joined back — no CartesianProduct, no unpartitioned window, input scanned twice",
    "q_dedup_editdist" ->
      "edit-distance-1 join: candidates from ONE equi self-join on the deletion-variant key of the checkpointed keyed relation (never a cross join); levenshtein verify runs on candidates only",
    "q_events_attribution" ->
      "last-touch attribution: the as-of kernel's single union+window exchange on user_id, then a keys-only left join fetches click timestamps — no range-join blow-up anywhere",
    "q_text_source_overlap" ->
      "source-overlap matrix: distinct (source, trigram) relation checkpointed once and equi-self-joined on the trigram key — per-trigram work bounded by sources², set sizes broadcast back",
    "q_events_ewma" ->
      "per-user EWMA: ONE shuffle on user_id into a single hash aggregate; the recursive fold runs in-row over the per-key sorted array — no window, no second exchange",
    "q_graph_labelprop" ->
      "label propagation: per round one equi join of the checkpointed neighbor relation against the node-sized label table + a node-partitioned argmax window; the final round's plan reads only checkpointed RDDs",
    "q_pipeline_scd2_temporal" ->
      "temporal join: ONE equi join on the natural key with the interval test as a residual join predicate (no range join, no blow-up); history broadcasts at dimension size",
    "q_events_twap" ->
      "TWAP: one per-user lead window (single exchange) feeding a map-side-combined integer aggregate — no decimal widening, no second window",
    "q_text_phrase_search" ->
      "phrase search: probe sides prune the checkpointed postings to their own term (broadcast 1-row phrase) BEFORE the position equi join; the bigram statistic rides the same checkpoint",
    "q_quality_winsor" ->
      "winsorized mean: one ranked pass (single window exchange), bounds broadcast back, clamped decimal mean — the ranked relation is checkpointed, never re-sorted",
    "q_multimodal_ahash" ->
      "perceptual hash: narrow mapPartitions over the late-projected binary column; constant per-image state; no shuffle before the fixed-width output",
    "q_graph_linkpred" ->
      "link prediction: wedge candidates from ONE equi self-join of the checkpointed neighbor relation on the shared-neighbor key (sum-of-squared-degrees work, no cartesian), existing edges dropped by anti-join, node-sized degree joins",
    "q_quality_benford" ->
      "Benford audit: one map-side-combined digit aggregate over the scan; the 9-row expected table and the 1-row total both broadcast — the audit itself never shuffles",
    "q_agg_quantile_sketch" ->
      "sharded quantile sketch: the ONLY rank over lineitem is keyed by (grp, SHARD) — 192 window partitions, the knob that scales with the cluster; the 6 canonical halvings COMPOSE into one window by position arithmetic (spec-pinned identity vs the literal cascade the oracle replays), read-off ranks only the checkpointed <= 256-row/group sketch, and the audit is a broadcast-join conditional aggregate",
    "q_agg_selectivity_approx" ->
      "sketch-derived equi-depth selectivity: bucket boundaries come from the sharded sketch (no whole-group ntile anywhere) — histogram, thresholds, and interpolation all read <= 256 sketch rows; the single lineitem rescan is the audit's map-side-combined conditional aggregate",
    "q_quality_quarantine" ->
      "constraint quarantine: narrow scan -> per-row predicates -> parquet write of the violator slice; good/bad split is one map-side-combined 1-row aggregate crossed back by broadcast",
    "q_multimodal_video_decode" ->
      "video decode: two narrow mapPartitions stages over late-projected binary (JPEG build, then sample-table walk + decode + pool); constant-width output, zero shuffles",
    "q_text_pmi" ->
      "PMI collocations: three map-side-combined aggregates over the bigram stream (marginals + pairs), 1-row total broadcast, top-20 as TakeOrderedAndProject — no unpartitioned window, instances never shuffle",
    "q_graph_modularity" ->
      "modularity: two node-sized label joins onto the checkpointed edge list, map-side-combined per-community aggregates, 1-row totals crossed back by broadcast",
    "q_pipeline_corpus" ->
      "end-to-end corpus build: ids and digests shuffle; the only text that moves is each exact-dedup survivor's, once, on doc_id into the row-local MinHash kernel — dedup/decontamination joins are key-only semi/anti joins (eval grams broadcast), the only windows are the per-class budget cumsum and per-bucket pack cumsum, each partitioned by its scale-out key",
    "q_graph_louvain" ->
      "Louvain refinement: per sweep one edge-sized k_vc equi-join + node-sized deg/tot joins + a node-partitioned argmax; the Q accept gate is an in-plan 1-row broadcast — per-sweep plans read checkpointed labels, never prior sweeps' lineage",
    "q_text_perplexity" ->
      "bigram-LM scoring: model = two map-side-combined aggregates over the train bigram stream; held-out bigrams equi-join the count tables on token keys (broadcast here, shuffle-join at web scale) — documents never shuffle, no UDF, the quantized-log2 cost is pure integer codegen",
    "q_dedup_video" ->
      "video near-dup: one narrow mapPartitions decode (payloads never shuffle), then fixed-width (hash, digest) rows through a band equi-join keyed by (frame, dims, aHash) with the digest verify as a residual — no second decode, no cartesian",
    "q_dedup_decontaminate_semantic" ->
      "semantic decontamination: the tiny eval-split's flip-1 probe keys broadcast (BroadcastHashJoin on (table, bucket) over 16 OR'd hyperplane tables) into the candidate join — the corpus side never shuffles; candidate keys flow through one distinct, vectors join back by id, cosine scoring is the codegen expression on candidates only",
    "q_graph_cnm" ->
      "CNM merge round: ONE edge-sized label-map join builds the community multigraph; gains, mutual-best argmax, and relabel are all community-sized — per-round plans read checkpointed labels only",
    "q_dedup_containment" ->
      "containment dedup: candidates from the rare-shingle equi self-join (df <= 64 caps per-key fanout at df²), and the exact intersection FALLS OUT of that join's own (i, j) count — the rare/hot split partitions each doc's shingles, so inter = inter_rare + inter_hot with the hot complement probed only for found candidates; no per-doc arrays, no distinct-pair materialization, documents never shuffle",
    "q_graph_multilevel" ->
      "multi-level modularity: one derived undirected context (checkpointed edge/neighbor/degree trio) feeds seed, move, merge, and all three Q reports — no stage re-derives the edge set; per-stage plans read checkpointed labels, Q verdicts enter as 1-row broadcasts",
    "q_agg_aqp" ->
      "AQP sampled aggregate: estimator and truth are each ONE map-side-combined aggregate over a narrow 2-column scan; the estimator branch filters to the 1-in-100 hash slice (at 100 TB: its own bucket table, and the truth scan exists only to AUDIT the bound), bound math is a 3-row projection — no window, no extra exchange",
    "q_join_salted" ->
      "salted skew join: the join keys become (key, salt) pairs — the salted shape that spreads each hot key over 8 reducers when both sides shuffle (at fixture size the replicated dim side broadcasts, so the plan shows the salted keys, not the reducer spread); the aggregate after it is map-side combined, and the answer is row-identical to the plain join (the oracle states the plain join)",
    "q_events_changepoint" ->
      "CUSUM change-point: the (type, hour) series enters checkpointed/pre-aggregated (the series-building aggregate runs once, ahead of the captured plan); BOTH window passes (prefix sum + whole-partition totals) and the argmax rank run over that aggregated |hours|x|types| relation — time-bounded, not data-bounded — never over base events; the injection bounds enter as a 1-row broadcast",
    "q_mine_seqpat" ->
      "sequential motifs: the per-user lead(1)/lead(2) window partitions on user_id (millions of small partitions, the sessionize shape — no global sort); the motif aggregate map-side combines |user x motif| rows into <= |types|^3 groups; top-20 is TakeOrderedAndProject per-partition heaps",
    "q_text_classifier" ->
      "trained quality filter: the feature relation is checkpointed once (documents read ONCE into five narrow doubles + label); each GD round is one map-side-combined aggregate (12 decimal sums) whose 1-row weight output crossJoin-broadcasts into the next scoring pass — no driver-side math, no collect, scoring is pure codegen arithmetic",
    "q_knn_ivfpq" ->
      "IVF+PQ composite: the coarse codebook (10 centroids) and the PQ lookup tables both BROADCAST; candidates are the probed cells' members joined by key, ADC scoring touches only their 4-byte codes (the per-(q, doc) pivot is one map-side-combined aggregate), and raw vectors are read solely for the constant-shortlist exact rerank — the memory shape that fits a 100 TB corpus's index in RAM",
    "q_dedup_embedding" ->
      "selective embedding near-dup (r13 re-frame): the 8x12-bit SRP index is built once and checkpointed (plans read LogicalRDDs, never re-derive the 96 plane dots); only (id, t, b) keys flow through the candidate equi-join + distinct — the checkpointed candidate set was already counted against the 5% fraction budget before this plan exists (fail-loud, not silently quadratic) — and vectors join back BY ID solely for the codegen-cosine verify",
    "q_layout_timetravel" ->
      "snapshot read-at-version (r15 file-grain re-plan): each version is ONE FileSourceScan whose file index IS the manifest (Bridge.manifestFileScan over a log-served ManifestFileIndex — file paths, sizes, partition values, and schema all from the manifest: zero listings, zero footer reads), so the plan holds exactly two scans for two version reads no matter how many files each manifest lists, a pinned version's plan is untouched by later commits, a partition-column filter prunes entries before any file opens, and a stats-column filter would skip individual FILES on their recorded [lo,hi] bounds; both version reads aggregate map-side before the union",
    "q_layout_sql_timetravel" ->
      "the SQL surface of the same reads: USING graft_snapshot temp views with VERSION AS OF hand the planner the IDENTICAL manifest-served HadoopFsRelation (DSv1 RelationProvider — no wrapper scan node, no listing), so plain SQL text plans the same two FileSourceScans as the Scala API (PlanShapeSpec-pinned) with the same pruning and skipping levers",
    "q_layout_merge_selective" ->
      "file-grain MERGE over a clustered table: the rewrite set is chosen from manifest metadata (delta key span x recorded per-file key bounds), so the base-side scan holds ONLY the files that can contain delta keys — the full-outer fold shuffles the delta plus that slice once on the key, untouched files (including untouched files of touched partitions) move by manifest reference and appear in no plan at all",
    "q_layout_dml" ->
      "DELETE/UPDATE WHERE: each rewrite is one scan over ONLY the bounds-overlapping files (the same couldMatch logic the scan's skipping uses picks the set from the manifest), filtered or column-patched and committed with every clean file carried by manifest reference; the final read is the usual one-scan version read",
    "q_layout_dml_sql" ->
      "the SQL-TEXT surface of the same DML (r16): DELETE FROM / UPDATE ... SET parse through Spark's own parser (Snapshots.sql) and dispatch onto the identical bounds-selected kernels, so the plans are the same bounds-limited rewrite scans as q_layout_dml (SnapshotSqlSpec pins equal carried/rewritten file splits); the final read is the USING graft_snapshot VERSION AS OF relation — pure SQL end to end (q_stream_cdf_rows' per-batch row-image joins are pinned in StreamingRobustnessSpec rather than here — a drained stream's returned fold only shows the memory-sink side)",
    "q_layout_cdf_rows" ->
      "row-level change feed: the partition feed's two bounded scans (changed partitions only) meet in ONE full-outer key join — the anti-join a CDF consumer would otherwise write — and explode into row images; everything is sized by the CHANGE, the table never enters the plan",
    "q_layout_restore" ->
      "RESTORE-as-version: the rollback itself plans NOTHING (one manifest write listing the target's files by reference); the query's two reads are the usual one-scan version reads — corrected state and restored state — whose aggregates must disagree exactly where the backfill corrected",
    "q_layout_schema_evolution" ->
      "per-manifest schema: the post-evolution read is one scan whose read schema comes from v2's header — carried pre-evolution files null-fill the added column inside the scan (no rewrite, no cast node), and the v1 read plans against its own narrower header; r16's RENAME/DROP stages add NOTHING to the plans — both are metadata-only versions (column mapping: the field keeps its physical parquet name, the scan aliases physical -> logical and Catalyst pushes pruning/predicates through the alias), so the post-rename and post-drop reads stay the same one-scan shape",
    "q_layout_optimize_zorder" ->
      "OPTIMIZE Z-ORDER: the stored Morton key drives one range-partitioned + sorted rewrite of just the fragmented files (one shuffle + the sampler pass); the 2-D box query is then ONE scan whose file index drops every file whose recorded xk/yk bounds miss the box — file skipping on BOTH dimensions at once, the layout payoff a 1-D sort cannot give (q_stream_changefeed's per-batch plans are the same bounded diff scans, pinned in StreamingRobustnessSpec rather than here — a drained stream's returned fold only shows the memory-sink side)",
    "q_layout_optimize" ->
      "OPTIMIZE-CLUSTER-BY-as-version: the compaction read is ONE manifest-planned scan over just the fragmented entries, range-partitioned + sorted on (partition, bucket) so rewritten files carry narrow non-overlapping min/max ranges — rewritten bytes shuffle once (plus the range sampler's pass), carried partitions appear in no plan at all (they move by manifest reference); the pre/post reads are two one-scan version reads whose aggregates must agree",
    "q_layout_incremental" ->
      "incremental change feed: Snapshots.diff compares two manifests by metadata alone — untouched partitions (same immutable path in both) never enter the plan; the two scans each hold ONLY the rewritten partition's entries, so downstream incremental jobs pay for the change, not the table",
    "q_layout_merge" ->
      "MERGE-as-version: each CDC batch is a latest-per-key partial aggregate of the events scan, full-outer-joined against the PREVIOUS version's one-scan committed read-back (both sides shuffle once on the key — the Delta/Iceberg MERGE shape, full outer cannot broadcast), and the fold lands as an atomic snapshot commit; the mid-feed version re-reads its immutable manifest after later versions landed",
    "q_layout_dpp" ->
      "dynamic partition pruning: the class filter lives on the JOINED dim scan, so the hive-partitioned fact's PartitionFilters carry a dynamicpruning subquery fed by the broadcast dim — partitions the planner cannot know are skipped at runtime (the star-schema prune; plan-asserted in PlanShapeSpec)",
    "q_dedup_audio" ->
      "audio near-dup: fingerprint decode is ONE narrow typed SerializeFromObject/MapPartitions pass (payload bytes never shuffle); the band candidate join is an equi-join on (band_no, 8-char key) rows and the >= 60% verify is arithmetic on the grouped counts — never a second decode",
    "q_layout_dv" ->
      "deletion vectors (r17): the needle DELETE/UPDATE plans are ONE counting scan over just the bounds-affected files plus a tiny executor-side sidecar write — no file rewrite in any plan; the final read is the one-scan version read with the mask applied as a BROADCAST ANTI JOIN (BroadcastHashJoin LeftAnti) on the hidden parquet row position, inside whole-stage codegen; DV-free tables keep the r16 plan byte-identical (the mask branch is zero-cost when no entry carries a sidecar ref)",
    "q_layout_catalog" ->
      "name-addressed tables (r17): the catalog read (SELECT ... FROM graft.lake.users VERSION AS OF n) plans the IDENTICAL manifest-served FileSourceScan as the path form — the injected analyzer rule substitutes the DataSourceV2Relation with the same V1 relation, reusing its exprIds — so name resolution costs metadata only (GraftCatalogSpec pins exprId-stripped plan equality); the DML statements dispatch onto the same bounds-selected kernels as q_layout_dml",
    "q_layout_merge_expr" ->
      "row-grain MERGE (r17): file selection is the same metadata-only key-bounds intersection as the fast merge path, the matched-row join shuffles the SOURCE plus only the affected files' rows once on the key, the winning clause's SET expressions fold in the image projection, and no matched file is rewritten — old images are masked (sidecar), images + inserts append; write amplification O(matched + inserted rows)",
    "q_layout_partition_typed" ->
      "typed multi-column partition identity (r18): the (day DATE, region STRING) table plans ONE FileSourceScan whose partition schema carries BOTH columns in their declared types — a DATE comparison lands in PartitionFilters and prunes TYPED (not lexically), the DML span pruning treats each partition column as a per-file lo=hi bound in its own catalyst type, and untouched partitions carry by reference through every DML (SnapshotPartSpecSpec pins numFiles 4->2->1 under day/region predicates)",
    "q_layout_merge_bysource" ->
      "MERGE WHEN NOT MATCHED BY SOURCE (r18): matched rows join only the key-bounds-affected files; the by-source clause is definitionally about every other row, so its plan is ONE anti join of the full one-scan version read against the broadcast key-unique source — stated honestly as the full-scan term — with every claimed row masked (DV sidecar), never rewritten; write amplification stays O(claimed + inserted rows)",
    "q_layout_bloom_native" ->
      "format-native bloom skipping (r18): per-file 16x63-bit k=3 blooms ride the manifest stats cells and are probed at PLAN time for equality predicates the [min,max] bounds cannot prune — the point lookup's FileSourceScan lists fewer files than the manifest holds (numFiles drop spec-pinned, zero false negatives by construction), and DELETE selection shares the same couldMatch so an absent-key DML is a provable no-op"
  )

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.Session.create(logLevel = "ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan evidence for the scale design\n\n"
    sb ++= "Generated by `sbt \"runMain graft.tools.Plans\"` (formatted explain,\n"
    sb ++= s"AQE pre-execution view, sf dir `$sfDir`). Each section states the\n"
    sb ++= "plan property the operator is designed around; the explain output\n"
    sb ++= "below it is the proof. PlanShapeSpec asserts the load-bearing ones.\n"

    picks.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name\n\n$why\n\n```\n$plan```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size} queries)")
    spark.stop()
  }
}
