"""Regenerate PLANS.md: formatted physical plans for the headline queries,
with the scale property each plan is expected to exhibit.

Usage: python tools/explain_all.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

#: query → the scale property to read the plan for
HEADLINERS = {
    "listing_scan": (
        "Object listing as rows: the binaryFile scan prunes to the `path` "
        "metadata column (ReadSchema has NO `content` — bodies are never "
        "read) and the whole plan is exchange-free."
    ),
    "pricing_summary": (
        "Filter pushed to scan (PushedFilters), partial_ → final hash "
        "aggregate around ONE exchange on the 6-value group key."
    ),
    "projection_pushdown": (
        "ReadSchema lists only the 4 referenced columns; shipdate predicate "
        "in PushedFilters. The scan does the pruning, not a later Project."
    ),
    "join_revenue_by_nation": (
        "Every dimension side is BroadcastHashJoin, and the region→nation→"
        "customer filters collapse into one broadcast that semi-filters "
        "orders BEFORE the fact⋈fact join — the only shuffles are the "
        "(probe-shrunk) lineitem⋈orders join and the final aggregate."
    ),
    "relationalize_child": (
        "Child table derives from scan → project → posexplode with NO "
        "Exchange: the relationalize tree is shuffle-free."
    ),
    "asof_join_events": (
        "A two-table as-of join with ZERO join nodes: union → one exchange "
        "on user_id → running last(ignorenulls) window → filter."
    ),
    "sessionize": (
        "Two stacked windows + two aggregations share ONE hashpartitioning "
        "exchange on user_id (subset-clustering satisfies the group-by)."
    ),
    "range_join_buckets": (
        "Non-equi interval join = BroadcastNestedLoopJoin on the 16-row "
        "bucket side; no CartesianProduct, no shuffle of the fact table "
        "before the final per-bucket aggregate."
    ),
    "near_dup_lsh_pairs": (
        "LSH: the candidate pair table loads from the per-corpus offline "
        "artifact (built once: band hashes exchange + self-join inside "
        "buckets); the verify join broadcasts the candidate ids and "
        "shingles ONLY candidate docs. No CartesianProduct anywhere."
    ),
    "exact_dedup": (
        "Exchange partitions on the md5 fingerprint (32 bytes/row), never "
        "on document bodies."
    ),
    "tfidf_top_terms": (
        "Token stream shuffles once on (doc_id, term); term-dimension "
        "stats join back broadcast; no SortMergeJoin."
    ),
    "zorder_box_query": (
        "Scan of the Z-ordered lake: both box predicates appear in "
        "PushedFilters, and the clustered layout makes the file-level "
        "min/max stats selective (measured in tests/test_layout.py: the "
        "box touches ≤6/16 files vs all 16 under a hash layout)."
    ),
    "ann_quantized_topk": (
        "Int8-quantized ANN: broadcast query side, ONE corpus scan, "
        "integer dot products, one window for top-k — no shuffle of the "
        "vector corpus."
    ),
    "doc_chunking": (
        "Context-window chunking is scan → project → generate (explode) "
        "→ project: zero exchanges, row-local, scales with the scan."
    ),
    "pack_sequences": (
        "Sequence packing = ONE exchange (hashpartitioning on source) "
        "feeding a single running-sum window; token counting is a "
        "projection before the shuffle, so only (doc_id, source, "
        "n_tokens) rows cross the wire."
    ),
    "segment_dedup": (
        "Paragraph-level dedup: the only wide shuffle is the window keyed "
        "on the 32-byte segment md5 (duplicate-sets are tiny groups — "
        "bounded window state, no skew); document bodies never move, and "
        "the per-doc rollup re-keys on doc_id only after segments shrink "
        "to (doc_id, seg_idx, rn)."
    ),
    "funnel_conversion": (
        "Ordered funnel: every stage is a partial-agg-heavy conditional "
        "min keyed on user_id — the same key end-to-end, so AQE reuses "
        "the partitioning and each stage's frame monotonically shrinks "
        "to funnel survivors; only (user_id, ts) ever crosses the wire."
    ),
    "scd2_intervals": (
        "SCD2 derivation: lag-diff, running-sum run numbering, run-start "
        "agg, and the lead() exclusive end ALL share the user_id "
        "partitioning — one exchange for the whole interval build, the "
        "sessionize shape applied to change capture."
    ),
    "q3_shipping_priority": (
        "TPC-H Q3: the segment filter shrinks customer before any join "
        "(broadcast side), both fact joins key on their natural keys, "
        "revenue sums on DECIMAL, and the top-10 is TakeOrdered — no "
        "global sort node."
    ),
    "q6_forecast_revenue": (
        "TPC-H Q6: every predicate reaches the parquet scan "
        "(PushedFilters lists shipdate/discount/quantity) and ReadSchema "
        "prunes to the 4 referenced columns — the scan does all the "
        "work, the aggregate is one partial→final pair."
    ),
    "fuzzy_match_parts": (
        "Record linkage: candidate generation is an EQUI-join on the "
        "COMPOSED (brand, type, size, name-prefix) blocking key — no "
        "cartesian node anywhere, in-block pairs measured LINEAR in data "
        "size (r4) — with Levenshtein evaluated only inside blocks; "
        "resolution is one window over each dirty record's candidate set."
    ),
    "snapshot_diff": (
        "CDC audit: both snapshots reduce to (key, md5 digest) "
        "projections BEFORE the full-outer join, so the wide shuffle "
        "carries 40-byte rows, never event bodies; classification is a "
        "row-local CASE over the joined pair."
    ),
    "adaptive_skew_join": (
        "Diagnose-then-salt (r4): the hot-key frame is a bounded "
        "localCheckpointed aggregate consumed by broadcast semi/anti "
        "splits; ONLY hot keys' dim rows explode salt-ways, the cold "
        "tail joins plain, and the union preserves plain-join semantics. "
        "No cartesian, no global window."
    ),
    "stats_pruned_scan": (
        "Manifest-driven data skipping (r4): the scan's file list comes "
        "from the manifest table's intersection filter (manifest rows = "
        "file count, never data rows); the data-side plan is a plain "
        "pruned parquet scan over ONLY the surviving files with the "
        "exact predicate re-applied."
    ),
    "pq_adc_search": (
        "PQ ADC search (r4, oracle-full): the codebook and the per-query "
        "lookup table broadcast; the 16 B/vector code table joins them "
        "hashed and one partial→final aggregate merges the DECIMAL "
        "partial dots — the float corpus never shuffles."
    ),
    "duplicate_spans": (
        "Substring-dedup diagnostic (r4): distinct 8-grams hash to "
        "60-bit ids in the scan stage, so both the sharers aggregate "
        "and the per-doc join shuffle (doc_id, hash) pairs only — gram "
        "strings never cross the wire."
    ),
    "rebalance_domains": (
        "Domain-mix rebalancing (r4; ppb gate r5): one (domain, count) "
        "partial-agg shuffle derives the integer parts-per-billion rate "
        "table (domain-cardinality — always broadcast, and validated "
        "driver-side so an eliminated domain warns instead of vanishing); "
        "membership is a hash-gate FILTER in the projection stage — "
        "bodies never shuffle."
    ),
    "curation_funnel": (
        "Curation funnel (r4): three cumulative gate conditionals fuse "
        "into ONE partial→final aggregate over a single scan; the 3-row "
        "attrition report explodes from the 1-row aggregate — stage "
        "count never adds passes."
    ),
    "stream_windowed_rollup": (
        "Streaming continuous aggregate (r4): the drained update-mode "
        "output is read back and merged latest-per-window with one "
        "window over (window_start, event_type) — the batch-equivalence "
        "is certified by the full value-hash oracle."
    ),
    "portable_hll_cardinality": (
        "Portable HLL (r4): registers shuffle as (group, register, "
        "max-rho) after a map-side max-combine — at most groups x 64 "
        "rows cross the wire, replacing exact count-distinct's shuffle "
        "of every key; the estimate derives from an EXACT bigint sum, "
        "so it is bit-identical across engines and merge orders."
    ),
    "near_dup_incremental": (
        "Incremental near-dup (r4): the delta's band hashes join the "
        "full band table — per-batch cost scales with |delta| x "
        "collision rate, the corpus pair space is never revisited; "
        "verification re-shingles only candidate docs."
    ),
    "fuzzy_match_two_pass": (
        "Two-pass blocking (r4): prefix-block UNION suffix-block "
        "candidates, deduped before Levenshtein — full recall over both "
        "edit classes with each pass keeping bounded blocks; still no "
        "cartesian node anywhere."
    ),
    "ann_ivf_multiprobe": (
        "Multi-probe IVF (r4): queries carry their top-2 cells into the "
        "hash join against the UNCHANGED cached 1-cell corpus "
        "assignment — candidate volume scales with probes, never corpus "
        "size; centroids broadcast."
    ),
    # ---- r5: every certifying-window query gets a documented plan ----
    "intersect_keys": (
        "Set intersection on projected keys: both sides prune to the key "
        "columns at the scan, the INTERSECT lowers to an aggregate + "
        "join on those keys only — no full-row shuffle."
    ),
    "membership_filter": (
        "IN-list membership folds to a scan-level pushed filter (In/Or "
        "predicates in PushedFilters) — the list never becomes a join."
    ),
    "prefix_filter": (
        "startswith/contains compile to StartsWith + StringContains in "
        "PushedFilters; the scan prunes to the referenced columns — "
        "string predicates are data-skipping-eligible, not post-filters."
    ),
    "sql_view_query": (
        "The SQL surface (temp views + spark.sql) plans IDENTICALLY to "
        "the DataFrame build: same pushed filters, same broadcast "
        "choices — the view layer adds zero plan nodes."
    ),
    "anti_join_missing": (
        "Reconciliation anti-join: both sides project to the key before "
        "a LeftAnti hash join — the shuffle (or broadcast, when the "
        "expected side is small) carries keys only, never payloads."
    ),
    "anti_join_union": (
        "Anti-join against a UNION of two sources: the union is narrow "
        "(no dedup pass — the anti-join semantics make duplicates "
        "harmless), then one LeftAnti join on the key columns."
    ),
    "dedup_latest": (
        "Dedup-latest = ONE exchange on the entity key feeding a "
        "row_number window; the filter on rn=1 is row-local. No "
        "self-join formulation, no second shuffle."
    ),
    "sample_per_group": (
        "Representative N-per-group: same single-exchange window shape "
        "as dedup_latest — the limit is a rank predicate, so the sample "
        "never materializes a global sort."
    ),
    "reconcile_counts": (
        "Count/min/max reconciliation: one partial→final aggregate pair "
        "around a single exchange on the group key; partial aggregation "
        "collapses each partition before anything crosses the wire."
    ),
    "count_reconciliation_report": (
        "Count-distinct reconciliation: Spark plans distinct-aggregate "
        "expansion (two aggregate phases) over ONE logical pass; keys "
        "are projected before the exchange."
    ),
    "group_collect": (
        "Group-accumulate (collect_list/collect_set): one exchange on "
        "the group key; per-group arrays are bounded by the "
        "deterministic sort + slice applied after collection."
    ),
    "config_cache_dedup": (
        "Schema-cache dedup: the config frame is tiny (config "
        "cardinality); the dedup window + the join back both stay "
        "broadcast-sized — a lookup-table maintenance op, not a data op."
    ),
    "array_slice_limit": (
        "Per-group array limit runs as slice() over the collected "
        "array — a projection-stage HOF, no second window or re-shuffle "
        "after the group-accumulate exchange."
    ),
    "batched_submit": (
        "Batching assigns ceil(rank/N) batch ids with ONE window "
        "exchange; batch membership is arithmetic on the rank, not a "
        "join against a batch table."
    ),
    "scalar_functions": (
        "Scalar function surface (timestamp parse, date parts, split, "
        "lower, casts): a single Project inside WholeStageCodegen over "
        "the pruned scan — zero exchanges, zero Python."
    ),
    "case_when_routing": (
        "Conditional rewrite is one codegen'd CASE WHEN projection; "
        "routing logic adds no plan nodes beyond the Project."
    ),
    "json_extract": (
        "JSON parse runs JVM-side (from_json/get_json_object) in the "
        "projection stage — no Python UDF, schema declared so the "
        "parser emits typed columns directly."
    ),
    "basename_extract": (
        "Path/basename extraction is regexp_extract in a codegen "
        "Project over the pruned scan — string surgery never leaves "
        "the JVM."
    ),
    "csv_export_roundtrip": (
        "CSV round-trip: the write clusters by the partition column "
        "first (file count bounded by partitions, not tasks), and the "
        "read-back scan re-applies schema + RFC-4180 quoting; the "
        "verification aggregate is one partial→final pair."
    ),
    "workflow_properties": (
        "Workflow-properties source: message manifests parse to typed "
        "rows in one narrow pass; the plan is scan → project with the "
        "JSON schema declared (no inference job)."
    ),
    "ingest_e2e_events": (
        "Stage-1 ingest e2e: archive unzip + JSON-Schema validation are "
        "Arrow-batched mapInPandas whose unit is an ARCHIVE; config "
        "lookups broadcast; the single exchange clusters the NDJSON "
        "sink by partition keys. The read-back aggregate certifies the "
        "whole path."
    ),
    "quarantine_replay": (
        "Quarantine replay: invalid rows round-trip through the "
        "quarantine sink and re-validate; struct unpack is a "
        "projection; the replay join broadcasts the (small) quarantine "
        "side back onto the lake."
    ),
    "expected_error_suppression": (
        "Expected-error suppression: the whitelist (bounded config) "
        "broadcasts into a LeftAnti join against the error stream — "
        "suppression is subtraction, never a filter UDF."
    ),
    "stream_sync_e2e": (
        "Checkpointed availableNow drain ≡ bookmarks: the plan shown is "
        "the read-back of the synced lake; incremental cost lives in "
        "the micro-batches (each scoped to newly-listed files), so the "
        "batch-side verification aggregate is all that remains."
    ),
    "stream_dedup_e2e": (
        "applyInPandasWithState stateful dedup (r5 window): keys "
        "hash-split across two micro-batches prove cross-batch state "
        "suppression; the drained output read-back + count aggregate "
        "is the certified surface, value-hash-equal to batch dedup."
    ),
    "stream_interval_join_e2e": (
        "Stream-stream interval join, drained: two-sided watermarks "
        "bound the buffered state; the drained pair set equals the "
        "batch interval join bit-for-bit (full value-hash oracle)."
    ),
    "stream_sessionize_e2e": (
        "session_window in APPEND mode: sentinel batches push the "
        "watermark past every real session's end+gap so the emitted "
        "set is complete; oracle breaks sessions at >= gap, matching "
        "the half-open [start, last+gap) state interval."
    ),
    "pipeline_e2e_root": (
        "Stage-2 json→parquet e2e: declared-schema JSON scan (no "
        "inference pass), cast-to-declared + relationalize are narrow, "
        "ONE clustering exchange before the partitioned write; the "
        "read-back scan prunes on partition columns."
    ),
    "pipeline_partition_pruned": (
        "Hive-layout partition pruning: the partition predicate prunes "
        "DIRECTORIES before listing (PartitionFilters on the scan, "
        "partition count < total) — pruned partitions cost zero I/O, "
        "zero listing."
    ),
    "gap_fill": (
        "Per-key day-grid densification: sequence() explodes each "
        "key's OWN [min,max] span (narrow, no calendar cross-join), "
        "then one left join back on (user, day) — grid size scales "
        "with active spans, not global time."
    ),
    "concurrency_peaks": (
        "Sweep-line peak concurrency: intervals become ±1 endpoint "
        "rows (narrow explode), ONE window keyed (type, ts-order) "
        "computes the running sum — no interval self-join, no O(n²) "
        "candidate pairs."
    ),
    "retention_cohorts": (
        "Retention triangle: first-event week is one user_id-keyed "
        "aggregate joined back (same key → AQE reuses partitioning); "
        "week ids are integer epoch-day arithmetic, so both engines "
        "bucket identically."
    ),
    "event_transitions": (
        "Markov transitions: one lag window on user_id + one aggregate "
        "on the (prev, next) pair; the normalizing window runs over "
        "≤|event types|² rows — the matrix side is trivially small."
    ),
    "conversion_latency": (
        "Time-to-convert: two conditional-min aggregates keyed on "
        "user_id (one exchange), then exact integer-second percentiles "
        "over the per-user latencies — the wide data never sorts "
        "globally."
    ),
    "winsorized_stats": (
        "Winsorize: exact per-type [p05, p95] bounds are a 5-row "
        "aggregate broadcast back onto the fact scan; the clip + "
        "clipped-sum is one partial→final pass. Two scans, one tiny "
        "broadcast, no sort."
    ),
    "bm25_topk": (
        "Okapi BM25: per-doc tf columns are codegen HOF filters; "
        "corpus stats fold to a broadcast 1-row aggregate; the global "
        "top-10 is TakeOrderedAndProject — never a global row_number "
        "window (pinned in tests/test_plans.py)."
    ),
    "near_dup_keep_best": (
        "Full dedup stack composed: cached LSH candidate artifact → "
        "O(diameter) Pregel min-label components (localCheckpoint "
        "lineage truncation) → ONE quality window per cluster for the "
        "keep-best election. Bodies never shuffle; cost is Pregel "
        "rounds, not data volume."
    ),
    "ann_ivf_topk": (
        "IVF ANN: centroid table broadcasts (Θ(cells)); corpus cell "
        "assignment is one shuffle-free pass per invocation "
        "(ann.nearest); the search is a hash join "
        "on cell id — the vector corpus itself never re-shuffles per "
        "query."
    ),
    # ---- r5 additions beyond the certifying window ----
    "q5_local_supplier_volume": (
        "TPC-H Q5: region/nation collapse to broadcasts, the LOCAL "
        "supplier constraint rides the join as an extra equi-condition, "
        "and only the two fact joins shuffle."
    ),
    "q8_market_share": (
        "TPC-H Q8 (widest star, 7 joins): filter-role dims broadcast and "
        "shrink the facts first; the measure-role nation broadcast only "
        "labels rows; share = ratio of two DECIMAL sums in ONE aggregate."
    ),
    "q13_customer_distribution": (
        "TPC-H Q13: LEFT join keeps zero-order customers; the per-"
        "customer count reuses the join's own key partitioning (no "
        "second exchange before the histogram aggregate)."
    ),
    "q18_large_volume_customers": (
        "TPC-H Q18: the quantity rollup shuffles (orderkey, qty) only, "
        "HAVING shrinks to the big-order sliver before any join; top-100 "
        "is TakeOrdered."
    ),
    "bloom_semi_join": (
        "Runtime-filter pattern (r5): the dimension's set-bit table "
        "(≤4096 rows regardless of dim cardinality) BROADCASTS; each of "
        "the k=3 xxhash64 probes is a BroadcastHashJoin LeftSemi on a "
        "projected position column — the InjectRuntimeFilter shape, zero "
        "driver collects; false positives die in the exact semi-join — "
        "the oracle is the PLAIN semi-join, proving the prefilter changes "
        "only scan survivorship."
    ),
    "cdc_apply": (
        "CDC apply (r5): one row_number window keyed on the entity does "
        "sequence ordering, last-writer-wins, and tombstone filtering — "
        "a day's change feed costs ONE exchange of the delta."
    ),
    "incremental_join_view": (
        "Incremental JOIN-view refresh (r5): the stored base view "
        "contributes a scan-only union leg; only the delta joins; the "
        "oracle recomputes the full join, proving refresh-by-delta ≡ "
        "full recompute."
    ),
    "time_weighted_avg": (
        "LOCF time-weighted mean (r5): ONE exchange serves both the "
        "lead() duration window and the aggregate; weights are exact "
        "bigint microseconds, weighted sums DECIMAL(38,6)."
    ),
    "portable_cms_heavy_hitters": (
        "Count-min sketch (r5): counters are exact integer sums over "
        "portable hash buckets — map-side combine collapses each "
        "partition to ≤768 rows; probes join a broadcast 768-row table; "
        "even the ESTIMATES hash-match the oracle."
    ),
    "stream_enrich_e2e": (
        "Stream-static enrichment (r5): each micro-batch left-joins the "
        "broadcast dimension statelessly; append mode emits every row "
        "exactly once; drained output ≡ batch left join bit-for-bit."
    ),
    "attribution_last_touch": (
        "Last-touch attribution (r5): user-keyed equi-join with the "
        "7-day lookback as a residual predicate (never a time cross "
        "join) + one window per conversion; ties break on channel for "
        "engine parity."
    ),
    "mad_outliers": (
        "MAD outlier fences (r5): two exact-percentile passes, each a "
        "broadcast 5-row aggregate rejoined to the fact scan; 50% "
        "breakdown point vs the mean/stddev z-score."
    ),
    "q15_top_supplier": (
        "TPC-H Q15 (r5): quarterly revenue view = one partial→final agg on "
        "l_suppkey; the scalar max arrives as a broadcast 1-row aggregate "
        "applied as a plain filter — NO Window node (a global window would "
        "single-partition every supplier); supplier dim broadcasts."
    ),
    "q17_small_quantity_revenue": (
        "TPC-H Q17 (r5): the correlated AVG subquery runs as a per-part "
        "aggregate over the part-filtered lineitem sliver (brand+size "
        "broadcast-filtered FIRST); threshold join on the groupBy's own "
        "partitioning; DECIMAL-exact final sum."
    ),
    "q19_disjunctive_revenue": (
        "TPC-H Q19 (r5): the OR-of-ANDs spanning both join sides factors "
        "into side-local PushedFilters — the part scan receives the "
        "brand/size disjunction, the lineitem scan the quantity envelope — "
        "so both scans prune BEFORE the broadcast join; only the residual "
        "mixed disjunction evaluates post-join."
    ),
    "pagerank_copurchase": (
        "Portable PageRank (r5): edges+degrees localCheckpointed once; each "
        "of the 5 rounds BROADCASTS the node-cardinality rank frame into "
        "the cached edge partitions (≥5 BroadcastHashJoin, edges never "
        "re-shuffle) and the only per-round exchange is the map-combined "
        "integer contribution aggregate; parts-per-10^12 BIGINT arithmetic "
        "makes the result bit-identical to the 5×-unrolled SQL oracle."
    ),
    "merkle_snapshot_diff": (
        "Merkle snapshot diff (r5): each snapshot collapses map-side to "
        "1024 (bucket, decimal-sum-of-hash) digests; only buckets whose "
        "digests disagree descend — both snapshots pass a broadcast "
        "LeftSemi on the differing-bucket list BEFORE the row-level full "
        "outer join, so the wide join touches only churned buckets."
    ),
    "portable_kmv_jaccard": (
        "KMV sketch Jaccard (r5): sources reduce to k=64 minimum shingle "
        "hashes BEFORE any pair math; the pairwise stage nested-loops only "
        "over sketch-sized frames (sources²×k rows) — document bodies "
        "never reach a join, and no exchange carries text."
    ),
    "event_paths_topk": (
        "3-step path mining (r5): one shuffle on user_id for the lead "
        "window, trigram aggregate map-combines to |event_type|³ partials "
        "before the wire, and the top-20 cut is a TakeOrderedAndProject — "
        "no global sort materializes."
    ),
    "hll_rollup_hierarchy": (
        "Hierarchical sketch rollup (r5): fact scan touched once "
        "(broadcast dims), then region/global levels re-aggregate the "
        "25×64-row register table with max(rho) — registers, not rows, "
        "cross every rollup boundary; the oracle recomputes each level "
        "independently, so a hash match certifies mergeability."
    ),
    "linear_interpolate": (
        "Gap-fill interpolation (r5): per-key sequence explode (no "
        "global calendar cross join); both direction-scans and the fill "
        "expression share ONE user_id exchange; the interpolant is pure "
        "bigint micro-units so Spark and DuckDB agree bit-for-bit."
    ),
    "bloom_pruned_lookup": (
        "File-level bloom data skipping (r5): per-file bloom filters on "
        "o_custkey (stored as 64-bit words in a manifest table) prune a "
        "point lookup in a TIME-sorted lake — the case min/max boxes "
        "cannot touch; the exact IN filter re-applies on surviving "
        "files, so bloom false positives cost I/O, never correctness."
    ),
    "jaccard_prefix_join": (
        "Exact set-similarity join (r5): per-doc shingle prefixes "
        "(rarity-first order, length n-ceil(0.8n)+1) feed the candidate "
        "equi-join with PPJoin length + positional cuts (118,826 → "
        "12,784 candidates at sf0.1, both lossless); shingle arrays "
        "materialize once (projection collapse would re-evaluate the "
        "split→transform chain per consumer — measured 14 s of the "
        "pre-fix 20 s); verification re-shingles ONLY candidate docs. "
        "The quadratic all-shared-shingle plan exists solely as the "
        "DuckDB oracle."
    ),
    "rolling_active_users": (
        "Exact sliding COUNT(DISTINCT) (r5): each (user, active-day) "
        "covers windows [a, min(a+6, next-1)] — one explode row per "
        "covered window-day, so volume is ≤7×|user-days| and a plain "
        "count replaces the distinct; the day×activity range join "
        "exists only as the oracle."
    ),
    "bfs_hops": (
        "Multi-source BFS (r5): the edge list builds from one lineitem "
        "self-join and is checkpointed once; each round broadcasts the "
        "dimension-sized frontier into a map-side semi-join over the "
        "cached edges (edges never re-shuffle), and the visited anti-join "
        "is node-cardinality. Certified against a DuckDB recursive-CTE "
        "oracle."
    ),
    "ewma_smoothing": (
        "Exponential-decay average (r5): all 20 lag() terms name one "
        "window spec, so the plan is a single (user_id) Exchange + ONE "
        "Window node; the average is an exact bigint num div den — no "
        "float accumulation, no per-row UDF."
    ),
    "ntile_quartiles": (
        "Equi-depth histogram (r5): one exchange on the 5-value group "
        "key, per-group sort inside the Window, bucket agg map-combines "
        "to 20 partials. For a single giant group the bounded-shuffle "
        "path is portable_quantile_bands."
    ),
    "rolling_hll_users": (
        "Sliding-window HLL merge (r5): the raw scan reduces to "
        "days×64 register rows at the FIRST groupBy (map-side "
        "max-combine); the 7-day window merge and the estimate run on "
        "~2k rows regardless of event volume — the sketch twin of "
        "rolling_active_users' exact explode."
    ),
    "pivot_order_status": (
        "Cross-tab (r5): customer/nation broadcast; pivot with DECLARED "
        "values is ONE hash aggregate (no domain-discovery distinct "
        "scan), row width = groups × statuses × measures."
    ),
    "containment_prefix_join": (
        "Directed containment join (r5): A-side input shrinks to its "
        "rarity-ordered prefix; B indexes all shingles (containment has "
        "no upper length bound on B); SIZE + POSITIONAL cuts prune "
        "before the candidate distinct; verify re-shingles only "
        "candidate docs via broadcast semi-join — never corpus×corpus."
    ),
    "weighted_median": (
        "Weighted median (r5): running and full-partition weight sums "
        "share ONE (l_returnflag) exchange; the suffix filter + 3-row "
        "aggregate replace any second window or self-join."
    ),
    "quantile_band_rollup": (
        "Additive sketch rollup (r5): fact scan touched once (broadcast "
        "dims + 1-row min/max broadcast); after the first groupBy every "
        "coarser level shuffles ≤ nations×256 band rows — merge by "
        "count addition, never re-scan."
    ),
    "event_pattern_match": (
        "Sequence pattern matching (r5): one user_id shuffle builds the "
        "deterministic journey string (array_sort over (ts,event_id) "
        "structs — no reliance on aggregation order); literal-pattern "
        "regexp counts are a projection."
    ),
    "window_rank_suite": (
        "Relative ranks (r5): percent_rank/cume_dist/nth_value share "
        "one (o_orderpriority) exchange; the output filter stays above "
        "the windows by necessity — full-partition semantics."
    ),
    "stream_left_join_e2e": (
        "Stream-stream LEFT OUTER interval join (r5): per-side state is "
        "bounded by watermark × arrival rate; unmatched rows emit on "
        "watermark passage (sentinel-batch drain). The read side of the "
        "plan is the drained parquet; the state machine itself is "
        "certified by the full value-hash oracle vs the batch left join."
    ),
    "sssp_weighted": (
        "Weighted shortest path (r5): weighted edges aggregate out of "
        "one orderkey self-join, localCheckpointed; each relaxation "
        "round broadcasts the |V|-row distance table into cached edge "
        "partitions and re-minimizes — shuffle per round is |V| rows, "
        "edges never move."
    ),
    "ivm_agg_retract": (
        "IVM retraction (r5): signed log = UNION of two projections of "
        "ONE scan (the sign IS the delete), then a single map-combining "
        "aggregate exchange on DECIMAL accumulators."
    ),
    "debounce_events": (
        "Greedy debounce (r5): ONE user_id shuffle into "
        "FlatMapGroupsInPandas (Arrow-batched, NOT BatchEvalPython); "
        "per-group state is the group; output bounded by span/gap per "
        "user. The sequential recurrence is the documented reason the "
        "imperative path exists."
    ),
    "bag_set_ops": (
        "Bag set ops (r5): exceptAll/intersectAll plan as count-"
        "aggregate + join + generate — multiplicity semantics without "
        "row pairing; one shuffle per side."
    ),
    "kmv_set_cardinality": (
        "KMV set-op sizes (r5): bodies hash in the scan projection, "
        "only (source, hv) shuffles; sketch build = one distinct + one "
        "per-source rank window; all pair math on sources²×k rows."
    ),
    "pareto_frontier": (
        "Skyline (rewritten r7): one full-parallelism groupBy "
        "(flag, price), then the strict-prefix min decomposes as a "
        "parallel prefix scan — per-(flag, bucket) local window (flags"
        "×64-way) + a flags×64-row bucket-summary prefix — and the "
        "hull-sized winner set BROADCASTS back onto the scan, so the "
        "fact table never shuffles. The r5 form keyed every window on "
        "l_returnflag alone: 3 tasks sorted everything at any cluster "
        "size. The quadratic dominance self-join exists only as the "
        "oracle."
    ),
    "groupingsets_revenue": (
        "Explicit GROUPING SETS (r5): ONE Expand node with 3 replicas "
        "+ one aggregate exchange — rows shuffle per requested level, "
        "not per 2^k cube cell."
    ),
    "q2_min_cost_supplier": (
        "TPC-H Q2 shape (r5): the correlated groupwise-min is a Window "
        "over l_partkey + row-local equality filter — ONE partkey "
        "exchange, zero self-joins; supplier/nation/region collapse to "
        "one broadcast enrich, the size-filtered part slice broadcasts "
        "after the window."
    ),
    "q4_order_priority": (
        "TPC-H Q4 shape (r5): EXISTS compiles to one LEFT SEMI hash "
        "join; the probe side projects only l_orderkey with the "
        "returnflag gate pushed to its scan; quarter window pushed to "
        "the orders scan."
    ),
    "q9_product_type_profit": (
        "TPC-H Q9 shape (r5): all three dimensions broadcast (part "
        "pre-cut by the pushed LIKE before its build), lineitem⋈orders "
        "is the only shuffle join; profit accumulates in DECIMAL."
    ),
    "q11_important_parts": (
        "TPC-H Q11 shape (r5): the per-part value aggregate is computed "
        "ONCE (cache feeds both uses — two InMemoryTableScans in the "
        "plan); the grand total re-aggregates the 2k-row cached frame "
        "and returns as a 1-row broadcast nested loop, never a second "
        "lineitem scan."
    ),
    "q12_priority_lines": (
        "TPC-H Q12 shape (r5): both conditional counts accumulate in "
        "the SAME partial→final aggregate pair (2 HashAggregates "
        "total); returnflag + year window pushed to the lineitem scan "
        "before the orders join."
    ),
    "q16_supplier_part_counts": (
        "TPC-H Q16 shape (r5): NOT IN compiles to a broadcast LEFT "
        "ANTI (non-null keys); count-distinct runs through the "
        "two-phase partial-distinct Expand; no sort-merge join exists."
    ),
    "q20_potential_promotion": (
        "TPC-H Q20 shape (r5): the correlated fractional-sum HAVING "
        "computes the windowed and all-time sums in ONE conditional "
        "aggregate over ONE lineitem scan (the canonical nested form "
        "scans twice); compare integerized as 6·win > total in DECIMAL."
    ),
    "q21_suppliers_kept_waiting": (
        "TPC-H Q21 shape (r5): the EXISTS + NOT-EXISTS pair becomes "
        "two per-order collect_set windows over ONE lineitem scan and "
        "ONE l_orderkey exchange — the canonical form self-joins "
        "lineitem twice (three scans); sets bounded by "
        "suppliers-per-order."
    ),
    "array_hof_suite": (
        "Higher-order lambdas (r5): transform/filter/aggregate/exists "
        "all evaluate inside the scan's codegen projection — zero "
        "Generate nodes, zero hash exchanges; the explode-then-"
        "reaggregate alternative would shuffle |vectors|xdim rows."
    ),
    "ivfpq_residual_search": (
        "IVF-PQ residual search (r5): the persisted 17 B/vector code "
        "table joins a broadcast (query x probes x m x k) L2 lookup "
        "table on (cell, sub, code) — corpus never shuffles, only "
        "probed cells' codes survive; the sole nested loop is the "
        "8-row coarse-centroid probe."
    ),
    "stream_full_join_e2e": (
        "FULL OUTER stream-stream interval join (r5): reads the "
        "watermark-drained output lake; the drain's two-sided state "
        "machine emits matched pairs once and BOTH unmatched tails on "
        "watermark expiry (sentinel-batch protocol advances both "
        "inputs past every real row)."
    ),
    "chi_square_independence": (
        "Chi-square contingency (r5): one fact groupBy builds the "
        "segments x types cell table; margins and N re-aggregate "
        "CELLS; per-cell terms integerize the difference before the "
        "double square and merge as DECIMAL — arrival-order-proof."
    ),
    "schema_evolution_read": (
        "Schema-drift read (r5): mergeSchema unions two batches' "
        "schemas BY NAME (batch 2 adds a column and reorders); "
        "missing columns surface as NULL, the scan stays columnar and "
        "per-batch pruned — the footer union is driver-side "
        "schema-only work."
    ),
    "dpp_pruned_join": (
        "Dynamic partition pruning (r5): the year dim is only "
        "computable at runtime, so the fact scan carries a "
        "dynamicpruningexpression in PartitionFilters — the broadcast "
        "of the filtered dim doubles as the partition pruner; 4 of 7 "
        "year partitions are never opened."
    ),
    "bucketed_join_no_shuffle": (
        "Bucketed SMB join (r5): both facts written bucketed+sorted "
        "on the join key — the sort-merge join has ZERO pre-join "
        "exchanges and no per-task sort; the only hash exchange in "
        "the plan is the post-join aggregate's."
    ),
    "copurchase_lift": (
        "Market-basket lift (r5): the (order, part) incidence "
        "distincts once and is checkpoint-reused by the pair "
        "self-join; the support cut runs map-combined inside the pair "
        "aggregate; part counts + order total broadcast; top-20 is a "
        "TakeOrdered."
    ),
    "multimodal_audio_features": (
        "PCM8 audio features (r5): Arrow-batched mapInPandas over the "
        "binary column — scan-shaped, zero exchanges except the output "
        "sort; all-integer features are exact at any batch boundary."
    ),
    "train_val_test_split": (
        "Deterministic split (r5): the md5-ppb gate is a narrow "
        "projection inside the scan stage — assignment is a pure "
        "function of (key, seed), so no reshuffle/retry/re-ingest can "
        "flip a document across the train/eval boundary; the only "
        "exchange is the audit aggregate."
    ),
    # ---- r6: full-registry coverage (VERDICT r5 #6) — the remaining 65 ----
    "distinct_projection": (
        "Projection + DISTINCT: ReadSchema prunes to the 2 projected "
        "columns; HashAggregate-based distinct map-combines before its "
        "single exchange, so the wire carries unique pairs, not rows."
    ),
    "conjunctive_filter": (
        "Conjunctive range + null-guard filter: every conjunct lands in "
        "PushedFilters (IsNotNull + range bounds reach the parquet "
        "row-group stats); the aggregate is partial→final around one "
        "exchange on a bounded group key."
    ),
    "semi_join_exists": (
        "EXISTS as LeftSemi: the filtered probe side stays a semi-join "
        "(each left row emitted at most once, no fan-out); AQE picks "
        "broadcast for the bounded key side, so the fact never shuffles."
    ),
    "top_k_per_group": (
        "Per-group top-k: ONE exchange on the group key feeds the "
        "rank window; the rank filter cuts before anything else "
        "consumes the rows — no global sort, no second shuffle."
    ),
    "running_total": (
        "Running total: a single window spec (partition key + time "
        "order, unbounded-preceding ROWS frame) = one exchange + one "
        "in-partition sort; DECIMAL accumulation is merge-order-exact."
    ),
    "asof_closest": (
        "Closest-revision as-of (P3): union trick — zero join nodes; "
        "one exchange on the match key, a last(ignorenulls) running "
        "window resolves each probe to its closest prior revision."
    ),
    "union_distinct": (
        "UNION (distinct flavor): the two branches scan with pruned "
        "ReadSchema, union is plan-free (no operator), and the distinct "
        "is one map-combined aggregate — a single exchange of unique rows."
    ),
    "rollup_revenue": (
        "ROLLUP: one Expand node replicates rows per grouping level "
        "BEFORE a single partial→final aggregate — all levels share one "
        "exchange; DECIMAL sums keep every level merge-order-exact."
    ),
    "cube_revenue": (
        "CUBE (§ grouping sets): same Expand+single-aggregate shape as "
        "rollup — 2^k levels from ONE scan and ONE exchange, never k "
        "separate jobs over the fact table."
    ),
    "pivot_daily_events": (
        "Pivot with DECLARED values: no domain-discovery pre-scan; the "
        "pivot compiles to conditional aggregates in one partial→final "
        "pass, so the plan is exactly a groupBy with k conditional sums."
    ),
    "relationalize_root": (
        "Relationalize root table (N1/N2): struct flatten is pure "
        "Project — the root extraction is exchange-free; nested arrays "
        "are carried, not exploded, so row count is preserved 1:1."
    ),
    "q10_returned_items": (
        "TPC-H Q10: date window prunes orders at the scan and the "
        "returnflag prunes lineitem at the scan (both in PushedFilters); "
        "facts join on orderkey; customer/nation broadcast; top-20 is "
        "TakeOrdered with a key tie-break — no global sort."
    ),
    "q7_volume_shipping": (
        "TPC-H Q7 (two-role dimension): nation broadcasts TWICE under "
        "different aliases; the bilateral pair predicate evaluates "
        "row-locally after both role joins (never a cartesian); facts "
        "join on natural keys with the ship-year filter pushed down."
    ),
    "q14_promo_effect": (
        "TPC-H Q14: month window in PushedFilters on lineitem; part "
        "broadcasts; numerator AND denominator accumulate in ONE "
        "conditional-aggregate pass (single scan, single exchange), "
        "exact in DECIMAL with one final division."
    ),
    "q22_global_sales_opportunity": (
        "TPC-H Q22: the average balance is a broadcast 1-row scalar "
        "(never a window over all customers); the no-recent-orders test "
        "is a LeftAnti against the date-pruned orders scan; the final "
        "rollup groups on the bounded code key."
    ),
    "time_bucket_rollup": (
        "Hypertable time-bucket rollup: integer epoch flooring is a "
        "narrow projection (bucket id computed in the scan stage), so "
        "the whole query is one partial→final aggregate on (key, bucket) "
        "— the continuous-aggregate shape at any retention length."
    ),
    "rolling_range_frame": (
        "Event-time RANGE frame (rolling 1 h): one window spec = one "
        "exchange on the entity key + one in-partition time sort; the "
        "RANGE frame scans each partition once with a sliding bound, "
        "and the DECIMAL sum is exact under any row order."
    ),
    "stratified_sample": (
        "Deterministic stratified sample: md5-hash membership is a "
        "pure row-local predicate — no RNG state, no sort, no shuffle; "
        "the sample is reproducible at any partition count, and the "
        "only exchange is the per-stratum audit aggregate."
    ),
    "portable_quantile_bands": (
        "Portable quantile sketch: 256-band equi-width histogram — "
        "band ids are a floor-divide projection, counts map-combine, so "
        "the wire carries ≤256 rows per group however large the input; "
        "threshold selection is integer cumulative-crossing over ≤256 rows."
    ),
    "sketch_cardinality": (
        "Sketch suite over one scan: portable-HLL registers and KMV "
        "minima map-combine (≤64 rows per source cross the wire); exact "
        "p50/p95 are order-statistic selections on the grouped values — "
        "the one exact leg, swappable for the band sketch at scale."
    ),
    "native_sketch_cardinality": (
        "Native DataSketches HLL + approx_percentile: both are true "
        "partial aggregates (mergeable sketch buffers cross the wire, "
        "never values) — the built-in scale path the portable twins "
        "certify numerically."
    ),
    "group_median": (
        "Exact group percentiles: Spark `percentile` needs each group's "
        "values together — ONE exchange on the group key, in-group "
        "selection; correct up to millions of rows per group, with "
        "portable_quantile_bands as the documented bounded-memory path."
    ),
    "unpivot_metrics": (
        "Unpivot/melt: compiles to a single Expand node — zero shuffle, "
        "output = rows × measures, scales with the scan; the inverse "
        "pivot at no aggregation cost."
    ),
    "groupwise_regression": (
        "Group-wise least squares: ONE pass of exact sufficient "
        "statistics (n, Σx, Σy, Σxy, Σx² as DECIMAL over integer days) "
        "map-combined into a single exchange; slope/intercept are "
        "closed-form row-local arithmetic on the 1-row-per-group result."
    ),
    "metric_correlations": (
        "Per-group Pearson r: same sufficient-statistics shape as the "
        "regression — one map-combined aggregate, closed-form r from "
        "exact sums; sqrt is IEEE-exact on exact inputs, so the hash "
        "oracle holds."
    ),
    "value_histogram": (
        "Equi-width histogram: bucket = floor-divide projection with a "
        "clamped overflow bucket — NO bounds-discovery pass; one "
        "map-combined count aggregate whose wire volume is the bucket "
        "count, not the row count."
    ),
    "zscore_anomalies": (
        "Z-score screen: exact DECIMAL mean/σ computed in one aggregate, "
        "broadcast back as a 1-row frame (never a window over the "
        "table), 3σ flags counted in a second map-combined pass — two "
        "scans, zero wide shuffles of the fact."
    ),
    "skew_salted_agg": (
        "Two-phase salted aggregation: phase 1 groups on (key, salt) so "
        "every reducer holds ≤1/16 of the hottest key; phase 2 merges "
        "16 partials per key — the wire is keys×salt rows, and no "
        "single task ever owns a hot key's full row set."
    ),
    "column_profile": (
        "Per-column profile: null/distinct/min/max for every column "
        "fused into ONE scan of parallel aggregates — a single job, not "
        "N per-column jobs; at 100 TB the profile costs one pass."
    ),
    "orc_export_roundtrip": (
        "ORC round-trip: partitioned ORC write clusters by partition "
        "key first (bounded file count); the read-back scan shows ORC "
        "PushedFilters + pruned ReadSchema — the third columnar "
        "consumer format behind parquet/CSV."
    ),
    "profile_drift": (
        "Stats drift: two single-pass profiles (current vs prior "
        "snapshot) joined per column — the join side is "
        "columns-count-sized, so it broadcasts; report cost is two "
        "scans regardless of table width×depth."
    ),
    "dq_constraint_report": (
        "Deequ-style constraints: completeness/uniqueness/range/"
        "membership fused into ONE scan-aggregate; the referential "
        "probe is a LeftAnti against the (broadcast) key side; output "
        "is constraint-count rows."
    ),
    "hot_key_report": (
        "Skew diagnostic: per-key counts map-combine; top-10 is "
        "TakeOrdered; max/mean skew factor comes from the same tiny "
        "aggregate — the measure-before-you-salt pass costs one "
        "map-combined shuffle of key cardinality."
    ),
    "incremental_dedup": (
        "Cross-batch dedup: the incoming batch anti-joins the stored "
        "corpus fingerprints on 8-byte digests — bodies never move, the "
        "wire is digest-sized, and cost scales with the batch, not the "
        "corpus."
    ),
    "doc_fingerprint": (
        "Fingerprinting: md5 + 60-bit portable hash are narrow "
        "projections inside the scan stage — zero exchanges except the "
        "output sort; the digest column is what every downstream dedup "
        "shuffles INSTEAD of bodies."
    ),
    "token_stats": (
        "Token stats/TTR: tokenize + distinct-count per doc are "
        "row-local HOF expressions (no explode, no shuffle) — quality "
        "signals at pure scan cost."
    ),
    "language_id": (
        "Language ID: stopword-hit scoring is a fixed-size row-local "
        "expression tree (one per language, fixed precedence tie-break) "
        "— no dictionary join, no UDF, scan-shaped."
    ),
    "quality_score": (
        "Quality gates: punctuation/stopword/length ratios are pure "
        "projections; the gate predicate stays in the scan stage — the "
        "cheap pre-filter runs at I/O speed."
    ),
    "bpe_token_count": (
        "BPE-proxy token counting: regexp_extract_all pre-tokenizer is "
        "codegen'd JVM-side — no UDF, no shuffle; cost estimation for "
        "real BPE at scan cost."
    ),
    "pii_redact": (
        "PII redaction: regexp count + mask are codegen'd projections; "
        "the redacted body leaves as an md5 digest so even the OUTPUT "
        "stays 32 bytes/row — no body ever shuffles."
    ),
    "contamination_check": (
        "Decontamination: 8-grams DISTINCT per doc before the join; the "
        "join key is the gram, so shuffles are gram-sized. The benchmark "
        "side carries NO broadcast hint — real eval suites are bounded "
        "but data-proportional fixtures must not be forced resident."
    ),
    "repetition_stats": (
        "Gopher repetition rule: both aggregation levels key on "
        "(doc_id[, gram]) — partial aggregation absorbs duplicates "
        "map-side; nothing wider than per-doc gram counts moves."
    ),
    "quality_weighted_sample": (
        "Quality-weighted sampling: keep-probability ∝ TTR decided by a "
        "portable hash — a pure filter, reproducible at any partition "
        "count, no RNG, no shuffle."
    ),
    "train_shards": (
        "Shard assignment: portable hash → 16 shards is a projection; "
        "the balance audit is one 16-row aggregate — the final-write "
        "stage shape at 100 TB (uniform shards, no global sort)."
    ),
    "ngram_topk": (
        "Corpus top-k n-grams: bigram counts map-combine before the "
        "shuffle; TakeOrderedAndProject keeps k rows without a global "
        "sort; gram tie-break makes the cut deterministic."
    ),
    "lm_perplexity": (
        "Bigram-LM scoring: the model 'training' is a map-combined gram "
        "count; scoring joins docs' grams to the count table on the gram "
        "key; per-token NLL rounds to DECIMAL so the doc average is "
        "merge-order-exact. The one linear data-bound pass (SCALE.md)."
    ),
    "minhash_signature": (
        "MinHash k=8: permutation salts are driver constants folded "
        "into the plan; signatures are min-aggregates over shingle "
        "hashes keyed per doc — map-combined, signature-sized wire."
    ),
    "simhash16": (
        "SimHash: 16 per-bit votes are row-local bit arithmetic over "
        "token hashes — one narrow projection, zero exchanges; the "
        "signature doubles as a dedup bucket key."
    ),
    "ann_topk_cosine": (
        "Brute-force ANN baseline: the 5-query side broadcasts; the "
        "corpus scans ONCE with zero shuffle; ranking is one window "
        "partitioned by query id (queries × corpus rows, never corpus²)."
    ),
    "ann_lsh_bucketed": (
        "LSH ANN: hyperplane weights are driver constants; each query "
        "probes only its bucket via broadcast hash join on bucket id — "
        "candidate volume is corpus/2^planes per query, not a scan."
    ),
    "embedding_near_dup": (
        "Embedding near-dup: pairs form only INSIDE an LSH bucket "
        "(plane count must track corpus size, documented) — the pair "
        "join is bucket-equi, never cartesian; cosine is a zip_with "
        "fold on already-paired rows."
    ),
    "kmeans_refine_centroids": (
        "Lloyd refinement: 8 centroids ride along as broadcast "
        "constants; assignment is a row-local argmin; per-cell means "
        "map-combine — each iteration is one scan + one "
        "centroid-cardinality exchange. Measured 2.5× at 100× data."
    ),
    "near_dup_components": (
        "Connected components: Pregel-style min-label loop over the "
        "candidate pairs; labels (node-cardinality) broadcast into "
        "localCheckpointed edges each round — edges never re-shuffle "
        "and lineage stays O(1) in iteration count."
    ),
    "ann_recall": (
        "Recall@k: ground truth is queries×k rows → broadcasts into a "
        "left join against the ANN result; the quality metric costs "
        "one tiny aggregation on top of the two existing pipelines."
    ),
    "pq_ann_shortlist": (
        "PQ ADC: 16 B/vector codes join a broadcast (query × subspace "
        "× centroid) distance table; partial dots sum in ONE aggregate; "
        "the float corpus is never re-read after encoding — the "
        "memory-bound regime's plan."
    ),
    "pq_recall": (
        "PQ recall: broadcast ground truth (queries × k) left-joins the "
        "cached-index shortlist — repeat measurements never pay the "
        "codebook train; one small aggregate emits the recall."
    ),
    "dedup_graph_triangles": (
        "Triangle QC: edges stored a<b once; each triangle found "
        "exactly once via the oriented 2-path⋈closing-edge join — both "
        "joins key on node ids, so the plan is two equi-joins on the "
        "edge table, never an all-pairs expansion."
    ),
    "multimodal_decode": (
        "Image decode: Arrow-batched mapInPandas over the binary "
        "column, unit of work = payload not row; codec resolved ONCE on "
        "the driver (never mixed in a job); scan-shaped, zero "
        "exchanges except the output sort."
    ),
    "multimodal_features": (
        "Image features: same Arrow-batched scan shape as decode — "
        "feature extraction stays inside the mapInPandas batch, output "
        "is fixed-width typed columns, no shuffle of payloads."
    ),
    "multimodal_frame_sample": (
        "Frame sampling: per-payload frame selection inside one "
        "mapInPandas pass; output rows = payloads × sampled frames "
        "(bounded fan-out declared in the schema), partitioning "
        "inherited from the scan."
    ),
    "multimodal_resize": (
        "Resize: decode→resample→re-encode within the Arrow batch "
        "(vendored PPM/BMP codec on the real path); payloads never "
        "cross a shuffle — the output binary column writes straight "
        "back out."
    ),
    "media_phash_pairs": (
        "Perceptual-hash dedup: aHash per payload (one mapInPandas "
        "pass), then 3-band pigeonhole bucketing — full recall at "
        "hamming ≤ 2 with band-equi candidate joins (never 256-bucket "
        "quadratic); verify is native bit_count hamming on candidates."
    ),
    "pipeline_e2e_child": (
        "Stage-2 child table e2e: declared-schema JSON scan → "
        "shuffle-free relationalize (posexplode, key inheritance "
        "join-free) → one clustering exchange before the partitioned "
        "parquet write — the whole child path costs one shuffle."
    ),
    "pipeline_incremental_idempotent": (
        "Ledger idempotency: TWO full stage-2 runs by design; run 2's "
        "listing anti-joins the processed-files ledger on 32 B digests "
        "and touches O(delta)=0 files — measured 2.1× at 100× data "
        "because only run 1's ETL grows."
    ),
    "domain_mix_kl": (
        "Data-mix drift (r6): token counts are size(split(...)) "
        "projections in the scan stage (bodies never shuffle); both "
        "mixes come from ONE scan via conditional sums, totals are a "
        "broadcast 1-row frame, output is domain-cardinality."
    ),
    "kcore_peeling": (
        "k-core (r6): the symmetric edge list localCheckpoints ONCE "
        "(serialized); each peel round broadcasts the node-cardinality "
        "survivor set into the cached edges as two LeftSemi joins — "
        "edges never re-shuffle, and the only exchange per round is the "
        "map-combined integer degree count."
    ),
    "rollup_incremental_equiv": (
        "Incremental rollup: the refresh recomputes ONLY partitions the "
        "delta touched (partition-diff listing), dynamic overwrite "
        "isolates healthy partitions; the oracle recomputes the full "
        "aggregate — pass proves refresh-by-diff ≡ recompute."
    ),
    # ---- r7 additions ----
    "multimodal_real_codec": (
        "REAL vendored-codec row (r7): PPM payloads are synthesized by "
        "native binary concat inside the scan stage, then three chained "
        "Arrow-batched mapInPandas stages (decode, aHash, features) — "
        "scan-shaped, ZERO exchanges; the codec is resolved once on the "
        "driver, never per-task."
    ),
    "pipeline_compaction_equiv": (
        "Compaction equivalence (r7): the compacted-lake read is a "
        "partition-pruned parquet scan joined to the broadcast "
        "partition-stats listing (binaryFile metadata only, no content "
        "read) — the row-for-row compare costs one scan + one broadcast "
        "join, no shuffle of the data rows."
    ),
    "upsert_merge_equiv": (
        "Merge-into equivalence (r7): the query side is a plain "
        "partitioned-lake scan — all merge work happened at write time "
        "via broadcast key anti-joins + dynamic partition overwrite; "
        "reading the merged state costs exactly a scan."
    ),
    "semdedup_prune": (
        "SemDeDup (r7): Theta(cells) centroid table broadcasts into a "
        "one-pass assignment; the pair stage is an equi-join keyed on "
        "cell id (sum of cell_size² pairs, NEVER corpus²); the ranked "
        "frame localCheckpoints so assignment + both windows run once "
        "for its three consumers."
    ),
    "bpe_vocab_induction": (
        "BPE induction (r7): the ONLY corpus-sized work is the initial "
        "word count (map-side combine on the word key); every round "
        "operates on the vocab-sized frame — row-local pair explode, "
        "one pair-keyed aggregation, a 1-row winner kept distributed "
        "as a broadcast cross join (never collected), and a row-local "
        "aggregate() merge fold; per-round localCheckpoint keeps "
        "iteration lineage O(1)."
    ),
    "bpe_learned_segmentation": (
        "BPE round trip (r7): identical plan family to the trainer — "
        "corpus scanned once into the vocab-sized word-count frame, all "
        "three merge rounds run vocab-sized, and the compression "
        "statistics are one aggregate over the final vocabulary (exact "
        "integer ppm)."
    ),
    "attribution_position": (
        "Position-based attribution (r7): touch⋈conversion is an "
        "equi-join on user_id with the 7-day lookback as a residual "
        "range predicate (never a time cross join); both per-conversion "
        "windows (position, path length) share one event_id exchange; "
        "credit is exact integer ppm so the aggregate is a plain "
        "bigint sum."
    ),
    "bootstrap_ci_revenue": (
        "Poisson bootstrap (r7): resampling is a row-local md5-derived "
        "Poisson(1) weight, so B=32 bootstrap replicas cost ONE weighted "
        "aggregation pass — the only shuffle carries groups x 32 "
        "aggregate states (wire cost independent of row count); the "
        "order-statistic CI window runs on groups x 32 rows. The "
        "repartition before the explode exists to widen the md5 stage "
        "past the local 3-split scan; at cluster scale AQE coalesces it."
    ),
    "fixed_width_roundtrip": (
        "Fixed-width text round trip (r7): both directions are pure "
        "whole-stage-codegen projections (concat/lpad/rpad out, "
        "substring/trim/cast back) — zero exchanges; the account "
        "balance travels as sign+digits integer cents, so no float "
        "touches the wire; overflow raises in the write projection "
        "rather than truncating."
    ),
    "kfold_assign": (
        "k-fold CV assignment (r7): the fold gate is a row-local "
        "portable-md5 projection (RNG-free, stable across corpus "
        "versions); one scan -> one k x sources aggregate — scan-bound "
        "at any size."
    ),
    "ann_matryoshka_recall": (
        "Matryoshka funnel (r7): the coarse pass ranks with PREFIX dots "
        "and ships scalars only through the ranking shuffle; full "
        "vectors are fetched for the queries×shortlist rows via "
        "broadcast hash joins (plan-pinned: zero SortMergeJoin); truth "
        "and funnel results are queries×k, so the recall join is "
        "broadcast too."
    ),
    "archive_restore_equiv": (
        "Schema-change protocol restore (r8): the output is ONE pruned "
        "parquet scan of the newest archived table plus literal "
        "certification columns — archiving work (directory copies, "
        "rebuild) happened at build time; the restored read carries no "
        "joins, no exchanges beyond the scan."
    ),
    "workflow_e2e_equiv": (
        "One-call orchestrator equivalence (r8): two partition-pruned "
        "parquet scans (one per discovered dataset) unioned — the "
        "concurrent stage-2 jobs' outputs read back with zero joins; "
        "discovery and ingest happened at build time behind the "
        "stage-1 checkpoint and stage-2 ledger."
    ),
    "ann_matryoshka_curve": (
        "Recall-vs-truncation sweep (r8): each dim's funnel keeps the "
        "certified shape (prefix-dot coarse rank ships scalars only; "
        "full vectors fetched for queries×shortlist via broadcast "
        "joins); the per-dim scorings union queries×k rows against one "
        "shared brute truth."
    ),
    "dedup_agreement_audit": (
        "MinHash-vs-SemDeDup 2x2 agreement matrix (r8): both certified "
        "dedup pipelines feed a corpus-keyed LEFT join against a "
        "broadcast distinct of pair ids; the only new exchange is the "
        "4-group final aggregate."
    ),
    "dsir_select": (
        "DSIR importance resampling (r8): the 64-bucket log-ratio model "
        "is a broadcast 1-row array; per-doc scoring is a row-local "
        "aggregate() fold over hashed n-grams (no doc-keyed exchange); "
        "the only shuffles are the bucket-count aggregates and the "
        "final TakeOrdered top-k."
    ),
    "contrastive_pairs": (
        "Anchor/positive/hard-negative mining (r8): rides the "
        "checkpointed SemDeDup ranked frame; candidates come from the "
        "same cell-keyed equi-join (never all-pairs) and the two argmax "
        "elections are windows on ONE anchor-keyed exchange."
    ),
    "vocab_growth_curve": (
        "Heaps'-law growth (r8): slice ids are row-local from a "
        "broadcast max-id (no global sort); the corpus-sized shuffles "
        "key on token strings (first-slice-per-type min) and the "
        "10-value slice id; cumulative sums + the closed-form log-log "
        "fit run on 10 rows."
    ),
    "tokenizer_fertility_by_lang": (
        "Per-language fertility (r8): the learned vocabulary joins the "
        "(lang, word) count table on the word key — both sides "
        "vocabulary-sized, bodies never shuffle; per-lang sums "
        "map-combine to |langs| rows."
    ),
    "char_entropy_quality": (
        "Character entropy (r8s2): the per-character explode is "
        "row-local and pipelined; the (doc_id, ch) histogram aggregate "
        "and the per-doc reduction each map-side combine BEFORE their "
        "exchanges — both shuffles move ~alphabet-sized histogram rows "
        "per document, never characters."
    ),
    "collocation_pmi": (
        "PMI collocations (r8s2): gram/word count tables map-combine "
        "to vocabulary size; PMI joins are vocabulary⋈vocabulary with "
        "the 1-row N broadcast; the cut is a TakeOrdered with a "
        "full-key deterministic tie-break. The corpus never re-joins."
    ),
    "readability_score": (
        "Flesch readability (r8s2): pure projection — tokenize + two "
        "regexp counts + one array-lambda filter per row, ZERO "
        "exchanges; scales with the scan."
    ),
    "k_anonymity_audit": (
        "k-anonymity/l-diversity audit (r8s2): ONE groupBy on the "
        "quasi-identifier; count(DISTINCT) expands to the standard "
        "two-phase distinct aggregate — both exchanges map-side combine "
        "to |QI domain| x |buckets| rows, class-count-sized regardless "
        "of table size."
    ),
    "mann_whitney_u": (
        "Mann-Whitney U (r8s2): the KS topology — one map-side-combined "
        "(value, countA, countB) aggregate, one distinct-value-domain "
        "window for the doubled midrank sums, a 1-row DECIMAL(38,0) "
        "reduction; no normal approximation, no floats."
    ),
    "benford_deviation": (
        "Benford audit (r8s2): leading digit from the exact-cents "
        "STRING (no log10 near powers of ten); a 9-row count joined to "
        "a literal digit grid; shares/deviations/TVD all exact integer "
        "ppm against literal Benford constants that sum to 1e6."
    ),
    "gini_activity_concentration": (
        "Gini concentration (r8s2): per-customer counts collapse to "
        "the distinct-activity-value domain (small integers); the "
        "grouped-data rank algebra rides one window over that frame "
        "and reduces to 1 row in exact DECIMAL(38,0) arithmetic — no "
        "global sort of customers."
    ),
    "cusum_changepoint": (
        "CUSUM changepoint (r8s2): daily exact-cent totals are one "
        "map-side-combined aggregate; the D-scaled cumulative "
        "deviation rides one window over the DAY-domain frame; argmax "
        "is a TakeOrdered(1) with earliest-day tie-break."
    ),
    "psi_drift": (
        "PSI drift (r8s2): broadcast 1-row time/value range; row-local "
        "bucketing (clamped floor-divide); per-bucket conditional "
        "counts map-side combine to 10 rows against a literal grid — "
        "absent buckets surface smoothed instead of vanishing."
    ),
    "ks_two_sample": (
        "KS two-sample (r8s2): one map-side-combined (value, countA, "
        "countB) aggregate is the only corpus-sized shuffle; both CDFs "
        "ride one window over the distinct-value domain; the argmax is "
        "a TakeOrdered(1) on exact DECIMAL(38,0) cross-products."
    ),
    "quantile_normalize_sources": (
        "Equi-percentile calibration (r8s2): the only corpus-sized "
        "shuffle is the (source, value) cell aggregate; cumulative "
        "counts are windows over VALUE-DOMAIN-sized frames; the "
        "percentile -> global-value lookup is the union-trick as-of "
        "join (no join node)."
    ),
    "ipf_raking": (
        "IPF raking (r8s2) — sixth iterative class: loop state is the "
        "marginal factor vectors; the corpus appears only in the initial "
        "map-side-combined contingency aggregate; every round is a "
        "cells-sized frame with broadcast factor joins in exact "
        "ppb-integer arithmetic."
    ),
    "loo_source_influence": (
        "Leave-one-out source influence (r8s2): one map-side-combined "
        "groupBy(source) of (count, token-sum) partials + a broadcast "
        "1-row total; the closed-form (T-t)/(N-n) prices every source "
        "in a single scan — no per-source recompute."
    ),
    "interarrival_burstiness": (
        "Burstiness CV² (r8s2): one lag window on the user_id exchange; "
        "the aggregate map-side combines exact integer (n, Σg, Σg²) "
        "partials — DECIMAL(38,0) squared sums, integral-div ratio, "
        "no float variance accumulation."
    ),
    "lsh_band_sweep": (
        "LSH banding calibration (r8s2): signatures compute once; each "
        "config's candidates are a band-hash self-join (collision-"
        "bounded, never all-pairs); truth verifies exact Jaccard over "
        "the 8x1 superset only (re-shingling candidate docs); the "
        "superset + truth frames live in a stamped per-corpus cache."
    ),
    "temporal_split_leakage": (
        "Temporal split + leakage audit (r8s2): the cutoff is a "
        "broadcast 1-row min/max in exact epoch micros; tagging is "
        "row-local; the audit is one user-keyed aggregate map-side "
        "combined to per-user flag pairs plus a 1-row reduction."
    ),
    "scd2_point_in_time_join": (
        "PIT dimension lookup (r8s2): the SCD2 derivation is the "
        "certified one-exchange gaps-and-islands; the at-time lookup is "
        "the union-trick as-of join — NO join node, one more user_id "
        "exchange, last(ignorenulls) carrying the valid interval."
    ),
    "zipf_slope": (
        "Zipf rank-frequency fit (r8s2): ONE corpus-sized shuffle keyed "
        "on token strings (map-side combined counts), a TakeOrdered "
        "top-100 cut, then a 100-row post-limit window and a 1-row "
        "closed-form fit."
    ),
    "clustering_coefficient": (
        "Local clustering coefficient (r8s2): DEGREE-ORDERED triangle "
        "enumeration — wedges pivot at their lowest-degree vertex, so "
        "the self-join fan-out is arboricity-bounded, not max-degree-"
        "bounded; closure check is a LeftSemi on candidate (v, w) pairs; "
        "degree joins broadcast the |V|-sized node table."
    ),
    "rendezvous_shards": (
        "HRW consistent sharding (r8s2): both assignments are row-local "
        "HOF argmax folds over a 16/17-element md5 score list — pure "
        "projection, the corpus never shuffles; the movement audit is "
        "ONE groupBy on the 16-value shard id, map-side combined."
    ),
    "cms_join_size_estimate": (
        "AGMS/CMS join-size estimate (r8s2): each table collapses to a "
        "4x256-counter sketch via one map-side-combined groupBy (wire <= "
        "1024 counter rows per side regardless of table size); the "
        "sketch inner product and min are sketch-sized; the exact "
        "yardstick shuffles key-count partials only."
    ),
    "dow_seasonality": (
        "Weekly seasonal profile (r8s2): groupBy (type, dow) "
        "map-combines to |types|x7 rows; per-type totals re-aggregate "
        "those rows and broadcast back — the event stream is scanned "
        "once and shuffles only profile-sized partials."
    ),
}


def main() -> int:
    from bridgedownstream_spark.queries import REGISTRY
    from bridgedownstream_spark.session import get_spark

    spark = get_spark("explain")
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python tools/explain_all.py` at sf0.001 "
        f"(plan shapes are scale-invariant; AQE final plans may coalesce "
        f"further at runtime). Each section states the property the plan "
        f"is read for; `tests/test_plans.py` pins these assertions in CI.",
        "",
    ]
    import contextlib
    import io

    for name, note in HEADLINERS.items():
        df = REGISTRY[name][0](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", note, "", "```", buf.getvalue().rstrip(), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
