#!/usr/bin/env python
"""Regenerate EXPLAIN.md: physical plans of representative queries with
shuffle/scan commentary. Run after changing any operator:

    python tools/gen_explain.py                  # every section
    python tools/gen_explain.py NAME [NAME ...]  # only these sections, in place
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from time_sift_spark.queries import REGISTRY  # noqa: E402
from time_sift_spark.session import get_spark  # noqa: E402

SHOWCASE = {
    "lag_events_wide": "Flagship lag plan: ONE Exchange (hash by user_id) + one sort feeds a single WindowExec evaluating every lag; scan reads only the 4 needed columns of 6.",
    "lag_global_hourly": "Un-partitioned global lag via halo buckets: windows are partitioned by bucket — no SinglePartition exchange anywhere.",
    "asof_join_purchases": "As-of join as union + one window: a single Exchange on user_id, no range cross-product operator.",
    "revenue_by_nation": "Star join: both dims arrive via BroadcastExchange; the fact table never shuffles before partial aggregation.",
    "minhash_lsh_pairs_docs": "MinHash: one explode→hash→group pipeline (md5 once per shingle), band keys posexploded from one sigw scan, candidate join on band keys.",
    "interval_join_error_click": "Range join via bucket blocking: plain shuffled equi-join on (user_id, bucket) + exact |Δt| filter.",
    "lsh_verified_neardup_docs": "Composed 100 TB dedup screen: LSH band-key equi-join produces candidates; exact Jaccard verify joins only |candidates| rows — no open pairwise stage anywhere.",
    "ann_lsh_topk": "Multi-table LSH ANN: (table,bucket) keys exploded from one scan, candidate equi-join on the key, cosine scored only for distinct candidates.",
    "latest_event_per_user": "Rank-dedup snapshot: rn=1 becomes WindowGroupLimit (partial top-1 per key BEFORE the exchange) — the shuffle carries one row per key per input partition, not the whole table.",
    "time_weighted_avg_events": "Lead-window and final aggregation share the user_id partitioning: ONE exchange total for window + groupBy.",
    "tpch_q3_shipping_priority": "Q3 star join: BUILDING customers broadcast into orders, lineitem shuffles once onto l_orderkey; both date filters appear in PushedFilters; final top-10 is TakeOrderedAndProject, never a global sort.",
    "ann_lsh_persisted_topk": "Persisted-index serving plan: the query side hashes |Q| probes and equi-joins the pre-bucketed table — the n-row bucket computation is absent (paid once at build).",
    "interval_join_bcast": "Broadcast-lookup interval join: the click side collapses to one sorted array per key and broadcasts; the error (fact) side has NO Exchange — band filtering happens inside the probe.",
    "class_capped_sample_events": "Per-class cap: the rank filter compiles to WindowGroupLimit BELOW the exchange — each input partition forwards at most N rows per class.",
    "bucketed_join_revenue": "Co-located bucketed fact-fact join: SortMergeJoin with ZERO Exchange on either input (write-time shuffle amortized); the only Exchange is the final 5-group aggregation.",
    "acf_user_value": "ACF rides the lag plan: the groupBy key equals the window partition key, so the whole autocorrelation (every lag) is ONE exchange; corr assembled from decimal sums, no second pass.",
    "tpch_q5_local_supplier_volume": "Q5 written for the 100 TB shape: the one fact-side exchange is lineitem⨝orders; customer/supplier/nation/region all arrive via BroadcastExchange; the date filter is in PushedFilters.",
    "tpch_q6_forecast_revenue": "The pushdown showcase: zero exchanges of data rows — all four predicates reach the scan, projection prunes to 3 columns, one codegen span ends in a scalar tree-aggregate. (The one SinglePartition exchange below carries per-task aggregate STATES — a few bytes each — to the final reduce; that is what a scalar aggregate is, not a data shuffle.)",
    "tpch_q18_large_volume_customer": "Aggregate-then-broadcast semi-join: the >200-qty order set (0.1% of orders) is computed once from lineitem and broadcast into orders; sum_qty rides along — lineitem is scanned once.",
    "concurrency_sweep_events": "Distributed prefix scan: per-bucket running-sum windows (no SinglePartition anywhere) + an O(num_buckets) driver exclusive-prefix folded back as a literal lookup.",
    "decontaminate_docs": "Contamination screen: benchmark n-gram hashes are distinct + BroadcastExchange; the training side explodes and equi-joins on the hash — never an all-pairs comparison.",
    "bm25_topk_docs": "BM25 lexical retrieval: the term filter sits directly above the token explode (postings volume = matching docs × |Q|, not the corpus token stream); df and corpus stats return as BroadcastExchanges; the final top-k is TakeOrderedAndProject — no single-partition sort.",
    "bm25_persisted_topk": "Persisted inverted-index serving: the tokenize-explode-count subtree is ABSENT (paid at build); the postings scan carries the term predicate in PushedFilters over term-clustered files.",
    "scd2_user_event_type": "SCD2 history build: two chained windows share the user_id partitioning — ONE exchange; the change filter between them drops all steady-state rows before the second sort.",
    "rolling_corr_click_purchase": "Rolling correlation: all six frame statistics share one window spec → a single WindowExec over the post-aggregation bucket calendar (bounded rows), fed by one groupBy exchange.",
    "shuffle_rank_docs": "Global shuffle rank without a global sort: md5-range buckets partition the rank windows (no SinglePartition exchange); the O(num_buckets) count prefix returns as a literal array lookup.",
    "salted_join_priority_revenue": "Skew-salted join: the join condition carries (key, salt) — a hot orderkey's rows spread over 4 reducers; the orders side replicates via a literal explode, never a cartesian operator.",
    "mixture_resample_docs": "Temperature mixture sampling: per-source thresholds return as a BroadcastExchange; the corpus side is a pure hash filter — zero fact-side shuffles.",
    "asof_join_nearest_purchase": "Nearest as-of: backward and forward carries share ONE hashpartitioning Exchange (two WindowExecs, opposite tie order/frame); closest-wins is a scalar projection.",
    "sketch_rollup_weekly": "Sketch mergeability: the distinct (group, day, register) state layer feeds the weekly COUNT(DISTINCT register) re-aggregation — raw user_ids are never rescanned above the daily layer.",
    "asof_interpolate_purchase": "Interpolation join: backward and forward carries of (value, time) share ONE hashpartitioning Exchange; the bracketing-weights arithmetic is a scalar projection above them.",
    "quantile_sketch_by_type": "Histogram-quantile sketch: the (group, bin) count is a partial-aggregatable groupBy (the mergeable state); cum/total window + crossing-bin CASE run over <=500 rows per group.",
    "deseasonalize_hourly_events": "Two-stage seasonal adjustment: exactly 2 window aggregates (count + decimal sum) per (key, slot) partition — the inlined form cost 40 slots before the stat/combine split.",
    "partitioned_scan_events": "Hive-layout pruning: the date filter appears as PartitionFilters on the scan — 3 of ~30 partition directories survive the FileIndex; the rest are never opened.",
    "ann_lsh_multiprobe_topk": "Multiprobe LSH, planes-as-data: hyperplanes ride a 72-row broadcast VALUES relation into one codegen'd dot per (vector, plane); query-side 1-bit flips are integer XORs exploded over the once-computed buckets. Plan analysis cost is milliseconds vs ~25 s for the expression-literal form.",
    "ann_ivf_refined_topk": "Lloyd-refined IVF: 3 unrolled k-means steps, each = one broadcast-centroid cosine ranking + one partial-aggregated per-(cid, dim) exact-decimal mean; multi-assignment triples the posting list, candidates stay a cid equi-join.",
    "semantic_dedup_docs": "SemDeDup: the IVF cell id is the blocking key — candidate pairs come from a cid self-equi-join (never all-pairs); the keep rule is one groupBy(vid_b) MIN + left join back.",
    "pq_adc_topk": "Product quantization: all 16 subspace codebooks train in ONE chain (subspace id is a group key); the ADC score joins the 16-bytes-per-vector codes table against a broadcast (subspace, code) distance table and collapses with an exact-decimal SUM; full vectors are touched only by the top-C re-rank.",
    "exact_substring_pairs_docs": "ExactSubstr: k-token windows hashed once (explode → md5 → DISTINCT per doc), pairs from a window-hash equi-join; the gram-doc cap drops boilerplate windows before pairing.",
    "m4_downsample_events": "M4 downsampling: one Exchange on (type, bucket) carries four ROW_NUMBER role picks; bounds are one tree-aggregated row broadcast back (BroadcastNestedLoopJoin of a 1-row relation).",
    "bm25_topk_capped_docs": "BM25 with the df cap: the stop-word term is dropped from the tiny broadcast dfreq frame BEFORE the per-doc scoring join — the saturated posting list never reaches the scored frame.",
    "quantile_sketch_auto_by_type": "Adaptive-bounds quantile sketch: pass 1 is a two-column scan collapsing to ONE (min, max) row; pass 2 is the unchanged mergeable-bin sketch with the bounds cross-joined as a broadcast.",
    "streaming_contract_events": "Continuous contract: one global streaming aggregation in complete mode - monitor state is a single row regardless of stream volume; the drained report equals the batch contract (the oracle).",
    "soft_dedup_docs": "Soft dedup: the cluster frame joins back onto the corpus UNHINTED - AQE broadcasts it when its runtime size is small and falls back to a shuffle join on dup-saturated corpora (the forced-broadcast 8 GB cliff removed in r8); the keep draw is integer md5 x size < 2^32.",
    "hard_negatives_topk": "Hard negatives: brute-force scoring (swap in any ANN arm at scale) with the labeled positives excluded by a LEFT ANTI join before the per-query top-k window.",
    "tpch_q10_returned_items": "Q10: lineitem keeps the returnflag filter on its scan, one fact-fact shuffle onto l_orderkey; customer and nation broadcast; top-20 is TakeOrderedAndProject.",
    "pit_training_set_events": "Point-in-time feature assembly: one union + ONE user_id Exchange carries both feature windows (ROWS carry + RANGE count); labels sort first at equal instants, so the leakage rule is in the sort key, not a filter.",
    "data_contract_events": "Data contract: every declared expectation is one slot in a single Aggregate over one scan; the report fans out from the 1-row result via explode — adding the 20th check costs a column, not a scan.",
    "bigram_fluency_docs": "Bigram fluency: native posexplode + one LEAD window builds the bigram stream (no interpreted lambdas); model counts partial-aggregate; scoring is a bigram-key equi-join.",
    "matryoshka_knn_topk": "Staged retrieval: the n-scan coarse pass reads and computes only the 32-dim prefix; full vectors appear exclusively in the |Q|*rerank re-rank join.",
    "tpch_q4_order_priority": "Q4: EXISTS as LEFT SEMI join — lineitem streams through without match materialization; the 1995 date filter is in the orders scan's PushedFilters.",
    "ann_ivf_refined_persisted_topk": "Persisted refined-IVF serving: NO Lloyd machinery in the plan (zero posexplode-mean subtrees) — centroids are a K-row parquet read, candidates a cid equi-join against the cell-clustered assigned table, then the exact re-rank.",
    "pq_persisted_topk": "Persisted PQ serving: codebook + 16-byte codes read from parquet; the only explode is the |Q|-side subspace split building the broadcast distance table; ADC collapses with the exact-decimal SUM; training/encode subtrees absent (paid at build).",
    "semantic_dedup_persisted_docs": "SemDeDup from the stored index: the pair screen is a cid self-equi-join over the PERSISTED cells — the Lloyd chain and the nxK assignment are parquet reads, not subtrees of this plan.",
    "hard_negatives_ann_topk": "Production hard negatives: multiprobe-LSH candidates (planes-as-data broadcast, bucket-key equi-join) -> LEFT ANTI positives -> exact re-rank of survivors only; the brute |Q|xn BroadcastNestedLoopJoin appears nowhere.",
    "line_dedup_docs": "Line dedup: split+posexplode once, line-hash frequency is a partial-aggregated COUNT(DISTINCT doc), flagged lines join back on the 60-bit key, reassembly is one groupBy(doc) ordered collect - counters and equi-joins, never pairs.",
    "quality_score_docs": "Hashed-bigram classifier: ONE posexplode + LEAD window feeds both the filtered training count and the scoring join; the weight relation is bounded at n_buckets rows (feature hashing) and the prior is a 1-row broadcast.",
    "ivfpq_topk": "Composed IVF-PQ: the coarse Lloyd cells prune candidates to nprobe/num_cells of the corpus and ONLY those cells' 16-byte codes meet the broadcast distance table — candidate volume and per-candidate cost multiply down; exact re-rank touches floats last.",
    "ivfpq_persisted_topk": "Persisted IVF-PQ serving: centroids/assigned/codebook/codes all parquet reads (no training subtrees); the cid equi-join selects the probed cells' code rows, ADC collapses with the exact-decimal SUM, floats only in the re-rank.",
    "dsir_resample_docs": "DSIR acceptance sampler: the weights pipeline + ONE scalar w_max row cross-joined back; the keep decision is an integer md5 draw x one IEEE multiply - no RNG, no shuffle beyond the weights' own.",
    "tpch_q7_volume_shipping": "Q7: ONE fact-fact exchange (lineitem x orders); customer, supplier and both nation legs broadcast as pre-joined (key, nation) projections; the date filter is in the lineitem scan's PushedFilters.",
    "tpch_q12_ship_priority": "Q12 (delay buckets): one fact-fact equi-join on the order key, priority split as two SUM(CASE) slots of a single partial-aggregated pass.",
    "tpch_q19_discounted_revenue": "Q19: the disjunctive predicate straddling both sides - part-only arms (brand IN + size bounds) derived below the broadcast join, mixed arms evaluate as the join residual; never a nested loop.",
    "decontaminate_fuzzy_docs": "Fuzzy eval-leak screen: ONE MinHash signature chain over the side-tagged union, band-key equi-join restricted to cross-side pairs, exact-Jaccard verify on the |candidates| rows - never train x train, never all-pairs.",
    "tpch_q13_customer_distribution": "Q13: LEFT OUTER with the non-key filter ON THE JOIN (a WHERE would silently turn it inner and lose the c_count=0 bucket); two chained partial-aggregated groupBys.",
    "tpch_q17_small_quantity_revenue": "Q17: the correlated avg-quantity subquery in decorrelated form - one partial-aggregated per-part mean re-joined on the part key; the brand dimension broadcasts.",
    "tpch_q8_market_share": "Q8: 6-relation star with ONE fact-fact exchange (lineitem x orders); customer-nation-region collapses to a broadcast key set filtered to the region BEFORE joining; both ratio sums ride one aggregation pass.",
    "tpch_q11_important_stock": "Q11: the global-fraction HAVING - the total is a one-row re-aggregation of the per-part frame (never a second fact scan) broadcast back as a scalar threshold.",
    "tpch_q15_top_supplier": "Q15: revenue view + argmax-by-join - the max is a one-row re-aggregation broadcast back as an equality condition (ties all surface, unlike LIMIT 1); exact-decimal revenue makes the equality safe.",
    "tpch_q2_min_cost_supplier": "Q2: the correlated-MIN subquery decorrelated - the per-part min rides ONE WINDOW on the part key over the already-scoped pair frame (not groupBy + join-back); part/supplier/nation/region all broadcast, so the exchanges are the pair groupBy + that window.",
    "tpch_q9_product_type_profit": "Q9: profit star - the part LIKE filter broadcasts and prunes lineitem BEFORE the one fact-fact exchange with orders; supplier-nation is a broadcast projection; profit addends quantized per-row (dsum).",
    "tpch_q20_dominant_supplier": "Q20: two-level aggregate + fraction threshold ending in a semi-join - the per-part total rides ONE WINDOW over the pair frame (not groupBy + join-back); quantity sums stay DECIMAL end-to-end so 2*q > tq is exact; DISTINCT suppliers then broadcast-join the nation-filtered supplier dim.",
    "tpch_q21_waiting_supplier": "Q21: the spec's EXISTS + NOT EXISTS self-join pair collapsed to per-order WINDOW counts over the distinct (order, supplier, late) frame - one fact-fact exchange, one pair groupBy, ONE window exchange replacing both correlated self-joins.",
    "tpch_q22_global_sales_opportunity": "Q22: scalar-subquery threshold (exact-decimal positive-balance mean) broadcast back, ANTI-join against recent orders AFTER the balance filter (only the rich minority shuffles), then the per-nation aggregate.",
    "cluster_balanced_sample_embeddings": "Cluster-balanced diversity sampling: 16-row centroid set broadcasts, nearest-cell assignment windows on the vector id, the per-cell md5-rank cap compiles to WindowGroupLimit - each partition forwards <= cap rows per cell to the final exchange.",
    "group_split_docs": "Group-held-out split: a PURE PROJECTION (md5 of the SOURCE, not the doc id) - zero exchanges, zero broadcasts; every document of a source lands in the same split, the leakage guard a doc-hash split cannot give.",
    "quality_score_persisted_docs": "Train-once classifier serve: the scored frame pays only its own feature explode; the persisted integer-count weight relation (<= n_buckets rows by the hashing trick) broadcasts; NO training subtree (no is_t filter, no weight aggregation) in the plan.",
    "dedup_incremental_docs": "Incremental crawl screen: the increment pays one within-batch partial-agg groupBy + an anti-join against the STORED fingerprint table - the corpus (fingerprinted once at build) is never re-scanned; increment cost is O(increment), not O(corpus).",
    "pipeline_pretraining_manifest": "The full curation line fused into one job: dedup is ONE window exchange (not groupBy + join-back), the quality gate a codegen'd projection with text carried through, the contamination screen an equi-join on broadcast gram hashes whose tiny hit set anti-joins back broadcast, split assignment a pure projection (13 -> 6 exchanges vs the naive join-per-stage composition).",
    "url_normalize_docs": "URL canonicalization: pure string/array projection pipelined into the scan; the ONE exchange is the url_norm spelling-count window - normalization itself is shuffle-free.",
    "domain_cap_sample_docs": "Per-domain cap: two window ranks (url_norm spelling dedup, then the registered-domain cap), both rank filters compile to WindowGroupLimit so each partition forwards <= cap rows per key to its exchange.",
    "pagerank_docs": "Iterative PageRank: the visible plan is a checkpoint read - edges/deg/nodes materialized once and each iteration ran as a constant-size join->decimal-sum->left-join job (the unrolled oracle statement would inline the edge CTEs: 209 exchanges measured; the iterative path replaces that with per-iteration jobs).",
    "bloom_screen_docs": "Bloom pre-screen: the corpus collapses to <= min(m, k*n) position rows (DISTINCT after a k-way unnest) that BROADCAST into the probe join; flags aggregate per doc; the exact-truth audit join reuses the same broadcast shape.",
    "bloom_screen_persisted_docs": "Persisted Bloom serving: the bits relation is a parquet read (no corpus hashing subtree) broadcast into the increment's probe join - the build paid the k*n hashing once.",
    "hll_distinct_users_by_type": "HyperLogLog: the (group, register) MAX(rho) layer partial-aggregates each partition to <= m rows before its exchange; the estimate is a literal-array lookup + one IEEE division - no transcendental, no second scan of user_id.",
    "hll_rollup_weekly": "HLL mergeability: daily (day, register) MAX states re-MAX into weekly registers - user_id is never rescanned above the daily layer; MAX is associative+idempotent so merged == direct (asserted in tests).",
    "sequence_mining_events": "Sequence mining: ONE user-partition window builds all LEAD n-gram columns, then the pattern count partial-aggregates; COUNT(DISTINCT user) expands inside the same aggregation - two logical exchanges plus the distinct expand, never a self-join.",
    "zorder_layout_events": "Z-order audit: the Morton key is per-row integer shift/mod arithmetic in one codegen span; min/max bounds arrive as a 1-row broadcast; the one data shuffle is the block-id aggregation (the SinglePartition exchange below is the final ORDER BY over the <= 2^10 aggregated block rows, not data).",
    "entity_match_customer": "Blocked record linkage: ONE equi-join on the name-suffix blocking key (never all-pairs), levenshtein evaluated per candidate pair as the join residual.",
    "sorted_neighborhood_customer": "Sorted-neighborhood linkage: the per-block sort-and-LEAD window is STAGED once (checkpoint read in this plan) and the neighbor arms union over the staged frame - the one-statement form would recompute the window per arm (3 windows / 9 scans measured).",
    "attribution_revenue_events": "Attribution: the per-conversion window stage is materialized ONCE (checkpoint read in this plan - the one-statement oracle would recompute the timeline window per model arm); both model aggregations are bounded-key exchanges with decimal-exact revenue.",
    "dedup_incremental_fuzzy_docs": "Incremental FUZZY crawl screen: one aggregate signs the increment (MinHash MINs + shingle set, one groupBy exchange; the within-batch self-join's copy below becomes a ReusedExchange at execution); the increment bands, carrying the shingle sets, are BROADCAST into ONE scan of the one-row-per-doc store (sigs), whose band keys are posexploded at scan time - the stored shingle set rides on the joined row, so the exact-Jaccard verify needs no second store scan; no side-tag strings anywhere - the corpus is never re-signed, so increment cost is O(increment + candidates).",
    "brown_trend_events": "Brown smoothing: the plan is the keyed scan shared with EWMA and sequence packing - ONE hash repartition + sortWithinPartitions feeding a single mapInPandas (two chained cython EWM passes inside; no per-key applyInPandas round-trips, no Python row loop).",
    "markov_transitions_events": "Markov transitions: the LEAD window and the (src,dst) count are the two data exchanges; the per-src denominator window runs over the already-grouped matrix rows, never a join-back to the event stream.",
    "triangle_count_docs": "Triangle counting: orientation and wedge closure are plain equi-joins over the checkpointed oriented relation (referenced 3x - inlining would replan the edge construction 9x); NO global ROW_NUMBER window anywhere - rank is tuple-compared on carried (deg,id).",
    "clustering_coeff_docs": "Clustering coefficient: the triangle subtree plus ONE broadcast-sized degree left-join and a single exact-integer division; degree<2 nodes filtered before the join.",
    "kcore_docs": "k-core: the visible plan is the final >= k filter over the LAST peel round's checkpointed induced-degree frame - each round ran as a constant-size semi-join + groupBy job; the convergence probe was a bounded driver COUNT per round.",
    "basket_pairs_lineitem": "Market-basket pairs: the capped items relation is STAGED once (checkpoint read - as one statement Spark re-inlined it per reference: 19 exchanges measured vs this staged plan); the basket-key self-join generates pairs, support/basket-count join back broadcast-sized, lift is one exact-integer IEEE division.",
    "keywords_docs": "Keyword extraction: explode feeds the per-doc tf groupBy (the one wide shuffle); df joins back broadcast-sized and N is a one-row state; the rank window partitions by doc_id - no global window.",
    "cuped_events": "CUPED: one unit-key exchange builds per-user (x,y) with partial agg; global and per-arm moment reductions collapse aggregate STATE rows (the SinglePartition exchanges below carry one-row moments, not data); theta/means are scalar IEEE ops on decimal-cast literals.",
    "quality_auc_docs": "Ranked AUC: rows reduce to per-distinct-score groups BEFORE any ordering; the cumulative count is the two-pass bucketed prefix scan (per-bucket windows + an O(buckets) driver fold) - the global order never touches the row population.",
    "seasonal_anomaly_events": "Seasonal anomaly: the hour-slot stats window and the two MAD medians are the composition's windows - the MAD pair shares ONE user_id exchange; the screen is windows + projections, no joins at all.",
    "distribution_drift_events": "Distribution drift: one scan feeds both windows; the reference envelope joins back broadcast-sized; the (group,bin) count is the one data shuffle and the per-group reduce sums decimal-quantized <=bins-row terms.",
    "streaming_drift_events": "Streaming drift: the stream side carries only the bounded (group,bin) complete-mode count; the reference envelope stream-static joins in; the post-drain combine is the SAME rendered SQL as the batch monitor.",
    "mase_backtest_events": "MASE backtest: the daily-bucket groupBy then ONE series-key exchange - both LAG frames and the per-key MAE reduce share that partitioning; absolute errors stay exact decimal until the two final divisions.",
    "frequency_encode_part": "Frequency encoding: one category-key exchange builds the counts; the collapse mapping and bucket counts join back as BroadcastHashJoins; N is a one-row state cross join.",
    "corr_matrix_events": "Correlation matrix: the staged bucket frame (ExistingRDD scans) self-joins on the day key; pair rows partial-aggregate into the exact-decimal corr sums - C(series,2) x calendar rows, never the event population.",
    "robust_scale_events": "Robust scaling: one group exchange builds the quantile stats relation; it joins back as a BroadcastHashJoin and the scaling itself is a codegen projection.",
    "welch_ab_events": "Welch t-test: one unit-key exchange with partial agg; the arm-moment reduce below is 2-row aggregate STATE; t/df are scalar IEEE ops on decimal casts with IEEE-exact SQRT.",
    "conformal_interval_events": "Conformal interval: the MASE plan's bucket groupBy + one series-key LAG exchange; q-hat is a per-series order statistic over the bounded calibration calendar, joined back broadcast-sized for the coverage audit.",
    "langid_report_docs": "Classification report: the (pred,actual) groupBy is the one data shuffle; class roll-up and per-class sums cross-join two broadcast-sized relations (<=classes^2 matrix rows).",
    "embedding_drift_labels": "Embedding drift: posexplode feeds one partial-aggregated (label,side,dim) shuffle; the side self-join and the final reduce run on the labels x 2 x 64 centroid relation with decimal-quantized term sums.",
    "snapshot_diff_events": "Snapshot diff: one full outer SortMergeJoin on the key (each snapshot shuffles once); the verdict and per-column IS DISTINCT FROM comparisons are a projection; the unchanged filter runs inside the join stage so only change volume survives.",
    "km_survival_events": "Kaplan-Meier: the subject reduce (user groupBy + one event join) feeds a (cohort,duration) aggregate - everything windowed runs on that bounded curve relation, one cohort exchange; the survival fold multiplies the ordered factor prefix left-to-right (identical IEEE sequence to the oracle's list_reduce).",
    "changepoint_locate_events": "Changepoint locator: the daily-bucket groupBy then ONE series-key exchange feeding index/cumsum/total window frames and the argmax rank - linear in buckets; means are one dec->double division each and the gain is ranked AFTER round_double with an earlier-split tiebreak.",
    "token_chisq_docs": "Token-label chi-square: explode feeds the DISTINCT (doc,label,token) collapse (map-side partial), then ONE token-key shuffle; label totals are a one-row state cross join; the chi-square is a fixed double tree over exact BIGINT counts.",
    "readability_docs": "Readability: one explode feeds the (doc, token) partial-aggregated groupBy, then the per-doc reduce - sentence counts ride the grouping keys (no join-back); every ratio is one IEEE division of exact BIGINTs.",
    "theil_sen_trend_events": "Theil-Sen: the daily-bucket frame is STAGED once (ExistingRDD scans below - unstaged, Catalyst re-inlined the bucket groupBy per reference: both pair arms + the residual pass); pairwise slopes via a SELF EQUI-JOIN on the series key; medians are per-key sorted-array middles - quadratic only in the bounded bucket calendar.",
    "calibration_quality_docs": "Calibration bins: scores quantize at the scan, ONE shuffle on the <=10-valued bin key with partial agg; every output double is one dec->double cast + one IEEE division.",
    "brier_quality_docs": "Brier-Murphy: the shared classifier-eval frame is STAGED once (the ExistingRDD scans below - unstaged, Catalyst re-inlined the scoring subtree per CTE reference: 15 exchanges measured); every aggregate below runs on the tiny (score,y) relation and <=bins-row STATE.",
    "target_encode_loo_orders": "LOO target encoding: ONE category-key exchange - both frame sums ride windows over that partitioning (no join-back); the prior is a one-row broadcast state crossed in.",
    "target_encode_kfold_orders": "K-fold target encoding: the cat and (cat,fold) window frames share the SAME category exchange (fold windows are subpartitions); folds are md5-of-id so appends never reshuffle existing rows.",
    "kmv_distinct_orders_by_flag": "KMV distinct: map-side-combining (group,hash) dedup, then the per-group rank window keeps k smallest - everything after the dedup touches <=k rows per group.",
    "vector_screen_embeddings": "Vector ingest screen: only the batch side explodes bucket keys (|batch| computations); stored buckets and vectors arrive as plain parquet scans; candidates via the bkey equi-join - the corpus is never re-signed.",
    "label_propagation_docs": "Label propagation: each round is one constant-size vote statement over checkpointed frames (two label equi-joins + one partial-aggregated vote count); the unrolled form exists only as the DuckDB oracle.",
    "rfm_segments_orders": "RFM segmentation: ONE customer-key exchange builds the staged 3-metric base; each quintile-cut sketch collapses to a one-row broadcast relation (BroadcastNestedLoopJoin); scoring is per-row CASE arithmetic - no NTILE, no global sort.",
    "interval_overlap_events": "Interval-overlap join: both sides explode to covered hour buckets, ONE (user, bucket) equi-join, dedup on identifying columns - match-density-proportional, never per-key rows squared.",
    "epoch_upsample_docs": "Epoch upsampling: VALUES weight relation broadcast; repeat counts are integer arithmetic + one md5 coin; the explode is map-side - zero data shuffles.",
    "nelson_aalen_events": "Nelson-Aalen: the KM plan verbatim - subjects reduce to (cohort, duration) rows before any window; one cohort exchange carries at-risk sums and the ordered hazard prefix fold.",
    "robust_scale_sketch_events": "Robust-scale sketch form: per-group (bin) counters with map-side partial agg - NO collect_list/sort_array anywhere in the plan (the r9 cliff closed); the stats relation joins back broadcast-sized.",
    "kmv_audience_overlap_lineitem": "KMV set ops: the <=2k-row sketch is STAGED once (ExistingRDD scans - unstaged, the distinct-hash groupBy replanned ~5x across _ksk/_ke references: 12 exchanges measured); union/Jaccard/intersection read two k-row states; the exact-audit CTE scans the base once by design.",
    "cdc_merge_events": "CDC MERGE apply: the change batch collapses to latest-op-per-key rows (one small exchange), then ONE full-outer key join folds it into the snapshot - with changes << snapshot AQE broadcasts the collapsed batch; a bucketed snapshot would co-locate to zero Exchange.",
    "heavy_hitter_tokens": "Heavy hitters: the d x W count-min cell table is the only full-stream aggregate (fixed size, partial-agg, broadcast back); occurrences probe map-side, so ONLY candidate-token occurrences reach the token exchange - one-sided error makes the verified output equal the naive GROUP BY/HAVING exactly.",
    "percentile_rank_events": "Per-group CDF transform: PERCENT_RANK and CUME_DIST share ONE window exchange on the group key; both are single IEEE divisions of identical integers - bit-equal cross-engine without rounding.",
    "ann_recall_report": "ANN recall report: the brute-truth and LSH arms compose as CTEs each referenced once; the overlap LEFT JOIN rides (query_id, neighbor_id) on |Q| x k rows; recall@k and MRR are one integer division each (nDCG's log2 ban documented).",
    "funnel_latency_quantiles": "Funnel latency quantiles: the per-user chain frame is STAGED once (the delays union references it twice); delays reduce to per-user integer-us rows and quantiles come from the mergeable (step,bin) histogram sketch - never a per-step sorted delay array.",
    "centroid_classifier_labels": "Nearest-centroid classifier: the trained centroid relation AND the prediction relation are STAGED (ExistingRDD scans - unstaged, Catalyst re-inlined the train scan per norm/dot reference and the eval join + argmax window per confusion-matrix reference: 19 exchanges measured -> 4 staged); eval joins centroids on the dim key, the report runs on the <=labels^2 matrix.",
    "streaming_ewma_events": "Streaming EWMA: per-key state is ONE double (the recurrence's entire memory); each micro-batch seeds the cython ewm kernel with the carried value - seeded continuation is bit-identical to an uninterrupted pass, so the drain equals the batch recursive-CTE oracle in arrival order.",
    "streaming_outer_join": "Stream-stream LEFT OUTER join: watermark-conditioned NULL emission - matched rows emit inner-join style, unmatched left rows emit exactly once when the watermark passes their join window; state is bounded by the watermark horizon.",
    "ann_lsh_appended_topk": "Incremental ANN append: append_lsh_index signs ONLY the increment (bucket assignment is row-local) and appends bkey-clustered parquet; the serve plan is unchanged - the oracle is the INLINE full-corpus LSH, so append == rebuild is driver-proven.",
    "kcore3_docs": "k-core (k=3): iterative peel - each round is a constant-size degree filter + semi-join over checkpointed frames (zero data exchanges in the final plan; rounds are bounded driver scalar probes); k=3 grades non-vacuously at sf0.01 (the 9-core is empty there - kcore_docs stays as the deep-stress form).",
    "streaming_vector_ingest": "Streaming vector ingest screen: each micro-batch signs ONLY its own rows (bucket keys are row-local), probes the persisted bucket store via the bkey equi-join, and appends accepted vectors - per-epoch cost is O(batch), never O(corpus).",
    "image_dhash_neardup_docs": "Image dHash near-dup: decode+hash is mapInPandas (shuffle-free, Arrow-batched); pairing is ONE equi-join on the staged 64-bit hash relation - hash equality is the blocking key, no pairwise Hamming scan exists.",
    "pinball_backtest_events": "Pinball backtest: the staged bucket frame (ExistingRDD) feeds both the calibration sort (one series-key exchange) and the eval arm; the <=series x tau q-hat relation joins back broadcast-sized.",
    "benford_screen_orders": "Benford screen: one (group, digit) partial-agg shuffle (staged - group totals and the 9-digit LEFT JOIN both reference it); the law is a 9-row VALUES literal; the reduce runs on groups x 9 rows.",
    "rolling_skew_events": "Rolling skew/kurt: ONE window exchange carries all four decimal power sums and the count; the central-moment identities are per-row projections layered after - no second shuffle anywhere.",
    "item_similarity_lineitem": "Item-item cosine: the capped items relation and the scored pair relation are both STAGED (basket_pairs convention); pair counts partial-aggregate off the basket-key self-join; top-k per item is a WindowGroupLimit.",
    "holt_winters_events": "Holt-Winters: TWO exchanges total - the (series, day) bucket groupBy, then ONE series-key exchange that the rn window, the collect, and the aggregate() fold all ride; the fold itself is a per-row projection (no further shuffle) and posexplode emits the fitted rows.",
    "bfs_hops_docs": "BFS hops (iterative): final plan is the accumulated union of per-round checkpointed frontiers (ExistingRDDs) - each round paid one frontier-edges equi-join + anti-join, never a re-expansion of the visited region.",
    "ann_ivf_appended_topk": "IVF append: the increment's assignment joins the broadcast centroid table only (row-local); the serve plan is unchanged - the oracle is the INLINE IVF with the SAME train_pred centroid draw, so append == pinned-centroid rebuild is driver-proven.",
    "gini_feature_select_docs": "Gini selection: each reduction step changes key, so the shuffles are the (doc,label,token) DISTINCT collapse, the per-label totals, the (token,label) counts, and the token rollup - all partial-aggregated; label totals and (N,T2) arrive as broadcast/one-row scalar state; top-100 is TakeOrderedAndProject, never a global sort.",
    "lift_gains_quality_docs": "Lift/gains: the per-tile counts frame is STAGED (ExistingRDD) - the totals state and the cumulative window both read it; the NTILE total sort runs on the eval slice only (documented posture).",
    "key_skew_profile_events": "Key-skew profile: two partial-aggregated shuffles (the per-key count, then the <=64-row log2-bucket reduce); the window total is the <=64-row scalar-state SinglePartition stage, not a data shuffle.",
    "prefix_jaccard_join_docs": "Prefix Jaccard join: the distinct (doc,hash) relation is STAGED (ExistingRDD, read 4x); candidates equi-join on the df-rarest prefix shingles; the verify join touches only candidate pairs - the brute all-pairs form lives ONLY in the oracle.",
    "range_partition_plan_events": "Range-partition planner: two column scans + one (bin) micro-shuffle for the sketch; the one-row boundary relation broadcast-cross-joins the assignment scan; the realized-balance reduce is <=n_buckets rows.",
    "time_features_events": "Time features: pure projection - zero exchanges, fused into the scan (pushdown-safe).",
    "winnow_pairs_docs": "Winnowing pair screen: the fingerprint relation is STAGED (ExistingRDD, read by both self-join sides); build = explode + window-min + DISTINCT riding the doc-key exchange; pairing is a fingerprint equi-join bounded by the df cap.",
    "hash_vectorize_docs": "Feature hashing: one token explode + ONE (doc,dim) partial-aggregated shuffle - repeated tokens collapse map-side; all-integer output.",
    "symspell_match_customer": "SymSpell linkage: the deletion-variant relation is STAGED (ExistingRDD, read by both self-join sides); pairing is a variant-key equi-join; levenshtein runs only on distinct candidate pairs.",
    "quantile_drift_events": "Quantile drift: ONE (group, side, bin) partial-aggregated sketch pass; the before/after pivot is a 2-rows-per-group MAX(CASE) - no self-join, no second scan.",
    "burst_detect_events": "Burst detection: one (group, day) partial-agg shuffle + ONE group-key window exchange carrying both trailing frames.",
    "substring_remove_docs": "ExactSubstr excision, r13 rewrite (sf1 fix): tokens and the (did,pos,g) window stream are STAGED checkpoints (tokenize runs ONCE - pushdown re-inlined it 3-4x per row; both stats and probe read the materialized blocks); flagged-gram stats are a HASH aggregation kept to n_occ>=2, AQE broadcast-joins them back - NO corpus-wide sort anywhere; only flagged (did,pos) rows aggregate per doc; reassembly is row-local array arithmetic. 3 hash exchanges, 6.7x at the 10x probe (was 16x).",
    "ngram_jaccard_docs": "Blocked token-Jaccard, r13 re-scope: LOSSLESS prefix-filtered join - the exploded distinct-token relation is STAGED (read 4x); df + per-doc rank pick each doc's rarest tokens per block; candidates equi-join on (block, prefix token) with the integer mutual-size filter; exact verify touches |candidates| rows. Identical output to the all-pairs oracle; 1.8x at the 10x probe (was 55x).",
    "sq8_topk": "SQ8 ANN: per-dim MIN/MAX stats are ONE exploded aggregation collapsing to a single broadcast row; codes/dequantized scoring are per-row array projections; the shortlist window partitions per query; exact re-rank joins |Q|*32 rows.",
    "sq8_persisted_topk": "Persisted SQ8 serving: the stats pass and corpus encode are ABSENT (paid at build); the approximate pass scans the compressed code parquet + one broadcast stats row; exact re-rank reads the stored vectors for |Q|*32 rows only.",
    "containment_join_docs": "Containment join: the distinct (doc,shingle) relation is STAGED (read 5x); only the PROBE side prunes to its rarest prefix shingles (one-sided lemma); candidates equi-join prefix x full postings; verify joins |candidates| rows against the set frame.",
    "tfidf_cosine_pairs_docs": "TF-IDF cosine screen: the (did,term,wt) weight relation is STAGED (ExistingRDD - read 3x: norms + both pair-join sides; unstaged, the explode chain replans per reference); df is a term-key window over the tf frame; the pair join shuffles on the term hash with fan-out bounded by the df cap; dots and norms are decimal-quantized sums.",
    "ts_strength_events": "TS strength: the classical-decomposition plan (one bucket exchange + two windows) + ONE per-series aggregation of decimal-quantized variance terms - nothing else.",
    "attribution_position_events": "U-shaped attribution: ONE user-timeline window yields the running conversion count (= segment id for touches AND conversions); the touch->conversion link is a (user, segment) equi-join; the per-segment rank/size windows ride the same key; one campaign groupBy.",
    "budget_sample_docs": "Budget cut: the two-pass Blelloch scan - per-bucket running-sum windows (no SinglePartition anywhere), an O(num_buckets) driver exclusive-prefix folded back as a literal array lookup, then a filter.",
    "novelty_score_docs": "Novelty scoring: distinct (did,h) explode; first-occurrence MIN partial-aggregates on the shingle hash; the join back rides the same key; per-doc counts + one LEFT JOIN to the base for empty docs.",
    "containment_screen_docs": "Incremental contamination screen: the increment's shingle relation is STAGED (read 3x: sizes, prefix, verify); the benchmark arrives as plain parquet scans (postings + df) - never re-shingled; candidates equi-join probe-prefix x stored postings; verify joins |candidates| grouped pairs.",
    "cluster_best_docs": "Cluster representatives: the iterative min-label component frame joins the broadcast-sized score projection once; the per-cluster argmax is a rank window on the cluster key.",
    "symspell_match_capped_customer": "Capped SymSpell: the dfc window-count filter sits BELOW the pair self-join (pytest-pinned), so every variant bucket is <= cap rows BEFORE pairing; same staged variant relation as the dense stress.",
    "symspell_match_d2_customer": "SymSpell distance-2: the 2-deletion neighborhood explodes O(|name|^2/2) DEDUPLICATED variants per record; the df cap prunes the shared-template buckets (~300 rows at sf0.01) before the equi-join - candidates bounded at cap^2 per key.",
    "holt_winters_mul_events": "Multiplicative HW: same single series-key fold exchange as the additive plan + one for the planted-union day bucketing; the positivity HAVING runs inside the bucket aggregate.",
    "holt_winters_damped_events": "Damped HW: identical plan shape to the undamped flagship - phi enters as a literal inside the fold lambda, zero new operators.",
    "streaming_quantile_drift_events": "Streaming QQ drift: per-micro-batch state is the bounded (group,bin) complete-mode count; the drain combine unions base+current counts into the sketch's staged_counts entry and the batch pivot tail - the stream never carries raw values past the bin projection.",
    "classical_decompose_events": "Classical decomposition: one (k, day) bucket exchange; the centered-MA window and the (k, weekday) seasonal-mean window are window-over-frame - no join-back, no staging (every CTE referenced once).",
    "contrastive_triplets_embeddings": "Contrastive triplets (exact/oracle form): anchor x corpus scored once; side-tagged rank and the positive-leg broadcast are two windows over the same query_id partitioning - no self-join for the positive leg.",
    "contrastive_triplets_ann": "Contrastive triplets (production): the multiprobe-LSH shortlist replaces the anchor x corpus join (bucket equi-joins); the SAME tail text runs over 32 rows per anchor.",
    "audio_energy_docs": "Audio energy: mapInPandas over (id, blob) - Arrow-batched, shuffle-free; int16 PCM unpacked executor-side, stats rows are tiny.",
    "scene_changes_docs": "Scene changes: mapInPandas over (id, blob) - shuffle-free; y4m parsed and luma planes differenced executor-side; one row per frame transition.",
    "spearman_matrix_events": "Spearman matrix: rank + tie-peer count share ONE per-series window exchange (RANGE CURRENT ROW peers); the ranked frame is STAGED (ExistingRDD) for the pair self-join on shared days.",
    "top_paths_events": "Top paths: ONE user-window exchange (rank), per-user reassembly reuses that partitioning, ONE path-count exchange, TakeOrderedAndProject top-k - the full path relation is never globally sorted.",
    "holt_winters_damped_mul_events": "Combined ETS(A,Ad,M): identical plan shape to the mul member - phi and the seasonal interactions are literals inside the fold lambda; the dials compose with zero new operators.",
    "streaming_burst_detect_events": "Streaming burst: per-micro-batch state is the calendar-bounded (group, day) count; the drain runs the batch trailing-window tail over the merged counts via staged_counts - raw events never cross the day projection.",
    "contrastive_triplets_persisted": "Persisted contrastive serving: only the anchor probes hash (query-side Generates); candidates come from the stored bucket parquet scan - the corpus-signing explode of the inline ANN form is absent (pytest-pinned: serve explode count < inline).",
    "scene_changes_strided_docs": "Strided scene detection: mapInPandas, shuffle-free; every 3rd frame decodes and differences against one stride back - O(frames/stride) pixel work per blob.",
    "rolling_p90_events": "Rolling p90: ONE user-key window exchange carries the sorted trailing array; the type-7 interpolation is a scalar projection above it - the rolling_median plan at arbitrary p.",
    "prefix_jaccard_persisted_docs": "Persisted PPJoin serving: the tokenize/df/rank build pipeline is ABSENT (no explode subtree, pytest-pinned); candidates equi-join the h-clustered prefix parquet, verify joins the did-clustered set parquet.",
    "session_paths_events": "Session paths: ONE user-key window exchange serves the gap lag, the running session id, AND the per-session rank ((k,sess) refines k); reassembly rides it; ONE path-count exchange; TakeOrderedAndProject top-k.",
    "streaming_top_paths_events": "Streaming session paths: state = open session_window groups (collect_list of (t,o,item) structs); the drain's batch tail is session_paths_sql's reassembly verbatim - sort/slice/join/count/top-k.",
    "scene_changes_color_docs": "Color scene detection: mapInPandas, shuffle-free; all three Y/U/V planes differenced executor-side; cut gates on the byte-weighted 4:2:0 combined MAD.",
    "audio_energy_channels_docs": "Per-channel audio energy: mapInPandas, shuffle-free; the interleaved int16 stream deinterleaves by reshape column slices; <= channels rows out per blob.",
    "logrank_events": "Log-rank test: the subject reduction is STAGED once (ExistingRDD - unstaged, the grid and at-risk union each replanned the two corpus scans + three aggregations: 16 exchanges measured -> 8); at-risk counts ride the cohort-key RANGE window over removals UNION the pooled-time grid.",
    "croston_events": "Croston: the holt_winters fold plan - one series-key exchange carries the sorted nonzero-bucket collect and the aggregate() struct fold; posexplode emits the rate rows.",
    "mann_kendall_events": "Mann-Kendall: the theil_sen posture INCLUDING its staging - the bucket frame is an ExistingRDD read by both pair arms and the tie groups (unstaged: 12 exchanges -> 6); pair signs via the series-key self equi-join, quadratic only in the bounded calendar.",
    "ams_f2_users_by_type": "AMS F2: the frequency relation is STAGED once (ExistingRDD - the sign-explode estimators and the exact audit both read it; unstaged: 10 exchanges -> 6); the 15x sign explode partial-aggregates to 15 rows per group.",
    "theta_forecast_events": "Theta: the centered bucket frame is STAGED once (ExistingRDD - OLS stats and the fold group both read it, and its own build reads buckets twice; unstaged: 9 exchanges -> 4); broadcast coefficient join-back, one series-key fold exchange.",
    "ks_drift_events": "KS drift: the (group, value) partial-agg collapse runs BEFORE the window; cumulative exact counts + the final MAX share one group-key window exchange; |groups| rows out.",
    "hampel_filter_events": "Hampel: ONE centered-window exchange; the MAD is array expressions over the one collected window (transform/sort/mid), never a second window pass.",
    "pettitt_events": "Pettitt: V_t from rank algebra (no pair join); tie peers via RANGE CURRENT ROW on the SAME value-order exchange (the spearman trick - a (k,y) partition would add one); staged buckets; 2 exchanges total.",
    "phrase_search_docs": "Phrase search: term filter directly above the positional explode; the anchor trick makes it ONE join + one groupBy, never m-1 chained self-joins.",
    "streaming_croston_events": "Streaming Croston: per-key state = (z, p, last-day) after a one-bucket init buffer; drain == batch croston_sql bit-for-bit (the streaming HW continuation proof).",
    "prop_ztest_events": "Proportion z-test: conversion is one MAX(CASE) per unit (one unit-key exchange); the arm reduce is 2-row aggregate STATE; ratios/sqrt are fixed trees over exact BIGINTs.",
    "regression_report_events": "Regression report: the (g, yhat, y) pair relation partial-aggregates on ONE group exchange; every accumulated term decimal-quantizes before its SUM.",
    "season_detect_events": "Season detect: one bucket groupBy + ONE series-key window exchange carries every candidate LAG column; the per-key corr reduce rides the same partitioning; argmax is a scalar projection.",
    "holt_winters_forecast_events": "HW extrapolation: the holt_winters fold plan finishing with the full state struct; the h-row emission is a bounded explode per series - no extra exchange.",
    "hw_forecast_damped_mul_events": "Combined ETS(A,Ad,M) extrapolation: phi and the Sum-phi^i ladder are repr literals riding the h-relation (no in-SQL pow); same fold plan as the additive extrapolation.",
    "phrase_search_persisted_docs": "Persisted phrase serving: the positional-explode subtree is ABSENT (paid at build, pytest-pinned via no-split-in-plan); postings scan carries the term In-filter; anchors groupBy on matching rows only.",
    "phrase_search_appended_docs": "Phrase-index append: only the increment tokenizes (O(increment)); no stats merge exists to get wrong - the postings append IS the maintenance; serve plan unchanged.",
    "html_extract_docs": "HTML extraction: the 6-pass regex strip is ONE staged scan-side projection (localCheckpoint - Catalyst would inline it into both the explode chain and the per-page join); one line-key exchange for the df rule, one key join back, one per-doc reassembly.",
    "html_links_docs": "Outlink extraction: regexp_extract_all + posexplode riding the scan - ZERO exchanges; href/anchor are per-match projections.",
    "html_inlink_counts_docs": "Link-graph in-link counts: the zero-shuffle extraction feeds ONE href groupBy (partial-aggregated map-side); COUNT(DISTINCT doc_id) adds the expand, still one key.",
    "ks_drift_binned_events": "Quantized KS: the (group, bin) relation partial-aggregates map-side to <= groups*bins rows; the ECDF cumulative/max tail rides ONE group-key window exchange - same shared _ks_tail text as the exact form.",
    "hw_two_season_events": "Double-seasonal HW: hourly bucket groupBy, rn window + per-series collapse on the series key, then the two-queue aggregate() fold JVM-side; init scalars (l0, b0, the 24-phase array) are pre-fold COLUMNS computed once.",
    "simhash_neardup_docs": "SimHash Hamming join: the 60-vote signature aggregation is STAGED (one scan, not one per band branch); 4 band slices explode from the staged frame; candidates equi-join on (band_idx, band_val); bit_count(xor) verify on candidates only.",
    "streaming_pettitt_events": "Streaming Pettitt drain: the drained (group, day) DECIMAL sums feed pettitt_sql's staged_bucket entry - the batch rank-algebra windows run over <= |days| rows per series; no value quantization anywhere.",
}

SF_DIR = "/root/testdata/sf0.01"


def _section(spark, name: str) -> list[str]:
    df = REGISTRY[name].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    bcasts = len(re.findall(r"BroadcastExchange", plan))
    single = plan.count("SinglePartition")
    reads = re.findall(r"ReadSchema: [^\n]*", plan)
    return [
        f"## {name}",
        "",
        SHOWCASE[name],
        "",
        f"- shuffle exchanges: {exchanges}; broadcast exchanges: {bcasts}; "
        f"SinglePartition exchanges: {single}",
        *[f"- {r[:150]}" for r in reads],
        "",
        "```",
        *plan.splitlines()[:40],
        "```",
        "",
    ]


def main(names: list[str]) -> None:
    spark = get_spark("gen_explain", shuffle_partitions=8)
    if names:
        with open("EXPLAIN.md") as f:
            text = f.read()
        for name in names:
            start = text.index(f"\n## {name}\n") + 1
            end = text.find("\n## ", start)
            end = len(text) if end < 0 else end + 1
            text = text[:start] + "\n".join(_section(spark, name)) + "\n" + text[end:]
        with open("EXPLAIN.md", "w") as f:
            f.write(text)
        print(f"rewrote {len(names)} section(s) of EXPLAIN.md")
        return
    out = [
        "# EXPLAIN — physical plans of representative queries",
        "",
        "Auto-generated by `tools/gen_explain.py` (sf0.01, AQE on). Evidence for the",
        "scale-design claims in README/SURVEY §2.5: shuffle counts, broadcast choices,",
        "scan pruning.",
        "",
        "Reading the SinglePartition counts: a SinglePartition exchange that collapses",
        "an already-partial-aggregated frame to ONE scalar/bounds row (corpus stats,",
        "global min/max, a final global SUM) is the correct tree-aggregate final stage,",
        "not a scale hazard — the rows crossing it number O(partitions). No plan routes",
        "DATA through a SinglePartition exchange.",
        "",
    ]
    for name in SHOWCASE:
        out += _section(spark, name)
    with open("EXPLAIN.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote EXPLAIN.md")


if __name__ == "__main__":
    main(sys.argv[1:])
