"""Regenerate PLANS.md: .explain("formatted") dumps + commentary for the
headline operators. Usage: python scripts/gen_plans.py"""

from __future__ import annotations

import io
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from parkour_spark.queries import QUERIES  # noqa: E402
from parkour_spark.session import build_session  # noqa: E402

SF = "/root/testdata/sf0.001"

COMMENTARY = {
    "q1_pricing_summary": "One shuffle. Partial HashAggregate before the exchange (the reference's combiner, automatic); scan reads 6 of 16 lineitem columns with the shipdate filter pushed to parquet.",
    "region_customer_counts": "Three-table star join: both dimension joins are BroadcastHashJoin — no fact-table shuffle until the final aggregate.",
    "asof_purchase_view": "Union-sort as-of join: exactly one Exchange (hash by user_id), one in-partition sort, a window carrying the last view forward. No join operator, no pandas.",
    "range_join_quantity_bands": "Bucketized interval join: the interval side explodes to buckets and broadcasts; the residual range predicate filters after an equi-join — never BroadcastNestedLoop over lineitem.",
    "dedup_minhash_lsh": "Signature computation rides the scan (projections only); the single wide Exchange is the band-bucket groupBy; verification joins only candidate docs.",
    "knn_cosine": "Query set broadcasts; corpus scans once. The only Exchange is the per-query ranking window, keyed by query_id.",
    "ivf_topk_cosine": "Centroid assignment rides the scan as one MapInPandas BLAS matmul per Arrow batch (similarity.ivf_assign_arrow); probes broadcast into an equi-join on cell — only probed-cell rows are scored. Vector norms are computed once per row, never per pair.",
    "salted_join_agg": "Skew-aware: a sampled key-frequency pre-pass (key columns projected before Sample, so the probe scan is single-column) detects hot keys; with none — the common case — the executed plan IS the plain join, no salt column, no replication. Forced-hot plans split hot/cold with the hot branch keyed on (l_orderkey, salt).",
    "matrixify": "Partial aggregation on integer keys precedes the broadcast name joins — the fact table never flows through a join; the two dimension zip_with_index builds (range sort + per-partition counts) run as overlapping jobs.",
    "embedding_neardup_blocked": "Hyperplane-LSH band buckets generate candidates through a single groupBy(band_key) shuffle and in-bucket pair explode — an equi-join plan end to end; exact cosine re-checks candidates only. No BroadcastNestedLoopJoin anywhere. r4: banding is DERIVED from corpus count (bands_for_corpus — band bits ~ log2(n) hold random-bucket occupancy constant, bands restore the recall target) and signatures are one numpy matmul per Arrow batch; the fixed 64x4 banding this replaces made 98% of random pairs candidates at 20k rows (87s -> 12.6s at the sf1 soak).",
    "corpus_prep": "Four pipeline stages fused into one plan: quality + language + fingerprint are one scan-side projection (ReadSchema is just doc_id,text), the filter precedes the only aggregation (min doc_id per fingerprint), survivors re-attach by broadcast semi-join.",
    "ivf_kmeans_topk": "End-to-end learned-quantizer ANN: the k-means job runs once (cached coarse quantizer), then the SAME IVF plan as ivf_topk_cosine — Arrow-batched assignment scan, broadcast probe equi-join on cell, rounded-cosine ranking window keyed by query_id.",
    "tfidf_top_terms": "SINGLE corpus pass: document frequency is a count window over the tf aggregate itself (one row per doc,term ⇒ window count IS df), n_docs rides in as a broadcast 1-row aggregate — no second tokenize, no driver count() action.",
    "pmi_collocations": "SINGLE corpus pass: unigram markers and bigram structs ride one explode into one groupBy; the persisted vocabulary-sized count table then yields unigram counts, bigram counts, and both totals without re-reading the corpus.",
    "dedup_ngram_jaccard_capped": "The shingle inverted index reused as a bucket table: one groupBy(shingle) shuffle collects buckets, the df cap drops oversize buckets, pairs explode in-bucket (never a self-join), exact verify touches candidate docs only. Every explode of a computed array goes through explode_fast — plain explode's inferred size()>0 filter re-evaluates the tokenize per shingle (measured 20x). r12: the verify score is a CASE-WHEN-guarded exact Jaccard — an O(1) size-ratio prune fires before the array_intersect, and |A∪B| is |A|+|B|−|A∩B| arithmetic (no array_union hash build; was ~60 task-CPU-s per run).",
    "repetition_profile": "Zero shuffle, zero explode: distinct-token ratio, longest run, and top-bigram share are Column folds over one staged token array; the bigram mode is the longest run in the SORTED bigram array.",
    "line_dedup_boiler": "Two shuffles total: groupBy(line).min(struct) resolves first occurrence with map-side partial aggregation (a boilerplate line in half the corpus ships one candidate per partition, never a hot window key), then one per-doc regroup rebuilds documents.",
    "decontaminate_ngram_overlap": "Eval n-grams distinct + broadcast; corpus 4-grams explode scan-side from a STAGED token array into the broadcast join — the only corpus shuffle is the per-doc hit count.",
    "semantic_dedup_kmeans": "SemDeDup: centroids ride the plan into an Arrow-matmul assignment scan (no shuffle); in-cluster candidates come from the single-shuffle bucket-pair shape with the cluster id as band key; exact cosine re-checks candidates only. k scales with corpus size to hold cluster pair work constant (soaked at k=n/250).",
    "pq_adc_topk": "PQ-ADC serving plan (training runs as separate cached jobs): one MapInPandas scan encodes and scores every corpus row against the per-query lookup tables built in the closure — the corpus never shuffles; the only Exchange is the per-query top-k ranking window over (query, candidate, score) tuples.",
    "hll_distinct_orders": "HLL registers: the md5 string arithmetic (bucket + leading-zero rho) is a pure scan-side projection; max(rho) rides partial aggregation, so the single wide Exchange moves at most m=256 cells per task — COUNT(DISTINCT) at a fixed shuffle size.",
    "incremental_hourly_rollup": "Two state sketches (history, batch) each partial-agg before their exchange; the merge is a union + re-reduce over STATE ROWS only. In production the history state is a persisted table and only the batch side executes — the plan shows why the merge cost is O(state), not O(corpus).",
    "triangle_counts_dedup_graph": "Degree-ordered orientation bounds wedge fan-out by ~sqrt(2m); the oriented edge list is cached (it feeds both wedge sides and the closing semi-join — without the cache the MinHash pair derivation upstream executes three times, measured 1.5x). Wedges close via LeftSemi on the (b,c) edge set.",
    "key_skew_profile": "One partial-agg'd count shuffle over the key; totals are a 1-row broadcast over the key-sized count table; top-n runs as TakeOrderedAndProject. The ratios are exact integer division (div), never float.",
    "substring_dedup_spans": "Suffix-array-free exact-substring detection: positioned winnowing fingerprints compute on the scan — k-gram md5 hashing and the window-min selection run as ONE vectorized mapInArrow pass over the normalized text (winnow_text_arrow; the HOF expression form re-sliced each window 3x and re-scanned it for the min twice — ~22 task-CPU-s); ONE groupBy(fp) shuffle builds df-capped occurrence buckets; in-bucket triangular pairs explode via explode_fast; run segmentation is a lag+sum window partitioned by (id_a, id_b, delta). No global sort, no cartesian, fan-out bounded by the df cap.",
    "substring_spans_delta": "Ingest shape: the corpus side's positioned-fingerprint index builds with ONE groupBy(fp) (persisted in production); the batch probes it by equi-join on fp — no corpus self-pairs, fan-out bounded by the df cap; the same single-sort window segments runs per (id_new, id_old, delta).",
    "substring_dedup_clean": "Apply half: span intervals merge per doc via the gaps-and-islands window (one shuffle on the flagged-doc id), the cut is a pure Column fold over the merged interval array, and cleaned fingerprints join back to the corpus on the doc id. Only flagged docs carry interval state; unflagged docs stream through the left join untouched.",
    "q8_market_share": "TPC-H Q8 adapted: the selective p_type filter prunes the part build side BEFORE it broadcasts into the lineitem scan; customer/supplier nation decodes and the region gate are broadcast joins; the one wide exchange is orders-lineitem (AQE broadcasts it at small sf). Market share divides two exact integer-cent sums - deterministic at any parallelism.",
    "fuzzy_join_part_names": "Blocked fuzzy join: each side explodes its 2 smallest trigram hashes as block keys (scan-side HOFs), candidates come from the equi-join on block (never a nested loop), the block-occupancy window caps boilerplate grams, and the exact levenshtein filter (JVM codegen) runs only inside blocks.",
    "weighted_sample_by_source": "A-ES weighted sampling: priorities are a pure scan-side projection (md5-hash dyadic u, ln(u)/w); the ONLY exchange is the per-source ranking window; no RNG state, so the plan is replayable on any partition layout.",
    "dsir_importance_weights": "DSIR: token bucket occurrences explode scan-side; the 4096-row smoothed log-ratio table builds from two bounded aggregates and BROADCASTS into the scoring join; the raw corpus shuffles exactly once - the per-doc integer micro-nat sum.",
    "last_touch_attribution": "Attribution: the event scan collapses to 3 event types scan-side; ONE user-keyed window (running last_value IGNORE NULLS over (ts, event_id)) carries the last touch to each conversion - no self-join, no per-conversion probe.",
    "hard_negative_mining": "Hard-negative mining: the query set (with labels + gold ids) BROADCASTS into one corpus scan; the exclusion predicate (label mismatch, not-the-positive) filters before scoring, norms are hoisted to one fold per row, and the only Exchange is the per-query ranking window - (query, candidate, score) tuples, never the corpus.",
    "per_source_quota": "Domain cap: ONE hash Exchange on source, and Catalyst inserts a map-side WindowGroupLimit BEFORE it - each task pre-prunes to the top N per key, so the shuffle itself carries at most N x keys x partitions rows (the partial-agg analog for window ranks); the post-shuffle window + rank<=N filter finishes the job.",
    "mg_heavy_tokens": "Misra-Gries heavy hitters: tokens explode scan-side into per-partition Arrow MG folds (<=k+1 rows out per partition); the driver-merged candidate set returns as an array-literal filter, so the only full-width Exchange aggregates candidate rows only - the token dictionary itself never shuffles.",
    "linreg_moments_docstats": "Least-squares moments: token counts and char lengths are scan-side projections; all d(d+1)/2+d moment cells ride ONE partial aggregate to a single-row Exchange, then explode to long form - the normal-equation statistics at the cost of one scan.",
    "training_shards_manifest": "Shard manifest: shard id, token count, and the 60-bit doc hash are one scan-side projection; the XOR/count/sum manifest aggregates with map-side partials, so the Exchange carries n_shards x partitions cells.",
    "label_centroid_sums": "Class centroids: posexplode runs in the scan projection; the (label, pos) aggregate partial-aggs each partition to labels x dims cells before its single Exchange - integer micro-unit sums keep the merge associative and exact.",
    "ivf_probe_persisted_topk": "Probe-only IVF over the PERSISTED partitioned index: the scan line shows PartitionFilters on cell (the probed-cell set applied statically - only those directories open); the probe side broadcasts, and the only Exchange is the per-query ranking window. Build cost is paid once per corpus version, not per query batch.",
    "pq_probe_persisted": "ADC serving from the PERSISTED PQ index (r10): the scan reads ONLY (vec_id, codes) - m longs per row, the vector column never appears in any scan - scoring is a NumPy gather per Arrow batch against lookup tables built once in the closure, and the plan contains NO join of any kind; the only hash Exchange is the per-query rank window. This is the ~m-bytes-per-vector read pattern that makes a compressed 100 TB corpus servable.",
    "ivf_probe_after_compact": "IVF probe on a COMPACTED root (r10): compaction folded the per-append file sets back into one file set per cell partition, and the plan is bit-identical in shape to the fresh-build probe - PartitionFilters on cell still prune statically, the probe side still broadcasts, the only Exchange is the ranking window. The compaction claim (layout restored, zero row changes) is visible right here.",
    "minhash_probe_persisted": "Probe-only MinHash against the PERSISTED band index: the batch's band keys BROADCAST into the inverted-band scan, the (pair, batch-signature) candidate set broadcasts into the sigs scan - both index joins are BroadcastHashJoin, and the only shuffle is the batch-sized candidate distinct. Verification is the signature-agreement fold over stored longs; the corpus text appears NOWHERE in this plan (read once, at build).",
    "class_top_terms_source": "c-TF-IDF: one tokenize+explode feeds ONE (class, term) aggregate, which is CACHED - the broadcast 1-row A aggregate and the scoring pass both read InMemoryTableScan, never a second corpus scan; f(t) is a term-keyed window over that same table; the per-class top-k window prunes map-side (WindowGroupLimit).",
    "quality_auc_langid": "Rank-sum AUC: quality basis points + the label are one scan-side projection; ONE shuffle reduces the corpus to per-distinct-score cells (<=10^4 rows at any corpus size since the score is an integer), and the ordered window runs over that bounded table only - the plan contains no global row sort.",
    "quality_calibration_bins": "Calibration bins: bin id and micro-unit score are scan-side projections; the only Exchange is the 10-row bin aggregate with map-side partials; all means derive from exact integer sums after the shuffle.",
    "langid_kappa_agreement": "Cohen's kappa: the confusion matrix is FOUR conditional sums in one partial aggregate - a single scan collapsing to one row before the 1-row Exchange; po/pe/kappa are scalar arithmetic on that row.",
    "hll_overlap_orderkeys": "HLL set algebra: each side's registers are a scan-side md5 projection + a partial-agg'd max into m=256 cells; union is an element-wise greatest join of two 256-row frames; the three estimates and the inclusion-exclusion subtraction are 1-row arithmetic. No distinct-join on keys anywhere in the plan.",
    "ks_price_urgent_vs_rest": "Two-sample KS: each side partial-aggs to distinct-value counts (one Exchange per side); the full-outer merge and the cumulative/supremum windows run over the merged DISTINCT-VALUE table only - the plan never globally sorts rows, and the supremum numerator is integer arithmetic.",
    "bootstrap_ci_order_price": "Poisson bootstrap: the b-replicate explode, weight hash, and inverse-CDF ladder are ALL scan-side projections; the only corpus-width Exchange is the b-cell partial aggregate (replicate sums), and the CI rank window runs over b=50 rows. Error bars at the cost of one scan.",
    "dedup_prefix_filter": "EXACT prefix-filter similarity join: one df aggregate orders the token universe rarest-first, a per-doc rank window keeps the n - ceil(t*n) + 1 prefix, and candidates come from the SAME single-shuffle bucket-pair shape as the LSH path — uncapped, because the prefix lemma guarantees completeness. The quadratic in-bucket term concentrates on each doc's rarest shingles by construction.",
    "gopher_quality_flags": "The Gopher rule set: every rule (word band, mean-length band, symbol ratio, alpha fraction, line fractions, stop set) is a scaled-integer Column comparison in ONE scan-side projection — the plan has zero Exchange and zero Generate; throughput is parquet-scan-bound.",
    "robust_outlier_profile": "MAD outliers: rows partial-agg to per-group distinct-value cells (one Exchange bounded by the cents domain); both median passes and the deviation re-bucket window/shuffle over CELLS only, and every join is group-keyed. No float anywhere — medians are rank picks, the outlier test is integer.",
    "dedup_keep_best": "Keep-best survivors: the MinHash chain and CC rounds are unchanged; the policy adds one component-keyed row_number window over the component table joined to scan-side quality basis points — no extra corpus scan, no new corpus-width shuffle.",
    "corpus_shuffle_order": "Deterministic shuffle order: md5 key is a scan-side projection; the global rank is the two-phase matrixify pattern — one range-partition sort Exchange, per-partition counts (tiny job), offset add as a literal map. Never a single-partition window over the corpus.",
    "token_budget_sample": "Token-budget prefix sampling: token counts fold scan-side; the single Exchange is the group-keyed window sort (sources are few and fat — skew lives inside a group's range-partitioned sort, not across keys); the budget cut is a post-window filter.",
    "quality_avg_precision": "Average precision: scan-side score/label projection, then ONE global sort window — intentionally: AP is an evaluation-slice statistic (eval sets are small by construction); corpus-scale ranking quality is the rank-sum AUC's cell-based plan.",
    "mutual_knn_components": "Mutual-kNN clusters: the exact top-k stage broadcasts the query set over one corpus scan (eval-scale baseline; the IVF probe substitutes at corpus scale); the mutual check and CC rounds join top-k-OUTPUT-sized tables only.",
    "token_entropy_profile": "Token entropy: the per-token counts are run lengths in the SORTED token array, so the whole statistic is one scan-side Column fold — no Exchange, no Generate anywhere in the plan; per-term integer micro-nat rounding keeps the sum order-independent.",
    "event_rate_spikes": "Rate-spike monitor: the hourly tumbling count is one partial-agg shuffle; everything downstream (both median passes, the deviation re-bucket, the outlier sum) shuffles/windows over the HOURLY-COUNT cell table — hours x types, not events.",
    "nb_lang_scores": "Naive Bayes train+score in one plan: the model subtree collapses to labels x 256 rows before BOTH broadcast joins (the grid generates scan-side from the per-label totals); the corpus explode partial-aggs to per-doc bucket counts before touching the model; the only corpus-keyed Exchanges are the two partial aggs and the doc-keyed argmax window. The vocabulary never drives a shuffle.",
    "per_source_top_percent": "Adaptive top-p% filter: ONE Exchange — rank and group count share the source partitioning (plan-asserted single Exchange in tests); the rational-threshold filter is integer arithmetic after the window, so everything past ceil(p*n) dies in the window stage.",
    "source_overlap_matrix": "Contamination matrix: the token array is STAGED in its own projection (inlined inside shingles_of's lambdas it re-evaluates per shingle — fixing exactly that cut this entry 48.6s -> 2.8s at the sf1 soak), text collapses scan-side to DISTINCT (source, gram32), then ONE more gram-keyed aggregate collects each gram's source set and the pairs explode scan-side from that <=groups-element array — two gram-family exchanges total, no self-join; the size filter is the df-cap analog bounding per-gram fanout at cap^2.",
    "time_weighted_value_user": "Time-weighted average: epoch micros and centi-unit values are scan-side projections; ONE user-keyed Exchange serves both the lead window and the final aggregate (plan-asserted); nothing downstream exceeds the user dimension.",
    "rrf_hybrid_retrieval": "Hybrid retrieval fusion: the BM25 branch filters to query-term postings scan-side (only query-term rows shuffle); the dense branch broadcasts the 1-row query vector over one corpus scan; the union/aggregate/rank after the retrievers runs over Sigma-k rows — fusion itself is corpus-size-independent.",
    "embedding_label_outliers": "Embedding outliers: one posexplode partial-agg produces labels x dims centroid cells which BROADCAST back into the per-vector distance aggregate; the MAD stage windows over quantized distance CELLS only. The corpus explodes once and shuffles only as (label, vec) partials.",
    "interleaved_training_order": "Round-robin epoch order: ONE source-keyed window (in-group position); the groups table and its count are a tiny aggregate that BROADCASTS into the arithmetic key — no global sort, no single-partition window anywhere in the plan.",
    "dedup_impact_by_source": "Dedup audit rollup: the MinHash+CC chain is unchanged; impact adds a component-keyed size aggregate and one broadcast-joined per-source rollup — no corpus re-scan beyond the scan-side source/n_chars projection.",
    "fd_violation_report": "Approximate-FD triage: rows partial-agg to distinct (lhs, rhs) cells in ONE shuffle; the majority pick and the per-lhs total share a single cell-table window Exchange.",
    "benford_price_profile": "Benford screen: the leading digit is a scan-side integer-string projection; one 9-cell partial aggregate, expected counts as arithmetic on the result. Scan-bound by construction.",
    "token_budget_waterfill": "Water-filling: one corpus partial-agg scan produces the groups table; every window/aggregate after it is groups-sized (the ordered window runs over sources, never rows).",
    "copurchase_part_pairs": "Market-basket mining: one order-keyed collect_set aggregate; pairs explode SCAN-SIDE from each basket's sorted distinct-item array (no self-join anywhere in the plan — test-asserted); the pair partial-agg is the only other Exchange.",
    "cusum_event_drift": "CUSUM drift: the sequential recurrence is closed-form (prefix sum minus clamped running min) — two windows sharing one per-type ordering over HOURLY cells; the reference level and threshold ride the same MAD cell machinery as event_rate_spikes. Events shuffle once, into the hourly count.",
    "linear_attribution_credits": "Linear attribution: type filters push to the scan on BOTH sides, so the user-keyed join moves only the attribution slice; the per-conversion count windows over the PAIR table (bounded by per-user lookback activity); the final aggregate is touch-type-sized.",
    "pit_enriched_purchases": "PIT enrichment: the SCD2 build is one lead window on the signup slice; the temporal join is a business-key equi-join (fanout = per-key version count) with the [from, to) predicate filtering inside the join — no BroadcastNestedLoop, no as-of carry across gaps.",
    "embedding_covariance_cells": "PCA moment cells: one scan; each Arrow batch folds to a d×d NumPy int64 matmul inside mapInPandas, so the only Exchange is the O(d²)-cell groupBy — rows never shuffle, and the shuffle size is independent of corpus size.",
    "winsorized_price_stats": "Winsorization (r7 rewrite): the bounds reduce the corpus to DISTINCT-VALUE cells in one partial-agg Exchange; the cumulative window runs over the cell table (domain-bounded), never rows — no row_number anywhere in the plan. The clamp is a broadcast 1-row crossJoin on the scan.",
    "vocab_head_coverage": "Zipf head (r7 rewrite): the vocabulary aggregate feeds TakeOrderedAndProject (per-partition top-n heaps) — the rank/cumsum window sees only the top_n survivors, never the full vocabulary.",
    "clustering_coefficient_dedup": "Local clustering coefficient: the canonical edge table persists once and feeds both the degree aggregate and the oriented wedge join; everything after the edge derivation is node-sized; the lcc ratio is scan-side integer div.",
    "quality_percentile_docs": "Percentile normalization: distinct-score cells + cumulative cell window + BROADCAST join back onto the scan — no global row sort, no row_number (test-asserted).",
    "psi_price_drift": "PSI drift: two histogram-shaped partial-agg scans reduce both slices to ≤20 cells; the spine join, smoothing, and term sum all run on the cell table. No row moves for the comparison.",
    "multimodal_dhash_neardup": "Banded Hamming near-dup: band keys explode scan-side from the hash longs (4 rows per image), ONE bucket groupBy with in-bucket pair explosion and the occupancy cap — no join operator anywhere (test-asserted); the verify is scan-side bit_count(xor). Blobs never enter the plan at all — only 64-bit hashes.",
    "join_size_preflight_orders": "Join pre-flight: two partial-agg scans to key-count tables, a key-keyed join of COUNTS (never rows), and 1-row aggregates — the whole plan is key-sized, which is the point.",
    "kappa_lang_annotators": "Cohen's kappa: ONE partial-agg shuffle to the (a, b) contingency cells; margins and the chance-product sum are broadcast aggregates over the CELL table (null-safe joins), and the kappa division is a 1-row projection.",
    "ece_purchase_value": "ECE: scan with score/label projected, one partial-agg shuffle to <= bins cells (bin key scan-side), then a 1-row aggregate over the cells. Rides the existing calibration_bins.",
    "ess_event_value_by_type": "Kish ESS: scan (IsNotNull pushed) -> partial HashAggregate of the three integer moments -> ONE exchange -> per-group 1-row arithmetic. The canonical single-shuffle moments shape.",
    "zipf_slope_docs": "Zipf fit: tokenize-explode scan -> vocabulary partial agg -> TakeOrdered(100) head (per-partition heaps, no full sort) -> rank window + five-moment aggregate on 100 rows -> closed-form solve in a 1-row projection.",
    "multimodal_dhash_dedup_decode": "Dedup-first decode: md5 fingerprints ride the blob scan; dropDuplicates(fp) partial-aggs map-side so the shuffle carries per-partition-distinct blobs; the Python dHash decode sees only the distinct set; fan-out back is two KEY-sized joins (fp strings + hashes, no payload bytes). r12: the distinct-representative set is persisted+materialized — its two consumers (decode + fan-back join) each re-ran the full blob scan (3-4 source passes where 2 are inherent; 1.8s -> 1.1s).",
    "sql_grouping_sets": "Identical-ANSI GROUPING SETS through Dataset.view: Catalyst plans the three grains as one Expand + single aggregate exchange — multi-grain rollup in one shuffle, same text DuckDB runs.",
    "sql_running_total": "Identical-ANSI window frame through register_views: partitioned by user_id (hash exchange + in-partition sort), cumulative frame runs per partition — no global window, no extra shuffle.",
    "sql_star_join": "Identical-ANSI star join: the orders fact streams through three BroadcastHashJoins (customer, nation, region all under the broadcast threshold) — zero fact-side shuffle before the (region, nation) partial aggregate; SortMergeJoin absent, plan-asserted.",
    "sql_exists_semi": "Correlated EXISTS decorrelated by RewritePredicateSubquery into a LEFT SEMI BroadcastHashJoin — the user's declarative subquery compiles to the same plan as the fluent semi-join operator; the priority filter is pushed into the orders scan.",
    "k_anonymity_docs": "Two partial-agg shuffles, both CLASS-domain-sized: rows collapse to (quasi, sensitive) cells scan-side, cells to classes, and the report is a 1-row aggregate over the class table — output size is independent of corpus size by construction.",
    "fs_linkage_customers": "Fellegi-Sunter over blocked candidates: both sides project to (id, block, fields) scan-side, the hot-block cap filters the block spine before the equi-join, and the integer micro-nat score is a pure Column fold over the candidate table — zero shuffles after the join.",
    "ivf_recall_at_k": "Both retrieval arms share the corpus scan shape (broadcast queries, per-query ranking window); the recall join is top-k-output-sized (50 rows vs 50 rows), so the evaluation costs two corpus scans and nothing more.",
    "multimodal_jpeg_dedup_agree": "The economics identity plan: one blob scan feeds BOTH arms (persisted), the per-row arm decodes inside mapInPandas, the dedup-first arm dedups fingerprints with a map-side partial agg BEFORE its decode — the join back is md5-key-sized, blobs never shuffle.",
    "substring_probe_after_delete": "Probe-only plan against the persisted lists/ artifact: the batch fingerprint scan equi-joins the committed df-capped lists, span segmentation is one (id_new, id_old, delta)-keyed window — the corpus occ/ table is not in the plan at all (deletes already folded in at publish time).",
    "text_probe_conjunctive_capped": "require_all + max_df on the persisted probe: same pruned postings scan; the capped-term count rides as a broadcast 1-row aggregate (no driver-side count), the conjunction is a post-aggregation filter — options add zero extra scans.",
    "substring_probe_delete_readrepair": "The tombstone read-repair probe (r11): the usual lists/ equi-join plan plus ONE broadcast anti-join of the pending ledger ids applied post-explode — delete cost moved to O(|B|), probe cost unchanged in shape.",
    "text_probe_multi_batch": "The batched probe (r11): ONE tbucket-pruned postings scan covers the union of all queries' terms; per-term df via window, each query selects its rows through a BROADCAST (query_id, term) map, one query-partitioned rank window — a whole query batch for one scan's worth of plan.",
}

# Plans that aren't a registered query's OUTPUT but ARE the evidence a
# verdict asked for — built by a dedicated hook and explained the same
# way (r11: the in-plan training-statistics fold, r10 verdict #1).
SPECIALS = {
    "pq_train_stats_fold": (
        "ONE Lloyd's iteration of PQ training, uncollected: the"
        " mapInPandas partials feed a HashAggregate (per-element sums,"
        " whole-stage codegen) whose output is exactly m×ksub rows —"
        " the training loop's only driver traffic; the old collect() of"
        " raw partials was partition-count-sized. kmeans_fit shares the"
        " same fold shape.",
        lambda spark: __import__(
            "parkour_spark.operators.pq", fromlist=["pq_train_stats_plan"]
        ).pq_train_stats_plan(
            __import__(
                "parkour_spark.dataset", fromlist=["load_table"]
            ).load_table(spark, SF, "embeddings")
        ),
    ),
}

HEADER = """# PLANS — physical-plan evidence for the headline operators

Generated from `.explain("formatted")` at sf0.001 (plan shapes are
scale-invariant; AQE may further coalesce at runtime). Regenerate with
`python scripts/gen_plans.py`. The same properties are asserted
mechanically in `tests/test_plans.py` and `tests/test_bucketed.py`.

"""


def main() -> None:
    spark = build_session()
    out = io.StringIO()
    out.write(HEADER)
    sections = [
        (name, note, lambda s, n=name: QUERIES[n](s, SF))
        for name, note in COMMENTARY.items()
    ] + [(name, note, fn) for name, (note, fn) in SPECIALS.items()]
    for name, note, build in sections:
        df = build(spark)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        tree = plan.split("\n\n")[0]
        # Cap pathological dumps: cached/multi-referenced subtrees print
        # once per reference (triangle counting repeats the whole MinHash
        # pipeline x3), which is noise — the evidence is the top of the
        # tree plus the scan details.
        if len(tree) > 6000:
            tree = tree[:6000] + "\n... (tree truncated; full plan via .explain)"
        scans = "\n".join(
            line.strip()
            for line in plan.splitlines()
            if re.search(r"PushedFilters|PartitionFilters|ReadSchema|Location", line)
        )
        out.write(f"## {name}\n\n{note}\n\n```\n{tree}\n")
        if scans:
            out.write(f"--- scan details ---\n{scans[:1500]}\n")
        out.write("```\n\n")
    (ROOT / "PLANS.md").write_text(out.getvalue())
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
