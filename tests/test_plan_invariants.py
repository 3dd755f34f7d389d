"""Plan-shape regression gate over the whole catalog (plan-time only).

The scale posture lives in the physical plan: a query can stay
hash-correct while silently regressing to a cartesian product, an
un-broadcast dimension join, or an inferred-constraint pushdown that
serializes an expensive expression into the scan stage (round-4's
n-gram-Jaccard regression: Catalyst inferred
``isnotnull(size(shingles(...)))`` from an inner join and dragged the
whole interpreted shingle pipeline beneath the repartition). These
checks run on ``optimizedPlan``/``executedPlan`` strings without
executing anything, so the gate is cheap enough for every run.
"""

from __future__ import annotations

import pytest

from shippai_knowledge_etl_spark.catalog import load_catalog

# Expression heads that are expensive per row; an inferred isnotnull
# over any of them means Catalyst is re-evaluating a heavy expression
# just to prove non-nullness (see module docstring).
_HEAVY_HEADS = (
    "isnotnull(size(",
    "isnotnull(filter(",
    "isnotnull(transform(",
    "isnotnull(aggregate(",
    "isnotnull(arrays_zip(",
    "isnotnull(array_distinct(",
)

# The one allowed occurrence: diagram_separator_lines' semantic
# ``line_type IS NOT NULL`` filter (mirrored in its oracle) is a user
# predicate over a derived column, not an inferred constraint.
_ALLOWED_HEAVY_NULLCHECK = {"diagram_separator_lines"}


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    # Plan compilation is driver-side, single-threaded JVM work (~0.7 s
    # per query × 382 queries ≈ 270 s measured round 13); Catalyst
    # analysis is thread-safe and py4j gives each Python thread its own
    # gateway connection, so compile the catalog's plans concurrently.
    from concurrent.futures import ThreadPoolExecutor

    def _one(item):
        name, spec = item
        qe = spec.fn(spark, sf_dir)._jdf.queryExecution()
        return name, (qe.optimizedPlan().toString(), qe.executedPlan().toString())

    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(pool.map(_one, load_catalog().items()))


# BroadcastNestedLoopJoin is the CORRECT plan when one side is a
# broadcast of a tiny relation and the predicate is non-equi (or there
# is none): these queries deliberately broadcast a 1-row/handful-row
# side (the query vector, the learned centroid set, the corpus doc
# count, the range-bucket boundary table). A BNLJ anywhere else — or
# any non-broadcast CartesianProduct — is a scale bug.
_ALLOWED_TINY_BROADCAST_BNLJ = {
    # round 12 quantile sketch: 3-row quantile frame x 1-row N x
    # <=64-row bucket-cumulative frame — every BNLJ side is
    # index-metadata-sized by construction (the sketch IS <=64
    # mergeable buckets; the 1-row N is the a_bootstrap_ci class)
    "sketch_quantile_pow2",
    "j5_range_join_buckets",  # ≤ handful of buckets, non-equi bounds
    "ext_tfidf",  # 1-row total-doc-count factor
    "simsearch_topk_cosine",  # 1-row query embedding
    "simsearch_range_query",  # same 1-row query embedding shape
    "simsearch_hard_negatives",  # same 1-row query embedding shape
    "simsearch_ivf_kmeans",  # k centroid rows
    "simsearch_ivf_multiprobe",  # same k-centroid assign/probe class
    "dedup_semantic",  # same k-centroid assign as ivf_kmeans
    "ext_bm25_topk",  # 1-row corpus stats (N, sum_dl) factor
    "ext_bm25_batch",  # same 1-row corpus stats factor
    "curation_cluster_balance",  # k centroid rows (kmeans assign)
    "retrieval_eval_recall",  # 10-row broadcast query sample, twice
    "retrieval_pipeline_e2e",  # 1-row stats + 1-row query embedding
    "retrieval_hybrid",  # 1-row stats + 1-row query embedding
    "simsearch_hamming_topk",  # 1-row query signature
    "retrieval_rrf_fusion",  # 1-row stats + 1-row query embedding
    "simsearch_mrl_funnel",  # 1-row query vector (both funnel stages)
    "curation_mixture_kl",  # 1-row corpus totals (n, k) factor
    "curation_temperature_mix",  # 1-row corpus total + 1-row normalizer
    "retrieval_eval_ndcg",  # 10-row broadcast query sample, twice
    "retrieval_eval_mrr",  # same 10-row broadcast query sample, twice
    # two bounded broadcast crossJoins: the query sample, then its
    # <=|queries| distinct top-1 matches (the retrieval_eval class);
    # per-query WindowGroupLimit top-4 below each shuffle
    "simsearch_margin_mining",
    # (the recall-eval shape: crossJoin of the corpus with the tiny
    # deterministic query batch, per-query top-k below the shuffle)
    "graph_hits",  # 1-row L1-normalization totals, once per half-round
    "ext_collocations",  # 1-row bigram grand total (PMI denominator)
    "ext_heaps_fit",  # 1-row x 1-row prefix-pivot cells cross join
    "w15_cusum_drift",  # 1-row broadcast integer floor-mean (k)
    "a_bootstrap_ci",  # 1-row broadcast full-sample mean/count
    "ext_hll_intersection",  # 1-row broadcast union-sketch summary
    # 1-row x 1-row cross: the merged union sketch summary beside the
    # exact union distinct count (the ext_hll_intersection class)
    "ext_kmv_distinct",
    # two 1-row broadcasts: the dense BM25 corpus stats (ext_bm25_topk
    # class) plus the global impact min/max bounds — quantization
    # bounds are data-dependent, a fundamental second 1-row pass
    "retrieval_impact_quantized",
    # bounded grid fill: |QI groups| x |balance buckets| dimension
    # cross (w19_burst_detection class) + 1-row (T, B) totals
    "quality_t_closeness",
    # bounded grid fill: |event types| x |days| dimension cross
    # feeding the per-type Holt recurrence (w19/w20 class)
    "w35_holt_linear",
    # 1-row broadcast: the corpus midpoint-day threshold feeding the
    # 2x2 conditional aggregation (w15_cusum_drift's integer-threshold
    # class)
    "behavior_did",
    # 1-row x 1-row cross: the sweep aggregate beside the file count
    # (the ext_hll_intersection summary class)
    "layout_overlap_depth",
    # two 1-row broadcasts (ATT estimate + support counts) onto the
    # <=10-row cell table (the a_bootstrap_ci class)
    "behavior_matched_att",
    # 1-row midpoint broadcast (behavior_did's threshold class) + the
    # bounded |types| x |days| grid fill (w19/w20 class) feeding both
    # generation grouped-maps
    "stream_holt_replay",
    # 1-row broadcast: the dropped-cluster count (capped_labels)
    # cross-joined onto every accepted pair — the no-silent-caps rule
    # made data (round-11 cluster-cap enforcement; a_bootstrap_ci's
    # 1-row-stats class)
    "dedup_semantic_int8",
    # 1-row x 1-row cross: the (n, agree) global aggregate beside the
    # marginal-product sum (the ext_hll_intersection summary class)
    "eval_cohen_kappa",
    # bounded grid fill: |event types| x |days| dimension cross
    # feeding the per-type Holt-Winters grouped-map (w35's class —
    # same justification, seasonal-state variant)
    "w37_holt_winters",
    # 1-row midpoint broadcast + the bounded |types| x |days| grid
    # fill feeding both generation grouped-maps (stream_holt_replay's
    # exact class, vector-state variant)
    "stream_hw_replay",
    # two bounded shapes: the (days x 256-register) grid fill is a
    # dimension-by-dimension cross (both sides constant-bounded), and
    # the exact ground truth is a non-equi trailing-window range join
    # against the day dimension (drops with the exact column at scale)
    "ext_hll_rolling_distinct",
    # same bounded grid-fill shape: |event types| x |days| dimension
    # cross, never the raw stream
    "w19_burst_detection",
    # bounded trailing-window range join: the (day, user) DISTINCT
    # rollup fans out to <=7 trailing grid days (ext_hll_rolling's
    # exact-ground-truth class)
    "behavior_dau_wau",
    "w20_forecast_backtest",  # identical bounded grid-fill shape
    "w21_ewma_smoother",  # identical bounded grid-fill shape
    "w22_mad_outliers",  # identical bounded grid-fill shape
    # same bounded grid-fill; the slope pair join itself is type-keyed
    # equi with C(|days|,2) fan-out — calendar-bounded, never the stream
    "w23_theil_sen_trend",
    "w28_anomaly_consensus",  # identical bounded grid-fill shape
    # 1-row broadcast of the global (sum, count) balance stats — the
    # Q22 scalar-aggregate factor; the alternative is a single-reducer
    # shuffle of the customer table
    "q22_dormant_accounts",
    # 1-row base-rate totals broadcast onto the <=11-row bucket table
    "ext_score_lift",
    # 1-row count broadcast onto the 9-digit literal table (chi2)
    "quality_benford_audit",
    # 1-row cap broadcast onto the |sources|-row rollup (waterfill)
    "curation_token_budget",
    # 1-row totals + 1-row bonus-count broadcasts onto the
    # |sources|-row rollup (Hamilton apportionment, waterfill class)
    "curation_apportion_budget",
    # 1-row global min/max broadcast onto the block rollup
    "quality_sequence_gaps",
    # 1-row grand totals broadcast onto the <=40-band rollup (Lorenz)
    "a_pareto_concentration",
    # 1-row basket-count broadcast onto the |types|^2 pair rollup
    "behavior_market_basket",
    # 1-row grand total broadcast onto the <=168-cell (dow, hour) grid
    "w30_usage_heatmap",
    # 1-row final-watermark broadcast onto the (window, type) cell
    # rollup — the streaming replay witness's append-mode closed flag;
    # the alternative is a single-reducer shuffle of the cell table
    "stream_window_replay",
    # four 1-row grand-total aggregates crossJoined for the two gate
    # divisions (blocking-metrics report — the a_bootstrap_ci class)
    "dedup_blocking_eval",
    # 1-row good/bad totals broadcast onto the <=10-bucket rollup
    # (WOE/IV shares — the ext_score_lift class)
    "quality_woe_iv",
    # 1-row sketch-estimate x 1-row exact-count crossJoin (join-size
    # report — the a_bootstrap_ci 1-row stats class)
    "ext_cms_join_cardinality",
    # 1-row m/u weight stats broadcast onto the candidate pairs
    # (Fellegi-Sunter — the q22 scalar-aggregate factor class)
    "dedup_fellegi_sunter",
    # 1-row universe-count broadcast onto the vocabulary-sized df
    # table (Elias-Fano size advisor — the ext_tfidf 1-row factor)
    "retrieval_postings_size_advisor",
    # bounded |langs| x |sources| dimension cross for the full
    # contingency grid (zero cells must contribute) + 1-row totals —
    # the w19 bounded grid-fill class
    "quality_chi2_independence",
    # 1-row corpus-max + 1-row user-total broadcasts onto the
    # per-user rollup / lifetime grid (Kaplan-Meier — q22 class)
    "behavior_survival_km",
    # 1-row conformal-threshold broadcast onto the held-out half
    # (q22 scalar-aggregate factor class)
    "quality_conformal_threshold",
    # 1-row min-date anchor broadcast onto the event scan + 1-row
    # pooled-stats broadcast onto the 2-row variant table (CUPED —
    # q22 scalar-aggregate factor class)
    "behavior_ab_cuped",
    # 1-row (word -> bits) Bloom-map broadcast onto the fact scan —
    # the runtime-filter shape; the map is <=4096 entries at ANY scale
    "j8_bloom_semi_reduction",
    # 1-row train-vocab count broadcast onto the 1-row coverage agg
    "curation_ngram_coverage",
    # inherits ext_bm25_topk's 1-row corpus-stats broadcast inside the
    # BM25 feedback stage
    "retrieval_prf_expansion",
    # 1-row totals + 1-row max broadcast onto the bounded bucket grid
    "a_ks_test_bucketed",
    # 4-row quantile-target table x <=50-bucket histogram non-equi
    # join (cum >= target_rank), both sides constant-bounded
    "ext_hist_quantiles",
    # 1-row epoch-totals broadcast onto the <=10-bucket PSI rollup
    # (the ext_score_lift / quality_woe_iv bounded-rollup class)
    "quality_psi_drift",
    # 1-row grand total broadcast onto the |langs| x |sources|
    # contingency rollup (the chi2_independence bounded-grid class)
    "quality_mutual_information",
    # 1-row corpus LM stats (T, ctf_*) broadcast onto the doc scan —
    # the ext_bm25_topk dense single-scan 1-row stats factor
    "retrieval_query_likelihood",
    # 1-row corpus stats broadcast (twice: champion + exact BM25 paths)
    # — the ext_bm25_topk class
    "retrieval_champion_lists",
    # 1-row max-day broadcast onto the bounded |types|x|days| grid —
    # the quality_sequence_gaps 1-row min/max class
    "ext_decayed_counts",
    # bounded-grid non-equi self-join: the per-bucket-max suffix table
    # (<= max_chars/512 rows per side) — the w19 bounded-grid class;
    # the corpus-sized side only sees a bucket-partitioned window
    "curation_pareto_frontier",
    # 1-row broadcasts: corpus stats, champion-θ, and the two
    # bookkeeping counts (the a_bootstrap_ci 1-row stats class); the
    # candidate filter compares each doc's 3-term bound to the 1-row θ
    "retrieval_wand_pruning",
    # same 1-row broadcast set as retrieval_wand_pruning (stats, θ,
    # two bookkeeping counts) plus the |q|-row essential-term
    # broadcast semi-join — MaxScore's per-LIST cut (round 11)
    "retrieval_maxscore_pruning",
    # the WAND broadcast set again: stats, θ, and the TWO survivor
    # counts (block-max and global — the tightening measured as data;
    # round 11)
    "retrieval_blockmax_wand",
    # 1-row frontier broadcast (k* = the BH step-up cut) onto the
    # ≤|types|-row ranked battery (the a_bootstrap_ci 1-row class;
    # round 11)
    "behavior_fdr_bh",
    # 1-row max-active-day broadcast onto the per-user rollup — the
    # quality_sequence_gaps 1-row min/max class
    "behavior_rfm_segments",
    # 1-row corpus-min-day broadcast onto the per-user cohort rollup —
    # the quality_sequence_gaps 1-row min/max class; the cumsum window
    # partitions by cohort over the bounded (cohort, age) grid
    "w34_cohort_ltv",
    # 1-row type-count broadcast onto the |types|-row dimension (the
    # uniform π₀ seed) — every other join keys on the bounded
    # |types|² checkpointed transition grid (curation_mixture_kl's
    # 1-row (n, k) factor class)
    "behavior_markov_stationary",
    # 1-row audit aggregate × 6-literal-row expectation dimension —
    # the f14 fixed-dimension unpivot class
    "quality_expectation_suite",
    # 1-row edge-count (m) broadcast onto the |communities| rollup —
    # the curation_mixture_kl 1-row totals class
    "graph_modularity",
}


def test_no_cartesian_products(plans):
    offenders = [
        n for n, (_, phys) in plans.items()
        if "CartesianProduct" in phys
        or (
            "BroadcastNestedLoopJoin" in phys
            and n not in _ALLOWED_TINY_BROADCAST_BNLJ
        )
    ]
    assert not offenders, f"unbounded join shapes in: {offenders}"


def test_no_inferred_heavy_nullchecks(plans):
    offenders = {
        n: sum(opt.count(h) for h in _HEAVY_HEADS)
        for n, (opt, _) in plans.items()
        if n not in _ALLOWED_HEAVY_NULLCHECK
        and any(h in opt for h in _HEAVY_HEADS)
    }
    assert not offenders, (
        "heavy expressions re-evaluated inside inferred null checks "
        f"(make them non-nullable or restructure the join): {offenders}"
    )


# Global label numbering (F14) over the fixed-size nation dim: the
# SinglePartition exchange moves 25 rows at any scale. Likewise the
# frontier schedule's host-index window runs over the DISTINCT host
# dimension only (the corpus-wide rank is host-partitioned; see
# curate.frontier_interleave). Any OTHER query funneling a window
# through one partition is a scale bug.
_ALLOWED_GLOBAL_WINDOW = {
    "f14_f17_label_json",
    "f14_numbered_label",
    "curation_frontier_interleave",
    # heuristic false positive: the SinglePartition exchange is the
    # 1-row corpus-stats aggregate; the Window itself partitions by
    # query_id (inspect the plan: "Window ... hashpartitioning(query_id")
    "ext_bm25_batch",
    # bounded-input global windows: each rank window runs AFTER a
    # TakeOrderedAndProject limit(100) cut, so the SinglePartition
    # exchange moves <=100 rows at any corpus size (the retrieval_mmr
    # candidate-pool discipline; see operators/retrieval._ranked)
    "retrieval_rrf_fusion",
    # same bounded-input shape: the Zipf rank window runs after the
    # global top-100 TakeOrderedAndProject cut (<=100 rows moved)
    "ext_zipf_fit",
    # heuristic false positive, the ext_bm25_batch class: the canonical
    # window partitions by text; the SinglePartition exchange is the
    # 1-row savings rollup
    "dedup_savings_report",
    # heuristic false positive, the ext_bm25_batch class: the lead
    # window partitions by doc_id; the SinglePartition exchange is the
    # 1-row bigram grand-total aggregate (PMI denominator)
    "ext_collocations",
    # bounded-input global windows: the day rollup cuts the stream to
    # |days| rows BEFORE the two running windows (prefix sum + running
    # min), so the SinglePartition exchange moves day-sized data at
    # any corpus size (the ext_zipf_fit discipline)
    "w15_cusum_drift",
    # bounded-input global window: the rank runs over the 40 replicate
    # means (the per-replicate aggregate cuts the exploded stream to
    # B rows first — same discipline)
    "a_bootstrap_ci",
    # bounded-input global window: rank + analytic totals run over the
    # |keys|-sized per-key rollup, never the raw stream
    "profile_key_skew",
    # bounded-input global windows: the two cumulative sums run over
    # the <=11-row capped-score bucket rollup (w15/zipf discipline)
    "ext_score_lift",
    # bounded-input global window: the chi2 total moves 9 digit rows
    "quality_benford_audit",
    # bounded-input global windows: rank/prefix/total over the
    # |sources|-row rollup (waterfill cap search)
    "curation_token_budget",
    # bounded-input global window: the remainder-rank row_number runs
    # over the |sources|-row rollup only (Hamilton apportionment —
    # curation_token_budget's dimension class)
    "curation_apportion_budget",
    # bounded-input global windows: at-risk running sums + hazard
    # cumsum + extinction flag over the <=|lifetime-hours| grid
    # (Kaplan-Meier — the w15 bounded-rollup discipline)
    "behavior_survival_km",
    # bounded-input global windows: cumulative coverage over the
    # <=13-bucket lateness histogram (w15 class)
    "stream_lateness_profile",
    # bounded-input global window: five integer sufficient-statistic
    # sums over the |days| rollup (w15/zipf discipline)
    "w25_rolling_correlation",
    # bounded-input global windows: ECDF cumsums over the
    # value_range/width bucket grid (hist-quantile discipline)
    "a_ks_test_bucketed",
    # bounded-input global windows: Lorenz cumsums over the <=40
    # log2-revenue-band rollup (length_batches discipline)
    "a_pareto_concentration",
    # bounded-input global window: the grand-total share runs over the
    # 25-row (region, nation) rollup — the f14 fixed-dimension class
    "a_contribution_shares",
    # bounded-input global window: the cumulative-rank window runs on
    # the fixed-width value histogram (<= value_range/width rows, a
    # CONSTANT at any corpus size — the w15/zipf discipline)
    "ext_hist_quantiles",
    # bounded-input global windows: the two rank row_numbers run AFTER
    # each path's TakeOrderedAndProject limit(10) cut (<=10 rows moved
    # — the retrieval_rrf_fusion discipline)
    "retrieval_champion_lists",
    # heuristic false positive, the ext_bm25_batch class: both Window
    # nodes are term-partitioned WindowGroupLimit champion cuts; the
    # SinglePartition exchanges are the 1-row aggregates (corpus
    # stats, θ, and the two bookkeeping counts)
    "retrieval_wand_pruning",
    # the WAND shape plus ONE extra global window: the UB tail sums
    # run over the |q|-row (=3) term dimension — SinglePartition moves
    # 3 rows at any corpus size (the w15/zipf bounded-rollup
    # discipline; round 11)
    "retrieval_maxscore_pruning",
    # the exact retrieval_wand_pruning shape (term-partitioned
    # champion WindowGroupLimits; SinglePartition exchanges are the
    # 1-row aggregates — stats, θ, two survivor counts; round 11)
    "retrieval_blockmax_wand",
    # bounded-input global window: the battery rank runs over the
    # ≤|event types| per-metric stats rows (the w15/zipf bounded-
    # rollup discipline); the SinglePartition exchange is the 1-row
    # frontier aggregate (round 11)
    "behavior_fdr_bh",
    # heuristic false positive, the ext_bm25_batch class: the cumsum
    # window partitions by cohort_week (inspect: "Window ...
    # hashpartitioning(cohort_week"); the SinglePartition exchange is
    # the 1-row corpus-min-day aggregate
    "w34_cohort_ltv",
    # bounded-input global window: the union-sketch re-rank runs over
    # the <= |types|·64 RETAINED hash values (per-type bottom-64 cuts
    # first), so the SinglePartition exchange moves sketch-sized data
    # at any corpus size (the w15/zipf bounded-rollup discipline)
    "ext_kmv_distinct",
    # bounded-input global window: the global-distribution cumsum runs
    # on the |balance-buckets|-row dimension rollup (w15 discipline);
    # the per-group cumsum rides the QI hashpartitioning
    "quality_t_closeness",
    # bounded-input global window: the +1/−1 sweep runs over the
    # ≤ 2·|files| netted boundary dates — the MANIFEST, not the fact
    # table (zonemap class; w15 bounded-rollup discipline)
    "layout_overlap_depth",
    # round 12 sorted-neighborhood dedup: the global row_number IS
    # the algorithm (SNM sorts the corpus and pairs adjacent rows);
    # at 100 TB the orderBy becomes an Exchange rangepartitioning
    # sort with ranks assigned per range + offset — the docstring
    # documents the scale path; pair fan-out is exactly w*N
    "dedup_sorted_neighborhood",
    # round 12 quantile sketch: the bucket cumulative runs over the
    # <=64-row merged histogram (w15 bounded-rollup discipline); the
    # global exact-rank row_number is the AUDIT column verifying the
    # sketch's +-2x bound — drop it in production and the plan is a
    # pure map-side histogram merge (docstring documents this)
    "sketch_quantile_pow2",
    # heuristic false positive, the w34_cohort_ltv class: every
    # Window partitions by user_id / (user_id, sid) (inspect:
    # "Window ... hashpartitioning(user_id"); the SinglePartition
    # exchange is the 1-row direct-conversion count aggregate
    "behavior_attribution_position",
}


def test_no_unpartitioned_windows(plans):
    offenders = [
        n for n, (_, phys) in plans.items()
        if "Exchange SinglePartition" in phys and "Window" in phys
        and n not in _ALLOWED_GLOBAL_WINDOW
    ]
    assert not offenders, (
        f"window funneled through a single partition in: {offenders}"
    )


def test_dimension_joins_broadcast(plans):
    # multiway dim chain must broadcast region/nation/customer sides,
    # never shuffle them into a sort-merge join at any SF
    _, phys = plans["j4_multiway_region_revenue"]
    assert "BroadcastHashJoin" in phys, phys[:1500]


def test_scans_prune_columns(plans):
    # q1 projects 7 of lineitem's 16 columns; the scan must not read all
    _, phys = plans["q1_pricing_summary"]
    scan = phys.split("Scan parquet", 1)[1][:800]
    assert "l_comment" not in scan, scan


def test_topk_blas_plan_is_python_free_after_scoring(plans):
    # the witnessed/bench top-k form scores in ONE mapInPandas pass and
    # tops-k JVM-side: exactly one Python eval node, then
    # TakeOrderedAndProject (no shuffle, no second Python stage)
    _, phys = plans["simsearch_topk_blas"]
    assert phys.count("MapInPandas") == 1, phys[:1500]
    assert "TakeOrderedAndProject" in phys, phys[:1500]


@pytest.mark.parametrize("name", ["mm_jpeg_decode", "mm_png_decode", "mm_wav_decode"])
def test_codec_queries_keep_encode_and_decode_maps(plans, name):
    # one Arrow map synthesizes the payloads, a second decodes them;
    # fusing the two into one map is a deliberate plan change that
    # must update this count
    _, phys = plans[name]
    assert phys.count("MapInPandas") == 2, phys[:1500]


def test_curation_model_probes_are_broadcast(plans):
    # the membership/model probes must never shuffle the corpus side:
    # decontaminate probes the eval-shingle set, the LM scorer probes
    # its (cb,wb)/(cb) model tables — all explicit broadcast()s
    _, decon = plans["curation_decontaminate"]
    assert "BroadcastHashJoin [shingle" in decon, decon[:1500]
    _, lm = plans["curation_lm_quality"]
    assert "BroadcastHashJoin [cb" in lm, lm[:1500]


def test_sketch_probes_are_broadcast(plans):
    # the Bloom filter (<=4096 words) must be the broadcast side of the
    # probe join; the corpus side never shuffles for membership
    _, bloom = plans["ext_bloom_membership"]
    assert "BroadcastHashJoin [word" in bloom, bloom[:1500]
    # the deny-list host index joins broadcast in both URL queries
    _, url = plans["curation_url_canonicalize"]
    assert "BroadcastHashJoin" in url, url[:1500]
    _, fi = plans["curation_frontier_interleave"]
    assert "BroadcastHashJoin [host" in fi, fi[:1500]


def test_snapshot_diff_prunes_text_before_join(plans):
    # both snapshot sides must reduce to (doc_id, sha2) below their
    # exchange: the text column may appear only inside the hashing
    # projection or the scan itself, never in the join/exchange layers
    _, phys = plans["curation_snapshot_diff"]
    assert "sha2" in phys and "FullOuter" in phys
    for line in phys.splitlines():
        if "text#" in line:
            assert "sha2(" in line or "Scan parquet" in line, line


def test_bm25_dense_single_scan_no_wide_shuffle(plans):
    # the dense per-query BM25 plan: per-term tf columns + one 1-row
    # stats broadcast. The ONLY exchanges allowed are the global-agg
    # SinglePartition pair and the broadcast — never a hashpartitioning
    # of doc-level rows
    _, phys = plans["ext_bm25_topk"]
    assert "hashpartitioning" not in phys, phys[:2000]
    assert "TakeOrderedAndProject" in phys, phys[:1500]


def test_chunking_is_shuffle_free(plans):
    # chunking is a narrow per-row expansion: no Exchange of any kind
    _, phys = plans["ext_chunk_overlap"]
    assert "Exchange" not in phys, phys[:1500]


def test_hamming_corpus_side_never_shuffles(plans):
    # signatures are computed in the scan stage and top-k'd directly:
    # no hashpartitioning exchange; query side broadcasts
    _, phys = plans["simsearch_hamming_topk"]
    assert "hashpartitioning" not in phys, phys[:2000]
    assert "BroadcastExchange" in phys and "TakeOrderedAndProject" in phys
