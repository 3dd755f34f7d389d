"""The query timer's pinned data and its one-clock shape. No Spark
session: ``load_catalog()`` only imports the query modules."""

from __future__ import annotations

import ast
from pathlib import Path

import bench
from scripts.ext_bench import plan_counters
from scripts.ext_common import EXT_SETS
from shippai_knowledge_etl_spark.catalog import bench_queries, load_catalog

REPO = Path(__file__).resolve().parent.parent
HARNESS = ("bench.py", "scripts/ext_common.py", "scripts/ext_bench.py")

# A literal copy of every pinned EXT tuple as first pinned. The sets are
# append-never: a new cohort gets a new set, so any edit here is a
# change of the round-over-round record, not of the code.
PINNED_EXT_SETS = {
    "ext": (
        "ext_bm25_topk",
        "ext_bm25_batch",
        "ext_chunk_overlap",
        "simsearch_hamming_topk",
        "retrieval_hybrid",
        "retrieval_eval_recall",
        "retrieval_mmr",
        "retrieval_pipeline_e2e",
        "dedup_incremental",
        "graph_pagerank",
        "curation_dsir_weights",
        "ext_bpe_train",
        "ext_bpe_encode",
        "curation_cluster_balance",
        "curation_main_content",
        "curation_length_batches",
        "curation_quality_outliers",
        "curation_negative_pairs",
        "simsearch_hard_negatives",
        "ext_table_profile",
    ),
    "ext2": (
        "graph_node_profile",
        "graph_triangles",
        "graph_kcore",
        "behavior_user_profile",
        "w12_sessionization",
        "w28_anomaly_consensus",
        "w24_interval_coverage",
        "behavior_market_basket",
        "quality_table_checksum",
        "quality_cdc_merge",
        "dedup_prefix_allpairs",
        "dedup_dup_passages",
        "ext_unigram_train",
        "ext_unigram_encode",
        "curation_source_overlap",
        "a_bootstrap_ci",
        "ext_heaps_fit",
        "retrieval_prf_expansion",
        "retrieval_proximity_window",
        "mm_scene_cuts",
    ),
    "ext3": (
        "mm_png_decode",
        "mm_png_downsample",
        "mm_wav_decode",
        "mm_wav_vad",
        "eval_rouge_bigram",
        "eval_bleu_log",
        "behavior_power_mde",
        "quality_psi_drift",
        "quality_mutual_information",
        "graph_bfs_closeness",
        "curation_soft_dedup",
        "curation_pareto_frontier",
        "retrieval_query_likelihood",
        "retrieval_champion_lists",
        "retrieval_wand_pruning",
        "ext_decayed_counts",
        "behavior_rfm_segments",
        "w34_cohort_ltv",
        "behavior_path_trigrams",
    ),
    "ext4": (
        "mm_gif_decode",
        "mm_wav_mulaw",
        "eval_meteor_frag",
        "eval_pass_at_k",
        "eval_chrf_bigram",
        "ext_kmv_distinct",
        "retrieval_impact_quantized",
        "quality_t_closeness",
        "mm_bmp_decode",
        "mm_png_tile_dedup",
        "mm_png_adam7",
        "mm_png_16bit",
        "mm_audio_resample",
        "mm_avi_decode",
        "mm_srt_parse",
        "layout_hilbert_order",
        "layout_overlap_depth",
        "w35_holt_linear",
        "stream_holt_replay",
        "ext_wordpiece_encode",
        "graph_modularity",
        "graph_random_walks",
        "dedup_semantic_int8",
        "behavior_did",
        "behavior_matched_att",
        "w36_anova_dow",
    ),
    "ext5": (
        "mm_jpeg_decode",
        "mm_wav_adpcm",
        "mm_tiff_decode",
        "mm_avi_mjpeg",
        "eval_cohen_kappa",
        "w37_holt_winters",
        "ext_ams_f2",
        "eval_meteor_frag",
        "dedup_semantic_int8",
        "mm_tar_extract",
        "mm_warc_parse",
        "mm_zip_extract",
        "stream_hw_replay",
        "mm_pdf_text_extract",
    ),
    "ext6": (
        "mm_jpeg_progressive",
        "mm_pdf_flate_extract",
        "graph_sssp",
        "behavior_attribution_position",
        "layout_compaction_binpack",
        "sketch_quantile_pow2",
        "crawl_robots_filter",
        "mm_zip_extract",
        "mm_warc_parse",
        "curation_utf8_sanitize",
        "dedup_sorted_neighborhood",
        "w38_changepoint_binseg",
    ),
    "ext7": (
        "graph_sssp",
        "graph_bfs_closeness",
        "dedup_semantic_int8",
        "retrieval_impact_quantized",
        "eval_bleu_log",
        "ext_wordpiece_encode",
        "sketch_quantile_pow2",
        "mm_jpeg_decode",
        "mm_jpeg_progressive",
        "mm_avi_mjpeg",
        "quality_t_closeness",
        "mm_png_tile_dedup",
        "mm_bmp_decode",
        "mm_png_adam7",
        "eval_meteor_frag",
        "eval_chrf_bigram",
        "eval_rouge_bigram",
        "retrieval_wand_pruning",
    ),
    "ext8": (
        "dedup_edit_distance",
        "ext_textrank_keywords",
        "ext_winnow_fingerprints",
        "ext_fingerprint",
        "ext_langid_scores",
        "curation_code_switching",
        "ext_unigram_train",
        "behavior_bradley_terry",
        "behavior_attribution_position",
        "dedup_clusters",
        "ext_bpe_train",
        "ext_bpe_encode",
        "s1_html_parse",
        "f6_knowledge_parse",
    ),
}


def test_pinned_names_are_registered():
    cat = load_catalog()
    pinned = {n for names in EXT_SETS.values() for n in names}
    assert not (pinned | set(bench.PINNED_MEDIANS)) - set(cat)


def test_headline_set_is_the_pinned_medians():
    assert set(bench_queries()) == set(bench.PINNED_MEDIANS)


def test_ext_sets_are_frozen():
    assert EXT_SETS == PINNED_EXT_SETS


def _clock_readers(path: Path) -> set[str]:
    """Names of the innermost functions reading ``time.perf_counter``
    ("<module>" for a module-level read)."""
    found: set[str] = set()

    def visit(node: ast.AST, owner: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = f"{path.name}:{node.name}"
        if isinstance(node, (ast.Attribute, ast.Name)) and (
            getattr(node, "attr", None) == "perf_counter"
            or getattr(node, "id", None) == "perf_counter"
        ):
            found.add(owner)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(ast.parse(path.read_text()), "<module>")
    return found


def test_one_clock_and_no_retired_timers():
    readers = set().union(*(_clock_readers(REPO / p) for p in HARNESS))
    assert readers == {"ext_common.py:_seconds"}
    retired = [f"scripts/ext_bench{n}.py" for n in range(2, 9)]
    retired.append("scripts/measure_r12.py")
    assert not [p for p in retired if (REPO / p).exists()]


def test_plan_counters_count_each_node_once():
    # `explain("formatted")` of mm_jpeg_decode: the tree, then one
    # numbered detail block per node
    plan = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- MapInPandas (4)
   +- MapInPandas (3)
      +- Exchange (2)
         +- Scan parquet  (1)


(1) Scan parquet
Output [1]: [doc_id#7459L]

(2) Exchange
Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=28097]

(3) MapInPandas
Input [1]: [doc_id#7459L]

(4) MapInPandas
Input [2]: [doc_id#7467L, payload#7468]

(5) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""
    assert plan_counters(plan) == {
        "AdaptiveSparkPlan": 1,
        "MapInPandas": 2,
        "Exchange": 1,
        "Scan parquet": 1,
    }
