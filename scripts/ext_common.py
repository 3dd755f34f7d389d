"""The one query timer: session warm-up, the timed loop, the
contention sentinel that brackets it, and the pinned EXT query sets.

``bench.py`` (the headline set) and ``scripts/ext_bench.py`` (the EXT
sets and ad-hoc query lists) both measure through :func:`timed_loop`.
Each query runs cold once and then twice more, every run through the
``noop`` sink (all rows computed, none shipped to the driver). Cold
is the first execution; warm is the min of the two reps; the median
of all three samples is the cross-round statistic, robust to a
stalled cold pass and to one lucky rep. Between-session JVM/JIT
variance exceeds the signal of a once-warm run: a 1.16x EXT total
drift appeared with provably zero code changes (round 8), which is why
no timer here reports a single sample.
"""

from __future__ import annotations

import sys
import time
from typing import Callable

# module-level: pandas_udf resolves the warm-up UDF's string annotations
# (``from __future__ import annotations``) against this module's globals
import pandas as pd

# ---------------------------------------------------------------------------
# Contention sentinel (VERDICT r10 item 1a). The round-10 BENCH/EXTBENCH
# artifacts were polluted by HOST contention — frozen-since-r1 queries
# slowed 1.3-5.8x with zero code changes — and the evidence had to be
# reconstructed after the fact from three in-session re-runs. The fix:
# before any timed set, run one tiny FROZEN pure-CPU probe (no IO, no
# parquet, no Python workers — spark.range → integer hash filter →
# count, 32 partitions so it occupies every core exactly like a real
# single-wave stage) three times; if the fastest run exceeds
# SENTINEL_BUDGET x the pinned quiet-host value below, the whole
# artifact is stamped "unstable": true so cross-round diffs know to
# distrust it.
#
# Statistic: MIN of 3 timed runs after 2 untimed JIT warms — a
# contended host cannot produce a FAST sample, so the min is the
# contention-robust envelope, while median/mean inherit the probe's
# intrinsic JVM jitter. Calibration (round 11, ~1% steal, idle host):
# single samples spread 0.44-0.93 s across a fresh session (JIT
# settling), post-warm samples 0.44-0.75 s, min-of-3 0.44-0.49 s —
# so the pin is 0.45 and the budget 1.6x (trip at 0.72 s): intrinsic
# jitter stays under it, while the r10-class contention (frozen
# queries uniformly 1.3-5.8x slower) cannot keep any sample below it.
# Re-pin ONLY alongside a full bench re-pin on a verified-quiet host;
# never because the sentinel keeps tripping — that is the signal
# working.
SENTINEL_PIN_SEC = 0.45
SENTINEL_BUDGET = 1.6


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _seconds(run: Callable[[], None]) -> float:
    """Wall seconds of one ``run()`` — the harness's only clock read."""
    t0 = time.perf_counter()
    run()
    return time.perf_counter() - t0


def _sentinel_probe(spark) -> None:
    _noop(
        spark.range(0, 800_000_000, 1, 32).selectExpr(
            "count(if(((id * 2654435761) % 1000003) % 97 = 3, 1, NULL)) AS c"
        )
    )


def contention_sentinel(spark) -> dict:
    """Frozen CPU probe (2 warms + 3 timed, min) → {'sentinel_sec',
    'sentinel_pin_sec', 'unstable'}; call AFTER session warmup,
    BEFORE the timed set."""
    for _ in range(2):
        _sentinel_probe(spark)
    best = min(_seconds(lambda: _sentinel_probe(spark)) for _ in range(3))
    return {
        "sentinel_sec": round(best, 4),
        "sentinel_pin_sec": SENTINEL_PIN_SEC,
        "unstable": best > SENTINEL_BUDGET * SENTINEL_PIN_SEC,
    }


def warm_session(spark, sf_dir: str) -> None:
    """Pay session start-up before the first timed query: JVM codegen
    and parquet footers through the first headline query, then the
    Python/Arrow worker pool (one worker per core) through a
    pass-through pandas UDF. Without the second step the first Arrow
    query of a set absorbs ~2 s of worker fork/init that is session
    cost, not query cost."""
    from pyspark.sql.functions import pandas_udf

    from shippai_knowledge_etl_spark.catalog import bench_queries

    _noop(next(iter(bench_queries().values()))(spark, sf_dir))

    @pandas_udf("long")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    par = spark.sparkContext.defaultParallelism
    _noop(spark.range(par * 4).repartition(par).select(_warm("id")))


def timed_loop(spark, sf_dir: str, fns: dict) -> dict:
    """Time each ``fns[name](spark, sf_dir)`` cold + 2 reps through the
    noop sink → per-query ``cold``, ``warm`` and ``median`` maps plus
    the sentinel bracket and ``cpus`` (the session's parallelism).

    The sentinel is BRACKETED (VERDICT r11 item 1b: the r11 judge
    measured identical code at 41.8 s vs 12.1 s medians minutes apart
    with clean START probes — contention windows open MID-RUN): one
    probe before the timed set, one after, and the result is flagged
    ``unstable`` if EITHER trips. Each run's jobs carry the description
    ``<name> rep<i>`` (rep0 = cold) so an event log splits per query.
    """
    sc = spark.sparkContext
    pre = contention_sentinel(spark)
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    median: dict[str, float] = {}
    for name, fn in fns.items():
        samples = []
        for rep in range(3):
            sc.setJobDescription(f"{name} rep{rep}")
            samples.append(_seconds(lambda: _noop(fn(spark, sf_dir))))
        # min-of-2 warm: a single repeat occasionally lands on a JIT
        # compile-queue stall (cores busy → C2 starved → the whole
        # single-wave stage runs interpreted, 5-10x slower), which says
        # nothing about the plan
        cold[name] = round(samples[0], 4)
        warm[name] = round(min(samples[1:]), 4)
        median[name] = round(sorted(samples)[1], 4)
        print(
            f"# {name}: cold {cold[name]}s median {median[name]}s",
            file=sys.stderr,
        )
    sc.setJobDescription(None)
    post = contention_sentinel(spark)
    unstable = pre["unstable"] or post["unstable"]
    if unstable:
        print(
            f"# SENTINEL UNSTABLE: pre {pre['sentinel_sec']}s / post"
            f" {post['sentinel_sec']}s > {SENTINEL_BUDGET}x pin"
            f" {SENTINEL_PIN_SEC}s — the host was contended; these"
            " timings are NOT comparable across rounds",
            file=sys.stderr,
        )
    return {
        "cold": cold,
        "warm": warm,
        "median": median,
        "sentinel_pre_sec": pre["sentinel_sec"],
        "sentinel_post_sec": post["sentinel_sec"],
        "sentinel_pin_sec": pre["sentinel_pin_sec"],
        "unstable": unstable,
        "cpus": sc.defaultParallelism,
    }


# ---------------------------------------------------------------------------
# The pinned EXT sets, one per operator cohort — round-over-round
# telemetry in the bench.py discipline: a set is never added to or
# removed from once pinned; a new cohort gets a NEW set. Artifacts are
# EXTBENCH<n>_r<round>.json at the repo root; cross-round diffs use
# ``queries_median`` and flag >1.25x, re-running in-session before
# attributing a slowdown to code.
EXT_SETS: dict[str, tuple[str, ...]] = {
    # PINNED as of round 6. One representative per EXT family:
    # retrieval (dense, batch, index-free chunking, Hamming, hybrid,
    # eval, MMR, RAG e2e), incremental near-dup probe, tokenizer
    # (train+encode), graph, and the curation flagships (DSIR, cluster
    # balance, main content, length batching, outliers, negatives ×2,
    # profile).
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
    # PINNED as of round 8 (VERDICT r7 item 2: the round-7/8 cohort was
    # a third of the catalog with no pinned timing). One representative
    # per family: graph (profile composition, triangle counting,
    # iterative k-core peel), behavioral/time-series (user profile,
    # sessionization, anomaly consensus, interval coverage, market
    # basket), data-quality audits (table checksum, CDC merge), round-7
    # dedup (prefix-filter all-pairs, duplicated passages), unigram-LM
    # tokenizer (train + encode), curation diagnostics (source-overlap
    # matrix, bootstrap CI, Heaps fit), retrieval additions (PRF
    # expansion, the round-8 sweep-form proximity window), and
    # multimodal scene cuts.
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
    # PINNED as of round 9. One representative per round-9 family: the
    # two REAL codec paths + the decoded-PCM VAD and real-pixel
    # downsample, pairwise text evals, experimentation sizing,
    # governance drift/dependence audits, landmark BFS centrality, soft
    # dedup + skyline curation, LM ranking + champion-list and WAND
    # pruning retrieval, decayed counters, RFM, cohort LTV, and path
    # mining.
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
    # PINNED as of END of round 10 (re-pinned once late-round on the
    # full cohort, the EXTBENCH3 late-r9 precedent). One row per
    # round-10 operator: the GIF + mu-law codec branches,
    # alignment/combinatorial/char-level evals, the KMV/theta sketch,
    # impact-quantized retrieval, t-closeness EMD governance, the
    # BMP/AVI containers + real-pixel tile dedup + PCM resample + SRT
    # sidecar, Hilbert-vs-Morton layout, overlap depth, the Holt
    # recurrence + its streaming replay, WordPiece encoding, modularity
    # scoring, int8-exact SemDeDup, DID + matched ATT, one-way ANOVA,
    # and hash-randomness random walks.
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
    # PINNED as of round 11. One row per round-11 operator (the codec
    # quartet: baseline JPEG, IMA ADPCM with its recursive-CTE codec
    # replay, TIFF with PackBits in both byte orders, Motion-JPEG-in-AVI
    # composition) plus the annotation-agreement eval, the seasonal
    # Holt-Winters recurrence, the AMS F2 sketch, the ustar/WARC/zip
    # ingestion-container trio — and the two round-11 REWRITES whose
    # medians the verdict asked to track (METEOR's single-tokenize
    # form, SemDeDup's enforced cluster cap).
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
    # PINNED as of round 12. One row per round-12 operator: the
    # progressive-JPEG decoder (three real streams per doc: flat
    # progressive + the AC-dense baseline/progressive equivalence
    # pair), the adversarial flate/TJ PDF extraction, Bellman-Ford SSSP
    # on the generic fixpoint loop (early-exit convergence probes
    # included in its time), the U-shaped attribution window chain, FFD
    # compaction packing (grouped-map fold), the gamma=2 quantile
    # sketch, RFC 9309 robots filtering, the WHATWG UTF-8 sanitize
    # pass, sorted-neighborhood dedup and binseg changepoint detection
    # — plus the two round-12 WIDENINGS whose medians should be tracked
    # (deflate members in zip, member-gzip WARC).
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
    # PINNED as of round 13, on the post-r12-optimization tree (VERDICT
    # r12 item 1: every r12 optimization shipped its after-number in
    # commit messages only). First block: the ten r12-optimized paths.
    # Second block: round-13 targets — the heaviest untouched EXT paths
    # by the r12 pins (quality_t_closeness 5.86 s, mm_png_tile_dedup
    # 4.52 s, mm_bmp_decode 3.39 s, mm_png_adam7 2.99 s,
    # eval_meteor_frag 2.3 s, eval_chrf_bigram 2.57 s, eval_rouge_bigram
    # 2.22 s, retrieval_wand_pruning 1.80 s). EXTBENCH7_r13_pre.json is
    # the r12 tree before any round-13 change.
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
    # PINNED as of round 13. Block 1: heavy paths round 13's
    # zero-exchange plan sweep found that no earlier set measured (each
    # was running its per-row compute on ONE core and/or doing provably
    # redundant work; dedup_edit_distance was the slowest query in the
    # engine at 125 s median). Block 2: round-13-optimized paths not in
    # ext7's frozen set. Pre-optimization A/B numbers are per change in
    # OPTIMIZATION_r13.md.
    "ext8": (
        # sweep finds
        "dedup_edit_distance",
        "ext_textrank_keywords",
        "ext_winnow_fingerprints",
        "ext_fingerprint",
        "ext_langid_scores",
        "curation_code_switching",
        "ext_unigram_train",
        "behavior_bradley_terry",
        # round-13 optimized, outside ext7
        "behavior_attribution_position",
        "dedup_clusters",
        "ext_bpe_train",
        "ext_bpe_encode",
        "s1_html_parse",
        "f6_knowledge_parse",
    ),
}
