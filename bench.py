#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver records only the LAST 2000 stdout characters, so the final
line is a COMPACT (<=1500 char) summary — totals, per-family subtotals,
the worst-5 queries, sink/skew/scaling digests (VERDICT r8 item 4;
``BENCH_r08.json`` came back ``"parsed": null`` because the full
per-query dict overflowed the tail).  The complete per-query JSON is
written to ``$SPARK_GRAFT_BENCH_OUT`` (default ``BENCH_LOCAL_LATEST.json``,
NEVER committed — VERDICT r10 item 5: the committed round artifact is a
copy made deliberately, ``cp BENCH_LOCAL_LATEST.json BENCH_LOCAL_r{N}.json``,
so driver/judge re-runs cannot clobber it in the working tree).

Each query is forced end-to-end with a ``noop``-format write — full
computation on the executors, zero driver-side collect — which is how a
cluster job would be measured.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (  # noqa: E402
    SHARED_KERNELS,
    clear_shared_kernels,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# ---------------------------------------------------------------------------
# Host-band contention signal (VERDICT r11 item 2).  Three r11 runs were
# adjudicated as contended BY HAND using the same two probes every time:
# the naive-sink leg (a Python-loop host-CPU probe, nearly insensitive to
# engine changes) and the shared-kernel build times (Spark work with a
# committed in-band reference).  Emitting the ratios makes a contended
# window self-identify instead of requiring BASELINE.md archaeology.
# References are the committed closing-run values at sf0.1 on the builder
# host class (BENCH_LOCAL_r11.json); update them when a new closing run
# is committed.  Thresholds (documented in BASELINE.md "Host-band
# thresholds"): contended when the worst kernel-build ratio exceeds 2.0
# or the sink-leg ratio exceeds 1.3 — the r11 contended runs read 4.1-7.9
# on kernels and 1.2+ on the sink leg simultaneously; in-band same-code
# re-runs sit within 1.15 on both.
HOST_BAND_REFERENCE = {
    # refreshed to the r12 in-band final-HEAD closing run
    # (BENCH_LOCAL_r12_QUIET.json, sink-leg 1.04 vs the prior r11
    # references) per the refresh-on-committed-closing-run protocol
    "naive_sec": 1.541,
    "semantic_edges_shared": 1.723,
    "minhash_pairs_shared": 3.123,
    "copurchase_adj_shared": 1.339,
    "contamination_hits_shared": 2.585,
    # Python-worker probe (r16, VERDICT r15 item 3): quiet-host
    # calibration reps on the builder host class.  cold includes the
    # per-core worker fork + numpy/pandas import; warm is the reused
    # pool.  Only the WARM ratio gates the band (sustained Python-side
    # contention); the cold ratio is reported for the reclaimed-pool
    # signature.
    "python_probe_cold_sec": 3.18,
    "python_probe_warm_sec": 0.47,
}

# ADVICE r12: HOST_BAND_REFERENCE absorbs the current code's build
# times at every refresh, so a genuine gradual slowdown in the eager
# kernels would ratchet into the reference and never trip the band.
# This anchor is the FIRST committed in-band value per kernel and is
# NEVER refreshed — diff measured/anchor across rounds for code-side
# drift, measured/reference for window (host) drift.  Anchors:
# BENCH_LOCAL_r11.json closing run (contamination kernel: new in r12,
# anchored at its first committed in-band value, BENCH_LOCAL_r12.json
# pre-refresh reference).  Interpretation guard: anchor ratios include
# BOTH code and host drift; only the in-band closing runs' anchor
# column is comparable round-over-round.
HOST_BAND_ANCHOR = {
    "naive_sec": 1.475,
    "semantic_edges_shared": 1.358,
    "minhash_pairs_shared": 3.236,
    "copurchase_adj_shared": 1.196,
    "contamination_hits_shared": 2.739,
    # new in r16, anchored at the first committed in-band values (the
    # quiet-host calibration reps; the contamination-kernel precedent)
    "python_probe_cold_sec": 3.18,
    "python_probe_warm_sec": 0.47,
}


def host_band_signal(sink: dict, eager_build: dict,
                     calibrated: bool = True,
                     python_probe: dict | None = None) -> dict:
    """Contention self-identification: measured/reference ratios for the
    host probes, plus the resulting band verdict.  ``calibrated=False``
    (non-reference sf/cpus) still emits the ratios but labels the band
    ``uncalibrated`` — the references only mean something at the
    committed configuration (sf0.1, local[32]).

    ``python_probe`` (r16, VERDICT r15 item 3): the JVM kernel probes
    are blind to PYTHON-side contention — the r15 driver bench read
    in-band on every JVM probe while the four Python-kernel families
    (ann/knn/doc/er: Arrow+numpy mapInPandas legs) ran 1.7-3.2x the
    committed local closing run and every JVM-side family matched
    within ~15%.  The probe's WARM ratio > 2.0 now labels such a
    window ``contended-python`` (JVM probes clean, Python pool
    degraded); the COLD ratio is reported alongside so a
    reclaimed-pool window (fork + numpy import landing inside timed
    legs, ~2.7 s/pool on the reference host) is distinguishable from
    sustained interpreter contention."""
    kernel_ratios = {
        k: round(eager_build[k] / HOST_BAND_REFERENCE[k], 2)
        for k in ("semantic_edges_shared", "minhash_pairs_shared",
                  "copurchase_adj_shared", "contamination_hits_shared")
        if k in eager_build
    }
    # Never-refreshed anchor column (ADVICE r12): same probes against
    # the permanent anchors, so reference refreshes can be diffed for
    # code-side drift instead of silently absorbing it.
    anchor_ratios = {
        k: round(eager_build[k] / HOST_BAND_ANCHOR[k], 2)
        for k in kernel_ratios
    }
    worst_kernel = max(kernel_ratios.values(), default=0.0)
    sink_ratio = round(
        sink["naive_sec"] / HOST_BAND_REFERENCE["naive_sec"], 2
    )
    python_warm_ratio = python_cold_ratio = None
    if python_probe:
        python_warm_ratio = round(
            python_probe["python_probe_warm_sec"]
            / HOST_BAND_REFERENCE["python_probe_warm_sec"], 2
        )
        python_cold_ratio = round(
            python_probe["python_probe_cold_sec"]
            / HOST_BAND_REFERENCE["python_probe_cold_sec"], 2
        )
    band = (
        "uncalibrated"
        if not calibrated
        else "contended"
        if worst_kernel > 2.0 or sink_ratio > 1.3
        else "contended-python"
        if python_warm_ratio is not None and python_warm_ratio > 2.0
        else "in-band"
    )
    return {
        "sink_leg_ratio": sink_ratio,
        "kernel_build_ratios": kernel_ratios,
        "kernel_build_anchor_ratios": anchor_ratios,
        "sink_leg_anchor_ratio": round(
            sink["naive_sec"] / HOST_BAND_ANCHOR["naive_sec"], 2
        ),
        "worst_kernel_build_ratio": worst_kernel,
        "python_kernel_ratio": python_warm_ratio,
        "python_kernel_cold_ratio": python_cold_ratio,
        "band": band,
        "reference": "BENCH_LOCAL_r12_QUIET.json closing run; thresholds in BASELINE.md",
    }


def python_worker_probe(spark) -> dict:
    """Fixed-size Arrow+numpy mapInPandas host probe (r16, VERDICT r15
    item 3).  ``spark.range`` feeds one numpy fold per core — no IO, no
    shuffle, no engine code — so the timing isolates the Python worker
    path: Arrow transfer + interpreter + numpy, exactly the machinery
    the ann/knn/doc/er headline legs run on.  Called once on a COLD
    pool right after the JVM warmup (before any other Python leg), so
    ``cold`` captures the per-core worker fork + numpy/pandas import
    (~2.7 s on the reference host) and ``warm`` (best of two reps on
    the reused pool) captures sustained interpreter throughput.  As a
    side effect the Python pool is warm before the scaling/headline
    sections — first-use cost can no longer land inside any timed leg
    (the JVM warmup has prevented the JVM twin of this since r6)."""
    import numpy as np  # noqa: F401 — imported here to mirror leg cost
    import pandas as pd  # noqa: F401

    from pyspark.sql import functions as _F

    def fold(batches):
        import numpy as _np
        import pandas as _pd

        acc = 0
        for pdf in batches:
            x = pdf["id"].to_numpy(dtype=_np.int64)
            acc += int(((x * x) % 1000003).sum())
        yield _pd.DataFrame({"acc": [acc]})

    def one() -> float:
        t0 = time.monotonic()
        spark.range(0, 2_000_000, 1, int(CPUS)).mapInPandas(
            fold, "acc long"
        ).agg(_F.sum("acc")).collect()
        return round(time.monotonic() - t0, 3)

    cold = one()
    warm = min(one(), one())
    return {"python_probe_cold_sec": cold, "python_probe_warm_sec": warm}

# Representative slice of the registry: TPC-H-style relational core,
# windows, text analysis, dedup (exact + all three near-dup families),
# and similarity search (exact + ANN).
#
# Selection rule (r15, VERDICT r14 item 5): the slice is no longer a
# fixed historical set — every query among the BENCH_SELECTION_TOP_N
# slowest spark legs of the ledgered full sf0.1 sweep must appear in
# HEADLINE or SCALING_QUERIES, so the untimed tail can never hide the
# registry's most expensive plans.  The ledger names the sweep the
# current rotation was computed from; update it (and rotate any newly
# slow legs in) at the START of each round, from the freshest committed
# sweep — round-close artifacts then cannot invalidate the rule
# mid-freeze.  Enforced by
# tests/test_round15_ops.py::test_bench_covers_sweep_slowest_legs.
BENCH_SELECTION_SWEEP = "ORACLE_CHECK_r15_SF01.txt"
BENCH_SELECTION_TOP_N = 20
# Ledgered exemptions from the selection rule: queries whose sweep-leg
# cost is BY DESIGN and whose timed presence would mask regressions
# elsewhere (each must carry the domain argument; the gate test asserts
# every exempt name is registered and keeps this list from growing
# silently).
BENCH_SELECTION_EXEMPT = {
    # 3.7 s in the r15 sweep, rank 19/300.  Retired from HEADLINE since
    # round 4 (comment below): the interpreted-expression EXACT oracle is
    # ~15x its numpy twin BY DESIGN (readable exact reference, SCALE.md
    # "known trade-offs"); q_knn_bruteforce_numpy and
    # q_knn_bruteforce_cogrouped are the performance-representative kNN
    # legs and both stay timed.
    "q_knn_bruteforce": "interpreted exact-oracle twin; numpy/cogrouped "
    "legs are the timed representatives (round-4 policy)",
}
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customer",
    "q21_last_shipper",
    "q_window_topk_per_group",
    "q_wordcount_documents",
    "q_text_token_stats",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_dedup_ngram_jaccard",
    # q_knn_bruteforce (the interpreted-expression exact oracle) is retired
    # from HEADLINE as of round 4: it is ~15x its numpy twin BY DESIGN
    # (readable exact reference, SCALE.md "known trade-offs") and its 4.5s
    # dominated the total, masking regressions elsewhere.  It stays
    # registered and driver-checkable; the numpy twin below is the
    # performance-representative kNN entry.
    "q_knn_bruteforce_numpy",
    "q_ann_lsh",
    "q_ann_ivf",
    "q_stream_tumbling",
    "q_asof_join",
    # round 2: block-pair exact similarity join, Q11/Q13 shapes, centroids
    "q_dedup_embedding_cosine",
    "q11_important_values",
    "q13_customer_distribution",
    "q_embedding_centroids",
    # round 3: LM scoring, k-means step, chunking
    "q_text_unigram_logprob",
    "q_kmeans_one_step",
    "q_chunk_documents",
    # round 4: label propagation over the LSH pair graph (bounded k so the
    # per-round join+agg cost is dataflow-only and benchmarkable)
    "q_dedup_clusters_k3",
    # round 4: boilerplate removal, quality gate, Gram matrix, PQ ANN,
    # and the unbounded-query cogrouped kNN (the N_QUERIES-free path)
    "q_dedup_boilerplate_chunks",
    "q_text_gopher_rules",
    "q_embedding_gram_matrix",
    "q_ann_pq",
    "q_knn_bruteforce_cogrouped",
    # round 5: trained PQ (Lloyd-step codebook), sparse TF-IDF similarity
    # join, image perceptual-hash dedup, ordered EWMA fold, bloom runtime
    # filter — one representative per new family
    "q_ann_pq_trained",
    "q_doc_similarity_tfidf",
    "q_multimodal_phash_pairs",
    "q_events_ewma",
    "q_bloom_semi_join",
    # round 6: one representative per new family — semantic dedup,
    # hybrid-retrieval fusion, n-gram novelty, z-order layout
    "q_dedup_semantic",
    "q_ann_rrf_fusion",
    "q_text_novelty_ngrams",
    "q_layout_zorder_buckets",
    # round 6 (cont.): graph analytics, SCD2 versioning, blocked entity
    # resolution, BPE pair census
    "q_graph_pagerank",
    "q_graph_triangles",
    "q_scd2_priority_history",
    "q_er_fuzzy_blocked",
    "q_text_bpe_merge",
    "q_events_gapfill_hourly",
    "q_assoc_pairs_lift",
    "q_multimodal_audio_silence",
    "q_ann_hamming_rank",
    "q_window_running_distinct",
    "q_stream_window_topk",
    "q_events_holt_linear",
    "q_customer_rfm",
    "q_udtf_chunk_words",
    "q_graph_components_semantic",
    "q_sessions_concurrency",
    "q_sequence_pattern_vcp",
    "q_multimodal_keyframes",
    # round 7: one representative per new family — the shard-and-stitch
    # weighted median, CCNet perplexity split, binary retrieve-then-
    # rerank, and the snapshot diff
    "q_agg_weighted_median",
    "q_quality_perplexity_buckets",
    "q_ann_hamming_rerank",
    "q_audit_snapshot_diff",
    # round 8: one representative per new family — the BPE training
    # loop, the value-sharded Gini rank scan, the prefix-max lateness
    # audit, the reduced-series ACF, and the algebraic interval-overlap
    # counts (the IEJoin replacement)
    "q_text_bpe_train_k4",
    "q_agg_gini_customer_revenue",
    "q_stream_lateness_audit",
    "q_events_autocorrelation",
    "q_sessions_overlap_counts",
    # round 9: one representative per new family — the lexical
    # retrieve-then-rerank (reuses the TF-IDF pair pipeline + edit
    # rerank), the cohort matrix, HITS centrality, the reduced-series
    # Theil-Sen, the per-stratum weighted sample, and the image
    # gradient kernel
    "q_text_rerank_edit",
    "q_events_cohort_retention",
    "q_graph_hits",
    "q_events_theil_sen",
    "q_sample_weighted_stratified",
    "q_multimodal_image_edges",
    # round 10: paragraph-level MinHash near-dup, the source-pair
    # contamination grid, and the frozen-quantizer incremental IVF
    # assignment
    "q_dedup_paragraph_pairs",
    "q_mix_contamination_matrix",
    "q_ann_ivf_incremental",
    "q_graph_bfs_khop",
    "q_events_cusum_drift",
    "q_mix_unigram_cross_entropy",
    "q_multimodal_audio_rms_gain",
    "q_text_sentence_stats",
    "q_embedding_label_outliers",
    # round 10 (batch 4): DSIR selection weights, blocked Adamic-Adar
    # link prediction, the k-anon generalization ladder, full-grid
    # Kendall tau, trailing-baseline burst ranking, and the histogram-
    # entropy decode kernel
    "q_mix_dsir_weights",
    "q_graph_adamic_adar",
    "q_privacy_kanon_generalize",
    "q_events_kendall_tau",
    "q_events_burst_hours",
    "q_multimodal_image_entropy",
    # round 10 (batch 5): the t-closeness EMD grid, corpus-calibrated
    # RAKE keyphrases, and the one-row assortativity moment reduction
    "q_privacy_t_closeness",
    "q_text_rake_keywords",
    "q_graph_degree_assortativity",
    # round 10 (batch 6): clamped DP sums, the broadcast-centroid
    # silhouette, and the sessionized daily bounce rate
    "q_privacy_dp_sum_clamped",
    "q_embedding_centroid_silhouette",
    "q_sessions_bounce_rate",
    # round 10 (batch 7): the in-row int8 error audit, the hod variance
    # decomposition, and the Benford digit screen
    "q_embedding_quantize_error",
    "q_events_seasonality_strength",
    "q_audit_benford_totalprice",
    # round 10 (batch 8): the opponent-channel colorfulness kernel, the
    # decomposable Theil index, and 3-round farthest-point seeding
    "q_multimodal_image_colorfulness",
    "q_agg_theil_nation_revenue",
    "q_embedding_kcenter_seeds",
    # round-11 additions (the three VERDICT r10 item-7 operators, plus
    # the audio clipping screen; q_ann_hard_negatives stays out of
    # HEADLINE under the q_knn_bruteforce interpreted-fold policy)
    "q_dedup_split_leakage",
    "q_text_langid_kappa",
    "q_text_bpe_fertility_by_lang",
    "q_multimodal_audio_clipping",
    "q_dedup_rate_by_source",
    # final round-11 batch
    "q_text_heaps_law",
    "q_dedup_threshold_sweep",
    "q_embedding_label_conflicts",
    "q_quality_yield_curve",
    # closing round-11 batch: the curation-audit five
    "q_mix_epoch_audit",
    "q_text_oov_rate",
    "q_ann_ivf_cell_balance",
    "q_multimodal_image_blur",
    "q_quality_dup_interaction",
    # round-12: the decontamination trio — the Bloom-gated 13-gram
    # audit, the funnel that composes every curation gate, and the
    # per-eval-doc containment screen
    "q_contamination_eval_13gram",
    "q_curation_funnel_yield",
    "q_contamination_containment",
    "q_pack_token_budget",
    # round-13: exact-substring dedup (>=50-token verbatim spans)
    "q_dedup_exact_substring",
    # round-15 (VERDICT r14 item 5): the timed set now carries a stated,
    # checkable selection rule — every query among the 20 slowest spark
    # legs of the most recent committed full sf0.1 sweep
    # (ORACLE_CHECK_r*_SF01.txt) must be timed here or curve-profiled in
    # SCALING_QUERIES (enforced by
    # tests/test_round15_ops.py::test_bench_covers_sweep_slowest_legs).
    # The r14 sweep's ten untimed top-20 legs, rotated in:
    "q_graph_jaccard_neighbors",
    "q_decontaminate_overlap",
    "q_ann_recall",
    "q_dedup_containment_pairs",
    "q_dedup_clusters",
    "q_text_winnow_fingerprints",
    "q_ann_filtered_by_label",
    "q_events_token_bucket",
    "q_histogram_equidepth",
    "q_approx_distinct_sketch",
    # round-16 (selection rule, re-ledgered to the r15 sweep): the r15
    # sweep's untimed top-20 legs, rotated in.  q_dedup_keep_longest's
    # 14.9 s sweep leg is the cold minhash kernel (clean-warm 1.6 s);
    # q_ann_hard_negatives joins despite the round-11 interpreted-fold
    # note — at 2.6 s clean it sits mid-pack and no longer masks (the
    # policy exemption stays for q_knn_bruteforce only, see
    # BENCH_SELECTION_EXEMPT).
    "q_dedup_keep_longest",
    "q12_priority_lines",
    "q_bucketed_join_copartitioned",
    "q_udf_grouped_map_zscore",
    "q_ann_hard_negatives",
    "q_ann_pq_rerank",
]

# Scaling-curve smoke check: each query timed once at sf0.01 and once at
# the main SF; ratio >> data ratio (10x) flags a super-linear plan (this
# is the check that would have caught q_ann_ivf's corpus-proportional
# centroid set before the round-3 judge did).  Disable with
# SPARK_GRAFT_SCALING=0.
SCALING_QUERIES = [
    "q6_forecast_revenue",
    "q_dedup_minhash_lsh",
    "q_ann_ivf",
    "q_kmeans_one_step",
    # round-5 additions (VERDICT r4): the round-4 families' O()-claims
    # were plan-pinned but never curve-checked
    "q_ann_pq",
    "q_knn_bruteforce_cogrouped",
    "q_dedup_winnow_pairs",
    "q_dedup_incremental_ingest",
    # round-6 additions (VERDICT r5 item 5): the round-5 heavies' claims
    # — postings-bounded TF-IDF pairs, nibble-block phash pairs, O(1)
    # bloom state — get empirical curves
    "q_doc_similarity_tfidf",
    "q_multimodal_phash_pairs",
    "q_bloom_semi_join",
    # round-6 graph/basket families: arcs grow ~linearly with facts
    # (pagerank), the semantic graph is corpus-constant here but the
    # oriented wedge bound is the claim (triangles), and basket pair
    # fan-out is bounded by C(basket,2) per order (assoc)
    "q_graph_pagerank",
    "q_graph_triangles",
    "q_assoc_pairs_lift",
    # round-7 additions: the shard-and-stitch prefix sum (weighted
    # median) and the two-pass seasonal profile claim linear curves
    "q_agg_weighted_median",
    "q_events_seasonal_profile",
    # round-8 additions: per-round keyed peeling claims ~linear in arcs
    # (kcore), the sharded prefix-max claims linear (lateness)
    "q_graph_kcore2",
    "q_stream_lateness_audit",
    # round-9 additions: the rerank claims retriever-bounded candidate
    # cost, HITS claims linear-in-arcs rounds, Theil-Sen claims a
    # corpus-size-INDEPENDENT pair space (the ratio should sit near the
    # fixed-overhead floor), the cohort matrix claims linear reduction
    "q_text_rerank_edit",
    "q_graph_hits",
    "q_events_theil_sen",
    "q_events_cohort_retention",
    # round-10 additions: paragraph near-dup claims the doc-MinHash
    # envelope at ~tokens/40 units, the contamination grid claims
    # gram-census-linear with source-bounded pair fan-out, and the
    # incremental IVF claims batch-proportional cost (near-floor ratio)
    "q_dedup_paragraph_pairs",
    "q_mix_contamination_matrix",
    "q_ann_ivf_incremental",
    # batch 2: BFS claims per-level O(nodes) frontier rounds, the CUSUM
    # detector claims reduced-series (hours-bounded) windows, the
    # cross-entropy matrix claims census-linear with source-bounded
    # pair fan-out
    "q_graph_bfs_khop",
    "q_events_cusum_drift",
    "q_mix_unigram_cross_entropy",
    # batch 3: the decode-kernel sufficient-stats op claims linear
    # decode-bound cost; label outliers claim census-linear + broadcast
    "q_multimodal_audio_rms_gain",
    "q_embedding_label_outliers",
    # batch 4: DSIR claims census-linear (word-keyed model join, fan-out
    # 1 per doc-word); Adamic-Adar claims degree-capped pair fan-out;
    # Kendall tau claims a corpus-size-INDEPENDENT reduced-series pair
    # space (near-floor ratio, the Theil-Sen twin)
    "q_mix_dsir_weights",
    "q_graph_adamic_adar",
    "q_events_kendall_tau",
    # batch 5: RAKE claims token-linear with a vocab-census broadcast
    # (no cross-doc joins — the curve should track the corpus)
    "q_text_rake_keywords",
    # round-11: leakage rides the banded MinHash envelope (same curve
    # as the pair pipeline); fertility claims a single-scan linear
    # projection + O(langs) agg
    "q_dedup_split_leakage",
    "q_text_bpe_fertility_by_lang",
    # closing round-11: OOV claims two gram-census-linear combiner aggs
    # + an O(K) broadcast (no corpus self-join); the quality-dup grid
    # claims the q_dedup_exact one-exchange envelope
    "q_text_oov_rate",
    "q_quality_dup_interaction",
    # round-12: contamination claims gram-build-linear cost with the
    # corpus never joining itself (O(eval) Bloom broadcast + exact
    # semi-join on Bloom survivors only) — the curve is the proof
    "q_contamination_eval_13gram",
    # round-13: exact-substring claims posting-build-linear cost with an
    # O(matched postings) fingerprint join — the curve prices the claim
    "q_dedup_exact_substring",
    # round-15 (VERDICT r14 item 3): the two most expensive r14 sf0.1
    # sweep legs, previously outside every performance profile.
    # Jaccard claims degree-capped candidate fan-out over the memoized
    # adjacency (the 13.9x raw sweep ratio is the thing under
    # measurement); decontaminate claims eval-gram-census cost with the
    # corpus probed via broadcast Bloom, never self-joined.
    "q_graph_jaccard_neighbors",
    "q_decontaminate_overlap",
]


# A headline leg's "queries" timing covers the action only.  When its
# median DataFrame construction exceeds this, the construction median is
# ledgered in eager_build_sec and counted in true_total: above it sit the
# legs that run Spark jobs while building (iterative checkpoint loops,
# eager kernel checkpoints, codebook-sizing counts) and the heaviest lazy
# plans (0.1-0.4 s each on a 4-core host), both real seconds outside the
# timed action.
EAGER_BUILD_MIN_SEC = 0.25


def _session_floor_sec(spark) -> float:
    """Per-action overhead of this local session: min over reps of a
    trivial noop write of a 100-row range.  The small scaling leg (~0.3-
    0.5 s at sf0.01) sits partly ON this floor, so raw large/small
    ratios diverge run-to-run purely from session overhead (VERDICT r9
    item 4: kcore2 read 2.66x driver vs 4.68x judge, large legs
    agreeing).  Ratios below subtract this floor from both legs."""
    reps = []
    for _ in range(3):
        start = time.monotonic()
        spark.range(100).write.format("noop").mode("overwrite").save()
        reps.append(time.monotonic() - start)
    return min(reps)


def scaling_bench(spark, registry) -> dict:
    small_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    if os.environ.get("SPARK_GRAFT_SCALING", "1") == "0":
        return {}
    if not os.path.isdir(small_dir) or os.path.samefile(small_dir, SF_DIR):
        return {}
    floor = _session_floor_sec(spark)
    # _protocol scaling-v2: legs time construction+action with every
    # shared-kernel memo cleared BEFORE each rep.
    out: dict[str, dict] = {
        "_floor_sec": round(floor, 3),
        "_protocol": "scaling-v2",
    }
    for name in SCALING_QUERIES:
        fn = registry[name]
        times: dict[str, float] = {}
        # (reps, reducer): min on BOTH legs — every rep is cold, so min
        # is the least-contended estimate of the cold cost.  Multi-minute
        # host-contention windows can poison 2 of 3 reps (a 0.95 s leg
        # read 23.8 s, a 29x ratio an isolated re-run did not
        # reproduce); min-of-3 survives any window shorter than the reps.
        for key, sf_dir, n_reps, red in (
            ("small_sec", small_dir, 4, min),
            ("large_sec", SF_DIR, 3, min),
        ):
            reps = []
            for _ in range(n_reps):
                # A scaling curve means the cold end-to-end cost at each
                # size, so construction is timed too: eager checkpoint
                # loops and the shared kernels are exactly the
                # data-proportional part the curve exists to price.
                # Warm reps would read 0.36-0.79 "ratios".
                spark.catalog.clearCache()
                clear_shared_kernels()
                start = time.monotonic()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                reps.append(time.monotonic() - start)
            times[key] = round(red(reps), 3)
        # Floor-corrected ratio: engine work scales with data; session
        # overhead does not.  Clamp both adjusted legs at 20 ms so a
        # genuinely floor-bound query reads ~1x instead of exploding.
        adj_small = max(times["small_sec"] - floor, 0.02)
        adj_large = max(times["large_sec"] - floor, 0.02)
        times["ratio"] = round(adj_large / adj_small, 2)
        times["ratio_raw"] = round(
            times["large_sec"] / max(times["small_sec"], 1e-9), 2
        )
        out[name] = times
    return out


def skew_bench(spark) -> dict:
    """Skew-resistance proof at bench scale (VERDICT r4 item 7): a
    synthetic fact table with one pathologically hot key (90% of rows on
    key 0) joined to a 1000-row dim with broadcast disabled, three ways:
    the plain shuffle join with AQE's skew split off (the hot-reducer
    baseline), the same join with AQE on (Spark's runtime fix), and the
    static ``salted_join`` (the fallback for skew AQE can't split).
    Disable with SPARK_GRAFT_SKEW=0."""
    if os.environ.get("SPARK_GRAFT_SKEW", "1") == "0":
        return {}
    from pyspark.sql import functions as F
    from apache_beam_java_firestore_batch_dataflow_spark.operators.skew import salted_join

    n = int(os.environ.get("SPARK_GRAFT_SKEW_ROWS", "4000000"))
    fact = spark.range(n).select(
        F.when(F.pmod("id", F.lit(10)) < 9, F.lit(0))
        .otherwise(F.pmod("id", F.lit(1000)))
        .cast("long")
        .alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("attr")
    )
    conf = spark.conf
    saved = {
        c: conf.get(c, None)
        for c in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # At bench scale the hot partition is ~30 MB — far under the 256 MB
    # default skew threshold, so AQE never split it and the AQE leg
    # measured the THRESHOLD, not the feature (VERDICT r5 item 8).
    # Scale the knobs to the fixture so the skew-split path actually
    # exercises: split anything 4x the 2 MB advisory target.
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")

    def timed(df) -> float:
        # one untimed warmup per leg: each variant compiles its own
        # codegen (salted adds the explode+hash stages), and a long-lived
        # bench JVM occasionally lands that compile + a GC pause inside
        # every timed rep, flipping a 1.4s leg to ~10s medians (observed)
        df.write.format("noop").mode("overwrite").save()
        reps = []
        for _ in range(3):
            start = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            reps.append(time.monotonic() - start)
        return round(sorted(reps)[1], 3)

    def agg(joined):
        return joined.groupBy("attr").agg(F.sum("v").alias("s"))

    out: dict[str, float] = {}
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        out["plain_hot_sec"] = timed(agg(fact.join(dim, "k")))
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        out["plain_aqe_sec"] = timed(agg(fact.join(dim, "k")))
        out["salted_sec"] = timed(agg(salted_join(fact, dim, on="k")))
    finally:
        for c, v in saved.items():
            conf.set(c, v) if v is not None else conf.unset(c)
    out["salted_vs_hot"] = round(
        out["plain_hot_sec"] / max(out["salted_sec"], 1e-9), 2
    )
    out["aqe_vs_hot"] = round(
        out["plain_hot_sec"] / max(out["plain_aqe_sec"], 1e-9), 2
    )
    return out


def sink_ratio_bench(spark) -> dict:
    """Reference's qualitative claim (BASELINE.md): the batched sink must
    beat the naive per-element sink by at least the client-amortization
    factor.  Measured on a fake client with a 1 ms per-commit round-trip
    over 1000 word-count rows."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
        FirestoreSinkConfig,
        fake_client_factory,
        write_word_counts_batch,
        write_word_counts_naive,
    )

    rows = spark.range(1000).select(
        F.concat(F.lit("w"), F.col("id")).alias("word"), F.lit(1).alias("count")
    )
    rows = rows.coalesce(4).cache()
    rows.count()
    config = FirestoreSinkConfig(project_id="bench", collection_path="bench")
    out: dict[str, float] = {}
    for mode, writer in (
        ("naive_sec", write_word_counts_naive),
        ("batch_sec", write_word_counts_batch),
    ):
        spool = tempfile.mkdtemp(prefix="bench-spool-")
        start = time.monotonic()
        writer(rows, config, fake_client_factory(spool, latency_s=0.001))
        out[mode] = round(time.monotonic() - start, 3)
        shutil.rmtree(spool, ignore_errors=True)
    rows.unpersist()
    out["speedup"] = round(out["naive_sec"] / max(out["batch_sec"], 1e-9), 1)
    return out


def main() -> None:
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import codegen_stats
    from apache_beam_java_firestore_batch_dataflow_spark.session import build_session
    import __spark_entry__ as entrymod

    spark = build_session(app_name="bench", master=f"local[{CPUS}]")
    registry = entrymod.queries()

    # JVM/codegen warmup so the first timed query doesn't absorb startup:
    # exercise the scan/join/agg/window compile paths the headline
    # actually uses, not just a range sum (q1 was paying ~1.5s of
    # first-use codegen and reading as the "slowest query").
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    _small = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    _warm_dir = _small if os.path.isdir(_small) else SF_DIR
    _li = spark.read.parquet(os.path.join(_warm_dir, "lineitem.parquet"))
    _or = spark.read.parquet(os.path.join(_warm_dir, "orders.parquet"))
    (
        _li.join(_or, _li.l_orderkey == _or.o_orderkey)
        .groupBy("l_returnflag")
        .agg(_F.sum("l_quantity").alias("s"), _F.count(_F.lit(1)).alias("n"))
        .withColumn("r", _F.row_number().over(_W.orderBy("l_returnflag")))
        .write.format("noop").mode("overwrite").save()
    )
    spark.catalog.clearCache()

    # Python-pool probe + warmup (r16): cold/warm readings for the
    # host-band BEFORE any other Python leg runs — see
    # python_worker_probe's docstring for why this placement matters.
    python_probe = python_worker_probe(spark)

    # Scaling curves run BEFORE the headline loop (VERDICT r7 item 5):
    # their protocol is fully cold anyway, and running them after 60+
    # headline queries put late-run JVM memory pressure inside the
    # medians (bloom's large leg measured 8.6s in-context vs 3.4s
    # isolated) — curves were measuring run context, not plans.
    scaling = scaling_bench(spark, registry)
    # Jaccard stage-count census (r16, VERDICT r15 item 6): publish the
    # candidate/verify counts at BOTH SFs next to the timing curve and
    # enforce the C(df,2) blocking bound — a super-linear candidate
    # blow-up at a future SF now fails this run (ValueError inside the
    # census) instead of surviving as narrative.  Untimed accounting:
    # runs outside every timed leg on the already-warm session.
    if "q_graph_jaccard_neighbors" in scaling:
        from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
            jaccard_stage_counts,
        )

        _jsc_small = os.path.join(
            os.path.dirname(SF_DIR.rstrip("/")), "sf0.01"
        )
        scaling["q_graph_jaccard_neighbors"]["stage_counts"] = {
            "small": jaccard_stage_counts(spark, _jsc_small),
            "large": jaccard_stage_counts(spark, SF_DIR),
        }
    spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass

    # Median-of-3 per query: single runs drifted ~1.5x on untouched
    # queries.  The plan is rebuilt each run so no Spark-side caching
    # hides work.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    eager_build: dict[str, float] = {}

    # Shared kernels (sources/tables.py shared_kernel) are built once per
    # session and then read by several headline legs; build each here,
    # timed, so its one-time cost lands in eager_build_sec / true_total
    # instead of inside whichever leg happens to touch it first.  A
    # kernel nested in another (registered after it) is already warm
    # here and is timed inside its parent.
    clear_shared_kernels()
    for kernel_name, kernel in SHARED_KERNELS.items():
        if kernel.memo:
            continue
        _b0 = time.monotonic()
        kernel(spark, SF_DIR)
        eager_build[f"{kernel_name}_shared"] = round(time.monotonic() - _b0, 3)

    for name in HEADLINE:
        fn = registry[name]
        samples: list[float] = []
        builds: list[float] = []
        for _ in range(runs):
            b0 = time.monotonic()
            df = fn(spark, SF_DIR)
            builds.append(time.monotonic() - b0)
            start = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.monotonic() - start)
        timings[name] = round(sorted(samples)[len(samples) // 2], 3)
        build_med = round(sorted(builds)[len(builds) // 2], 3)
        if build_med > EAGER_BUILD_MIN_SEC:
            eager_build[name] = build_med
        # Drop cached frames BETWEEN queries, or persist()-using queries
        # accumulate executor storage across the sweep.  Deliberately NOT
        # per-rep: reps 2-3 reusing rep 1's cache is the steady-state
        # warm measurement of the protocol; clearing per rep moves the
        # medians ~30% by changing the protocol, not the engine.
        spark.catalog.clearCache()
        # Nudge a full GC between queries: a stop-the-world pause from the
        # PREVIOUS query's garbage landing inside all three reps (a 1.3 s
        # leg read 10.4 s) is the failure median-of-3 can't absorb.
        # System.gc() moves that pause into the untimed gap.
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — best-effort; timing still valid
            pass

    sink = sink_ratio_bench(spark)
    skew = skew_bench(spark)
    host_band = host_band_signal(
        sink,
        eager_build,
        calibrated=(
            os.path.basename(SF_DIR.rstrip("/")) == "sf0.1" and CPUS == "32"
        ),
        python_probe=python_probe,
    )

    total = round(sum(timings.values()), 3)
    # VERDICT r8 item 6: one number nobody has to do arithmetic for —
    # the timed headline PLUS every eager construction-time second.
    true_total = round(total + sum(eager_build.values()), 3)
    sf = os.path.basename(SF_DIR.rstrip("/")).removeprefix("sf")
    full = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else SF_DIR,
        "sink": sink,
        "scaling": scaling,
        "skew": skew,
        # Shared-kernel build seconds plus the median construction
        # seconds of every leg above EAGER_BUILD_MIN_SEC; their
        # "queries" entry times only the post-construction action.
        "eager_build_sec": eager_build,
        "python_probe": python_probe,
        "host_band": host_band,
        "true_total": true_total,
        # Generated classes Janino compiled over the whole run and the
        # seconds it took (plans/explain.codegen_stats); a codegen-cache
        # thrash shows here as a jump in both.
        "codegen": codegen_stats(spark),
        # r6 protocol bump (ADVICE r5 cache-leak fix): headline
        # queries now run cache-ISOLATED (clearCache between
        # queries — r1-r5 never cleared, so later dedup-family
        # queries silently reused earlier queries' cached
        # shingle pipelines and measured ~40-80% fast);
        # scaling legs are fully COLD per rep.  Compare
        # same-protocol rounds only.  r7: a best-effort
        # System.gc() runs in the untimed gap between headline
        # queries (VERDICT r6 item 5's BPE outlier); timed
        # semantics unchanged, so the id stays isolated-v2.
        # r8: scaling legs moved BEFORE the headline loop
        # (VERDICT r7 item 5 — late-run memory pressure was
        # inflating the large-leg medians) and eager_build_sec
        # added; per-query timed semantics still unchanged.
        # r9: full detail moved to the BENCH_LOCAL file; stdout's
        # final line became the compact summary.  Timed semantics
        # still unchanged — the id stays isolated-v2.
        "protocol": "isolated-v2",
    }
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL_LATEST.json")
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")

    # Per-family subtotals: family = the token after "q_" ("tpch" for
    # the numbered TPC-H queries) — compact, derivable, no curated list.
    fams: dict[str, float] = {}
    for name, sec in timings.items():
        fam = "tpch" if name[1].isdigit() else name.split("_")[1]
        fams[fam] = round(fams.get(fam, 0.0) + sec, 2)
    worst5 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    _scaling_rows = {n: v for n, v in scaling.items() if isinstance(v, dict)}
    worst_ratios = {
        n: v["ratio"]
        for n, v in sorted(_scaling_rows.items(), key=lambda kv: -kv[1]["ratio"])[:3]
    }
    compact = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf else SF_DIR,
        "n_queries": len(timings),
        "true_total": true_total,
        "eager_build_total": round(sum(eager_build.values()), 3),
        "families": fams,
        "queries": worst5,  # worst-5 only; full dict in queries_full
        "scaling_worst": worst_ratios,
        "sink": sink,
        "skew": skew,
        # compact form drops the per-kernel detail; full dict in the file
        "host_band": {
            "sink_leg_ratio": host_band["sink_leg_ratio"],
            "worst_kernel_build_ratio": host_band["worst_kernel_build_ratio"],
            "python_kernel_ratio": host_band["python_kernel_ratio"],
            "python_kernel_cold_ratio": host_band["python_kernel_cold_ratio"],
            "band": host_band["band"],
        },
        "protocol": "isolated-v2",
        "queries_full": out_path,
    }
    line = json.dumps(compact)
    if len(line) > 1500:  # keep the driver's 2000-char tail parseable
        for k in ("skew", "scaling_worst", "families"):
            compact.pop(k, None)
            line = json.dumps(compact)
            if len(line) <= 1500:
                break
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
