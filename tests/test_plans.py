"""Plan-shape regression tests: the scale properties the engine claims
must be visible in the physical plan, not just asserted in docstrings."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__
from apache_beam_java_firestore_batch_dataflow_spark.operators import (
    relational,
    similarity,
)
from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
    QUERIES as TEXT_QUERIES,
)
from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import (
    codegen_stage_count,
    codegen_stats,
    num_broadcast_joins,
    num_shuffles,
    plan_digest,
    plan_text,
    pushed_filters,
    read_schemas,
)
from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import load_table


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .select("l_orderkey", "l_quantity")
    )
    filters = pushed_filters(df)
    assert any("l_shipdate" in f and "LessThanOrEqual" in f for f in filters), filters
    (schema,) = read_schemas(df)
    # column pruning: only the referenced columns are read off disk
    assert "l_orderkey" in schema and "l_quantity" in schema and "l_shipdate" in schema
    assert "l_comment" not in schema and "l_extendedprice" not in schema


def test_dimension_joins_broadcast(spark, sf_dir):
    """q5's region/nation/supplier/customer joins must all broadcast —
    the lineitem fact side never shuffles for a dimension join."""
    df = relational.QUERIES["q5_region_revenue"](spark, sf_dir)
    assert num_broadcast_joins(df) >= 3


def test_wordcount_single_shuffle(spark, sf_dir):
    """Tokenize+count is one combiner aggregation: exactly one exchange
    (partial agg -> shuffle on word -> final agg), reference O3 parity."""
    df = TEXT_QUERIES["q_wordcount_documents"](spark, sf_dir)
    assert num_shuffles(df) == 1
    assert codegen_stage_count(df) >= 2  # scan+partial and final fused spans


def test_knn_corpus_never_shuffles(spark, sf_dir):
    """Brute-force kNN broadcasts the query side; the corpus never
    shuffles FOR THE JOIN (that is the scale claim).  r16: the
    unsplittable-input spread may add a row-group-conditional
    repartition of the corpus (absent at any real layout), so the pin
    is the join strategy, not a raw exchange count."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = similarity.QUERIES["q_knn_bruteforce"](spark, sf_dir)
    assert num_broadcast_joins(df) == 1
    txt = plan_text(df)
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    # spread (<=1) + query-side TakeOrdered + window partitioning
    assert num_shuffles(df) <= 3
    # ADVICE r16: bounding the count alone would let a NEW corpus-side
    # keyed exchange slip in — every hash exchange in this plan must be
    # either the spread's vec_id repartition or the top-k window's
    # query_id partitioning, nothing else
    import re

    hash_keys = re.findall(r"hashpartitioning\((\w+)", txt)
    assert hash_keys, txt
    assert set(hash_keys) <= {"vec_id", "query_id"}, hash_keys


def test_q1_partial_aggregation(spark, sf_dir):
    """The pricing summary is a two-phase hash aggregate (map-side combine
    before the exchange), not a raw shuffle of lineitem rows."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(relational.QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert txt.count("HashAggregate") >= 2


def test_embedding_dedup_no_nested_loop_join(spark, sf_dir):
    """The exact threshold join must run as a block-pair equi-join
    (SortMergeJoin on the block key), never a BroadcastNestedLoopJoin —
    the O(n^2)-rows-through-one-task shape that dies at scale."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(similarity.QUERIES["q_dedup_embedding_cosine"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in txt, txt
    assert "CartesianProduct" not in txt, txt


def test_knn_broadcast_side_is_bounded_query_set(spark, sf_dir):
    """Brute-force kNN may nested-loop (the pair condition is non-equi),
    but ONLY against a broadcast build side that is the LIMITed query
    table — TakeOrderedAndProject (<= N_QUERIES rows) under the
    BroadcastExchange, so the broadcast cannot grow with the corpus."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(similarity.QUERIES["q_knn_bruteforce"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin Inner BuildRight" in txt, txt
    # the build (broadcast) side is the top-N query subset, not the corpus
    bx = txt.index("BroadcastExchange")
    assert "TakeOrderedAndProject" in txt[bx : bx + 400], txt[bx : bx + 400]


def test_q11_dims_broadcast_threshold_not_collected(spark, sf_dir):
    """Q11: supplier/nation joins broadcast (fact never shuffles for
    dims) and the HAVING threshold is a broadcast one-row aggregate in
    the same plan — no driver round-trip (no separate .collect())."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import tpch
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(tpch.QUERIES["q11_important_values"](spark, sf_dir))
    assert txt.count("BroadcastHashJoin") >= 2, txt
    # the scalar threshold appears as a broadcast join of a 1-row agg,
    # inside this single plan (it would vanish if collected driver-side)
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastExchange" in txt


def test_q13_two_level_aggregation(spark, sf_dir):
    """Q13: per-customer count then count-distribution — two aggregation
    levels, each with a map-side partial (4 HashAggregate nodes)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import tpch
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(tpch.QUERIES["q13_customer_distribution"](spark, sf_dir))
    assert txt.count("HashAggregate") >= 4, txt


def test_centroids_combiner_aggregation(spark, sf_dir):
    """Centroid mean must partially aggregate before the shuffle: the
    exploded (label, pos) stream reduces map-side, so the exchange
    carries |labels|*dim rows per task, not the full component stream."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(similarity.QUERIES["q_embedding_centroids"](spark, sf_dir))
    assert txt.count("HashAggregate") >= 2, txt
    assert "Generate" in txt  # posexplode stays narrow, before the agg


def test_partitioned_write_prunes_directories(spark, sf_dir):
    """The partitioned round-trip must show the priority predicate as a
    PartitionFilter on the scan (directory pruning), not a data filter."""
    from apache_beam_java_firestore_batch_dataflow_spark.sources import formats
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(formats.QUERIES["q_partitioned_write_prune"](spark, sf_dir))
    assert "PartitionFilters" in txt
    pf = txt[txt.index("PartitionFilters") :].splitlines()[0]
    assert "o_orderpriority" in pf, pf


def test_corr_manual_single_combiner_aggregation(spark, sf_dir):
    """The sufficient-statistics correlation is ONE two-phase hash
    aggregate: partial moments map-side, a single exchange on
    l_returnflag, final agg + scalar formula — no second shuffle."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = relational.QUERIES["q_corr_manual"](spark, sf_dir)
    assert num_shuffles(df) == 1
    assert plan_text(df).count("HashAggregate") >= 2


def test_window_analytics_single_exchange(spark, sf_dir):
    """The analytic battery (ntile/percent_rank/cume_dist/lead) shares
    one window spec, so the plan carries exactly one exchange (on
    o_custkey) and one Window node; the o_custkey filter reaches the
    parquet scan."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    import re

    df = relational.QUERIES["q_window_analytics"](spark, sf_dir)
    assert num_shuffles(df) == 1
    # one Window node (formatted plans print each node in the tree AND a
    # "(n) Window" detail header — count the headers)
    assert len(re.findall(r"\(\d+\) Window\b", plan_text(df))) == 1
    filters = pushed_filters(df)
    assert any("o_custkey" in f for f in filters), filters


def test_multimodal_decodes_never_shuffle(spark, sf_dir):
    """Audio/video synth+decode are narrow mapInArrow chains over the
    scan — payload bytes must never cross an exchange."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import multimodal

    for q in ("q_multimodal_audio_stats", "q_multimodal_video_stats"):
        df = multimodal.QUERIES[q](spark, sf_dir)
        assert num_shuffles(df) == 0, q


def test_quantize_int8_zero_shuffle(spark, sf_dir):
    """Quantization is a pure per-row projection (higher-order functions
    only): zero exchanges, zero Python UDF nodes."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = similarity.QUERIES["q_embedding_quantize_int8"](spark, sf_dir)
    assert num_shuffles(df) == 0
    txt = plan_text(df)
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_pii_redact_zero_shuffle(spark, sf_dir):
    """PII redaction is a pure map stage: no exchange, no Python UDF,
    and only the four referenced customer columns survive pruning."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import privacy
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = privacy.QUERIES["q_pii_redact"](spark, sf_dir)
    assert num_shuffles(df) == 0
    txt = plan_text(df)
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt
    (schema,) = read_schemas(df)
    assert "c_acctbal" not in schema, schema


def test_tfidf_broadcasts_corpus_count(spark, sf_dir):
    """TF-IDF's corpus size joins in as a broadcast one-row aggregate
    (never collected), and the term join is an equi-join — no
    cartesian/nested-loop pairing of terms."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import text as text_ops
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(text_ops.QUERIES["q_text_tfidf_top_terms"](spark, sf_dir))
    assert "BroadcastExchange" in txt
    assert "CartesianProduct" not in txt


def test_kmeans_assignment_is_combiner_not_window(spark, sf_dir):
    """One Lloyd step: seeds broadcast (corpus never shuffles for the
    assignment) and the arg-min is a partial-aggregating groupBy — the
    K*n pair stream reduces map-side before any exchange."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = similarity.QUERIES["q_kmeans_one_step"](spark, sf_dir)
    txt = plan_text(df)
    assert "BroadcastExchange" in txt
    assert "Window" not in txt  # arg-min via min(struct), not row_number
    assert txt.count("HashAggregate") >= 2 or "ObjectHashAggregate" in txt, txt


def test_unigram_logprob_broadcasts_token_total(spark, sf_dir):
    """The corpus token total is a one-row broadcast aggregate inside the
    plan, not a driver collect; scoring joins on the token key only."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import text as text_ops
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(text_ops.QUERIES["q_text_unigram_logprob"](spark, sf_dir))
    assert "BroadcastExchange" in txt
    assert "CartesianProduct" not in txt


def test_mix_sampling_is_pure_map(spark, sf_dir):
    """Mixture re-weighting must be a zero-shuffle map-side filter —
    thinning 100 TB must not move 100 TB."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import curation

    df = curation.QUERIES["q_mix_weighted_sources"](spark, sf_dir)
    assert num_shuffles(df) == 0


def test_outliers_broadcast_centroids_and_group_limit(spark, sf_dir):
    """Outlier screening rejoins the KB-sized centroid table by
    broadcast (the corpus never shuffles for the distance pass) and the
    per-label top-k pushes a WindowGroupLimit below the exchange."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(similarity.QUERIES["q_embedding_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in txt, txt
    assert "WindowGroupLimit" in txt, txt
    assert "CartesianProduct" not in txt


def test_chunking_zero_shuffle(spark, sf_dir):
    """Chunking documents into training windows is tokenize + Generate +
    in-row slice — no exchange at any corpus size."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import curation

    df = curation.QUERIES["q_chunk_documents"](spark, sf_dir)
    assert num_shuffles(df) == 0


def test_ivf_centroid_set_is_constant_size(spark, sf_dir):
    """The IVF coarse quantizer must be O(1) in corpus rows: doubling the
    corpus must not change the centroid count (pre-r4 it was a corpus
    fraction — an O(n^2/25) assignment wearing a broadcast hint)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        IVF_C,
        ivf_centroids,
        with_norm,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import load_table

    v = with_norm(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", "vnorm"
    )
    n = v.count()
    assert n > IVF_C  # the bound must actually bind at test scale
    assert ivf_centroids(v).count() == IVF_C
    doubled = v.union(v.withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000)))
    assert ivf_centroids(doubled).count() == IVF_C


def test_ivf_assignment_broadcasts_and_takeordered(spark, sf_dir):
    """Assignment must broadcast the constant-size centroid set (never
    shuffle the corpus against it) and select centroids via
    TakeOrderedAndProject — per-partition top-C, O(IVF_C) task state."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = similarity.QUERIES["q_ann_ivf"](spark, sf_dir)
    txt = plan_text(df, "simple")
    assert "TakeOrderedAndProject" in txt, txt
    assert num_broadcast_joins(df) >= 2  # assignment pass + probe/candidate passes
    assert "CartesianProduct" not in txt


def test_bounded_label_prop_single_plan_all_keyed(spark, sf_dir):
    """q_dedup_clusters_k3 unrolls k rounds into one declarative plan:
    every join is keyed (no cartesian/nested-loop anywhere in the LSH +
    propagation pipeline) and each round is a combiner aggregation —
    at least k HashAggregate pairs survive into the physical plan."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import dedup
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = dedup.QUERIES["q_dedup_clusters_k3"](spark, sf_dir)
    txt = plan_text(df, "simple")
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    assert txt.count("HashAggregate") >= 2 * dedup.LABEL_PROP_K


def test_winnow_fingerprints_zero_shuffle(spark, sf_dir):
    """Winnowing is in-row higher-order functions: zero Python UDF
    nodes, and the ONLY exchange allowed is the r16 unsplittable-input
    spread (scan has fewer row groups than cores -> repartition of the
    narrow (doc_id, t) projection; a no-op at any real corpus layout,
    so the kernel stays a pure map stage at scale).  The exchange must
    be the spread's hash repartition, never a keyed aggregation/join
    shuffle of the fingerprint stream."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import text as text_ops
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = text_ops.QUERIES["q_text_winnow_fingerprints"](spark, sf_dir)
    assert num_shuffles(df) <= 1
    txt = plan_text(df)
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt
    # no aggregation/join below or above the kernel — the one exchange
    # (when present) repartitions rows, it does not re-key them
    assert "HashAggregate" not in txt and "Join" not in txt


def test_mrl_truncate_zero_shuffle(spark, sf_dir):
    """MRL truncation is a pure per-row projection: zero exchanges,
    zero Python UDF nodes."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import similarity
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = similarity.QUERIES["q_embedding_mrl_truncate"](spark, sf_dir)
    assert num_shuffles(df) == 0
    txt = plan_text(df)
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_approx_distinct_sketch_bounded_shuffles(spark, sf_dir):
    """Exact distinct forces the 2-exchange expand; the HLL sketch must
    ride the SAME aggregation (no extra pass over orders), so the plan
    has at most 2 exchanges and a partial aggregate before the first."""
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = relational.QUERIES["q_approx_distinct_sketch"](spark, sf_dir)
    assert num_shuffles(df) <= 2
    assert plan_text(df).count("HashAggregate") >= 2


def test_doc_length_histogram_single_combiner_agg(spark, sf_dir):
    """Log-bucket histogram is one combiner aggregation: exactly one
    exchange, partial HashAggregate before it."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import curation
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = curation.QUERIES["q_doc_length_histogram"](spark, sf_dir)
    assert num_shuffles(df) == 1
    assert plan_text(df).count("HashAggregate") >= 2


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    """The quality gate is a pure map stage: tokenize + in-row
    higher-order functions, no exchange of any kind."""
    df = TEXT_QUERIES["q_text_gopher_rules"](spark, sf_dir)
    assert num_shuffles(df) == 0


def test_boilerplate_chunks_all_stages_keyed(spark, sf_dir):
    """Boilerplate removal: vocabulary agg, instance re-join, and doc
    reassembly are all keyed — no cartesian/nested-loop pair stage."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import dedup

    df = dedup.QUERIES["q_dedup_boilerplate_chunks"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gram_matrix_single_reduce_shuffle(spark, sf_dir):
    """The Gram matrix collapses each batch to one D x D partial inside
    mapInArrow; the only exchange is the tiny (i, j)-keyed final
    reduce — never a D^2 row explosion of the corpus."""
    df = similarity.QUERIES["q_embedding_gram_matrix"](spark, sf_dir)
    # one (i, j)-keyed reduce + at most the r16 unsplittable-input
    # spread (row-group-conditional, absent at any real layout)
    assert num_shuffles(df) <= 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # no explode anywhere


def test_pq_encode_inlines_codebook_and_joins_nothing(spark, sf_dir):
    """PQ scale shape: the constant-size codebook and bounded query
    distance tables ship as a closure into ONE Arrow kernel (encode +
    ADC + per-batch prune), so the corpus pass has no join of any kind
    and the only shuffle is the per-query top-k window."""
    df = similarity.QUERIES["q_ann_pq"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan   # the fused encode+ADC kernel
    assert "Join" not in plan      # no broadcast/cartesian/equi join at all
    # window partitioning + at most the r16 unsplittable-input spread
    assert num_shuffles(df) <= 2


def test_pq_codebook_size_is_corpus_independent():
    """The codebook is PQ_M x PQ_K x PQ_SUB_D by construction — a model
    constant.  Guard the constants so a 'helpful' edit can't reintroduce
    the corpus-proportional quantizer q_ann_ivf once had (VERDICT r3)."""
    assert similarity.PQ_K * similarity.PQ_M * similarity.PQ_SUB_D == 1024
    assert similarity.PQ_SUB_D * similarity.PQ_M == similarity.DIM


def test_string_agg_ordered_broadcasts_dimension(spark, sf_dir):
    df = relational.QUERIES["q_string_agg_ordered"](spark, sf_dir)
    assert num_broadcast_joins(df) == 1


def test_funnel_stages_all_keyed_on_user(spark, sf_dir):
    """Every funnel stage is a filtered agg + user_id equi-join — no
    cartesian stage, and the event_type filters reach the scan."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import timeseries

    df = timeseries.QUERIES["q_events_funnel"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    filters = pushed_filters(df)
    assert any("event_type" in f for f in filters), filters


def test_retention_reuses_user_partitioning(spark, sf_dir):
    """Cohort retention: distinct (user, day), per-user min, re-join,
    final tiny agg — all keyed; no unkeyed join anywhere."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import timeseries

    df = timeseries.QUERIES["q_events_retention"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zipf_top_r_is_distributed_topk(spark, sf_dir):
    """The top-R selection must plan as TakeOrderedAndProject (a
    distributed top-k), not a global sort of the vocabulary; the
    single-partition ranking window only ever sees R = O(1) rows."""
    df = TEXT_QUERIES["q_text_zipf_slope"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_incremental_ingest_screen_all_keyed(spark, sf_dir):
    """Ingest screening joins new-batch bands to the corpus index on
    (band_idx, band_hash) and verifies candidates only — no cartesian
    stage; screening cost is O(batch x collisions), not O(corpus^2)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import dedup

    df = dedup.QUERIES["q_dedup_incremental_ingest"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_cogrouped_no_broadcast_no_cartesian(spark, sf_dir):
    """The unbounded-query kNN must be a pure cogroup plan: block keys
    carry both sides (FlatMapCoGroupsInArrow), nothing broadcasts and
    nothing is cartesian — queries can be arbitrarily many."""
    df = similarity.QUERIES["q_knn_bruteforce_cogrouped"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" not in plan


def test_ewma_single_shuffle_no_window(spark, sf_dir):
    """The ordered fold runs inside one groupBy: exactly 1 exchange, no
    window sort of the corpus, no Python stage."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import timeseries

    df = timeseries.QUERIES["q_events_ewma"](spark, sf_dir)
    assert num_shuffles(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "InPandas" not in plan and "InArrow" not in plan


def test_weighted_sample_is_global_topk(spark, sf_dir):
    """A-ES sampling must plan as TakeOrderedAndProject (per-partition
    heaps of k), never a global Sort of the corpus."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import curation

    df = curation.QUERIES["q_sample_weighted"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bloom_filter_prunes_before_single_join(spark, sf_dir):
    """The bloom membership test is a literal-array filter on the fact
    scan: exactly ONE join in the whole plan (the verification join),
    and it is broadcast."""
    df = relational.QUERIES["q_bloom_semi_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") == 1
    assert num_broadcast_joins(df) == 1


def test_tfidf_similarity_no_pair_explosion(spark, sf_dir):
    """Sparse cosine pairs must come from the rare-gram postings agg +
    keyed map joins only.  The weights pipeline must be CACHED (both
    pair sides read InMemoryTableScan — computed once per job, one
    corpus pass); nested-loop joins may appear ONLY inside the cached
    plan's printed definition, where the one-row n_docs broadcast (the
    idf denominator) lives.  Round 6: the postings input must be
    Bloom-pruned map-side — the exploded gram stream passes a getbit
    membership filter BEFORE the postings exchange, so only rare-gram
    rows shuffle (sf0.1: 356 of 1.02M)."""
    df = TEXT_QUERIES["q_doc_similarity_tfidf"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2
    # outside the cached-relation definitions, the plan joins only on
    # doc/gram keys: strip cached-plan blocks and re-check
    live = plan.split("InMemoryRelation")[0]
    assert "BroadcastNestedLoopJoin" not in live
    # the Bloom pre-filter sits in the live plan (getbit over the
    # inlined word array), pruning before the postings shuffle
    assert "getbit" in plan, plan


def test_pq_trained_same_shape_as_seeded(spark, sf_dir):
    """Training must not change the serving plan: the trained query's
    corpus pass is still one join-free Arrow kernel + one window."""
    df = similarity.QUERIES["q_ann_pq_trained"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Join" not in plan
    assert num_shuffles(df) <= 2  # window + conditional r16 spread


def test_power_iteration_single_corpus_pass(spark, sf_dir):
    """Both matvec steps ride on the checkpointed Gram frame: the final
    plan reads NO parquet at all (the one corpus pass happened at
    checkpoint time), so iterations are corpus-independent."""
    df = similarity.QUERIES["q_embedding_power_iteration"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan


# ---------------------------------------------------------------------------
# Round-6 operators: plan pins for the new families
# ---------------------------------------------------------------------------


def test_rrf_fusion_rank_truncated_inputs(spark, sf_dir):
    """RRF fuses two ALREADY rank-truncated lists: the plan must contain
    the two window top-k filters feeding a join — and no cartesian or
    corpus-sized nested loop anywhere outside the constant centroid
    broadcasts the ANN inputs legitimately carry."""
    df = similarity.QUERIES["q_ann_rrf_fusion"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("RunningWindowFunction") >= 0  # window nodes exist
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") >= 1


def test_semantic_dedup_cell_blocked(spark, sf_dir):
    """SemDeDup pairs only within quantizer cells: the pair join must be
    an equi-join keyed on cell (hash or sort-merge), never a cartesian
    product; the only nested-loop joins are the constant IVF_C centroid
    broadcasts of the assignment stage."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import similarity as sim

    df = sim.QUERIES["q_dedup_semantic"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the dup pair join keys on cell: an equi-join node must exist
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count(
        "ShuffledHashJoin"
    ) >= 1
    # the assignment frame is cached and read three times (both pair
    # sides + the ledger); the constant-centroid nested loop lives only
    # inside the cached definition, so the LIVE plan has none
    assert plan.count("InMemoryTableScan") >= 3
    live = plan.split("InMemoryRelation")[0]
    assert "BroadcastNestedLoopJoin" not in live


def test_novelty_keyed_join_only(spark, sf_dir):
    """Novelty is one left join keyed on the gram: no broadcast that
    grows with the corpus (the reference side is itself corpus-derived,
    so it must hash-join, not broadcast at scale — at fixture size AQE
    may still broadcast it, which is fine; the pin is no cartesian and
    the join keys on the gram column)."""
    df = TEXT_QUERIES["q_text_novelty_ngrams"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_single_aggregation_exchange(spark, sf_dir):
    """The z-code is in-row bit arithmetic inside the scan stage; the
    bucket summary is ONE combiner aggregation — exactly one shuffle,
    zero joins, zero Python."""
    df = relational.QUERIES["q_layout_zorder_buckets"](spark, sf_dir)
    assert num_shuffles(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_scene_cuts_zero_shuffle_kernel(spark, sf_dir):
    """Scene-cut detection is one Arrow kernel over the payload scan:
    video bytes never shuffle, no joins, no exchanges before the sink."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import multimodal

    df = multimodal.QUERIES["q_multimodal_scene_cuts"](spark, sf_dir)
    assert num_shuffles(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Join" not in plan


def test_topp_single_window_shuffle(spark, sf_dir):
    """The per-source quantile gate is one shuffle on source + one
    window — no global sort, no second pass for the denominator."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import curation

    df = curation.QUERIES["q_quality_topp_per_source"](spark, sf_dir)
    assert num_shuffles(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan


def test_robust_scale_broadcast_rejoin(spark, sf_dir):
    """Robust scaling: per-type quantiles aggregate once, then broadcast
    back onto the stream — the stats side is O(types), never sorted
    globally."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import timeseries

    df = timeseries.QUERIES["q_events_robust_scale"](spark, sf_dir)
    assert num_broadcast_joins(df) >= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_kanonymity_single_aggregation(spark, sf_dir):
    """The k-anonymity audit is one aggregation keyed on the QI tuple;
    the distinct-count rides the same shuffle pair (expand strategy),
    never a separate pass over customer."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import privacy

    df = privacy.QUERIES["q_kanonymity_audit"](spark, sf_dir)
    assert num_shuffles(df) <= 2  # expand for count(distinct) allows 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_spectral_scores_inline_projection(spark, sf_dir):
    """The eigenvector ships as an inlined array literal: the corpus
    pass is a pure in-row dot product — zero joins, zero shuffles, zero
    Python in the live plan."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import similarity as sim

    df = sim.QUERIES["q_embedding_spectral_scores"](spark, sf_dir)
    assert num_shuffles(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_histogram_boundaries_broadcast_no_global_sort(spark, sf_dir):
    """Equi-depth histogram must NOT plan a global sort (the ntile
    shape): cut points come from one percentile agg broadcast back, and
    the bucket agg is combiner-style."""
    df = relational.QUERIES["q_histogram_equidepth"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Sort [o_totalprice" not in plan  # no global order-by on data
    assert num_broadcast_joins(df) >= 1
    assert plan.count("HashAggregate") >= 2


def test_langid_confusion_tiny_aggregation(spark, sf_dir):
    """The confusion matrix rides the zero-shuffle lang-id projection
    into one aggregation on a |langs|^2 key space + a window over those
    few rows — no joins, no Python."""
    df = TEXT_QUERIES["q_text_langid_confusion"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_psi_boundaries_broadcast(spark, sf_dir):
    """PSI: decile cuts from ONE percentile agg broadcast onto both
    population scans; no global sort anywhere."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import timeseries

    df = timeseries.QUERIES["q_drift_psi_events"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert num_broadcast_joins(df) >= 2  # cuts onto ref and cur
    assert "CartesianProduct" not in plan


def test_kmv_kmin_is_take_ordered(spark, sf_dir):
    """KMV sketch construction must plan as TakeOrderedAndProject (local
    k-minima per partition, driver merges P*k) — never a global sort of
    the distinct key stream."""
    df = relational.QUERIES["q_sketch_kmv_join_estimate"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Sort ") <= plan.count("TakeOrderedAndProject") + plan.count("SortMergeJoin") * 2


def test_filtered_ann_label_in_join_keys(spark, sf_dir):
    """Filtered ANN: the label predicate must sit IN the candidate
    join (cell AND label equi-keys), not as a post-top-k filter; the
    only nested loops are the constant centroid broadcasts."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import similarity as sim

    df = sim.QUERIES["q_ann_filtered_by_label"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # candidate join keys on both cell and label
    import re
    m = re.search(r"BroadcastHashJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert "cell" in m.group(1) and "label" in m.group(1), m.group(0)


# ---------------------------------------------------------------------------
# Round-6 continuation: plan pins for graph / warehouse / feature families
# ---------------------------------------------------------------------------


def test_pagerank_integer_arcs_keyed_joins(spark, sf_dir):
    """PageRank: every join is keyed (no cartesian/nested-loop beyond
    the one-row n_nodes broadcast), and the plan carries NO floating
    round() — the fixed-point contract is visible as integer division
    in the projections."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import graph

    df = graph.QUERIES["q_graph_pagerank"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # rank arithmetic is integer: the div operator appears, float round never
    assert " div " in plan
    assert "round(" not in plan.split("Scan")[0]


def test_triangles_no_unbounded_broadcast(spark, sf_dir):
    """Triangle census: wedge and closing joins are equi-joins on node
    ids; nothing corpus-sized broadcasts and no cartesian exists."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import graph

    df = graph.QUERIES["q_graph_triangles"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_assoc_pairs_generated_in_row(spark, sf_dir):
    """Association rules: pairs come from an in-row explode (Generate)
    of per-order baskets — the (order x part) stream is never
    self-joined.  The only joins are the O(items) support lookups."""
    df = relational.QUERIES["q_assoc_pairs_lift"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # support lookups broadcast


def test_scd2_single_window_exchange(spark, sf_dir):
    """SCD2: both row_numbers evaluate in window stages fed by ONE
    exchange on o_custkey — the island derivation never re-shuffles."""
    df = relational.QUERIES["q_scd2_priority_history"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_gapfill_grid_generated_in_row(spark, sf_dir):
    """Gapfill: each series' hourly grid explodes in-row from its span
    (Generate over sequence) — no global calendar cross join."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import timeseries

    df = timeseries.QUERIES["q_events_gapfill_hourly"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode(sequence" in plan
    assert "CartesianProduct" not in plan


def test_zonemap_single_aggregation(spark, sf_dir):
    """Zone maps: the envelope is ONE combiner aggregation over the
    scan (plus the one-row max broadcast); output exchange keys on the
    synthetic file id."""
    df = relational.QUERIES["q_layout_zonemap_skipping"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_hamming_signatures_one_kernel_pass(spark, sf_dir):
    """1-bit retrieval: signatures come from ONE Arrow kernel over the
    scan (a single MapInArrow), the query set broadcasts, and ranking
    is the usual window top-k — no second corpus pass."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import similarity as sim

    df = sim.QUERIES["q_ann_hamming_rank"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ADVICE r6: the signature frame is localCheckpoint-ed, so BOTH
    # consumers (broadcast query side + probe side) scan the
    # materialized RDD — the kernel itself ran exactly once, and the
    # final plan contains NO MapInArrow node at all.
    assert plan.count("MapInArrow") == 0, plan
    assert "Scan ExistingRDD" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_moments_single_aggregation_pair(spark, sf_dir):
    """Skew/kurtosis: all four power sums ride ONE partial+final
    aggregation pair — one exchange, no second scan."""
    df = relational.QUERIES["q_agg_skew_kurtosis"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1


def test_running_distinct_two_windows_one_sort_family(spark, sf_dir):
    """Running distinct: two window stages (first-seen flag, running
    sum), both partitioned by user — no join, no extra scan."""
    df = relational.QUERIES["q_window_running_distinct"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_holt_fold_in_row(spark, sf_dir):
    """Holt: the level+trend fold is an in-row aggregate over the
    collected bucket sequence — the plan has the two aggregations
    (hourly sums, per-series collect) and NO join or Python."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import timeseries

    df = timeseries.QUERIES["q_events_holt_linear"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "PythonUDF" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_rfm_cuts_broadcast_no_global_sort(spark, sf_dir):
    """RFM: scoring joins 12 broadcast cut points onto the per-customer
    frame — no rangepartitioning / global sort (the ntile trap)."""
    df = relational.QUERIES["q_customer_rfm"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The dim-side filter must reach the partitioned fact scan as a
    runtime dynamicpruning expression — the star-schema feature static
    pruning can't provide (the fact declares no filter of its own)."""
    from apache_beam_java_firestore_batch_dataflow_spark.sources import formats

    df = formats.QUERIES["q_join_dynamic_partition_pruning"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan


def _window_specs(df):
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan, re.findall(r"windowspecdefinition\(([^)]*)\)", plan)


def _partition_keys(spec):
    """A window spec's partition columns (names without expression ids):
    the elements before its first sort order or frame."""
    keys = []
    for part in spec.split(","):
        part = part.strip()
        if "ASC" in part or "DESC" in part or part.startswith("specifiedwindowframe"):
            break
        keys.append(part.split("#")[0])
    return keys


# Every sharded ordered scan: the data-sized column its order leads
# with, the group keys its shard windows partition by ahead of
# ``shard``, and whether its offsets join back broadcast.
_SHARDED_SCANS = [
    ("q_audit_sequence_gaps", "k#", [], False),
    ("q_sessions_concurrency", "ts#", [], True),
    ("q_sessions_overlap_counts", "t#", [], True),
    ("q_stream_lateness_audit", "event_id#", [], True),
    ("q_agg_gini_customer_revenue", "cents#", [], False),
    ("q_agg_weighted_median", "price#", ["flag"], True),
]


@pytest.mark.parametrize(
    "query, order_col, by, broadcast", _SHARDED_SCANS, ids=[c[0] for c in _SHARDED_SCANS]
)
def test_sharded_scan_windows_are_partitioned(spark, sf_dir, query, order_col, by, broadcast):
    """A sharded ordered scan never runs its data-sized window in one
    partition: no window spec leads with the data-sized order column
    (as an unpartitioned order or as a partition key), one window
    partitions by exactly the group keys and ``shard``, and only the
    O(#shards) stitch, ordered by ``shard``, may be partitionless."""
    df = __spark_entry__.queries()[query](spark, sf_dir)
    plan, specs = _window_specs(df)
    assert specs, plan
    bad = [s for s in specs if s.split(",")[0].strip().startswith(order_col)]
    assert not bad, f"data-sized window(s) led by {order_col}: {bad}"
    assert [*by, "shard"] in [_partition_keys(s) for s in specs], specs
    if broadcast:
        assert "BroadcastHashJoin" in plan


def test_shard_ordered_windows_have_one_owner():
    """Outside functions/scan.py, only q_audit_sequence_gaps' lead()
    stitch orders a window by ``shard``: every prefix over shards goes
    through the scan owner."""
    import ast
    import pathlib

    pkg = pathlib.Path(relational.__file__).parents[1]
    sites = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "functions/scan.py":
            continue
        for fn in ast.parse(path.read_text()).body:
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "orderBy"
                    and any(
                        isinstance(c, ast.Constant) and c.value == "shard"
                        for a in node.args
                        for c in ast.walk(a)
                    )
                ):
                    sites.add((rel, getattr(fn, "name", None)))
    assert sites == {("operators/relational.py", "q_audit_sequence_gaps")}, sites


def test_bpe_merge_censuses_vocab_before_pair_explode(spark, sf_dir):
    """VERDICT r6 item 5: the pair explode must run over the DISTINCT
    vocabulary (token census first), not the raw token stream — two
    aggregate families (vocab census + weighted pair count) and a
    TakeOrderedAndProject top-k, with the explode generator sitting
    ABOVE the first aggregate in the tree."""
    df = TEXT_QUERIES["q_text_bpe_merge"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # census agg keyed by tok, pair agg keyed by pair
    assert plan.count("HashAggregate") >= 4  # partial+final for each of 2 aggs
    assert "tok#" in plan and "pair#" in plan


def test_heavy_hitters_uses_window_group_limit(spark, sf_dir):
    """The per-column top-5 must plan as WindowGroupLimit (per-partition
    heaps below the exchange), never a full sort of the distinct-value
    table through one partition."""
    df = relational.QUERIES["q_profile_heavy_hitters"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_oov_vocab_is_takeordered_then_broadcast(spark, sf_dir):
    """q_text_oov_rate: the top-VOCAB_K phrase vocabulary must plan as
    TakeOrderedAndProject (per-partition heaps, O(K) driver state) and
    membership tagging as a BroadcastHashJoin of those K rows — the
    corpus gram stream must never shuffle for the join."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import text as t
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(t.QUERIES["q_text_oov_rate"](spark, sf_dir))
    assert "TakeOrderedAndProject" in txt, txt
    assert "BroadcastHashJoin" in txt, txt
    bx = txt.index("BroadcastExchange")
    assert "TakeOrderedAndProject" in txt[bx : bx + 600], txt[bx : bx + 600]


def test_quality_dup_windows_share_one_exchange(spark, sf_dir):
    """q_quality_dup_interaction: the count and min windows both key on
    the prefix fingerprint, so the corpus must cross exactly ONE
    fingerprint exchange (plus the constant-size grid exchange) — a
    second corpus-sized shuffle would mean the windows failed to share
    their partitioning."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import text as t

    df = t.QUERIES["q_quality_dup_interaction"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    fp_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(fp#" in ln
    ]
    assert len(fp_exchanges) == 1, plan


def test_ivf_cell_balance_broadcasts_centroids_and_totals(spark, sf_dir):
    """q_ann_ivf_cell_balance: the centroid set and the one-row totals
    frame are the only build sides — both broadcast; the census output
    is bounded by IVF_C so nothing after the scan is corpus-sized."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import similarity as s
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(s.QUERIES["q_ann_ivf_cell_balance"](spark, sf_dir))
    assert txt.count("BroadcastExchange") >= 2, txt
    assert "TakeOrderedAndProject" in txt, txt  # centroid selection
    # the corpus side must never be a build (broadcast) input
    assert "SortMergeJoin" not in txt, txt


def test_epoch_audit_broadcasts_totals_only(spark, sf_dir):
    """q_mix_epoch_audit: after the O(sources) census agg, the unit-sum/
    budget frame joins back as a one-row broadcast — no sort-merge join,
    no second corpus-sized exchange."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import curation
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(curation.QUERIES["q_mix_epoch_audit"](spark, sf_dir))
    assert "BroadcastHashJoin" in txt or "BroadcastNestedLoopJoin" in txt, txt
    assert "SortMergeJoin" not in txt, txt


def test_image_blur_has_no_post_scan_exchange(spark, sf_dir):
    """q_multimodal_image_blur: the Laplacian stencil runs inside the
    decode kernel and the output is already per-image — the plan must
    contain ZERO shuffle exchanges (pixels and stats never move)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import multimodal
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(multimodal.QUERIES["q_multimodal_image_blur"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in txt, txt
    assert "Exchange rangepartitioning" not in txt, txt


def test_kendall_concordance_is_grouped_kernel_not_pair_join(spark, sf_dir):
    """Knight upgrade (r12): concordance must run as ONE grouped Arrow
    kernel over the aligned series — exactly one FlatMapGroupsInArrow
    and NO hour-pair self-join (live plan: type-grid cross + grid-fill
    left join + series alignment = at most 3 joins; the old O(L²)
    formulation added a fourth).  The hourly rollup is cached (three
    consumers read InMemoryTableScan)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import timeseries

    df = timeseries.QUERIES["q_events_kendall_tau"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInArrow") == 1
    live = plan.split("InMemoryRelation")[0]
    # ADVICE r12: count NAMED equi-join nodes (raw "Join" substring
    # counting also matched unrelated node renames across Spark
    # versions) — the old O(L²) hour-pair formulation's extra join was
    # an equi-join, so the named count is the regression-sensitive
    # signal.  The ONE nested-loop allowed is the deliberate
    # O(|types|)-broadcast grid cross (hours × types); a cartesian of
    # anything else would show up as a second one.
    named_joins = sum(
        live.count(n)
        for n in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert named_joins <= 2, live
    assert live.count("BroadcastNestedLoopJoin") <= 1, live
    assert "CartesianProduct" not in live, live
    assert plan.count("InMemoryTableScan") >= 2
    spark.catalog.clearCache()


def test_pair_family_shared_frames_cached_once(spark, sf_dir):
    """r12 persist sweep: the pair queries whose self-join sides share a
    KERNEL-BACKED frame (signature aggregation / Python decode) must
    read it from cache (>= 2 InMemoryTableScan), or the kernel silently
    runs once per side again — A/B-measured 1.9-2.2x regressions.
    (Plain agg/window shapes are deliberately NOT on this list:
    ReusedExchange already shares their shuffles and persisting them
    measured slower — see the SCALE.md r12 sweep note.)"""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import (
        dedup,
        multimodal,
    )

    for qs, name in [
        (dedup.QUERIES, "q_dedup_simhash"),
        (dedup.QUERIES, "q_dedup_minhash_lsh"),
        (dedup.QUERIES, "q_dedup_paragraph_pairs"),
        (dedup.QUERIES, "q_dedup_minhash_est_error"),
        (multimodal.QUERIES, "q_multimodal_phash_pairs"),
    ]:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 2, name
        spark.catalog.clearCache()


# JVM-only registered queries that consume no shared kernel.  In a fresh
# session their first pass at sf0.001 compiles 267 generated classes,
# more than Spark's default codegen cache of 100 holds.
CODEGEN_REUSE_QUERIES = (
    "q_window_analytics",
    "q_events_burst_hours",
    "q_window_rank",
    "q_scd2_priority_history",
    "q_union_except",
    "q_agg_trimmed_mean",
    "q_window_running",
    "q_audit_sequence_gaps",
    "q_agg_incremental_merge",
    "q_events_markov_transitions",
    "q_skyline_suppliers",
    "q_events_user_streaks",
    "q_profile_entropy_mi",
)
CODEGEN_REUSE_COLD_CLASSES = 267


def test_codegen_cache_holds_a_repeated_query_set(spark, sf_dir):
    """build_session sizes the codegen cache to the registry, so running
    the same queries again reuses their generated classes: the second
    pass recompiles at most 10% of what a cold pass compiles (4 measured;
    with Spark's default cache it recompiled 274)."""
    registry = __spark_entry__.queries()

    def one_pass() -> int:
        before = codegen_stats(spark)["classes"]
        for name in CODEGEN_REUSE_QUERIES:
            registry[name](spark, sf_dir).collect()
        spark.catalog.clearCache()
        return codegen_stats(spark)["classes"] - before

    first = one_pass()
    second = one_pass()
    assert second <= CODEGEN_REUSE_COLD_CLASSES // 10, (first, second)


def test_plan_digest_is_stable_across_builds_and_sees_a_filter(spark, sf_dir):
    """Two builds of one registered query in one session differ in
    expression, exchange, RDD and lambda ids, but digest equal: a JVM
    plan, a Python kernel, a localCheckpoint and higher-order lambdas.
    One added filter changes the digest."""
    queries = __spark_entry__.queries()
    for name in (
        "q1_pricing_summary",
        "q_knn_bruteforce_numpy",
        "q_ann_hamming_rank",
        "q_text_repetition",
    ):
        a, b = (queries[name](spark, sf_dir) for _ in range(2))
        assert plan_text(a) != plan_text(b), name
        assert plan_digest(a) == plan_digest(b), name
    df = queries["q1_pricing_summary"](spark, sf_dir)
    filtered = df.filter(F.col(df.columns[0]).isNotNull())
    assert plan_digest(filtered).sha != plan_digest(df).sha
    spark.catalog.clearCache()


def _keyed_on(column: str):
    """A per-case check: no join or exchange of the plan is keyed on
    ``column``."""

    def check(plan: str) -> None:
        keyed = [
            line for line in plan.splitlines()
            if ("Join [" in line or "Exchange hashpartitioning(" in line)
            and re.search(rf"\b{column}#\d+", line)
        ]
        assert not keyed, keyed

    return check


def _contains(*needles: str, absent: tuple[str, ...] = ()):
    def check(plan: str) -> None:
        for n in needles:
            assert n in plan, n
        for n in absent:
            assert n not in plan, n

    return check


# Every blocked pair query: candidates come from keyed equi-joins only.
# Extras: image hashing is one Arrow kernel over the payload scan; entity
# resolution runs levenshtein post-join in codegen, not Python; paragraph
# verification is in-row, never a (pair x shingle) join.
PAIR_QUERIES = {
    "q_decontaminate_overlap": None,
    "q_dedup_winnow_pairs": None,
    "q_dedup_minhash_est_error": None,
    "q_multimodal_phash_pairs": _contains("MapInArrow"),
    "q_er_fuzzy_blocked": _contains("levenshtein", absent=("PythonUDF",)),
    "q_dedup_paragraph_pairs": _keyed_on("sh"),
    "q_dedup_minhash_lsh": None,
    "q_dedup_incremental_ingest": None,
    "q_dedup_ngram_jaccard": None,
    "q_dedup_containment_pairs": None,
    "q_graph_jaccard_neighbors": None,
}


@pytest.mark.parametrize("query", list(PAIR_QUERIES))
def test_no_pair_explosion(spark, sf_dir, query):
    """No cartesian or nested-loop pairing anywhere in the plan."""
    df = __spark_entry__.queries()[query](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    if PAIR_QUERIES[query]:
        PAIR_QUERIES[query](plan)
    spark.catalog.clearCache()


def test_set_intersection_has_one_owner():
    """Pair verification by in-row set intersection lives only in
    functions/setjoin.py."""
    root = pathlib.Path(__spark_entry__.__file__).parent / (
        "apache_beam_java_firestore_batch_dataflow_spark"
    )
    users = sorted(
        str(p.relative_to(root)) for p in root.rglob("*.py")
        if "array_intersect(" in p.read_text()
    )
    assert users == ["functions/setjoin.py"], users
