"""Round-17 optimization gates.

Each test pins one of the r17 performance/scale-safety fixes so it
cannot silently regress: spread_scan's fail-open contract on inputs its
row-group census cannot inspect (VERDICT r16 item 3 / ADVICE r16), the
nested-layout census recursion, and the checkpointed-kernel output
widths (VERDICT r16 item 1) added as the round's A/Bs land.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# spread_scan: fail OPEN on anything the census cannot inspect
# ---------------------------------------------------------------------------


def test_spread_scan_fails_open_on_non_posix_path(spark, sf_dir):
    """An object-store URI (or any path the local census cannot stat)
    must return the input UNCHANGED — never a corpus-wide repartition,
    never a raised error from os.stat/pyarrow."""
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        load_table,
        spread_scan,
    )

    df = load_table(spark, sf_dir, "orders").select("o_orderkey")
    out = spread_scan(
        df, spark, "s3://no-such-bucket/warehouse", "orders", key="o_orderkey"
    )
    assert out is df


def test_spread_scan_noop_when_census_finds_no_files(spark, tmp_path, sf_dir):
    """A directory layout with no visible data files is uninspectable,
    not unsplittable: total=0 must be a no-op (ADVICE r16 — the old
    code read an empty listing as 'fewer splits than cores' and would
    have repartitioned the full corpus at scale)."""
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        load_table,
        scan_data_splits,
        spread_scan,
    )

    os.makedirs(os.path.join(tmp_path, "orders.parquet", "_delta_log"))
    assert scan_data_splits(str(tmp_path), "orders") == 0
    df = load_table(spark, sf_dir, "orders").select("o_orderkey")
    out = spread_scan(df, spark, str(tmp_path), "orders", key="o_orderkey")
    assert out is df


def test_scan_data_splits_recurses_partitioned_layout(spark, tmp_path):
    """A hive-partitioned table keeps data files one directory level
    down; the census must find them (ADVICE r16: the flat listing saw 0
    files), and with >= cores row groups the spread stays a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        scan_data_splits,
        spread_scan,
    )

    cores = spark.sparkContext.defaultParallelism
    groups_per_part = (cores + 2) // 2  # 2 partitions -> cores+1 or +2 total
    root = os.path.join(tmp_path, "orders.parquet")
    for part in range(2):
        d = os.path.join(root, f"bucket={part}")
        os.makedirs(d)
        tbl = pa.table({"o_orderkey": list(range(groups_per_part * 4))})
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"), row_group_size=4)
    assert scan_data_splits(str(tmp_path), "orders") == 2 * groups_per_part
    assert 2 * groups_per_part >= cores
    df = spark.read.parquet(root)
    out = spread_scan(df, spark, str(tmp_path), "orders", key="o_orderkey")
    assert out is df


# ---------------------------------------------------------------------------
# Checkpointed kernel outputs stay byte-sized (VERDICT r16 item 1)
# ---------------------------------------------------------------------------


def test_semantic_edges_checkpoint_width_is_byte_sized(spark, sf_dir):
    """The r16 width pin keeps the block-pair KERNEL wide, but its
    checkpointed output must come back to AQE's byte-sized width —
    consumers (triangles / components / BFS / label conflicts) iterate
    and join this tiny frame per round, and a full-width checkpoint
    re-creates the 'more tasks per round on a tiny frame' regression
    the r16 copurchase A/B identified."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        TRI_TAU,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        semantic_edges,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        clear_shared_kernels,
    )

    clear_shared_kernels()
    try:
        e = semantic_edges(spark, sf_dir, tau=TRI_TAU)
        cores = spark.sparkContext.defaultParallelism
        # the 44k-row edge frame is well under one advisory partition;
        # anything at or above core width means AQE coalescing was lost
        assert e.rdd.getNumPartitions() < max(cores // 2, 2)
    finally:
        clear_shared_kernels()


def test_shared_kernel_checkpoints_byte_sized(spark, sf_dir):
    """minhash_pairs and contaminated_docs checkpoint byte-tiny frames
    (253 / 39 rows at sf0.1): their memoized checkpoints must sit at
    AQE's byte-sized width, not core width — the two-step rebalance
    (checkpoint, then repartition the clean scan) guards against the
    cached-plan partitioning pin regressing silently."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        contaminated_docs,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        minhash_pairs,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        clear_shared_kernels,
    )

    cores = spark.sparkContext.defaultParallelism
    bound = max(cores // 2, 2)
    clear_shared_kernels()
    try:
        assert minhash_pairs(spark, sf_dir).rdd.getNumPartitions() < bound
        assert contaminated_docs(spark, sf_dir).rdd.getNumPartitions() < bound
    finally:
        clear_shared_kernels()
        spark.catalog.clearCache()


def test_hamming_sig_frame_not_spread(spark, sf_dir):
    """The 1-bit signature kernel is one cheap numpy pass over the
    corpus; r16's spread of its input was a measured loss (exchange +
    wide checkpoint cost more than the kernel gained) and is reverted.
    The sig frame must be built without a repartition exchange and the
    checkpoint must stay narrow on the one-row-group fixture."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        _ham_sig_kernel,
        _hamming_sig_frame,
    )

    sig = _hamming_sig_frame(spark, sf_dir, _ham_sig_kernel())
    assert sig.rdd.getNumPartitions() <= 2
    spark.catalog.clearCache()


def test_rerank_corpus_reads_not_spread(spark, sf_dir):
    """The rerank stages of q_ann_pq_rerank / q_ann_hamming_rerank only
    keep O(queries x shortlist) rows out of their corpus joins — the
    r16 spread exchange on those reads was pure task overhead (VERDICT
    r16 item 1) and is reverted: hamming_rerank's plan carries NO
    hashpartitioning(vec_id) exchange, pq_rerank's exactly the ONE its
    ADC encode stage keeps (before the revert they carried 2 and 3)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import similarity
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(similarity.QUERIES["q_ann_hamming_rerank"](spark, sf_dir))
    assert "hashpartitioning(vec_id" not in txt
    txt = plan_text(similarity.QUERIES["q_ann_pq_rerank"](spark, sf_dir))
    assert txt.count("hashpartitioning(vec_id") <= 1
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_ann_recall ground truth: vectorized exact twin == interpreted reference
# ---------------------------------------------------------------------------


def test_recall_ground_truth_matches_bruteforce(spark, sf_dir):
    """The r17 ground-truth builder replaces ~4 s of interpreted
    per-pair JVM fold with _pairwise_sims' bit-identical sequential
    fold + an exact raw-sim per-batch prune.  The WHOLE rowset —
    including raw-ordering ranks and 6-dp cosines — must equal
    q_knn_bruteforce's, at the default batch size AND with tiny Arrow
    batches (many partial top-ks + tie survival through the merge)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        _knn_exact_pairs_vectorized,
        q_knn_bruteforce,
    )

    def rowset(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank, r.cosine) for r in df.collect()
        )

    ref = rowset(q_knn_bruteforce(spark, sf_dir))
    assert rowset(_knn_exact_pairs_vectorized(spark, sf_dir)) == ref
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "13")  # force many batches -> many partial top-ks
        assert rowset(_knn_exact_pairs_vectorized(spark, sf_dir)) == ref
    finally:
        spark.conf.set(key, saved) if saved is not None else spark.conf.unset(key)
    spark.catalog.clearCache()
