"""The session memos of ``sources/tables.py``.  ``shared_kernel``: one
contract test per registered kernel, the per-kernel entry cap, a
same-session fixture rewrite (also under a ``file://`` URI), each
kernel's result against its un-memoized plan, and a guard that keeps
hand-rolled memos out of the operator modules.  ``load_table``'s schema
memo: a repeat load runs no job, a rewrite is seen, and every load is a
fresh relation.  ``clear_shared_kernels`` leaves every memo empty."""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import __spark_entry__
from apache_beam_java_firestore_batch_dataflow_spark.sources import tables
from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
    SHARED_KERNEL_CAP,
    SHARED_KERNELS,
    TABLE_NAMES,
    clear_shared_kernels,
    load_table,
    scan_data_splits,
)

from .conftest import SF_DIR

__spark_entry__.queries()  # imports every operator module, registering its kernels

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPERATORS = os.path.join(ROOT, "apache_beam_java_firestore_batch_dataflow_spark", "operators")

# Parameter values that must key a separate entry from the defaults.
OTHER_PARAMS = {"semantic_edges": {"tau": 0.35}}


def _copy_fixture(dst, tables) -> str:
    os.makedirs(dst, exist_ok=True)
    for t in tables:
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))
    return str(dst)


def _touch_all(d) -> None:
    for f in os.listdir(d):
        path = os.path.join(d, f)
        os.utime(path, ns=(os.stat(path).st_mtime_ns + 1_000_000,) * 2)


def _content(value):
    """A comparable form of a kernel result (frames, arrays, tuples)."""
    if isinstance(value, DataFrame):
        return sorted(tuple(r) for r in value.collect())
    if isinstance(value, tuple):
        return tuple(_content(v) for v in value)
    if isinstance(value, np.ndarray):
        return value.tolist()
    return value


@pytest.mark.parametrize("name", sorted(SHARED_KERNELS))
def test_shared_kernel_memo_contract(spark, tmp_path, name):
    """A hit returns the same object; an mtime bump of the fixture misses
    (evicting the stale entry and any entry of a dead session);
    clear_shared_kernels() forces a rebuild that agrees with the first
    build; other parameters are a separate entry."""
    kernel = SHARED_KERNELS[name]
    memo = kernel.memo
    d = _copy_fixture(tmp_path, TABLE_NAMES)
    clear_shared_kernels()
    try:
        a = kernel(spark, d)
        assert kernel(spark, d) is a, "unchanged fixture must hit"

        foreign = ("application-of-a-dead-session", d, "fingerprint")
        memo[foreign] = object()
        _touch_all(d)
        b = kernel(spark, d)
        assert b is not a, "a fixture rewrite must miss"
        assert foreign not in memo, "a dead session's entry must be evicted on a miss"
        assert len(memo) == 1, "the stale-fingerprint entry must be evicted"
        assert kernel(spark, d) is b

        clear_shared_kernels()
        c = kernel(spark, d)
        assert c is not b, "clear_shared_kernels() must force a rebuild"
        assert _content(c) == _content(b), "a cold rebuild must agree"

        if name in OTHER_PARAMS:
            other = kernel(spark, d, **OTHER_PARAMS[name])
            assert other is not c, "other parameters must be a separate entry"
            assert len(memo) == 2
            assert kernel(spark, d) is c and kernel(spark, d, **OTHER_PARAMS[name]) is other
    finally:
        clear_shared_kernels()
        spark.catalog.clearCache()


def test_shared_kernel_entries_capped_per_kernel(spark, tmp_path):
    """A session touching many fixture directories keeps at most
    SHARED_KERNEL_CAP entries per kernel (each pins checkpoint blocks and
    a py4j handle), oldest dropped first, and still holds the newest."""
    kernel = SHARED_KERNELS["copurchase_adj"]
    clear_shared_kernels()
    try:
        dirs = [
            _copy_fixture(tmp_path / f"sf-{i}", ("orders", "lineitem"))
            for i in range(SHARED_KERNEL_CAP + 2)
        ]
        built = [kernel(spark, d) for d in dirs]
        assert len(kernel.memo) <= SHARED_KERNEL_CAP
        assert [k[1] for k in kernel.memo] == dirs[-SHARED_KERNEL_CAP:]
        assert kernel(spark, dirs[-1]) is built[-1]
    finally:
        clear_shared_kernels()
        spark.catalog.clearCache()


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_shared_kernel_sees_a_rewritten_fixture(spark, tmp_path, scheme):
    """Rewriting a kernel's table in the same session is seen by its next
    call.  A URI that os.stat cannot fingerprint is never memoized, the
    load_table schema-memo rule."""
    kernel = SHARED_KERNELS["copurchase_adj"]
    d = _copy_fixture(tmp_path, ("orders", "lineitem"))
    path = os.path.join(d, "lineitem.parquet")
    clear_shared_kernels()
    try:
        before = _content(kernel(spark, scheme + d))
        assert len(kernel.memo) == (0 if scheme else 1)
        t = pq.read_table(path)
        pq.write_table(t.slice(0, t.num_rows // 2), path)
        after = _content(kernel(spark, scheme + d))
        assert after != before and set(after) <= set(before)
    finally:
        clear_shared_kernels()
        spark.catalog.clearCache()


def _cold_references():
    """name -> the un-memoized computation each kernel must serve."""
    from apache_beam_java_firestore_batch_dataflow_spark.functions.bloom import bloom_build
    from apache_beam_java_firestore_batch_dataflow_spark.operators import (
        curation,
        dedup,
        similarity,
    )

    def copurchase(spark, d):
        orders = load_table(spark, d, "orders")
        li = load_table(spark, d, "lineitem")
        return (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .distinct()
        )

    def eval_grams(spark, d):
        g = curation._contam_grams(spark, d).filter(F.col("split") == "test").select("doc_id", "g")
        return g, bloom_build(g, F.col("g"), curation.CONTAM_BLOOM_BITS, curation.CONTAM_BLOOM_K)

    def pq_codebook(spark, d):
        u = similarity._vecs_spread(spark, d).select("vec_id", "embedding")
        return similarity._pq_lloyd_refine(u, similarity._pq_seed_codebook(u))

    return {
        "semantic_edges": lambda spark, d: similarity.cosine_threshold_pairs(
            spark, d, tau=similarity.SEM_GRAPH_TAU
        ).select("vec_a", "vec_b"),
        "minhash_pairs": lambda spark, d: dedup.q_dedup_minhash_lsh(spark, d).select(
            "doc_a", "doc_b"
        ),
        "copurchase_adj": copurchase,
        "contamination_hits": curation._contamination_hits_plan,
        "contamination_eval_grams": eval_grams,
        "pq_trained_codebook": pq_codebook,
    }


def test_every_shared_kernel_has_a_cold_reference():
    assert set(_cold_references()) == set(SHARED_KERNELS)


@pytest.mark.parametrize("name", sorted(SHARED_KERNELS))
def test_shared_kernel_serves_checkpointed_cold_result(spark, sf_dir, name):
    """Each kernel's memoized frames are checkpoint scans (not the kernel
    plan) holding exactly the rows of the un-memoized computation."""
    clear_shared_kernels()
    try:
        value = SHARED_KERNELS[name](spark, sf_dir)
        for frame in value if isinstance(value, tuple) else (value,):
            if isinstance(frame, DataFrame):
                plan = frame._jdf.queryExecution().optimizedPlan().toString()
                assert plan.startswith("LogicalRDD"), plan
        assert _content(value) == _content(_cold_references()[name](spark, sf_dir))
    finally:
        clear_shared_kernels()
        spark.catalog.clearCache()


def test_pq_trained_codebook_differs_from_seed(spark, sf_dir):
    """The memoized codebook is the refined one: the Lloyd step ran."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        _pq_seed_codebook,
        _vecs,
        pq_trained_codebook,
    )

    clear_shared_kernels()
    try:
        u = _vecs(spark, sf_dir).select("vec_id", "embedding")
        assert not np.array_equal(pq_trained_codebook(spark, sf_dir), _pq_seed_codebook(u))
    finally:
        clear_shared_kernels()


def test_operators_define_no_hand_rolled_memo():
    """Every session memo goes through shared_kernel: no operator module
    keys on the session id or defines its own clear_*_cache hook."""
    offenders = []
    for fname in sorted(os.listdir(OPERATORS)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(OPERATORS, fname)) as fh:
            src = fh.read()
        if "sparkContext.applicationId" in src:
            offenders.append(f"{fname}: sparkContext.applicationId")
        offenders += [f"{fname}: def {m}" for m in re.findall(r"def (clear_\w*_cache)\b", src)]
    assert not offenders, offenders


def _jobs_of(spark, group, fn):
    """Run ``fn`` under Spark job group ``group``; return its result and
    the ids of the jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        value = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return value, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_repeat_runs_no_spark_job(spark, tmp_path):
    """The first load infers the schema with a Spark job; a repeat load
    in the same session reads with the memoized schema and runs none."""
    d = _copy_fixture(tmp_path, ("orders",))
    clear_shared_kernels()
    first, cold_jobs = _jobs_of(spark, "schema-memo-miss", lambda: load_table(spark, d, "orders"))
    again, warm_jobs = _jobs_of(spark, "schema-memo-hit", lambda: load_table(spark, d, "orders"))
    assert cold_jobs, "schema inference runs a job, or this test measures nothing"
    assert warm_jobs == [], "a repeat load must not infer the schema again"
    assert again.schema == first.schema
    assert again.count() == first.count()


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_load_table_sees_a_rewritten_table(spark, tmp_path, scheme):
    """Rewriting a table in the same session (here: one more column)
    changes its fingerprint, so the next load infers the new schema.  A
    URI that os.stat cannot fingerprint is inferred on every load."""
    d = _copy_fixture(tmp_path, ("orders",))
    path = os.path.join(d, "orders.parquet")
    clear_shared_kernels()
    assert "o_extra" not in load_table(spark, scheme + d, "orders").columns
    t = pq.read_table(path)
    pq.write_table(t.append_column("o_extra", pa.array(range(t.num_rows), pa.int64())), path)
    df = load_table(spark, scheme + d, "orders")
    assert "o_extra" in df.columns
    assert df.agg(F.sum("o_extra")).first()[0] == t.num_rows * (t.num_rows - 1) // 2


def test_load_table_returns_a_fresh_relation_per_call(spark, tmp_path):
    """Only the schema is memoized: two loads are separate relations, so
    a self-join on the key resolves and matches each order to itself."""
    d = _copy_fixture(tmp_path, ("orders",))
    clear_shared_kernels()
    a = load_table(spark, d, "orders")
    b = load_table(spark, d, "orders")
    n = pq.ParquetFile(os.path.join(d, "orders.parquet")).metadata.num_rows
    assert a.join(b, a["o_orderkey"] == b["o_orderkey"]).count() == n


def test_clear_shared_kernels_empties_every_memo(spark, sf_dir):
    """clear_shared_kernels() also drops the schema memo and the
    row-group census, so cold state stays reachable."""
    load_table(spark, sf_dir, "orders")
    scan_data_splits(sf_dir, "orders")
    assert tables._SCHEMA_MEMO and tables._SPLIT_CACHE
    clear_shared_kernels()
    assert tables._SCHEMA_MEMO == {} and tables._SPLIT_CACHE == {}
    assert all(not kernel.memo for kernel in SHARED_KERNELS.values())
