"""Round-16 optimization gates.

Each test pins one of the r16 performance fixes so it cannot silently
regress: the scale-adaptive unsplittable-input spread, the HLL-sketch
aggregation split, the token-bucket mapInArrow fold (including the
group-spans-arrow-batches path the fixture alone never exercises), the
grouped-map exchange-width pin, and the HITS lineage truncation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# spread_scan: the unsplittable-input rule is conditional on row groups
# ---------------------------------------------------------------------------


def test_spread_scan_active_on_single_row_group_fixture(spark, sf_dir):
    """The driver fixtures are one row group per table, so the spread
    must fire: the returned frame carries a user-pinned repartition."""
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        load_table,
        scan_data_splits,
        spread_scan,
    )

    cores = spark.sparkContext.defaultParallelism
    assert scan_data_splits(sf_dir, "orders") < cores
    df = load_table(spark, sf_dir, "orders").select("o_orderkey")
    out = spread_scan(df, spark, sf_dir, "orders", key="o_orderkey")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan
    # hash repartition on the key, not round-robin (no sort pass)
    assert "hashpartitioning(o_orderkey" in plan


def test_spread_scan_noop_when_splits_cover_cores(spark, tmp_path):
    """A table whose parquet footer shows >= cores row groups must come
    back UNTOUCHED — at any real at-scale layout the rule is a no-op
    (no exchange, pushdown/codegen unchanged)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        scan_data_splits,
        spread_scan,
    )

    cores = spark.sparkContext.defaultParallelism
    n_groups = cores + 1
    tbl = pa.table({"o_orderkey": list(range(n_groups * 4))})
    path = os.path.join(tmp_path, "orders.parquet")
    pq.write_table(tbl, path, row_group_size=4)
    assert scan_data_splits(str(tmp_path), "orders") == n_groups
    df = spark.read.parquet(path)
    out = spread_scan(df, spark, str(tmp_path), "orders", key="o_orderkey")
    assert out is df  # identity: no repartition node added


# ---------------------------------------------------------------------------
# approx-distinct sketch: the HLL buffer must never be keyed per custkey
# ---------------------------------------------------------------------------


def test_sketch_partial_never_keyed_by_custkey(spark, sf_dir):
    """The r16 pathology: countDistinct + approx_count_distinct in ONE
    agg made Catalyst evaluate partial_approx_count_distinct keyed by
    (priority, custkey) — a 1639-word sketch buffer PER DISTINCT KEY
    through the exchange.  Pin the fix: wherever the plan computes an
    approx_count_distinct partial, the aggregate's grouping keys must
    not include o_custkey."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import relational
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = relational.QUERIES["q_approx_distinct_sketch"](spark, sf_dir)
    txt = plan_text(df)
    assert "approx_count_distinct" in txt
    last_keys = ""
    for line in txt.splitlines():
        ls = line.strip()
        if ls.startswith("Keys ["):
            last_keys = ls
        if ls.startswith("Functions [") and "approx_count_distinct" in ls:
            assert "o_custkey" not in last_keys, last_keys


def test_sketch_values_unchanged_by_split(spark, sf_dir):
    """HLL registers are max-of-hashes, insensitive to duplicates: the
    sketch over deduped (priority, custkey) rows equals the sketch over
    raw orders.  Assert it directly (the boolean the oracle hashes
    depends on it)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        HLL_RSD,
        _t,
    )

    o = _t(spark, sf_dir, "orders")
    raw = {
        r["o_orderpriority"]: r["s"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.approx_count_distinct("o_custkey", rsd=HLL_RSD).alias("s"))
        .collect()
    }
    dedup = {
        r["o_orderpriority"]: r["s"]
        for r in o.select("o_orderpriority", "o_custkey")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.approx_count_distinct("o_custkey", rsd=HLL_RSD).alias("s"))
        .collect()
    }
    assert raw == dedup
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# token bucket: mapInArrow fold, including groups spanning Arrow batches
# ---------------------------------------------------------------------------


def test_token_bucket_groups_spanning_arrow_batches(spark, sf_dir):
    """The partition fold concatenates its Arrow batches because one
    user's rows may arrive split across batches.  The fixture's groups
    are far smaller than the default 10k-row batch, so force tiny
    batches and assert the rowset is identical to the default-batch
    run — the spanning path computes the same trajectories."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        q_events_token_bucket,
    )

    def rowset():
        return sorted(
            (r.user_id, r.event_id, r.allowed, r.tokens_after_ut)
            for r in q_events_token_bucket(spark, sf_dir).collect()
        )

    base = rowset()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")  # far below any user's event count
        tiny = rowset()
    finally:
        spark.conf.set(key, saved) if saved is not None else spark.conf.unset(key)
    assert base == tiny
    spark.catalog.clearCache()


def test_token_bucket_single_pinned_shuffle(spark, sf_dir):
    """One hash repartition on user_id (width pinned against AQE's
    byte-based coalescing) feeding one MapInArrow — no grouped-map
    node, no second exchange."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        q_events_token_bucket,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import (
        num_shuffles,
        plan_text,
    )

    df = q_events_token_bucket(spark, sf_dir)
    assert num_shuffles(df) == 1
    txt = plan_text(df)
    assert "MapInArrow" in txt
    assert "FlatMapGroupsInArrow" not in txt
    assert "hashpartitioning(user_id" in txt


# ---------------------------------------------------------------------------
# grouped-map zscore: tier preserved, exchange width pinned
# ---------------------------------------------------------------------------


def test_grouped_map_zscore_keeps_tier_with_pinned_width(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.operators.udfs import (
        QUERIES as UDF_QUERIES,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import (
        num_shuffles,
        plan_text,
    )

    df = UDF_QUERIES["q_udf_grouped_map_zscore"](spark, sf_dir)
    txt = plan_text(df)
    # the API tier under proof is still the grouped map
    assert "FlatMapGroupsInPandas" in txt
    # the repartition IS the groupBy's shuffle: exactly one exchange
    assert num_shuffles(df) == 1


# ---------------------------------------------------------------------------
# HITS: per-half-round truncation keeps the plan O(1) in rounds
# ---------------------------------------------------------------------------


def test_hits_plan_truncated(spark, sf_dir):
    """Before r16 each half-round consumed the previous scores twice
    and the 2-round plan carried 412 Exchange nodes; the checkpointed
    raw frames keep the final plan shallow.  Bound well below the old
    pathology so a reintroduced doubling fails loudly."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        QUERIES as GRAPH_QUERIES,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = GRAPH_QUERIES["q_graph_hits"](spark, sf_dir)
    txt = plan_text(df)
    assert txt.count("Exchange") < 40, txt.count("Exchange")
    spark.catalog.clearCache()
