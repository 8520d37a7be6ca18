"""Generic file-format IO (parquet/orc/csv/json/text) with scale-sane
defaults.

The reference reads exactly one format — line text via ``TextIO.read()``
(NaiveImplementation.java:36) — and writes none.  A general engine needs
the full format matrix; Spark ships the readers, so this module's value
is the guard rails that matter at 100 TB:

* **No schema inference on text formats.** Inferring a csv/json schema
  scans the data once before the real job — doubling IO at scale.
  ``read_table`` therefore *requires* an explicit schema for csv/json
  unless ``allow_inference=True`` is passed deliberately.
* **Partitioned layout.** ``write_table(partition_by=...)`` produces
  hive-style directories; reads with a filter on the partition column
  prune whole directories (``PartitionFilters`` in the scan, verified in
  tests/test_formats.py).
* Self-describing columnar formats (parquet/orc) pass schema through and
  keep predicate pushdown + column pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SELF_DESCRIBING = {"parquet", "orc"}
TEXTUAL = {"csv", "json"}
FORMATS = SELF_DESCRIBING | TEXTUAL | {"text"}


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: str | None = None,
    allow_inference: bool = False,
    **options: str,
) -> DataFrame:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {sorted(FORMATS)}")
    if fmt in TEXTUAL and schema is None and not allow_inference:
        raise ValueError(
            f"{fmt} read requires an explicit schema (inference scans the whole "
            "dataset first); pass allow_inference=True to override deliberately"
        )
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {sorted(FORMATS)}")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


# ---------------------------------------------------------------------------
# Driver-checkable round-trip queries: write a fixture table out in each
# text/columnar format, read it back through read_table, return the rows.
# The DuckDB oracle reads the original parquet — a value-hash match proves
# the format path is lossless (doubles use shortest-round-trip repr; ORC
# preserves timestamp instants under the pinned UTC session).
# ---------------------------------------------------------------------------

import os
import tempfile
from collections.abc import Callable

from ..registry import registrar

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
_register = registrar(QUERIES, ORACLES)


_SCRATCH_ROOT: str | None = None


def _scratch_path(tag: str, sf_dir: str) -> str:
    """Deterministic per-(query, sf) scratch dir + mode=overwrite, so
    repeated driver/bench runs within one process reuse one directory
    instead of leaking a fresh mkdtemp table copy per invocation.  The
    root is a session-scoped mkdtemp (cached in a module global): two
    concurrent sessions — bench.py while the driver runs, or two users
    on a shared host — never write/read the same path, and the
    predictable-/tmp-name symlink hazard of a fixed path is avoided."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark-graft-fmt-")
    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(_SCRATCH_ROOT, f"{tag}-{sf}")


_SUPPLIER_ORACLE = (
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"
)


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str, table: str,
               cols: list[str]) -> DataFrame:
    from .tables import load_table

    df = load_table(spark, sf_dir, table).select(*cols)
    path = _scratch_path(f"{fmt}-{table}", sf_dir)
    write_table(df, path, fmt, mode="overwrite")
    return read_table(spark, path, fmt, schema=df.schema)


@_register("q_format_roundtrip_csv", _SUPPLIER_ORACLE)
def q_format_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → CSV (header, explicit schema on read) → identical rows."""
    return _roundtrip(
        spark, sf_dir, "csv", "supplier",
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )


@_register("q_format_roundtrip_json", _SUPPLIER_ORACLE)
def q_format_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → JSON lines (explicit schema on read) → identical rows."""
    return _roundtrip(
        spark, sf_dir, "json", "supplier",
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )


@_register(
    "q_format_roundtrip_orc",
    "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders",
)
def q_format_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC → identical rows, incl. timestamp instants (UTC session)."""
    return _roundtrip(
        spark, sf_dir, "orc", "orders",
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )


@_register(
    "q_partitioned_write_prune",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def q_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders written as a hive-partitioned layout (partitionBy priority),
    read back with a partition filter: the scan touches only the two
    matching directories (``PartitionFilters`` in the plan — pinned in
    tests/test_plans.py), the on-disk layout every 100 TB fact table
    needs for partition pruning."""
    from pyspark.sql import functions as F

    from .tables import load_table

    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = _scratch_path("part-orders", sf_dir)
    write_table(df, path, "parquet", mode="overwrite",
                partition_by=["o_orderpriority"])
    return (
        read_table(spark, path, "parquet")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


_BUCKETED_ORACLE = """
    SELECT o.o_custkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(l.l_quantity) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_custkey
"""


@_register("q_bucketed_join_copartitioned", _BUCKETED_ORACLE)
def q_bucketed_join_copartitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout-investment join: orders and lineitem are written as
    bucketed tables on the join key, then joined — the daily fact-fact
    join of a 100 TB warehouse, where paying one bucketed write removes
    the per-query join shuffle forever after
    (tests/test_bucketing.py pins the no-exchange sort-merge plan; this
    registered query proves the VALUES survive the bucketed round-trip).

    The bucket count (8 here) is the knob that must scale with data:
    at 100 TB you bucket to ~128 MB files (thousands of buckets), and
    both sides must agree on it.  l_quantity is integer-valued, so the
    double sum is exact (< 2^53) under any reduction order.
    """
    from pyspark.sql import functions as F

    from .tables import load_table

    sf_tag = (os.path.basename(sf_dir.rstrip("/")) or "sf").replace(".", "_")
    t_orders, t_lineitem = f"graft_b_orders_{sf_tag}", f"graft_b_li_{sf_tag}"
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    for name, df in ((t_orders, orders), (t_lineitem, lineitem)):
        (
            df.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", _scratch_path(f"bucket-{name}", sf_dir))
            .mode("overwrite")
            .saveAsTable(name)
        )
    joined = spark.table(t_orders).join(spark.table(t_lineitem), "o_orderkey")
    return joined.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").cast("double").alias("total_qty"),
    )


CORRUPT_MOD = 17  # every doc_id % 17 == 0 line is truncated mid-JSON


@_register(
    "q_format_corrupt_quarantine",
    f"""
    WITH lines AS (
      SELECT doc_id, n_chars,
             '{{"doc_id":' || doc_id || ',"n_chars":' || n_chars || '}}'
                 AS good,
             (doc_id % {CORRUPT_MOD} = 0) AS is_bad
      FROM documents
    )
    SELECT CASE WHEN is_bad THEN NULL ELSE doc_id END AS doc_id,
           CASE WHEN is_bad THEN NULL ELSE n_chars END AS n_chars,
           is_bad AS is_corrupt,
           CASE WHEN is_bad
                THEN CAST(length(good) - 1 AS BIGINT) ELSE NULL END AS raw_len
    FROM lines
    """,
)
def q_format_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine: a JSONL feed where every
    doc_id % {CORRUPT_MOD} == 0 line is truncated mid-object is read
    under PERMISSIVE mode with a `_corrupt_record` column — bad lines
    surface as NULL-field rows carrying the raw text instead of
    failing the job or silently vanishing (FAILFAST/DROPMALFORMED).
    The ingest-robustness contract every production feed needs: count,
    quarantine, continue.

    The writer synthesizes the feed declaratively (to_json + substring
    truncation) so the oracle can recompute exactly which rows are bad
    and how long their raw text is; the read back is schema-explicit
    (no inference scan — this module's standing rule).  Corrupt-row
    detection is per-row map work in the scan stage; quarantined rows
    cost one extra string column, never a second pass."""
    from pyspark.sql import functions as F

    from .tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    line = F.to_json(F.struct("doc_id", "n_chars"))
    out = docs.select(
        F.when(
            F.col("doc_id") % CORRUPT_MOD == 0,
            F.substring(line, 1, 10_000).substr(F.lit(1), F.length(line) - 1),
        )
        .otherwise(line)
        .alias("value")
    )
    path = _scratch_path("jsonl-corrupt", sf_dir)
    out.coalesce(1).write.mode("overwrite").text(path)
    read = (
        spark.read.schema("doc_id long, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return read.select(
        "doc_id",
        "n_chars",
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
        F.length("_corrupt_record").cast("bigint").alias("raw_len"),
    )


@_register(
    "q_join_dynamic_partition_pruning",
    """
    WITH dim AS (
      SELECT DISTINCT o_orderpriority AS pri,
             length(o_orderpriority) AS pri_len
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    )
    SELECT d.pri, CAST(max(d.pri_len) AS INT) AS pri_len,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(round(o.o_totalprice, 6) AS DECIMAL(30,6))), 2)
                AS DOUBLE) AS revenue
    FROM orders o JOIN dim d ON o.o_orderpriority = d.pri
    GROUP BY d.pri
    """,
)
def q_join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    hive-partitioned by priority, the filter lives on the DIMENSION
    side only, and Catalyst injects the dim's surviving keys into the
    fact scan AT RUNTIME — the fact never declares the filter, yet 3 of
    its 5 partition directories are skipped (`dynamicpruning#...` in
    the scan's PartitionFilters, pinned in tests/test_plans.py).

    This is the star-schema pattern static pruning can't serve: the
    selective predicate is on the dim ("this quarter", "these
    segments"), the fact is partitioned by the join key, and at 100 TB
    DPP is routinely the difference between scanning 3 days and 3
    years.  The hive-partitioned copy is written once to scratch
    (overwrite, reused across invocations in-process)."""
    from pyspark.sql import functions as F

    from .tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    path = _scratch_path("orders-by-priority", sf_dir)
    write_table(
        orders, path, "parquet", mode="overwrite", partition_by=["o_orderpriority"]
    )
    fact = spark.read.parquet(path)
    dim = (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.length("o_orderpriority").alias("pri_len"),
        )
        .distinct()
    )
    return (
        fact.join(dim, fact.o_orderpriority == dim.pri)
        .groupBy("pri")
        .agg(
            F.max("pri_len").cast("int").alias("pri_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice"), 6).cast("decimal(30,6)")), 2
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@_register(
    "q_format_schema_evolution",
    # The oracle reconstructs the merged view from the ORIGINAL table:
    # old-schema rows surface with NULL in the added column.
    """
    SELECT s_suppkey, s_name, s_nationkey, CAST(NULL AS DOUBLE) AS s_acctbal
    FROM supplier WHERE s_suppkey % 2 = 0
    UNION ALL
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier WHERE s_suppkey % 2 = 1
    """,
)
def q_format_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read — the lakehouse capability every long-lived
    table needs: a batch written under an OLD schema (3 columns) and a
    batch written after a column was added (4 columns) are read together
    with ``mergeSchema``, and the old rows surface with NULL in the new
    column instead of failing the read.

    The engine really writes two parquet generations and really merges
    their footers; the oracle rebuilds the expected union from the
    original table, so the value-hash proves both the union schema and
    the NULL back-fill.  Scale shape: schema merging is a FOOTER
    operation (O(files) metadata, not data); the scan itself remains
    one pass with pushdown intact."""
    from pyspark.sql import functions as F

    from .tables import load_table

    supp = load_table(spark, sf_dir, "supplier")
    old = supp.filter(F.col("s_suppkey") % 2 == 0).select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    new = supp.filter(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    p_old = _scratch_path("evo-v1", sf_dir)
    p_new = _scratch_path("evo-v2", sf_dir)
    old.write.mode("overwrite").parquet(p_old)
    new.write.mode("overwrite").parquet(p_new)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(p_old, p_new)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )
