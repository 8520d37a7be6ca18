"""Loaders for the driver's deterministic parquet tables (TESTDATA.md).

Parquet scans get predicate pushdown + column pruning from Catalyst for
free; callers should select/filter *before* wide ops so the scan node
shows ``PushedFilters``/narrow ``ReadSchema`` (see plans/explain.py).

Also home of :func:`shared_kernel`, the one session memo behind every
kernel whose materialized result several queries share.
"""

from __future__ import annotations

import functools
import inspect
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fixture_fingerprint(sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> str:
    """Cheap driver-side fingerprint of the fixture files under ``sf_dir``
    (path, mtime_ns, size per parquet file/dir-member).  O(tables)
    ``os.stat`` calls — never reads data.  A rewrite of any of ``names``
    changes mtime/size and hence the fingerprint, which is how a
    :func:`shared_kernel` memo notices a stale fixture."""
    parts: list[tuple[str, int, int]] = []
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            for entry in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, entry))
                parts.append((f"{name}/{entry}", st.st_mtime_ns, st.st_size))
        elif os.path.exists(path):
            st = os.stat(path)
            parts.append((name, st.st_mtime_ns, st.st_size))
    return repr(parts)


# Entries held per kernel: covers the sf0.001/sf0.01/sf0.1 pattern of one
# session with headroom; beyond it the oldest entry is dropped and
# rebuilt on its next use.
SHARED_KERNEL_CAP = 4
# name -> memoized kernel; each kernel's entries are in its ``memo`` dict.
SHARED_KERNELS: dict[str, Callable] = {}


def shared_kernel(name: str, tables: tuple[str, ...]):
    """Memoize ``build(spark, sf_dir, *params)`` — a shared kernel whose
    eagerly materialized result several queries consume — once per
    session, fixture and parameter set.

    Contract:

    * key ``(applicationId, sf_dir, fixture_fingerprint(sf_dir, tables),
      *params)`` with defaults applied, so a kernel's parameters key it
      and a new SparkSession never sees another session's dead frame;
    * a hit returns the very object built on the miss;
    * results usually hold ``localCheckpoint`` blocks, which
      ``spark.catalog.clearCache()`` does not release — so a same-session
      rewrite of ``tables`` must change the fingerprint, miss and
      rebuild rather than serve stale blocks;
    * a fixture ``os.stat`` cannot see (a ``file://`` or object-store
      URI: empty fingerprint) has nothing to notice a rewrite by, so its
      kernel is built on every call and never memoized — the
      ``load_table`` schema-memo rule;
    * on a miss, entries of other sessions and this sf_dir's entries
      with a stale fingerprint are evicted, then the oldest entries until
      fewer than ``SHARED_KERNEL_CAP`` remain;
    * :func:`clear_shared_kernels` drops every entry (cold rebuilds);
    * the kernel is registered in ``SHARED_KERNELS[name]``.  A kernel
      built inside another's build must be registered after it (defined
      later in its module), so a registry-order prebuild times it inside
      its parent.
    """

    def register(build: Callable) -> Callable:
        sig = inspect.signature(build)
        memo: dict[tuple, object] = {}

        @functools.wraps(build)
        def kernel(spark: SparkSession, sf_dir: str, *args, **kwargs):
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            app = spark.sparkContext.applicationId
            fp = fixture_fingerprint(sf_dir, tables)
            if fp == "[]":
                return build(*bound.args, **bound.kwargs)
            key = (app, sf_dir, fp, *list(bound.arguments.values())[2:])
            hit = memo.get(key)
            if hit is not None:
                return hit
            for k in [k for k in memo if k[0] != app or (k[1] == sf_dir and k[2] != fp)]:
                del memo[k]
            while len(memo) >= SHARED_KERNEL_CAP:
                del memo[next(iter(memo))]
            memo[key] = value = build(*bound.args, **bound.kwargs)
            return value

        kernel.memo = memo
        SHARED_KERNELS[name] = kernel
        return kernel

    return register


def clear_shared_kernels() -> None:
    """Drop every shared-kernel entry (the checkpoint blocks are reclaimed
    by GC once the frames are unreferenced), every memoized table schema
    and the row-group census, so the next use of each is cold."""
    for kernel in SHARED_KERNELS.values():
        kernel.memo.clear()
    _SCHEMA_MEMO.clear()
    _SPLIT_CACHE.clear()


_SPLIT_CACHE: dict[tuple, int] = {}
# (applicationId, sf_dir, name, fixture_fingerprint) -> inferred schema.
_SCHEMA_MEMO: dict[tuple, StructType] = {}


def scan_data_splits(sf_dir: str, name: str) -> int:
    """Number of parquet ROW GROUPS across the table's files — the upper
    bound on scan tasks that can actually produce rows.  A row group is
    parquet's split atom: Spark may cut a file into more byte-range
    splits, but every split that does not contain a row-group start
    yields an EMPTY task, so ``getNumPartitions()`` over-reports the
    scan's real parallelism (the driver fixtures are one file of one
    row group per table — the whole map side of every query runs as ONE
    task no matter the split count).  Footer-only reads, cached by
    (path, mtime, size) like ``fixture_fingerprint``.

    r17 (ADVICE r16): recurses into nested directories (a
    hive-partitioned layout keeps its data files one level down per
    partition value), so a partitioned table censuses its real row-group
    count instead of reading an empty top-level listing as 0.  May raise
    on non-local URIs — ``spread_scan`` treats any failure as
    "uninspectable, assume splittable" and fails OPEN."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, e)
            for root, _dirs, names in os.walk(path)
            for e in names
            if e.endswith(".parquet")
        )
    else:
        files = [path]
    total = 0
    for f in files:
        st = os.stat(f)
        key = (f, st.st_mtime_ns, st.st_size)
        if key not in _SPLIT_CACHE:
            _SPLIT_CACHE[key] = pq.ParquetFile(f).metadata.num_row_groups
        total += _SPLIT_CACHE[key]
    return total


def spread_scan(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str,
    key: str | None = None,
) -> DataFrame:
    """Scale-adaptive unsplittable-input rule: when the table's scan can
    produce rows in FEWER tasks than the session has cores (single file,
    single row group — the driver-fixture layout, or any 'one huge
    unsplittable file' input), repartition right after the read so the
    map-side work actually parallelizes; when the scan already has at
    least ``defaultParallelism`` data-bearing splits (any real at-scale
    layout), this is a NO-OP — the plan gains no exchange and predicate
    pushdown/codegen are untouched.

    Callers apply it AFTER their pushable filters and narrow projection,
    so the conditional exchange carries only the columns the downstream
    kernel needs.  ``key`` (a unique/high-cardinality column) selects
    hash partitioning — deterministic and free of round-robin's
    sort-before-repartition pass; omit it for round-robin.

    Fails OPEN (r17, VERDICT r16 item 3 / ADVICE r16): the row-group
    census is a local-filesystem + pyarrow inspection; on an object-store
    URI, a permissions error, a format this census cannot read, or a
    layout that yields no visible data files, the input is treated as
    already-splittable and ``df`` is returned untouched — the rule may
    only ever ADD parallelism it can prove is missing, never a corpus
    shuffle (or a crash) on inputs it cannot inspect."""
    cores = spark.sparkContext.defaultParallelism
    try:
        splits = scan_data_splits(sf_dir, name)
    except Exception:  # noqa: BLE001 — uninspectable input: fail open
        return df
    if splits == 0 or splits >= cores:
        return df
    return df.repartition(cores, key) if key else df.repartition(cores)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.

    Side effect (documented, deliberate): sets two session confs the
    fixture semantics require — ``nanosAsLong`` (the driver's
    events.parquet stores TIMESTAMP(NANOS), which the reader otherwise
    rejects) and ``session.timeZone=UTC`` (date/timestamp literals must
    match the DuckDB oracles' UTC wall time).  ``build_session`` already
    sets both; this re-set only matters for vanilla sessions handed in by
    the external driver.  A conflicting pre-set timezone is overwritten
    with a warning rather than silently, so a caller mixing non-UTC work
    into the same session finds out.

    Schema memo: inferring a parquet schema runs a one-task Spark job
    over the footers (~0.1 s warm, against ~0.02 s for a read with the
    schema supplied).  The inferred ``StructType`` is memoized per
    ``(applicationId, sf_dir, name, fixture_fingerprint(sf_dir, (name,)))``,
    so a repeat load runs no job and a rewrite of the table (new mtime or
    size, file or directory members) infers again.  Only the schema is
    memoized, never the DataFrame: every call returns a fresh relation
    with fresh attribute ids, so self-joins of two loads resolve and no
    query reuses another's shuffle output.  On a miss, entries of other
    sessions and stale fingerprints of the same table are evicted;
    :func:`clear_shared_kernels` empties the memo.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz not in (None, "UTC", "Etc/UTC"):
        import warnings

        warnings.warn(
            f"load_table pins spark.sql.session.timeZone=UTC (was {tz!r}); "
            "fixture timestamps and the DuckDB oracles assume UTC",
            stacklevel=2,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    app = spark.sparkContext.applicationId
    fp = fixture_fingerprint(sf_dir, (name,))
    key = (app, sf_dir, name, fp)
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        # A path os.stat cannot see (a file:// or object-store URI) has no
        # fingerprint to notice a rewrite by: infer its schema every time.
        if fp != "[]":
            for k in [k for k in _SCHEMA_MEMO if k[0] != app or k[1:3] == key[1:3]]:
                _SCHEMA_MEMO.pop(k, None)
            _SCHEMA_MEMO[key] = df.schema
    # The driver has shipped events.ts as TIMESTAMP(NANOS) (read as long
    # under nanosAsLong) and as plain TIMESTAMP_NTZ micros across fixture
    # regenerations.  Normalize the nanos-as-long flavor here; NTZ columns
    # are left as-is (their collected wall-clock values are tz-independent
    # and match DuckDB naive timestamps exactly — epoch arithmetic goes
    # through functions/timeutil.epoch_us, which accepts either type).
    from pyspark.sql import functions as F

    for field_name, dtype in df.dtypes:
        if field_name == "ts" and dtype == "bigint" and name == "events":
            df = df.withColumn(
                field_name, F.timestamp_micros(F.expr(f"{field_name} div 1000"))
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
