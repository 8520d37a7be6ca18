"""SparkSession construction.

One place to encode the scale-aware defaults: AQE on (runtime coalesce +
skew-join handling), UTC session timezone (matches the DuckDB oracle),
Arrow enabled for the Pandas-UDF slow path, and shuffle partitions sized
to the local core count rather than Spark's default 200.  On a real
cluster the same builder is used with ``master`` / ``shuffle_partitions``
supplied by the deployment (e.g. 2-3x total executor cores).

The JVM-wide whole-stage codegen cache is sized to the query registry
(``CODEGEN_CACHE_ENTRIES``): Spark's default of 100 classes is smaller
than one pass over the registry generates, so every repeated query
evicted and recompiled its classes through Janino.  The size is a static
conf, read once when the JVM's code generator initializes, so it only
takes effect in sessions ``build_session`` creates; a session handed in by
the external driver keeps Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# One pass over all 300 registered queries at sf0.001 compiles 3436
# generated classes (CodegenMetrics), and Spark's default cache holds
# 100, so a warm pass recompiled nearly everything it ran.  4096 holds a
# full registry pass with ~19% headroom.  An entry keeps its source text
# (~8 KB mean) and ~2.5 loaded classes (~2.8 KB of bytecode each), so a
# full cache is on the order of 100 MB of driver heap and metaspace.
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = "apache_beam_java_firestore_batch_dataflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults."""
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Spark's default driver heap is 1g — and in local mode the
        # driver IS the executor, so the entire 32-thread engine was
        # GC-thrashing inside 1 GB on a 128 GiB host (measured: the
        # bench's 4M-row skew leg varied 2.5s-12s run to run, and 16M
        # rows OOMed).  Size the heap to the work; must be set before
        # the JVM launches, hence here and not per-query.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and normalize in sources/tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
