"""The Python UDF surface, demonstrated at each API tier with full
DuckDB-oracle parity.

The reference's only extension points are row-at-a-time Java callbacks
(``DoFn``/``SimpleFunction``/``InputToDocumentRefUpdater`` — SURVEY.md
§2.2 UDF row).  Spark-first, the hierarchy is:

1. built-in columnar expressions (always preferred — JVM codegen);
2. ``@pandas_udf`` scalar — Arrow-vectorized, one pandas Series per
   batch (~10-100× over row-at-a-time Python);
3. ``@pandas_udf`` grouped-agg — a custom aggregation function over a
   whole group's Series, usable in ``agg()`` and windows;
4. ``applyInPandas`` grouped-map — arbitrary per-group pandas logic with
   an explicit output schema (the UDTF-shaped escape hatch).

Every query here *could* be built-ins (the docstrings show how); they
exist to prove the slow-path plumbing — Arrow batching, group
partitioning, schema contracts — against the same oracle gate as the
fast path.  In production code the built-in wins unless the logic
genuinely needs numpy/pandas.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)


# --- tier 2: scalar pandas_udf ---------------------------------------------


@pandas_udf(DoubleType())
def margin_rate(extended: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
    """Vectorized per-row arithmetic (built-in equivalent:
    ``(1-discount)*(1+tax)`` column expression)."""
    return (1.0 - discount) * (1.0 + tax)


@register(
    "q_udf_scalar_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round((1 - l_discount) * (1 + l_tax), 6) AS DOUBLE) AS rate
    FROM lineitem
    WHERE l_quantity >= 49
    """,
)
def q_udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            margin_rate(F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")),
            6,
        ).cast("double").alias("rate"),
    )


# --- tier 3: grouped-agg pandas_udf ----------------------------------------


@pandas_udf(DoubleType())
def weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
    """Quantity-weighted mean price (built-in equivalent:
    ``sum(price*qty)/sum(qty)``)."""
    denom = qty.sum()
    return float((price * qty).sum() / denom) if denom else float("nan")


@register(
    "q_udf_grouped_agg_pandas",
    oracle="""
    SELECT l_returnflag,
           CAST(round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS DOUBLE)
               AS w_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_udf_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_avg_price(F.col("l_extendedprice"), F.col("l_quantity")), 4)
        .cast("double")
        .alias("w_avg_price")
    )


# --- tier 4: applyInPandas grouped-map --------------------------------------


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Population z-score of event values within one user's history
    (built-in equivalent: avg/stddev_pop window functions)."""
    mean = pdf["value"].mean()
    std = pdf["value"].std(ddof=0)
    z = (pdf["value"] - mean) / std if std > 0 else pdf["value"] * 0.0
    return pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "z": z.round(4),
        }
    )


@register(
    "q_udf_grouped_map_zscore",
    oracle="""
    SELECT user_id, event_id,
           CAST(round(CASE WHEN stddev_pop(value) OVER w > 0
                           THEN (value - avg(value) OVER w) / (stddev_pop(value) OVER w)
                           ELSE 0.0 END, 4) AS DOUBLE) AS z
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def q_udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    # r16: pin the grouped-map's exchange width explicitly.  AQE sizes
    # post-shuffle partitions by BYTES; a Python grouped-map stage's
    # cost is per group/row, so letting the (tiny-bytes) exchange
    # coalesce serializes the interpreter work onto ~1 task (measured
    # at sf0.1: 4.25 s -> 1.36 s with the same applyInPandas kernel).
    # The repartition IS the shuffle the groupBy would have planned —
    # same key, no extra exchange — and the query stays the registered
    # grouped-map (FlatMapGroupsInPandas) API-tier proof.
    n_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    )
    return events.repartition(n_parts, "user_id").groupBy("user_id").applyInPandas(
        _zscore_group, schema="user_id long, event_id long, z double"
    )


# --- tier 5: Python UDTF (table function + LATERAL join) --------------------

UDTF_CHUNK = 10  # words per chunk

_UDTF_CHUNK_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), s -> length(s) > 0) AS ws
      FROM documents
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(ws[i * {UDTF_CHUNK} + 1 : (i + 1) * {UDTF_CHUNK}], ' ')
               AS chunk,
           CAST(least({UDTF_CHUNK}, len(ws) - i * {UDTF_CHUNK}) AS INT)
               AS n_words
    FROM toks, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ws) / {UDTF_CHUNK}.0)
                                                    AS BIGINT))) AS i)
"""


@register("q_udtf_chunk_words", oracle=_UDTF_CHUNK_ORACLE)
def q_udtf_chunk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF tier: a table function that explodes each document
    into numbered {UDTF_CHUNK}-word chunks via ``LATERAL`` — the one
    UDF shape the other tiers don't cover (one input row → many typed
    output rows, composable inside SQL).  Spark 4 runs Python UDTFs
    natively; `spark.sql.execution.pythonUDTF.arrow.enabled` batches
    them over Arrow like pandas UDFs.

    The chunk rule is deliberately trivial and engine-portable — the
    point is the API tier, and as the docstring convention here goes:
    this COULD be the built-in split+sequence+slice plan
    `q_chunk_documents` already runs (and should be, in production);
    the UDTF exists to prove the table-function plumbing against the
    same oracle gate.  Scale: a UDTF is a narrow per-row expansion —
    no shuffle; the explode happens inside the scan stage like any
    Generate."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk string, n_words int")
    class ChunkWords:
        def eval(self, text: str):
            if text is None:
                return
            words = [w for w in text.split(" ") if w]
            for i in range(0, len(words), UDTF_CHUNK):
                part = words[i : i + UDTF_CHUNK]
                yield i // UDTF_CHUNK, " ".join(part), len(part)

    spark.udtf.register("chunk_words", ChunkWords)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_words
        FROM udtf_docs d, LATERAL chunk_words(d.text) c
        """
    )
