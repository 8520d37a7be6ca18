"""Skew mitigation: salted joins and heavy-hitter aggregation.

AQE's skew-join split (enabled in session.py) handles most skew at
runtime by splitting oversized shuffle partitions.  Salting is the
static fallback for the cases AQE can't fix — a *single* join key so hot
that one (key) group alone exceeds an executor, or aggregation functions
without partial pushdown.  Mechanics:

* fact side: add ``__salt = hash(row) % n`` — splits each hot key's rows
  across n reducers;
* dim side: replicate each row n times (explode over 0..n-1) — every
  (key, salt) bucket still finds its match;
* join on (key, salt); total dim inflation is n×|dim|, bounded and
  chosen, versus an unbounded hot reducer.

The salted plan is correctness-equivalent to the plain join — the
registered query's oracle is the *unsalted* SQL, so the driver gate
proves it, not just a unit test.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import stable_sum, stable_sum_sql
from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)

N_SALT = 8


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salt: int = N_SALT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to a pathologically hot ``on`` key.

    The fact salt is derived from the whole row hash — deterministic
    under task retry, uniform across salt buckets regardless of key
    distribution.
    """
    fact_s = fact.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in fact.columns]), F.lit(n_salt))
    )
    dim_s = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    out = fact_s.join(dim_s, on=[on, "__salt"], how=how)
    return out.drop("__salt")


_SALTED_ORACLE = f"""
    SELECT s_nationkey,
           {stable_sum_sql("l_extendedprice * (1 - l_discount)", "revenue")},
           count(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
"""


@register("q_salted_join_skew", oracle=_SALTED_ORACLE)
def q_salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation revenue through a salted lineitem⋈supplier join
    (supplier treated as too big to broadcast, l_suppkey as hot).  The
    oracle is the plain unsalted join — same result, skew-proof plan.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(lineitem, supplier, on="l_suppkey")
    return joined.groupBy("s_nationkey").agg(
        stable_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
