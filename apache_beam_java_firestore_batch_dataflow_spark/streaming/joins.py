"""Stream-stream join and streaming deduplication — unified-API
transforms over ``events``, completing the Structured Streaming surface
(windows.py covers windowed aggregation; this covers the two other
stateful streaming operator families Spark provides).

Like windows.py, every transform is a pure ``DataFrame -> DataFrame``
that runs identically on a batch scan (DuckDB oracle) and on
``readStream`` (tests/test_streaming_joins.py proves incremental
execution and bounded state).

Scale design:

* A stream-stream join without a time bound must buffer BOTH streams
  forever.  The interval condition (`right.ts` in [left.ts, left.ts+2h))
  plus watermarks on both sides lets Spark evict join state older than
  the bound — state is O(rate × bound), not O(history).
* Streaming dedup keys state by the dedup key; with
  ``dropDuplicatesWithinWatermark`` the key set is evicted as event time
  passes, so at-least-once sources (Kafka replays, task retries) are
  absorbed with bounded memory.  In batch the same key-projection
  dedup is a single hash aggregate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_us
from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)

JOIN_BOUND_S = 7200  # right side matches within [left.ts, left.ts + 2h)


def click_error_interval_join(
    clicks: DataFrame, errors: DataFrame
) -> DataFrame:
    """Inner join: each click paired with the same user's errors in the
    next 2 hours.  The equi-key (user_id) carries the shuffle; the
    interval predicate is the state-eviction bound when streaming."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    e = errors.select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("error_ts"),
        F.col("event_id").alias("error_id"),
    )
    return (
        c.join(
            e,
            (F.col("c_user") == F.col("e_user"))
            & (F.col("error_ts") >= F.col("click_ts"))
            & (
                F.col("error_ts")
                < F.col("click_ts") + F.expr(f"INTERVAL {JOIN_BOUND_S} SECONDS")
            ),
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "click_ts",
            "error_id",
            "error_ts",
            (epoch_us("error_ts") - epoch_us("click_ts")).alias(
                "lag_us"
            ),
        )
    )


_INTERVAL_JOIN_ORACLE = f"""
    SELECT c.user_id,
           c.event_id AS click_id, c.ts AS click_ts,
           e.event_id AS error_id, e.ts AS error_ts,
           epoch_us(e.ts) - epoch_us(c.ts) AS lag_us
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND e.ts >= c.ts AND e.ts < c.ts + INTERVAL {JOIN_BOUND_S} SECOND
"""


@register("q_stream_interval_join", oracle=_INTERVAL_JOIN_ORACLE)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return click_error_interval_join(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "error"),
    )


def dedup_replayed(events: DataFrame) -> DataFrame:
    """Collapse at-least-once duplicates to one row per delivered record.

    Dedup keys on ALL projected columns (not just event_id), matching the
    oracle's ``SELECT DISTINCT`` over the full row — so the result stays
    deterministic even if a future fixture carries conflicting rows for
    one event_id.  For true replays (exact row copies, the at-least-once
    case this models) the two keyings are identical; the streaming
    variant (``dropDuplicatesWithinWatermark`` in the tests) converges to
    the same result."""
    cols = ["event_id", "user_id", "event_type", "ts"]
    return events.select(*cols).dropDuplicates(cols)


_DEDUP_ORACLE = """
    SELECT DISTINCT event_id, user_id, event_type, ts
    FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
"""


@register("q_stream_dedup_replayed", oracle=_DEDUP_ORACLE)
def q_stream_dedup_replayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table delivered twice (simulated at-least-once replay),
    deduplicated back to exactly-once by event_id."""
    events = load_table(spark, sf_dir, "events")
    return dedup_replayed(events.unionAll(events))


# ---------------------------------------------------------------------------
# LEFT OUTER interval join: unmatched clicks surface with NULLs
# ---------------------------------------------------------------------------

_INTERVAL_OUTER_ORACLE = f"""
    SELECT c.user_id,
           c.event_id AS click_id, c.ts AS click_ts,
           e.event_id AS error_id,
           CASE WHEN e.event_id IS NULL THEN NULL
                ELSE epoch_us(e.ts) - epoch_us(c.ts) END AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id
     AND e.ts >= c.ts AND e.ts < c.ts + INTERVAL {JOIN_BOUND_S} SECOND
"""


@register("q_stream_interval_join_outer", oracle=_INTERVAL_OUTER_ORACLE)
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click appears —
    paired with each same-user error in the next {JOIN_BOUND_S // 3600}
    hours, or ONCE with NULLs if no error followed.  The outer side is
    the operationally important one ("which clicks had NO error?"), and
    it is the semantics Structured Streaming can only provide WITH
    watermarks on both inputs: a click emits its NULL row only once the
    right-side watermark passes click_ts + bound and Spark can prove no
    match is still coming.  Batch (this registered form) states the
    same plan as a plain LEFT JOIN; the streaming twin is exercised in
    tests/test_streaming_joins.py with the late-null-emission check.

    Scale shape identical to the inner join: equi-key shuffle on
    user_id carries everything; the interval predicate bounds streaming
    state at O(rate × bound)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("error_ts"),
        F.col("event_id").alias("error_id"),
    )
    joined = c.join(
        e,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (
            F.col("error_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {JOIN_BOUND_S} SECONDS")
        ),
        "left",
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "error_id",
        F.when(
            F.col("error_id").isNotNull(),
            epoch_us("error_ts") - epoch_us("click_ts"),
        ).alias("lag_us"),
    )
