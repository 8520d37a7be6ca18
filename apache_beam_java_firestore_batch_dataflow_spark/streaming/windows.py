"""Event-time windowed aggregations over ``events`` — the streaming
surface the reference lacks entirely (bounded-only, SURVEY.md §2.2), built
on Structured Streaming's *unified* API: every transform here is a pure
``DataFrame -> DataFrame`` that runs identically on a batch scan (which is
how the driver oracle-checks it against DuckDB) and on ``readStream``
(which is how tests prove incremental execution, watermarks, and late-data
semantics — see streaming/replay.py and tests/test_streaming.py).

Scale design: windowed aggregation in Spark is a combiner aggregation
keyed by (window, keys) — partial aggregation before the shuffle, state
store after it when streaming.  Watermarks bound the state store: without
one, a 100 TB/day stream accretes unbounded window state; with
``withWatermark(ts, delay)``, windows older than ``max(ts) - delay`` are
finalized and evicted.  All window arithmetic is epoch-aligned exactly as
Spark's ``window()``/``session_window()`` define it, and the DuckDB
oracles reproduce that arithmetic (epoch-floor buckets; gaps-and-islands
for sessions) so the batch results hash-match.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scan import prefix_scan
from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)

TUMBLE = "1 hour"
SLIDE_DUR = "1 hour"
SLIDE_STEP = "15 minutes"
SESSION_GAP = "15 minutes"
TUMBLE_S = 3600
SLIDE_STEP_S = 900
SESSION_GAP_S = 900


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def with_watermark(events: DataFrame, delay: str = "30 minutes") -> DataFrame:
    """Bound streaming state: finalize windows older than max(ts) - delay.

    No-op on batch DataFrames (Spark ignores watermarks in batch mode), so
    the same pipeline text serves both the oracle check and the stream.
    """
    return events.withWatermark("ts", delay)


# --------------------------------------------------------------------------
# Tumbling window
# --------------------------------------------------------------------------


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Per (1-hour tumbling window, event_type): count + value sum."""
    return (
        events.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _epoch_floor_sql(col: str, step_s: int) -> str:
    """DuckDB: epoch-aligned floor of a naive timestamp, Spark window() rule."""
    return (
        f"TIMESTAMP '1970-01-01' + "
        f"to_seconds(CAST(floor(epoch({col}) / {step_s}) * {step_s} AS BIGINT))"
    )


_TUMBLING_ORACLE = f"""
    SELECT {_epoch_floor_sql('ts', TUMBLE_S)} AS window_start,
           {_epoch_floor_sql('ts', TUMBLE_S)} + to_seconds({TUMBLE_S}) AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
"""


@register("q_stream_tumbling", oracle=_TUMBLING_ORACLE)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# Sliding window
# --------------------------------------------------------------------------


def sliding_agg(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 min: each event lands in 4 windows."""
    return (
        events.groupBy(F.window("ts", SLIDE_DUR, SLIDE_STEP).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


# Spark assigns an event at t to the dur/slide windows whose start lies in
# (t - dur, t] on the slide grid: start_k = slide*floor(t/slide) - k*slide.
_SLIDING_ORACLE = f"""
    SELECT {_epoch_floor_sql('ts', SLIDE_STEP_S)} - to_seconds(k * {SLIDE_STEP_S})
               AS window_start,
           {_epoch_floor_sql('ts', SLIDE_STEP_S)} - to_seconds(k * {SLIDE_STEP_S})
               + to_seconds({TUMBLE_S}) AS window_end,
           count(*) AS n_events,
           CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
    FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
    GROUP BY 1, 2
"""


@register("q_stream_sliding", oracle=_SLIDING_ORACLE)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# Session window
# --------------------------------------------------------------------------


def session_agg(events: DataFrame) -> DataFrame:
    """Per-user sessions with a 15-minute inactivity gap.

    Spark semantics: a session ends gap after its last event; an event at
    exactly prev_ts + gap starts a new session.  Streaming requires a
    watermark on ts (sessions are merged in the state store); batch mode
    runs the same code without one.
    """
    return (
        events.groupBy(
            F.session_window("ts", SESSION_GAP).alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# Gaps-and-islands reproduction of Spark's merge rule (new session iff
# ts - prev_ts >= gap; session_end = last ts + gap).
_SESSION_ORACLE = f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL {SESSION_GAP_S} SECOND
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {SESSION_GAP_S} SECOND AS session_end,
           count(*) AS n_events,
           CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, sess
"""


@register("q_stream_session", oracle=_SESSION_ORACLE)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Stream-static enrichment: windowed stream joined to a dimension table
# ---------------------------------------------------------------------------

_ENRICH_ORACLE = f"""
    WITH windowed AS (
      SELECT {_epoch_floor_sql('ts', TUMBLE_S)} AS window_start,
             user_id,
             count(*) AS n_events,
             CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT w.window_start, w.user_id,
           c.c_mktsegment AS segment,
           c.c_nationkey AS nationkey,
           w.n_events, w.sum_value
    FROM windowed w
    JOIN customer c ON c.c_custkey = w.user_id % 1500 + 1
"""


@register("q_stream_static_enrich", oracle=_ENRICH_ORACLE)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: hourly per-user purchase aggregates
    joined to the (static) customer dimension — THE standard serving
    topology: the unbounded side aggregates under a watermark, the
    bounded side is a broadcast lookup re-resolved per micro-batch (so
    dimension updates between batches are picked up without restarting
    the query; Structured Streaming allows static joins after streaming
    aggregation in append mode).

    The fixture's user_id space maps onto customer keys modularly — the
    operator shape (windowed agg -> stream-static equi-join) is what is
    under test, not the key mapping.

    Scale shape: the aggregation is the tumbling-window combiner
    (partial agg before the shuffle, watermark-bounded state when
    streaming); the dimension join broadcasts O(customers-per-segment)
    — never re-shuffles the aggregated stream.  Batch mode (this
    registered form) and the streaming form share the identical plan
    stem, which is how the driver value-checks it against DuckDB."""
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return enrich_purchases(events, cust)


def enrich_purchases(events: DataFrame, customer: DataFrame) -> DataFrame:
    """The unified transform: works on a batch scan (driver oracle) and
    on a readStream events frame (tests prove incremental parity)."""
    agg = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", TUMBLE).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    cust = customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    key = F.col("user_id") % 1500 + 1
    return (
        agg.join(F.broadcast(cust), key == F.col("c_custkey"))
        .select(
            "window_start", "user_id", "segment", "nationkey",
            "n_events", "sum_value",
        )
    )


# --------------------------------------------------------------------------
# Windowed top-k (the trending-items topology)
# --------------------------------------------------------------------------

WINDOW_TOPK = 2  # event types reported per window


def window_type_counts(events: DataFrame) -> DataFrame:
    """Per (tumbling hour, event type) counts — the streamable half of
    the trending-items topology (plain windowed agg, unified API)."""
    return (
        events.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def topk_of_counts(counts: DataFrame) -> DataFrame:
    """Rank-and-filter half: top-{WINDOW_TOPK} per window, ties toward
    the lexically smaller type.  Not streamable inside one query (rank
    windows over an un-finalized aggregate are unsupported by design) —
    the streaming topology runs this per micro-batch in ``foreachBatch``
    over the agg's update stream; tests/test_streaming.py proves the
    split topology equals the batch plan."""
    from pyspark.sql import Window as W

    rk = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= WINDOW_TOPK)
        .select(
            "window_start",
            F.col("rank").cast("int").alias("rank"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


def window_topk(events: DataFrame) -> DataFrame:
    return topk_of_counts(window_type_counts(events))


_WINDOW_TOPK_ORACLE = f"""
    WITH counts AS (
      SELECT {_epoch_floor_sql('ts', TUMBLE_S)} AS window_start,
             event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT window_start, event_type, n_events,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type) AS rank
      FROM counts
    )
    SELECT window_start, CAST(rank AS INT) AS rank, event_type,
           CAST(n_events AS BIGINT) AS n_events
    FROM ranked WHERE rank <= {WINDOW_TOPK}
"""


@register("q_stream_window_topk", oracle=_WINDOW_TOPK_ORACLE)
def q_stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-{WINDOW_TOPK} event types per tumbling hour.
    Scale shape: the count agg map-side combines per (window, type);
    the rank window runs over O(windows × types) aggregate rows —
    `WindowGroupLimit` pushes the per-window heap below its exchange —
    never over raw events.  Streaming form: windowed agg under the
    unified API + per-micro-batch rank in foreachBatch (see
    `window_topk` docstring and the parity test)."""
    return window_topk(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Watermark lateness audit: what a given delay WOULD drop, measured
# ---------------------------------------------------------------------------

WATERMARK_DELAY_S = 900  # the delay under audit (matches SESSION_GAP)
_LATE_SHARD_IDS = 8192  # fixed event_id width per prefix-max shard

_LATENESS_ORACLE = f"""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS t,
             max(epoch_us(ts)) OVER (ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM events
    ),
    scored AS (
      SELECT event_type,
             CASE WHEN pmax IS NOT NULL
                       AND t < pmax - {WATERMARK_DELAY_S} * 1000000
                  THEN pmax - {WATERMARK_DELAY_S} * 1000000 - t
                  ELSE NULL END AS late_us
      FROM seq
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(late_us) AS BIGINT) AS n_late,
           CAST(coalesce(max(late_us), 0) AS BIGINT) AS max_lateness_us
    FROM scored GROUP BY event_type
"""


@register("q_stream_lateness_audit", oracle=_LATENESS_ORACLE)
def q_stream_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark what-if: replay the stream in arrival order (event_id
    is the fixture's ingestion sequence) and count, per event type, the
    rows a ``withWatermark(ts, {WATERMARK_DELAY_S}s)`` pipeline would
    DROP — i.e. rows whose event time is older than the running
    max-event-time-so-far minus the delay — plus the worst observed
    lateness.  This is the audit teams run BEFORE picking a watermark
    delay: the (delay → loss) curve's single point, computed exactly.
    It is the IDEAL (per-row) watermark, an upper bound on what the
    engine actually drops — the real operator is batch-quantized,
    filters with the batch-START watermark, and keeps any row whose
    window is still open; the subset relation is pinned against a live
    `numRowsDroppedByWatermark` run in
    tests/test_streaming.py::test_lateness_audit_bounds_streaming_watermark_drops.

    The running maximum is an exclusive prefix max in arrival order,
    run by the sharded scan of functions/scan.py over fixed-width
    event_id shards ({_LATE_SHARD_IDS} ids: two shards at sf0.01, 13 at
    sf0.1).  All lateness arithmetic is exact integer microseconds."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        (F.col("event_id") / _LATE_SHARD_IDS).cast("bigint").alias("shard"),
    )
    scanned = prefix_scan(
        ev, "shard", ["event_id"], {"t": "pmax"}, how="max", inclusive=False
    )
    horizon = F.col("pmax") - F.lit(WATERMARK_DELAY_S * 1_000_000)
    scored = scanned.select(
        "event_type",
        F.when(F.col("t") < horizon, horizon - F.col("t")).alias("late_us"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("late_us").cast("bigint").alias("n_late"),
        F.coalesce(F.max("late_us"), F.lit(0)).cast("bigint").alias("max_lateness_us"),
    )
