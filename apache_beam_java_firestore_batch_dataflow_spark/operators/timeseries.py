"""Timeseries operators over ``events``: as-of join and time-bucketed
rollups — categories the reference lacks entirely (SURVEY.md §2.2) that
Spark also has no built-in operator for (as-of), re-expressed Spark-first.

As-of join, the scalable way: do NOT range-join then pick-latest (that
materializes every (left, right-before) pair — quadratic under bursty
keys).  Interleave both sides into one DataFrame, sort per key by event
time, and carry the right side's last value forward with
``last(ignorenulls)`` over an unbounded-preceding window.  Cost: ONE
shuffle on the key + one per-partition sort — the same price as a single
groupBy, independent of match fan-out.  DuckDB's native ``ASOF JOIN`` is
the correctness oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.arrow import apply_groups, arrow_schema, py_values, to_batch
from ..functions.numeric import round_ratio, round_ratio_sql
from ..functions.timeutil import epoch_us
from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Left as-of join: for each left row, the greatest right ``right_ts``
    with ``right_ts <= left_ts`` per key ``on``.  Returns the left rows
    plus ``asof_ts`` (nullable).

    Tie rule: a right row at exactly ``left_ts`` matches (<=), mirroring
    DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``.
    """
    lcols = left.columns
    l = left.withColumn("__side", F.lit(1)).withColumn(
        "__rts", F.lit(None).cast("timestamp")
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias(left_ts),
        F.lit(0).alias("__side"),
        F.col(right_ts).alias("__rts"),
    )
    # Align schemas: right side carries nulls for the left payload columns.
    for c in lcols:
        if c not in {on, left_ts}:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = l.unionByName(r.select(l.columns))
    # Right rows sort before left rows at equal timestamps so <= matches.
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(left_ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("asof_ts", F.last("__rts", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .select(*lcols, "asof_ts")
    )


_ASOF_ORACLE = """
    WITH errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id, e.ts,
           c.ts AS asof_ts,
           CASE WHEN c.ts IS NULL THEN NULL
                ELSE epoch_us(e.ts) - epoch_us(c.ts) END AS gap_us
    FROM errors e ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND e.ts >= c.ts
"""


@register("q_asof_join", oracle=_ASOF_ORACLE)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every error event: the most recent click by the same user at or
    before it, plus the gap in microseconds.  (Only the matched timestamp
    is projected, so duplicate right timestamps — where any engine's
    choice is arbitrary — cannot produce nondeterministic output.)
    """
    events = load_table(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(errors, clicks, on="user_id")
    gap = epoch_us("ts") - epoch_us("asof_ts")
    return joined.select(
        "event_id", "user_id", "ts", "asof_ts", gap.cast("bigint").alias("gap_us")
    )


# --------------------------------------------------------------------------
# Multi-resolution time rollup (hypertable-style continuous aggregate)
# --------------------------------------------------------------------------

_ROLLUP_ORACLE = """
    SELECT day,
           CASE WHEN grouping(event_type) = 1 THEN NULL ELSE event_type END
               AS event_type,
           CASE WHEN grouping(user_id) = 1 THEN NULL ELSE user_id END AS user_id,
           count(*) AS n_events,
           CAST(round(sum(value), 4) AS DOUBLE) AS sum_value,
           CAST(grouping(event_type) * 2 + grouping(user_id) AS INT) AS lvl
    FROM (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, user_id, value
          FROM events)
    GROUP BY ROLLUP (day, event_type, user_id)
    HAVING grouping(day) = 0
"""


@register("q_time_rollup", oracle=_ROLLUP_ORACLE)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day → event_type → user_id rollup: one pass produces the day total,
    per-type, and per-(type,user) aggregates — partial aggregation handles
    all levels in a single shuffle (the continuous-aggregate pattern for
    dashboard queries over an events hypertable).
    """
    events = load_table(spark, sf_dir, "events")
    rolled = (
        events.select(
            F.date_trunc("day", "ts").cast("date").alias("day"), "event_type", "user_id", "value"
        )
        .rollup("day", "event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).cast("double").alias("sum_value"),
            (F.grouping("event_type") * 2 + F.grouping("user_id"))
            .cast("int")
            .alias("lvl"),
            F.grouping("day").alias("g_day"),
        )
        .filter(F.col("g_day") == 0)
    )
    return rolled.select(
        "day", "event_type", "user_id", "n_events", "sum_value", "lvl"
    )


# --------------------------------------------------------------------------
# Funnel analysis (ordered-step conversion counts)
# --------------------------------------------------------------------------

_FUNNEL_ORACLE = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
    UNION ALL SELECT '2_click', count(*) FROM s2
    UNION ALL SELECT '3_purchase', count(*) FROM s3
"""


@register("q_events_funnel", oracle=_FUNNEL_ORACLE)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> click -> purchase: a user
    reaches stage N only with an event strictly AFTER their stage-N-1
    time (the product-analytics semantics, not mere per-type presence).

    Each stage is one filtered aggregation joined to the previous
    stage's (user, time) table — every shuffle keys on user_id, so the
    three stages reuse one partitioning; stage tables only ever shrink.
    At 100 TB the filters prune event types at the scan (pushed), and
    no stage holds more than (users x 1 row).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage("1_signup", s1)
        .unionAll(stage("2_click", s2))
        .unionAll(stage("3_purchase", s3))
    )


# --------------------------------------------------------------------------
# Cohort retention (first-activity cohort x day-k activity)
# --------------------------------------------------------------------------

RETENTION_MAX_K = 7


_RETENTION_ORACLE = f"""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    first AS (
      SELECT user_id, min(d) AS cohort_day FROM days GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, d.d) AS INT) AS k,
           count(DISTINCT d.user_id) AS n_users
    FROM days d JOIN first f ON d.user_id = f.user_id
    WHERE date_diff('day', f.cohort_day, d.d) <= {RETENTION_MAX_K}
    GROUP BY 1, 2
"""


@register("q_events_retention", oracle=_RETENTION_ORACLE)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-activity day,
    counted on each of the next ``RETENTION_MAX_K`` active days.

    Scale shape: the (user, day) activity table is the only large
    intermediate (one distinct-agg over the scan, bounded by
    users x days); the cohort table is one row per user and joins back
    on user_id — the same partitioning as the distinct, so Spark
    reuses the exchange.  The final (cohort, k) aggregate is tiny.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    k = F.datediff(F.col("d"), F.col("cohort_day"))
    return (
        days.join(first, "user_id")
        .filter(k <= RETENTION_MAX_K)
        .select("cohort_day", k.cast("int").alias("k"), "user_id")
        .groupBy("cohort_day", "k")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# --------------------------------------------------------------------------
# Event-transition matrix (first-order Markov counts over user journeys)
# --------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    t AS (
      SELECT src, dst, count(*) AS n FROM seq WHERE dst IS NOT NULL
      GROUP BY src, dst
    )
    SELECT src, dst, n,
           {p_expr} AS p
    FROM (SELECT src, dst, n, sum(n) OVER (PARTITION BY src) AS tot FROM t)
""".format(p_expr=round_ratio_sql("n", "tot", 6))


@register("q_events_transitions", oracle=_TRANSITIONS_ORACLE)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: counts and row-normalized probabilities for each
    (event_type -> next event_type) step — the journey-analysis /
    next-action-model input.

    One shuffle on user_id for the sequence window (tie-broken by
    event_id, so the order is total); the transition table itself is at
    most |types|^2 rows, so the final aggregate and its normalizing
    window are O(1) however large the corpus.  The probability divides
    two exact counts via pure integer rounding (``round_ratio`` — the
    r14 parity idiom: round-of-double flips at q=2^7·5^j group sizes);
    bigint-safe to ~4.6e12 transitions per src.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    t = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src")
    return t.withColumn("tot", F.sum("n").over(wsrc)).select(
        "src",
        "dst",
        "n",
        round_ratio("n", "tot", 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Per-key EWMA: ordered sequential fold, expressed declaratively
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.125  # 1/8 — exactly representable in binary, reproducible fold

_EWMA_ORACLE = f"""
    SELECT user_id,
           count(*) AS n_events,
           CAST(round(list_reduce(list(value ORDER BY ts, event_id),
                          (acc, x) -> acc * {1 - EWMA_ALPHA} + x * {EWMA_ALPHA}),
                      6) AS DOUBLE) AS ewma
    FROM events GROUP BY user_id
"""


def ewma_fold(ev: DataFrame) -> DataFrame:
    """Fold (user_id, ts, event_id, value) rows into per-user EWMA.

    HOT-USER BOUND: the ``collect_list`` materializes ONE user's whole
    event history as a single in-row array, so per-task memory — and the
    single largest row — is bounded by the hottest key, not the corpus
    (the exact bound sessionization carries).  At ~48 bytes/event a
    10M-event user is ~500 MB in one row: beyond roughly 10^6-10^7
    events/user, route through the streaming escape hatch instead
    (``streaming/stateful.py`` keeps O(1) running state per key via
    ``applyInPandasWithState``) or pre-aggregate coarser time buckets.
    The driver fixtures top out at ~10^2 events/user;
    ``test_ewma_hot_user`` pins correctness at 50k.
    """
    g = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("seq"),
    )
    vals = F.transform(F.col("seq"), lambda s: s["value"])
    folded = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(1 - EWMA_ALPHA) + x * F.lit(EWMA_ALPHA),
    )
    return g.select(
        "user_id",
        "n_events",
        F.round(folded, 6).cast("double").alias("ewma"),
    )


@register("q_events_ewma", oracle=_EWMA_ORACLE)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of ``value`` in
    event order — the canonical ORDER-DEPENDENT sequential state that
    has no window-function form (each step needs the previous step's
    result, not a frame aggregate).

    Expressed declaratively anyway: one groupBy collects the user's
    (ts, event_id, value) sequence, ``array_sort`` fixes the order
    in-row, and ``F.aggregate`` folds left-to-right — a single shuffle
    on user_id, no applyInPandas, no state store.  Per-task memory is
    bounded by one user's event history (see ``ewma_fold`` for the
    documented hot-user cap and the streaming escape hatch); both
    engines fold the identical IEEE expression over the identical
    order, so results match bit-for-bit before the final 6-dp round.
    Seed = first value (``list_reduce`` semantics), then
    acc*(1-a) + x*a per element.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return ewma_fold(ev)


# ---------------------------------------------------------------------------
# Robust anomaly detection: median absolute deviation per event type
# ---------------------------------------------------------------------------

MAD_K = 3.0  # flag |x - median| > K * MAD

_MAD_ORACLE = f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           CAST(round(d.value, 6) AS DOUBLE) AS value,
           CAST(round(d.adev / m.mad, 6) AS DOUBLE) AS dev_ratio
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND d.adev > {MAD_K} * m.mad
"""


@register("q_events_anomaly_mad", oracle=_MAD_ORACLE)
def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: events whose value deviates from their
    type's median by more than {MAD_K}x the median absolute deviation —
    the estimator that doesn't let the outliers it hunts poison the
    threshold (unlike mean/stddev z-scores).

    Scale shape: two EXACT-percentile aggregations keyed on event_type
    (per-group state is the group's sorted values — event-type
    cardinality is tiny, value streams per type large; Spark's exact
    `percentile` buffers per group, the knob to swap for
    `approx_percentile` when groups outgrow memory) and two broadcast
    joins of the per-type statistics back onto the stream.  Spark's
    exact percentile interpolates identically to DuckDB's
    quantile_cont, verified bit-for-bit before rounding.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    # mad > 0 guard on BOTH engines: with a degenerate MAD of 0 (half
    # the type's values equal its median) adev/0 is NULL under Spark's
    # non-ANSI division but +inf under DuckDB's IEEE division, so the
    # dev_ratio column would diverge exactly when an outlier exists.
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.col("adev") > MAD_K * F.col("mad")))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).cast("double").alias("value"),
            F.round(F.col("adev") / F.col("mad"), 6)
            .cast("double")
            .alias("dev_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Robust scaling: (x - median) / IQR per event type (outlier-immune z-score)
# ---------------------------------------------------------------------------

_ROBUST_ORACLE = """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.50) AS med,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(round(e.value, 6) AS DOUBLE) AS value,
           CAST(round((e.value - q.med) / (q.q3 - q.q1), 6) AS DOUBLE)
               AS scaled
    FROM events e JOIN q USING (event_type)
    WHERE q.q3 - q.q1 > 0
"""


@register("q_events_robust_scale", oracle=_ROBUST_ORACLE)
def q_events_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust feature scaling: (value - median) / IQR per event type —
    the normalization that survives heavy-tailed value distributions
    where mean/stddev z-scores get dragged by the very outliers
    ``q_events_anomaly_mad`` hunts (same estimator family, applied to
    normalization instead of detection).

    Scale shape: one exact-percentile aggregation keyed on event_type
    (three quantiles from ONE percentile pass — per-group state is the
    sorted value buffer, the approx_percentile swap documented on the
    MAD query applies here too) and one broadcast rejoin onto the
    stream.  Spark's exact percentile interpolates identically to
    DuckDB's quantile_cont; the IQR > 0 guard pins the degenerate case
    on both engines (same NULL-vs-inf division divergence the MAD
    query guards)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.50)").alias("med"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        ev.join(F.broadcast(q), "event_type")
        .filter(iqr > 0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).cast("double").alias("value"),
            F.round((F.col("value") - F.col("med")) / iqr, 6)
            .cast("double")
            .alias("scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Marketing attribution: credit each purchase to the user's preceding touch
# ---------------------------------------------------------------------------

ATTR_WINDOW_US = 3_600_000_000  # only touches within 1h before convert


_ATTRIBUTION_ORACLE = f"""
    WITH touches AS (
      -- one row per (user, ts): ASOF ties between a click and a view at
      -- the same instant would otherwise resolve arbitrarily in BOTH
      -- engines; max(event_type) pins the winner deterministically
      SELECT user_id, ts, max(event_type) AS event_type FROM events
      WHERE event_type IN ('click', 'view')
      GROUP BY user_id, ts
    ),
    conv AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT c.event_id, c.user_id, c.ts,
             t.ts AS touch_ts, t.event_type AS touch_type
      FROM conv c ASOF LEFT JOIN touches t
        ON c.user_id = t.user_id AND c.ts >= t.ts
    )
    SELECT event_id, user_id, ts,
           CASE WHEN touch_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(touch_ts) <= {ATTR_WINDOW_US}
                THEN touch_type END AS credited_channel,
           CASE WHEN touch_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(touch_ts) <= {ATTR_WINDOW_US}
                THEN epoch_us(ts) - epoch_us(touch_ts) END AS touch_gap_us
    FROM matched
"""


@register("q_events_attribution", oracle=_ATTRIBUTION_ORACLE)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the SAME
    user's most recent click/view at or before it, but only if that
    touch falls inside the 1-hour attribution window — the
    product-analytics op that turns an event stream into a channel
    report (and the reason as-of joins exist in marketing warehouses).

    Scale shape: rides the ``asof_join`` interleave (one shuffle on
    user_id + per-partition sort, match fan-out free) — NOT a
    range-join + pick-latest, which materializes every (purchase,
    earlier-touch) pair and goes quadratic on bursty users.  The
    attribution window is a post-filter on the single matched
    timestamp.  Only the matched touch's (ts, type) are projected;
    DuckDB's native ASOF JOIN is the oracle.

    The tie rule and the multi-attribute carry: ``last(ignorenulls)``
    carries the touch's type alongside its timestamp through one
    window, so both columns come from the SAME matched row even when
    several touches share a timestamp (struct carried atomically)."""
    events = load_table(spark, sf_dir, "events")
    conv = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # deterministic tie rule (mirrors the oracle): one touch per
    # (user, ts), max(event_type) winning at shared instants
    touches = (
        events.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("touch_type"))
    )

    # asof_join carries only the timestamp; attribution needs the touch
    # TYPE too, atomically from the same row — inline the interleave
    # with a struct payload.
    l = conv.withColumn("__side", F.lit(1)).withColumn(
        "__touch",
        F.lit(None).cast("struct<ts:timestamp,touch_type:string>"),
    )
    r = touches.select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("__side"),
        F.struct(F.col("ts"), F.col("touch_type")).alias("__touch"),
    ).withColumn("event_id", F.lit(None).cast("bigint"))
    unioned = l.select("event_id", "user_id", "ts", "__side", "__touch").unionByName(
        r.select("event_id", "user_id", "ts", "__side", "__touch")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        unioned.withColumn("__m", F.last("__touch", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("__m.ts").alias("touch_ts"),
            F.col("__m.touch_type").alias("touch_type"),
        )
    )
    gap = epoch_us("ts") - epoch_us("touch_ts")
    in_window = F.col("touch_ts").isNotNull() & (gap <= ATTR_WINDOW_US)
    return matched.select(
        "event_id",
        "user_id",
        "ts",
        F.when(in_window, F.col("touch_type")).alias("credited_channel"),
        F.when(in_window, gap).cast("bigint").alias("touch_gap_us"),
    )


# ---------------------------------------------------------------------------
# Distribution drift: Population Stability Index over reference deciles
# ---------------------------------------------------------------------------

PSI_MOD = 10  # user_id % MOD == 0 is the reference population
PSI_BUCKETS = 10

_psi_cuts = [i / PSI_BUCKETS for i in range(1, PSI_BUCKETS)]


def _psi_oracle() -> str:
    # quantile_disc, not quantile_cont (r13 sf0.1 sweep): interpolated
    # cuts are computed with different arithmetic in the two engines
    # (Spark percentile vs DuckDB quantile_cont), and a `value > cut`
    # bucket test flips rows when the cuts differ by one ulp — observed
    # as ±1-2 counts per bucket at sf0.1.  Discrete quantiles return an
    # ACTUAL data value, exact-match comparable by construction (the
    # q_agg_percentile_disc discipline).
    cut_cols = ", ".join(
        f"quantile_disc(value, {c}) AS c{i}" for i, c in enumerate(_psi_cuts)
    )
    bucket = "1 " + " ".join(
        f"+ CASE WHEN value > c{i} THEN 1 ELSE 0 END"
        for i in range(len(_psi_cuts))
    )
    return f"""
    WITH ref AS (SELECT value FROM events WHERE user_id % {PSI_MOD} = 0),
    cur AS (SELECT value FROM events WHERE user_id % {PSI_MOD} != 0),
    cuts AS (SELECT {cut_cols} FROM ref),
    rb AS (
      SELECT CAST({bucket} AS INT) AS bucket, count(*) AS n_ref
      FROM ref, cuts GROUP BY 1
    ),
    cb AS (
      SELECT CAST({bucket} AS INT) AS bucket, count(*) AS n_cur
      FROM cur, cuts GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT sum(n_ref) FROM rb) AS t_ref,
             (SELECT sum(n_cur) FROM cb) AS t_cur
    )
    SELECT b.bucket,
           CAST(coalesce(rb.n_ref, 0) AS BIGINT) AS n_ref,
           CAST(coalesce(cb.n_cur, 0) AS BIGINT) AS n_cur,
           CAST(round(
             (greatest(coalesce(cb.n_cur, 0), 1) * 1.0 / t_cur
              - greatest(coalesce(rb.n_ref, 0), 1) * 1.0 / t_ref)
             * ln((greatest(coalesce(cb.n_cur, 0), 1) * 1.0 / t_cur)
                  / (greatest(coalesce(rb.n_ref, 0), 1) * 1.0 / t_ref)), 9)
             AS DOUBLE) AS psi_term
    FROM (SELECT unnest(range(1, {PSI_BUCKETS} + 1)) AS bucket) b
    LEFT JOIN rb ON rb.bucket = b.bucket
    LEFT JOIN cb ON cb.bucket = b.bucket
    CROSS JOIN tot
"""


@register("q_drift_psi_events", oracle=_psi_oracle())
def q_drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring: the Population Stability Index of
    the current population's ``value`` distribution against the
    reference slice (user_id % {PSI_MOD} == 0), per reference-decile
    bucket — the standard production-ML drift alarm (PSI < 0.1 stable,
    > 0.25 retrain).  Emitted per bucket so the drifting REGION is
    visible, not just the total (sum the psi_term column for the
    headline number).

    Scale shape: decile cut points come from ONE exact-percentile
    aggregation over the reference slice (O(1) broadcast — the
    ``q_histogram_equidepth`` discipline, never a global sort), then
    each population bucket-assigns in codegen and combiner-aggregates
    to {PSI_BUCKETS} rows.  Zero-count buckets floor at 1 row on BOTH
    engines (the standard PSI epsilon guard) so the log never sees 0.

    Cuts are DISCRETE deciles (percentile_disc — actual data values):
    interpolated percentiles are computed with different arithmetic in
    Spark and DuckDB, and at sf0.1 the one-ulp cut difference flipped
    1-2 boundary rows per bucket (r13 sweep); discrete quantiles are
    exact-match comparable by construction."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    ref = ev.filter(F.col("user_id") % PSI_MOD == 0).select("value")
    cur = ev.filter(F.col("user_id") % PSI_MOD != 0).select("value")
    cuts = ref.agg(
        *[
            F.expr(
                f"percentile_disc({c}) WITHIN GROUP (ORDER BY value)"
            ).alias(f"c{i}")
            for i, c in enumerate(_psi_cuts)
        ]
    )
    bucket = F.lit(1)
    for i in range(len(_psi_cuts)):
        bucket = bucket + F.when(F.col("value") > F.col(f"c{i}"), 1).otherwise(0)

    def bucketed(pop: DataFrame, out: str) -> DataFrame:
        return (
            pop.crossJoin(F.broadcast(cuts))
            .select(bucket.cast("int").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )

    rb = bucketed(ref, "n_ref")
    cb = bucketed(cur, "n_cur")
    buckets = spark.range(1, PSI_BUCKETS + 1).select(
        F.col("id").cast("int").alias("bucket")
    )
    joined = (
        buckets.join(rb, "bucket", "left")
        .join(cb, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
        )
    )
    tot = joined.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_cur = F.greatest(F.col("n_cur"), F.lit(1)) * 1.0 / F.col("t_cur")
    p_ref = F.greatest(F.col("n_ref"), F.lit(1)) * 1.0 / F.col("t_ref")
    return joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 9)
        .cast("double")
        .alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# M4 downsampling: the lossless min/max/first/last envelope per bucket
# ---------------------------------------------------------------------------

_M4_ORACLE = """
    WITH pts AS (
      -- CAST: DuckDB's date_trunc('day') yields DATE; Spark yields TIMESTAMP
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             ts, event_id, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM events
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(min(value) AS DOUBLE) AS v_min,
           CAST(max(value) AS DOUBLE) AS v_max,
           CAST(min(CASE WHEN rf = 1 THEN value END) AS DOUBLE) AS v_first,
           CAST(min(CASE WHEN rl = 1 THEN value END) AS DOUBLE) AS v_last
    FROM pts GROUP BY event_type, bucket
"""


@register("q_events_m4_downsample", oracle=_M4_ORACLE)
def q_events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling: per (series, time bucket) keep exactly the
    min, max, first, and last values — the 4 points that make a
    pixel-perfect line rendering of any bucket (the standard
    dashboard/observability downsample), and the bounded envelope a
    100 TB metrics store rolls up to before humans ever see a chart.

    Plan: the first/last markers are two row_numbers over the SAME
    (series, bucket) partition — one window sort, opposite directions
    collapse into Catalyst's single window stage — then ONE combiner
    aggregation emits the envelope.  Output is O(series × buckets),
    input is never sorted globally.  Ties on ts break on event_id in
    both engines, so first/last are deterministic."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("day", F.col("ts")).alias("bucket")
    worder = [F.col("ts"), F.col("event_id")]
    w_f = Window.partitionBy("event_type", "bucket").orderBy(*worder)
    w_l = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    pts = ev.select("event_type", bucket, "ts", "event_id", "value").select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(w_f).alias("rf"),
        F.row_number().over(w_l).alias("rl"),
    )
    return pts.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.min("value").cast("double").alias("v_min"),
        F.max("value").cast("double").alias("v_max"),
        F.min(F.when(F.col("rf") == 1, F.col("value"))).cast("double").alias("v_first"),
        F.min(F.when(F.col("rl") == 1, F.col("value"))).cast("double").alias("v_last"),
    )


# ---------------------------------------------------------------------------
# Gap filling + linear interpolation over an hourly grid
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(round(sum(CAST(round(value, 6) AS DECIMAL(30,6))), 2)
                  AS DOUBLE) AS v
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    span AS (
      SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly
      GROUP BY event_type
    ),
    grid AS (
      SELECT s.event_type, g.h
      FROM span s,
           LATERAL (SELECT unnest(generate_series(s.h0, s.h1,
                                  INTERVAL 1 HOUR)) AS h) g
    ),
    joined AS (
      SELECT g.event_type, g.h, hourly.v,
             epoch(g.h) AS eh
      FROM grid g LEFT JOIN hourly
        ON g.event_type = hourly.event_type AND g.h = hourly.h
    ),
    walls AS (
      SELECT event_type, h, v, eh,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pe,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ne
      FROM joined
    )
    SELECT event_type, h AS bucket,
           (v IS NULL) AS filled,
           CAST(round(CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv) * (eh - pe) / (ne - pe) END, 4)
                AS DOUBLE) AS value
    FROM walls
"""


@register("q_events_gapfill_hourly", oracle=_GAPFILL_ORACLE)
def q_events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling with linear interpolation: densify each series onto
    its full hourly grid (~5% of slots are empty in this corpus) and
    interpolate missing buckets between their nearest real neighbors —
    `time_bucket_gapfill` / `interpolate` from timeseries databases,
    expressed as pure DataFrame ops.

    Plan: hourly sums are one combiner agg (exact decimal, so both
    engines interpolate from identical doubles); each series' grid is
    generated IN-ROW from its (min, max) span via `sequence` + explode
    — no driver-side calendar, no cross join against a global grid; the
    neighbor walls are two `last`/`first` ignoreNulls windows over one
    per-series sort.  Per-task memory is one series' grid (the
    sessionize bound); output is O(series × slots).  Interpolation
    arithmetic runs on identical inputs in both engines and rounds at
    the output boundary."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(
            F.round(F.sum(F.round(F.col("value"), 6).cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("v")
        )
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        "v",
        F.unix_timestamp("h").cast("double").alias("eh"),
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked_eh = F.when(F.col("v").isNotNull(), F.col("eh"))
    walls = joined.select(
        "event_type",
        "h",
        "v",
        "eh",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(marked_eh, ignorenulls=True).over(w_prev).alias("pe"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(marked_eh, ignorenulls=True).over(w_next).alias("ne"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("eh") - F.col("pe")
    ) / (F.col("ne") - F.col("pe"))
    return walls.select(
        "event_type",
        F.col("h").alias("bucket"),
        F.col("v").isNull().alias("filled"),
        F.round(F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp), 4)
        .cast("double")
        .alias("value"),
    )


# ---------------------------------------------------------------------------
# Holt's linear (double exponential) smoothing: level + trend fold
# ---------------------------------------------------------------------------

# α=1/2, β=1/4: exact binary fractions, so every fold step is IEEE-exact
# multiplication/addition — the smoothed state is bit-identical across
# engines with no rounding discipline needed inside the fold.
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25

# The oracle folds via a RECURSIVE CTE rather than list_reduce with a
# struct accumulator: DuckDB's list_reduce mutates the accumulator
# buffer field-by-field in declaration order, so a struct step whose
# 't' expression reads acc.l observes the ALREADY-UPDATED level
# (verified empirically: {'l','t'} and {'t','l'} orders each corrupt
# the other field).  The recursive form states the recurrence
# explicitly with no shared buffer.
_HOLT_ORACLE = f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(round(sum(CAST(round(value, 6) AS DECIMAL(30,6))), 2)
                  AS DOUBLE) AS v
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    seq AS (
      SELECT event_type, list(v ORDER BY h) AS vs, count(*) AS n
      FROM hourly GROUP BY event_type
    ),
    fold AS (
      SELECT event_type, 1 AS i, vs[1] AS l, CAST(0.0 AS DOUBLE) AS t, vs, n
      FROM seq
      UNION ALL
      SELECT event_type, i + 1,
             {HOLT_ALPHA} * vs[i + 1] + {1 - HOLT_ALPHA} * (l + t),
             {HOLT_BETA} * ({HOLT_ALPHA} * vs[i + 1]
                            + {1 - HOLT_ALPHA} * (l + t) - l)
             + {1 - HOLT_BETA} * t,
             vs, n
      FROM fold WHERE i < n
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_buckets,
           CAST(round(l, 4) AS DOUBLE) AS level,
           CAST(round(t, 4) AS DOUBLE) AS trend,
           CAST(round(l + t, 4) AS DOUBLE) AS forecast_next
    FROM fold WHERE i = n
"""


@register("q_events_holt_linear", oracle=_HOLT_ORACLE)
def q_events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear smoothing per series: the level+trend coupled fold
    (each step needs BOTH previous states) over hourly sums, with the
    one-step-ahead forecast level+trend — the forecasting upgrade of
    `q_events_ewma`, and the shape that proves the declarative-fold
    technique extends to STRUCT accumulators, not just scalars.

    α=1/2 and β=1/4 are exact binary fractions, so the whole fold is
    IEEE-exact arithmetic — bit-identical across engines and
    partitionings with no per-step rounding.  Scale shape: one combiner
    agg to hourly buckets, one groupBy collecting each series' bucket
    sequence (per-task memory = one series' buckets — coarser and
    therefore safer than the EWMA per-event bound), `F.aggregate` folds
    in-row.  Rounding happens only at the output boundary."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.round(F.sum(F.round(F.col("value"), 6).cast("decimal(30,6)")), 2)
        .cast("double")
        .alias("v")
    )
    seq = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_sort(F.collect_list(F.struct("h", "v"))).alias("sq"),
    )
    vals = F.transform(F.col("sq"), lambda s: s["v"])
    init = F.struct(
        F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("t")
    )
    rest = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))

    def step(acc, x):
        nl = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (acc["l"] + acc["t"])
        nt = HOLT_BETA * (nl - acc["l"]) + (1 - HOLT_BETA) * acc["t"]
        return F.struct(nl.alias("l"), nt.alias("t"))

    st = F.aggregate(rest, init, step)
    return seq.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_buckets"),
        F.round(st["l"], 4).cast("double").alias("level"),
        F.round(st["t"], 4).cast("double").alias("trend"),
        F.round(st["l"] + st["t"], 4).cast("double").alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection per series
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = f"""
    WITH mu AS (
      SELECT event_type,
             count(*) AS n,
             {round_ratio_sql(
                 "sum(CAST(round(value, 6) AS DECIMAL(30,6))) * 1000000",
                 "count(*) * 1000000", 6, wide=True)} AS mean_v
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.ts, e.event_id, m.n,
             sum(CAST(round(e.value - m.mean_v, 6) AS DECIMAL(30,6))) OVER (
               PARTITION BY e.event_type ORDER BY e.ts, e.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      FROM events e JOIN mu m USING (event_type)
    ),
    ranked AS (
      SELECT event_type, ts, event_id, n, cusum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum) DESC, ts, event_id) AS rk
      FROM dev
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           ts AS changepoint_ts,
           CAST(round(CAST(cusum AS DOUBLE), 2) AS DOUBLE) AS peak_cusum
    FROM ranked WHERE rk = 1
"""


@register("q_events_cusum_changepoint", oracle=_CUSUM_ORACLE)
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection: per series, the running sum of
    (value − series mean) and the point where |CUSUM| peaks — the
    classic distribution-shift locator behind data-drift alarms (PSI
    tells you THAT a window drifted; CUSUM tells you WHEN the level
    shifted).

    Determinism: deviations are rounded to 6 decimals and accumulated
    as exact decimals in the running window, so the peak and its
    position are partitioning-independent; |CUSUM| ties break on
    (ts, event_id).  Scale shape: one agg for the means (broadcast
    back), one per-series window sort, one top-1 rank over the same
    sort — state bounded by one series' history."""
    ev = load_table(spark, sf_dir, "events")
    mu = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        round_ratio(
            "sum(cast(round(value, 6) as decimal(30,6))) * 1000000",
            "count(1) * 1000000",
            6,
            wide=True,
        ).alias("mean_v"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = ev.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "n",
        F.sum(
            F.round(F.col("value") - F.col("mean_v"), 6).cast("decimal(30,6)")
        )
        .over(w_run)
        .alias("cusum"),
    )
    w_rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.asc("ts"), F.asc("event_id")
    )
    return (
        dev.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("ts").alias("changepoint_ts"),
            F.round(F.col("cusum").cast("double"), 2)
            .cast("double")
            .alias("peak_cusum"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence-pattern matching (MATCH_RECOGNIZE-style, per user)
# ---------------------------------------------------------------------------

# view -> click -> purchase with no intervening error; events collapse
# to one letter each, the pattern is a regex over the user's ordered
# event string.  V[^EP]*C[^EP]*P would allow interleaved views/signups
# between the anchor steps — the semantics MATCH_RECOGNIZE's
# `PATTERN (V X* C Y* P)` with exclusions expresses.
SEQ_PATTERN = "V[^EP]*C[^EP]*P"

_SEQ_PATTERN_ORACLE = f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(CASE event_type
                          WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                          WHEN 'purchase' THEN 'P' WHEN 'error' THEN 'E'
                          ELSE 'S' END, '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(s, '{SEQ_PATTERN}')) AS BIGINT)
               AS n_matches,
           (len(regexp_extract_all(s, '{SEQ_PATTERN}')) > 0) AS converted
    FROM seq
"""


@register("q_sequence_pattern_vcp", oracle=_SEQ_PATTERN_ORACLE)
def q_sequence_pattern_vcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection: per user, count
    non-overlapping view→click→purchase journeys with no intervening
    error or purchase between the anchor steps — row-pattern matching
    (SQL:2016 MATCH_RECOGNIZE, Flink CEP) that Spark has no native
    operator for, re-expressed as: collapse each event to one letter,
    assemble the user's ordered journey string in-row, and run the
    pattern as a REGEX over it.

    Both engines's regex engines (Java, RE2) agree on this subset
    (character classes, greedy stars, leftmost non-overlapping
    matches).  Scale shape: ONE groupBy(user) builds the journey string
    (per-task memory = one user's history — the sessionize bound, one
    byte per event); the regex is per-row map work.  The funnel query
    counts stage survivors; this one counts complete pattern INSTANCES
    with exclusion semantics — different question, different operator."""
    ev = load_table(spark, sf_dir, "events")
    letter = (
        F.when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "error", "E")
        .otherwise("S")
    )
    seq = (
        ev.select("user_id", "ts", "event_id", letter.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                    lambda s: s["ch"],
                ),
            ).alias("s")
        )
    )
    n_matches = F.size(F.expr(f"regexp_extract_all(s, '{SEQ_PATTERN}', 0)"))
    return seq.select(
        "user_id",
        F.length("s").cast("bigint").alias("n_events"),
        n_matches.cast("bigint").alias("n_matches"),
        (n_matches > 0).alias("converted"),
    )


# ---------------------------------------------------------------------------
# Moving median (robust rolling smoother over a trailing frame)
# ---------------------------------------------------------------------------

MMED_FRAME = 10  # trailing rows included besides the current one

_MOVING_MEDIAN_ORACLE = f"""
    SELECT event_id, event_type, ts,
           CAST(value AS DOUBLE) AS value,
           CAST(round(quantile_cont(value, 0.5) OVER (
                  PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN {MMED_FRAME} PRECEDING AND CURRENT ROW), 6)
                AS DOUBLE) AS moving_median
    FROM events
"""


@register("q_events_moving_median", oracle=_MOVING_MEDIAN_ORACLE)
def q_events_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over a trailing {MMED_FRAME}+1-row frame per
    series — the robust smoother dashboards use where a moving AVERAGE
    would chase every spike (median ignores outliers the MAD detector
    flags).  Exact in-frame percentile; interpolation parity between
    Spark's `percentile` and DuckDB's `quantile_cont` is already pinned
    by the MAD/robust-scale family.

    Scale shape: one window sort per series (ties pinned on event_id);
    the frame median re-sorts only its ≤{MMED_FRAME + 1} in-frame values
    per row — O(frame log frame) per row, state bounded by the frame,
    never the series."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-MMED_FRAME, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        "ts",
        F.col("value").cast("double").alias("value"),
        F.round(F.percentile("value", F.lit(0.5)).over(w), 6)
        .cast("double")
        .alias("moving_median"),
    )


# ---------------------------------------------------------------------------
# Seasonal profile (weekday cells) with residual outlier counts
# ---------------------------------------------------------------------------

# Values quantize to integer micro-units before any aggregation, so the
# per-cell sums are EXACT (int64 for sums, decimal(38,0) for sums of
# squares) and the derived mean/stddev — and therefore the outlier
# boundary — are partitioning-invariant: the double arithmetic happens
# once per CELL on exact inputs, never as an order-dependent running
# float sum.  dow is pure epoch arithmetic (0 = Thursday, the epoch
# day) — no calendar-function parity risk between engines.
_VAL_Q = 1_000_000

_SEASONAL_ORACLE = f"""
    WITH q AS (
      SELECT event_type,
             (epoch_us(ts) // 86400000000) % 7 AS dow,
             CAST(floor(value * {_VAL_Q} + 0.5) AS BIGINT) AS vq
      FROM events
    ),
    cell AS (
      SELECT event_type, dow, count(*) AS n,
             CAST(sum(vq) AS BIGINT) AS s,
             CAST(sum(CAST(vq AS DECIMAL(38,0)) * vq) AS DECIMAL(38,0)) AS ss
      FROM q GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, dow, n, s,
             CAST(s AS DOUBLE) / n AS mean_q,
             CASE WHEN n > 1 THEN
               sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
             ELSE 0.0 END AS sd_q
      FROM cell
    )
    SELECT st.event_type, CAST(st.dow AS INT) AS dow,
           CAST(st.n AS BIGINT) AS n,
           CAST(round(st.mean_q / {_VAL_Q}, 6) AS DOUBLE) AS mean_value,
           CAST(round(st.sd_q / {_VAL_Q}, 6) AS DOUBLE) AS sd_value,
           CAST(sum(CASE WHEN q.vq > st.mean_q + 2 * st.sd_q
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM q JOIN stats st ON st.event_type = q.event_type AND st.dow = q.dow
    GROUP BY 1, 2, 3, 4, 5
"""


@register("q_events_seasonal_profile", oracle=_SEASONAL_ORACLE)
def q_events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality profile with residual outliers: per
    (event_type, day-of-week) cell, the mean/stddev of the metric and
    how many events sit above mean + 2σ of their OWN cell — the
    seasonal-baseline anomaly screen ("is this Tuesday spike abnormal
    for Tuesdays?") that complements the trend (OLS) and level (EWMA,
    Holt) detectors.

    Two combiner aggregations with a BROADCAST of the O(types × 7)
    cell-stats frame between them — never a data-sized window: pass 1
    computes exact integer sufficient statistics per cell, pass 2
    counts threshold crossings per row against the broadcast boundary.
    At 100 TB both passes are map-side-combined scans."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        ((epoch_us("ts") / 86_400_000_000).cast("bigint") % 7).alias("dow"),
        F.floor(F.col("value") * _VAL_Q + 0.5).cast("bigint").alias("vq"),
    )
    cell = q.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vq").cast("bigint").alias("s"),
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("vq"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    stats = cell.select(
        "event_type",
        "dow",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean_q"),
        F.when(
            F.col("n") > 1,
            F.sqrt(
                (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                / (F.col("n") - 1)
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("sd_q"),
    )
    return (
        q.join(F.broadcast(stats), ["event_type", "dow"])
        .groupBy(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("mean_q") / _VAL_Q, 6).cast("double").alias("mean_value"),
            F.round(F.col("sd_q") / _VAL_Q, 6).cast("double").alias("sd_value"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("vq") > F.col("mean_q") + 2 * F.col("sd_q"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )


# ---------------------------------------------------------------------------
# Inter-arrival gap statistics per event type
# ---------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = f"""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           {round_ratio_sql('sum(gap_us)', 'count(gap_us) * 1000000',
                            6, wide=True)} AS mean_gap_s,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
"""


@register("q_events_interarrival", oracle=_INTERARRIVAL_ORACLE)
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival statistics: per event type, the gaps between a
    user's consecutive events of that type — the traffic-model /
    rate-limiter input (mean arrival rate, burst floor, idle ceiling)
    and the feed for hazard-style retention modeling.

    The lag window partitions by (user_id, event_type) — millions of
    small partitions at scale, the shape Spark's window operator
    parallelizes perfectly (this is the sessionize key, NOT a global
    order).  Gap arithmetic is exact integer microseconds; the one
    division per GROUP happens on exact sums and rounds to 6 dp."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (epoch_us("ts") - epoch_us(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        round_ratio(
            "sum(gap_us)", "count(gap_us) * 1000000", 6, wide=True
        ).alias("mean_gap_s"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function over the hourly event-count series
# ---------------------------------------------------------------------------

ACF_LAGS = 6  # lags reported (hours)

_ACF_ORACLE = f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type, k.k,
             CAST(a.c AS BIGINT) AS x, CAST(b.c AS BIGINT) AS y
      FROM hourly a
      JOIN (SELECT unnest(range(1, {ACF_LAGS + 1})) AS k) k ON true
      JOIN hourly b
        ON b.event_type = a.event_type AND b.h = a.h - k.k
    ),
    s AS (
      SELECT event_type, k, count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, CAST(k AS INT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN CAST(round((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                     AS DOUBLE)
                ELSE NULL END AS acf
    FROM s
"""


@register("q_events_autocorrelation", oracle=_ACF_ORACLE)
def q_events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each event type's hourly volume at
    lags 1..{ACF_LAGS} — the seasonality detector feeding forecast
    model choice (a daily cycle shows as a lag-24 peak; short-memory
    traffic decays geometrically) and the standard diagnostic next to
    the trend (OLS), level (EWMA/Holt) and weekday-profile screens.

    Gap-robust by construction: aligned pairs come from a self-JOIN on
    ``(type, hour - k)`` — a lag window over existing rows would
    silently treat missing hours as adjacent.  Pearson r per (type,
    lag) is computed from exact integer sufficient statistics (counts
    are integers, so Σx, Σxy, Σx² are exact in both engines — the
    repo's quantize-sum-divide-once discipline) with ONE double
    division + round(6) at the end; zero-variance series yield NULL,
    identically CASE-guarded in both engines.

    Scale shape: the hourly rollup is a map-side-combined agg that
    crushes the corpus to O(types x hours) rows; the lag join and the
    final agg run on that reduced frame — at 100 TB the series frame
    for a year is ~9k rows per type, broadcastable."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            (epoch_us("ts") / 3_600_000_000).cast("bigint").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ks = F.explode(F.array(*[F.lit(k) for k in range(1, ACF_LAGS + 1)]))
    shifted = hourly.select(
        F.col("event_type").alias("e2"),
        ks.alias("k"),
        "h",
        F.col("c").alias("y"),
    ).select("e2", "k", (F.col("h") + F.col("k")).alias("h2"), "y")
    pairs = hourly.join(
        shifted,
        (F.col("event_type") == F.col("e2")) & (F.col("h") == F.col("h2")),
    ).select("event_type", "k", F.col("c").alias("x"), "y")
    s = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        # DECIMAL(38,0) accumulators (r14 overflow audit): int64 sums of
        # count products overflow ~9.2e18 — reachable at 100 TB hourly
        # counts; ANSI Spark would raise where DuckDB widens to int128.
        # The double cast of the exact total is unchanged below 2^53.
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("syy"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        "event_type",
        F.col("k").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.when(
            den > 0,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.sqrt(den),
                6,
            ).cast("double"),
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Token-bucket rate limiter replay (clamped recursion)
# ---------------------------------------------------------------------------

# Integer micro-token units end to end: capacity 1 token (the
# minimum-interval limiter — the fixture's traffic never drains a
# burstier bucket, so this config exercises BOTH the allow and reject
# paths at every sf), cost 1 token per event, refill 1 token / 60 s =>
# gap_us // 60 micro-tokens — every step is exact int64 arithmetic, so
# the full trajectory is bit-identical across engines and partitionings.
TB_CAP_UT = 1_000_000
TB_COST_UT = 1_000_000

_TOKEN_BUCKET_ORACLE = f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    tb AS (
      SELECT user_id, event_id, rn, t,
             TRUE AS allowed,
             CAST({TB_CAP_UT - TB_COST_UT} AS BIGINT) AS tokens_after
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn, s.t,
             least({TB_CAP_UT}, tb.tokens_after + (s.t - tb.t) // 60)
                 >= {TB_COST_UT} AS allowed,
             least({TB_CAP_UT}, tb.tokens_after + (s.t - tb.t) // 60)
               - CASE WHEN least({TB_CAP_UT},
                             tb.tokens_after + (s.t - tb.t) // 60)
                           >= {TB_COST_UT}
                      THEN {TB_COST_UT} ELSE 0 END AS tokens_after
      FROM tb JOIN seq s ON s.user_id = tb.user_id AND s.rn = tb.rn + 1
    )
    SELECT user_id, event_id, allowed,
           CAST(tokens_after AS BIGINT) AS tokens_after_ut
    FROM tb
"""


@register("q_events_token_bucket", oracle=_TOKEN_BUCKET_ORACLE)
def q_events_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate-limiter replay: per user, walk the event
    stream and decide allow/reject under capacity {TB_CAP_UT // 1_000_000}
    token, cost 1/event, refill 1 token/min (a fractional-credit
    minimum-interval limiter) — the admission-control
    simulation capacity teams run against historical traffic before
    setting production limits ("how many requests WOULD this policy
    have rejected?").

    The clamp (``min(cap, ...)``) makes each step a NON-LINEAR function
    of the previous state — not expressible as any window/prefix
    aggregate (the EWMA linear-fold trick does not apply), so the fold
    runs in Python: one shuffle keyed on user_id, a per-user sequential
    kernel whose state is two integers, group size bounded by one
    user's history (the sessionize bound).  Not a grouped map:
    grouped-map overhead is per GROUP, ~3 ms of Arrow framing per user
    (measured: a 1500-group identity grouped-map costs 4.25 s at
    sf0.1), and AQE would coalesce the 2.4 MB exchange to ~1 task —
    sizing a PYTHON stage by bytes when its cost is per-row.  Instead:
    ONE explicit hash repartition on user_id (the same single
    shuffle the groupBy planned, partition count pinned so byte-based
    coalescing cannot serialize the interpreter work) and ONE
    ``mapInArrow`` over each partition, folding every complete user
    group inside the task (hash partitioning guarantees group
    completeness).
    The recursion itself is unchanged, exact int64 micro-token
    arithmetic on Python ints.  The DuckDB oracle replays the identical
    recursion as a recursive CTE (the engine-parity rule for coupled
    folds); the trajectory stays bit-exact."""
    from collections.abc import Iterator

    import pyarrow as pa

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("t")
    )
    ddl = "user_id long, event_id long, allowed boolean, tokens_after_ut long"
    schema = arrow_schema(ddl)

    def fold_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        part = [b for b in batches if b.num_rows]
        if not part:
            return
        # One partition = many complete user groups (hash-partitioned);
        # a user's rows can span Arrow batches, so concatenate the
        # task's batches (bounded by the task's shuffle input — the
        # same order of memory the sort/agg machinery holds) and walk
        # users in sorted order.
        tbl = pa.Table.from_batches(part).sort_by(
            [("user_id", "ascending"), ("t", "ascending"), ("event_id", "ascending")]
        )
        users = tbl["user_id"].to_numpy()
        ts = py_values(tbl["t"])  # Python ints: exact int64 arithmetic
        n = len(ts)
        allowed = [False] * n
        after = [0] * n
        prev_user = None
        tokens = TB_CAP_UT
        prev_t = 0
        for i in range(n):
            u = users[i]
            t = ts[i]
            if u != prev_user:
                tokens = TB_CAP_UT
                prev_user = u
            else:
                tokens = min(TB_CAP_UT, tokens + (t - prev_t) // 60)
            ok = tokens >= TB_COST_UT
            if ok:
                tokens -= TB_COST_UT
            allowed[i] = ok
            after[i] = tokens
            prev_t = t
        yield to_batch([users, tbl["event_id"].to_numpy(), allowed, after], schema)

    # Partition count: the session's configured shuffle width (the
    # deployment-scaled knob; local default = core count) — pinned
    # explicitly so AQE's byte-based coalescing cannot shrink it.
    # MEMORY ENVELOPE: fold_partition holds its whole shuffle partition
    # as one Arrow table (hash-partitioned input is NOT sorted), so
    # Python-worker memory is O(events / n_parts) × three int64 columns,
    # not O(one user group).  Size n_parts so a partition fits the
    # worker: ≈ total_events × 24 B / (a few hundred MB) at least, more
    # under user skew.  At the local default (32) it is ~75 KB.
    n_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    )
    return ev.repartition(n_parts, "user_id").mapInArrow(fold_partition, schema=ddl)


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day activity streak per user
# ---------------------------------------------------------------------------

_STREAK_ORACLE = """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    isl AS (
      SELECT user_id, day,
             day - dense_rank() OVER (PARTITION BY user_id ORDER BY day)
                 AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island, count(*) AS len,
             min(day) AS start_day
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak_days,
           CAST(min(CASE WHEN len = ml THEN start_day END) AS BIGINT)
               AS streak_start_day,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM (SELECT *, max(len) OVER (PARTITION BY user_id) AS ml FROM streaks)
    GROUP BY user_id
"""


@register("q_events_user_streaks", oracle=_STREAK_ORACLE)
def q_events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus its start
    day and the total number of streaks) — the gaps-and-islands
    pattern over calendar DAYS, the engagement metric behind every
    "7-day streak" product feature, distinct from `q_sessionize_gaps`
    (intra-day time gaps) and `q_audit_sequence_gaps` (global key
    space).

    The island id is the classic ``day − dense_rank(day)`` trick:
    consecutive days share a constant difference, so one per-user
    window + two combiner aggs find every streak — no self-join, no
    per-day explode.  Ties on the longest streak resolve to the
    EARLIEST start day (deterministic).  Per-user windows are the
    sessionize scale shape: millions of small partitions."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", (epoch_us("ts") / 86_400_000_000).cast("bigint").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id", "day", (F.col("day") - F.dense_rank().over(w)).alias("island")
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    wm = Window.partitionBy("user_id")
    return (
        streaks.withColumn("ml", F.max("len").over(wm))
        .groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak_days"),
            F.min(F.when(F.col("len") == F.col("ml"), F.col("start_day")))
            .cast("bigint")
            .alias("streak_start_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix (weekly signup cohorts x weeks-since activity)
# ---------------------------------------------------------------------------

COHORT_DAY_US = 86_400_000_000  # microseconds per day


@register(
    "q_events_cohort_retention",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {COHORT_DAY_US} AS day
      FROM events
    ),
    first AS (
      SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
    ),
    cohorts AS (
      SELECT cohort_day, count(*) AS n_cohort FROM first GROUP BY cohort_day
    ),
    activity AS (
      SELECT f.cohort_day, d.day - f.cohort_day AS day_k,
             count(*) AS n_active
      FROM days d JOIN first f ON f.user_id = d.user_id
      GROUP BY 1, 2
    )
    SELECT a.cohort_day, a.day_k,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST(c.n_cohort AS BIGINT) AS n_cohort,
           {round_ratio_sql('a.n_active', 'c.n_cohort', 6)}
               AS retention
    FROM activity a JOIN cohorts c ON c.cohort_day = a.cohort_day
    """,
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort retention matrix — the product-analytics table every
    warehouse computes: users are grouped into daily cohorts by FIRST
    activity, and each (cohort, days-since) cell reports how many of
    the cohort were active that day.  day_k = 0 is 100% by
    construction; the decay down each row is the retention curve.
    (Cohort granularity is a constant; the fixture spans 30 days, so
    daily cohorts exercise a real triangular matrix where weekly ones
    collapse to a single cohort.)

    Determinism: day indexes are exact integer floor-divisions of
    epoch microseconds (positive, so Spark's truncating ``div`` and
    DuckDB's flooring ``//`` agree); the one ratio divides two exact
    ints, rounded 6dp identically.  Scale shape: dedup to (user, day)
    first — the matrix never sees raw events — then one per-user min
    (combiner agg), one (cohort, k) count (combiner agg), and a
    broadcast-sized cohort-size join: 3 keyed shuffles total, each on
    reduced data, no window anywhere."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        epoch_us("ts").cast("bigint").alias("us"),
    ).select("user_id", F.expr(f"us div {COHORT_DAY_US}").alias("day")).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cohorts = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    activity = (
        days.join(first, "user_id")
        .select("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_k"))
        .groupBy("cohort_day", "day_k")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return activity.join(F.broadcast(cohorts), "cohort_day").select(
        "cohort_day",
        "day_k",
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("n_cohort").cast("bigint").alias("n_cohort"),
        round_ratio("n_active", "n_cohort", 6).alias("retention"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes over the reduced series)
# ---------------------------------------------------------------------------

HOUR_US = 3_600_000_000


@register(
    "q_events_theil_sen",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // {HOUR_US} AS h, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(floor((b.c - a.c) * 1000000.0 / (b.h - a.h) + 0.5)
                  AS BIGINT) AS slope_mu
      FROM hourly a JOIN hourly b
        ON b.event_type = a.event_type AND b.h > a.h
    ),
    ranked AS (
      SELECT event_type, slope_mu,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope_mu) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM slopes
    ),
    med AS (
      SELECT event_type, max(n_pairs) AS n_pairs,
             sum(CASE WHEN rn = (n_pairs + 1) // 2
                        OR rn = (n_pairs + 2) // 2
                      THEN slope_mu * (CASE WHEN (n_pairs + 1) // 2
                                                 = (n_pairs + 2) // 2
                                            THEN 2 ELSE 1 END)
                      ELSE 0 END) AS med_x2
      FROM ranked GROUP BY event_type
    ),
    pts AS (SELECT event_type, count(*) AS n_points FROM hourly GROUP BY 1)
    SELECT m.event_type,
           CAST(p.n_points AS BIGINT) AS n_points,
           CAST(m.n_pairs AS BIGINT) AS n_pairs,
           CAST(m.med_x2 AS BIGINT) AS slope_mu_x2
    FROM med m JOIN pts p ON p.event_type = m.event_type
    """,
)
def q_events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all
    pairwise slopes of the hourly-volume series — the estimator that
    shrugs off the outlier bursts that wreck the OLS trend
    (`q_regress_trend_per_type`); up to ~29% contamination moves it
    not at all.

    Determinism: slopes are floor-quantized integer micro-units (one
    double division of exact ints, identical both engines); the median
    is a positional ORDER STATISTIC (k-th value, well-defined under
    ties), emitted in exact half-units (lower+upper) so no float
    midpoint exists.  Scale shape: the quadratic pair space is over
    the REDUCED series — O(hours²) per type, corpus-size INDEPENDENT
    (10x the events is the same 720-hour series, just bigger counts) —
    the same reduced-series discipline as `q_events_autocorrelation`;
    the per-type rank window is bounded by that constant, never by
    data volume."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type", epoch_us("ts").cast("bigint").alias("us")
        )
        .select("event_type", F.expr(f"us div {HOUR_US}").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        # not persisted: ReusedExchange shares the rollup shuffle across
        # both slope-join sides (A/B r12: persist 2.03 s vs 1.89 s)
    )
    a = hourly.alias("a")
    b = hourly.alias("b")
    slopes = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.h") > F.col("a.h")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.floor(
            (F.col("b.c") - F.col("a.c")) * 1_000_000.0
            / (F.col("b.h") - F.col("a.h"))
            + 0.5
        ).cast("bigint").alias("slope_mu"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("slope_mu")
    w_all = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope_mu",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_pairs"),
    )
    lo = F.expr("(n_pairs + 1) div 2")
    hi = F.expr("(n_pairs + 2) div 2")
    med = ranked.groupBy("event_type").agg(
        F.max("n_pairs").alias("n_pairs"),
        F.sum(
            F.when(
                (F.col("rn") == lo) | (F.col("rn") == hi),
                F.col("slope_mu")
                * F.when(lo == hi, F.lit(2)).otherwise(F.lit(1)),
            ).otherwise(F.lit(0))
        ).alias("med_x2"),
    )
    pts = hourly.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_points"))
    return med.join(pts, "event_type").select(
        "event_type",
        F.col("n_points").cast("bigint").alias("n_points"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("med_x2").cast("bigint").alias("slope_mu_x2"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


@register(
    "q_events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT from_type, sum(n) AS tot FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type,
           CAST(t.n AS BIGINT) AS n,
           """
    + round_ratio_sql("t.n", "x.tot", 6)
    + """ AS p6
    FROM trans t JOIN totals x ON x.from_type = t.from_type
    """,
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    ordered pair of event types, how often does one immediately follow
    the other within a user's stream — the model behind next-action
    prediction, funnel leak analysis, and bot detection (uniform rows
    are a bot tell; the sequence-mining complement to
    `q_events_funnel`'s fixed path).

    Determinism: the per-user order is total (ts, event_id tiebreak —
    the `q_sessionize_gaps` discipline), transition counts are exact,
    and each row probability is one exact integer ``round_ratio``
    (r14 parity idiom; bigint-safe to ~4.6e12 events per type).  Scale
    shape: ONE keyed shuffle on user_id for the lag window (group size
    = one user's history), then a combiner agg to the O(types²)
    matrix and a broadcast row-total join — the corpus crosses the
    wire once."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        round_ratio("n", "tot", 6).alias("p6"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detector (one-sided reset CUSUM, per event type, hourly)
# ---------------------------------------------------------------------------


@register(
    "q_events_cusum_drift",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, (100 * sum(x)) // count(*) AS mu_centi
      FROM hourly GROUP BY 1
    ),
    d AS (
      SELECT h.event_type, h.hr, h.x, s.mu_centi,
             100 * h.x - s.mu_centi - s.mu_centi // 20 AS dd
      FROM hourly h JOIN stats s USING (event_type)
    ),
    pre AS (
      SELECT event_type, hr, x, mu_centi,
             sum(dd) OVER (PARTITION BY event_type ORDER BY hr
                           ROWS UNBOUNDED PRECEDING) AS prefix
      FROM d
    ),
    cu AS (
      SELECT event_type, hr, x, mu_centi,
             prefix - least(0, min(prefix) OVER (PARTITION BY event_type
                 ORDER BY hr ROWS UNBOUNDED PRECEDING)) AS cusum
      FROM pre
    ),
    mx AS (SELECT event_type, max(cusum) AS cmax FROM cu GROUP BY event_type)
    SELECT c.event_type, c.hr, CAST(c.x AS BIGINT) AS x,
           CAST(c.cusum AS BIGINT) AS cusum_centi,
           (c.cusum * 2 > m.cmax) AS flagged
    FROM cu c JOIN mx m USING (event_type)
    """,
)
def q_events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector per event type over its hourly
    count series — the sequential-analysis monitor a pipeline health
    dashboard runs on ingestion volumes.  Distinct from
    ``q_events_cusum_changepoint`` (which locates the single peak-|S|
    changepoint of the un-reset value-deviation walk): this is the
    RESET form ``S_t = max(0, S_{t-1} + drift)`` that alarms on
    sustained upward count drift hour by hour.

    The recurrence ``S_t = max(0, S_{t-1} + (x_t - mu - k))`` looks
    inherently sequential, but has the closed form
    ``S_t = prefix_t - min(0, min_{j<=t} prefix_j)`` over the drift
    prefix sum — so the whole detector is TWO stacked running windows
    (sum, then min), both partitioned by event_type and fully
    associative: shuffle-parallel across types, scan-parallel within.
    Exact integer arithmetic throughout: counts are ints, the drift
    target mu and slack (5% of mu) live in centi-units via floor
    division (positive operands, so Spark ``div`` == DuckDB ``//``).
    The alarm threshold self-calibrates to half the per-type CUSUM
    maximum (one combiner agg broadcast back), so both flag states
    exist at any scale factor — a mean-relative threshold does not
    survive scale changes because CUSUM excursions grow with
    sqrt(mean), not mean.

    Scale shape: one groupBy to O(types x hours) rows, windows
    partitioned by type over the REDUCED series (never raw events),
    one tiny broadcast join.  At 100 TB the reduction is the only
    corpus-sized stage."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
    ).agg(F.count(F.lit(1)).alias("x"))
    stats = hourly.groupBy("event_type").agg(
        F.expr("(100 * sum(x)) div count(*)").alias("mu_centi")
    )
    d = hourly.join(F.broadcast(stats), "event_type").withColumn(
        "dd",
        100 * F.col("x") - F.col("mu_centi") - F.expr("mu_centi div 20"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = d.withColumn("prefix", F.sum("dd").over(w))
    cu = pre.withColumn(
        "cusum",
        F.col("prefix") - F.least(F.lit(0), F.min("prefix").over(w)),
    )
    mx = cu.groupBy("event_type").agg(F.max("cusum").alias("cmax"))
    return cu.join(F.broadcast(mx), "event_type").select(
        "event_type",
        "hr",
        F.col("x").cast("bigint").alias("x"),
        F.col("cusum").cast("bigint").alias("cusum_centi"),
        (F.col("cusum") * 2 > F.col("cmax")).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b rank correlation between event-type hourly series
# ---------------------------------------------------------------------------


def _count_inversions(a) -> int:
    """Exact number of index pairs ``i < j`` with ``a[i] > a[j]``, in
    O(n log n) via merge counting: recurse on halves, then count the
    cross pairs with one vectorized ``searchsorted`` of the (unsorted)
    right half against the sorted left half — ``left > r`` counts are
    order-independent, so no per-element merge loop is needed.  Pure
    numpy, unit-tested against the O(n²) definition."""
    import numpy as np

    def rec(v):
        n = v.shape[0]
        if n <= 1:
            return v, 0
        mid = n // 2
        left, nl = rec(v[:mid])
        right, nr = rec(v[mid:])
        pos = np.searchsorted(left, right, side="right")
        cross = int((left.shape[0] - pos).sum())
        # "stable" on int64 is radix/timsort — two sorted runs merge in O(n)
        merged = np.sort(np.concatenate((left, right)), kind="stable")
        return merged, nl + nr + cross

    return rec(np.asarray(a, dtype="int64"))[1]


def _kendall_knight(x, y) -> tuple[int, int, int, int, int]:
    """Exact Kendall tau-b sufficient statistics ``(n0, nc, nd, tx,
    ty)`` for one aligned series pair in O(L log L) — Knight's
    algorithm (Knight 1966): sort by ``(x, y)``, then the discordant
    count is exactly the number of strict inversions in ``y`` (equal-x
    pairs have y ascending, tied-y pairs are not strict), tie-pair
    counts come from run lengths, and the concordant count follows by
    inclusion-exclusion ``nc = n0 - nd - tx - ty + txy``.  All counts
    are exact int64 — bit-identical to the O(L²) pair-join
    formulation (property-tested against it)."""
    import numpy as np

    x = np.asarray(x, dtype="int64")
    y = np.asarray(y, dtype="int64")
    n = int(x.shape[0])
    n0 = n * (n - 1) // 2
    if n < 2:
        return n0, 0, 0, 0, 0

    def tie_pairs(v) -> int:
        _, cnt = np.unique(v, return_counts=True)
        return int((cnt * (cnt - 1) // 2).sum())

    tx = tie_pairs(x)
    ty = tie_pairs(y)
    order = np.lexsort((y, x))
    xs, ys = x[order], y[order]
    nd = _count_inversions(ys)
    same = (np.diff(xs) == 0) & (np.diff(ys) == 0)
    runs = np.diff(np.concatenate(([-1], np.flatnonzero(~same), [n - 1])))
    txy = int((runs * (runs - 1) // 2).sum())
    nc = n0 - nd - tx - ty + txy
    return n0, nc, nd, tx, ty


# Per-group row guard for the Knight kernel (ADVICE r12): one task holds
# one pair's full aligned series (~40·L bytes); 2e7 rows ≈ 0.8 GB/task.
# Past this, the fix is a coarser time bucket, not a bigger executor.
KT_MAX_GROUP_ROWS = 20_000_000

_KT_ORACLE = """
    WITH hourly AS (
      SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    hours AS (SELECT DISTINCT h FROM hourly),
    types AS (SELECT DISTINCT event_type FROM hourly),
    series AS (
      SELECT t.event_type, hr.h, coalesce(x.c, 0) AS c
      FROM types t CROSS JOIN hours hr
      LEFT JOIN hourly x ON x.event_type = t.event_type AND x.h = hr.h
    ),
    aligned AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.h, a.c AS x, b.c AS y
      FROM series a JOIN series b
        ON a.h = b.h AND a.event_type < b.event_type
    ),
    pp AS (
      SELECT p.type_a, p.type_b, count(*) AS n0,
             sum(CASE WHEN (p.x - q.x) * (p.y - q.y) > 0 THEN 1 ELSE 0 END) AS nc,
             sum(CASE WHEN (p.x - q.x) * (p.y - q.y) < 0 THEN 1 ELSE 0 END) AS nd,
             sum(CASE WHEN p.x = q.x THEN 1 ELSE 0 END) AS tx,
             sum(CASE WHEN p.y = q.y THEN 1 ELSE 0 END) AS ty
      FROM aligned p JOIN aligned q
        ON q.type_a = p.type_a AND q.type_b = p.type_b AND q.h > p.h
      GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(n0 AS BIGINT) AS n_pairs,
           CAST(nc AS BIGINT) AS n_conc,
           CAST(nd AS BIGINT) AS n_disc,
           CAST(tx AS BIGINT) AS ties_x,
           CAST(ty AS BIGINT) AS ties_y,
           CASE WHEN (n0 - tx) * (n0 - ty) > 0
                THEN CAST(round((nc - nd) /
                     sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)),
                     6) AS DOUBLE)
                ELSE NULL END AS tau_b6
    FROM pp
"""


@register("q_events_kendall_tau", oracle=_KT_ORACLE)
def q_events_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between every pair of event
    types' hourly volume series — the robust do-these-signals-move-
    together screen (Pearson r, see `q_events_autocorrelation`/
    `q_corr_manual`, is hostage to spikes; tau only sees order), and
    the monitoring-stack companion to Theil-Sen (same pair space, now
    across series instead of within one).

    Alignment: both series are materialized on the FULL distinct-hour
    grid with missing hours as 0 (the gap-robustness lesson from the
    ACF op) so every hour pair compares the same wall-clock moments.
    Concordant/discordant/tie counts are exact integers; tau_b's
    single double expression (one sqrt, one divide, round 6) is
    identical on both engines.

    Scale shape: the hourly rollup crushes the corpus map-side to
    O(types x hours); the type grid is a broadcast of an O(|types|)
    frame.  The concordance stage is Knight's merge-rank algorithm
    (`_kendall_knight`): ONE shuffle of the aligned frame on
    (type_a, type_b), then an O(L log L) Arrow-batched kernel per
    pair — sort by (x, y), count strict inversions of y, read tie
    pairs off run lengths.  This replaces the earlier O(L²) hour-pair
    self-join (VERDICT r11's watch item): at hourly granularity
    (L ≈ 9k/year) both are cheap, but the merge-rank plan stays flat
    at MINUTE granularity (L ≈ 526k/year → ~10⁷ log-steps, vs 1.4·10¹¹
    comparisons for the pair join), so the granularity boundary is
    closed rather than documented.  Arrow transfer is O(types²·L) —
    the same rows the aligned frame already materializes; per-group
    state is three int64 arrays of the reduced series, never corpus
    rows.  Per-group memory bound (ADVICE r12): one task must hold one
    pair's FULL aligned series, ~40·L bytes (five int64 columns) —
    ~21 MB per pair-year at minute granularity, so any calendar-scale
    grid is fine, but L is guarded at ``KT_MAX_GROUP_ROWS`` (2·10⁷,
    ~0.8 GB/task) and the kernel raises past it with a
    re-bucket-coarser message instead of OOMing an executor.  Skew
    note: with few types the types²/2 groups land on few partitions —
    the shuffle is keyed on (type_a, type_b), so max parallelism IS
    the pair count; that is inherent to per-pair reduction, not a
    plan defect.  The sufficient statistics are exact integers either
    way (property-tested against the O(L²) definition); tau_b6 stays
    the identical single-double JVM expression, so the DuckDB
    pair-join oracle hash-matches unchanged."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            (epoch_us("ts") / 3_600_000_000).cast("bigint").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()  # three consumers (hour grid, type census, counts);
        # released by the caller's clearCache
    )
    hours = hourly.select("h").distinct()
    types = hourly.select("event_type").distinct()
    series = (
        hours.crossJoin(F.broadcast(types))
        .join(hourly, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    a = series.alias("a")
    b = series.alias("b")
    aligned = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.h").alias("h"),
        F.col("a.c").alias("x"),
        F.col("b.c").alias("y"),
    )
    def kt_counts(table):
        pair = (table["type_a"][0].as_py(), table["type_b"][0].as_py())
        if table.num_rows > KT_MAX_GROUP_ROWS:
            raise ValueError(
                f"kendall group {pair} has {table.num_rows} aligned rows "
                f"> KT_MAX_GROUP_ROWS={KT_MAX_GROUP_ROWS}; re-bucket the "
                "series to a coarser grain before correlating"
            )
        counts = _kendall_knight(table["x"].to_numpy(), table["y"].to_numpy())
        return [[v] for v in (*pair, *counts)]

    # n0 = 0 (single-hour grid) produced no row under the pair-join
    # formulation and produces none in the SQL oracle — keep parity.
    pp = apply_groups(
        aligned.groupBy("type_a", "type_b"),
        kt_counts,
        "type_a string, type_b string, n0 long, nc long, nd long, tx long, ty long",
    ).filter(F.col("n0") > 0)
    den = (F.col("n0") - F.col("tx")).cast("double") * (
        F.col("n0") - F.col("ty")
    ).cast("double")
    return pp.select(
        "type_a",
        "type_b",
        F.col("n0").cast("bigint").alias("n_pairs"),
        F.col("nc").cast("bigint").alias("n_conc"),
        F.col("nd").cast("bigint").alias("n_disc"),
        F.col("tx").cast("bigint").alias("ties_x"),
        F.col("ty").cast("bigint").alias("ties_y"),
        F.when(
            (F.col("n0") - F.col("tx")) * (F.col("n0") - F.col("ty")) > 0,
            F.round((F.col("nc") - F.col("nd")) / F.sqrt(den), 6).cast("double"),
        ).alias("tau_b6"),
    )


# ---------------------------------------------------------------------------
# Burstiest hours per event type (trailing-24h excess ranking)
# ---------------------------------------------------------------------------

BURST_WIN_H = 24  # trailing baseline window (hours, by RANGE not rows)
BURST_TOP = 5     # burstiest hours reported per type

_BURST_ORACLE = f"""
    WITH hourly AS (
      SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, h, c,
             coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY h
                 RANGE BETWEEN {BURST_WIN_H} PRECEDING AND 1 PRECEDING), 0)
                 AS sum24,
             min(h) OVER (PARTITION BY event_type) AS h0
      FROM hourly
    ),
    scored AS (
      SELECT event_type, h, c, sum24,
             {BURST_WIN_H} * c - sum24 AS excess_x24,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY {BURST_WIN_H} * c - sum24 DESC, h) AS rn
      FROM w WHERE h >= h0 + {BURST_WIN_H}
    )
    SELECT event_type, CAST(h AS BIGINT) AS h,
           CAST(c AS BIGINT) AS n_events,
           CAST(sum24 AS BIGINT) AS sum24,
           CAST(excess_x24 AS BIGINT) AS excess_x24
    FROM scored WHERE rn <= {BURST_TOP}
"""


@register("q_events_burst_hours", oracle=_BURST_ORACLE)
def q_events_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: for each event type, the {BURST_TOP} hours with
    the largest volume excess over their own trailing-{BURST_WIN_H}h
    baseline (excess_x24 = {BURST_WIN_H}·count − Σ trailing counts —
    positive means the hour beat its local average, scaled ×
    {BURST_WIN_H} to stay integer-exact).  The incident-triage twin of
    the CUSUM ops: CUSUM finds sustained LEVEL shifts, this ranks
    individual spikes against a moving local norm.

    Gap-correct by construction: the baseline is a RANGE frame over
    the integer hour key, so missing hours weigh zero instead of
    pulling adjacent rows in (a ROWS frame would silently compress
    gaps — the ACF lesson applied to windows).  Hours whose trailing
    window precedes the series start are excluded (h >= h0 + 24), so
    every reported baseline is fully covered.  All-integer scoring;
    rank ties break on the hour.

    Scale shape: the hourly rollup is the only corpus-touching stage
    (map-side combine to O(types x hours)); both windows and the
    top-{BURST_TOP} ranking run per type over the reduced series, and
    the rank cut is a WindowGroupLimit (partial top-k below the
    exchange)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            (epoch_us("ts") / 3_600_000_000).cast("bigint").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wrange = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-BURST_WIN_H, -1)
    )
    wall = Window.partitionBy("event_type")
    w = hourly.select(
        "event_type",
        "h",
        "c",
        F.coalesce(F.sum("c").over(wrange), F.lit(0)).alias("sum24"),
        F.min("h").over(wall).alias("h0"),
    ).filter(F.col("h") >= F.col("h0") + BURST_WIN_H)
    excess = (F.lit(BURST_WIN_H) * F.col("c") - F.col("sum24")).alias("excess_x24")
    scored = w.select("event_type", "h", "c", "sum24", excess).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("excess_x24"), "h"
            )
        ),
    )
    return scored.filter(F.col("rn") <= BURST_TOP).select(
        "event_type",
        F.col("h").cast("bigint").alias("h"),
        F.col("c").cast("bigint").alias("n_events"),
        F.col("sum24").cast("bigint").alias("sum24"),
        F.col("excess_x24").cast("bigint").alias("excess_x24"),
    )


# ---------------------------------------------------------------------------
# Hour-of-day seasonality strength (variance decomposition)
# ---------------------------------------------------------------------------

_SEAS_STRENGTH_ORACLE = """
    WITH hourly AS (
      SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    hours AS (SELECT DISTINCT h FROM hourly),
    types AS (SELECT DISTINCT event_type FROM hourly),
    grid AS (
      SELECT t.event_type, hr.h, hr.h % 24 AS hod, coalesce(x.c, 0) AS c
      FROM types t CROSS JOIN hours hr
      LEFT JOIN hourly x ON x.event_type = t.event_type AND x.h = hr.h
    ),
    hod_g AS (
      SELECT event_type, hod, count(*) AS n_g, CAST(sum(c) AS BIGINT) AS s_g
      FROM grid GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s,
             CAST(sum(CAST(floor(1000000.0 * s_g * s_g / n_g + 0.5)
                           AS BIGINT)) AS BIGINT) AS b_mu
      FROM hod_g GROUP BY 1
    ),
    q AS (
      SELECT event_type, CAST(sum(c * c) AS BIGINT) AS qq
      FROM grid GROUP BY 1
    ),
    peak AS (
      SELECT event_type, hod, s_g,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY s_g DESC, hod) AS rn
      FROM hod_g
    )
    SELECT t.event_type,
           CAST(t.n AS BIGINT) AS n_hours,
           CASE WHEN t.qq_d > 0
                THEN CAST(round((t.b_mu / 1000000.0 - t.ssn) / t.qq_d, 6)
                          AS DOUBLE)
                ELSE NULL END AS strength6,
           CAST(p.hod AS INT) AS peak_hod,
           CAST((10000 * p.s_g) // t.s AS BIGINT) AS peak_share_bp
    FROM (
      SELECT tot.event_type, tot.n, tot.s, tot.b_mu,
             CAST(tot.s AS DOUBLE) * tot.s / tot.n AS ssn,
             q.qq - CAST(tot.s AS DOUBLE) * tot.s / tot.n AS qq_d
      FROM tot JOIN q ON q.event_type = tot.event_type
    ) t
    JOIN peak p ON p.event_type = t.event_type AND p.rn = 1
"""


@register("q_events_seasonality_strength", oracle=_SEAS_STRENGTH_ORACLE)
def q_events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality strength per event type: the share of
    hourly-volume variance explained by the hour-of-day profile
    (between-group SS / total SS over the 24 hod groups) plus the peak
    hour and its traffic share — the forecasting diagnostic that
    decides whether a seasonal model is worth fitting at all
    (strength ≈ 0: don't), complementing the weekday profile
    (`q_events_seasonal_profile`) and the ACF's lag view.

    Determinism: all sufficient statistics (n, Σc, Σc², per-hod n_g,
    S_g) are exact integers over the FULL hour grid (missing hours
    count 0 — the tau/ACF gap lesson); the only non-integer term,
    Σ_g S_g²/n_g, quantizes per group to int64 micro-units BEFORE the
    cross-group sum (24 doubles summed in engine order would drift),
    then ONE double expression forms the ratio.  S_g² stays in double
    range under IEEE-identical rounding on both engines; the 10⁶
    quantization scale holds S_g up to ~3·10⁹ events per (type, hod) —
    beyond that drop the scale a decade.  Peak ties break on the hour.

    Scale shape: the hourly rollup crushes the corpus map-side; the
    grid, both rollups, and the 24-row-per-type peak rank all run on
    O(types × hours) rows.  Corpus-size independent after one scan."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            (epoch_us("ts") / 3_600_000_000).cast("bigint").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()  # three consumers (grid, hour census, type census);
        # released by the caller's clearCache
    )
    hours = hourly.select("h").distinct()
    types = hourly.select("event_type").distinct()
    grid = (
        hours.crossJoin(F.broadcast(types))
        .join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            (F.col("h") % 24).alias("hod"),
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
        .persist()  # two consumers (hod census + Σc² rollup)
    )
    hod_g = grid.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("c").cast("bigint").alias("s_g")
    ).persist()  # two consumers (totals + peak rank)
    tot = hod_g.groupBy("event_type").agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum(
            F.floor(
                1_000_000.0 * F.col("s_g") * F.col("s_g") / F.col("n_g") + 0.5
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("b_mu"),
    )
    qq = grid.groupBy("event_type").agg(
        # DECIMAL(38,0) accumulator (r14 overflow audit): Σc² of hourly
        # counts outgrows int64 at 100 TB; bigint cast of the total is
        # exact while the result fits (documented bound)
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("bigint")
        .alias("qq")
    )
    peak = hod_g.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc("s_g"), "hod")
        ),
    ).filter(F.col("rn") == 1)
    t = tot.join(qq, "event_type").select(
        "event_type",
        "n",
        "s",
        "b_mu",
        (F.col("s").cast("double") * F.col("s") / F.col("n")).alias("ssn"),
        (
            F.col("qq") - F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("qq_d"),
    )
    return t.join(peak.select("event_type", "hod", "s_g"), "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.when(
            F.col("qq_d") > 0,
            F.round(
                (F.col("b_mu") / 1_000_000.0 - F.col("ssn")) / F.col("qq_d"), 6
            ).cast("double"),
        ).alias("strength6"),
        F.col("hod").cast("int").alias("peak_hod"),
        F.expr("(10000 * s_g) div s").cast("bigint").alias("peak_share_bp"),
    )
