"""PII detection and redaction — the privacy pass every training-data
pipeline runs before text leaves curation.

The synthetic ``documents`` table carries no PII-shaped strings, so the
battery composes a customer "profile" string with a TPC-H-style phone
(``(10+nationkey)-NNN-NNN-NNNN``, digits derived modularly from the
keys) and an email-shaped token built from ``c_name``, then detects and
redacts both.  The point is the operator shape, not the fixture: a
per-row ``regexp_count`` + chained ``regexp_replace`` projection with no
shuffle at all — at 100 TB this is a pure map stage that pipelines into
whatever scan feeds it, and Catalyst pushes the column pruning into the
parquet reader (only the four referenced columns are read).

Regex subset is deliberately common to Java's engine (Spark) and RE2
(DuckDB): character classes, bounded repetition, no backrefs/lookaround.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import round_ratio, round_ratio_sql
from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)

PHONE_RE = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"


@register(
    "q_pii_redact",
    # DuckDB regexp_replace needs the explicit 'g' flag to match Spark's
    # replace-all default; both engines then apply email → phone in the
    # same order so nested matches cannot diverge.
    oracle=f"""
    WITH profile AS (
      SELECT c_custkey,
             c_name || ' <' || lower(replace(c_name, '#', '')) ||
             '@example.com> ph: ' ||
             CAST(10 + c_nationkey AS VARCHAR) || '-' ||
             lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
             lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
             lpad(CAST((c_custkey * 31) % 10000 AS VARCHAR), 4, '0') ||
             ' seg: ' || c_mktsegment AS p
      FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(p, '{EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(p, '{PHONE_RE}')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(p, '{EMAIL_RE}', '[EMAIL]', 'g'),
                          '{PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM profile
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect and redact email/phone-shaped PII in a composed customer
    profile string: per-match counts plus the redacted text.

    Pure narrow projection — zero shuffles, zero UDFs; `regexp_count` /
    `regexp_replace` run inside whole-stage codegen, and only
    (c_custkey, c_name, c_nationkey, c_mktsegment) survive column
    pruning to the scan.
    """
    cust = load_table(spark, sf_dir, "customer")
    phone = F.concat_ws(
        "-",
        (F.lit(10) + F.col("c_nationkey")).cast("string"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lpad(((F.col("c_custkey") * 7) % 1000).cast("string"), 3, "0"),
        F.lpad(((F.col("c_custkey") * 31) % 10000).cast("string"), 4, "0"),
    )
    profile = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.regexp_replace(F.col("c_name"), "#", "")),
        F.lit("@example.com> ph: "),
        phone,
        F.lit(" seg: "),
        F.col("c_mktsegment"),
    )
    p = cust.select("c_custkey", profile.alias("p"))
    return p.select(
        "c_custkey",
        F.regexp_count(F.col("p"), F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("p"), F.lit(PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("p"), EMAIL_RE, "[EMAIL]"),
            PHONE_RE,
            "[PHONE]",
        ).alias("redacted"),
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit over quasi-identifier classes
# ---------------------------------------------------------------------------

K_ANON = 5   # minimum equivalence-class size
L_DIV = 3    # minimum distinct sensitive values per class

_KANON_ORACLE = f"""
    SELECT c_nationkey, c_mktsegment,
           count(*) AS n,
           count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
               AS n_sensitive,
           (count(*) >= {K_ANON}) AS k_ok,
           (count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= {L_DIV})
               AS l_ok
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
"""


@register("q_kanonymity_audit", oracle=_KANON_ORACLE)
def q_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk audit: group rows by their quasi-identifier
    tuple (nation, market segment — the attributes an attacker can link
    from outside data) and report each equivalence class's size and its
    count of distinct sensitive values (account-balance kilobuckets).
    ``k_ok`` fails for classes smaller than {K_ANON} (k-anonymity: an
    individual hides among k lookalikes) and ``l_ok`` for classes with
    fewer than {L_DIV} distinct sensitive values (l-diversity: a class
    where everyone shares one sensitive value leaks it even at large k).
    The failing rows are exactly what a release pipeline must generalize
    or suppress before export.

    Scale shape: ONE aggregation keyed on the quasi-identifier tuple;
    the distinct-count rides the same shuffle (count(DISTINCT) expands
    in-aggregate, no second pass over the table).  Output is O(QI
    classes), never O(rows); integer-exact everywhere."""
    cust = load_table(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(sens).alias("n_sensitive"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            "n_sensitive",
            (F.col("n") >= K_ANON).alias("k_ok"),
            (F.col("n_sensitive") >= L_DIV).alias("l_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Differential-privacy release: Laplace-noised counts (seeded mechanism)
# ---------------------------------------------------------------------------

DP_EPSILON = 1.0  # per-release budget; sensitivity of a count is 1
_U_SPACE = float(1 << 52)  # 13 hex digits of md5 -> uniform grid

# The micro-unit release arithmetic below folds sensitivity/epsilon into
# ONE INTEGER scale per mechanism (counts: 1/1.0 = 1; clamped sum:
# DPSUM_CLAMP/1.0).  A non-integral sensitivity/epsilon would need a
# rational scale — change the helpers, not just the constant.


def _laplace_noise6(u, scale: int = 1):
    """Seeded Laplace draw in EXACT 1e-6 micro-units (int64).

    The 6dp-rounded ln is re-quantized through DECIMAL(18,6) — exact by
    construction — then scaled by the integer sensitivity/epsilon
    factor.  Keeping the draw integral is what lets the release columns
    round in pure integer arithmetic (`_round4_away`): ``round(double,
    4)`` diverged between Spark (exact-binary HALF_UP) and DuckDB
    (double-multiply round) whenever a noisy value's true decimal sat
    exactly on a half boundary — found by the r13 sf0.1 sweep on
    q_privacy_dp_heavy_hitters (369 + 0.09295 → 369.093 vs 369.0929)."""
    pos = (
        F.round(F.log(2.0 * u), 6).cast("decimal(18,6)") * 1_000_000
    ).cast("bigint")
    neg = (
        F.round(F.log(2.0 - 2.0 * u), 6).cast("decimal(18,6)") * 1_000_000
    ).cast("bigint")
    return (F.when(u < 0.5, pos).otherwise(-neg)) * F.lit(int(scale))


def _round4_away(micro_col: str):
    """Half-away-from-zero rounding of an exact int64 1e-6 micro-unit
    COLUMN (by name — ``div`` needs SQL form) to 4 decimals, in pure
    integer arithmetic; bit-identical to the oracle's ``//`` form."""
    return (
        F.expr(
            f"case when {micro_col} < 0 then -((-2*{micro_col} + 100) div 200) "
            f"else (2*{micro_col} + 100) div 200 end"
        )
        / F.lit(10_000.0)
    ).cast("double")


def _round4_away_sql(expr: str) -> str:
    """DuckDB fragment mirroring :func:`_round4_away` token-for-token
    (``//`` is DuckDB's integral division)."""
    return (
        f"CAST((CASE WHEN ({expr}) < 0 THEN -((-2*({expr}) + 100) // 200) "
        f"ELSE (2*({expr}) + 100) // 200 END) / 10000.0 AS DOUBLE)"
    )


_NOISE6_SQL = (
    "CASE WHEN u < 0.5 "
    "THEN CAST(CAST(round(ln(2.0 * u), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) "
    "ELSE -CAST(CAST(round(ln(2.0 - 2.0 * u), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) "
    "END"
)

_DP_ORACLE = f"""
    WITH c AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    u AS (
      SELECT c_nationkey, c_mktsegment, n,
             (CAST(CAST('0x' || substr(md5('dp:' || CAST(c_nationkey AS VARCHAR)
                        || '|' || c_mktsegment), 1, 13) AS BIGINT) AS DOUBLE)
              + 0.5) / {_U_SPACE} AS u
      FROM c
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(n AS BIGINT) AS n,
           {_round4_away_sql('noise6')} AS noise,
           {_round4_away_sql('n * 1000000 + noise6')} AS noisy_n
    FROM (SELECT c_nationkey, c_mktsegment, n, {_NOISE6_SQL} AS noise6 FROM u)
"""


@register("q_privacy_dp_counts", oracle=_DP_ORACLE)
def q_privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release: per-group counts plus
    Laplace(1/ε) noise via inverse-CDF sampling — the aggregate-release
    mechanism (ε={DP_EPSILON}, count sensitivity 1).  The uniform draw
    is derived from md5 of the group key, which makes the release
    REPRODUCIBLE across runs and engines — the property a pipeline
    needs to re-emit identical reports on retry (a production system
    keys the hash by a secret release nonce instead; and it releases
    only ``noisy_n`` — the true ``n`` is emitted here solely so the
    oracle can check the mechanism arithmetic end-to-end).

    Float discipline: the one ln() per group is rounded to 6 decimals
    immediately (the bigram-LM rule) and re-quantized into exact int64
    MICRO-UNITS; the released 4-dp values round half-away in pure
    integer arithmetic (`_laplace_noise6`/`_round4_away` — the r13
    half-boundary finding), so the release is bit-identical across
    engines at every scale.  Scale: one combiner aggregation; the
    mechanism is a per-group projection on O(groups) rows."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    key = F.concat(
        F.lit("dp:"), F.col("c_nationkey").cast("string"),
        F.lit("|"), F.col("c_mktsegment"),
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("double") + 0.5
    ) / F.lit(_U_SPACE)
    noisy = c.withColumn("noise6", _laplace_noise6(u)).withColumn(
        "m6", F.col("n") * 1_000_000 + F.col("noise6")
    )
    return noisy.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").cast("bigint").alias("n"),
        _round4_away("noise6").alias("noise"),
        _round4_away("m6").alias("noisy_n"),
    )


# ---------------------------------------------------------------------------
# Local DP: randomized response over per-event bits
# ---------------------------------------------------------------------------

RR_P = 0.75  # probability of reporting the TRUE bit (p > 0.5)

_RR_ORACLE = f"""
    WITH bits AS (
      SELECT event_type,
             CASE WHEN value > 0 THEN 1 ELSE 0 END AS b,
             (CAST(CAST('0x' || substr(md5('rr:' ||
                        CAST(event_id AS VARCHAR)), 1, 13) AS BIGINT)
                   AS DOUBLE) + 0.5) / {_U_SPACE} AS u
      FROM events
    ),
    rep AS (
      SELECT event_type, b,
             CASE WHEN u < {RR_P} THEN b ELSE 1 - b END AS r
      FROM bits
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(b) AS BIGINT) AS n_true,
           CAST(sum(r) AS BIGINT) AS n_reported,
           {round_ratio_sql('4 * sum(r) - count(*)', '2 * count(*)', 6)}
               AS est_frac
    FROM rep GROUP BY event_type
"""


@register("q_privacy_randomized_response", oracle=_RR_ORACLE)
def q_privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local differential privacy by randomized response (Warner 1965):
    each event reports its sensitive bit (``value > 0``) truthfully
    with probability p={RR_P}, flipped otherwise, and the aggregator
    debiases the reported fraction by (f̂ - (1-p)) / (2p - 1) — the
    client-side mechanism telemetry systems (RAPPOR-family) use when
    the collector must never see a true individual bit.

    The flip draw is the repo's deterministic md5-uniform (keyed by
    event_id — a production client keys by its own secret), so the
    release is reproducible across runs, engines, and partitionings;
    ``n_true`` is emitted only so the oracle can check the mechanism
    end-to-end.  Scale: per-row projection + ONE combiner aggregation;
    the debias is arithmetic on O(event_types) rows.  The estimator's
    variance falls as 1/n — at 100 TB the estimate is tight despite
    per-row noise, which is the entire trade randomized response
    makes."""
    ev = load_table(spark, sf_dir, "events")
    b = F.when(F.col("value") > 0, 1).otherwise(0)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("rr:"), F.col("event_id").cast("string"))), 1, 13),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(_U_SPACE)
    rep = ev.select(
        "event_type",
        b.alias("b"),
        F.when(u < RR_P, b).otherwise(1 - b).alias("r"),
    )
    return rep.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("b").cast("bigint").alias("n_true"),
        F.sum("r").cast("bigint").alias("n_reported"),
        # (r/n − (1−p))/(2p−1) with p=3/4 is exactly (4r − n)/(2n):
        # an exact round_ratio (r14 parity idiom).  A different RR_P
        # needs its own rational reduction — keep p a dyadic rational.
        round_ratio("4 * sum(r) - count(1)", "2 * count(1)", 6).alias(
            "est_frac"
        ),
    )


# ---------------------------------------------------------------------------
# DP heavy hitters: noisy counts + stability-threshold release
# ---------------------------------------------------------------------------

# Release threshold tau ~ 1 + 2 ln(1/(2 delta)) / epsilon for
# delta = 1e-6 at epsilon = DP_EPSILON — groups whose noisy count falls
# below it are suppressed entirely (the (eps, delta) stability rule for
# releasing counts over a bounded key domain).
DP_HH_TAU = 27.0


_DP_HH_ORACLE = f"""
    WITH c AS (
      SELECT event_type, user_id % 50 AS bucket, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT event_type, bucket, n,
             (CAST(CAST('0x' || substr(md5('dphh:' || event_type
                        || '|' || CAST(bucket AS VARCHAR)), 1, 13) AS BIGINT)
                   AS DOUBLE) + 0.5) / {_U_SPACE} AS u
      FROM c
    ),
    noisy AS (
      SELECT event_type, bucket, n,
             {_round4_away_sql('n * 1000000 + noise6')} AS noisy_n
      FROM (SELECT event_type, bucket, n, {_NOISE6_SQL} AS noise6 FROM u)
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(n AS BIGINT) AS n,
           CAST(noisy_n AS DOUBLE) AS noisy_n
    FROM noisy WHERE noisy_n >= {DP_HH_TAU}
"""


@register("q_privacy_dp_heavy_hitters", oracle=_DP_HH_ORACLE)
def q_privacy_dp_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP heavy hitters over a bounded key domain: per (event_type,
    user-bucket) counts get Laplace(1/ε) noise (the `q_privacy_dp_counts`
    mechanism — md5-derived inverse-CDF draw, ln quantized to 6 dp),
    and only groups whose NOISY count clears the stability threshold
    τ={DP_HH_TAU} are released at all — the (ε, δ) thresholding rule
    that keeps rare keys (potential individual identifiers) out of the
    release entirely, the mechanism behind every private "top domains /
    top queries" report.  True ``n`` is emitted solely so the oracle
    can check the arithmetic end to end; a production release drops it.

    Scale: one combiner aggregation to the bounded key domain, then a
    per-group projection + filter — the threshold is data-independent,
    so the plan is a pure map over O(domain) rows."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", (F.col("user_id") % 50).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    key = F.concat(
        F.lit("dphh:"), F.col("event_type"),
        F.lit("|"), F.col("bucket").cast("string"),
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("double") + 0.5
    ) / F.lit(_U_SPACE)
    noisy = (
        c.withColumn("noise6", _laplace_noise6(u))
        .withColumn("m6", F.col("n") * 1_000_000 + F.col("noise6"))
        .select(
            "event_type",
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("n").cast("bigint").alias("n"),
            _round4_away("m6").alias("noisy_n"),
        )
    )
    return noisy.filter(F.col("noisy_n") >= DP_HH_TAU)


# ---------------------------------------------------------------------------
# DP median via the exponential mechanism (Gumbel-max, seeded + exact)
# ---------------------------------------------------------------------------

DPM_BUCKET = 10_000.0  # o_totalprice bucket width -> bounded candidate domain
DPM_EPSILON = 1.0

_DPM_ORACLE = f"""
    WITH v AS (
      SELECT CAST(floor(o_totalprice / {DPM_BUCKET}) AS BIGINT) AS b
      FROM orders
    ),
    counts AS (SELECT b, count(*) AS c FROM v GROUP BY b),
    n AS (SELECT count(*) AS n FROM v),
    below AS (
      SELECT a.b, coalesce(sum(x.c), 0) AS nb
      FROM counts a LEFT JOIN counts x ON x.b < a.b
      GROUP BY a.b
    ),
    scored AS (
      SELECT below.b, below.nb,
             abs(2 * below.nb - n.n) AS err2,
             -abs(2 * below.nb - n.n) * {DPM_EPSILON} / 4.0
             - round(ln(-round(ln(
                 (CAST(CAST('0x' || substr(md5('dpm:' ||
                      CAST(below.b AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                  + 0.5) / {_U_SPACE}), 6)), 6) AS key
      FROM below, n
    )
    SELECT s.b AS bucket, CAST(s.err2 AS BIGINT) AS err2,
           CAST(n.n AS BIGINT) AS n,
           CAST((SELECT count(*) FROM counts) AS BIGINT) AS n_candidates
    FROM scored s, n
    ORDER BY s.key DESC, s.b ASC LIMIT 1
"""


@register("q_privacy_dp_median", oracle=_DPM_ORACLE)
def q_privacy_dp_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private MEDIAN via the exponential mechanism —
    the companion to the Laplace count release for the statistic
    Laplace noise handles badly (rank statistics have unbounded value
    sensitivity but rank utility sensitivity 1): candidates are the
    bounded price buckets, utility is -|rank error|, and the winner is
    drawn with the Gumbel-max trick, which IS exponential-mechanism
    sampling (argmax of score + Gumbel noise).

    Determinism: utility is exact integer rank error over exact bucket
    counts; the Gumbel draw is the repo's md5-uniform with BOTH ln()
    calls quantized to 6dp (the double-ln twin of the Laplace
    inverse-CDF discipline), so the released bucket is reproducible
    across engines, runs, and partitionings.  err2/n are emitted
    alongside solely so the oracle checks the mechanism end-to-end; a
    production release emits the bucket only.

    Scale shape: one combiner agg to the O(domain) candidate table, a
    domain² (~50²) broadcastable rank join — never a window over data
    — a one-row total broadcast, and a global top-1
    (TakeOrderedAndProject) over O(domain) rows."""
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.floor(F.col("o_totalprice") / DPM_BUCKET).cast("bigint").alias("b")
    )
    # O(domain) rows with four consumers — deliberately NOT persisted:
    # ReusedExchange shares the one corpus agg across them (A/B r12:
    # persist 0.94 s vs 0.52 s without at sf0.1)
    counts = v.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    n = v.agg(F.count(F.lit(1)).alias("n"))
    a = counts.alias("a")
    x = counts.alias("x")
    below = (
        a.join(x, F.col("x.b") < F.col("a.b"), "left")
        .groupBy(F.col("a.b").alias("b"))
        .agg(F.coalesce(F.sum("x.c"), F.lit(0)).alias("nb"))
    )
    n_cand = counts.agg(F.count(F.lit(1)).alias("n_candidates"))
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dpm:"),
                                          F.col("b").cast("string"))), 1, 13),
               16, 10).cast("double") + 0.5
    ) / F.lit(_U_SPACE)
    gumbel = -F.round(F.log(-F.round(F.log(u), 6)), 6)
    err2 = F.abs(2 * F.col("nb") - F.col("n"))
    scored = below.join(F.broadcast(n)).select(
        "b",
        err2.alias("err2"),
        "n",
        (-err2 * DPM_EPSILON / 4.0 + gumbel).alias("key"),
    )
    return (
        scored.join(F.broadcast(n_cand))
        .orderBy(F.desc("key"), F.asc("b"))
        .limit(1)
        .select(
            F.col("b").alias("bucket"),
            F.col("err2").cast("bigint").alias("err2"),
            F.col("n").cast("bigint").alias("n"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity repair: generalize / suppress failing equivalence classes
# ---------------------------------------------------------------------------


@register(
    "q_privacy_kanon_generalize",
    oracle=f"""
    WITH l0 AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n
      FROM customer GROUP BY 1, 2
    ),
    rel0 AS (SELECT * FROM l0 WHERE n >= {K_ANON}),
    f0 AS (SELECT * FROM l0 WHERE n < {K_ANON}),
    l1 AS (
      SELECT n_regionkey AS rk, f0.c_mktsegment, sum(f0.n) AS n
      FROM f0 JOIN nation ON n_nationkey = f0.c_nationkey
      GROUP BY 1, 2
    ),
    rel1 AS (SELECT * FROM l1 WHERE n >= {K_ANON}),
    f1 AS (SELECT * FROM l1 WHERE n < {K_ANON})
    SELECT CAST(0 AS INT) AS qi_level,
           'n' || CAST(c_nationkey AS VARCHAR) AS qi_geo,
           c_mktsegment AS qi_segment, CAST(n AS BIGINT) AS n
    FROM rel0
    UNION ALL
    SELECT 1, 'r' || CAST(rk AS VARCHAR), c_mktsegment, CAST(n AS BIGINT)
    FROM rel1
    UNION ALL
    SELECT 2, '*', '*', CAST(sum(n) AS BIGINT)
    FROM f1 HAVING count(*) > 0
    """,
)
def q_privacy_kanon_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repair operator downstream of ``q_kanonymity_audit``: a
    two-rung generalization ladder that makes the release k-anonymous.
    Equivalence classes (nation, segment) of size >= {K_ANON} release
    at level 0; rows from failing classes re-group under the coarser
    (region, segment) QI; classes that STILL fail collapse into one
    fully-suppressed ('*', '*') bucket.  Levels 0 and 1 are k-anonymous
    by construction (each published class has n >= {K_ANON}); the
    level-2 bucket aggregates ALL residual rows but its total can
    itself be < {K_ANON} when very few rows fail both rungs, so a
    strict release pipeline would additionally withhold it below k
    (ADVICE r10 — not enforced here; the bucket is published so the
    census stays complete and auditable).

    Scale shape: ONE row-level aggregation (the level-0 class census,
    keyed on the QI tuple); every later rung re-aggregates the O(QI
    classes) census, never the row table — level 1 is a broadcast join
    of the failing classes to the 25-row nation dim, and the suppressed
    bucket is a one-row agg.  Integer-exact throughout; output is
    O(classes)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    l0 = (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()  # two consumers (released + failing slices); released
        # by the caller's clearCache
    )
    rel0 = l0.filter(F.col("n") >= K_ANON).select(
        F.lit(0).cast("int").alias("qi_level"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("qi_geo"),
        F.col("c_mktsegment").alias("qi_segment"),
        F.col("n").cast("bigint").alias("n"),
    )
    f0 = l0.filter(F.col("n") < K_ANON)
    l1 = (
        f0.join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            f0.c_nationkey == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey", "c_mktsegment")
        .agg(F.sum("n").alias("n"))
        .persist()
    )
    rel1 = l1.filter(F.col("n") >= K_ANON).select(
        F.lit(1).cast("int").alias("qi_level"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("qi_geo"),
        F.col("c_mktsegment").alias("qi_segment"),
        F.col("n").cast("bigint").alias("n"),
    )
    f1 = (
        l1.filter(F.col("n") < K_ANON)
        .agg(F.sum("n").alias("n"), F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") > 0)
        .select(
            F.lit(2).cast("int").alias("qi_level"),
            F.lit("*").alias("qi_geo"),
            F.lit("*").alias("qi_segment"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    return rel0.unionAll(rel1).unionAll(f1)


# ---------------------------------------------------------------------------
# t-closeness audit (EMD between class and global sensitive distributions)
# ---------------------------------------------------------------------------

T_CLOSE_MAX6 = 0.25  # release gate: classes with t6 above this fail

# exact EMD ratio (r14 parity idiom): num is an exact integer, the
# denominator n·N·(B−1) runs on the HUGEINT/DECIMAL wide path
_T6_SQL = round_ratio_sql(
    "d.num",
    "CAST(d.n AS HUGEINT) * nb.n_total * (nb.n_buckets - 1)",
    6,
    wide=True,
)


@register(
    "q_privacy_t_closeness",
    oracle=f"""
    WITH rows_b AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS b
      FROM customer
    ),
    gbuck AS (SELECT b, count(*) AS g FROM rows_b GROUP BY b),
    nb AS (SELECT count(*) AS n_buckets, sum(g) AS n_total FROM gbuck),
    cls AS (
      SELECT c_nationkey, c_mktsegment, b, count(*) AS c
      FROM rows_b GROUP BY 1, 2, 3
    ),
    csize AS (
      SELECT c_nationkey, c_mktsegment, sum(c) AS n
      FROM cls GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.c_nationkey, s.c_mktsegment, s.n, g.b, g.g,
             coalesce(c.c, 0) AS c
      FROM csize s CROSS JOIN gbuck g
      LEFT JOIN cls c ON c.c_nationkey = s.c_nationkey
                     AND c.c_mktsegment = s.c_mktsegment AND c.b = g.b
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, n, b,
             sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment
                          ORDER BY b) AS cum_c,
             sum(g) OVER (PARTITION BY c_nationkey, c_mktsegment
                          ORDER BY b) AS cum_g
      FROM grid
    ),
    dist AS (
      SELECT c.c_nationkey, c.c_mktsegment, c.n,
             sum(abs(c.cum_c * nb.n_total - c.cum_g * c.n)) AS num
      FROM cum c CROSS JOIN nb
      GROUP BY 1, 2, 3
    )
    SELECT d.c_nationkey, d.c_mktsegment,
           CAST(d.n AS BIGINT) AS n,
           {_T6_SQL} AS t6,
           ({_T6_SQL} <= {T_CLOSE_MAX6}) AS t_ok
    FROM dist d CROSS JOIN nb
    """,
)
def q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the k/l/t release ladder
    (`q_kanonymity_audit` covers k and l): per quasi-identifier class,
    the Earth Mover's Distance between the class's sensitive-value
    distribution (acctbal kilobuckets, an ORDERED attribute) and the
    global one, normalized to [0,1] by (B−1).  l-diversity misses
    skew — a class can have 3 distinct values yet sit 95% on one tail;
    t-closeness is the distributional gate that catches it.

    Determinism: EMD over ordered buckets is Σ_b |cumP − cumQ| / (B−1);
    the cross-multiplied form |cum_c·N − cum_g·n| keeps every summand
    an exact int64 (cum_c ≤ n, cum_g ≤ N: products ≤ n·N ≈ 10^16 at
    100 TB scale, inside int64), the per-class sum is exact, and ONE
    double divide + round(6) lands identically on both engines.

    Scale shape: one row-level agg to the (class × bucket) census; the
    dense grid is classes × O(B≈12) buckets built from a broadcast of
    the O(B) global frame; cumulative sums window over the REDUCED
    grid partitioned by class (bounded B rows per partition); the
    one-row totals broadcast.  At 100 TB: one shuffle of (QI, bucket)
    tuples, everything after is census-sized."""
    cust = load_table(spark, sf_dir, "customer")
    rows_b = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("b"),
    )
    cls = (
        rows_b.groupBy("c_nationkey", "c_mktsegment", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()  # three consumers: global census, class sizes, grid;
        # released by the caller's clearCache
    )
    glob = cls.groupBy("b").agg(F.sum("c").alias("g"))
    nb = glob.agg(
        F.count(F.lit(1)).alias("n_buckets"), F.sum("g").alias("n_total")
    )
    csize = cls.groupBy("c_nationkey", "c_mktsegment").agg(F.sum("c").alias("n"))
    grid = (
        csize.crossJoin(F.broadcast(glob))
        .join(cls, ["c_nationkey", "c_mktsegment", "b"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            "b",
            "g",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    wcum = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("b")
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        F.sum("c").over(wcum).alias("cum_c"),
        F.sum("g").over(wcum).alias("cum_g"),
    )
    dist = (
        cum.join(F.broadcast(nb))
        .groupBy("c_nationkey", "c_mktsegment", "n", "n_buckets", "n_total")
        .agg(
            # DECIMAL(38,0) products (r14 overflow audit): cum·N crosses
            # int64 once a class and the census both pass ~3e9 rows
            F.sum(
                F.abs(
                    F.col("cum_c").cast("decimal(38,0)") * F.col("n_total")
                    - F.col("cum_g").cast("decimal(38,0)") * F.col("n")
                )
            ).alias("num")
        )
    )
    t6 = round_ratio(
        "num",
        "cast(n as decimal(38,0)) * n_total * (n_buckets - 1)",
        6,
        wide=True,
    )
    return dist.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").cast("bigint").alias("n"),
        t6.alias("t6"),
        (t6 <= T_CLOSE_MAX6).alias("t_ok"),
    )


# ---------------------------------------------------------------------------
# DP sum release with contribution clamping (bounded sensitivity)
# ---------------------------------------------------------------------------

DPSUM_CLAMP = 5000  # per-row contribution bound => sum sensitivity

_DPSUM_ORACLE = f"""
    WITH c AS (
      SELECT c_nationkey,
             count(*) AS n,
             CAST(sum(CAST(floor(least(greatest(c_acctbal, 0),
                                       {DPSUM_CLAMP}) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS s_cents
      FROM customer GROUP BY c_nationkey
    ),
    u AS (
      SELECT c_nationkey, n, s_cents,
             (CAST(CAST('0x' || substr(md5('dpsum:' ||
                        CAST(c_nationkey AS VARCHAR)), 1, 13) AS BIGINT)
                   AS DOUBLE) + 0.5) / {_U_SPACE} AS u
      FROM c
    )
    SELECT c_nationkey,
           CAST(n AS BIGINT) AS n,
           CAST(s_cents / 100.0 AS DOUBLE) AS clamped_sum,
           {_round4_away_sql('noise6')} AS noise,
           {_round4_away_sql('s_cents * 10000 + noise6')}
               AS noisy_sum
    FROM (SELECT c_nationkey, n, s_cents,
                 ({_NOISE6_SQL}) * {DPSUM_CLAMP} AS noise6
          FROM u)
"""


@register("q_privacy_dp_sum_clamped", oracle=_DPSUM_ORACLE)
def q_privacy_dp_sum_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private SUM release with contribution clamping —
    the mechanism step `q_privacy_dp_counts` cannot show: a sum's
    sensitivity is unbounded until each row's contribution is clamped
    (here to [0, {DPSUM_CLAMP}]), after which Laplace({DPSUM_CLAMP}/ε)
    calibrates to the bound.  Contribution bounding is THE central
    practical idea of DP aggregation at scale — every production DP
    engine clamps before it sums.

    Determinism: the fixture stores c_acctbal as parquet DOUBLE, so a
    float SUM of clamped balances would be order-dependent and its
    micro-unit cast would TRUNCATE in Spark while the oracle's CAST
    rounds in DuckDB (the trunc-vs-round divergence class, ADVICE r13).
    Instead each row is cent-quantized FIRST — ``floor(clamped*100 +
    0.5)`` is identical IEEE double arithmetic on both engines — and
    the aggregate is an exact int64 SUM of cents; every downstream
    release column derives from that integer.  The single ln() draws
    from the md5-of-group-key uniform grid and rounds to 6dp
    immediately (the dp_counts discipline), so the release replays
    identically across engines and retries.  True n/clamped_sum are
    emitted solely so the oracle can audit the mechanism end-to-end.

    Scale shape: clamp+quantize is a row-local projection fused into
    the scan; ONE combiner aggregation keyed on the group; the
    mechanism itself is a projection on O(groups) rows."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.floor(
        F.least(F.greatest(F.col("c_acctbal"), F.lit(0)), F.lit(DPSUM_CLAMP))
        * 100
        + F.lit(0.5)
    ).cast("bigint")
    c = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("s_cents")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dpsum:"), F.col("c_nationkey").cast("string"))), 1, 13),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(_U_SPACE)
    # micro-unit release (the dp_counts discipline): s_cents is an
    # exact int64 sum of cents, so s_cents·10⁴ is an exact int64 up to
    # ~9·10¹⁴ in sum value — far past the fixture; a corpus whose
    # CLAMPED per-group sums exceed that would move m6 to
    # DECIMAL(38,0) (the regress-two-features overflow lesson)
    noisy = c.withColumn(
        "noise6", _laplace_noise6(u, DPSUM_CLAMP)
    ).withColumn(
        "m6", F.col("s_cents") * 10_000 + F.col("noise6")
    )
    return noisy.select(
        "c_nationkey",
        F.col("n").cast("bigint").alias("n"),
        (F.col("s_cents") / F.lit(100.0)).cast("double").alias("clamped_sum"),
        _round4_away("noise6").alias("noise"),
        _round4_away("m6").alias("noisy_sum"),
    )
