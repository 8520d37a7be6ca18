"""Round-14 hardening: the exact-substring mega-template skew stress
(VERDICT r13 task 5 + ADVICE df-cap item), the cross-engine discrete-
quantile index parity property (ADVICE r13), and the DP-sum cent-
quantization regression (ADVICE r13 medium item).
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _word(i: int) -> str:
    """Distinct letters-only token per index (the tokenizer splits on
    non-letters, so digits would vanish): 'w' + base-26 in a..z."""
    digits = []
    for _ in range(4):
        i, d = divmod(i, 26)
        digits.append(chr(ord("a") + d))
    return "w" + "".join(reversed(digits))


def _docs_df(spark, docs: dict[int, list[str]]):
    rows = [
        (did, " ".join(toks), "en", "unit", len(" ".join(toks)))
        for did, toks in docs.items()
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


# ---------------------------------------------------------------------------
# Exact-substring dedup: mega-template skew stress + df-cap semantics
# (VERDICT r13 task 5; ADVICE r13 low item — dedup.py df-cap)
# ---------------------------------------------------------------------------

BOILER = [_word(i) for i in range(1, 61)]  # 60-token shared template
N_TEMPLATE_DOCS = 100


def _template_corpus() -> dict[int, list[str]]:
    """100 docs, each: unique 10-token prefix + the 60-token boilerplate
    + unique 10-token suffix.  Every 50-gram fully inside the
    boilerplate (positions 11..21 → 11 grams) is shared by ALL 100 docs
    — the mega-template C(d,2) fan-out hazard: 11 grams x C(100,2)
    = 54,450 candidate rows from 100 docs."""
    docs = {}
    for d in range(1, N_TEMPLATE_DOCS + 1):
        pre = [_word(100_000 + d * 100 + j) for j in range(10)]
        suf = [_word(200_000 + d * 100 + j) for j in range(10)]
        docs[d] = pre + BOILER + suf
    return docs


def test_exact_substring_mega_template_aqe_path(spark):
    """Cap ABOVE the plant (1000 > 100): the skew hazard is live — one
    gram key carries C(100,2) fan-out — and the AQE skew-join path must
    complete and return exactly the C(100,2) template pairs, each with
    one maximal 60-token span."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        exact_substring_pairs,
    )

    out = exact_substring_pairs(_docs_df(spark, _template_corpus()), df_cap=1000)
    rows = {(r.doc_a, r.doc_b): (r.n_spans, r.max_span_tokens) for r in out.collect()}
    expected_pairs = N_TEMPLATE_DOCS * (N_TEMPLATE_DOCS - 1) // 2
    assert len(rows) == expected_pairs  # C(100,2) = 4950
    assert set(rows.values()) == {(1, 60)}


def test_exact_substring_df_cap_drops_only_ubiquitous_spans(spark):
    """Cap BELOW the plant (8 < 100): the altered semantics must be
    exactly 'spans made entirely of ubiquitous grams are dropped':

    * the 4,950 boilerplate-only pairs vanish (every gram df=100 > 8);
    * a rare 55-token span shared by exactly 2 docs (df=2) survives
      unchanged;
    * a FULL-document copy of doc 1 (doc 103) still surfaces — its
      unique prefix/suffix grams (df=2) are kept, the capped
      boilerplate-interior grams open a gap, and the verified spans
      shorten to the two 59-token islands (n_spans=2) instead of the
      uncapped single 80-token span."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        exact_substring_pairs,
    )

    docs = _template_corpus()
    docs[103] = list(docs[1])  # verbatim copy of a template doc
    rare = [_word(300_000 + j) for j in range(55)]
    docs[201] = [_word(400_000 + j) for j in range(10)] + rare + [
        _word(410_000 + j) for j in range(10)
    ]
    docs[202] = [_word(420_000 + j) for j in range(10)] + rare + [
        _word(430_000 + j) for j in range(10)
    ]

    out = exact_substring_pairs(_docs_df(spark, docs), df_cap=8)
    rows = {(r.doc_a, r.doc_b): (r.n_spans, r.max_span_tokens) for r in out.collect()}
    assert rows == {(201, 202): (1, 55), (1, 103): (2, 59)}


def test_exact_substring_registered_cap_inert_on_fixture(spark):
    """The registered EXSUB_GRAM_DF_CAP (64) must sit above the driver
    fixtures' max gram df (3 at sf0.01, 4 at sf0.1 — measured r14), so
    the registered query's results are the cap-free results.  Pin that
    on a corpus whose max df (4) equals the sf0.1 fixture's: capped and
    uncapped outputs must be identical."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        EXSUB_GRAM_DF_CAP,
        exact_substring_pairs,
    )

    span = [_word(500_000 + j) for j in range(52)]
    docs = {
        d: [_word(600_000 + d * 100 + j) for j in range(10)]
        + span
        + [_word(700_000 + d * 100 + j) for j in range(10)]
        for d in range(1, 5)  # df = 4 on the span grams
    }
    df = _docs_df(spark, docs)
    capped = sorted(map(tuple, exact_substring_pairs(df).collect()))
    uncapped = sorted(
        map(tuple, exact_substring_pairs(df, df_cap=10**9).collect())
    )
    assert EXSUB_GRAM_DF_CAP > 4
    assert capped == uncapped and len(capped) == 6  # C(4,2)


# ---------------------------------------------------------------------------
# Discrete-quantile index parity: Spark percentile_disc vs DuckDB
# quantile_disc (ADVICE r13 low item — timeseries PSI cuts)
# ---------------------------------------------------------------------------

# Sizes chosen so ceil(p*n)-1 differs from the rival index formulas
# (floor(p*n), round(p*n)-1, floor((n-1)*p)): exact-integer p*n hits
# (multiples of 2/4/5/10/20/100), off-by-one neighbours, primes, and
# the degenerate n=1..4.
_PARITY_NS = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 15, 16, 19, 20,
              21, 24, 25, 29, 30, 33, 40, 49, 50, 51, 99, 100, 101, 199,
              200, 250]
_PARITY_PS = [0.01, 0.1, 0.2, 0.25, 0.3, 0.4, 0.5, 0.6, 0.7, 0.75, 0.8,
              0.9, 0.99, 1.0]


def _coprime_stride(n: int) -> int:
    s = max(2, n // 2 + 1)
    while math.gcd(s, n) != 1:
        s += 1
    return s


@pytest.mark.parametrize("dup", [1, 3], ids=["distinct", "triplicated"])
def test_percentile_disc_cross_engine_index_parity(spark, dup):
    """The PSI cuts (timeseries.py) and every percentile_disc oracle
    pairing assume Spark's SQL-standard rule (smallest value with
    cume_dist >= p) selects the SAME element as DuckDB's quantile_disc.
    Property-pin that across adversarial group sizes x probabilities
    (33 x 14 grid, distinct and tied values): any one-element index
    disagreement surfaces as a value mismatch because every group's
    values are distinguishable by construction."""
    rows = []
    for n in _PARITY_NS:
        s = _coprime_stride(n) if n > 1 else 1
        vals = [((i * s) % n) + 1 for i in range(n)]
        assert sorted(vals) == list(range(1, n + 1))
        rows += [(n, float(v)) for v in vals for _ in range(dup)]

    df = spark.createDataFrame(rows, "n int, value double")
    aggs = [
        F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY value)").alias(
            f"p{i}"
        )
        for i, p in enumerate(_PARITY_PS)
    ]
    got = {
        r["n"]: tuple(r[f"p{i}"] for i in range(len(_PARITY_PS)))
        for r in df.groupBy("n").agg(*aggs).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t(n INT, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dq = ", ".join(
        f"quantile_disc(value, {p}) AS p{i}" for i, p in enumerate(_PARITY_PS)
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(f"SELECT n, {dq} FROM t GROUP BY n").fetchall()
    }
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# DP clamped-sum: cent quantization beats float-sum divergence
# (ADVICE r13 medium item — privacy.py q_privacy_dp_sum_clamped)
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def test_dp_sum_clamped_adversarial_balances_match_oracle(spark, tmp_path):
    """c_acctbal is parquet DOUBLE, so a float SUM of clamped balances
    is order-dependent and its micro-unit cast truncates in Spark but
    rounds in DuckDB (the trunc-vs-round class).  The r14 fix
    cent-quantizes per ROW (identical IEEE floor(x*100+0.5) on both
    engines) and sums exact int64 cents.  Stress it with balances whose
    cents sit at half boundaries (x.xx5 doubles) and a 999-row group of
    0.115 whose naive float sum drifts well past the 4-dp half
    boundary: Spark release == DuckDB oracle, row for row."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.privacy import (
        _DPSUM_ORACLE,
        q_privacy_dp_sum_clamped,
    )

    bals = {
        0: [123.455, 0.005, 999.995, 4999.995, 67.765, -3.2, 5000.5],
        1: [0.115] * 999,
        2: [2.675, 8.845, 1.005, 0.001],
    }
    rows = [
        (i, f"c{i}", nk, b, "BUILDING")
        for i, (nk, b) in enumerate(
            (nk, b) for nk, bs in bals.items() for b in bs
        )
    ]
    spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))

    got = sorted(
        tuple(_norm(v) for v in r)
        for r in q_privacy_dp_sum_clamped(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{tmp_path}/customer.parquet/*.parquet')"
    )
    want = sorted(
        tuple(_norm(v) for v in r) for r in con.execute(_DPSUM_ORACLE).fetchall()
    )
    con.close()
    assert got == want
    # the clamp itself: group 0 contains a negative (→ 0 cents) and an
    # over-cap balance (→ exactly 500000 cents); its exact clamped sum
    # in cents is knowable in closed form
    cents0 = sum(
        math.floor(min(max(b, 0), 5000) * 100 + 0.5) for b in bals[0]
    )
    row0 = next(r for r in got if r[0] == "0")
    assert row0[2] == _norm(cents0 / 100.0)


# ---------------------------------------------------------------------------
# round_ratio: exact integer rounding of int ratios (VERDICT r13 task 4)
# ---------------------------------------------------------------------------


def test_round_ratio_exact_on_half_boundaries(spark):
    """round(fl(n/d), k) is divergence-prone exactly when n/d reduces to
    q = 2^(k+1)*5^j (an exact 10^-k half).  round_ratio must return the
    TRUE half-away rounding — Python Fraction ground truth — and its
    DuckDB twin must agree token-for-token, across the boundary
    denominators (128*5^j for k=6), generic denominators, negatives,
    and the DECIMAL(38,0) wide path."""
    from apache_beam_java_firestore_batch_dataflow_spark.functions.numeric import (
        round_ratio,
        round_ratio_sql,
    )

    k = 6
    cases = []
    for q in (128, 640, 3200, 16000, 80000, 400000, 2000000):
        for p in (1, 3, 7, 9, 641, 12345):
            cases.append((p, q))
            cases.append((-p, q))
    cases += [(1, 3), (2, 3), (67_76659, 20), (999_999, 7), (0, 5),
              (10**12 + 1, 640), (5, 1)]
    # wide path: intermediates (2*10^k*num) overflow int64, but the
    # quotient (the rounded value * 10^k) stays inside it — the
    # documented contract
    wide_cases = [
        (10**17 + 1, 10**12 + 7),
        (-(10**17 + 3), 3 * 10**11),
        (10**16, 7 * 10**9),
        (10**18 + 1, 2 * 10**15 * 640),  # exact-half boundary, wide
    ]

    def truth(p, q, k):
        # half-away-from-zero rounding of the exact rational to k dp:
        # sign * floor(|p|/q * 10^k + 1/2), all in exact arithmetic
        m = (2 * 10**k * abs(p) + q) // (2 * q)
        return (-m if p < 0 else m) / 10**k

    for wide, cs in ((False, cases), (True, wide_cases)):
        df = spark.createDataFrame(cs, "p long, d long")
        got = {
            (r["p"], r["d"]): r["r"]
            for r in df.select(
                "p", "d", round_ratio("p", "d", k, wide=wide).alias("r")
            ).collect()
        }
        con = duckdb.connect()
        want = {
            (p, d): con.execute(
                f"SELECT {round_ratio_sql(str(p), str(d), k, wide=wide)}"
            ).fetchone()[0]
            for p, d in cs
        }
        con.close()
        for p, d in cs:
            t = truth(p, d, k)
            assert got[(p, d)] == t == want[(p, d)], (p, d, got[(p, d)], t, want[(p, d)], wide)


def test_parity_audit_ledger_complete():
    """Structural closure of the r13 parity classes (VERDICT r13 task
    4): every F.round-of-a-division and F.sum-of-a-product site in the
    source tree must be either auto-safe (k=0 / transcendental /
    decimal accumulator) or explicitly ledgered with a domain argument
    in scripts/audit_parity.py.  A new unledgered site — or a ledgered
    site whose expression changed — fails here, so the classes cannot
    silently re-open."""
    import subprocess
    import sys

    root = __file__.rsplit("/tests/", 1)[0]
    proc = subprocess.run(
        [sys.executable, f"{root}/scripts/audit_parity.py"],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
