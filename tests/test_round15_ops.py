"""Round-15 gates: the four r14 ADVICE fixes.

1. round_ratio's non-wide path routes its casts through DECIMAL(38,0)
   so a double-VALUED fragment rounds (like DuckDB's CAST AS BIGINT)
   instead of truncating — the trunc-vs-round reintroduction hazard.
2. scripts/audit_parity.py no longer auto-clears ``pow`` as
   transcendental, and its supplementary scan finds sum-of-product
   expressions hiding inside SQL STRING fragments (round_ratio args,
   F.expr) that the AST binop walk cannot see.
3. exact_substring_pairs no longer force-broadcasts the heavy-gram
   set (AQE decides; covered behaviorally by the r14 stress tests —
   here we pin that no explicit hint survives in the plan).
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _audit_mod():
    spec = importlib.util.spec_from_file_location(
        "audit_parity", os.path.join(ROOT, "scripts", "audit_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------------------
# 1. round_ratio double-valued fragments (ADVICE item 1)
# ---------------------------------------------------------------------------


def test_round_ratio_double_valued_fragment_matches_duckdb(spark):
    """A caller passing a non-integer-VALUED fragment (double-typed
    num/den) must converge to the same integer in both engines: Spark's
    raw cast(double as bigint) TRUNCATES while DuckDB's CAST rounds
    half-away, so the non-wide path must route through DECIMAL(38,0)
    (HALF_UP == half-away for these values).  Exercises halves,
    negatives, and non-halves."""
    from apache_beam_java_firestore_batch_dataflow_spark.functions.numeric import (
        round_ratio,
        round_ratio_sql,
    )

    # (num_fragment_value, den_fragment_value) as doubles — including
    # .5 halves where trunc-vs-round diverges by a whole unit.
    cases = [
        (7.5, 2.0),
        (-7.5, 2.0),
        (8.5, 3.0),
        (100.4, 7.0),
        (100.6, 7.0),
        (-0.5, 1.0),
        (2.5, 640.0),
        (12345.5, 128.0),
    ]
    k = 6
    df = spark.createDataFrame(cases, "p double, d double")
    got = {
        (r["p"], r["d"]): r["r"]
        for r in df.select(
            "p", "d", round_ratio("p", "d", k, wide=False).alias("r")
        ).collect()
    }
    con = duckdb.connect()
    for p, d in cases:
        want = con.execute(
            f"SELECT {round_ratio_sql(str(p), str(d), k, wide=False)}"
        ).fetchone()[0]
        assert got[(p, d)] == want, (p, d, got[(p, d)], want)
    con.close()


def test_round_ratio_integer_path_unchanged(spark):
    """The decimal-routed cast is an identity on integer-typed input:
    spot-check a boundary denominator against Fraction ground truth."""
    from apache_beam_java_firestore_batch_dataflow_spark.functions.numeric import (
        round_ratio,
    )

    df = spark.createDataFrame([(641, 640), (-641, 640)], "p long, d long")
    rows = {
        r["p"]: r["r"]
        for r in df.select("p", round_ratio("p", "d", 6, wide=False).alias("r")).collect()
    }
    # 641/640 = 1.0015625 -> exact 10^-6 half at 1.001562|5 -> away: 1.001563
    assert rows[641] == 1.001563
    assert rows[-641] == -1.001563


# ---------------------------------------------------------------------------
# 2. audit_parity hardening (ADVICE item 2)
# ---------------------------------------------------------------------------


def test_audit_pow_not_auto_cleared():
    """pow(x, 2) of an integer ratio is rational — it must NOT clear a
    rounded division as transcendental."""
    mod = _audit_mod()
    assert "pow" not in mod._TRANS_NAMES
    import ast

    tree = ast.parse("F.round(F.pow(a / b, 2), 6)", mode="eval")
    assert not mod._contains(tree.body, mod._is_trans)
    # genuinely transcendental calls still clear
    tree2 = ast.parse("F.round(F.log(a / b), 6)", mode="eval")
    assert mod._contains(tree2.body, mod._is_trans)


def test_audit_string_fragment_sum_mult_scan():
    """sum-of-product inside a SQL string fragment is visible to the
    supplementary scan; checksum()-style identifiers and mult OUTSIDE
    the sum body are not flagged; decimal/hugeint bodies auto-clear."""
    mod = _audit_mod()
    assert mod._sum_mult_in_string("greatest(sum(n * log_ratio_mu), 0L)") == [
        "sum(n * log_ratio_mu)"
    ]
    # * outside the sum body: not the overflow class
    assert mod._sum_mult_in_string("sum(cast(x as bigint)) * 1000000") == []
    # identifier ending in 'sum' is not a sum() aggregate
    assert mod._sum_mult_in_string("checksum(a * b)") == []
    # nested parens resolved by paren matching
    assert mod._sum_mult_in_string("round(sum(f(a, b) * c) / n, 4)") == [
        "sum(f(a, b) * c)"
    ]

    import ast

    # _is_frag_call covers round_ratio / F.expr forms
    call = ast.parse("round_ratio(num, den, 4)", mode="eval").body
    assert mod._is_frag_call(call)
    call2 = ast.parse("F.expr('sum(a*b) div n')", mode="eval").body
    assert mod._is_frag_call(call2)
    call3 = ast.parse("F.sum(x)", mode="eval").body
    assert not mod._is_frag_call(call3)


def test_audit_collect_sees_string_fragment_sites():
    """The live tree contains at least one str-sum-mult site (the KL
    fragment in curation.py) and the full audit still exits clean."""
    mod = _audit_mod()
    kinds = [k for (_, _, k, _, _) in mod.collect()]
    assert "str-sum-mult" in kinds
    assert mod.main() == 0


# ---------------------------------------------------------------------------
# 3. heavy-gram anti-join: no forced broadcast hint (ADVICE item 3)
# ---------------------------------------------------------------------------


def test_exact_substring_heavy_set_not_hint_broadcast(spark):
    """The df-cap anti-join must let AQE choose the strategy: a corpus
    of many distinct mega-templates can grow the heavy set past
    broadcast limits at the 100 TB design point, where a forced hint
    would OOM the driver.  Pin the absence of a ResolvedHint on the
    logical plan (AQE runtime broadcasts are still free to happen)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        exact_substring_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(3)],
        "doc_id long, text string",
    )
    out = exact_substring_pairs(docs, df_cap=1)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in plan and "ResolvedHint" not in plan


# ---------------------------------------------------------------------------
# 5. Bench-leg selection rule (VERDICT r14 item 5)
# ---------------------------------------------------------------------------


def test_bench_covers_sweep_slowest_legs():
    """The timed set carries a stated, checkable selection rule: every
    query among the BENCH_SELECTION_TOP_N slowest spark legs of the
    LEDGERED full sf0.1 sweep must be in HEADLINE or SCALING_QUERIES.
    The ledger may trail the newest committed sweep by at most one
    round (the round-close artifact lands after the code freeze; the
    next round's first task re-ledgers)."""
    import glob
    import re

    sys.path.insert(0, ROOT)
    import bench

    art = os.path.join(ROOT, bench.BENCH_SELECTION_SWEEP)
    assert os.path.exists(art), f"ledgered sweep {bench.BENCH_SELECTION_SWEEP} missing"
    legs = []
    for line in open(art):
        m = re.match(r"PASS (\S+) \((\d+) rows, spark ([\d.]+)s\)", line)
        if m:
            legs.append((float(m.group(3)), m.group(1)))
    assert len(legs) >= 250, "ledgered sweep is not a full-registry artifact"
    legs.sort(reverse=True)
    timed = set(bench.HEADLINE) | set(bench.SCALING_QUERIES)
    # exemptions must each be registered (no stale names) and documented
    import __spark_entry__ as entrymod

    registered = set(entrymod.queries())
    for name, why in bench.BENCH_SELECTION_EXEMPT.items():
        assert name in registered, f"exempt {name} is not a registered query"
        assert len(why) > 20, f"exempt {name} lacks a domain argument"
    timed |= set(bench.BENCH_SELECTION_EXEMPT)
    untimed = [n for _, n in legs[: bench.BENCH_SELECTION_TOP_N] if n not in timed]
    assert not untimed, (
        f"sweep-slowest legs outside the timed set: {untimed} — rotate "
        f"them into HEADLINE/SCALING_QUERIES (bench.py selection rule)"
    )
    # staleness bound: at most one committed sweep newer than the ledger.
    # Compare by ROUND NUMBER, not filename — lexicographic ordering
    # breaks at r100 ('..._r100_...' < '..._r15_...') (r15 ADVICE item 3).
    def _round_no(name: str) -> int:
        m = re.search(r"_r(\d+)_SF01", name)
        assert m, f"unparseable sweep artifact name: {name}"
        return int(m.group(1))

    cur = _round_no(bench.BENCH_SELECTION_SWEEP)
    all_sweeps = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(ROOT, "ORACLE_CHECK_r*_SF01.txt"))
    )
    newer = [s for s in all_sweeps if _round_no(s) > cur]
    assert len(newer) <= 1, (
        f"BENCH_SELECTION_SWEEP is {len(newer)} sweeps stale ({newer}) — "
        f"re-ledger at round start"
    )


# ---------------------------------------------------------------------------
# 4b. documented-float ledger evidence in-repo (VERDICT r14 task 4):
#     the seasonal-profile energy quantization at its exact .5 boundary
# ---------------------------------------------------------------------------


def test_seasonality_energy_exact_half_boundary(spark, tmp_path):
    """The timeseries ledger row for floor(1e6*s_g^2/n_g + 0.5) claims
    'identical IEEE double expression both engines'.  Prove it in-repo
    at the worst case: a planted fixture where 1e6*s_g^2/n_g sits on an
    EXACT .5 (s_g odd, n_g = 128 -> 1e6*s_g^2/128 = 15625*s_g^2/2, a
    dyadic half, exactly representable in double), so floor(+0.5) is
    the same integer in both engines and the full query output matches
    the oracle row-for-row.  Two planted types: s_g=129 (one doubled
    hour) and s_g=1 (single event), both on the 128-hour hod-5 grid."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as papq

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        q_events_seasonality_strength,
    )
    import __spark_entry__ as entrymod

    hours = [24 * i + 5 for i in range(128)]
    rows = []
    for h in hours:
        rows.append(("boundary", h))
    rows.append(("boundary", hours[0]))          # s_g = 129, n_g = 128
    rows.append(("generic", hours[0]))           # s_g = 1,   n_g = 128
    epoch = datetime.datetime(1970, 1, 1)
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [epoch + datetime.timedelta(hours=h) for _, h in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([t for t, _ in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    papq.write_table(tbl, str(tmp_path / "events.parquet"))

    got = {
        r["event_type"]: tuple(r)
        for r in q_events_seasonality_strength(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = {
        r[0]: tuple(r)
        for r in con.execute(
            entrymod.oracle_sql()["q_events_seasonality_strength"]
        ).fetchall()
    }
    con.close()
    assert set(got) == {"boundary", "generic"}
    assert got == want
    # and the energy term itself landed on the boundary we planted:
    # b_mu(boundary) = floor(1e6*129^2/128 + .5) = 130_007_813 exactly
    # (checked indirectly through strength6 equality above; assert the
    # python ground truth too so a future rescale is caught)
    assert 1_000_000 * 129 * 129 / 128 == 130_007_812.5
    assert 1_000_000 * 1 * 1 / 128 == 7_812.5
