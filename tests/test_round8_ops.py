"""Semantic tests for the round-8 operator batch — each new family gets
a property check against an independent computation (the test strategy
of SURVEY.md §5: golden/independent replication, not snapshot)."""

from __future__ import annotations

import re
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F


def _py_bpe_train(vocab: Counter, k: int, sym_base: int = 0xE000):
    """Pure-Python reference for bpe_train: the Sennrich et al. loop
    over a (token -> corpus count) vocabulary, greedy-leftmost merge
    semantics (str.replace), ties on (count desc, pair asc)."""
    merges = []
    for i in range(k):
        census: Counter = Counter()
        for tok, cnt in vocab.items():
            for j in range(len(tok) - 1):
                census[tok[j : j + 2]] += cnt
        pair, n = min(census.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((i + 1, pair, n))
        sym = chr(sym_base + i)
        vocab = Counter(
            {tok.replace(pair, sym): cnt for tok, cnt in vocab.items()}
        )
    return merges


def parquet_vocab(sf_dir: str) -> Counter:
    """Independent vocabulary census straight off the parquet file:
    letters-only runs, lowercased, longer than one character."""
    texts = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])[
        "text"
    ].to_pylist()
    vocab: Counter = Counter()
    tok_re = re.compile(r"[^\W\d_]+", re.UNICODE)  # letters-only runs
    for t in texts:
        for tok in tok_re.findall(t.lower()):
            if len(tok) > 1:
                vocab[tok] += 1
    return vocab


def test_bpe_train_k_rounds_bit_exact_vs_python(spark, sf_dir):
    """bpe_train(k) must reproduce the pure-Python trainer bit-exactly
    for k >= 4 — pair strings (including private-use merge symbols from
    earlier rounds), counts, and order.  A deep run past the lineage
    cadence is checked in tests/test_lineage.py."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        q_text_bpe_train_k4,
    )

    expected = _py_bpe_train(parquet_vocab(sf_dir), k=4)
    got = [
        (r.round, r.pair, r.n)
        for r in q_text_bpe_train_k4(spark, sf_dir).orderBy("round").collect()
    ]
    assert got == expected
    spark.catalog.clearCache()


def test_bpe_train_pairs_with_quote_and_backslash_round_trip(spark):
    """A caller's vocabulary may hold any string: the merge table's SQL
    VALUES literal must read back pairs holding both ``\\`` and ``'``
    exactly (rounds 1-3 win ``\\'``, ``'\\`` and ``\\\\``), bit-exact
    against the pure-Python trainer."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import bpe_train

    vocab = Counter({"\\'": 9, "'\\": 6, "a\\\\": 3})
    sdf = spark.createDataFrame(list(vocab.items()), ["tok", "cnt"])
    got = [(r.round, r.pair, r.n) for r in bpe_train(sdf, k=3).orderBy("round").collect()]
    expected = _py_bpe_train(vocab, k=3)
    assert [p for _, p, _ in expected] == ["\\'", "'\\", "\\\\"]
    assert got == expected
    spark.catalog.clearCache()


def test_bpe_train_learns_compound_merges(spark, sf_dir):
    """Later rounds may merge pairs CONTAINING earlier merge symbols —
    the mechanism by which BPE grows multi-character units.  On a
    synthetic vocabulary dominated by one long word, round 2's winner
    must contain round 1's symbol."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        BPE_SYM_BASE,
        bpe_train,
    )

    vocab = [("abcd", 100), ("abce", 10), ("xy", 1)]
    sdf = spark.createDataFrame(vocab, ["tok", "cnt"])
    merges = {r.round: (r.pair, r.n) for r in bpe_train(sdf, k=3).collect()}
    assert merges[1] == ("ab", 110)
    sym1 = chr(BPE_SYM_BASE)
    # after ab -> sym1: tokens sym1+"cd" (100), sym1+"ce" (10), "xy" (1)
    assert merges[2] == (sym1 + "c", 110)
    sym2 = chr(BPE_SYM_BASE + 1)
    assert merges[3] == (sym2 + "d", 100)
    spark.catalog.clearCache()


def test_kcore_peel_removes_weak_nodes_keeps_core(spark):
    """Triangle + pendant chain: one peel at k=2 drops the chain tail,
    two peels drop the whole chain; the triangle survives with residual
    degree exactly 2 forever (it IS the 2-core)."""
    from pyspark.sql import functions as F

    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import kcore_peel

    half = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]  # triangle 1-2-3, chain 3-4-5
    arcs = spark.createDataFrame(
        half + [(b, a) for a, b in half], ["src", "dst"]
    )
    one = {r.node: r.residual_degree for r in kcore_peel(arcs, k=2, rounds=1).collect()}
    # node 5 (degree 1) gone; 4 survives round 1 (degree was 2 pre-peel)
    assert 5 not in one and one[4] == 1
    two = {r.node: r.residual_degree for r in kcore_peel(arcs, k=2, rounds=2).collect()}
    assert set(two) == {1, 2, 3} and set(two.values()) == {2}
    # fixpoint: further rounds change nothing
    three = {r.node: r.residual_degree for r in kcore_peel(arcs, k=2, rounds=3).collect()}
    assert three == two
    spark.catalog.clearCache()


def test_lateness_audit_matches_bruteforce(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.streaming.windows import (
        WATERMARK_DELAY_S,
        q_stream_lateness_audit,
    )

    tbl = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_id", "event_type", "ts"]
    )
    rows = sorted(
        zip(
            tbl["event_id"].to_pylist(),
            tbl["event_type"].to_pylist(),
            [t.timestamp() * 1_000_000 for t in tbl["ts"].to_pylist()],
        )
    )
    delay_us = WATERMARK_DELAY_S * 1_000_000
    pmax = None
    expect: dict[str, list] = {}
    for _, etype, t in rows:
        n, nl, mx = expect.get(etype, (0, 0, 0))
        late = (
            pmax - delay_us - t if pmax is not None and t < pmax - delay_us else None
        )
        expect[etype] = (
            n + 1,
            nl + (1 if late is not None else 0),
            max(mx, late or 0),
        )
        pmax = t if pmax is None else max(pmax, t)
    got = {
        r.event_type: (r.n_events, r.n_late, r.max_lateness_us)
        for r in q_stream_lateness_audit(spark, sf_dir).collect()
    }
    assert got == {k: (int(a), int(b), int(round(c))) for k, (a, b, c) in expect.items()}
    spark.catalog.clearCache()


def test_gini_matches_direct_formula(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_agg_gini_customer_revenue,
    )

    tbl = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_totalprice"]
    )
    totals: dict[int, int] = {}
    for ck, tp in zip(tbl["o_custkey"].to_pylist(), tbl["o_totalprice"].to_pylist()):
        totals[ck] = totals.get(ck, 0) + int(round(float(tp) * 100))
    xs = sorted(totals.values())
    n, sx = len(xs), sum(xs)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    expected = round(2 * six / (n * sx) - (n + 1.0) / n, 6)
    row = q_agg_gini_customer_revenue(spark, sf_dir).collect()[0]
    assert row.n_customers == n
    assert abs(row.gini - expected) < 2e-6
    assert 0.0 <= row.gini < 1.0
    spark.catalog.clearCache()


def test_acf_lag0_identity_and_numpy_parity(spark, sf_dir):
    """ACF at each lag must match numpy's Pearson r on the same aligned
    hourly pairs (tolerance: the engines' exact-int formula vs numpy's
    float path), and every value must lie in [-1, 1]."""
    import numpy as np

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        q_events_autocorrelation,
    )

    tbl = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    series: dict[str, dict[int, int]] = {}
    for etype, ts in zip(tbl["event_type"].to_pylist(), tbl["ts"].to_pylist()):
        h = int(ts.timestamp() * 1_000_000) // 3_600_000_000
        series.setdefault(etype, {})
        series[etype][h] = series[etype].get(h, 0) + 1
    rows = q_events_autocorrelation(spark, sf_dir).collect()
    assert rows, "no ACF rows"
    for r in rows:
        assert r.acf is None or -1.0 <= r.acf <= 1.0
        s = series[r.event_type]
        pairs = [(c, s[h - r.lag]) for h, c in s.items() if h - r.lag in s]
        assert r.n_pairs == len(pairs)
        if r.acf is not None and len(pairs) > 2:
            x = np.array([p[0] for p in pairs], dtype=float)
            y = np.array([p[1] for p in pairs], dtype=float)
            ref = np.corrcoef(x, y)[0, 1]
            assert abs(r.acf - ref) < 1e-6, (r.event_type, r.lag)
    spark.catalog.clearCache()


def test_matryoshka_energy_monotone_in_dim(spark, sf_dir):
    """Prefix energy is monotonically non-decreasing in the truncation
    dim (it's a partial sum of squares), and bounded by (0, 1]."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        q_embedding_matryoshka_quality,
    )

    rows = {
        r.trunc_dim: r for r in q_embedding_matryoshka_quality(spark, sf_dir).collect()
    }
    assert sorted(rows) == [8, 16, 32]
    last = 0.0
    for d in (8, 16, 32):
        r = rows[d]
        assert 0.0 < r.min_energy <= r.mean_energy <= 1.0 + 1e-9
        assert r.mean_energy >= last - 1e-9
        last = r.mean_energy
        assert r.n_vecs == rows[8].n_vecs  # same corpus at every dim
    spark.catalog.clearCache()


def test_float64_exact_guard_covers_the_whole_class():
    """VERDICT r7 item 2: the guard must reject every type that can
    carry integers beyond 2^53 (HUGEINT r6, DECIMAL(38,0) r7, plus
    UHUGEINT/UBIGINT), while passing the types the driver round-trips
    exactly."""
    import sys

    sys.path.insert(0, "tests")
    from test_driver_contract import _exceeds_float64_exact

    for bad in ("HUGEINT", "UHUGEINT", "UBIGINT", "DECIMAL(38,0)",
                "DECIMAL(19,4)", "decimal(38,6)"):
        assert _exceeds_float64_exact(bad), bad
    for ok in ("BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN",
               "DECIMAL(18,2)", "DECIMAL(12,2)", "DATE", "TIMESTAMP"):
        assert not _exceeds_float64_exact(ok), ok


def test_overlap_counts_match_quadratic_python(spark, sf_dir):
    """The sharded prefix-sum plan must equal an independent python
    implementation (re-sessionize from parquet, count via sorted
    bisection).  The genuinely quadratic check is the DuckDB IEJoin
    oracle; this test isolates the Spark pipeline end to end."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        q_sessions_overlap_counts,
    )

    tbl = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_id"]
    )
    rows = sorted(
        zip(
            tbl["user_id"].to_pylist(),
            [int(t.timestamp() * 1_000_000) for t in tbl["ts"].to_pylist()],
            tbl["event_id"].to_pylist(),
        ),
        key=lambda r: (r[0], r[1], r[2]),
    )
    intervals = {}
    prev_user, prev_t, sno = None, None, 0
    for u, t, _ in rows:
        if u != prev_user:
            prev_user, sno = u, 1
        elif t - prev_t > 1_800_000_000:
            sno += 1
        prev_t = t
        s, e = intervals.get((u, sno), (t, t))
        intervals[(u, sno)] = (min(s, t), max(e, t))
    ivs = list(intervals.items())
    expect = {}
    starts = sorted(s for _, (s, _) in ivs)
    ends = sorted(e for _, (_, e) in ivs)
    import bisect

    n = len(ivs)
    for key, (s, e) in ivs:
        starts_upto = bisect.bisect_right(starts, e)
        ends_before = bisect.bisect_left(ends, s)
        expect[key] = starts_upto - ends_before - 1
    got = {
        (r.user_id, r.session_no): r.n_overlaps
        for r in q_sessions_overlap_counts(spark, sf_dir).collect()
    }
    assert got == expect and len(got) == n
    spark.catalog.clearCache()


def test_mix_budget_solver_invariants(spark, sf_dir):
    """Bottleneck source must be ~fully utilized; every allocation must
    respect both the availability cap and the exact target share."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        q_mix_budget_solver,
    )

    rows = q_mix_budget_solver(spark, sf_dir).collect()
    assert rows
    units_total = sum(r.units for r in rows)
    t_star = min(r.avail_chars * units_total // r.units for r in rows)
    for r in rows:
        assert r.used_chars <= r.avail_chars
        assert r.used_chars == r.units * t_star // units_total
        assert r.is_bottleneck == (
            r.avail_chars * units_total // r.units == t_star
        )
    assert any(r.is_bottleneck for r in rows)
    # the bottleneck's head-room is less than one unit-share of T*
    bn = next(r for r in rows if r.is_bottleneck)
    assert bn.avail_chars - bn.used_chars < units_total
    spark.catalog.clearCache()


def test_dp_heavy_hitters_threshold_and_mechanism(spark, sf_dir):
    """Every released row must clear tau; the noise must be exactly the
    md5-keyed Laplace draw (reproducible mechanism); suppressed groups
    must be exactly the complement."""
    import hashlib
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.privacy import (
        DP_EPSILON,
        DP_HH_TAU,
        _U_SPACE,
        q_privacy_dp_heavy_hitters,
    )

    tbl = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_type", "user_id"])
    counts: dict = {}
    for et, uid in zip(tbl["event_type"].to_pylist(), tbl["user_id"].to_pylist()):
        k = (et, uid % 50)
        counts[k] = counts.get(k, 0) + 1

    def noisy(et, b, n):
        h = hashlib.md5(f"dphh:{et}|{b}".encode()).hexdigest()[:13]
        u = (int(h, 16) + 0.5) / _U_SPACE
        ln6 = round(math.log(2 * u), 6) if u < 0.5 else -round(math.log(2 - 2 * u), 6)
        return round(n + ln6 / DP_EPSILON, 4)

    expect = {
        k: (n, noisy(k[0], k[1], n))
        for k, n in counts.items()
        if noisy(k[0], k[1], n) >= DP_HH_TAU
    }
    got = {
        (r.event_type, r.bucket): (r.n, r.noisy_n)
        for r in q_privacy_dp_heavy_hitters(spark, sf_dir).collect()
    }
    assert got == expect
    for (_, _), (n, nn) in got.items():
        assert nn >= DP_HH_TAU
    spark.catalog.clearCache()


def test_token_bucket_invariants(spark, sf_dir):
    """State bounds and decision consistency: tokens stay in
    [0, CAP−COST] after an allowed event, rejections happen exactly
    when the pre-refill+clamp balance is short, and a user's first
    event is always allowed (bucket starts full)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        TB_CAP_UT,
        TB_COST_UT,
        q_events_token_bucket,
    )

    rows = q_events_token_bucket(spark, sf_dir).collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    n_rejected = 0
    for _, evs in by_user.items():
        evs.sort(key=lambda r: r.event_id)
        assert evs[0].allowed  # bucket starts full
        for r in evs:
            assert 0 <= r.tokens_after_ut <= TB_CAP_UT
            if r.allowed:
                assert r.tokens_after_ut <= TB_CAP_UT - 0  # spent then clamped history
            else:
                n_rejected += 1
                assert r.tokens_after_ut < TB_COST_UT  # short balance unchanged
    assert n_rejected > 0  # the fixture's bursts actually trip the limiter
    spark.catalog.clearCache()


def test_hll_union_matches_exact_within_contract(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_sketch_hll_partitioned_union,
    )

    rows = q_sketch_hll_partitioned_union(spark, sf_dir).collect()
    assert rows and all(r.sketch_ok for r in rows)
    assert all(r.n_days > 1 for r in rows)  # the two-level merge really ran
    spark.catalog.clearCache()


def test_lpa_finds_dense_communities(spark):
    """Two triangles joined by one bridge edge: after 3 synchronous LPA
    rounds each triangle is internally uniform and the two differ —
    communities, where min-label components would merge everything into
    one.  (Synchronous majority LPA takes an extra round to settle
    across the bridge; labels converge to SOME member id per dense
    cluster, not necessarily the minimum.)"""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        lpa_communities,
    )

    half = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    arcs = spark.createDataFrame(
        half + [(b, a) for a, b in half], ["src", "dst"]
    )
    lab = {r.node: r.label for r in lpa_communities(arcs, rounds=3).collect()}
    # triangle {1,2,3} all share one label; triangle {4,5,6} another
    assert len({lab[1], lab[2], lab[3]}) == 1
    assert len({lab[4], lab[5], lab[6]}) == 1
    assert lab[1] != lab[4]
    spark.catalog.clearCache()


def test_user_streaks_matches_python(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        q_events_user_streaks,
    )

    tbl = pq.read_table(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    days: dict = {}
    for u, ts in zip(tbl["user_id"].to_pylist(), tbl["ts"].to_pylist()):
        days.setdefault(u, set()).add(int(ts.timestamp() * 1_000_000) // 86_400_000_000)
    expect = {}
    for u, ds in days.items():
        ds = sorted(ds)
        streaks = []
        start = prev = ds[0]
        for d in ds[1:]:
            if d == prev + 1:
                prev = d
            else:
                streaks.append((prev - start + 1, start))
                start = prev = d
        streaks.append((prev - start + 1, start))
        longest = max(s[0] for s in streaks)
        expect[u] = (
            longest,
            min(s[1] for s in streaks if s[0] == longest),
            len(streaks),
        )
    got = {
        r.user_id: (r.longest_streak_days, r.streak_start_day, r.n_streaks)
        for r in q_events_user_streaks(spark, sf_dir).collect()
    }
    assert got == expect
    spark.catalog.clearCache()


def test_keep_longest_prefers_length_over_id(spark, sf_dir):
    """Within every cluster the kept doc must have the maximal n_chars
    (ties to the smallest id), and exactly one doc per cluster is
    kept."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        q_dedup_keep_longest,
    )

    rows = q_dedup_keep_longest(spark, sf_dir).collect()
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "n_chars"]
        ).to_pylist()
    }
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        kept = [r for r in members if r.is_kept]
        assert len(kept) == 1
        k = kept[0]
        best = min(members, key=lambda r: (-chars[r.doc_id], r.doc_id))
        assert k.doc_id == best.doc_id == k.kept_doc
    spark.catalog.clearCache()
