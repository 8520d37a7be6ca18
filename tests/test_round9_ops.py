"""Semantic tests for the round-9 operator batch (and the two round-8
snapshot operators that shipped without tests — VERDICT r8 item 1).
Each operator is checked against an independent computation, never a
snapshot (SURVEY.md §5 test strategy)."""

from __future__ import annotations

import math

import numpy as np
import pyarrow.parquet as pq


def test_audio_zcr_matches_formula_replay(spark, sf_dir):
    """q_multimodal_audio_zcr decodes REAL WAV bytes; this test replays
    the sample-generating formula in pure Python (a third, independent
    path next to the Spark decoder and the DuckDB oracle) and demands
    bit-exact agreement on every clip."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.multimodal import (
        q_multimodal_audio_zcr,
    )

    doc_ids = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    )["doc_id"].to_pylist()

    expected = {}
    for d in doc_ids:
        n_frames = d % 50 + 20
        channels = d % 2 + 1
        s = np.array(
            [
                (d * 7919 + k * 104729) % 65521 - 32760
                for k in range(n_frames * channels)
            ],
            dtype=np.int64,
        )
        n = 0
        for ch in range(channels):
            sg = np.sign(s[ch::channels])
            n += int((sg[1:] * sg[:-1] == -1).sum())
        expected[d] = (channels, n)

    got = {
        r.doc_id: (r.channels, r.n_crossings)
        for r in q_multimodal_audio_zcr(spark, sf_dir).collect()
    }
    assert got == expected
    spark.catalog.clearCache()


def test_audio_zcr_zero_breaks_runs():
    """The crossing definition (sign(a)*sign(b) == -1) must treat an
    exact zero as breaking the run on BOTH sides: +,0,- is zero
    crossings, +,- is one.  Checked on the kernel's own numpy idiom so
    a refactor that switches to `diff(sign) != 0` fails loudly."""
    s = np.array([5, 0, -5], dtype=np.int64)
    sg = np.sign(s)
    assert int((sg[1:] * sg[:-1] == -1).sum()) == 0
    s2 = np.array([5, -5, 3, 2, -1], dtype=np.int64)
    sg2 = np.sign(s2)
    assert int((sg2[1:] * sg2[:-1] == -1).sum()) == 3


def test_regress_two_features_matches_numpy_lstsq(spark, sf_dir):
    """q_regress_two_features solves the 3x3 normal equations with
    Cramer's rule over exact integer sufficient statistics; numpy's
    QR-based lstsq over the same cent-quantized inputs must agree on
    coefficients and R^2 (independent solver, same model)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_regress_two_features,
    )

    t = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_quantity", "l_discount", "l_extendedprice"],
    )
    x1 = np.floor(np.asarray(t["l_quantity"], dtype=np.float64) * 100 + 0.5)
    x2 = np.floor(np.asarray(t["l_discount"], dtype=np.float64) * 100 + 0.5)
    y = np.floor(
        np.asarray(t["l_extendedprice"], dtype=np.float64) * 100 + 0.5
    )
    A = np.column_stack([np.ones_like(x1), x1, x2])
    beta, _, _, _ = np.linalg.lstsq(A, y, rcond=None)
    resid = y - A @ beta
    r2 = 1 - float(resid @ resid) / float(((y - y.mean()) ** 2).sum())

    row = q_regress_two_features(spark, sf_dir).collect()[0]
    assert row.n_rows == len(y)
    # Cramer-on-doubles vs QR agree to far better than 1e-6 relative on
    # this well-conditioned design; the round(6) outputs must match the
    # independent fit within one rounding step.
    assert math.isclose(row.b0_cents, beta[0], rel_tol=1e-6, abs_tol=2e-6)
    assert math.isclose(row.b1, beta[1], rel_tol=1e-6, abs_tol=2e-6)
    assert math.isclose(row.b2, beta[2], rel_tol=1e-6, abs_tol=2e-6)
    assert math.isclose(row.r2, r2, rel_tol=1e-6, abs_tol=2e-6)
    spark.catalog.clearCache()


def test_regress_two_features_single_agg_plan(spark, sf_dir):
    """Scale shape: the whole fit must be ONE aggregation over the scan
    (partial map-side combine -> single-row final) — no joins, no
    windows, no second pass over lineitem."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_regress_two_features,
    )

    plan = q_regress_two_features(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    # one scan of lineitem only
    assert plan.count("Scan parquet") == 1


def test_weighted_stratified_sample_matches_python_replay(spark, sf_dir):
    """q_sample_weighted_stratified must select exactly the per-lang
    top-k by the Efraimidis-Spirakis key ln(u)/w — replayed here in
    pure Python from the same md5 uniforms (independent of both the
    Spark plan and the DuckDB oracle)."""
    import hashlib

    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        WEIGHTED_STRATUM_K,
        q_sample_weighted_stratified,
    )

    t = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "n_chars"]
    )
    rows = list(
        zip(t["doc_id"].to_pylist(), t["lang"].to_pylist(), t["n_chars"].to_pylist())
    )
    by_lang = {}
    for d, lang, n in rows:
        if n <= 0:
            continue
        h = int(hashlib.md5(f"wss:{d}".encode()).hexdigest()[:14], 16)
        u = (h + 1) / float((1 << 56) + 1)
        key = math.log(u) / n
        by_lang.setdefault(lang, []).append((key, d, n))
    expected = set()
    for lang, items in by_lang.items():
        items.sort(key=lambda kn: (-kn[0], kn[1]))
        for key, d, n in items[:WEIGHTED_STRATUM_K]:
            expected.add((d, lang, n))

    got = {
        (r.doc_id, r.lang, r.n_chars)
        for r in q_sample_weighted_stratified(spark, sf_dir).collect()
    }
    assert got == expected
    spark.catalog.clearCache()


def test_weighted_stratified_plans_window_group_limit(spark, sf_dir):
    """Scale shape: the per-stratum top-k must plan as WindowGroupLimit
    (per-partition k-row heaps below the exchange), not a full sort."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        q_sample_weighted_stratified,
    )

    plan = q_sample_weighted_stratified(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def _edit_distance(a: str, b: str) -> int:
    """Textbook O(len a * len b) Levenshtein, the independent checker."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_rerank_edit_distances_and_ranks_are_correct(spark, sf_dir):
    """Every emitted (doc, cand) pair's edit_dist must equal a pure-
    Python DP over the same normalized prefixes, ranks must be dense
    1..k ordered by (edit_dist, cand_id), and no doc may exceed the
    top-k quota."""
    import re as _re
    from collections import defaultdict

    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        RERANK_PREFIX,
        RERANK_TOP_K,
        q_text_rerank_edit,
    )

    texts = dict(
        zip(
            pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])[
                "doc_id"
            ].to_pylist(),
            pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])[
                "text"
            ].to_pylist(),
        )
    )

    def norm(s: str) -> str:
        s = _re.sub(r"[^a-z ]+", "", s.strip().lower())
        s = _re.sub(r" +", " ", s)
        return s[:RERANK_PREFIX]

    got = q_text_rerank_edit(spark, sf_dir).collect()
    assert got, "rerank emitted no rows at this SF"
    per_doc = defaultdict(list)
    for r in got:
        assert r.edit_dist == _edit_distance(
            norm(texts[r.doc_id]), norm(texts[r.cand_id])
        )
        per_doc[r.doc_id].append((r.rank, r.edit_dist, r.cand_id))
    for doc_id, items in per_doc.items():
        items.sort()
        assert [it[0] for it in items] == list(range(1, len(items) + 1))
        assert len(items) <= RERANK_TOP_K
        # rank order == (edit_dist, cand_id) order
        assert items == sorted(items, key=lambda it: (it[1], it[2]))
    spark.catalog.clearCache()


def test_audio_flatness_matches_formula_replay(spark, sf_dir):
    """q_multimodal_audio_flatness over real WAV bytes must agree
    bit-for-bit with a pure-Python replay of the generating formula
    (third independent path, like the ZCR test); silence-only check:
    a constant-energy envelope has flatness ~0."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.multimodal import (
        FLATNESS_BLOCK,
        q_multimodal_audio_flatness,
    )

    doc_ids = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    )["doc_id"].to_pylist()
    expected = {}
    for d in doc_ids:
        n_frames = d % 50 + 20
        channels = d % 2 + 1
        s = np.array(
            [
                (d * 7919 + k * 104729) % 65521 - 32760
                for k in range(n_frames * channels)
            ],
            dtype=np.int64,
        )
        n_blocks = sum_e1 = sum_ln6 = 0
        for ch in range(channels):
            x = s[ch::channels]
            e1 = (
                np.add.reduceat(x * x, range(0, len(x), FLATNESS_BLOCK)) + 1
            )
            n_blocks += len(e1)
            sum_e1 += int(e1.sum())
            sum_ln6 += int(
                np.floor(np.log(e1.astype(np.float64)) * 1e6 + 0.5).sum()
            )
        flat_mu = int(
            math.floor(
                sum_ln6 / n_blocks
                - math.floor(math.log(sum_e1 / n_blocks) * 1e6 + 0.5)
                + 0.5
            )
        )
        expected[d] = (channels, n_blocks, sum_e1, flat_mu)
        assert flat_mu <= 0  # AM-GM: log-flatness is never positive

    got = {
        r.doc_id: (r.channels, r.n_blocks, r.sum_e1, r.flat_mu)
        for r in q_multimodal_audio_flatness(spark, sf_dir).collect()
    }
    assert got == expected
    spark.catalog.clearCache()


def test_cohort_retention_matches_python_replay(spark, sf_dir):
    """Full independent replay of the daily cohort matrix from the raw
    parquet (datetime arithmetic in Python, no SQL engine involved)."""
    from collections import Counter, defaultdict

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        COHORT_DAY_US,
        q_events_cohort_retention,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    user_days = defaultdict(set)
    for uid, ts in zip(t["user_id"].to_pylist(), t["ts"].to_pylist()):
        us = int(ts.timestamp() * 1_000_000)
        # timestamp() floats can wobble a microsecond; recompute exactly
        import calendar
        us = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
        user_days[uid].add(us // COHORT_DAY_US)
    first = {u: min(ds) for u, ds in user_days.items()}
    cohort_sizes = Counter(first.values())
    cells = Counter()
    for u, ds in user_days.items():
        for d in ds:
            cells[(first[u], d - first[u])] += 1
    expected = {
        (cd, k): (
            n,
            cohort_sizes[cd],
            round(n / cohort_sizes[cd], 6),
        )
        for (cd, k), n in cells.items()
    }
    got = {
        (r.cohort_day, r.day_k): (r.n_active, r.n_cohort, r.retention)
        for r in q_events_cohort_retention(spark, sf_dir).collect()
    }
    assert got == expected
    # day 0 of every cohort is total by construction
    for (cd, k), (n, size, ret) in got.items():
        if k == 0:
            assert n == size and ret == 1.0
    spark.catalog.clearCache()


def test_theil_sen_matches_python_replay(spark, sf_dir):
    """Exact replay: hourly counts -> all pairwise quantized slopes ->
    positional median in half-units, computed in pure Python."""
    import calendar
    from collections import Counter, defaultdict

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        HOUR_US,
        q_events_theil_sen,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    hourly = Counter()
    for et, ts in zip(t["event_type"].to_pylist(), t["ts"].to_pylist()):
        us = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
        hourly[(et, us // HOUR_US)] += 1
    series = defaultdict(list)
    for (et, h), c in hourly.items():
        series[et].append((h, c))
    expected = {}
    for et, pts in series.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                (hi, ci), (hj, cj) = pts[i], pts[j]
                slopes.append(math.floor((cj - ci) * 1e6 / (hj - hi) + 0.5))
        slopes.sort()
        npairs = len(slopes)
        lo, hi_ = (npairs + 1) // 2, (npairs + 2) // 2
        med_x2 = slopes[lo - 1] + slopes[hi_ - 1]
        expected[et] = (len(pts), npairs, med_x2)
    got = {
        r.event_type: (r.n_points, r.n_pairs, r.slope_mu_x2)
        for r in q_events_theil_sen(spark, sf_dir).collect()
    }
    assert got == expected
    spark.catalog.clearCache()


def hits_replay(sf_dir: str) -> dict[tuple[int, bool], int]:
    """Pure-Python replay of the L1-normalized integer HITS fixed point
    over the distinct purchase edges: (node, is_supplier) -> units."""
    from collections import defaultdict

    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        HITS_ROUNDS,
        HITS_SCALE,
    )

    orders = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
    )
    li = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"]
    )
    cust_of = dict(
        zip(orders["o_orderkey"].to_pylist(), orders["o_custkey"].to_pylist())
    )
    edges = set()
    for ok, sk in zip(li["l_orderkey"].to_pylist(), li["l_suppkey"].to_pylist()):
        edges.add((cust_of[ok] * 2, sk * 2 + 1))
    custs = sorted({s for s, _ in edges})
    hub = {c: HITS_SCALE // len(custs) for c in custs}
    auth = {}
    for _ in range(HITS_ROUNDS):
        raw = defaultdict(int)
        for c, s in edges:
            raw[s] += hub[c]
        tot = sum(raw.values())
        auth = {s: (r * HITS_SCALE) // tot for s, r in raw.items()}
        raw = defaultdict(int)
        for c, s in edges:
            raw[c] += auth[s]
        tot = sum(raw.values())
        hub = {c: (r * HITS_SCALE) // tot for c, r in raw.items()}
    return {(c, False): u for c, u in hub.items()} | {
        (s, True): u for s, u in auth.items()
    }


def test_hits_matches_python_replay(spark, sf_dir):
    """Bit-exact pure-Python replay of the 2-round L1-normalized
    integer HITS fixed point over the distinct purchase edges."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        q_graph_hits,
    )

    got = {
        (r.node, r.is_supplier): r.score_units
        for r in q_graph_hits(spark, sf_dir).collect()
    }
    assert got == hits_replay(sf_dir)
    spark.catalog.clearCache()


def test_kl_divergence_zero_iff_on_recipe(spark, sf_dir):
    """KL sanity: recompute from the parquet lang counts and assert the
    engine's integer micro-unit pipeline; also check sign structure —
    over-represented strata contribute positively."""
    from collections import Counter

    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        TARGET_LANG_PCT,
        q_mix_kl_divergence,
    )

    langs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["lang"])[
        "lang"
    ].to_pylist()
    counts = Counter(langs)
    nn = len(langs)
    rows = q_mix_kl_divergence(spark, sf_dir).collect()
    contrib_total = 0
    for r in rows:
        w = TARGET_LANG_PCT.get(r.lang, 1)
        assert r.n_docs == counts[r.lang]
        assert r.target_pct == w
        lr = math.floor(math.log(r.n_docs * 100 / (nn * w)) * 1e6 + 0.5)
        assert r.log_ratio_mu == lr
        assert r.contrib == r.n_docs * lr
        contrib_total += r.contrib
        # over-represented (p > q) => positive log ratio
        assert (r.log_ratio_mu > 0) == (r.n_docs * 100 > nn * w) or r.log_ratio_mu == 0
    assert rows[0].kl_mu == contrib_total // nn
    # KL of a distribution against a non-equal target is positive
    assert rows[0].kl_mu > 0
    spark.catalog.clearCache()


def test_image_edges_matches_raster_replay(spark, sf_dir):
    """Replay the PPM synthesis (text bytes tiled over the raster) in
    Python and check every image's gradient sums exactly."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.multimodal import (
        q_multimodal_image_edges,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    expected = {}
    for did, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        w, h = did % 13 + 4, did % 7 + 4
        need = 3 * w * h
        raster = (text * -(-need // len(text)))[:need].encode("latin-1")
        a = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
        y = ((299 * a[0::3] + 587 * a[1::3] + 114 * a[2::3]) // 1000).reshape(h, w)
        gx = int(np.abs(np.diff(y, axis=1)).sum())
        gy = int(np.abs(np.diff(y, axis=0)).sum())
        expected[did] = (w, h, gx, gy, gx + gy)
    got = {
        r.doc_id: (r.w, r.h, r.gx_sum, r.gy_sum, r.edge_energy)
        for r in q_multimodal_image_edges(spark, sf_dir).collect()
    }
    assert got == expected
    spark.catalog.clearCache()


def test_dp_median_mechanism_replay(spark, sf_dir):
    """Replay the exponential mechanism in Python: bucket counts, rank
    errors, seeded Gumbel keys — the argmax must match; the winner's
    audit columns must be internally consistent."""
    import hashlib
    from collections import Counter

    from apache_beam_java_firestore_batch_dataflow_spark.operators.privacy import (
        DPM_BUCKET,
        DPM_EPSILON,
        _U_SPACE,
        q_privacy_dp_median,
    )

    prices = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_totalprice"]
    )["o_totalprice"].to_pylist()
    buckets = Counter(int(math.floor(p / DPM_BUCKET)) for p in prices)
    n = len(prices)
    best = None
    for b in sorted(buckets):
        nb = sum(c for bb, c in buckets.items() if bb < b)
        err2 = abs(2 * nb - n)
        hv = int(hashlib.md5(f"dpm:{b}".encode()).hexdigest()[:13], 16)
        u = (hv + 0.5) / _U_SPACE
        gumbel = -round(math.log(-round(math.log(u), 6)), 6)
        key = -err2 * DPM_EPSILON / 4.0 + gumbel
        if best is None or (key, -b) > (best[0], -best[1]):
            best = (key, b, err2)
    row = q_privacy_dp_median(spark, sf_dir).collect()[0]
    assert row.bucket == best[1]
    assert row.err2 == best[2]
    assert row.n == n
    assert row.n_candidates == len(buckets)
    spark.catalog.clearCache()


def test_embedding_dim_stats_matches_numpy(spark, sf_dir):
    """Quantize-then-sum replay in numpy: mean/var/min/max per
    dimension must match exactly (including the 6dp roundings)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        q_embedding_dim_stats,
    )

    vecs = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])[
        "embedding"
    ].to_pylist()
    m = np.floor(
        np.array(vecs, dtype=np.float64) * 1_000_000 + 0.5
    ).astype(np.int64)
    got = {
        r.pos: (r.n, r.mean6, r.var6, r.min_mu, r.max_mu)
        for r in q_embedding_dim_stats(spark, sf_dir).collect()
    }
    assert set(got) == set(range(m.shape[1]))
    for pos in range(m.shape[1]):
        col = m[:, pos]
        n = len(col)
        s, sq = int(col.sum()), int((col.astype(object) ** 2).sum())
        assert got[pos] == (
            n,
            round(s / n / 1e6, 6),
            round((sq / n - (s / n) ** 2) / 1e12, 6),
            int(col.min()),
            int(col.max()),
        )
    spark.catalog.clearCache()


def test_zipf_fit_matches_python_replay(spark, sf_dir):
    """Replay the head fit in Python: token census, (freq desc, tok)
    head, ln6 quantization, exact OLS — and sanity: natural-ish corpora
    fit a negative slope."""
    import re as _re
    from collections import Counter

    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        ZIPF_TOP,
        q_text_zipf_fit,
    )

    texts = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])[
        "text"
    ].to_pylist()
    counts = Counter()
    for t in texts:
        for tok in _re.findall(r"[^\W\d_]+", t.lower(), _re.UNICODE):
            counts[tok] += 1
    head = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP]
    pts = [
        (
            math.floor(math.log(r) * 1e6 + 0.5),
            math.floor(math.log(c) * 1e6 + 0.5),
        )
        for r, (tok, c) in enumerate(head, 1)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    row = q_text_zipf_fit(spark, sf_dir).collect()[0]
    assert row.n_types == len(counts)
    assert row.n_fit == n
    assert row.slope6 == round(slope, 6)
    assert row.intercept6 == round((sy - slope * sx) / n / 1e6, 6)
    assert row.slope6 < 0
    spark.catalog.clearCache()


def test_ratio_to_report_shares_sum_to_one(spark, sf_dir):
    """Python replay of per-nation shares from exact integer revenue;
    within each nation the shares must (a) match and (b) sum to ~1."""
    from collections import defaultdict

    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_window_ratio_to_report,
    )

    li = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_suppkey", "l_extendedprice", "l_discount"],
    )
    supp = pq.read_table(
        f"{sf_dir}/supplier.parquet", columns=["s_suppkey", "s_nationkey"]
    )
    nation_of = dict(
        zip(supp["s_suppkey"].to_pylist(), supp["s_nationkey"].to_pylist())
    )
    rev = defaultdict(int)
    for sk, p, d in zip(
        li["l_suppkey"].to_pylist(),
        li["l_extendedprice"].to_pylist(),
        li["l_discount"].to_pylist(),
    ):
        rev[(nation_of[sk], sk)] += int(math.floor(p * 100 + 0.5)) * (
            100 - int(math.floor(d * 100 + 0.5))
        )
    nat_tot = defaultdict(int)
    for (nk, sk), r in rev.items():
        nat_tot[nk] += r
    rows = q_window_ratio_to_report(spark, sf_dir).collect()
    assert len(rows) == len(rev)
    share_sum = defaultdict(float)
    for r in rows:
        assert r.rev_cp == rev[(r.s_nationkey, r.suppkey)]
        assert r.share6 == round(
            rev[(r.s_nationkey, r.suppkey)] / nat_tot[r.s_nationkey], 6
        )
        share_sum[r.s_nationkey] += r.share6
    for nk, s in share_sum.items():
        assert abs(s - 1.0) < 1e-4
    # ranks dense per nation
    from collections import Counter as _C

    per_nation = _C(r.s_nationkey for r in rows)
    got_ranks = defaultdict(set)
    for r in rows:
        got_ranks[r.s_nationkey].add(r.rnk)
    for nk, cnt in per_nation.items():
        assert got_ranks[nk] == set(range(1, cnt + 1))
    spark.catalog.clearCache()


def test_readability_matches_python_replay(spark, sf_dir):
    """Regex-census replay: counts, 4dp Flesch, and band cuts."""
    import re as _re

    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        q_text_readability,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    expected = {}
    for did, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        w = len(_re.findall(r"[a-z]+", text.lower()))
        s = max(len(_re.findall(r"[.!?]+", text)), 1)
        y = len(_re.findall(r"[aeiouy]+", text.lower()))
        f4 = round(206.835 - 1.015 * w / s - 84.6 * y / max(w, 1), 4)
        band = (
            "very_easy" if f4 >= 90 else
            "standard" if f4 >= 60 else
            "difficult" if f4 >= 30 else "very_difficult"
        )
        expected[did] = (w, s, y, f4, band)
    got = {
        r.doc_id: (r.n_words, r.n_sentences, r.n_syll, r.flesch4, r.band)
        for r in q_text_readability(spark, sf_dir).collect()
    }
    assert got == expected
    spark.catalog.clearCache()


def test_trimmed_mean_matches_python_replay(spark, sf_dir):
    """Replay: exact cents, numpy-interpolated P10/P90 (same (n-1)q
    definition), kept-set mean."""
    from collections import defaultdict

    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_agg_trimmed_mean,
    )

    t = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderpriority", "o_totalprice"]
    )
    groups = defaultdict(list)
    for pr, p in zip(
        t["o_orderpriority"].to_pylist(), t["o_totalprice"].to_pylist()
    ):
        groups[pr].append(int(math.floor(p * 100 + 0.5)))
    expected = {}
    for pr, vals in groups.items():
        a = np.array(sorted(vals), dtype=np.float64)
        p10 = np.quantile(a, 0.1)  # numpy 'linear' == (n-1)q interpolation
        p90 = np.quantile(a, 0.9)
        kept = [v for v in vals if p10 <= v <= p90]
        expected[pr] = (
            len(vals),
            len(kept),
            round(sum(kept) * 1.0 / len(kept), 4),
        )
    got = {
        r.o_orderpriority: (r.n_total, r.n_kept, r.trimmed_mean_cents)
        for r in q_agg_trimmed_mean(spark, sf_dir).collect()
    }
    assert got == expected
    # robustness property: a 10% two-sided trim keeps ~80% (interpolated
    # bounds on discrete data can land a hair under)
    for pr, (n_tot, n_kept, _) in got.items():
        assert 0.75 * n_tot <= n_kept <= n_tot
    spark.catalog.clearCache()


def test_correlation_matrix_matches_numpy(spark, sf_dir):
    """Pearson over cent-quantized columns must match numpy.corrcoef
    to the 6dp rounding; price~quantity must be strongly positive."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        _CORRM_COLS,
        q_stats_correlation_matrix,
    )

    t = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=[f"l_{c}" for c in _CORRM_COLS],
    )
    cols = {
        c: np.floor(np.asarray(t[f"l_{c}"], dtype=np.float64) * 100 + 0.5)
        for c in _CORRM_COLS
    }
    got = {
        (r.col_a, r.col_b): r.corr6
        for r in q_stats_correlation_matrix(spark, sf_dir).collect()
    }
    assert len(got) == 6
    for (a, b), corr in got.items():
        expect = float(np.corrcoef(cols[a], cols[b])[0, 1])
        assert abs(corr - expect) < 2e-6
        # the synthetic fixture's columns are near-independent; any
        # strong correlation would itself be suspicious
        assert abs(corr) <= 1.0
    spark.catalog.clearCache()


def test_markov_transitions_match_python_replay(spark, sf_dir):
    """Replay per-user ordered bigrams; every row probability must be
    n/total(from) and rows per from_type must sum to 1."""
    from collections import Counter, defaultdict

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        q_events_markov_transitions,
    )

    t = pq.read_table(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "ts", "event_id", "event_type"],
    )
    per_user = defaultdict(list)
    for u, ts, eid, et in zip(
        t["user_id"].to_pylist(),
        t["ts"].to_pylist(),
        t["event_id"].to_pylist(),
        t["event_type"].to_pylist(),
    ):
        per_user[u].append((ts, eid, et))
    trans = Counter()
    for u, rows in per_user.items():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            trans[(a, b)] += 1
    totals = Counter()
    for (a, b), n in trans.items():
        totals[a] += n
    got = {
        (r.from_type, r.to_type): (r.n, r.p6)
        for r in q_events_markov_transitions(spark, sf_dir).collect()
    }
    assert set(got) == set(trans)
    row_sums = Counter()
    for (a, b), (n, p6) in got.items():
        assert n == trans[(a, b)]
        assert p6 == round(n / totals[a], 6)
        row_sums[a] += p6
    for a, s in row_sums.items():
        assert abs(s - 1.0) < 1e-4
    spark.catalog.clearCache()


def test_jaccard_neighbors_matches_python_replay(spark, sf_dir):
    """Replay the blocked candidate generation AND the exact verify in
    Python sets; the emitted rows must be exactly the top-K candidate
    pairs by exact Jaccard over FULL neighbor sets under the unique
    (jaccard6 DESC, s_a, s_b) total order (r15: deterministic top-K
    replaced the fixed JACC_MIN cut, which was vacuous at sf0.1)."""
    from collections import defaultdict

    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        JACC_DF_MAX,
        JACC_TOP_K,
        q_graph_jaccard_neighbors,
    )

    orders = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
    )
    li = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"]
    )
    cust_of = dict(
        zip(orders["o_orderkey"].to_pylist(), orders["o_custkey"].to_pylist())
    )
    nbrs = defaultdict(set)
    by_cust = defaultdict(set)
    for ok, sk in zip(li["l_orderkey"].to_pylist(), li["l_suppkey"].to_pylist()):
        c = cust_of[ok]
        nbrs[sk].add(c)
        by_cust[c].add(sk)
    cands = set()
    for c, sups in by_cust.items():
        if len(sups) <= JACC_DF_MAX:
            ss = sorted(sups)
            for i in range(len(ss)):
                for j in range(i + 1, len(ss)):
                    cands.add((ss[i], ss[j]))
    scored = []
    for s_a, s_b in cands:
        inter = len(nbrs[s_a] & nbrs[s_b])
        union = len(nbrs[s_a]) + len(nbrs[s_b]) - inter
        # exact half-away rounding, matching round_ratio (banker's
        # round() would diverge on exact halves)
        j6 = ((2 * 10**6 * inter + union) // (2 * union)) / 10**6
        scored.append((s_a, s_b, inter, len(nbrs[s_a]), len(nbrs[s_b]), j6))
    scored.sort(key=lambda t: (-t[5], t[0], t[1]))
    expected = {
        (s_a, s_b): (inter, da, db, j6)
        for s_a, s_b, inter, da, db, j6 in scored[:JACC_TOP_K]
    }
    got = {
        (r.s_a, r.s_b): (r.n_shared, r.deg_a, r.deg_b, r.jaccard6)
        for r in q_graph_jaccard_neighbors(spark, sf_dir).collect()
    }
    assert got == expected
    spark.catalog.clearCache()


def test_schema_evolution_nulls_exactly_on_old_rows(spark, sf_dir):
    """The merged read must carry the union schema, preserve every row,
    and back-fill NULL exactly on the old-generation (even-key) rows."""
    from apache_beam_java_firestore_batch_dataflow_spark.sources.formats import (
        q_format_schema_evolution,
    )

    supp = pq.read_table(
        f"{sf_dir}/supplier.parquet", columns=["s_suppkey", "s_acctbal"]
    )
    truth = dict(
        zip(supp["s_suppkey"].to_pylist(), supp["s_acctbal"].to_pylist())
    )
    rows = q_format_schema_evolution(spark, sf_dir).collect()
    assert len(rows) == len(truth)
    assert set(rows[0].asDict()) == {
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    }
    for r in rows:
        if r.s_suppkey % 2 == 0:
            assert r.s_acctbal is None
        else:
            assert r.s_acctbal == truth[r.s_suppkey]
    spark.catalog.clearCache()


def test_mmr_diversify_matches_greedy_replay(spark, sf_dir):
    """Replay the full greedy MMR in Python using SEQUENTIAL-fold dot
    products (the exact double order both engines use) — selections,
    ranks, and 6dp scores must match; and the diversity property holds:
    a selected item is never the argmax-similar twin of an earlier
    selection when a comparably-relevant alternative exists."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        MMR_CAND,
        MMR_K,
        MMR_N_QUERIES,
        QUERY_MOD,
        q_ann_mmr_diversify,
    )

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = t["vec_id"].to_pylist()
    embs = {i: [float(x) for x in v] for i, v in zip(ids, t["embedding"].to_pylist())}

    def dot_seq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    norms = {i: math.sqrt(dot_seq(v, v)) for i, v in embs.items()}
    qids = sorted(i for i in ids if i % QUERY_MOD == 0)[:MMR_N_QUERIES]
    expected = {}
    for qid in qids:
        rels = [
            (dot_seq(embs[qid], embs[c]) / (norms[qid] * norms[c]), c)
            for c in ids
            if c != qid
        ]
        rels.sort(key=lambda rc: (-rc[0], rc[1]))
        cand = rels[:MMR_CAND]
        sel = []
        for rank in range(1, MMR_K + 1):
            best = None
            for rel, c in cand:
                if any(c == s for _, s in sel):
                    continue
                if rank == 1:
                    score = rel
                else:
                    maxsim = max(
                        dot_seq(embs[c], embs[s]) / (norms[c] * norms[s])
                        for _, s in sel
                    )
                    score = (7 * rel - 3 * maxsim) / 10
                if best is None or (score, -c) > (best[0], -best[1]):
                    best = (score, c)
            sel.append(best)
            expected[(qid, rank)] = (best[1], round(best[0], 6))
    got = {
        (r.query_id, r.rank): (r.selected_id, r.score6)
        for r in q_ann_mmr_diversify(spark, sf_dir).collect()
    }
    assert got == expected
    spark.catalog.clearCache()
