"""Round-12 additions: the fixture fingerprint behind memo invalidation,
the eval-set 13-gram contamination audit, the curation funnel, and the
bench host-band contention signal (VERDICT r11 item 2).
"""

from __future__ import annotations

import os
import shutil

from .conftest import SF_DIR


# ---------------------------------------------------------------------------
# fixture_fingerprint + memo invalidation on fixture rewrite
# ---------------------------------------------------------------------------


def test_fixture_fingerprint_tracks_mtime_and_size(tmp_path):
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import fixture_fingerprint

    src = os.path.join(SF_DIR, "orders.parquet")
    dst = tmp_path / "orders.parquet"
    shutil.copy(src, dst)
    fp1 = fixture_fingerprint(str(tmp_path), ("orders",))
    fp_again = fixture_fingerprint(str(tmp_path), ("orders",))
    assert fp1 == fp_again, "fingerprint must be stable when files are unchanged"
    os.utime(dst, ns=(os.stat(dst).st_mtime_ns + 1_000_000,) * 2)
    fp2 = fixture_fingerprint(str(tmp_path), ("orders",))
    assert fp2 != fp1, "an mtime bump must change the fingerprint"
    # a missing table is simply absent from the fingerprint, not an error
    assert fixture_fingerprint(str(tmp_path), ("lineitem",)) == repr([])


def test_copurchase_memo_invalidated_by_fixture_rewrite(spark, tmp_path):
    """A same-session rewrite of the fixture under the SAME sf_dir must
    miss the memo and rebuild from the new files: localCheckpoint blocks
    survive spark.catalog.clearCache(), so a stale entry would serve the
    old fixture."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        copurchase_adj,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        clear_shared_kernels,
    )

    for name in ("orders", "lineitem"):
        shutil.copy(
            os.path.join(SF_DIR, f"{name}.parquet"),
            tmp_path / f"{name}.parquet",
        )
    clear_shared_kernels()
    a = copurchase_adj(spark, str(tmp_path))
    assert copurchase_adj(spark, str(tmp_path)) is a, "unchanged fixture must hit"
    target = tmp_path / "orders.parquet"
    os.utime(target, ns=(os.stat(target).st_mtime_ns + 1_000_000,) * 2)
    b = copurchase_adj(spark, str(tmp_path))
    assert b is not a, "a fixture rewrite must invalidate the memo"
    assert copurchase_adj(spark, str(tmp_path)) is b
    clear_shared_kernels()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_contamination_eval_13gram
# ---------------------------------------------------------------------------


def _brute_contamination(spark, sf_dir):
    """Driver-side exact reference: per-doc distinct 13-gram overlap with
    the test split, no Bloom anywhere."""
    import re

    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import CONTAM_K
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    import hashlib

    def split(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    def grams(text):
        # [^\W\d_] == \p{L} for Python's re: letters only, like tokens_col
        toks = [t for t in re.findall(r"[^\W\d_]+", text, re.UNICODE) if t]
        return {
            " ".join(toks[i : i + CONTAM_K])
            for i in range(len(toks) - CONTAM_K + 1)
        }

    ev = set()
    for r in rows:
        if split(r.doc_id) == "test":
            ev |= grams(r.text)
    hits = {}
    for r in rows:
        if split(r.doc_id) != "test":
            m = len(grams(r.text) & ev)
            if m:
                hits[r.doc_id] = m
    return hits


def test_contamination_matches_bruteforce(spark, sf_dir):
    """The Bloom-gated distributed audit must agree exactly with a
    no-Bloom driver-side brute force (the Bloom is a shuffle-volume
    optimization, never a semantics change)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        contaminated_docs,
        q_contamination_eval_13gram,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        clear_shared_kernels,
    )

    clear_shared_kernels()
    expected = _brute_contamination(spark, sf_dir)
    got = {
        r.doc_id: r.n_matched
        for r in contaminated_docs(spark, sf_dir).collect()
    }
    assert got == expected
    # rollup consistency: per-source contaminated counts sum to the
    # per-doc hit count, and every rate is n_contaminated / n_docs
    agg = q_contamination_eval_13gram(spark, sf_dir).collect()
    assert sum(r.n_contaminated for r in agg) == len(expected)
    assert sum(r.n_grams_matched for r in agg) == sum(expected.values())
    for r in agg:
        assert r.n_docs > 0
        assert 0.0 <= r.contam_rate <= 1.0
        assert abs(r.contam_rate - round(r.n_contaminated / r.n_docs, 6)) < 1e-12


def test_contamination_bloom_probe_is_in_plan(spark, sf_dir):
    """The corpus-side gram stream must be Bloom-gated inside the scan
    stage: the optimized plan carries the getbit probes (codegen-native
    membership), and the only equi-join key is the gram against the
    O(eval) broadcast side."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        _contamination_hits_plan,
    )

    plan = (
        _contamination_hits_plan(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "getbit" in plan, "Bloom probe must gate the corpus gram stream"


def test_contamination_memo_shared_by_funnel_and_audit(spark, sf_dir):
    """The audit and the funnel must consume ONE checkpointed hit frame
    per session (the minhash_pairs discipline), and the invalidation
    hook forces a rebuild."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        contaminated_docs,
        q_contamination_eval_13gram,
        q_curation_funnel_yield,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        SHARED_KERNELS,
        clear_shared_kernels,
    )

    memo = SHARED_KERNELS["contamination_hits"].memo
    clear_shared_kernels()
    q_contamination_eval_13gram(spark, sf_dir).collect()
    assert len(memo) == 1, "audit must populate the shared memo"
    frame = next(iter(memo.values()))
    q_curation_funnel_yield(spark, sf_dir).collect()
    assert len(memo) == 1 and next(iter(memo.values())) is frame, (
        "funnel must reuse, not rebuild, the memoized hit frame"
    )
    assert contaminated_docs(spark, sf_dir) is frame
    clear_shared_kernels()
    assert contaminated_docs(spark, sf_dir) is not frame
    clear_shared_kernels()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_curation_funnel_yield
# ---------------------------------------------------------------------------


def test_funnel_monotone_and_consistent(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        _FUNNEL_STAGES,
        q_curation_funnel_yield,
        split_col,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = q_curation_funnel_yield(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, {})[r.stage_rank] = r
        assert r.stage == _FUNNEL_STAGES[r.stage_rank]
    raw_expected = {
        r.source: (r.n, r.c)
        for r in load_table(spark, sf_dir, "documents")
        .filter(split_col(F.col("doc_id")) != "test")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("c"))
        .collect()
    }
    assert set(by_source) == set(raw_expected)
    for source, stages in by_source.items():
        assert sorted(stages) == [0, 1, 2, 3, 4], "every stage present"
        assert (stages[0].n_docs, stages[0].n_chars) == raw_expected[source]
        for k in range(1, 5):
            assert stages[k].n_docs <= stages[k - 1].n_docs, "docs monotone"
            assert stages[k].n_chars <= stages[k - 1].n_chars, "chars monotone"
        assert stages[4].n_docs >= 0


def test_funnel_reuses_minhash_memo(spark, sf_dir):
    """The funnel's dedup gate must consume the session-memoized pair
    frame, not re-run the banded kernel."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        q_curation_funnel_yield,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        minhash_pairs,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        SHARED_KERNELS,
        clear_shared_kernels,
    )

    memo = SHARED_KERNELS["minhash_pairs"].memo
    clear_shared_kernels()
    q_curation_funnel_yield(spark, sf_dir).collect()
    assert len(memo) == 1, "funnel must populate the shared memo"
    frame = next(iter(memo.values()))
    assert minhash_pairs(spark, sf_dir) is frame
    clear_shared_kernels()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# bench host-band contention signal (VERDICT r11 item 2)
# ---------------------------------------------------------------------------


def test_host_band_signal_bands():
    import bench

    quiet = bench.host_band_signal(
        {"naive_sec": 1.50},
        {
            "semantic_edges_shared": 1.3,
            "minhash_pairs_shared": 3.4,
            "copurchase_adj_shared": 1.2,
        },
    )
    assert quiet["band"] == "in-band"
    assert quiet["sink_leg_ratio"] < 1.3
    # the r11 driver-window signature: kernel builds amplified
    driver_window = bench.host_band_signal(
        {"naive_sec": 1.6}, {"minhash_pairs_shared": 27.5}
    )
    assert driver_window["band"] == "contended"
    assert driver_window["worst_kernel_build_ratio"] > 8
    # sink-leg-only inflation also flags (pure host-CPU probe)
    busy_cpu = bench.host_band_signal({"naive_sec": 2.2}, {})
    assert busy_cpu["band"] == "contended"
    assert busy_cpu["worst_kernel_build_ratio"] == 0.0


def test_host_band_uncalibrated_config():
    import bench

    hb = bench.host_band_signal(
        {"naive_sec": 5.0}, {"minhash_pairs_shared": 30.0}, calibrated=False
    )
    assert hb["band"] == "uncalibrated"
    assert hb["worst_kernel_build_ratio"] > 2  # ratios still reported


# ---------------------------------------------------------------------------
# q_contamination_containment
# ---------------------------------------------------------------------------


def test_containment_matches_bruteforce(spark, sf_dir):
    """Per-eval-doc best-train containment must agree with a driver-side
    exact reference, including gram-less eval docs and the deterministic
    (n_shared desc, train_doc asc) tie-break."""
    import hashlib
    import re

    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        CONTAM_K,
        q_contamination_containment,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def split(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    def grams(text):
        toks = re.findall(r"[^\W\d_]+", text, re.UNICODE)
        return {
            " ".join(toks[i : i + CONTAM_K])
            for i in range(len(toks) - CONTAM_K + 1)
        }

    ev = {r.doc_id: grams(r.text) for r in rows if split(r.doc_id) == "test"}
    tr = {r.doc_id: grams(r.text) for r in rows if split(r.doc_id) != "test"}
    expected = {}
    for e_id, e_g in ev.items():
        best = None
        for t_id in sorted(tr):
            shared = len(e_g & tr[t_id])
            if shared and (best is None or shared > best[1]):
                best = (t_id, shared)
        n = len(e_g)
        shared = best[1] if best else 0
        expected[e_id] = (
            n,
            best[0] if best else None,
            shared,
            round(shared / max(n, 1), 6),
            bool(n > 0 and shared * 10000 >= 5000 * n),
        )

    got = {
        r.eval_doc: (
            r.n_grams,
            r.best_train_doc,
            r.n_shared,
            r.containment,
            r.is_quoted,
        )
        for r in q_contamination_containment(spark, sf_dir).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# q_pack_token_budget
# ---------------------------------------------------------------------------


def test_pack_token_budget_matches_bruteforce(spark, sf_dir):
    """Per-source packing stats must agree with a driver-side replay of
    the concat-then-chop packer (cumulative token positions, boundary
    test per doc)."""
    import re

    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        SEQ_TOKENS,
        q_pack_token_budget,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "text"
    ).collect()
    by_source = {}
    for r in sorted(rows, key=lambda r: (r.source, r.doc_id)):
        n = len(re.findall(r"[^\W\d_]+", r.text, re.UNICODE))
        s = by_source.setdefault(
            r.source, {"n_docs": 0, "n_tokens": 0, "crossing": 0}
        )
        start = s["n_tokens"]
        end = start + n
        s["n_docs"] += 1
        s["n_tokens"] = end
        if n > 0 and start // SEQ_TOKENS != (end - 1) // SEQ_TOKENS:
            s["crossing"] += 1
    got = {r.source: r for r in q_pack_token_budget(spark, sf_dir).collect()}
    assert set(got) == set(by_source)
    for source, exp in by_source.items():
        g = got[source]
        assert g.n_docs == exp["n_docs"]
        assert g.n_tokens == exp["n_tokens"]
        assert g.n_seqs_full == exp["n_tokens"] // SEQ_TOKENS
        assert g.tail_fill_bp == 10000 * (exp["n_tokens"] % SEQ_TOKENS) // SEQ_TOKENS
        assert g.n_docs_crossing == exp["crossing"]


# ---------------------------------------------------------------------------
# Knight O(L log L) Kendall kernel (closes the VERDICT r11 granularity
# watch item): the merge-rank sufficient statistics must be bit-identical
# to the O(L^2) pair-scan definition, ties and all.
# ---------------------------------------------------------------------------


def _kendall_bruteforce(xs, ys):
    n = len(xs)
    nc = nd = tx = ty = 0
    for a in range(n):
        for b in range(a + 1, n):
            s = (xs[a] - xs[b]) * (ys[a] - ys[b])
            if s > 0:
                nc += 1
            elif s < 0:
                nd += 1
            if xs[a] == xs[b]:
                tx += 1
            if ys[a] == ys[b]:
                ty += 1
    return n * (n - 1) // 2, nc, nd, tx, ty


def test_count_inversions_matches_quadratic_definition():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        _count_inversions,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=-5, max_value=5), max_size=60))
    def check(vals):
        brute = sum(
            1
            for i in range(len(vals))
            for j in range(i + 1, len(vals))
            if vals[i] > vals[j]
        )
        assert _count_inversions(vals) == brute

    check()


def test_kendall_knight_matches_bruteforce_with_heavy_ties():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        _kendall_knight,
    )

    # tiny alphabet forces dense x-ties, y-ties, and joint ties — the
    # inclusion-exclusion and lexsort-tiebreak paths all get exercised
    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),
                st.integers(min_value=0, max_value=3),
            ),
            max_size=50,
        )
    )
    def check(pairs):
        xs = [p[0] for p in pairs]
        ys = [p[1] for p in pairs]
        assert _kendall_knight(xs, ys) == _kendall_bruteforce(xs, ys)

    check()


def test_kendall_knight_large_series_smoke():
    """The scale path the watch item was about: a minute-granularity
    series length (~500k) completes in seconds with exact integers."""
    import numpy as np

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        _kendall_knight,
    )

    rng = np.random.default_rng(42)
    n = 500_000
    x = rng.integers(0, 50, n)
    y = (x + rng.integers(-3, 4, n)).clip(0, None)
    n0, nc, nd, tx, ty = _kendall_knight(x, y)
    assert n0 == n * (n - 1) // 2
    # every pair is classified exactly once (inclusion-exclusion sanity):
    # conc + disc + x-only ties + y-only ties + joint ties == n0 requires
    # the joint-tie count, so check the weaker exact bound instead
    assert 0 <= nc <= n0 and 0 <= nd <= n0
    assert nc + nd <= n0
    # correlated-by-construction series: strong positive association
    assert (nc - nd) / n0 > 0.5
