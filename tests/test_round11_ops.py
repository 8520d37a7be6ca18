"""Semantic tests for the round-11 operator batch plus the round-11
infrastructure changes (semantic-edge memo, connected-components block
reclamation).  Each operator is checked against an independent Python
computation, never a snapshot (SURVEY.md §5 test strategy)."""

from __future__ import annotations

import hashlib
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

# Java-regex-faithful building blocks: Java's \b is ASCII-word-class
# based for ASCII patterns ([a-zA-Z0-9_]), while Python's \b is
# Unicode-aware — accented letters next to a marker word would flip a
# boundary.  Explicit lookarounds replicate the JVM semantics.
_B_L = r"(?<![a-zA-Z0-9_])"
_B_R = r"(?![a-zA-Z0-9_])"
_MARKERS = {
    "en": "the|a|of|and|to|in|is|it",
    "fr": "le|la|les|des|une|est|dans",
    "de": "der|die|das|und|ist|nicht",
    "es": "el|los|las|una|es|de|que",
}


def _lang_pred(text: str) -> str:
    low = text.lower()
    hits = {
        lang: len(re.findall(_B_L + "(?:" + alts + ")" + _B_R, low))
        for lang, alts in _MARKERS.items()
    }
    en, fr, de, es = hits["en"], hits["fr"], hits["de"], hits["es"]
    if en >= fr and en >= de and en >= es:
        return "en"
    if fr >= de and fr >= es:
        return "fr"
    if de >= es:
        return "de"
    return "es"


def _split_of(doc_id: int) -> str:
    """Independent hashlib replica of the md5-bucket split assignment."""
    bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16) % 100
    if bucket < 80:
        return "train"
    if bucket < 90:
        return "val"
    return "test"


# ---------------------------------------------------------------------------
# q_dedup_split_leakage
# ---------------------------------------------------------------------------


def test_split_leakage_matches_python_replay(spark, sf_dir):
    """The leakage grid must equal the Python-side bucketing of the
    (already independently tested) MinHash pair set, with the split of
    each endpoint recomputed via hashlib — independent of the Spark
    conv/md5 expression chain."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        q_dedup_minhash_lsh,
        q_dedup_split_leakage,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        clear_shared_kernels,
    )

    pairs = [
        (r.doc_a, r.doc_b)
        for r in q_dedup_minhash_lsh(spark, sf_dir).collect()
    ]
    assert pairs, "fixture must produce at least one near-dup pair"
    expected: dict[tuple[str, str], int] = {}
    for a, b in pairs:
        sa, sb = sorted((_split_of(a), _split_of(b)))
        expected[(sa, sb)] = expected.get((sa, sb), 0) + 1

    got = {
        (r.split_lo, r.split_hi): (r.n_pairs, r.is_leak)
        for r in q_dedup_split_leakage(spark, sf_dir).collect()
    }
    assert {k: v[0] for k, v in got.items()} == expected
    for (lo, hi), (_, leak) in got.items():
        assert leak == (1 if lo != hi else 0)
    clear_shared_kernels()
    spark.catalog.clearCache()


def test_split_leakage_consistent_with_split_op(spark, sf_dir):
    """The split assignment inside the leakage op must agree with
    q_split_train_val_test row-for-row (same hash, same thresholds)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        q_split_train_val_test,
    )

    for r in q_split_train_val_test(spark, sf_dir).collect():
        assert r.split == _split_of(r.doc_id)
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_text_langid_kappa
# ---------------------------------------------------------------------------


def test_langid_kappa_matches_python_replay(spark, sf_dir):
    """Cohen's kappa replayed from scratch: Python regex lang-id, an
    explicit confusion matrix, and the textbook po/pe formula (floats)
    compared against the engine's exact-rational form."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        q_text_langid_kappa,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text", "lang"])
    preds = [_lang_pred(x) for x in t["text"].to_pylist()]
    actual = t["lang"].to_pylist()
    n_total = len(actual)
    n_agree = sum(1 for a, p in zip(actual, preds) if a == p)
    labels = set(actual) | set(preds)
    s = sum(
        actual.count(k) * preds.count(k) for k in labels
    )  # sum of row x column marginals
    kappa = (n_agree * n_total - s) / (n_total * n_total - s)

    row = q_text_langid_kappa(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_total == n_total
    assert r.n_agree == n_agree
    assert r.pe_num == s
    assert abs(r.kappa - kappa) < 5e-7
    # the marker heuristic argmaxes every fixture doc to 'en', so the
    # exact-rational kappa is 0 — the honest at-chance reading the op
    # exists to surface (and the reason fertility buckets on the gold
    # label instead of the prediction)
    assert r.n_agree < r.n_total
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_text_bpe_fertility_by_lang
# ---------------------------------------------------------------------------


def test_fertility_matches_python_replay(spark, sf_dir):
    """Per-language sums replayed with Java-faithful regexes (ASCII \\s
    class, since Python's \\s is Unicode-wide) and exact integer
    micro-unit fertility."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        q_text_bpe_fertility_by_lang,
    )

    bpe_re = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0b\f\r]")
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text", "lang"])
    agg: dict[str, list[int]] = {}
    for text, lang in zip(t["text"].to_pylist(), t["lang"].to_pylist()):
        n_bpe = len(bpe_re.findall(text.lower()))
        n_ws = text.count(" ") + 1
        row = agg.setdefault(lang, [0, 0, 0])
        row[0] += 1
        row[1] += n_bpe
        row[2] += n_ws

    got = {
        r.lang: (
            r.n_docs,
            r.total_bpe_tokens,
            r.total_ws_tokens,
            r.fertility_mu,
        )
        for r in q_text_bpe_fertility_by_lang(spark, sf_dir).collect()
    }
    expected = {
        lang: (n, bpe, ws, (1_000_000 * bpe) // ws)
        for lang, (n, bpe, ws) in agg.items()
    }
    assert got == expected
    assert len(got) >= 2, "fixture must exercise at least two languages"
    spark.catalog.clearCache()


def test_fertility_single_exchange_plan(spark, sf_dir):
    """Docstring claim: one scan, zero joins, the only exchange is the
    final combiner aggregation."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        q_text_bpe_fertility_by_lang,
    )

    plan = (
        q_text_bpe_fertility_by_lang(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


# ---------------------------------------------------------------------------
# semantic_edges: one memoized edge frame for the graph family
# ---------------------------------------------------------------------------


def test_graph_family_shares_edge_frame(spark, sf_dir):
    """Triangles and components both consume the single memoized edge
    frame — the production build-the-graph-once shape."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        TRI_TAU,
        q_graph_components_semantic,
        q_graph_triangles,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        semantic_edges,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        SHARED_KERNELS,
        clear_shared_kernels,
    )

    memo = SHARED_KERNELS["semantic_edges"].memo
    clear_shared_kernels()
    q_graph_triangles(spark, sf_dir).collect()
    assert len(memo) == 1, "triangles must populate the shared memo"
    frame_after_triangles = next(iter(memo.values()))
    q_graph_components_semantic(spark, sf_dir).collect()
    assert len(memo) == 1 and next(iter(memo.values())) is frame_after_triangles, (
        "components must reuse, not rebuild, the memoized edge frame"
    )
    assert semantic_edges(spark, sf_dir, TRI_TAU) is frame_after_triangles
    clear_shared_kernels()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_ann_hard_negatives
# ---------------------------------------------------------------------------


def test_hard_negatives_matches_numpy(spark, sf_dir):
    """Numpy replay: per anchor, rank all DIFFERENT-label vectors by
    cosine and compare ids/ranks exactly (sims to 1e-9 after the
    engines' round(6))."""
    import numpy as np

    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        KNN_K,
        N_QUERIES,
        QUERY_MOD,
        q_ann_hard_negatives,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t["vec_id"].to_pylist()
    labels = dict(zip(ids, t["label"].to_pylist()))
    mat = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    ids = [ids[i] for i in order]
    mat = mat[order]
    norms = np.linalg.norm(mat, axis=1)
    queries = [i for i in ids if i % QUERY_MOD == 0][:N_QUERIES]

    got: dict[int, list] = {}
    for r in q_ann_hard_negatives(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(r)
        assert r.query_label == labels[r.query_id]
        assert r.neighbor_label == labels[r.neighbor_id]
        assert r.query_label != r.neighbor_label

    assert sorted(got) == sorted(queries)
    idx = {v: k for k, v in enumerate(ids)}
    for qid in queries:
        qi = idx[qid]
        sims = (mat @ mat[qi]) / (norms * norms[qi])
        cand = sorted(
            (
                (float(sims[idx[j]]), j)
                for j in ids
                if j != qid and labels[j] != labels[qid]
            ),
            key=lambda t: (-t[0], t[1]),
        )[:KNN_K]
        rows = sorted(got[qid], key=lambda r: r.rank)
        assert [(r.neighbor_id, r.rank) for r in rows] == [
            (nid, k + 1) for k, (_, nid) in enumerate(cand)
        ], qid
        for r in rows:
            assert abs(r.cosine - round(cand[r.rank - 1][0], 6)) < 1e-9
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_multimodal_audio_clipping
# ---------------------------------------------------------------------------


def test_audio_clipping_matches_python_replay(spark, sf_dir):
    """Replay the synthetic int16 stream per clip with the module's own
    sample formula (the payloads are declaratively generated) and check
    every count/peak/ratio exactly; at least one clip must clip."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.multimodal import (
        CLIP_ABS,
        q_multimodal_audio_clipping,
        wav_sample,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    expected = {}
    for did in t["doc_id"].to_pylist():
        n = (did % 50 + 20) * (did % 2 + 1)
        samples = [abs(wav_sample(did, k)) for k in range(n)]
        clipped = sum(1 for s in samples if s >= CLIP_ABS)
        expected[did] = (
            n,
            clipped,
            max(samples),
            (10000 * clipped) // n,
        )
    got = {
        r.doc_id: (r.n_samples, r.n_clipped, r.peak_abs, r.clip_bp)
        for r in q_multimodal_audio_clipping(spark, sf_dir).collect()
    }
    assert got == expected
    assert any(v[1] > 0 for v in got.values()), "fixture must clip somewhere"
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_dedup_rate_by_source
# ---------------------------------------------------------------------------


def test_dup_rate_by_source_matches_python_replay(spark, sf_dir):
    """Replay from the (independently tested) MinHash pair set plus the
    raw documents table: flagged = docs appearing in any pair; rates
    are exact integer basis points per source."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        q_dedup_minhash_lsh,
        q_dedup_rate_by_source,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        clear_shared_kernels,
    )

    flagged = set()
    for r in q_dedup_minhash_lsh(spark, sf_dir).collect():
        flagged.add(r.doc_a)
        flagged.add(r.doc_b)
    assert flagged, "fixture must produce near-dup docs"

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "source"])
    expected: dict[str, list[int]] = {}
    for did, src in zip(t["doc_id"].to_pylist(), t["source"].to_pylist()):
        row = expected.setdefault(src, [0, 0])
        row[0] += 1
        row[1] += 1 if did in flagged else 0

    got = {
        r.source: (r.n_docs, r.n_dup_docs, r.dup_bp)
        for r in q_dedup_rate_by_source(spark, sf_dir).collect()
    }
    assert got == {
        src: (n, d, (10000 * d) // n) for src, (n, d) in expected.items()
    }
    clear_shared_kernels()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_text_heaps_law
# ---------------------------------------------------------------------------


def test_heaps_law_matches_python_replay(spark, sf_dir):
    """Per-source Heaps fit replayed from scratch: Python tokenization
    (the fixture corpus is ASCII, so ``[^a-zA-Z]+`` equals the engine's
    ``[^\\p{L}]+``), explicit cumulative type/token curves in doc order,
    and a float least-squares fit compared within rounding tolerance;
    the integer census columns must match exactly."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        q_text_heaps_law,
    )

    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    docs.sort(key=lambda d: d["doc_id"])
    by_source: dict[str, list[list[str]]] = {}
    for d in docs:
        toks = [t for t in re.split(r"[^a-zA-Z]+", d["text"].lower()) if t]
        if toks:
            by_source.setdefault(d["source"], []).append(toks)

    expected = {}
    for source, tok_lists in by_source.items():
        seen: set[str] = set()
        n_cum = 0
        xs, ys = [], []
        for toks in tok_lists:
            n_cum += len(toks)
            seen.update(toks)
            xs.append(round(math.log(n_cum), 9))
            ys.append(round(math.log(len(seen)), 9))
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(round(x * x, 9) for x in xs)
        sxy = sum(round(x * y, 9) for x, y in zip(xs, ys))
        beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        expected[source] = (n, n_cum, len(seen), beta, (sy - beta * sx) / n)

    got = {r.source: r for r in q_text_heaps_law(spark, sf_dir).collect()}
    assert set(got) == set(expected)
    for source, (n, total, vocab, beta, icept) in expected.items():
        r = got[source]
        assert r.n_docs == n
        assert r.total_tokens == total
        assert r.vocab_size == vocab
        assert abs(r.heaps_beta - beta) < 5e-6
        assert abs(r.heaps_intercept - icept) < 5e-6
        # sanity: vocabulary grows sublinearly in tokens (the tiny
        # fixture vocab can saturate inside the first doc → beta == 0)
        assert 0.0 <= r.heaps_beta < 1.0
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_dedup_threshold_sweep / q_embedding_label_conflicts
# ---------------------------------------------------------------------------


def _cosine_pairs_python(sf_dir: str, tau: float):
    """All-pairs cosine >= tau replayed with the kernel's exact IEEE
    fold order (sequential over dimensions), independent of Spark."""
    import math

    vecs = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pylist()
    ids = [v["vec_id"] for v in vecs]
    embs = [[float(x) for x in v["embedding"]] for v in vecs]
    norms = []
    for e in embs:
        acc = 0.0
        for x in e:
            acc += x * x
        norms.append(math.sqrt(acc))
    out = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = embs[i], embs[j]
            acc = 0.0
            for k in range(len(a)):
                acc += a[k] * b[k]
            sim = acc / (norms[i] * norms[j])
            if sim >= tau:
                lo, hi = sorted((ids[i], ids[j]))
                out.append((lo, hi, sim))
    return vecs, out


def test_threshold_sweep_matches_python_replay(spark, sf_dir):
    """The sweep histogram must equal the bucketed all-pairs cosine set
    computed in pure Python (same fold order as the block kernel)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        SWEEP_TAU,
        q_dedup_threshold_sweep,
    )

    _, pairs = _cosine_pairs_python(sf_dir, SWEEP_TAU)
    assert pairs, "fixture must produce candidate pairs at the sweep floor"
    expected: dict[float, int] = {}
    for _, _, sim in pairs:
        micro = int(round(round(sim, 6) * 1_000_000))
        lo = (micro - micro % 50_000) / 1_000_000.0
        expected[lo] = expected.get(lo, 0) + 1

    got = {
        r.bucket_lo: r.n_pairs
        for r in q_dedup_threshold_sweep(spark, sf_dir).collect()
    }
    assert got == expected
    # the sweep must cover both production thresholds' bands
    assert any(lo <= 0.25 < lo + 0.05 for lo in got)
    assert any(lo <= 0.35 < lo + 0.05 for lo in got)
    spark.catalog.clearCache()


def test_label_conflicts_matches_python_replay(spark, sf_dir):
    """The conflict matrix must equal the Python-side label bucketing of
    the tau=0.25 pair set; the flag must mark exactly the off-diagonal."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        LABEL_EDGE_TAU,
        q_embedding_label_conflicts,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        clear_shared_kernels,
    )

    vecs, pairs = _cosine_pairs_python(sf_dir, LABEL_EDGE_TAU)
    label_of = {v["vec_id"]: v["label"] for v in vecs}
    expected: dict[tuple[int, int], int] = {}
    for a, b, _ in pairs:
        la, lb = sorted((label_of[a], label_of[b]))
        expected[(la, lb)] = expected.get((la, lb), 0) + 1
    assert expected, "fixture must produce near-dup pairs at tau=0.25"

    got = {
        (r.label_lo, r.label_hi): (r.n_pairs, r.is_conflict)
        for r in q_embedding_label_conflicts(spark, sf_dir).collect()
    }
    assert {k: v[0] for k, v in got.items()} == expected
    for (lo, hi), (_, conflict) in got.items():
        assert conflict == (lo != hi)
    clear_shared_kernels()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_quality_yield_curve
# ---------------------------------------------------------------------------


def test_quality_yield_curve_matches_python_replay(spark, sf_dir):
    """The per-source threshold survival grid replayed from scratch:
    Python-side quality_bp per doc (same integer-bp floor formula as
    q_text_quality; ASCII fixture so ``[^a-zA-Z]+`` equals ``[^\\p{L}]+``
    and ``[^a-zA-Z\\s]`` equals ``[^\\p{L}\\s]``), then exact integer
    aggregation over every (source, threshold) cell."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        YIELD_THRESHOLDS,
        q_quality_yield_curve,
    )

    stop_re = re.compile(_B_L + "(?:" + _MARKERS["en"] + ")" + _B_R)
    punct_re = re.compile(r"[^a-zA-Z\s]")
    per_source: dict[str, list[tuple[int, int]]] = {}
    for d in pq.read_table(f"{sf_dir}/documents.parquet").to_pylist():
        n_tokens = len([t for t in re.split(r"[^a-zA-Z]+", d["text"]) if t])
        stop_hits = len(stop_re.findall(d["text"].lower()))
        n_punct = len(punct_re.findall(d["text"]))
        q = (
            min(n_tokens, 100) * 50
            + min(math.floor(stop_hits * 15000.0 / max(n_tokens, 1)), 3000)
            + 2000
            - min(math.floor(n_punct * 20000.0 / max(d["n_chars"], 1)), 2000)
        )
        per_source.setdefault(d["source"], []).append((q, n_tokens))

    expected = {}
    for src, rows in per_source.items():
        n_docs = len(rows)
        total_tokens = sum(t for _, t in rows)
        for thr in YIELD_THRESHOLDS:
            sd = sum(1 for q, _ in rows if q >= thr)
            st = sum(t for q, t in rows if q >= thr)
            expected[(src, thr)] = (
                n_docs,
                sd,
                (10000 * sd) // n_docs,
                (10000 * st) // max(total_tokens, 1),
            )

    got = {
        (r.source, r.threshold_bp): (
            r.n_docs,
            r.surviving_docs,
            r.doc_yield_bp,
            r.token_yield_bp,
        )
        for r in q_quality_yield_curve(spark, sf_dir).collect()
    }
    assert got == expected
    # the curve must be monotone non-increasing in the threshold
    for src in per_source:
        ys = [got[(src, t)][1] for t in YIELD_THRESHOLDS]
        assert all(a >= b for a, b in zip(ys, ys[1:]))
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# minhash_pairs: one memoized pair frame for the dedup family
# ---------------------------------------------------------------------------


def test_dedup_family_shares_pair_frame(spark, sf_dir):
    """clusters_k3 and rate-by-source both consume the single memoized
    pair frame — the production build-the-pairs-once shape."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        minhash_pairs,
        q_dedup_clusters_k3,
        q_dedup_rate_by_source,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        SHARED_KERNELS,
        clear_shared_kernels,
    )

    memo = SHARED_KERNELS["minhash_pairs"].memo
    clear_shared_kernels()
    q_dedup_clusters_k3(spark, sf_dir).collect()
    assert len(memo) == 1, "clusters_k3 must populate the shared memo"
    frame_after = next(iter(memo.values()))
    q_dedup_rate_by_source(spark, sf_dir).collect()
    assert len(memo) == 1 and next(iter(memo.values())) is frame_after, (
        "rate-by-source must reuse, not rebuild, the memoized pair frame"
    )
    assert minhash_pairs(spark, sf_dir) is frame_after
    clear_shared_kernels()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_mix_epoch_audit
# ---------------------------------------------------------------------------


def test_epoch_audit_matches_python_replay(spark, sf_dir):
    """Exact-integer replay of the repeat-factor audit: unit weights,
    3x-corpus budget, floor divisions and the MAX_EPOCHS clip."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        EPOCH_BUDGET_MULT,
        MAX_EPOCHS,
        MIX_BUDGET_DEFAULT_UNITS,
        MIX_BUDGET_UNITS,
        q_mix_epoch_audit,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["source", "n_chars"])
    avail: dict[str, int] = {}
    for s, c in zip(t["source"].to_pylist(), t["n_chars"].to_pylist()):
        avail[s] = avail.get(s, 0) + c
    units = {s: MIX_BUDGET_UNITS.get(s, MIX_BUDGET_DEFAULT_UNITS) for s in avail}
    u_total = sum(units.values())
    budget = EPOCH_BUDGET_MULT * sum(avail.values())

    expected = {}
    for s, a in avail.items():
        req = units[s] * budget // u_total
        eff = min(req, MAX_EPOCHS * a)
        expected[s] = (
            units[s],
            a,
            req,
            10000 * req // a,
            eff,
            10000 * eff // a,
            req - eff,
            req > MAX_EPOCHS * a,
        )

    got = {
        r.source: (
            r.units,
            r.avail_chars,
            r.requested_chars,
            r.epochs_bp,
            r.effective_chars,
            r.epochs_capped_bp,
            r.shortfall_chars,
            r.is_capped,
        )
        for r in q_mix_epoch_audit(spark, sf_dir).collect()
    }
    assert got == expected
    # the budget is 3x the corpus, so uncapped epochs average 3 across
    # sources; at least one boosted source must hit the cap and at least
    # one must sit under it for the audit to be informative
    assert any(v[7] for v in got.values())
    assert any(not v[7] for v in got.values())
    # capped epochs never exceed the cap
    for v in got.values():
        assert v[5] <= 10000 * MAX_EPOCHS


# ---------------------------------------------------------------------------
# q_text_oov_rate
# ---------------------------------------------------------------------------


def test_oov_rate_matches_python_replay(spark, sf_dir):
    """Replay the closed phrase-vocab census: token trigrams, top-VOCAB_K
    by (count desc, gram asc), then per-source OOV gram/type counts
    (ASCII fixture, so the [^a-zA-Z]+ split equals the engines'
    [^\\p{L}]+)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        OOV_N,
        VOCAB_K,
        q_text_oov_rate,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    counts: dict[str, int] = {}
    per_source: dict[str, list[str]] = {}
    for s, text in zip(t["source"].to_pylist(), t["text"].to_pylist()):
        toks = [w for w in re.split(r"[^a-zA-Z]+", text) if w]
        grams = [
            " ".join(toks[i : i + OOV_N]) for i in range(len(toks) - OOV_N + 1)
        ]
        per_source.setdefault(s, []).extend(grams)
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
    vocab = {
        g for g, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_K]
    }

    expected = {}
    for s, grams in per_source.items():
        oov = [g for g in grams if g not in vocab]
        expected[s] = (
            len(grams),
            len(oov),
            10000 * len(oov) // len(grams),
            len(set(oov)),
        )

    got = {
        r.source: (r.total_grams, r.oov_grams, r.oov_bp, r.oov_types)
        for r in q_text_oov_rate(spark, sf_dir).collect()
    }
    assert got == expected
    # the trigram tail is real: every source must carry some OOV mass,
    # and the head vocab must still cover a nonzero share somewhere
    assert all(v[1] > 0 for v in got.values())
    assert any(v[2] < 10000 for v in got.values())
    for v in got.values():
        assert 0 <= v[2] <= 10000


# ---------------------------------------------------------------------------
# q_ann_ivf_cell_balance
# ---------------------------------------------------------------------------


def test_ivf_cell_balance_matches_python_replay(spark, sf_dir):
    """Replay the LCG-hash centroid selection and the sequential-fold
    cosine assignment (the engines' fold order, not np.dot), then the
    occupancy census and integer-bp load factors."""
    import numpy as np

    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        IVF_C,
        q_ann_ivf_cell_balance,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_pylist()
    embs = {i: e for i, e in zip(ids, t["embedding"].to_pylist())}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(np.float64(x) * np.float64(y))
        return acc

    norms = {i: float(np.sqrt(np.float64(fold_dot(e, e)))) for i, e in embs.items()}
    cent_ids = sorted(ids, key=lambda i: ((i * 1103515245 + 12345) % 2147483648, i))[
        :IVF_C
    ]

    census: dict[int, int] = {}
    for i in ids:
        best = min(
            (-(fold_dot(embs[i], embs[c]) / (norms[i] * norms[c])), c)
            for c in cent_ids
        )
        census[best[1]] = census.get(best[1], 0) + 1
    total = sum(census.values())
    used = len(census)
    expected = {
        c: (
            n,
            10000 * n // total,
            10000 * n * used // total,
            n * used > 2 * total,
        )
        for c, n in census.items()
    }

    got = {
        r.cell: (r.n_vectors, r.share_bp, r.load_bp, r.is_hot)
        for r in q_ann_ivf_cell_balance(spark, sf_dir).collect()
    }
    assert got == expected
    assert total == len(ids)
    # bp shares must sum to ~10000 (floor loss < number of cells)
    assert 10000 - used < sum(v[1] for v in got.values()) <= 10000


# ---------------------------------------------------------------------------
# q_multimodal_image_blur
# ---------------------------------------------------------------------------


def test_image_blur_matches_python_replay(spark, sf_dir):
    """Replay the positional PPM synthesis, the integer luma plane
    (R + 2G + B), the 4-neighbor Laplacian over interior pixels and the
    round(var, 4) statistic."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.multimodal import (
        q_multimodal_image_blur,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    expected = {}
    for did, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        w, h = did % 13 + 4, did % 7 + 4
        data = text.encode("utf-8")
        raster = [data[i % len(data)] for i in range(3 * w * h)]
        lum = [
            [
                raster[3 * (y * w + x)]
                + 2 * raster[3 * (y * w + x) + 1]
                + raster[3 * (y * w + x) + 2]
                for x in range(w)
            ]
            for y in range(h)
        ]
        n = s = q = 0
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                lap = (
                    4 * lum[y][x]
                    - lum[y - 1][x]
                    - lum[y + 1][x]
                    - lum[y][x - 1]
                    - lum[y][x + 1]
                )
                n += 1
                s += lap
                q += lap * lap
        expected[did] = (n, s, q, round(q / n - (s / n) * (s / n), 4))

    got = {
        r.doc_id: (r.n_interior, r.s_lap, r.q_lap, r.lap_var4)
        for r in q_multimodal_image_blur(spark, sf_dir).collect()
    }
    assert got == expected
    for _, _, _, v in got.values():
        assert v >= 0.0


# ---------------------------------------------------------------------------
# q_quality_dup_interaction
# ---------------------------------------------------------------------------


def test_quality_dup_interaction_matches_python_replay(spark, sf_dir):
    """Replay the prefix-fingerprint duplicate classes and the quality
    buckets, then the per-class share grid; the fixture must exercise
    all three classes (it carries prefix families)."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        PREFIX_DUP_K,
        q_quality_dup_interaction,
    )

    stop_re = re.compile(_B_L + "(?:" + _MARKERS["en"] + ")" + _B_R)
    punct_re = re.compile(r"[^a-zA-Z\s]")
    t = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "n_chars"]
    )
    rows = []
    groups: dict[str, list[int]] = {}
    for did, text, n_chars in zip(
        t["doc_id"].to_pylist(), t["text"].to_pylist(), t["n_chars"].to_pylist()
    ):
        toks = [w for w in re.split(r"[^a-zA-Z]+", text) if w]
        fp = hashlib.md5(" ".join(toks[:PREFIX_DUP_K]).encode()).hexdigest()
        qbp = (
            min(len(toks), 100) * 50
            + min(math.floor(len(stop_re.findall(text.lower())) * 15000.0
                             / max(len(toks), 1)), 3000)
            + 2000
            - min(math.floor(len(punct_re.findall(text)) * 20000.0
                             / max(n_chars, 1)), 2000)
        )
        rows.append((did, fp, min(qbp // 2000, 4)))
        groups.setdefault(fp, []).append(did)

    grid: dict[tuple[str, int], int] = {}
    for did, fp, bucket in rows:
        members = groups[fp]
        if len(members) == 1:
            cls = "unique"
        elif did == min(members):
            cls = "canonical"
        else:
            cls = "extra"
        grid[(cls, bucket)] = grid.get((cls, bucket), 0) + 1
    class_tot: dict[str, int] = {}
    for (cls, _), n in grid.items():
        class_tot[cls] = class_tot.get(cls, 0) + n
    expected = {
        k: (n, 10000 * n // class_tot[k[0]]) for k, n in grid.items()
    }

    got = {
        (r.dup_class, r.quality_bucket): (r.n_docs, r.class_share_bp)
        for r in q_quality_dup_interaction(spark, sf_dir).collect()
    }
    assert got == expected
    assert {c for c, _ in got} == {"unique", "canonical", "extra"}


# ---------------------------------------------------------------------------
# copurchase_adj memoization (shared TPC-H graph kernel)
# ---------------------------------------------------------------------------


def test_copurchase_adj_memoized_and_invalidatable(spark, sf_dir):
    """Same (session, sf_dir) returns the SAME checkpointed adjacency;
    clearing the shared-kernel memo forces a rebuild; the memoized frame
    reads materialized blocks (no fact join left in its plan); content
    equals the cold orders⋈lineitem distinct."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        copurchase_adj,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        clear_shared_kernels,
        load_table,
    )

    clear_shared_kernels()
    a = copurchase_adj(spark, sf_dir)
    b = copurchase_adj(spark, sf_dir)
    assert a is b
    clear_shared_kernels()
    c = copurchase_adj(spark, sf_dir)
    assert c is not a
    assert "Join" not in c._jdf.queryExecution().optimizedPlan().toString()
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cold = {
        (r.c, r.s)
        for r in orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .collect()
    }
    assert {(r.c, r.s) for r in c.collect()} == cold
    clear_shared_kernels()
    spark.catalog.clearCache()


def test_graph_family_shares_copurchase_frame(spark, sf_dir):
    """pagerank and adamic-adar both consume the single memoized
    adjacency — the extract-the-graph-once production shape."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        copurchase_adj,
        q_graph_adamic_adar,
        q_graph_pagerank,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
        SHARED_KERNELS,
        clear_shared_kernels,
    )

    memo = SHARED_KERNELS["copurchase_adj"].memo
    clear_shared_kernels()
    q_graph_pagerank(spark, sf_dir).collect()
    assert len(memo) == 1, "pagerank must populate the shared memo"
    frame_after = next(iter(memo.values()))
    q_graph_adamic_adar(spark, sf_dir).collect()
    assert len(memo) == 1 and next(iter(memo.values())) is frame_after, (
        "adamic-adar must reuse, not rebuild, the memoized adjacency"
    )
    assert copurchase_adj(spark, sf_dir) is frame_after
    clear_shared_kernels()
    spark.catalog.clearCache()
