"""Semantic tests for the round-10 operator batch.  Each operator is
checked against an independent computation, never a snapshot
(SURVEY.md §5 test strategy)."""

from __future__ import annotations

import unicodedata

import numpy as np
import pyarrow.parquet as pq


def _tokens(line: str) -> list[str]:
    """Independent tokenizer replica: split on runs of non-letter
    codepoints (Unicode category L*), mirroring the Java ``[^\\p{L}]+``
    regex (see test_tokenizer_property.oracle_tokens)."""
    out: list[str] = []
    cur: list[str] = []
    for ch in line:
        if unicodedata.category(ch).startswith("L"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


# ---------------------------------------------------------------------------
# q_mix_contamination_matrix
# ---------------------------------------------------------------------------


def test_contamination_matrix_matches_python_replay(spark, sf_dir):
    """Full independent replay: tokenize every document in Python, build
    per-source distinct 5-gram sets, and compare every pair's shared
    count / Jaccard / containment bit-exactly."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        DECONTAM_K,
        q_mix_contamination_matrix,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    per_source: dict[str, set] = {}
    for src, text in zip(t["source"].to_pylist(), t["text"].to_pylist()):
        toks = _tokens(text)
        gs = per_source.setdefault(src, set())
        for i in range(len(toks) - (DECONTAM_K - 1)):
            gs.add(" ".join(toks[i : i + DECONTAM_K]))

    expected = {}
    sources = sorted(per_source)
    for i, sa in enumerate(sources):
        for sb in sources[i + 1 :]:
            shared = len(per_source[sa] & per_source[sb])
            if shared == 0:
                continue
            na, nb = len(per_source[sa]), len(per_source[sb])
            expected[(sa, sb)] = (
                shared,
                na,
                nb,
                round(shared / (na + nb - shared), 6),
                round(shared / min(na, nb), 6),
            )

    got = {
        (r.source_a, r.source_b): (
            r.n_shared,
            r.n_a,
            r.n_b,
            r.jaccard6,
            r.containment6,
        )
        for r in q_mix_contamination_matrix(spark, sf_dir).collect()
    }
    assert got == expected
    assert got, "fixture must exercise at least one overlapping source pair"
    spark.catalog.clearCache()


def test_contamination_matrix_no_pair_explosion(spark, sf_dir):
    """The source-pair join must be an equi-join on the gram key (plus a
    residual source ordering filter) — never a cartesian/nested-loop
    pairing, mirroring the decontaminate-overlap plan pin."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import curation
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(curation.QUERIES["q_mix_contamination_matrix"](spark, sf_dir))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_ann_ivf_incremental
# ---------------------------------------------------------------------------


def test_ivf_incremental_matches_python_replay(spark, sf_dir):
    """Replay the frozen-quantizer assignment in Python: corpus-only LCG
    hash-order centroid selection, then per-batch-vector sequential
    left-fold cosine (the engines' fold order — NOT np.dot) against all
    centroids; rank-1/rank-2 cells and the 6-dp margin must agree
    exactly."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        IVF_BATCH_MOD,
        IVF_BATCH_REM,
        IVF_C,
        q_ann_ivf_incremental,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_pylist()
    embs = {i: np.array(e, dtype=np.float64) for i, e in zip(ids, t["embedding"].to_pylist())}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(np.float64(x) * np.float64(y))
        return acc

    def norm(a):
        return float(np.sqrt(np.float64(fold_dot(a, a))))

    corpus = [i for i in ids if i % IVF_BATCH_MOD != IVF_BATCH_REM]
    batch = [i for i in ids if i % IVF_BATCH_MOD == IVF_BATCH_REM]
    cent_ids = sorted(corpus, key=lambda i: ((i * 1103515245 + 12345) % 2147483648, i))[
        :IVF_C
    ]
    norms = {i: norm(embs[i]) for i in ids}

    expected = {}
    for b in batch:
        sims = sorted(
            (
                (-(fold_dot(embs[b], embs[c]) / (norms[b] * norms[c])), c)
                for c in cent_ids
            ),
        )
        (s1, c1), (s2, c2) = sims[0], sims[1]
        expected[b] = (c1, round(-s1, 6), c2, round((-s1) - (-s2), 6))

    got = {
        r.vec_id: (r.cell, r.csim6, r.cell2, r.margin6)
        for r in q_ann_ivf_incremental(spark, sf_dir).collect()
    }
    assert got == expected
    assert got
    spark.catalog.clearCache()


def test_ivf_incremental_frozen_quantizer_plan(spark, sf_dir):
    """The corpus side must appear only as the TakeOrderedAndProject
    centroid selection (O(IVF_C) task state) feeding a BroadcastExchange
    — assignment is batch x constant-size-broadcast (the keyless join
    against the 64-row build side plans as BroadcastNestedLoopJoin
    BuildRight, the same bounded shape as q_ann_ivf's assignment pass);
    no shuffle-side cartesian of corpus rows."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import similarity
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = similarity.QUERIES["q_ann_ivf_incremental"](spark, sf_dir)
    txt = plan_text(df, "simple")
    assert "TakeOrderedAndProject(limit=64" in txt, txt
    assert "BroadcastExchange" in txt, txt
    assert "CartesianProduct" not in txt
    # WindowGroupLimit: the rank-2 filter pushes below the exchange
    assert "WindowGroupLimit" in txt, txt
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_dedup_paragraph_pairs
# ---------------------------------------------------------------------------


def test_paragraph_pairs_sound_and_nonempty(spark, sf_dir):
    """Soundness replay: every emitted pair's Jaccard is recomputed in
    Python from the raw text (re-chunk, re-shingle, exact set math) and
    must match the emitted 6-dp value and clear the threshold.  The
    fixture must produce at least one pair (the LSH bands are
    deterministic, so this is stable)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        PARA_JACC_MIN,
        PARA_TOKENS,
        SHINGLE_K,
        q_dedup_paragraph_pairs,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    shingles: dict[tuple, set] = {}
    for d, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        toks = _tokens(text)
        for pi, start in enumerate(range(0, len(toks), PARA_TOKENS)):
            ck = toks[start : start + PARA_TOKENS]
            s = {
                " ".join(ck[i : i + SHINGLE_K])
                for i in range(len(ck) - (SHINGLE_K - 1))
            }
            if s:
                shingles[(d, pi)] = s

    rows = q_dedup_paragraph_pairs(spark, sf_dir).collect()
    assert rows, "fixture must produce at least one paragraph-level pair"
    for r in rows:
        sa = shingles[(r.doc_a, r.para_a)]
        sb = shingles[(r.doc_b, r.para_b)]
        inter = len(sa & sb)
        assert inter == r.n_common, (r, inter)
        union = len(sa) + len(sb) - inter
        jac = inter / union
        # exact half-away rounding, matching round_ratio (r15: the
        # output column converted from round-of-double; python round()
        # would diverge on exact halves)
        assert ((2 * 10**6 * inter + union) // (2 * union)) / 10**6 == r.jaccard6, (r, jac)
        assert jac >= PARA_JACC_MIN
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_graph_bfs_khop
# ---------------------------------------------------------------------------


def test_bfs_khop_matches_python_replay(spark, sf_dir):
    """Independent BFS replay: rebuild the cosine >= TRI_TAU edge set in
    numpy (exact threshold on float64 left-fold cosine is not needed for
    the EDGE decision here because the Spark/DuckDB kernels already
    agree — this replay recomputes cosines with the same sequential
    fold) and run a textbook queue BFS from the seed set; min distances
    must match exactly."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        BFS_K,
        BFS_SEED_MOD,
        TRI_TAU,
        q_graph_bfs_khop,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_pylist()
    embs = {i: np.array(e, dtype=np.float64) for i, e in zip(ids, t["embedding"].to_pylist())}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(np.float64(x) * np.float64(y))
        return acc

    norms = {i: float(np.sqrt(np.float64(fold_dot(embs[i], embs[i])))) for i in ids}
    adj = {i: [] for i in ids}
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            if fold_dot(embs[a], embs[b]) / (norms[a] * norms[b]) >= TRI_TAU:
                adj[a].append(b)
                adj[b].append(a)

    dist = {i: 0 for i in ids if i % BFS_SEED_MOD == 0}
    frontier = list(dist)
    for d in range(1, BFS_K + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt

    got = {r.node: r.dist for r in q_graph_bfs_khop(spark, sf_dir).collect()}
    assert got == dist
    assert got
    spark.catalog.clearCache()


def test_bfs_khop_single_plan_no_actions(spark, sf_dir):
    """The BFS_K rounds unroll into one declarative plan: keyed joins
    only (no cartesian/nested-loop), and building the DataFrame must
    not leave a convergence-loop artifact — the plan contains exactly
    BFS_K+1 union legs feeding the final min aggregation."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import graph
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    df = graph.QUERIES["q_graph_bfs_khop"](spark, sf_dir)
    txt = plan_text(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_events_cusum_drift
# ---------------------------------------------------------------------------


def test_cusum_drift_matches_sequential_recurrence(spark, sf_dir):
    """The closed form prefix - min(0, running-min(prefix)) must equal
    the textbook sequential recurrence S_t = max(0, S_{t-1} + d_t),
    replayed per event type in Python over the same hourly series; both
    flag states must appear."""
    import collections
    import datetime

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        q_events_cusum_drift,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    hourly = collections.Counter()
    for et, ts in zip(t["event_type"].to_pylist(), t["ts"].to_pylist()):
        hourly[(et, ts.replace(minute=0, second=0, microsecond=0, nanosecond=0)
                if hasattr(ts, "nanosecond")
                else ts.replace(minute=0, second=0, microsecond=0))] += 1

    by_type = collections.defaultdict(list)
    for (et, hr), x in hourly.items():
        by_type[et].append((hr, x))

    expected = {}
    for et, rows in by_type.items():
        rows.sort()
        n = sum(x for _, x in rows)
        mu_centi = (100 * n) // len(rows)
        k = mu_centi // 20
        s = 0
        series = []
        for hr, x in rows:
            s = max(0, s + (100 * x - mu_centi - k))
            series.append((hr, x, s))
        cmax = max(s for _, _, s in series)
        for hr, x, s in series:
            expected[(et, hr)] = (x, s, s * 2 > cmax)

    got = {
        (r.event_type, r.hr): (r.x, r.cusum_centi, r.flagged)
        for r in q_events_cusum_drift(spark, sf_dir).collect()
    }
    assert got == expected
    flags = {v[2] for v in got.values()}
    assert flags == {True, False}, "fixture must exercise both flag states"
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_mix_unigram_cross_entropy
# ---------------------------------------------------------------------------


def test_unigram_cross_entropy_matches_python_replay(spark, sf_dir):
    """Full replay: per-source unigram counts in Python, add-one
    smoothing, micro-nat quantization with the same floor(ln*1e6+0.5)
    on each log term; every ordered pair's xent_mu must match
    exactly, and self-modeling must be cheaper than cross-modeling on
    average (sanity of the distance semantics)."""
    import math
    from collections import Counter, defaultdict

    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        q_mix_unigram_cross_entropy,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    counts = defaultdict(Counter)
    for src, text in zip(t["source"].to_pylist(), t["text"].to_pylist()):
        counts[src].update(_tokens(text))
    vocab = set()
    for c in counts.values():
        vocab.update(c)
    v = len(vocab)
    ntot = {s: sum(c.values()) for s, c in counts.items()}

    def lnq(x):
        return math.floor(math.log(float(x)) * 1_000_000 + 0.5)

    expected = {}
    for sa in counts:
        for sb in counts:
            if sa == sb:
                continue
            s_match = sum(
                ca * lnq(counts[sb][w] + 1)
                for w, ca in counts[sa].items()
                if w in counts[sb]
            )
            m_ab = sum(ca for w, ca in counts[sa].items() if w in counts[sb])
            num = ntot[sa] * lnq(ntot[sb] + v) - s_match
            expected[(sa, sb)] = (ntot[sa], m_ab, num // ntot[sa])

    got = {
        (r.source_a, r.source_b): (r.n_tokens_a, r.overlap_mass, r.xent_mu)
        for r in q_mix_unigram_cross_entropy(spark, sf_dir).collect()
    }
    assert got == expected
    assert got
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_multimodal_audio_rms_gain
# ---------------------------------------------------------------------------


def test_audio_rms_gain_matches_formula_replay(spark, sf_dir):
    """Replay the sample-generating formula in Python (third path next
    to the real WAV decode and the oracle) and demand exact agreement
    on the integer sufficient stats AND the quantized gain."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.multimodal import (
        RMS_TARGET,
        q_multimodal_audio_rms_gain,
    )

    doc_ids = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])[
        "doc_id"
    ].to_pylist()
    expected = {}
    for d in doc_ids:
        n = (d % 50 + 20) * (d % 2 + 1)
        sumsq = sum(
            ((d * 7919 + k * 104729) % 65521 - 32760) ** 2 for k in range(n)
        )
        if sumsq > 0:
            gain = math.floor(
                float(RMS_TARGET) / math.sqrt(sumsq / n) * 1_000_000 + 0.5
            )
            expected[d] = (n, sumsq, gain)

    got = {
        r.doc_id: (r.n_samples, r.sumsq, r.gain_mu)
        for r in q_multimodal_audio_rms_gain(spark, sf_dir).collect()
    }
    assert got == expected
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_text_sentence_stats
# ---------------------------------------------------------------------------


def test_sentence_stats_matches_python_replay(spark, sf_dir):
    """Replay split-on-[.!?]+ / letter-count / fold in Python; every
    doc's four stats must match exactly."""
    import re

    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        q_text_sentence_stats,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    expected = {}
    for d, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        ls = [
            sum(1 for ch in seg if unicodedata.category(ch).startswith("L"))
            for seg in re.split(r"[.!?]+", text)
        ]
        ls = [n for n in ls if n > 0]
        if ls:
            expected[d] = (
                len(ls),
                sum(ls),
                max(ls),
                (1_000_000 * sum(ls)) // len(ls),
            )

    got = {
        r.doc_id: (r.n_sentences, r.total_letters, r.max_letters, r.mean_letters_mu)
        for r in q_text_sentence_stats(spark, sf_dir).collect()
    }
    assert got == expected
    assert got
    spark.catalog.clearCache()


def test_sentence_stats_zero_shuffle(spark, sf_dir):
    """The whole profile folds in-row — no exchange in the plan."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators import text as text_ops
    from apache_beam_java_firestore_batch_dataflow_spark.plans.explain import plan_text

    txt = plan_text(text_ops.QUERIES["q_text_sentence_stats"](spark, sf_dir))
    assert "Exchange" not in txt, txt
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_embedding_label_outliers
# ---------------------------------------------------------------------------


def test_label_outliers_matches_python_replay(spark, sf_dir):
    """Replay: exact-decimal centroid means per (label, pos), then the
    same sequential left-fold cosine per member vector, bottom-5 per
    label with vec_id tie-break."""
    from collections import defaultdict
    from decimal import Decimal

    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        OUTLIER_K,
        q_embedding_label_outliers,
    )

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding", "label"]
    )
    ids = t["vec_id"].to_pylist()
    labels = t["label"].to_pylist()
    embs = t["embedding"].to_pylist()

    by_label = defaultdict(list)
    for i, lb, e in zip(ids, labels, embs):
        by_label[lb].append((i, [float(np.float64(x)) for x in e]))

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(np.float64(x) * np.float64(y))
        return acc

    expected = {}
    for lb, members in by_label.items():
        dim = len(members[0][1])
        cent = []
        for pos in range(dim):
            s = sum(
                (Decimal(repr(round(v[pos], 6))) for _, v in members),
                Decimal(0),
            )
            cent.append(float(s) / len(members))
        scored = []
        for vid, v in members:
            cos = fold_dot(v, cent) / (
                (fold_dot(v, v) ** 0.5) * (fold_dot(cent, cent) ** 0.5)
            )
            scored.append((cos, vid))
        scored.sort()
        for rk, (cos, vid) in enumerate(scored[:OUTLIER_K], 1):
            expected[(lb, vid)] = (rk, round(cos, 6))

    got = {
        (r.label, r.vec_id): (r.rank, r.cos6)
        for r in q_embedding_label_outliers(spark, sf_dir).collect()
    }
    assert got == expected
    assert got
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# q_mix_dsir_weights
# ---------------------------------------------------------------------------


def test_dsir_weights_matches_python_replay(spark, sf_dir):
    """Independent replay: fit both unigram LMs in Python with the same
    ln6 quantization and check the emitted top-k scores bit-exactly."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        DSIR_TARGET,
        DSIR_TOP,
        q_mix_dsir_weights,
    )

    t = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"]
    )
    doc_counts: dict[int, dict[str, int]] = {}
    doc_source: dict[int, str] = {}
    c_raw: dict[str, int] = {}
    c_tgt: dict[str, int] = {}
    for did, src, text in zip(
        t["doc_id"].to_pylist(), t["source"].to_pylist(), t["text"].to_pylist()
    ):
        doc_source[did] = src
        dc = doc_counts.setdefault(did, {})
        for w in _tokens(text):
            dc[w] = dc.get(w, 0) + 1
            c_raw[w] = c_raw.get(w, 0) + 1
            if src == DSIR_TARGET:
                c_tgt[w] = c_tgt.get(w, 0) + 1

    def lnq(x: int) -> int:
        return math.floor(math.log(float(x)) * 1_000_000 + 0.5)

    n_raw = sum(c_raw.values())
    n_tgt = sum(c_tgt.values())
    v = len(c_raw)
    norm = lnq(n_tgt + v) - lnq(n_raw + v)
    expected = []
    for did, dc in doc_counts.items():
        n_tok = sum(dc.values())
        s = sum(
            c * (lnq(c_tgt.get(w, 0) + 1) - lnq(c_raw[w] + 1)) for w, c in dc.items()
        )
        expected.append((did, doc_source[did], n_tok, s - n_tok * norm))
    expected.sort(key=lambda r: (-r[3], r[0]))
    expected = expected[:DSIR_TOP]

    got = [
        (r.doc_id, r.source, r.n_tokens, r.dsir_mu)
        for r in q_mix_dsir_weights(spark, sf_dir).collect()
    ]
    assert got == expected
    # the selector must actually tilt toward the target slice: target
    # docs score their own LM's vocabulary, so the top of the list is
    # enriched in '{target}' relative to its corpus share
    top_share = sum(1 for r in got if r[1] == DSIR_TARGET) / len(got)
    corpus_share = sum(1 for s in doc_source.values() if s == DSIR_TARGET) / len(
        doc_source
    )
    assert top_share > corpus_share


# ---------------------------------------------------------------------------
# q_graph_adamic_adar
# ---------------------------------------------------------------------------


def test_adamic_adar_matches_python_replay(spark, sf_dir):
    """Replay the blocked Adamic-Adar score from the raw parquet and
    compare the full emitted ranking."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        AA_DF_MAX,
        AA_TOP,
        q_graph_adamic_adar,
    )

    orders = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    li = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"])
    cust_of = dict(zip(orders["o_orderkey"].to_pylist(), orders["o_custkey"].to_pylist()))
    adj: set[tuple[int, int]] = set()
    for ok, sk in zip(li["l_orderkey"].to_pylist(), li["l_suppkey"].to_pylist()):
        adj.add((cust_of[ok], sk))
    by_c: dict[int, list[int]] = {}
    for c, s in adj:
        by_c.setdefault(c, []).append(s)
    pair_w: dict[tuple[int, int], int] = {}
    pair_n: dict[tuple[int, int], int] = {}
    for c, ss in by_c.items():
        if not (2 <= len(ss) <= AA_DF_MAX):
            continue
        w = math.floor(1_000_000.0 / math.log(float(len(ss))) + 0.5)
        ss = sorted(ss)
        for i, sa in enumerate(ss):
            for sb in ss[i + 1 :]:
                pair_w[(sa, sb)] = pair_w.get((sa, sb), 0) + w
                pair_n[(sa, sb)] = pair_n.get((sa, sb), 0) + 1
    expected = sorted(
        ((sa, sb, pair_n[(sa, sb)], mu) for (sa, sb), mu in pair_w.items()),
        key=lambda r: (-r[3], r[0], r[1]),
    )[:AA_TOP]

    got = [
        (r.s_a, r.s_b, r.n_common, r.aa_mu)
        for r in q_graph_adamic_adar(spark, sf_dir).collect()
    ]
    assert got == expected


# ---------------------------------------------------------------------------
# q_privacy_kanon_generalize
# ---------------------------------------------------------------------------


def test_kanon_generalize_release_is_k_anonymous(spark, sf_dir):
    """Replay the ladder in Python AND check the two release invariants:
    every non-suppressed class has n >= K_ANON, and the released masses
    sum to the full customer count (nothing lost, nothing double)."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.privacy import (
        K_ANON,
        q_privacy_kanon_generalize,
    )

    cust = pq.read_table(
        f"{sf_dir}/customer.parquet", columns=["c_nationkey", "c_mktsegment"]
    )
    nat = pq.read_table(f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_regionkey"])
    region_of = dict(zip(nat["n_nationkey"].to_pylist(), nat["n_regionkey"].to_pylist()))
    l0: dict[tuple[int, str], int] = {}
    for nk, seg in zip(cust["c_nationkey"].to_pylist(), cust["c_mktsegment"].to_pylist()):
        l0[(nk, seg)] = l0.get((nk, seg), 0) + 1
    expected = set()
    l1: dict[tuple[int, str], int] = {}
    for (nk, seg), n in l0.items():
        if n >= K_ANON:
            expected.add((0, f"n{nk}", seg, n))
        else:
            key = (region_of[nk], seg)
            l1[key] = l1.get(key, 0) + n
    residual = 0
    n_residual_classes = 0
    for (rk, seg), n in l1.items():
        if n >= K_ANON:
            expected.add((1, f"r{rk}", seg, n))
        else:
            residual += n
            n_residual_classes += 1
    if n_residual_classes:
        expected.add((2, "*", "*", residual))

    rows = q_privacy_kanon_generalize(spark, sf_dir).collect()
    got = {(r.qi_level, r.qi_geo, r.qi_segment, r.n) for r in rows}
    assert got == expected
    assert sum(r.n for r in rows) == cust.num_rows
    for r in rows:
        assert r.qi_level == 2 or r.n >= K_ANON


# ---------------------------------------------------------------------------
# q_events_kendall_tau
# ---------------------------------------------------------------------------


def test_kendall_tau_matches_python_replay(spark, sf_dir):
    """Replay tau-b from the raw events with an O(n²) Python loop over
    the full-grid-aligned hourly series."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        q_events_kendall_tau,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    counts: dict[tuple[str, int], int] = {}
    hours: set[int] = set()
    types: set[str] = set()
    for et, ts in zip(t["event_type"].to_pylist(), t["ts"].to_pylist()):
        h = int(
            (ts.replace(tzinfo=None) - __import__("datetime").datetime(1970, 1, 1))
            .total_seconds() * 1_000_000
        ) // 3_600_000_000
        counts[(et, h)] = counts.get((et, h), 0) + 1
        hours.add(h)
        types.add(et)
    hs = sorted(hours)
    expected = {}
    tl = sorted(types)
    for i, ta in enumerate(tl):
        for tb in tl[i + 1 :]:
            xs = [counts.get((ta, h), 0) for h in hs]
            ys = [counts.get((tb, h), 0) for h in hs]
            nc = nd = tx = ty = 0
            n = len(hs)
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
            n0 = n * (n - 1) // 2
            tau = (
                round((nc - nd) / math.sqrt(float(n0 - tx) * float(n0 - ty)), 6)
                if (n0 - tx) * (n0 - ty) > 0
                else None
            )
            expected[(ta, tb)] = (n0, nc, nd, tx, ty, tau)

    got = {
        (r.type_a, r.type_b): (r.n_pairs, r.n_conc, r.n_disc, r.ties_x, r.ties_y,
                               r.tau_b6)
        for r in q_events_kendall_tau(spark, sf_dir).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# q_events_burst_hours
# ---------------------------------------------------------------------------


def test_burst_hours_matches_python_replay(spark, sf_dir):
    """Replay the trailing-24h RANGE baseline and the per-type top-5
    excess ranking in Python."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        BURST_TOP,
        BURST_WIN_H,
        q_events_burst_hours,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    counts: dict[str, dict[int, int]] = {}
    for et, ts in zip(t["event_type"].to_pylist(), t["ts"].to_pylist()):
        h = int(
            (ts.replace(tzinfo=None) - __import__("datetime").datetime(1970, 1, 1))
            .total_seconds() * 1_000_000
        ) // 3_600_000_000
        d = counts.setdefault(et, {})
        d[h] = d.get(h, 0) + 1

    expected = set()
    for et, series in counts.items():
        h0 = min(series)
        scored = []
        for h, c in series.items():
            if h < h0 + BURST_WIN_H:
                continue
            s24 = sum(
                series.get(hh, 0) for hh in range(h - BURST_WIN_H, h)
            )
            scored.append((BURST_WIN_H * c - s24, h, c, s24))
        scored.sort(key=lambda r: (-r[0], r[1]))
        for ex, h, c, s24 in scored[:BURST_TOP]:
            expected.add((et, h, c, s24, ex))

    got = {
        (r.event_type, r.h, r.n_events, r.sum24, r.excess_x24)
        for r in q_events_burst_hours(spark, sf_dir).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# q_multimodal_image_entropy
# ---------------------------------------------------------------------------


def test_image_entropy_matches_python_replay(spark, sf_dir):
    """Replay the positional PPM raster synthesis and the ln6 entropy
    quantization; also pin the analytic bounds 0 <= H <= ln(256)."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.multimodal import (
        q_multimodal_image_entropy,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])

    def lnq(x: int) -> int:
        return math.floor(math.log(float(x)) * 1_000_000 + 0.5)

    expected = {}
    for did, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        w, h = did % 13 + 4, did % 7 + 4
        data = text.encode("utf-8")
        # the PPM fixture cycles the utf-8 bytes of `text` positionally
        raster = bytes(data[i % len(data)] for i in range(3 * w * h))
        hist: dict[int, int] = {}
        for b in raster:
            hist[b] = hist.get(b, 0) + 1
        n = 3 * w * h
        s = sum(c * lnq(c) for c in hist.values())
        expected[did] = (n, len(hist), (n * lnq(n) - s) // n)

    rows = q_multimodal_image_entropy(spark, sf_dir).collect()
    got = {r.doc_id: (r.n_bytes, r.n_levels, r.entropy_mu) for r in rows}
    assert got == expected
    for r in rows:
        assert 0 <= r.entropy_mu <= math.ceil(math.log(256) * 1_000_000)


# ---------------------------------------------------------------------------
# q_privacy_t_closeness
# ---------------------------------------------------------------------------


def test_t_closeness_matches_python_replay(spark, sf_dir):
    """Replay the cross-multiplied integer EMD and the [0,1] bound."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.privacy import (
        T_CLOSE_MAX6,
        q_privacy_t_closeness,
    )

    t = pq.read_table(
        f"{sf_dir}/customer.parquet",
        columns=["c_nationkey", "c_mktsegment", "c_acctbal"],
    )
    import math

    cls: dict[tuple[int, str], dict[int, int]] = {}
    glob: dict[int, int] = {}
    for nk, seg, bal in zip(
        t["c_nationkey"].to_pylist(),
        t["c_mktsegment"].to_pylist(),
        t["c_acctbal"].to_pylist(),
    ):
        b = math.floor(float(bal) / 1000)
        d = cls.setdefault((nk, seg), {})
        d[b] = d.get(b, 0) + 1
        glob[b] = glob.get(b, 0) + 1
    buckets = sorted(glob)
    big_n = sum(glob.values())
    nb = len(buckets)
    expected = {}
    for (nk, seg), d in cls.items():
        n = sum(d.values())
        cum_c = cum_g = num = 0
        for b in buckets:
            cum_c += d.get(b, 0)
            cum_g += glob[b]
            num += abs(cum_c * big_n - cum_g * n)
        t6 = round(num / (float(n) * float(big_n) * (nb - 1)), 6)
        expected[(nk, seg)] = (n, t6, t6 <= T_CLOSE_MAX6)

    got = {
        (r.c_nationkey, r.c_mktsegment): (r.n, r.t6, r.t_ok)
        for r in q_privacy_t_closeness(spark, sf_dir).collect()
    }
    assert got == expected
    for n, t6, _ in got.values():
        assert 0.0 <= t6 <= 1.0


# ---------------------------------------------------------------------------
# q_text_rake_keywords
# ---------------------------------------------------------------------------


def test_rake_keywords_matches_python_replay(spark, sf_dir):
    """Full RAKE replay: DF-calibrated stopwords, phrase segmentation,
    deg/freq word scores, per-doc best phrase."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        RAKE_STOP_K,
        q_text_rake_keywords,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_toks = {
        did: [w.lower() for w in _tokens(text)]
        for did, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist())
    }
    cw: dict[str, int] = {}
    for ws_ in doc_toks.values():
        for w in ws_:
            cw[w] = cw.get(w, 0) + 1
    stop = {w for w, _ in sorted(cw.items(), key=lambda kv: (-kv[1], kv[0]))[:RAKE_STOP_K]}

    expected = {}
    for did, ws_ in doc_toks.items():
        phrases: list[list[str]] = []
        cur: list[str] = []
        for w in ws_:
            if w in stop:
                if cur:
                    phrases.append(cur)
                    cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(cur)
        if not phrases:
            continue
        freq: dict[str, int] = {}
        deg: dict[str, int] = {}
        for ph in phrases:
            for w in ph:
                freq[w] = freq.get(w, 0) + 1
                deg[w] = deg.get(w, 0) + len(ph)
        score = {w: (1_000_000 * deg[w]) // freq[w] for w in freq}
        scored = [
            (" ".join(ph), len(ph), sum(score[w] for w in ph)) for ph in phrases
        ]
        scored.sort(key=lambda r: (-r[2], r[0]))
        expected[did] = scored[0]

    got = {
        r.doc_id: (r.phrase, r.n_words, r.rake_mu)
        for r in q_text_rake_keywords(spark, sf_dir).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# q_graph_degree_assortativity
# ---------------------------------------------------------------------------


def test_degree_assortativity_matches_python_replay(spark, sf_dir):
    """Replay the edge-level degree Pearson from the raw parquet."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        q_graph_degree_assortativity,
    )

    orders = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    li = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"])
    cust_of = dict(zip(orders["o_orderkey"].to_pylist(), orders["o_custkey"].to_pylist()))
    adj = {(cust_of[ok], sk) for ok, sk in
           zip(li["l_orderkey"].to_pylist(), li["l_suppkey"].to_pylist())}
    deg_c: dict[int, int] = {}
    deg_s: dict[int, int] = {}
    for c, s in adj:
        deg_c[c] = deg_c.get(c, 0) + 1
        deg_s[s] = deg_s.get(s, 0) + 1
    n = len(adj)
    sx = sum(deg_c[c] for c, _ in adj)
    sy = sum(deg_s[s] for _, s in adj)
    sxy = sum(deg_c[c] * deg_s[s] for c, s in adj)
    sxx = sum(deg_c[c] ** 2 for c, _ in adj)
    syy = sum(deg_s[s] ** 2 for _, s in adj)
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    exp_r = (
        round((n * sxy - sx * sy) / math.sqrt(float(vx) * float(vy)), 6)
        if vx > 0 and vy > 0
        else None
    )

    rows = q_graph_degree_assortativity(spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0].n_edges == n
    assert rows[0].assortativity6 == exp_r
    if exp_r is not None:
        assert -1.0 <= rows[0].assortativity6 <= 1.0


# ---------------------------------------------------------------------------
# q_privacy_dp_sum_clamped
# ---------------------------------------------------------------------------


def test_dp_sum_clamped_mechanism(spark, sf_dir):
    """Replay the clamp + seeded-Laplace mechanism in Python; also pin
    the DP invariants: clamped_sum is within [0, n*CLAMP] and
    noisy = clamped + noise at 4dp."""
    import hashlib
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.privacy import (
        DP_EPSILON,
        DPSUM_CLAMP,
        _U_SPACE,
        q_privacy_dp_sum_clamped,
    )

    t = pq.read_table(f"{sf_dir}/customer.parquet", columns=["c_nationkey", "c_acctbal"])
    agg: dict[int, list] = {}
    for nk, bal in zip(t["c_nationkey"].to_pylist(), t["c_acctbal"].to_pylist()):
        c = min(max(float(bal), 0.0), float(DPSUM_CLAMP))
        a = agg.setdefault(nk, [0, 0.0])
        a[0] += 1
        a[1] += c

    rows = q_privacy_dp_sum_clamped(spark, sf_dir).collect()
    assert len(rows) == len(agg)
    for r in rows:
        n, s = agg[r.c_nationkey]
        assert r.n == n
        assert abs(r.clamped_sum - round(s, 2)) < 1e-6
        assert 0.0 <= r.clamped_sum <= n * DPSUM_CLAMP
        u = (
            int(hashlib.md5(f"dpsum:{r.c_nationkey}".encode()).hexdigest()[:13], 16)
            + 0.5
        ) / _U_SPACE
        if u < 0.5:
            noise = round(math.log(2.0 * u), 6) * DPSUM_CLAMP / DP_EPSILON
        else:
            noise = -round(math.log(2.0 - 2.0 * u), 6) * DPSUM_CLAMP / DP_EPSILON
        assert r.noise == round(noise, 4)
        assert abs(r.noisy_sum - round(r.clamped_sum + noise, 4)) < 1e-4


# ---------------------------------------------------------------------------
# q_embedding_centroid_silhouette
# ---------------------------------------------------------------------------


def test_centroid_silhouette_matches_python_replay(spark, sf_dir):
    """Replay centroids (round-6 exact sums / count), the engines'
    sequential-fold cosine, and the quantized margin aggregation."""
    import math
    from fractions import Fraction

    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        q_embedding_centroid_silhouette,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet",
                      columns=["vec_id", "embedding", "label"])
    by_label: dict[str, list] = {}
    vecs = {}
    for vid, emb, lab in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist(),
                             t["label"].to_pylist()):
        e = [float(x) for x in emb]
        vecs[vid] = (lab, e)
        by_label.setdefault(lab, []).append(e)

    cents = {}
    for lab, es in by_label.items():
        dim = len(es[0])
        cents[lab] = [
            float(sum(Fraction(round(e[d], 6)) for e in es) / len(es))
            for d in range(dim)
        ]

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        return fold_dot(a, b) / (math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b)))

    stats: dict[str, list] = {}
    for vid, (lab, e) in vecs.items():
        own = cos(e, cents[lab])
        other = max(cos(e, c) for l2, c in cents.items() if l2 != lab)
        mq = math.floor((own - other) * 1_000_000 + 0.5)
        s = stats.setdefault(lab, [0, 0, 0, None])
        s[0] += 1
        s[1] += mq
        s[2] += 1 if mq < 0 else 0
        s[3] = mq if s[3] is None else min(s[3], mq)

    expected = {
        lab: (n, neg, math.floor(sq / n), mn)
        for lab, (n, sq, neg, mn) in stats.items()
    }
    got = {
        r.label: (r.n_members, r.n_negative, r.mean_margin_mu, r.min_margin_mu)
        for r in q_embedding_centroid_silhouette(spark, sf_dir).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# q_sessions_bounce_rate
# ---------------------------------------------------------------------------


def test_bounce_rate_matches_python_replay(spark, sf_dir):
    """Replay gap sessionization (30-min rule, event_id tie-break) and
    the daily bounce rollup; also check n_bounces <= n_sessions."""
    from apache_beam_java_firestore_batch_dataflow_spark.operators.curation import (
        q_sessions_bounce_rate,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet",
                      columns=["user_id", "ts", "event_id"])
    per_user: dict[int, list] = {}
    for uid, ts, eid in zip(t["user_id"].to_pylist(), t["ts"].to_pylist(),
                            t["event_id"].to_pylist()):
        per_user.setdefault(uid, []).append((ts.replace(tzinfo=None), eid))

    daily: dict = {}
    for uid, evs in per_user.items():
        evs.sort()
        prev = None
        cur: list = []
        sessions = []
        for ts, eid in evs:
            if prev is not None and (ts - prev).total_seconds() * 1_000_000 > 1_800_000_000:
                sessions.append(cur)
                cur = []
            cur.append(ts)
            prev = ts
        if cur:
            sessions.append(cur)
        for s in sessions:
            day = s[0].date()
            d = daily.setdefault(day, [0, 0])
            d[0] += 1
            d[1] += 1 if len(s) == 1 else 0

    expected = {
        day: (n, b, (10000 * b) // n) for day, (n, b) in daily.items()
    }
    rows = q_sessions_bounce_rate(spark, sf_dir).collect()
    got = {r.day: (r.n_sessions, r.n_bounces, r.bounce_bp) for r in rows}
    assert got == expected
    for n, b, _ in got.values():
        assert b <= n


# ---------------------------------------------------------------------------
# q_embedding_quantize_error
# ---------------------------------------------------------------------------


def test_quantize_error_matches_python_replay(spark, sf_dir):
    """Replay the int8 round-trip error in Python with the engines'
    exact double arithmetic; errors must be bounded by half a
    quantization step."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        q_embedding_quantize_error,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet",
                      columns=["embedding", "label"])
    stats: dict[str, list] = {}
    for emb, lab in zip(t["embedding"].to_pylist(), t["label"].to_pylist()):
        xd = [float(x) for x in emb]
        maxabs = 0.0
        for x in xd:
            maxabs = max(maxabs, abs(x))
        s = stats.setdefault(lab, [0, 0, 0, 0])
        s[0] += 1
        s[3] += len(xd)
        for x in xd:
            if maxabs > 0:
                # Spark/DuckDB round() is half-away-from-zero
                v = x * 127.0 / maxabs
                q = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
                e = math.floor(abs(x - q * (maxabs / 127.0)) * 1e9 + 0.5)
            else:
                e = 0
            s[1] += e
            s[2] = max(s[2], e)

    expected = {
        lab: (n, sq // dim, mx) for lab, (n, sq, mx, dim) in stats.items()
    }
    got = {
        r.label: (r.n_vecs, r.mean_abs_err_nano, r.max_abs_err_nano)
        for r in q_embedding_quantize_error(spark, sf_dir).collect()
    }
    assert got == expected
    # half-step bound: |err| <= scale/2 = maxabs/254 (+1 nano slack)
    for _, _, mx in got.values():
        assert mx <= int(1e9 / 2 / 127 * 1.1) + 1


# ---------------------------------------------------------------------------
# q_events_seasonality_strength
# ---------------------------------------------------------------------------


def test_seasonality_strength_matches_python_replay(spark, sf_dir):
    """Replay the full-grid hod variance decomposition; strength must
    sit in [0, 1] (up to the documented micro-unit quantization)."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.timeseries import (
        q_events_seasonality_strength,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    counts: dict[tuple[str, int], int] = {}
    hours: set[int] = set()
    types: set[str] = set()
    for et, ts in zip(t["event_type"].to_pylist(), t["ts"].to_pylist()):
        h = int(
            (ts.replace(tzinfo=None) - __import__("datetime").datetime(1970, 1, 1))
            .total_seconds() * 1_000_000
        ) // 3_600_000_000
        counts[(et, h)] = counts.get((et, h), 0) + 1
        hours.add(h)
        types.add(et)

    expected = {}
    for et in types:
        hod_n: dict[int, int] = {}
        hod_s: dict[int, int] = {}
        n = s = qq = 0
        for h in hours:
            c = counts.get((et, h), 0)
            hod = h % 24
            hod_n[hod] = hod_n.get(hod, 0) + 1
            hod_s[hod] = hod_s.get(hod, 0) + c
            n += 1
            s += c
            qq += c * c
        b_mu = sum(
            math.floor(1_000_000.0 * hod_s[g] * hod_s[g] / hod_n[g] + 0.5)
            for g in hod_n
        )
        ssn = float(s) * s / n
        qq_d = qq - ssn
        strength = round((b_mu / 1_000_000.0 - ssn) / qq_d, 6) if qq_d > 0 else None
        peak = sorted(hod_s.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expected[et] = (n, strength, peak[0], (10000 * peak[1]) // s)

    got = {
        r.event_type: (r.n_hours, r.strength6, r.peak_hod, r.peak_share_bp)
        for r in q_events_seasonality_strength(spark, sf_dir).collect()
    }
    assert got == expected
    for _, st, _, _ in got.values():
        if st is not None:
            assert -0.001 <= st <= 1.001


# ---------------------------------------------------------------------------
# q_audit_benford_totalprice
# ---------------------------------------------------------------------------


def test_benford_audit_matches_python_replay(spark, sf_dir):
    """Replay first-digit counts and the quantized Benford expectation;
    expectations must sum to ~1e6 and observed shares exactly
    partition the total."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_audit_benford_totalprice,
    )

    t = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    c: dict[int, int] = {}
    for v in t["o_totalprice"].to_pylist():
        d = int(str(v)[0])
        c[d] = c.get(d, 0) + 1
    total = sum(c.values())
    expected = {}
    for d, n in c.items():
        obs = (1_000_000 * n) // total
        ben = math.floor(1_000_000.0 * math.log(1.0 + 1.0 / d) / math.log(10.0) + 0.5)
        expected[d] = (n, obs, ben, obs - ben)

    got = {
        r.digit: (r.n, r.observed_mu, r.benford_mu, r.dev_mu)
        for r in q_audit_benford_totalprice(spark, sf_dir).collect()
    }
    assert got == expected
    assert sum(n for n, *_ in got.values()) == total


# ---------------------------------------------------------------------------
# q_multimodal_image_colorfulness
# ---------------------------------------------------------------------------


def test_colorfulness_matches_python_replay(spark, sf_dir):
    """Replay the positional synthesis and the Hasler-Süsstrunk metric
    bit-exactly; the metric is non-negative by construction."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.multimodal import (
        q_multimodal_image_colorfulness,
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    expected = {}
    for did, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        w, h = did % 13 + 4, did % 7 + 4
        data = text.encode("utf-8")
        raster = [data[i % len(data)] for i in range(3 * w * h)]
        n = w * h
        s_rg = q_rg = s_yb2 = q_yb2 = 0
        for k in range(n):
            r, g, b = raster[3 * k], raster[3 * k + 1], raster[3 * k + 2]
            rg, yb2 = r - g, r + g - 2 * b
            s_rg += rg
            q_rg += rg * rg
            s_yb2 += yb2
            q_yb2 += yb2 * yb2
        mrg, myb2 = s_rg / n, s_yb2 / n
        m = math.sqrt((q_rg / n - mrg * mrg) + (q_yb2 / n - myb2 * myb2) / 4.0) \
            + 0.3 * math.sqrt(mrg * mrg + myb2 * myb2 / 4.0)
        expected[did] = (n, round(m, 4))

    got = {
        r.doc_id: (r.n_px, r.colorfulness4)
        for r in q_multimodal_image_colorfulness(spark, sf_dir).collect()
    }
    assert got == expected
    for _, m in got.values():
        assert m >= 0.0


# ---------------------------------------------------------------------------
# q_agg_theil_nation_revenue
# ---------------------------------------------------------------------------


def test_theil_index_matches_python_replay(spark, sf_dir):
    """Replay the µ-nat quantized Theil-T per nation; T must be >= 0 and
    <= ln(n) (the index's analytic range)."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_agg_theil_nation_revenue,
    )

    cust = pq.read_table(f"{sf_dir}/customer.parquet",
                         columns=["c_custkey", "c_nationkey"])
    orders = pq.read_table(f"{sf_dir}/orders.parquet",
                           columns=["o_custkey", "o_totalprice"])
    nation_of = dict(zip(cust["c_custkey"].to_pylist(), cust["c_nationkey"].to_pylist()))
    rev: dict[tuple[int, int], int] = {}
    for ck, tp in zip(orders["o_custkey"].to_pylist(), orders["o_totalprice"].to_pylist()):
        key = (nation_of[ck], ck)
        rev[key] = rev.get(key, 0) + round(float(tp) * 100)

    def lnq(x: float) -> int:
        return math.floor(math.log(x) * 1_000_000 + 0.5)

    by_nat: dict[int, list[int]] = {}
    for (nk, _), xc in rev.items():
        by_nat.setdefault(nk, []).append(xc)
    expected = {}
    for nk, xs in by_nat.items():
        n, s = len(xs), sum(xs)
        num = sum(xc * (lnq(float(xc) * n) - lnq(float(s))) for xc in xs)
        expected[nk] = (n, s, round(max(float(num), 0.0) / s / 1_000_000.0, 6))

    got = {
        r.c_nationkey: (r.n_customers, r.total_cents, r.theil6)
        for r in q_agg_theil_nation_revenue(spark, sf_dir).collect()
    }
    assert got == expected
    for n, _, t in got.values():
        assert 0.0 <= t <= math.log(n) + 1e-9


# ---------------------------------------------------------------------------
# q_embedding_kcenter_seeds
# ---------------------------------------------------------------------------


def test_kcenter_seeds_matches_python_replay(spark, sf_dir):
    """Replay the 3-round farthest-point traversal with the engines'
    sequential-fold cosine; seeds must be distinct, and round-3's
    min-max similarity must be >= round-2's (maxing over a superset of
    seeds can only raise the farthest point's similarity — the
    coverage radius, in distance terms, shrinks monotonically)."""
    import math

    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
        q_embedding_kcenter_seeds,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    vecs = {i: [float(x) for x in e]
            for i, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    norms = {i: math.sqrt(fold_dot(e, e)) for i, e in vecs.items()}

    def cos(i, j):
        return fold_dot(vecs[i], vecs[j]) / (norms[i] * norms[j])

    s1 = min(vecs, key=lambda i: (-norms[i], i))
    s2 = min(vecs, key=lambda i: (cos(i, s1), i))
    s3 = min(vecs, key=lambda i: (max(cos(i, s1), cos(i, s2)), i))
    expected = {
        1: (s1, round(norms[s1], 6)),
        2: (s2, round(cos(s2, s1), 6)),
        3: (s3, round(max(cos(s3, s1), cos(s3, s2)), 6)),
    }

    got = {
        r["round"]: (r.vec_id, r.score6)
        for r in q_embedding_kcenter_seeds(spark, sf_dir).collect()
    }
    assert got == expected
    assert len({v for v, _ in got.values()}) == 3
    assert got[3][1] >= got[2][1] - 1e-9
