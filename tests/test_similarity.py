"""The exact-kNN prune of ``operators/similarity.py``: its contract on
plain numpy arrays (no Spark), its agreement with the two prunes it
replaced, and NaN similarities end to end through the three kernels
that use it and through the cosine-threshold pair join."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import (
    _EMB_DEDUP_ORACLE,
    _UNIT_MARGIN,
    QUERY_MOD,
    _knn_batch,
    _knn_exact_pairs_vectorized,
    _knn_prune,
    _sim_units,
    q_dedup_embedding_cosine,
    q_knn_bruteforce,
    q_knn_bruteforce_cogrouped,
    q_knn_bruteforce_numpy,
)

from .conftest import SF_DIR


def _kept(sims, ids, q_ids, k, rounded=True):
    """Kept (row, query) index pairs of one batch."""
    sims = np.asarray(sims, dtype=np.float64)
    if rounded:
        keep = _knn_prune(_sim_units(sims), ids, q_ids, k, _UNIT_MARGIN)
    else:
        keep = _knn_prune(sims, ids, q_ids, k, 0)
    return sorted(zip(*np.nonzero(keep)))


def test_prune_keeps_every_row_tied_on_the_kth_unit_boundary():
    """Ties at the k-th value all survive, however many; with the unit
    margin, rows up to _UNIT_MARGIN units below it survive too."""
    ids = np.arange(1, 8, dtype=np.int64)
    q_ids = np.array([100], dtype=np.int64)
    sims = [[0.9], [0.5], [0.5], [0.5], [0.499998], [0.499997], [0.1]]
    assert _kept(sims, ids, q_ids, k=2) == [(i, 0) for i in range(5)]
    assert _kept(sims, ids, q_ids, k=2, rounded=False) == [(i, 0) for i in range(4)]


def test_prune_never_keeps_the_self_row():
    ids = np.array([10, 11, 12], dtype=np.int64)
    q_ids = np.array([10, 12], dtype=np.int64)
    sims = [[1.0, 0.2], [0.3, 0.4], [0.2, 1.0]]
    for rounded in (True, False):
        kept = _kept(sims, ids, q_ids, k=1, rounded=rounded)
        assert kept == [(1, 0), (1, 1)]


def test_prune_with_k_beyond_the_batch_keeps_every_non_self_row():
    ids = np.array([3, 4, 5], dtype=np.int64)
    q_ids = np.array([4], dtype=np.int64)
    sims = [[0.1], [0.9], [-0.7]]
    for rounded in (True, False):
        assert _kept(sims, ids, q_ids, k=10, rounded=rounded) == [(0, 0), (2, 0)]


def test_prune_accepts_ids_beyond_1e12():
    """Only id equality is used, so any int64 id works."""
    rng = np.random.default_rng(7)
    base = np.arange(40, dtype=np.int64)
    x = rng.standard_normal((40, 8))
    q_mat = x[::10]
    for offset in (0, 10**12, 2**62):
        ids = base + offset
        out = _knn_batch(
            ids, x, np.linalg.norm(x, axis=1), ids[::10], q_mat,
            np.linalg.norm(q_mat, axis=1), 3, rounded=True,
        )
        assert len(out["query_id"]) >= 3 * len(q_mat)
        assert not (out["query_id"] == out["neighbor_id"]).any()
        assert set(out["neighbor_id"] - offset) <= set(base)


def test_prune_keeps_a_nan_row_first():
    """A NaN sim counts as +inf: Spark's descending order ranks it first."""
    ids = np.array([1, 2, 3], dtype=np.int64)
    q_ids = np.array([9], dtype=np.int64)
    sims = [[0.9], [np.nan], [0.8]]
    for rounded in (True, False):
        assert _kept(sims, ids, q_ids, k=1, rounded=rounded) == [(1, 0)]


def _packed_key_prune(sims, ids, q_ids, k):
    """Reference: the rounded-order prune as first written, ranking by a
    packed int64 key ``-units * 1e12 + id`` (ids must stay below 1e12)."""
    mult = 1_000_000_000_000
    units = (np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5)).astype(np.int64)
    key = -units * mult + ids[:, None]
    key[ids[:, None] == q_ids[None, :]] = np.iinfo(np.int64).max
    kk = min(k, len(ids))
    s_kth = -(np.partition(key, kk - 1, axis=0)[kk - 1] // mult)
    return (units >= s_kth - _UNIT_MARGIN) & (key != np.iinfo(np.int64).max)


def _negated_prune(sims, ids, q_ids, k):
    """Reference: the raw-order prune as first written, on negated sims."""
    self_mask = ids[:, None] == q_ids[None, :]
    neg = np.where(self_mask, np.inf, -sims)
    kk = min(k, len(ids))
    kth = np.partition(neg, kk - 1, axis=0)[kk - 1]
    return (neg <= kth) & ~self_mask


def test_prune_matches_the_first_written_prunes_on_finite_sims():
    """Random batches with boundary ties, duplicate rows and self rows:
    the one prune keeps exactly the rows the two earlier prunes kept."""
    rng = np.random.default_rng(17)
    for _ in range(1000):
        n, nq, k = rng.integers(1, 30), rng.integers(1, 6), int(rng.integers(1, 8))
        ids = rng.choice(100, size=n, replace=False).astype(np.int64)
        q_ids = np.where(rng.random(nq) < 0.5, rng.choice(ids, nq), 100 + np.arange(nq))
        sims = np.round(rng.uniform(-1, 1, (n, nq)), int(rng.integers(1, 8)))
        sims += rng.choice([0.0, 5e-7, -5e-7, 1e-6], size=sims.shape)
        sims[rng.random(n) < 0.2] = sims[0]  # duplicate rows
        rounded = _knn_prune(_sim_units(sims), ids, q_ids, k, _UNIT_MARGIN)
        assert np.array_equal(rounded, _packed_key_prune(sims, ids, q_ids, k))
        raw = _knn_prune(sims, ids, q_ids, k, 0)
        assert np.array_equal(raw, _negated_prune(sims, ids, q_ids, k))


def _nan_fixture(tmp_path) -> tuple[str, int]:
    """sf0.001 ``embeddings`` with one NaN component in one non-query
    vector; returns (fixture dir, that vector's id)."""
    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    ids = t.column("vec_id").to_pylist()
    row = next(i for i, v in enumerate(ids) if v % QUERY_MOD == 3)
    emb = t.column("embedding").to_pylist()
    emb[row][5] = float("nan")
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        "embedding",
        pa.array(emb, type=t.schema.field("embedding").type),
    )
    assert pc.any(pc.is_nan(pc.list_flatten(t.column("embedding")))).as_py()
    d = tmp_path / "nan-fixture"
    d.mkdir()
    pq.write_table(t, str(d / "embeddings.parquet"))
    return str(d), ids[row]


def _rowset(df):
    return sorted(
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in df.collect()
    )


def test_nan_sims_rank_first_in_every_exact_knn_kernel(spark, tmp_path):
    """A vector with a NaN component has a NaN sim to every query.  The
    exact twin must still equal the interpreted brute force (which ranks
    NaN first), and both rounded-order kernels must rank it first for
    every query."""
    d, nan_id = _nan_fixture(tmp_path)
    ref = _rowset(q_knn_bruteforce(spark, d))
    assert ref and all(r[1] == nan_id for r in ref if r[2] == 1)
    assert _rowset(_knn_exact_pairs_vectorized(spark, d)) == ref
    for knn in (q_knn_bruteforce_numpy, q_knn_bruteforce_cogrouped):
        rows = knn(spark, d).collect()
        first = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
        assert first and set(first.values()) == {nan_id}, knn.__name__
        assert len(first) == len({r.query_id for r in rows})


def test_nan_pairs_pass_the_cosine_threshold_as_nan(spark, tmp_path):
    """Spark and DuckDB both compare NaN above every number, so the
    oracle's ``>= 0.35`` keeps every pair with the NaN vector.  The
    block-pair kernel must keep the same pairs and report their cosine
    as NaN, not NULL."""
    d, nan_id = _nan_fixture(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'"
    )
    want = {(a, b) for a, b, _ in con.execute(_EMB_DEDUP_ORACLE).fetchall()}
    rows = q_dedup_embedding_cosine(spark, d).collect()
    assert {(r.vec_a, r.vec_b) for r in rows} == want
    nan_rows = [r for r in rows if nan_id in (r.vec_a, r.vec_b)]
    assert nan_rows
    assert all(r.cosine is not None and math.isnan(r.cosine) for r in nan_rows)
