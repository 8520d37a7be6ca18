"""Graph-analytics operators: PageRank mass conservation + hub ranking,
triangle census vs an independent brute-force ground truth, and the
round-6 relational/text additions (SCD2 tiling, ER linkage, BPE table).
Value-vs-DuckDB equivalence for each is covered by the oracle sweep;
these tests pin semantic invariants the hash compare can't express.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
    PR_SCALE,
    TRI_TAU,
    q_graph_pagerank,
    q_graph_triangles,
)


def test_pagerank_mass_and_hub_ordering(spark, sf_dir):
    rows = q_graph_pagerank(spark, sf_dir).collect()
    total = sum(r.rank_units for r in rows) / PR_SCALE
    # damped iteration preserves total mass up to integer-truncation dust
    assert 0.98 <= total <= 1.0 + 1e-9
    supp = [r.pagerank for r in rows if r.is_supplier]
    cust = [r.pagerank for r in rows if not r.is_supplier]
    assert supp and cust
    # suppliers are the hub side of the bipartite graph (15x fewer nodes
    # absorb the same mass): the average supplier far outranks the
    # average customer
    assert sum(supp) / len(supp) > 2 * (sum(cust) / len(cust))


def test_triangle_census_matches_bruteforce(spark, sf_dir):
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = np.asarray(emb["vec_id"], dtype=np.int64)
    X = np.stack([np.asarray(e, dtype=np.float64) for e in emb["embedding"]])
    # sequential-fold cosine, same float semantics as the kernel/oracle
    S = np.zeros((len(ids), len(ids)))
    for i in range(X.shape[1]):
        S += X[:, i : i + 1] * X[None, :, i]
    n = np.sqrt(np.diag(S)).copy()
    S /= np.outer(n, n)
    A = (S >= TRI_TAU)
    np.fill_diagonal(A, False)
    tri_per_node = np.diag(A.astype(np.int64) @ A @ A) // 2
    deg = A.sum(axis=1)

    out = {r.vec_id: r for r in q_graph_triangles(spark, sf_dir).collect()}
    expected = {
        int(ids[i]): (int(deg[i]), int(tri_per_node[i]))
        for i in range(len(ids))
        if deg[i] > 0
    }
    got = {k: (r.degree, r.n_triangles) for k, r in out.items()}
    assert got == expected


def test_scd2_versions_tile_each_customer(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_scd2_priority_history,
    )

    rows = q_scd2_priority_history(spark, sf_dir).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.custkey, []).append(r)
    for cust, vs in by_cust.items():
        vs.sort(key=lambda r: r.valid_from)
        currents = [r for r in vs if r.is_current]
        assert len(currents) == 1 and currents[0] is vs[-1]
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from  # intervals tile, no gaps
            assert a.priority != b.priority or a.valid_from != b.valid_from
        assert vs[-1].valid_to is None


def test_er_linkage_recovers_every_record(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        q_er_fuzzy_blocked,
    )

    rows = q_er_fuzzy_blocked(spark, sf_dir).collect()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert len(rows) == n_cust  # every dirty record found a match
    assert all(r.dist <= 2 for r in rows)
    # the acctbal component of the block makes false candidates
    # vanishingly rare: linkage should be essentially perfect
    assert sum(r.is_true_match for r in rows) == n_cust


def test_bpe_merge_table_shape(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
        BPE_TOP,
        q_text_bpe_merge,
    )

    rows = q_text_bpe_merge(spark, sf_dir).collect()
    assert [r.merge_rank for r in rows] == list(range(1, BPE_TOP + 1))
    assert all(len(r.pair) == 2 for r in rows)
    counts = [r.n for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_entropy_mi_invariants(spark, sf_dir):
    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        q_profile_entropy_mi,
    )

    row = q_profile_entropy_mi(spark, sf_dir).collect()[0]
    assert row.h_segment > 0 and row.h_nation > 0
    # MI >= 0 up to the 6-decimal term quantization; joint <= sum of marginals
    assert row.mutual_info >= -1e-4
    assert row.h_joint <= row.h_segment + row.h_nation + 1e-4


def pagerank_replay(sf_dir: str, k: int) -> dict[int, int]:
    """Independent python replay of ``k`` integer micro-unit PageRank
    iterations over the co-purchase arcs: node -> rank units."""
    orders = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
    ).to_pydict()
    li = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"]
    ).to_pydict()
    cust_of = dict(zip(orders["o_orderkey"], orders["o_custkey"]))
    half = {
        (cust_of[ok] * 2, sk * 2 + 1)
        for ok, sk in zip(li["l_orderkey"], li["l_suppkey"])
        if ok in cust_of
    }
    arcs = list(half) + [(d, s) for s, d in half]
    outdeg: dict[int, int] = {}
    for s, _d in arcs:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(outdeg)
    ru = {v: PR_SCALE // n for v in outdeg}
    for _ in range(k):
        su: dict[int, int] = {}
        for s, d in arcs:
            su[d] = su.get(d, 0) + ru[s] // outdeg[s]
        ru = {
            v: (15 * PR_SCALE) // (100 * n) + (17 * su[v]) // 20
            for v in outdeg
        }
    return ru


def test_pagerank_bit_exact_python_replication(spark, sf_dir):
    """The fixed-point contract, end to end: an independent python
    implementation of the integer micro-unit iteration over the same
    edge list must reproduce every node's rank_units EXACTLY — not
    approximately — because no float enters the computation."""
    got = {r.node: r.rank_units for r in q_graph_pagerank(spark, sf_dir).collect()}
    assert got == pagerank_replay(sf_dir, 2)
