"""One lineage contract for every iterative loop that routes through
``functions/lineage``.

Each case runs its loop deeper than ``CHECKPOINT_EVERY`` rounds (HITS:
the registered query, which truncates every half-round) and collects
every frame the loop returned.  Then:

* a bystander persisted before the run still holds its blocks (a
  reclamation that swept the persistent-RDD registry would free it);
* at most two of the loop's generations remain in
  ``getPersistentRDDs()``, plus what a case names (an edge cache its
  returned lazy plan still reads);
* every returned frame collected and equals its reference — a freed
  local checkpoint cannot be recomputed, so a loop that freed a
  generation its result still reads fails here;
* each returned frame's analyzed plan holds a bounded number of joins.
"""

from __future__ import annotations

import re
from collections import Counter
from functools import partial
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F

from apache_beam_java_firestore_batch_dataflow_spark.functions.lineage import (
    CHECKPOINT_EVERY,
)

from .test_graph import pagerank_replay
from .test_llm_ops import _blob_vectors
from .test_round8_ops import _py_bpe_train, parquet_vocab
from .test_round9_ops import hits_replay


class Case(NamedTuple):
    run: Callable  # () -> tuple of returned frames
    check: Callable  # (collected rows per frame) -> None; asserts
    max_joins: int  # per returned frame, analyzed plan
    extra: int = 0  # non-generation RDDs the returned plan still reads


def _after_cut(rounds: int) -> int:
    """Rounds a loop of ``rounds`` runs after its last truncation (a loop
    truncates every CHECKPOINT_EVERY rounds, never after the final one)."""
    return rounds - CHECKPOINT_EVERY * ((rounds - 1) // CHECKPOINT_EVERY)


def _n_df_caches(spark) -> int:
    # cached DataFrames report their plan string as the RDD name;
    # localCheckpoint RDDs report 'MapPartitionsRDD' — only the former
    # are CacheManager entries
    return sum(
        1
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.name() != "MapPartitionsRDD"
    )


def _joins(df) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"^[\s:+\-|]*Join ", plan, re.M))


def _pagerank(spark, sf_dir) -> Case:
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        _pr_edges,
        pagerank,
    )

    # three truncations (rounds 4, 8, 12), so one superseded checkpoint
    # is freed; formerly k=8 with checkpoint_every=4
    k = 3 * CHECKPOINT_EVERY + 1
    want = pagerank_replay(sf_dir, k)
    edges = _pr_edges(spark, sf_dir)  # the shared memo is not a generation

    def check(rows):
        assert {r.node: r.ru for r in rows[0]} == want

    # 3 joins per round plus the initial rank join: one uncut segment
    return Case(lambda: (pagerank(edges, k=k),), check,
                max_joins=3 * CHECKPOINT_EVERY + 1)


def _kcore(spark, sf_dir, rounds) -> Case:
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import kcore_peel

    # triangle 1-2-3 is the 2-core; the chain 3-4-5 peels off by round 2
    half = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    arcs = spark.createDataFrame(half + [(b, a) for a, b in half], ["src", "dst"])

    def check(rows):
        assert {r.node: r.residual_degree for r in rows[0]} == {1: 2, 2: 2, 3: 2}

    # each round reads its arcs three times and adds two joins, so the
    # analyzed plan (caches are not substituted there) holds 3^r - 1
    # joins for the r rounds since the last cut
    return Case(lambda: (kcore_peel(arcs, k=2, rounds=rounds),),
                check, max_joins=3 ** _after_cut(rounds) - 1)


def _hits(spark, sf_dir) -> Case:
    from apache_beam_java_firestore_batch_dataflow_spark.operators.graph import (
        copurchase_adj,
        q_graph_hits,
    )

    want = hits_replay(sf_dir)
    copurchase_adj(spark, sf_dir)  # the shared memo is not a generation

    def check(rows):
        assert {(r.node, r.is_supplier): r.score_units for r in rows[0]} == want

    # two normalizer broadcast joins over the last two checkpoints
    return Case(lambda: (q_graph_hits(spark, sf_dir),), check, max_joins=2)


def _chain(spark, n):
    vertices = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src long, dst long"
    )
    return vertices, edges


def _connected_components(spark, sf_dir) -> Case:
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        connected_components,
    )

    # a 10-vertex chain runs ~9 rounds, each truncated
    vertices, edges = _chain(spark, 10)

    def check(rows):
        assert {r.doc_id: r.cluster_id for r in rows[0]} == {i: 1 for i in range(1, 11)}

    return Case(lambda: (connected_components(vertices, edges),), check, max_joins=0)


def _propagate_min_label(spark, sf_dir, iterations) -> Case:
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        propagate_min_label,
    )

    spark.catalog.clearCache()
    vertices = spark.range(8).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (5, 6)], ["src", "dst"])
    # reference: the registered depth k=3 (every component's diameter
    # is <= 3), whose lazy plan keeps <= 2 label generations + the edge
    # frame cached
    lazy = {r.doc_id: r.cluster_id for r in propagate_min_label(vertices, edges).collect()}
    assert _n_df_caches(spark) <= 3
    spark.catalog.clearCache()

    after = _after_cut(iterations)

    def check(rows):
        assert {r.doc_id: r.cluster_id for r in rows[0]} == lazy
        # every label persist before the last cut was released there;
        # the edge frame and, past one round after the cut, the newest
        # held generation remain DataFrame caches (formerly iterations=3
        # with checkpoint_every=1)
        assert _n_df_caches(spark) <= 1 + (after > 1)

    # each round reads its labels twice and adds two joins: 2^(r+1) - 2
    # joins for the r rounds since the last cut.  With r > 1 the held
    # generations after the cut read the newest checkpoint, which must
    # outlive the loop.
    return Case(
        lambda: (propagate_min_label(vertices, edges, iterations=iterations),),
        check, max_joins=2 ** (after + 1) - 2, extra=1,
    )


def _propagate_min_label_chain(spark, sf_dir) -> Case:
    from apache_beam_java_firestore_batch_dataflow_spark.operators.dedup import (
        propagate_min_label,
    )

    spark.catalog.clearCache()
    vertices = spark.range(8).select(F.col("id").alias("doc_id"))
    chain = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"]
    )

    def check(rows):
        got = {r.doc_id: r.cluster_id for r in rows[0]}
        assert got[5] == 0  # 5 hops propagated: label 0 crosses at k >= 5
        assert got[7] == 7  # isolated vertex keeps its own label
        # at most the post-cut generations + the edge frame remain
        assert _n_df_caches(spark) <= 3

    # 5 rounds: one cut at round 4, then one round (2 joins)
    return Case(lambda: (propagate_min_label(vertices, chain, iterations=5),),
                check, max_joins=2, extra=1)


def _bpe_train(spark, sf_dir) -> Case:
    from apache_beam_java_firestore_batch_dataflow_spark.operators.text import bpe_train

    vocab: Counter = parquet_vocab(sf_dir)
    # two truncations (rounds 4, 8); formerly k=6 with checkpoint_every=2
    k = 2 * CHECKPOINT_EVERY + 1
    want = _py_bpe_train(vocab, k=k)
    sdf = spark.createDataFrame(list(vocab.items()), ["tok", "cnt"])

    def check(rows):
        assert sorted((r.round, r.pair, r.n) for r in rows[0]) == want

    # the merge table is a VALUES relation
    return Case(lambda: (bpe_train(sdf, k=k),), check, max_joins=0)


def _kmeans(spark, sf_dir) -> Case:
    from apache_beam_java_firestore_batch_dataflow_spark.operators.similarity import kmeans

    vecs = _blob_vectors(spark)
    out: dict = {}

    def run():
        # a negative tol never converges, so all iterations run: cuts at
        # 4 and 8 (formerly max_iter=6, tol=0.0 with checkpoint_every=2,
        # which converged after 3)
        assign, cent, out["n_iter"] = kmeans(
            vecs, k=2, max_iter=2 * CHECKPOINT_EVERY + 2, tol=-1.0
        )
        out["plan"] = cent._jdf.queryExecution().analyzed().toString()
        return assign, cent

    def check(rows):
        got = {r.vec_id: r.cluster_id for r in rows[0]}
        blob_a = {got[i] for i in range(10)}
        blob_b = {got[10 + i] for i in range(10)}
        assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
        assert out["n_iter"] == 2 * CHECKPOINT_EVERY + 2
        assert len(rows[1]) == 2 and all(len(r.cv) == 4 for r in rows[1])
        # a truncated lineage shows LogicalRDD scans, not the iteration
        # stack: uncut, the posexplode-aggregate block would repeat once
        # per iteration
        assert out["plan"].count("Generate explode") <= 3, out["plan"]

    # one broadcast cross join per iteration since the last cut
    return Case(run, check, max_joins=CHECKPOINT_EVERY)


# Deep runs, c = CHECKPOINT_EVERY: 2c+1 rounds leave one round after the
# last cut; 2c-1 and 2c leave three and four, so the loop returns while
# its held lazy generations still read the newest checkpoint.
CASES = {
    "pagerank": _pagerank,
    "kcore_peel": partial(_kcore, rounds=2 * CHECKPOINT_EVERY + 1),
    "kcore_peel_2c-1": partial(_kcore, rounds=2 * CHECKPOINT_EVERY - 1),
    "q_graph_hits": _hits,
    "connected_components": _connected_components,
    "propagate_min_label": partial(
        _propagate_min_label, iterations=2 * CHECKPOINT_EVERY + 1
    ),
    "propagate_min_label_2c-1": partial(
        _propagate_min_label, iterations=2 * CHECKPOINT_EVERY - 1
    ),
    "propagate_min_label_2c": partial(
        _propagate_min_label, iterations=2 * CHECKPOINT_EVERY
    ),
    "propagate_min_label_chain": _propagate_min_label_chain,
    "bpe_train": _bpe_train,
    "kmeans": _kmeans,
}


@pytest.mark.parametrize("loop", sorted(CASES))
def test_loop_lineage_contract(spark, sf_dir, loop):
    case = CASES[loop](spark, sf_dir)
    registry = spark.sparkContext._jsc.getPersistentRDDs

    # Track the bystander by its own registry ids: the ContextCleaner
    # asynchronously unpersists earlier tests' GC'd frames in the shared
    # session, so the registry as a whole may shrink during the run.
    pre = set(registry().keys())
    bystander = spark.range(100).persist()
    bystander.count()
    before = set(registry().keys())
    bystander_ids = before - pre
    assert bystander_ids, "bystander frame failed to persist"

    try:
        frames = case.run()
        rows = [f.collect() for f in frames]
        after = set(registry().keys())
        assert bystander_ids <= after, (
            f"reclamation freed the bystander's blocks: {sorted(bystander_ids - after)}"
        )
        held = len(after - before)
        assert held <= 2 + case.extra, f"{held} persistent RDDs left behind"
        joins = [_joins(f) for f in frames]
        assert max(joins) <= case.max_joins, joins
    finally:
        bystander.unpersist()
    case.check(rows)
    spark.catalog.clearCache()
