"""Distributed graph analytics over derived relationship graphs.

Two graphs arise naturally in this corpus and stand in for the link /
similarity graphs a 100 TB training-data pipeline carries:

* the **transaction graph** — the bipartite customer↔supplier relation
  induced by orders⋈lineitem (who trades with whom); `q_graph_pagerank`
  ranks its nodes with two damped power-iteration steps, the importance
  propagation behind reputation-weighted sampling of sources;
* the **semantic graph** — embedding pairs with cosine ≥ τ (the
  `cosine_threshold_pairs` block-pair kernel shared with the dedup
  family); `q_graph_triangles` runs a degree-ordered triangle census
  over it, the community-density signal (local clustering) that tells
  near-dup clusters apart from chains.

All pure DataFrame plans.  PageRank goes one step past the repo's
exact-decimal discipline to pure INTEGER fixed-point (see PR_SCALE), so
its result is bit-identical at any partitioning — the property a
double-summed PageRank loses on a 1000-executor shuffle.  The triangle
join orients every edge from its lower-(degree, id) endpoint to the
higher one, bounding per-node wedge fan-out by O(sqrt(m)) (arboricity
bound) instead of the raw degree — the difference between a feasible
and an exploding wedge stage when a hub node shows up at scale.
`q_graph_components_semantic` closes the toolbox (centrality, density,
connectivity) by reusing the generic min-label propagation from
`operators/dedup.py` over the semantic edge set.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.lineage import Generations
from ..functions.numeric import round_ratio, round_ratio_sql
from ..functions.setjoin import block_pairs, rounded_jaccard, verify_sets
from ..sources.tables import load_table, shared_kernel
from .dedup import connected_components, undirected
from .similarity import SEM_GRAPH_TAU, semantic_edges

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)


# ---------------------------------------------------------------------------
# PageRank over the customer↔supplier transaction graph
# ---------------------------------------------------------------------------

# Fixed-point PageRank: ranks live in integer micro-units of 1e-12
# (rank_u = rank · PR_SCALE as BIGINT) and the damping factor 0.85 is
# the exact rational 17/20, so every step — contribution split, damped
# update — is integer arithmetic.  No double round() exists anywhere in
# the iteration, which makes the result bit-identical across engines,
# partitionings, and reduction orders (a 12-decimal double round was
# measured 1 ulp apart between Spark's BigDecimal shortest-repr
# rounding and DuckDB's multiply-based round on this very graph).
# Integer division truncates ~1e-12 of mass per term; the deficit is
# deterministic and far below any ranking-relevant difference.
PR_SCALE = 10**12

# Node encoding keeps one BIGINT key space: customers at 2·custkey,
# suppliers at 2·suppkey+1.  The undirected bipartite graph is stored as
# both directed arcs, so out-degree == degree and no dangling-mass term
# exists (every node that appears has at least one outgoing arc).
_PR_EDGES_SQL = """
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""

_PAGERANK_ORACLE = f"""
    WITH half AS ({_PR_EDGES_SQL}),
    e AS (SELECT src, dst FROM half
          UNION ALL SELECT dst AS src, src AS dst FROM half),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY src),
    n AS (SELECT count(*) AS n_nodes FROM deg),
    r0 AS (SELECT node, outdeg, {PR_SCALE} // n_nodes AS ru FROM deg, n),
    c1 AS (SELECT e.dst AS node, sum(r0.ru // r0.outdeg) AS su
           FROM e JOIN r0 ON e.src = r0.node GROUP BY e.dst),
    r1 AS (SELECT d.node, d.outdeg,
                  (15 * {PR_SCALE}) // (100 * n.n_nodes)
                  + (17 * c1.su) // 20 AS ru
           FROM deg d JOIN c1 ON d.node = c1.node, n),
    c2 AS (SELECT e.dst AS node, sum(r1.ru // r1.outdeg) AS su
           FROM e JOIN r1 ON e.src = r1.node GROUP BY e.dst),
    r2 AS (SELECT d.node,
                  (15 * {PR_SCALE}) // (100 * n.n_nodes)
                  + (17 * c2.su) // 20 AS ru
           FROM deg d JOIN c2 ON d.node = c2.node, n)
    SELECT node,
           (node % 2 = 1) AS is_supplier,
           CAST(ru AS BIGINT) AS rank_units,
           CAST(CAST(ru AS DOUBLE) / {PR_SCALE} AS DOUBLE) AS pagerank
    FROM r2
"""


@shared_kernel("copurchase_adj", ("orders", "lineitem"))
def copurchase_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, eagerly-checkpointed distinct ``(c, s)`` co-purchase
    adjacency (customer c bought from supplier s in ≥1 order).

    pagerank / kcore / LPA (via _pr_edges), HITS, Jaccard, Adamic-Adar
    and assortativity all read this one frame: the first graph analytic
    in a session pays the fact join + distinct once, and every caller
    derives its own arc shape (doubled-id undirected, directed
    bipartite, plain bipartite) as a narrow projection over it."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Left at AQE's coalesced width (~5 byte-sized partitions): an A/B
    # re-widening it with repartition(32, c) before the checkpoint left
    # jaccard flat (2.67 -> 2.84 s isolated) and REGRESSED pagerank ~2x
    # (more tasks per iterative round on a tiny frame).  At scale AQE
    # sizes it to the data.
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _pr_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    adj = copurchase_adj(spark, sf_dir)
    half = adj.select(
        (F.col("c") * 2).alias("src"),
        (F.col("s") * 2 + 1).alias("dst"),
    )
    # arcs feed degree + one join per iteration (3+ plan branches), but
    # every branch is a narrow projection + union over the memoized
    # checkpoint blocks — no join or shuffle left to re-run per branch
    return undirected(half)


def pagerank(e: DataFrame, k: int) -> DataFrame:
    """k damped PageRank iterations over an arc table ``(src, dst)``
    (both arcs of each undirected edge present), integer fixed-point —
    the general loop form behind ``q_graph_pagerank``'s registered k=2.

    Each iteration reads the previous rank frame in one join, so the
    rank frame is truncated on the lineage cadence
    (``functions/lineage``): plan depth stays bounded, a 100-iteration
    run neither re-plans nor re-computes from the source scan, and the
    materialized state is O(nodes), not O(arcs).

    Determinism: identical micro-unit integer arithmetic as the k=2
    query — bit-identical ranks under any partitioning, join order, or
    checkpoint placement (the checkpoint only cuts lineage; values are
    exact integers).
    """
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ranks = deg.join(F.broadcast(n)).select(
        "node", "outdeg", F.expr(f"{PR_SCALE} div n_nodes").alias("ru")
    )
    gens = Generations()
    for i in range(k):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("cnode"),
                F.expr("ru div outdeg").alias("term"),
            )
            .groupBy("cnode")
            .agg(F.sum("term").alias("su"))
        )
        ranks = (
            deg.join(contrib, deg.node == contrib.cnode)
            .join(F.broadcast(n))
            .select(
                "node",
                "outdeg",
                F.expr(
                    f"(15 * {PR_SCALE}) div (100 * n_nodes) + (17 * su) div 20"
                ).alias("ru"),
            )
        )
        ranks = gens.on_cadence(ranks, i, k)
    return ranks


@register("q_graph_pagerank", oracle=_PAGERANK_ORACLE)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two damped PageRank iterations over the customer↔supplier graph
    (uniform init, d=17/20) — distributed centrality without a graph
    framework: each iteration is one equi-join (arcs ⋈ ranks on src)
    plus one combiner aggregation keyed on dst.

    Determinism: all arithmetic is integer fixed-point (micro-units of
    1e-12, damping as the exact rational 17/20 — see PR_SCALE comment),
    so the result is bit-identical under any partitioning, join order,
    or reduction order; no float enters until the final display column.
    The node count enters as a one-row broadcast, never a collected
    scalar.

    Scale shape: per iteration the arc table shuffles once on src (join)
    and once on dst (aggregate) — both keyed, both map-side combined;
    the rank table is O(nodes) and AQE will broadcast it when nodes ≪
    arcs.  k iterations = k·2 shuffles; `pagerank()` truncates the
    rank table's lineage for large k.  No dangling
    handling is needed: the graph is stored as both arcs of each
    undirected edge, so out-degree ≥ 1 for every node present.
    """
    ranks = pagerank(_pr_edges(spark, sf_dir), k=2)
    return ranks.select(
        "node",
        (F.col("node") % 2 == 1).alias("is_supplier"),
        F.col("ru").cast("bigint").alias("rank_units"),
        (F.col("ru").cast("double") / PR_SCALE).cast("double").alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# Degree-ordered triangle census over the semantic similarity graph
# ---------------------------------------------------------------------------

# Edge threshold: cosine ≥ τ (lower than the dedup τ=0.35 so the graph
# has real community structure to count).  Canonical definition lives in
# similarity.py next to the semantic_edges memo it keys; re-exported
# here under its historical name.
TRI_TAU = SEM_GRAPH_TAU

# The oracle counts triangles with the simple canonical-order join (same
# result as the degree-ordered plan by symmetry), then credits each of
# the 3 corners.  Edge membership uses the RAW double sim >= τ — the
# identical sequential-fold dot product both engines compute.
_TRI_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding,
                  sqrt(list_reduce(list_prepend(0.0,
                      list_transform(range(1, len(embedding) + 1),
                          i -> CAST(embedding[i] AS DOUBLE)
                               * CAST(embedding[i] AS DOUBLE))),
                      (acc, x) -> acc + x)) AS vnorm
               FROM embeddings),
    e AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_reduce(list_prepend(0.0,
                list_transform(range(1, len(a.embedding) + 1),
                    i -> CAST(a.embedding[i] AS DOUBLE)
                         * CAST(b.embedding[i] AS DOUBLE))),
                (acc, x) -> acc + x) / (a.vnorm * b.vnorm) >= {TRI_TAU}
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT va AS node FROM e UNION ALL SELECT vb AS node FROM e)
      GROUP BY node
    ),
    tri AS (
      SELECT e1.va AS a, e1.vb AS b, e2.vb AS c
      FROM e e1 JOIN e e2 ON e1.vb = e2.va
                JOIN e e3 ON e1.va = e3.va AND e2.vb = e3.vb
    ),
    corner AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tcount AS (SELECT node, count(*) AS n_triangles FROM corner GROUP BY node)
    SELECT d.node AS vec_id,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN d.degree >= 2 THEN
                  {round_ratio_sql('2 * coalesce(t.n_triangles, 0)',
                                   'd.degree * (d.degree - 1)', 6)}
                ELSE 0.0 END AS DOUBLE) AS clustering
    FROM deg d LEFT JOIN tcount t ON d.node = t.node
"""


@register("q_graph_triangles", oracle=_TRI_ORACLE)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle census + local clustering coefficient over the
    cosine ≥ {TRI_TAU} semantic graph — dense triangle neighborhoods are
    coherent near-dup communities; high-degree low-clustering nodes are
    hubs bridging unrelated content (boilerplate, templates).

    Plan: edges from the exact block-pair kernel (shared with
    `q_dedup_embedding_cosine`); each edge is then **oriented from its
    lower-(degree, id) endpoint to the higher** before the wedge join,
    so a node's wedge fan-out is its ORIENTED out-degree — bounded by
    O(sqrt(m)) regardless of raw degree (the node-iterator++ bound).
    Without the orientation a single hub of degree h contributes h²
    wedges; with it, hubs sit on the receiving side of their edges and
    contribute none.  Wedges close against the canonical (min, max)
    edge set via one equi-join; each triangle then credits its three
    corners through an explode + combiner count.  Three joins + two
    aggregations total, all keyed — nothing quadratic in nodes, no
    broadcast of anything unbounded.
    """
    # memoized checkpoint (semantic_edges): edges feed 4 plan branches
    # (degree, orientation, closing join) — without materialization the
    # O(n²/blocks) kernel re-runs per branch — AND the same frame serves
    # components/BFS/every other analytic at this tau in the session.
    e = semantic_edges(spark, sf_dir, tau=TRI_TAU)
    deg = (
        e.select(F.col("vec_a").alias("node"))
        .unionAll(e.select(F.col("vec_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient each edge toward the higher (degree, id) endpoint
    da = deg.select(F.col("node").alias("vec_a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("vec_b"), F.col("degree").alias("degb"))
    ed = e.join(da, "vec_a").join(db, "vec_b")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("vec_a") < F.col("vec_b"))
    )
    o = ed.select(
        F.when(a_first, F.col("vec_a")).otherwise(F.col("vec_b")).alias("lo"),
        F.when(a_first, F.col("vec_b")).otherwise(F.col("vec_a")).alias("hi"),
    )
    # wedges: two oriented edges out of the same low node
    o2 = o.select(F.col("lo").alias("lo2"), F.col("hi").alias("hi2"))
    wedges = o.join(o2, (F.col("lo") == F.col("lo2")) & (F.col("hi") < F.col("hi2")))
    # close against the canonical edge set (vec_a < vec_b always holds)
    closing = e.select(
        F.col("vec_a").alias("hi"), F.col("vec_b").alias("hi2")
    )
    tri = wedges.join(closing, ["hi", "hi2"]).select(
        F.col("lo").alias("a"), F.col("hi").alias("b"), F.col("hi2").alias("c")
    )
    corners = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            F.col("node").alias("vec_id"),
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                round_ratio(
                    "2 * coalesce(n_triangles, 0)",
                    "degree * (degree - 1)",
                    6,
                ),
            )
            .otherwise(0.0)
            .cast("double")
            .alias("clustering"),
        )
    )


# ---------------------------------------------------------------------------
# Connected components of the semantic graph (+ component size profile)
# ---------------------------------------------------------------------------

_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE v AS (SELECT vec_id, embedding,
                  sqrt(list_reduce(list_prepend(0.0,
                      list_transform(range(1, len(embedding) + 1),
                          i -> CAST(embedding[i] AS DOUBLE)
                               * CAST(embedding[i] AS DOUBLE))),
                      (acc, x) -> acc + x)) AS vnorm
               FROM embeddings),
    e AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_reduce(list_prepend(0.0,
                list_transform(range(1, len(a.embedding) + 1),
                    i -> CAST(a.embedding[i] AS DOUBLE)
                         * CAST(b.embedding[i] AS DOUBLE))),
                (acc, x) -> acc + x) / (a.vnorm * b.vnorm) >= {TRI_TAU}
    ),
    arcs AS (SELECT va AS src, vb AS dst FROM e
             UNION ALL SELECT vb, va FROM e),
    reach(node, r) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT reach.node, a.dst FROM reach JOIN arcs a ON a.src = reach.r
    ),
    comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
    sizes AS (SELECT component_id, count(*) AS component_size
              FROM comp GROUP BY component_id)
    SELECT c.node AS vec_id, c.component_id,
           CAST(s.component_size AS BIGINT) AS component_size
    FROM comp c JOIN sizes s USING (component_id)
"""


@register("q_graph_components_semantic", oracle=_COMPONENTS_ORACLE)
def q_graph_components_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the cosine ≥ {TRI_TAU} semantic graph,
    each node labeled with its component and the component's size — the
    cluster inventory that turns pairwise similarity into actionable
    groups (dedup clusters, topic islands, isolated singletons), and
    the third leg of the graph toolbox beside centrality (PageRank) and
    density (triangles).

    Reuses the generic min-label propagation from `operators/dedup.py`
    (`connected_components`): per iteration one keyed join + one
    combiner agg, `localCheckpoint` lineage truncation, a scalar-only
    convergence check — iterations = component diameter.  Edges come
    from the shared block-pair kernel, checkpointed once.  The size
    profile is one extra combiner agg on O(nodes) label rows."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    e = semantic_edges(spark, sf_dir, tau=TRI_TAU).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    labels = connected_components(vecs, e)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return labels.join(sizes, "cluster_id").select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("component_id"),
        F.col("component_size").cast("bigint").alias("component_size"),
    )


# ---------------------------------------------------------------------------
# k-core peeling (bounded rounds)
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 2


def kcore_peel(
    arcs: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """``rounds`` synchronized peels toward the k-core: each round drops
    every node whose CURRENT degree is below ``k`` (and all its arcs),
    returning the surviving ``(node, residual_degree)`` frame.  The
    full k-core is this loop run to fixpoint; the bounded unrolled form
    is the benchmarkable single-plan shape (the ``pagerank(k)`` /
    ``LABEL_PROP_K`` convention — each registered graph loop exposes
    its iteration count in the name).

    Expects BOTH arcs of each undirected edge, so out-degree == degree
    and one ``groupBy(src)`` per round is the whole degree pass.  Each
    round reads its arc frame three times (degree + both semi-join
    sides), so every generation is held (``functions/lineage``) and
    released from the old end after the loop; deeper runs truncate on
    the lineage cadence."""
    gens = Generations()
    for i in range(rounds):
        arcs = gens.hold(arcs)
        keep = (
            arcs.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        arcs = arcs.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        ).select("src", "dst")
        arcs = gens.on_cadence(arcs, i, rounds)
    gens.release()
    return arcs.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("residual_degree")
    ).select(F.col("src").alias("node"), "residual_degree")


_KCORE_ORACLE = f"""
    WITH half AS ({_PR_EDGES_SQL}),
    arcs0 AS (SELECT src, dst FROM half
              UNION ALL SELECT dst, src FROM half),
    k1 AS (SELECT src FROM arcs0 GROUP BY src
           HAVING count(*) >= {KCORE_K}),
    arcs1 AS (SELECT a.src, a.dst FROM arcs0 a
              JOIN k1 ks ON a.src = ks.src
              JOIN k1 kd ON a.dst = kd.src),
    k2 AS (SELECT src FROM arcs1 GROUP BY src
           HAVING count(*) >= {KCORE_K}),
    arcs2 AS (SELECT a.src, a.dst FROM arcs1 a
              JOIN k2 ks ON a.src = ks.src
              JOIN k2 kd ON a.dst = kd.src)
    SELECT src AS node,
           (src % 2 = 1) AS is_supplier,
           CAST(count(*) AS BIGINT) AS residual_degree
    FROM arcs2 GROUP BY src
"""


@register("q_graph_kcore2", oracle=_KCORE_ORACLE)
def q_graph_kcore2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two peeling rounds toward the {KCORE_K}-core of the
    customer–supplier graph: who remains after twice removing every
    weakly-connected participant — the community-density screen (spam
    rings and one-off buyers fall out; the stable trading core stays)
    that complements triangles (local density) and components (reach).

    Scale shape: each round is one combiner degree agg + two shuffled
    semi-joins over the arc table — all keyed, no windows, no
    collects; state never exceeds O(arcs).  See `kcore_peel` for the
    cache discipline."""
    peeled = kcore_peel(_pr_edges(spark, sf_dir), k=KCORE_K, rounds=KCORE_ROUNDS)
    return peeled.select(
        "node",
        (F.col("node") % 2 == 1).alias("is_supplier"),
        "residual_degree",
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (majority label, bounded rounds)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 2


def lpa_communities(arcs: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """``rounds`` synchronous majority-label LPA steps: every node
    adopts the label most frequent among its NEIGHBORS (ties -> the
    smallest label), starting from label == node id — community
    detection (dense neighborhoods converge onto one label), as opposed
    to `connected_components`' min-label flood fill which only finds
    reachability.  Bounded unrolled rounds are the registered shape
    (the `pagerank(k)` convention).

    Per round: one keyed join (arcs x labels on src) + one combiner
    count agg + an arg-min-struct combiner agg — the argmax over
    (count desc, label asc) is ``min(struct(-cnt, label))``, a pure
    aggregation, so NO window and no per-node sort anywhere.  Each
    label generation feeds exactly one consumer, so lineage stays
    linear in rounds without caching."""
    labels = arcs.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        nbr = (
            arcs.join(labels, arcs["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            nbr.groupBy("node")
            .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("label").alias("l"))).alias("top"))
            .select("node", F.col("top.l").alias("label"))
        )
    return labels


_LPA_ORACLE = f"""
    WITH half AS ({_PR_EDGES_SQL}),
    arcs AS (SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM arcs),
    n1 AS (
      SELECT a.dst AS node, l.label, count(*) AS cnt
      FROM arcs a JOIN l0 l ON a.src = l.node GROUP BY 1, 2
    ),
    l1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rk
        FROM n1
      ) WHERE rk = 1
    ),
    n2 AS (
      SELECT a.dst AS node, l.label, count(*) AS cnt
      FROM arcs a JOIN l1 l ON a.src = l.node GROUP BY 1, 2
    ),
    l2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rk
        FROM n2
      ) WHERE rk = 1
    )
    SELECT l2.node, CAST(l2.label AS BIGINT) AS community,
           CAST(s.n AS BIGINT) AS community_size
    FROM l2 JOIN (SELECT label, count(*) AS n FROM l2 GROUP BY label) s
      ON s.label = l2.label
"""


@register("q_graph_lpa_communities", oracle=_LPA_ORACLE)
def q_graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{LPA_ROUNDS} rounds of majority-label propagation over the
    customer–supplier graph, with each node's final community and its
    size — the community-detection counterpart of the reachability
    tools (components finds WHO connects; LPA finds who clusters
    DENSELY), completing the graph battery next to pagerank /
    triangles / k-core.

    See `lpa_communities` for the no-window plan shape; the size join
    re-consumes the final label frame, which persists for exactly that
    reason."""
    labels = lpa_communities(_pr_edges(spark, sf_dir), rounds=LPA_ROUNDS).persist()
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return labels.join(sizes, "label").select(
        "node",
        F.col("label").cast("bigint").alias("community"),
        F.col("n").cast("bigint").alias("community_size"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (L1-normalized integer fixed-point, k rounds)
# ---------------------------------------------------------------------------

HITS_SCALE = 10**9  # score units; raw sums stay <= SCALE so units*SCALE < 2^63
HITS_ROUNDS = 2

_HITS_ORACLE = f"""
    WITH e AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    custs AS (SELECT DISTINCT src AS node FROM e),
    nc AS (SELECT count(*) AS n FROM custs),
    h0 AS (SELECT node, {HITS_SCALE} // n AS hu FROM custs, nc),
    -- round 1
    a1r AS (SELECT e.dst AS node, sum(h0.hu) AS raw
            FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
    a1s AS (SELECT sum(raw) AS s FROM a1r),
    a1 AS (SELECT node, (raw * {HITS_SCALE}) // s AS au FROM a1r, a1s),
    h1r AS (SELECT e.src AS node, sum(a1.au) AS raw
            FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
    h1s AS (SELECT sum(raw) AS s FROM h1r),
    h1 AS (SELECT node, (raw * {HITS_SCALE}) // s AS hu FROM h1r, h1s),
    -- round 2
    a2r AS (SELECT e.dst AS node, sum(h1.hu) AS raw
            FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
    a2s AS (SELECT sum(raw) AS s FROM a2r),
    a2 AS (SELECT node, (raw * {HITS_SCALE}) // s AS au FROM a2r, a2s),
    h2r AS (SELECT e.src AS node, sum(a2.au) AS raw
            FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src),
    h2s AS (SELECT sum(raw) AS s FROM h2r),
    h2 AS (SELECT node, (raw * {HITS_SCALE}) // s AS hu FROM h2r, h2s)
    SELECT node, FALSE AS is_supplier, CAST(hu AS BIGINT) AS score_units
    FROM h2
    UNION ALL
    SELECT node, TRUE AS is_supplier, CAST(au AS BIGINT) AS score_units
    FROM a2
"""


@register("q_graph_hits", oracle=_HITS_ORACLE)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the directed customer→supplier
    purchase graph ({HITS_ROUNDS} mutual-reinforcement rounds): a
    customer is a good HUB when it buys from good suppliers; a supplier
    is a good AUTHORITY when good hubs buy from it — PageRank's
    bipartite sibling, completing the centrality pair (Kleinberg's
    algorithm, run exactly like `pagerank()` but with the two scores
    alternating).

    Determinism: L1 normalization replaces the classical L2 (no sqrt
    exists in integer arithmetic): after each half-round the raw sums
    are rescaled to ``(raw * SCALE) div Σraw`` — all operands positive
    exact ints, so Spark's ``div`` and DuckDB's ``//`` agree, and the
    fixed point is bit-identical under any partitioning or join order.
    Raw sums are bounded by SCALE (each side's scores L1-sum to ≤
    SCALE), so ``raw * SCALE`` stays < 2^63 by construction.

    Scale shape: per half-round ONE arc join + one combiner agg keyed
    on the receiving side (the `pagerank()` cost envelope) plus a
    one-row broadcast for the normalizer — never a collected scalar;
    score frames are O(nodes).  k rounds = 2k keyed shuffles."""
    # 2 plan branches per round, each a narrow projection over the
    # memoized co-purchase checkpoint blocks (copurchase_adj)
    e = copurchase_adj(spark, sf_dir).select(
        (F.col("c") * 2).alias("src"),
        (F.col("s") * 2 + 1).alias("dst"),
    )
    hubs = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    nc = hubs.agg(F.count(F.lit(1)).alias("n"))
    hub = hubs.join(F.broadcast(nc)).select(
        "node", F.expr(f"{HITS_SCALE} div n").alias("hu")
    )
    gens = Generations()

    def half_round(scores: DataFrame, col: str, join_on: str, out: str):
        """One HITS half-round: push `col` along arcs joined on
        `join_on` (src for hub→authority, dst for authority→hub),
        sum per receiver, L1-renormalize via a one-row broadcast.

        The raw push and the normalizer both read the O(nodes) ``raw``
        frame, so it is truncated every half-round
        (``functions/lineage``): un-truncated, the plan doubles its
        history per half-round (the 2-round plan carried 412 Exchange
        nodes).  Exact integers, so results are bit-identical; the
        normalizer is the oracle's own Σraw one-row aggregate.  The
        newest two generations back the returned hub and authority
        scores; older ones are freed."""
        recv = "dst" if join_on == "src" else "src"
        raw = gens.truncate(
            e.join(scores, F.col(join_on) == scores.node)
            .groupBy(F.col(recv).alias("node"))
            .agg(F.sum(col).alias("raw"))
        )
        # DECIMAL(38,0) accumulator: Σraw ≤ HITS_SCALE·|nodes| here, but
        # keep the wide type so the rescale product raw*SCALE never
        # outgrows int64 at any node count
        s = raw.agg(F.sum(F.col("raw").cast("decimal(38,0)")).alias("s"))
        return raw.join(F.broadcast(s)).select(
            "node",
            F.expr(
                f"(cast(raw as decimal(38,0)) * {HITS_SCALE}) div s"
            ).alias(out),
        )

    for _ in range(HITS_ROUNDS):
        auth = half_round(hub, "hu", "src", "au")
        hub = half_round(auth, "au", "dst", "hu")
    return hub.select(
        "node", F.lit(False).alias("is_supplier"),
        F.col("hu").cast("bigint").alias("score_units"),
    ).unionAll(
        auth.select(
            "node", F.lit(True).alias("is_supplier"),
            F.col("au").cast("bigint").alias("score_units"),
        )
    )


# ---------------------------------------------------------------------------
# Link prediction: neighbor-overlap Jaccard between supplier pairs
# ---------------------------------------------------------------------------

JACC_DF_MAX = 40   # blocking: customers with <= this many suppliers generate
# Emit the TOP-K candidate pairs by 6dp-rounded Jaccard under the unique
# total order (jaccard6 DESC, s_a, s_b).  The former fixed cut
# (JACC_MIN = 0.24) was vacuous at sf0.1 (r14 verdict item 1): overlap
# fractions fall as neighbor sets grow — the sf0.01 and sf0.1 score
# ranges are DISJOINT (max 0.263 vs 0.043, measured r15), so NO fixed
# absolute threshold can be non-trivial at both scales.  A global
# percentile cut would self-scale but is a single-group sort aggregate
# (one reducer over every candidate pair — a 100 TB bottleneck);
# deterministic top-K instead compiles to TakeOrderedAndProject
# (map-side partial top-K per partition, O(K) driver state) and is
# non-empty at every scale factor by construction, exercising the
# boundary on actual rows at both SFs.
JACC_TOP_K = 150

_JACC_ORACLE = f"""
    WITH adj AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nbrs AS (
      SELECT s, list_sort(list(c)) AS cs, count(*) AS deg
      FROM adj GROUP BY s
    ),
    rare AS (
      SELECT c FROM adj GROUP BY c HAVING count(*) <= {JACC_DF_MAX}
    ),
    cand AS (
      SELECT DISTINCT a.s AS s_a, b.s AS s_b
      FROM adj a JOIN rare r ON r.c = a.c
      JOIN adj b ON b.c = a.c AND a.s < b.s
    ),
    scored AS (
      SELECT c.s_a, c.s_b,
             len(list_intersect(na.cs, nb.cs)) AS inter,
             na.deg AS deg_a, nb.deg AS deg_b
      FROM cand c
      JOIN nbrs na ON na.s = c.s_a
      JOIN nbrs nb ON nb.s = c.s_b
    )
    SELECT s_a, s_b, CAST(inter AS BIGINT) AS n_shared,
           CAST(deg_a AS BIGINT) AS deg_a, CAST(deg_b AS BIGINT) AS deg_b,
           {round_ratio_sql('inter', '(deg_a + deg_b - inter)', 6)}
               AS jaccard6
    FROM scored
    ORDER BY jaccard6 DESC, s_a, s_b
    LIMIT {JACC_TOP_K}
"""


def _rare_candidates(adj: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(rare, cand)``: the customers with at most JACC_DF_MAX suppliers,
    with that degree as ``df``, and the distinct supplier pairs
    ``(s_a, s_b)`` they block.  q_graph_jaccard_neighbors and its census
    both read it, so the census counts the operator's own candidates."""
    rare = (
        adj.groupBy("c")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= JACC_DF_MAX)
    )
    return rare, block_pairs(adj.join(rare.select("c"), "c"), ["c"], "s")


def jaccard_stage_counts(spark: SparkSession, sf_dir: str) -> dict:
    """Stage-count census for the Jaccard scaling leg.  A scaling profile
    measured candidate pairs growing x100.9 on 10x data while runtime
    stayed postings-linear (2.7x), a fixture degree shift.  This census
    publishes the counts in the bench artifact AND asserts the blocking
    contract mechanically: distinct candidate pairs can never exceed the
    exact sum of C(df, 2) over df-capped customers (fan-out <=
    C(JACC_DF_MAX, 2) per customer), so a super-linear blow-up at a
    future SF fails the bench run instead of surviving as narrative.

    The frames are q_graph_jaccard_neighbors' own (same memoized
    ``copurchase_adj``, same :func:`_rare_candidates`); the per-row
    df*(df-1) term is bounded by JACC_DF_MAX^2 = 1600, so the int64
    census sum holds to ~5e15 capped customers."""
    adj = copurchase_adj(spark, sf_dir)
    arcs = adj.count()
    rare, cand = _rare_candidates(adj)
    bound_row = rare.agg(
        F.count(F.lit(1)).alias("rare_customers"),
        F.sum(F.expr("df * (df - 1)")).alias("twice_bound"),
    ).collect()[0]
    pair_bound = int(bound_row["twice_bound"] or 0) // 2
    cand_n = cand.count()
    if cand_n > pair_bound:
        raise ValueError(
            f"jaccard blocking contract violated at {sf_dir}: "
            f"{cand_n} distinct candidate pairs > C(df,2) bound {pair_bound}"
        )
    return {
        "adjacency_arcs": arcs,
        "rare_customers": int(bound_row["rare_customers"]),
        "candidate_pair_bound": pair_bound,
        "candidate_pairs_distinct": cand_n,
        "verified_pairs": cand_n,
        "emitted_rows": JACC_TOP_K,
    }


@register("q_graph_jaccard_neighbors", oracle=_JACC_ORACLE)
def q_graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor overlap: the top-{JACC_TOP_K}
    supplier pairs by customer-set Jaccard — the classic
    common-neighbors heuristic ("suppliers serving the same buyers are
    substitutes/likely future co-suppliers"), the graph sibling of the
    dedup pair families.  Deterministic top-K (unique total order
    jaccard6 DESC, s_a, s_b — see JACC_TOP_K for why not a fixed cut
    or a global percentile) keeps the rowset non-trivial at every
    scale factor and compiles to TakeOrderedAndProject.

    Scale shape — the winnow/rare-gram discipline applied to a graph:
    candidate pairs come ONLY from customers with <= {JACC_DF_MAX}
    suppliers (per-customer fan-out bounded by C({JACC_DF_MAX},2); hub
    customers cannot explode the pair space — the documented blocking
    contract), while VERIFICATION uses each supplier's FULL sorted
    customer array (one row per supplier) joined to the pair, so the
    emitted Jaccard is exact, not blocked.  No (pair x customer)
    exploded shuffle exists anywhere.

    Cache lifetime: ``adj`` is the session-memoized ``copurchase_adj``
    checkpoint shared with the whole graph family — its three consumers
    here (neighbor arrays, DF census, candidate pairs) are narrow reads
    of the checkpoint blocks.  ``spark.catalog.clearCache()`` does NOT
    release or rebuild it (localCheckpoint blocks bypass the cache
    manager); a genuinely cold rebuild requires
    ``clear_shared_kernels()``."""
    adj = copurchase_adj(spark, sf_dir)
    nbrs = adj.groupBy("s").agg(F.array_sort(F.collect_list("c")).alias("cs"))
    # the rare adjacency is not persisted: both self-join sides are
    # narrow re-reads of the memoized checkpoint + a reused census
    # exchange (persist 5.00 s vs 4.85 s — materialization buys nothing)
    _, cand = _rare_candidates(adj)
    # exact integer rounding — the ROWSET itself depends on the rounded
    # value via the top-K order, so a boundary flip would not just
    # perturb a column, it would swap membership
    return (
        verify_sets(cand, nbrs, "s", "cs")
        .select(
            "s_a",
            "s_b",
            F.col("n_common").cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("deg_a"),
            F.col("n_b").cast("bigint").alias("deg_b"),
            rounded_jaccard().alias("jaccard6"),
        )
        .orderBy(F.col("jaccard6").desc(), "s_a", "s_b")
        .limit(JACC_TOP_K)
    )


# ---------------------------------------------------------------------------
# Multi-source k-hop BFS over the semantic graph
# ---------------------------------------------------------------------------

BFS_K = 3          # hop bound (unrolled rounds)
BFS_SEED_MOD = 100  # seeds: vec_id % BFS_SEED_MOD == 0

_BFS_ORACLE = f"""
    WITH RECURSIVE v AS (SELECT vec_id, embedding,
                  sqrt(list_reduce(list_prepend(0.0,
                      list_transform(range(1, len(embedding) + 1),
                          i -> CAST(embedding[i] AS DOUBLE)
                               * CAST(embedding[i] AS DOUBLE))),
                      (acc, x) -> acc + x)) AS vnorm
               FROM embeddings),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_reduce(list_prepend(0.0,
                list_transform(range(1, len(a.embedding) + 1),
                    i -> CAST(a.embedding[i] AS DOUBLE)
                         * CAST(b.embedding[i] AS DOUBLE))),
                (acc, x) -> acc + x) / (a.vnorm * b.vnorm) >= {TRI_TAU}
    ),
    e AS (SELECT va AS src, vb AS dst FROM p
          UNION ALL SELECT vb, va FROM p),
    seeds AS (SELECT vec_id AS node FROM embeddings
              WHERE vec_id % {BFS_SEED_MOD} = 0),
    reach(node, d) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT e.dst, reach.d + 1 FROM reach JOIN e ON e.src = reach.node
      WHERE reach.d < {BFS_K}
    )
    SELECT node, CAST(min(d) AS INT) AS dist
    FROM reach GROUP BY node
"""


@register("q_graph_bfs_khop", oracle=_BFS_ORACLE)
def q_graph_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded BFS: minimum hop distance (<= {BFS_K}) from
    the seed set (``vec_id % {BFS_SEED_MOD} == 0``) to every reachable
    node of the cosine >= {TRI_TAU} semantic graph — the reachability
    primitive behind "expand a curated seed corpus by k hops of
    similarity" and the missing distance leg of the graph toolbox
    (centrality, density, connectivity, now reach).

    Scale shape — synchronous frontier expansion, {BFS_K} unrolled
    rounds in ONE declarative plan (the ``propagate_min_label``
    convention: no per-round driver actions): each round is one keyed
    join frontier⋈arcs + one distinct, rows bounded by O(nodes) per
    level; the final min-distance is one combiner agg over <=
    ({BFS_K}+1)·nodes rows.  Edges come from the shared block-pair
    kernel, checkpointed once (the components discipline).  Frontier
    frames persist (each feeds the next round AND the final union);
    caller-clearCache lifetime."""
    pairs = semantic_edges(spark, sf_dir, tau=TRI_TAU).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    both = undirected(pairs).persist()
    seeds = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % BFS_SEED_MOD == 0)
        .select(F.col("vec_id").alias("node"))
        .persist()
    )
    levels = [seeds.select("node", F.lit(0).alias("d"))]
    frontier = seeds
    for depth in range(1, BFS_K + 1):
        frontier = (
            both.join(frontier, both["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .persist()  # consumed by the next round AND the final union
        )
        levels.append(frontier.select("node", F.lit(depth).alias("d")))
    reach = levels[0]
    for lv in levels[1:]:
        reach = reach.unionAll(lv)
    return reach.groupBy("node").agg(F.min("d").cast("int").alias("dist"))


# ---------------------------------------------------------------------------
# Link prediction: Adamic-Adar weighted common neighbors
# ---------------------------------------------------------------------------

AA_DF_MAX = 40   # blocking: customers with <= this many suppliers generate
AA_TOP = 100     # emit the strongest predicted links

_AA_ORACLE = f"""
    WITH adj AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    wdf AS (
      SELECT c, CAST(floor(1000000.0 / ln(CAST(count(*) AS DOUBLE)) + 0.5)
                     AS BIGINT) AS w
      FROM adj GROUP BY c
      HAVING count(*) BETWEEN 2 AND {AA_DF_MAX}
    ),
    wadj AS (SELECT a.c, a.s, w.w FROM adj a JOIN wdf w ON w.c = a.c)
    SELECT a.s AS s_a, b.s AS s_b,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(a.w) AS BIGINT) AS aa_mu
    FROM wadj a JOIN wadj b ON a.c = b.c AND a.s < b.s
    GROUP BY a.s, b.s
    ORDER BY aa_mu DESC, s_a, s_b
    LIMIT {AA_TOP}
"""


@register("q_graph_adamic_adar", oracle=_AA_ORACLE)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the customer-supplier graph:
    score each supplier pair by Σ 1/ln(degree(c)) over their common
    customers — rare shared customers are strong evidence of a latent
    tie, hub customers near-zero evidence.  The weighted upgrade of
    ``q_graph_jaccard_neighbors`` (which counts neighbors; this
    discounts them by informativeness), emitting the top {AA_TOP}
    predicted links.

    Blocking contract (rare-gram discipline): only customers with
    2 <= degree <= {AA_DF_MAX} generate pair candidates AND weight —
    per-customer fan-out is bounded by C({AA_DF_MAX}, 2), so hub
    customers cannot explode the pair shuffle.  Unlike the Jaccard op
    (exact via full neighbor arrays), the emitted score is the
    BLOCKED Adamic-Adar: excluded hubs each contribute < 1/ln({AA_DF_MAX})
    ≈ 0.27 micro-units — the standard truncation in web-scale link
    prediction, and the oracle computes the identical blocked score.

    Determinism: the per-customer weight floor(1e6/ln(df)+0.5) is ONE
    double expression on an integer-valued argument (df >= 2 so
    ln > 0), quantized to int64 once, then summed exactly — engines
    cannot drift.  Final ordering ties break on the pair key.

    Scale shape: distinct adjacency is one combiner groupBy; the
    degree/weight census another; the pair stage is a self-join on the
    CUSTOMER key over the df-capped slice (fan-out per customer
    <= C({AA_DF_MAX}, 2)) feeding one combiner-friendly pair agg; the
    top-{AA_TOP} is TakeOrderedAndProject.  No neighbor arrays, no
    windows, no collects."""
    # two consumers (degree census + weighted adjacency) — both narrow
    # reads of the memoized co-purchase checkpoint (copurchase_adj)
    adj = copurchase_adj(spark, sf_dir)
    wdf = (
        adj.groupBy("c")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= AA_DF_MAX))
        .select(
            "c",
            F.floor(1_000_000.0 / F.log(F.col("df").cast("double")) + 0.5)
            .cast("bigint")
            .alias("w"),
        )
    )
    # not persisted: both self-join sides are narrow re-reads of the
    # memoized checkpoint + a reused census exchange (persist 1.59 s vs
    # 1.28 s without).  Not block_pairs: the pairs are a weighted
    # aggregate over every shared customer, not a distinct pair set.
    wadj = adj.join(wdf, "c")
    a = wadj.alias("a")
    b = wadj.alias("b")
    return (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(F.col("a.w")).cast("bigint").alias("aa_mu"),
        )
        .orderBy(F.desc("aa_mu"), "s_a", "s_b")
        .limit(AA_TOP)
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the customer-supplier graph
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = """
    WITH adj AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    dc AS (SELECT c, count(*) AS deg_c FROM adj GROUP BY c),
    ds AS (SELECT s, count(*) AS deg_s FROM adj GROUP BY s),
    e AS (
      SELECT dc.deg_c AS x, ds.deg_s AS y
      FROM adj JOIN dc ON dc.c = adj.c JOIN ds ON ds.s = adj.s
    ),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM e
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN CAST(round((n * sxy - sx * sy) /
                     sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS DOUBLE)
                ELSE NULL END AS assortativity6
    FROM m
"""


@register("q_graph_degree_assortativity", oracle=_ASSORT_ORACLE)
def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer-supplier bipartite graph:
    the Pearson correlation, over edges, between the customer
    endpoint's degree and the supplier endpoint's degree (Newman
    2002).  Positive means hub buyers concentrate on hub suppliers
    (fragile core), negative means hubs spread across the periphery —
    the one-number structural summary read before trusting sampled
    subgraphs, next to triangles (local density) and k-core (global
    density).

    Determinism: the moment sums Σx, Σy, Σxy, Σx², Σy² over edges are
    exact int64 (degrees are integers; n·deg² stays well inside int64
    at 100 TB arc counts), so the single guarded
    divide-sqrt-round(6) expression lands identically on both engines
    (the `q_corr_manual` discipline on a graph).

    Scale shape: distinct adjacency is one combiner groupBy; the two
    degree censuses are keyed aggs of it; degrees join back onto the
    arcs by their own keys (two shuffled equi-joins, no fan-out); the
    moment reduction is one map-side-combined agg to a single row."""
    # three consumers (two degree censuses + edge join) — all narrow
    # reads of the memoized co-purchase checkpoint (copurchase_adj)
    adj = copurchase_adj(spark, sf_dir)
    dc = adj.groupBy("c").agg(F.count(F.lit(1)).alias("deg_c"))
    ds = adj.groupBy("s").agg(F.count(F.lit(1)).alias("deg_s"))
    e = adj.join(dc, "c").join(ds, "s").select(
        F.col("deg_c").alias("x"), F.col("deg_s").alias("y")
    )
    m = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        # DECIMAL(38,0) accumulators (r14 overflow audit): Σ deg·deg
        # over edges overflows int64 on high-degree graphs — the exact
        # class ANSI Spark raises on while DuckDB widens to int128.
        # The double math below reads the exact totals identically.
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    # sx·sx must widen BEFORE the multiply (int64 squares overflow first)
    sx_d = F.col("sx").cast("decimal(38,0)")
    sy_d = F.col("sy").cast("decimal(38,0)")
    vx = F.col("n") * F.col("sxx") - sx_d * sx_d
    vy = F.col("n") * F.col("syy") - sy_d * sy_d
    return m.select(
        F.col("n").cast("bigint").alias("n_edges"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(
                (F.col("n") * F.col("sxy") - sx_d * sy_d).cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double")),
                6,
            ).cast("double"),
        ).alias("assortativity6"),
    )
