"""Similarity search over the ``embeddings`` table.

Every kNN/ANN query here is a candidate generator feeding one local
prune and one global per-query top-k merge (the REPOSE shape for
distributed top-k similarity search).  Four private primitives carry
the shared steps:

* ``_query_set(v, cap, *extra)`` — the query rows (``vec_id %
  QUERY_MOD == 0``, optionally the ``cap`` lowest ids, which keeps any
  broadcast or collect O(1) in corpus size) projected to ``query_id,
  q_emb, q_norm`` plus ``extra`` columns.
* ``_top_per_query(df, k, order, rank_col)`` — the one per-query
  ``row_number`` window (ties by ``neighbor_id``) and its ``<= k`` cut.
* ``_nearest_cells(v, cent)`` — every vector ranked against the
  constant-size IVF centroid set by ``(csim desc, cent_id)``; callers
  take the cut they need (the assigned cell or the probed cells).
* ``_knn_prune(score, ids, q_ids, k, margin)`` — the numpy per-batch
  prune behind every exact-kNN kernel: keep each row scoring at least
  the query's k-th largest score minus ``margin``, never a self pair.
  ``margin`` is 0 for raw-sim ranking (the prune is then exact) and
  ``_UNIT_MARGIN`` for rankings by the 6-dp rounded sim, whose float
  rounding can disagree with ``F.round`` by one unit.  ``_knn_batch``
  applies it to one batch; ``_broadcast_knn`` owns the one bounded
  query-matrix collect and broadcast.

``q_knn_bruteforce`` (interpreted JVM folds over a broadcast query set)
is the exact reference; ``q_ann_recall`` measures the LSH, IVF and PQ
paths against it.  Pair math is JVM-side ``zip_with``/``aggregate``
folds, numpy kernels that replay the same sequential fold
(``_pairwise_sims``), or BLAS matmuls where the ranking is by the
rounded sim; norms are precomputed once per vector (narrow), never
inside the pair loop.  The folds are sequential left folds cast to
double, so the DuckDB oracles match bit-for-bit (functions/vectors.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.arrow import apply_groups, emb_matrix, map_batches
from ..functions.lineage import Generations
from ..functions.numeric import round_ratio, round_ratio_sql
from ..functions.vectors import dot, dot_sql, hyperplane_signs, norm, norm_sql
from ..registry import registrar
from ..sources.tables import load_table, shared_kernel

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)

KNN_K = 5
ANN_K = 3
N_PLANES = 8  # 256 buckets; with multiprobe(1) gives useful recall on small corpora
DIM = 64
QUERY_MOD = 10  # query subset: vec_id % QUERY_MOD == 0
# Hard cap on the query set for the brute-force paths.  vec_id % QUERY_MOD
# alone selects 10% of the corpus — fine as an oracle workload at sf0.1, a
# broadcast/collect bomb at 100 TB.  The cap keeps the driver-collected /
# broadcast side O(1) in corpus size; raise it only with a distributed
# (co-grouped) query path.
N_QUERIES = 200
# Pruning margin of the rounded-order kNN kernels, in 1e-6 sim UNITS (not
# rows): every row whose float sim units are within _UNIT_MARGIN of the
# batch's k-th largest survives to the authoritative decimal-F.round
# merge.  Derivation: float rounding can disagree with decimal HALF_UP by
# at most 1 unit (only on an exact 0.5e-6 boundary), so a true
# decimal-top-k row has float units >= d_k - 1 >= (s_k - 1) - 1, where s_k
# is the float k-th largest units and d_k >= s_k - 1 because the k best
# float rows each have decimal units >= s_k - 1.  A unit margin (unlike a
# fixed number of extra rows) stays correct when MANY rows tie on a
# boundary — duplicate vectors sharing one boundary similarity all survive.
_UNIT_MARGIN = 2


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _vecs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_vecs`` behind the r16 unsplittable-input spread: the
    pair-heavy ANN/kNN queries evaluate their per-candidate dot folds
    (or numpy batch kernels) in the stage that reads the corpus, so on
    a one-row-group input the whole similarity computation ran as ONE
    task.  Used by the candidate-heavy queries only — the cheap
    zero-shuffle map queries (quantize/MRL/dim-stats) keep the bare
    scan and their pinned exchange-free plans."""
    from ..sources.tables import spread_scan

    return spread_scan(
        _vecs(spark, sf_dir), spark, sf_dir, "embeddings", key="vec_id"
    )


def with_norm(vecs: DataFrame) -> DataFrame:
    return vecs.withColumn("vnorm", norm(F.col("embedding")))


def _query_set(v: DataFrame, cap: int | None, *extra) -> DataFrame:
    """The query rows of ``v`` (``vec_id % QUERY_MOD == 0``; the ``cap``
    lowest ids when ``cap`` is set) as ``query_id, q_emb, q_norm`` plus
    the ``extra`` columns."""
    q = v.filter(F.col("vec_id") % QUERY_MOD == 0)
    if cap is not None:
        q = q.orderBy("vec_id").limit(cap)
    return q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("vnorm").alias("q_norm"),
        *extra,
    )


def _top_per_query(
    df: DataFrame, k: int, order: F.Column, rank_col: str = "rank"
) -> DataFrame:
    """``df``'s first ``k`` rows per ``query_id`` by ``order`` (ties by
    ``neighbor_id``), numbered 1..k in ``rank_col``."""
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def _cand_sim() -> F.Column:
    """Cosine of a (query, corpus vector) candidate row."""
    return dot(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_norm") * F.col("vnorm")
    )


def _sim_units(sims):
    """Sims in 1e-6 units, rounded half away from zero like ``F.round``
    but in binary floats — a pruning key only (see ``_UNIT_MARGIN``)."""
    import numpy as np

    return np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5)


def _knn_prune(score, ids, q_ids, k: int, margin: float):
    """Mask [batch row, query] of the rows that can reach a query's
    global top-``k``: score >= the query's k-th largest batch score
    minus ``margin``, self pairs never.  A row beaten by k strictly
    greater scores in its own batch is beaten by them globally, so with
    ``margin`` 0 the prune is exact and every tie at the k-th value
    survives to the final window.  A NaN score counts as ``+inf``:
    Spark's descending order ranks NaN first, so such rows always
    reach the window.  Any int64 id works (only equality is used)."""
    import numpy as np

    score = np.where(np.isnan(score), np.inf, score)
    self_pair = ids[:, None] == q_ids[None, :]
    score[self_pair] = -np.inf
    kth = len(ids) - min(k, len(ids))
    kth_score = np.partition(score, kth, axis=0)[kth]
    return (score >= kth_score - margin) & ~self_pair


def _vec_arrays(batch):
    """(ids, embedding matrix, norms) of a ``vec_id, embedding, vnorm``
    Arrow batch or table."""
    return (
        batch.column("vec_id").to_numpy(zero_copy_only=False),
        emb_matrix(batch.column("embedding")),
        batch.column("vnorm").to_numpy(zero_copy_only=False),
    )


_KNN_SCHEMA = "query_id long, neighbor_id long, sim double"


def _knn_batch(ids, x, xn, q_ids, q_mat, q_norm, k: int, rounded: bool):
    """One batch's pruned ``query_id, neighbor_id, sim`` candidates, as
    numpy columns by name.

    ``rounded``: the final window ranks by the 6-dp rounded sim, so the
    sims are one BLAS matmul and the prune runs on rounded units with
    ``_UNIT_MARGIN``.  Otherwise the window ranks by the raw sim, so the
    sims replay the oracle's sequential fold bit-identically
    (``_pairwise_sims``) and the prune is exact on them."""
    import numpy as np

    if rounded:
        sims = (x @ q_mat.T) / np.outer(xn, q_norm)  # batch × queries
        keep = _knn_prune(_sim_units(sims), ids, q_ids, k, _UNIT_MARGIN)
    else:
        sims = _pairwise_sims(x, xn, q_mat, q_norm)
        keep = _knn_prune(sims, ids, q_ids, k, 0)
    rows, cols = np.nonzero(keep)
    return {"query_id": q_ids[cols], "neighbor_id": ids[rows], "sim": sims[rows, cols]}


def _broadcast_knn(spark: SparkSession, v: DataFrame, rounded: bool) -> DataFrame:
    """Pruned kNN candidates of the capped query set over ``v``
    (``vec_id, embedding, vnorm``): the query matrix is collected once
    (<= ``N_QUERIES`` rows, whatever the corpus size) and broadcast, and
    each Arrow batch of the corpus scan runs ``_knn_batch`` — one scan,
    no shuffle, only the pruned rows leave the executors."""
    q = _query_set(v, N_QUERIES).toArrow()
    q_arrays = (q["query_id"].to_numpy(), emb_matrix(q["q_emb"]), q["q_norm"].to_numpy())
    bq = spark.sparkContext.broadcast(q_arrays)

    def knn_batches(batch):
        return _knn_batch(*_vec_arrays(batch), *bq.value, KNN_K, rounded)

    return map_batches(v, knn_batches, _KNN_SCHEMA)


_KNN_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {N_QUERIES}),
    pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             {dot_sql('q.embedding', 'v.embedding')} / (q.vnorm * v.vnorm) AS sim
      FROM q JOIN v ON q.vec_id <> v.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(round(sim, 6) AS DOUBLE) AS cosine
    FROM ranked WHERE rank <= {KNN_K}
"""


@register("q_knn_bruteforce", oracle=_KNN_ORACLE)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-K for a bounded query set via broadcast pairing.

    The broadcast side is capped at ``N_QUERIES`` rows (lowest vec_ids of
    the % subset), so the plan stays a single corpus scan + broadcast
    join at any corpus size — the broadcast never grows with the data.
    r16: the corpus side rides the unsplittable-input spread so the
    interpreted exact dot folds parallelize on a one-row-group input.
    """
    v = with_norm(_vecs_spread(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    q = _query_set(v, N_QUERIES)
    pairs = v.join(F.broadcast(q), F.col("query_id") != F.col("vec_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _cand_sim().alias("sim")
    )
    return _top_per_query(pairs, KNN_K, F.desc("sim")).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("sim", 6).cast("double").alias("cosine"),
    )


def _signs_sql_list(row: list[int]) -> str:
    return "[" + ", ".join(f"{s}.0" for s in row) + "]"


def _bucket_sql() -> str:
    signs = hyperplane_signs(N_PLANES, DIM)
    terms = []
    for j in range(N_PLANES):
        proj = dot_sql("embedding", f"CAST({_signs_sql_list(signs[j])} AS DOUBLE[])")
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def lsh_buckets(vecs: DataFrame) -> DataFrame:
    """(vec_id, embedding, vnorm, bucket): N_PLANES-bit (8-bit, 256
    buckets) hyperplane signature.

    r17: the signature is ONE parsed SQL expression instead of
    N_PLANES x DIM ``F.lit`` Column constructions + 8 lambda trees —
    the bloom_member lesson (functions/bloom.py): each py4j Column is
    ~1 ms of driver time, so the old form cost ~0.7-1.2 s PER
    DataFrame CONSTRUCTION (paid by every q_ann_lsh build and by
    q_ann_recall's eager ledger) while the parser ingests the same
    expression in milliseconds.  The parsed tree is the identical
    aggregate(zip_with(...)) fold over the identical double literals,
    so plans and results are unchanged (oracle + plan pins)."""
    signs = hyperplane_signs(N_PLANES, DIM)
    terms = []
    for j in range(N_PLANES):
        plane = "array(" + ", ".join(f"{float(s)}D" for s in signs[j]) + ")"
        proj = (
            f"aggregate(zip_with(embedding, {plane}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {proj} > 0.0D THEN {1 << j} ELSE 0 END)")
    sig = F.expr(" + ".join(terms))
    return with_norm(vecs).withColumn("bucket", sig.cast("bigint"))


def _probe_list_sql() -> str:
    """DuckDB: multiprobe bucket list = own bucket + each 1-bit flip."""
    flips = ", ".join(f"xor(bucket, {1 << j})" for j in range(N_PLANES))
    return f"[bucket, {flips}]"


_ANN_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm,
             CAST({_bucket_sql()} AS BIGINT) AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, embedding, vnorm, unnest({_probe_list_sql()}) AS probe
      FROM v WHERE vec_id % {QUERY_MOD} = 0
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             {dot_sql('q.embedding', 'v.embedding')} / (q.vnorm * v.vnorm) AS sim
      FROM q JOIN v ON q.probe = v.bucket AND q.vec_id <> v.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(round(sim, 6) AS DOUBLE) AS cosine
    FROM ranked WHERE rank <= {ANN_K}
"""


@register("q_ann_lsh", oracle=_ANN_ORACLE)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: hyperplane-LSH bucket join (multiprobe distance 1 on the query
    side only — the corpus side stays un-exploded) + exact cosine rerank.
    """
    # r16 note: lsh deliberately NOT spread — measured 0.79 s -> 1.4 s
    # (the 8-plane bucket kernel is far cheaper than the extra exchange
    # + broadcast-stage replay it buys at this corpus size).
    v = lsh_buckets(_vecs(spark, sf_dir)).select(
        "vec_id", "embedding", "vnorm", "bucket"
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)],
    )
    q = _query_set(v, None, F.explode(probes).alias("probe"))
    cand = (
        v.join(
            F.broadcast(q),
            (F.col("probe") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select("query_id", "q_emb", "q_norm", "vec_id", "embedding", "vnorm")
        .distinct()
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _cand_sim().alias("sim"))
    )
    return _top_per_query(cand, ANN_K, F.desc("sim")).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("sim", 6).cast("double").alias("cosine"),
    )


_KNN_NUMPY_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {N_QUERIES}),
    pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             round({dot_sql('q.embedding', 'v.embedding')} / (q.vnorm * v.vnorm), 6)
                 AS sim
      FROM q JOIN v ON q.vec_id <> v.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(sim AS DOUBLE) AS cosine
    FROM ranked WHERE rank <= {KNN_K}
"""


@register("q_knn_bruteforce_numpy", oracle=_KNN_NUMPY_ORACLE)
def q_knn_bruteforce_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-K, Arrow/numpy fast path.

    Same semantics as ``q_knn_bruteforce`` but the pair math runs as one
    BLAS matmul per Arrow batch inside ``mapInArrow`` (queries shipped
    as a broadcast matrix), with a per-batch top-K so only K·batches
    rows per query ever leave the executors — the merge is a cheap
    window over that reduced set.  This is the 100 TB-shaped plan: one
    corpus scan, no shuffle before the per-query merge, ~100× less
    per-pair overhead than the JVM fold.  The driver-side collect is
    bounded: ≤ ``N_QUERIES`` rows regardless of corpus size.

    Determinism: ranking (and the per-batch selection) orders by the
    ROUNDED similarity (6 dp, half-away-from-zero — the same rule as
    Spark ``F.round`` and DuckDB ``round``) with neighbor_id tie-break,
    so float reduction order (numpy pairwise vs sequential fold) cannot
    reorder the result; exact-duplicate vectors tie-break identically in
    both engines.
    """
    v = with_norm(_vecs_spread(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    rounded = F.round("sim", 6)
    return _top_per_query(
        _broadcast_knn(spark, v, rounded=True), KNN_K, rounded.desc()
    ).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        rounded.cast("double").alias("cosine"),
    )


# --------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer cells + nprobe search + exact rerank
# --------------------------------------------------------------------------

# Fixed-size coarse quantizer: the IVF_C corpus vectors sorting first by a
# deterministic integer hash of vec_id (ties by vec_id).  IVF_C is a
# CONSTANT — independent of corpus rows — so the assignment broadcast is
# O(IVF_C) bytes at any scale and the coarse pass costs n·IVF_C dot
# products, never a corpus fraction (the pre-r4 `vec_id % 25` selection
# made the "broadcast" side 4% of the corpus: an O(n²/25) plan).  The LCG
# hash keeps the sample unbiased w.r.t. id order while staying
# reproducible across engines and incremental loads — no RNG-seeded
# k-means to re-run when data grows.
IVF_C = 64
NPROBE = 2
# LCG permutation of vec_id; exact in int64 for ids < 2^31 on both engines.
_CENT_HASH_SQL = "(vec_id * 1103515245 + 12345) % 2147483648"


def _cent_hash() -> F.Column:
    return (F.col("vec_id") * F.lit(1103515245) + F.lit(12345)) % F.lit(2147483648)


def ivf_centroids(v: DataFrame, n_cells: int = IVF_C) -> DataFrame:
    """The fixed-size centroid set: hash-order ``LIMIT n_cells``.

    Plans as ``TakeOrderedAndProject`` — each partition keeps its local
    top-n_cells, the driver merges P·n_cells candidate rows — so
    selection is one corpus scan with O(n_cells) state per task
    regardless of corpus size."""
    return (
        v.orderBy(_cent_hash().asc(), F.asc("vec_id"))
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("c_emb"),
            F.col("vnorm").alias("c_norm"),
        )
    )


def ivf_assignments(v: DataFrame, n_cells: int = IVF_C) -> DataFrame:
    """(vec_id, embedding, vnorm, cell): nearest centroid per vector.

    Assignment is a broadcast join against the bounded centroid set; at
    100 TB it is one corpus scan with n_cells dot products per row and
    an O(n_cells) broadcast.
    """
    return (
        _nearest_cells(v, ivf_centroids(v, n_cells))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "vnorm", F.col("cent_id").alias("cell"))
    )


def _nearest_cells(v: DataFrame, cent: DataFrame, rank_col: str = "rn") -> DataFrame:
    """Every row of ``v`` (``vec_id, embedding, vnorm`` and any carried
    columns) paired with every centroid of ``cent`` under a broadcast,
    with the centroid cosine ``csim`` and the centroid's per-vector rank
    by ``(csim desc, cent_id)`` in ``rank_col``.  Callers cut the rank:
    ``= 1`` is the assigned cell, ``<= NPROBE`` the probed cells."""
    csim = dot(F.col("embedding"), F.col("c_emb")) / (F.col("vnorm") * F.col("c_norm"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cent_id"))
    return (
        v.join(F.broadcast(cent))
        .select(*v.columns, "cent_id", csim.alias("csim"))
        .withColumn(rank_col, F.row_number().over(w))
    )


_CENT_SQL = f"""
      SELECT vec_id AS cent_id, embedding AS c_emb, vnorm AS c_norm
      FROM v ORDER BY {_CENT_HASH_SQL}, vec_id LIMIT {IVF_C}
"""


def _ivf_sql() -> str:
    csim = f"{dot_sql('e.embedding', 'c.c_emb')} / (e.vnorm * c.c_norm)"
    return f"""
      SELECT vec_id, embedding, vnorm, cell FROM (
        SELECT e.vec_id, e.embedding, e.vnorm, c.cent_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {csim} DESC, c.cent_id) AS rn
        FROM v e CROSS JOIN cent c
      ) WHERE rn = 1
    """


_IVF_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    cent AS ({_CENT_SQL}),
    assign AS ({_ivf_sql()}),
    probes AS (
      SELECT vec_id, embedding, vnorm, cell, pr FROM (
        SELECT e.vec_id, e.embedding, e.vnorm, c.cent_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dot_sql('e.embedding', 'c.c_emb')}
                                           / (e.vnorm * c.c_norm) DESC, c.cent_id) AS pr
        FROM v e CROSS JOIN cent c
      ) WHERE pr <= {NPROBE} AND vec_id % {QUERY_MOD} = 0
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             {dot_sql('q.embedding', 'a.embedding')} / (q.vnorm * a.vnorm) AS sim
      FROM probes q JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(round(sim, 6) AS DOUBLE) AS cosine
    FROM ranked WHERE rank <= {ANN_K}
"""


@register("q_ann_ivf", oracle=_IVF_ORACLE)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus partitioned into IVF_C coarse-quantizer cells; each
    query probes its NPROBE nearest cells and reranks exactly.  The
    scan-heavy half (assignment) is one broadcast pass against the
    constant-size centroid set; search touches only ~NPROBE/IVF_C of the
    corpus per query."""
    v = with_norm(_vecs_spread(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    assign = ivf_assignments(v)
    # The query filter is on the window's partition key, so Spark pushes
    # it below the ranking: only query rows pay the centroid pass.
    ranked = _nearest_cells(v, ivf_centroids(v), "pr")
    probes = _query_set(
        ranked.filter(F.col("pr") <= NPROBE), None, F.col("cent_id").alias("cell")
    )
    cand = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "q_emb", "q_norm", "vec_id", "embedding", "vnorm")
        .distinct()
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _cand_sim().alias("sim"))
    )
    return _top_per_query(cand, ANN_K, F.desc("sim")).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("sim", 6).cast("double").alias("cosine"),
    )


_EMB_DEDUP_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(round({dot_sql('a.embedding', 'b.embedding')}
                      / (a.vnorm * b.vnorm), 6) AS DOUBLE) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.vnorm * b.vnorm) >= 0.35
"""


# Block count for the exact all-pairs similarity join.  Parallelism of the
# pair stage = N_SIM_BLOCKS; the replicated side shuffles N_SIM_BLOCKS copies.
# 32 matches local[32]; on a 1000-executor cluster raise it (cost is linear in
# replication, win is linear in parallelism).
N_SIM_BLOCKS = 32


def _pairwise_sims(A, na, B, nb):
    """Pairwise cosine matrix with the ORACLE's float semantics.

    Vectorized across pairs but **sequential over dimensions**: the
    accumulator update ``S += A[:,i] ⊗ B[:,i]`` performs, for every
    pair, exactly the left fold ``((0.0 + t1) + t2) + …`` in float64 —
    the same additions in the same order as the JVM ``zip_with`` fold
    and DuckDB's ``list_reduce``, so results are bit-identical while a
    BLAS-free 64-step loop replaces millions of interpreted fold calls.
    """
    import numpy as np

    S = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for i in range(A.shape[1]):
        S += A[:, i : i + 1] * B[None, :, i]
    return S / (na[:, None] * nb[None, :])


def cosine_threshold_pairs(
    spark: SparkSession, sf_dir: str, tau: float = 0.35
) -> DataFrame:
    """Exact cosine-threshold pair join at an arbitrary ``tau`` — the
    block-pair kernel behind ``q_dedup_embedding_cosine``, shared with
    the semantic-graph operators (``operators/graph.py``) which build
    their edge set at a lower threshold.  Returns (vec_a < vec_b, sim)
    with RAW double sims (callers round at their output boundary).
    Block-pair replication, kernel memory, and determinism are documented
    on the registered τ=0.35 form below."""
    import numpy as np
    import pyarrow.compute as pc

    from ..sources.tables import spread_scan

    # The norm + 2x32-way block replication below are fused into the
    # scan stage, so the narrow projection is spread when the scan is
    # unsplittable (no-op at scale).
    v = with_norm(
        spread_scan(
            _vecs(spark, sf_dir).select("vec_id", "embedding"),
            spark, sf_dir, "embeddings", key="vec_id",
        )
    ).select("vec_id", "embedding", "vnorm")
    vb = v.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(N_SIM_BLOCKS)).cast("int")
    )
    # One grouped-map over a side-tagged union rather than a cogroup:
    # Spark 4.1's optimizer prunes the RIGHT cogroup input down to its
    # grouping keys under plans that don't consume the UDF's columns
    # (e.g. count()), starving an opaque kernel; the union shape keeps
    # every column attached to its row.
    left = vb.select(
        F.col("blk").alias("ba"),
        F.explode(F.sequence(F.col("blk"), F.lit(N_SIM_BLOCKS - 1))).alias("bb"),
        F.lit(0).alias("side"),
        "vec_id",
        "embedding",
        "vnorm",
    )
    right = vb.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("ba"),
        F.col("blk").alias("bb"),
        F.lit(1).alias("side"),
        "vec_id",
        "embedding",
        "vnorm",
    )

    def block_pairs(table):
        side = table.column("side")
        lt = table.filter(pc.equal(side, 0))
        rt = table.filter(pc.equal(side, 1))
        if not (lt.num_rows and rt.num_rows):
            return [(), (), ()]
        ids_a, A, na = _vec_arrays(lt)
        ids_b, B, nb = _vec_arrays(rt)
        sims = _pairwise_sims(A, na, B, nb)
        # NaN passes: Spark and DuckDB both compare NaN above every
        # number, so the oracle's `>= tau` keeps a NaN pair.
        keep = (sims >= tau) | np.isnan(sims)
        if table.column("ba")[0] == table.column("bb")[0]:
            # both sides are the same block: keep each unordered pair once
            keep &= ids_a[:, None] < ids_b[None, :]
        # across disjoint blocks every (a, b) is unique; order ids on output
        ai, bi = np.nonzero(keep)
        lo = np.minimum(ids_a[ai], ids_b[bi])
        hi = np.maximum(ids_a[ai], ids_b[bi])
        return lo, hi, sims[ai, bi]

    # Pin the grouped-map's exchange width.  AQE sizes post-shuffle
    # partitions by BYTES; the block-pair kernel's cost is per
    # group/row, so letting the exchange coalesce serializes the
    # N(N+1)/2 numpy kernels onto a handful of tasks.  The repartition
    # IS the shuffle the groupBy would have planned (same keys).
    n_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    )
    blocks = left.unionAll(right).repartition(n_parts, "ba", "bb").groupBy("ba", "bb")
    return apply_groups(blocks, block_pairs, "vec_a long, vec_b long, sim double")


# Semantic-graph edge threshold shared by the WHOLE graph family
# (triangles / components / BFS / kcore / LPA callers in graph.py, which
# re-exports it as TRI_TAU) and the label-conflict audit below: ONE
# definition, because the memo is keyed by tau — two hand-synced
# constants drifting apart would silently split the memo into two
# independently rebuilt O(n²/blocks) kernels.
SEM_GRAPH_TAU = 0.25


@shared_kernel("semantic_edges", ("embeddings",))
def semantic_edges(spark: SparkSession, sf_dir: str, tau: float = SEM_GRAPH_TAU) -> DataFrame:
    """Memoized, eagerly-checkpointed ``(vec_a, vec_b)`` edge frame of
    the cosine >= tau similarity graph.

    Triangles / components / BFS / label conflicts all read this one
    frame: the graph is materialized once, then every analytic runs
    against it, instead of each re-running the block-pair kernel.
    """
    # The block-pair kernel's exchange is width-pinned, so its output
    # would come back at core width and every downstream per-round stage
    # would run that many tasks over a byte-tiny frame.  The keyed
    # repartition (no explicit numPartitions => REPARTITION_BY_COL, which
    # AQE sizes by bytes) rebalances only the (vec_a, vec_b) output; the
    # kernel stage stays wide.  Measured in isolation: triangles med
    # 1.88 -> 1.02 s, label_conflicts 0.52 -> 0.21 s, components eager
    # 2.37 -> 1.81 s; BFS/dedup_semantic flat.  AQE sizes the 44k-row
    # frame to 1 partition at sf0.1.
    return (
        cosine_threshold_pairs(spark, sf_dir, tau=tau)
        .select("vec_a", "vec_b")
        .repartition("vec_a")
        .localCheckpoint(eager=True)
    )


@register("q_dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: EXACT threshold join (cosine ≥ 0.35)
    as a cogrouped block-pair kernel — no nested-loop join in the plan.

    Why not LSH candidates: at τ=0.35 the hyperplane-collision probability
    per plane is ~0.61, so qualifying pairs spread across the full hamming
    range of any practical signature (measured on this corpus: hamming 0–7
    under 8 planes) — no bounded-probe LSH family is *complete* at such a
    low threshold, and this query's contract is exactness.  Exact all-pairs
    is inherently O(n²) compute; the scalable shape distributes it:

    * rows replicate to block-PAIR keys (ba ≤ bb): a block-β row sits on
      the left of pairs (β, j≥β) and the right of pairs (i≤β, β) —
      ~N_SIM_BLOCKS copies per row, but **each cogroup holds only two
      blocks** (≈ 2·n/N_SIM_BLOCKS rows), so kernel memory is bounded at
      any corpus size, unlike keying by single block (which would drag
      the whole corpus into every group);
    * each of the N(N+1)/2 cogroups evaluates its pair slice with
      ``_pairwise_sims`` — vectorized across pairs, **bit-identical** to
      the sequential fold the DuckDB oracle computes (see its docstring);
    * a cross-block pair occurs in exactly one group; diagonal groups
      dedup by id order.  Only qualifying pairs leave the kernel.

    Parallelism = N(N+1)/2 block pairs (raise N_SIM_BLOCKS with the
    cluster: replication grows linearly, kernel memory shrinks
    quadratically).  For approximate-but-cheap near-dup at higher
    thresholds, use `q_ann_lsh`'s bucket join instead."""
    pairs = cosine_threshold_pairs(spark, sf_dir, tau=0.35)
    return pairs.select(
        "vec_a", "vec_b", F.round("sim", 6).cast("double").alias("cosine")
    )


# --------------------------------------------------------------------------
# Per-label centroids: elementwise vector mean (training-pipeline analytic)
# --------------------------------------------------------------------------

# Exact 4-dp centroid mean (r14 parity idiom): the 6-dp decimal
# component sum is an exact integer in 1e-6 units, so the mean rounds
# via pure integer round_ratio — round-of-double flips when a label's
# member count hits 2^5·5^j, and the old "+ 0.0" negative-zero patch is
# obsolete (the integer path never emits -0.0).
_CENT4_SPARK = "sum(cast(round(x, 6) as decimal(30,6))) * 1000000"
_CENT4_DUCK = "sum(CAST(round(x, 6) AS DECIMAL(30,6))) * 1000000"


def _centroid4() -> "F.Column":
    return round_ratio(_CENT4_SPARK, "count(1) * 1000000", 4, wide=True)


def _centroid4_sql() -> str:
    return round_ratio_sql(_CENT4_DUCK, "count(*) * 1000000", 4, wide=True)


_CENTROID_ORACLE = f"""
    WITH comp AS (
      SELECT label, CAST(i - 1 AS INT) AS pos,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    )
    SELECT label, pos,
           CAST(count(*) AS BIGINT) AS n_vectors,
           {_centroid4_sql()} AS centroid
    FROM comp GROUP BY label, pos
"""


@register("q_embedding_centroids", oracle=_CENTROID_ORACLE)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, long format: (label, pos, n_vectors, centroid).

    ``posexplode`` widens each vector to (label, pos, component); the
    groupBy is a combiner aggregation, so map-side partials reduce the
    shuffle to |labels|·dim rows per task regardless of corpus size —
    the shape a 100 TB centroid/k-means-update step needs.  Component
    sums use order-independent decimal accumulation (functions/numeric)
    so the mean is deterministic under any partitioning."""
    v = _vecs(spark, sf_dir)
    comp = v.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select("label", "pos", F.col("x").cast("double").alias("x"))
    return comp.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        _centroid4().alias("centroid"),
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (storage/serving compression for vector
# corpora; per-vector symmetric absmax scaling)
# ---------------------------------------------------------------------------


@register(
    "q_embedding_quantize_int8",
    # Identical double arithmetic element-by-element: abs-max fold, then
    # round(x * 127 / maxabs) per element; all reported features integer
    # (plus the scale rounded at 9 decimals).
    oracle="""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
      FROM embeddings
    ),
    mx AS (
      SELECT vec_id, xd,
             list_reduce(list_prepend(0.0, list_transform(xd, x -> abs(x))),
                         (a, b) -> greatest(a, b)) AS maxabs
      FROM base
    ),
    q AS (
      SELECT vec_id, maxabs,
             CASE WHEN maxabs > 0
                  THEN list_transform(xd,
                                      x -> CAST(round(x * 127.0 / maxabs) AS BIGINT))
                  ELSE list_transform(xd, x -> CAST(0 AS BIGINT)) END AS qv
      FROM mx
    )
    SELECT vec_id,
           CAST(round(maxabs / 127.0, 9) AS DOUBLE) AS scale,
           CAST(list_reduce(list_prepend(0, list_transform(qv, v -> abs(v))),
                            (a, b) -> a + b) AS BIGINT) AS q_l1,
           CAST(list_reduce(list_prepend(-128, qv), (a, b) -> greatest(a, b))
                AS INT) AS q_max,
           CAST(list_reduce(list_prepend(128, qv), (a, b) -> least(a, b))
                AS INT) AS q_min
    FROM q
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization — the standard compression
    step before serving/storing a 100 TB embedding corpus (4x smaller,
    SIMD-friendly dot products downstream).

    scale = absmax/127 per vector; q_i = round(x_i/scale) in
    [-127, 127].  Entirely JVM-side higher-order functions on the scan —
    zero shuffles, zero UDFs; the DuckDB oracle replays the identical
    double arithmetic, and the emitted features (L1 mass, max/min
    quantized value) are integers so the check is exact.
    """
    v = _vecs(spark, sf_dir)
    xd = F.transform("embedding", lambda x: x.cast("double"))
    base = v.select("vec_id", xd.alias("xd"))
    maxabs = F.aggregate(
        F.transform("xd", lambda x: F.abs(x)),
        F.lit(0.0),
        lambda a, b: F.greatest(a, b),
    )
    mx = base.select("vec_id", "xd", maxabs.alias("maxabs"))
    qv = F.when(
        F.col("maxabs") > 0,
        F.transform(
            "xd", lambda x: F.round(x * 127.0 / F.col("maxabs")).cast("bigint")
        ),
    ).otherwise(F.transform("xd", lambda x: F.lit(0).cast("bigint")))
    q = mx.select("vec_id", "maxabs", qv.alias("qv"))
    return q.select(
        "vec_id",
        F.round(F.col("maxabs") / 127.0, 9).cast("double").alias("scale"),
        F.aggregate(
            F.transform("qv", lambda x: F.abs(x)),
            F.lit(0).cast("bigint"),
            lambda a, b: a + b,
        ).alias("q_l1"),
        F.aggregate(
            "qv", F.lit(-128).cast("bigint"), lambda a, b: F.greatest(a, b)
        )
        .cast("int")
        .alias("q_max"),
        F.aggregate(
            "qv", F.lit(128).cast("bigint"), lambda a, b: F.least(a, b)
        )
        .cast("int")
        .alias("q_min"),
    )


# ---------------------------------------------------------------------------
# K-means: one Lloyd iteration (assign to nearest seed, recompute means)
# ---------------------------------------------------------------------------

KMEANS_K = 8


_KMEANS_ORACLE = f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS seed_id, xd AS sd FROM v ORDER BY vec_id LIMIT {KMEANS_K}
    ),
    pairs AS (
      SELECT v.vec_id, seeds.seed_id, v.xd,
             list_reduce(list_prepend(0.0,
                 list_transform(range(1, len(v.xd) + 1),
                                i -> (v.xd[i] - sd[i]) * (v.xd[i] - sd[i]))),
                 (a, b) -> a + b) AS dist
      FROM v, seeds
    ),
    assign AS (
      SELECT vec_id, seed_id AS cluster_id, xd
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, seed_id) AS rn
            FROM pairs)
      WHERE rn = 1
    ),
    comp AS (
      SELECT cluster_id, CAST(i - 1 AS INT) AS pos, xd[i] AS x
      FROM assign, LATERAL (SELECT unnest(range(1, len(xd) + 1)) AS i)
    )
    SELECT cluster_id, pos,
           CAST(count(*) AS BIGINT) AS n_members,
           {_centroid4_sql()} AS centroid
    FROM comp GROUP BY cluster_id, pos
"""


@register("q_kmeans_one_step", oracle=_KMEANS_ORACLE)
def q_kmeans_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus:
    deterministic seeds (the ``KMEANS_K`` lowest vec_ids), nearest-seed
    assignment by squared L2, then the centroid-update means in long
    format (cluster_id, pos, n_members, centroid).

    This is the building block of the iterative loop (seed → assign →
    update → repeat), shaped the way a 100 TB run needs it:

    * the seed set is O(K) and **broadcast** — the corpus is scanned
      once and never shuffled for the assignment;
    * the arg-min is ``min(struct(dist, seed_id, xd))`` under a
      ``groupBy(vec_id)`` — a combiner aggregation, so map-side partials
      reduce K·n intermediate rows back to n before any exchange
      (ties impossible: seed_id is unique per group);
    * the update step is the same posexplode + combiner shape as
      ``q_embedding_centroids`` — shuffle is K·dim rows, independent of
      corpus size — with order-independent decimal accumulation so the
      means are deterministic under any partitioning.

    Distances are sequential left folds of ``(x-y)²`` in double, so the
    assignment's comparison keys are bit-identical to the DuckDB oracle.
    """
    v = _vecs_spread(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("xd")
    )
    seeds = (
        v.orderBy("vec_id")
        .limit(KMEANS_K)
        .select(F.col("vec_id").alias("seed_id"), F.col("xd").alias("sd"))
    )
    dist = F.aggregate(
        F.zip_with("xd", "sd", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    pairs = v.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "seed_id", "xd", dist.alias("dist")
    )
    best = pairs.groupBy("vec_id").agg(
        F.min(F.struct("dist", "seed_id", "xd")).alias("m")
    )
    assign = best.select(
        F.col("m.seed_id").alias("cluster_id"), F.col("m.xd").alias("xd")
    )
    comp = assign.select(
        "cluster_id", F.posexplode("xd").alias("pos", "x")
    )
    return comp.groupBy("cluster_id", "pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        _centroid4().alias("centroid"),
    )


# ---------------------------------------------------------------------------
# Embedding outliers: farthest members from their label centroid
# ---------------------------------------------------------------------------

OUTLIER_TOP_K = 3


_OUTLIER_ORACLE = f"""
    WITH comp AS (
      SELECT label, CAST(i - 1 AS INT) AS pos,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    ),
    cent_long AS (
      SELECT label, pos,
             {_centroid4_sql()} AS c
      FROM comp GROUP BY label, pos
    ),
    cent AS (
      SELECT label, array_agg(c ORDER BY pos) AS cv FROM cent_long GROUP BY label
    ),
    dists AS (
      SELECT e.vec_id, e.label,
             list_reduce(list_prepend(0.0,
                 list_transform(range(1, len(e.embedding) + 1),
                     i -> (CAST(e.embedding[i] AS DOUBLE) - cv[i])
                        * (CAST(e.embedding[i] AS DOUBLE) - cv[i]))),
                 (a, b) -> a + b) AS d2
      FROM embeddings e JOIN cent USING (label)
    )
    SELECT label, vec_id, CAST(rank AS INT) AS rank,
           CAST(round(sqrt(d2), 6) AS DOUBLE) AS dist
    FROM (SELECT *, row_number() OVER (PARTITION BY label
                                       ORDER BY d2 DESC, vec_id) AS rank
          FROM dists)
    WHERE rank <= {OUTLIER_TOP_K}
"""


@register("q_embedding_outliers", oracle=_OUTLIER_ORACLE)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``OUTLIER_TOP_K`` farthest vectors from their label centroid —
    the corrupt-embedding / mislabeled-cluster screen a vector corpus
    runs before training.

    Two-pass aggregate-then-broadcast-rejoin shape: pass 1 computes the
    per-label centroids with the `q_embedding_centroids` combiner plan
    (shuffle = |labels|·dim rows), reassembles them into |labels| rows
    of dim-length arrays, and **broadcasts** that tiny table back onto
    the corpus; pass 2 is a single corpus scan computing the distance
    fold plus a per-label top-k window (`WindowGroupLimit` keeps the
    heap below the exchange).  The corpus itself is scanned twice and
    shuffled only for the final top-k — at 100 TB the centroid table is
    KB-sized regardless of corpus size.

    Determinism: centroids are rounded to 4 decimals BEFORE the distance
    pass (both engines), so the fold inputs — and therefore the ranking
    keys — are bit-identical doubles.
    """
    v = _vecs(spark, sf_dir)
    comp = v.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select("label", "pos", F.col("x").cast("double").alias("x"))
    cent_long = comp.groupBy("label", "pos").agg(_centroid4().alias("c"))
    cent = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding", "cv", lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    dists = v.join(F.broadcast(cent), "label").select(
        "vec_id", "label", d2.alias("d2")
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2"), F.asc("vec_id"))
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= OUTLIER_TOP_K)
        .select(
            "label",
            "vec_id",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.sqrt("d2"), 6).cast("double").alias("dist"),
        )
    )


def kmeans(
    vecs: DataFrame,
    k: int = KMEANS_K,
    max_iter: int = 10,
    tol: float = 1e-4,
) -> tuple[DataFrame, DataFrame, int]:
    """Full Lloyd iteration loop: ``q_kmeans_one_step``'s assign/update
    shape repeated to convergence.  Returns ``(assignment, centroids,
    n_iter)`` where assignment = (vec_id, cluster_id, dist) and
    centroids = (cluster_id, cv: array<double>).

    Built for the 1000-executor case the same way the one-step query is:

    * centroids live in a k-row DataFrame **broadcast** each iteration —
      the corpus is scanned once per iteration and never shuffled for
      assignment (arg-min is a map-side-combining ``min(struct)``);
    * the convergence check reduces to ONE driver-side scalar (max
      centroid shift), the same bounded pattern as
      ``connected_components``'s convergence count;
    * the centroid frame is truncated on the lineage cadence
      (``functions/lineage``): lineage otherwise grows linearly with
      iterations and re-derives every prior assignment.

    Component means use the order-independent decimal accumulation from
    the centroid queries, so results are invariant to partitioning —
    re-running on a repartitioned corpus yields identical clusters
    (pinned by ``tests/test_llm_ops.py``).
    """
    v = vecs.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("xd")
    )
    v = v.persist()
    cent = (
        v.orderBy("vec_id")
        .limit(k)
        .select(
            F.row_number()
            .over(Window.orderBy("vec_id"))
            .cast("bigint")
            .alias("cluster_id"),
            F.col("xd").alias("cv"),
        )
    )
    dist2 = F.aggregate(
        F.zip_with("xd", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    dec = F.round(F.col("x"), 6).cast("decimal(30,6)")
    n_iter = 0
    assign = None
    gens = Generations()
    for it in range(1, max_iter + 1):
        n_iter = it
        pairs = v.crossJoin(F.broadcast(cent)).select(
            "vec_id", "cluster_id", "xd", dist2.alias("d2")
        )
        best = pairs.groupBy("vec_id").agg(
            F.min(F.struct("d2", "cluster_id", "xd")).alias("m")
        )
        assign = best.select(
            "vec_id",
            F.col("m.cluster_id").alias("cluster_id"),
            F.col("m.xd").alias("xd"),
            F.sqrt("m.d2").alias("dist"),
        )
        new_cent = (
            assign.select("cluster_id", F.posexplode("xd").alias("pos", "x"))
            .groupBy("cluster_id", "pos")
            .agg(
                (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("c")
            )
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s["c"],
                ).alias("cv")
            )
        )
        new_cent = gens.on_cadence(new_cent, it - 1, max_iter)
        # max centroid shift: k-row join, one scalar to the driver
        shift_fold = F.aggregate(
            F.zip_with("cv", "old_cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        shift_row = (
            new_cent.join(
                cent.select("cluster_id", F.col("cv").alias("old_cv")),
                "cluster_id",
            )
            .agg(F.max(F.sqrt(shift_fold)).alias("shift"))
            .collect()
        )
        cent = new_cent
        if shift_row and (shift_row[0]["shift"] or 0.0) <= tol:
            break
    v.unpersist()
    return (
        assign.select("vec_id", "cluster_id", "dist"),
        cent,
        n_iter,
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation (MRL-style): keep the first MRL_DIM dims,
# re-normalize to unit length, fixed-point encode — the cheap-retrieval
# representation for a tiered 100 TB vector index
# ---------------------------------------------------------------------------

MRL_DIM = 8  # truncated prefix length
MRL_FP = 1_000_000.0  # fixed-point scale for the emitted unit vector


@register(
    "q_embedding_mrl_truncate",
    # Identical double arithmetic: slice, ordered sum-of-squares fold,
    # sqrt, then round(x * FP / norm) per element — emitted values are
    # integers (plus the norm rounded at 9 decimals), so the check is
    # exact, mirroring q_embedding_quantize_int8.  Output is one row per
    # (vec_id, dim_idx): the driver's canonicalizer sorts columns in
    # pandas and cannot hash list cells (VERDICT r5 — the array-typed
    # first cut was the round's only driver error), so the truncated
    # unit vector is emitted exploded rather than as array<bigint>.
    oracle=f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(list_slice(embedding, 1, {MRL_DIM}),
                            x -> CAST(x AS DOUBLE)) AS xd
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, xd,
             sqrt(list_reduce(list_prepend(0.0,
                    list_transform(xd, x -> x * x)), (a, b) -> a + b)) AS nrm
      FROM base
    )
    SELECT vec_id,
           CAST(round(nrm, 9) AS DOUBLE) AS trunc_norm,
           CAST(i - 1 AS INT) AS dim_idx,
           CASE WHEN nrm > 0
                THEN CAST(round(xd[i] * {MRL_FP} / nrm) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS unit_val
    FROM n, LATERAL (SELECT unnest(range(1, len(xd) + 1)) AS i)
    """,
)
def q_embedding_mrl_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation: the first MRL_DIM dims of each
    embedding, re-normalized to unit length and fixed-point encoded,
    one output row per (vec_id, dim_idx) coordinate.

    MRL-trained embeddings keep most retrieval quality in a short
    prefix, so a tiered index stores the truncated unit vector for the
    cheap first-pass scan (MRL_DIM/64 of the bytes) and full vectors
    only for re-ranking.  Scale shape: pure in-row projection +
    posexplode on the scan — zero shuffles, zero UDFs, codegen
    throughout; the oracle replays the identical double fold, and the
    emitted coordinates are fixed-point integers so the hash check is
    exact.  The MRL_DIM-row fan-out is a model constant, not data.
    """
    v = _vecs(spark, sf_dir)
    xd = F.transform(
        F.slice("embedding", 1, MRL_DIM), lambda x: x.cast("double")
    )
    base = v.select("vec_id", xd.alias("xd"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform("xd", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
        )
    )
    n = base.select("vec_id", "xd", nrm.alias("nrm"))
    unit_fp = F.when(
        F.col("nrm") > 0,
        F.transform(
            "xd",
            lambda x: F.round(x * F.lit(MRL_FP) / F.col("nrm")).cast("bigint"),
        ),
    ).otherwise(F.transform("xd", lambda x: F.lit(0).cast("bigint")))
    return n.select(
        "vec_id",
        F.round(F.col("nrm"), 9).cast("double").alias("trunc_norm"),
        F.posexplode(unit_fp).alias("dim_idx", "unit_val"),
    ).select(
        "vec_id",
        "trunc_norm",
        F.col("dim_idx").cast("int").alias("dim_idx"),
        "unit_val",
    )


# ---------------------------------------------------------------------------
# Exact distributed Gram matrix (the PCA / covariance building block)
# ---------------------------------------------------------------------------

GRAM_SCALE = 10_000  # fixed-point units per embedding component

_GRAM_ORACLE = f"""
    WITH q AS (
      SELECT list_transform(embedding,
                 e -> CAST(floor(CAST(e AS DOUBLE) * {GRAM_SCALE} + 0.5)
                           AS BIGINT)) AS qv
      FROM embeddings
    )
    SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
           CAST(sum(qv[i] * qv[j]) AS BIGINT) AS gram_units,
           count(*) AS n
    FROM q,
         LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS i),
         LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS j)
    WHERE j >= i
    GROUP BY 1, 2
"""


@register("q_embedding_gram_matrix", oracle=_GRAM_ORACLE)
def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix of the embedding corpus, X^T X, in
    exact fixed-point units — the one-pass aggregation behind
    distributed PCA / covariance (center and eigendecompose the tiny
    D x D result on the driver; D is a model constant, not data).

    Scale shape: the naive SQL formulation explodes every row into
    D*(D+1)/2 (i, j) pairs — a 2080x row blowup at D=64 that turns a
    100 TB scan into 200 PB of shuffle input.  Here each Arrow batch
    collapses to ONE D x D partial via an integer matmul inside
    ``mapInArrow`` (classic map-side combine, like the batched sink's
    500-write amortization, sinks/firestore.py); the shuffle then
    carries #batches * 2080 tiny rows and the final agg reduces them per
    (i, j) key.  That is also why this beats a Pandas-UDF-per-pair: the
    kernel is one BLAS-shaped op per batch, not 2080 Python calls.

    Determinism: components are floored to ``GRAM_SCALE`` fixed-point
    units BEFORE multiplication, so every partial product is an exact
    int64 (|unit| <= ~2e4, squared 4e8, x10k-row batches ~ 4e12 — far
    inside int64); partials combine by integer addition, which is
    order-independent, and the final sum is decimal — bit-identical to
    DuckDB's hugeint arithmetic at any parallelism.
    """
    import numpy as np

    v = _vecs_spread(spark, sf_dir).select("embedding")

    def gram_batches(batch):
        Q = _pq_np_units(batch.column("embedding"))
        G = Q.T @ Q
        iu, ju = np.triu_indices(Q.shape[1])
        return iu, ju, G[iu, ju], np.full(len(iu), batch.num_rows)

    partial = map_batches(v, gram_batches, "i int, j int, partial long, n_batch long")
    # Accumulate as decimal (exact at any scale), project as bigint: the
    # totals fit int64 far beyond bench scale (|unit| <= ~3e4, so ~1e9
    # per product — int64 holds ~9e9 such rows per (i, j) cell), and a
    # single integer output type avoids decimal-vs-hugeint dtype drift
    # between engines' comparators.
    return partial.groupBy("i", "j").agg(
        F.sum(F.col("partial").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("gram_units"),
        F.sum("n_batch").alias("n"),
    )


# ---------------------------------------------------------------------------
# ANN via product quantization (ADC — asymmetric distance computation)
# ---------------------------------------------------------------------------

PQ_M = 8       # subspaces
PQ_SUB_D = DIM // PQ_M  # dims per subspace
PQ_K = 16      # codewords per subspace (constant — corpus-size independent)

_PQ_UNITS_SQL = (
    f"list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * {GRAM_SCALE}"
    " + 0.5) AS BIGINT))"
)

_PQ_ORACLE = f"""
    WITH u AS (
      SELECT vec_id, {_PQ_UNITS_SQL} AS qv FROM embeddings
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, qv
      FROM (SELECT vec_id, qv FROM u ORDER BY vec_id LIMIT {PQ_K})
    ),
    subspaces AS (SELECT unnest(range(0, {PQ_M})) AS m),
    assign AS (
      SELECT u.vec_id, s.m, cb.c,
             list_sum(list_transform(range(1, {PQ_SUB_D} + 1),
                 d -> (u.qv[s.m * {PQ_SUB_D} + d] - cb.qv[s.m * {PQ_SUB_D} + d])
                    * (u.qv[s.m * {PQ_SUB_D} + d] - cb.qv[s.m * {PQ_SUB_D} + d])))
                 AS dist
      FROM u, subspaces s, cb
    ),
    codes AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
        FROM assign)
      WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id AS query_id, qv FROM u
      WHERE vec_id % {QUERY_MOD} = 0 ORDER BY vec_id LIMIT {N_QUERIES}
    ),
    adc AS (
      SELECT q.query_id, x.vec_id AS neighbor_id,
             sum(list_sum(list_transform(range(1, {PQ_SUB_D} + 1),
                 d -> (q.qv[x.m * {PQ_SUB_D} + d] - cb.qv[x.m * {PQ_SUB_D} + d])
                    * (q.qv[x.m * {PQ_SUB_D} + d] - cb.qv[x.m * {PQ_SUB_D} + d]))))
                 AS adc_units
      FROM queries q, codes x JOIN cb ON x.c = cb.c
      WHERE x.vec_id <> q.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(adc_units AS BIGINT) AS adc_units
    FROM (SELECT query_id, neighbor_id, adc_units,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_units, neighbor_id) AS rank
          FROM adc)
    WHERE rank <= {ANN_K}
"""


def _pq_np_units(emb):
    """GRAM_SCALE fixed-point units (int64 [N, DIM]) of an Arrow
    ``embedding`` column.  floor(float64(e) * GRAM_SCALE + 0.5) in numpy
    is the bit-identical IEEE sequence of the Catalyst projection
    floor(cast(e as double) * scale + 0.5) and of the oracle's
    `_PQ_UNITS_SQL`; the Gram matrix quantizes the same way.  It runs
    inside the Arrow kernels and on the driver's bounded collects: an
    interpreted per-element `F.transform` lambda would run 3x per PQ leg
    (scan projection, seed-codebook TakeOrdered, query collect) on the
    family's hot path."""
    import numpy as np

    return np.floor(emb_matrix(emb) * GRAM_SCALE + 0.5).astype(np.int64)


def _pq_seed_codebook(u: DataFrame):
    """Deterministic seed codebook: the PQ_K lowest vec_ids' unit
    subvectors, as cb[k, m, d] int64 — an O(1) collect (raw embeddings,
    quantized driver-side by the same IEEE expression)."""
    cb_rows = u.orderBy("vec_id").limit(PQ_K).toArrow()
    return _pq_np_units(cb_rows["embedding"]).reshape(PQ_K, PQ_M, PQ_SUB_D)


def _pq_lloyd_refine(u: DataFrame, cb):
    """One k-means (Lloyd) step per subspace over the seed codebook.

    Distributed shape: a mapInArrow pass emits per-batch partial
    (subspace, codeword, dim) sums + member counts (<= PQ_M*PQ_K*PQ_SUB_D
    = 1024 rows per batch, constants), one keyed agg folds them, and the
    driver collects exactly those <= 1024 rows — corpus-size independent,
    mirroring q_kmeans_one_step's combiner discipline.

    Determinism: the refined centroid unit is
    floor((2*S + n) / (2*n)) — round-half-up of the exact rational mean —
    computed in IEEE double on BOTH engines (Python here, DuckDB in the
    oracle), so results agree bit-for-bit; empty clusters keep their seed
    codeword.
    """
    import math

    import numpy as np

    def partials(batch):
        x = _pq_np_units(batch.column("embedding")).reshape(
            batch.num_rows, PQ_M, PQ_SUB_D
        )
        d_bkm = ((x[:, None, :, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        codes = d_bkm.argmin(axis=1)  # first-min tie-break, as encode
        s = np.zeros((PQ_M, PQ_K, PQ_SUB_D), dtype=np.int64)
        n = np.zeros((PQ_M, PQ_K), dtype=np.int64)
        for m in range(PQ_M):  # PQ_M=8 iterations of vector ops
            np.add.at(s[m], codes[:, m], x[:, m, :])
            np.add.at(n[m], codes[:, m], 1)
        # Emit every dim of every NON-EMPTY cluster: filtering on
        # membership counts only.  Filtering on s + n != 0 (the first
        # cut) silently dropped any (m, c, d) cell whose signed
        # dim-sum equals -count (reachable: units are signed), making
        # the refined centroid batch-partitioning-dependent.
        mi, ci, di = np.nonzero(np.broadcast_to(n[:, :, None] != 0, s.shape))
        return mi, ci, di, s[mi, ci, di], n[mi, ci]

    agg = (
        map_batches(u.select("embedding"), partials, "m int, c int, d int, s long, n long")
        .groupBy("m", "c", "d")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )  # <= 1024 rows — a model constant
    refined = cb.copy()
    for r in agg:
        if r["n"] > 0:
            refined[r["c"], r["m"], r["d"]] = math.floor(
                (2.0 * r["s"] + r["n"]) / (2.0 * r["n"])
            )
    return refined


@shared_kernel("pq_trained_codebook", ("embeddings",))
def pq_trained_codebook(spark: SparkSession, sf_dir: str):
    """Memoized seed+one-Lloyd-step PQ codebook (cb[k, m, d] int64).

    The Lloyd refinement is a full-corpus mapInArrow pass; memoized, it
    runs once per session and fixture instead of at every
    q_ann_pq_trained construction.  The codebook is a
    PQ_K x PQ_M x PQ_SUB_D int64 array (~16 KiB of driver state).
    q_ann_pq's seed codebook stays un-memoized: its O(1) seed collect is
    the thing under measurement."""
    u = _vecs_spread(spark, sf_dir).select("vec_id", "embedding")
    return _pq_lloyd_refine(u, _pq_seed_codebook(u))


def _pq_adc_scored(spark: SparkSession, sf_dir: str, trained: bool = False):
    """Shared PQ machinery: returns (vector frame, ADC-scored pairs).

    One Arrow-batched numpy kernel does quantize + encode + ADC +
    per-batch top-k pruning in a single zero-shuffle pass over the
    corpus scan (the GRAM_SCALE quantization runs in the kernel, see
    ``_pq_np_units``; the ``q_embedding_gram_matrix`` pattern: three
    BLAS-shaped array ops per batch instead of an interpreted per-row
    Catalyst `F.aggregate` tree, which was the slowest headline query).  Used by the plain top-k
    (q_ann_pq) and the two-stage exact rerank (q_ann_pq_rerank).

    Driver-side state is corpus-size independent: the codebook is PQ_K
    rows (a model constant) and the query set is the same bounded
    <= N_QUERIES collect that ``q_knn_bruteforce_numpy`` documents —
    both ship to executors as a ~25 KiB closure, so the corpus pass
    joins nothing and shuffles nothing.

    Pruning discipline: ``scored`` is a per-batch top-KEEP superset of
    the global per-query top-KEEP (KEEP = max(PQ_SHORTLIST, ANN_K)).
    ADC units are exact int64, so a batch-local `<= k-th smallest`
    cutoff loses nothing: any row in the GLOBAL top-KEEP by
    (adc_units, neighbor_id) is preceded by fewer than KEEP rows in its
    own batch, hence survives; ties at the cutoff are all kept and the
    downstream window resolves them by neighbor_id.  No float ever
    appears, so no `_UNIT_MARGIN`-style guard is needed.
    """
    import numpy as np

    u = _vecs_spread(spark, sf_dir).select("vec_id", "embedding")
    # trained path reads the session-memoized codebook (retrains only on
    # a cold cache); the seed path stays an O(1) collect
    cb = pq_trained_codebook(spark, sf_dir) if trained else _pq_seed_codebook(u)
    q_rows = (
        u.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(N_QUERIES)
        .toArrow()
    )  # bounded query set — the documented N_QUERIES limitation
    q_ids = q_rows["vec_id"].to_numpy()
    qmat = _pq_np_units(q_rows["embedding"]).reshape(
        q_rows.num_rows, PQ_M, PQ_SUB_D
    )
    # The ADC trick: precompute PER QUERY the PQ_M x PQ_K table of
    # subspace distances to every codeword (128 ints/query, once), so
    # scoring a corpus vector is PQ_M table lookups, not a fresh
    # DIM-dimensional distance.  dtab[q, m, k].
    dtab = (
        ((qmat[:, None, :, :] - cb[None, :, :, :]) ** 2)
        .sum(axis=3)
        .transpose(0, 2, 1)
        .copy()
    )
    keep = max(PQ_SHORTLIST, ANN_K)
    sentinel = np.iinfo(np.int64).max

    def adc_batches(batch):
        ids = batch.column("vec_id").to_numpy()
        x = _pq_np_units(batch.column("embedding")).reshape(
            batch.num_rows, PQ_M, PQ_SUB_D
        )
        # encode: nearest codeword per subspace; np.argmin returns
        # the FIRST minimum — lowest codeword id on ties, matching
        # the oracle's row_number() ORDER BY dist, c.
        d_bkm = ((x[:, None, :, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        codes = d_bkm.argmin(axis=1)  # [B, M]
        # ADC lookup: scores[q, b] = sum_m dtab[q, m, codes[b, m]]
        scores = dtab[:, np.arange(PQ_M)[None, :], codes].sum(axis=2)
        self_mask = q_ids[:, None] == ids[None, :]
        scores[self_mask] = sentinel
        if scores.shape[1] > keep:
            kth = np.partition(scores, keep - 1, axis=1)[:, keep - 1]
            emit = (scores <= kth[:, None]) & ~self_mask
        else:
            emit = ~self_mask
        qi, bi = np.nonzero(emit)
        return q_ids[qi], ids[bi], scores[qi, bi]

    scored = map_batches(u, adc_batches, "query_id long, neighbor_id long, adc_units long")
    return u, scored


@register("q_ann_pq", oracle=_PQ_ORACLE)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via product quantization: each vector is encoded as
    ``PQ_M`` codeword ids (one per 8-dim subspace, nearest of ``PQ_K``
    fixed codewords); queries rank the corpus by asymmetric distance
    (exact query subvector vs the neighbor's codeword) — the
    IVF/LSH/PQ triad's third leg, trading recall for an 8-byte-per-
    vector index.

    Scale design (the q_ann_ivf lesson, VERDICT r3): the codebook is
    CONSTANT-size — PQ_M x PQ_K x PQ_SUB_D = 1024 integers from the
    ``PQ_K`` lowest vec_ids — so the encode stage is a zero-shuffle map
    over the scan with the codebook inlined as a literal (no join at
    all), at ANY corpus size.  Encoded vectors are PQ_M small ints: the
    ADC stage touches codes, never raw vectors, which is the entire
    point of PQ at 100 TB (the scan after encode reads ~1/32 the bytes).
    The bounded query set (<= N_QUERIES) broadcasts as in
    q_knn_bruteforce; per-query ranking is a window top-k.

    Determinism: all arithmetic in GRAM_SCALE fixed-point int64 units —
    encode argmin tie-breaks to the lowest codeword id
    (``array_position`` returns the FIRST minimum), ADC ties break by
    neighbor_id; no float appears anywhere.
    """
    u, scored = _pq_adc_scored(spark, sf_dir)
    return _pq_topk(scored)


def _pq_topk(scored: DataFrame) -> DataFrame:
    return _top_per_query(scored, ANN_K, F.asc("adc_units")).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("adc_units").cast("bigint").alias("adc_units"),
    )


def _pq_trained_oracle() -> str:
    """The PQ oracle with the codebook refined by one Lloyd step.

    The refined centroid unit floor((2*S + n) / (2*n)) is round-half-up
    of the exact rational mean computed in IEEE double — bit-identical
    between DuckDB here and Python in ``_pq_lloyd_refine``.
    """
    sub_d, m_n, k_n = PQ_SUB_D, PQ_M, PQ_K
    return f"""
    WITH u AS (
      SELECT vec_id, {_PQ_UNITS_SQL} AS qv FROM embeddings
    ),
    cb0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, qv
      FROM (SELECT vec_id, qv FROM u ORDER BY vec_id LIMIT {k_n})
    ),
    subspaces AS (SELECT unnest(range(0, {m_n})) AS m),
    dims AS (SELECT unnest(range(1, {sub_d} + 1)) AS d),
    assign0 AS (
      SELECT u.vec_id, s.m, cb0.c,
             list_sum(list_transform(range(1, {sub_d} + 1),
                 d -> (u.qv[s.m * {sub_d} + d] - cb0.qv[s.m * {sub_d} + d])
                    * (u.qv[s.m * {sub_d} + d] - cb0.qv[s.m * {sub_d} + d])))
                 AS dist
      FROM u, subspaces s, cb0
    ),
    codes0 AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
        FROM assign0)
      WHERE rn = 1
    ),
    sums AS (
      SELECT x.m, x.c, dims.d,
             sum(u.qv[x.m * {sub_d} + dims.d]) AS s, count(*) AS n
      FROM codes0 x JOIN u USING (vec_id) CROSS JOIN dims
      GROUP BY x.m, x.c, dims.d
    ),
    refined AS (
      SELECT m, c,
             list(CAST(floor((2.0 * s + n) / (2.0 * n)) AS BIGINT)
                  ORDER BY d) AS cw
      FROM sums GROUP BY m, c
    ),
    cb1 AS (
      SELECT s.m, cb0.c,
             coalesce(r.cw,
                      list_transform(range(1, {sub_d} + 1),
                          d -> cb0.qv[s.m * {sub_d} + d])) AS cw
      FROM subspaces s CROSS JOIN cb0
      LEFT JOIN refined r ON r.m = s.m AND r.c = cb0.c
    ),
    assign1 AS (
      SELECT u.vec_id, b.m, b.c,
             list_sum(list_transform(range(1, {sub_d} + 1),
                 d -> (u.qv[b.m * {sub_d} + d] - b.cw[d])
                    * (u.qv[b.m * {sub_d} + d] - b.cw[d]))) AS dist
      FROM u, cb1 b
    ),
    codes1 AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
        FROM assign1)
      WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id AS query_id, qv FROM u
      WHERE vec_id % {QUERY_MOD} = 0 ORDER BY vec_id LIMIT {N_QUERIES}
    ),
    adc AS (
      SELECT q.query_id, x.vec_id AS neighbor_id,
             sum(list_sum(list_transform(range(1, {sub_d} + 1),
                 d -> (q.qv[x.m * {sub_d} + d] - b.cw[d])
                    * (q.qv[x.m * {sub_d} + d] - b.cw[d]))))
                 AS adc_units
      FROM queries q, codes1 x JOIN cb1 b ON b.m = x.m AND b.c = x.c
      WHERE x.vec_id <> q.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(adc_units AS BIGINT) AS adc_units
    FROM (SELECT query_id, neighbor_id, adc_units,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_units, neighbor_id) AS rank
          FROM adc)
    WHERE rank <= {ANN_K}
"""


@register("q_ann_pq_trained", oracle=_pq_trained_oracle())
def q_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ann_pq with a TRAINED codebook: one k-means (Lloyd) step per
    subspace refines the seed codewords toward the actual cluster means
    before encoding (the standard PQ training recipe; more steps = the
    same machinery iterated).

    Same scale shape as q_ann_pq — the training pass adds one
    constant-output (<= 1024-row) partial-sum agg over the corpus, and
    everything downstream is unchanged.  Recall improvement vs the seed
    codebook is measured (not assumed) in ``q_ann_recall`` and pinned by
    a pytest.
    """
    u, scored = _pq_adc_scored(spark, sf_dir, trained=True)
    return _pq_topk(scored)


_RECALL_ORACLE = f"""
    WITH exact_all AS ({_KNN_ORACLE}),
    qs AS (SELECT DISTINCT query_id FROM exact_all),
    exact AS (SELECT query_id, neighbor_id FROM exact_all
              WHERE rank <= {ANN_K}),
    lsh_all AS ({_ANN_ORACLE}),
    ivf_all AS ({_IVF_ORACLE}),
    pq_all AS ({_PQ_ORACLE}),
    pqt_all AS ({_pq_trained_oracle()}),
    m AS (
      SELECT 'lsh' AS method, query_id, neighbor_id
      FROM lsh_all JOIN qs USING (query_id)
      UNION ALL
      SELECT 'ivf', query_id, neighbor_id FROM ivf_all JOIN qs USING (query_id)
      UNION ALL
      SELECT 'pq', query_id, neighbor_id FROM pq_all JOIN qs USING (query_id)
      UNION ALL
      SELECT 'pq_trained', query_id, neighbor_id
      FROM pqt_all JOIN qs USING (query_id)
    ),
    methods AS (
      SELECT unnest(['lsh', 'ivf', 'pq', 'pq_trained']) AS method
    ),
    hit AS (
      SELECT m.method, count(*) AS hits
      FROM m JOIN exact USING (query_id, neighbor_id)
      GROUP BY m.method
    )
    SELECT methods.method,
           CAST(coalesce(hit.hits, 0) AS BIGINT) AS hits,
           {round_ratio_sql('coalesce(hit.hits, 0)',
                            f'((SELECT count(*) FROM qs) * {ANN_K})', 6)}
               AS recall
    FROM methods LEFT JOIN hit USING (method)
"""


def _knn_exact_pairs_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_knn_bruteforce``'s exact output via the Arrow/numpy fast
    path — recall's ground-truth builder (r17, guide §4.2).

    The registered ``q_knn_bruteforce`` stays the interpreted JVM-fold
    reference (round-4 policy); this twin exists ONLY so q_ann_recall's
    eager ground-truth checkpoint does not pay ~4 s of interpreted
    per-pair fold calls for the identical rowset.  Unlike
    ``q_knn_bruteforce_numpy`` (which ranks by ROUNDED sim — a
    different, also-oracled ordering), this kernel reproduces the RAW
    float ordering bit-identically: ``_pairwise_sims`` performs the
    oracle's sequential dimension fold (same IEEE additions, same
    order), and the per-batch prune is ``_knn_prune`` with margin 0 —
    exact, every tie at the k-th value survives, and a NaN sim is kept
    as Spark's descending order ranks it first — so the final window
    re-ranks by (raw sim desc, neighbor_id) exactly like the interpreted
    plan.  Equality with q_knn_bruteforce is asserted by
    tests/test_round17_perf.py::test_recall_ground_truth_matches_bruteforce,
    tests/test_similarity.py (with a NaN vector) and q_ann_recall's own
    oracle (its CTE is the brute-force SQL).
    """
    v = with_norm(_vecs_spread(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    return _top_per_query(
        _broadcast_knn(spark, v, rounded=False), KNN_K, F.desc("sim")
    ).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("sim", 6).cast("double").alias("cosine"),
    )


@register("q_ann_recall", oracle=_RECALL_ORACLE)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{ANN_K} of every ANN method against exact brute-force
    ground truth over the bounded query set — the quality axis that
    turns "ANN runs" into "ANN is measurably good" (VERDICT r4 item 6).

    Itself a join + agg: each method's top-k pairs semi-join the exact
    top-k pairs; recall = hits / (|queries| * k).  All inputs are
    already-registered, oracle-checked queries, so this both measures
    quality and cross-checks the four pipelines against each other.
    """
    from functools import reduce

    # Materialized once: the ground truth feeds qs, exact, and the four
    # per-method semi-joins — without truncation each reference re-runs
    # the brute-force scan.  Size is <= N_QUERIES * KNN_K rows.
    # r17: built by the vectorized exact twin (bit-identical rowset to
    # q_knn_bruteforce, see _knn_exact_pairs_vectorized — eager build
    # 4.1 -> ~1.1 s isolated); the registered interpreted query itself
    # is untouched.
    exact_all = _knn_exact_pairs_vectorized(spark, sf_dir).localCheckpoint(
        eager=True
    )
    qs = exact_all.select("query_id").distinct()
    exact = exact_all.filter(F.col("rank") <= ANN_K).select(
        "query_id", "neighbor_id"
    )
    denom = qs.agg((F.count(F.lit(1)) * ANN_K).alias("denom"))
    parts = []
    for name, fn in (
        ("lsh", q_ann_lsh),
        ("ivf", q_ann_ivf),
        ("pq", q_ann_pq),
        ("pq_trained", q_ann_pq_trained),
    ):
        res = (
            fn(spark, sf_dir)
            .select("query_id", "neighbor_id")
            .join(qs, "query_id", "left_semi")
        )
        parts.append(
            res.join(exact, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).alias("hits"))
            .select(F.lit(name).alias("method"), "hits")
        )
    hits = reduce(lambda a, b: a.unionByName(b), parts)
    return hits.crossJoin(F.broadcast(denom)).select(
        "method",
        F.col("hits").cast("bigint").alias("hits"),
        round_ratio("hits", "denom", 6).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Co-grouped exact kNN: UNBOUNDED query set (no broadcast, no collect)
# ---------------------------------------------------------------------------

KNN_QB = 4  # query blocks; at scale pick so |Q|/QB fits one task's memory
KNN_CB = 4  # corpus blocks; |C|/CB rows per cogroup side

_KNN_COGROUP_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} = 0),
    pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             round({dot_sql('q.embedding', 'v.embedding')} / (q.vnorm * v.vnorm), 6)
                 AS sim
      FROM q JOIN v ON q.vec_id <> v.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(sim AS DOUBLE) AS cosine
    FROM ranked WHERE rank <= {KNN_K}
"""


@register("q_knn_bruteforce_cogrouped", oracle=_KNN_COGROUP_ORACLE)
def q_knn_bruteforce_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-K with an UNBOUNDED query set — the distributed
    twin of ``q_knn_bruteforce_numpy`` for when the queries are a table,
    not a broadcastable list (the limitation N_QUERIES documents).

    Bipartite block-pair shape (the ``q_dedup_embedding_cosine``
    pattern, generalized): queries replicate to ``KNN_CB`` corpus
    blocks, corpus rows to ``KNN_QB`` query blocks, and each (qb, cb)
    cogroup runs one BLAS matmul over |Q|/QB x |C|/CB rows — per-task
    memory shrinks with the block grid while total flops stay the
    inherent Q x C.  Each cogroup emits only its pruned per-query top-K
    (``_knn_batch``, the broadcast kernel's batch step, with the
    `_UNIT_MARGIN` float-boundary guard); the global merge window
    re-ranks the K*CB survivors per query under decimal F.round
    semantics, so the result is bit-identical to the single-node oracle.
    Nothing is collected or broadcast at any corpus or query size.
    """
    # Two independent scans: deriving both cogroup children from ONE
    # DataFrame makes DeduplicateRelations re-alias the right child's
    # columns, and the kernel then receives a table without the
    # original names (observed KeyError: 'vec_id' on Spark 4.1).
    v = with_norm(_vecs_spread(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    v2 = with_norm(_vecs_spread(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    queries = v.filter(F.col("vec_id") % QUERY_MOD == 0)
    # qb must be decorrelated from the QUERY_MOD id stride (vec_id % KNN_QB
    # would populate only gcd-compatible blocks); a hash spreads queries
    # across the full (qb, cb) grid so per-task load matches the design.
    q_repl = queries.withColumn(
        "qb", F.pmod(F.xxhash64("vec_id"), F.lit(KNN_QB)).cast("int")
    ).withColumn("cb", F.explode(F.sequence(F.lit(0), F.lit(KNN_CB - 1))))
    c_repl = v2.withColumn("cb", (F.col("vec_id") % KNN_CB).cast("int")) \
        .withColumn("qb", F.explode(F.sequence(F.lit(0), F.lit(KNN_QB - 1))))

    def block_kernel(qt, ct):
        if not (qt.num_rows and ct.num_rows):
            return [(), (), ()]
        return _knn_batch(*_vec_arrays(ct), *_vec_arrays(qt), KNN_K, rounded=True)

    blocks = q_repl.groupby("qb", "cb").cogroup(c_repl.groupby("qb", "cb"))
    partial = apply_groups(blocks, block_kernel, _KNN_SCHEMA)
    rounded = F.round("sim", 6)
    return _top_per_query(partial, KNN_K, rounded.desc()).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        rounded.cast("double").alias("cosine"),
    )


# ---------------------------------------------------------------------------
# Two-stage ANN: PQ shortlist -> exact cosine rerank (the serving pattern)
# ---------------------------------------------------------------------------

PQ_SHORTLIST = 20  # candidates per query surviving the coarse ADC stage

_PQ_RERANK_ORACLE = f"""
    WITH u AS (
      SELECT vec_id, {_PQ_UNITS_SQL} AS qv FROM embeddings
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, qv
      FROM (SELECT vec_id, qv FROM u ORDER BY vec_id LIMIT {PQ_K})
    ),
    subspaces AS (SELECT unnest(range(0, {PQ_M})) AS m),
    assign AS (
      SELECT u.vec_id, s.m, cb.c,
             list_sum(list_transform(range(1, {PQ_SUB_D} + 1),
                 d -> (u.qv[s.m * {PQ_SUB_D} + d] - cb.qv[s.m * {PQ_SUB_D} + d])
                    * (u.qv[s.m * {PQ_SUB_D} + d] - cb.qv[s.m * {PQ_SUB_D} + d])))
                 AS dist
      FROM u, subspaces s, cb
    ),
    codes AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
        FROM assign)
      WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id AS query_id, qv FROM u
      WHERE vec_id % {QUERY_MOD} = 0 ORDER BY vec_id LIMIT {N_QUERIES}
    ),
    adc AS (
      SELECT q.query_id, x.vec_id AS neighbor_id,
             sum(list_sum(list_transform(range(1, {PQ_SUB_D} + 1),
                 d -> (q.qv[x.m * {PQ_SUB_D} + d] - cb.qv[x.m * {PQ_SUB_D} + d])
                    * (q.qv[x.m * {PQ_SUB_D} + d] - cb.qv[x.m * {PQ_SUB_D} + d]))))
                 AS adc_units
      FROM queries q, codes x JOIN cb ON x.c = cb.c
      WHERE x.vec_id <> q.query_id
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_units, neighbor_id) AS srank
        FROM adc)
      WHERE srank <= {PQ_SHORTLIST}
    ),
    v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
          FROM embeddings),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             round({dot_sql('qv.embedding', 'nv.embedding')}
                   / (qv.vnorm * nv.vnorm), 6) AS sim
      FROM shortlist s
      JOIN v qv ON qv.vec_id = s.query_id
      JOIN v nv ON nv.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(sim AS DOUBLE) AS cosine
    FROM (SELECT query_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rank
          FROM exact)
    WHERE rank <= {ANN_K}
"""


@register("q_ann_pq_rerank", oracle=_PQ_RERANK_ORACLE)
def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN, the production serving pattern: the PQ/ADC stage
    shortlists ``PQ_SHORTLIST`` candidates per query from compressed
    codes (cheap, corpus-wide), then ONLY those pairs are reranked with
    the exact cosine on raw embeddings — full precision where it
    matters, at shortlist (not corpus) cost.

    Scale shape: stage one is q_ann_pq's zero-shuffle encode + bounded
    query broadcast; the rerank joins Q x PQ_SHORTLIST pairs (tiny)
    back to the vector table on vec_id — two keyed joins that touch
    raw embeddings for the shortlist ONLY.  Determinism: the shortlist
    ranks in exact integer units (ties by neighbor_id); the rerank
    ranks by 6-dp-rounded cosine with the same tie-break — both stages
    reproducible on any engine.
    """
    u, scored = _pq_adc_scored(spark, sf_dir)
    shortlist = _top_per_query(
        scored, PQ_SHORTLIST, F.asc("adc_units"), "srank"
    ).select("query_id", "neighbor_id")
    # r17 (VERDICT r16 item 1): the rerank-side corpus read reverts the
    # r16 `_vecs_spread` — only O(queries x PQ_SHORTLIST) rows survive
    # these keyed joins, so the per-row work after the scan is trivial
    # and the spread's exchange bought nothing but task overhead (bench
    # 0.48 -> ~1.0 s across both r16 closing runs; isolated A/B this
    # round: 0.91 -> 0.69 s med after the revert.  The ADC stage inside
    # `_pq_adc_scored` keeps its spread — that one feeds the real
    # per-row encode work).  At any real layout the spread is a no-op,
    # so the revert changes nothing at scale.
    v = with_norm(_vecs(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    # Unfiltered: the keyed join with the shortlist picks the query rows.
    qv = v.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("vnorm").alias("q_norm"),
    )
    nv = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("vnorm").alias("n_norm"),
    )
    exact = (
        shortlist.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_emb"), F.col("n_emb"))
                / (F.col("q_norm") * F.col("n_norm")),
                6,
            ).alias("sim"),
        )
    )
    return _top_per_query(exact, ANN_K, F.desc("sim")).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("sim").cast("double").alias("cosine"),
    )


# ---------------------------------------------------------------------------
# Power iteration on the Gram matrix: distributed top-eigenvector estimate
# ---------------------------------------------------------------------------

PI_SCALE = 1_000_000  # fixed-point units for normalized eigenvector components

_POWER_ITER_ORACLE = f"""
    WITH gram AS ({_GRAM_ORACLE}),
    full_g AS (
      SELECT i, j, gram_units FROM gram
      UNION ALL
      SELECT j AS i, i AS j, gram_units FROM gram WHERE i <> j
    ),
    v1 AS (
      SELECT i, CAST(sum(gram_units) AS DECIMAL(38,0)) AS v
      FROM full_g GROUP BY i
    ),
    w1 AS (
      SELECT i, CAST(round(CAST(v AS DOUBLE) * {PI_SCALE}
                     / (SELECT max(abs(CAST(v AS DOUBLE))) FROM v1), 0)
                 AS BIGINT) AS w
      FROM v1
    ),
    v2 AS (
      SELECT g.i, CAST(sum(CAST(g.gram_units AS DECIMAL(38,0)) * w1.w)
                       AS DECIMAL(38,0)) AS v
      FROM full_g g JOIN w1 ON w1.i = g.j GROUP BY g.i
    ),
    w2 AS (
      SELECT i, CAST(round(CAST(v AS DOUBLE) * {PI_SCALE}
                     / (SELECT max(abs(CAST(v AS DOUBLE))) FROM v2), 0)
                 AS BIGINT) AS w
      FROM v2
    )
    SELECT i, w AS eig_unit FROM w2
"""


@register("q_embedding_power_iteration", oracle=_POWER_ITER_ORACLE)
def q_embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-iteration steps toward X^T X's top eigenvector — the
    distributed-PCA building block, riding entirely on the Gram matrix
    query (the ONLY corpus pass; everything after operates on the
    constant DIM x DIM = 64x64 frame, so iteration cost is
    corpus-independent).

    Determinism without floats where it matters: matrix-vector products
    accumulate exact int64·int64 terms in decimal(38,0); only the
    per-step normalization (infinity norm → {PI_SCALE}-unit fixed
    point) touches IEEE doubles, computed identically on both engines.
    Start vector = all-ones, so step 1 is the Gram row sums.  More
    steps = the same two stages repeated.
    """
    # Materialize the Gram matrix ONCE: it is referenced by both union
    # branches and both matvec joins, and without truncation Catalyst
    # re-derives the corpus aggregation for every reference (measured 12
    # scans).  The checkpointed frame is a constant DIM*(DIM+1)/2 rows.
    gram = (
        q_embedding_gram_matrix(spark, sf_dir)
        .select("i", "j", "gram_units")
        .localCheckpoint(eager=True)
    )
    full_g = gram.unionByName(
        gram.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "gram_units"
        )
    )
    v1 = full_g.groupBy("i").agg(
        F.sum(F.col("gram_units").cast("decimal(38,0)")).alias("v")
    )

    def normalize(v: DataFrame) -> DataFrame:
        m = v.agg(F.max(F.abs(F.col("v").cast("double"))).alias("m"))
        return v.crossJoin(F.broadcast(m)).select(
            "i",
            F.round(F.col("v").cast("double") * PI_SCALE / F.col("m"), 0)
            .cast("bigint")
            .alias("w"),
        )

    w1 = normalize(v1)
    v2 = (
        full_g.join(w1.select(F.col("i").alias("j"), "w"), "j")
        .groupBy("i")
        .agg(F.sum(F.col("gram_units").cast("decimal(38,0)") * F.col("w")).alias("v"))
    )
    w2 = normalize(v2)
    return w2.select("i", F.col("w").alias("eig_unit"))


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two ANN retrievers (hybrid retrieval)
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)

_RRF_ORACLE = f"""
    WITH lsh AS ({_ANN_ORACLE}),
    ivf AS ({_IVF_ORACLE}),
    fused AS (
      SELECT coalesce(l.query_id, i.query_id) AS query_id,
             coalesce(l.neighbor_id, i.neighbor_id) AS neighbor_id,
             coalesce(1.0 / ({RRF_K} + l.rank), 0)
               + coalesce(1.0 / ({RRF_K} + i.rank), 0) AS score,
             (CASE WHEN l.rank IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN i.rank IS NOT NULL THEN 1 ELSE 0 END) AS n_lists
      FROM lsh l
      FULL OUTER JOIN ivf i
        ON l.query_id = i.query_id AND l.neighbor_id = i.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, n_lists, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS fused_rank
      FROM fused
    )
    SELECT query_id, neighbor_id,
           CAST(fused_rank AS INT) AS fused_rank,
           CAST(n_lists AS INT) AS n_lists,
           CAST(round(score, 9) AS DOUBLE) AS rrf_score
    FROM ranked WHERE fused_rank <= {ANN_K}
"""


@register("q_ann_rrf_fusion", oracle=_RRF_ORACLE)
def q_ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the LSH and IVF ANN rankings per query by
    reciprocal-rank fusion — score = Σ 1/(RRF_K + rank) over the lists
    that retrieved the pair — the standard way to combine retrievers
    with incomparable score scales (no score normalization needed, only
    ranks).

    Scale shape: both inputs are already rank-truncated to ANN_K rows
    per query, so the fusion is a full-outer equi-join + window over
    O(queries · k) rows — corpus size never appears.  Determinism: the
    score is a fixed two-term IEEE sum (coalesced addends in a fixed
    order), identical in DuckDB, so the (score DESC, neighbor_id)
    window order agrees bit-for-bit; rounding to 9 dp happens only at
    emit."""
    lsh = q_ann_lsh(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("rank_lsh")
    )
    ivf = q_ann_ivf(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("rank_ivf")
    )
    fused = lsh.join(ivf, ["query_id", "neighbor_id"], "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_lsh")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_ivf")), F.lit(0.0))
    n_lists = (
        F.when(F.col("rank_lsh").isNotNull(), 1).otherwise(0)
        + F.when(F.col("rank_ivf").isNotNull(), 1).otherwise(0)
    )
    scored = fused.select(
        "query_id", "neighbor_id", score.alias("score"), n_lists.alias("n_lists")
    )
    return _top_per_query(scored, ANN_K, F.desc("score"), "fused_rank").select(
        "query_id",
        "neighbor_id",
        F.col("fused_rank").cast("int").alias("fused_rank"),
        F.col("n_lists").cast("int").alias("n_lists"),
        F.round("score", 9).cast("double").alias("rrf_score"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape): coarse cells, then within-cell near-dup
# ---------------------------------------------------------------------------

SEM_TAU = 0.40  # within-cell cosine at/above this marks the higher id a dup
# (the synthetic embeddings are near-orthogonal — within-cell max is ~0.47
# at sf0.01 — so the fixture threshold sits at the distribution tail to
# exercise real drops; a production corpus with true paraphrase dups would
# run this at 0.9+)

# SemDeDup's scale knob (VERDICT r6 item 6): the pair stage costs
# Σ|cell|², so a CONSTANT cell count means mean cell size n/C — and
# within-cell work O((n/C)²) — grows with the corpus.  The knob targets
# CELL SIZE instead: cells(n) = 2^ceil(log2(max(n / SEM_TARGET_CELL,
# IVF_C))), a deterministic power of two computed from count(*)
# identically in Spark (Python math) and DuckDB (power/ceil/log2 —
# pow-2 boundaries are IEEE-exact in both).  Mean cell size is then
# pinned ≤ SEM_TARGET_CELL for any corpus, making Σ|cell|² ≈
# n·SEM_TARGET_CELL — LINEAR in n — while the codebook stays O(cells)
# driver state (2 M cells even at 100 TB / ~128 B docs: still a
# broadcastable few-hundred-MB worst case, or shard the codebook by
# coarse hash at that point).  At the fixtures: 500 rows → 64 cells
# (floor engages), 2000 rows → 128 cells (the adaptive path genuinely
# exercises at sf0.1).
SEM_TARGET_CELL = 16


def sem_n_cells(n_rows: int) -> int:
    import math

    return int(2 ** math.ceil(math.log2(max(n_rows / SEM_TARGET_CELL, float(IVF_C)))))


_SEM_NC_SQL = (
    f"CAST(power(2, ceil(log2(greatest(CAST(count(*) AS DOUBLE)"
    f" / {SEM_TARGET_CELL}, {IVF_C})))) AS BIGINT)"
)

_SEM_CENT_SQL = f"""
      SELECT vec_id AS cent_id, embedding AS c_emb, vnorm AS c_norm
      FROM (SELECT vec_id, embedding, vnorm,
                   row_number() OVER (ORDER BY {_CENT_HASH_SQL}, vec_id) AS crn
            FROM v)
      WHERE crn <= (SELECT ncells FROM nc)
"""

_SEMDEDUP_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    nc AS (SELECT {_SEM_NC_SQL} AS ncells FROM v),
    cent AS ({_SEM_CENT_SQL}),
    assign AS ({_ivf_sql()}),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.vnorm * b.vnorm)
            >= {SEM_TAU}
    )
    SELECT s.vec_id, s.cell,
           (d.vec_id IS NULL) AS keep
    FROM assign s LEFT JOIN dups d ON d.vec_id = s.vec_id
"""


@register("q_dedup_semantic", oracle=_SEMDEDUP_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, the SemDeDup recipe (Abbas et al. 2023): assign
    every embedding to a coarse cluster (the IVF quantizer's constant
    {IVF_C}-centroid codebook — reused, not retrained), then within each
    cluster drop every vector that has a LOWER-id neighbor at cosine >=
    {SEM_TAU}.  The keep/drop ledger is the curation deliverable: near-
    duplicate *meanings* (paraphrases, re-crawls, boilerplate variants)
    collapse to one exemplar even when their text hashes differ.

    Scale shape: assignment is the ``ivf_assignments`` broadcast pass
    (O(cells) state, one corpus scan); pairing is an equi-join keyed on
    cell, so compute is Σ|cell|² — the embedding-cosine family's
    documented within-block quadratic.  The cell count is NOT a
    constant: ``sem_n_cells(count)`` targets a fixed CELL SIZE
    ({SEM_TARGET_CELL}), so cells grow with the corpus and Σ|cell|²
    stays ~n·{SEM_TARGET_CELL} — linear — instead of O((n/C)²) (VERDICT
    r6 item 6; both engines derive the identical power-of-two count
    from count(*)).  The >= τ filter compares raw IEEE doubles both
    engines compute identically, the established near-dup contract.

    The assignment frame persists: it feeds BOTH pair sides and the
    final ledger — without the cache the corpus x IVF_C assignment
    scan would run three times (the wvec/TF-IDF discipline; harnesses
    clearCache after each query).  The codebook-sizing ``count()`` is
    the one driver-side scalar a LIMIT-style parameter needs; ``v`` is
    persisted FIRST so that action doubles as the cache build and the
    real job re-reads the cached vectors instead of re-running the
    normalization scan (ADVICE r7)."""
    v = (
        with_norm(_vecs_spread(spark, sf_dir))
        .select("vec_id", "embedding", "vnorm")
        .persist()
    )
    cells = sem_n_cells(v.count())
    assign = ivf_assignments(v, n_cells=cells).persist()
    a = assign.select(
        F.col("cell").alias("cell_a"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("vnorm").alias("norm_a"),
    )
    b = assign.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("vnorm").alias("norm_b"),
    )
    sim = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    dups = (
        a.join(b, (F.col("cell_a") == F.col("cell_b")) & (F.col("id_a") < F.col("id_b")))
        .filter(sim >= SEM_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assign.select("vec_id", "cell")
        .join(dups, "vec_id", "left")
        .select("vec_id", "cell", F.col("is_dup").isNull().alias("keep"))
    )


# ---------------------------------------------------------------------------
# Spectral projection: per-vector score along the dominant eigenvector
# ---------------------------------------------------------------------------

_SPECTRAL_ORACLE = f"""
    WITH pi AS ({_POWER_ITER_ORACLE}),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
                 e -> CAST(floor(CAST(e AS DOUBLE) * {GRAM_SCALE} + 0.5)
                           AS BIGINT)) AS qv
      FROM embeddings
    )
    SELECT q.vec_id,
           CAST(sum(q.qv[pi.i + 1] * pi.eig_unit) AS BIGINT) AS spectral_units
    FROM q JOIN pi ON pi.i < len(q.qv)
    GROUP BY q.vec_id
"""


@register("q_embedding_spectral_scores", oracle=_SPECTRAL_ORACLE)
def q_embedding_spectral_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the corpus's dominant principal
    direction (the power-iteration eigenvector) — the leverage score a
    curation pipeline uses to find vectors that dominate the spectrum
    (cap them for diversity) or sit far off the main axis (outlier
    candidates, complementing ``q_embedding_outliers``' centroid
    distance with a direction-aware signal).

    Scale shape: the eigenvector is a DIM-row frame (a model constant)
    collected once — the PQ-codebook discipline — and inlined as an
    array literal, so the projection is a pure IN-ROW integer dot
    product inside the corpus scan's codegen: zero joins, zero
    shuffles, zero Python.  All arithmetic is int64 x int64 fixed-point
    (|term| <= GRAM_SCALE * PI_SCALE * DIM << 2^63), bit-identical to
    the oracle's join-based replay."""
    eig_rows = q_embedding_power_iteration(spark, sf_dir).collect()
    eig = [0] * len(eig_rows)
    for r in eig_rows:
        eig[r["i"]] = int(r["eig_unit"])
    ev = F.lit(eig).cast("array<long>")
    qv = F.transform(
        "embedding",
        lambda e: F.floor(e.cast("double") * GRAM_SCALE + F.lit(0.5)).cast(
            "long"
        ),
    )
    score = F.aggregate(
        F.zip_with(qv, ev, lambda a, b: a * b),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, t: acc + t.cast("decimal(38,0)"),
    )
    return _vecs(spark, sf_dir).select(
        "vec_id", score.cast("bigint").alias("spectral_units")
    )


# ---------------------------------------------------------------------------
# Metadata-filtered ANN: same-label neighbors only (filtered vector search)
# ---------------------------------------------------------------------------

_FILTERED_ANN_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, label, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    cent AS ({_CENT_SQL}),
    assign AS (
      SELECT vec_id, embedding, label, vnorm, cell FROM (
        SELECT e.vec_id, e.embedding, e.label, e.vnorm, c.cent_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dot_sql('e.embedding', 'c.c_emb')}
                                           / (e.vnorm * c.c_norm) DESC, c.cent_id) AS rn
        FROM v e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id, embedding, label, vnorm, cell FROM (
        SELECT e.vec_id, e.embedding, e.label, e.vnorm, c.cent_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dot_sql('e.embedding', 'c.c_emb')}
                                           / (e.vnorm * c.c_norm) DESC, c.cent_id) AS pr
        FROM v e CROSS JOIN cent c
      ) WHERE pr <= {NPROBE} AND vec_id % {QUERY_MOD} = 0
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             {dot_sql('q.embedding', 'a.embedding')} / (q.vnorm * a.vnorm) AS sim
      FROM probes q JOIN assign a
        ON a.cell = q.cell AND a.label = q.label AND a.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(round(sim, 6) AS DOUBLE) AS cosine
    FROM ranked WHERE rank <= {ANN_K}
"""


@register("q_ann_filtered_by_label", oracle=_FILTERED_ANN_ORACLE)
def q_ann_filtered_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search: IVF ANN where candidates must
    share the query's ``label`` — the feature every production vector
    store needs (search within a tenant / language / document type)
    and the one that breaks post-filtering: filtering AFTER top-k
    returns fewer than k survivors when the filter is selective.  Here
    the predicate joins INTO candidate generation (cell AND label), so
    the top-k is computed over the filtered population directly.

    Scale shape: identical to ``q_ann_ivf`` plus one equi-key — the
    candidate join keys on (cell, label), so per-query work shrinks by
    the filter's selectivity instead of growing a rejection loop.
    Constant {IVF_C}-centroid broadcast, one corpus scan, no
    re-ranking pass over unfiltered candidates."""
    v = with_norm(_vecs_spread(spark, sf_dir)).select(
        "vec_id", "embedding", "label", "vnorm"
    )
    scored = _nearest_cells(v, ivf_centroids(v.select("vec_id", "embedding", "vnorm")))
    assign = scored.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", "label", "vnorm", F.col("cent_id").alias("cell")
    )
    probes = _query_set(
        scored.filter(F.col("rn") <= NPROBE),
        None,
        F.col("label").alias("q_label"),
        F.col("cent_id").alias("cell"),
    )
    cand = (
        assign.join(
            F.broadcast(probes),
            (assign["cell"] == probes["cell"])
            & (assign["label"] == probes["q_label"]),
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "q_emb", "q_norm", "vec_id", "embedding", "vnorm")
        .distinct()
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _cand_sim().alias("sim"))
    )
    return _top_per_query(cand, ANN_K, F.desc("sim")).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("sim", 6).cast("double").alias("cosine"),
    )


# --------------------------------------------------------------------------
# Binary (1-bit) quantization: Hamming-ranked ANN over sign signatures
# --------------------------------------------------------------------------

HAM_PLANES = 32  # signature width; completes the quantization family
HAM_K = 5


def _ham_sig_sql() -> str:
    signs = hyperplane_signs(HAM_PLANES, DIM)
    terms = []
    for j in range(HAM_PLANES):
        proj = dot_sql("embedding", f"CAST({_signs_sql_list(signs[j])} AS DOUBLE[])")
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


_HAMMING_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, CAST({_ham_sig_sql()} AS BIGINT) AS sig
      FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} = 0),
    pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             bit_count(xor(q.sig, v.sig)) AS ham
      FROM q JOIN v ON q.vec_id <> v.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, ham,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY ham, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(ham AS INT) AS hamming
    FROM ranked WHERE rank <= {HAM_K}
"""


def _hamming_sig_frame(spark: SparkSession, sf_dir: str, sig_kernel) -> DataFrame:
    """Materialized (vec_id, sig) signature frame.

    localCheckpoint(eager) because within one query invocation every
    consumer filters or joins the SAME frame (ADVICE r6): without it
    the full-corpus signature kernel executes once per plan branch (the
    q_graph_triangles pattern for a multiply-consumed derived set).
    Each invocation builds its OWN checkpoint — nothing is shared
    across queries.  The eager build runs at DataFrame-construction
    time, i.e. before a bench harness's timed action — bench.py tags
    the affected queries with ``eager_build`` so their numbers are read
    against that boundary.  Signatures are 8 bytes/vector, so the
    checkpointed state is ~0.2% of the corpus footprint.

    The input is the bare scan, not ``_vecs_spread``: the sig kernel is
    one cheap numpy pass (the 512x-compression point of 1-bit), so on a
    one-row-group fixture a spread's exchange + 32-task kernel + wide
    checkpoint cost more than the kernel gains, and every consumer then
    iterates a 2000-row checkpoint at 32-task width.  Measured: adding
    the spread moved the bench's rank leg 0.41 -> 0.69 s and rerank
    0.71 -> 1.19 s; removing it again (isolated A/B, together with the
    rerank-side reads) moved the rank action 0.67 -> 0.44 s median and
    rerank 1.40 -> 0.65 s, builds flat-to-better.  At any real layout the spread is a no-op,
    so the bare scan changes nothing at scale."""
    sigs = map_batches(_vecs(spark, sf_dir), sig_kernel, "vec_id long, sig long")
    return sigs.localCheckpoint(eager=True)


@register("q_ann_hamming_rank", oracle=_HAMMING_ORACLE)
def q_ann_hamming_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit quantization retrieval: each vector compresses to a
    {HAM_PLANES}-bit sign signature (the binary end of the quantization
    spectrum next to int8 and PQ), and candidates rank by Hamming
    distance — a single XOR+popcount per pair, the cheapest similarity
    a vector store can serve and the filter stage binary-embedding
    systems run before exact rerank.

    Scale shape: signatures are one zero-shuffle map over the corpus
    (512× smaller than the float vectors — THE point of 1-bit: the
    whole index fits where 0.2% of the corpus did); the bounded query
    signature set broadcasts, ranking reuses the kNN top-k window.
    Integer distances make ties exact; (ham, neighbor_id) ordering
    pins them.  Recall quality is measured, not assumed — the same
    discipline as q_ann_recall (see test_llm_ops floors)."""
    return _top_per_query(_hamming_pairs(spark, sf_dir), HAM_K, F.asc("ham")).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("ham").cast("int").alias("hamming"),
    )


def _ham_sig_kernel():
    """The per-batch ``vec_id, sig`` kernel of ``_hamming_sig_frame``."""
    import numpy as np

    signs = hyperplane_signs(HAM_PLANES, DIM)
    S = np.asarray(signs, dtype=np.float64)  # HAM_PLANES × DIM, constant
    weights = np.int64(1) << np.arange(HAM_PLANES, dtype=np.int64)

    def sig_kernel(batch):
        # per-plane projections with the oracle's sequential dim fold
        # (see _pairwise_sims): vectorized across rows, bit-identical
        # at the sign boundary
        X = emb_matrix(batch.column("embedding"))
        P = np.zeros((X.shape[0], HAM_PLANES), dtype=np.float64)
        for i in range(X.shape[1]):
            P += X[:, i : i + 1] * S[None, :, i]
        bits = (P > 0).astype(np.int64)
        return batch.column("vec_id").to_numpy(), bits @ weights

    return sig_kernel


def _hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, ham) over the broadcast query signature
    set — the shared candidate stage of the 1-bit family."""
    v = _hamming_sig_frame(spark, sf_dir, _ham_sig_kernel())
    q = v.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("sig").alias("qsig")
    )
    return v.join(F.broadcast(q), F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr("bit_count(sig ^ qsig)").alias("ham"),
    )


# ---------------------------------------------------------------------------
# Two-stage retrieval: 1-bit Hamming shortlist -> exact cosine rerank
# ---------------------------------------------------------------------------

HAM_SHORTLIST = 20  # stage-1 candidates per query before exact rerank

_HAM_RERANK_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, CAST({_ham_sig_sql()} AS BIGINT) AS sig
      FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} = 0),
    pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             bit_count(xor(q.sig, v.sig)) AS ham
      FROM q JOIN v ON q.vec_id <> v.vec_id
    ),
    short AS (
      SELECT query_id, neighbor_id, ham FROM (
        SELECT query_id, neighbor_id, ham,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ham, neighbor_id) AS srank
        FROM pairs
      ) WHERE srank <= {HAM_SHORTLIST}
    ),
    e AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
          FROM embeddings),
    scored AS (
      SELECT s.query_id, s.neighbor_id, s.ham,
             {dot_sql('qe.embedding', 'ne.embedding')}
                 / (qe.vnorm * ne.vnorm) AS sim
      FROM short s
      JOIN e qe ON qe.vec_id = s.query_id
      JOIN e ne ON ne.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(round(sim, 9) AS DOUBLE) AS cosine,
           CAST(ham AS INT) AS hamming
    FROM (
      SELECT query_id, neighbor_id, ham, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {HAM_K}
"""


@register("q_ann_hamming_rerank", oracle=_HAM_RERANK_ORACLE)
def q_ann_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production binary-retrieval pipeline end to end: stage 1
    shortlists {HAM_SHORTLIST} candidates per query by Hamming distance
    over {HAM_PLANES}-bit signatures (XOR+popcount — the cheap filter),
    stage 2 reranks ONLY the shortlist with exact float cosine and
    keeps the top {HAM_K} — the retrieve-then-rerank shape every
    binary-embedding system (and the PQ twin `q_ann_pq_rerank`) runs,
    completing the quality ladder: hamming-only ranks cheap but
    coarse; the rerank buys back exactness for {HAM_SHORTLIST} float
    dot products per query instead of a full corpus scan.

    Scale shape: the signature kernel runs ONCE PER INVOCATION
    (checkpointed; each query invocation builds its own checkpoint —
    nothing is shared across queries); stage-1 pairs are a broadcast of the
    bounded query signature set; stage 2 touches O(queries x
    {HAM_SHORTLIST}) rows — the shortlist broadcasts into ONE keyed
    pass over the embedding scan for neighbor vectors, and query
    vectors (bounded) broadcast.  Exact integer distances and
    (sim desc, neighbor_id) ordering pin every tie."""
    short = _top_per_query(
        _hamming_pairs(spark, sf_dir), HAM_SHORTLIST, F.asc("ham"), "srank"
    ).select("query_id", "neighbor_id", "ham")
    # r17: rerank-side corpus read un-spread (the q_ann_pq_rerank
    # rationale — only O(queries x HAM_SHORTLIST) rows survive the
    # broadcast joins, so the spread's exchange was pure task overhead
    # on this path; no-op at scale either way).
    e = with_norm(_vecs(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    scored = (
        e.join(F.broadcast(short), e.vec_id == short.neighbor_id)
        .join(F.broadcast(_query_set(e, None)), "query_id")
        .select("query_id", "neighbor_id", "ham", _cand_sim().alias("sim"))
    )
    return _top_per_query(scored, HAM_K, F.desc("sim")).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("sim", 9).cast("double").alias("cosine"),
        F.col("ham").cast("int").alias("hamming"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation quality: energy captured by embedding prefixes
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32)  # prefix lengths audited (full DIM = 64)

_MRL_ORACLE = f"""
    WITH d AS (SELECT unnest([{", ".join(str(d) for d in MRL_DIMS)}]) AS trunc_dim),
    r AS (
      SELECT d.trunc_dim,
             CAST(floor(
               {dot_sql('(embedding[1:d.trunc_dim])', '(embedding[1:d.trunc_dim])')}
               / {dot_sql('embedding', 'embedding')} * 1000000 + 0.5)
             AS BIGINT) AS units
      FROM embeddings, d
      WHERE {dot_sql('embedding', 'embedding')} > 0
    )
    SELECT CAST(trunc_dim AS INT) AS trunc_dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           {round_ratio_sql('sum(units)', 'count(*) * 1000000', 6, wide=True)}
               AS mean_energy,
           CAST(quantile_cont(units, 0.5) * 2 AS BIGINT)
               AS median_energy_half_units,
           CAST(round(CAST(min(units) AS DOUBLE) / 1000000, 6) AS DOUBLE)
               AS min_energy
    FROM r GROUP BY trunc_dim
"""


@register("q_embedding_matryoshka_quality", oracle=_MRL_ORACLE)
def q_embedding_matryoshka_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: for each prefix length d in
    {MRL_DIMS}, how much of each vector's energy the first d dimensions
    capture (``|v[:d]|² / |v|²``) — the go/no-go table for serving
    truncated embeddings (Kusupati et al. 2022's adaptive-retrieval
    premise: an MRL-trained model front-loads information, so prefix
    energy ~1 means d dims retrieve nearly as well as all {DIM}).

    Exactness: the per-vector ratio is ONE double division of two
    sequential-fold dot products (engine-identical), quantized to 1e-6
    units BEFORE aggregation — sums are exact int64, the mean divides
    once, and the median interpolates over integers (quantile_cont ==
    percentile parity) and is emitted in exact HALF-UNITS (the
    midpoint doubles to an integer; rounding the .5e-6 midpoint itself
    hits a 1-ulp engine boundary) — the repo's quantize-sum-divide-once
    discipline for float statistics.

    Scale shape: one corpus scan, {len(MRL_DIMS)}× row expansion of
    scalar (dim, units) pairs — never the vectors — then a combiner agg
    to {len(MRL_DIMS)} rows.  No shuffle carries an embedding."""
    v = _vecs(spark, sf_dir)
    full = dot(F.col("embedding"), F.col("embedding"))
    rows = (
        v.select("embedding", full.alias("e_full"))
        .filter(F.col("e_full") > 0)
        .select(
            F.explode(F.array(*[F.lit(d) for d in MRL_DIMS])).alias("trunc_dim"),
            "embedding",
            "e_full",
        )
        .select(
            "trunc_dim",
            F.floor(
                dot(
                    F.slice(F.col("embedding"), F.lit(1), F.col("trunc_dim")),
                    F.slice(F.col("embedding"), F.lit(1), F.col("trunc_dim")),
                )
                / F.col("e_full")
                * 1_000_000
                + 0.5
            )
            .cast("bigint")
            .alias("units"),
        )
    )
    return rows.groupBy("trunc_dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        round_ratio(
            "sum(units)", "count(1) * 1000000", 6, wide=True
        ).alias("mean_energy"),
        (F.expr("percentile(units, 0.5)") * 2)
        .cast("bigint")
        .alias("median_energy_half_units"),
        F.round(F.min("units").cast("double") / 1e6, 6)
        .cast("double")
        .alias("min_energy"),
    ).select(
        F.col("trunc_dim").cast("int").alias("trunc_dim"),
        "n_vecs",
        "mean_energy",
        "median_energy_half_units",
        "min_energy",
    )


# ---------------------------------------------------------------------------
# Per-dimension distribution stats (whitening / feature-scaling prep)
# ---------------------------------------------------------------------------


@register(
    "q_embedding_dim_stats",
    # Components quantized to integer micro-units FIRST (floor(x*1e6+.5)),
    # then every sum is exact (int64 / DECIMAL(38,0) for squares) and the
    # mean/variance divide once per dimension with the expression
    # mirrored token-for-token — the repo's standard exact-stats recipe.
    oracle="""
    WITH comp AS (
      SELECT i - 1 AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS xq
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    ),
    agg AS (
      SELECT pos, count(*) AS n,
             CAST(sum(xq) AS BIGINT) AS s,
             sum(CAST(xq AS DECIMAL(38,0)) * xq) AS sq,
             min(xq) AS mn, max(xq) AS mx
      FROM comp GROUP BY pos
    )
    SELECT CAST(pos AS INT) AS pos, CAST(n AS BIGINT) AS n,
           {mean6} AS mean6,
           {var6} AS var6,
           CAST(mn AS BIGINT) AS min_mu, CAST(mx AS BIGINT) AS max_mu
    FROM agg
    """.format(
        mean6=round_ratio_sql("s", "n * 1000000", 6, wide=True),
        var6=round_ratio_sql(
            "CAST(n AS HUGEINT) * CAST(sq AS HUGEINT)"
            " - CAST(s AS HUGEINT) * s",
            "CAST(n AS HUGEINT) * n * 1000000000000",
            6,
            wide=True,
        ),
    ),
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance/range of the embedding corpus — the
    statistics a whitening or standardization step (and any drift
    monitor on a re-embedded corpus) consumes; the per-DIMENSION
    complement to the per-vector int8 quantizer.

    Determinism: components are floor-quantized to integer micro-units
    at the scan, so every accumulation is exact (int64 sums, DECIMAL
    squares — a single xq² is ~1e12 and corpus sums can pass 2^63) and
    mean/variance divide once per dimension with both engines running
    the identical double expression.  Scale shape: posexplode widens
    to (pos, component) and ONE combiner aggregation reduces to
    |dims| rows — map-side partials make the shuffle O(dims·tasks),
    independent of corpus size; no window, no second pass."""
    v = _vecs(spark, sf_dir)
    comp = v.select(F.posexplode("embedding").alias("pos", "x")).select(
        "pos",
        F.floor(F.col("x").cast("double") * 1_000_000 + 0.5)
        .cast("bigint")
        .alias("xq"),
    )
    agg = comp.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").cast("bigint").alias("s"),
        F.sum(F.col("xq").cast("decimal(38,0)") * F.col("xq")).alias("sq"),
        F.min("xq").alias("mn"),
        F.max("xq").alias("mx"),
    )
    return agg.select(
        F.col("pos").cast("int").alias("pos"),
        F.col("n").cast("bigint").alias("n"),
        round_ratio("s", "n * 1000000", 6, wide=True).alias("mean6"),
        # var = (n*sq - s^2) / (n^2 * 1e12), computed on the exact
        # integer sufficient statistics (r14 parity idiom)
        round_ratio(
            "n * sq - cast(s as decimal(38,0)) * s",
            "cast(n as decimal(38,0)) * n * 1000000000000",
            6,
            wide=True,
        )
        .alias("var6"),
        F.col("mn").cast("bigint").alias("min_mu"),
        F.col("mx").cast("bigint").alias("max_mu"),
    )


# ---------------------------------------------------------------------------
# MMR diversification (retrieve -> greedy diverse re-selection, unrolled)
# ---------------------------------------------------------------------------

MMR_N_QUERIES = 50
MMR_CAND = 8       # shortlist size per query (the retrieve stage)
MMR_K = 3          # diverse results kept (the unrolled greedy rounds)
# lambda = 0.7 as the exact rational 7/10: score = (7*rel - 3*maxsim)/10,
# computed on the raw doubles both engines share.


def _mmr_oracle() -> str:
    sim_qc = f"{dot_sql('q.embedding', 'v.embedding')} / (q.vnorm * v.vnorm)"
    sim_cc = f"{dot_sql('a.emb', 'b.emb')} / (a.cnorm * b.cnorm)"
    return f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {MMR_N_QUERIES}),
    rel AS (
      SELECT q.vec_id AS qid, v.vec_id AS cid, v.embedding AS emb,
             v.vnorm AS cnorm, {sim_qc} AS rel
      FROM q JOIN v ON q.vec_id <> v.vec_id
    ),
    cand AS (
      SELECT * FROM (
        SELECT qid, cid, emb, cnorm, rel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, cid) AS rn
        FROM rel
      ) WHERE rn <= {MMR_CAND}
    ),
    s1 AS (
      SELECT qid, cid AS s1_id, emb AS s1_emb, cnorm AS s1_norm, rel AS s1_rel
      FROM cand WHERE rn = 1
    ),
    r2 AS (
      SELECT a.qid, a.cid, a.emb, a.cnorm, a.rel,
             (7 * a.rel - 3 * ({dot_sql('a.emb', 's.s1_emb')}
                               / (a.cnorm * s.s1_norm))) / 10 AS score
      FROM cand a JOIN s1 s ON s.qid = a.qid
      WHERE a.cid <> s.s1_id
    ),
    s2 AS (
      SELECT * FROM (
        SELECT qid, cid AS s2_id, emb AS s2_emb, cnorm AS s2_norm,
               score AS s2_score,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, cid) AS rn
        FROM r2
      ) WHERE rn = 1
    ),
    r3 AS (
      SELECT a.qid, a.cid, a.rel,
             (7 * a.rel - 3 * greatest(
                 {dot_sql('a.emb', 's.s1_emb')} / (a.cnorm * s.s1_norm),
                 {dot_sql('a.emb', 't.s2_emb')} / (a.cnorm * t.s2_norm))) / 10
                 AS score
      FROM cand a
      JOIN s1 s ON s.qid = a.qid
      JOIN s2 t ON t.qid = a.qid
      WHERE a.cid <> s.s1_id AND a.cid <> t.s2_id
    ),
    s3 AS (
      SELECT * FROM (
        SELECT qid, cid AS s3_id, score AS s3_score,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, cid) AS rn
        FROM r3
      ) WHERE rn = 1
    )
    SELECT qid AS query_id, 1 AS rank, s1_id AS selected_id,
           CAST(round(s1_rel, 6) AS DOUBLE) AS score6 FROM s1
    UNION ALL
    SELECT qid, 2, s2_id, CAST(round(s2_score, 6) AS DOUBLE) FROM s2
    UNION ALL
    SELECT qid, 3, s3_id, CAST(round(s3_score, 6) AS DOUBLE) FROM s3
    """


@register("q_ann_mmr_diversify", oracle=_mmr_oracle())
def q_ann_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance — the retrieve-then-DIVERSIFY stage
    every RAG/search pipeline runs after similarity search: from each
    query's top-{MMR_CAND} cosine shortlist, greedily select {MMR_K}
    results maximizing ``λ·relevance − (1−λ)·max-similarity-to-already-
    selected`` (λ=7/10), so near-duplicate hits don't crowd the result
    list.  Completes the retrieval family next to `q_ann_rrf_fusion`
    (fuse) and `q_ann_pq_rerank` / `q_text_rerank_edit` (rerank).

    Determinism: relevance and candidate-candidate similarities are the
    same sequential-fold doubles on both engines; the MMR score is the
    exact linear form (7·rel − 3·sim)/10 of those doubles, and every
    argmax breaks ties on (score desc, cid).  Scale shape: ONE
    corpus-scan broadcast join builds the shortlist (`q_knn_bruteforce`
    envelope, WindowGroupLimit top-{MMR_CAND}); the {MMR_K}-round
    greedy then touches only O(queries × {MMR_CAND}) rows — each round
    one keyed join + one per-query top-1 — never the corpus again.

    Cache lifetime (ADVICE r9): the shortlist ``cand`` persists and is
    NOT unpersisted here — the cache is consumed lazily at the caller's
    action, so releasing it at plan-build time would re-inline the
    corpus scan into all three greedy rounds.  Callers that invoke this
    repeatedly in one session must clear caches between calls (bench
    and the pytest atomic-schema sweep both ``spark.catalog.clearCache()``)."""
    v = with_norm(_vecs_spread(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    # Keyed by ``qid`` (every greedy round joins on it), so projected by hand.
    q = (
        v.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(MMR_N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("q_emb"),
            F.col("vnorm").alias("q_norm"),
        )
    )
    rel = (
        v.join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("emb"),
            F.col("vnorm").alias("cnorm"),
            (dot(F.col("q_emb"), F.col("embedding"))
             / (F.col("q_norm") * F.col("vnorm"))).alias("rel"),
        )
    )
    w_cand = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("cid"))
    cand = (
        rel.withColumn("rn", F.row_number().over(w_cand))
        .filter(F.col("rn") <= MMR_CAND)
        .persist()  # three greedy rounds + the final union read this frame
    )
    s1 = cand.filter(F.col("rn") == 1).select(
        "qid",
        F.col("cid").alias("s1_id"),
        F.col("emb").alias("s1_emb"),
        F.col("cnorm").alias("s1_norm"),
        F.col("rel").alias("s1_rel"),
    )

    def top1(scored: DataFrame, id_out: str, score_out: str) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
        return (
            scored.withColumn("rn1", F.row_number().over(w))
            .filter(F.col("rn1") == 1)
            .select(
                "qid",
                F.col("cid").alias(id_out),
                F.col("emb").alias(f"{id_out}_emb"),
                F.col("cnorm").alias(f"{id_out}_norm"),
                F.col("score").alias(score_out),
            )
        )

    sim_s1 = dot(F.col("emb"), F.col("s1_emb")) / (
        F.col("cnorm") * F.col("s1_norm")
    )
    r2 = (
        cand.join(s1, "qid")
        .filter(F.col("cid") != F.col("s1_id"))
        .select(
            "qid", "cid", "emb", "cnorm",
            ((7 * F.col("rel") - 3 * sim_s1) / 10).alias("score"),
        )
    )
    s2 = top1(r2, "s2_id", "s2_score")
    sim_s2 = dot(F.col("emb"), F.col("s2_id_emb")) / (
        F.col("cnorm") * F.col("s2_id_norm")
    )
    r3 = (
        cand.join(s1, "qid")
        .join(s2, "qid")
        .filter((F.col("cid") != F.col("s1_id")) & (F.col("cid") != F.col("s2_id")))
        .select(
            "qid", "cid",
            ((7 * F.col("rel") - 3 * F.greatest(sim_s1, sim_s2)) / 10)
            .alias("score"),
        )
    )
    w3 = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    s3 = (
        r3.withColumn("rn1", F.row_number().over(w3))
        .filter(F.col("rn1") == 1)
        .select("qid", F.col("cid").alias("s3_id"), F.col("score").alias("s3_score"))
    )
    out = (
        s1.select(
            F.col("qid").alias("query_id"),
            F.lit(1).alias("rank"),
            F.col("s1_id").alias("selected_id"),
            F.round("s1_rel", 6).cast("double").alias("score6"),
        )
        .unionAll(
            s2.select(
                F.col("qid"), F.lit(2), F.col("s2_id"),
                F.round("s2_score", 6).cast("double"),
            )
        )
        .unionAll(
            s3.select(
                F.col("qid"), F.lit(3), F.col("s3_id"),
                F.round("s3_score", 6).cast("double"),
            )
        )
    )
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "selected_id",
        "score6",
    )


# ---------------------------------------------------------------------------
# IVF incremental assignment (frozen coarse quantizer, new batch only)
# ---------------------------------------------------------------------------

IVF_BATCH_MOD = 10  # new-arrivals batch: vec_id % IVF_BATCH_MOD == IVF_BATCH_REM
IVF_BATCH_REM = 3


@register(
    "q_ann_ivf_incremental",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    corpus AS (SELECT * FROM v
               WHERE vec_id % {IVF_BATCH_MOD} <> {IVF_BATCH_REM}),
    cent AS (SELECT vec_id AS cent_id, embedding AS c_emb, vnorm AS c_norm
             FROM corpus ORDER BY {_CENT_HASH_SQL}, vec_id LIMIT {IVF_C}),
    batch AS (SELECT * FROM v
              WHERE vec_id % {IVF_BATCH_MOD} = {IVF_BATCH_REM}),
    ranked AS (
      SELECT b.vec_id, c.cent_id,
             {dot_sql('b.embedding', 'c.c_emb')} / (b.vnorm * c.c_norm) AS csim,
             row_number() OVER (PARTITION BY b.vec_id
                                ORDER BY {dot_sql('b.embedding', 'c.c_emb')}
                                         / (b.vnorm * c.c_norm) DESC,
                                         c.cent_id) AS rn
      FROM batch b CROSS JOIN cent c
    )
    SELECT vec_id,
           CAST(max(CASE WHEN rn = 1 THEN cent_id END) AS BIGINT) AS cell,
           CAST(round(max(CASE WHEN rn = 1 THEN csim END), 6) AS DOUBLE)
               AS csim6,
           CAST(max(CASE WHEN rn = 2 THEN cent_id END) AS BIGINT) AS cell2,
           CAST(round(max(CASE WHEN rn = 1 THEN csim END)
                      - max(CASE WHEN rn = 2 THEN csim END), 6) AS DOUBLE)
               AS margin6
    FROM ranked WHERE rn <= 2 GROUP BY vec_id
    """,
)
def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest — the ANN twin of
    ``q_dedup_incremental_ingest``: a new-arrivals batch
    (``vec_id % {IVF_BATCH_MOD} == {IVF_BATCH_REM}``) is assigned to
    the FROZEN coarse quantizer trained on the existing corpus, without
    re-touching a single corpus vector's assignment.  Per batch vector:
    its cell, the centroid cosine, the runner-up cell, and the
    assignment margin (the reassignment-trigger signal a production
    index monitors — small margins mean the quantizer is drifting).

    Scale shape: the corpus appears ONLY in the centroid selection —
    one scan with O(IVF_C) state per task (``TakeOrderedAndProject``,
    the ``ivf_centroids`` discipline); the quantizer is frozen by
    construction because the hash-order LIMIT over the corpus slice is
    independent of the batch.  Assignment is |batch| x IVF_C dot
    products under an O(IVF_C) broadcast — cost scales with the BATCH,
    not the corpus, which is the entire point of incremental ingest.
    The rank-1/rank-2 pivot is one combiner agg on 2 rows per vector.
    """
    v = with_norm(_vecs_spread(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    corpus = v.filter(F.col("vec_id") % IVF_BATCH_MOD != IVF_BATCH_REM)
    batch = v.filter(F.col("vec_id") % IVF_BATCH_MOD == IVF_BATCH_REM)
    ranked = _nearest_cells(batch, ivf_centroids(corpus)).filter(F.col("rn") <= 2)
    return ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cent_id")))
        .cast("bigint")
        .alias("cell"),
        F.round(F.max(F.when(F.col("rn") == 1, F.col("csim"))), 6)
        .cast("double")
        .alias("csim6"),
        F.max(F.when(F.col("rn") == 2, F.col("cent_id")))
        .cast("bigint")
        .alias("cell2"),
        F.round(
            F.max(F.when(F.col("rn") == 1, F.col("csim")))
            - F.max(F.when(F.col("rn") == 2, F.col("csim"))),
            6,
        )
        .cast("double")
        .alias("margin6"),
    )


# ---------------------------------------------------------------------------
# Per-label centroid outliers (mislabel candidates)
# ---------------------------------------------------------------------------

OUTLIER_K = 5  # bottom-k cosine-to-own-centroid per label


@register(
    "q_embedding_label_outliers",
    oracle=f"""
    WITH comp AS (
      SELECT label, CAST(i - 1 AS INT) AS pos,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    ),
    cent_long AS (
      SELECT label, pos,
             CAST(sum(CAST(round(x, 6) AS DECIMAL(30,6))) AS DOUBLE)
                 / count(*) AS m
      FROM comp GROUP BY label, pos
    ),
    cent AS (
      SELECT label, list(m ORDER BY pos) AS c FROM cent_long GROUP BY label
    ),
    scored AS (
      SELECT e.label, e.vec_id,
             {dot_sql('e.embedding', 'c.c')}
               / ({norm_sql('e.embedding')} * {norm_sql('c.c')}) AS cos
      FROM embeddings e JOIN cent c USING (label)
    ),
    ranked AS (
      SELECT label, vec_id, cos,
             row_number() OVER (PARTITION BY label
                                ORDER BY cos ASC, vec_id) AS rk
      FROM scored
    )
    SELECT label, vec_id, CAST(rk AS INT) AS rank,
           CAST(round(cos, 6) AS DOUBLE) AS cos6
    FROM ranked WHERE rk <= {OUTLIER_K}
    """,
)
def q_embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabel candidates: for every label, the {OUTLIER_K} member
    vectors with the LOWEST cosine to their own label's centroid — the
    audit a labeled-embedding pipeline runs to surface vectors that do
    not belong to the cluster they claim (wrong label, corrupted
    embedding, or genuine boundary cases worth review).

    Determinism: centroid components are exact order-independent
    DECIMAL sums divided once (the ``q_embedding_centroids``
    discipline); the centroid array assembles in pos order on both
    engines, so the vector⋈centroid cosine is the same sequential
    left fold everywhere; ranks tie-break on vec_id.

    Scale shape: the component census is one combiner agg to
    O(labels × dim) rows; centroid arrays are an O(labels) dimension
    frame BROADCAST to the corpus scan (one pass, |labels| never
    corpus-scale); the bottom-k is a per-label WindowGroupLimit —
    partial top-k below the exchange, O(labels × k) rows after."""
    v = _vecs(spark, sf_dir)
    comp = v.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select("label", "pos", F.col("x").cast("double").alias("x"))
    dec = F.round(F.col("x"), 6).cast("decimal(30,6)")
    cent_long = comp.groupBy("label", "pos").agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("m")
    )
    cent = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )
    scored = v.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        (
            dot(F.col("embedding"), F.col("c"))
            / (norm(F.col("embedding")) * norm(F.col("c")))
        ).alias("cos"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= OUTLIER_K)
        .select(
            "label",
            "vec_id",
            F.col("rk").cast("int").alias("rank"),
            F.round("cos", 6).cast("double").alias("cos6"),
        )
    )


# ---------------------------------------------------------------------------
# Centroid silhouette (embedding-space label quality in one pass)
# ---------------------------------------------------------------------------


@register(
    "q_embedding_centroid_silhouette",
    oracle=f"""
    WITH comp AS (
      SELECT label, CAST(i - 1 AS INT) AS pos,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    ),
    cent_long AS (
      SELECT label, pos,
             CAST(sum(CAST(round(x, 6) AS DECIMAL(30,6))) AS DOUBLE)
                 / count(*) AS m
      FROM comp GROUP BY label, pos
    ),
    cent AS (
      SELECT label AS clabel, list(m ORDER BY pos) AS c
      FROM cent_long GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.clabel,
             {dot_sql('e.embedding', 'c.c')}
               / ({norm_sql('e.embedding')} * {norm_sql('c.c')}) AS cos
      FROM embeddings e CROSS JOIN cent c
    ),
    pv AS (
      SELECT vec_id, max(label) AS label,
             max(CASE WHEN label = clabel THEN cos END) AS own,
             max(CASE WHEN label <> clabel THEN cos END) AS other
      FROM scored GROUP BY vec_id
    ),
    m AS (
      SELECT label,
             CAST(floor((own - other) * 1000000 + 0.5) AS BIGINT) AS mq
      FROM pv
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN mq < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative,
           CAST(floor(CAST(sum(mq) AS BIGINT) / count(*)) AS BIGINT)
               AS mean_margin_mu,
           CAST(min(mq) AS BIGINT) AS min_margin_mu
    FROM m GROUP BY label
    """,
)
def q_embedding_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid silhouette: per label, how separable the cluster is —
    each vector's margin = cos(own centroid) − max cos(any OTHER
    label's centroid), aggregated to mean / minimum / count-negative
    per label.  Negative margins are vectors sitting closer to a
    competing label's center (the aggregate label-quality dial; its
    per-vector sibling `q_embedding_label_outliers` names the worst
    offenders, this scores whole labels).  The O(n·k) centroid variant
    of the O(n²) silhouette, which is the only one that exists at
    100 TB.

    Determinism: centroids are exact DECIMAL component sums divided
    once (the centroids discipline); per-vector margins quantize to
    int64 micro-units with floor(x·10⁶ + 0.5) BEFORE any cross-row
    aggregation (rounded-double sums would be reduction-order-
    dependent); the mean is floor(exact-int-sum / count) — an explicit
    floor because margins can be negative (div truncation would
    diverge from //).

    Scale shape: component census is one combiner agg to
    O(labels × dim); the O(labels) centroid frame broadcasts onto ONE
    corpus scan scoring all labels per vector (fan-out = |labels|, a
    constant); the own/other pivot is a per-vector combiner agg and
    the label rollup another.  No corpus-corpus stage anywhere."""
    # r17: two per-task fixes (identical values, oracle both SFs).
    # (1) the per-vector scoring (|labels| interpreted dot folds per
    # row) ran inside the ONE-task scan — ride the candidate-heavy
    # spread (no-op at scale).  (2) both norms were re-folded per
    # (vector, label) pair: the vector norm now computes once per row
    # (with_norm) and the centroid norm once per label inside the
    # O(labels) broadcast frame — same fold expression over the same
    # operands, so cos = dot/(vnorm·cnorm) is bit-identical.
    # Same-window A/B: FLAT locally (old med 1.09 / new 1.00 — the leg
    # is centroid-census-bound, not fold-bound at this corpus size);
    # kept on the r16 flat-but-principled precedent (strictly fewer
    # folds per row: 2 norm folds per (vector, label) pair removed —
    # 10x fewer norm evaluations at any scale, spread a no-op at any
    # real layout).
    v = with_norm(_vecs_spread(spark, sf_dir)).select(
        "vec_id", "label", "embedding", "vnorm"
    )
    comp = _vecs(spark, sf_dir).select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select("label", "pos", F.col("x").cast("double").alias("x"))
    dec = F.round(F.col("x"), 6).cast("decimal(30,6)")
    cent_long = comp.groupBy("label", "pos").agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("m")
    )
    cent = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("c")
    ).select(F.col("label").alias("clabel"), "c", norm(F.col("c")).alias("cnorm"))
    scored = v.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        (
            dot(F.col("embedding"), F.col("c"))
            / (F.col("vnorm") * F.col("cnorm"))
        ).alias("cos"),
    )
    pivot = scored.groupBy("vec_id").agg(
        F.max("label").alias("label"),
        F.max(F.when(F.col("label") == F.col("clabel"), F.col("cos"))).alias("own"),
        F.max(F.when(F.col("label") != F.col("clabel"), F.col("cos"))).alias("other"),
    )
    mq = F.floor((F.col("own") - F.col("other")) * 1_000_000 + 0.5).cast("bigint")
    m = pivot.select("label", mq.alias("mq"))
    return m.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("mq") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_negative"),
        F.floor(F.sum("mq") / F.count(F.lit(1))).cast("bigint").alias("mean_margin_mu"),
        F.min("mq").cast("bigint").alias("min_margin_mu"),
    )


# ---------------------------------------------------------------------------
# int8 quantization reconstruction-error audit (per label)
# ---------------------------------------------------------------------------


@register(
    "q_embedding_quantize_error",
    oracle="""
    WITH base AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
      FROM embeddings
    ),
    mx AS (
      SELECT vec_id, label, xd,
             list_reduce(list_prepend(0.0, list_transform(xd, x -> abs(x))),
                         (a, b) -> greatest(a, b)) AS maxabs
      FROM base
    ),
    err AS (
      SELECT vec_id, label,
             CASE WHEN maxabs > 0
                  THEN list_transform(xd, x ->
                       CAST(floor(abs(x - round(x * 127.0 / maxabs)
                                          * (maxabs / 127.0)) * 1000000000
                                  + 0.5) AS BIGINT))
                  ELSE list_transform(xd, x -> CAST(0 AS BIGINT)) END AS eq
      FROM mx
    ),
    per_vec AS (
      SELECT label,
             list_reduce(list_prepend(CAST(0 AS BIGINT), eq),
                         (a, b) -> a + b) AS s_err,
             list_reduce(list_prepend(CAST(0 AS BIGINT), eq),
                         (a, b) -> greatest(a, b)) AS m_err,
             len(eq) AS dim
      FROM err
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(CAST(sum(s_err) AS BIGINT) // sum(dim) AS BIGINT)
               AS mean_abs_err_nano,
           CAST(max(m_err) AS BIGINT) AS max_abs_err_nano
    FROM per_vec GROUP BY label
    """,
)
def q_embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction-error audit for the int8 quantizer — the quality
    half of `q_embedding_quantize_int8`: per label, the mean and worst
    per-component absolute error of the round-trip x → int8 → x̂ with
    x̂ = q·(absmax/127), in nano units.  This is the number a serving
    team reads before flipping a 100 TB index to int8 (labels with
    heavy-tailed components quantize worse — symmetric absmax scaling
    wastes levels on outliers).

    Determinism: the error expression reuses the quantizer's exact
    double arithmetic element-by-element (same round/scale fold both
    engines, already value-proven by the quantize op), then quantizes
    each |error| to int64 nanos IN-ROW before any cross-row sum; the
    mean is one integer division with non-negative operands (div ==
    //).

    Scale shape: everything per-vector folds in-row on the scan (zero
    shuffles until the O(labels) rollup); the label agg is one
    combiner groupBy.  The audit costs one corpus scan, exactly like
    the quantizer it audits."""
    v = _vecs(spark, sf_dir)
    xd = F.transform("embedding", lambda x: x.cast("double"))
    base = v.select("vec_id", "label", xd.alias("xd"))
    maxabs = F.aggregate(
        F.transform("xd", lambda x: F.abs(x)),
        F.lit(0.0),
        lambda a, b: F.greatest(a, b),
    )
    mx = base.select("vec_id", "label", "xd", maxabs.alias("maxabs"))
    eq = F.when(
        F.col("maxabs") > 0,
        F.transform(
            "xd",
            lambda x: F.floor(
                F.abs(
                    x
                    - F.round(x * 127.0 / F.col("maxabs"))
                    * (F.col("maxabs") / 127.0)
                )
                * 1_000_000_000
                + 0.5
            ).cast("bigint"),
        ),
    ).otherwise(F.transform("xd", lambda x: F.lit(0).cast("bigint")))
    per_vec = mx.select(
        "label",
        F.aggregate(
            eq, F.lit(0).cast("bigint"), lambda a, b: a + b
        ).alias("s_err"),
        F.aggregate(
            eq, F.lit(0).cast("bigint"), lambda a, b: F.greatest(a, b)
        ).alias("m_err"),
        F.size(eq).cast("bigint").alias("dim"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.expr("sum(s_err) div sum(dim)").cast("bigint").alias("mean_abs_err_nano"),
        F.max("m_err").cast("bigint").alias("max_abs_err_nano"),
    )


# ---------------------------------------------------------------------------
# k-center greedy seed selection (farthest-point traversal, 3 rounds)
# ---------------------------------------------------------------------------


@register(
    "q_embedding_kcenter_seeds",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
      FROM embeddings
    ),
    s1 AS (SELECT vec_id, embedding, vnorm FROM v
           ORDER BY vnorm DESC, vec_id LIMIT 1),
    c1 AS (
      SELECT v.vec_id, v.embedding, v.vnorm,
             {dot_sql('v.embedding', 's1.embedding')}
               / (v.vnorm * s1.vnorm) AS sim
      FROM v CROSS JOIN s1
    ),
    s2 AS (SELECT vec_id, embedding, vnorm, sim FROM c1
           ORDER BY sim ASC, vec_id LIMIT 1),
    seeds AS (
      SELECT vec_id, embedding, vnorm FROM s1
      UNION ALL SELECT vec_id, embedding, vnorm FROM s2
    ),
    c2 AS (
      SELECT v.vec_id,
             max({dot_sql('v.embedding', 'sd.embedding')}
                 / (v.vnorm * sd.vnorm)) AS maxsim
      FROM v CROSS JOIN seeds sd
      GROUP BY v.vec_id
    ),
    s3 AS (SELECT vec_id, maxsim FROM c2 ORDER BY maxsim ASC, vec_id LIMIT 1)
    SELECT CAST(1 AS INT) AS round, s1.vec_id,
           CAST(round(s1.vnorm, 6) AS DOUBLE) AS score6 FROM s1
    UNION ALL
    SELECT 2, s2.vec_id, CAST(round(s2.sim, 6) AS DOUBLE) FROM s2
    UNION ALL
    SELECT 3, s3.vec_id, CAST(round(s3.maxsim, 6) AS DOUBLE) FROM s3
    """,
)
def q_embedding_kcenter_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy seed selection (Gonzalez farthest-point
    traversal, the coreset/k-means++-style initializer): seed 1 is the
    max-norm vector (the deterministic stand-in for a random start),
    each later seed is the vector MINIMIZING its max cosine to the
    seeds chosen so far — 3 unrolled rounds, the diversification dual
    of `q_ann_mmr_diversify` (MMR diversifies a retrieval shortlist;
    this seeds coverage of the whole corpus).  Emits (round, vec_id,
    selection score).

    Determinism: selection compares the engines' identical sequential-
    fold cosines with a vec_id tie-break at every argmin/argmax
    (unrounded doubles, the ivf-incremental discipline); scores round
    to 6dp only for display.  Self-similarity is 1 = the maximum, so
    already-chosen seeds can never win an argmin round.

    Scale shape: each round is ONE corpus scan against an O(seeds)
    broadcast (fan-out ≤ |seeds| per vector) feeding a
    TakeOrderedAndProject(1) — never a corpus×corpus stage; k unrolled
    rounds cost k scans, the farthest-point contract.  At 100 TB with
    k in the hundreds, the selected-seed frame stays a broadcast."""
    v = with_norm(_vecs(spark, sf_dir)).select(
        "vec_id", "embedding", "vnorm"
    ).persist()  # three consumers (one per round); released by the
    # caller's clearCache
    s1 = v.orderBy(F.desc("vnorm"), "vec_id").limit(1)
    sd1 = s1.select(
        F.col("embedding").alias("s_emb"), F.col("vnorm").alias("s_norm")
    )
    c1 = v.crossJoin(F.broadcast(sd1)).select(
        "vec_id",
        "embedding",
        "vnorm",
        (dot(F.col("embedding"), F.col("s_emb")) / (F.col("vnorm") * F.col("s_norm"))).alias("sim"),
    )
    s2 = c1.orderBy(F.asc("sim"), "vec_id").limit(1)
    seeds = s1.select("vec_id", "embedding", "vnorm").unionAll(
        s2.select("vec_id", "embedding", "vnorm")
    )
    sd = seeds.select(
        F.col("embedding").alias("s_emb"), F.col("vnorm").alias("s_norm")
    )
    c2 = (
        v.crossJoin(F.broadcast(sd))
        .select(
            "vec_id",
            (
                dot(F.col("embedding"), F.col("s_emb"))
                / (F.col("vnorm") * F.col("s_norm"))
            ).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(F.max("sim").alias("maxsim"))
    )
    s3 = c2.orderBy(F.asc("maxsim"), "vec_id").limit(1)
    return (
        s1.select(
            F.lit(1).cast("int").alias("round"),
            "vec_id",
            F.round("vnorm", 6).cast("double").alias("score6"),
        )
        .unionAll(
            s2.select(
                F.lit(2).cast("int").alias("round"),
                "vec_id",
                F.round("sim", 6).cast("double").alias("score6"),
            )
        )
        .unionAll(
            s3.select(
                F.lit(3).cast("int").alias("round"),
                "vec_id",
                F.round("maxsim", 6).cast("double").alias("score6"),
            )
        )
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: nearest DIFFERENT-label neighbors per anchor
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, label,
                      {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {N_QUERIES}),
    pairs AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             v.vec_id AS neighbor_id, v.label AS neighbor_label,
             {dot_sql('q.embedding', 'v.embedding')} / (q.vnorm * v.vnorm) AS sim
      FROM q JOIN v ON q.vec_id <> v.vec_id AND q.label <> v.label
    ),
    ranked AS (
      SELECT query_id, query_label, neighbor_id, neighbor_label, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, CAST(query_label AS INT) AS query_label,
           neighbor_id, CAST(neighbor_label AS INT) AS neighbor_label,
           CAST(rank AS INT) AS rank,
           CAST(round(sim, 6) AS DOUBLE) AS cosine
    FROM ranked WHERE rank <= {KNN_K}
"""


@register("q_ann_hard_negatives", oracle=_HARDNEG_ORACLE)
def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor in
    the bounded query set, the top-{KNN_K} most-similar vectors whose
    label DIFFERS from the anchor's — the highest-similarity
    wrong-label examples are exactly the negatives that make a
    contrastive/retrieval loss informative (random negatives are too
    easy; these sit right at the decision boundary).  The
    embedding-family twin of what ``q_dedup_split_leakage`` does for
    splits: both audit the pairs a naive pipeline silently mishandles.

    Scale shape: identical to ``q_knn_bruteforce`` — the anchor set is
    a bounded {N_QUERIES}-row broadcast, so the plan is ONE corpus scan
    + broadcast join at any corpus size; the label-mismatch predicate
    fuses into the join condition (no second pass), and the per-anchor
    top-k is a rank-window over anchor-keyed partitions
    (WindowGroupLimit pushes the cut before the final sort)."""
    v = with_norm(_vecs_spread(spark, sf_dir)).select(
        "vec_id", "embedding", "vnorm", "label"
    )
    q = _query_set(v, N_QUERIES, F.col("label").alias("query_label"))
    pairs = v.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("vec_id"))
        & (F.col("query_label") != F.col("label")),
    ).select(
        "query_id",
        F.col("query_label").cast("int").alias("query_label"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("int").alias("neighbor_label"),
        _cand_sim().alias("sim"),
    )
    return _top_per_query(pairs, KNN_K, F.desc("sim")).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        F.col("rank").cast("int").alias("rank"),
        F.round("sim", 6).cast("double").alias("cosine"),
    )


# --------------------------------------------------------------------------
# Near-dup threshold calibration sweep: candidate-pair cosine histogram
# --------------------------------------------------------------------------

SWEEP_TAU = 0.2  # sweep floor — below both the graph τ=0.25 and dedup τ=0.35
SWEEP_STEP_MICRO = 50_000  # 0.05-wide buckets in 1e-6 cosine units

_SWEEP_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    p AS (
      SELECT {dot_sql('a.embedding', 'b.embedding')} / (a.vnorm * b.vnorm)
                 AS sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.vnorm * b.vnorm)
            >= {SWEEP_TAU}
    ),
    m AS (
      SELECT CAST(round(round(sim, 6) * 1000000, 0) AS BIGINT) AS micro
      FROM p
    )
    SELECT CAST((micro - micro % {SWEEP_STEP_MICRO}) AS DOUBLE) / 1000000.0
               AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM m GROUP BY 1
"""


@register("q_dedup_threshold_sweep", oracle=_SWEEP_ORACLE)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration histogram for embedding near-dup: candidate
    pairs at a LOW floor (cosine >= {SWEEP_TAU}) bucketed into 0.05-wide
    similarity bands.  This is the curve a pipeline owner reads before
    committing to a dedup threshold — how many pairs each candidate τ
    would merge (the elbow locates the duplicate/neighbor boundary),
    covering both production choices in this repo (graph τ=0.25, dedup
    τ=0.35) in one pass.

    Scale shape: the pair space is the audited
    ``cosine_threshold_pairs`` block-pair kernel (bounded kernel
    memory, no nested-loop join, only qualifying pairs leave the UDF);
    the histogram is one O(#buckets ≤ 17) combiner aggregation, so the
    sweep costs exactly one kernel pass regardless of how many
    thresholds it calibrates — vs. re-running dedup per candidate τ.
    Float discipline: sims quantize to integer micro-units with a
    round-then-round (never cast-float-to-int, which rounds in DuckDB
    but truncates in Spark); the bucket floor is nonneg ``%`` on
    BIGINTs and ONE identical double division at emit."""
    pairs = cosine_threshold_pairs(spark, sf_dir, tau=SWEEP_TAU)
    micro = F.round(F.round("sim", 6) * 1_000_000, 0).cast("bigint")
    bucket = micro - micro % SWEEP_STEP_MICRO
    return (
        pairs.select(
            (bucket.cast("double") / F.lit(1000000.0)).alias("bucket_lo")
        )
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# Label-noise audit: label agreement across near-duplicate pairs
# --------------------------------------------------------------------------

LABEL_EDGE_TAU = SEM_GRAPH_TAU  # audit-local alias: same memo key as
# the graph family by construction (closing-r11 review: the previous
# hand-synced 0.25 literal could drift and split the shared memo).

_CONFLICT_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.vnorm * b.vnorm)
            >= {LABEL_EDGE_TAU}
    ),
    lab AS (
      SELECT least(ea.label, eb.label) AS label_lo,
             greatest(ea.label, eb.label) AS label_hi
      FROM p
      JOIN embeddings ea ON ea.vec_id = p.vec_a
      JOIN embeddings eb ON eb.vec_id = p.vec_b
    )
    SELECT label_lo, label_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           label_lo <> label_hi AS is_conflict
    FROM lab GROUP BY label_lo, label_hi
"""


@register("q_embedding_label_conflicts", oracle=_CONFLICT_ORACLE)
def q_embedding_label_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit over the semantic graph: every near-duplicate
    pair (cosine >= {LABEL_EDGE_TAU}) bucketed by its unordered label
    pair.  Off-diagonal mass (``is_conflict``) is the confident-learning
    signal — near-identical examples carrying different labels are
    either annotation noise or genuinely ambiguous items, and both are
    what a training-data curator pulls for re-review before the labels
    feed a classifier head.

    Scale shape: edges come from the session-memoized
    ``semantic_edges`` frame (same τ as the graph family, so triangles /
    components / BFS / this audit all share ONE checkpointed kernel
    pass); labels attach with two fan-out-1 keyed joins (both sides
    hash-partition on vec_id — no broadcast grows with the corpus); the
    rollup is an O(|labels|²) combiner aggregation.  All-integer
    outputs; the conflict flag derives from the group keys after
    aggregation."""
    e = semantic_edges(spark, sf_dir, tau=LABEL_EDGE_TAU)
    lab = _vecs(spark, sf_dir).select("vec_id", "label")
    j = (
        e.join(
            lab.select(
                F.col("vec_id").alias("vec_a"), F.col("label").alias("la")
            ),
            "vec_a",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("vec_b"), F.col("label").alias("lb")
            ),
            "vec_b",
        )
    )
    return (
        j.select(
            F.least("la", "lb").alias("label_lo"),
            F.greatest("la", "lb").alias("label_hi"),
        )
        .groupBy("label_lo", "label_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "label_lo", "label_hi", "n_pairs",
            (F.col("label_lo") != F.col("label_hi")).alias("is_conflict"),
        )
    )


# ---------------------------------------------------------------------------
# IVF cell-balance audit (hot-cell / skew screen for the ANN index)
# ---------------------------------------------------------------------------

_IVF_BALANCE_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding, {norm_sql('embedding')} AS vnorm
               FROM embeddings),
    cent AS ({_CENT_SQL}),
    assign AS ({_ivf_sql()}),
    cells AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
              FROM assign GROUP BY cell),
    tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_cells_used
            FROM cells)
    SELECT c.cell, c.n_vectors,
           CAST(10000 * c.n_vectors // t.total AS BIGINT) AS share_bp,
           CAST(10000 * c.n_vectors * t.n_cells_used // t.total AS BIGINT)
               AS load_bp,
           c.n_vectors * t.n_cells_used > 2 * t.total AS is_hot
    FROM cells c, tot t
"""


@register("q_ann_ivf_cell_balance", oracle=_IVF_BALANCE_ORACLE)
def q_ann_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-occupancy audit for the IVF coarse quantizer: per non-empty
    cell, its vector count, corpus share, and load factor relative to a
    perfectly balanced index (10000 bp = exactly total/n_cells_used
    vectors).  `is_hot` flags cells holding > 2x their fair share —
    the cells that dominate probe latency and the first thing an ANN
    operator re-trains the quantizer over (IVF probe cost is the SIZE
    of the probed cells, so one hot cell sets the p99).

    Shares and load factors are integer basis points via truncating
    nonneg division (`div` == `//`); the count census is exact.

    Scale shape: the assignment pass is the audited `ivf_assignments`
    broadcast scan (O(IVF_C) state per task); the census is ONE
    combiner agg to <= IVF_C rows and the totals row is a broadcast of
    ONE row.  Nothing after the scan is corpus-sized.

    Reference provenance: index-health telemetry generalizing the
    reference's pipeline metrics (WordCount.java:54-63) to the ANN
    index the similarity family maintains.
    """
    v = with_norm(_vecs_spread(spark, sf_dir)).select("vec_id", "embedding", "vnorm")
    cells = (
        ivf_assignments(v)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    )
    tot = cells.agg(
        F.sum("n_vectors").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells_used"),
    )
    return cells.join(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        F.expr("10000 * n_vectors div total").cast("bigint").alias("share_bp"),
        F.expr("10000 * n_vectors * n_cells_used div total")
        .cast("bigint")
        .alias("load_bp"),
        (F.col("n_vectors") * F.col("n_cells_used") > 2 * F.col("total")).alias(
            "is_hot"
        ),
    )
