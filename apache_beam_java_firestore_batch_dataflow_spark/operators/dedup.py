"""Deduplication operators over ``documents`` — exact and near-dup.

Scale design (the whole point of these): near-dup at 100 TB must never
materialize the O(n²) pair space.  Every operator here reduces pairing
to an equi-join on a blocking key:

* **MinHash-LSH**: shingle → 32 universal hashes → min per doc (one
  narrow agg) → 8 bands of 4 → join on (band, band-hash).  Collisions
  are ~|near-dup pairs|, not n².
* **SimHash**: 32-bit weighted-token signature → block on 8-bit bytes
  (a pair within Hamming distance 3 must agree on ≥1 of 4 bytes) →
  verify with ``bit_count(xor)``.
* **Rare-n-gram Jaccard**: block on character 5-grams with document
  frequency ≤ DF_MAX, so join fan-out per gram is bounded.

Determinism: all hashing is the md5-based family from
functions/hashing.py, bit-identical in Spark and DuckDB, so every
pipeline (including banding) has a full SQL oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import (
    bit_of,
    bit_of_sql,
    h56,
    h56_sql,
    minhash_term,
    minhash_term_sql,
)
from ..functions.lineage import Generations
from ..functions.numeric import round_ratio, round_ratio_sql
from ..functions.setjoin import (
    UNION,
    block_pairs,
    jaccard_at_least,
    rounded_jaccard,
    verify_sets,
)
from ..sources.tables import load_table, shared_kernel, spread_scan
from .text import (
    TOKENS_SQL,
    _winnow_arrays_sql,
    char_gram_set,
    normalized_text,
    row_pairs,
    tokens_col,
    winnow_fingerprint_arrays,
    word_grams,
)

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)

NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS
SHINGLE_K = 3  # token-level shingle width
SIMHASH_BITS = 32
NGRAM_N = 5  # character n-grams
DF_MAX = 10  # rare-gram blocking: max docs sharing a blocking gram
JACCARD_MIN = 0.10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

@register(
    "q_dedup_exact",
    oracle=r"""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM documents)
    GROUP BY fp
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical (min) doc id per normalized content hash.

    At 100 TB this is one hash projection + one groupBy shuffle on the
    56-char digest — the cheapest possible dedup; AQE coalesces the
    (near-unique-key) reduce side.
    """
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def shingle_sets_df(docs: DataFrame) -> DataFrame:
    """(doc_id, shs): the DISTINCT SHINGLE_K-token shingle set per doc,
    as one array row — computed narrowly (``array_distinct`` inside the
    row), so building the sets costs ZERO shuffles at any scale.  The
    token array is projected before the shingle lambda, as the gram
    primitives in ``text`` require (~9x slower otherwise)."""
    tokd = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    return tokd.select(
        "doc_id", F.array_distinct(word_grams("t", SHINGLE_K)).alias("shs")
    )


def doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted :func:`shingle_sets_df` of ``documents``.

    The narrow (doc_id, text) projection is spread when the scan is
    unsplittable (a no-op at scale): tokenizing, shingling, the persisted
    set blocks and the signature hashing above them otherwise all run in
    one scan task.  The sets persist because the signatures and both
    verification sides read them, so tokenization runs once.  At cluster
    scale this would be MEMORY_AND_DISK or a checkpoint to durable
    storage."""
    docs = spread_scan(
        _docs(spark, sf_dir).select("doc_id", "text"), spark, sf_dir,
        "documents", key="doc_id",
    )
    return shingle_sets_df(docs).persist()


SHINGLES_SQL = rf"""
    SELECT DISTINCT doc_id, sh FROM (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= {SHINGLE_K}
                         THEN list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                         ELSE [] END) AS sh
      FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)
    )
"""


def minhash_signatures_from(sets: DataFrame, id: str = "doc_id") -> DataFrame:
    """(id, m0..m31): the MinHash signature of each (id, shs) shingle
    set, from one narrow explode and one aggregation.  An empty set has
    no signature.

    Double hashing (functions/hashing.py): two md5 base hashes per
    shingle, 32 derived minwise hashes — constant per-shingle cost
    regardless of NUM_HASHES.
    """
    from ..functions.hashing import H2_SALT

    shingles = sets.select(id, F.explode("shs").alias("sh"))
    hashed = shingles.select(
        id,
        h56(F.col("sh")).alias("h1"),
        h56(F.col("sh"), salt=H2_SALT).alias("h2"),
    )
    aggs = [
        F.min(minhash_term(F.col("h1"), F.col("h2"), i)).alias(f"m{i}")
        for i in range(NUM_HASHES)
    ]
    return hashed.groupBy(id).agg(*aggs)


def _signatures_sql() -> str:
    from ..functions.hashing import H2_SALT

    mins = ",\n             ".join(
        f"min({minhash_term_sql('h1', 'h2', i)}) AS m{i}" for i in range(NUM_HASHES)
    )
    return f"""
      SELECT doc_id,
             {mins}
      FROM (SELECT doc_id, {h56_sql('sh')} AS h1, {h56_sql('sh', salt=H2_SALT)} AS h2
            FROM ({SHINGLES_SQL}))
      GROUP BY doc_id
    """


def band_hashes(signatures: DataFrame, id: str = "doc_id") -> DataFrame:
    """(id, band_idx, band_hash): one row per band."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{b * ROWS_PER_BAND + r}").cast("string")
                            for r in range(ROWS_PER_BAND)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(BANDS)
        ]
    )
    return signatures.select(id, F.explode(bands).alias("band")).select(
        id, F.col("band.band_idx").alias("band_idx"), F.col("band.band_hash").alias("band_hash")
    )


def minhash_bands(sets: DataFrame, id: str = "doc_id") -> DataFrame:
    """The MinHash front end: (id, band_idx, band_hash) for each (id,
    shs) shingle set, persisted.  Both sides of a banded join read it;
    without the persist the signature aggregation, the dominant corpus
    pass, runs once per side."""
    return band_hashes(minhash_signatures_from(sets, id), id).persist()


def _bands_sql() -> str:
    per_band = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash FROM sigs".format(
            b=b,
            concat="concat_ws(',', "
            + ", ".join(
                f"CAST(m{b * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            )
            + ")",
        )
        for b in range(BANDS)
    )
    return per_band


_MINHASH_ORACLE = f"""
    WITH sigs AS ({_signatures_sql()}),
    bands AS ({_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sh AS ({SHINGLES_SQL}),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           {round_ratio_sql('i.n_common',
                            '(za.n_sh + zb.n_sh - i.n_common)', 6)}
               AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_common * 1.0 / (za.n_sh + zb.n_sh - i.n_common) >= {JACCARD_MIN}
"""


@register("q_dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates + exact Jaccard verification.

    Pipeline: shingle (narrow) → signature (1 agg) → band join (equi) →
    in-row shingle-set verification on *candidates only*
    (``functions/setjoin``).  No stage touches the n² pair space; every
    join is a hash shuffle on a high-cardinality key.
    """
    shs = doc_shingle_sets(spark, sf_dir)
    cand = block_pairs(minhash_bands(shs), ["band_idx", "band_hash"], "doc_id")
    verified = verify_sets(cand, shs, "doc_id", "shs")
    return verified.filter(jaccard_at_least(JACCARD_MIN)).select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        rounded_jaccard().alias("jaccard"),
    )


@shared_kernel("minhash_pairs", ("documents",))
def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, eagerly-checkpointed ``(doc_a, doc_b)`` frame of the
    verified MinHash-LSH near-dup pairs (Jaccard >= JACCARD_MIN).

    clusters / clusters_k3 / split-leakage / rate-by-source (and
    transitively canonical-keep and the curation funnel) all read this
    one frame: the first caller in a session pays the banded kernel
    once.  ``q_dedup_minhash_lsh`` itself stays un-memoized: it IS the
    kernel under measurement, and its registered output carries the
    n_common/jaccard columns this id-only frame drops.
    """
    # Rebalanced to byte-sized width: 253 rows checkpointed across 32
    # partitions at sf0.1 made every consumer (the iterative CC rounds
    # above all) pay full-width task overhead per stage.  Two steps,
    # because a keyed repartition directly above the LSH plan does NOT
    # coalesce (its persisted band/shingle relations pin the cached
    # plan's partitioning): checkpoint first, severing the cached
    # lineage, then rebalance the clean checkpoint scan, which AQE
    # coalesces by bytes (1 partition at sf0.1, data-proportional at
    # scale; +0.30 s eager, measured).
    return (
        q_dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
        .repartition("doc_a")
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# Connected-components clustering: pairs -> canonical doc per cluster
# ---------------------------------------------------------------------------


def undirected(edges: DataFrame) -> DataFrame:
    """``edges`` (``src``, ``dst``) plus every reversed arc: both arcs of
    each undirected edge."""
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _min_label_round(
    arcs: DataFrame, labels: DataFrame, flag_change: bool = False
) -> DataFrame:
    """One min-label round: every vertex takes the least of its own label
    and its neighbors' over ``arcs`` (both directions present).  Reads
    ``labels`` twice (the left join keeps every vertex, the neighbor
    minimum re-derives from it).  ``flag_change`` adds ``chg`` (1 where
    the label dropped), so convergence is one combiner agg over the
    round's own rows rather than a second new-vs-old join."""
    neighbor_min = (
        arcs.join(labels, arcs["src"] == labels["doc_id"])
        .select(F.col("dst").alias("doc_id"), "cluster_id")
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("nbr_min"))
    )
    nbr = F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
    flag = [(nbr < F.col("cluster_id")).cast("int").alias("chg")] if flag_change else []
    return labels.join(neighbor_min, "doc_id", "left").select(
        "doc_id", F.least(F.col("cluster_id"), nbr).alias("cluster_id"), *flag
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 20,
) -> DataFrame:
    """(doc_id, cluster_id): min-doc-id label propagation to fixpoint.

    vertices: one column ``doc_id``; edges: ``src``/``dst`` (undirected,
    one row per pair).  Each round is one join + one combiner
    aggregation, both hash-partitioned on doc_id; rounds needed =
    component diameter (near-dup clusters are tiny, so 2-4 in practice
    — the driver loop only inspects a scalar convergence count, never
    row data).  This is the standard large-graph
    CC-by-label-propagation.

    Every generation, the initial vertex labels included, is truncated
    (``functions/lineage``): a checkpoint stores the same O(nodes) bytes
    a persist would, and cutting lineage each round keeps the analysis
    and AQE planning of the next round constant-size.  That measured
    faster than checkpointing every third round and than unrolling two
    rounds per action (together with the change flag: 5.9 s -> 3.3 s
    eager build of q_graph_components_semantic at sf0.1; unrolling,
    4.7 s).  Generation 0 is truncated too: lazily persisted and read
    twice in round 1, it cost an extra AQE query-stage job in some
    builds and not others.  At most two generations stay held.
    """
    both = undirected(edges).persist()
    gens = Generations()
    labels = gens.truncate(
        vertices.select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    for _ in range(max_iter):
        stepped = gens.truncate(_min_label_round(both, labels, flag_change=True))
        changed = stepped.agg(F.sum("chg")).first()[0] or 0
        # narrow projection of the checkpointed frame — no copy
        labels = stepped.select("doc_id", "cluster_id")
        if changed == 0:
            break
    both.unpersist()
    return labels


_CLUSTER_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.doc, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc
"""


@register("q_dedup_clusters", oracle=_CLUSTER_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document labeled with its near-dup cluster's canonical
    (minimum) doc id — MinHash-LSH pairs as edges, connected components
    by label propagation.  ``cluster_id == doc_id`` rows are the corpus
    to keep; the rest are the near-duplicates to drop."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return connected_components(docs.select("doc_id"), edges)


LABEL_PROP_K = 3  # fixed rounds for the bench-able bounded variant


def propagate_min_label(
    vertices: DataFrame, edges: DataFrame, iterations: int = LABEL_PROP_K,
) -> DataFrame:
    """Exactly ``iterations`` rounds of min-label propagation, unrolled
    into ONE declarative plan (no driver-side convergence reads).

    After k rounds ``cluster_id(v) == min(doc_id over vertices within
    graph distance <= k)`` — near-dup clusters have tiny diameters, so a
    small fixed k labels them fully while keeping the whole computation
    a single Catalyst plan: k keyed join+combiner-agg stages, no
    per-round ``count()`` actions.  This is the shape to benchmark
    (``connected_components`` adds a scalar convergence read per round,
    which is control flow, not dataflow).  Edges are persisted once so
    the k joins don't re-derive the pair pipeline.

    Each round reads its label generation twice, so every generation is
    held (``functions/lineage``): unheld, the final plan carries 2^k
    copies of the label chain (~7 s of redundant recompute at k=3,
    sf0.1).  In the lazy one-job shape every held generation is still
    read by the final plan, so generations are released only from the
    old end after the loop; at k=3 that drops generation 0 (the bare
    vertex projection) for one extra scan.  Deeper runs truncate every
    ``CHECKPOINT_EVERY`` rounds, never after the last, so the dropped
    chain can be two generations deep: at sf0.1 (q_dedup_clusters_k3's
    graph) k=4 / 7 / 8 take 1.28 / 1.57 / 1.86 s against 1.13 / 1.48 /
    1.44 s with a cut every third round, which would cut the registered
    k=3 plan too.
    """
    both = undirected(edges).persist()
    labels = vertices.select("doc_id", F.col("doc_id").alias("cluster_id"))
    gens = Generations()
    for i in range(iterations):
        labels = _min_label_round(both, gens.hold(labels))
        labels = gens.on_cadence(labels, i, iterations)
    gens.release()
    return labels


_CLUSTER_K_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc, r, d) AS (
      SELECT doc_id, doc_id, 0 FROM documents
      UNION
      SELECT reach.doc, e.dst, reach.d + 1
      FROM reach JOIN edges e ON e.src = reach.r
      WHERE reach.d < {LABEL_PROP_K}
    )
    SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc
"""


@register("q_dedup_clusters_k3", oracle=_CLUSTER_K_ORACLE)
def q_dedup_clusters_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth near-dup clustering: exactly LABEL_PROP_K rounds of
    min-label propagation over the MinHash-LSH pair graph.  Equivalent to
    ``q_dedup_clusters`` whenever every component's diameter is <= k
    (the near-dup norm); unlike the fixpoint loop it is a single
    declarative plan, so the per-round label-propagation cost is
    benchmarkable without convergence-control noise.  Oracle: min doc_id
    within <= k hops (depth-bounded recursive CTE) — a walk of length
    <= k reaches exactly the vertices at distance <= k."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return propagate_min_label(docs.select("doc_id"), edges)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit weighted-token SimHash.

    One token explode + one (doc, token) count agg + one per-doc agg of 32
    bit-sums — all narrow or combiner aggregations.
    """
    token_counts = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("doc_id", "cnt", h56(F.col("tok")).alias("h"))
    )
    bit_sums = token_counts.groupBy("doc_id").agg(
        *[
            F.sum(F.col("cnt") * (bit_of(F.col("h"), j) * 2 - 1)).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_sums.select("doc_id", sig.cast("bigint").alias("simhash"))


def _simhash_sql() -> str:
    bit_sums = ",\n           ".join(
        f"sum(cnt * ({bit_of_sql('h', j)} * 2 - 1)) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
      SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM (
        SELECT doc_id,
           {bit_sums}
        FROM (
          SELECT doc_id, count(*) AS cnt, {h56_sql('tok')} AS h
          FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents)
          GROUP BY doc_id, tok
        )
        GROUP BY doc_id
      )
    """


HAMMING_MAX = 6

_SIMHASH_ORACLE = f"""
    WITH sigs AS ({_simhash_sql()}),
    blocks AS (
      SELECT doc_id, simhash, b AS block_idx,
             (simhash >> (b * 8)) & 255 AS block_val
      FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
                      b.doc_id AS doc_b, b.simhash AS sig_b
      FROM blocks a JOIN blocks b
        ON a.block_idx = b.block_idx AND a.block_val = b.block_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {HAMMING_MAX}
"""


@register("q_dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance HAMMING_MAX.

    Blocking: a pair at distance <= 3 must share at least one of the four
    signature bytes (pigeonhole); we block on byte equality and verify
    with bit_count(xor).  HAMMING_MAX is looser than 3, so this is a
    recall-biased candidate set — the verified hamming column is exact.

    The signature frame is persisted (the minhash shingle-set idiom,
    released by the caller's clearCache): both sides of the block
    self-join consume it, and without the persist the 64-bit-sum
    aggregation — the query's dominant stage, a full corpus pass — runs
    once per side.
    """
    docs = _docs(spark, sf_dir)
    sigs = simhash_signatures(docs).persist()
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.shiftright(F.col("simhash"), b * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("block_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("blk"),
    ).select(
        "doc_id",
        "simhash",
        F.col("blk.block_idx").alias("block_idx"),
        F.col("blk.block_val").alias("block_val"),
    )
    a = blocks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
        "block_idx",
        "block_val",
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
        F.col("block_idx").alias("block_idx_b"),
        F.col("block_val").alias("block_val_b"),
    )
    # not functions/setjoin.block_pairs: the pair carries both signatures
    # through the join, so the verify step needs no second lookup
    cand = (
        a.join(
            b,
            (F.col("block_idx") == F.col("block_idx_b"))
            & (F.col("block_val") == F.col("block_val_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "sig_a", "doc_b", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.filter(hamming <= HAMMING_MAX).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Character n-gram Jaccard with rare-gram blocking
# ---------------------------------------------------------------------------

_NGRAM_GRAMS_SQL = rf"""
    SELECT DISTINCT doc_id, g FROM (
      SELECT doc_id,
             unnest(CASE WHEN length(norm) >= {NGRAM_N}
                         THEN list_transform(range(1, length(norm) - {NGRAM_N - 2}),
                                             i -> substr(norm, i, {NGRAM_N}))
                         ELSE [] END) AS g
      FROM (SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
            FROM documents)
    )
"""

_NGRAM_ORACLE = f"""
    WITH grams AS ({_NGRAM_GRAMS_SQL}),
    rare AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND {DF_MAX}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM grams a
      JOIN rare r ON a.g = r.g
      JOIN grams b ON b.g = a.g AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
      JOIN grams ga ON ga.doc_id = c.doc_a
      JOIN grams gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
      GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n_g FROM grams GROUP BY doc_id)
    SELECT i.doc_a, i.doc_b,
           {round_ratio_sql('i.n_common',
                            '(za.n_g + zb.n_g - i.n_common)', 6)}
               AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_common * 1.0 / (za.n_g + zb.n_g - i.n_common) >= {JACCARD_MIN}
"""


def _ngram_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate+verify pipeline for the n-gram pair family:
    rare-gram postings candidates, in-row array-intersect verification.
    Returns verify_sets' (doc_a, doc_b, n_common, n_a, n_b) — Jaccard and
    containment are different FILTERS over the same verified frame.
    Candidates come from the ``row_pairs`` postings form, not
    ``block_pairs``: one groupBy per gram emits its pairs in-row."""
    docs = _docs(spark, sf_dir)
    # The gram build below is a heavy per-row kernel fused into the scan
    # stage; the narrow (doc_id, norm) projection is spread when the
    # scan is unsplittable (no-op at scale), so the gram build AND the
    # persisted gset blocks (three downstream consumers) are parallel.
    d = spread_scan(
        docs.select("doc_id", normalized_text(F.col("text")).alias("norm")),
        spark, sf_dir, "documents", key="doc_id",
    )
    # Per-doc DISTINCT gram sets computed NARROWLY (array_distinct inside
    # the row, before any explode): the set semantics the pipeline needs,
    # with zero shuffle — replacing an explode+distinct exchange of the
    # full (doc, gram) stream (~500 rows/doc), which profiling showed was
    # the pipeline's dominant cost.  Persisted: three consumers (postings
    # explode + both verification join sides).
    gsets = d.select("doc_id", char_gram_set("norm", NGRAM_N).alias("gs")).persist()
    grams = gsets.select("doc_id", F.explode("gs").alias("g"))
    # Candidate pairs straight from the rare-gram postings lists: a gram
    # kept by the DF filter has 2..DF_MAX docs, so its pair set is at most
    # C(DF_MAX, 2) — emit them from one groupBy(collect_list) instead of a
    # postings self-join (one shuffle of the gram set, not three).
    cand = (
        grams.groupBy("g")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= DF_MAX))
        .select(F.explode(row_pairs("docs", "doc_a", "doc_b", DF_MAX)).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    return verify_sets(cand, gsets, "doc_id", "gs")


@register("q_dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard near-dup with rare-gram blocking.

    Pairs are generated only through grams shared by 2..DF_MAX documents,
    bounding join fan-out per gram at DF_MAX² — the standard trick that
    keeps n-gram dedup linear-ish at corpus scale (common grams carry no
    signal; unique grams pair nothing).
    """
    verified = _ngram_verified_pairs(spark, sf_dir)
    return verified.filter(jaccard_at_least(JACCARD_MIN)).select(
        "doc_a", "doc_b", rounded_jaccard().alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment pairs (sub-document duplication)
# ---------------------------------------------------------------------------

CONTAIN_MIN = 0.4  # |A∩B| / min(|A|, |B|) acceptance threshold

_CONTAIN_ORACLE = f"""
    WITH grams AS ({_NGRAM_GRAMS_SQL}),
    rare AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND {DF_MAX}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM grams a
      JOIN rare r ON a.g = r.g
      JOIN grams b ON b.g = a.g AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
      JOIN grams ga ON ga.doc_id = c.doc_a
      JOIN grams gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
      GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n_g FROM grams GROUP BY doc_id)
    SELECT i.doc_a, i.doc_b,
           {round_ratio_sql('i.n_common', 'least(za.n_g, zb.n_g)', 6)}
               AS containment,
           {round_ratio_sql('i.n_common',
                            '(za.n_g + zb.n_g - i.n_common)', 6)}
               AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_common * 1.0 / least(za.n_g, zb.n_g) >= {CONTAIN_MIN}
"""


@register("q_dedup_containment_pairs", oracle=_CONTAIN_ORACLE)
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: |A∩B| / min(|A|, |B|) ≥
    {CONTAIN_MIN} — the sub-document duplication detector Jaccard
    structurally misses (a short document fully quoted inside a long
    one has high containment but LOW Jaccard, because the union is
    dominated by the long document).  Both scores are emitted so the
    asymmetry is visible per pair.

    Same rare-gram candidate generation and in-row intersect
    verification as the Jaccard query (`_ngram_verified_pairs` — one
    shared pipeline, two filters), so the scale properties are
    inherited: per-gram fan-out ≤ C(DF_MAX, 2), no pair explosion, no
    (pair × gram) shuffle."""
    verified = _ngram_verified_pairs(spark, sf_dir)
    contain = F.col("n_common") * 1.0 / F.least(F.col("n_a"), F.col("n_b"))
    return verified.filter(contain >= CONTAIN_MIN).select(
        "doc_a",
        "doc_b",
        round_ratio("n_common", "least(n_a, n_b)", 6).alias("containment"),
        rounded_jaccard().alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate removal (CCNet/RefinedWeb line-dedup shape)
# ---------------------------------------------------------------------------

BP_CHUNK_W = 2    # tokens per chunk (the "line" unit on newline-free fixtures)
BP_MIN_DOCS = 20  # a chunk seen in >= this many distinct docs is boilerplate

_BOILERPLATE_ORACLE = rf"""
    WITH tokd AS (
      SELECT doc_id, {TOKENS_SQL} AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST((s - 1) // {BP_CHUNK_W} AS INT) AS chunk_idx,
             array_to_string(list_slice(t, s, s + {BP_CHUNK_W} - 1), ' ') AS ck
      FROM tokd,
           LATERAL (SELECT unnest(range(1, len(t) - {BP_CHUNK_W} + 2,
                                        {BP_CHUNK_W})) AS s)
    ),
    bp AS (
      SELECT ck FROM chunks GROUP BY ck
      HAVING count(DISTINCT doc_id) >= {BP_MIN_DOCS}
    ),
    marked AS (
      SELECT c.doc_id, c.chunk_idx, c.ck,
             (b.ck IS NOT NULL) AS is_bp
      FROM chunks c LEFT JOIN bp b ON c.ck = b.ck
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boilerplate,
           coalesce(string_agg(CASE WHEN NOT is_bp THEN ck END, ' '
                               ORDER BY chunk_idx), '') AS clean_text
    FROM marked
    GROUP BY doc_id
"""


@register("q_dedup_boilerplate_chunks", oracle=_BOILERPLATE_ORACLE)
def q_dedup_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal: any 2-token chunk occurring in
    >= ``BP_MIN_DOCS`` distinct documents is dropped from every document
    (the CCNet / RefinedWeb repeated-line filter; the fixture corpus has
    no newlines, so fixed-width token chunks stand in for lines).

    Scale shape — three keyed stages, nothing quadratic:

    1. chunking is a narrow ``Generate`` over the scan (rows ~= tokens/W);
    2. the boilerplate vocabulary is ONE aggregation keyed on chunk text
       (count distinct docs, map-side partial);
    3. instances re-join that vocabulary on the same key, then one
       groupBy(doc_id) reassembles retained chunks in order (collect_list
       skips the nulled-out boilerplate entries; the in-row sort is
       bounded by chunks-per-document).

    The vocabulary is data-dependent but tiny relative to the corpus
    (only chunks crossing the threshold); Spark's AQE broadcasts it when
    it fits, and the plan stays a keyed equi-join either way.
    """
    # chunking + census partials run inside the scan stage — spread the
    # scan when it is unsplittable (no-op at scale)
    docs = spread_scan(
        _docs(spark, sf_dir), spark, sf_dir, "documents", key="doc_id"
    )
    t = tokens_col(F.col("text"))
    tokd = docs.select("doc_id", t.alias("t"))
    chunks = (
        tokd.select(
            "doc_id",
            F.explode(
                # Degenerate docs (fewer tokens than one chunk) would give
                # sequence() a start > stop bound, which Spark rejects at
                # runtime; emit an empty array instead so explode drops the
                # doc — matching the oracle's range() semantics.
                F.when(
                    F.size("t") >= BP_CHUNK_W,
                    F.sequence(
                        F.lit(1), F.size("t") - F.lit(BP_CHUNK_W - 1), F.lit(BP_CHUNK_W)
                    ),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("s"),
            "t",
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / F.lit(BP_CHUNK_W)).cast("int").alias("chunk_idx"),
            F.array_join(F.slice("t", F.col("s"), BP_CHUNK_W), " ").alias("ck"),
        )
    )
    bp = (
        chunks.groupBy("ck")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BP_MIN_DOCS)
        .select("ck", F.lit(True).alias("is_bp"))
    )
    marked = chunks.join(bp, "ck", "left").withColumn(
        "is_bp", F.coalesce(F.col("is_bp"), F.lit(False))
    )
    kept = F.when(~F.col("is_bp"), F.struct("chunk_idx", "ck"))
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("is_bp").cast("bigint")).alias("n_boilerplate"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept)), lambda x: x["ck"]),
            " ",
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Winnowing-fingerprint pair matching (MOSS-style overlap detection)
# ---------------------------------------------------------------------------

FP_DF_MAX = 10       # rare-fingerprint blocking: max docs sharing a block fp
WINNOW_SIM_MIN = 0.2  # fingerprint-set Jaccard threshold


def _winnow_pairs_oracle() -> str:
    return f"""
    WITH w AS ({_winnow_arrays_sql()}),
    fp AS (SELECT doc_id, unnest(fps) AS f FROM w),
    rare AS (
      SELECT f FROM fp GROUP BY f HAVING count(*) BETWEEN 2 AND {FP_DF_MAX}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fp a
      JOIN rare r ON a.f = r.f
      JOIN fp b ON b.f = a.f AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(wa.fps, wb.fps)) AS n_common,
             wa.n_fp AS n_a, wb.n_fp AS n_b
      FROM cand c
      JOIN w wa ON wa.doc_id = c.doc_a
      JOIN w wb ON wb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
           {round_ratio_sql('n_common', '(n_a + n_b - n_common)', 6)}
               AS overlap
    FROM pairs
    WHERE n_common * 1.0 / (n_a + n_b - n_common) >= {WINNOW_SIM_MIN}
"""


@register("q_dedup_winnow_pairs", oracle=_winnow_pairs_oracle())
def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs whose winnowing fingerprint sets overlap (Jaccard
    >= ``WINNOW_SIM_MIN``) — the pair-matching stage downstream of
    ``q_text_winnow_fingerprints`` (MOSS): robust to partial overlap and
    reordering in a way whole-doc hashing is not.

    Same 100 TB shape as the rare-gram Jaccard family: candidates come
    ONLY from fingerprints shared by 2..``FP_DF_MAX`` docs (per-
    fingerprint fan-out bounded by C(FP_DF_MAX, 2)); verification joins
    the two per-doc fingerprint ARRAYS and intersects in-row — never a
    (pair x fingerprint) exploded shuffle.  Ubiquitous fingerprints
    (df > FP_DF_MAX) cannot generate candidates, which is what kills
    the head-term pair explosion on web-scale corpora.
    """
    w = winnow_fingerprint_arrays(spark, sf_dir).persist()
    fp = w.select("doc_id", F.explode("fps").alias("f"))
    rare = (
        fp.groupBy("f")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= FP_DF_MAX))
        .select("f")
    )
    # not persisted: the winnow arrays above are already cached and the
    # posting rebuild rides a reused exchange (persist 4.93 s vs 4.27 s
    # without — materializing the postings costs more)
    cand = block_pairs(fp.join(rare, "f"), ["f"], "doc_id")
    verified = verify_sets(cand, w, "doc_id", "fps")
    return verified.filter(jaccard_at_least(WINNOW_SIM_MIN)).select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        rounded_jaccard().alias("overlap"),
    )


# ---------------------------------------------------------------------------
# Incremental ingest screening (new batch vs corpus, MinHash-LSH index)
# ---------------------------------------------------------------------------

INGEST_MOD = 5  # fixture split: doc_id % INGEST_MOD == 0 is the "new batch"

_INCREMENTAL_ORACLE = f"""
    WITH pairs AS ({_MINHASH_ORACLE}),
    newdocs AS (
      SELECT doc_id FROM documents WHERE doc_id % {INGEST_MOD} = 0
    ),
    matches AS (
      SELECT n.doc_id,
             count(*) AS n_matches,
             min(CASE WHEN p.doc_a = n.doc_id THEN p.doc_b ELSE p.doc_a END)
                 AS best_match
      FROM newdocs n JOIN pairs p
        ON (p.doc_a = n.doc_id AND p.doc_b % {INGEST_MOD} != 0)
        OR (p.doc_b = n.doc_id AND p.doc_a % {INGEST_MOD} != 0)
      GROUP BY n.doc_id
    )
    SELECT n.doc_id,
           CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
           m.best_match,
           (m.doc_id IS NULL) AS accepted
    FROM newdocs n LEFT JOIN matches m ON n.doc_id = m.doc_id
"""


@register("q_dedup_incremental_ingest", oracle=_INCREMENTAL_ORACLE)
def q_dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest screening: each document of a NEW batch
    (fixture split: doc_id % ``INGEST_MOD`` == 0) is accepted only if no
    near-duplicate (MinHash-LSH candidate verified at Jaccard >=
    ``JACCARD_MIN``) already exists in the CORPUS — the production shape
    of dedup, where a maintained index screens every arriving batch
    instead of re-deduplicating the world.

    Scale shape: the corpus band index is the precomputed, persisted
    artifact (here rebuilt from the fixture; in production it lives in
    a table); the band join is new-batch x index on (band_idx,
    band_hash) — the small new-batch side broadcasts, so screening cost
    is O(batch x collisions), INDEPENDENT of corpus size.  Verification
    intersects shingle arrays per candidate, and only new-vs-corpus
    pairs are ever generated (new-vs-new duplicates are settled by the
    batch's own run of q_dedup_exact/minhash, not this screen).
    """
    # The spread scan and the band persist (new-batch and corpus filters
    # are two consumers) took this query from 1.51 to 0.52 s median
    # (0.99 -> 0.45 s min) in a same-window A/B.
    shs = doc_shingle_sets(spark, sf_dir)
    bands = minhash_bands(shs)
    is_new = F.col("doc_id") % INGEST_MOD == 0
    # Not block_pairs: the two sides are different slices of the index,
    # so the pair is (new, corpus) with no a < b order.
    cand = (
        bands.filter(is_new).alias("n")
        .join(
            bands.filter(~is_new).alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .select(F.col("n.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        .distinct()
    )
    matches = (
        verify_sets(cand, shs, "doc_id", "shs")
        .filter(jaccard_at_least(JACCARD_MIN))
        .groupBy("doc_a")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_b").alias("best_match"),
        )
    )
    newdocs = _docs(spark, sf_dir).filter(is_new).select("doc_id")
    out = newdocs.join(
        matches.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left"
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_matches"), F.lit(0)).cast("bigint").alias("n_matches"),
        F.col("best_match"),
        F.col("n_matches").isNull().alias("accepted"),
    )


# ---------------------------------------------------------------------------
# Canonical selection: which duplicate survives each near-dup cluster
# ---------------------------------------------------------------------------

_CANONICAL_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.doc, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    clusters AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc),
    ranked AS (
      SELECT c.doc_id, c.cluster_id,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    ),
    keepers AS (SELECT cluster_id, doc_id AS keeper_id FROM ranked WHERE rn = 1)
    SELECT r.doc_id, r.cluster_id, k.keeper_id,
           CAST(r.doc_id = k.keeper_id AS BOOLEAN) AS keep
    FROM ranked r JOIN keepers k ON k.cluster_id = r.cluster_id
"""


@register("q_dedup_canonical_keep", oracle=_CANONICAL_ORACLE)
def q_dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop decision that completes the dedup pipeline: within
    each near-dup cluster the LONGEST document survives (ties to the
    lowest doc_id) — the RefinedWeb/FineWeb policy, where near-dups are
    usually truncations or boilerplate-wrapped copies of the fullest
    version.

    Scale shape: clustering is the existing label-propagation query;
    keeper election is a ``max(struct(n_chars, -doc_id, doc_id))``
    combiner aggregation — map-side partial, no window sort over the
    corpus — and one keyed re-join broadcasts the (tiny) keeper table
    under AQE.  Output is a full per-document decision ledger
    (doc_id, cluster_id, keeper_id, keep), which downstream filters
    with ``keep`` rather than re-deriving.
    """
    clusters = q_dedup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    labeled = clusters.join(docs, "doc_id")
    keepers = labeled.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("n_chars"),
                (-F.col("doc_id")).alias("neg_id"),
                F.col("doc_id").alias("kid"),
            )
        )["kid"].alias("keeper_id")
    )
    return labeled.join(keepers, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# MinHash estimator quality: signature-agreement estimate vs exact Jaccard
# ---------------------------------------------------------------------------


def _minhash_error_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    return f"""
    WITH sigs AS ({_signatures_sql()}),
    bands AS ({_bands_sql()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b, ({agree}) AS n_agree
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    ),
    sh AS ({SHINGLES_SQL}),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT e.doc_a, e.doc_b,
           CAST(e.n_agree AS INT) AS n_agree,
           {round_ratio_sql('e.n_agree', str(NUM_HASHES), 6)} AS est_jaccard,
           {round_ratio_sql(
               'coalesce(i.n_common, 0)',
               '(za.n_sh + zb.n_sh - coalesce(i.n_common, 0))', 6)}
               AS exact_jaccard,
           {round_ratio_sql(
               'abs(e.n_agree * (za.n_sh + zb.n_sh - coalesce(i.n_common, 0))'
               f' - coalesce(i.n_common, 0) * {NUM_HASHES})',
               f'({NUM_HASHES}'
               ' * (za.n_sh + zb.n_sh - coalesce(i.n_common, 0)))', 6)}
               AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes za ON za.doc_id = e.doc_a
    JOIN sizes zb ON zb.doc_id = e.doc_b
"""


@register("q_dedup_minhash_est_error", oracle=_minhash_error_oracle())
def q_dedup_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    the signature-agreement Jaccard ESTIMATE (agreeing slots /
    NUM_HASHES — what the sketch believes) against the EXACT shingle
    Jaccard (what the data says), with the absolute error — the dedup
    family's quality axis, the sketch-side twin of ``q_ann_recall``:
    an approximation carries a measured-quality query, not just a
    correctness oracle.

    Scale shape: candidates come from the banded equi-join (never n²);
    the estimate joins the two 32-column signature rows per pair and
    folds agreement IN-ROW; exact Jaccard is the in-row shingle-set
    verification on candidates only.  Everything downstream of
    candidates is O(pairs)."""
    shs = doc_shingle_sets(spark, sf_dir)
    # Not minhash_bands: the agreement probes read the signatures too, so
    # the signatures persist (the aggregation runs once for four
    # consumers) and the bands re-explode narrowly from them.
    sigs = minhash_signatures_from(shs).persist()
    cand = block_pairs(band_hashes(sigs), ["band_idx", "band_hash"], "doc_id")
    sig_arr = F.array(*[F.col(f"m{i}") for i in range(NUM_HASHES)])
    sa = sigs.select(F.col("doc_id").alias("doc_a"), sig_arr.alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), sig_arr.alias("sig_b"))
    n_agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    # est, exact and their difference are integer ratios, rounded exactly:
    # abs_err = |n_agree·union − n_common·K| / (K·union), magnitudes
    # <= ~1e7, comfortably int64
    return (
        verify_sets(cand, shs, "doc_id", "shs")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_agree.alias("n_agree"), "n_common", "n_a", "n_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_agree").cast("int").alias("n_agree"),
            round_ratio("n_agree", str(NUM_HASHES), 6).alias("est_jaccard"),
            rounded_jaccard().alias("exact_jaccard"),
            round_ratio(
                f"abs(n_agree * {UNION} - n_common * {NUM_HASHES})",
                f"({NUM_HASHES} * {UNION})",
                6,
            ).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy record linkage (dirty -> canonical)
# ---------------------------------------------------------------------------

ER_MAX_DIST = 2  # edit-distance acceptance threshold

# The corpus has no naturally dirty twin, so one is derived
# deterministically: each customer's name loses the character at
# position 15 + (custkey % 4) — inside the numeric suffix, the part a
# typo actually hits.  Stable attributes (nation, segment, balance)
# survive intact, which is exactly the real-world blocking setup:
# block on what's reliable, fuzzy-match on what isn't.
_ER_DIRTY_SQL = """
      SELECT c_custkey AS dirty_id,
             substr(c_name, 1, 14 + CAST(c_custkey % 4 AS INT))
               || substr(c_name, 16 + CAST(c_custkey % 4 AS INT)) AS dirty_name,
             c_nationkey, c_mktsegment, c_acctbal
      FROM customer
"""

_ER_ORACLE = f"""
    WITH dirty AS ({_ER_DIRTY_SQL}),
    cand AS (
      SELECT d.dirty_id, c.c_custkey,
             levenshtein(d.dirty_name, c.c_name) AS dist
      FROM dirty d JOIN customer c
        ON d.c_nationkey = c.c_nationkey
       AND d.c_mktsegment = c.c_mktsegment
       AND d.c_acctbal = c.c_acctbal
      WHERE levenshtein(d.dirty_name, c.c_name) <= {ER_MAX_DIST}
    ),
    ranked AS (
      SELECT dirty_id, c_custkey, dist,
             count(*) OVER (PARTITION BY dirty_id) AS n_candidates,
             row_number() OVER (PARTITION BY dirty_id
                                ORDER BY dist, c_custkey) AS rk
      FROM cand
    )
    SELECT dirty_id, c_custkey AS matched_custkey,
           CAST(dist AS INT) AS dist,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           (dirty_id = c_custkey) AS is_true_match
    FROM ranked WHERE rk = 1
"""


@register("q_er_fuzzy_blocked", oracle=_ER_ORACLE)
def q_er_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage: match typo-corrupted customer
    records back to the canonical table — the entity-resolution step
    every multi-source ingest runs before dedup can even see that two
    records are the same entity.

    Plan: candidates come from an EQUI-join on the stable attribute
    block (nation, segment, exact balance) — never a cross join — and
    only within-block pairs pay the `levenshtein` verify (JVM codegen,
    no UDF).  Best match per dirty record is a window top-1 ordered by
    (distance, custkey); `is_true_match` makes linkage quality an
    oracle-checked OUTPUT (the measured-quality axis the brief asks for,
    like q_ann_recall for ANN).  At 100 TB block sizes bound the pair
    space exactly like LSH bands bound near-dup candidates; a skewed
    block (one giant segment) is handled the same way as any hot join
    key — salt or AQE."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    cut = (F.lit(15) + (F.col("c_custkey") % 4)).cast("int")
    dirty = cust.select(
        F.col("c_custkey").alias("dirty_id"),
        F.concat(
            F.substr(F.col("c_name"), F.lit(1), cut - 1),
            F.substr(F.col("c_name"), cut + 1, F.lit(32)),
        ).alias("dirty_name"),
        F.col("c_nationkey").alias("d_nationkey"),
        F.col("c_mktsegment").alias("d_mktsegment"),
        F.col("c_acctbal").alias("d_acctbal"),
    )
    cand = (
        dirty.join(
            cust,
            (F.col("d_nationkey") == F.col("c_nationkey"))
            & (F.col("d_mktsegment") == F.col("c_mktsegment"))
            & (F.col("d_acctbal") == F.col("c_acctbal")),
        )
        .select(
            "dirty_id",
            "c_custkey",
            F.levenshtein(F.col("dirty_name"), F.col("c_name")).alias("dist"),
        )
        .filter(F.col("dist") <= ER_MAX_DIST)
    )
    w_all = Window.partitionBy("dirty_id")
    w_rk = Window.partitionBy("dirty_id").orderBy("dist", "c_custkey")
    return (
        cand.select(
            "dirty_id",
            "c_custkey",
            "dist",
            F.count(F.lit(1)).over(w_all).alias("n_candidates"),
            F.row_number().over(w_rk).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "dirty_id",
            F.col("c_custkey").alias("matched_custkey"),
            F.col("dist").cast("int").alias("dist"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            (F.col("dirty_id") == F.col("c_custkey")).alias("is_true_match"),
        )
    )


# ---------------------------------------------------------------------------
# Canonical selection by QUALITY: keep the longest document per cluster
# ---------------------------------------------------------------------------

_KEEP_LONGEST_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.doc, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    clusters AS (
      SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc
    ),
    scored AS (
      SELECT c.doc_id, c.cluster_id, d.n_chars
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    ),
    best AS (
      SELECT cluster_id, doc_id AS kept_doc FROM (
        SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT s.doc_id, CAST(s.cluster_id AS BIGINT) AS cluster_id,
           CAST(b.kept_doc AS BIGINT) AS kept_doc,
           (s.doc_id = b.kept_doc) AS is_kept
    FROM scored s JOIN best b ON b.cluster_id = s.cluster_id
"""


@register("q_dedup_keep_longest", oracle=_KEEP_LONGEST_ORACLE)
def q_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection by QUALITY, not by id: within each near-dup
    cluster keep the LONGEST document (ties → smallest doc_id) — the
    longest-version-wins rule crawl pipelines apply when re-crawls and
    truncated mirrors share a cluster, where `q_dedup_clusters`' plain
    min-id pick could keep a truncated copy and drop the full page.

    The argmax is a ``min(struct(-n_chars, doc_id))`` combiner
    aggregation per cluster (no window over the corpus), broadcast
    back onto the membership frame — one keyed join + one agg on top
    of the clustering, which itself is the bounded label-propagation
    plan.  Emits the full keep/drop ledger so downstream filters are
    one semi-join."""
    clusters = q_dedup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    scored = clusters.join(docs, "doc_id")
    best = (
        scored.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_chars")).alias("neg"), F.col("doc_id").alias("d")
                )
            ).alias("top")
        )
        .select("cluster_id", F.col("top.d").alias("kept_doc"))
    )
    return scored.join(best, "cluster_id").select(
        "doc_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("kept_doc").cast("bigint").alias("kept_doc"),
        (F.col("doc_id") == F.col("kept_doc")).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level near-dup (chunks through the MinHash band pipeline)
# ---------------------------------------------------------------------------

PARA_TOKENS = 40     # non-overlapping paragraph windows (chunk stride = width)
PARA_ID_MOD = 10_000  # cid = doc_id * PARA_ID_MOD + para_idx (docs < 400k tokens)
PARA_JACC_MIN = 0.5


def _para_oracle() -> str:
    from ..functions.hashing import H2_SALT

    mins = ",\n             ".join(
        f"min({minhash_term_sql('h1', 'h2', i)}) AS m{i}" for i in range(NUM_HASHES)
    )
    bands = " UNION ALL ".join(
        "SELECT cid, {b} AS band_idx, md5({concat}) AS band_hash FROM sigs".format(
            b=b,
            concat="concat_ws(',', "
            + ", ".join(
                f"CAST(m{b * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            )
            + ")",
        )
        for b in range(BANDS)
    )
    return f"""
    WITH tokd AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
    paras AS (
      SELECT doc_id * {PARA_ID_MOD} + CAST((start - 1) // {PARA_TOKENS} AS BIGINT)
                 AS cid,
             list_slice(t, start,
                        least(start + {PARA_TOKENS} - 1, len(t))) AS ck
      FROM tokd, LATERAL (SELECT unnest(range(1, len(t) + 1, {PARA_TOKENS}))
                          AS start)
      WHERE len(t) > 0
    ),
    psh AS (
      SELECT DISTINCT cid, sh FROM (
        SELECT cid,
               unnest(CASE WHEN len(ck) >= {SHINGLE_K}
                   THEN list_transform(range(1, len(ck) - {SHINGLE_K - 2}),
                        i -> ck[i] || ' ' || ck[i+1] || ' ' || ck[i+2])
                   ELSE [] END) AS sh
        FROM paras)
    ),
    sigs AS (
      SELECT cid, {mins}
      FROM (SELECT cid, {h56_sql('sh')} AS h1,
                   {h56_sql('sh', salt=H2_SALT)} AS h2
            FROM psh)
      GROUP BY cid
    ),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.cid AS ca, b.cid AS cb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.cid < b.cid
    ),
    inter AS (
      SELECT c.ca, c.cb, count(*) AS n_common
      FROM cand c
      JOIN psh sa ON sa.cid = c.ca
      JOIN psh sb ON sb.cid = c.cb AND sb.sh = sa.sh
      GROUP BY c.ca, c.cb
    ),
    sizes AS (SELECT cid, count(*) AS n_sh FROM psh GROUP BY cid)
    SELECT CAST(i.ca // {PARA_ID_MOD} AS BIGINT) AS doc_a,
           CAST(i.ca % {PARA_ID_MOD} AS BIGINT) AS para_a,
           CAST(i.cb // {PARA_ID_MOD} AS BIGINT) AS doc_b,
           CAST(i.cb % {PARA_ID_MOD} AS BIGINT) AS para_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           {round_ratio_sql('i.n_common',
                            '(za.n_sh + zb.n_sh - i.n_common)', 6)}
               AS jaccard6
    FROM inter i
    JOIN sizes za ON za.cid = i.ca
    JOIN sizes zb ON zb.cid = i.cb
    WHERE i.n_common * 1.0 / (za.n_sh + zb.n_sh - i.n_common) >= {PARA_JACC_MIN}
    """


@register("q_dedup_paragraph_pairs", oracle=_para_oracle())
def q_dedup_paragraph_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level near-dup: the corpus is re-chunked into
    non-overlapping {PARA_TOKENS}-token paragraphs and the paragraphs —
    not the documents — run through the same MinHash signature → LSH
    band join → exact-Jaccard verify pipeline as
    ``q_dedup_minhash_lsh``.  This is the boilerplate-removal pass real
    pretraining pipelines run BETWEEN doc-level dedup and quality
    filtering: shared headers/footers/licence blocks pair up at
    paragraph granularity even when the surrounding documents differ.

    Scale shape — identical to the document pipeline with n = corpus
    paragraphs (~tokens/{PARA_TOKENS}): shingle sets build narrowly
    in-row, signatures are ONE combiner agg, candidates come from the
    band equi-join (collisions ~ near-dup pairs, never n²), and
    verification intersects the two paragraphs' shingle arrays in-row
    on CANDIDATES only.  Paragraph ids pack as ``doc_id *
    {PARA_ID_MOD} + para_idx`` (documented bound: docs under
    {PARA_ID_MOD}x{PARA_TOKENS} tokens), so the whole band machinery is
    reused unchanged on a single sortable key.

    Cache lifetime: the per-paragraph shingle sets (signatures and both
    verify sides read them) and the band frame persist until the
    caller's ``spark.catalog.clearCache()``.
    """
    docs = _docs(spark, sf_dir)
    tokd = docs.select("doc_id", tokens_col(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    paras = (
        tokd.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("t"), F.lit(PARA_TOKENS))
            ).alias("start"),
            "t",
        )
        .select(
            (
                F.col("doc_id") * PARA_ID_MOD
                + F.floor((F.col("start") - 1) / PARA_TOKENS).cast("bigint")
            ).alias("cid"),
            F.slice("t", F.col("start"), PARA_TOKENS).alias("ck"),
        )
    )
    psh = paras.select(
        "cid", F.array_distinct(word_grams("ck", SHINGLE_K)).alias("shs")
    ).persist()
    cand = block_pairs(minhash_bands(psh, "cid"), ["band_idx", "band_hash"], "cid")
    return (
        verify_sets(cand, psh, "cid", "shs")
        .filter(jaccard_at_least(PARA_JACC_MIN))
        .select(
            F.expr(f"cid_a div {PARA_ID_MOD}").cast("bigint").alias("doc_a"),
            F.expr(f"cid_a % {PARA_ID_MOD}").cast("bigint").alias("para_a"),
            F.expr(f"cid_b div {PARA_ID_MOD}").cast("bigint").alias("doc_b"),
            F.expr(f"cid_b % {PARA_ID_MOD}").cast("bigint").alias("para_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            rounded_jaccard().alias("jaccard6"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-split near-dup leakage audit (train/val/test contamination)
# ---------------------------------------------------------------------------

def _split_leakage_oracle() -> str:
    # imported here: curation's module-level oracles import this module
    from .curation import split_sql

    return f"""
    WITH pairs AS ({_MINHASH_ORACLE}),
    tagged AS (
      SELECT {split_sql('doc_a')} AS sa, {split_sql('doc_b')} AS sb
      FROM pairs
    ),
    grid AS (
      SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
             count(*) AS n
      FROM tagged GROUP BY 1, 2
    )
    SELECT split_lo, split_hi, CAST(n AS BIGINT) AS n_pairs,
           CAST(split_lo <> split_hi AS INT) AS is_leak
    FROM grid
"""


@register("q_dedup_split_leakage", oracle=_split_leakage_oracle())
def q_dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate leakage audit (VERDICT r10 item 7a):
    MinHash-LSH near-dup pairs bucketed by the train/val/test membership
    of their two endpoints — the dedup-aware-split check every
    pretraining pipeline runs before trusting its eval numbers, because
    a val/test document with a train-side near-duplicate inflates eval
    scores without any literal id overlap.  Composes the two proven
    pipelines verbatim: ``q_dedup_minhash_lsh``'s banded pair join and
    ``q_split_train_val_test``'s hash assignment.

    Scale shape: rides the banded LSH pipeline unchanged (collisions ~
    |near-dup pairs|, never n²) and adds ZERO joins on top — the split
    is a pure md5 function of each endpoint id, fused into the pair
    projection, and the final grid aggregation has at most 6 keys
    (unordered split pairs).  ``is_leak=1`` rows are the contamination;
    at 100 TB the same plan holds because nothing here touches row
    text beyond what the LSH kernel already shuffles."""
    from .curation import split_col

    pairs = minhash_pairs(spark, sf_dir)
    tagged = pairs.select(
        split_col(F.col("doc_a")).alias("sa"),
        split_col(F.col("doc_b")).alias("sb"),
    )
    grid = (
        tagged.select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return grid.select(
        "split_lo",
        "split_hi",
        F.col("n").cast("bigint").alias("n_pairs"),
        (F.col("split_lo") != F.col("split_hi")).cast("int").alias("is_leak"),
    )


# ---------------------------------------------------------------------------
# Near-dup rate per source (which corpus slice is internally duplicated)
# ---------------------------------------------------------------------------

_DUP_RATE_ORACLE = f"""
    WITH pairs AS ({_MINHASH_ORACLE}),
    ends AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      )
    ),
    flagged AS (
      SELECT d.source,
             count(*) AS n_docs,
             sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
      FROM documents d LEFT JOIN ends e ON e.doc_id = d.doc_id
      GROUP BY d.source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_dup AS BIGINT) AS n_dup_docs,
           CAST((10000 * n_dup) // n_docs AS BIGINT) AS dup_bp
    FROM flagged
"""


@register("q_dedup_rate_by_source", oracle=_DUP_RATE_ORACLE)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate per corpus source: the share of each
    source's documents that participate in at least one MinHash-LSH
    near-dup pair — the which-slice-is-dirty audit a curation pipeline
    reads before deciding where to spend dedup budget (a source at 40%
    internal duplication gets cluster-collapsed; one at 1% is left
    alone), and the per-source drill-down of ``q_dedup_split_leakage``'s
    global grid.

    Scale shape: rides the banded LSH pipeline unchanged; the flagged
    set is the DISTINCT pair-endpoint ids (O(near-dup docs), keyed
    dedup), joined back to the corpus on doc_id (one keyed join, fan-out
    1) and rolled up to O(sources) rows with an integer basis-point
    rate (non-negative floor division, div == //)."""
    pairs = minhash_pairs(spark, sf_dir)
    # explode, not a two-branch union: one consumption of the LSH
    # pipeline (a union of two selects over the same frame would run
    # the banded join twice unless the exchange happens to be reused)
    ends = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(1).alias("is_dup"))
    )
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return (
        docs.join(ends, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).alias("n_dup"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_dup").cast("bigint").alias("n_dup_docs"),
            F.expr("(10000 * n_dup) div n_docs").cast("bigint").alias("dup_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (>= SPAN_K-token verbatim spans; Lee et al. 2022)
# ---------------------------------------------------------------------------

SPAN_K = 50  # minimum verbatim span length, in tokens (Lee et al. 2022 use 50)

# Document-frequency cap on a K-gram fingerprint: grams appearing in MORE
# than this many documents are template boilerplate whose candidate
# fan-out is C(df, 2) — they are anti-joined away BEFORE the self-join
# (the rare-gram-family discipline).  Semantics altered, exactly and
# only: spans every one of whose grams is shared by > cap documents are
# dropped.  A span that also contains ONE sub-cap gram still surfaces
# (the run shortens; verification then re-measures against the real
# token slices).  Fixture max df is 3 (sf0.01) / 4 (sf0.1), so the cap
# never fires on the driver fixtures — it exists for the mega-template
# corpus case (ADVICE r13 / VERDICT r13 task 5).
EXSUB_GRAM_DF_CAP = 64


def _exact_substring_oracle() -> str:
    gh = h56_sql(f"list_aggregate(t[i:i+{SPAN_K - 1}], 'string_agg', ' ')")
    return f"""
    WITH tk AS (
      SELECT doc_id, t FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)
      WHERE len(t) >= {SPAN_K}
    ),
    postings AS (
      SELECT doc_id, u.pos AS pos, u.gh AS gh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {SPAN_K - 2}),
                      i -> struct_pack(pos := i, gh := {gh}))) AS u
        FROM tk)
    ),
    heavy AS (
      SELECT gh FROM postings GROUP BY gh
      HAVING count(DISTINCT doc_id) > {EXSUB_GRAM_DF_CAP}
    ),
    kept AS (
      SELECT * FROM postings WHERE gh NOT IN (SELECT gh FROM heavy)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
      FROM kept a JOIN kept b ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, pos_a, pos_b,
             pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b
                                        ORDER BY pos_a) AS isl,
             pos_a - pos_b AS diag
      FROM cand
    ),
    spans AS (
      SELECT doc_a, doc_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
             count(*) + {SPAN_K - 1} AS span
      FROM runs GROUP BY doc_a, doc_b, diag, isl
    ),
    verified AS (
      SELECT s.doc_a, s.doc_b, s.span
      FROM spans s
      JOIN tk ta ON ta.doc_id = s.doc_a
      JOIN tk tb ON tb.doc_id = s.doc_b
      WHERE ta.t[s.start_a : s.start_a + s.span - 1]
          = tb.t[s.start_b : s.start_b + s.span - 1]
    )
    SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(span) AS BIGINT) AS max_span_tokens
    FROM verified GROUP BY doc_a, doc_b
"""


@register("q_dedup_exact_substring", oracle=_exact_substring_oracle())
def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup: document pairs sharing a VERBATIM span of
    >= ``SPAN_K`` (50) tokens, with the maximal shared span length per
    alignment — the *exact* half of the Lee et al. 2022 dedup recipe
    (their suffix-array ExactSubstr; the suite's MinHash/winnowing
    operators are the approximate half).  A 50-token verbatim overlap
    between two training documents is near-certain template/boilerplate
    or a copy, whatever their overall Jaccard similarity.

    Equivalence used: two docs share a verbatim span of >= K tokens iff
    they share at least one contiguous K-token gram — so exact substring
    matching reduces to an EQUI-JOIN on K-gram fingerprints, never a
    suffix array and never corpus x corpus.  100 TB shape, per stage:

    1. **Postings** (doc_id, pos, gh): the K-gram is hashed to a 56-bit
       fingerprint IN-ROW (``transform`` over positions before the
       explode), so only 16 bytes/position ever leave the row — the
       ~300-char gram strings are never materialized off-row.  Zero
       shuffles; O(total tokens) rows.
    2. **df-cap pre-filter**: gram doc-frequencies are censused (one
       map-combined aggregation keyed on gh — the same key as the join,
       so no NEW shuffle key) and grams in more than
       ``EXSUB_GRAM_DF_CAP`` documents are anti-joined away via a
       BROADCAST of the (tiny) heavy-gram set.  This bounds the
       candidate fan-out of any single gram at C(cap, 2) BEFORE the
       self-join, with the altered semantics pinned in the constant's
       comment; AQE skew-join still splits sub-cap hot keys at runtime
       (both paths exercised in ``tests/test_round14_ops.py``).
    3. **Candidates**: kept postings self-join on the fingerprint — the
       one blocking shuffle, keyed on gh.  Fan-out is O(matched
       postings): a gram shared by d <= cap docs costs C(d,2) rows.
    4. **Runs**: gaps-and-islands over each pair's alignment diagonal
       (pos_a - pos_b): one window + one agg on O(matched postings)
       rows turns consecutive gram hits into maximal spans of length
       K + run - 1.
    5. **Verify**: fingerprint matches are re-checked against the REAL
       token slices — one equi-join per side back to the token arrays,
       restricted to docs that appear in a run (O(flagged docs), fan-out
       1), comparing ``slice(t, start, span)`` in-row.  A 56-bit
       collision can only DROP a span (conservative), never invent one,
       and the DuckDB oracle applies the identical verification.

    Returns (doc_a, doc_b, n_spans, max_span_tokens).
    """
    # The postings stage (one md5 per token position over a ~300
    # char gram string) is the suite's heaviest scan-fused kernel;
    # spread the narrow (doc_id, text) projection when the scan is
    # unsplittable (no-op at scale).
    docs = spread_scan(
        _docs(spark, sf_dir).select("doc_id", "text"), spark, sf_dir,
        "documents", key="doc_id",
    )
    return exact_substring_pairs(docs)


def exact_substring_pairs(
    docs: DataFrame, df_cap: int = EXSUB_GRAM_DF_CAP
) -> DataFrame:
    """Kernel behind :func:`q_dedup_exact_substring`, parameterized on
    the gram df-cap so the skew stress test can plant a mega-template
    corpus and exercise both the AQE path (cap above the plant) and the
    cap semantics (cap below it) without touching the registered
    constant."""
    from pyspark.sql import Window

    tokd = (
        docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
        .filter(F.size("t") >= SPAN_K)
    )
    # In-row gram fingerprints: hash BEFORE the explode so the shuffle
    # carries (doc_id, pos, gh) only.  ``t`` is a materialized column,
    # so referencing it inside the lambda is free (cf. shingle_sets_df).
    posting_arr = F.transform(
        F.sequence(F.lit(1), F.size("t") - (SPAN_K - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            h56(F.concat_ws(" ", F.slice("t", i, SPAN_K))).alias("gh"),
        ),
    )
    postings = tokd.select("doc_id", F.explode(posting_arr).alias("u")).select(
        "doc_id", F.col("u.pos").alias("pos"), F.col("u.gh").alias("gh")
    )
    # df-cap pre-filter: census gram doc-frequency (map-combined, keyed
    # on gh — the join's own key) and anti-join the heavy set.  No
    # explicit broadcast hint: the heavy set is
    # SMALL in ordinary corpora (only grams in > df_cap docs) and AQE
    # then broadcasts it at runtime so the kill happens map-side — but
    # a corpus with MANY distinct mega-templates (each > df_cap docs)
    # can grow the set past broadcast limits at the 100 TB design
    # point, and a forced hint would then OOM the driver.  Letting AQE
    # choose keeps the map-side kill when it is safe and degrades to a
    # shuffled anti-join (on gh, the stream's own key) when it is not.
    heavy = (
        postings.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("gh")
    )
    kept = postings.join(heavy, "gh", "left_anti")
    # not functions/setjoin.block_pairs: each shared gram is its own row,
    # carrying both positions, so the pairs must not be distinct
    a = kept.alias("a")
    b = kept.alias("b")
    cand = a.join(
        b,
        (F.col("a.gh") == F.col("b.gh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.pos").alias("pos_b"),
    )
    diag = F.col("pos_a") - F.col("pos_b")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = cand.withColumn("diag", diag).withColumn(
        "isl", F.col("pos_a") - F.row_number().over(w)
    )
    spans = runs.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        F.min("pos_a").alias("start_a"),
        F.min("pos_b").alias("start_b"),
        (F.count(F.lit(1)) + F.lit(SPAN_K - 1)).alias("span"),
    )
    ta = tokd.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    tb = tokd.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))
    verified = (
        spans.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(
            F.slice("t_a", F.col("start_a"), F.col("span"))
            == F.slice("t_b", F.col("start_b"), F.col("span"))
        )
    )
    return verified.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.max("span").cast("bigint").alias("max_span_tokens"),
    )
