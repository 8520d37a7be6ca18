"""Training-data curation operators over ``documents`` / ``events``.

The reference is a one-query ETL pipeline (SURVEY.md §2.1); a 100 TB
training-data engine additionally needs the corpus-curation layer:
reproducible sampling, per-stratum quotas, sessionization, and
fixed-budget packing.  Everything here is deterministic — sampling
decisions hash row *content* (md5), never ``rand()`` — so a 1000-executor
re-run, a retried task, or a different partitioning produces the same
corpus, and every query is value-checkable against DuckDB.

Scale notes:

* Hash sampling is embarrassingly parallel: a per-row md5 + string
  compare inside the scan's codegen stage — no shuffle at all.
* Stratified quotas use a per-stratum window top-k (partial top-k per
  partition before the exchange), not a global sort.
* Sessionization is one shuffle on user_id + a per-partition sort —
  the same cost envelope as the as-of join (timeseries.py).
* Packing is a running-total window per group; bins may overflow by one
  element (sequential chunking semantics), which keeps it a single pass
  — true bin-packing is NP-hard and needs no exactness here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import round_ratio, round_ratio_sql
from ..functions.scan import prefix_scan
from ..functions.timeutil import epoch_us
from ..sources.tables import load_table, shared_kernel, spread_scan
from .text import (
    _LANGID_ORACLE,
    TOKENS_SQL,
    langid_pred_col,
    quality_bp_expr,
    quality_bp_sql,
    quality_raw_features,
    quality_raw_features_sql,
    row_pairs,
    tokens_col,
    word_grams,
)

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)


# ---------------------------------------------------------------------------
# Deterministic hash sampling (reproducible Bernoulli by content key)
# ---------------------------------------------------------------------------

@register(
    "q_sample_hash_deterministic",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
    """,
)
def q_sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% Bernoulli sample keyed on md5(doc_id) (first hex byte < 0x40).

    Unlike ``df.sample()`` (seeded per-partition, so the selected set
    changes with partitioning and task retries), the hash decides from
    row content alone — the sample is stable across cluster sizes and
    re-runs, which is what corpus reproducibility requires.  Pure
    map-side filter: no shuffle, codegen-fused into the scan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "40"
    ).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Stratified quota sampling (top-N per stratum in deterministic hash order)
# ---------------------------------------------------------------------------

@register(
    "q_sample_stratified_quota",
    oracle="""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 100
    """,
)
def q_sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly min(|stratum|, 100) docs per language, chosen in md5 order.

    Ordering by the hash makes the quota a *uniform* subsample of each
    stratum (not "first 100 by storage order", which is biased by
    ingestion time), while staying fully deterministic.  Window top-k
    per stratum: Spark pushes a per-partition rank filter below the
    exchange, so the shuffle carries ≤100 rows per lang per partition."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Batch sessionization (gap > 30 min starts a new session)
# ---------------------------------------------------------------------------

# A silence longer than this (30 minutes, in µs) starts a user's next session.
_SESSION_GAP_US = 1_800_000_000


def _sessionized(events: DataFrame) -> DataFrame:
    """``events`` plus ``is_new`` (1 on a user's first event and after
    each silence over 30 minutes) and ``session_no``, its running sum.
    Tie-broken by event_id so the lag order is total and
    engine-independent.  One shuffle on user_id serves both windows and
    any later per-session groupBy."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = epoch_us("ts") - epoch_us(F.lag("ts").over(w))
    return events.withColumn(
        "is_new",
        F.when(gap_us.isNull() | (gap_us > _SESSION_GAP_US), 1).otherwise(0),
    ).withColumn(
        "session_no",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


@register(
    "q_sessionize_gaps",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           CAST(round(sum(CAST(round(value, 6) AS DECIMAL(30,6))), 2) AS DOUBLE)
               AS sum_value
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def q_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30-min silence per user starts a new
    session; one row per session with bounds and totals.

    The batch twin of streaming ``session_window`` (streaming/windows.py):
    lag → boundary flag → running sum = session number
    (:func:`_sessionized`), then a normal groupBy that reuses the
    user_id partitioning."""
    return (
        _sessionized(load_table(spark, sf_dir, "events")).groupBy(
            "user_id", F.col("session_no").cast("bigint").alias("session_no")
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.round(F.col("value"), 6).cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-budget packing (sequential chunking into ~equal-size bins)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 20_000  # characters per bin


@register(
    "q_pack_char_budget",
    oracle=f"""
    WITH running AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    SELECT source,
           CAST(floor((cum - n_chars) / {_PACK_BUDGET}) AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM running
    GROUP BY source, bin
    """,
)
def q_pack_char_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each source's documents (in doc_id order) into ~20k-char bins
    — the sequence-packing step before tokenize-and-concat in a training
    pipeline.  ``bin = floor(chars_before_this_doc / budget)``: a single
    running-sum window, one shuffle on source; a bin may overflow by one
    document, the standard trade for a one-pass packer."""
    docs = load_table(spark, sf_dir, "documents")
    run = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    running = docs.select("source", "doc_id", "n_chars").withColumn(
        "cum", F.sum("n_chars").over(run)
    )
    return (
        running.withColumn(
            "bin",
            F.floor((F.col("cum") - F.col("n_chars")) / _PACK_BUDGET).cast("bigint"),
        )
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus profile: exact quantiles per stratum
# ---------------------------------------------------------------------------

@register(
    "q_quantiles_doc_length",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(round(quantile_cont(n_chars, 0.5), 6) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(n_chars, 0.9), 6) AS DOUBLE) AS p90,
           CAST(round(quantile_cont(n_chars, 0.99), 6) AS DOUBLE) AS p99
    FROM documents
    GROUP BY lang
    """,
)
def q_quantiles_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact length quantiles per language — the profiling pass that sizes
    quality-filter thresholds.  Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` both interpolate at rank (n-1)·q over integer
    inputs, so the rounded values hash-match.  Exact percentiles shuffle
    the stratum's values; for 100 TB profiling swap in
    ``approx_percentile`` (tested in tests/test_approx.py) — here the
    point is the exact oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).cast("double").alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).cast("double").alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 6).cast("double").alias("p99"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train/eval n-gram overlap report)
# ---------------------------------------------------------------------------

DECONTAM_K = 5  # token n-gram width for overlap detection


@register(
    "q_decontaminate_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                         t -> length(t) > 0) AS t
      FROM documents
    ),
    gsets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= {DECONTAM_K}
                 THEN list_transform(range(1, len(t) - {DECONTAM_K - 2}),
                                     i -> array_to_string(t[i:i+{DECONTAM_K - 1}], ' '))
                 ELSE CAST([] AS VARCHAR[]) END) AS gs
      FROM toks
    ),
    eval_grams AS (
      SELECT DISTINCT unnest(gs) AS g FROM gsets WHERE doc_id % 10 = 7
    ),
    train AS (
      SELECT doc_id, gs FROM gsets WHERE doc_id % 10 <> 7 AND len(gs) > 0
    ),
    matched AS (
      SELECT t.doc_id, count(*) AS n_matched
      FROM (SELECT doc_id, unnest(gs) AS g FROM train) t
      JOIN eval_grams e USING (g)
      GROUP BY t.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.gs) AS INT) AS n_grams,
           CAST(coalesce(m.n_matched, 0) AS INT) AS n_matched,
           {round_ratio_sql('coalesce(m.n_matched, 0)', 'len(t.gs)', 6)}
               AS contam_ratio
    FROM train t LEFT JOIN matched m ON t.doc_id = m.doc_id
    """,
)
def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination report: for every training document, how
    many of its distinct DECONTAM_K-token n-grams also appear anywhere
    in the held-out eval slice (``doc_id % 10 == 7`` stands in for a
    benchmark suite).

    The standard pre-training decontamination pass.  Scale shape: gram
    sets build narrowly in-row (zero shuffles, same trick as MinHash
    shingling); the overlap is an equi-join on the gram string — left
    unhinted so AQE broadcasts a small benchmark side and shuffle-joins
    a large one; the per-doc count is a combiner aggregation.  Pair
    fan-out is |matching grams|, never |train| x |eval|.

    ``gsets`` is persisted: THREE consumers (eval grams, the match
    explode, the final per-doc sizes) sit directly on the tokenize +
    gram + array_distinct projection with NO exchange between — so
    ReusedExchange cannot share it and each consumer re-ran the
    corpus's heaviest string kernel: work an exchange cannot carry.
    A/B at sf0.1 (min-of-3, quiet host, clearCache per rep): 9.7 s ->
    1.3 s.  Released by the
    caller's clearCache (the bench/oracle harness pattern).  At the
    100 TB design point MEMORY_AND_DISK materializes the gram arrays
    once instead of recomputing them threefold — if storage is the
    binding constraint, drop the persist and accept the recompute.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    gsets = tokd.select(
        "doc_id", F.array_distinct(word_grams("t", DECONTAM_K)).alias("gs")
    ).persist()
    eval_grams = (
        gsets.filter(F.col("doc_id") % 10 == 7)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    train = gsets.filter((F.col("doc_id") % 10 != 7) & (F.size("gs") > 0))
    matched = (
        train.select("doc_id", F.explode("gs").alias("g"))
        .join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        train.select("doc_id", F.size("gs").alias("n_grams"))
        .join(matched, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("int").alias("n_grams"),
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("int").alias("n_matched"),
            round_ratio(
                "coalesce(n_matched, 0)", "n_grams", 6
            ).alias("contam_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Source-weighted mixture sampling (map-side, reproducible)
# ---------------------------------------------------------------------------

# Target acceptance rate per source, encoded as the 2-hex-char md5 prefix
# threshold (the q_sample_hash_deterministic idiom: first byte < 0xNN).
# 'zz' compares above every hex digit, i.e. keep-all.
MIX_THRESHOLDS = {"src0": "zz", "src1": "80", "src2": "40", "src3": "20"}
MIX_DEFAULT_THRESHOLD = "10"  # 0x10/256 = 6.25% for every other source


def _mix_case_sql() -> str:
    arms = "\n".join(
        f"WHEN source = '{s}' THEN '{t}'" for s, t in MIX_THRESHOLDS.items()
    )
    return f"CASE {arms} ELSE '{MIX_DEFAULT_THRESHOLD}' END"


@register(
    "q_mix_weighted_sources",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < {_mix_case_sql()}
    """,
)
def q_mix_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-weight a multi-source corpus to a target mixture (the
    "upsample Wikipedia, downsample CommonCrawl" step of every training
    run): per-source Bernoulli rates keyed on md5(doc_id).

    At 100 TB this MUST be a pure map-side filter — a shuffle or window
    just to thin the corpus would move the whole dataset — so the rate
    lookup is a literal CASE on the source column and the accept test is
    the deterministic hash-prefix compare: zero shuffles, codegen-fused
    into the scan, and the kept set is invariant to partitioning and
    task retries (unlike seeded ``df.sample``)."""
    docs = load_table(spark, sf_dir, "documents")
    threshold = F.lit(MIX_DEFAULT_THRESHOLD)
    for s, t in reversed(MIX_THRESHOLDS.items()):
        threshold = F.when(F.col("source") == s, F.lit(t)).otherwise(threshold)
    return docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < threshold
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Document chunking (fixed token windows with stride overlap)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 40
CHUNK_STRIDE = 30  # 10-token overlap between consecutive chunks


@register(
    "q_chunk_documents",
    # chunk_idx = (start-1)/stride is exact integer arithmetic; the chunk
    # text is a deterministic join of the token slice, so every column is
    # integer/string — no float surface at all.
    oracle=rf"""
    WITH tokd AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^\p{{L}}]+'),
                         t -> length(t) > 0) AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
             list_slice(t, start,
                        least(start + {CHUNK_TOKENS} - 1, len(t))) AS ck
      FROM tokd, LATERAL (SELECT unnest(range(1, len(t) + 1, {CHUNK_STRIDE})) AS start)
      WHERE len(t) > 0
    )
    SELECT doc_id, chunk_idx,
           CAST(len(ck) AS INT) AS n_tokens,
           array_to_string(ck, ' ') AS chunk_text
    FROM chunks
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into ``CHUNK_TOKENS``-token windows advancing
    by ``CHUNK_STRIDE`` (overlapping context windows — the step that
    turns raw documents into training sequences).

    Narrow throughout: tokenize, generate the per-document start
    positions with ``sequence`` (no join, no shuffle — the explode is a
    ``Generate`` over the scan), slice and re-join tokens in-row.  Zero
    exchanges at any corpus size; output rows ≈ input tokens / stride.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", tokens_col(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    chunks = tokd.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
        "t",
    ).select(
        "doc_id",
        (
            (F.col("start") - 1) / F.lit(CHUNK_STRIDE)
        ).cast("int").alias("chunk_idx"),
        F.slice("t", F.col("start"), CHUNK_TOKENS).alias("ck"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("ck").cast("int").alias("n_tokens"),
        F.array_join("ck", " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Corpus length histogram (power-of-two buckets) — the profile that picks
# chunking/packing budgets before a curation run
# ---------------------------------------------------------------------------

@register(
    "q_doc_length_histogram",
    oracle="""
    SELECT CAST(floor(log2(n_chars + 1)) AS INTEGER) AS log2_bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY 1
    """,
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram on power-of-two buckets
    (``floor(log2(n_chars+1))``), with per-bucket extrema.

    Log buckets give a fixed, data-independent bucket count (~40 covers
    anything up to a terabyte-long document), so unlike quantile
    sketches the state is O(1) and the aggregation is one map-side
    combine + one tiny shuffle.  log2 of exact integers is exact in
    IEEE double at every power-of-two boundary, so bucket assignment
    cannot drift between engines."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.log2(F.col("n_chars") + 1)).cast("int")
    return (
        docs.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (hash-partitioned, source-stratified)
# ---------------------------------------------------------------------------

SPLIT_TRAIN_PCT = 80  # md5 bucket < 80  -> train
SPLIT_VAL_PCT = 90    # 80 <= bucket < 90 -> val, else test


def split_col(c: "F.Column") -> "F.Column":
    """The train/val/test assignment as a pure expression of an id
    column — THE canonical definition (the leakage audit in dedup.py
    consumes this same pair, so the two operators cannot diverge on
    what a split is)."""
    bucket = (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 2), 16, 10).cast("bigint")
        % 100
    )
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


def split_sql(col: str) -> str:
    """DuckDB twin of :func:`split_col` over an arbitrary id expression."""
    bucket = (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 2))"
        "::INT AS BIGINT) % 100"
    )
    return (
        f"CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train' "
        f"WHEN {bucket} < {SPLIT_VAL_PCT} THEN 'val' "
        "ELSE 'test' END"
    )


_SPLIT_ORACLE = f"""
    SELECT doc_id, source, {split_sql('doc_id')} AS split
    FROM documents
"""


@register("q_split_train_val_test", oracle=_SPLIT_ORACLE)
def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment keyed on md5(doc_id) — the
    split every training pipeline needs, made reproducible: the
    assignment is a pure function of the document id, so re-runs,
    retries, repartitions, and future corpus growth never move an
    existing document across splits (adding docs only ever adds rows to
    each split — the property that keeps eval sets frozen).

    Zero shuffles: one hash + two comparisons fused into the scan.
    Contrast with ``randomSplit``, whose assignment depends on
    partitioning and seed plumbing.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "source", split_col(F.col("doc_id")).alias("split")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------

WEIGHTED_K = 100
_U_DENOM = float((1 << 56) + 1)  # uniform u = (h56 + 1) / (2^56 + 1) ∈ (0, 1)


def _weighted_oracle() -> str:
    from ..functions.hashing import h56_sql

    h = h56_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    SELECT doc_id, n_chars,
           CAST(round(ln((({h}) + 1) / {_U_DENOM!r}) / n_chars, 9) AS DOUBLE)
               AS es_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY ln((({h}) + 1) / {_U_DENOM!r}) / n_chars DESC, doc_id
    LIMIT {WEIGHTED_K}
"""


@register("q_sample_weighted", oracle=_weighted_oracle())
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k={WEIGHTED_K}, weight =
    document length — the Efraimidis-Spirakis exponential-key trick:
    every row gets key ln(u)/w (u a content-derived uniform), and the
    global top-k by key IS a weighted sample without replacement.

    Why this shape at 100 TB: one narrow projection + a global top-k
    (``TakeOrderedAndProject`` — per-partition heaps of k, merged on one
    tiny reduce; no sort of the corpus, no sequential reservoir).  The
    uniform comes from the md5 hash family, not a seeded RNG, so like
    q_sample_hash_deterministic the selected set is stable across
    cluster size, partitioning, and task retries — and value-checkable
    in DuckDB.
    """
    from ..functions.hashing import h56

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (h56(F.col("doc_id").cast("string")) + 1).cast("double") / F.lit(_U_DENOM)
    key = F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "n_chars", key.alias("es_key"))
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(WEIGHTED_K)
        .select(
            "doc_id",
            "n_chars",
            F.round("es_key", 9).cast("double").alias("es_key"),
        )
    )


# ---------------------------------------------------------------------------
# Per-stratum weighted sampling without replacement (A-ES within groups)
# ---------------------------------------------------------------------------

WEIGHTED_STRATUM_K = 40  # per-language quota


def _weighted_stratified_oracle() -> str:
    from ..functions.hashing import h56_sql

    h = h56_sql("CAST(doc_id AS VARCHAR)", salt="wss:")
    return f"""
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ln((({h}) + 1) / {_U_DENOM!r}) / n_chars DESC, doc_id
             ) AS rn
      FROM documents WHERE n_chars > 0
    )
    WHERE rn <= {WEIGHTED_STRATUM_K}
"""


@register("q_sample_weighted_stratified", oracle=_weighted_stratified_oracle())
def q_sample_weighted_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sampling WITHOUT replacement — the weighted
    twin of ``q_sample_stratified_quota`` (VERDICT r8 item 7): within
    each language, min(|stratum|, {WEIGHTED_STRATUM_K}) docs drawn with
    probability proportional to length via the Efraimidis-Spirakis
    exponential key ln(u)/w, u the salted content-derived md5 uniform.
    This is how a mixture recipe takes "N docs per language, favoring
    longer documents" reproducibly.

    Determinism: u is the same 56-bit md5 uniform on both engines and
    the key is ONE double division of identical operands — IEEE gives
    bit-identical doubles, so the per-stratum order (and therefore the
    selected set) cannot diverge; ties break on doc_id.  Scale shape:
    a per-stratum window top-k plans as ``WindowGroupLimit`` — each
    task keeps a {WEIGHTED_STRATUM_K}-row heap per language below the
    exchange, so the shuffle carries O(k x langs x partitions), never
    the corpus."""
    from ..functions.hashing import h56

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        h56(F.col("doc_id").cast("string"), salt="wss:") + 1
    ).cast("double") / F.lit(_U_DENOM)
    key = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(F.desc(key), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WEIGHTED_STRATUM_K)
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# Per-source quality gate: keep the top-p quantile within each stratum
# ---------------------------------------------------------------------------

TOPP_FRAC = 0.2  # keep the best 20% per source

_TOPP_ORACLE = f"""
    SELECT doc_id, source, score, pr
    FROM (
      SELECT doc_id, source, score,
             CAST(round(percent_rank() OVER (
                    PARTITION BY source ORDER BY score DESC, doc_id), 6)
                  AS DOUBLE) AS pr
      FROM (
        SELECT doc_id, source,
               CAST(n_chars * 1000 + doc_id % 1000 AS BIGINT) AS score
        FROM documents
      )
    )
    WHERE pr <= {TOPP_FRAC}
"""


@register("q_quality_topp_per_source", oracle=_TOPP_ORACLE)
def q_quality_topp_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quality gate: within each ``source`` stratum keep only
    the top-``TOPP_FRAC`` of documents by quality score — the standard
    per-domain filter that stops one noisy domain's tail from surviving
    just because another domain's floor is higher (a GLOBAL cutoff
    would do exactly that).  The fixture score is a deterministic
    integer proxy (length-dominated with an id tiebreak component);
    swap any scalar quality metric in unchanged.

    Scale shape: one shuffle on source + per-partition sort for the
    window; percent_rank needs no global sort and no second pass (rank
    and count come from the same window).  The (score DESC, doc_id)
    order is total, so percent_rank is deterministic and both engines
    agree exactly — ties cannot straddle the cutoff."""
    docs = load_table(spark, sf_dir, "documents")
    score = (F.col("n_chars") * 1000 + F.col("doc_id") % 1000).cast("bigint")
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "source", score.alias("score"))
        .withColumn("pr", F.round(F.percent_rank().over(w), 6).cast("double"))
        .filter(F.col("pr") <= TOPP_FRAC)
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights (multilingual sampling)
# ---------------------------------------------------------------------------

MIX_TEMP = 0.7  # temperature tau: p_i^tau, renormalized

_TEMP_MIX_ORACLE = f"""
    WITH c AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n) AS total FROM c),
    w AS (
      SELECT source, n,
             CAST(n AS DOUBLE) / total AS p,
             CAST(round(exp({MIX_TEMP} * round(ln(CAST(n AS DOUBLE) / total), 6)),
                        6) AS DECIMAL(38,6)) AS w6
      FROM c, tot
    ),
    z AS (SELECT sum(w6) AS zsum FROM w)
    SELECT source, CAST(n AS BIGINT) AS n,
           {round_ratio_sql('n', 'total', 6)} AS p,
           {round_ratio_sql('w6 * 1000000', 'zsum * 1000000', 6, wide=True)}
               AS q,
           {round_ratio_sql('w6 * 1000000 * total', 'zsum * 1000000 * n', 4,
                            wide=True)}
               AS boost
    FROM w, z, tot
"""


@register("q_mix_temperature_weights", oracle=_TEMP_MIX_ORACLE)
def q_mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights: sampling probability
    qᵢ ∝ pᵢ^τ (τ={MIX_TEMP}) per source — the multilingual/multi-domain
    rebalancing rule (low-resource sources get boosted, head sources
    damped) that decides how many epochs of each corpus slice a
    training run sees.  `boost` = qᵢ/pᵢ is the per-source oversampling
    factor a mixer (`q_mix_weighted_sources`) then applies.

    Float discipline: pᵢ^τ is computed exp(τ·ln₆ pᵢ) with the ln
    quantized to 6 decimals (the bigram rule) and the exp result
    quantized immediately; the normalizer is an exact decimal sum.
    One combiner agg + two one-row broadcasts; O(sources) output."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    w = c.join(F.broadcast(tot)).select(
        "source",
        "n",
        "total",
        p.alias("p"),
        F.round(F.exp(MIX_TEMP * F.round(F.log(p), 6)), 6)
        .cast("decimal(38,6)")
        .alias("w6"),
    )
    z = w.agg(F.sum("w6").alias("zsum"))
    # w6/zsum are 6dp-GRID decimals — i.e. exact rationals in 1e-6
    # units — so q = w6/zsum and boost = (w6/zsum)/(n/total)
    # = (w6·10^6·total)/(zsum·10^6·n) have exact integer forms inside
    # DECIMAL(38,0) (w6 <= 1, so w6·10^6·total <= 10^18 even at 10^12
    # docs).  r15 (VERDICT r14 task 4): converted from round-of-double
    # to round_ratio, retiring the curation documented-float ledger row
    # that leaned on sweep-historical evidence.
    return w.join(F.broadcast(z)).select(
        "source",
        F.col("n").cast("bigint").alias("n"),
        round_ratio("n", "total", 6).alias("p"),
        round_ratio("w6 * 1000000", "zsum * 1000000", 6, wide=True).alias("q"),
        round_ratio(
            "w6 * 1000000 * total", "zsum * 1000000 * n", 4, wide=True
        ).alias("boost"),
    )


# ---------------------------------------------------------------------------
# Class-balanced downsampling (min-class quota per label)
# ---------------------------------------------------------------------------

_BALANCED_ORACLE = """
    WITH m AS (
      SELECT min(cnt) AS quota FROM (
        SELECT count(*) AS cnt FROM embeddings GROUP BY label)
    ),
    ranked AS (
      SELECT vec_id, label,
             row_number() OVER (PARTITION BY label
                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                 AS rn
      FROM embeddings
    )
    SELECT vec_id, label FROM ranked, m WHERE rn <= quota
"""


@register("q_sample_balanced_labels", oracle=_BALANCED_ORACLE)
def q_sample_balanced_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-count rows, selected by md5 hash order — the label
    rebalancing step before training a classifier on skewed data,
    deterministic across runs and cluster sizes (the
    `q_sample_stratified_quota` discipline with a data-derived quota
    instead of a constant).

    One tiny agg derives the quota (one-row broadcast); selection is a
    per-label rank filter — `WindowGroupLimit`-shaped, shuffle keyed on
    label.  Hash order means membership never depends on input file
    order or partitioning."""
    emb = load_table(spark, sf_dir, "embeddings")
    quota = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("quota"))
    )
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        emb.select("vec_id", "label")
        .withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(quota))
        .filter(F.col("rn") <= F.col("quota"))
        .select("vec_id", "label")
    )


# ---------------------------------------------------------------------------
# Session concurrency profile (interval stabbing counts)
# ---------------------------------------------------------------------------

_CONCURRENCY_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no,
             ts
      FROM flagged
    ),
    intervals AS (
      SELECT min(ts) AS s, max(ts) AS e
      FROM sessions GROUP BY user_id, session_no
    ),
    deltas AS (
      SELECT s AS ts, 1 AS d FROM intervals
      UNION ALL
      SELECT e AS ts, -1 AS d FROM intervals
    ),
    net AS (SELECT ts, sum(d) AS net FROM deltas GROUP BY ts),
    prof AS (
      SELECT ts, net,
             sum(net) OVER (ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS concurrent
      FROM net
    )
    SELECT ts, CAST(net AS BIGINT) AS net,
           CAST(concurrent AS BIGINT) AS concurrent
    FROM prof
"""


# Fixed time-shard width for the boundary-timeline prefix scans
# (functions/scan.py): one day of microseconds.  The fixture spans ~30
# days, so the sharded scan and its stitch run multi-shard even at
# sf0.001; at 100 TB a year of hourly shards stitches through ~9k rows.
_CONC_SHARD_US = 86_400_000_000


@register("q_sessions_concurrency", oracle=_CONCURRENCY_ORACLE)
def q_sessions_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session profile: how many user sessions are active at
    every boundary instant — the interval-stabbing count behind
    capacity dashboards ("peak concurrency") and licensing audits,
    built on the same gap-sessionization as `q_sessionize_gaps`.

    Each session interval emits (+1 at start, −1 at end); per-instant
    NET changes come from one combiner agg (which also makes the order
    total — no tie rule needed).  The running sum over instants is the
    sharded prefix scan of functions/scan.py over day-wide time shards
    (``_CONC_SHARD_US``).  A session's end instant counts as already
    freed only at the NEXT boundary (net at e sums its −1 with any +1 at
    the same instant)."""
    sessions = (
        _sessionized(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    # Both boundary deltas from one in-row explode: a union's two
    # branches would each re-run the sessionization agg.
    deltas = sessions.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("ts"), F.lit(1).alias("d")),
                F.struct(F.col("e").alias("ts"), F.lit(-1).alias("d")),
            )
        ).alias("b")
    ).select("b.ts", "b.d")
    net = deltas.groupBy("ts").agg(F.sum("d").alias("net")).withColumn(
        "shard", (epoch_us("ts") / _CONC_SHARD_US).cast("bigint")
    )
    return prefix_scan(net, "shard", ["ts"], {"net": "concurrent"}).select(
        "ts",
        F.col("net").cast("bigint").alias("net"),
        F.col("concurrent").cast("bigint").alias("concurrent"),
    )


# ---------------------------------------------------------------------------
# Mixture budget solver: the largest corpus a target mix can serve
# ---------------------------------------------------------------------------

# Target mixture in integer UNITS (exact arithmetic end-to-end): the
# head sources get explicit boosts, every other source weight 1.  The
# normalizer is the unit sum over sources PRESENT in the corpus.
MIX_BUDGET_UNITS = {"src0": 8, "src1": 4, "src2": 2, "src3": 2}
MIX_BUDGET_DEFAULT_UNITS = 1


def _units_col() -> "F.Column":
    """Spark twin of :func:`_mix_units_sql`: the per-source unit weight
    as a when-chain over MIX_BUDGET_UNITS (default for the tail).  ONE
    definition so the budget solver and the epoch audit cannot
    desynchronize on the mixture definition."""
    units = F.lit(MIX_BUDGET_DEFAULT_UNITS)
    for s, u in reversed(MIX_BUDGET_UNITS.items()):
        units = F.when(F.col("source") == s, F.lit(u)).otherwise(units)
    return units


def _mix_units_sql() -> str:
    arms = " ".join(
        f"WHEN source = '{s}' THEN {u}" for s, u in MIX_BUDGET_UNITS.items()
    )
    return f"CASE {arms} ELSE {MIX_BUDGET_DEFAULT_UNITS} END"


_MIX_BUDGET_ORACLE = f"""
    WITH avail AS (
      SELECT source, CAST({_mix_units_sql()} AS BIGINT) AS u,
             CAST(sum(n_chars) AS BIGINT) AS avail_chars
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(u) AS BIGINT) AS units FROM avail),
    cap AS (
      SELECT min(avail_chars * t.units // u) AS t_star
      FROM avail, tot t
    )
    SELECT source, units, avail_chars, used_chars,
           {round_ratio_sql('used_chars', 'avail_chars', 6, wide=True)}
               AS utilization,
           is_bottleneck
    FROM (
      SELECT a.source, CAST(a.u AS BIGINT) AS units,
             a.avail_chars,
             CAST(a.u * c.t_star // t.units AS BIGINT) AS used_chars,
             (a.avail_chars * t.units // a.u = c.t_star) AS is_bottleneck
      FROM avail a, tot t, cap c
    )
"""


@register("q_mix_budget_solver", oracle=_MIX_BUDGET_ORACLE)
def q_mix_budget_solver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture budget solver: given a target source mixture (integer
    unit weights) and each source's available characters, the LARGEST
    single-epoch training corpus the mix can serve is
    ``T* = min_s floor(avail_s · U / u_s)`` — the bottleneck-source
    computation every data-mixing plan starts from (the complement of
    `q_mix_temperature_weights`, which picks the weights; this prices
    them).  Emits per source the allocated characters, utilization,
    and whether it is the binding constraint.

    All arithmetic is exact integer (unit weights, char sums, floor
    divisions — `div` on both engines); the single utilization double
    divides exact integers once.  Plan: ONE combiner agg to O(sources)
    rows, two one-row broadcast aggregates (unit sum, capacity min),
    and a projection — nothing data-sized past the first agg."""
    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("avail_chars")
    ).select("source", _units_col().cast("bigint").alias("u"), "avail_chars")
    tot = avail.agg(F.sum("u").cast("bigint").alias("units_total"))
    joined = avail.join(F.broadcast(tot))
    cap = joined.agg(
        F.min(
            F.expr("avail_chars * units_total div u")
        ).alias("t_star")
    )
    out = joined.join(F.broadcast(cap))
    used = F.expr("u * t_star div units_total")
    return out.withColumn("used_chars", used.cast("bigint")).select(
        "source",
        F.col("u").alias("units"),
        "avail_chars",
        "used_chars",
        round_ratio("used_chars", "avail_chars", 6, wide=True).alias(
            "utilization"
        ),
        (F.expr("avail_chars * units_total div u") == F.col("t_star")).alias(
            "is_bottleneck"
        ),
    )


# ---------------------------------------------------------------------------
# Interval-overlap counts: how many sessions each session coexists with
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no,
             ts
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, session_no,
             epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
      FROM sess GROUP BY user_id, session_no
    )
    SELECT i.user_id, CAST(i.session_no AS BIGINT) AS session_no,
           CAST(count(*) - 1 AS BIGINT) AS n_overlaps
    FROM intervals i JOIN intervals j ON j.s <= i.e AND j.e >= i.s
    GROUP BY i.user_id, i.session_no
"""


@register("q_sessions_overlap_counts", oracle=_OVERLAP_ORACLE)
def q_sessions_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every user session, how many OTHER sessions' intervals it
    overlaps (endpoints inclusive) — the interval-overlap join behind
    contention analysis ("how many concurrent sessions did this one
    compete with end to end?"), the per-interval companion of the
    instant-level `q_sessions_concurrency` profile.

    The oracle states it as the quadratic inequality join (DuckDB's
    IEJoin); the Spark plan computes the identical counts in
    O(n log n) by ALGEBRA: two intervals are disjoint iff one starts
    after the other ends, so ``overlaps(i) = #(s' <= e_i) −
    #(e' < s_i) − 1``.  Both counts are prefix sums over ONE merged
    boundary timeline — each interval emits its start row (k=0, also
    the ends-<-s query point) and end row (k=1, also the starts-<=-e
    query point); ordering by (t, k) makes the tie semantics exact
    (an end AT s does not count as before; a start AT e does count as
    <=).  Both exclusive running sums share one sharded prefix scan
    (functions/scan.py) on `q_sessions_concurrency`'s day-wide time
    shards, and one conditional agg per interval recombines the two
    query points — no pair is ever materialized."""
    intervals = (
        _sessionized(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_no")
        .agg(
            epoch_us(F.min("ts")).alias("s"),
            epoch_us(F.max("ts")).alias("e"),
        )
    )
    # Both boundary rows from one in-row explode: a union's two branches
    # would each re-run the sessionization agg.
    pts = (
        intervals.select(
            "user_id",
            "session_no",
            F.explode(
                F.array(
                    F.struct(
                        F.col("s").alias("t"),
                        F.lit(0).alias("k"),
                        F.lit(1).alias("is_start"),
                        F.lit(0).alias("is_end"),
                    ),
                    F.struct(
                        F.col("e").alias("t"),
                        F.lit(1).alias("k"),
                        F.lit(0).alias("is_start"),
                        F.lit(1).alias("is_end"),
                    ),
                )
            ).alias("b"),
        )
        .select("user_id", "session_no", "b.t", "b.k", "b.is_start", "b.is_end")
        .withColumn("shard", (F.col("t") / _CONC_SHARD_US).cast("bigint"))
    )
    counted = prefix_scan(
        pts,
        "shard",
        ["t", "k", "user_id", "session_no"],
        {"is_end": "ends_before", "is_start": "starts_upto"},
        inclusive=False,
    )
    scored = counted.select(
        "user_id",
        "session_no",
        F.when(F.col("k") == 0, F.col("ends_before")).alias("ends_before"),
        F.when(F.col("k") == 1, F.col("starts_upto")).alias("starts_upto"),
    )
    return scored.groupBy(
        "user_id", F.col("session_no").cast("bigint").alias("session_no")
    ).agg(
        (F.max("starts_upto") - F.max("ends_before") - 1)
        .cast("bigint")
        .alias("n_overlaps")
    )


# ---------------------------------------------------------------------------
# Mixture drift monitor: KL(actual langs || target mixture), ln6 discipline
# ---------------------------------------------------------------------------

# Target language mixture in integer percent (sums to 100) — the recipe
# the corpus is SUPPOSED to follow; the query measures how far it is.
TARGET_LANG_PCT = {"en": 50, "de": 15, "es": 15, "fr": 10, "zh": 10}


def _kl_case_sql() -> str:
    arms = "\n".join(
        f"WHEN lang = '{lang}' THEN {w}" for lang, w in TARGET_LANG_PCT.items()
    )
    return f"CASE {arms} ELSE 1 END"


@register(
    "q_mix_kl_divergence",
    oracle=f"""
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(n) AS nn FROM counts),
    terms AS (
      SELECT lang, n, {_kl_case_sql()} AS w_pct,
             CAST(floor(ln(CAST(n * 100 AS DOUBLE)
                           / (nn * ({_kl_case_sql()}))) * 1000000 + 0.5)
                  AS BIGINT) AS log_ratio_mu
      FROM counts, tot
    ),
    kl AS (SELECT CAST(greatest(sum(n * log_ratio_mu), 0) // max(nn) AS BIGINT)
                      AS kl_mu
           FROM terms, tot)
    SELECT t.lang, CAST(t.n AS BIGINT) AS n_docs,
           CAST(t.w_pct AS INT) AS target_pct,
           t.log_ratio_mu,
           CAST(t.n * t.log_ratio_mu AS BIGINT) AS contrib,
           k.kl_mu
    FROM terms t, kl k
    """,
)
def q_mix_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture drift monitor: KL(actual ‖ target) of the corpus
    language distribution against the recipe's target mixture — the
    number a data-pipeline dashboard alarms on when ingestion skews the
    blend (0 = on-recipe; each row also shows its signed contribution,
    so the drifting stratum is identifiable at a glance).

    Determinism (the ln6 discipline): each per-stratum log-ratio
    ln(p/q) = ln(n·100 / (N·w)) is ONE ln of one double division of
    exact ints, floor-quantized to integer micro-units; contributions
    multiply and sum exactly in int64, and the final KL divides once.
    The summed numerator is clamped at 0 on BOTH engines
    (``greatest(·, 0)``): true KL is >= 0, but per-term quantization
    error can push the micro-unit sum slightly negative when the corpus
    matches the target closely, and there Spark ``div`` (truncates
    toward zero) and DuckDB ``//`` (floors) would differ by 1 (ADVICE
    r9).  With a non-negative numerator the two operators agree
    exactly.  Scale shape: one
    combiner agg to O(langs) rows, a one-row total broadcast, pure
    projection after — the corpus is touched once."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("nn"))
    w_pct = F.lit(1)
    for lang, wt in reversed(TARGET_LANG_PCT.items()):
        w_pct = F.when(F.col("lang") == lang, F.lit(wt)).otherwise(w_pct)
    terms = counts.join(F.broadcast(tot)).select(
        "lang",
        "n",
        w_pct.alias("w_pct"),
        F.floor(
            F.log(
                (F.col("n") * 100).cast("double")
                / (F.col("nn") * w_pct)
            )
            * 1_000_000
            + 0.5
        ).cast("bigint").alias("log_ratio_mu"),
        "nn",
    )
    kl = terms.agg(
        F.expr("greatest(sum(n * log_ratio_mu), 0L) div max(nn)")
        .cast("bigint")
        .alias("kl_mu")
    )
    return terms.join(F.broadcast(kl)).select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("w_pct").cast("int").alias("target_pct"),
        "log_ratio_mu",
        (F.col("n") * F.col("log_ratio_mu")).cast("bigint").alias("contrib"),
        "kl_mu",
    )


# ---------------------------------------------------------------------------
# Source-pair contamination matrix (cross-source shared n-grams)
# ---------------------------------------------------------------------------


@register(
    "q_mix_contamination_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                         t -> length(t) > 0) AS t
      FROM documents
    ),
    sg AS (
      SELECT DISTINCT source, g FROM (
        SELECT source,
               unnest(CASE WHEN len(t) >= {DECONTAM_K}
                   THEN list_transform(range(1, len(t) - {DECONTAM_K - 2}),
                        i -> array_to_string(t[i:i+{DECONTAM_K - 1}], ' '))
                   ELSE CAST([] AS VARCHAR[]) END) AS g
        FROM toks)
    ),
    sizes AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT s.source_a, s.source_b,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(za.n_grams AS BIGINT) AS n_a,
           CAST(zb.n_grams AS BIGINT) AS n_b,
           {round_ratio_sql('s.n_shared',
                            '(za.n_grams + zb.n_grams - s.n_shared)', 6)}
               AS jaccard6,
           {round_ratio_sql('s.n_shared', 'least(za.n_grams, zb.n_grams)', 6)}
               AS containment6
    FROM shared s
    JOIN sizes za ON za.source = s.source_a
    JOIN sizes zb ON zb.source = s.source_b
    """,
)
def q_mix_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x source shared-n-gram grid — the mixture-audit twin of
    ``q_mix_kl_divergence`` and the pairwise generalization of
    ``q_decontaminate_overlap``: for every pair of corpus sources, how
    many distinct {DECONTAM_K}-token n-grams they share, with Jaccard
    and min-containment.  This is the matrix a pretraining team reads
    to find mirrored/syndicated sources (high containment) before
    weighting the mixture.

    Scale shape: grams build narrowly in-row; each gram's source SET is
    ONE collect_set aggregation over the gram stream (rows ~ corpus
    tokens, the same envelope as the decontamination pass); source
    pairs are generated in-row from that sorted set, C(sources_with_gram,
    2) <= C(|sources|, 2) per gram — bounded by the SOURCE count (a few
    hundred in practice), never by corpus rows.  Output is the
    O(|sources|^2) sparse grid (pairs sharing >= 1 gram).
    """
    # The tokenize + 5-gram build runs inside the scan stage, so the
    # narrow projection is spread when the scan is unsplittable (no-op
    # at scale; doc_id is the high-cardinality spread key).
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        spark, sf_dir, "documents", key="doc_id",
    )
    tokd = docs.select("source", tokens_col(F.col("text")).alias("t"))
    # Baskets (the q_assoc_pairs_lift shape): dedup happens inside the
    # collect_set agg and pairs are generated in-row, so the gram stream
    # crosses one exchange where a distinct + gram self-join pays three.
    # Isolated at sf0.1: med 1.38 -> 1.23 s, min 1.11 -> 1.05 s (with
    # the scan spread above); the residual is the gram-census exchange
    # itself (5-grams are nearly unique, so the basket frame is ~the
    # gram stream).
    baskets = (
        tokd.select("source", F.explode(word_grams("t", DECONTAM_K)).alias("g"))
        .groupBy("g")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .persist()  # two consumers: sizes + the pair explosion;
        # released by the caller's clearCache (the
        # q_graph_jaccard_neighbors cache-lifetime convention)
    )
    sizes = (
        baskets.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    pair_arrays = baskets.select(
        row_pairs("ss", "source_a", "source_b", F.size("ss")).alias("ps")
    )
    shared = (
        pair_arrays.select(F.explode("ps").alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    za = sizes.select(F.col("source").alias("source_a"), F.col("n_grams").alias("n_a"))
    zb = sizes.select(F.col("source").alias("source_b"), F.col("n_grams").alias("n_b"))
    return (
        shared.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            round_ratio(
                "n_shared", "(n_a + n_b - n_shared)", 6
            ).alias("jaccard6"),
            round_ratio(
                "n_shared", "least(n_a, n_b)", 6
            ).alias("containment6"),
        )
    )


# ---------------------------------------------------------------------------
# Source-pair unigram cross-entropy (domain-distance matrix)
# ---------------------------------------------------------------------------


@register(
    "q_mix_unigram_cross_entropy",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(list_filter(
                 regexp_split_to_array(text, '[^\\p{L}]+'),
                 t -> length(t) > 0)) AS w
      FROM documents
    ),
    counts AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
    ntot AS (SELECT source, sum(c) AS n_tok FROM counts GROUP BY 1),
    vs AS (SELECT count(DISTINCT w) AS v FROM counts),
    pair_terms AS (
      SELECT a.source AS source_a, b.source AS source_b,
             sum(a.c * CAST(floor(ln(CAST(b.c + 1 AS DOUBLE)) * 1000000 + 0.5)
                            AS BIGINT)) AS s_match,
             sum(a.c) AS m_ab
      FROM counts a JOIN counts b
        ON a.w = b.w AND a.source <> b.source
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT na.source AS source_a, nb.source AS source_b,
             na.n_tok AS n_a, nb.n_tok AS n_b
      FROM ntot na JOIN ntot nb ON na.source <> nb.source
    )
    SELECT g.source_a, g.source_b,
           CAST(g.n_a AS BIGINT) AS n_tokens_a,
           CAST(coalesce(p.m_ab, 0) AS BIGINT) AS overlap_mass,
           CAST((g.n_a * CAST(floor(ln(CAST(g.n_b + vs.v AS DOUBLE)) * 1000000
                                    + 0.5) AS BIGINT)
                 - coalesce(p.s_match, 0)) // g.n_a AS BIGINT) AS xent_mu
    FROM grid g
    LEFT JOIN pair_terms p USING (source_a, source_b)
    CROSS JOIN vs
    """,
)
def q_mix_unigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-distance matrix: for every ORDERED source pair (a, b),
    the cross-entropy of a's unigram token distribution under b's
    add-one-smoothed unigram LM — low means b's text statistics model
    a well (same domain/mirror), high means domain shift.  The
    continuous companion to ``q_mix_contamination_matrix``'s set
    overlap, and the score real curation pipelines use to pick proxy
    corpora and spot mis-labeled sources.

    Determinism (ln6 discipline): each log-probability splits as
    ln(c_b(w)+1) - ln(N_b+V); BOTH logs are single ``ln`` calls on
    integer-valued doubles, floor-quantized to micro-nat units, then
    multiplied by integer counts and summed exactly in int64.  Missing
    words contribute ln(1) = 0 to the match sum, so
    ``H_mu = (N_a·lnq(N_b+V) - Σ_match c_a·lnq(c_b+1)) div N_a`` with a
    provably non-negative numerator (c_b+1 <= N_b+V termwise), making
    Spark ``div`` == DuckDB ``//``.

    Scale shape: the per-source word census is one combiner groupBy
    (~corpus tokens in, O(sources x vocab) out); the pair stage joins
    the census to itself on the WORD key — fan-out per word is
    C(sources_with_word, 2)-ish, bounded by |sources|², never corpus
    rows; totals and the vocab size ride one-row/dimension broadcasts
    onto the O(|sources|²) grid."""
    # Tokenize + explode + the (source, w) partial census run inside the
    # scan stage, so the narrow projection is spread when the scan is a
    # single task (no-op at any real layout).
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        spark, sf_dir, "documents", key="doc_id",
    )
    toks = docs.select("source", F.explode(tokens_col(F.col("text"))).alias("w"))
    counts = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c")).persist()
    ntot = counts.groupBy("source").agg(F.sum("c").alias("n_tok"))
    vs = counts.agg(F.countDistinct("w").alias("v"))

    def lnq(col):
        return F.floor(F.log(col.cast("double")) * 1_000_000 + 0.5).cast("bigint")

    a = counts.alias("a")
    b = counts.alias("b")
    pair_terms = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            # DECIMAL(38,0) accumulator (r14 overflow audit): Σ c·µ-nats
            # outgrows int64 once per-source token counts pass ~5e11
            F.sum(
                F.col("a.c").cast("decimal(38,0)") * lnq(F.col("b.c") + 1)
            ).alias("s_match"),
            F.sum(F.col("a.c")).alias("m_ab"),
        )
    )
    na = ntot.select(F.col("source").alias("source_a"), F.col("n_tok").alias("n_a"))
    nb = ntot.select(F.col("source").alias("source_b"), F.col("n_tok").alias("n_b"))
    grid = na.join(F.broadcast(nb), F.col("source_a") != F.col("source_b"))
    return (
        grid.join(pair_terms, ["source_a", "source_b"], "left")
        .join(F.broadcast(vs))
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("bigint").alias("n_tokens_a"),
            F.coalesce(F.col("m_ab"), F.lit(0)).cast("bigint").alias("overlap_mass"),
            # DECIMAL(38,0) intermediates (r14 overflow audit): n_a·µ-nats
            # overflows int64 once a source holds ~5e11 tokens; the
            # quotient (µ-nats) always fits bigint
            F.expr(
                "(cast(n_a as decimal(38,0))"
                " * CAST(floor(ln(CAST(n_b + v AS DOUBLE)) * 1000000 + 0.5)"
                " AS BIGINT) - coalesce(s_match, cast(0 as decimal(38,0))))"
                " div n_a"
            )
            .cast("bigint")
            .alias("xent_mu"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (target-domain data selection)
# ---------------------------------------------------------------------------

DSIR_TARGET = "src0"  # the "quality proxy" domain the selector upweights
DSIR_TOP = 50


@register(
    "q_mix_dsir_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest(list_filter(
                 regexp_split_to_array(text, '[^\\p{{L}}]+'),
                 t -> length(t) > 0)) AS w
      FROM documents
    ),
    dc AS (SELECT doc_id, source, w, count(*) AS c FROM toks GROUP BY 1, 2, 3),
    model AS (
      SELECT w, sum(c) AS c_raw,
             sum(CASE WHEN source = '{DSIR_TARGET}' THEN c ELSE 0 END) AS c_tgt
      FROM dc GROUP BY w
    ),
    tot AS (
      SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt, count(*) AS v FROM model
    ),
    scored AS (
      SELECT d.doc_id, d.source,
             sum(d.c) AS n_tokens,
             sum(d.c * (CAST(floor(ln(CAST(m.c_tgt + 1 AS DOUBLE)) * 1000000
                                   + 0.5) AS BIGINT)
                        - CAST(floor(ln(CAST(m.c_raw + 1 AS DOUBLE)) * 1000000
                                     + 0.5) AS BIGINT))) AS s_match
      FROM dc d JOIN model m ON d.w = m.w
      GROUP BY d.doc_id, d.source
    )
    SELECT s.doc_id, s.source,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(s.s_match - s.n_tokens *
                (CAST(floor(ln(CAST(t.n_tgt + t.v AS DOUBLE)) * 1000000 + 0.5)
                      AS BIGINT)
                 - CAST(floor(ln(CAST(t.n_raw + t.v AS DOUBLE)) * 1000000 + 0.5)
                        AS BIGINT)) AS BIGINT) AS dsir_mu
    FROM scored s CROSS JOIN tot t
    ORDER BY dsir_mu DESC, doc_id
    LIMIT {DSIR_TOP}
    """,
)
def q_mix_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by ``log p_target(doc) - log p_raw(doc)`` under add-one-
    smoothed unigram LMs, where the target LM is fit on the
    '{DSIR_TARGET}' slice and the raw LM on the whole corpus, and emit
    the top {DSIR_TOP} candidates a resampler would draw first.  This
    is the selection score real pretraining pipelines use to tilt a
    web-scale crawl toward a high-quality proxy domain.

    Determinism (ln6 discipline, the `q_mix_unigram_cross_entropy`
    recipe): every log splits into single ``ln`` calls on
    integer-valued doubles, floor-quantized to micro-nats, multiplied
    by integer counts and summed exactly in int64 — no division
    anywhere, so sign never meets div/floor semantics.

    Scale shape: per-doc word counts are one combiner groupBy (~corpus
    tokens in); BOTH unigram models ride a single word-keyed groupBy of
    that frame (the target model is a conditional sum, not a second
    scan); the score join is word-keyed doc_counts ⋈ model — fan-out 1
    per (doc, word), never pairwise; totals are a one-row broadcast;
    the final top-{DSIR_TOP} is TakeOrderedAndProject, O(k) per
    partition.  Nothing exceeds O(corpus tokens)."""
    docs = spread_scan(
        load_table(spark, sf_dir, "documents"), spark, sf_dir,
        "documents", key="doc_id",
    )  # the word-census partials run inside the (unsplittable) scan
    toks = docs.select(
        "doc_id", "source", F.explode(tokens_col(F.col("text"))).alias("w")
    )
    dc = (
        toks.groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()  # two consumers: the model census + the score join;
        # released by the caller's clearCache (jaccard-neighbors
        # cache-lifetime convention)
    )
    model = dc.groupBy("w").agg(
        F.sum("c").alias("c_raw"),
        F.sum(F.when(F.col("source") == DSIR_TARGET, F.col("c")).otherwise(0)).alias(
            "c_tgt"
        ),
    )
    tot = model.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    )

    def lnq(col):
        return F.floor(F.log(col.cast("double")) * 1_000_000 + 0.5).cast("bigint")

    scored = (
        dc.join(model, "w")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_tokens"),
            # DECIMAL(38,0) accumulator (r14 overflow audit): Σ c·Δµ-nats
            # outgrows int64 once a doc-set's token mass passes ~2e11
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * (lnq(F.col("c_tgt") + 1) - lnq(F.col("c_raw") + 1))
            ).alias("s_match"),
        )
    )
    return (
        scored.join(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (
                F.col("s_match")
                - F.col("n_tokens")
                * (lnq(F.col("n_tgt") + F.col("v")) - lnq(F.col("n_raw") + F.col("v")))
            )
            .cast("bigint")
            .alias("dsir_mu"),
        )
        .orderBy(F.desc("dsir_mu"), "doc_id")
        .limit(DSIR_TOP)
    )


# ---------------------------------------------------------------------------
# Daily bounce rate over gap-based sessions
# ---------------------------------------------------------------------------


@register(
    "q_sessions_bounce_rate",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no,
             ts
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_no,
             CAST(date_trunc('day', min(ts)) AS DATE) AS day,
             count(*) AS n_events
      FROM sessions GROUP BY user_id, session_no
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST((10000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS bounce_bp
    FROM per_session GROUP BY day
    """,
)
def q_sessions_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of gap-based sessions
    (:func:`_sessionized`, as in ``q_sessionize_gaps``) that
    contain exactly one event, bucketed by the session's start day —
    the engagement-quality headline a product analytics stack reports,
    and the aggregate consumer of the sessionization operator (build
    sessions once, roll up many ways).

    Integer-exact: bounce_bp = (10000·bounces) div sessions with both
    operands non-negative (div == //); the day bucket is
    date_trunc(min ts) cast to DATE on both engines (the DuckDB
    date_trunc('day')→DATE gotcha, handled).

    Scale shape: one shuffle on user_id drives the lag window, the
    running session counter AND the per-session rollup (same
    partitioning reused across all three); the daily rollup then
    aggregates O(sessions) rows by day.  Nothing exceeds the events
    scan + one keyed shuffle."""
    events = load_table(spark, sf_dir, "events")
    sessions = _sessionized(events.select("user_id", "ts", "event_id"))
    per_session = sessions.groupBy("user_id", "session_no").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounces.cast("bigint").alias("n_bounces"),
        F.expr(
            "(10000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END))"
            " div count(1)"
        )
        .cast("bigint")
        .alias("bounce_bp"),
    )


# ---------------------------------------------------------------------------
# Epoch-allocation audit: repeat factors a token budget forces per source
# ---------------------------------------------------------------------------

# Training budget as an integer multiple of the corpus size (scales with
# sf), and the repeat cap curation policy allows before a source is
# considered over-epoched (Muennighoff et al. 2023 find ~4 epochs is
# where repeated data stops helping).
EPOCH_BUDGET_MULT = 3
MAX_EPOCHS = 4

_EPOCH_AUDIT_ORACLE = f"""
    WITH avail AS (
      SELECT source, CAST({_mix_units_sql()} AS BIGINT) AS u,
             CAST(sum(n_chars) AS BIGINT) AS avail_chars
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(u) AS BIGINT) AS units,
             CAST({EPOCH_BUDGET_MULT} * sum(avail_chars) AS BIGINT) AS budget
      FROM avail
    ),
    req AS (
      SELECT a.source, a.u, a.avail_chars,
             CAST(a.u * t.budget // t.units AS BIGINT) AS requested_chars
      FROM avail a, tot t
    )
    SELECT source, CAST(u AS BIGINT) AS units, avail_chars, requested_chars,
           CAST(10000 * requested_chars // greatest(avail_chars, 1) AS BIGINT)
               AS epochs_bp,
           CAST(least(requested_chars, {MAX_EPOCHS} * avail_chars) AS BIGINT)
               AS effective_chars,
           CAST(10000 * least(requested_chars, {MAX_EPOCHS} * avail_chars)
                // greatest(avail_chars, 1) AS BIGINT) AS epochs_capped_bp,
           CAST(requested_chars
                - least(requested_chars, {MAX_EPOCHS} * avail_chars)
                AS BIGINT) AS shortfall_chars,
           requested_chars > {MAX_EPOCHS} * avail_chars AS is_capped
    FROM req
"""


@register("q_mix_epoch_audit", oracle=_EPOCH_AUDIT_ORACLE)
def q_mix_epoch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-allocation audit: given a training budget of
    ``EPOCH_BUDGET_MULT ×`` the corpus and the `q_mix_budget_solver`
    target mixture, how many EPOCHS (repeat factor, basis points) each
    source must serve — and, under the ``MAX_EPOCHS`` repeat cap every
    curation policy carries (repeating data beyond ~4 epochs stops
    helping), which sources are clipped and how many characters of the
    plan they can no longer supply.  This is the complement of the
    budget solver: that op prices the largest UN-repeated corpus the mix
    admits; this one prices a FIXED budget in repeats and shortfall.

    Exact integer end-to-end: unit weights, char sums, the budget
    (an integer multiple of the corpus so the audit scales with sf),
    and every division a truncating nonneg ``div`` — identical on both
    engines; no floats anywhere.

    Scale shape: ONE combiner agg to O(sources) rows, a one-row
    broadcast (unit sum + budget), and a projection.  At 100 TB the
    cost is the documents scan inside the first agg; nothing
    data-sized moves afterwards.

    Reference provenance: generalizes the reference's single-corpus
    assumption (TextIO.read() of one glob, NaiveImplementation.java:36)
    to the multi-source repeat-budget plan a real pretraining mix needs.
    """
    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("avail_chars")
    ).select("source", _units_col().cast("bigint").alias("u"), "avail_chars")
    tot = avail.agg(
        F.sum("u").cast("bigint").alias("units_total"),
        (F.lit(EPOCH_BUDGET_MULT) * F.sum("avail_chars"))
        .cast("bigint")
        .alias("budget"),
    )
    req = avail.join(F.broadcast(tot)).withColumn(
        "requested_chars", F.expr("u * budget div units_total").cast("bigint")
    )
    effective = F.least(
        F.col("requested_chars"), F.lit(MAX_EPOCHS) * F.col("avail_chars")
    )
    return req.select(
        "source",
        F.col("u").alias("units"),
        "avail_chars",
        "requested_chars",
        # greatest(avail_chars, 1): a zero-char source must yield 0 bp on
        # both engines, not Spark-NULL vs a DuckDB divide error (ADVICE r11)
        F.expr("10000 * requested_chars div greatest(avail_chars, 1)")
        .cast("bigint")
        .alias("epochs_bp"),
        effective.cast("bigint").alias("effective_chars"),
        F.expr(
            f"10000 * least(requested_chars, {MAX_EPOCHS} * avail_chars)"
            " div greatest(avail_chars, 1)"
        )
        .cast("bigint")
        .alias("epochs_capped_bp"),
        (F.col("requested_chars") - effective)
        .cast("bigint")
        .alias("shortfall_chars"),
        (
            F.col("requested_chars")
            > F.lit(MAX_EPOCHS) * F.col("avail_chars")
        ).alias("is_capped"),
    )


# ---------------------------------------------------------------------------
# Eval-set contamination: 13-gram membership against the held-out split
# ---------------------------------------------------------------------------

# Lee et al. 2022 / GPT-3-style decontamination width: a training document
# sharing any 13-token n-gram with the eval fixture is flagged.  The eval
# fixture is THE canonical held-out split (split_col(doc_id) == 'test') so
# this audit, the split assigner and the near-dup leakage audit all agree
# on what "held out" means.
CONTAM_K = 13
# Bloom sizing is a knob on the EVAL fixture (fixed-size benchmark suite),
# never on the corpus: 2^17 bits / 5 probes holds ~18k eval grams under
# 1% FP; a false positive only costs one extra exact-join probe row.
CONTAM_BLOOM_BITS = 1 << 17
CONTAM_BLOOM_K = 5


def _contam_grams_sql() -> str:
    """CTE body: per-document distinct {CONTAM_K}-token grams plus split
    membership (DuckDB twin of the in-row gram build below)."""
    return f"""
      SELECT doc_id, source, split,
             unnest(list_distinct(
                 CASE WHEN len(t) >= {CONTAM_K}
                      THEN list_transform(range(1, len(t) - {CONTAM_K - 2}),
                               i -> array_to_string(t[i:i+{CONTAM_K - 1}], ' '))
                      ELSE CAST([] AS VARCHAR[]) END)) AS g
      FROM (SELECT doc_id, source, {split_sql('doc_id')} AS split,
                   {TOKENS_SQL} AS t
            FROM documents)
    """


@shared_kernel("contamination_hits", ("documents",))
def contaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, eagerly-checkpointed per-document eval-contamination
    hits ``(doc_id, n_matched)`` for every non-test document sharing
    >= 1 distinct {CONTAM_K}-gram with the test split — the shared
    kernel behind the contamination audit and the curation funnel.

    Scale shape (the reason this is not a plain self-join): the eval
    fixture is a FIXED-size benchmark suite, so its distinct gram set is
    O(eval), never O(corpus).  It is aggregated once, folded into a
    broadcast Bloom filter (``functions/bloom.py``: one bounded
    ``bit_or`` collect of CONTAM_BLOOM_BITS/64 int64 words), and probed
    INSIDE the corpus scan — non-matching grams (the overwhelming
    majority) die map-side in whole-stage codegen before any shuffle.
    Only Bloom survivors reach the one exact broadcast semi-join that
    removes false positives, so the Bloom is purely a shuffle-volume
    optimization and never changes results; the corpus never joins
    itself.  The in-row gram build is the shingle discipline
    (zero-shuffle Generate over the scan).
    """
    # Rebalanced to byte-sized width: 39 rows were checkpointed across
    # 32 partitions.  Two steps (the minhash_pairs rationale: a
    # repartition above the hits plan does not coalesce because the
    # eval-gram checkpoint scan pins the partitioning; checkpoint first,
    # then rebalance the clean scan, which AQE sizes by bytes).  The
    # pinned _contamination_hits_plan itself is untouched.
    return (
        _contamination_hits_plan(spark, sf_dir)
        .localCheckpoint(eager=True)
        .repartition("doc_id")
        .localCheckpoint(eager=True)
    )


def _contam_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, split, g)``: each document's distinct {CONTAM_K}-grams."""
    # The 13-gram build + Bloom probe are fused into the scan stage;
    # spread the narrow (doc_id, text) projection when the scan is
    # unsplittable (no-op at scale).
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark, sf_dir, "documents", key="doc_id",
    )
    tokd = docs.select(
        "doc_id",
        split_col(F.col("doc_id")).alias("split"),
        tokens_col(F.col("text")).alias("t"),
    )
    grams = F.array_distinct(word_grams("t", CONTAM_K))
    return tokd.select("doc_id", "split", F.explode(grams).alias("g"))


@shared_kernel("contamination_eval_grams", ("documents",))
def contamination_eval_grams(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[int]]:
    """The eval side of the contamination family: the test split's
    per-doc distinct gram frame (checkpointed, O(eval) rows) and the
    Bloom word array built from it.  Memoized because the hits kernel
    AND the containment screen both need them, and each would otherwise
    re-run the eval-gram census + the bounded bit_or collect per
    DataFrame construction (measured ~2.7 s per containment call at
    sf0.1)."""
    from ..functions.bloom import bloom_build

    # Rebalanced to AQE's byte-sized width before checkpointing (1
    # partition at sf0.1, data-proportional at any scale): 14k rows
    # inherited the spread's 32-partition width, so the Bloom build, the
    # eval_g distinct and the broadcast hash build each paid full-width
    # task overhead on a byte-tiny frame.  The gram census stage above
    # stays wide.
    eval_grams = (
        _contam_grams(spark, sf_dir)
        .filter(F.col("split") == "test")
        .select("doc_id", "g")
        .repartition("doc_id")
        .localCheckpoint(eager=True)
    )
    return eval_grams, bloom_build(
        eval_grams, F.col("g"), CONTAM_BLOOM_BITS, CONTAM_BLOOM_K
    )


def _contam_gram_streams(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared gram-stream construction for the contamination family:
    returns ``(cand, eval_grams)`` where ``eval_grams`` is the memoized
    test-split gram frame and ``cand`` is the non-test gram stream
    already Bloom-gated on eval-gram membership (non-matches die
    map-side inside the scan stage; the ``bloom_build`` bit_or collect
    runs once per session, not per construction)."""
    from ..functions.bloom import bloom_member

    eval_grams, words = contamination_eval_grams(spark, sf_dir)
    cand = _contam_grams(spark, sf_dir).filter(F.col("split") != "test").filter(
        bloom_member(F.col("g"), words, CONTAM_BLOOM_BITS, CONTAM_BLOOM_K)
    )
    return cand, eval_grams


def _contamination_hits_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-memoized Bloom-gated plan behind :func:`contaminated_docs`
    (split out so the plan-shape tests pin the real pipeline, not the
    checkpoint scan a memo hit returns)."""
    cand, eval_grams = _contam_gram_streams(spark, sf_dir)
    eval_g = eval_grams.select("g").distinct()
    return (
        cand.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
    )


_CONTAM_ORACLE = f"""
    WITH g AS ({_contam_grams_sql()}),
    ev AS (SELECT DISTINCT g FROM g WHERE split = 'test'),
    hits AS (
      SELECT t.doc_id, count(*) AS m
      FROM g t JOIN ev USING (g)
      WHERE t.split <> 'test'
      GROUP BY t.doc_id
    ),
    train AS (
      SELECT doc_id, source FROM documents
      WHERE {split_sql('doc_id')} <> 'test'
    )
    SELECT source, n_docs, n_contaminated, n_grams_matched,
           {round_ratio_sql('n_contaminated', 'n_docs', 6)} AS contam_rate
    FROM (
      SELECT tr.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(h.m) AS BIGINT) AS n_contaminated,
             CAST(coalesce(sum(h.m), 0) AS BIGINT) AS n_grams_matched
      FROM train tr LEFT JOIN hits h USING (doc_id)
      GROUP BY tr.source
    )
"""


@register("q_contamination_eval_13gram", oracle=_CONTAM_ORACLE)
def q_contamination_eval_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination audit (Lee et al. 2022 style): per source,
    how many non-test documents share at least one {CONTAM_K}-token
    n-gram with the canonical held-out test split, how many distinct
    grams matched, and the contamination rate — the audit a pretraining
    pipeline runs before trusting ANY benchmark number, because a
    verbatim eval passage inside the training corpus inflates the
    benchmark without improving the model.

    Rides :func:`contaminated_docs` (broadcast-Bloom-gated gram probe +
    exact verify — see its docstring for the 100 TB shape) and adds one
    fan-out-1 doc_id join + an O(sources) rollup.  Counts are exact
    integers; the one ratio is an exact ``round_ratio`` (r14 parity
    idiom).

    Reference provenance: extends the reference's tokenize pipeline
    (WordCount.java:52-75) with the n-gram membership audit its
    single-corpus word count has no notion of.
    """
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(split_col(F.col("doc_id")) != "test").select(
        "doc_id", "source"
    )
    hits = contaminated_docs(spark, sf_dir)
    joined = train.join(hits, "doc_id", "left")
    n_contam = F.count("n_matched")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            n_contam.cast("bigint").alias("n_contaminated"),
            F.coalesce(F.sum("n_matched"), F.lit(0))
            .cast("bigint")
            .alias("n_grams_matched"),
        )
        .withColumn(
            "contam_rate", round_ratio("n_contaminated", "n_docs", 6)
        )
    )


# ---------------------------------------------------------------------------
# Curation funnel: cumulative per-source yield through the four gates
# ---------------------------------------------------------------------------

# Quality gate for the funnel: ~25th percentile of the corpus quality_bp
# distribution, so the gate filters without being degenerate at any sf.
FUNNEL_QUALITY_BP = 4500

_FUNNEL_STAGES = ("raw", "lang_id", "quality", "dedup", "decontam")


def _funnel_oracle() -> str:
    # assembled in a function so the (large) minhash CTE is composed
    # exactly once, at registration time
    from .dedup import _MINHASH_ORACLE

    stage_selects = "\n    UNION ALL\n".join(
        f"""    SELECT source, '{name}' AS stage, CAST({rank} AS INT) AS stage_rank,
           n{rank} AS n_docs, c{rank} AS n_chars FROM agg"""
        for rank, name in enumerate(_FUNNEL_STAGES)
    )
    return f"""
    WITH pairs AS ({_MINHASH_ORACLE}),
    dupb AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
    g AS ({_contam_grams_sql()}),
    ev AS (SELECT DISTINCT g FROM g WHERE split = 'test'),
    contam AS (
      SELECT DISTINCT t.doc_id FROM g t JOIN ev USING (g)
      WHERE t.split <> 'test'
    ),
    lang AS ({_LANGID_ORACLE}),
    feat AS (
      SELECT doc_id, source, n_chars, {split_sql('doc_id')} AS split,
             {quality_raw_features_sql()}
      FROM documents
    ),
    base AS (
      SELECT f.source, f.n_chars,
             (l.lang_pred = l.lang_actual) AS g1,
             (l.lang_pred = l.lang_actual)
                 AND ({quality_bp_sql()}) >= {FUNNEL_QUALITY_BP} AS g2,
             (l.lang_pred = l.lang_actual)
                 AND ({quality_bp_sql()}) >= {FUNNEL_QUALITY_BP}
                 AND d.doc_id IS NULL AS g3,
             (l.lang_pred = l.lang_actual)
                 AND ({quality_bp_sql()}) >= {FUNNEL_QUALITY_BP}
                 AND d.doc_id IS NULL AND c.doc_id IS NULL AS g4
      FROM feat f
      JOIN lang l USING (doc_id)
      LEFT JOIN dupb d USING (doc_id)
      LEFT JOIN contam c USING (doc_id)
      WHERE f.split <> 'test'
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(n_chars) AS BIGINT) AS c0,
             CAST(count(*) FILTER (WHERE g1) AS BIGINT) AS n1,
             CAST(coalesce(sum(n_chars) FILTER (WHERE g1), 0) AS BIGINT) AS c1,
             CAST(count(*) FILTER (WHERE g2) AS BIGINT) AS n2,
             CAST(coalesce(sum(n_chars) FILTER (WHERE g2), 0) AS BIGINT) AS c2,
             CAST(count(*) FILTER (WHERE g3) AS BIGINT) AS n3,
             CAST(coalesce(sum(n_chars) FILTER (WHERE g3), 0) AS BIGINT) AS c3,
             CAST(count(*) FILTER (WHERE g4) AS BIGINT) AS n4,
             CAST(coalesce(sum(n_chars) FILTER (WHERE g4), 0) AS BIGINT) AS c4
      FROM base GROUP BY source
    )
{stage_selects}
"""


@register("q_curation_funnel_yield", oracle=_funnel_oracle())
def q_curation_funnel_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel: per source, documents and characters
    surviving each successive gate of a pretraining curation pipeline —
    raw corpus (non-test split) → language-ID agrees with the labeled
    language → quality score >= {FUNNEL_QUALITY_BP} bp → not the dropped
    (higher-id) endpoint of a verified MinHash near-dup pair → not
    13-gram-contaminated against the held-out eval split.  One long-form
    row per (source, stage), cumulative — the yield waterfall every
    corpus report publishes (what FineWeb/Gopher-class pipelines chart),
    and the op that prices the WHOLE curation stack in one number.

    Composition is the point, and so is what it does NOT recompute: the
    near-dup drop set rides the session-memoized :func:`minhash_pairs
    <..operators.dedup.minhash_pairs>` checkpoint (zero extra kernel
    passes), the contamination set rides :func:`contaminated_docs`'s
    Bloom-gated probe, and the lang/quality flags are zero-shuffle
    codegen projections FUSED into the one corpus scan (no lang-id
    self-join).  The funnel itself adds two fan-out-1 doc_id joins
    against the small dup/contam id sets, ONE O(sources) combiner agg,
    and an O(sources x 5) unpivot — at 100 TB the marginal cost over
    the kernels is one pass over the doc-id spine.

    Gate order is fixed (cheap/local gates first, pair-derived gates
    last) and cumulative by construction: g(k) = g(k-1) AND gate(k), so
    the waterfall is monotone per source on both engines.
    """
    from .dedup import minhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    n_tokens, stop_hits, n_punct = quality_raw_features()
    # lang-ID and quality are BOTH row-local expressions fused into the
    # one corpus scan projection — joining the lang-id frame back on
    # doc_id would be an avoidable O(corpus) self-join shuffle
    feat = docs.filter(split_col(F.col("doc_id")) != "test").select(
        "doc_id",
        "source",
        "n_chars",
        (langid_pred_col(F.col("text")) == F.col("lang")).alias("lang_ok"),
        (
            quality_bp_expr(n_tokens, stop_hits, n_punct, F.col("n_chars"))
            >= FUNNEL_QUALITY_BP
        ).alias("qual_ok"),
    )
    dupb = (
        minhash_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    contam = contaminated_docs(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("is_contam")
    )
    g1 = F.col("lang_ok")
    g2 = g1 & F.col("qual_ok")
    g3 = g2 & F.col("is_dup").isNull()
    g4 = g3 & F.col("is_contam").isNull()
    flags = feat.join(dupb, "doc_id", "left").join(contam, "doc_id", "left")

    def _docs_chars(gate, rank):
        keep = F.lit(True) if gate is None else gate
        return [
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias(f"n{rank}"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias(f"c{rank}"),
        ]

    agg = flags.groupBy("source").agg(
        *_docs_chars(None, 0),
        *_docs_chars(g1, 1),
        *_docs_chars(g2, 2),
        *_docs_chars(g3, 3),
        *_docs_chars(g4, 4),
    )
    stack_args = ", ".join(
        f"'{name}', {rank}, n{rank}, c{rank}"
        for rank, name in enumerate(_FUNNEL_STAGES)
    )
    return agg.select(
        "source",
        F.expr(
            f"stack({len(_FUNNEL_STAGES)}, {stack_args}) "
            "AS (stage, stage_rank, n_docs, n_chars)"
        ),
    ).select(
        "source",
        "stage",
        F.col("stage_rank").cast("int").alias("stage_rank"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Eval-doc containment: is an eval item QUOTED inside a training doc?
# ---------------------------------------------------------------------------

# Containment threshold in basis points: an eval doc with >= 50% of its
# distinct grams inside one training doc counts as quoted.  Compared as
# exact integers (n_shared * 10000 >= bp * n_grams) — no float gate.
CONTAIN_TAU_BP = 5000

_CONTAINMENT_ORACLE = f"""
    WITH g AS ({_contam_grams_sql()}),
    ev AS (SELECT doc_id AS eval_doc, g FROM g WHERE split = 'test'),
    pairs AS (
      SELECT t.doc_id AS train_doc, e.eval_doc, count(*) AS n_shared
      FROM g t JOIN ev e USING (g)
      WHERE t.split <> 'test'
      GROUP BY 1, 2
    ),
    evn AS (SELECT eval_doc, count(*) AS n_grams FROM ev GROUP BY eval_doc),
    alltest AS (
      SELECT doc_id AS eval_doc FROM documents
      WHERE {split_sql('doc_id')} = 'test'
    ),
    best AS (
      SELECT *, row_number() OVER (
          PARTITION BY eval_doc ORDER BY n_shared DESC, train_doc
      ) AS rn FROM pairs
    )
    SELECT a.eval_doc,
           CAST(coalesce(n.n_grams, 0) AS BIGINT) AS n_grams,
           b.train_doc AS best_train_doc,
           CAST(coalesce(b.n_shared, 0) AS BIGINT) AS n_shared,
           {round_ratio_sql('coalesce(b.n_shared, 0)',
                            'greatest(coalesce(n.n_grams, 0), 1)', 6)}
               AS containment,
           (coalesce(b.n_shared, 0) * 10000
                >= {CONTAIN_TAU_BP} * coalesce(n.n_grams, 0)
            AND coalesce(n.n_grams, 0) > 0) AS is_quoted
    FROM alltest a
    LEFT JOIN evn n USING (eval_doc)
    LEFT JOIN (SELECT eval_doc, train_doc, n_shared FROM best WHERE rn = 1) b
        USING (eval_doc)
"""


@register("q_contamination_containment", oracle=_CONTAINMENT_ORACLE)
def q_contamination_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVAL-doc containment report: for every held-out test
    document, the training document sharing the most distinct
    {CONTAM_K}-grams with it, the shared-gram count, the containment
    ratio |grams(eval) ∩ grams(train)| / |grams(eval)|, and a quoted
    flag at {CONTAIN_TAU_BP} bp — the ASYMMETRIC complement of
    `q_contamination_eval_13gram` (rates) and `q_dedup_split_leakage`
    (Jaccard): symmetric Jaccard misses a short eval item quoted
    verbatim inside a long training document, which is exactly the
    failure mode that inflates benchmarks.  Eval docs too short to
    carry a {CONTAM_K}-gram appear with n_grams = 0 and NULL
    best_train_doc, so the report's row count is the eval fixture.

    Scale shape: rides :func:`_contam_gram_streams` — the corpus-side
    gram stream is Bloom-gated map-side on the O(eval) gram set, so
    the (train, eval) pair space is bounded by the gram postings of
    BLOOM SURVIVORS (13-gram postings are near-unique), never
    corpus×eval; everything after the candidate join is O(pairs) +
    O(eval)-row frames and a per-eval-doc WindowGroupLimit.  The
    quoted gate is exact integer arithmetic; the one ratio rounds at
    emit.
    """
    cand, eval_grams = _contam_gram_streams(spark, sf_dir)
    pairs = (
        cand.select(F.col("doc_id").alias("train_doc"), "g")
        .join(
            F.broadcast(
                eval_grams.select(F.col("doc_id").alias("eval_doc"), "g")
            ),
            "g",
        )
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    evn = (
        eval_grams.groupBy(F.col("doc_id").alias("eval_doc"))
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    alltest = (
        load_table(spark, sf_dir, "documents")
        .filter(split_col(F.col("doc_id")) == "test")
        .select(F.col("doc_id").alias("eval_doc"))
    )
    w = Window.partitionBy("eval_doc").orderBy(
        F.desc("n_shared"), F.asc("train_doc")
    )
    best = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("eval_doc", "train_doc", "n_shared")
    )
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint")
    return (
        alltest.join(evn, "eval_doc", "left")
        .join(best, "eval_doc", "left")
        .select(
            "eval_doc",
            n_grams.alias("n_grams"),
            F.col("train_doc").alias("best_train_doc"),
            n_shared.alias("n_shared"),
            (
                (n_shared * 10000 >= CONTAIN_TAU_BP * n_grams)
                & (n_grams > 0)
            ).alias("is_quoted"),
        )
        .withColumn("ng1", F.greatest(F.col("n_grams"), F.lit(1)))
        .select(
            "eval_doc",
            "n_grams",
            "best_train_doc",
            "n_shared",
            round_ratio("n_shared", "ng1", 6).alias("containment"),
            "is_quoted",
        )
    )


# ---------------------------------------------------------------------------
# Token-budget sequence packing: boundary-crossing + fill audit
# ---------------------------------------------------------------------------

# Tokens per training sequence (GPT-style concat-then-chop packing:
# documents concatenate in doc_id order per source, the stream chops
# into SEQ_TOKENS-token sequences, documents may span a boundary).
SEQ_TOKENS = 512

_PACK_TOKENS_ORACLE = f"""
    WITH toks AS (
      SELECT source, doc_id,
             len({{tokens}}) AS n_tokens
      FROM documents
    ),
    run AS (
      SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM toks
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_tokens) // {SEQ_TOKENS} AS BIGINT) AS n_seqs_full,
           CAST(10000 * (sum(n_tokens) % {SEQ_TOKENS}) // {SEQ_TOKENS}
                AS BIGINT) AS tail_fill_bp,
           CAST(sum(CASE WHEN n_tokens > 0
                          AND (cum - n_tokens) // {SEQ_TOKENS}
                              <> (cum - 1) // {SEQ_TOKENS}
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_crossing
    FROM run
    GROUP BY source
"""


def _pack_tokens_oracle() -> str:
    return _PACK_TOKENS_ORACLE.format(tokens=TOKENS_SQL)


@register("q_pack_token_budget", oracle=_pack_tokens_oracle())
def q_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence-packing audit (the GPT-style concat-then-
    chop packer, per source, docs in doc_id order, {SEQ_TOKENS}-token
    sequences): total tokens, full sequences produced, the fill of the
    tail sequence in basis points, and how many documents straddle a
    sequence boundary — the attention-mask fragmentation signal a
    pretraining data loader reports (a doc crossing a boundary either
    leaks context across sequences or wastes the remainder when the
    loader resets instead).  Complements `q_pack_char_budget` (bin
    occupancy by characters) with the TOKEN arithmetic training
    actually bills in.

    Exact integers end-to-end: token counts from the reference
    tokenizer, one running-sum window, truncating div/mod — identical
    on both engines; no floats anywhere.

    Scale shape: ONE shuffle on source for the running window, then a
    combiner agg to O(sources) rows.  The per-source prefix sum is the
    documented serial-per-source contract (`q_pack_char_budget`,
    Heaps-law prefix windows): sources are the parallelism unit; a
    pathological single-source corpus would pre-shard the stream.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(tokens_col(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    run = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = toks.withColumn("cum", F.sum("n_tokens").over(run))
    crossing = F.when(
        (F.col("n_tokens") > 0)
        & (
            F.expr(f"(cum - n_tokens) div {SEQ_TOKENS}")
            != F.expr(f"(cum - 1) div {SEQ_TOKENS}")
        ),
        1,
    ).otherwise(0)
    return r.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr(f"sum(n_tokens) div {SEQ_TOKENS}")
        .cast("bigint")
        .alias("n_seqs_full"),
        F.expr(f"10000 * (sum(n_tokens) % {SEQ_TOKENS}) div {SEQ_TOKENS}")
        .cast("bigint")
        .alias("tail_fill_bp"),
        F.sum(crossing).cast("bigint").alias("n_docs_crossing"),
    )

