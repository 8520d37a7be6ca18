"""Text-analysis operators over the ``documents`` table.

The flagship query is the reference pipeline itself — tokenize + count
(``WordCount.java:96-110``) — run over ``documents.text`` instead of a
text file, so the driver can oracle-check it against DuckDB.  The rest
is the LLM-data-pipeline text battery: token statistics, quality
scoring, language-ID heuristics, document fingerprinting, n-gram
profiles.

All operators are per-row projections + one aggregation — narrow,
codegen-friendly, no UDFs — so they scale linearly: at 100 TB the only
shuffle is the final groupBy (word / fingerprint / bigram), which
map-side combines first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.bloom import bloom_build, bloom_member
from ..functions.lineage import Generations
from ..functions.numeric import round_ratio, round_ratio_sql
from ..sources.tables import load_table
from .wordcount import TOKENIZER_PATTERN

QueryFn = Callable[[SparkSession, str], DataFrame]
from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def tokens_col(text: Column) -> Column:
    """Array of non-empty word tokens — reference tokenizer semantics
    (split on non-letters, keep case, drop empties; WordCount.java:45,66-73)."""
    return F.filter(F.split(text, TOKENIZER_PATTERN), lambda t: F.length(t) > 0)


# DuckDB fragment with identical semantics (RE2 also supports \p{L}).
def tokens_sql(col_expr: str = "text") -> str:
    """Oracle tokenizer over an arbitrary column expression — parameterized
    so callers never string-replace the column name inside the fragment
    (a substring swap would corrupt the SQL if the fragment ever gained a
    second 'text' occurrence)."""
    return (
        rf"list_filter(regexp_split_to_array({col_expr}, '[^\p{{L}}]+'),"
        r" t -> length(t) > 0)"
    )


TOKENS_SQL = tokens_sql()


# Gram primitives over a tokenized or normalized row.  Each is a narrow
# in-row expression (no shuffle at any scale).  Pass array and string
# inputs as PROJECTED columns, not as the expressions that compute them:
# a higher-order-function lambda re-evaluates whatever it references per
# element, so gramming straight off ``tokens_col`` costs one full
# tokenization per position (~9x slower, measured at sf0.1).

def normalized_text(text: Column) -> Column:
    """Lower-cased, trimmed text with each whitespace run collapsed to
    one space — the canonical pre-dedup normalization."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def word_grams(tokens: Column | str, k: int) -> Column:
    """The ``k``-token windows of ``tokens`` in order, repeats kept, each
    joined by one space; empty when there are fewer than ``k`` tokens.
    Each gram joins ``k`` 0-based ``tokens[i + j]`` terms: a ``slice``
    array per gram, or ``element_at`` terms at k = 13, measured slower."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - k),
            lambda i: F.concat_ws(" ", *(t[i + j if j else i] for j in range(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _word_bigrams(tokens: Column | str) -> Column:
    """Adjacent-token pairs of ``tokens`` as ``struct(w1, w2)``; empty
    when there are fewer than 2 tokens."""
    return F.when(
        F.size(tokens) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - 1),
            lambda i: F.struct(
                F.element_at(tokens, i).alias("w1"),
                F.element_at(tokens, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def char_gram_set(col: str, n: int) -> Column:
    """The distinct character ``n``-grams of the string column named
    ``col``; empty when it is shorter than ``n``."""
    return F.when(
        F.length(col) >= n,
        F.expr(
            f"array_distinct(transform(sequence(1, length({col}) - {n - 1}), "
            f"i -> substring({col}, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def row_pairs(arr: Column | str, a: str, b: str, length: Column | int) -> Column:
    """Every ``(x, y)`` with ``x`` before ``y`` in the array ``arr``, as
    ``struct(a, b)`` — on a sorted array, exactly the pairs with
    ``x < y``.  ``length`` caps how many later elements each element
    pairs with: a blocking bound the caller has already filtered the
    array size to, or ``F.size(arr)`` for all of them."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, length),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )


@register(
    "q_wordcount_documents",
    oracle=rf"""
    SELECT word, count(*) AS count
    FROM (SELECT unnest({TOKENS_SQL}) AS word FROM documents)
    GROUP BY word
    """,
)
def q_wordcount_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's tokenize+count over documents.text."""
    docs = _docs(spark, sf_dir).select(F.col("text").alias("value"))
    from .wordcount import count_words

    return count_words(docs)


@register(
    "q_text_token_stats",
    # Ratios of exact per-doc ints via round_ratio (r14 parity idiom:
    # round-of-double flips when a doc's token count is 2^5·5^j for k=4)
    oracle=f"""
    SELECT doc_id, n_chars, n_tokens,
           {round_ratio_sql('tl', 'nt', 4)} AS avg_token_len,
           n_unique_tokens,
           {round_ratio_sql('n_unique_tokens', 'nt', 4)} AS type_token_ratio
    FROM (SELECT doc_id, n_chars, len(toks) AS n_tokens,
                 list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
                             (a, b) -> a + b) AS tl,
                 len(list_distinct(toks)) AS n_unique_tokens,
                 greatest(len(toks), 1) AS nt
          FROM (SELECT doc_id, n_chars, {TOKENS_SQL} AS toks FROM documents))
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (length profile, type/token ratio)."""
    docs = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    d = docs.select("doc_id", "n_chars", toks.alias("toks"))
    total_len = F.aggregate(
        F.transform(F.col("toks"), lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_toks = F.size("toks")
    return d.select(
        "doc_id",
        "n_chars",
        n_toks.alias("n_tokens"),
        total_len.alias("tl"),
        F.size(F.array_distinct("toks")).alias("n_unique_tokens"),
        F.greatest(n_toks, F.lit(1)).alias("nt"),
    ).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        round_ratio("tl", "nt", 4).alias("avg_token_len"),
        "n_unique_tokens",
        round_ratio("n_unique_tokens", "nt", 4).alias("type_token_ratio"),
    )


# Stopword lists for the language-ID heuristic (word-boundary regex, same
# RE2/Java semantics in both engines).
_LANG_MARKERS = {
    "en": r"\b(the|a|of|and|to|in|is|it)\b",
    "fr": r"\b(le|la|les|des|une|est|dans)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "es": r"\b(el|los|las|una|es|de|que)\b",
}


_LANGID_ORACLE = f"""
    SELECT doc_id, lang AS lang_actual,
           CASE
             WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
             WHEN fr_hits >= de_hits AND fr_hits >= es_hits THEN 'fr'
             WHEN de_hits >= es_hits THEN 'de'
             ELSE 'es'
           END AS lang_pred,
           en_hits, fr_hits, de_hits, es_hits
    FROM (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '{_LANG_MARKERS["en"]}')) AS en_hits,
             len(regexp_extract_all(lower(text), '{_LANG_MARKERS["fr"]}')) AS fr_hits,
             len(regexp_extract_all(lower(text), '{_LANG_MARKERS["de"]}')) AS de_hits,
             len(regexp_extract_all(lower(text), '{_LANG_MARKERS["es"]}')) AS es_hits
      FROM documents
    )
    """


@register("q_text_lang_id", oracle=_LANGID_ORACLE)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: count per-language marker hits, argmax
    with a fixed priority order (en > fr > de > es on ties)."""
    docs = _docs(spark, sf_dir)
    low = F.lower(F.col("text"))
    hits = {
        lang: F.regexp_count(low, F.lit(pat)).alias(f"{lang}_hits")
        for lang, pat in _LANG_MARKERS.items()
    }
    d = docs.select("doc_id", F.col("lang").alias("lang_actual"), *hits.values())
    en, fr, de, es = (F.col(f"{lang}_hits") for lang in ("en", "fr", "de", "es"))
    pred = (
        F.when((en >= fr) & (en >= de) & (en >= es), "en")
        .when((fr >= de) & (fr >= es), "fr")
        .when(de >= es, "de")
        .otherwise("es")
    )
    return d.select(
        "doc_id",
        "lang_actual",
        pred.alias("lang_pred"),
        "en_hits",
        "fr_hits",
        "de_hits",
        "es_hits",
    )


def langid_pred_col(text: Column) -> Column:
    """Row-local predicted-language column over a text column — the same
    marker-hit argmax (en > fr > de > es tie priority) as
    `q_text_lang_id`, exposed as a pure expression so composition ops
    (the curation funnel) fuse language ID into their own scan
    projection instead of joining the lang-id frame back to the corpus
    on doc_id (an avoidable O(corpus) self-join shuffle at 100 TB)."""
    low = F.lower(text)
    en, fr, de, es = (
        F.regexp_count(low, F.lit(_LANG_MARKERS[lang]))
        for lang in ("en", "fr", "de", "es")
    )
    return (
        F.when((en >= fr) & (en >= de) & (en >= es), "en")
        .when((fr >= de) & (fr >= es), "fr")
        .when(de >= es, "de")
        .otherwise("es")
    )


# The q_text_quality score formula, shared by every operator that
# buckets/sweeps/cross-tabs on it (q_text_quality, q_quality_yield_curve,
# q_quality_dup_interaction).  ONE definition per engine so a future
# weight/cap change cannot silently desynchronize the consumers: the
# Spark expression and the SQL fragment are built here and nowhere else.


def quality_raw_features() -> tuple:
    """Row-local (n_tokens, stop_hits, n_punct) columns over ``text``."""
    n_tokens = F.size(tokens_col(F.col("text")))
    stop_hits = F.regexp_count(F.lower(F.col("text")), F.lit(_LANG_MARKERS["en"]))
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\p{L}\s]"))
    return n_tokens, stop_hits, n_punct


def quality_raw_features_sql() -> str:
    """DuckDB twin of :func:`quality_raw_features` (select-list fragment
    over a ``documents`` row; emits n_tokens / stop_hits / n_punct)."""
    return (
        f"len({TOKENS_SQL}) AS n_tokens,\n"
        f"             len(regexp_extract_all(lower(text), '{_LANG_MARKERS['en']}'))\n"
        "                 AS stop_hits,\n"
        r"             len(regexp_extract_all(text, '[^\p{L}\s]')) AS n_punct"
    )


def quality_bp_expr(n_tokens, stop_hits, n_punct, n_chars):
    """The integer-bp quality score: length signal + stopword density +
    inverse punctuation density, floor arithmetic throughout."""
    tok_denom = F.greatest(n_tokens, F.lit(1))
    chr_denom = F.greatest(n_chars, F.lit(1))
    return (
        F.least(n_tokens, F.lit(100)) * 50
        + F.least(F.floor(stop_hits * 15000.0 / tok_denom), F.lit(3000))
        + 2000
        - F.least(F.floor(n_punct * 20000.0 / chr_denom), F.lit(2000))
    )


def quality_bp_sql(
    n_tokens: str = "n_tokens",
    stop_hits: str = "stop_hits",
    n_punct: str = "n_punct",
    n_chars: str = "n_chars",
) -> str:
    """DuckDB twin of :func:`quality_bp_expr` (same floor arithmetic)."""
    return (
        f"least({n_tokens}, 100) * 50\n"
        f"             + least(CAST(floor({stop_hits} * 15000.0"
        f" / greatest({n_tokens}, 1)) AS BIGINT), 3000)\n"
        "             + 2000\n"
        f"             - least(CAST(floor({n_punct} * 20000.0"
        f" / greatest({n_chars}, 1)) AS BIGINT), 2000)"
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           CAST(floor(stop_hits * 10000.0 / greatest(n_tokens, 1)) AS BIGINT)
               AS stopword_bp,
           CAST(floor(n_punct * 10000.0 / greatest(n_chars, 1)) AS BIGINT)
               AS punct_bp,
           CAST({quality_bp_sql()}
                AS BIGINT) AS quality_bp
    FROM (
      SELECT doc_id, n_chars,
             {quality_raw_features_sql()}
      FROM documents
    )
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length signal + stopword density + inverse
    punctuation density (the classic pre-training quality gates), summed in
    integer basis points [0, 10000].  Integer floor arithmetic — no float
    rounding boundary can diverge between engines."""
    docs = _docs(spark, sf_dir)
    n_tokens, stop_hits, n_punct = quality_raw_features()
    d = docs.select(
        "doc_id",
        F.col("n_chars"),
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stop_hits"),
        n_punct.alias("n_punct"),
    )
    tok_denom = F.greatest(F.col("n_tokens"), F.lit(1))
    chr_denom = F.greatest(F.col("n_chars"), F.lit(1))
    stop_bp = F.floor(F.col("stop_hits") * 10000.0 / tok_denom)
    punct_bp = F.floor(F.col("n_punct") * 10000.0 / chr_denom)
    quality_bp = quality_bp_expr(
        F.col("n_tokens"), F.col("stop_hits"), F.col("n_punct"), F.col("n_chars")
    )
    return d.select(
        "doc_id",
        "n_tokens",
        stop_bp.cast("bigint").alias("stopword_bp"),
        punct_bp.cast("bigint").alias("punct_bp"),
        quality_bp.cast("bigint").alias("quality_bp"),
    )


@register(
    "q_text_fingerprint",
    oracle=r"""
    SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
    FROM (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
          FROM documents)
    GROUP BY fingerprint
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (lower, collapse whitespace, md5) +
    cluster size — the first stage of exact dedup."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "doc_id", F.md5(normalized_text(F.col("text"))).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


@register(
    "q_text_bigrams_top",
    oracle=f"""
    SELECT bigram, count(*) AS n
    FROM (
      SELECT unnest(CASE WHEN len(toks) >= 2
                         THEN list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i + 1])
                         ELSE [] END) AS bigram
      FROM (SELECT {TOKENS_SQL} AS toks FROM documents)
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def q_text_bigrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams: per-row n-gram expansion (narrow), count, TakeOrdered."""
    docs = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    d = docs.select(toks.alias("toks"))
    return (
        d.select(F.explode(word_grams("toks", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "q_token_count_bpe",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
           length(text) - length(replace(text, ' ', '')) + 1 AS n_ws_tokens
    FROM documents
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish pre-token
    regex (letter runs / digit runs / single punctuation) — the standard
    proxy for LLM token budgeting."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.regexp_count(
            F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")
        ).alias("n_bpe_tokens"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        ).alias("n_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# Repetition scoring (Gopher-style duplicate-n-gram ratio)
# ---------------------------------------------------------------------------

@register(
    "q_text_repetition",
    oracle=f"""
    SELECT doc_id,
           CAST(ng AS BIGINT) AS n_grams,
           CAST(nd AS BIGINT) AS n_distinct,
           CASE WHEN ng > 0
                THEN {round_ratio_sql('(ng - nd)', 'ng', 4)}
                ELSE 0.0 END AS dup_ratio
    FROM (
      SELECT doc_id, len(grams) AS ng, len(list_distinct(grams)) AS nd
      FROM (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END AS grams
        FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents)
      )
    )
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate word-3-gram ratio per document — the standard repetition
    filter in LLM-data curation (high ratio ⇒ boilerplate/spam).

    Entirely narrow (tokenize → gram list → distinct count per row): NO
    shuffle at any scale; whole-stage codegen end to end."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .select("doc_id", word_grams("toks", 3).alias("grams"))
        .select(
            "doc_id",
            F.size("grams").cast("bigint").alias("n_grams"),
            F.size(F.array_distinct("grams")).cast("bigint").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            F.when(
                F.col("n_grams") > 0,
                round_ratio("(n_grams - n_distinct)", "n_grams", 4),
            )
            .otherwise(F.lit(0.0))
            .cast("double")
            .alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Normalization (lowercase, whitespace collapse) — the canonical pre-dedup step
# ---------------------------------------------------------------------------

@register(
    "q_text_normalize",
    oracle=r"""
    SELECT doc_id,
           lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm_text,
           CAST(length(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                AS BIGINT) AS n_chars_norm
    FROM documents
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (trim, collapse runs of whitespace,
    lowercase) — the projection every exact-dedup/fingerprint stage runs
    first.  Pure narrow map; Spark's ``regexp_replace`` is global by
    default, matching DuckDB's ``'g'`` flag."""
    docs = _docs(spark, sf_dir)
    norm_text = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        norm_text.alias("norm_text"),
        F.length(norm_text).cast("bigint").alias("n_chars_norm"),
    )


# ---------------------------------------------------------------------------
# Unigram LM scoring (CCNet-style quality proxy)
# ---------------------------------------------------------------------------


@register(
    "q_text_unigram_logprob",
    # Per-token ln(p) is rounded at 6 decimals FIRST, then all weighting
    # and summation happens in exact decimals — so the cross-engine float
    # surface is a single ln() per vocabulary entry, not an
    # order-dependent sum.
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\p{L}]+'),
                 t -> length(t) > 0)) AS tok
      FROM documents
    ),
    doc_tok AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    vocab AS (
      SELECT tok, sum(c) AS tc FROM doc_tok GROUP BY tok
    ),
    total AS (SELECT sum(tc) AS n FROM vocab),
    lp AS (
      SELECT tok,
             CAST(round(ln(CAST(tc AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                  AS DECIMAL(38,6)) AS lp6
      FROM vocab, total
    )
    SELECT d.doc_id,
           CAST(sum(d.c) AS BIGINT) AS n_tokens,
           CAST((CASE WHEN (CAST(sum(CAST(d.c AS DECIMAL(38,6)) * lp.lp6) * 1000000 AS HUGEINT)) < 0 THEN -((-2000000 * (CAST(sum(CAST(d.c AS DECIMAL(38,6)) * lp.lp6) * 1000000 AS HUGEINT)) + (CAST(sum(d.c) * 1000000 AS HUGEINT))) // (2 * (CAST(sum(d.c) * 1000000 AS HUGEINT)))) ELSE (2000000 * (CAST(sum(CAST(d.c AS DECIMAL(38,6)) * lp.lp6) * 1000000 AS HUGEINT)) + (CAST(sum(d.c) * 1000000 AS HUGEINT))) // (2 * (CAST(sum(d.c) * 1000000 AS HUGEINT))) END) / 1000000.0 AS DOUBLE) AS avg_logprob
    FROM doc_tok d JOIN lp USING (tok)
    GROUP BY d.doc_id
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the classic cheap quality/fluency filter (documents full
    of rare junk tokens score low; CCNet and friends threshold on this).

    Scale shape: two combiner aggregations build (doc, token, c) and the
    vocabulary; the corpus token total is a one-row aggregate joined in
    (broadcast — never collected to the driver); scoring is an equi-join
    on the token.  Float determinism: ln() is computed once per VOCAB
    entry and rounded to 6 decimals immediately; the per-document
    combination is an exact decimal dot product, so no order-dependent
    double summation exists anywhere (same discipline as
    q_corr_manual's sufficient statistics).
    r16: the tokenize+explode partial runs inside the scan stage —
    spread the scan when it is unsplittable (no-op at scale).
    """
    from ..sources.tables import spread_scan

    docs = spread_scan(
        _docs(spark, sf_dir), spark, sf_dir, "documents", key="doc_id"
    )
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    doc_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = doc_tok.groupBy("tok").agg(F.sum("c").alias("tc"))
    total = vocab.agg(F.sum("tc").alias("n"))
    lp = vocab.join(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("tc").cast("double") / F.col("n").cast("double")), 6)
        .cast("decimal(38,6)")
        .alias("lp6"),
    )
    return (
        doc_tok.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            # exact decimal dot / exact count via wide round_ratio
            # (r14 parity idiom)
            round_ratio(
                "sum(cast(c as decimal(38,6)) * lp6) * 1000000",
                "sum(c) * 1000000",
                6,
                wide=True,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (per-document top terms)
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


@register(
    "q_text_tfidf_top_terms",
    # Same float discipline as q_text_unigram_logprob: ln() appears once
    # per vocabulary term and is rounded to 6 decimals immediately; the
    # per-(doc, term) score is an exact decimal product, so the ranking
    # key is deterministic under any partitioning / engine.
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                 t -> length(t) > 0)) AS tok
      FROM documents
    ),
    doc_tok AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, count(*) AS df FROM doc_tok GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    idf AS (
      SELECT tok,
             CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
                  AS DECIMAL(38,6)) AS idf6
      FROM df, n
    ),
    scored AS (
      SELECT d.doc_id, d.tok,
             CAST(d.c AS DECIMAL(38,6)) * idf.idf6 AS score,
             row_number() OVER (PARTITION BY d.doc_id
                                ORDER BY CAST(d.c AS DECIMAL(38,6)) * idf.idf6 DESC,
                                         d.tok) AS rank
      FROM doc_tok d JOIN idf USING (tok)
    )
    SELECT doc_id, tok, CAST(rank AS INT) AS rank,
           CAST(round(CAST(score AS DOUBLE), 6) AS DOUBLE) AS tfidf
    FROM scored WHERE rank <= {TFIDF_TOP_K}
    """,
)
def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP_K`` terms per document by tf·idf — the classic
    keyword-extraction / topic-salience primitive for corpus curation.

    Scale shape: two combiner aggregations ((doc, term) counts and
    document frequency), a one-row corpus count joined by broadcast, an
    equi-join on the term, and one window partitioned by doc_id.  No
    driver collects; the window's per-group state is the document's own
    distinct-term list, never the vocabulary.  Determinism: idf is
    rounded once per vocabulary entry; scores are exact decimals, so
    rank order cannot drift between engines.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    doc_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    df = doc_tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = df.join(F.broadcast(n)).select(
        "tok",
        F.round(
            F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")), 6
        )
        .cast("decimal(38,6)")
        .alias("idf6"),
    )
    scored = doc_tok.join(idf, "tok").withColumn(
        "score", F.col("c").cast("decimal(38,6)") * F.col("idf6")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "tok",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("score").cast("double"), 6).cast("double").alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# algorithm): robust partial-overlap fingerprints, unlike the whole-doc
# hash of q_text_fingerprint
# ---------------------------------------------------------------------------

WINNOW_K = 5  # character-gram width
WINNOW_W = 4  # winnowing window (consecutive gram hashes per window)


def _winnow_arrays_sql() -> str:
    """Array-form winnow frame (doc_id, n_fp, fps BIGINT[]) — the
    internal shape the pair query joins on; the registered query
    explodes it (the driver cannot canonicalize array columns)."""
    from ..functions.hashing import h56_sql

    gram_hash = h56_sql(f"substr(t, i, {WINNOW_K})")
    return rf"""
    WITH d AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(t) - {WINNOW_K} + 1, 0) + 1),
               i -> {gram_hash}) AS hs
      FROM d
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fp,
           fps
    FROM (
      SELECT doc_id,
             CASE WHEN len(hs) >= {WINNOW_W}
                  THEN list_sort(list_distinct(list_transform(
                         range(1, len(hs) - {WINNOW_W} + 2),
                         j -> list_aggregate(
                                list_slice(hs, j, j + {WINNOW_W} - 1), 'min'))))
                  ELSE CAST([] AS BIGINT[]) END AS fps
      FROM h
    )
    """


def _winnow_oracle() -> str:
    return f"""
    SELECT doc_id, n_fp,
           unnest(CASE WHEN len(fps) = 0 THEN CAST([NULL] AS BIGINT[])
                       ELSE fps END) AS fp
    FROM ({_winnow_arrays_sql()})
    """


def winnow_fingerprint_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-form winnow frame (doc_id, n_fp, fps array<bigint>) —
    shared by the registered exploded query and the pair join in
    ``dedup.q_dedup_winnow_pairs`` (which intersects the arrays
    in-row and must not pay a re-explode/re-collect round trip)."""
    from ..functions.hashing import h56
    from ..sources.tables import spread_scan

    docs = _docs(spark, sf_dir)
    # The per-character-gram hashing below is the most expensive map
    # kernel in the suite, and on an unsplittable input (one row group)
    # it all runs in ONE scan task.  spread_scan parallelizes the
    # narrow (doc_id, t) projection when — and only when — the scan has
    # fewer data-bearing splits than cores (measured at sf0.1:
    # 3.87 s -> 0.83 s); at any real corpus layout it is a no-op and the
    # kernel stays a pure map stage over the scan.
    d = spread_scan(
        docs.select("doc_id", normalized_text(F.col("text")).alias("t")),
        spark, sf_dir, "documents",
        key="doc_id",
    )
    n_grams = F.greatest(F.length("t") - F.lit(WINNOW_K - 1), F.lit(0))
    hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: h56(F.col("t").substr(i, F.lit(WINNOW_K))),
    )
    h = d.select("doc_id", F.when(n_grams > 0, hashes)
                 .otherwise(F.array().cast("array<bigint>")).alias("hs"))
    mins = F.transform(
        F.sequence(F.lit(1), F.size("hs") - F.lit(WINNOW_W - 1)),
        lambda j: F.array_min(F.slice(F.col("hs"), j, WINNOW_W)),
    )
    fps = F.when(F.size("hs") >= WINNOW_W, F.array_sort(F.array_distinct(mins))) \
        .otherwise(F.array().cast("array<bigint>"))
    return h.select(
        "doc_id",
        F.size(fps).cast("bigint").alias("n_fp"),
        fps.alias("fps"),
    )


@register("q_text_winnow_fingerprints", oracle=_winnow_oracle())
def q_text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: hash every character
    ``WINNOW_K``-gram of the normalized text, slide a ``WINNOW_W``-wide
    window over the hash sequence, keep each window's minimum, dedupe.

    The classic guarantee (MOSS): any shared substring of length >=
    K + W - 1 between two documents produces at least one shared
    fingerprint — so these survive partial plagiarism/quotation overlap
    that whole-document hashing (q_text_fingerprint) misses.

    Scale shape: everything is in-row higher-order functions over the
    scan — zero shuffles, zero UDFs, fingerprint count per doc bounded
    by the gram count.  At 100 TB this is a pure map stage; the
    downstream pair-join (block on fingerprint, like the rare-gram
    family) reuses the bounded-fan-out postings pattern.

    Output is one row per (doc_id, fp) — ``explode_outer`` so docs too
    short to fingerprint survive as a single NULL-fp row (the driver's
    canonicalizer cannot hash array cells, VERDICT r5; ``n_fp`` keeps
    the per-doc count exactly recoverable from the exploded form).
    """
    w = winnow_fingerprint_arrays(spark, sf_dir)
    return w.select("doc_id", "n_fp", F.explode_outer("fps").alias("fp"))


# ---------------------------------------------------------------------------
# Gopher-style composite quality rules (Rae et al. 2021, table A1 shape)
# ---------------------------------------------------------------------------

# Thresholds in integer units so every comparison is exact in both engines.
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_CENTI_LO = 300     # mean word length >= 3.00 chars
GOPHER_MWL_CENTI_HI = 1_000   # mean word length <= 10.00 chars
GOPHER_SYMBOL_BP_MAX = 1_000  # <= 10% non-letter, non-space characters
GOPHER_SHORT_BP_MAX = 3_000   # <= 30% one/two-letter words
GOPHER_DISTINCT_BP_MIN = 2_000  # >= 20% distinct words (repetition gate)

_GOPHER_ORACLE = rf"""
    SELECT doc_id, n_words, mwl_centi, symbol_bp, short_bp, distinct_bp,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
               AS ok_words,
           (mwl_centi BETWEEN {GOPHER_MWL_CENTI_LO} AND {GOPHER_MWL_CENTI_HI})
               AS ok_mwl,
           (symbol_bp <= {GOPHER_SYMBOL_BP_MAX}) AS ok_symbols,
           (short_bp <= {GOPHER_SHORT_BP_MAX}) AS ok_short,
           (distinct_bp >= {GOPHER_DISTINCT_BP_MIN}) AS ok_distinct,
           ((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
            AND (mwl_centi BETWEEN {GOPHER_MWL_CENTI_LO} AND {GOPHER_MWL_CENTI_HI})
            AND (symbol_bp <= {GOPHER_SYMBOL_BP_MAX})
            AND (short_bp <= {GOPHER_SHORT_BP_MAX})
            AND (distinct_bp >= {GOPHER_DISTINCT_BP_MIN})) AS passes
    FROM (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(floor(list_sum(list_transform(toks, t -> length(t))) * 100.0
                        / greatest(len(toks), 1)) AS BIGINT) AS mwl_centi,
             CAST(floor(len(regexp_extract_all(text, '[^\p{{L}}\s]')) * 10000.0
                        / greatest(n_chars, 1)) AS BIGINT) AS symbol_bp,
             CAST(floor(len(list_filter(toks, t -> length(t) <= 2)) * 10000.0
                        / greatest(len(toks), 1)) AS BIGINT) AS short_bp,
             CAST(floor(len(list_distinct(toks)) * 10000.0
                        / greatest(len(toks), 1)) AS BIGINT) AS distinct_bp
      FROM (SELECT doc_id, text, n_chars, {TOKENS_SQL} AS toks FROM documents)
    )
"""


@register("q_text_gopher_rules", oracle=_GOPHER_ORACLE)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate: each document is scored
    against five independent rules (word-count bounds, mean-word-length
    bounds, symbol density, short-word density, distinct-word ratio) and
    passes only if all hold.  Per-rule flags are kept in the output so a
    curation run can report *why* documents were dropped, not just how
    many — the operational difference between a quality gate and a black
    box.

    All ratios are floored into integer basis points before comparison,
    so no float boundary can diverge between engines.  Scale shape: one
    tokenize + in-row higher-order functions fused into the scan — zero
    shuffles, zero UDFs, embarrassingly parallel at any corpus size.
    """
    docs = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    d = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
        ).alias("sum_len"),
        F.regexp_count(F.col("text"), F.lit(r"[^\p{L}\s]")).alias("n_symbols"),
        F.size(F.filter(toks, lambda t: F.length(t) <= 2)).alias("n_short"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.col("n_chars"),
    )
    wden = F.greatest(F.col("n_words"), F.lit(1))
    cden = F.greatest(F.col("n_chars"), F.lit(1))
    mwl_centi = F.floor(F.col("sum_len") * 100.0 / wden)
    symbol_bp = F.floor(F.col("n_symbols") * 10000.0 / cden)
    short_bp = F.floor(F.col("n_short") * 10000.0 / wden)
    distinct_bp = F.floor(F.col("n_distinct") * 10000.0 / wden)
    scored = d.select(
        "doc_id",
        "n_words",
        mwl_centi.cast("bigint").alias("mwl_centi"),
        symbol_bp.cast("bigint").alias("symbol_bp"),
        short_bp.cast("bigint").alias("short_bp"),
        distinct_bp.cast("bigint").alias("distinct_bp"),
    )
    ok_words = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    ok_mwl = F.col("mwl_centi").between(GOPHER_MWL_CENTI_LO, GOPHER_MWL_CENTI_HI)
    ok_symbols = F.col("symbol_bp") <= GOPHER_SYMBOL_BP_MAX
    ok_short = F.col("short_bp") <= GOPHER_SHORT_BP_MAX
    ok_distinct = F.col("distinct_bp") >= GOPHER_DISTINCT_BP_MIN
    return scored.select(
        "*",
        ok_words.alias("ok_words"),
        ok_mwl.alias("ok_mwl"),
        ok_symbols.alias("ok_symbols"),
        ok_short.alias("ok_short"),
        ok_distinct.alias("ok_distinct"),
        (ok_words & ok_mwl & ok_symbols & ok_short & ok_distinct).alias("passes"),
    )


# ---------------------------------------------------------------------------
# Zipf profile: OLS slope of ln(freq) on ln(rank) over the top vocabulary
# ---------------------------------------------------------------------------

ZIPF_R = 500  # top terms fitted — a constant, so the fit stage is O(1)

_ZIPF_ORACLE = rf"""
    WITH vocab AS (
      SELECT tok, count(*) AS tc
      FROM (SELECT unnest({tokens_sql('lower(text)')}) AS tok
            FROM documents)
      GROUP BY tok
    ),
    top AS (
      SELECT tok, tc FROM vocab ORDER BY tc DESC, tok LIMIT {ZIPF_R}
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(row_number()
                     OVER (ORDER BY tc DESC, tok) AS DOUBLE)), 9)
                  AS DECIMAL(38,9)) AS x,
             CAST(round(ln(CAST(tc AS DOUBLE)), 9) AS DECIMAL(38,9)) AS y
      FROM top
    ),
    sums AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
                           AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
                           AS DECIMAL(38,9))) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           CAST(round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS DOUBLE)
               AS zipf_slope,
           CAST(round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                      / n, 6) AS DOUBLE) AS zipf_intercept
    FROM sums
"""


@register("q_text_zipf_slope", oracle=_ZIPF_ORACLE)
def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of ln(freq)
    on ln(rank) for the top ``ZIPF_R`` terms (natural text sits near
    -1; a slope far off is a corpus-health red flag — boilerplate
    floods flatten it, OCR junk steepens the tail).

    Scale shape: one combiner aggregation builds the vocabulary; the
    top-R selection is a distributed ``TakeOrderedAndProject`` (R is a
    CONSTANT, so the fitted table — and the single-partition window
    that ranks it — is O(1) regardless of corpus size); the fit itself
    is one tiny aggregate.  Float determinism: ln() is evaluated on
    identical integers in both engines and rounded to 9 dp immediately;
    sums are exact decimals (the q_corr_manual sufficient-statistics
    discipline), and the closed-form slope/intercept is a single double
    expression over those exact sums.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tc"))
    top = vocab.orderBy(F.desc("tc"), F.asc("tok")).limit(ZIPF_R)
    w = Window.orderBy(F.desc("tc"), F.asc("tok"))
    pts = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 9)
        .cast("decimal(38,9)")
        .alias("x"),
        F.round(F.log(F.col("tc").cast("double")), 9)
        .cast("decimal(38,9)")
        .alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("x").cast("double"), 9)
            .cast("decimal(38,9)")
        ).cast("double").alias("sxx"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("y").cast("double"), 9)
            .cast("decimal(38,9)")
        ).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    return sums.select(
        n.cast("bigint").alias("n_terms"),
        F.round(slope, 6).cast("double").alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).cast("double").alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# Sparse similarity join: TF-IDF cosine via rare-term postings
# ---------------------------------------------------------------------------

TFIDF_SIM_DF_MAX = 10   # blocking terms: docs sharing a term with df <= this
TFIDF_SIM_MIN = 0.30    # emit pairs at or above this 6-dp-rounded cosine
TFIDF_BLOOM_M = 1 << 16  # rare-gram pre-filter bits (8 KiB literal)
TFIDF_BLOOM_K = 3        # probes per gram


def _tfidf_weights_sql() -> str:
    """(doc_id, tok, wi): integer micro-units of the 6-dp tf·idf weight —
    the exact float discipline q_text_tfidf_top_terms proved portable."""
    return rf"""
    toks AS (
      SELECT doc_id, unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                 t -> length(t) > 0)) AS tok
      FROM documents
    ),
    doc_tok AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM doc_tok GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    idf AS (
      SELECT tok,
             CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
                  AS DECIMAL(38,6)) AS idf6
      FROM dfreq, n
    ),
    w AS (
      SELECT d.doc_id, d.tok,
             CAST(round(CAST(round(CAST(CAST(d.c AS DECIMAL(38,6)) * idf.idf6
                                        AS DOUBLE), 6) AS DOUBLE)
                        * 1000000, 0) AS BIGINT) AS wi
      FROM doc_tok d JOIN idf USING (tok)
    )
"""


# Candidate blocking: rare character 5-grams (the q_dedup_ngram_jaccard
# discipline, inlined — text.py can't import dedup.py, dedup imports us).
# Token-level rare-term blocking degenerates when the corpus vocabulary
# is small (every token is common); character grams cross word
# boundaries and stay selective.
_SIM_GRAMS_SQL = r"""
    SELECT DISTINCT doc_id, g FROM (
      SELECT doc_id,
             unnest(CASE WHEN length(norm) >= 5
                         THEN list_transform(range(1, length(norm) - 3),
                                             i -> substr(norm, i, 5))
                         ELSE [] END) AS g
      FROM (SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
            FROM documents)
    )
"""

_TFIDF_SIM_ORACLE = f"""
    WITH {_tfidf_weights_sql()},
    grams AS ({_SIM_GRAMS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM grams a
      JOIN (SELECT g FROM grams GROUP BY g
            HAVING count(*) BETWEEN 2 AND {TFIDF_SIM_DF_MAX}) r ON a.g = r.g
      JOIN grams b ON b.g = a.g AND a.doc_id < b.doc_id
    ),
    norms AS (
      SELECT doc_id, sum(CAST(wi AS DECIMAL(38,0)) * wi) AS n2 FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT c.doc_a, c.doc_b,
             sum(CAST(wa.wi AS DECIMAL(38,0)) * wb.wi) AS dotp,
             count(*) AS n_shared
      FROM cand c
      JOIN w wa ON wa.doc_id = c.doc_a
      JOIN w wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok
      GROUP BY c.doc_a, c.doc_b
    ),
    scored AS (
      SELECT d.doc_a, d.doc_b, d.n_shared,
             round(CAST(d.dotp AS DOUBLE)
                   / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
                 AS cosine
      FROM dots d
      JOIN norms na ON na.doc_id = d.doc_a AND na.n2 > 0
      JOIN norms nb ON nb.doc_id = d.doc_b AND nb.n2 > 0
    )
    SELECT doc_a, doc_b, n_shared, CAST(cosine AS DOUBLE) AS cosine
    FROM scored WHERE cosine >= {TFIDF_SIM_MIN}
"""


@register("q_doc_similarity_tfidf", oracle=_TFIDF_SIM_ORACLE)
def q_doc_similarity_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse similarity join: document pairs whose TF-IDF vectors have
    cosine >= {TFIDF_SIM_MIN} — the lexical complement to the dense
    embedding near-dup family (catches topical/vocabulary overlap dense
    vectors may blur, and needs no embedding model at all).

    Scale shape (the rare-gram Jaccard discipline, applied to IR
    weights): candidate pairs come ONLY from character 5-grams shared
    by 2..{TFIDF_SIM_DF_MAX} documents — per-gram fan-out is bounded,
    so candidates ~ |true near-pairs|, never n² (recall is limited to
    pairs sharing a rare gram, the documented blocking contract; token
    -level blocking would degenerate on small vocabularies where every
    term is common).  Verification is the Jaccard family's array-join
    shape: each doc's sparse vector travels as ONE map row, candidate
    pairs join those maps on doc id (two keyed joins carrying one row
    per doc), and the weighted dot product + shared-term count fold
    IN-ROW over the map — no (pair x term) exploded shuffle (the first
    cut did that and was the slowest headline query at 4.5s; this
    shape + single-pass postings candidates measures ~1.4x faster
    end-to-end and removes both the pair-term shuffle and two of the
    three gram-explode evaluations).  Exact integer micro-unit weights
    keep every
    sum deterministic (decimal accumulators — a single wi² can exceed
    int64); floats appear only at the final normalize-and-round,
    identically on both engines.
    Both branch roots (token explode, gram-array build) run inside the
    scan stage, so the scan is spread when it is unsplittable (no-op at
    scale).
    """
    from ..sources.tables import spread_scan

    docs = spread_scan(
        _docs(spark, sf_dir), spark, sf_dir, "documents", key="doc_id"
    )
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    doc_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    dfreq = doc_tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = dfreq.join(F.broadcast(n)).select(
        "tok",
        F.round(
            F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")), 6
        )
        .cast("decimal(38,6)")
        .alias("idf6"),
    )
    w = doc_tok.join(idf, "tok").select(
        "doc_id",
        "tok",
        F.round(
            F.round(
                (F.col("c").cast("decimal(38,6)") * F.col("idf6")).cast("double"),
                6,
            )
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("wi"),
    )
    # One map row per doc: the sparse vector AND its norm travel
    # together, so the verify stage needs no per-term join at all.
    # persist() (lazy), not an eager checkpoint: both pair sides read
    # the cache, so the tokenize→idf→map pipeline runs once per job —
    # without blocking the driver on a separate materialization job
    # (measured slower here) or scanning the corpus twice (fatal at
    # real scale).  Size is one compact map row per document.
    dec0 = F.lit(0).cast("decimal(38,0)")
    wvec = (
        w.groupBy("doc_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("tok", "wi"))).alias("m"),
            F.aggregate(
                F.collect_list("wi"),
                dec0,
                lambda acc, v: acc + v.cast("decimal(38,0)") * v,
            ).alias("n2"),
        )
        .persist()
    )
    # The COMPACT array-form frame is what persists: one row per doc
    # with its distinct-gram array — the expensive part (regexp
    # normalize + transform + array_distinct over kilochar strings) runs
    # once, and the cache holds |docs| rows, not the |doc x gram|
    # exploded stream (measured 2.5s to materialize at sf0.1 vs ~0.1s
    # for this form).
    gram_arrays = docs.select(
        "doc_id", normalized_text(F.col("text")).alias("norm")
    ).select("doc_id", char_gram_set("norm", 5).alias("gs")).persist()
    grams = gram_arrays.select("doc_id", F.explode("gs").alias("g"))
    # Candidate generation is TWO passes over the cached arrays, because
    # a single-pass postings agg shuffles every (doc, gram) row, rare or
    # not:
    #   1. a combiner-friendly count() keyed on gram (shuffle volume =
    #      distinct grams per partition, not the gram stream) finds the
    #      rare 2..DF_MAX band;
    #   2. a {TFIDF_BLOOM_M}-bit Bloom of the rare grams — O(1) driver
    #      state however many grams are rare — prunes the stream
    #      MAP-SIDE, so only rare-gram rows reach the postings shuffle
    #      (sf0.1 fixture: 356 of 1.02M rows survive).
    # Bloom false positives pass the pre-filter but die on the exact
    # size() band below, so results are byte-identical to the
    # single-pass plan; if the rare set ever saturates the filter the
    # plan degrades gracefully back to shuffling everything.
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    rare = counts.filter(
        (F.col("df") >= 2) & (F.col("df") <= TFIDF_SIM_DF_MAX)
    ).select("g")
    bloom_words = bloom_build(rare, F.col("g"), TFIDF_BLOOM_M, TFIDF_BLOOM_K)
    pruned = grams.filter(
        bloom_member(F.col("g"), bloom_words, TFIDF_BLOOM_M, TFIDF_BLOOM_K)
    )
    # in-row postings pairs (row_pairs), not functions/setjoin.block_pairs:
    # one groupBy per gram emits its pairs without a postings self-join
    cand = (
        pruned.groupBy("g")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= TFIDF_SIM_DF_MAX))
        .select(
            F.explode(
                row_pairs("docs", "doc_a", "doc_b", TFIDF_SIM_DF_MAX)
            ).alias("p")
        )
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    va = wvec.select(
        F.col("doc_id").alias("doc_a"), F.col("m").alias("ma"), F.col("n2").alias("n2a")
    )
    vb = wvec.select(
        F.col("doc_id").alias("doc_b"), F.col("m").alias("mb"), F.col("n2").alias("n2b")
    )
    # n2 > 0 on BOTH sides (engine and oracle): a doc whose every token
    # appears in all docs has an all-zero weight vector, making cosine
    # 0/0 — NULL in Spark (row silently dropped by the >= filter) but
    # NaN in DuckDB, where NaN sorts ABOVE the threshold and the oracle
    # would emit pairs the engine omits.
    paired = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .filter((F.col("n2a") > 0) & (F.col("n2b") > 0))
    )
    dotp = F.aggregate(
        F.map_keys("ma"),
        dec0,
        lambda acc, k: acc
        + F.element_at(F.col("ma"), k).cast("decimal(38,0)")
        * F.coalesce(F.element_at(F.col("mb"), k), F.lit(0)),
    )
    n_shared = F.size(
        F.filter(
            F.map_keys("ma"), lambda k: F.element_at(F.col("mb"), k).isNotNull()
        )
    )
    cosine = F.round(
        F.col("dotp").cast("double")
        / F.sqrt(F.col("n2a").cast("double") * F.col("n2b").cast("double")),
        6,
    )
    return (
        paired.select(
            "doc_a",
            "doc_b",
            n_shared.cast("bigint").alias("n_shared"),
            dotp.alias("dotp"),
            "n2a",
            "n2b",
        )
        .select("doc_a", "doc_b", "n_shared", cosine.alias("cosine"))
        .filter(F.col("cosine") >= TFIDF_SIM_MIN)
    )


# ---------------------------------------------------------------------------
# Lexical retrieve-then-rerank: TF-IDF shortlist -> edit-distance rerank
# ---------------------------------------------------------------------------

RERANK_SHORTLIST_K = 5   # candidates per query surviving the cheap stage
RERANK_TOP_K = 3         # candidates per query after the expensive rerank
RERANK_PREFIX = 120      # chars of normalized text the reranker compares

# Levenshtein parity gotcha: DuckDB's levenshtein() counts BYTES
# (levenshtein('café','cafe') = 2) while Spark's counts characters (1),
# so the rerank text is reduced to [a-z ] first — byte == char there.
_RERANK_NORM_SQL = (
    r"substr(regexp_replace(regexp_replace(lower(trim(text)),"
    r" '[^a-z ]+', '', 'g'), ' +', ' ', 'g'), 1, " + str(RERANK_PREFIX) + ")"
)

_RERANK_ORACLE = f"""
    WITH sim AS ({_TFIDF_SIM_ORACLE}),
    norm AS (SELECT doc_id, {_RERANK_NORM_SQL} AS p FROM documents),
    shortlist AS (
      SELECT doc_id, cand_id FROM (
        SELECT doc_id, cand_id,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cosine DESC, cand_id) AS rn
        FROM (
          SELECT doc_a AS doc_id, doc_b AS cand_id, cosine FROM sim
          UNION ALL
          SELECT doc_b AS doc_id, doc_a AS cand_id, cosine FROM sim
        )
      ) WHERE rn <= {RERANK_SHORTLIST_K}
    ),
    reranked AS (
      SELECT s.doc_id, s.cand_id,
             levenshtein(nq.p, nc.p) AS edit_dist
      FROM shortlist s
      JOIN norm nq ON nq.doc_id = s.doc_id
      JOIN norm nc ON nc.doc_id = s.cand_id
    )
    SELECT doc_id, cand_id, CAST(edit_dist AS BIGINT) AS edit_dist,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT doc_id, cand_id, edit_dist,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY edit_dist, cand_id) AS rank
      FROM reranked
    ) WHERE rank <= {RERANK_TOP_K}
"""


@register("q_text_rerank_edit", oracle=_RERANK_ORACLE)
def q_text_rerank_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieve-then-rerank — the text twin of
    ``q_ann_pq_rerank`` (VERDICT r8 item 7): the cheap stage shortlists
    up to {RERANK_SHORTLIST_K} candidates per document from the TF-IDF
    sparse-cosine pairs, then the expensive stage reranks ONLY those by
    exact Levenshtein distance over {RERANK_PREFIX}-char normalized
    prefixes and keeps the top {RERANK_TOP_K}.  This is the
    cross-encoder pattern with a classical scorer: quadratic-cost exact
    comparison confined to a candidate set the linear-cost retriever
    bounded first.

    Scale shape: the O(n²)-ish work (edit distance is O(len²) per
    pair) touches <= {RERANK_SHORTLIST_K} pairs per doc, never the pair
    space; both top-k windows plan as ``WindowGroupLimit`` per-partition
    heaps.  The rerank text drops non-[a-z ] characters so DuckDB's
    byte-counting levenshtein() and Spark's character-counting one
    agree by construction."""
    sim = q_doc_similarity_tfidf(spark, sf_dir)
    # r17: both directions come from ONE in-row explode instead of a
    # union of two selects — the union's branches each re-evaluated the
    # ENTIRE TF-IDF pair subplan (guide §2.4 duplicated-subtree check;
    # only its exchanges were reused), which made the retriever stage
    # the leg's dominant cost twice over.  Identical rowset: the same
    # (doc_id, cand_id, cosine) pairs, one per direction.
    both = sim.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("cand_id"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("doc_a").alias("cand_id"),
                ),
            )
        ).alias("pr"),
        "cosine",
    ).select("pr.doc_id", "pr.cand_id", "cosine")
    w_short = Window.partitionBy("doc_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    shortlist = (
        both.withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= RERANK_SHORTLIST_K)
        .select("doc_id", "cand_id")
    )
    prefix = F.substring(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z ]+", ""),
            " +",
            " ",
        ),
        1,
        RERANK_PREFIX,
    )
    norm = _docs(spark, sf_dir).select("doc_id", prefix.alias("p"))
    nq = norm.select(F.col("doc_id"), F.col("p").alias("pq"))
    nc = norm.select(F.col("doc_id").alias("cand_id"), F.col("p").alias("pc"))
    reranked = (
        shortlist.join(nq, "doc_id")
        .join(nc, "cand_id")
        .select(
            "doc_id",
            "cand_id",
            F.levenshtein("pq", "pc").alias("edit_dist"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.asc("edit_dist"), F.asc("cand_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= RERANK_TOP_K)
        .select(
            "doc_id",
            "cand_id",
            F.col("edit_dist").cast("bigint").alias("edit_dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: bounded-memory frequency estimation
# ---------------------------------------------------------------------------

CMS_D = 3     # hash rows
CMS_W = 1024  # counters per row
CMS_TOP = 20  # report the exact top-N words' estimates


def _cms_oracle() -> str:
    from ..functions.hashing import H2_SALT, h56_sql, minhash_term_sql

    def pos(i: int) -> str:
        return f"({minhash_term_sql('h1', 'h2', i)}) % {CMS_W}"

    est = ", ".join(
        f"(SELECT c FROM cms WHERE cms.i = {i} AND cms.pos = t.p{i}) AS e{i}"
        for i in range(CMS_D)
    )
    probes = ", ".join(f"{pos(i)} AS p{i}" for i in range(CMS_D))
    return f"""
    WITH words AS (
      SELECT unnest({TOKENS_SQL}) AS word FROM documents
    ),
    hashed AS (
      SELECT word, {h56_sql('word')} AS h1, {h56_sql('word', salt=H2_SALT)} AS h2
      FROM words
    ),
    cms AS (
      SELECT i, pos, count(*) AS c FROM (
        SELECT unnest(range(0, {CMS_D})) AS i, word, h1, h2 FROM hashed
      ) z, LATERAL (SELECT (h1 + h2 * z.i + z.i * z.i) % {(1 << 61) - 1} AS t56)
         , LATERAL (SELECT t56 % {CMS_W} AS pos)
      GROUP BY i, pos
    ),
    truth AS (
      SELECT word, count(*) AS n_true,
             any_value(h1) AS h1, any_value(h2) AS h2
      FROM hashed GROUP BY word
      ORDER BY n_true DESC, word LIMIT {CMS_TOP}
    ),
    t AS (SELECT word, n_true, {probes} FROM truth)
    SELECT word, n_true, least({', '.join(f'e{i}' for i in range(CMS_D))}) AS n_est
    FROM (SELECT word, n_true, {est} FROM t)
"""


@register("q_sketch_countmin_words", oracle=_cms_oracle())
def q_sketch_countmin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the word stream: a {CMS_D}x{CMS_W} counter
    grid estimates any word's frequency in O(1) memory — completing the
    sketch family (HLL = distincts, Bloom = membership, CMS =
    frequencies).  The query reports the exact top-{CMS_TOP} words with
    their CMS estimates (est >= true always; equality at this scale
    shows the grid is wide enough).

    Scale shape: the sketch build is ONE combiner aggregation over
    (row, position) pairs — {CMS_D} rows per token map-side-combine
    into <= {CMS_D * CMS_W} cells, a constant.  The estimate lookup
    joins the {CMS_TOP}-row truth table against the constant-size
    sketch {CMS_D} times — all broadcastable.  The md5 hash family
    makes every counter value reproducible, so even collision noise is
    oracle-checked.
    """
    from ..functions.hashing import H2_SALT, h56, minhash_term

    toks = _docs(spark, sf_dir).select(
        F.explode(tokens_col(F.col("text"))).alias("word")
    )
    hashed = toks.select(
        "word",
        h56(F.col("word")).alias("h1"),
        h56(F.col("word"), salt=H2_SALT).alias("h2"),
    )
    rows = hashed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (minhash_term(F.col("h1"), F.col("h2"), i) % CMS_W).alias(
                            "pos"
                        ),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("cell")
    ).select(F.col("cell.i").alias("i"), F.col("cell.pos").alias("pos"))
    cms = rows.groupBy("i", "pos").agg(F.count(F.lit(1)).alias("c"))
    truth = (
        hashed.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.first("h1").alias("h1"),
            F.first("h2").alias("h2"),
        )
        .orderBy(F.desc("n_true"), F.asc("word"))
        .limit(CMS_TOP)
    )
    t = truth.select(
        "word",
        "n_true",
        *[
            (minhash_term(F.col("h1"), F.col("h2"), i) % CMS_W).alias(f"p{i}")
            for i in range(CMS_D)
        ],
    )
    for i in range(CMS_D):
        t = t.join(
            F.broadcast(
                cms.filter(F.col("i") == i).select(
                    F.col("pos").alias(f"p{i}"), F.col("c").alias(f"e{i}")
                )
            ),
            f"p{i}",
        )
    return t.select(
        "word",
        "n_true",
        F.least(*[F.col(f"e{i}") for i in range(CMS_D)]).alias("n_est"),
    )


# ---------------------------------------------------------------------------
# Bigram LM scoring: add-one smoothed conditional log-probabilities
# ---------------------------------------------------------------------------

_BIGRAM_LM_ORACLE = r"""
    WITH tokd AS (
      SELECT doc_id, list_filter(
                 regexp_split_to_array(lower(text), '[^\p{L}]+'),
                 t -> length(t) > 0) AS t
      FROM documents
    ),
    bi AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM tokd, LATERAL (SELECT unnest(range(1, len(t))) AS i)
    ),
    doc_bi AS (
      SELECT doc_id, w1, w2, count(*) AS c FROM bi GROUP BY doc_id, w1, w2
    ),
    bigrams AS (SELECT w1, w2, sum(c) AS bc FROM doc_bi GROUP BY w1, w2),
    unigrams AS (SELECT w1, sum(bc) AS uc FROM bigrams GROUP BY w1),
    v AS (SELECT count(*) AS vsize FROM (
            SELECT DISTINCT w2 FROM bigrams UNION SELECT DISTINCT w1 FROM bigrams)),
    lp AS (
      SELECT b.w1, b.w2,
             CAST(round(ln((CAST(b.bc AS DOUBLE) + 1)
                           / (CAST(u.uc AS DOUBLE) + vsize)), 6)
                  AS DECIMAL(38,6)) AS lp6
      FROM bigrams b JOIN unigrams u USING (w1), v
    ),
    agg AS (
      -- integer micro-units (1e-6): the doc average is an exact
      -- rational s6/n, rounded half-away in int arithmetic below —
      -- round(double, 6) diverged between engines when the true
      -- average sat exactly on a half boundary (r13 sf0.1 sweep)
      SELECT d.doc_id, sum(d.c) AS n,
             sum(d.c * CAST(lp.lp6 * 1000000 AS BIGINT)) AS s6
      FROM doc_bi d JOIN lp USING (w1, w2)
      GROUP BY d.doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
           CAST((CASE WHEN s6 < 0 THEN -((-2*s6 + n) // (2*n))
                      ELSE (2*s6 + n) // (2*n) END) / 1000000.0
                AS DOUBLE) AS avg_logprob
    FROM agg
"""


@register("q_text_bigram_logprob", oracle=_BIGRAM_LM_ORACLE)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under an add-one-smoothed
    corpus bigram LM, P(w2|w1) = (c12+1)/(c1+V) — the step up from
    q_text_unigram_logprob that actually penalizes implausible token
    ORDER, not just rare tokens (closer to the perplexity filters real
    curation stacks run).

    Same float discipline as the unigram scorer: one ln() per distinct
    corpus BIGRAM, rounded to 6 decimals immediately; each document's
    combination is an exact INTEGER dot product in 1e-6 micro-units,
    and the final 6-dp average is rounded half-away-from-zero in pure
    int64 arithmetic — ``round(double, 6)`` diverged between engines
    when a doc's true average sat exactly on a half boundary
    (-67.76659/20 at sf0.1; Spark rounds the exact binary double,
    DuckDB rounds via a double multiply).
    Scale shape: bigram extraction is a narrow in-row transform +
    explode; three combiner aggregations (doc-bigram, corpus-bigram,
    left-unigram); the vocabulary size is a one-row broadcast; scoring
    is one equi-join on (w1, w2).  Docs with fewer than 2 tokens drop
    out (no bigrams) — identical semantics in both engines.
    """
    docs = _docs(spark, sf_dir)
    tokd = docs.select(
        "doc_id", tokens_col(F.lower(F.col("text"))).alias("t")
    )
    bi = tokd.select("doc_id", F.explode(_word_bigrams("t")).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    doc_bi = bi.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    bigrams = doc_bi.groupBy("w1", "w2").agg(F.sum("c").alias("bc"))
    unigrams = bigrams.groupBy("w1").agg(F.sum("bc").alias("uc"))
    v = (
        bigrams.select(F.col("w2").alias("w"))
        .union(bigrams.select(F.col("w1").alias("w")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("vsize"))
    )
    lp = (
        bigrams.join(unigrams, "w1")
        .join(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("bc").cast("double") + 1)
                    / (F.col("uc").cast("double") + F.col("vsize"))
                ),
                6,
            )
            .cast("decimal(38,6)")
            .alias("lp6"),
        )
    )
    agg = (
        doc_bi.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(
                F.col("c") * (F.col("lp6") * 1_000_000).cast("bigint")
            ).alias("s6"),
        )
    )
    # exact half-away-from-zero rounding of s6/n to micro-units in pure
    # int64 arithmetic (see docstring); `div` is integral division
    return agg.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_bigrams"),
        (
            F.expr(
                "case when s6 < 0 then -((-2*s6 + n) div (2*n)) "
                "else (2*s6 + n) div (2*n) end"
            )
            / F.lit(1_000_000.0)
        )
        .cast("double")
        .alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty vs a reference corpus (training-data freshness scoring)
# ---------------------------------------------------------------------------

NOVELTY_K = 3    # token n-gram width
NOVELTY_MOD = 10  # doc_id % MOD == 0 is the reference corpus

_NOVELTY_ORACLE = f"""
    WITH g AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= {NOVELTY_K}
                           THEN list_transform(range(1, len(t) - {NOVELTY_K - 2}),
                                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                           ELSE [] END) AS sh
        FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)
      )
    ),
    ref AS (
      SELECT DISTINCT sh FROM g WHERE doc_id % {NOVELTY_MOD} = 0
    ),
    cand AS (SELECT doc_id, sh FROM g WHERE doc_id % {NOVELTY_MOD} != 0)
    SELECT doc_id, n_grams, n_novel,
           {round_ratio_sql('n_novel', 'n_grams', 6)} AS novelty
    FROM (
      SELECT c.doc_id,
             count(*) AS n_grams,
             CAST(sum(CASE WHEN r.sh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel
      FROM cand c LEFT JOIN ref r ON r.sh = c.sh
      GROUP BY c.doc_id
    )
"""


@register("q_text_novelty_ngrams", oracle=_NOVELTY_ORACLE)
def q_text_novelty_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty against a reference corpus: the fraction of
    a doc's distinct {NOVELTY_K}-token n-grams that appear NOWHERE in
    the reference slice (doc_id % {NOVELTY_MOD} == 0) — the freshness /
    redundancy score a data-mixing pipeline uses to prefer documents
    that add new content over ones the corpus already covers (the
    continuous-valued complement of ``q_decontaminate_overlap``'s
    binary gate).

    Scale shape: n-grams build in-row (zero shuffles, the shingle
    discipline), the reference gram set is a distinct-agg, and novelty
    is ONE left join keyed on the gram — at 100 TB both sides
    hash-partition on the gram key; no broadcast grows with the corpus
    and no pair space exists at all.  Counts are exact integers; the
    one ratio is an exact ``round_ratio``, so both engines round the
    same value."""
    docs = _docs(spark, sf_dir)
    tokd = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    g = tokd.select(
        "doc_id", F.explode(F.array_distinct(word_grams("t", NOVELTY_K))).alias("sh")
    )
    ref = (
        g.filter(F.col("doc_id") % NOVELTY_MOD == 0)
        .select("sh")
        .distinct()
        .withColumn("in_ref", F.lit(1))
    )
    cand = g.filter(F.col("doc_id") % NOVELTY_MOD != 0)
    joined = cand.join(ref, "sh", "left")
    novel = F.sum(F.when(F.col("in_ref").isNull(), 1).otherwise(0))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            round_ratio("n_novel", "n_grams", 6).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID quality: confusion matrix against the labeled lang column
# ---------------------------------------------------------------------------

_LANGID_CONF_ORACLE = f"""
    WITH pred AS ({_LANGID_ORACLE}),
    cells AS (
      SELECT lang_actual, lang_pred, count(*) AS n
      FROM pred GROUP BY lang_actual, lang_pred
    )
    SELECT lang_actual, lang_pred, n,
           {round_ratio_sql('n', 'tot', 6)} AS frac_of_actual
    FROM (SELECT *, sum(n) OVER (PARTITION BY lang_actual) AS tot FROM cells)
"""


@register("q_text_langid_confusion", oracle=_LANGID_CONF_ORACLE)
def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID measured quality: the confusion matrix of the
    stopword-marker classifier against the corpus's labeled ``lang``
    column — per (actual, predicted) cell counts and the per-actual-
    language recall fraction.  The text family's quality axis, the
    third of the kind (``q_ann_recall`` for retrieval,
    ``q_dedup_minhash_est_error`` for sketches): an approximation
    ships WITH its measured error, not just a correctness oracle.

    Scale shape: rides the lang-id projection (zero-shuffle regex
    scoring in codegen) into ONE aggregation on a |langs|² key space;
    the normalizing window runs over those O(16) rows — corpus size
    appears only in the scan."""
    pred = q_text_lang_id(spark, sf_dir)
    w = Window.partitionBy("lang_actual")
    return (
        pred.groupBy("lang_actual", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("tot", F.sum("n").over(w))
        .select(
            "lang_actual",
            "lang_pred",
            "n",
            round_ratio("n", "tot", 6).alias("frac_of_actual"),
        )
    )


# ---------------------------------------------------------------------------
# BPE training step: adjacent-pair frequency census + merge ranking
# ---------------------------------------------------------------------------

BPE_TOP = 32  # merge-table prefix reported


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(tok, cnt)``: the lowercase corpus vocabulary of tokens longer
    than one letter, with corpus frequencies — the representation every
    BPE round counts pairs over."""
    return (
        _docs(spark, sf_dir)
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), TOKENIZER_PATTERN),
                    lambda t: F.length(t) > 1,
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_pair_census(vocab: DataFrame) -> DataFrame:
    """``(pair, n)``: adjacent-character pair counts over the DISTINCT
    vocabulary, each weighted by its token's corpus frequency — the
    Zipf cut (a pair explodes once per distinct token, never per raw
    token).  Tokens shorter than 2 (a merge can shrink one) have none."""
    return (
        vocab.filter(F.length("tok") > 1)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.substr(F.col("tok"), i, F.lit(2)),
                )
            ).alias("pair"),
            "cnt",
        )
        .groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
    )


def _top_merges(census: DataFrame) -> DataFrame:
    """The top ``BPE_TOP`` rows of a pair census as the merge table
    ``(merge_rank, pair, n)``; ties break on the pair string.  The rank
    window runs on those rows only, never on a global sort."""
    top = census.orderBy(F.desc("n"), F.asc("pair")).limit(BPE_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return top.select(
        F.row_number().over(w).cast("int").alias("merge_rank"),
        "pair",
        F.col("n").cast("bigint").alias("n"),
    )


_BPE_MERGE_ORACLE = rf"""
    WITH toks AS (
      SELECT unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                 t -> length(t) > 1)) AS tok
      FROM documents
    ),
    pairs AS (
      SELECT substr(tok, i, 2) AS pair
      FROM toks, LATERAL (SELECT unnest(range(1, length(tok))) AS i)
    ),
    counts AS (SELECT pair, count(*) AS n FROM pairs GROUP BY pair),
    top AS (SELECT pair, n FROM counts
            ORDER BY n DESC, pair LIMIT {BPE_TOP})
    SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS merge_rank,
           pair, CAST(n AS BIGINT) AS n
    FROM top
"""


@register("q_text_bpe_merge", oracle=_BPE_MERGE_ORACLE)
def q_text_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE training step over the corpus: count every adjacent
    character pair inside word tokens and rank the top-{BPE_TOP} merge
    candidates — the census a tokenizer trainer (BPE/WordPiece) runs
    once per merge round, and, run standalone, a corpus-similarity
    fingerprint (the pair table is what makes `th`/`he` merge before
    `zq`).

    Plan: this is how real BPE trainers count — census the VOCABULARY
    first, then count pairs per DISTINCT token weighted by its corpus
    frequency.  Tokenize + one combiner agg gives (tok, cnt) over
    O(vocab) groups; only then do pairs explode, so the pair-explode
    volume drops from total-corpus-characters to distinct-vocab-
    characters — a Zipf-law ~10-100× cut on natural text (on the
    fixture's small synthetic vocabulary the measured cut is 949k → 107
    exploded pair rows at sf0.1).  The pair
    count is then ONE weighted combiner agg over ≤ alphabet² groups,
    the top-{BPE_TOP} a `TakeOrderedAndProject` per-partition heap,
    and the merge_rank window runs on {BPE_TOP} rows only — never a
    global sort of the corpus.  Ties break on the pair string, so the
    merge table is deterministic.  Subsequent merge rounds re-run the
    same census over the re-segmented vocab (the loop shape of
    `kmeans()`), which is exactly the representation (vocab word →
    freq) Sennrich et al.'s reference implementation iterates on."""
    return _top_merges(_bpe_pair_census(_bpe_vocab(spark, sf_dir)))


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (head / middle / tail)
# ---------------------------------------------------------------------------

_PPL_BUCKETS_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\p{L}]+'),
                 t -> length(t) > 0)) AS tok
      FROM documents
    ),
    doc_tok AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    vocab AS (SELECT tok, sum(c) AS tc FROM doc_tok GROUP BY tok),
    total AS (SELECT sum(tc) AS n FROM vocab),
    lp AS (
      SELECT tok,
             CAST(round(ln(CAST(tc AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                  AS DECIMAL(38,6)) AS lp6
      FROM vocab, total
    ),
    scores AS (
      SELECT d.doc_id,
             CAST((CASE WHEN (CAST(sum(CAST(d.c AS DECIMAL(38,6)) * lp.lp6) * 1000000 AS HUGEINT)) < 0 THEN -((-2000000 * (CAST(sum(CAST(d.c AS DECIMAL(38,6)) * lp.lp6) * 1000000 AS HUGEINT)) + (CAST(sum(d.c) * 1000000 AS HUGEINT))) // (2 * (CAST(sum(d.c) * 1000000 AS HUGEINT)))) ELSE (2000000 * (CAST(sum(CAST(d.c AS DECIMAL(38,6)) * lp.lp6) * 1000000 AS HUGEINT)) + (CAST(sum(d.c) * 1000000 AS HUGEINT))) // (2 * (CAST(sum(d.c) * 1000000 AS HUGEINT))) END) / 1000000.0 AS DOUBLE) AS avg_logprob
      FROM doc_tok d JOIN lp USING (tok)
      GROUP BY d.doc_id
    ),
    th AS (
      SELECT quantile_cont(avg_logprob, 0.3333333333333333) AS t1,
             quantile_cont(avg_logprob, 0.6666666666666666) AS t2
      FROM scores
    )
    SELECT s.doc_id, s.avg_logprob,
           CASE WHEN s.avg_logprob < th.t1 THEN 'tail'
                WHEN s.avg_logprob < th.t2 THEN 'middle'
                ELSE 'head' END AS bucket
    FROM scores s, th
"""


@register("q_quality_perplexity_buckets", oracle=_PPL_BUCKETS_ORACLE)
def q_quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet recipe's quality split (Wenzek et al. 2020): score
    every document with the LM quality proxy (here the corpus unigram
    mean log-probability of `q_text_unigram_logprob`; CCNet uses a
    KenLM perplexity — same shape, external model), then cut the
    corpus into HEAD / MIDDLE / TAIL at the exact terciles — the
    standard curriculum for choosing which web text trains first and
    which gets dropped or down-weighted.

    Scale shape: scoring is the unigram pipeline (combiner aggs + one
    keyed join; the per-doc sum is an exact decimal dot product, so no
    order-dependent float sum exists); the two tercile thresholds are
    ONE exact-percentile aggregate broadcast back — never a global
    sort or ntile over the corpus (an ntile(3) would need a total
    order; the threshold form is the 100 TB way).  The scores frame
    persists because both the threshold agg and the final projection
    consume it."""
    scores = q_text_unigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    ).persist()
    th = scores.agg(
        F.expr("percentile(avg_logprob, 0.3333333333333333)").alias("t1"),
        F.expr("percentile(avg_logprob, 0.6666666666666666)").alias("t2"),
    )
    return scores.join(F.broadcast(th)).select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("avg_logprob") < F.col("t1"), "tail")
        .when(F.col("avg_logprob") < F.col("t2"), "middle")
        .otherwise("head")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# BPE: apply the top merge and re-census (the trainer's second round)
# ---------------------------------------------------------------------------

_BPE_APPLY_ORACLE = r"""
    WITH toks AS (
      SELECT unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\p{L}]+'),
                 t -> length(t) > 1)) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    pairs0 AS (
      SELECT substr(tok, i, 2) AS pair, sum(cnt) AS n
      FROM vocab, LATERAL (SELECT unnest(range(1, length(tok))) AS i)
      GROUP BY 1
    ),
    top1 AS (SELECT pair FROM pairs0 ORDER BY n DESC, pair LIMIT 1),
    vocab2 AS (
      SELECT replace(tok, (SELECT pair FROM top1), '0') AS tok, cnt
      FROM vocab
    ),
    pairs1 AS (
      SELECT substr(tok, i, 2) AS pair, sum(cnt) AS n
      FROM vocab2, LATERAL (SELECT unnest(range(1, length(tok))) AS i)
      WHERE length(tok) > 1
      GROUP BY 1
    ),
    top AS (SELECT pair, n FROM pairs1 ORDER BY n DESC, pair LIMIT 32)
    SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS merge_rank,
           pair, CAST(n AS BIGINT) AS n
    FROM top
"""


@register("q_text_bpe_apply_step", oracle=_BPE_APPLY_ORACLE)
def q_text_bpe_apply_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training ROUND TWO: apply the census's top merge to the
    vocabulary (the merged pair becomes one symbol — '0', a character
    the letters-only tokenizer can never emit) and re-census the pair
    table — the iteration `q_text_bpe_merge` trains one step of,
    demonstrating the trainer's loop shape end to end (Sennrich et al.
    2016 iterate exactly this: vocab-with-counts -> best pair -> merge
    -> recount).

    `replace()` substitutes non-overlapping occurrences left-to-right
    in BOTH engines — the same greedy-leftmost convention real BPE
    uses, so 'aaa' under merge 'aa' becomes ('aa')'a' in all three code
    paths.  Scale: the census operates on the DISTINCT vocabulary (the
    Zipf cut), the winning pair is a one-row broadcast (never
    collected), and each round is two combiner aggs — k merge rounds =
    the `kmeans()` checkpoint loop."""
    vocab = _bpe_vocab(spark, sf_dir)
    top1 = (
        _bpe_pair_census(vocab)
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("mpair"))
    )
    vocab2 = vocab.join(F.broadcast(top1)).select(
        F.expr("replace(tok, mpair, '0')").alias("tok"), "cnt"
    )
    return _top_merges(_bpe_pair_census(vocab2))


# ---------------------------------------------------------------------------
# BPE: the full training loop — k rounds of census -> best merge -> apply
# ---------------------------------------------------------------------------

BPE_TRAIN_K = 4  # rounds for the registered/tested variant

# Merge placeholders: round i's winning pair collapses to one private-use
# codepoint (U+E000+i).  The letters-only tokenizer can never emit these,
# so the replace map is INJECTIVE (a merged token uniquely inverts by
# substituting the pair back) — no re-aggregation of the vocabulary is
# needed after a merge, and later rounds can legitimately learn pairs
# that CONTAIN earlier merge symbols (how BPE grows multi-char units).
BPE_SYM_BASE = 0xE000


def bpe_train(vocab: DataFrame, k: int = BPE_TRAIN_K) -> DataFrame:
    """Train ``k`` BPE merges over a ``(tok, cnt)`` vocabulary frame and
    return the learned merge table ``(round, pair, n)`` — Sennrich et
    al. 2016's loop (census pairs -> take the most frequent -> merge it
    everywhere -> recount), the step `q_text_bpe_merge` and
    `q_text_bpe_apply_step` each demonstrate once, iterated to a
    training run.

    Each round's winning pair is ONE bounded row, collected — that
    action is what materializes the round (and the vocabulary generation
    feeding it), and the pair rides the next round's ``replace`` as a
    literal.  Each vocabulary generation is held (``functions/lineage``);
    because rounds materialize eagerly, older generations are fully
    consumed and released IN the loop — cached storage stays <= 2 x
    O(vocab) however deep the run — and deep runs truncate the
    vocabulary's plan on the lineage cadence.  Ties break on
    (count desc, pair asc) — byte order agrees between Spark and DuckDB
    (both compare binary UTF-8) — so the merge table is deterministic.

    Scale shape: every round is one census (two combiner aggs over
    O(vocab) rows) and a one-row collect; nothing corpus-sized crosses
    a round boundary or reaches the driver."""
    # Collecting the one-row winner, rather than localCheckpoint +
    # broadcast join, is one job per round instead of two and needs no
    # broadcast build (A/B min-of-5: build 1.58 -> 1.36 s; the action
    # stays ~0.02 s through the VALUES relation below).  The
    # remaining eager cost is the vocabulary census + k SEQUENTIAL
    # census jobs — round i+1's vocab depends on round i's winner, so
    # the per-round job floor (~0.25 s scheduling + codegen of each
    # round's new replace expression) cannot be batched away without
    # changing the algorithm.
    spark = vocab.sparkSession
    winners: list[tuple[int, str, int]] = []
    gens = Generations()
    for i in range(k):
        vocab = gens.hold(vocab)
        rows = (
            _bpe_pair_census(vocab)
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if rows:
            pair, n = rows[0]["pair"], int(rows[0]["n"])
            winners.append((i + 1, pair, n))
            vocab = vocab.select(
                F.replace(
                    F.col("tok"), F.lit(pair), F.lit(chr(BPE_SYM_BASE + i))
                ).alias("tok"),
                "cnt",
            )
        else:
            # pairs exhausted: no merge this round, and every later
            # generation is empty
            vocab = vocab.filter(F.lit(False))
        vocab = gens.on_cadence(vocab, i, k)
        # the census collect consumed generation i fully, so the i-2
        # generation has no remaining lazy consumer
        gens.release()
    # JVM VALUES relation, not createDataFrame(list): the latter routes
    # through a parallelized Python RDD, so every downstream action
    # would pay a ~0.2 s Python-worker stage for 4 rows.  A caller's
    # vocabulary may hold any string, and Spark SQL literals treat
    # backslash as an escape character: backslashes are doubled first,
    # then quotes, so the literal reads back as exactly the pair.
    if not winners:
        return spark.sql(
            "SELECT CAST(NULL AS INT) AS round, CAST(NULL AS STRING) AS pair,"
            " CAST(NULL AS BIGINT) AS n WHERE FALSE"
        )
    rows_sql = ", ".join(
        "({r}, '{p}', {n}L)".format(r=r, p=p.replace("\\", "\\\\").replace("'", "''"), n=n)
        for r, p, n in winners
    )
    return spark.sql(
        f"SELECT CAST(round AS INT) AS round, pair, CAST(n AS BIGINT) AS n "
        f"FROM VALUES {rows_sql} AS t(round, pair, n)"
    )


_BPE_TRAIN_ORACLE = rf"""
    WITH toks AS (
      SELECT unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                 t -> length(t) > 1)) AS tok
      FROM documents
    ),
    v0 AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    c1 AS (
      SELECT substr(tok, i, 2) AS pair, sum(cnt) AS n
      FROM v0, LATERAL (SELECT unnest(range(1, length(tok))) AS i)
      GROUP BY 1
    ),
    b1 AS (SELECT pair, n FROM c1 ORDER BY n DESC, pair LIMIT 1),
    v1 AS (SELECT replace(tok, (SELECT pair FROM b1), chr({BPE_SYM_BASE})) AS tok,
                  cnt FROM v0),
    c2 AS (
      SELECT substr(tok, i, 2) AS pair, sum(cnt) AS n
      FROM v1, LATERAL (SELECT unnest(range(1, length(tok))) AS i)
      GROUP BY 1
    ),
    b2 AS (SELECT pair, n FROM c2 ORDER BY n DESC, pair LIMIT 1),
    v2 AS (SELECT replace(tok, (SELECT pair FROM b2), chr({BPE_SYM_BASE + 1})) AS tok,
                  cnt FROM v1),
    c3 AS (
      SELECT substr(tok, i, 2) AS pair, sum(cnt) AS n
      FROM v2, LATERAL (SELECT unnest(range(1, length(tok))) AS i)
      GROUP BY 1
    ),
    b3 AS (SELECT pair, n FROM c3 ORDER BY n DESC, pair LIMIT 1),
    v3 AS (SELECT replace(tok, (SELECT pair FROM b3), chr({BPE_SYM_BASE + 2})) AS tok,
                  cnt FROM v2),
    c4 AS (
      SELECT substr(tok, i, 2) AS pair, sum(cnt) AS n
      FROM v3, LATERAL (SELECT unnest(range(1, length(tok))) AS i)
      GROUP BY 1
    ),
    b4 AS (SELECT pair, n FROM c4 ORDER BY n DESC, pair LIMIT 1)
    SELECT CAST(1 AS INT) AS round, pair, CAST(n AS BIGINT) AS n FROM b1
    UNION ALL SELECT 2, pair, CAST(n AS BIGINT) FROM b2
    UNION ALL SELECT 3, pair, CAST(n AS BIGINT) FROM b3
    UNION ALL SELECT 4, pair, CAST(n AS BIGINT) FROM b4
"""


@register("q_text_bpe_train_k4", oracle=_BPE_TRAIN_ORACLE)
def q_text_bpe_train_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four full BPE training rounds over the corpus vocabulary: the
    merge table ``(round, pair, n)`` a tokenizer trainer would persist
    — each row is the pair that won round i and its weighted frequency
    AT MERGE TIME.  The oracle unrolls the identical four rounds as
    chained CTEs (recursive CTEs cannot aggregate over the recursive
    table, so the fixed-k loop is the SQL-expressible form).

    See `bpe_train` for the loop and cache discipline; this entry runs
    it at k={BPE_TRAIN_K} on the `q_text_bpe_merge` vocabulary census."""
    # The census scan is not spread: the whole tokenize pass is ~0.18 s
    # single-task at sf0.1, so the (doc_id, text) exchange costs more
    # than a parallel census saves (build ~2.0 s with spread vs ~1.0 s
    # without, measured min-of-5).
    return bpe_train(_bpe_vocab(spark, sf_dir), k=BPE_TRAIN_K)


# ---------------------------------------------------------------------------
# Charset / script profile: per-document character-class composition
# ---------------------------------------------------------------------------

_CHARSET_ORACLE = r"""
    WITH c AS (
      SELECT doc_id, length(text) AS n,
             length(text) - length(regexp_replace(text, '\p{L}', '', 'g'))
                 AS n_letter,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                 AS n_digit,
             length(text) - length(regexp_replace(text, '\s', '', 'g'))
                 AS n_space
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           """ + round_ratio_sql("n_letter", "n", 6) + """ AS letter_ratio,
           """ + round_ratio_sql("n_digit", "n", 6) + """ AS digit_ratio,
           """ + round_ratio_sql("n_space", "n", 6) + """ AS space_ratio,
           """ + round_ratio_sql(
    "(n - n_letter - n_digit - n_space)", "n", 6
) + """ AS other_ratio
    FROM c
"""


@register("q_text_charset_profile", oracle=_CHARSET_ORACLE)
def q_text_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per document — the charset screen a
    crawl-cleaning pipeline runs before language ID: letter / digit /
    whitespace / other ratios expose binary-junk pastes (high other),
    table dumps (high digit), and whitespace bombs, each a standard
    drop rule alongside the Gopher battery.

    Class counts come from global ``regexp_replace`` deletion (both
    engines delete ALL matches; Java and RE2 agree on ``\\p{L}`` and
    ``\\s``), so each ratio is one exact-integer division rounded once
    — no float accumulation anywhere.  Pure per-row projection: zero
    shuffles at any scale."""
    docs = _docs(spark, sf_dir)
    n = F.length("text")
    n_letter = n - F.length(F.regexp_replace("text", r"\p{L}", ""))
    n_digit = n - F.length(F.regexp_replace("text", "[0-9]", ""))
    n_space = n - F.length(F.regexp_replace("text", r"\s", ""))
    return (
        docs.filter(n > 0)
        .select(
            "doc_id",
            n.cast("bigint").alias("n_chars"),
            n_letter.alias("nl"),
            n_digit.alias("nd"),
            n_space.alias("ns"),
        )
        .select(
            "doc_id",
            "n_chars",
            round_ratio("nl", "n_chars", 6).alias("letter_ratio"),
            round_ratio("nd", "n_chars", 6).alias("digit_ratio"),
            round_ratio("ns", "n_chars", 6).alias("space_ratio"),
            round_ratio("(n_chars - nl - nd - ns)", "n_chars", 6).alias(
                "other_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocations: association strength over adjacent token pairs
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP = 50

_PMI_ORACLE = f"""
    WITH tl AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
    uni AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(ts) AS tok FROM tl) GROUP BY tok
    ),
    nu AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2, count(*) AS c
      FROM tl, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
      GROUP BY 1, 2
    ),
    nb AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bi),
    scored AS (
      SELECT w1, w2, bi.c,
             CAST(round(ln(CAST(bi.c AS DOUBLE)), 6) AS DECIMAL(38,6))
             - CAST(round(ln(CAST(u1.c AS DOUBLE)), 6) AS DECIMAL(38,6))
             - CAST(round(ln(CAST(u2.c AS DOUBLE)), 6) AS DECIMAL(38,6))
             + 2 * CAST(round(ln(CAST(nu.n AS DOUBLE)), 6) AS DECIMAL(38,6))
             - CAST(round(ln(CAST(nb.n AS DOUBLE)), 6) AS DECIMAL(38,6))
                 AS pmi6
      FROM bi
      JOIN uni u1 ON u1.tok = bi.w1
      JOIN uni u2 ON u2.tok = bi.w2, nu, nb
      WHERE bi.c >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, CAST(c AS BIGINT) AS n_pair,
           CAST(pmi6 AS DOUBLE) AS pmi
    FROM scored
    ORDER BY pmi6 DESC, w1, w2 LIMIT {PMI_TOP}
"""


@register("q_text_pmi_collocations", oracle=_PMI_ORACLE)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-{PMI_TOP} adjacent token pairs by
    pointwise mutual information ``ln(p(ab)/(p(a)p(b)))`` with a
    min-count floor of {PMI_MIN_COUNT} — the association score that
    separates true collocations from merely-frequent pairs (raw bigram
    counts, `q_text_bigrams_top`, rank "the the"-style pairs first;
    PMI surfaces pairs that co-occur MORE than their parts predict),
    the standard phrase-extraction signal.

    Float discipline: each ln() is of an exact INTEGER count and is
    quantized to 6 decimals immediately (the bigram-LM rule); the five
    quantized terms then combine EXACTLY in DECIMAL(38,6), so the
    score — and therefore the top-{PMI_TOP} cut — is deterministic
    across engines and partitionings.  Ties pin on the pair text.

    Scale shape: two combiner aggs (unigram, bigram census — both
    vocabulary-sized), two keyed joins of the bigram table against the
    unigram counts, two one-row broadcasts (the totals), and a global
    `TakeOrderedAndProject` top-{PMI_TOP}.  Nothing corpus-sized past
    the censuses."""
    docs = _docs(spark, sf_dir)
    d = docs.select(tokens_col(F.col("text")).alias("toks"))
    uni = d.select(F.explode("toks").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    bi = (
        d.select(F.explode(_word_bigrams("toks")).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .filter(F.col("cb") >= PMI_MIN_COUNT)
    )
    nu = uni.agg(F.sum("c").cast("bigint").alias("n_uni"))
    nb_full = (
        d.select(
            F.when(F.size("toks") >= 2, F.size("toks") - 1)
            .otherwise(0)
            .alias("k")
        )
        .agg(F.sum("k").cast("bigint").alias("n_bi"))
    )
    ln6 = lambda c: F.round(F.log(c.cast("double")), 6).cast("decimal(38,6)")
    scored = (
        bi.join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .join(F.broadcast(nu))
        .join(F.broadcast(nb_full))
        .select(
            "w1",
            "w2",
            "cb",
            (
                ln6(F.col("cb"))
                - ln6(F.col("c1"))
                - ln6(F.col("c2"))
                + F.lit(2) * ln6(F.col("n_uni"))
                - ln6(F.col("n_bi"))
            ).alias("pmi6"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi6"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP)
        .select(
            "w1",
            "w2",
            F.col("cb").cast("bigint").alias("n_pair"),
            F.col("pmi6").cast("double").alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (vocabulary power-law diagnostic)
# ---------------------------------------------------------------------------

ZIPF_TOP = 200  # head of the rank-frequency curve the line is fit to


@register(
    "q_text_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(text), '[^\\p{{L}}]+'),
               t -> length(t) > 0)) AS tok
      FROM documents
    ),
    counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    vocab AS (SELECT count(*) AS n_types FROM counts),
    top AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank
      FROM counts ORDER BY c DESC, tok LIMIT {ZIPF_TOP}
    ),
    pts AS (
      SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                 AS x,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                 AS y
      FROM top
    ),
    s AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(v.n_types AS BIGINT) AS n_types,
           CAST(s.n AS BIGINT) AS n_fit,
           CAST(round(CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
                      / (s.n * s.sxx - s.sx * s.sx), 6) AS DOUBLE) AS slope6,
           CAST(round((s.sy - (CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
                               / (s.n * s.sxx - s.sx * s.sx)) * s.sx)
                      / s.n / 1000000, 6) AS DOUBLE) AS intercept6
    FROM s, vocab v
    """,
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: fit ln(freq) ~ slope·ln(rank) + b over the
    top-{ZIPF_TOP} vocabulary head — natural corpora sit near slope -1,
    and the deviation is the classic tell for synthetic, boilerplate-
    heavy, or template text (a quality gate input next to perplexity
    and repetition).

    Determinism: both lns are floor-quantized to integer micro-units,
    every OLS sufficient statistic is an exact int64 sum over the
    {ZIPF_TOP}-row head (bounds keep n·Σxy < 2^63), and the one
    slope/intercept division is a mirrored double expression.  Scale
    shape: one combiner token census, a global top-{ZIPF_TOP}
    (TakeOrderedAndProject per-partition heaps), then ranking + OLS
    over a CONSTANT {ZIPF_TOP}-row frame — the unpartitioned window is
    bounded by the limit, never by the vocabulary."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = counts.agg(F.count(F.lit(1)).alias("n_types"))
    top = counts.orderBy(F.desc("c"), F.asc("tok")).limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    pts = top.select(
        F.floor(F.log(F.row_number().over(w).cast("double")) * 1_000_000 + 0.5)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 1_000_000 + 0.5)
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return s.join(F.broadcast(vocab)).select(
        F.col("n_types").cast("bigint").alias("n_types"),
        F.col("n").cast("bigint").alias("n_fit"),
        F.round(slope, 6).cast("double").alias("slope6"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n") / 1_000_000, 6
        ).cast("double").alias("intercept6"),
    )


# ---------------------------------------------------------------------------
# Readability scoring (Flesch reading-ease with a vowel-group syllable proxy)
# ---------------------------------------------------------------------------


@register(
    "q_text_readability",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                 AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syll AS BIGINT) AS n_syll,
           CAST(round(206.835
                      - 1.015 * CAST(n_words AS DOUBLE)
                              / n_sentences
                      - 84.6 * CAST(n_syll AS DOUBLE)
                             / greatest(n_words, 1), 4) AS DOUBLE) AS flesch4,
           CASE WHEN round(206.835
                      - 1.015 * CAST(n_words AS DOUBLE) / n_sentences
                      - 84.6 * CAST(n_syll AS DOUBLE)
                             / greatest(n_words, 1), 4) >= 90 THEN 'very_easy'
                WHEN round(206.835
                      - 1.015 * CAST(n_words AS DOUBLE) / n_sentences
                      - 84.6 * CAST(n_syll AS DOUBLE)
                             / greatest(n_words, 1), 4) >= 60 THEN 'standard'
                WHEN round(206.835
                      - 1.015 * CAST(n_words AS DOUBLE) / n_sentences
                      - 84.6 * CAST(n_syll AS DOUBLE)
                             / greatest(n_words, 1), 4) >= 30 THEN 'difficult'
                ELSE 'very_difficult' END AS band
    FROM feats
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with the classic cheap syllable
    proxy (vowel-group runs) — the readability gate curation stacks run
    next to length/stopword quality rules: 206.835 − 1.015·(words/
    sentence) − 84.6·(syllables/word), banded for filtering.

    Determinism: all three counts are exact integer regex censuses
    (identical RE2-class patterns both engines); the score is ONE
    mirrored double expression over exact ints, rounded 4dp, and the
    band thresholds compare the ROUNDED value.  Scale shape: pure
    per-row projection fused into the scan — zero shuffles, zero UDFs,
    embarrassingly parallel at any corpus size."""
    docs = _docs(spark, sf_dir)
    n_words = F.size(F.expr("regexp_extract_all(lower(text), '([a-z]+)', 1)"))
    n_sent = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '([.!?]+)', 1)")), F.lit(1)
    )
    n_syll = F.size(F.expr("regexp_extract_all(lower(text), '([aeiouy]+)', 1)"))
    feats = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syll"),
    )
    flesch = F.round(
        F.lit(206.835)
        - 1.015 * F.col("n_words").cast("double") / F.col("n_sentences")
        - 84.6
        * F.col("n_syll").cast("double")
        / F.greatest(F.col("n_words"), F.lit(1)),
        4,
    )
    return feats.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_sentences").cast("bigint").alias("n_sentences"),
        F.col("n_syll").cast("bigint").alias("n_syll"),
        flesch.cast("double").alias("flesch4"),
        F.when(flesch >= 90, "very_easy")
        .when(flesch >= 60, "standard")
        .when(flesch >= 30, "difficult")
        .otherwise("very_difficult")
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# Sentence segmentation stats (narrow, zero-shuffle)
# ---------------------------------------------------------------------------


@register(
    "q_text_sentence_stats",
    oracle=r"""
    WITH segs AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 regexp_split_to_array(text, '[.!?]+'),
                 s -> length(regexp_replace(s, '[^\p{L}]', '', 'g'))),
               n -> n > 0) AS ls
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ls) AS INT) AS n_sentences,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ls),
                            (a, b) -> a + b) AS BIGINT)
               AS total_letters,
           CAST(list_reduce(list_prepend(0, ls),
                            (a, b) -> CASE WHEN b > a THEN b ELSE a END)
                AS INT) AS max_letters,
           CAST((1000000 * list_reduce(list_prepend(CAST(0 AS BIGINT), ls),
                                       (a, b) -> a + b))
                // len(ls) AS BIGINT) AS mean_letters_mu
    FROM segs WHERE len(ls) > 0
    """,
)
def q_text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation profile per document: segments split on
    ``[.!?]+`` runs, a segment counts as a sentence iff it contains at
    least one letter; emit sentence count, total/max/mean letters per
    sentence — the structural features (fragmentation vs run-ons) a
    text-quality gate reads next to the Gopher rules.

    Entirely narrow: split, per-segment letter count, filter, and all
    four aggregates fold IN-ROW over the segment array — zero
    exchanges at any corpus size, codegen-fused into the scan.  Letter
    counts (not raw lengths) make the measure whitespace/punctuation
    agnostic and engine-portable.  Mean is exact integer micro-units
    via floor division of non-negative ints (div == //)."""
    docs = load_table(spark, sf_dir, "documents")
    letters = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"),
            lambda s: F.length(F.regexp_replace(s, r"[^\p{L}]", "")),
        ),
        lambda n: n > 0,
    )
    segs = docs.select("doc_id", letters.alias("ls")).filter(F.size("ls") > 0)
    # BIGINT fold accumulator on BOTH engines (ADVICE r10): with an INT
    # accumulator, a document with > ~2147 letters overflows the
    # 1000000* multiply — Spark (non-ANSI) wraps silently while DuckDB
    # raises, a latent engine divergence the small fixtures never hit.
    total = F.aggregate(
        F.col("ls"), F.lit(0).cast("bigint"), lambda a, b: a + b
    )
    mx = F.aggregate(
        F.col("ls"), F.lit(0), lambda a, b: F.when(b > a, b).otherwise(a)
    )
    return segs.select(
        "doc_id",
        F.size("ls").cast("int").alias("n_sentences"),
        total.cast("bigint").alias("total_letters"),
        mx.cast("int").alias("max_letters"),
        F.expr(
            "(1000000 * aggregate(ls, CAST(0 AS BIGINT), (a, b) -> a + b))"
            " div size(ls)"
        ).cast("bigint").alias("mean_letters_mu"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (degree/frequency-scored stopword-delimited phrases)
# ---------------------------------------------------------------------------

RAKE_STOP_K = 10  # corpus-calibrated stopword list: top-K words by frequency


@register(
    "q_text_rake_keywords",
    oracle=rf"""
    WITH tl AS (
      SELECT doc_id, list_transform({TOKENS_SQL}, t -> lower(t)) AS t
      FROM documents
    ),
    toks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS p, t[i] AS w
      FROM tl, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)
    ),
    cw AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    stop AS (SELECT w FROM cw ORDER BY c DESC, w LIMIT {RAKE_STOP_K}),
    marked AS (
      SELECT t.doc_id, t.p, t.w, (s.w IS NOT NULL) AS is_stop,
             sum(CASE WHEN s.w IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY t.doc_id ORDER BY t.p) AS pid
      FROM toks t LEFT JOIN stop s ON s.w = t.w
    ),
    content AS (SELECT doc_id, pid, p, w FROM marked WHERE NOT is_stop),
    phr AS (
      SELECT doc_id, pid, count(*) AS n_words,
             string_agg(w, ' ' ORDER BY p) AS phrase
      FROM content GROUP BY doc_id, pid
    ),
    occ AS (
      SELECT c.doc_id, c.pid, c.w, ph.n_words
      FROM content c JOIN phr ph ON ph.doc_id = c.doc_id AND ph.pid = c.pid
    ),
    ws AS (
      SELECT doc_id, w, (1000000 * sum(n_words)) // count(*) AS score_mu
      FROM occ GROUP BY doc_id, w
    ),
    ps AS (
      SELECT o.doc_id, o.pid, sum(ws.score_mu) AS rake_mu
      FROM occ o JOIN ws ON ws.doc_id = o.doc_id AND ws.w = o.w
      GROUP BY o.doc_id, o.pid
    ),
    ranked AS (
      SELECT p1.doc_id, ph.phrase, ph.n_words, p1.rake_mu,
             row_number() OVER (PARTITION BY p1.doc_id
                 ORDER BY p1.rake_mu DESC, ph.phrase) AS rn
      FROM ps p1 JOIN phr ph ON ph.doc_id = p1.doc_id AND ph.pid = p1.pid
    )
    SELECT doc_id, phrase,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(rake_mu AS BIGINT) AS rake_mu
    FROM ranked WHERE rn <= 1
    """,
)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): each document's top
    candidate keyphrase.  Phrases are maximal runs of non-stopword
    tokens; each word scores degree/frequency within its document
    (degree = Σ length of the phrases it appears in — words living in
    long phrases are assumed more contentful) and a phrase scores the
    sum of its words.  The stopword list self-calibrates as the
    corpus's {RAKE_STOP_K} most frequent words (exact tie-break on the
    word), so the operator is language/fixture-agnostic — the same DF
    discipline the rare-gram families use, inverted.

    Determinism: word scores quantize as (10⁶·deg) div freq (both
    operands positive, so div == //); phrase scores are exact int64
    sums; the per-doc winner breaks ties on the phrase string, and
    equal-scoring duplicate phrases are textually identical rows
    either way.

    Scale shape: the stopword census is one combiner groupBy to
    O(vocab) then a {RAKE_STOP_K}-row TakeOrderedAndProject broadcast;
    phrase segmentation is a per-document running sum (partition =
    doc, rows bounded by doc length); phrase/word stats and the final
    rank are keyed aggs + one WindowGroupLimit — everything stays
    O(corpus tokens) with no cross-document joins at all."""
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("p0", "w0"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("bigint").alias("p"),
        F.lower(F.col("w0")).alias("w"),
    ).persist()  # two consumers (stop census + marking); released by the
    # caller's clearCache
    stop = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(RAKE_STOP_K)
        .select("w", F.lit(True).alias("is_stop"))
    )
    marked = toks.join(F.broadcast(stop), "w", "left").select(
        "doc_id",
        "p",
        "w",
        F.coalesce(F.col("is_stop"), F.lit(False)).alias("is_stop"),
    )
    wrun = Window.partitionBy("doc_id").orderBy("p")
    content = (
        marked.withColumn(
            "pid", F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wrun)
        )
        .filter(~F.col("is_stop"))
        .select("doc_id", "pid", "p", "w")
        .persist()  # three consumers (phrases, occurrences, word stats)
    )
    phr = content.groupBy("doc_id", "pid").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "w"))),
                lambda x: x["w"],
            ),
        ).alias("phrase"),
    )
    occ = content.join(
        phr.select("doc_id", "pid", "n_words"), ["doc_id", "pid"]
    ).select("doc_id", "pid", "w", "n_words")
    ws = occ.groupBy("doc_id", "w").agg(
        F.expr("(1000000 * sum(n_words)) div count(*)").alias("score_mu")
    )
    ps = (
        occ.join(ws, ["doc_id", "w"])
        .groupBy("doc_id", "pid")
        .agg(F.sum("score_mu").alias("rake_mu"))
    )
    ranked = ps.join(phr, ["doc_id", "pid"]).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.desc("rake_mu"), "phrase")
        ),
    )
    return ranked.filter(F.col("rn") <= 1).select(
        "doc_id",
        "phrase",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("rake_mu").cast("bigint").alias("rake_mu"),
    )


# ---------------------------------------------------------------------------
# Label-agreement: Cohen's kappa of the lang-id classifier vs the gold lang
# ---------------------------------------------------------------------------

_KAPPA_ORACLE = f"""
    WITH pred AS ({_LANGID_ORACLE}),
    cells AS (
      SELECT lang_actual, lang_pred, count(*) AS n
      FROM pred GROUP BY 1, 2
    ),
    rm AS (SELECT lang_actual AS k, CAST(sum(n) AS BIGINT) AS row_n
           FROM cells GROUP BY 1),
    cm AS (SELECT lang_pred AS k, CAST(sum(n) AS BIGINT) AS col_n
           FROM cells GROUP BY 1),
    s AS (SELECT CAST(coalesce(sum(row_n * col_n), 0) AS BIGINT) AS pe_num
          FROM rm JOIN cm USING (k)),
    agree AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_agree
              FROM cells WHERE lang_actual = lang_pred),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells)
    SELECT n_total, n_agree, pe_num,
           {round_ratio_sql(
               'CAST(n_agree AS HUGEINT) * n_total - pe_num',
               'CAST(n_total AS HUGEINT) * n_total - pe_num',
               6, wide=True)} AS kappa
    FROM tot, agree, s
"""


@register("q_text_langid_kappa", oracle=_KAPPA_ORACLE)
def q_text_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement (VERDICT r10 item 7b): Cohen's kappa
    between the stopword-marker lang-id classifier and the corpus's
    gold ``lang`` label — chance-corrected agreement, the standard
    annotator/classifier-consistency statistic an eval pipeline reports
    next to raw accuracy (``q_text_langid_confusion`` holds the full
    matrix; this is its scalar summary).

    Exact rational form: kappa = (po - pe) / (1 - pe) with po = d/N and
    pe = S/N² (S = sum over labels of row-marginal x column-marginal)
    reduces to (d·N - S) / (N² - S) — ALL-INTEGER sufficient statistics
    (d, N, S emitted as columns), one double division + round(6) as the
    single shared float expression, so both engines agree bit-for-bit.

    Scale shape: the corpus appears only in the zero-shuffle regex
    projection + ONE |langs|² combiner aggregation; every later frame
    (marginals, S, the scalar join) is O(16) rows, broadcast-combined.
    The contingency frame persists across its four tiny consumers
    (caller-clearCache lifetime)."""
    pred = q_text_lang_id(spark, sf_dir).select("lang_actual", "lang_pred")
    cells = (
        pred.groupBy("lang_actual", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()  # <= 16 rows, 4 consumers; released by caller clearCache
    )
    rm = cells.groupBy("lang_actual").agg(F.sum("n").cast("bigint").alias("row_n"))
    cm = cells.groupBy("lang_pred").agg(F.sum("n").cast("bigint").alias("col_n"))
    s = (
        rm.join(cm, rm.lang_actual == cm.lang_pred)
        .agg(
            F.coalesce(F.sum(F.col("row_n") * F.col("col_n")), F.lit(0))
            .cast("bigint")
            .alias("pe_num")
        )
    )
    agree = cells.filter(F.col("lang_actual") == F.col("lang_pred")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_agree")
    )
    tot = cells.agg(F.sum("n").cast("bigint").alias("n_total"))
    return (
        tot.crossJoin(F.broadcast(agree))
        .crossJoin(F.broadcast(s))
        .select(
            "n_total",
            "n_agree",
            "pe_num",
            # exact kappa = (d·N − Σrc)/(N² − Σrc) via wide round_ratio
            # (r14 parity idiom; N² crosses int64 at ~3e9 docs)
            round_ratio(
                "cast(n_agree as decimal(38,0)) * n_total - pe_num",
                "cast(n_total as decimal(38,0)) * n_total - pe_num",
                6,
                wide=True,
            ).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# Per-language tokenizer fertility (BPE-ish tokens per whitespace word)
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = r"""
    WITH feat AS (
      SELECT lang,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                 AS n_bpe,
             length(text) - length(replace(text, ' ', '')) + 1 AS n_ws
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
           CAST((1000000 * CAST(sum(n_bpe) AS BIGINT))
                // CAST(sum(n_ws) AS BIGINT) AS BIGINT) AS fertility_mu
    FROM feat GROUP BY 1
"""


@register("q_text_bpe_fertility_by_lang", oracle=_FERTILITY_ORACLE)
def q_text_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (VERDICT r10 item 7c): BPE-ish
    tokens per whitespace word, bucketed by the corpus's ``lang``
    label — the tokenizer-budget audit for multilingual mixes (a
    language whose fertility runs high pays proportionally more of the
    context window per word, the number a mixture designer reads next
    to the sampling weights).  Buckets use the GOLD label rather than
    the marker classifier's prediction: ``q_text_langid_kappa`` proves
    the heuristic is at-chance on this corpus (kappa = 0, every doc
    argmaxes to 'en'), so predicted buckets would collapse the audit
    to one row.

    One scan of ``q_token_count_bpe``'s two token censuses (row-local
    regex counts fused into the projection, zero joins); the only
    exchange is the O(|langs|) combiner aggregation.  Fertility is
    exact integer micro-units: (10⁶ · Σbpe) div Σws with both sums
    BIGINT (Σws >= n_docs > 0, all operands non-negative, so Spark div
    == DuckDB //; at 100 TB-scale corpora Σbpe ~ 10¹² keeps 10⁶·Σbpe
    comfortably inside int64)."""
    docs = _docs(spark, sf_dir)
    feat = docs.select(
        "lang",
        F.regexp_count(
            F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")
        ).alias("n_bpe"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        ).alias("n_ws"),
    )
    return feat.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
        F.sum("n_ws").cast("bigint").alias("total_ws_tokens"),
        F.expr(
            "(1000000 * CAST(sum(n_bpe) AS BIGINT))"
            " div CAST(sum(n_ws) AS BIGINT)"
        ).cast("bigint").alias("fertility_mu"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth: OLS slope of ln(vocab) on ln(tokens)
# ---------------------------------------------------------------------------

_HEAPS_ORACLE = rf"""
    WITH base AS (
      SELECT doc_id, source, {tokens_sql('lower(text)')} AS toks
      FROM documents
    ),
    docs AS (
      SELECT doc_id, source, len(toks) AS n_toks
      FROM base WHERE len(toks) > 0
    ),
    firsts AS (
      SELECT source, tok, min(doc_id) AS first_doc
      FROM (SELECT doc_id, source, unnest(toks) AS tok FROM base)
      GROUP BY source, tok
    ),
    newt AS (
      SELECT source, first_doc AS doc_id, count(*) AS new_types
      FROM firsts GROUP BY source, first_doc
    ),
    cum AS (
      SELECT d.source,
             CAST(sum(d.n_toks) OVER w AS BIGINT) AS n_cum,
             CAST(sum(coalesce(t.new_types, 0)) OVER w AS BIGINT) AS v_cum
      FROM docs d LEFT JOIN newt t USING (source, doc_id)
      WINDOW w AS (PARTITION BY d.source ORDER BY d.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pts AS (
      SELECT source, n_cum, v_cum,
             CAST(round(ln(CAST(n_cum AS DOUBLE)), 9) AS DECIMAL(38,9)) AS x,
             CAST(round(ln(CAST(v_cum AS DOUBLE)), 9) AS DECIMAL(38,9)) AS y
      FROM cum
    ),
    sums AS (
      SELECT source, count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
                           AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
                           AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
             CAST(max(n_cum) AS BIGINT) AS total_tokens,
             CAST(max(v_cum) AS BIGINT) AS vocab_size
      FROM pts GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs, total_tokens, vocab_size,
           CAST(round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS DOUBLE)
               AS heaps_beta,
           CAST(round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                      / n, 6) AS DOUBLE) AS heaps_intercept
    FROM sums
"""


@register("q_text_heaps_law", oracle=_HEAPS_ORACLE)
def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit per source: OLS slope of
    ln(cumulative distinct types) on ln(cumulative tokens), one
    (x, y) point per document in doc_id order.  Natural text sits near
    β≈0.4–0.6; a saturating curve (tiny β at the tail) flags template /
    boilerplate sources, while β≈1 flags ID-soup — the
    vocabulary-health complement of ``q_text_zipf_slope``'s frequency
    fit and the audit a tokenizer-budget plan reads before committing a
    vocab size to a source mix.

    Scale shape: the type census is ONE combiner aggregation
    (min(doc_id) per (source, token) — duplicate in-doc tokens are
    pre-collapsed row-locally with ``array_distinct``); new-type counts
    per doc are a second O(vocab) combiner agg; the running sums
    partition by source, so every source's prefix scan is independent
    (at extreme per-source row counts the fit points would decimate to
    fixed log-spaced checkpoints — the fit itself is already O(1) per
    source).  Float discipline is the ``q_text_zipf_slope`` one: ln()
    on identical BIGINTs both engines, 9-dp quantize, exact DECIMAL
    sufficient statistics, ONE closed-form double expression.
    Reference anchor: the tokenize→census chain is the
    ``WordCount.java:52-75`` extract/count pipeline re-keyed by
    (source, first-occurrence)."""
    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id", "source", tokens_col(F.lower(F.col("text"))).alias("toks")
    )
    d = base.select(
        "doc_id", "source", F.size("toks").alias("n_toks")
    ).filter(F.col("n_toks") > 0)
    firsts = (
        base.select(
            "source", "doc_id",
            F.explode(F.array_distinct("toks")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    newt = (
        firsts.groupBy("source", F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        d.join(newt, ["source", "doc_id"], "left")
        .select(
            "source", "doc_id", "n_toks",
            F.coalesce(F.col("new_types"), F.lit(0)).alias("new_types"),
        )
        .select(
            "source",
            F.sum("n_toks").over(w).cast("bigint").alias("n_cum"),
            F.sum("new_types").over(w).cast("bigint").alias("v_cum"),
        )
    )
    pts = cum.select(
        "source", "n_cum", "v_cum",
        F.round(F.log(F.col("n_cum").cast("double")), 9)
        .cast("decimal(38,9)")
        .alias("x"),
        F.round(F.log(F.col("v_cum").cast("double")), 9)
        .cast("decimal(38,9)")
        .alias("y"),
    )
    sums = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("x").cast("double"), 9)
            .cast("decimal(38,9)")
        ).cast("double").alias("sxx"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("y").cast("double"), 9)
            .cast("decimal(38,9)")
        ).cast("double").alias("sxy"),
        F.max("n_cum").cast("bigint").alias("total_tokens"),
        F.max("v_cum").cast("bigint").alias("vocab_size"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    return sums.select(
        "source",
        n.cast("bigint").alias("n_docs"),
        "total_tokens",
        "vocab_size",
        F.round(slope, 6).cast("double").alias("heaps_beta"),
        F.round((sy - slope * sx) / n, 6).cast("double").alias("heaps_intercept"),
    )


# Quality-gate sweep grid: the cutoffs a curation pipeline would consider
# for the [0, 10000]-bp q_text_quality score.  Module constant so the
# replay test and the oracle literal stay in lock-step.
YIELD_THRESHOLDS = list(range(2000, 10000, 1000))


@register(
    "q_quality_yield_curve",
    oracle=f"""
    SELECT source,
           t.threshold_bp,
           count(*) AS n_docs,
           count(*) FILTER (WHERE quality_bp >= t.threshold_bp)
               AS surviving_docs,
           CAST((10000 * (count(*) FILTER (WHERE quality_bp >= t.threshold_bp)))
                // count(*) AS BIGINT) AS doc_yield_bp,
           CAST((10000 * coalesce(sum(n_tokens)
                                  FILTER (WHERE quality_bp >= t.threshold_bp), 0))
                // greatest(sum(n_tokens), 1) AS BIGINT) AS token_yield_bp
    FROM (
      SELECT source, n_tokens,
             {quality_bp_sql()}
                 AS quality_bp
      FROM (
        SELECT source, n_chars,
             {quality_raw_features_sql()}
        FROM documents
      )
    )
    CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in YIELD_THRESHOLDS)}])
                AS threshold_bp) t
    GROUP BY source, t.threshold_bp
    """,
)
def q_quality_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-threshold yield curve — the audit read before
    committing a per-source quality cutoff: for each candidate threshold,
    how many documents and what token share of each source survive the
    ``q_text_quality`` gate.

    The score expressions are the exact integer-bp formulas of
    ``q_text_quality`` (same floor arithmetic, proven hash-identical to
    DuckDB there), so the curve is byte-exact by construction.  Yields
    are integer basis points via truncating integer division on
    nonnegative operands (Spark ``div`` == DuckDB ``//`` here).

    Scale shape: ONE groupBy(source) with 2 + 2x|thresholds| combiner
    aggregates (map-side partials; |sources| ~ 20 groups), then a
    constant 8-row ``stack`` per group — the threshold grid multiplies
    the tiny aggregated frame, never the corpus.  At 100 TB the cost is
    the document scan itself; no join, no second shuffle.  (A naive
    corpus x thresholds cross join before the groupBy would 8x the
    shuffle input for no reason — deliberately avoided.)

    Reference provenance: quality gating generalizes the reference's
    filter stage (WordCount.java:66-75, the empty-token drop) from a
    boolean predicate to a scored sweep.
    """
    docs = _docs(spark, sf_dir)
    n_tokens, stop_hits, n_punct = quality_raw_features()
    d = docs.select(
        "source",
        F.col("n_chars"),
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stop_hits"),
        n_punct.alias("n_punct"),
    )
    quality_bp = quality_bp_expr(
        F.col("n_tokens"), F.col("stop_hits"), F.col("n_punct"), F.col("n_chars")
    )
    scored = d.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        quality_bp.cast("bigint").alias("quality_bp"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    ]
    for t in YIELD_THRESHOLDS:
        cond = F.col("quality_bp") >= t
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"d{t}"))
        aggs.append(
            F.sum(F.when(cond, F.col("n_tokens")).otherwise(F.lit(0))).alias(f"t{t}")
        )
    wide = scored.groupBy("source").agg(*aggs)
    stack_args = ", ".join(f"{t}L, d{t}, t{t}" for t in YIELD_THRESHOLDS)
    tall = wide.select(
        "source",
        "n_docs",
        "total_tokens",
        F.expr(
            f"stack({len(YIELD_THRESHOLDS)}, {stack_args})"
            " AS (threshold_bp, surviving_docs, surviving_tokens)"
        ),
    )
    return tall.select(
        "source",
        F.col("threshold_bp").cast("bigint").alias("threshold_bp"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("surviving_docs").cast("bigint").alias("surviving_docs"),
        F.expr("(10000 * surviving_docs) div n_docs")
        .cast("bigint")
        .alias("doc_yield_bp"),
        F.expr("(10000 * surviving_tokens) div greatest(total_tokens, 1L)")
        .cast("bigint")
        .alias("token_yield_bp"),
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate per source (phrase-vocabulary coverage audit)
# ---------------------------------------------------------------------------

# Closed phrase-vocabulary size for the OOV audit, over token 3-grams.
# The fixture corpus has only ~31 distinct WORD tokens (every word-level
# vocab is trivially complete) but ~16k distinct trigrams — so the audit
# is defined at the phrase level, where coverage is a real decision:
# VOCAB_K of 512 keeps the head-vocabulary broadcast O(1) while leaving
# genuine OOV tail mass at every sf.
VOCAB_K = 512
OOV_N = 3

_OOV_ORACLE = f"""
    WITH toks AS (SELECT source, {TOKENS_SQL} AS t FROM documents),
    grams AS (
      SELECT source,
             unnest(CASE WHEN len(t) >= {OOV_N}
                         THEN list_transform(range(1, len(t) - {OOV_N - 2}),
                                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                         ELSE [] END) AS g
      FROM toks
    ),
    vocab AS (
      SELECT g FROM grams GROUP BY g
      ORDER BY count(*) DESC, g LIMIT {VOCAB_K}
    )
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS total_grams,
           CAST(count(*) FILTER (WHERE v.g IS NULL) AS BIGINT)
               AS oov_grams,
           CAST(10000 * (count(*) FILTER (WHERE v.g IS NULL))
                // count(*) AS BIGINT) AS oov_bp,
           CAST(count(DISTINCT CASE WHEN v.g IS NULL THEN s.g END)
                AS BIGINT) AS oov_types
    FROM grams s LEFT JOIN vocab v ON v.g = s.g
    GROUP BY s.source
"""


@register("q_text_oov_rate", oracle=_OOV_ORACLE)
def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus-global
    top-`VOCAB_K` phrase vocabulary (token {OOV_N}-grams) — the
    coverage audit a pipeline runs before freezing a phrase table /
    merged-token inventory: a source whose {OOV_N}-gram mass falls
    outside the global head (high `oov_bp`) is stylistically far from
    the corpus mode and will fragment under any vocabulary of that
    size.  Complements `q_text_bpe_fertility_by_lang` (subword cost
    per LANGUAGE) and `q_text_novelty_ngrams` (per-DOC novelty vs a
    reference slice) with the per-SOURCE closed-vocabulary view.

    Vocabulary determinism: ties at the K boundary break by (count
    DESC, gram ASC) on both engines — the same census both ways.

    Scale shape: trigram expansion is a narrow ``Generate`` over the
    scan (~token count rows); then two combiner aggs (the vocab
    census and the per-source roll-up with an exact distinct on OOV
    types) plus ONE broadcast hash join — the vocab is K rows by
    construction (TakeOrderedAndProject selects it), so membership
    tagging stays inside the scan stage; the corpus never joins
    itself.  At 100 TB both aggs are map-side-combined gram streams.

    Reference provenance: extends the reference's tokenize+count
    (WordCount.java:52-75, 106) with closed-vocab membership.
    """
    from ..sources.tables import spread_scan

    # The trigram transform + Generate run inside the scan stage, so the
    # scan is spread when it is unsplittable (no-op at scale).
    docs = spread_scan(
        _docs(spark, sf_dir), spark, sf_dir, "documents", key="doc_id"
    )
    tokd = docs.select("source", tokens_col(F.col("text")).alias("t"))
    grams = tokd.select("source", F.explode(word_grams("t", OOV_N)).alias("g"))
    # Two gram passes, not one (source, g, c) census: the census shape
    # measured flat-to-worse (1.36 -> 1.44 s min isolated) — trigrams
    # are nearly unique per source here (206k distinct of 260k rows),
    # so the census shuffles ~the whole stream and its agg costs more
    # than the second 0.4 s map-side pass it saves.  The two-pass
    # shape stays: at any gram distribution its second pass is pure
    # map-side (broadcast membership), while the census shape is only
    # ahead when (source, g) dedup is strong.
    vocab = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("g"))
        .limit(VOCAB_K)
        .select("g", F.lit(1).alias("in_vocab"))
    )
    tagged = grams.join(F.broadcast(vocab), "g", "left")
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total_grams"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov_grams"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("g"))
            )
            .cast("bigint")
            .alias("oov_types"),
        )
        .select(
            "source",
            "total_grams",
            "oov_grams",
            F.expr("10000 * oov_grams div total_grams")
            .cast("bigint")
            .alias("oov_bp"),
            "oov_types",
        )
    )


# ---------------------------------------------------------------------------
# Quality x duplicate-status interaction (is dedup removing the good docs?)
# ---------------------------------------------------------------------------

# Opening-prefix width for the duplicate fingerprint: documents sharing
# their first PREFIX_DUP_K word tokens are treated as one template
# family (the crawl "same boilerplate intro" heuristic; the fixture
# corpus has no full-text exact dups, but it does carry prefix families).
PREFIX_DUP_K = 10

_QUALITY_DUP_ORACLE = f"""
    WITH feat AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(
                 list_slice({TOKENS_SQL}, 1, {PREFIX_DUP_K}), ' ')) AS fp,
             {quality_raw_features_sql()}
      FROM documents
    ),
    scored AS (
      SELECT doc_id, fp,
             least(({quality_bp_sql()}) // 2000, 4) AS quality_bucket
      FROM feat
    ),
    classed AS (
      SELECT quality_bucket,
             CASE WHEN count(*) OVER (PARTITION BY fp) = 1 THEN 'unique'
                  WHEN doc_id = min(doc_id) OVER (PARTITION BY fp)
                       THEN 'canonical'
                  ELSE 'extra' END AS dup_class
      FROM scored
    ),
    grid AS (
      SELECT dup_class, CAST(quality_bucket AS BIGINT) AS quality_bucket,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM classed GROUP BY dup_class, quality_bucket
    )
    SELECT dup_class, quality_bucket, n_docs,
           CAST(10000 * n_docs
                // sum(n_docs) OVER (PARTITION BY dup_class) AS BIGINT)
               AS class_share_bp
    FROM grid
"""


@register("q_quality_dup_interaction", oracle=_QUALITY_DUP_ORACLE)
def q_quality_dup_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality x duplicate-status cross-tab — the audit that answers
    "does dedup remove low-quality or high-quality mass?" before a
    pipeline commits to dropping duplicates.  Each document gets
    (a) its duplicate class over the md5 of its first ``PREFIX_DUP_K``
    word tokens (the "same boilerplate opening" template heuristic —
    chosen over the `q_dedup_exact` full-text fingerprint because the
    fixture corpus carries prefix families but zero full-text dups, so
    THIS fingerprint exercises all three classes end-to-end):
    'unique' (singleton group), 'canonical' (the kept min-doc_id of a
    >1 group) or 'extra' (the copies dedup drops) — and (b) its
    `q_text_quality` integer-bp score folded to five buckets
    (bucket = min(bp div 2000, 4)).  The output grid
    gives each class's bucket distribution in basis points; an 'extra'
    column skewed low confirms duplicates are disproportionately
    low-quality (the usual crawl pathology), skewed high means the
    dedup policy is eating curated content.

    Exact integer end-to-end: the quality formula is the proven
    `q_text_quality` floor arithmetic, bucketing and shares are
    truncating nonneg divisions, and the duplicate class comes from
    count/min windows over the identical md5 on both engines.

    Scale shape: ONE corpus shuffle keyed on the content fingerprint
    (the count+min windows share the partitioning — same envelope as
    `q_dedup_exact`), then a combiner agg to <= 15 grid cells and a
    window over that constant-size frame.  At 100 TB: scan + one
    keyed exchange, nothing else.

    Reference provenance: composes the reference's filter semantics
    (WordCount.java:66-75) with the dedup family's canonical-keep rule
    into the joint audit.
    """
    docs = _docs(spark, sf_dir)
    n_tokens, stop_hits, n_punct = quality_raw_features()
    quality_bp = quality_bp_expr(n_tokens, stop_hits, n_punct, F.col("n_chars"))
    fp = F.md5(
        F.array_join(
            F.slice(tokens_col(F.col("text")), 1, PREFIX_DUP_K), " "
        )
    )
    scored = docs.select(
        "doc_id", fp.alias("fp"), quality_bp.cast("bigint").alias("qbp")
    ).select(
        "doc_id",
        "fp",
        F.expr("least(qbp div 2000, 4)").cast("bigint").alias("quality_bucket"),
    )
    w = Window.partitionBy("fp")
    classed = scored.select(
        "quality_bucket",
        F.when(F.count(F.lit(1)).over(w) == 1, F.lit("unique"))
        .when(F.col("doc_id") == F.min("doc_id").over(w), F.lit("canonical"))
        .otherwise(F.lit("extra"))
        .alias("dup_class"),
    )
    grid = classed.groupBy("dup_class", "quality_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return grid.select(
        "dup_class",
        "quality_bucket",
        "n_docs",
        F.expr(
            "10000 * n_docs div sum(n_docs) OVER (PARTITION BY dup_class)"
        )
        .cast("bigint")
        .alias("class_share_bp"),
    )
