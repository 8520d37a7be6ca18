"""The one owner of the blocked set-similarity self-join: which item
pairs are compared, and how a pair's overlap is counted.

It is the filter-verify design of Vernica, Carey & Li ("Efficient
Parallel Set-Similarity Joins Using MapReduce", SIGMOD 2010):

1. :func:`block_pairs` pairs items that share a blocking key (a MinHash
   band, a rare gram, a rare fingerprint, a low-degree neighbor).  The
   self-join keeps ``a < b``, so no item pairs with itself and no pair
   appears twice the other way round, and ``distinct()`` folds a pair
   that shares several keys into one row.  Fan-out per key is bounded by
   the caller's blocking (DF caps, band width), never by n².
2. :func:`verify_sets` joins each candidate to both items' full set
   arrays on the item id and intersects them in-row, so no stage
   shuffles (pair × element) rows.  The arrays must hold distinct
   elements: ``size(array_intersect)`` then counts the common elements.
3. :func:`jaccard_at_least` keeps pairs whose raw ratio
   ``|∩| / |∪|`` clears a threshold.  It is one IEEE double divide and
   compare, which DuckDB's ``n_common * 1.0 / (…) >= t`` matches bit for
   bit; emitted ratios go through :func:`rounded_jaccard`
   (``round_ratio``'s exact integer rounding).

A pair frame names its two ids after the item id: ``doc_id`` gives
``doc_a``/``doc_b``, ``s`` gives ``s_a``/``s_b``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .numeric import round_ratio

# |A ∪ B| over verify_sets' columns, as a round_ratio fragment.
UNION = "(n_a + n_b - n_common)"


def _pair_names(id: str) -> tuple[str, str]:
    """The two pair columns for item id ``id``."""
    stem = id.removesuffix("_id")
    return f"{stem}_a", f"{stem}_b"


def block_pairs(postings: DataFrame, keys: Sequence[str], id: str) -> DataFrame:
    """The distinct pairs ``(id_a, id_b)``, ``id_a < id_b``, of items that
    share every column of ``keys`` on some row of ``postings``."""
    ia, ib = _pair_names(id)
    a, b = postings.alias("a"), postings.alias("b")
    cond = None
    for k in keys:
        eq = F.col(f"a.{k}") == F.col(f"b.{k}")
        cond = eq if cond is None else cond & eq
    cond = cond & (F.col(f"a.{id}") < F.col(f"b.{id}"))
    return (
        a.join(b, cond)
        .select(F.col(f"a.{id}").alias(ia), F.col(f"b.{id}").alias(ib))
        .distinct()
    )


def verify_sets(cand: DataFrame, sets: DataFrame, id: str, col: str) -> DataFrame:
    """``(id_a, id_b, n_common, n_a, n_b)`` for each candidate pair:
    the two items' common element count and set sizes, read from the
    array column ``col`` of ``sets`` (one row per ``id``)."""
    ia, ib = _pair_names(id)
    ca, cb = f"{col}_a", f"{col}_b"
    sa = sets.select(F.col(id).alias(ia), F.col(col).alias(ca))
    sb = sets.select(F.col(id).alias(ib), F.col(col).alias(cb))
    return (
        cand.join(sa, ia)
        .join(sb, ib)
        .select(
            ia,
            ib,
            F.size(F.array_intersect(ca, cb)).alias("n_common"),
            F.size(ca).alias("n_a"),
            F.size(cb).alias("n_b"),
        )
    )


def jaccard_at_least(threshold: float) -> Column:
    """Jaccard of a verified pair ``>= threshold``, on the raw ratio."""
    return F.col("n_common") * 1.0 / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ) >= threshold


def rounded_jaccard() -> Column:
    """Jaccard of a verified pair, rounded exactly to 6 decimals."""
    return round_ratio("n_common", UNION, 6)
