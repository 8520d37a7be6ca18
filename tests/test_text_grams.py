"""Contract of the text-gram primitives in ``operators/text.py``
(``normalized_text``, ``word_grams``, ``char_gram_set``, ``row_pairs``)
on tiny in-memory frames."""

from __future__ import annotations

from itertools import combinations

import duckdb
import pytest
from pyspark.sql import functions as F

from apache_beam_java_firestore_batch_dataflow_spark.operators.text import (
    char_gram_set,
    normalized_text,
    row_pairs,
    word_grams,
)


def _eval(spark, value, ddl: str, expr):
    """``expr`` over a one-row frame whose column ``c`` holds ``value``."""
    df = spark.createDataFrame([(value,)], f"c {ddl}")
    return df.select(expr.alias("out")).first()["out"]


@pytest.mark.parametrize(
    "tokens, grams",
    [
        ([], []),
        (["a", "b"], []),
        (["a", "b", "c"], ["a b c"]),
        (["a", "b", "a", "b", "a"], ["a b a", "b a b", "a b a"]),
    ],
    ids=["0-tokens", "k-1-tokens", "k-tokens", "k+2-tokens-repeats-kept"],
)
def test_word_grams_windows_in_order_with_repeats(spark, tokens, grams):
    assert _eval(spark, tokens, "array<string>", word_grams("c", 3)) == grams


def test_word_grams_accepts_a_column(spark):
    got = _eval(spark, ["x", "y", "z"], "array<string>", word_grams(F.col("c"), 2))
    assert got == ["x y", "y z"]


@pytest.mark.parametrize(
    "text, n, grams",
    [
        ("abc", 5, []),
        ("", 2, []),
        ("abcde", 5, ["abcde"]),
        ("aaaaaaa", 3, ["aaa"]),
        ("ababab", 2, ["ab", "ba"]),
    ],
    ids=["shorter-than-n", "empty", "exactly-n", "repeats-collapse", "two-distinct"],
)
def test_char_gram_set_is_the_distinct_char_grams(spark, text, n, grams):
    assert _eval(spark, text, "string", char_gram_set("c", n)) == grams


@pytest.mark.parametrize("arr", [[], [7], [1, 2, 3, 4]], ids=["0", "1", "4"])
def test_row_pairs_are_every_ordered_pair_once(spark, arr):
    got = _eval(spark, arr, "array<bigint>", row_pairs("c", "a", "b", F.size("c")))
    pairs = [(p["a"], p["b"]) for p in got]
    assert len(pairs) == len(arr) * (len(arr) - 1) // 2
    assert all(a < b for a, b in pairs)
    assert pairs == list(combinations(arr, 2))


def test_row_pairs_length_caps_the_later_elements(spark):
    got = _eval(spark, [1, 2, 3, 4], "array<bigint>", row_pairs("c", "a", "b", 2))
    assert [(p["a"], p["b"]) for p in got] == [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]


@pytest.mark.parametrize(
    "text, norm",
    [
        ("  Hello\tWorld\n\nFoo  ", "hello world foo"),
        ("   lead spaces", "lead spaces"),
        # trim strips spaces only: a leading tab survives as one space
        ("\t lead tab", " lead tab"),
        ("a\r\n b", "a b"),
        ("", ""),
    ],
    ids=["tabs-newlines", "leading-spaces", "leading-tab", "crlf", "empty"],
)
def test_normalized_text_matches_the_oracle_fragment(spark, text, norm):
    assert _eval(spark, text, "string", normalized_text(F.col("c"))) == norm
    oracle = duckdb.connect().execute(
        r"SELECT regexp_replace(lower(trim(?)), '\s+', ' ', 'g')", [text]
    ).fetchone()[0]
    assert oracle == norm
