"""Contract of ``functions/setjoin.py`` against a pure-Python blocked
set-similarity join (block on shared keys, pair a < b once, verify by
exact set intersection, keep Jaccard >= threshold)."""

from __future__ import annotations

from itertools import combinations

from apache_beam_java_firestore_batch_dataflow_spark.functions.setjoin import (
    block_pairs,
    jaccard_at_least,
    rounded_jaccard,
    verify_sets,
)

THRESHOLD = 0.5

SETS = {
    1: ["a", "b", "c", "d"],
    2: ["a", "b", "c", "d"],  # identical to 1: J = 1
    3: [],                    # empty set
    4: ["a", "b", "c"],
    5: ["a", "b", "e"],       # with 4: |∩| = 2, |∪| = 4, J = 0.5 exactly
    6: ["q"],
    7: ["q", "r", "s"],       # with 6: J = 1/3, below the threshold
    8: ["a"],                 # shares no key with any other item
    9: ["a", "b", "c", "d", "e"],
}

POSTINGS = [
    (1, 0, "k1"), (2, 0, "k1"),      # 1 and 2 share two keys ...
    (1, 1, "k2"), (2, 1, "k2"),      # ... and must pair once
    (4, 0, "k3"), (5, 0, "k3"),
    (3, 1, "k4"), (6, 1, "k4"),
    (6, 2, "k5"), (7, 2, "k5"), (9, 2, "k5"),
    (8, 3, "k6"),
    (1, 3, "k7"), (9, 3, "k7"),
]


def py_pairs() -> set[tuple[int, int]]:
    blocks: dict[tuple, set[int]] = {}
    for item, band, key in POSTINGS:
        blocks.setdefault((band, key), set()).add(item)
    return {p for ids in blocks.values() for p in combinations(sorted(ids), 2)}


def py_jaccard(a: int, b: int) -> float:
    sa, sb = set(SETS[a]), set(SETS[b])
    return len(sa & sb) / len(sa | sb)


def test_block_verify_filter_match_python_set_join(spark):
    postings = spark.createDataFrame(POSTINGS, "doc_id long, band int, key string")
    sets = spark.createDataFrame(
        list(SETS.items()), "doc_id long, shs array<string>"
    )
    expected = py_pairs()
    assert (1, 2) in expected and not any(8 in p for p in expected)

    cand = block_pairs(postings, ["band", "key"], "doc_id")
    assert cand.columns == ["doc_a", "doc_b"]
    rows = [(r.doc_a, r.doc_b) for r in cand.collect()]
    # one row per pair: no self-pair, no (b, a) twin, no repeat for a
    # pair blocked by two keys
    assert all(a < b for a, b in rows)
    assert len(rows) == len(set(rows))
    assert set(rows) == expected

    verified = verify_sets(cand, sets, "doc_id", "shs")
    assert verified.columns == ["doc_a", "doc_b", "n_common", "n_a", "n_b"]
    got = {(r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b) for r in verified.collect()}
    assert got == {
        (a, b): (len(set(SETS[a]) & set(SETS[b])), len(SETS[a]), len(SETS[b]))
        for a, b in expected
    }

    kept = {
        (r.doc_a, r.doc_b): r.j
        for r in verified.filter(jaccard_at_least(THRESHOLD))
        .select("doc_a", "doc_b", rounded_jaccard().alias("j"))
        .collect()
    }
    assert kept == {
        p: round(py_jaccard(*p), 6) for p in expected if py_jaccard(*p) >= THRESHOLD
    }
    assert kept[(1, 2)] == 1.0
    assert kept[(4, 5)] == THRESHOLD  # exactly at the threshold: kept
    assert (3, 6) not in kept and (6, 7) not in kept
