"""Contract of the sharded prefix scan (functions/scan.py) against a
pure-Python scan over the same rows."""

from __future__ import annotations

import itertools

import pytest

from apache_beam_java_firestore_batch_dataflow_spark.functions.scan import (
    prefix_scan,
    stitch,
)

_WIDTH = 10  # shard = t div _WIDTH, monotone in the order's leading key

# (id, g, t, v): group "a" has an empty shard (t 10-19) between non-empty
# ones, ties on t inside a shard (broken by id), single-row shards and
# -1 deltas; group "b" is all negative, so a max that treats "no earlier
# row" as 0 shows up.
_ROWS = [
    (1, "a", 0, 1),
    (2, "a", 3, -1),
    (3, "a", 3, 1),
    (4, "a", 7, -1),
    (5, "a", 25, 4),
    (6, "a", 31, -1),
    (7, "a", 31, -1),
    (8, "a", 38, 2),
    (9, "a", 52, 1),
    (10, "b", 5, -3),
    (11, "b", 12, -7),
    (12, "b", 14, -2),
    (13, "b", 40, -5),
]


def _python_scan(how: str, inclusive: bool) -> dict[int, int | None]:
    """Running ``how`` of v per group in (t, id) order."""
    op = {"sum": lambda a, b: a + b, "max": max}[how]
    ordered = sorted(_ROWS, key=lambda r: (r[1], r[2], r[0]))
    out = {}
    for _, rows in itertools.groupby(ordered, key=lambda r: r[1]):
        acc = None  # no earlier row in the group yet
        for rid, _, _, v in rows:
            if not inclusive:
                out[rid] = 0 if acc is None and how == "sum" else acc
            acc = v if acc is None else op(acc, v)
            if inclusive:
                out[rid] = acc
    return out


@pytest.mark.parametrize("how", ["sum", "max"])
@pytest.mark.parametrize("inclusive", [True, False], ids=["inclusive", "exclusive"])
def test_prefix_scan_matches_python(spark, how, inclusive):
    df = spark.createDataFrame(
        [(i, g, t, v, t // _WIDTH) for i, g, t, v in _ROWS],
        "id long, g string, t long, v long, shard long",
    )
    out = prefix_scan(df, "shard", ["t", "id"], {"v": "acc"}, how, inclusive, by=["g"])
    assert out.columns == [*df.columns, "acc"]
    got = {r.id: r.acc for r in out.collect()}
    assert got == _python_scan(how, inclusive)


@pytest.mark.parametrize("how, first", [("sum", 0), ("max", None)])
def test_stitch_offsets_are_exclusive(spark, how, first):
    """The stitch alone: each shard's offset covers the earlier shards of
    its group only (gaps in the shard ids are fine)."""
    totals = spark.createDataFrame(
        [("a", 0, 2), ("a", 2, -1), ("a", 5, 3), ("b", 1, -4), ("b", 3, -2)],
        "g string, shard long, tot long",
    )
    got = {
        (r.g, r.shard): r.off
        for r in stitch(totals, "shard", {"tot": "off"}, how, by=["g"]).collect()
    }
    agg = {"sum": sum, "max": max}[how]
    assert got == {
        ("a", 0): first,
        ("a", 2): agg([2]),
        ("a", 5): agg([2, -1]),
        ("b", 1): first,
        ("b", 3): agg([-4]),
    }
