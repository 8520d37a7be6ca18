"""Tests of the benchmark itself: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gen, spec, verify

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = {
    "zipf": {"shape": "zipf", "tokens": 20_000, "vocab": 500, "zipf_s": 1.1},
    "unique": {"shape": "unique", "vocab": 5_000, "repeat_frac": 0.1},
}


@pytest.mark.parametrize("shape", sorted(SMALL))
def test_generator_is_deterministic_per_seed(tmp_path, shape):
    params = SMALL[shape]
    a = gen.text_input(str(tmp_path / "a"), 7, params)
    b = gen.text_input(str(tmp_path / "b"), 7, params)
    c = gen.text_input(str(tmp_path / "c"), 8, params)
    with open(a.path, "rb") as fa, open(b.path, "rb") as fb:
        assert fa.read() == fb.read()
    assert gen.digest_of(a.counts) == gen.digest_of(b.counts)
    assert gen.digest_of(a.counts) != gen.digest_of(c.counts)


@pytest.mark.parametrize("shape", sorted(SMALL))
def test_expected_counts_match_a_letter_tokenizer(tmp_path, shape):
    """The digest equals splitting the text on runs of non-letters."""
    inp = gen.text_input(str(tmp_path), 3, SMALL[shape])
    letters = re.escape("".join(gen.LETTERS.tolist()))
    with open(inp.path, encoding="utf-8") as fh:
        text = fh.read()
    counts: dict[str, int] = {}
    for token in re.split(f"[^{letters}]+", text):
        if token:
            counts[token] = counts.get(token, 0) + 1
    assert counts == inp.counts
    assert "\n\n" in text  # empty lines are present
    assert not any(ch.isalpha() for sep in gen.SEPARATORS for ch in sep)


def test_cache_is_reused_and_pruned(tmp_path):
    params = SMALL["unique"]
    first = gen.text_input(str(tmp_path), 1, params, keep=2)
    mtime = os.path.getmtime(first.path)
    assert gen.text_input(str(tmp_path), 1, params, keep=2).path == first.path
    assert os.path.getmtime(first.path) == mtime
    for seed in (2, 3, 4):
        gen.text_input(str(tmp_path), seed, params, keep=2)
    assert len(os.listdir(tmp_path)) == 2


def _batches(counts: dict[str, int], collection: str, size: int = 500) -> list[dict]:
    items = sorted(counts.items())
    return [
        {"collection": collection, "batch_size": len(chunk),
         "writes": [{"doc_id": w, "data": {"count": n}} for w, n in chunk]}
        for chunk in (items[i:i + size] for i in range(0, len(items), size))
    ]


EXPECTED = {f"w{i}": i % 7 + 1 for i in range(1200)}


def test_verifier_accepts_the_exact_result():
    errors, state = verify.check_wordcount_batches(_batches(EXPECTED, "in.txt"), EXPECTED, "in.txt")
    assert errors == []
    assert state == EXPECTED


def test_verifier_catches_a_dropped_doc():
    batches = _batches(EXPECTED, "in.txt")
    del batches[1]["writes"][3]
    batches[1]["batch_size"] -= 1
    errors, _ = verify.check_wordcount_batches(batches, EXPECTED, "in.txt")
    assert errors and "1 docs missing" in errors[0]


def test_verifier_catches_a_changed_count():
    batches = _batches(EXPECTED, "in.txt")
    batches[0]["writes"][0]["data"]["count"] += 1
    errors, _ = verify.check_wordcount_batches(batches, EXPECTED, "in.txt")
    assert errors and "1 wrong counts" in errors[0]


def test_verifier_catches_an_oversized_commit():
    batches = _batches(EXPECTED, "in.txt", size=501)
    errors, _ = verify.check_wordcount_batches(batches, EXPECTED, "in.txt")
    assert any("commit of 501 writes" in e for e in errors)


def test_verifier_catches_a_wrong_collection():
    errors, _ = verify.check_wordcount_batches(_batches(EXPECTED, "other"), EXPECTED, "in.txt")
    assert any("collection" in e for e in errors)


def test_row_check_is_order_insensitive_and_normalises_floats():
    expected = verify.canonical(["b", "a"], [(1.0000000000001, "x"), (2.0, "y")])
    assert verify.check_rows(["a", "b"], [("y", 2.0), ("x", 1.0)], expected) == []
    assert verify.check_rows(["a", "b"], [("y", 2.5), ("x", 1.0)], expected)
    assert verify.check_rows(["a", "b"], [("x", 1.0)], expected)


NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_metric_names_and_benchmark_json_agree_with_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    names = list(spec.END_TO_END) + list(spec.per_layer()) + list(spec.WORKLOADS)
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(set(names)) == len(names)
    assert {w["name"] for w in bench["workloads"]} <= set(spec.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} \
        == spec.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == spec.per_layer()


def test_each_mix_query_is_registered_by_its_module():
    import importlib

    for name, module in spec.MIX.items():
        registry = importlib.import_module(
            f"apache_beam_java_firestore_batch_dataflow_spark.operators.{module}").QUERIES
        assert name in registry, (name, module)
    assert len(spec.MIX_MODULES) == 9


def test_oracle_rows_are_cached_per_sql_and_fixture(tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = tmp_path / "tables"
    tables.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 2]}), tables / "t.parquet")
    sql = {"q": "SELECT k, count(*) AS n FROM t GROUP BY k"}
    cache = str(tmp_path / "cache")
    first = verify.oracle_rowsets(str(tables), sql, cache)
    assert first["q"] == (["k", "n"], [("1", "1"), ("2", "2")])

    def fail(*args):
        raise AssertionError("oracle re-run despite a cached result")

    monkeypatch.setattr(verify, "_run_oracles", fail)
    assert verify.oracle_rowsets(str(tables), sql, cache) == first
    pq.write_table(pa.table({"k": [3]}), tables / "t.parquet")
    with pytest.raises(AssertionError, match="re-run"):
        verify.oracle_rowsets(str(tables), sql, cache)
