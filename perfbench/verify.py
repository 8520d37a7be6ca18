"""Output checks, run outside every timed window.

Word count: the spool the engine's FakeFirestoreClient wrote must hold
exactly the expected ``word -> {"count": n}`` documents, in the input's
default collection, committed in batches of at most 500 writes.

Query mix: each query's rows must equal its registered DuckDB oracle,
order-insensitively, after the value normalisation the engine's oracle
check uses (floats to 10 significant digits, NaN as a token, lists as
tuples).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle

from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
    DEFAULT_MAX_BATCH_SIZE,
    read_fake_batches,
)


def check_wordcount_batches(
    batches: list[dict], expected: dict[str, int], collection: str
) -> tuple[list[str], dict[str, int]]:
    """Return (errors, replayed word -> count) for one job's spool records."""
    errors: list[str] = []
    state: dict[str, int] = {}
    for record in batches:
        writes = record["writes"]
        if record["collection"] != collection:
            errors.append(f"commit to collection {record['collection']!r}, want {collection!r}")
        if len(writes) > DEFAULT_MAX_BATCH_SIZE or record["batch_size"] != len(writes):
            errors.append(f"commit of {len(writes)} writes (batch_size {record['batch_size']})")
        # Upsert replay, as read_fake_firestore_state does, folded into the
        # same pass so the spool is parsed once.
        for write in writes:
            data = write["data"]
            if set(data) != {"count"}:
                errors.append(f"doc {write['doc_id']!r} has fields {sorted(data)}")
            state[write["doc_id"]] = data.get("count")
    if state != expected:
        missing = expected.keys() - state.keys()
        extra = state.keys() - expected.keys()
        wrong = sum(1 for k in expected.keys() & state.keys() if state[k] != expected[k])
        errors.append(f"{len(missing)} docs missing, {len(extra)} unexpected, {wrong} wrong counts")
    return errors, state


def spool_bytes(spool_dir: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(spool_dir) if e.name.endswith(".jsonl"))


def check_spool(spool_dir: str, expected: dict[str, int], collection: str):
    return check_wordcount_batches(read_fake_batches(spool_dir), expected, collection)


def norm(value):
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else f"{value:.10g}"
    if isinstance(value, bytes):
        return value.hex()
    if isinstance(value, list):
        return tuple(norm(x) for x in value)
    return str(value)


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows normalised and sorted."""
    order = sorted(range(len(columns)), key=columns.__getitem__)
    return ([columns[i] for i in order],
            sorted(tuple(norm(row[i]) for i in order) for row in rows))


def check_rows(columns: list[str], rows, expected: tuple[list[str], list[tuple]]) -> list[str]:
    got_cols, got_rows = canonical(columns, rows)
    want_cols, want_rows = expected
    if got_cols != want_cols:
        return [f"columns {got_cols} vs oracle {want_cols}"]
    if len(got_rows) != len(want_rows):
        return [f"{len(got_rows)} rows vs oracle {len(want_rows)}"]
    if got_rows != want_rows:
        diff = next((a, b) for a, b in zip(got_rows, want_rows) if a != b)
        return [f"value mismatch, first: {diff}"]
    return []


def oracle_rowsets(tables_dir: str, sql_by_name: dict[str, str], cache_dir: str) -> dict:
    """Each oracle's canonical rows, run on DuckDB over the fixture parquet
    files in ``tables_dir``.

    The rows depend only on the SQL and the fixture bytes, so they are
    kept in ``cache_dir`` under a hash of both and computed once."""
    key = hashlib.sha256(json.dumps(sql_by_name, sort_keys=True).encode())
    for entry in sorted(os.scandir(tables_dir), key=lambda e: e.name):
        key.update(entry.name.encode())
        with open(entry.path, "rb") as fh:
            key.update(fh.read())
    path = os.path.join(cache_dir, f"oracle-{key.hexdigest()[:16]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    out = _run_oracles(tables_dir, sql_by_name)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


def _run_oracles(tables_dir: str, sql_by_name: dict[str, str]) -> dict:
    import tempfile

    import duckdb

    con = duckdb.connect(config={"temp_directory": tempfile.gettempdir()})
    try:
        for entry in os.scandir(tables_dir):
            if entry.name.endswith(".parquet"):
                path = entry.path.replace("'", "''")
                con.execute(f"CREATE VIEW {entry.name[:-8]} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in sql_by_name.items():
            rel = con.sql(sql)
            out[name] = canonical(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()
