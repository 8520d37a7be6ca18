"""Sink tests the reference lacks entirely (its Firestore path is untested;
SURVEY.md §5).  Asserts the *intended* batch semantics — atomic awaited
commits of <= 500 writes — not the reference's accidental fire-and-forget
(SURVEY.md §2 ⚠️).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from apache_beam_java_firestore_batch_dataflow_spark.config import PipelineConfig
from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
    DEFAULT_MAX_BATCH_SIZE,
    FakeFirestoreClient,
    FirestoreSinkConfig,
    collection_path_for_input,
    fake_client_factory,
    read_fake_batches,
    read_fake_firestore_state,
    write_word_counts_batch,
    write_word_counts_naive,
)


def counts_df(spark, pairs):
    return spark.createDataFrame([Row(word=w, count=c) for w, c in pairs])


def make_sink_config(batch_size=DEFAULT_MAX_BATCH_SIZE):
    return FirestoreSinkConfig(
        project_id="test-project", collection_path="kinglear.txt",
        max_batch_size=batch_size,
    )


def test_batch_sink_writes_all_documents(spark, tmp_path):
    pairs = [(f"w{i}", i) for i in range(1, 101)]
    df = counts_df(spark, pairs).repartition(4)
    write_word_counts_batch(df, make_sink_config(), fake_client_factory(str(tmp_path)))
    state = read_fake_firestore_state(str(tmp_path))
    assert state == {"kinglear.txt": {w: {"count": c} for w, c in pairs}}


def test_batch_sink_chunks_respect_limit(spark, tmp_path):
    # 120 rows in 2 partitions with batch size 25 -> every commit <= 25,
    # and at least one full chunk per partition.
    pairs = [(f"w{i}", i) for i in range(120)]
    df = counts_df(spark, pairs).repartition(2)
    write_word_counts_batch(
        df, make_sink_config(batch_size=25), fake_client_factory(str(tmp_path))
    )
    batches = read_fake_batches(str(tmp_path))
    assert sum(b["batch_size"] for b in batches) == 120
    assert all(b["batch_size"] <= 25 for b in batches)
    assert max(b["batch_size"] for b in batches) == 25


def test_sink_config_rejects_a_batch_firestore_would_refuse():
    assert make_sink_config(DEFAULT_MAX_BATCH_SIZE).max_batch_size == 500
    for bad in (0, DEFAULT_MAX_BATCH_SIZE + 1):
        with pytest.raises(ValueError, match="max_batch_size"):
            make_sink_config(bad)


def test_cli_rejects_an_oversize_batch_before_reading_input(spark, tmp_path):
    """``--firestore-max-batch-size 1000`` fails up front instead of
    running at 500: the missing input file is never opened."""
    from apache_beam_java_firestore_batch_dataflow_spark.cli import run_pipeline

    config = PipelineConfig(
        implementation="batch",
        input_file=str(tmp_path / "missing.txt"),
        output_google_cloud_project="test-project",
        firestore_max_batch_size=1000,
    )
    with pytest.raises(ValueError, match="max_batch_size"):
        run_pipeline(spark, config, fake_client_factory(str(tmp_path)))


def test_batch_sink_is_idempotent_upsert(spark, tmp_path):
    """Task retries are safe: doc id = word, set() = overwrite
    (sink consistency semantics, SURVEY.md §2)."""
    df = counts_df(spark, [("hi", 5), ("bob", 2)])
    cfg = make_sink_config()
    factory = fake_client_factory(str(tmp_path))
    write_word_counts_batch(df, cfg, factory)
    write_word_counts_batch(df, cfg, factory)  # re-run = retry
    state = read_fake_firestore_state(str(tmp_path))
    assert state["kinglear.txt"] == {"hi": {"count": 5}, "bob": {"count": 2}}


def test_naive_sink_one_write_per_row(spark, tmp_path):
    pairs = [("a", 1), ("b", 2), ("c", 3)]
    write_word_counts_naive(
        counts_df(spark, pairs), make_sink_config(), fake_client_factory(str(tmp_path))
    )
    batches = read_fake_batches(str(tmp_path))
    assert len(batches) == 3
    assert all(b["batch_size"] == 1 for b in batches)
    state = read_fake_firestore_state(str(tmp_path))
    assert state["kinglear.txt"] == {w: {"count": c} for w, c in pairs}


def test_client_rejects_oversized_batch(tmp_path):
    client = FakeFirestoreClient(str(tmp_path))
    with pytest.raises(ValueError):
        client.commit("c", [(str(i), {"count": i}) for i in range(501)])
    client.close()
    client.close()  # idempotent close (FirestoreUpdateDoFn.java:67-76 parity)


def test_collection_path_derivation():
    """Default collection = basename of input (NaiveImplementation.java:31-34)."""
    assert collection_path_for_input("gs://b/shakespeare/kinglear.txt") == "kinglear.txt"
    assert collection_path_for_input("/tmp/words.txt") == "words.txt"
    cfg = PipelineConfig(output_google_cloud_project="p")
    assert cfg.collection_path == "kinglear.txt"


def test_config_validation():
    with pytest.raises(ValueError):
        PipelineConfig(output_google_cloud_project="")  # required (":76")
    with pytest.raises(ValueError):
        PipelineConfig(
            implementation="bogus", output_google_cloud_project="p"
        )  # unknown impl (":31-32")


# ---------------------------------------------------------------------------
# Production adapter contract (google-cloud-firestore, mocked — no SDK here)
# ---------------------------------------------------------------------------


class _MockBatch:
    def __init__(self, log):
        self._log = log
        self._staged = []

    def set(self, ref, data):
        self._staged.append((ref, data))
        self._log.append(("set", ref, data))

    def commit(self):
        self._log.append(("commit", len(self._staged)))


class _MockCollection:
    def __init__(self, name):
        self.name = name

    def document(self, doc_id):
        return f"{self.name}/{doc_id}"


class _MockSdkClient:
    """Stands in for google.cloud.firestore.Client: batch()/collection()/close()."""

    def __init__(self):
        self.log = []
        self.closed = 0

    def batch(self):
        return _MockBatch(self.log)

    def collection(self, name):
        return _MockCollection(name)

    def close(self):
        self.closed += 1


def test_google_adapter_batch_lifecycle():
    """Mirrors FirestoreUpdateDoFn.java:37-91 *intended* semantics: writes
    staged on the WriteBatch (not the client), one awaited commit per
    flush, upsert refs keyed by doc id, idempotent close."""
    from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
        GoogleFirestoreClient,
    )

    sdk = _MockSdkClient()
    client = GoogleFirestoreClient("demo-proj", client=sdk)
    client.commit("words", [("hi", {"count": 5}), ("sue", {"count": 2})])
    client.commit("words", [("bob", {"count": 2})])

    sets = [e for e in sdk.log if e[0] == "set"]
    commits = [e for e in sdk.log if e[0] == "commit"]
    assert [(e[1], e[2]) for e in sets] == [
        ("words/hi", {"count": 5}),
        ("words/sue", {"count": 2}),
        ("words/bob", {"count": 2}),
    ]
    # one atomic commit per flush, carrying exactly the staged writes
    assert [e[1] for e in commits] == [2, 1]
    # every set precedes its batch's commit (no fire-and-forget)
    assert sdk.log.index(commits[0]) > sdk.log.index(sets[1])

    client.close()
    client.close()  # @Teardown idempotence
    assert sdk.closed == 1
    with pytest.raises(RuntimeError):
        client.commit("words", [("x", {"count": 1})])


def test_google_adapter_rejects_oversized_batch():
    from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
        GoogleFirestoreClient,
    )

    client = GoogleFirestoreClient("demo-proj", client=_MockSdkClient())
    with pytest.raises(ValueError):
        client.commit("words", [(str(i), {"count": i}) for i in range(501)])


def test_google_adapter_requires_sdk_without_injection():
    from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
        GoogleFirestoreClient,
    )

    with pytest.raises(RuntimeError, match="google-cloud-firestore"):
        GoogleFirestoreClient("demo-proj")
