"""Structured Streaming tests: batch/stream parity for the unified window
transforms, watermark-driven late-data eviction, and the foreachBatch
Firestore sink (streaming reuse of the reference's batched sink).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
    FirestoreSinkConfig,
    fake_client_factory,
    read_fake_firestore_state,
)
from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import load_table
from apache_beam_java_firestore_batch_dataflow_spark.streaming.replay import (
    read_event_stream,
    write_event_chunks,
)
from apache_beam_java_firestore_batch_dataflow_spark.streaming.sink import (
    stream_word_counts_writer,
)
from apache_beam_java_firestore_batch_dataflow_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
    with_watermark,
)

from .conftest import sorted_rows


@pytest.mark.parametrize(
    "transform", [tumbling_agg, sliding_agg, session_agg],
    ids=["tumbling", "sliding", "session"],
)
def test_batch_stream_parity(spark, sf_dir, tmp_path, transform):
    """The same transform text over readStream (4 chronological chunks,
    one per micro-batch) converges to the batch answer — Structured
    Streaming's unified-API contract, proven incrementally."""
    chunk_dir = str(tmp_path / "chunks")
    write_event_chunks(spark, sf_dir, chunk_dir, n_chunks=4)

    batch_result = sorted_rows(transform(load_table(spark, sf_dir, "events")))

    stream = with_watermark(read_event_stream(spark, chunk_dir), "30 minutes")
    query = (
        transform(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_out")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    got = sorted_rows(spark.table("parity_out"))
    spark.catalog.dropTempView("parity_out")
    assert got == batch_result
    # incrementality: the file source really delivered multiple micro-batches
    assert len(query.recentProgress) >= 4


def _write_events(spark, path: str, rows: list[tuple[str, int]]) -> None:
    df = spark.createDataFrame(
        [(ts, uid) for ts, uid in rows], "ts_s string, user_id long"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "user_id")
    df.coalesce(1).write.mode("append").parquet(path)


def test_watermark_drops_late_data(spark, tmp_path):
    """Two availableNow runs over one checkpoint: run 2's too-late event
    lands in a window already finalized+evicted in run 1 and is dropped
    (bounded state — the property that makes streaming viable at scale)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spool = str(tmp_path / "spool")
    os.makedirs(spool)

    def run_once() -> None:
        stream = (
            spark.readStream.schema("ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        counts = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("ws"), "n")
        )

        def emit(batch_df, batch_id):
            rows = batch_df.collect()
            with open(os.path.join(spool, f"b{batch_id}.txt"), "w") as fh:
                for r in rows:
                    fh.write(f"{r['ws']},{r['n']}\n")

        q = (
            counts.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(emit)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # Run 1: watermark advances to 10:35-10:10=10:25 → [10:00,10:10) final.
    _write_events(
        spark,
        src,
        [("2024-06-01 10:05:00", 1), ("2024-06-01 10:15:00", 1), ("2024-06-01 10:35:00", 1)],
    )
    run_once()

    # Run 2: 10:02 is behind the checkpointed watermark (its window was
    # emitted and evicted) → dropped; 10:59 advances the watermark to
    # 10:49, finalizing [10:10,10:20) and [10:30,10:40).
    _write_events(spark, src, [("2024-06-01 10:02:00", 1), ("2024-06-01 10:59:00", 1)])
    run_once()

    emitted: dict[str, int] = {}
    for name in sorted(os.listdir(spool)):
        with open(os.path.join(spool, name)) as fh:
            for line in fh:
                ws, n = line.strip().rsplit(",", 1)
                assert ws not in emitted, "a finalized window was re-emitted"
                emitted[ws] = int(n)

    assert emitted["2024-06-01 10:00:00"] == 1  # late 10:02 NOT counted
    assert emitted["2024-06-01 10:10:00"] == 1
    assert emitted["2024-06-01 10:30:00"] == 1


def test_streaming_firestore_sink(spark, tmp_path):
    """Streaming word count → foreachBatch → batched Firestore writes:
    upsert-by-doc-id makes the final spool state equal the batch answer
    even though a word's count is written once per micro-batch it changes."""
    src = str(tmp_path / "text")
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    os.makedirs(spool)
    with open(os.path.join(src, "a.txt"), "w") as fh:
        fh.write("hi there\nhi\n")
    with open(os.path.join(src, "b.txt"), "w") as fh:
        fh.write("hi sue bob\nhi sue\nbob hi\n")

    from apache_beam_java_firestore_batch_dataflow_spark.operators.wordcount import (
        count_words,
    )

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    config = FirestoreSinkConfig(project_id="p", collection_path="stream")
    writer = stream_word_counts_writer(
        count_words(lines), config, fake_client_factory(spool), ckpt
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)

    state = read_fake_firestore_state(spool)["stream"]
    assert {k: v["count"] for k, v in state.items()} == {
        "hi": 5,
        "there": 1,
        "sue": 2,
        "bob": 2,
    }
    assert len(q.recentProgress) >= 2  # two micro-batches (one per file)


def test_kafka_to_firestore_end_to_end(spark, tmp_path):
    """The full parity pipeline in one test: Kafka-schema stream →
    event-time windowed word count → foreachBatch → chunked Firestore
    upserts.  Asserts, across MULTIPLE micro-batches and a checkpoint
    restart: (a) every commit stays under max_batch_size, (b) update
    mode writes a key exactly once per micro-batch in which its count
    changed, (c) replay with no new data writes nothing, and (d) the
    final upserted state equals the batch answer."""
    import json

    from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
        read_fake_batches,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.streams import (
        kafka_like_stream,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.streaming.pipeline import (
        kafka_windowed_wordcount,
        windowed_count_item,
    )

    indir = tmp_path / "msgs"
    indir.mkdir()
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(spool)

    def msg(i, ts, value):
        return json.dumps(
            {"key": f"k{i}", "value": value, "partition": i % 2, "offset": i,
             "timestamp": ts}
        )

    (indir / "b0.json").write_text(
        "\n".join([msg(0, "2026-01-01T10:05:00Z", "hi there"),
                   msg(1, "2026-01-01T10:10:00Z", "hi")])
    )
    (indir / "b1.json").write_text(
        "\n".join([msg(2, "2026-01-01T10:20:00Z", "hi sue bob"),
                   msg(3, "2026-01-01T10:25:00Z", "hi sue"),
                   msg(4, "2026-01-01T11:05:00Z", "bob hi")])
    )

    config = FirestoreSinkConfig(
        project_id="p", collection_path="stream_wc", max_batch_size=3
    )

    def run_once() -> int:
        stream = kafka_like_stream(
            spark, str(indir), topic="wc", max_files_per_trigger=1
        )
        writer = stream_word_counts_writer(
            kafka_windowed_wordcount(stream),
            config,
            fake_client_factory(spool),
            ckpt,
            to_item=windowed_count_item,
        )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(120)
        return len([p for p in q.recentProgress if p["numInputRows"] > 0])

    assert run_once() >= 2  # one micro-batch per file

    # (a) the 5 changed rows of the second micro-batch had to chunk: no
    # commit may exceed max_batch_size, and at least one chunk split
    # happened (more commits than micro-batches on the data path)
    batches = [b for b in read_fake_batches(spool) if b["batch_size"] > 0]
    assert batches and all(b["batch_size"] <= 3 for b in batches)

    # (b) update mode = one write per key per micro-batch where the
    # count changed: "hi" in the 10:00 window changed in both batches,
    # "there" only in the first, the 11:00 keys only in the second
    writes_per_doc: dict[str, int] = {}
    for b in batches:
        seen_in_batch = set()
        for w in b["writes"]:
            assert w["doc_id"] not in seen_in_batch  # unique within a commit
            seen_in_batch.add(w["doc_id"])
            writes_per_doc[w["doc_id"]] = writes_per_doc.get(w["doc_id"], 0) + 1
    assert writes_per_doc["2026-01-01 10:00:00|hi"] == 2
    assert writes_per_doc["2026-01-01 10:00:00|there"] == 1
    assert writes_per_doc["2026-01-01 11:00:00|bob"] == 1

    # (c) checkpoint resume with no new files: replay must write nothing
    n_commits = len(batches)
    run_once()
    assert len([b for b in read_fake_batches(spool) if b["batch_size"] > 0]) == n_commits

    # (d) converged state == the batch answer over all messages
    state = read_fake_firestore_state(spool)["stream_wc"]
    got = {k: v["count"] for k, v in state.items()}
    assert got == {
        "2026-01-01 10:00:00|hi": 4,
        "2026-01-01 10:00:00|there": 1,
        "2026-01-01 10:00:00|sue": 2,
        "2026-01-01 10:00:00|bob": 1,
        "2026-01-01 11:00:00|bob": 1,
        "2026-01-01 11:00:00|hi": 1,
    }


def test_stream_static_enrich_parity(spark, sf_dir, tmp_path):
    """Stream-static join parity: the windowed purchase aggregation
    joined to the static customer dimension converges to the batch
    answer when the events arrive over 4 micro-batches — proving the
    static side re-binds per micro-batch and the aggregation state
    carries across batches."""
    from apache_beam_java_firestore_batch_dataflow_spark.streaming.windows import (
        enrich_purchases,
    )

    chunk_dir = str(tmp_path / "chunks")
    write_event_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
    cust = load_table(spark, sf_dir, "customer")

    batch_result = sorted_rows(
        enrich_purchases(load_table(spark, sf_dir, "events"), cust)
    )
    stream = read_event_stream(spark, chunk_dir)
    query = (
        enrich_purchases(stream, cust)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("enrich_out")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    got = sorted_rows(spark.table("enrich_out"))
    spark.catalog.dropTempView("enrich_out")
    assert got == batch_result
    assert len(got) > 0


def test_stream_window_topk_parity(spark, sf_dir, tmp_path):
    """Trending-items parity: the windowed count aggregation streams
    over 4 micro-batches (complete mode), the rank-and-filter half runs
    over the final materialized snapshot — the foreachBatch topology —
    and together they equal the single batch plan."""
    from apache_beam_java_firestore_batch_dataflow_spark.streaming.windows import (
        topk_of_counts,
        window_topk,
        window_type_counts,
    )

    chunk_dir = str(tmp_path / "topk_chunks")
    write_event_chunks(spark, sf_dir, chunk_dir, n_chunks=4)

    batch_result = sorted_rows(window_topk(load_table(spark, sf_dir, "events")))
    stream = read_event_stream(spark, chunk_dir)
    query = (
        window_type_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("topk_counts")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    got = sorted_rows(topk_of_counts(spark.table("topk_counts")))
    spark.catalog.dropTempView("topk_counts")
    assert got == batch_result
    assert len(got) > 0


def test_stream_cdc_merge_converges_to_batch(spark, sf_dir, tmp_path):
    """Streaming CDC materialization: the changes feed arrives over 3
    micro-batches and foreachBatch applies each with the SAME
    merge_changes core the batch query uses, maintaining the snapshot
    as alternating parquet generations — the transactional-format-free
    upsert topology.  The final snapshot must equal applying the whole
    feed at once (keys are disjoint across ops, so chunked application
    commutes)."""
    import pyspark.sql.functions as F

    from apache_beam_java_firestore_batch_dataflow_spark.operators.relational import (
        merge_changes,
    )

    base = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
    )
    c = load_table(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("U").alias("op"), "c_name",
        F.round(F.col("c_acctbal") + 100.0, 2).cast("double").alias("c_acctbal"),
    )
    deletes = c.filter(
        (F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 7 != 0)
    ).select(
        "c_custkey", F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
    )
    inserts = c.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("I").alias("op"),
        F.concat(F.lit("Customer#NEW"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        F.lit(0.0).alias("c_acctbal"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    expected = sorted_rows(merge_changes(base, changes, key="c_custkey"))

    feed_dir = str(tmp_path / "cdc_feed")
    for i in range(3):
        changes.filter(F.crc32(F.col("c_custkey").cast("string")) % 3 == i) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(f"{feed_dir}/chunk-{i:03d}")

    state_dirs = [str(tmp_path / "state_a"), str(tmp_path / "state_b")]
    base.write.mode("overwrite").parquet(state_dirs[0])
    gen = {"i": 0}

    def apply_batch(batch_df, _bid):
        cur = state_dirs[gen["i"] % 2]
        nxt = state_dirs[(gen["i"] + 1) % 2]
        snapshot = spark.read.parquet(cur)
        merge_changes(snapshot, batch_df, key="c_custkey") \
            .write.mode("overwrite").parquet(nxt)
        gen["i"] += 1

    stream = (
        spark.readStream.schema(
            "c_custkey long, op string, c_name string, c_acctbal double"
        )
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed_dir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert gen["i"] == 3  # one merge per micro-batch
    final = sorted_rows(spark.read.parquet(state_dirs[gen["i"] % 2]))
    assert final == expected


def test_lateness_audit_bounds_streaming_watermark_drops(spark, tmp_path):
    """Bridge between the batch what-if (`q_stream_lateness_audit`: late
    iff ts < per-ROW prefix-max − delay) and a REAL streaming run.  The
    engine is strictly more lenient on three axes — the watermark is
    BATCH-quantized, the drop filter uses the watermark in effect at
    batch START (one batch behind the newest data), and a row survives
    as long as its whole WINDOW is still open — so the rows streaming
    actually drops (numRowsDroppedByWatermark) must be a SUBSET of the
    audit's ideal-late set.  Crafted arrival order pins each divergence
    and the subset relation."""
    import datetime

    src = str(tmp_path / "lsrc")

    # arrival order; 15-minute watermark, 10-minute tumbling windows
    batches = [
        [("2024-01-01 10:00:00", 1), ("2024-01-01 10:20:00", 2)],
        # 10:03 is ideal-late (prefix max 10:20 − 15m = 10:05) but its
        # window [10:00,10:10) is still open → streaming absorbs it
        [("2024-01-01 10:50:00", 3), ("2024-01-01 10:03:00", 4)],
        # 10:31 is ideal-late (< 10:35) but its window [10:30,10:40)
        # outlives the watermark → kept; this batch's END advances the
        # filter watermark to 10:35 and evicts the 10:0x/10:1x windows
        [("2024-01-01 10:31:00", 5)],
        # 10:01's window expired a batch ago → genuinely dropped
        [("2024-01-01 10:01:00", 6)],
    ]
    import time as _time

    for rows in batches:
        _write_events(spark, src, rows)
        _time.sleep(1.1)  # distinct mtimes keep the file-source batch order

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    counts = (
        stream.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", str(tmp_path / "lckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1  # exactly the 10:01 row

    # the ideal per-row audit marks 10:03, 10:31, 10:01 → 3;
    # streaming's lenient drops are a strict subset
    delay = 15 * 60
    pmax = None
    ideal_late = 0
    for rows in batches:
        for ts_s, _ in rows:
            t = datetime.datetime.fromisoformat(ts_s).timestamp()
            if pmax is not None and t < pmax - delay:
                ideal_late += 1
            pmax = t if pmax is None else max(pmax, t)
    assert ideal_late == 3
    assert dropped <= ideal_late
