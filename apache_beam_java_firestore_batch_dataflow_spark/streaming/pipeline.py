"""End-to-end streaming parity pipeline: queue → windowed count → sink.

The BASELINE.md north star ("Structured Streaming + Firestore connector")
as ONE composition: a Kafka-schema stream (``sources.streams``) is
tokenized with the reference tokenizer, counted per (event-time window,
word), and upserted through the SAME chunked ≤500-writes-per-commit
Firestore path the batch pipeline uses (``sinks.firestore``;
FirestoreUpdateDoFn.java:17-103 is the reference's bundle-buffered
equivalent): ``streaming.sink.stream_word_counts_writer(counted, ...,
to_item=windowed_count_item)``.

Delivery contract (carried over from the reference, SURVEY.md §2):
at-least-once micro-batch replay + idempotent upserts keyed by
``window_start|word`` = converged exactly-once STATE.  ``update`` output
mode emits a key only in micro-batches where its count changed, so
steady-state write volume is the delta, not the keyspace.

Scale shape: the only shuffle per micro-batch is the windowed groupBy
(map-side partial counts first); sink writes are client-per-partition
with bounded commits, so Firestore throughput scales with executors
while each commit stays under the 500-write API ceiling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text import tokens_col


def kafka_windowed_wordcount(
    messages: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Tokenize Kafka-schema message values and count per (window, word).

    Works unchanged on a real ``read_kafka`` stream or the file-backed
    stand-in — it only touches the seven public Kafka columns.
    """
    words = messages.select(
        "timestamp",
        F.explode(tokens_col(F.expr("CAST(value AS STRING)"))).alias("word"),
    )
    return (
        words.withWatermark("timestamp", watermark_delay)
        .groupBy(F.window("timestamp", window_duration).alias("w"), "word")
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "word",
            "count",
        )
    )


def windowed_count_item(row) -> tuple[str, dict]:
    # Doc id = "window_start|word": the idempotence key that makes
    # micro-batch replay converge instead of duplicate.
    return (
        f"{row['window_start']}|{row['word']}",
        {
            "window_start": row["window_start"],
            "word": row["word"],
            "count": int(row["count"]),
        },
    )
