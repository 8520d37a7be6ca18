"""Streaming Firestore sink: ``foreachBatch`` reusing the batch writer.

The reference's bundle-buffered sink (FirestoreUpdateDoFn.java:17-103)
maps to a Spark partition in batch mode (sinks/firestore.py) and to a
micro-batch here: each trigger's delta DataFrame is written through the
same chunked, client-per-partition, <=500-writes-per-commit path.

With ``outputMode("update")`` an aggregation emits only rows whose value
changed that micro-batch; because Firestore writes are idempotent upserts
keyed by doc id, replaying a micro-batch after failure converges to the
same state — the reference's at-least-once + idempotent contract
(SURVEY.md §2) carries over unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from ..sinks.firestore import (
    FirestoreSinkConfig,
    _word_count_item,
    write_word_counts_batch,
)


def stream_word_counts_writer(
    counts: DataFrame,
    config: FirestoreSinkConfig,
    client_factory: Callable[[], object],
    checkpoint_dir: str,
    to_item: Callable[[object], tuple[str, dict]] = _word_count_item,
) -> DataStreamWriter:
    """Build (don't start) the foreachBatch writer for a streaming count:
    each trigger's changed rows go through the chunked batch path with
    one client per partition; ``to_item`` maps a row to its
    ``(doc_id, fields)`` upsert (default: the word-count document)."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_word_counts_batch(batch_df, config, client_factory, to_item=to_item)

    return (
        counts.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle_batch)
    )
