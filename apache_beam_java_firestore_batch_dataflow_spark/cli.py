"""CLI entry point — implementation dispatch + wall-clock parity.

Mirrors ``WordCountToFirestorePipeline.main`` (``:21-43``): parse/validate
options, resolve the implementation by name from a strategy registry
(replacing Beam's enum + reflective instantiation, ``:28-34``), run
synchronously, and log total wall-clock time (``:37-41``).

The client factory is injectable so the pipeline is runnable (and
testable / benchable) without GCP credentials; by default it spools to a
local directory, which also serves as the fake-network bench target.
"""

from __future__ import annotations

import logging
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import SparkSession

from .config import PipelineConfig, parse_config
from .operators.wordcount import word_count_pipeline
from .session import build_session
from .sinks.firestore import WRITERS, FirestoreSinkConfig, fake_client_factory
from .sources.text import read_lines

logger = logging.getLogger(__name__)


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    client_factory: Callable[[], object] | None = None,
) -> None:
    """Build the lazy plan and execute it with the selected sink strategy.
    The sink configuration is validated first, before the input is read."""
    sink_config = FirestoreSinkConfig(
        project_id=config.output_google_cloud_project,
        collection_path=config.collection_path,
        max_batch_size=config.firestore_max_batch_size,
    )
    if client_factory is None:
        spool = tempfile.mkdtemp(prefix="firestore-spool-")
        logger.info("no Firestore client configured; spooling writes to %s", spool)
        client_factory = fake_client_factory(spool)

    lines = read_lines(spark, config.input_file)
    counts = word_count_pipeline(lines)
    WRITERS[config.implementation](counts, sink_config, client_factory)


def main(argv: list[str] | None = None) -> None:
    start = time.monotonic()  # wall-clock parity (":23")
    config = parse_config(argv)
    spark = build_session(app_name=f"wordcount-{config.implementation}")
    try:
        run_pipeline(spark, config)
    finally:
        elapsed = time.monotonic() - start
        logger.info(
            "Pipeline '%s' done in %.0f ms", config.implementation, elapsed * 1000
        )


if __name__ == "__main__":
    logging.basicConfig(level=logging.INFO)
    main()
