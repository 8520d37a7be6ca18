"""Pipeline configuration — typed parity with the reference's ``Options``
(``WordCountToFirestorePipeline.java:57-85``) and the batch extension
(``BatchWriteImplementation.java:61-68``).

Beam uses a reflection-proxied options interface with
``@Validation.Required``; the Spark-native equivalent is a frozen
dataclass + argparse with ``required=True``.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass

from .sinks.firestore import DEFAULT_MAX_BATCH_SIZE, WRITERS, collection_path_for_input

# Reference default input (WordCountToFirestorePipeline.java:70).
DEFAULT_INPUT_FILE = "gs://apache-beam-samples/shakespeare/kinglear.txt"

IMPLEMENTATIONS = tuple(WRITERS)  # enum Implementation (":45-55")


@dataclass(frozen=True)
class PipelineConfig:
    implementation: str = "naive"  # reference default (":60")
    input_file: str = DEFAULT_INPUT_FILE
    output_google_cloud_project: str = ""  # @Validation.Required (":76")
    output_firestore_collection_path: str | None = None  # default derived (":82")
    firestore_max_batch_size: int = DEFAULT_MAX_BATCH_SIZE

    def __post_init__(self) -> None:
        if self.implementation not in IMPLEMENTATIONS:
            # UnsupportedOperationException parity
            # (WordCountToFirestorePipeline.java:31-32).
            raise ValueError(
                f"unknown implementation {self.implementation!r}; "
                f"expected one of {IMPLEMENTATIONS}"
            )
        if not self.output_google_cloud_project:
            raise ValueError("output_google_cloud_project is required")

    @property
    def collection_path(self) -> str:
        # Derived default: basename of input file (NaiveImplementation.java:31-34).
        return self.output_firestore_collection_path or collection_path_for_input(
            self.input_file
        )


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="wordcount-to-firestore",
        description="Word-count a text file and upsert (word, count) documents "
        "to Firestore (PySpark-native re-expression of the reference pipeline).",
    )
    parser.add_argument("--implementation", choices=IMPLEMENTATIONS, default="naive")
    parser.add_argument("--input-file", default=DEFAULT_INPUT_FILE)
    parser.add_argument("--output-google-cloud-project", required=True)
    parser.add_argument("--output-firestore-collection-path", default=None)
    parser.add_argument(
        "--firestore-max-batch-size", type=int, default=DEFAULT_MAX_BATCH_SIZE
    )
    return parser


def parse_config(argv: list[str] | None = None) -> PipelineConfig:
    ns = build_parser().parse_args(argv)
    return PipelineConfig(
        implementation=ns.implementation,
        input_file=ns.input_file,
        output_google_cloud_project=ns.output_google_cloud_project,
        output_firestore_collection_path=ns.output_firestore_collection_path,
        firestore_max_batch_size=ns.firestore_max_batch_size,
    )
