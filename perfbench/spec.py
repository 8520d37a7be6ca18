"""What the benchmark runs and reports.

``BENCHMARK.json`` has a fixed schema, so the details later changes cite
by name live here: each workload's inputs, the pinned run environment,
the query mix, every metric with its unit and direction, and which
end-to-end metric each layer metric is expected to move.
"""

from __future__ import annotations

# Simulated Firestore commit round trip, slept once per commit by the
# engine's FakeFirestoreClient.
COMMIT_RTT_S = 0.001

# Driver heap for the one local Spark session; the package default (16g)
# exceeds small hosts and the benchmark's inputs are tens of MB.
DRIVER_MEM = "2g"

# BENCHMARK.json lists wc-unique and query-mix.  wc-zipf runs the same
# layers as wc-unique the other way round (tokenizer-heavy, few commits);
# it is kept runnable by name for layer-split checks, but left out of the
# recorded set so that every recorded run fits the run-time budget.
WORKLOADS = {
    "wc-zipf": {
        "kind": "wordcount",
        "purpose": "tokenize-heavy: scan, tokenize and map-side combine "
        "dominate; the shuffle shrinks to about vocab x tasks and the sink "
        "issues few commits",
        "text": {"shape": "zipf", "tokens": 3_000_000, "vocab": 20_000, "zipf_s": 1.1},
        "latency_s": 0.0,
    },
    "wc-unique": {
        "kind": "wordcount",
        "purpose": "sink- and shuffle-heavy: nearly every token is distinct "
        "(10% of words occur twice), so map-side combine saves nothing and "
        "the sink issues hundreds of 500-write commits",
        "text": {"shape": "unique", "vocab": 200_000, "repeat_frac": 0.1},
        "latency_s": COMMIT_RTT_S,
    },
    "query-mix": {
        "kind": "queries",
        "purpose": "registered queries over the engine's sf0.01 fixture "
        "tables: table scans, JVM relational plans, Python-worker kernels "
        "and the shared-kernel memos; never touches the text source or sink",
        # Six tables of the engine's sf0.01 correctness fixture (seeded
        # TPC-H-like tables plus documents, embeddings and events), copied
        # unchanged: exactly the tables the mix below reads.  The DuckDB
        # oracles were proven on this fixture.
        "fixture": "perfbench/fixture/sf0.01",
    },
}

# Query name -> operator module that registers it.  The seed permutes the
# order on every pass.  Every operator module of the query engine has one
# leg, chosen among the cheapest of its module so that a cold pass and a
# warm pass fit one run (~35 s and ~11 s at local[4] on a shared 4-core
# host).  copurchase_adj keeps both of its consumers
# (q_graph_pagerank, q_graph_adamic_adar), so a pass also shows one memo
# build shared by two queries; minhash_pairs and contaminated_docs keep one
# consumer each (q_dedup_clusters_k3, q_contamination_eval_13gram).  q1 and
# q21 are JVM-only control legs that a kernel or memo change should not
# move.
MIX = {
    "q1_pricing_summary": "relational",
    "q21_last_shipper": "tpch",
    "q_text_token_stats": "text",
    "q_dedup_clusters_k3": "dedup",
    "q_ann_pq": "similarity",
    "q_graph_pagerank": "graph",
    "q_graph_adamic_adar": "graph",
    "q_contamination_eval_13gram": "curation",
    "q_events_ewma": "timeseries",
    "q_multimodal_image_grayscale": "multimodal",
}

MIX_MODULES = sorted(set(MIX.values()))

# name -> (unit, better, bound).  Bounds are shares of the parent's median.
# * setup_s: process start to build_session done plus one tiny action.
# * first_job_s: the first job of the process (cold JIT, empty memos).
# * job_s: each part's fastest later repetition, summed; a part is the
#   whole cli.run_pipeline call for word count, one query for the mix.
# * input_mb_s: input bytes / job_s (text file, or fixture tables).
# * peak_rss_mb: peak resident memory of the Spark JVM and Python workers.
# * success_frac: verified jobs / attempted; never 0, unlike its complement.
# perfbench/RESULTS.md holds the runs the bounds were set from: on a shared
# 4-core host, other tenants move every timing by 10-30% from run to run,
# so the timings and peak RSS take the 0.25 maximum.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "first_job_s": ("s", "lower", 0.25),
    "job_s": ("s", "lower", 0.25),
    "input_mb_s": ("MB/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
    "success_frac": ("ratio", "higher", 0.01),
}


def per_layer() -> dict[str, tuple[str, str]]:
    """Every traced metric: name -> (unit, better)."""
    out = {
        "session.build_s": ("s", "lower"),
        "session.warmup_s": ("s", "lower"),
        "sources.text.scan_s": ("s", "lower"),
        "sources.text.lines": ("count", "higher"),
        "sources.text.bytes": ("bytes", "higher"),
        "operators.wordcount.self_s": ("s", "lower"),
        "operators.wordcount.words": ("count", "higher"),
        "operators.wordcount.distinct_words": ("count", "higher"),
        "operators.wordcount.shuffle_records": ("count", "lower"),
        "operators.wordcount.shuffle_bytes": ("bytes", "lower"),
        "operators.wordcount.cpu_s": ("s", "lower"),
        "operators.wordcount.combine_ratio": ("ratio", "lower"),
        "sinks.firestore.write_s": ("s", "lower"),
        "sinks.firestore.commits": ("count", "lower"),
        "sinks.firestore.docs": ("count", "higher"),
        "sinks.firestore.clients": ("count", "lower"),
        "sinks.firestore.failed_commits": ("count", "lower"),
        "sinks.firestore.fill_ratio": ("ratio", "higher"),
        "sinks.firestore.commit_busy_s": ("s", "lower"),
        "sinks.firestore.commit_ms_p50": ("ms", "lower"),
        "sinks.firestore.convert_s": ("s", "lower"),
        "sinks.firestore.spool_bytes_per_doc": ("bytes", "lower"),
        "sources.tables.scan_s": ("s", "lower"),
    }
    for module in MIX_MODULES:
        prefix = f"operators.{module}."
        out[prefix + "build_s"] = ("s", "lower")
        out[prefix + "action_s"] = ("s", "lower")
        out[prefix + "cpu_s"] = ("s", "lower")
        out[prefix + "shuffle_bytes"] = ("bytes", "lower")
        out[prefix + "tasks"] = ("count", "lower")
        out[prefix + "floor_s"] = ("s", "lower")
    for name in MIX:
        out[f"query.{name}.s"] = ("s", "lower")
    out["trace.overhead_s"] = ("s", "lower")
    return out


# Which end-to-end metric each layer metric should move, and on which
# workload.  A traced run prints every per-layer metric; those of a layer
# the workload does not run read 0.
LAYER_TO_END_TO_END = {
    "session.*": "setup_s on every workload",
    "sources.text.*": "job_s and input_mb_s on wc-zipf; a smaller share on wc-unique",
    "operators.wordcount.*": "job_s on wc-zipf; a smaller share on wc-unique "
    "(combine_ratio << 1 on wc-zipf, about 1 on wc-unique)",
    "sinks.firestore.*": "job_s on wc-unique, where it is the largest layer; about 0 on wc-zipf",
    "sources.tables.scan_s": "first_job_s and job_s on query-mix",
    "operators.<module>.build_s": "first_job_s on query-mix",
    "operators.<module>.{action_s,cpu_s,shuffle_bytes,tasks,floor_s}": "job_s on query-mix",
    "query.<name>.s": "job_s on query-mix",
    "trace.overhead_s": "none: traced job_s minus untraced job_s",
}
