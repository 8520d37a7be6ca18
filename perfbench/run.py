#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload wc-unique --seed 1 --seconds 8 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` runs the same workload with
spans and Spark stage counters around each layer call and prints the
per-layer metrics.  Word-count inputs are generated from ``--seed`` and
cached under ``.perfbench_work/``; the query mix reads the fixture tables
in ``perfbench/fixture/`` and the seed permutes its query order.  Every
output is verified outside the timed window.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# Stop starting new later jobs after this much wall time (at least one
# always runs), so that a run on a busy host stays short.
WALL_CAP_S = 60.0
MIN_LATER_JOBS = {"wordcount": 3, "queries": 1}


def process_age_s() -> float:
    """Seconds since this process started, interpreter start-up included."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_env(run_dir: str) -> None:
    """The run environment: every Spark and Python-worker setting the
    engine reads, fixed before any of it is imported."""
    from perfbench import spec

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": spec.DRIVER_MEM,
        # Python workers import the engine and perfbench by module path.
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # One thread per worker: Spark already runs one task per core.
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })


def start_session(run_dir: str):
    """Setup: engine import, ``build_session`` and one tiny warm-up action."""
    from apache_beam_java_firestore_batch_dataflow_spark.session import build_session

    tmp = os.environ["TMPDIR"]
    t0 = time.monotonic()
    spark = build_session(
        app_name="perfbench",
        extra_conf={
            # A fixed-size heap: without it, when G1 grows the heap varies
            # run to run, and so does peak RSS.
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    t1 = time.monotonic()
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.monotonic()
    return spark, {"setup_s": process_age_s(), "build_s": t1 - t0, "warmup_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    # The gateway JVM exits when its stdin reaches end of file.
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def fresh_dir(parent: str, name: str) -> str:
    path = os.path.join(parent, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class JobGroup:
    """Tags the Spark jobs of one layer call so their stages can be read back."""

    def __init__(self, spark, name: str) -> None:
        self.sc = spark.sparkContext
        self.name = name

    def __enter__(self) -> str:
        self.sc.setJobGroup(self.name, self.name)
        return self.name

    def __exit__(self, *exc) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


class Run:
    """State shared by one run: session, tracer, counters."""

    def __init__(self, args, spark, run_dir: str) -> None:
        from perfbench import tracing

        self.args = args
        self.spark = spark
        self.run_dir = run_dir
        self.tracer = tracing.Tracer()
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, list[float]] = {}

    def record(self, errors: list[str], what: str) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            print(f"FAILED {what}: {'; '.join(errors[:3])}", file=sys.stderr)

    def add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)


# --------------------------------------------------------------------------
# Word count: cli.run_pipeline over generated text into the fake Firestore
# --------------------------------------------------------------------------


class WordCountWorkload:
    def __init__(self, run: Run, cfg: dict) -> None:
        from apache_beam_java_firestore_batch_dataflow_spark import cli
        from apache_beam_java_firestore_batch_dataflow_spark.config import PipelineConfig
        from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
            collection_path_for_input,
        )
        from perfbench import gen

        self.run = run
        self.cli = cli
        self.latency_s = cfg["latency_s"]
        self.input = gen.text_input(os.path.join(WORK, "cache"), run.args.seed, cfg["text"])
        self.collection = collection_path_for_input(self.input.path)
        self.config = PipelineConfig(
            implementation="batch",
            input_file=self.input.path,
            output_google_cloud_project="perfbench",
        )
        self.input_mb = self.input.bytes / 1e6
        self.seq = 0

    def _factory(self, spool: str, span_dir: str | None):
        from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
            fake_client_factory,
        )
        from perfbench import tracing

        factory = fake_client_factory(spool, latency_s=self.latency_s)
        return tracing.TracingClientFactory(factory, span_dir) if span_dir else factory

    def _dirs(self, traced: bool):
        self.seq += 1
        spool = fresh_dir(self.run.run_dir, f"spool-{self.seq}")
        spans = fresh_dir(self.run.run_dir, f"spans-{self.seq}") if traced else None
        return spool, spans

    def _verify(self, spool: str, what: str) -> dict[str, int]:
        from perfbench import verify

        errors, state = verify.check_spool(spool, self.input.counts, self.collection)
        self.run.record(errors, what)
        return state

    def job(self, traced: bool = False) -> dict[str, float]:
        """One ``cli.run_pipeline`` call; returns its seconds.

        A traced job is followed, untimed, by the per-layer calls."""
        run = self.run
        run.tracer.job += 1
        spool, spans = self._dirs(traced)
        factory = self._factory(spool, spans)
        try:
            if traced:
                with JobGroup(run.spark, f"cli-{self.seq}"), run.tracer.span("cli.run_pipeline") as span:
                    self.cli.run_pipeline(run.spark, self.config, factory)
                self._commit_spans(spans, span)
                elapsed = span["end"] - span["start"]
            else:
                start = time.perf_counter()
                self.cli.run_pipeline(run.spark, self.config, factory)
                elapsed = time.perf_counter() - start
        except Exception:  # noqa: BLE001 - a failed job is counted, the run goes on
            traceback.print_exc()
            run.record(["raised"], "cli.run_pipeline")
            return {"cli.run_pipeline": float("nan")}
        self._verify(spool, "cli.run_pipeline")
        shutil.rmtree(spool, ignore_errors=True)
        if traced:
            self._layers()
        return {"cli.run_pipeline": elapsed}

    def _commit_spans(self, span_dir: str, parent: dict) -> list[dict]:
        from perfbench import tracing

        clients = tracing.read_client_spans(span_dir)
        for client in clients:
            for start, end, size, ok in client["commits"]:
                self.run.tracer.add("sinks.firestore.commit", start, end, parent,
                                    pid=client["pid"], writes=size, ok=ok)
        return clients

    def _layers(self) -> None:
        """Per-layer calls, each in its own span and job group."""
        from apache_beam_java_firestore_batch_dataflow_spark.operators.wordcount import (
            word_count_pipeline,
        )
        from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
            DEFAULT_MAX_BATCH_SIZE,
            FirestoreSinkConfig,
            write_word_counts_batch,
        )
        from apache_beam_java_firestore_batch_dataflow_spark.sources.text import read_lines
        from perfbench import tracing, verify

        run, spark, tracer = self.run, self.run.spark, self.run.tracer
        tracer.job += 1
        path = self.input.path

        with JobGroup(spark, f"text-{self.seq}") as group, tracer.span("sources.text.scan") as s:
            read_lines(spark, path).write.format("noop").mode("overwrite").save()
        scan = tracing.stage_metrics(spark, group)
        scan_s = s["end"] - s["start"]
        run.add("sources.text.scan_s", scan_s)
        run.add("sources.text.lines", scan["input_records"])
        run.add("sources.text.bytes", scan["input_bytes"])

        with JobGroup(spark, f"wc-{self.seq}") as group, tracer.span("operators.wordcount") as s:
            word_count_pipeline(read_lines(spark, path)).write.format("noop").mode("overwrite").save()
        wc = tracing.stage_metrics(spark, group)
        run.add("operators.wordcount.self_s", (s["end"] - s["start"]) - scan_s)
        run.add("operators.wordcount.shuffle_records", wc["shuffle_records"])
        run.add("operators.wordcount.shuffle_bytes", wc["shuffle_bytes"])
        run.add("operators.wordcount.cpu_s", max(wc["cpu_s"] - scan["cpu_s"], 0.0))

        counts = word_count_pipeline(read_lines(spark, path)).cache()
        counts.count()
        spool, spans = self._dirs(True)
        sink_config = FirestoreSinkConfig(project_id="perfbench", collection_path=self.collection)
        try:
            with JobGroup(spark, f"sink-{self.seq}"), tracer.span("sinks.firestore.write") as s:
                write_word_counts_batch(counts, sink_config, self._factory(spool, spans))
        finally:
            counts.unpersist()
        clients = self._commit_spans(spans, s)
        state = self._verify(spool, "sinks.firestore.write_word_counts_batch")
        commits = [c for client in clients for c in client["commits"]]
        docs = sum(c[2] for c in commits)
        busy = sum(c[1] - c[0] for c in commits)
        run.add("sinks.firestore.write_s", s["end"] - s["start"])
        run.add("sinks.firestore.commits", len(commits))
        run.add("sinks.firestore.docs", docs)
        run.add("sinks.firestore.clients", len(clients))
        run.add("sinks.firestore.failed_commits", sum(1 for c in commits if not c[3]))
        run.add("sinks.firestore.fill_ratio", docs / (max(len(commits), 1) * DEFAULT_MAX_BATCH_SIZE))
        run.add("sinks.firestore.commit_busy_s", busy)
        run.add("sinks.firestore.commit_ms_p50",
                statistics.median(c[1] - c[0] for c in commits) * 1e3 if commits else 0.0)
        run.add("sinks.firestore.convert_s",
                sum(c["closed"] - c["opened"] for c in clients) - busy)
        run.add("sinks.firestore.spool_bytes_per_doc", verify.spool_bytes(spool) / max(docs, 1))
        words = sum(state.values())
        run.add("operators.wordcount.words", words)
        run.add("operators.wordcount.distinct_words", len(state))
        run.add("operators.wordcount.combine_ratio", wc["shuffle_records"] / max(words, 1))
        shutil.rmtree(spool, ignore_errors=True)


# --------------------------------------------------------------------------
# Query mix: registered queries over the fixture tables
# --------------------------------------------------------------------------


class QueryMixWorkload:
    def __init__(self, run: Run, cfg: dict) -> None:
        import __spark_entry__ as entry
        from perfbench import spec, verify

        self.run = run
        self.tables_dir = os.path.join(ROOT, cfg["fixture"])
        registered = entry.queries()
        self.queries = {name: registered[name] for name in spec.MIX}
        self.module = dict(spec.MIX)
        self.expected = verify.oracle_rowsets(
            self.tables_dir, {name: entry.oracle_sql()[name] for name in spec.MIX},
            os.path.join(WORK, "cache"))
        self.order_rng = random.Random(run.args.seed)
        self.table_names = sorted(e.name[:-8] for e in os.scandir(self.tables_dir)
                                  if e.name.endswith(".parquet"))
        self.input_mb = sum(os.path.getsize(os.path.join(self.tables_dir, f"{t}.parquet"))
                            for t in self.table_names) / 1e6

    def job(self, traced: bool = False) -> dict[str, float]:
        """One pass over the mix in a seeded order; returns each query's seconds.

        A traced pass reads back its per-layer counters afterwards."""
        from perfbench import tracing, verify

        run, spark, tracer = self.run, self.run.spark, self.run.tracer
        tracer.job += 1
        order = list(self.queries)
        self.order_rng.shuffle(order)
        seconds, results, timings = {}, [], {}
        for name in order:
            group = f"q-{tracer.job}-{name}"
            try:
                if traced:
                    with JobGroup(spark, group), tracer.span(f"query.{name}") as q:
                        with tracer.span("build") as b:
                            df = self.queries[name](spark, self.tables_dir)
                        with tracer.span("action"):
                            rows = df.collect()
                    timings[name] = (q, b)
                    seconds[name] = q["end"] - q["start"]
                else:
                    start = time.perf_counter()
                    df = self.queries[name](spark, self.tables_dir)
                    rows = df.collect()
                    seconds[name] = time.perf_counter() - start
                results.append((name, df.columns, rows))
            except Exception:  # noqa: BLE001 - a failed query is counted, the pass goes on
                traceback.print_exc()
                run.record(["raised"], name)
                seconds[name] = float("nan")
            finally:
                spark.catalog.clearCache()
        for name, columns, rows in results:
            run.record(verify.check_rows(columns, rows, self.expected[name]), name)
        if traced:
            self._layers(timings)
        return seconds

    def _layers(self, timings: dict) -> None:
        from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import load_table
        from perfbench import spec, tracing

        run, spark, tracer = self.run, self.run.spark, self.run.tracer
        per_module = {m: dict.fromkeys(("build_s", "action_s", "cpu_s", "shuffle_bytes",
                                        "tasks", "floor_s"), 0.0) for m in spec.MIX_MODULES}
        for name, (q, b) in timings.items():
            stages = tracing.stage_metrics(spark, f"q-{tracer.job}-{name}")
            wall = q["end"] - q["start"]
            agg = per_module[self.module[name]]
            agg["build_s"] += b["end"] - b["start"]
            agg["action_s"] += q["end"] - b["end"]
            agg["cpu_s"] += stages["cpu_s"]
            agg["shuffle_bytes"] += stages["shuffle_bytes"]
            agg["tasks"] += stages["tasks"]
            agg["floor_s"] += wall - tracing.covered(stages["intervals"], q["start"], q["end"])
            run.add(f"query.{name}.s", wall)
        for module, agg in per_module.items():
            for key, value in agg.items():
                run.add(f"operators.{module}.{key}", value)
        with tracer.span("sources.tables.scan") as s:
            for table in self.table_names:
                load_table(spark, self.tables_dir, table).write.format("noop").mode("overwrite").save()
        run.add("sources.tables.scan_s", s["end"] - s["start"])


# --------------------------------------------------------------------------


def measure(run: Run, workload, kind: str, seconds: float) -> dict:
    """First job, then later jobs until ``seconds`` of them are measured.

    Each job is a dict of per-part seconds (one part for word count, one
    per query for the mix).  In a traced run every later job is an
    (untraced, traced) pair, so the tracing overhead is measured in the
    same process.
    """
    first = workload.job()
    plain: list[dict[str, float]] = []
    traced: list[dict[str, float]] = []
    min_jobs = 1 if run.args.trace else MIN_LATER_JOBS[kind]
    while not plain or (
            (sum(map(total, plain + traced)) < seconds or len(plain) < min_jobs)
            and process_age_s() < WALL_CAP_S):
        if not run.args.trace:
            plain.append(workload.job())
        elif len(plain) % 2:
            # Alternate which side of the pair runs first, so warm-up over
            # the run does not bias the overhead either way.
            traced.append(workload.job(traced=True))
            plain.append(workload.job())
        else:
            plain.append(workload.job())
            traced.append(workload.job(traced=True))
    return {"first": first, "plain": plain, "traced": traced}


def median_or_nan(values) -> float:
    values = [v for v in values if v == v]
    return statistics.median(values) if values else float("nan")


def min_or_nan(values) -> float:
    values = [v for v in values if v == v]
    return min(values) if values else float("nan")


def total(job: dict[str, float]) -> float:
    return sum(job.values())


def typical_job_s(jobs: list[dict[str, float]]) -> float:
    """Sum over the parts of each part's fastest time across ``jobs``.

    Other tenants of a shared host only ever slow a repetition down, so
    the fastest one is the steadiest estimate of the job.  Taken per part,
    a pause that slows one query in one pass does not count."""
    return sum(min_or_nan([job.get(part, float("nan")) for job in jobs])
               for part in jobs[0]) if jobs else float("nan")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--seconds", type=float, default=8.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    from perfbench import spec

    if args.workload not in spec.WORKLOADS:
        parser.error(f"--workload must be one of {sorted(spec.WORKLOADS)}")
    os.makedirs(WORK, exist_ok=True)
    run_dir = fresh_dir(WORK, f"run-{os.getpid()}")
    try:
        pin_env(run_dir)
        spark, setup = start_session(run_dir)
        try:
            result = run_workload(args, spark, setup, run_dir)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run_workload(args, spark, setup: dict, run_dir: str) -> dict:
    from perfbench import spec, tracing

    cfg = spec.WORKLOADS[args.workload]
    run = Run(args, spark, run_dir)
    run.tracer.spans.append({"name": "session.setup", "start": time.time() - setup["setup_s"],
                             "end": time.time(), "parent": None, "job": 0})
    workload = (WordCountWorkload if cfg["kind"] == "wordcount" else QueryMixWorkload)(run, cfg)
    with tracing.RssSampler() as rss:
        jobs = measure(run, workload, cfg["kind"], args.seconds)
    print(f"setup {setup} jobs {jobs}", file=sys.stderr)

    job_s = typical_job_s(jobs["plain"])
    if args.trace:
        metrics = {name: 0.0 for name in spec.per_layer()}
        metrics.update({name: median_or_nan(v) for name, v in run.layer.items()})
        metrics["session.build_s"] = setup["build_s"]
        metrics["session.warmup_s"] = setup["warmup_s"]
        metrics["trace.overhead_s"] = typical_job_s(jobs["traced"]) - job_s
        units = spec.per_layer()
        out = {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()}
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        run.tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        values = {
            "setup_s": setup["setup_s"],
            "first_job_s": total(jobs["first"]),
            "job_s": job_s,
            "input_mb_s": workload.input_mb / job_s,
            "peak_rss_mb": rss.peak / 1e6,
            "success_frac": 1.0 - run.failed / max(run.attempted, 1),
        }
        out = {k: {"value": v, "unit": spec.END_TO_END[k][0]} for k, v in values.items()}
    return {"correct": run.failed == 0 and run.attempted > 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": out}


if __name__ == "__main__":
    # Import perfbench as a package from the repository root, and keep its
    # module names from shadowing others.
    sys.path[0] = ROOT
    sys.exit(main())
