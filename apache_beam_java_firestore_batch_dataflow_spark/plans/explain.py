"""Physical-plan inspection helpers.

The engine's scale claims — filters reach the parquet scan, projections
prune the read schema, dimension joins broadcast, narrow pipelines fuse
into whole-stage codegen, no accidental extra shuffles — are testable
properties of the plan text.  tests/test_plans.py pins them so a
refactor that silently drops a pushdown or upgrades a broadcast join to
a shuffle join fails CI, not the 100 TB run.
"""

from __future__ import annotations

import hashlib
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what ``df.explain(mode)`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


# Parts of the formatted plan text that differ between two builds of the
# same query: per-session counters (expression, exchange-plan, RDD and
# lambda-variable ids), JVM object identity hashes, the random suffix of
# a ``mkdtemp`` directory, the Python function names of kernel nodes (a
# kernel's name is not its plan), and an RDD's creation call site (from
# Python that is a JVM reflection frame, printed as
# ``NativeMethodAccessorImpl.java:0`` until the JVM replaces a reflective
# call used ~15 times with a generated accessor, ``<unknown>:0``).
_DIGEST_SUBS = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(RDD\[\] at \w+ at )\S+:\d+"), r"\1*"),
    (re.compile(r"\b(lambda [a-z]+)_\d+"), r"\1"),
    (re.compile(r"(\w)@[0-9a-f]+\b"), r"\1@"),
    (re.compile(r"(/tmp/[\w.-]*?[-_])[a-z0-9_]{8}/"), r"\1*/"),
)
_NODE = re.compile(r"^(?=\(\d+\) )", re.M)
_PY_NODE = re.compile(r"\(\d+\) \w*(?:InPandas|InArrow|EvalPython)")
_PY_CALL = re.compile(r"(?:\w+|<lambda>)(\([^()]*\)#)")


class PlanDigest(NamedTuple):
    text: str
    sha: str


def plan_digest(df: DataFrame) -> PlanDigest:
    """``plan_text(df, "formatted")`` with everything that varies between
    two builds of the same query normalized away (see ``_DIGEST_SUBS``;
    a Python kernel call prints as ``<py>(...)``), plus the SHA-256 of
    that text: equal digests mean the same plan."""
    text = plan_text(df, "formatted")
    for pat, rep in _DIGEST_SUBS:
        text = pat.sub(rep, text)
    # The node details follow the tree, one "(n) Name" section per node;
    # in a Python node's section every ``name(args)#`` call is a kernel.
    text = "".join(
        _PY_CALL.sub(r"<py>\1", sec) if _PY_NODE.match(sec) else sec
        for sec in _NODE.split(text)
    )
    return PlanDigest(text, hashlib.sha256(text.encode()).hexdigest())


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's file scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_text(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings, one per file scan."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan_text(df))]


def num_shuffles(df: DataFrame) -> int:
    """Count of shuffle exchanges in the final (AQE-resolved) plan."""
    return len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning|\bExchange RoundRobinPartitioning", plan_text(df, "simple")))


def num_broadcast_joins(df: DataFrame) -> int:
    """Broadcast joins of either flavor (hash for equi, nested-loop for
    non-equi conditions like kNN's self-pair exclusion)."""
    txt = plan_text(df, "simple")
    return txt.count("BroadcastHashJoin") + txt.count("BroadcastNestedLoopJoin")


def num_sortmerge_joins(df: DataFrame) -> int:
    return plan_text(df, "simple").count("SortMergeJoin")


def codegen_stage_count(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen spans (fused pipelines).

    Executes the plan first: under AQE the codegen annotations (``*(n)``
    in simple mode) only exist on the finalized plan.
    """
    df.collect()
    ids = set(re.findall(r"\*\((\d+)\)", plan_text(df, "simple")))
    return len(ids)


def codegen_stats(spark: SparkSession) -> dict:
    """JVM-wide generated-code compile counters since the JVM started:
    ``classes`` compiled by Janino (``CodegenMetrics`` compilation-time
    histogram count — a cache hit compiles nothing and is not counted)
    and ``compile_s`` spent compiling them (the code generator's exact
    nanosecond total).  Take two readings and subtract to attribute a
    span of work; shared by every session of the JVM."""
    jvm = spark.sparkContext._jvm
    classes = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return {"classes": int(classes), "compile_s": nanos / 1e9}
