#!/usr/bin/env python
"""Diff every registered query's physical plan between this checkout and
a git revision.

Usage: python scripts/plan_diff.py REF --sf DIR [--head REV] [query ...]

Builds every ``queries()`` entry (or the named ones) over the fixture
tables in ``--sf`` (e.g. the sf0.01 fixture) without running it: once in
a fresh process on this checkout's working tree (or on revision
``--head``) and once on revision ``REF``, each revision a ``git
archive`` export under ``/tmp``.  Plans are compared by
``plans/explain.plan_digest`` (formatted plan text with per-session ids,
object hashes and Python kernel names normalized).  Prints the count of
identical plans, a unified diff for each changed query, the queries that
failed to build or exist on one side only, and every query that ran
Spark jobs while being built (memo prebuilds, checkpoints, bounded
collects): construction work is reported, not hidden.  Exit status 0
either way; the report is the result.

Expression ids are normalized away, but Spark orders a few operators by
hashing them (e.g. the ``Expand`` of several distinct aggregates), so a
query built after different earlier queries can print a reordered plan.
Name such a query alone to rebuild it in a fresh process on both sides.
``q_graph_hits`` runs 26 or 27 construction jobs across full runs for a
cause not yet found (8 warm builds in one session read 26 every time),
so a ±1 construction-job difference there is not by itself a change.
"""

from __future__ import annotations

import argparse
import difflib
import importlib.util
import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXPLAIN = os.path.join(
    ROOT, "apache_beam_java_firestore_batch_dataflow_spark", "plans", "explain.py"
)


def dump(tree: str, sf_dir: str, only: list[str], out: str) -> None:
    """Child process: build every query of the checkout at ``tree`` and
    write ``{query: {"text", "sha", "jobs"} | {"error"}}`` to ``out``."""
    # The digest comes from THIS checkout's explain.py, loaded under its
    # own name, so both sides normalize identically even when ``tree``
    # predates plan_digest.
    spec = importlib.util.spec_from_file_location("plan_diff_explain", EXPLAIN)
    explain = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(explain)
    sys.path.insert(0, tree)
    import __spark_entry__ as entry
    from apache_beam_java_firestore_batch_dataflow_spark.session import build_session

    spark = build_session(app_name="plan-diff", master="local[2]", shuffle_partitions=2)
    sc = spark.sparkContext
    queries = entry.queries()
    result = {}
    for name in only or sorted(queries):
        if name not in queries:
            continue
        group = f"plan-diff-{name}"
        sc.setJobGroup(group, group)
        try:
            d = explain.plan_digest(queries[name](spark, sf_dir))
            result[name] = {"text": d.text, "sha": d.sha}
        except Exception as exc:  # a build failure is part of the report
            result[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        result[name]["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    spark.stop()
    with open(out, "w") as f:
        json.dump(result, f)


def _export(rev: str, tmp: str, tag: str) -> str:
    tree = os.path.join(tmp, tag)
    os.mkdir(tree)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
    return tree


def _side(tree: str, sf_dir: str, only: list[str], tmp: str, tag: str) -> dict:
    out = os.path.join(tmp, f"{tag}.json")
    cmd = [sys.executable, os.path.abspath(__file__), "--dump", out, "--tree", tree,
           "--sf", sf_dir, *only]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    if proc.returncode:
        sys.exit(f"building the {tag} plans failed:\n{proc.stderr[-3000:]}")
    with open(out) as f:
        return json.load(f)


def report(head: dict, ref: dict, ref_name: str, head_name: str) -> None:
    both = sorted(set(head) & set(ref))
    ok = [q for q in both if "sha" in head[q] and "sha" in ref[q]]
    changed = [q for q in ok if head[q]["sha"] != ref[q]["sha"]]
    print(f"{len(ok) - len(changed)}/{len(ok)} plans identical to {ref_name}")
    for q in changed:
        print(f"\n=== {q}")
        sys.stdout.writelines(
            difflib.unified_diff(
                ref[q]["text"].splitlines(keepends=True),
                head[q]["text"].splitlines(keepends=True),
                fromfile=f"{ref_name}:{q}", tofile=f"{head_name}:{q}", n=1,
            )
        )
    for q in both:
        for tag, side in ((head_name, head), (ref_name, ref)):
            if "error" in side[q]:
                print(f"\nbuild failed on {tag}: {q}: {side[q]['error']}")
    for tag, a, b in ((head_name, head, ref), (ref_name, ref, head)):
        for q in sorted(set(a) - set(b)):
            print(f"only on {tag}: {q}")
    jobs = [q for q in both if head[q]["jobs"] or ref[q]["jobs"]]
    print(f"\nconstruction-time Spark jobs ({len(jobs)} queries; {head_name} / {ref_name}):")
    for q in jobs:
        print(f"  {q}: {head[q]['jobs']} / {ref[q]['jobs']}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", metavar="REF [query ...]",
                    help="git revision to compare against, then optional query names")
    ap.add_argument("--head", help="git revision to use instead of the working tree")
    ap.add_argument("--sf", required=True, help="fixture directory to build against")
    ap.add_argument("--dump", help=argparse.SUPPRESS)
    ap.add_argument("--tree", help=argparse.SUPPRESS)
    args = ap.parse_intermixed_args()
    if args.dump:
        dump(args.tree, args.sf, args.names, args.dump)
        return
    if not args.names:
        ap.error("REF is required")
    ref_name, *queries = args.names
    with tempfile.TemporaryDirectory(prefix="plan-diff-", dir="/tmp") as tmp:
        head_tree = _export(args.head, tmp, "head") if args.head else ROOT
        head = _side(head_tree, args.sf, queries, tmp, "head")
        ref = _side(_export(ref_name, tmp, "ref"), args.sf, queries, tmp, "ref")
    report(head, ref, ref_name, args.head or "working tree")


if __name__ == "__main__":
    main()
