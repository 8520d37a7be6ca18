"""Standalone end-to-end and per-layer benchmark for the engine.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; ``BENCHMARK.json`` names the
workloads and metrics, and ``perfbench/spec.py`` records the inputs, the
pinned environment and which end-to-end metric each layer metric moves.
"""
