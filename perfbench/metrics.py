"""Metric definitions (names, units, direction) and the fold of spans
and event-log counters into the per-layer table. ``BENCHMARK.json``
lists the same names; ``tests/test_perfbench.py`` keeps them in step.
"""

from __future__ import annotations

import statistics

from tracing import COUNTERS

# End-to-end metrics, reported by every workload from untraced runs.
# "op" is the workload's timed operation: one search session of one
# query per type (estate_queries), one ingest batch into a persisted
# history plus maintain_lake (corpus_ingest);
# items are queries and offered docs. Operation costs are CPU time of
# the Spark driver, the JVM and the Python workers (JIT compiler threads
# excluded): on a shared host, wall time moves with other tenants' load
# by more than any bound a regression gate could use, so wall-clock
# latency and throughput are reported beside them, unbounded.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_cpu_ms": ("ms", "lower"),
    "items_per_cpu_s": ("items/cpu_s", "higher"),
    "lake_bytes_per_input_byte": ("ratio", "lower"),
}

_S_UNITS = {"s": "s", "jobs": "count", "stages": "count", "tasks": "count",
            "failed_tasks": "count", "executor_run_s": "s",
            "shuffle_write_mb": "MB", "spill_mb": "MB", "input_rows": "count"}
S_SUFFIXES = ("s",) + COUNTERS
PIPELINE_LAYERS = ("pipeline.transform_dvf", "pipeline.transform_lbc",
                   "pipeline.compute_usage", "pipeline.index_fan_out")
QUERY_TYPES = ("search_spec", "search_url", "point_lookup", "facet_totals",
               "within_radius", "sort_page", "top_k_per_group", "market_stats")
BUILD_LAYERS = ("profiled", "gated", "deduped", "recipe", "chunks", "shards")


def _per_layer() -> dict[str, tuple[str, str, str]]:
    """name -> (unit, better, end-to-end metric it should move)."""
    out: dict[str, tuple[str, str, str]] = {
        "setup.session_s": ("s", "lower", "setup_s"),
        "setup.warmup_s": ("s", "lower", "setup_s"),
        # unbounded: JVM heap growth spreads it 15-30% between runs
        "process.peak_rss_mb": ("MB", "lower", "none (memory; no bound)"),
        # unbounded: wall time of the untraced phase
        "wall.op_p50_ms": ("ms", "lower", "none (wall time; no bound)"),
        "wall.items_per_s": ("items/s", "higher", "none (wall time; no bound)"),
    }
    # the reference DAG runs once in estate_queries' set-up
    dag_moves = "setup_s on estate_queries"
    for layer in PIPELINE_LAYERS:
        for suf in S_SUFFIXES:
            out[f"{layer}.{suf}"] = (_S_UNITS[suf], "lower", dag_moves)
    for kind in ("formatted", "usage", "index"):
        out[f"sources.bytes_written.{kind}"] = (
            "bytes", "lower", "lake_bytes_per_input_byte, setup_s, op_cpu_ms on estate_queries")
        out[f"sources.files_written.{kind}"] = (
            "count", "lower", "setup_s, op_cpu_ms on estate_queries")
    out["cleaning.lbc_keep_ratio"] = ("ratio", "higher", dag_moves)
    for t in QUERY_TYPES:
        out[f"q.{t}.p50_ms"] = ("ms", "lower", "op_cpu_ms on estate_queries")
        for suf in ("jobs", "stages", "tasks"):
            out[f"q.{t}.{suf}"] = ("count", "lower", "op_cpu_ms on estate_queries")
        out[f"q.{t}.rows_read_per_row_returned"] = (
            "ratio", "lower", "op_cpu_ms on estate_queries")
    build_moves = "build.s (corpus_build has no timed workload)"
    for suf in S_SUFFIXES:
        out[f"build.{suf}"] = (_S_UNITS[suf], "lower", build_moves)
    for layer in BUILD_LAYERS:
        out[f"build.rows.{layer}"] = ("count", "higher", build_moves)
        out[f"build.bytes.{layer}"] = ("bytes", "lower", build_moves)
    out["build.dedup_keep_ratio"] = ("ratio", "higher", build_moves)
    for suf in S_SUFFIXES:
        out[f"ingest.{suf}"] = (_S_UNITS[suf], "lower", "op_cpu_ms, items_per_cpu_s on corpus_ingest")
    out["ingest.admit_ratio"] = ("ratio", "higher", "items_per_cpu_s on corpus_ingest")
    out["ingest.history_growth_ratio"] = ("ratio", "lower", "op_cpu_ms on corpus_ingest")
    out["maintain.s"] = ("s", "lower", "op_cpu_ms, items_per_cpu_s on corpus_ingest")
    for suf in ("files_before", "files_after"):
        out[f"maintain.{suf}"] = ("count", "lower", "op_cpu_ms on corpus_ingest")
    out["maintain.bytes_rewritten"] = ("bytes", "lower", "items_per_cpu_s on corpus_ingest")
    out["trace.overhead_op_cpu_ms"] = ("ms", "lower", "op_cpu_ms (traced minus untraced)")
    out["trace.crosscheck_mismatches"] = ("count", "lower", "none: event log vs status tracker")
    return out


PER_LAYER = _per_layer()


def median(xs):
    return statistics.median(xs) if xs else 0


def fold_layers(spans, counters: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per layer (span name), the median over its calls of the span
    seconds and of each event-log counter of the call's job group."""
    calls: dict[str, list] = {}
    for s in spans:
        if s.group is not None:
            calls.setdefault(s.name, []).append(s)
    out: dict[str, float] = {}
    for name, ss in calls.items():
        out[f"{name}.s"] = median([s.end - s.start for s in ss])
        for c in COUNTERS:
            out[f"{name}.{c}"] = median([counters.get(s.group, {}).get(c, 0) for s in ss])
    return out
