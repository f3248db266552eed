"""Metric names and units the benchmark reports (mirrored in BENCHMARK.json)."""

from __future__ import annotations

from inputs import CURATION_QUERIES
from spans import COUNTER_LAYERS

# Times are CPU time of the process tree (driver, JVM, Python workers), which
# steal time on a shared host does not move, plus one wall figure per op,
# which shows a loss of parallelism or added latency that CPU time cannot.
# The peak resident memory of the tree (which follows the JVM's heap growth
# more than the program) is kept in the context line.
END_TO_END = {
    "setup_s": "s",
    "docs_per_cpu_s": "1/s",
    "op_cpu_ms": "ms",
    "op_wall_ms": "ms",
    "pair_recall": "fraction",
    "pair_precision": "fraction",
    "ok_ops_frac": "fraction",
}

PER_LAYER = {
    "textprep.self_s": "s",
    "hashing.self_s": "s",
    "hashing.signed_frac": "fraction",
    "exact.self_s": "s",
    "exact.edges": "count",
    "banded_join.self_s": "s",
    "banded_join.pairs": "count",
    "banded_join.hot_keys": "count",
    "lsh.candidates": "count",
    "lsh.candidates_self_s": "s",
    "lsh.verify_self_s": "s",
    "lsh.verify_yield": "fraction",
    "containment.self_s": "s",
    "containment.pairs": "count",
    "cluster.self_s": "s",
    "cluster.edges_in": "count",
    "pipeline.pairs_union_self_s": "s",
    "probe.build_s": "s",
    "probe.band_keys_ms": "ms",
    "probe.scan_ms": "ms",
    "probe.spark_jobs_per_probe": "count",
    "probe.matches_per_probe": "count",
    "probe.rebuild_ms": "ms",
    **{f"queries.{q}_s": "s" for q in CURATION_QUERIES},
    **{f"queries.{q}_jobs": "count" for q in CURATION_QUERIES},
    **{
        f"{layer}.{counter}": unit
        for layer in COUNTER_LAYERS
        for counter, unit in (
            ("shuffle_write_mb", "MB"),
            ("spill_mb", "MB"),
            ("peak_exec_mem_mb", "MB"),
            ("task_skew", "ratio"),
        )
    },
    "trace.overhead_s": "s",
}
