"""Spans around the program's public layer calls, and Spark counters per layer.

A traced pass patches the public functions a workload reaches (module
attributes, resolved by the caller at call time) with wrappers that open a
span, label the Spark jobs they run with a job group named after the span,
and materialize the DataFrame they return, so each stage's work lands inside
its own span. Spans stay in memory until the run ends. A layer's self time is
its spans' durations minus the time their child spans cover.

Spark counters (shuffle write, spill, peak execution memory, task skew) come
from the session's own event log, folded per job group after the session
stops.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "perf."
COUNT_SPAN = "trace.count"  # bookkeeping counts: excluded from every layer
COUNTER_LAYERS = (
    "textprep", "hashing", "exact", "banded_join", "lsh", "containment",
    "cluster", "pipeline", "probe", "queries",
)


class Tracer:
    def __init__(self, spark) -> None:
        from pyspark.storagelevel import StorageLevel

        self._sc = spark.sparkContext
        self._level = StorageLevel.MEMORY_AND_DISK
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._cached: list = []

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        outer = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(GROUP_PREFIX + name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if outer is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(outer, outer)

    def count(self, df, key: str) -> int:
        """Row count of `df` for a per-layer counter, outside every layer."""
        with self.span(COUNT_SPAN):
            n = df.count()
        self.counts[key] += n
        return n

    def materialize(self, df, key: str | None = None):
        """Persist and count `df` inside the current span: one job that both
        runs the stage and yields its row count."""
        df = df.persist(self._level)
        n = df.count()
        self._cached.append(df)
        if key:
            self.counts[key] += n
        return df

    # -- patching ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, count_key: str | None = None,
             materialize: bool = True,
             count_arg: tuple[int, str] | None = None, after=None) -> None:
        """Replace owner.attr with a spanned call. DataFrame results are
        materialized inside the span and their rows counted into count_key;
        list results add their length. count_arg=(i, key) also counts the
        rows of the i-th positional argument. after(out) runs outside the
        span, for counts that need the result."""
        from pyspark.sql import DataFrame

        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                if count_arg is not None:
                    self.count(args[count_arg[0]], count_arg[1])
                out = orig(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = self.materialize(out, count_key)
                elif count_key and isinstance(out, list):
                    self.counts[count_key] += len(out)
            if after is not None:
                after(out)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # -- folding -------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name, summed over every span of that name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def totals(self) -> dict[str, tuple[int, float]]:
        """(number of spans, total seconds) per span name."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            out[s["name"]][0] += 1
            out[s["name"]][1] += s["end"] - s["start"]
        return {k: (v[0], v[1]) for k, v in out.items()}


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


def fold_event_log(log_dir: Path, app_id: str) -> dict[str, dict]:
    """Per job group: jobs, shuffle write MB, spill MB, peak execution memory
    MB (max over tasks) and task skew (per stage max / median task run time,
    weighted by the stage's task time)."""
    app_dir = log_dir / f"eventlog_v2_{app_id}"
    if app_dir.is_dir():
        files = sorted(app_dir.glob("events_*"),
                       key=lambda p: int(p.name.split("_")[1]))
    else:
        files = [log_dir / app_id]
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "peak_exec_mem_mb": 0.0, "_stage_times": defaultdict(list)})
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = g
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                    if g:
                        groups[g]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if not g or not m:
                        continue
                    acc = groups[g]
                    acc["shuffle_write_mb"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20)
                    acc["spill_mb"] += (
                        m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
                    acc["peak_exec_mem_mb"] = max(
                        acc["peak_exec_mem_mb"], m["Peak Execution Memory"] / 2**20)
                    acc["_stage_times"][ev["Stage ID"]].append(m["Executor Run Time"])
    out = {}
    for g, acc in groups.items():
        num = den = 0.0
        for times in acc.pop("_stage_times").values():
            total = sum(times)
            med = statistics.median(times)
            if len(times) > 1 and med > 0:
                num += total * max(times) / med
                den += total
        acc["task_skew"] = num / den if den else 1.0
        out[g] = acc
    return out


def layer_counters(groups: dict[str, dict]) -> dict[str, float]:
    """<layer>.shuffle_write_mb / spill_mb / peak_exec_mem_mb / task_skew for
    every layer in COUNTER_LAYERS (0, and skew 1, for a layer that ran no
    Spark task in this workload)."""
    by_layer: dict[str, list[dict]] = defaultdict(list)
    for g, acc in groups.items():
        if g.startswith(GROUP_PREFIX):
            by_layer[layer_of(g[len(GROUP_PREFIX):])].append(acc)
    out = {}
    for layer in COUNTER_LAYERS:
        accs = by_layer.get(layer, [])
        out[f"{layer}.shuffle_write_mb"] = sum(a["shuffle_write_mb"] for a in accs)
        out[f"{layer}.spill_mb"] = sum(a["spill_mb"] for a in accs)
        out[f"{layer}.peak_exec_mem_mb"] = max((a["peak_exec_mem_mb"] for a in accs), default=0.0)
        out[f"{layer}.task_skew"] = max((a["task_skew"] for a in accs), default=1.0)
    return out
