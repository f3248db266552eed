"""curation-queries: the curation question. The six keep-list-family queries
of plans.queries over a seeded documents.parquet in the testdata schema.

Each query re-derives the exact + near duplicate closure through the same
exact, banded_join and cluster layers web-crawl uses, but as many short,
plan-heavy jobs. One client runs the queries in a fixed order in a closed
loop; one op is one query, its rows collected to the driver and compared
with the query's DuckDB oracle answer.
"""

from __future__ import annotations

import time
from collections import Counter

import harness
import inputs

N_DOCS = 200
QUERIES = inputs.CURATION_QUERIES


def prepare(seed: int) -> dict:
    return {"sf_dir": inputs.documents(N_DOCS, seed)}


class State:
    def __init__(self, spark, sf_dir) -> None:
        import __spark_entry__ as entry

        registry = entry.queries()
        self.spark = spark
        self.sf_dir = sf_dir
        self.fns = {q: registry[q] for q in QUERIES}
        self.oracle = {q: inputs.oracle_answer(sf_dir, q) for q in QUERIES}
        self.expected_rows = 0
        self.matched_rows = 0
        self.returned_rows = 0


def run_query(state: State, name: str):
    """One op: plan the query and collect its rows."""
    with harness.OpClock() as c:
        pdf = state.fns[name](state.spark, str(state.sf_dir)).toPandas()
    return c, pdf


def check(state: State, checks: harness.Checks, name: str, pdf) -> None:
    cols, kinds, rows = inputs.normalize(pdf)
    want = state.oracle[name]
    got_rows = Counter(map(tuple, rows))
    want_rows = Counter(map(tuple, want["rows"]))
    same_cols = cols == want["cols"]
    matched = sum((got_rows & want_rows).values()) if same_cols else 0
    state.expected_rows += len(want["rows"])
    state.returned_rows += len(rows)
    state.matched_rows += matched
    ok = same_cols and kinds == want["kinds"] and got_rows == want_rows
    checks.record(ok, f"{name}: cols_same={same_cols} matched={matched}/{len(want['rows'])}")


def setup(spark, inp: dict, checks: harness.Checks) -> tuple[State, dict]:
    """Load the oracle answers, then one untimed warm-up round of all six
    queries. With only the keep list warmed, the timed round was the first
    run of the five others, and its median CPU swung 40% between runs."""
    with harness.OpClock() as load:
        state = State(spark, inp["sf_dir"])
    with harness.OpClock() as warm:
        for name in QUERIES:
            run_query(state, name)
    return state, {
        "setup_cpu_s": load.cpu + warm.cpu,
        "load": {"wall_s": load.wall, "cpu_s": load.cpu},
        "warmup": {"wall_s": warm.wall, "cpu_s": warm.cpu},
    }


def measure(spark, state: State, seconds: float, checks: harness.Checks) -> tuple[dict, dict]:
    clocks: dict[str, list[harness.OpClock]] = {q: [] for q in QUERIES}
    deadline = time.perf_counter() + seconds
    i = 0
    # whole rounds only, so every run times the same mix of queries
    while time.perf_counter() < deadline or i % len(QUERIES):
        name = QUERIES[i % len(QUERIES)]
        clock, pdf = run_query(state, name)
        clocks[name].append(clock)
        check(state, checks, name, pdf)
        i += 1
    every = [c for cs in clocks.values() for c in cs]
    cpu = harness.summarize([c.cpu for c in every])
    metrics = {
        "op_cpu_ms": cpu["p50"] * 1000,
        "op_wall_ms": harness.summarize([c.wall for c in every])["p50"] * 1000,
        "docs_per_cpu_s": N_DOCS / cpu["p50"],
        "pair_recall": state.matched_rows / state.expected_rows,
        "pair_precision": state.matched_rows / state.returned_rows,
    }
    return metrics, {
        "query_cpu_s": {q: harness.summarize([c.cpu for c in cs]) for q, cs in clocks.items()},
        "query_wall_s": {q: harness.summarize([c.wall for c in cs]) for q, cs in clocks.items()},
        "all_cpu_s": cpu,
    }


def traced(spark, state: State, checks: harness.Checks) -> tuple[dict, dict]:
    """A round with spans around the layer calls the queries make, then an
    untraced round with each query under its own job group (per-query wall
    and job counts); the overhead is the traced round minus the untraced
    one."""
    from pyspark.sql import functions as F

    from intraarchivededuplicator_spark.plans import queries

    from spans import Tracer

    tr = Tracer(spark)
    tr.wrap(queries, "docs_with_sig", "hashing", "hashing.docs",
            after=lambda df: tr.count(df.filter(F.col("simhash").isNotNull()),
                                      "hashing.signed"))
    tr.wrap(queries, "with_text_hash", "exact")
    tr.wrap(queries, "exact_pairs", "exact", "exact.edges")
    tr.wrap(queries, "banded_self_join", "banded_join", "banded_join.pairs")
    tr.wrap(queries, "assign_clusters", "cluster", count_arg=(1, "cluster.edges_in"))
    try:
        with harness.OpClock() as traced_round:
            for name in QUERIES:
                with tr.span(f"queries.{name}"):
                    _, pdf = run_query(state, name)
                check(state, checks, name, pdf)
    finally:
        tr.restore()
        tr.release()
    sc = spark.sparkContext
    untraced: dict[str, harness.OpClock] = {}
    for name in QUERIES:
        sc.setJobGroup(f"untraced.queries.{name}", name)
        untraced[name], pdf = run_query(state, name)
        check(state, checks, name, pdf)
    self_s = tr.self_times()
    metrics = {
        "hashing.self_s": self_s.get("hashing", 0.0),
        "hashing.signed_frac": tr.counts["hashing.signed"] / tr.counts["hashing.docs"],
        "exact.self_s": self_s.get("exact", 0.0),
        "exact.edges": tr.counts["exact.edges"],
        "banded_join.self_s": self_s.get("banded_join", 0.0),
        "banded_join.pairs": tr.counts["banded_join.pairs"],
        "cluster.self_s": self_s.get("cluster", 0.0),
        "cluster.edges_in": tr.counts["cluster.edges_in"],
        **{f"queries.{q}_s": c.wall for q, c in untraced.items()},
        "trace.overhead_s": traced_round.wall - sum(c.wall for c in untraced.values()),
    }
    return metrics, {"untraced_s": {q: c.wall for q, c in untraced.items()},
                     "traced_s": traced_round.wall, "spans": tr.totals()}


def job_metrics(groups: dict, detail: dict) -> dict:
    return {f"queries.{q}_jobs": groups.get(f"untraced.queries.{q}", {}).get("jobs", 0)
            for q in QUERIES}
