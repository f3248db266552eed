"""web-crawl: the batch question. dedup_pipeline at the production DedupConfig
(128 MinHash sigs x 32 bands, SimHash radius 4) over seeded fixtures.synth
pages, closed into clusters. One op is one full pass: pages -> docs -> pairs ->
clusters, with the clusters and pairs collected to the driver.

The signature kernel and containment are the two largest layers (45% of a
traced pass at this size; each stage's fixed cost is most of the rest);
engine.probe does nothing.
"""

from __future__ import annotations

import hashlib
import time

import numpy as np
import pandas as pd

import harness
import inputs

N_PAGES = 1200
# The first pass of a JVM costs about two later full ones whatever its size
# (JIT, codegen, Python worker start), so the warm-up pass runs the same plan
# over a small sample. Later passes keep getting a little cheaper, but every
# run repeats the same sequence, so its drift is the same in each.
WARMUP_PAGES = 40
MIN_PASSES = 2
CLUSTER_KINDS = ("exact", "simhash", "containment", "jaccard")
MIN_RECALL = 0.99  # ROADMAP's recall bar for the production config
MIN_PRECISION = 0.99


class State:
    def __init__(self, pages_dir, truth: pd.DataFrame, warmup_dir) -> None:
        self.pages_dir = pages_dir
        self.warmup_dir = warmup_dir
        self.truth = truth
        self.reference_hash: str | None = None


def prepare(seed: int) -> dict:
    return {
        "pages": inputs.crawl_pages(N_PAGES, seed),
        "warmup": inputs.crawl_pages(WARMUP_PAGES, seed + 1_000_003),
    }


def crawl_pass(spark, pages_dir) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """One user-visible op: run the pipeline and collect its answer."""
    from intraarchivededuplicator_spark.engine.pipeline import dedup_pipeline

    out = dedup_pipeline(spark, spark.read.parquet(str(pages_dir / "pages.parquet")))
    clusters = out["clusters"].select("id", "url", "cluster_id").toPandas()
    pairs = out["pairs"].select("id_lo", "id_hi", "kind").toPandas()
    out["hot_bands"].unpersist()
    return clusters, pairs, out


def pair_set_hash(pairs: pd.DataFrame) -> str:
    rows = sorted(zip(pairs["id_lo"].tolist(), pairs["id_hi"].tolist(), pairs["kind"].tolist()))
    return hashlib.md5(repr(rows).encode()).hexdigest()


def score(clusters: pd.DataFrame, pairs: pd.DataFrame, truth: pd.DataFrame) -> tuple[float, float]:
    """(recall, precision) against the synth truth.

    recall: truth-linked (url, base_url) pairs that share a cluster.
    precision: emitted pairs of the clustering kinds whose two pages share a
    truth cluster."""
    cid = dict(zip(clusters["url"], clusters["cluster_id"]))
    linked = truth[truth["base_url"].notna()]
    same = sum(cid.get(u) is not None and cid.get(u) == cid.get(b)
               for u, b in zip(linked["url"], linked["base_url"]))
    recall = same / len(linked) if len(linked) else 1.0
    gt = dict(zip(truth["url"], truth["cluster_gt"]))
    url_of = dict(zip(clusters["id"], clusters["url"]))
    kept = pairs[pairs["kind"].isin(CLUSTER_KINDS)]
    good = sum(gt.get(url_of.get(a)) == gt.get(url_of.get(b)) and url_of.get(a) is not None
               for a, b in zip(kept["id_lo"], kept["id_hi"]))
    precision = good / len(kept) if len(kept) else 1.0
    return recall, precision


def check(state: State, checks: harness.Checks, clusters, pairs, label: str) -> tuple[float, float]:
    h = pair_set_hash(pairs)
    if state.reference_hash is None:
        state.reference_hash = h
    recall, precision = score(clusters, pairs, state.truth)
    ok = h == state.reference_hash and recall >= MIN_RECALL and precision >= MIN_PRECISION
    checks.record(ok, f"{label}: hash_same={h == state.reference_hash} "
                      f"recall={recall:.5f} precision={precision:.5f}")
    return recall, precision


def setup(spark, inp: dict, checks: harness.Checks) -> tuple[State, dict]:
    """Input load plus one warm-up pass over a small sample (JIT, codegen
    and Python worker start, so warm-up is part of set-up)."""
    with harness.OpClock() as load:
        truth = pd.read_parquet(inp["pages"] / "pages_truth.parquet")
    state = State(inp["pages"], truth, inp["warmup"])
    with harness.OpClock() as warm:
        crawl_pass(spark, state.warmup_dir)
    return state, {
        "setup_cpu_s": load.cpu + warm.cpu,
        "load": {"wall_s": load.wall, "cpu_s": load.cpu},
        "warmup": {"wall_s": warm.wall, "cpu_s": warm.cpu},
    }


def measure(spark, state: State, seconds: float, checks: harness.Checks) -> tuple[dict, dict]:
    walls, cpus, recalls, precisions = [], [], [], []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(walls) < MIN_PASSES:
        with harness.OpClock() as c:
            clusters, pairs, _ = crawl_pass(spark, state.pages_dir)
        walls.append(c.wall)
        cpus.append(c.cpu)
        r, p = check(state, checks, clusters, pairs, f"pass {len(walls)}")
        recalls.append(r)
        precisions.append(p)
    cpu = harness.summarize(cpus)
    metrics = {
        "docs_per_cpu_s": N_PAGES / cpu["p50"],
        "op_cpu_ms": cpu["p50"] * 1000,
        "op_wall_ms": harness.summarize(walls)["p50"] * 1000,
        "pair_recall": float(np.median(recalls)),
        "pair_precision": float(np.median(precisions)),
    }
    return metrics, {"pages": N_PAGES, "pass_cpu_s": cpu, "pass_wall_s": harness.summarize(walls)}


def traced(spark, state: State, checks: harness.Checks) -> tuple[dict, dict]:
    """A pass with a span around every layer call, then an untraced pass; the
    overhead is the traced pass minus the untraced one."""
    from intraarchivededuplicator_spark.engine import pipeline
    from intraarchivededuplicator_spark.operators import banded_join

    from spans import Tracer

    tr = Tracer(spark)
    tr.wrap(pipeline, "with_extracted_text", "textprep")
    tr.wrap(pipeline, "with_text_hash", "exact")
    tr.wrap(pipeline, "compute_docs", "hashing")
    tr.wrap(pipeline, "banded_self_join", "banded_join", "banded_join.pairs")
    tr.wrap(banded_join, "hot_band_keys", "banded_join.hot_keys", "banded_join.hot_keys")
    tr.wrap(pipeline, "minhash_candidate_pairs", "lsh.candidates", "lsh.candidates")
    tr.wrap(pipeline, "jaccard_verify_pairs", "lsh.verify", "lsh.verified")
    tr.wrap(pipeline, "containment_pairs", "containment", "containment.pairs")
    tr.wrap(pipeline, "build_pairs", "pipeline.pairs_union")
    tr.wrap(pipeline, "assign_clusters", "cluster", count_arg=(1, "cluster.edges_in"))
    try:
        with harness.OpClock() as traced_clock:
            with tr.span("pipeline.pass"):
                clusters, pairs, out = crawl_pass(spark, state.pages_dir)
        obs = out["observations"]["docs"].get
    finally:
        tr.restore()
        tr.release()
    check(state, checks, clusters, pairs, "traced pass")
    spark.sparkContext.setJobGroup("untraced", "untraced pass")
    with harness.OpClock() as untraced:
        clusters, pairs, _ = crawl_pass(spark, state.pages_dir)
    check(state, checks, clusters, pairs, "untraced pass")

    self_s = tr.self_times()
    cand, verified = tr.counts["lsh.candidates"], tr.counts["lsh.verified"]
    metrics = {
        "textprep.self_s": self_s.get("textprep", 0.0),
        "hashing.self_s": self_s.get("hashing", 0.0),
        "hashing.signed_frac": obs["n_signed"] / obs["n_docs"],
        "exact.self_s": self_s.get("exact", 0.0),
        "exact.edges": float((pairs["kind"] == "exact").sum()),
        "banded_join.self_s": self_s.get("banded_join", 0.0) + self_s.get("banded_join.hot_keys", 0.0),
        "banded_join.pairs": tr.counts["banded_join.pairs"],
        "banded_join.hot_keys": tr.counts["banded_join.hot_keys"],
        "lsh.candidates": cand,
        "lsh.candidates_self_s": self_s.get("lsh.candidates", 0.0),
        "lsh.verify_self_s": self_s.get("lsh.verify", 0.0),
        "lsh.verify_yield": verified / cand if cand else 0.0,
        "containment.self_s": self_s.get("containment", 0.0),
        "containment.pairs": tr.counts["containment.pairs"],
        "cluster.self_s": self_s.get("cluster", 0.0),
        "cluster.edges_in": tr.counts["cluster.edges_in"],
        "pipeline.pairs_union_self_s": self_s.get("pipeline.pairs_union", 0.0),
        "trace.overhead_s": traced_clock.wall - untraced.wall,
    }
    return metrics, {"untraced_s": untraced.wall, "traced_s": traced_clock.wall,
                     "spans": tr.totals()}
