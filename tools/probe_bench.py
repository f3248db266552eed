"""Bench ProbeSession's driver-resident index on a 1M-signature corpus.

The reference answers single-pHash probes from a resident BK-tree; its perf
harness (profile_bk.py) uses a 1M-node tree and radius-4 probes, and so does
this bench. It records:

  - single-probe `search` latency (p50 / p95 / mean) after one warm probe;
  - the index build time and the driver process's RSS growth across it
    (the snapshot's arrays, next to their nominal (2 + 2·n_bands)·8 B per
    signature);
  - a batch-size sweep, 10^2..10^5 queries: `search_batch` (collect the
    queries, answer in the driver) against `banded_radius_search` (one Spark
    band join over the corpus), each timed to a counted result, median of
    `reps` runs; and the crossover, the smallest batch at which the join is
    faster (null if it never is within the sweep).

Both batch paths read the same cached query frame, and the join reads a
cached corpus frame, so neither pays for shipping rows from Python.

Usage: python tools/probe_bench.py [n_corpus] [n_probes]
Writes BENCH/probe_bench.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from intraarchivededuplicator_spark.engine.probe import ProbeSession  # noqa: E402
from intraarchivededuplicator_spark.operators.banded_join import (  # noqa: E402
    banded_radius_search,
)
from intraarchivededuplicator_spark.session import get_spark  # noqa: E402

RADIUS = 4
BATCH_SIZES = (100, 300, 1_000, 3_000, 10_000, 30_000, 100_000)


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmRSS missing from /proc/self/status")


def median_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    n_corpus = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(
        app="probe-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    rng = np.random.RandomState(4242)
    base = rng.randint(-(2**63), 2**63, size=n_corpus, dtype=np.int64)
    # plant near-dups so probes return non-empty results
    flips = np.int64(1) << rng.randint(0, 64, size=n_corpus // 10)
    base[: n_corpus // 10] = base[n_corpus // 10 : 2 * (n_corpus // 10)] ^ flips
    corpus = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n_corpus, dtype=np.int64), "sig": base})
    ).repartition(cpus).cache()
    corpus.count()

    rss0 = rss_mb()
    t0 = time.perf_counter()
    sess = ProbeSession(corpus, radius=RADIUS)
    t_build = time.perf_counter() - t0
    rss_growth = rss_mb() - rss0
    snapshot_mb = sum(a.nbytes for a in sess._snap) / 2**20

    probes = [int(s) for s in base[rng.randint(0, n_corpus, size=n_probes)]]
    sess.search(probes[0])
    lat, hits = [], 0
    for sig in probes:
        t0 = time.perf_counter()
        hits += len(sess.search(sig))
        lat.append(1000 * (time.perf_counter() - t0))
    lat.sort()
    search_ms = {
        "p50_ms": lat[len(lat) // 2],
        "p95_ms": lat[int(len(lat) * 0.95)],
        "mean_ms": sum(lat) / len(lat),
    }

    # batches mix near copies of indexed rows with fresh signatures
    sweep, crossover = [], None
    for size in BATCH_SIZES:
        q = base[rng.randint(0, n_corpus, size=size)]
        q[size // 2 :] = rng.randint(-(2**63), 2**63, size=size - size // 2, dtype=np.int64)
        q[: size // 2] ^= np.int64(1) << rng.randint(0, 64, size=size // 2)
        queries = spark.createDataFrame(
            pd.DataFrame({"id": np.arange(size, dtype=np.int64), "sig": q})
        ).cache()
        queries.count()
        reps = 3 if size <= 10_000 else 2
        batch_s = median_s(lambda: sess.search_batch(queries).count(), reps)
        join_s = median_s(
            lambda: banded_radius_search(corpus, queries, radius=RADIUS).count(), reps
        )
        n_matches = sess.search_batch(queries).count()
        queries.unpersist()
        sweep.append({
            "queries": size,
            "search_batch_ms": round(1000 * batch_s, 1),
            "banded_radius_search_ms": round(1000 * join_s, 1),
            "matches": n_matches,
        })
        print(json.dumps(sweep[-1]), file=sys.stderr)
        if crossover is None and join_s < batch_s:
            crossover = size

    out = {
        "n_corpus": n_corpus,
        "n_probes": n_probes,
        "radius": RADIUS,
        "n_bands": sess.n_bands,
        "cpus": cpus,
        "build_s": round(t_build, 3),
        "driver_rss_growth_mb": round(rss_growth, 1),
        "snapshot_mb": round(snapshot_mb, 1),
        "search_ms": {k: round(v, 3) for k, v in search_ms.items()},
        "total_matches": hits,
        "batch_sweep": sweep,
        "crossover_queries": crossover,
    }
    with open(os.path.join(ROOT, "BENCH", "probe_bench.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    sess.close()
    spark.stop()


if __name__ == "__main__":
    main()
