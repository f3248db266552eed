"""probe-serve: the lookup question. A resident ProbeSession (radius 4) over
seeded signed-int64 SimHashes with planted neighbours at distance 1..4.

One client in a closed loop sends the two request shapes of the reference
server (server/server.py:31-53):

  processDownload       one download of DOWNLOAD_SIZE files: every file is
                        probed in one `search_batch` (the batch radius search
                        of _doHashSearches, ProcessArchive.py:473-519), then
                        the files are added to the index with one `insert`
                        (addArch), so later probes can hit them;
  single_phash_search   one `search` probe.

A probe or a downloaded file is a near copy of an indexed file (the index as
it stands, inserted files included) with probability HIT_FRAC, and new
otherwise. A run sends downloads back to back, then single probes back to
back: no source gives the ratio of the two, and interleaving them made each
shape's cost depend on it (Spark jobs of one shape slow the next op of the
other), so each shape is timed in a stream of its own. The resident index
does all the work; the signature UDFs never run.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

import harness
import inputs

N_INDEX = 100_000
RADIUS = 4
DOWNLOAD_SIZE = 1000
# near copies: the non-unique share of the crawl class mix (0.41)
HIT_FRAC = 1.0 - dict(inputs.CRAWL_FRACTIONS)["unique"]
BATCH_SAMPLE = 16  # random download files checked against brute force
BUILD_REPS = 2
MIN_DOWNLOADS = 4
MIN_SEARCHES = 32
WARMUP_SEARCHES = 8


class State:
    def __init__(self, spark, index: pd.DataFrame, seed: int) -> None:
        self.spark = spark
        self.ids = index["id"].to_numpy()
        self.sigs = index["sig"].to_numpy()
        self.n_base = len(self.sigs)
        self.rng = np.random.default_rng(seed + 7919)
        self.session = None
        self.builds: list[dict] = []
        self.true_pairs = 0
        self.found_pairs = 0
        self.returned_pairs = 0
        self.correct_returned = 0

    # -- probe generation (untimed) ----------------------------------------

    def probes(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """n probe sigs, each a near copy of a uniformly chosen indexed row
        with probability HIT_FRAC and a fresh signature otherwise; plus the
        row each near copy was made from (-1 for a fresh one)."""
        hit = self.rng.random(n) < HIT_FRAC
        target = np.full(n, -1, dtype=np.int64)
        target[hit] = self.rng.integers(0, len(self.sigs), hit.sum())
        sig = inputs.random_sigs(self.rng, n)
        sig[hit] = inputs.flip_bits(self.rng, self.sigs[target[hit]], RADIUS)
        return sig, target

    def insert_frame(self, sigs: np.ndarray) -> pd.DataFrame:
        start = len(self.sigs)
        return pd.DataFrame({"id": np.arange(start, start + len(sigs), dtype=np.int64),
                             "sig": sigs})

    def applied_insert(self, frame: pd.DataFrame) -> None:
        self.ids = np.concatenate([self.ids, frame["id"].to_numpy()])
        self.sigs = np.concatenate([self.sigs, frame["sig"].to_numpy()])

    # -- correctness (untimed) ----------------------------------------------

    def truth(self, sig: int) -> set[tuple[int, int]]:
        d = inputs.hamming_to_all(sig, self.sigs)
        hit = np.nonzero(d <= RADIUS)[0]
        return {(int(self.ids[i]), int(d[i])) for i in hit}

    def check(self, checks: harness.Checks, sig: int, target: int,
              got: set[tuple[int, int]], label: str) -> None:
        want = self.truth(sig)
        self.true_pairs += len(want)
        self.found_pairs += len(want & got)
        self.returned_pairs += len(got)
        self.correct_returned += len(got & want)
        found_target = target < 0 or any(i == target for i, _ in got)
        checks.record(got == want and found_target,
                      f"{label}: sig={sig} target={target} got={len(got)} want={len(want)}")


def prepare(seed: int) -> dict:
    return {"sigs": inputs.probe_index(N_INDEX, seed, RADIUS), "seed": seed}


def _frame(spark, sigs: np.ndarray):
    return spark.createDataFrame(pd.DataFrame(
        {"id": np.arange(len(sigs), dtype=np.int64), "sig": sigs}))


def run_search(state: State, sig: int) -> tuple[harness.OpClock, set]:
    with harness.OpClock() as c:
        rows = state.session.search(int(sig))
    return c, set(rows)


def run_batch(state: State, frame) -> tuple[harness.OpClock, dict[int, set]]:
    with harness.OpClock() as c:
        rows = state.session.search_batch(frame).collect()
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r["q_id"], set()).add((r["match_id"], r["distance"]))
    return c, out


def run_insert(state: State, sigs: np.ndarray) -> harness.OpClock:
    frame = state.insert_frame(sigs)
    df = state.spark.createDataFrame(frame)
    with harness.OpClock() as c:
        state.session.insert(df)
    state.applied_insert(frame)
    return c


def single_search(state: State, checks: harness.Checks, samples: dict) -> None:
    (sig,), (target,) = state.probes(1)
    clock, got = run_search(state, sig)
    samples["search"].append(clock)
    state.check(checks, int(sig), int(target), got, "search")


def download(state: State, checks: harness.Checks, samples: dict) -> None:
    """search_batch over the download's files, then insert of the same files."""
    sigs, targets = state.probes(DOWNLOAD_SIZE)
    batch, got = run_batch(state, _frame(state.spark, sigs))
    # a random sample, plus every file copied from an inserted row
    sample = set(state.rng.choice(DOWNLOAD_SIZE, BATCH_SAMPLE, replace=False).tolist())
    sample |= set(np.nonzero(targets >= state.n_base)[0].tolist())
    for q in sorted(sample):
        state.check(checks, int(sigs[q]), int(targets[q]), got.get(int(q), set()),
                    "search_batch")
    samples["batch"].append(batch)
    samples["insert"].append(run_insert(state, sigs))


def new_samples() -> dict:
    return {"search": [], "batch": [], "insert": []}


def sequence(state: State, checks: harness.Checks, samples: dict) -> None:
    """WARMUP_SEARCHES single probes, then one download: the warm-up (so the
    timed downloads follow a download), and the op sequence of a traced run."""
    for _ in range(WARMUP_SEARCHES):
        single_search(state, checks, samples)
    download(state, checks, samples)


def setup(spark, inp: dict, checks: harness.Checks) -> tuple[State, dict]:
    """Load the index, build the session BUILD_REPS times (median reported),
    then one untimed warm-up sequence."""
    from intraarchivededuplicator_spark.engine.probe import ProbeSession

    path = inp["sigs"]
    with harness.OpClock() as load:
        index = pd.read_parquet(path / "index.parquet")
        corpus = spark.read.parquet(str(path / "index.parquet"))
        state = State(spark, index, inp["seed"])
    builds = []
    for _ in range(BUILD_REPS):
        if state.session is not None:
            state.session.close()
        with harness.OpClock() as c:
            state.session = ProbeSession(corpus, RADIUS)
        builds.append(c)
    with harness.OpClock() as warm:
        sequence(state, harness.Checks(), new_samples())
    state.builds = [{"wall_s": c.wall, "cpu_s": c.cpu} for c in builds]
    return state, {
        "setup_cpu_s": load.cpu + statistics.median(c.cpu for c in builds) + warm.cpu,
        "load": {"wall_s": load.wall, "cpu_s": load.cpu},
        "build": state.builds,
        "warmup": {"wall_s": warm.wall, "cpu_s": warm.cpu},
    }


def measure(spark, state: State, seconds: float, checks: harness.Checks) -> tuple[dict, dict]:
    samples = new_samples()
    deadline = time.perf_counter() + seconds / 2
    while time.perf_counter() < deadline or len(samples["batch"]) < MIN_DOWNLOADS:
        download(state, checks, samples)
    deadline = time.perf_counter() + seconds / 2
    while time.perf_counter() < deadline or len(samples["search"]) < MIN_SEARCHES:
        single_search(state, checks, samples)
    # the two query shapes agree on the final index
    sigs, targets = state.probes(8)
    _, batch = run_batch(state, _frame(spark, sigs))
    for q, (sig, target) in enumerate(zip(sigs, targets)):
        _, got = run_search(state, sig)
        checks.record(got == batch.get(q, set()), f"search vs search_batch: sig={sig}")
    cpu = {k: harness.summarize([c.cpu for c in v]) for k, v in samples.items()}
    wall = {k: harness.summarize([c.wall for c in v]) for k, v in samples.items()}
    # a download's cost is its search_batch plus its insert
    downloads = list(zip(samples["batch"], samples["insert"]))
    cpu["download"] = harness.summarize([b.cpu + i.cpu for b, i in downloads])
    wall["download"] = harness.summarize([b.wall + i.wall for b, i in downloads])
    metrics = {
        "op_cpu_ms": cpu["search"]["p50"] * 1000,
        "op_wall_ms": wall["search"]["p50"] * 1000,
        "docs_per_cpu_s": DOWNLOAD_SIZE / cpu["download"]["p50"],
        "pair_recall": state.found_pairs / state.true_pairs,
        "pair_precision": state.correct_returned / state.returned_pairs,
    }
    return metrics, {"cpu_s": cpu, "wall_s": wall, "index_size": int(len(state.sigs))}


def traced(spark, state: State, checks: harness.Checks) -> tuple[dict, dict]:
    """An op sequence with spans around the session's public calls and the
    band-key helper it calls per probe, then the same sequence untraced; the
    overhead is the traced sequence minus the untraced one."""
    from intraarchivededuplicator_spark.engine import probe

    from spans import Tracer

    tr = Tracer(spark)
    tr.wrap(probe, "band_keys_np", "probe.band_keys", materialize=False)
    tr.wrap(probe.ProbeSession, "search", "probe.search", "probe.matches", materialize=False)
    tr.wrap(probe.ProbeSession, "insert", "probe.rebuild", materialize=False)
    tr.wrap(probe.ProbeSession, "search_batch", "probe.search_batch")
    try:
        with harness.OpClock() as traced_clock:
            sequence(state, checks, new_samples())
    finally:
        tr.restore()
        tr.release()
    spark.sparkContext.setJobGroup("untraced", "untraced sequence")
    with harness.OpClock() as untraced:
        sequence(state, checks, new_samples())
    totals, self_s = tr.totals(), tr.self_times()
    n_search, _ = totals["probe.search"]
    n_insert, insert_s = totals["probe.rebuild"]
    metrics = {
        "probe.build_s": statistics.median(b["wall_s"] for b in state.builds),
        "probe.band_keys_ms": totals["probe.band_keys"][1] / n_search * 1000,
        "probe.scan_ms": self_s["probe.search"] / n_search * 1000,
        "probe.matches_per_probe": tr.counts["probe.matches"] / n_search,
        "probe.rebuild_ms": insert_s / n_insert * 1000,
        "trace.overhead_s": traced_clock.wall - untraced.wall,
    }
    return metrics, {"untraced_s": untraced.wall, "traced_s": traced_clock.wall,
                     "searches": n_search, "spans": totals}


def job_metrics(groups: dict, detail: dict) -> dict:
    jobs = groups.get("perf.probe.search", {}).get("jobs", 0)
    return {"probe.spark_jobs_per_probe": jobs / detail["searches"]}
