"""Shared plumbing for the benchmark: environment, Spark lifecycle, process-tree
memory, the CPU canary, sample statistics and the result line.

The harness sets its own environment and changes no repository default: the
Spark master, driver heap, local dirs and the Python workers' import path are
all set here, from the host it runs on.
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
TMP = WORK / "tmp"
PACKAGE = "intraarchivededuplicator_spark"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(ram_mb: int) -> int:
    """A quarter of host RAM, between 1 GiB and 4 GiB: the inputs are small,
    and the repository default (48g) exceeds small hosts outright."""
    return max(1024, min(4096, ram_mb // 4))


def configure_env() -> dict:
    """Point Spark at this host and this checkout; return what was chosen."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise SystemExit(f"perfbench: package {PACKAGE!r} not found under {ROOT}")
    cpus, ram = host_cpus(), host_ram_mb()
    local_dir = WORK / "spark-local"
    local_dir.mkdir(parents=True, exist_ok=True)
    TMP.mkdir(parents=True, exist_ok=True)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{driver_mem_mb(ram)}m",
        SPARK_LOCAL_DIRS=str(local_dir),
        # temp files stay in the checkout: Python's, and every JVM's
        # (the launcher and the driver: native libraries, artifacts)
        TMPDIR=str(TMP),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
        # pandas UDF workers import the package by name
        PYTHONPATH=":".join(path),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return {"nproc": cpus, "ram_mb": ram, "driver_mem_mb": driver_mem_mb(ram)}


def versions() -> dict:
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0]}


def start_spark(app: str, event_log_dir: Path | None = None):
    """SparkSession at local[nproc] through the package's own factory."""
    from intraarchivededuplicator_spark.session import get_spark

    conf = {}
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(app=app, master=f"local[{host_cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any failure to exit ends in a kill
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _reap_descendants()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every process this run started; kill stragglers."""
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


_HZ = os.sysconf("SC_CLK_TCK")


def _proc_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM
    and its Python workers), including reaped children. Steal time is not
    CPU time, so this clock ignores a host that takes cycles away."""
    own = _proc_fields(os.getpid())
    total = sum(int(x) for x in own[11:15])
    for pid in descendants():
        try:
            total += sum(int(x) for x in _proc_fields(pid)[11:15])
        except OSError:
            continue
    return total / _HZ


class OpClock:
    """Wall time and process-tree CPU time of one op."""

    def __init__(self) -> None:
        self.wall = self.cpu = 0.0

    def __enter__(self) -> "OpClock":
        self._cpu0 = tree_cpu_s()
        self._wall0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._wall0
        self.cpu = tree_cpu_s() - self._cpu0


def steal_s() -> float:
    """Host steal time so far, summed over the host's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


class PeakRss:
    """Peak resident memory of this process and every live descendant (the
    JVM and its Python workers): polled sums of each live process's kernel
    high-water mark (VmHWM), so a process's own peak is never missed and an
    exited worker is never added to one that replaced it."""

    def __init__(self, interval: float = 1.0) -> None:
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_canary() -> float:
    """Single-core md5 loop, in seconds. A diagnostic of host speed only:
    it never gates a sample or triggers a retry."""
    t0 = time.perf_counter()
    for i in range(400_000):
        hashlib.md5(b"canary %d" % i).digest()
    return time.perf_counter() - t0


def summarize(samples: list[float]) -> dict:
    """Median, quartiles and count over every timed sample."""
    if not samples:
        return {"n": 0}
    s = sorted(samples)
    if len(s) == 1:
        q1 = med = q3 = s[0]
    else:
        q1, med, q3 = statistics.quantiles(s, n=4, method="inclusive")
    return {"n": len(s), "p25": q1, "p50": med, "p75": q3, "min": s[0], "max": s[-1]}


class Checks:
    """Per-op correctness ledger; every attempted op lands here exactly once."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    @property
    def ok_frac(self) -> float:
        return (self.attempted - self.failed) / self.attempted if self.attempted else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(result: dict, context: dict, name: str) -> None:
    """Write the full record under the work dir, print the context line, then
    the result as the last line of stdout."""
    out = WORK / "results"
    out.mkdir(parents=True, exist_ok=True)
    with open(out / f"{name}.json", "w") as f:
        json.dump({"context": context, "result": result}, f, indent=1, sort_keys=True)
    print(json.dumps({"perfbench_context": context}, sort_keys=True))
    print(json.dumps(result, sort_keys=True), flush=True)
