"""Streaming near-dedup throughput + at-scale equivalence evidence.

Streams the seed-pinned scaling corpus (fixtures/synth.py, the same one the
flagship scaling pairs use) through streaming/near_dedup_stream.
stream_simhash_near_pairs in availableNow micro-batches, then recomputes the
same pair set with the batch twin (near_pairs_within_horizon) and asserts
set equality — the unit-test differential (tests/test_streaming_near_dedup)
repeated at corpus scale. Records wall, docs/sec, micro-batch count, and the
CPU canary so the number is window-comparable (see tools/scaling_bench.py).

The measured path is SimHash UDF -> band explode -> stateful pair emission
(extract=False: the corpus ships extracted text; HTML extract throughput is
covered by the flagship bench). Horizon is set wider than the corpus's event
span so the equivalence target is the full radius pair set.

Env knobs: STREAM_ROWS (default 160000 — reuses the cached scaling corpus),
STREAM_CPUS (default 8), STREAM_FILES_PER_TRIGGER (default 4).

Usage: python tools/stream_bench.py   # prints one JSON line; appends nothing
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_ROWS = int(os.environ.get("STREAM_ROWS", "160000"))
CPUS = int(os.environ.get("STREAM_CPUS", "8"))
FILES_PER_TRIGGER = int(os.environ.get("STREAM_FILES_PER_TRIGGER", "4"))
RADIUS = 4
HORIZON = "365 days"  # wider than the corpus event span: full pair set

# reuse scaling_bench's corpus cache + canary (same seed, same layout)
os.environ.setdefault("SCALE_ROWS", str(N_ROWS))
_spec = importlib.util.spec_from_file_location(
    "scaling_bench", os.path.join(REPO, "tools", "scaling_bench.py")
)
_sb = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_sb)


def main() -> None:
    _sb.ensure_corpus()
    corpus = f"{_sb.CORPUS_DIR}/pages.parquet"
    sink = f"/tmp/stream_bench_sink_{N_ROWS}"
    ckpt = f"/tmp/stream_bench_ckpt_{N_ROWS}"
    for d in (sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    from pyspark.sql import functions as F

    from intraarchivededuplicator_spark.session import get_spark
    from intraarchivededuplicator_spark.streaming.ingest_stream import PAGES_SCHEMA
    from intraarchivededuplicator_spark.streaming.near_dedup_stream import (
        near_pairs_within_horizon,
        stream_simhash_near_pairs,
    )

    spark = get_spark(
        app="stream-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    canary0 = _sb.cpu_canary()

    t0 = time.time()
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(corpus)
    )
    out = stream_simhash_near_pairs(
        stream, radius=RADIUS, watermark=HORIZON, extract=False
    )
    q = (
        out.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len(q.recentProgress)
    wall = time.time() - t0
    got = spark.read.parquet(sink).select("url_lo", "url_hi", "distance")
    n_pairs = got.count()

    # batch twin on the identical corpus (same sig kernel, same horizon gate)
    from intraarchivededuplicator_spark.functions.udfs import simhash64_udf

    t1 = time.time()
    docs = spark.read.parquet(corpus).select(
        "url",
        F.col("warc_ts").cast("long").alias("ts_sec"),
        simhash64_udf(F.col("text")).alias("sig"),
    )
    from intraarchivededuplicator_spark.functions.hashing import BAD_SIMHASHES
    from intraarchivededuplicator_spark.streaming.near_dedup_stream import duration_ms

    want = near_pairs_within_horizon(
        docs, "url", "sig", "ts_sec", RADIUS,
        duration_ms(HORIZON) // 1000, blacklist=BAD_SIMHASHES,
    ).select(
        F.col("id_lo").alias("url_lo"),
        F.col("id_hi").alias("url_hi"),
        "distance",
    )
    n_want = want.count()
    batch_wall = time.time() - t1
    only_stream = got.exceptAll(want).count()
    only_batch = want.exceptAll(got).count()
    canary1 = _sb.cpu_canary()

    print(
        json.dumps(
            {
                "metric": "stream_near_dedup_docs_per_sec",
                "value": round(N_ROWS / wall, 1),
                "unit": "docs/sec",
                "rows": N_ROWS,
                "cpus": CPUS,
                "wall_sec": round(wall, 2),
                "micro_batches": n_batches,
                "files_per_trigger": FILES_PER_TRIGGER,
                "n_pairs_stream": n_pairs,
                "n_pairs_batch": n_want,
                "only_in_stream": only_stream,
                "only_in_batch": only_batch,
                "equal": only_stream == 0 and only_batch == 0 and n_pairs == n_want,
                "batch_twin_wall_sec": round(batch_wall, 2),
                "canary_sec": {"start": round(canary0, 3), "end": round(canary1, 3)},
            }
        )
    )


if __name__ == "__main__":
    main()
