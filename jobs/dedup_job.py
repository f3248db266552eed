"""spark-submit entry point for the full dedup pipeline.

Cluster deploy (north rule: spark-submit --py-files on a multi-executor
cluster):

    zip -r iad_spark.zip intraarchivededuplicator_spark
    spark-submit --py-files iad_spark.zip jobs/dedup_job.py \
        --input  /data/pages            \
        --warehouse /data/dedup_wh      \
        --checkpoint-dir /data/dedup_ck \
        --simhash-radius 4

Local smoke:

    python jobs/dedup_job.py --input /tmp/scale_corpus_2000_42/pages.parquet \
        --warehouse /tmp/wh --checkpoint-dir /tmp/ck

The job is resumable: stages whose checkpoint sidecar exists with the same
config fingerprint are re-read, not recomputed (engine/checkpoint.py). Final
tables land in a versioned parquet catalog under --warehouse
(sources/catalog.ParquetCatalog): docs, pairs, clusters, hot_bands, plus a
run_metrics lineage table. The SimHash band count follows from the radius
(config.bands_for_radius).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="pages parquet path/table")
    p.add_argument("--warehouse", required=True, help="catalog root")
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--no-extract", action="store_true", help="input already has text")
    p.add_argument("--k-shingle", type=int, default=5)
    p.add_argument("--simhash-radius", type=int, default=4)
    p.add_argument("--minhash-k", type=int, default=128)
    p.add_argument("--minhash-bands", type=int, default=32)
    p.add_argument("--hot-band-threshold", type=int, default=500)
    p.add_argument("--jaccard-verify-threshold", type=float, default=0.7)
    p.add_argument(
        "--containment-winnow-w", type=int, default=None,
        help="winnowed containment anchors (exchange cut ~(w+1)/2x); only "
        "safe when true inner dups exceed w + k_shingle + 1 tokens "
        "(web pages: 8). Default off.",
    )
    p.add_argument("--master", default=None, help="override (tests); omit under spark-submit")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from intraarchivededuplicator_spark.config import DedupConfig
    from intraarchivededuplicator_spark.engine.checkpoint import StageCheckpointer
    from intraarchivededuplicator_spark.engine.pipeline import dedup_pipeline
    from intraarchivededuplicator_spark.sources.catalog import ParquetCatalog

    if args.master:
        from intraarchivededuplicator_spark.session import get_spark

        spark = get_spark(app="dedup-job", master=args.master)
    else:
        # under spark-submit the cluster manager provides master/conf
        spark = SparkSession.builder.appName("dedup-job").getOrCreate()

    cfg = DedupConfig(
        k_shingle=args.k_shingle,
        simhash_radius=args.simhash_radius,
        minhash_k=args.minhash_k,
        minhash_bands=args.minhash_bands,
        hot_band_threshold=args.hot_band_threshold,
        jaccard_verify_threshold=args.jaccard_verify_threshold,
        containment_winnow_w=args.containment_winnow_w,
    )
    ck = StageCheckpointer(root=args.checkpoint_dir)
    catalog = ParquetCatalog(spark, args.warehouse)

    t0 = time.time()
    pages = spark.read.parquet(args.input)
    out = dedup_pipeline(
        spark, pages, cfg, checkpointer=ck, extract=not args.no_extract
    )
    for name in ("docs", "pairs", "clusters", "hot_bands"):
        catalog.overwrite(out[name], name)

    metrics = [
        {**m, "partitions": json.dumps(m.get("partitions", []))} for m in ck.metrics
    ]
    if metrics:
        catalog.append(
            spark.createDataFrame(metrics), "run_metrics"
        )
    summary = {
        "wall_sec": round(time.time() - t0, 2),
        "docs": catalog.read("docs").count(),
        "pairs": catalog.read("pairs").count(),
        "clusters": catalog.read("clusters").select("cluster_id").distinct().count(),
        "resumed_stages": [m["stage"] for m in ck.metrics if m.get("resumed")],
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, ".")
    main()
