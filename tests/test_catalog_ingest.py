"""Catalog verb surface (S6-S9) + incremental ingest (S4/S5) + streaming shim.

Mirrors the reference's DB-API test layer (/root/reference/Tests/Test_DbApi.py:
104-518): insert/upsert/update/delete semantics, plus the incremental
re-scan-skip behavior of scanner/fileHasher.py:309-356.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from intraarchivededuplicator_spark.config import DedupConfig
from intraarchivededuplicator_spark.sources.catalog import ParquetCatalog
from intraarchivededuplicator_spark.sources.ingest import (
    DOCS_TABLE,
    changed_pages,
    incremental_ingest,
)

CFG = DedupConfig(minhash_k=16, minhash_bands=4)


def _pages(spark, rows):
    from intraarchivededuplicator_spark.streaming.ingest_stream import PAGES_SCHEMA

    return spark.createDataFrame(
        [
            (u, dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), None, t, "en")
            for u, t in rows
        ],
        schema=PAGES_SCHEMA,
    )


@pytest.fixture()
def catalog(spark, tmp_path):
    return ParquetCatalog(spark, str(tmp_path / "warehouse"))


class TestCatalogVerbs:
    def test_append_and_read(self, spark, catalog):
        df = spark.range(5).withColumn("v", F.col("id") * 2)
        catalog.append(df, "t")
        catalog.append(spark.range(5, 8).withColumn("v", F.col("id") * 2), "t")
        assert catalog.read("t").count() == 8
        ops = [s["operation"] for s in catalog.snapshots("t")]
        assert ops == ["append", "append"]

    def test_time_travel(self, spark, catalog):
        catalog.append(spark.range(3), "t")
        catalog.append(spark.range(3, 10), "t")
        assert catalog.read("t", version=1).count() == 3
        assert catalog.read("t").count() == 10

    def test_merge_upsert(self, spark, catalog):
        catalog.append(
            spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]), "t"
        )
        catalog.merge(
            spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")]), "t", ["k"]
        )
        got = {r["k"]: r["v"] for r in catalog.read("t").collect()}
        assert got == {1: "a", 2: "B", 3: "c"}

    def test_delete_where_and_refusal(self, spark, catalog):
        catalog.append(spark.range(10), "t")
        catalog.delete_where("t", F.col("id") >= 5)
        assert catalog.read("t").count() == 5
        with pytest.raises(ValueError):
            catalog.delete_where("t", None)

    def test_read_missing_table(self, catalog):
        with pytest.raises(FileNotFoundError):
            catalog.read("nope")

    def test_append_is_delta_only(self, spark, catalog):
        """An append commit must write ONLY the new rows' files — prior
        snapshots' data is re-listed by the manifest, never rewritten
        (Iceberg file-set semantics; O(delta) per commit)."""
        import os

        catalog.append(spark.range(1000), "t")
        tdir = os.path.join(catalog.root, "t")
        first_files = {
            os.path.join(d, f): os.path.getmtime(os.path.join(tdir, d, f))
            for d in os.listdir(tdir)
            if os.path.isdir(os.path.join(tdir, d))
            for f in os.listdir(os.path.join(tdir, d))
        }
        catalog.append(spark.range(1000, 1005), "t")
        # every pre-existing file untouched (same mtime, still present)
        for rel, mtime in first_files.items():
            assert os.path.getmtime(os.path.join(tdir, rel)) == mtime, rel
        # exactly one new data dir, listed after the old one in the snapshot
        snaps = catalog.snapshots("t")
        assert snaps[-1]["dirs"][: len(snaps[0]["dirs"])] == snaps[0]["dirs"]
        assert len(snaps[-1]["dirs"]) == len(snaps[0]["dirs"]) + 1
        assert catalog.read("t").count() == 1005
        assert snaps[-1]["rows"] == 1005


class TestIncrementalIngest:
    def test_first_batch_then_delta_only(self, spark, catalog):
        p1 = _pages(spark, [("http://a/1", "alpha beta gamma"), ("http://a/2", "delta")])
        incremental_ingest(spark, catalog, p1, CFG, extract=False)
        assert catalog.read(DOCS_TABLE).count() == 2
        v1 = catalog.snapshots(DOCS_TABLE)[-1]["version"]

        # batch 2: one unchanged, one changed text, one new
        p2 = _pages(
            spark,
            [
                ("http://a/1", "alpha beta gamma"),  # unchanged -> skipped
                ("http://a/2", "delta CHANGED"),
                ("http://a/3", "epsilon"),
            ],
        )
        existing = catalog.read(DOCS_TABLE)
        delta = changed_pages(p2, existing, extract=False)
        assert sorted(r["url"] for r in delta.select("url").collect()) == [
            "http://a/2",
            "http://a/3",
        ]
        docs = incremental_ingest(spark, catalog, p2, CFG, extract=False)
        assert docs.count() == 3
        changed = {r["url"]: r["text"] for r in docs.collect()}
        assert changed["http://a/2"] == "delta CHANGED"
        assert catalog.snapshots(DOCS_TABLE)[-1]["version"] > v1

    def test_orphan_cleanup_on_full_listing(self, spark, catalog):
        incremental_ingest(
            spark,
            catalog,
            _pages(spark, [("http://a/1", "one"), ("http://a/2", "two")]),
            CFG,
            extract=False,
        )
        docs = incremental_ingest(
            spark,
            catalog,
            _pages(spark, [("http://a/1", "one")]),
            CFG,
            extract=False,
            full_listing=True,
        )
        assert [r["url"] for r in docs.collect()] == ["http://a/1"]


class TestStreamingIngest:
    def test_availablenow_stream_merges_batches(self, spark, catalog, tmp_path):
        from intraarchivededuplicator_spark.streaming.ingest_stream import (
            run_ingest_stream,
        )

        landing = str(tmp_path / "landing")
        _pages(spark, [("http://s/1", "stream one"), ("http://s/2", "stream two")]).write.parquet(
            landing
        )
        run_ingest_stream(
            spark,
            landing,
            catalog,
            checkpoint_dir=str(tmp_path / "ckpt"),
            cfg=CFG,
            extract=False,
        )
        docs = catalog.read(DOCS_TABLE)
        assert docs.count() == 2
        assert set(docs.columns) >= {"id", "url", "text_hash", "simhash", "minhash"}

        # second drop: only the new file is processed (stream checkpoint),
        # only the new url is merged (ingest anti-join)
        _pages(spark, [("http://s/3", "stream three")]).write.mode("append").parquet(
            landing
        )
        run_ingest_stream(
            spark,
            landing,
            catalog,
            checkpoint_dir=str(tmp_path / "ckpt"),
            cfg=CFG,
            extract=False,
        )
        assert catalog.read(DOCS_TABLE).count() == 3

    def test_crawl_rate_watermarked_window(self, spark):
        from intraarchivededuplicator_spark.streaming.ingest_stream import crawl_rate

        from intraarchivededuplicator_spark.streaming.ingest_stream import PAGES_SCHEMA

        rows = [
            (
                f"http://w/{i}",
                dt.datetime(2026, 1, 1, i // 2, tzinfo=dt.timezone.utc),
                None,
                "x",
                "en",
            )
            for i in range(6)
        ]
        out = crawl_rate(spark.createDataFrame(rows, schema=PAGES_SCHEMA)).collect()
        assert sum(r["n_pages"] for r in out) == 6
        assert all(r["window_end"] > r["window_start"] for r in out)


class TestBucketedCatalog:
    """O(delta) merge/delete via hash-bucketed leaves (VERDICT r2 #7) and the
    pre-r2 manifest fallback (ADVICE r2)."""

    def _file_states(self, tdir):
        import os

        out = {}
        for root, _dirs, files in os.walk(tdir):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, tdir)] = (
                        os.path.getmtime(p),
                        os.path.getsize(p),
                    )
        return out

    def test_merge_rewrites_only_colliding_buckets(self, spark, catalog):
        import os

        catalog.set_bucket_spec("t", ["k"], 8)
        catalog.append(
            spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(64)]), "t"
        )
        tdir = os.path.join(catalog.root, "t")
        before = self._file_states(tdir)
        assert any("_bucket=" in p for p in before)

        delta = spark.createDataFrame([Row(k=3, v="NEW3"), Row(k=70, v="v70")])
        catalog.merge(delta, "t", ["k"])

        # delta hits at most 2 of 8 buckets: every leaf of an untouched
        # bucket must be byte-identical (same file, same mtime+size)
        touched = {
            r["b"]
            for r in delta.select(
                catalog._bucket_col({"key_cols": ["k"], "n": 8}).alias("b")
            ).collect()
        }
        for rel, st in before.items():
            bucket = int(rel.split("_bucket=")[1].split("/")[0])
            if bucket not in touched:
                full = os.path.join(tdir, rel)
                assert os.path.exists(full), rel
                assert (os.path.getmtime(full), os.path.getsize(full)) == st, rel
        got = {r["k"]: r["v"] for r in catalog.read("t").collect()}
        assert got[3] == "NEW3" and got[70] == "v70" and got[5] == "v5"
        assert len(got) == 65
        assert catalog.snapshots("t")[-1]["rows"] == 65

    def test_bucketed_delete_touches_matching_buckets_only(self, spark, catalog):
        import os

        catalog.set_bucket_spec("t", ["k"], 8)
        catalog.append(
            spark.createDataFrame([Row(k=i, v=i * 10) for i in range(64)]), "t"
        )
        tdir = os.path.join(catalog.root, "t")
        before = self._file_states(tdir)
        catalog.delete_where("t", F.col("k") == 7)
        after_rows = {r["k"] for r in catalog.read("t").collect()}
        assert 7 not in after_rows and len(after_rows) == 63
        # the bucket holding k=7 was rewritten; count untouched leaves
        unchanged = [
            p
            for p, st in before.items()
            if os.path.exists(os.path.join(tdir, p))
            and (
                os.path.getmtime(os.path.join(tdir, p)),
                os.path.getsize(os.path.join(tdir, p)),
            )
            == st
        ]
        assert len(unchanged) >= len(before) - len(before) // 2

    def test_legacy_manifest_without_dirs_key(self, spark, catalog):
        """Manifests from the pre-r2 v{N:06d} layout (snapshots lack 'dirs')
        must keep reading and appending (ADVICE r2)."""
        import json
        import os

        df = spark.range(10).withColumn("v", F.col("id") + 100)
        tdir = os.path.join(catalog.root, "legacy")
        df.write.parquet(os.path.join(tdir, "v000001"))
        with open(os.path.join(tdir, "_manifest.json"), "w") as f:
            json.dump(
                {
                    "table": "legacy",
                    "current": 1,
                    "snapshots": [
                        {"version": 1, "operation": "append", "rows": 10}
                    ],
                },
                f,
            )
        assert catalog.read("legacy").count() == 10
        catalog.append(spark.range(10, 13).withColumn("v", F.col("id") + 100), "legacy")
        assert catalog.read("legacy").count() == 13
        catalog.merge(
            spark.createDataFrame([Row(id=5, v=999)]), "legacy", ["id"]
        )
        got = {r["id"]: r["v"] for r in catalog.read("legacy").collect()}
        assert got[5] == 999 and len(got) == 13
