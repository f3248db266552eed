"""Streaming SimHash near-dedup: equivalence to the batch twin, horizon
semantics, exactly-once emission, and bounded state.

Differential pattern mirrors the reference's BK-tree-vs-brute-force compare
(/root/reference/Tests/Test_db_BKTree_Compare.py:30-70): the stateful
streaming operator must produce the same verified pair set as the
set-oriented batch definition on the same corpus.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from intraarchivededuplicator_spark.functions.hashing import (
    band_keys_np,
    hamming64,
    popcount64_np,
)
from intraarchivededuplicator_spark.streaming.ingest_stream import PAGES_SCHEMA
from intraarchivededuplicator_spark.streaming.near_dedup_stream import (
    duration_ms,
    near_pairs_within_horizon,
    stream_simhash_near_pairs,
)

T0 = dt.datetime(2026, 3, 1, 12, 0, 0)


def _corpus(offsets_texts):
    """[(url_suffix, minutes_offset, text)] -> rows matching PAGES_SCHEMA."""
    return [
        (f"http://s/{u}", T0 + dt.timedelta(minutes=m), None, text, "en")
        for u, m, text in offsets_texts
    ]


BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen sleepy "
    "badgers watch from the mossy riverbank under a pale october moon"
)


def _variant(i: int) -> str:
    # one token appended: only the boundary shingles change, so the SimHash
    # lands within a couple of bits of BASE (measured: base<->extraN = 2,
    # extra1<->extra2 = 4 at shingle_k=3)
    return BASE + f" extra{i}"


def _write_batches(spark, tmp_path, batches):
    """Write each batch as its own parquet file with increasing mtime so the
    file stream (maxFilesPerTrigger=1) replays them in order."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    t = 1_700_000_000
    for i, rows in enumerate(batches):
        part = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, schema=PAGES_SCHEMA).coalesce(1).write.parquet(part)
        for f in os.listdir(part):
            if f.endswith(".parquet"):
                dst = os.path.join(landing, f"batch{i}.parquet")
                os.rename(os.path.join(part, f), dst)
                os.utime(dst, (t + i, t + i))
    return landing


def _run_stream(spark, landing, tmp_path, name, **kw):
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    out = stream_simhash_near_pairs(stream, extract=False, **kw)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).collect()


class TestKernels:
    def test_popcount64_np_matches_hamming64(self):
        rng = np.random.default_rng(7)
        a = rng.integers(-(2**63), 2**63, size=200, dtype=np.int64)
        b = rng.integers(-(2**63), 2**63, size=200, dtype=np.int64)
        got = popcount64_np(a.astype(np.uint64) ^ b.astype(np.uint64))
        want = [hamming64(int(x), int(y)) for x, y in zip(a, b)]
        assert got.tolist() == want

    @pytest.mark.parametrize("n_bands", [1, 3, 5, 8, 16])
    def test_band_keys_np_matches_spark_expression(self, spark, n_bands):
        from intraarchivededuplicator_spark.functions.columns import band_keys_array

        rng = np.random.default_rng(11)
        sigs = rng.integers(-(2**63), 2**63, size=64, dtype=np.int64)
        df = spark.createDataFrame([(int(s),) for s in sigs], "sig long")
        want = df.select(band_keys_array("sig", n_bands).alias("k")).collect()
        got = band_keys_np(sigs, n_bands)
        assert [r["k"] for r in want] == got.tolist()

    def test_duration_ms(self):
        assert duration_ms("90 seconds") == 90_000
        assert duration_ms("24 hours") == 24 * 3_600_000
        with pytest.raises(ValueError):
            duration_ms("3 fortnights")


class TestStreamingNearDedup:
    def test_stream_matches_batch_twin_exactly_once(self, spark, tmp_path):
        """Pairs from the stateful streaming operator == the batch banded
        join gated by the horizon, each emitted exactly once even though a
        near pair collides in several of the 5 bands."""
        # three near-dup families + unrelated docs, spread over 3 micro-batches
        rows = [
            ("a1", 0, _variant(1)),
            ("b1", 2, "completely different text about gardening tools and rakes"),
            ("a2", 10, _variant(2)),  # pairs with a1 (cross-batch)
            ("c1", 11, BASE),
            ("a3", 20, _variant(3)),  # pairs with a1, a2, c1...
            ("c2", 21, BASE),         # exact dup of c1 -> distance 0
        ]
        batches = [
            _corpus(rows[0:2]),
            _corpus(rows[2:4]),
            _corpus(rows[4:6]),
        ]
        landing = _write_batches(spark, tmp_path, batches)
        got = _run_stream(
            spark, landing, tmp_path, "near_out", radius=4, watermark="2 hours"
        )
        got_pairs = {(r["url_lo"], r["url_hi"], r["distance"]) for r in got}
        assert len(got) == len(got_pairs), "a pair was emitted more than once"

        static = spark.createDataFrame(_corpus(rows), schema=PAGES_SCHEMA)
        from intraarchivededuplicator_spark.functions.udfs import simhash64_udf
        from intraarchivededuplicator_spark.functions.hashing import BAD_SIMHASHES

        docs = static.select(
            "url",
            F.col("warc_ts").cast("long").alias("ts_sec"),
            simhash64_udf(F.col("text")).alias("sig"),
        )
        want = near_pairs_within_horizon(
            docs, "url", "sig", "ts_sec", radius=4,
            horizon_sec=2 * 3600, blacklist=BAD_SIMHASHES,
        ).collect()
        want_pairs = {(r["id_lo"], r["id_hi"], r["distance"]) for r in want}
        assert got_pairs == want_pairs
        assert len(want_pairs) >= 4  # the fixture really exercises near dups

        # pair_ts is the later page's event time
        by_pair = {(r["url_lo"], r["url_hi"]): r["pair_ts"] for r in got}
        want_ts = {
            (r["id_lo"], r["id_hi"]): dt.datetime.fromtimestamp(
                r["pair_ts_sec"], dt.timezone.utc
            ).replace(tzinfo=None)
            for r in want
        }
        assert by_pair == want_ts

    def test_horizon_excludes_stale_pairs(self, spark, tmp_path):
        """Two byte-identical pages 48h apart with a 24h horizon never pair;
        the same pages 1h apart do. The bounded-state contract."""
        far = [
            _corpus([("x1", 0, BASE)]),
            _corpus([("x2", 48 * 60, BASE)]),
        ]
        landing = _write_batches(spark, tmp_path, far)
        got = _run_stream(
            spark, landing, tmp_path, "far_out", radius=4, watermark="24 hours"
        )
        assert got == []

        near = [
            _corpus([("y1", 0, BASE)]),
            _corpus([("y2", 60, BASE)]),
        ]
        landing2 = _write_batches(spark, tmp_path / "n", near)
        got2 = _run_stream(
            spark, landing2, tmp_path, "near2_out", radius=4, watermark="24 hours"
        )
        assert [(r["url_lo"], r["url_hi"], r["distance"]) for r in got2] == [
            ("http://s/y1", "http://s/y2", 0)
        ]

    def test_state_survives_query_restart(self, spark, tmp_path):
        """North-rule resumability: the band-shard state lives in the
        streaming state store, so a stopped query restarted from the same
        checkpoint still pairs a new arrival with a page seen BEFORE the
        restart — no re-read of old batches, no lost state."""
        landing = str(tmp_path / "landing")
        os.makedirs(landing)

        sink = str(tmp_path / "pairs_sink")

        def run_once():
            # file sink (memory sink does not support checkpoint recovery)
            stream = (
                spark.readStream.schema(PAGES_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(landing)
            )
            out = stream_simhash_near_pairs(
                stream, radius=4, watermark="24 hours", extract=False
            )
            q = (
                out.writeStream.format("parquet")
                .outputMode("append")
                .option("path", sink)
                .option("checkpointLocation", str(tmp_path / "ckpt_resume"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(sink).collect()

        def drop(i, rows):
            part = str(tmp_path / f"r{i}")
            spark.createDataFrame(rows, schema=PAGES_SCHEMA).coalesce(1).write.parquet(part)
            for f in os.listdir(part):
                if f.endswith(".parquet"):
                    os.rename(os.path.join(part, f), os.path.join(landing, f"r{i}.parquet"))

        drop(0, _corpus([("r1", 0, BASE)]))
        first = run_once()  # processes r1, query stops
        assert first == []

        drop(1, _corpus([("r2", 30, BASE)]))
        second = run_once()  # fresh query, same checkpoint
        assert [(r["url_lo"], r["url_hi"], r["distance"]) for r in second] == [
            ("http://s/r1", "http://s/r2", 0)
        ]

    def test_hot_cap_bounds_state(self, spark, tmp_path):
        """hot_cap keeps only the newest members of a band key: within-batch
        pairs still all emit, but a capped-out old member no longer pairs
        with later arrivals (the documented lossy trade on hot keys)."""
        batches = [
            _corpus([("h1", 0, BASE), ("h2", 1, BASE), ("h3", 2, BASE)]),
            _corpus([("h4", 10, BASE)]),
        ]
        landing = _write_batches(spark, tmp_path, batches)
        got = _run_stream(
            spark, landing, tmp_path, "hot_out",
            radius=4, watermark="2 hours", hot_cap=2,
        )
        pairs = {(r["url_lo"], r["url_hi"]) for r in got}
        u = "http://s/"
        # batch 1: all 3 pairs; batch 2: h4 sees only {h2, h3} (h1 evicted)
        assert pairs == {
            (u + "h1", u + "h2"), (u + "h1", u + "h3"), (u + "h2", u + "h3"),
            (u + "h2", u + "h4"), (u + "h3", u + "h4"),
        }


class TestStreamingEmbeddingNearDedup:
    """The hyperplane-LSH vector stream through the same stateful core:
    multi-batch replay must emit exactly the Hamming-radius pairs within
    the horizon, recomputed brute-force in Python from the batch
    signature kernel (no engine pair code)."""

    RADIUS = 15
    N_BANDS = 16
    HORIZON_S = 14_400

    def _sigs(self, spark, emb_rows):
        from intraarchivededuplicator_spark.operators.ann import (
            make_hyperplane_udf,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            emb_rows, "vec_id long, embedding array<float>"
        )
        sig_udf = make_hyperplane_udf(64)
        return {
            r.vec_id: r.sig
            for r in df.select(
                "vec_id",
                sig_udf(F.col("embedding").cast("array<double>")).alias("sig"),
            ).collect()
        }

    def test_embedding_stream_matches_brute_force(self, spark, tmp_path):
        import duckdb

        from intraarchivededuplicator_spark.streaming.near_dedup_stream import (
            stream_embedding_near_pairs,
        )

        con = duckdb.connect()
        emb_rows = con.sql(
            "SELECT vec_id, embedding FROM "
            "'/root/testdata/sf0.001/embeddings.parquet' ORDER BY vec_id"
        ).fetchall()
        sigs = self._sigs(spark, emb_rows)

        # brute-force truth: radius + horizon over the batch kernel's sigs
        want = set()
        ids = sorted(sigs)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if (
                    hamming64(sigs[a], sigs[b]) <= self.RADIUS
                    and abs(a - b) * 61 <= self.HORIZON_S
                ):
                    want.add((a, b))
        assert want, "fixture must exercise the radius"

        # replay as 4 ordered micro-batches (state must carry across)
        landing = str(tmp_path / "landing")
        os.makedirs(landing)
        t = 1_700_000_000
        n = len(emb_rows)
        for i in range(4):
            chunk = emb_rows[i * n // 4 : (i + 1) * n // 4]
            rows = [
                (
                    f"{vid:012d}",
                    dt.datetime.fromtimestamp(vid * 61 + 86_400, dt.timezone.utc),
                    vec,
                )
                for vid, vec in chunk
            ]
            part = str(tmp_path / f"e{i}")
            spark.createDataFrame(
                rows, "url string, warc_ts timestamp, embedding array<float>"
            ).coalesce(1).write.parquet(part)
            for f in os.listdir(part):
                if f.endswith(".parquet"):
                    dst = os.path.join(landing, f"batch{i}.parquet")
                    os.rename(os.path.join(part, f), dst)
                    os.utime(dst, (t + i, t + i))

        stream = (
            spark.readStream.schema(
                "url string, warc_ts timestamp, embedding array<float>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        out = stream_embedding_near_pairs(
            stream,
            dim=64,
            radius=self.RADIUS,
            n_bands=self.N_BANDS,
            watermark="48 hours",
            horizon=f"{self.HORIZON_S} seconds",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("emb_stream_pairs")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_emb"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table("emb_stream_pairs").collect()
        got = {(int(r.url_lo), int(r.url_hi)) for r in rows}
        assert got == want
        assert len(rows) == len(got), "exactly-once emission violated"
        for r in rows:
            assert hamming64(
                sigs[int(r.url_lo)], sigs[int(r.url_hi)]
            ) == r.distance
