"""The gated-query registry and the streaming replays behind it.

`oracle_sql()` is the one list of gated queries: `queries()` derives from it,
so every `q_<name>` in plans.queries must have an oracle entry and every
oracle entry a `q_<name>`. The four streaming replays share one harness that
writes a landing zone, runs an availableNow query and materializes its sink;
these tests pin that it maps ids past six digits back exactly and leaves no
scratch dir behind, whether the stream succeeds or raises. The two catalog
roundtrips are held to the same rule, and the queries that reuse one
intermediate table across legs must leave nothing in the session's cache.
"""

from __future__ import annotations

import importlib
import random
import tempfile

import duckdb
import pytest

import __spark_entry__ as entry
from intraarchivededuplicator_spark.plans import oracle
from intraarchivededuplicator_spark.plans import queries as q
from intraarchivededuplicator_spark.sources.catalog import ParquetCatalog

# replay query -> (scratch-dir prefix, stream builder module, builder name)
REPLAYS = {
    "stream_sessions_replay": (
        "sess", "intraarchivededuplicator_spark.streaming.sessionize_stream",
        "stream_sessionize",
    ),
    "stream_near_dedup_replay": (
        "snd", "intraarchivededuplicator_spark.streaming.near_dedup_stream",
        "stream_simhash_near_pairs",
    ),
    "stream_exact_dedup_replay": (
        "sed", "intraarchivededuplicator_spark.streaming.exact_dedup_stream",
        "stream_exact_dedup",
    ),
    "stream_embedding_near_dup_replay": (
        "sev", "intraarchivededuplicator_spark.streaming.near_dedup_stream",
        "stream_embedding_near_pairs",
    ),
}
BIG_ID = 1_000_000  # 7-digit ids: a 6-wide url pad would truncate them


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    fns = {
        name[len("q_"):]
        for name, v in vars(q).items()
        if name.startswith("q_") and callable(v)
    }
    assert fns == set(entry.oracle_sql()) == set(entry.queries())


def _write_documents(d, first_id: int):
    """Eight documents, ids from first_id, with two exact duplicates and one
    one-word edit within the horizon. Returns the open DuckDB connection."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    base = [" ".join(rng.choice(vocab) for _ in range(60)) for _ in range(5)]
    texts = [
        base[0], base[1], base[0], base[0].rsplit(" ", 1)[0] + " edit",
        base[2], base[3], base[1], base[4],
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, 'en', 'src1', ?)",
        [(first_id + i, t, len(t)) for i, t in enumerate(texts)],
    )
    con.execute(f"COPY documents TO '{d}/documents.parquet' (FORMAT PARQUET)")
    return con


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """A tiny sf dir in the testdata schema, with 7-digit document ids."""
    d = tmp_path_factory.mktemp("sf")
    con = _write_documents(d, BIG_ID)
    con.execute(
        f"COPY (SELECT i % 3 AS user_id, i AS event_id, "
        f"TIMESTAMP '2024-01-01' + to_seconds(i * 700) AS ts FROM range(30) t(i)) "
        f"TO '{d}/events.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT i AS vec_id, "
        f"list_transform(range(64), j -> sin(i % 4 * 64 + j)::FLOAT) AS embedding "
        f"FROM range(12) t(i)) TO '{d}/embeddings.parquet' (FORMAT PARQUET)"
    )
    return d


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    """Redirect the temp dir, so leftovers are this test's alone."""
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


def _leftovers(scratch, name):
    return sorted(p.name for p in scratch.glob(REPLAYS[name][0] + "_*"))


def test_replays_round_trip_ids_past_six_digits(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    cases = {
        "stream_exact_dedup_replay": oracle.sql_stream_exact_dedup(
            q.NEAR_HORIZON_SEC
        ),
        "stream_near_dedup_replay": oracle.sql_near_pairs_within_horizon(
            q.SIMHASH_RADIUS, q.NEAR_HORIZON_SEC
        ),
    }
    for name, sql in cases.items():
        rows = getattr(q, "q_" + name)(spark, str(sf_dir)).collect()
        got = sorted(tuple(r) for r in rows)
        want = sorted(con.sql(sql).fetchall())
        assert want, name
        assert got == want, name


@pytest.mark.parametrize("name", sorted(REPLAYS))
def test_replay_leaves_no_scratch_dir(spark, sf_dir, scratch, name):
    assert getattr(q, "q_" + name)(spark, str(sf_dir)).count() > 0
    assert _leftovers(scratch, name) == []


@pytest.mark.parametrize("name", sorted(REPLAYS))
def test_failed_replay_leaves_no_scratch_dir(
    spark, sf_dir, scratch, monkeypatch, name
):
    _, module, builder = REPLAYS[name]

    def broken(*args, **kwargs):
        raise RuntimeError("stream builder failed")

    monkeypatch.setattr(importlib.import_module(module), builder, broken)
    with pytest.raises(RuntimeError, match="stream builder failed"):
        getattr(q, "q_" + name)(spark, str(sf_dir))
    assert _leftovers(scratch, name) == []


# catalog roundtrip query -> its temp catalog's dir prefix
ROUNDTRIPS = {
    "catalog_merge_roundtrip": "cat_rt_",
    "incremental_ingest_roundtrip": "ing_rt_",
}


@pytest.fixture(scope="module")
def small_sf_dir(tmp_path_factory):
    """Documents with ids below the catalog roundtrip's insert-key offset."""
    d = tmp_path_factory.mktemp("sf_small")
    _write_documents(d, 0)
    return d


@pytest.mark.parametrize("name", sorted(ROUNDTRIPS))
def test_roundtrip_leaves_no_scratch_dir(spark, small_sf_dir, scratch, name):
    assert getattr(q, "q_" + name)(spark, str(small_sf_dir)).collect()
    assert list(scratch.glob(ROUNDTRIPS[name] + "*")) == []


@pytest.mark.parametrize("name", sorted(ROUNDTRIPS))
def test_failed_roundtrip_leaves_no_scratch_dir(
    spark, small_sf_dir, scratch, monkeypatch, name
):
    def broken(*args, **kwargs):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(ParquetCatalog, "merge", broken)
    with pytest.raises(RuntimeError, match="merge failed"):
        getattr(q, "q_" + name)(spark, str(small_sf_dir))
    assert list(scratch.glob(ROUNDTRIPS[name] + "*")) == []


# queries that read one intermediate table from several legs
REUSED_TABLES = (
    "minhash_jaccard_estimate", "minhash_recall_audit", "containment_pairs",
    "containment_pairs_winnowed", "domain_pagerank", "dup_span_stats",
    "dup_span_removal", "ann_recall_audit", "lsh_recall_audit",
    "simhash_pair_precision",
)


@pytest.mark.parametrize("name", REUSED_TABLES)
def test_reused_tables_leave_the_cache_empty(spark, sf_dir, name):
    """Each of these queries shares a table between legs; a persist() of it
    stayed in the cache manager for the whole session."""
    spark.catalog.clearCache()  # drop what earlier tests cached
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    getattr(q, "q_" + name)(spark, str(sf_dir)).collect()
    assert cache.isEmpty()


def test_shared_legs_leave_the_cache_empty(spark, sf_dir):
    """dsir_weights and the signal-leg queries reuse one intermediate table;
    a persist() of it stayed in the cache manager for the whole session."""
    spark.catalog.clearCache()  # drop what earlier test modules cached
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    for name in ("dsir_weights", "multi_signal_clusters"):
        assert getattr(q, "q_" + name)(spark, str(sf_dir)).collect()
    assert cache.isEmpty()
