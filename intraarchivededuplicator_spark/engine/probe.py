"""Resident single-probe radius-search session — the daemon-service analog.

The reference runs a long-lived server holding a singleton in-process BK-tree
and answers one pHash probe per RPC (`single_phash_search` /
`processDownload`, server/server.py:31-53 of the reference; tree reload at
:136-144). ProbeSession is that resident index, held in the driver as an
immutable numpy snapshot of the corpus:

  ids, sigs   int64 (n,)            one entry per non-null (id, sig) row
  keys        int64 (n * n_bands,)  every row's combined band keys, sorted
  rows        int64 (n * n_bands,)  the row of ids/sigs each key came from

The combined key is `band_id << 33 | band_key`. A band key is a logical
(zero-fill) slice of at most 32 bits whenever n_bands > 1, so the combined
key is collision-free across bands and sorts by (band_id, band_key); with one
band it is the signature itself. A probe computes its own band keys with
functions/hashing.band_keys_np (the bit-exact numpy mirror of the JVM band
expression), finds each key's run of rows with `np.searchsorted`, and keeps
the candidates whose exact distance `popcount64_np(sig ^ sigs[rows])` is
within the radius. n_bands > radius makes this pigeonhole-exact: r differing
bits leave at least one band untouched. No Spark job runs for `search`.
`search_batch`, `insert` and `refresh` collect their input frame: without a
job when it is local (built from driver data), with one otherwise.

Memory: (2 + 2·n_bands)·8 B per signature. At radius 4 (5 bands) that is
≈96 MB at 1M signatures and ≈1.15 GB at the reference's 12M hashes, where the
reference's tree takes ~5 GB. An index past one driver's memory needs the
partitioned design of REPOSE (ICDE 2021): a local index per partition, with
probes routed to the partitions that can hold a match. Corpus-scale all-pairs
search stays with operators/banded_join (banded_self_join,
banded_radius_search), which never collects the corpus.

Mutation follows the repo-wide immutable-snapshot discipline (SURVEY §2.9):
insert/remove/refresh build a NEW snapshot and swap one reference, so an
in-flight search finishes on the snapshot it started on. insert merges the
new rows' sorted keys into the old arrays (a linear copy, no re-sort), remove
compacts them, refresh rebuilds.

Every result is verified exact Hamming distance, one row per (probe,
matching id) at that id's smallest distance. With unique ids these are the
rows banded_radius_search returns (its dropDuplicates keeps an arbitrary
distance for an id with two signatures); tests pin both shapes against it
and against brute force.
"""

from __future__ import annotations

import threading
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import bands_for_radius
from ..functions.hashing import band_keys_np, popcount64_np
from ..session import empty_frame

_BATCH_SCHEMA = "q_id long, match_id long, distance int"
# candidate rows verified per pass: passes that stay in cache are faster
# (10^5 queries against 1M signatures: 2.2-2.4 s at 2^16, 4.4-4.6 s at 2^22)
_CANDIDATES_PER_PASS = 1 << 16


class _Snapshot(NamedTuple):
    ids: np.ndarray
    sigs: np.ndarray
    keys: np.ndarray
    rows: np.ndarray


def _combined_keys(sigs: np.ndarray, n_bands: int) -> np.ndarray:
    """(n,) signatures -> (n * n_bands,) combined keys, row-major: key
    i * n_bands + b is band b of signature i."""
    band_ids = np.arange(n_bands, dtype=np.int64) << 33
    return (band_keys_np(sigs, n_bands) | band_ids).ravel()


def _build(ids: np.ndarray, sigs: np.ndarray, n_bands: int) -> _Snapshot:
    keys = _combined_keys(sigs, n_bands)
    order = np.argsort(keys, kind="stable")
    return _Snapshot(ids, sigs, keys[order], order // n_bands)


def _inserted(snap: _Snapshot, ids: np.ndarray, sigs: np.ndarray, n_bands: int) -> _Snapshot:
    add = _build(ids, sigs, n_bands)
    at = np.searchsorted(snap.keys, add.keys, side="right")
    return _Snapshot(
        np.concatenate([snap.ids, ids]),
        np.concatenate([snap.sigs, sigs]),
        np.insert(snap.keys, at, add.keys),
        np.insert(snap.rows, at, add.rows + len(snap.ids)),
    )


def _removed(snap: _Snapshot, ids: np.ndarray) -> _Snapshot:
    keep = ~np.isin(snap.ids, ids)
    new_row = np.cumsum(keep) - 1
    kept_keys = keep[snap.rows]
    return _Snapshot(
        snap.ids[keep],
        snap.sigs[keep],
        snap.keys[kept_keys],
        new_row[snap.rows[kept_keys]],
    )


def _matches(
    snap: _Snapshot, q_sigs: np.ndarray, n_bands: int, radius: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(query index, match id, distance) for every (query, id) within
    `radius`, one per pair at the id's smallest distance, sorted by query
    index then match id."""
    qkeys = _combined_keys(q_sigs, n_bands)
    lo = np.searchsorted(snap.keys, qkeys, side="left")
    cnt = np.searchsorted(snap.keys, qkeys, side="right") - lo
    # verify a slice of queries per pass, so the candidate arrays of a
    # batch stay near _CANDIDATES_PER_PASS rows
    per_query = cnt.reshape(-1, n_bands).sum(axis=1)
    cuts = (np.flatnonzero(np.diff(np.cumsum(per_query) // _CANDIDATES_PER_PASS)) + 1).tolist()
    parts = [
        _verify(snap, q_sigs, lo, cnt, a, b, n_bands, radius)
        for a, b in zip([0, *cuts], [*cuts, len(q_sigs)])
    ]
    return tuple(np.concatenate(col) for col in zip(*parts))


def _verify(
    snap: _Snapshot,
    q_sigs: np.ndarray,
    lo: np.ndarray,
    cnt: np.ndarray,
    a: int,
    b: int,
    n_bands: int,
    radius: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """_matches for queries a..b-1; the run of band key k starts at lo[k]
    and holds cnt[k] rows."""
    lo, cnt = lo[a * n_bands : b * n_bands], cnt[a * n_bands : b * n_bands]
    # every position of every key's run, flattened
    pos = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) + np.arange(cnt.sum())
    q = a + np.repeat(np.arange(len(lo)) // n_bands, cnt)
    rows = snap.rows[pos]
    dist = popcount64_np(snap.sigs[rows] ^ q_sigs[q])
    ok = dist <= radius
    # one (query, id) pair can collide in several bands, and one id can hold
    # several signatures
    return _nearest(q[ok], snap.ids[rows[ok]], dist[ok])


def _nearest(
    q: np.ndarray, mid: np.ndarray, dist: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The smallest distance of each (q, mid) pair, sorted by (q, mid)."""
    order = np.lexsort((dist, mid, q))
    q, mid, dist = q[order], mid[order], dist[order]
    first = np.ones(len(q), dtype=bool)
    first[1:] = (q[1:] != q[:-1]) | (mid[1:] != mid[:-1])
    return q[first], mid[first], dist[first]


class ProbeSession:
    """Resident banded index over (id, sig); answers Hamming-radius probes.

    Parameters mirror banded_radius_search: `radius` is the session's max
    supported radius (n_bands > radius gives pigeonhole-exact recall for
    every probe radius <= it, per-probe override allowed downward). Rows
    with a null id or signature are not indexed.
    """

    def __init__(
        self,
        corpus: DataFrame,
        radius: int,
        id_col: str = "id",
        sig_col: str = "sig",
        n_bands: int | None = None,
    ) -> None:
        self.radius = radius
        self.n_bands = n_bands or bands_for_radius(radius)
        if self.n_bands <= radius:
            raise ValueError(
                f"need n_bands > radius for full recall "
                f"({self.n_bands} <= {radius})"
            )
        self.spark: SparkSession = corpus.sparkSession
        self._id_col, self._sig_col = id_col, sig_col
        self._lock = threading.Lock()  # serializes mutations; reads take none
        self._snap: _Snapshot | None = _build(*self._collect(corpus), self.n_bands)

    # -- internals ---------------------------------------------------------

    def _collect(
        self, rows: DataFrame, id_col: str | None = None, sig_col: str | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(ids, sigs) int64 arrays of the rows whose id and sig are set."""
        slim = rows.select(
            F.col(id_col or self._id_col).cast("long").alias("id"),
            F.col(sig_col or self._sig_col).cast("long").alias("sig"),
        ).filter(F.col("id").isNotNull() & F.col("sig").isNotNull())
        if rows.isLocal():
            # rows held in the driver (a frame built from local data, like one
            # download's files) collect without a Spark job: ~0.1 CPU-s for
            # 1000 rows, against ~0.3 through the Arrow job of toPandas
            ids, sigs = np.array(slim.collect(), dtype=np.int64).reshape(-1, 2).T
            return np.ascontiguousarray(ids), np.ascontiguousarray(sigs)
        pdf = slim.toPandas()
        return (
            pdf["id"].to_numpy(dtype=np.int64),
            pdf["sig"].to_numpy(dtype=np.int64),
        )

    def _current(self) -> _Snapshot:
        snap = self._snap
        if snap is None:
            raise RuntimeError("ProbeSession is closed")
        return snap

    def _radius(self, radius: int | None) -> int:
        r = self.radius if radius is None else radius
        if r > self.radius:
            raise ValueError(
                f"probe radius {r} > session radius {self.radius} "
                f"(recall guarantee needs n_bands > radius)"
            )
        return r

    # -- queries -----------------------------------------------------------

    def search(self, sig: int, radius: int | None = None) -> list[tuple[int, int]]:
        """[(match_id, distance)] within `radius` of `sig`, sorted by
        (distance, id): the single-probe RPC shape (single_phash_search).
        Answered from the snapshot in the driver; no Spark job runs."""
        r = self._radius(radius)
        _, mid, dist = _matches(
            self._current(), np.array([sig], dtype=np.int64), self.n_bands, r
        )
        order = np.lexsort((mid, dist))
        return list(zip(mid[order].tolist(), dist[order].tolist()))

    def search_batch(
        self,
        queries: DataFrame,
        query_id: str = "id",
        query_sig: str = "sig",
        radius: int | None = None,
    ) -> DataFrame:
        """(q_id long, match_id long, distance int): the batched probe shape
        (one download's files). The query frame is collected and answered
        from the snapshot in the driver, like `search`; corpus-scale query
        sets belong to banded_radius_search."""
        r = self._radius(radius)
        snap = self._current()
        q_ids, q_sigs = self._collect(queries, query_id, query_sig)
        q, mid, dist = _matches(snap, q_sigs, self.n_bands, r)
        # queries that share an id answer as one, like the join's dedup
        q_id, mid, dist = _nearest(q_ids[q], mid, dist)
        out = pd.DataFrame(
            {"q_id": q_id, "match_id": mid, "distance": dist.astype(np.int32)}
        )
        if out.empty:
            return empty_frame(self.spark, _BATCH_SCHEMA)
        return self.spark.createDataFrame(out, _BATCH_SCHEMA)

    # -- mutation (immutable-snapshot semantics) ----------------------------

    def insert(self, rows: DataFrame) -> None:
        """Add (id, sig) rows and swap in a new snapshot (J8 analog; the
        reference's locked per-item tree insert becomes a merge of the new
        rows' sorted keys into a copy of the old arrays)."""
        ids, sigs = self._collect(rows)
        with self._lock:
            self._snap = _inserted(self._current(), ids, sigs, self.n_bands)

    def remove(self, ids: list[int]) -> None:
        """Drop every row of the given ids from the index (J9 analog)."""
        drop = np.asarray([int(i) for i in ids], dtype=np.int64)
        with self._lock:
            self._snap = _removed(self._current(), drop)

    def refresh(self, corpus: DataFrame) -> None:
        """Full reload from a new corpus snapshot (the server's periodic
        tree reload, server/server.py:136-144 of the reference)."""
        snap = _build(*self._collect(corpus), self.n_bands)
        with self._lock:
            self._snap = snap

    def size(self) -> int:
        return len(self._current().ids)

    def close(self) -> None:
        """Release the snapshot; later calls raise RuntimeError."""
        self._snap = None
