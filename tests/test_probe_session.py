"""ProbeSession: the resident single-probe service surface.

Golden expectations reuse the reference's BK-tree vectors
(Tests/Test_BKTree.py:35-120 of the reference, same as test_banded_join) so
the resident index answers exactly what the reference's in-process tree
answers; the batched shape is differential vs banded_radius_search, and both
shapes are differential vs numpy brute force under random mutation.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from intraarchivededuplicator_spark.engine import probe
from intraarchivededuplicator_spark.engine.probe import ProbeSession
from intraarchivededuplicator_spark.functions.hashing import bin_str_to_int64 as b2i
from intraarchivededuplicator_spark.functions.hashing import popcount64_np
from intraarchivededuplicator_spark.operators.banded_join import (
    banded_radius_search,
)

from tests.test_banded_join import GOLDENS, TEST_DATA


@pytest.fixture(scope="module")
def session(spark):
    corpus = spark.createDataFrame(
        [(i, b2i(bits)) for i, bits in enumerate(TEST_DATA)], "id long, sig long"
    )
    s = ProbeSession(corpus, radius=18, n_bands=32)
    yield s
    s.close()


def test_bktree_goldens_via_resident_probe(session):
    for bits, radius, expect in GOLDENS:
        got = {m for m, _ in session.search(b2i(bits), radius=radius)}
        assert got == expect, (bits, radius)


def test_probe_distances_are_exact(session):
    tgt = b2i(TEST_DATA[6])
    for mid, dist in session.search(tgt, radius=17):
        want = bin((tgt ^ b2i(TEST_DATA[mid])) & (2**64 - 1)).count("1")
        assert dist == want


def test_radius_above_session_guarantee_rejected(session):
    with pytest.raises(ValueError):
        session.search(0, radius=40)


def test_batch_differential_vs_join_search(spark):
    rng = np.random.RandomState(5)
    base = rng.randint(-(2**63), 2**63, size=150, dtype=np.int64)
    near = base[:75] ^ (np.int64(1) << rng.randint(0, 64, size=75))
    corpus = spark.createDataFrame(
        [(int(i), int(s)) for i, s in enumerate(np.concatenate([base, near]))],
        "id long, sig long",
    )
    queries = spark.createDataFrame(
        [(int(1000 + i), int(s)) for i, s in enumerate(base[:40])],
        "id long, sig long",
    )
    s = ProbeSession(corpus, radius=4)
    try:
        got = {
            (r["q_id"], r["match_id"], r["distance"])
            for r in s.search_batch(queries).collect()
        }
        want = {
            (r["q_id"], r["match_id"], r["distance"])
            for r in banded_radius_search(
                corpus, queries, radius=4, query_id="id", query_sig="sig"
            ).collect()
        }
        assert len(want) > 0
        assert got == want
        # single-probe shape agrees with the batch shape, query by query
        for q in queries.collect():
            singles = {
                (q["id"], m, d) for m, d in s.search(q["sig"])
            }
            assert singles == {t for t in want if t[0] == q["id"]}
    finally:
        s.close()


def test_index_is_resident_and_mutation_swaps_snapshots(spark):
    corpus = spark.createDataFrame(
        [(i, b2i(bits)) for i, bits in enumerate(TEST_DATA)], "id long, sig long"
    )
    s = ProbeSession(corpus, radius=4, n_bands=16)
    try:
        # resident: every row's band keys sit in the driver snapshot
        assert len(s._snap.keys) == len(TEST_DATA) * 16
        assert s.size() == len(TEST_DATA)

        probe = b2i(TEST_DATA[6])
        assert {m for m, _ in s.search(probe, radius=0)} == {6, 7, 8}

        # J8 analog: insert a new exact twin of item 6 -> it must match
        s.insert(
            spark.createDataFrame([(99, b2i(TEST_DATA[6]))], "id long, sig long")
        )
        assert {m for m, _ in s.search(probe, radius=0)} == {6, 7, 8, 99}
        assert s.size() == len(TEST_DATA) + 1

        # J9 analog: remove two of them -> gone from results
        s.remove([7, 99])
        assert {m for m, _ in s.search(probe, radius=0)} == {6, 8}

        # server-style full reload
        s.refresh(corpus)
        assert {m for m, _ in s.search(probe, radius=0)} == {6, 7, 8}
    finally:
        s.close()


def test_search_returns_nearest_first(spark):
    # RPC contract: result[0] is the CLOSEST match — (distance, id) order,
    # not id order. Plant a far match with a LOW id and an exact match with
    # a HIGH id; id-first ordering would put (5, 3) first.
    base = 0b1010_1100
    corpus = spark.createDataFrame(
        [(5, base ^ 0b0111), (9, base), (7, base ^ 0b1)],
        "id long, sig long",
    )
    s = ProbeSession(corpus, radius=4, n_bands=8)
    try:
        assert s.search(base) == [(9, 0), (7, 1), (5, 3)]
    finally:
        s.close()


def test_repeated_inserts_hold_exactly_the_live_rows(spark):
    # Each insert merges into a copy of the previous snapshot; after a run of
    # inserts and a remove the snapshot holds the live rows and nothing else:
    # every (row, band) key once, in sorted order.
    corpus = spark.createDataFrame(
        [(i, b2i(bits)) for i, bits in enumerate(TEST_DATA)], "id long, sig long"
    )
    s = ProbeSession(corpus, radius=4, n_bands=16)
    try:
        for k in range(6):
            s.insert(
                spark.createDataFrame([(100 + k, 17 + k)], "id long, sig long")
            )
        s.remove([3, 102])
        live = {i: b2i(bits) for i, bits in enumerate(TEST_DATA) if i != 3}
        live.update({100 + k: 17 + k for k in range(6) if k != 2})
        snap = s._snap
        assert s.size() == len(live)
        assert dict(zip(snap.ids.tolist(), snap.sigs.tolist())) == live
        assert np.all(np.diff(snap.keys) >= 0)
        assert sorted(snap.rows.tolist()) == sorted(
            list(range(len(live))) * s.n_bands
        )
        assert np.array_equal(
            snap.keys, np.sort(probe._combined_keys(snap.sigs, s.n_bands))
        )
    finally:
        s.close()


def test_snapshot_taken_before_insert_answers_as_before(spark):
    # An in-flight search holds the snapshot it started on; an insert swaps
    # in a new one and must leave the old one untouched.
    corpus = spark.createDataFrame(
        [(i, b2i(bits)) for i, bits in enumerate(TEST_DATA)], "id long, sig long"
    )
    s = ProbeSession(corpus, radius=4, n_bands=16)
    try:
        probe_sig = np.array([b2i(TEST_DATA[6])], dtype=np.int64)
        old = s._snap
        before = [a.copy() for a in old]
        s.insert(
            spark.createDataFrame([(99, b2i(TEST_DATA[6]))], "id long, sig long")
        )
        assert s._snap is not old
        assert all(np.array_equal(a, b) for a, b in zip(old, before))
        _, mid, _ = probe._matches(old, probe_sig, s.n_bands, 0)
        assert set(mid.tolist()) == {6, 7, 8}
        assert {m for m, _ in s.search(int(probe_sig[0]), radius=0)} == {
            6, 7, 8, 99,
        }
    finally:
        s.close()


def test_search_starts_no_spark_job(session, spark):
    sc = spark.sparkContext
    sc.setJobGroup("probe-search-jobs", "20 single probes")
    try:
        for i in range(20):
            session.search(b2i(TEST_DATA[i % len(TEST_DATA)]))
        assert list(sc.statusTracker().getJobIdsForGroup("probe-search-jobs")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_closed_session_raises(spark):
    s = ProbeSession(
        spark.createDataFrame([(0, 5)], "id long, sig long"), radius=2, n_bands=8
    )
    s.close()
    with pytest.raises(RuntimeError):
        s.search(5)


def test_null_signatures_excluded(spark):
    corpus = spark.createDataFrame(
        [(0, 5), (1, None), (2, 5)], "id long, sig long"
    )
    s = ProbeSession(corpus, radius=2, n_bands=8)
    try:
        assert {m for m, _ in s.search(5)} == {0, 2}
    finally:
        s.close()


# -- differential: both query shapes vs brute force under mutation -----------

N_IDS = 12  # ids drawn from a small range, so rows share ids


def _flip(sig: int, bits) -> int:
    u = sig & (2**64 - 1)
    for b in bits:
        u ^= 1 << b
    return u - 2**64 if u >= 2**63 else u


@st.composite
def _scenarios(draw):
    """A signature pool with planted neighbours 1..radius bits away, an
    initial corpus, a list of insert / remove / refresh steps, and whether
    frames are local (built from pandas) or not. Rows are (id, pool index or
    None for a null signature)."""
    radius = draw(st.integers(0, 4))
    n_bands = draw(st.integers(radius + 1, radius + 3))
    base = draw(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=2, max_size=8))
    pool = list(base)
    if radius:
        for _ in range(draw(st.integers(1, 8))):
            bits = draw(st.sets(st.integers(0, 63), min_size=1, max_size=radius))
            pool.append(_flip(draw(st.sampled_from(base)), bits))
    row = st.tuples(
        st.integers(0, N_IDS - 1),
        st.one_of(st.none(), st.integers(0, len(pool) - 1)),
    )
    rows = st.lists(row, max_size=8)
    step = st.one_of(
        st.tuples(st.just("insert"), rows),
        st.tuples(st.just("remove"), st.lists(st.integers(0, N_IDS - 1), max_size=3)),
        st.tuples(st.just("refresh"), rows),
    )
    steps = draw(st.lists(step, max_size=3))
    return radius, n_bands, pool, draw(rows), steps, draw(st.booleans())


def _brute(live, q_sigs, r):
    """{(query index, id, distance)} at each id's smallest distance."""
    if not live:
        return set()
    ids = np.array([i for i, _ in live], dtype=np.int64)
    sigs = np.array([s for _, s in live], dtype=np.int64)
    out = set()
    for q, sig in enumerate(q_sigs):
        d = popcount64_np(sigs ^ np.int64(sig))
        best = {}
        for i, di in zip(ids.tolist(), d.tolist()):
            if di <= r and di < best.get(i, 65):
                best[i] = di
        out |= {(q, i, di) for i, di in best.items()}
    return out


@settings(max_examples=20, deadline=None)
@given(_scenarios())
def test_search_and_batch_match_brute_force_under_mutation(spark, scenario):
    radius, n_bands, pool, initial, steps, local = scenario

    def frame(rows):
        # a local frame is collected without a Spark job, any other with one
        if local:
            rows = pd.DataFrame({
                c: pd.array([r[k] for r in rows], dtype="Int64")
                for k, c in enumerate(["id", "sig"])
            })
        return spark.createDataFrame(rows, "id long, sig long")

    def pool_rows(rows):
        return [(i, None if p is None else pool[p]) for i, p in rows]

    def live_rows(rows):
        return [(i, pool[p]) for i, p in rows if p is not None]

    # every pool signature is a probe; the batch shape also gets a second
    # probe under id 0, which answers as one with the first, and a
    # null-signature probe, which it must skip
    queries = frame(
        [(q, s) for q, s in enumerate(pool)] + [(0, pool[-1]), (len(pool), None)]
    )
    s = ProbeSession(frame(pool_rows(initial)), radius=radius, n_bands=n_bands)
    live = live_rows(initial)
    try:
        for op, arg in [(None, None)] + steps:
            if op == "insert":
                s.insert(frame(pool_rows(arg)))
                live += live_rows(arg)
            elif op == "remove":
                s.remove(arg)
                live = [(i, sig) for i, sig in live if i not in arg]
            elif op == "refresh":
                s.refresh(frame(pool_rows(arg)))
                live = live_rows(arg)
            assert s.size() == len(live)
            for r in range(radius + 1):
                want = _brute(live, pool, r)
                singles = {
                    (q, m, d) for q, sig in enumerate(pool) for m, d in s.search(sig, r)
                }
                assert singles == want, (op, r)
                nearest = {}
                for q, m, d in want | {
                    (0, m, d) for _, m, d in _brute(live, pool[-1:], r)
                }:
                    nearest[q, m] = min(d, nearest.get((q, m), 65))
                rows = s.search_batch(queries, radius=r).collect()
                batch = [(row["q_id"], row["match_id"], row["distance"]) for row in rows]
                assert sorted(batch) == sorted((q, m, d) for (q, m), d in nearest.items()), (op, r)
            for q, sig in enumerate(pool):
                got = s.search(sig)
                assert got == sorted(got, key=lambda t: (t[1], t[0]))
    finally:
        s.close()
