"""Streaming SimHash near-dedup with bounded per-band state.

The reference answers "is this new file a near-dup of anything we have?" one
file at a time against its in-memory BK-tree as the scanner drains its work
queue (/root/reference/deduplicator/ProcessArchive.py:488-530,
/root/reference/scanner/scanner.py:160-173). The streaming-native equivalent
is a stateful operator over the crawl stream: each arriving page is checked
against every page seen *within the event-time horizon*, and verified near-dup
pairs are emitted exactly once, as they become known.

Shape (all heavy lifting JVM-side or Arrow-batched):

    pages -> simhash (same batch kernel => identical signatures)
          -> withWatermark(warc_ts)
          -> posexplode(band_keys_array)            # same LSH layout as batch
          -> groupBy(band_id, band_key)
          -> applyInPandasWithState                 # state = docs in horizon
          -> (url_lo, url_hi, distance, pair_ts)

Why per-BAND state and not one big broadcast index: the state for a band key
is exactly the set of in-horizon docs sharing that key — the same row group
the batch banded join shuffles together — so state is hash-partitioned across
executors by (band_id, band_key) and every executor holds only its shard.
A pair within Hamming radius r collides in >= 1 of the r+1 bands (pigeonhole,
operators/banded_join.py), so recall matches the batch join; emitting only
from the LOWEST colliding band (computable locally from the two signatures —
functions/hashing.band_keys_np) makes emission exactly-once WITHOUT a second
stateful dedup operator downstream.

State boundedness (the 100 TB argument):
- event-time horizon: entries older than ``watermark_ms - horizon_ms`` can
  never pair with any future in-watermark arrival, so they are pruned on
  every visit, and idle keys are dropped wholesale by an EventTimeTimeout.
- hot cap: a degenerate band key (template boilerplate) otherwise accumulates
  an unbounded member list; ``hot_cap`` keeps only the newest members of such
  a key (the batch path's analog is the S13 registry + salting; a capped
  band only loses pairs whose EVERY colliding band is hot, mirroring the
  reference's >100-candidates skip, deduplicator/ProcessArchive.py:504-513).
"""

from __future__ import annotations

import re
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import DEFAULT_CONFIG, DedupConfig, bands_for_radius
from ..functions.hashing import BAD_SIMHASHES, band_keys_np, popcount64_np
from ..functions.udfs import simhash64_udf
from ..operators.banded_join import banded_self_join, explode_bands

PAIRS_SCHEMA = StructType(
    [
        StructField("url_lo", StringType()),
        StructField("url_hi", StringType()),
        StructField("distance", IntegerType()),
        StructField("pair_ts", TimestampType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("urls", ArrayType(StringType())),
        StructField("sigs", ArrayType(LongType())),
        StructField("ts_ms", ArrayType(LongType())),
    ]
)

_DURATION_RE = re.compile(r"^\s*(\d+)\s*(second|minute|hour|day)s?\s*$", re.I)

_UNIT_MS = {"second": 1_000, "minute": 60_000, "hour": 3_600_000, "day": 86_400_000}


def duration_ms(spec: str) -> int:
    """'24 hours' / '90 seconds' -> milliseconds (the CalendarInterval subset
    Structured Streaming watermarks accept)."""
    m = _DURATION_RE.match(spec)
    if not m:
        raise ValueError(f"unsupported duration {spec!r}; use 'N seconds/minutes/hours/days'")
    return int(m.group(1)) * _UNIT_MS[m.group(2).lower()]


def _make_state_fn(radius: int, n_bands: int, horizon_ms: int, hot_cap: int):
    """Per-(band_id, band_key) kernel. All comparisons vectorized numpy."""

    def fn(
        key: Tuple[int, int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # watermark passed the last member's ts + horizon: nothing held
            # here can ever pair again
            state.remove()
            return
        band_id = int(key[0])

        pdf = pd.concat(list(pdfs), ignore_index=True)
        # deterministic processing order regardless of Arrow batch split
        pdf = pdf.sort_values(["ts_ms", "url"], kind="stable", ignore_index=True)
        new_urls = pdf["url"].to_numpy()
        new_sigs = pdf["sig"].to_numpy(dtype=np.int64)
        new_ts = pdf["ts_ms"].to_numpy(dtype=np.int64)

        if state.exists:
            old_urls_l, old_sigs_l, old_ts_l = state.get
            old_urls = np.asarray(old_urls_l, dtype=object)
            old_sigs = np.asarray(old_sigs_l, dtype=np.int64)
            old_ts = np.asarray(old_ts_l, dtype=np.int64)
        else:
            old_urls = np.empty(0, dtype=object)
            old_sigs = np.empty(0, dtype=np.int64)
            old_ts = np.empty(0, dtype=np.int64)

        # prune: a held entry can only pair with a future arrival f where
        # f >= watermark and f - e <= horizon  =>  e >= watermark - horizon
        wm = state.getCurrentWatermarkMs()
        if len(old_ts) and wm > 0:
            keep = old_ts >= wm - horizon_ms
            if not keep.all():
                old_urls, old_sigs, old_ts = old_urls[keep], old_sigs[keep], old_ts[keep]

        out_lo, out_hi, out_d, out_ts = [], [], [], []

        def emit(u_a, s_a, t_a, u_b, s_b, t_b, dist):
            # exactly-once across bands: only the lowest band where the two
            # signatures collide emits the pair
            ka, kb = band_keys_np(np.array([s_a, s_b]), n_bands)
            first = int(np.nonzero(ka == kb)[0][0])
            if first != band_id:
                return
            lo, hi = (u_a, u_b) if u_a < u_b else (u_b, u_a)
            out_lo.append(lo)
            out_hi.append(hi)
            out_d.append(dist)
            out_ts.append(max(t_a, t_b))

        new_sigs_u = new_sigs.astype(np.uint64)

        def compare_block(urls_a, sigs_a, ts_a, j):
            """new row j vs the block (state, or earlier new rows)."""
            if not len(sigs_a):
                return
            d = popcount64_np(sigs_a.astype(np.uint64) ^ new_sigs_u[j])
            ok = (d <= radius) & (np.abs(ts_a - new_ts[j]) <= horizon_ms) & (
                urls_a != new_urls[j]
            )
            for i in np.nonzero(ok)[0]:
                emit(
                    urls_a[i], sigs_a[i], int(ts_a[i]),
                    new_urls[j], int(new_sigs[j]), int(new_ts[j]), int(d[i]),
                )

        for j in range(len(new_sigs)):
            compare_block(old_urls, old_sigs, old_ts, j)
            compare_block(new_urls[:j], new_sigs[:j], new_ts[:j], j)

        # fold the batch into state, newest kept under the hot cap
        urls = np.concatenate([old_urls, new_urls.astype(object)])
        sigs = np.concatenate([old_sigs, new_sigs])
        ts = np.concatenate([old_ts, new_ts])
        order = np.argsort(ts, kind="stable")
        urls, sigs, ts = urls[order], sigs[order], ts[order]
        if len(ts) > hot_cap:
            urls, sigs, ts = urls[-hot_cap:], sigs[-hot_cap:], ts[-hot_cap:]
        state.update((list(urls), [int(s) for s in sigs], [int(t) for t in ts]))
        # drop the whole key once the watermark passes its newest member +
        # horizon (setTimeoutTimestamp must stay ahead of the watermark)
        state.setTimeoutTimestamp(max(int(ts[-1]) + horizon_ms + 1, wm + 1))

        if out_lo:
            yield pd.DataFrame(
                {
                    "url_lo": out_lo,
                    "url_hi": out_hi,
                    "distance": np.asarray(out_d, dtype=np.int32),
                    "pair_ts": pd.to_datetime(np.asarray(out_ts, dtype=np.int64), unit="ms"),
                }
            )

    return fn


def stream_simhash_near_pairs(
    pages: DataFrame,
    radius: int | None = None,
    n_bands: int | None = None,
    watermark: str = "24 hours",
    horizon: str | None = None,
    hot_cap: int = 4096,
    cfg: DedupConfig = DEFAULT_CONFIG,
    extract: bool = True,
) -> DataFrame:
    """Verified near-dup pairs (hamming <= radius, |ts delta| <= horizon) over
    an unbounded page stream, emitted exactly once as the later page arrives.

    Same signature kernel, band layout, radius semantics, and blacklist as the
    batch banded join — ``tests/test_streaming_near_dedup.py`` pins the output
    pair set equal to :func:`near_pairs_within_horizon` on the same corpus.
    ``horizon`` defaults to the watermark delay (the bounded-state contract:
    pairs farther apart in event time than the horizon are out of scope, the
    same trade ``dropDuplicatesWithinWatermark`` makes for exact dedup).
    """
    radius = cfg.simhash_radius if radius is None else radius
    n_bands = n_bands or bands_for_radius(radius)
    horizon_ms = duration_ms(horizon or watermark)

    if extract:
        from ..functions.textprep import with_extracted_text

        pages = with_extracted_text(pages)
    docs = (
        pages.select("url", "warc_ts", simhash64_udf(F.col("text")).alias("sig"))
        .filter(F.col("sig").isNotNull())
        .filter(~F.col("sig").isin(list(BAD_SIMHASHES)))
    )
    return stream_sig_near_pairs(docs, radius, n_bands, watermark, horizon_ms, hot_cap)


def stream_sig_near_pairs(
    docs: DataFrame,
    radius: int,
    n_bands: int,
    watermark: str,
    horizon_ms: int,
    hot_cap: int = 4096,
) -> DataFrame:
    """Signature-generic stateful core: (url, warc_ts, sig:int64) stream ->
    exactly-once verified Hamming pairs within the event-time horizon.
    The caller owns signature computation and degenerate filtering; any
    64-bit LSH signature rides the same banded state layout (text SimHash
    via stream_simhash_near_pairs, hyperplane vector LSH via
    stream_embedding_near_pairs)."""
    if n_bands <= radius:
        raise ValueError(f"need n_bands > radius for full recall ({n_bands} <= {radius})")
    docs = docs.withWatermark("warc_ts", watermark)
    bands = explode_bands(docs, "url", "sig", n_bands, keep=["warc_ts"]).select(
        "band_id",
        "band_key",
        F.col("_id").alias("url"),
        F.col("_sig").alias("sig"),
        # epoch millis; double carries epoch-ms exactly (< 2^53)
        (F.col("warc_ts").cast("double") * 1000).cast("long").alias("ts_ms"),
        F.col("warc_ts"),
    )
    return bands.groupBy("band_id", "band_key").applyInPandasWithState(
        _make_state_fn(radius, n_bands, horizon_ms, hot_cap),
        outputStructType=PAIRS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_embedding_near_pairs(
    vecs: DataFrame,
    dim: int,
    id_col: str = "url",
    ts_col: str = "warc_ts",
    vec_col: str = "embedding",
    radius: int = 6,
    n_bands: int = 8,
    watermark: str = "24 hours",
    horizon: str | None = None,
    hot_cap: int = 4096,
) -> DataFrame:
    """STREAMING SEMANTIC near-dedup: hyperplane-LSH signatures
    (operators/ann.hyperplane_signed — the exact int64 fixed-point kernel,
    bit-identical to the batch ANN path) over an unbounded vector stream,
    through the SAME banded stateful core as text near-dedup. With
    n_bands > radius the pigeonhole guarantee holds, so the emitted pair set
    is EXACTLY the Hamming-radius pairs within the horizon — gate-checkable
    against brute force over SQL-recomputed signatures, not
    recall-statistical. The signer's eligibility rule (exactly dim elements)
    is the oracle's len = dim gate."""
    from ..operators.ann import hyperplane_signed

    docs = hyperplane_signed(
        vecs,
        vec_col,
        dim,
        F.col(id_col).alias("url"),
        F.col(ts_col).alias("warc_ts"),
    )
    horizon_ms = duration_ms(horizon or watermark)
    return stream_sig_near_pairs(docs, radius, n_bands, watermark, horizon_ms, hot_cap)


def near_pairs_within_horizon(
    docs: DataFrame,
    id_col: str,
    sig_col: str,
    ts_sec_col: str,
    radius: int,
    horizon_sec: int,
    n_bands: int | None = None,
    blacklist: tuple[int, ...] = (0,),
) -> DataFrame:
    """Batch twin of the streaming operator: all pairs within Hamming
    ``radius`` whose event times differ by <= ``horizon_sec`` seconds.

    Pure composition over the batch banded join (one extra broadcast-sized
    dimension join for the timestamps), so the streaming operator has an
    oracle-checkable set-oriented definition. Returns
    (id_lo, id_hi, distance, pair_ts_sec) with pair_ts_sec = max of the two.
    """
    pairs = banded_self_join(
        docs, id_col, sig_col, radius, n_bands=n_bands, blacklist=blacklist
    )
    t = docs.select(F.col(id_col).alias("_tid"), F.col(ts_sec_col).cast("long").alias("_ts"))
    return (
        pairs.join(t.withColumnRenamed("_tid", "id_lo").withColumnRenamed("_ts", "ts_lo"), "id_lo")
        .join(t.withColumnRenamed("_tid", "id_hi").withColumnRenamed("_ts", "ts_hi"), "id_hi")
        .filter(F.abs(F.col("ts_lo") - F.col("ts_hi")) <= horizon_sec)
        .select(
            "id_lo",
            "id_hi",
            F.col("distance").cast("int").alias("distance"),
            F.greatest("ts_lo", "ts_hi").alias("pair_ts_sec"),
        )
    )
