"""Vectorized (Arrow-batched) pandas UDFs for the signature surface.

The reference computes MD5 + pHash per item in worker processes
(/root/reference/scanner/hashFile.py:135-164); here the same surface is one
Arrow-batched pass per partition — no per-row Python, per BASELINE input_hint.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .hashing import (
    MINHASH_PRIME,
    MinHashParams,
    shingle_hash32,
    shingles,
    simhash64_batch,
    tokenize,
)


@F.pandas_udf(LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(simhash64_batch(texts.tolist()))


def make_simhash_udf(shingle_k: int):
    """simhash64 pandas UDF with a non-default shingle width."""

    @F.pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash64_batch(texts.tolist(), shingle_k))

    return _udf


def make_minhash_udf(k_shingle: int, params: MinHashParams):
    """Returns a pandas UDF text -> array<long> MinHash signature (null if no shingles)."""
    a = np.array(params.a, dtype=np.int64)[:, None]
    b = np.array(params.b, dtype=np.int64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def minhash_udf(texts: pd.Series) -> pd.Series:
        out = []
        memo: dict[str, int] = {}
        for text in texts:
            toks = tokenize(text) if isinstance(text, str) else []
            sh = shingles(toks, k_shingle)
            if not sh:
                out.append(None)
                continue
            uniq = set(sh)
            hs = np.empty(len(uniq), dtype=np.int64)
            for i, s in enumerate(uniq):
                h = memo.get(s)
                if h is None:
                    h = shingle_hash32(s)
                    memo[s] = h
                hs[i] = h
            vals = (a * hs[None, :] + b) % MINHASH_PRIME
            out.append(vals.min(axis=1).tolist())
        return pd.Series(out)

    return minhash_udf


def make_shingle_hashes_udf(k_shingle: int):
    """text -> array<long> of DISTINCT shingle_hash32 values (null if none).

    The engine's shingle-set representation, computed once per doc in the
    signature pass and carried in the docs table so Jaccard verification and
    containment anchors never recompute it. Python + md5 with per-batch
    memoization beats Spark's interpreted higher-order array functions
    (transform/aggregate/slice) by ~10x here.
    """

    @F.pandas_udf(ArrayType(LongType()))
    def shingle_hashes_udf(texts: pd.Series) -> pd.Series:
        out = []
        memo: dict[str, int] = {}
        for text in texts:
            toks = tokenize(text) if isinstance(text, str) else []
            sh = shingles(toks, k_shingle)
            if not sh:
                out.append(None)
                continue
            vals = set()
            for s in sh:
                h = memo.get(s)
                if h is None:
                    h = shingle_hash32(s)
                    memo[s] = h
                vals.add(h)
            out.append(sorted(vals))
        return pd.Series(out)

    return shingle_hashes_udf


def make_fast_signatures_udf(
    k_shingle: int, params: MinHashParams, winnow_w: int | None = None
):
    """text -> struct(simhash long, minhash array<long>, shingle_hashes
    array<long>[, win_interior array<long>, win_boundary array<long>]) via
    the string-free vectorized kernel (hashing.signatures_batch) — the
    pipeline's scale path. One Arrow transfer of the text, one tokenize,
    numpy everywhere else. winnow_w adds the containment anchor universe
    (hashing.winnow_split) computed from the same shingle-hash sequence.
    """
    from pyspark.sql.types import StructField, StructType

    from .hashing import signatures_batch

    fields = [
        StructField("simhash", LongType()),
        StructField("minhash", ArrayType(LongType())),
        StructField("shingle_hashes", ArrayType(LongType())),
    ]
    if winnow_w is not None:
        fields += [
            StructField("win_interior", ArrayType(LongType())),
            StructField("win_boundary", ArrayType(LongType())),
        ]
    schema = StructType(fields)

    @F.pandas_udf(schema)
    def fast_sig_udf(texts: pd.Series) -> pd.DataFrame:
        if winnow_w is not None:
            sim, mh, sh, wi, wb = signatures_batch(
                texts.tolist(), k_shingle, params, winnow_w=winnow_w
            )
            return pd.DataFrame(
                {
                    "simhash": sim,
                    "minhash": mh,
                    "shingle_hashes": sh,
                    "win_interior": wi,
                    "win_boundary": wb,
                }
            )
        sim, mh, sh = signatures_batch(texts.tolist(), k_shingle, params)
        return pd.DataFrame(
            {"simhash": sim, "minhash": mh, "shingle_hashes": sh}
        )

    return fast_sig_udf


def make_winnow_shingles_udf(k_shingle: int, winnow_w: int):
    """text -> struct(shingle_hashes array<long>, win_interior array<long>,
    win_boundary array<long>): the full distinct shingle-hash set plus its
    winnow_split (hashing), all from ONE tokenize + hash pass — the
    standalone-containment twin of make_fast_signatures_udf(winnow_w=...)."""
    from pyspark.sql.types import StructField, StructType

    from .hashing import _shingle_mix, tokenize, winnow_split

    schema = StructType(
        [
            StructField("shingle_hashes", ArrayType(LongType())),
            StructField("win_interior", ArrayType(LongType())),
            StructField("win_boundary", ArrayType(LongType())),
        ]
    )

    @F.pandas_udf(schema)
    def winnow_udf(texts: pd.Series) -> pd.DataFrame:
        sh_out, wi_out, wb_out = [], [], []
        tok_memo: dict[str, int] = {}
        for text in texts:
            toks = tokenize(text) if isinstance(text, str) else []
            if len(toks) < k_shingle:
                sh_out.append(None)
                wi_out.append(None)
                wb_out.append(None)
                continue
            th = np.empty(len(toks), dtype=np.uint64)
            for j, t in enumerate(toks):
                h = tok_memo.get(t)
                if h is None:
                    h = int.from_bytes(
                        hashlib.md5(t.encode("utf-8")).digest()[:8], "big"
                    )
                    tok_memo[t] = h
                th[j] = h
            seq = (_shingle_mix(th, k_shingle) >> np.uint64(32)).astype(np.int64)
            wi, wb = winnow_split(seq, winnow_w)
            sh_out.append(np.unique(seq).tolist())
            wi_out.append(wi.tolist())
            wb_out.append(wb.tolist())
        return pd.DataFrame(
            {
                "shingle_hashes": sh_out,
                "win_interior": wi_out,
                "win_boundary": wb_out,
            }
        )

    return winnow_udf


def make_min_shingle_udf(k_shingle: int):
    """text -> smallest shingle_hash32 over its k-shingles (null if none).

    Rolling-hash document fingerprint (winnowing-style anchor); also the
    anchor used by the containment candidate generator.
    """

    @F.pandas_udf(LongType())
    def min_shingle_udf(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            sh = shingles(tokenize(text) if isinstance(text, str) else [], k_shingle)
            out.append(min(shingle_hash32(s) for s in sh) if sh else None)
        return pd.Series(out, dtype="object")

    return min_shingle_udf
