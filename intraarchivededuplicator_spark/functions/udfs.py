"""Arrow-batched pandas UDFs for the signature surface.

Two shingle-hash families:

- spec: md5 of the shingle string, which the DuckDB oracles recompute in
  SQL. simhash64_udf wraps hashing.simhash64_batch; the MinHash and
  shingle-set UDFs reduce one per-document loop, `_spec_shingle_sets`
  (hashing.shingle_hash32 per distinct shingle).
- fast: md5 per token plus a polynomial shingle mix, the pipeline's scale
  kernel (hashing.signatures_batch), exposed by make_fast_signatures_udf.
"""

from __future__ import annotations

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


def _spec_shingle_sets(texts: pd.Series, k_shingle: int):
    """Yields each doc's DISTINCT shingle_hash32 values as a sorted int64
    array, or None below k_shingle tokens: the spec family's one per-document
    loop, which the MinHash and shingle-set UDFs reduce. md5 runs once per
    distinct shingle string in the batch (memoized), which beats Spark's
    interpreted higher-order array functions (transform/aggregate/slice) by
    ~10x here."""
    memo: dict[str, int] = {}
    for text in texts:
        sh = shingles(tokenize(text) if isinstance(text, str) else [], k_shingle)
        if not sh:
            yield None
            continue
        hs = []
        for s in set(sh):
            h = memo.get(s)
            if h is None:
                h = memo[s] = shingle_hash32(s)
            hs.append(h)
        yield np.unique(np.array(hs, dtype=np.int64))


def make_minhash_udf(k_shingle: int, params: MinHashParams):
    """text -> array<long> MinHash signature (null if no shingles); equals
    hashing.minhash_sig."""
    a = np.array(params.a, dtype=np.int64)[:, None]
    b = np.array(params.b, dtype=np.int64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def minhash_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if hs is None
                else ((a * hs[None, :] + b) % MINHASH_PRIME).min(axis=1).tolist()
                for hs in _spec_shingle_sets(texts, k_shingle)
            ]
        )

    return minhash_udf


def make_shingle_hashes_udf(k_shingle: int):
    """text -> sorted array<long> of DISTINCT shingle_hash32 values (null if
    none): the spec family's shingle set, which the DuckDB oracle recomputes."""

    @F.pandas_udf(ArrayType(LongType()))
    def shingle_hashes_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if hs is None else hs.tolist()
                for hs in _spec_shingle_sets(texts, k_shingle)
            ]
        )

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
