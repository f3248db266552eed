"""Signature spec: tokenization, token/shingle hashes, SimHash64, MinHash.

This module is the *single source of truth* for signature semantics. The
Spark engine (vectorized pandas UDFs in ``functions/udfs.py``) and the DuckDB
oracle SQL (``__spark_entry__.oracle_sql``) both implement exactly these
definitions, so the driver's differential check is an end-to-end parity test.

Reference parity notes (capability mapping, not a port):
- signed 64-bit storage convention mirrors the reference's pHash column
  (``/root/reference/dbApi.py:64``) and two's-complement converters
  (``/root/reference/scanner/unitConverters.py:5-34``).
- Hamming distance on signed int64 mirrors
  ``/root/reference/deduplicator/bktree.hpp:43-60``.
- SimHash64 replaces the image pHash (``/root/reference/scanner/hashFile.py:95-106``)
  per the web-text graft; MinHash replaces dHash as the second fingerprint
  family (``/root/reference/scanner/hashFile.py:115-120``).

All hashes are derived from md5 so that DuckDB (``md5(s)``) and Python
(``hashlib.md5``) agree byte-for-byte on UTF-8 input.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

import numpy as np

UINT64 = 1 << 64
INT64_MIN = -(1 << 63)
INT64_MAX = (1 << 63) - 1

MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime 2^31-1; keeps a*h+b in int64

# Degenerate-signature blacklist: SimHash of empty / whitespace-only text is 0
# (no tokens -> all-zero accumulator). Mirrors the reference's BAD_PHASHES
# blank-page blacklist {0, -2^63} (/root/reference/deduplicator/ProcessArchive.py:21-27).
BAD_SIMHASHES = (0, INT64_MIN)

_WS_RE = re.compile(r"\s+")


def to_signed64(u: int) -> int:
    """Two's-complement fold of an unsigned 64-bit value into signed int64.

    Same convention as /root/reference/scanner/unitConverters.py:15-19.
    """
    u &= UINT64 - 1
    return u - UINT64 if u >= (1 << 63) else u


def to_unsigned64(s: int) -> int:
    return s + UINT64 if s < 0 else s


def bin_str_to_int64(bits: str) -> int:
    """64-char '0'/'1' string -> signed int64 (MSB first).

    Parity helper for the reference's test vectors
    (/root/reference/scanner/unitConverters.py:5-19).
    """
    if len(bits) != 64:
        raise ValueError("Input strings must be 64 chars long!")
    return to_signed64(int(bits, 2))


def int64_to_bin_str(v: int) -> str:
    return format(to_unsigned64(v), "064b")


def hamming64(a: int, b: int) -> int:
    """popcount(a XOR b) over the 64-bit two's-complement patterns."""
    return bin(to_unsigned64(a) ^ to_unsigned64(b)).count("1")


def popcount64_np(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR), uint64 in -> int64 counts out.

    numpy 1.x has no bitwise_count; this is the branch-free parallel-sum
    trick, matching hamming64/bit_count(xor) bit-for-bit. Used by the
    streaming near-dedup state kernel where the verify runs inside a pandas
    group instead of as a JVM ``bit_count`` expression.
    """
    x = x.astype(np.uint64, copy=True)
    x -= (x >> np.uint64(1)) & np.uint64(0x5555555555555555)
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


def band_keys_np(sigs: np.ndarray, n_bands: int) -> np.ndarray:
    """(n,) int64 signatures -> (n, n_bands) int64 band keys.

    Bit-exact numpy mirror of functions/columns.band_keys_array (LSB-first
    contiguous slices, widths from columns.band_widths, logical shift so the
    sign bit never leaks) — pinned against the Spark expression in tests.
    Lets per-group Python kernels (streaming state) reason about the SAME
    band layout the JVM explode produced, e.g. the min-colliding-band
    exactly-once emission rule.
    """
    from .columns import band_widths  # local import: columns pulls in pyspark

    sigs = np.asarray(sigs, dtype=np.int64)
    u = sigs.astype(np.uint64)
    out = np.empty((len(sigs), n_bands), dtype=np.int64)
    offset = 0
    for i, w in enumerate(band_widths(n_bands)):
        if w == 64:
            out[:, i] = sigs
        else:
            mask = np.uint64((1 << w) - 1)
            out[:, i] = ((u >> np.uint64(offset)) & mask).astype(np.int64)
        offset += w
    return out


def tokenize(text: str) -> list[str]:
    """Split on whitespace runs, dropping empties.

    Oracle-SQL equivalent: ``string_split_regex(text, '\\s+')`` + filter '' .
    """
    if not text:
        return []
    return [t for t in _WS_RE.split(text) if t]


def token_hash64(token: str) -> int:
    """Signed int64 from the first 8 bytes (big-endian) of md5(token).

    Oracle-SQL equivalent (DuckDB)::

        CASE WHEN ('0x' || substr(md5(t), 1, 1))::BIGINT >= 8
             THEN (('0x' || substr(md5(t), 1, 1))::BIGINT - 16) * (1::BIGINT << 60)
                  + ('0x' || substr(md5(t), 2, 15))::BIGINT
             ELSE ('0x' || substr(md5(t), 1, 1))::BIGINT * (1::BIGINT << 60)
                  + ('0x' || substr(md5(t), 2, 15))::BIGINT
        END
    """
    d = hashlib.md5(token.encode("utf-8")).digest()
    return to_signed64(int.from_bytes(d[:8], "big"))


def shingle_hash32(shingle: str) -> int:
    """Unsigned 32-bit from the first 4 bytes of md5(shingle); fits in int64.

    Oracle-SQL equivalent: ``('0x' || substr(md5(s), 1, 8))::BIGINT``.
    """
    d = hashlib.md5(shingle.encode("utf-8")).digest()
    return int.from_bytes(d[:4], "big")


def shingles(tokens: list[str], k: int) -> list[str]:
    """k-token shingles joined by a single space; empty if fewer than k tokens."""
    n = len(tokens)
    if n < k:
        return []
    return [" ".join(tokens[i : i + k]) for i in range(n - k + 1)]


SIMHASH_SHINGLE_K = 3  # SimHash feature = 3-token shingle (see note below)


def simhash64(text: str) -> int:
    """64-bit SimHash over k-token shingles, weighted by occurrence count.

    bit j = 1  iff  sum_s count(s) * (+1 if bit j of token_hash64(s) else -1) > 0

    Features are shingles, NOT unigrams: measured on zipfian web text, unigram
    SimHash puts *unrelated* documents at Hamming distance 0-4 (bag-of-words
    ignores order and the frequency profile dominates), while 3-shingle
    SimHash separates unique docs to >= 10 bits with near-dups at <= 8 —
    matching the pHash-like "distance <= 4 means same item" contract the
    reference relies on (/root/reference/deduplicator/ProcessArchive.py:19).

    Fewer than SIMHASH_SHINGLE_K tokens -> 0 (degenerate, see
    BAD_SIMHASHES). Signed.
    """
    sh = shingles(tokenize(text), SIMHASH_SHINGLE_K)
    if not sh:
        return 0
    counts: dict[str, int] = {}
    for t in sh:
        counts[t] = counts.get(t, 0) + 1
    acc = np.zeros(64, dtype=np.int64)
    for t, c in counts.items():
        h = to_unsigned64(token_hash64(t))
        bits = np.array([(h >> j) & 1 for j in range(64)], dtype=np.int64)
        acc += (2 * bits - 1) * c
    u = 0
    for j in range(64):
        if acc[j] > 0:
            u |= 1 << j
    return to_signed64(u)


@dataclass(frozen=True)
class MinHashParams:
    """Seeded universal-hash family for MinHash: (a_i * h + b_i) mod p.

    a in [1, p-1], b in [0, p-1]; h is the unsigned 32-bit shingle hash, so
    a*h + b < 2^62 fits int64 without overflow in either engine.
    """

    k: int = 128
    seed: int = 42
    a: tuple[int, ...] = field(default=())
    b: tuple[int, ...] = field(default=())

    @staticmethod
    def make(k: int = 128, seed: int = 42) -> "MinHashParams":
        rng = np.random.RandomState(seed)
        a = tuple(int(x) for x in rng.randint(1, MINHASH_PRIME, size=k))
        b = tuple(int(x) for x in rng.randint(0, MINHASH_PRIME, size=k))
        return MinHashParams(k=k, seed=seed, a=a, b=b)


def minhash_sig(text: str, k_shingle: int, params: MinHashParams) -> list[int] | None:
    """MinHash signature over k-token shingles; None if no shingles.

    sig_i = min over shingles s of (a_i * shingle_hash32(s) + b_i) mod p.
    """
    sh = shingles(tokenize(text), k_shingle)
    if not sh:
        return None
    hs = np.array(sorted({shingle_hash32(s) for s in sh}), dtype=np.int64)
    a = np.array(params.a, dtype=np.int64)[:, None]
    b = np.array(params.b, dtype=np.int64)[:, None]
    vals = (a * hs[None, :] + b) % MINHASH_PRIME
    return [int(x) for x in vals.min(axis=1)]


def simhash64_batch(texts) -> np.ndarray:
    """Vectorized batch SimHash with a per-batch feature-hash memo.

    Used by the pandas UDF; matches simhash64() exactly. md5 per *unique*
    shingle is memoized across the batch (zipfian web text repeats shingles
    heavily within near-dup clusters), feature bit rows live in one growing
    matrix, and the per-document accumulation is a single matmul
    counts @ bits instead of a Python loop over shingles:
        acc_j = sum_t c_t (2 b_tj - 1) = 2 (c @ B)_j - sum(c)
    """
    from collections import Counter

    memo_idx: dict[str, int] = {}
    rows: list[np.ndarray] = []
    out = np.zeros(len(texts), dtype=np.int64)
    weights = (1 << np.arange(63, dtype=np.uint64)).astype(np.uint64)
    for i, text in enumerate(texts):
        feats = (
            shingles(tokenize(text), SIMHASH_SHINGLE_K) if isinstance(text, str) else []
        )
        if not feats:
            out[i] = 0
            continue
        counts = Counter(feats)
        idxs = np.empty(len(counts), dtype=np.int64)
        for j, t in enumerate(counts):
            ix = memo_idx.get(t)
            if ix is None:
                d = hashlib.md5(t.encode("utf-8")).digest()
                h = int.from_bytes(d[:8], "big")
                bits = np.unpackbits(
                    np.frombuffer(h.to_bytes(8, "little"), dtype=np.uint8),
                    bitorder="little",
                ).astype(np.int64)
                ix = len(rows)
                memo_idx[t] = ix
                rows.append(bits)
            idxs[j] = ix
        B = np.stack([rows[ix] for ix in idxs])
        c = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
        acc = 2 * (c @ B) - c.sum()
        pos = acc > 0
        # signed value = sum of low-63 bit weights, minus 2^63 if bit 63 set
        u = int(np.sum(weights[pos[:63]], dtype=np.uint64))
        if pos[63]:
            u -= 1 << 63
        out[i] = u
    return out


# ---------------------------------------------------------------------------
# Fast engine kernel (the pipeline's scale path)
#
# The md5-over-shingle-STRING spec above stays the oracle/parity kernel (the
# DuckDB differential gate recomputes it in SQL). The pipeline's hot path
# builds the same signature FAMILIES — 3-shingle SimHash64, k-shingle
# MinHash, distinct shingle-hash sets — from a string-free construction:
# md5 per unique TOKEN (memoized; web vocabulary is Zipfian so hits are
# ~99%), then each shingle hash is a polynomial mix of its k token hashes,
# vectorized over the whole document with numpy. Profiled on this 32-core
# box: the string kernel allocates ~25KB of shingle strings per doc and
# stops scaling past ~10 cores (memory-bandwidth bound, 1.5x from 8->32
# procs); this kernel is ~6x faster single-core and scales 3.1x from 8->32.
# ---------------------------------------------------------------------------

POLY64 = np.uint64(0x100000001B3)  # FNV-1a prime as the shingle-mix multiplier


def splitmix64_np(z: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (uint64 in/out, modular arithmetic)."""
    z = (z + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def _shingle_mix(th: np.ndarray, k: int) -> np.ndarray:
    """uint64 token-hash array -> uint64 hash per k-shingle (poly mix +
    splitmix64 avalanche); caller guarantees len(th) >= k."""
    m = len(th) - k + 1
    acc = np.zeros(m, dtype=np.uint64)
    for j in range(k):
        acc = acc * POLY64 + th[j : j + m]
    return splitmix64_np(acc)


def winnow_split(seq: np.ndarray, w: int) -> tuple[np.ndarray, np.ndarray]:
    """MOSS-style winnowing (Schleimer et al. 2003) over a positional shingle-
    hash sequence, split into (interior, boundary) selected values.

    Selection: the min hash of every length-w sliding window. Split:
    *interior* = values selected by at least one window other than the first
    and last; *boundary* = values selected ONLY by window 0 or window n_w-1.

    Why the split matters for containment (operators/containment.py): if doc
    A is a substring of doc B at token granularity, A's shingle sequence is a
    contiguous run of B's, except that a mid-token cut can perturb A's FIRST
    and LAST shingle only — and shingle 0 appears in window 0 only, shingle
    n-1 in the last window only, so at most those two windows select values
    B never selects. Every INTERIOR window of A has content identical to the
    corresponding window of B, hence its min is selected by B too. Interior
    values are therefore a deterministic anchor universe: anchor(A) interior
    => anchor in B's winnowed set. Density ~2/(w+1), cutting the containment
    df/anchor exchange ~(w+1)/2-fold versus exploding the full shingle set.

    Sequences shorter than w return (empty, all distinct values): such a doc
    can still serve as an OUTER (its values in the exchange cost little) but
    offers no interior guarantee as an inner — callers must keep winnowing
    off (winnow_w=None) for corpora where docs shorter than w + k_shingle - 1
    tokens can be true inner duplicates."""
    n = len(seq)
    if n < w:
        return np.empty(0, dtype=seq.dtype), np.unique(seq)
    from numpy.lib.stride_tricks import sliding_window_view

    mins = sliding_window_view(seq, w).min(axis=1)
    if len(mins) >= 3:
        interior = np.unique(mins[1:-1])
    else:
        interior = np.empty(0, dtype=seq.dtype)
    boundary = np.setdiff1d(
        np.unique(mins[[0, -1]]), interior, assume_unique=False
    )
    return interior, boundary


def signatures_batch(
    texts,
    k_shingle: int,
    params: MinHashParams,
    winnow_w: int | None = None,
):
    """All three signatures in one pass: (simhash int64 array, minhash lists,
    shingle-hash-set lists). Minhash/shingle-set are None for docs with fewer
    than k_shingle tokens; simhash is 0 below SIMHASH_SHINGLE_K tokens
    (BAD_SIMHASHES degenerate convention, same as simhash64).

    With winnow_w set, returns two extra lists (win_interior, win_boundary):
    the winnow_split of each doc's positional shingle-hash sequence, the
    slim anchor universe for the containment leg (see winnow_split)."""
    import pandas as pd  # local: keep module import pyspark/pandas-free

    a = np.array(params.a, dtype=np.int64)[:, None]
    b = np.array(params.b, dtype=np.int64)[:, None]
    bit_idx = np.arange(64, dtype=np.uint64)[None, :]
    weights = (1 << np.arange(63, dtype=np.uint64)).astype(np.uint64)
    out_sim = np.zeros(len(texts), dtype=np.int64)
    out_mh: list[list[int] | None] = []
    out_sh: list[list[int] | None] = []
    out_wint: list[list[int] | None] = []
    out_wbnd: list[list[int] | None] = []
    # Batch token-hash kernel: tokenize every doc, factorize the flat token
    # stream (one C-side hash pass), md5 each DISTINCT token exactly once,
    # then gather per-doc hash arrays by offset. md5 stays the hash (the
    # DuckDB oracle recomputes it), so this is bit-identical to hashing each
    # token in a loop — it just drops the per-token Python dict work and
    # bounds md5 calls at the batch's distinct-token count (Zipfian web text:
    # ~2-6% of the token stream; md5 calls per token at sf0.1 are recorded
    # in BENCH/ROUND5.md).
    tok_lists = [tokenize(t) if isinstance(t, str) else [] for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                       count=len(tok_lists))
    offs = np.zeros(len(tok_lists) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    if offs[-1]:
        flat = np.array(
            [t for toks in tok_lists for t in toks], dtype=object
        )
        codes, uniq = pd.factorize(flat)
        hv = np.fromiter(
            (
                int.from_bytes(hashlib.md5(u.encode("utf-8")).digest()[:8], "big")
                for u in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
        all_th = hv[codes]
    else:
        all_th = np.empty(0, dtype=np.uint64)
    for i, text in enumerate(texts):
        toks = tok_lists[i]
        n = len(toks)
        th = all_th[offs[i]:offs[i + 1]]
        if n >= SIMHASH_SHINGLE_K:
            feats = _shingle_mix(th, SIMHASH_SHINGLE_K)
            uniq, counts = np.unique(feats, return_counts=True)
            bits = ((uniq[:, None] >> bit_idx) & np.uint64(1)).astype(np.int64)
            acc = 2 * (counts.astype(np.int64) @ bits) - counts.sum()
            pos = acc > 0
            u = int(np.sum(weights[pos[:63]], dtype=np.uint64))
            if pos[63]:
                u -= 1 << 63
            out_sim[i] = u
        if n >= k_shingle:
            # 32-bit domain (top bits of the mix) keeps a*h+b inside int64
            # for the universal-hash MinHash family, same as shingle_hash32
            h32 = (_shingle_mix(th, k_shingle) >> np.uint64(32)).astype(np.int64)
            uniq = np.unique(h32)
            vals = (a * uniq[None, :] + b) % MINHASH_PRIME
            out_mh.append(vals.min(axis=1).tolist())
            out_sh.append(uniq.tolist())
            if winnow_w is not None:
                wi, wb = winnow_split(h32, winnow_w)
                out_wint.append(wi.tolist())
                out_wbnd.append(wb.tolist())
        else:
            out_mh.append(None)
            out_sh.append(None)
            if winnow_w is not None:
                out_wint.append(None)
                out_wbnd.append(None)
    if winnow_w is not None:
        return out_sim, out_mh, out_sh, out_wint, out_wbnd
    return out_sim, out_mh, out_sh
