"""Pure-function golden tests for the signature spec.

Ports the reference's converter/distance test layers:
- bit-conversion round-trips incl. randomized fuzz
  (/root/reference/Tests/Test_BinaryConverter.py:98-143)
- Hamming-distance goldens on signed int64 edge cases
  (/root/reference/Tests/Test_BKTree.py:142-158)
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from intraarchivededuplicator_spark.functions.hashing import (
    BAD_SIMHASHES,
    INT64_MIN,
    MinHashParams,
    bin_str_to_int64,
    hamming64,
    int64_to_bin_str,
    minhash_sig,
    shingle_hash32,
    shingles,
    simhash64,
    simhash64_batch,
    to_signed64,
    token_hash64,
    tokenize,
)

B = bin_str_to_int64


class TestBinaryConverters:
    def test_all_zero(self):
        assert B("0" * 64) == 0

    def test_all_one(self):
        assert B("1" * 64) == -1

    def test_msb_only(self):
        assert B("1" + "0" * 63) == INT64_MIN

    def test_lsb_only(self):
        assert B("0" * 63 + "1") == 1

    def test_wrong_length_raises(self):
        with pytest.raises(ValueError):
            B("01")

    def test_roundtrip_fuzz(self):
        # randomized round-trip, mirrors Test_BinaryConverter.py:128-133
        rng = np.random.RandomState(42)
        for _ in range(1000):
            bits = "".join(rng.choice(["0", "1"], size=64))
            assert int64_to_bin_str(B(bits)) == bits


class TestHammingGoldens:
    """Exact vectors from /root/reference/Tests/Test_BKTree.py:142-158."""

    def test_reference_vectors(self):
        v1 = B("0" * 64)
        v2 = B("1" * 64)
        v3 = B("0000000000000000000000000000000000000001111111111111111000000000")
        v4 = B("1" + "0" * 63)
        v5 = B("0" * 63 + "1")
        v6 = B("11" + "0" * 62)
        assert hamming64(v1, v2) == 64
        assert hamming64(v3, v2) == 48
        assert hamming64(v2, v4) == 63
        assert hamming64(v2, v5) == 63
        assert hamming64(v1, v4) == 1
        assert hamming64(v1, v5) == 1
        assert hamming64(v1, v6) == 2


class TestTokenizeAndShingles:
    def test_tokenize_ws_runs(self):
        assert tokenize("a  b\tc\nd ") == ["a", "b", "c", "d"]
        assert tokenize("") == []
        assert tokenize("   \n\t ") == []

    def test_shingles(self):
        assert shingles(["a", "b", "c", "d"], 3) == ["a b c", "b c d"]
        assert shingles(["a", "b"], 3) == []


class TestSimHash:
    def test_degenerate_is_zero(self):
        assert simhash64("") == 0
        assert simhash64("   \n ") == 0
        assert 0 in BAD_SIMHASHES

    def test_deterministic(self):
        assert simhash64("the quick brown fox") == simhash64("the quick brown fox")

    def test_near_dup_close_far_dup_far(self):
        base = " ".join(f"tok{i % 97}" for i in range(300))
        perturbed = base.replace("tok5 ", "tok999 ", 2)
        other = " ".join(f"w{i * 7 % 1013}" for i in range(300))
        d_near = hamming64(simhash64(base), simhash64(perturbed))
        d_far = hamming64(simhash64(base), simhash64(other))
        assert d_near < d_far
        assert d_near <= 10

    def test_batch_matches_scalar(self):
        texts = [
            "",
            "a",
            "the quick brown fox jumps over the lazy dog",
            "a a a b b c",
            " ".join(f"tok{i % 13}" for i in range(500)),
            "Ünïcode tøkens ærå 日本語 テスト",
        ]
        batch = simhash64_batch(texts)
        for t, got in zip(texts, batch):
            assert int(got) == simhash64(t), t


class TestMinHash:
    def test_params_deterministic(self):
        p1 = MinHashParams.make(8, seed=42)
        p2 = MinHashParams.make(8, seed=42)
        assert p1 == p2
        assert all(a >= 1 for a in p1.a)

    def test_sig_none_when_too_short(self):
        p = MinHashParams.make(8)
        assert minhash_sig("a b", 5, p) is None

    def test_identical_texts_identical_sigs(self):
        p = MinHashParams.make(16)
        t = " ".join(f"tok{i}" for i in range(50))
        assert minhash_sig(t, 5, p) == minhash_sig(t, 5, p)

    def test_similarity_monotone(self):
        p = MinHashParams.make(128)
        base = [f"tok{i}" for i in range(200)]
        near = list(base)
        near[10] = "XX"
        far = [f"w{i}" for i in range(200)]
        s_base = minhash_sig(" ".join(base), 5, p)
        s_near = minhash_sig(" ".join(near), 5, p)
        s_far = minhash_sig(" ".join(far), 5, p)
        agree_near = sum(a == b for a, b in zip(s_base, s_near))
        agree_far = sum(a == b for a, b in zip(s_base, s_far))
        assert agree_near > 100
        assert agree_far < 10


_TOKENS = st.sampled_from(["a", "b", "c", "tok", "日本語", "ø"])
_SEPS = st.sampled_from(
    [" ", "  ", "\t", "\n", "\r\n", "\x0b\x0c", "\u00a0", "\u3000"]
)


@st.composite
def _spec_texts(draw):
    """None, or a few tokens from a small vocabulary (so shingles repeat
    within and across docs) joined and wrapped by mixed whitespace."""
    if draw(st.integers(0, 7)) == 0:
        return None
    toks = draw(st.lists(_TOKENS, max_size=14))
    seps = draw(st.lists(_SEPS, min_size=len(toks) + 1, max_size=len(toks) + 1))
    return seps[0] + "".join(t + sep for t, sep in zip(toks, seps[1:]))


class TestSpecShingleLoop:
    """udfs' one spec-family loop, through both UDFs that reduce it, against
    the scalar spec. The raw pandas functions run on one batch, so the md5
    memo is shared across its docs as it is in a Spark worker."""

    @settings(max_examples=200, deadline=None)
    @given(st.lists(_spec_texts(), max_size=8), st.sampled_from([1, 3, 5]))
    def test_udfs_match_scalar_spec(self, texts, k):
        from intraarchivededuplicator_spark.functions.udfs import (
            make_minhash_udf,
            make_shingle_hashes_udf,
        )

        p = MinHashParams.make(8, seed=5)
        batch = pd.Series(texts, dtype=object)
        got_mh = make_minhash_udf(k, p).func(batch)
        got_sh = make_shingle_hashes_udf(k).func(batch)
        assert len(got_mh) == len(got_sh) == len(texts)
        for text, mh, sh in zip(texts, got_mh, got_sh):
            spec = shingles(tokenize(text), k)
            assert mh == minhash_sig(text, k, p)
            assert sh == (sorted({shingle_hash32(s) for s in spec}) or None)


class TestSpecVsDuckDB:
    """The oracle-SQL builders must agree with the Python spec bit-for-bit."""

    TEXTS = [
        "",
        "one",
        "a b c a b a",
        "the quick brown fox jumps over the lazy dog the quick",
        " ".join(f"tok{i % 23}" for i in range(150)),
        "Ünïcode tøkens ærå 日本語 テスト again Ünïcode",
        "  leading and   trailing   ",
    ]

    @pytest.fixture(scope="class")
    def con(self):
        duckdb = pytest.importorskip("duckdb")
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        for i, t in enumerate(self.TEXTS):
            con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
        return con

    def test_token_hash64_sql(self, con):
        from intraarchivededuplicator_spark.plans.oracle import sql_token_hash64

        for tok in ["hello", "a", "tok999", "日本語"]:
            got = con.sql(
                f"SELECT {sql_token_hash64('?')} ".replace("?", f"'{tok}'")
            ).fetchone()[0]
            assert got == token_hash64(tok), tok

    def test_simhash_sql(self, con):
        from intraarchivededuplicator_spark.plans.oracle import sql_simhash_signatures

        rows = con.sql(sql_simhash_signatures("documents")).fetchall()
        assert len(rows) == len(self.TEXTS)
        for doc_id, sh in rows:
            assert sh == simhash64(self.TEXTS[doc_id]), self.TEXTS[doc_id]

    def test_minhash_sql(self, con):
        from intraarchivededuplicator_spark.plans.oracle import sql_minhash_long

        p = MinHashParams.make(16)
        rows = con.sql(sql_minhash_long(p, 5, "documents")).fetchall()
        by_doc: dict[int, dict[int, int]] = {}
        for doc_id, i, v in rows:
            by_doc.setdefault(doc_id, {})[i] = v
        for doc_id, t in enumerate(self.TEXTS):
            expect = minhash_sig(t, 5, p)
            if expect is None:
                assert doc_id not in by_doc
            else:
                got = [by_doc[doc_id][i] for i in range(16)]
                assert got == expect, t

    def test_shingle_hash_sql(self, con):
        from intraarchivededuplicator_spark.plans.oracle import sql_shingle_hash32

        got = con.sql(
            f"SELECT {sql_shingle_hash32(chr(39) + 'a b c d e' + chr(39))}"
        ).fetchone()[0]
        assert got == shingle_hash32("a b c d e")


class TestWinnowSplit:
    """hashing.winnow_split: the containment anchor-universe kernel."""

    def test_interior_guarantee_under_perturbed_slice(self):
        """Any interior selection of a contiguous slice (with first/last
        element perturbed, the mid-token-cut analog) must appear in the full
        sequence's winnowed set — the deterministic anchor guarantee."""
        from intraarchivededuplicator_spark.functions.hashing import winnow_split

        rng = np.random.RandomState(7)
        for trial in range(20):
            outer = rng.randint(0, 1 << 31, size=200).astype(np.int64)
            lo = rng.randint(0, 80)
            hi = lo + rng.randint(30, 100)
            inner = outer[lo:hi].copy()
            inner[0] ^= 99991
            inner[-1] ^= 77773
            for w in (4, 8, 12):
                oi, ob = winnow_split(outer, w)
                owin = set(oi.tolist()) | set(ob.tolist())
                ii, _ = winnow_split(inner, w)
                assert all(v in owin for v in ii.tolist()), (trial, w)

    def test_density(self):
        """Expected winnowing density is ~2/(w+1) on random input."""
        from intraarchivededuplicator_spark.functions.hashing import winnow_split

        rng = np.random.RandomState(1)
        seq = rng.randint(0, 1 << 31, size=20000).astype(np.int64)
        w = 8
        wi, wb = winnow_split(seq, w)
        density = (len(wi) + len(wb)) / len(seq)
        assert 0.15 < density < 0.3, density

    def test_short_sequences(self):
        from intraarchivededuplicator_spark.functions.hashing import winnow_split

        wi, wb = winnow_split(np.array([5, 3, 9], dtype=np.int64), 8)
        assert len(wi) == 0 and sorted(wb.tolist()) == [3, 5, 9]
        # exactly w elements: one window, no interior
        wi, wb = winnow_split(np.arange(8, dtype=np.int64), 8)
        assert len(wi) == 0 and wb.tolist() == [0]

    def test_disjoint_and_complete(self):
        """interior and boundary partition the winnowed value set."""
        from intraarchivededuplicator_spark.functions.hashing import winnow_split
        from numpy.lib.stride_tricks import sliding_window_view

        rng = np.random.RandomState(3)
        seq = rng.randint(0, 1000, size=500).astype(np.int64)  # force ties
        w = 6
        wi, wb = winnow_split(seq, w)
        assert not set(wi.tolist()) & set(wb.tolist())
        mins = sliding_window_view(seq, w).min(axis=1)
        assert set(wi.tolist()) | set(wb.tolist()) == set(np.unique(mins).tolist())
        assert set(wi.tolist()) == set(np.unique(mins[1:-1]).tolist())


class TestSignaturesBatchKernel:
    def test_factorized_kernel_matches_per_row_reference(self):
        """signatures_batch's batched token-hash kernel (factorize the flat
        token stream, md5 once per DISTINCT token, gather per doc by offset)
        must be bit-identical to the per-row memo-dict reference (the r4
        implementation, reconstructed here from the module's own shingle-mix
        primitives) on a fuzzed mixed batch — including empty / whitespace /
        non-string docs, so the offset bookkeeping is exercised at every
        batch position."""
        import hashlib

        from intraarchivededuplicator_spark.functions.hashing import (
            MINHASH_PRIME,
            _shingle_mix,
            signatures_batch,
            tokenize,
        )

        rng = np.random.RandomState(77)
        vocab = [f"w{i}" for i in range(40)] + ["日本語", "tøken", "a'b"]
        texts: list = ["", "   \n ", None, "a b c"]
        for _ in range(60):
            n = rng.randint(0, 120)
            texts.append(" ".join(vocab[j] for j in rng.randint(0, len(vocab), n)))
        p = MinHashParams.make(k=16, seed=3)
        k_shingle, k_sim = 5, 3  # k_sim: the SimHash shingle width
        sim, mh, sh = signatures_batch(texts, k_shingle, p)

        a = np.array(p.a, dtype=np.int64)[:, None]
        b = np.array(p.b, dtype=np.int64)[:, None]
        bit_idx = np.arange(64, dtype=np.uint64)[None, :]
        weights = (1 << np.arange(63, dtype=np.uint64)).astype(np.uint64)
        for i, text in enumerate(texts):
            toks = tokenize(text) if isinstance(text, str) else []
            th = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.md5(t.encode("utf-8")).digest()[:8], "big"
                    )
                    for t in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            if len(toks) >= k_sim:
                feats = _shingle_mix(th, k_sim)
                uniq, counts = np.unique(feats, return_counts=True)
                bits = ((uniq[:, None] >> bit_idx) & np.uint64(1)).astype(np.int64)
                acc = 2 * (counts.astype(np.int64) @ bits) - counts.sum()
                pos = acc > 0
                u = int(np.sum(weights[pos[:63]], dtype=np.uint64))
                if pos[63]:
                    u -= 1 << 63
                assert int(sim[i]) == u, i
            else:
                assert int(sim[i]) == 0, i
            if len(toks) >= k_shingle:
                h32 = (_shingle_mix(th, k_shingle) >> np.uint64(32)).astype(
                    np.int64
                )
                uniq32 = np.unique(h32)
                vals = (a * uniq32[None, :] + b) % MINHASH_PRIME
                assert mh[i] == vals.min(axis=1).tolist(), i
                assert sh[i] == uniq32.tolist(), i
            else:
                assert mh[i] is None and sh[i] is None, i
