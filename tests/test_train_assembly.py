"""Pin the training-set assembly surfaces: train_split_leakage (eval
decontamination audit), dsir_weights (DSIR importance selection score),
token_yield_funnel (token-level dedup retention).

Each gets (a) a transport-strict DuckDB oracle differential at sf0.001 —
the driver's own compare, at a different SF than the driver uses — and
(b) a first-principles recompute in plain Python (hashlib md5, integer
quantization, brute-force Hamming pairs) so the pins don't share code
with either engine.
"""

import hashlib
import math
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

from check_oracles import normalize_df  # noqa: E402

from intraarchivededuplicator_spark.functions.charlm import (  # noqa: E402
    CHARLM_Q,
    LP_MICRO,
)
from intraarchivededuplicator_spark.functions.dsir import DSIR_B  # noqa: E402
from intraarchivededuplicator_spark.functions.hashing import (  # noqa: E402
    simhash64,
)
from intraarchivededuplicator_spark.plans import oracle as o  # noqa: E402
from intraarchivededuplicator_spark.plans import queries as q  # noqa: E402

SF = "/root/testdata/sf0.001"


def _oracle_df(sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    return con.sql(sql).df()


def _strict_compare(spdf, opdf):
    scols, skinds, srows = normalize_df(spdf)
    ocols, okinds, orows = normalize_df(opdf)
    assert scols == ocols
    assert srows == orows
    for c in scols:
        assert {"int", "float"} != {skinds[c], okinds[c]}, c


def _docs():
    con = duckdb.connect()
    return con.sql(
        f"SELECT doc_id, text, lang FROM '{SF}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()


def _md5_prefix_mod(s: str, mod: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod


def _split(doc_id: int) -> str:
    b = _md5_prefix_mod(str(doc_id), q.SPLIT_MOD)
    if b < q.SPLIT_TRAIN_HI:
        return "train"
    if b == q.SPLIT_TRAIN_HI:
        return "valid"
    return "test"


# --- train_split_leakage ----------------------------------------------------

def test_train_split_leakage_oracle(spark):
    spdf = q.q_train_split_leakage(spark, SF).toPandas()
    opdf = _oracle_df(
        o.sql_train_split_leakage(
            q.SIMHASH_RADIUS, q.SPLIT_MOD, q.SPLIT_TRAIN_HI
        )
    )
    _strict_compare(spdf, opdf)


def test_train_split_leakage_first_principles(spark):
    """Recompute from scratch: brute-force Hamming pairs over the Python
    simhash64, split labels from hashlib md5, no engine code."""
    rows = _docs()
    sigs = {d: simhash64(t) for d, t, _ in rows}
    from collections import Counter

    combos = Counter()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        if sigs[a] == 0:
            continue
        for b in ids[i + 1:]:
            if sigs[b] == 0:
                continue
            if bin(sigs[a] ^ sigs[b]).count("1") <= q.SIMHASH_RADIUS:
                sa, sb = sorted((_split(a), _split(b)))
                combos[(sa, sb)] += 1
    spdf = q.q_train_split_leakage(spark, SF).toPandas()
    got = {
        (r.split_a, r.split_b): r.n_pairs for r in spdf.itertuples()
    }
    assert got == dict(combos)
    tot = sum(combos.values())
    for r in spdf.itertuples():
        assert r.cross_split == (r.split_a != r.split_b)
        assert math.isclose(
            r.frac, round(combos[(r.split_a, r.split_b)] / tot, 6)
        )


def test_split_assignment_is_deterministic_and_balanced():
    """The split is a pure function of doc_id (no data dependence) and the
    md5 buckets land near 90/5/5 over a large id range."""
    n = 20_000
    counts = {"train": 0, "valid": 0, "test": 0}
    for i in range(n):
        counts[_split(i)] += 1
    assert counts["train"] / n == pytest.approx(0.90, abs=0.01)
    assert counts["valid"] / n == pytest.approx(0.05, abs=0.01)
    assert counts["test"] / n == pytest.approx(0.05, abs=0.01)


# --- dsir_weights -----------------------------------------------------------

def _dsir_python(rows):
    """First-principles DSIR recompute: md5 buckets, integer quantization,
    the shared LP_MICRO table — plain dicts, no engine code."""
    from collections import Counter, defaultdict

    per_doc = {}
    c_r, c_t = Counter(), Counter()
    for doc_id, text, lang in rows:
        toks = [t for t in (text or "").split() if t]
        buckets = Counter(_md5_prefix_mod(t, DSIR_B) for t in toks)
        per_doc[doc_id] = buckets
        for b, n in buckets.items():
            c_r[b] += n
            if lang == "en":
                c_t[b] += n
    t_r, t_t = sum(c_r.values()), sum(c_t.values())
    lr = {}
    for b in c_r:
        # empty-target floor: engines coalesce the 0/0 quotient to 0, so
        # the clamp lands on p_q = 1 (the epsilon floor)
        pq_t = (
            max(1, min(CHARLM_Q, (c_t.get(b, 0) * CHARLM_Q) // t_t))
            if t_t
            else 1
        )
        pq_r = max(1, min(CHARLM_Q, (c_r[b] * CHARLM_Q) // t_r))
        lr[b] = LP_MICRO[pq_t - 1] - LP_MICRO[pq_r - 1]
    out = {}
    for doc_id, buckets in per_doc.items():
        if not buckets:
            continue
        out[doc_id] = (
            sum(buckets.values()),
            sum(n * lr[b] for b, n in buckets.items()),
        )
    return out


def test_dsir_weights_oracle(spark):
    spdf = q.q_dsir_weights(spark, SF).toPandas()
    opdf = _oracle_df(o.sql_dsir_weights(DSIR_B))
    _strict_compare(spdf, opdf)


def test_dsir_weights_first_principles(spark):
    rows = _docs()
    want = _dsir_python(rows)
    spdf = q.q_dsir_weights(spark, SF).toPandas()
    got = {
        r.doc_id: (r.n_tok, r.dsir_micro) for r in spdf.itertuples()
    }
    assert got == want


def test_dsir_weights_separate_target_from_rest(spark):
    """The score must actually select: mean weight of target-lang docs
    strictly above mean weight of the rest (the whole point of DSIR)."""
    rows = _docs()
    lang = {d: l for d, _, l in rows}
    spdf = q.q_dsir_weights(spark, SF).toPandas()
    tgt = [r.dsir_micro for r in spdf.itertuples() if lang[r.doc_id] == "en"]
    rest = [r.dsir_micro for r in spdf.itertuples() if lang[r.doc_id] != "en"]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_dsir_empty_target_floor(spark):
    """An EMPTY target slice must quantize every bucket's target
    probability to the epsilon FLOOR (p_q = 1), not the max level: the
    0/0 quotient is NULL and null-ignoring greatest/least would
    otherwise clamp to Q. Engine, oracle, and the Python pin must agree
    on the floor semantics."""
    from pyspark.sql import functions as F

    from intraarchivededuplicator_spark.functions.dsir import dsir_weights

    rows = _docs()
    # Python recompute with the floor rule: lang None matches nothing
    want = _dsir_python([(d, t, None) for d, t, _ in rows])
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    spdf = dsir_weights(docs, F.lit(False)).toPandas()
    got = {r.doc_id: (r.n_tok, r.dsir_micro) for r in spdf.itertuples()}
    assert got == want
    # lp_t sits at the floor (most negative level), so every bucket's
    # log-ratio is <= 0 (zero only where p_raw also floors) and no doc
    # can score positive against an empty target
    assert all(w <= 0 for _, w in want.values())
    assert any(w < 0 for _, w in want.values())
    # oracle twin with a never-true target agrees
    opdf = _oracle_df(o.sql_dsir_weights(DSIR_B, target="FALSE"))
    _strict_compare(spdf, opdf)


# --- token_yield_funnel -----------------------------------------------------

def test_token_yield_funnel_oracle(spark):
    spdf = q.q_token_yield_funnel(spark, SF).toPandas()
    opdf = _oracle_df(o.sql_token_yield_funnel(q.SIMHASH_RADIUS))
    _strict_compare(spdf, opdf)


def test_token_yield_funnel_composition(spark):
    """The funnel must be exactly the gated keep-list verdict folded with
    Python-side token counts — and monotone non-increasing."""
    kl = {
        r.doc_id: r.reason
        for r in q.q_dedup_keep_list(spark, SF).toPandas().itertuples()
    }
    ntok = {
        d: len([t for t in (text or "").split() if t])
        for d, text, _ in _docs()
    }
    t0 = sum(ntok.values())
    t1 = sum(n for d, n in ntok.items() if kl[d] != "exact_dup")
    t2 = sum(n for d, n in ntok.items() if kl[d] == "kept")
    spdf = q.q_token_yield_funnel(spark, SF).toPandas()
    by_stage = {r.stage: r for r in spdf.itertuples()}
    assert by_stage["0_raw"].n_tokens == t0
    assert by_stage["1_after_exact"].n_tokens == t1
    assert by_stage["2_after_near"].n_tokens == t2
    assert by_stage["0_raw"].n_docs == len(kl)
    assert t0 >= t1 >= t2 > 0
    for stage, tok in (("0_raw", t0), ("1_after_exact", t1), ("2_after_near", t2)):
        assert math.isclose(by_stage[stage].token_yield, round(tok / t0, 6))


# --- cluster_best_rep -------------------------------------------------------

def test_cluster_best_rep_oracle(spark):
    spdf = q.q_cluster_best_rep(spark, SF).toPandas()
    opdf = _oracle_df(
        o.sql_cluster_best_rep(
            q.SIMHASH_RADIUS,
            q.STOPWORDS,
            q.QUALITY_MIN_TOKENS,
            q.QUALITY_MAX_STOP_RATIO,
            q.QUALITY_MIN_DISTINCT_RATIO,
        )
    )
    _strict_compare(spdf, opdf)


def test_cluster_best_rep_composition(spark):
    """The rep must be the argmax of the gated quality surface within the
    gated keep-list cluster: recompute from the two already-gated queries
    plus pure Python ordering."""
    kl = q.q_dedup_keep_list(spark, SF).toPandas()
    tq = {
        r.doc_id: (bool(r.passes_quality), int(r.n_tokens))
        for r in q.q_text_quality(spark, SF).toPandas().itertuples()
    }
    from collections import defaultdict

    members = defaultdict(list)
    for r in kl.itertuples():
        members[r.cluster_id].append(r.doc_id)
    want = {}
    for cid, docs in members.items():
        if len(docs) < 2:
            continue
        best = min(
            docs, key=lambda d: (not tq[d][0], -tq[d][1], d)
        )
        want[cid] = (best, len(docs))
    spdf = q.q_cluster_best_rep(spark, SF).toPandas()
    got = {
        r.cluster_id: (r.rep_doc_id, r.n_members)
        for r in spdf.itertuples()
    }
    assert got == want
    for r in spdf.itertuples():
        assert r.differs_from_min_id == (r.rep_doc_id != r.cluster_id)
        # the rep is at least as good as the min-id member on the sort key
        lo_key = (not tq[r.cluster_id][0], -tq[r.cluster_id][1], r.cluster_id)
        rep_key = (
            not tq[r.rep_doc_id][0], -tq[r.rep_doc_id][1], r.rep_doc_id
        )
        assert rep_key <= lo_key


# --- signal_agreement -------------------------------------------------------

def test_signal_agreement_oracle(spark):
    spdf = q.q_signal_agreement(spark, SF).toPandas()
    opdf = _oracle_df(
        o.sql_signal_agreement(
            q.SIMHASH_RADIUS, q.ORACLE_MINHASH, q.K_SHINGLE,
            n_bands=4, rows_per_band=4,
        )
    )
    _strict_compare(spdf, opdf)


def test_signal_agreement_composition(spark):
    """The matrix must fold exactly the three gated pair surfaces: recompute
    each family's pair set from its own gated query and intersect in
    Python."""
    sim = {
        (r.id_lo, r.id_hi)
        for r in q.q_simhash_radius_pairs(spark, SF).toPandas().itertuples()
    }
    mh = {
        (r.id_lo, r.id_hi)
        for r in q.q_minhash_band_pairs(spark, SF).toPandas().itertuples()
    }
    con = duckdb.connect()
    ex = {
        (a, b)
        for a, b in con.sql(
            f"""WITH h AS (SELECT doc_id, md5(text) th
                           FROM '{SF}/documents.parquet')
                SELECT x.doc_id, y.doc_id FROM h x JOIN h y
                ON x.doc_id < y.doc_id AND x.th = y.th"""
        ).fetchall()
    }
    fam = {"exact": ex, "simhash": sim, "minhash": mh}
    spdf = q.q_signal_agreement(spark, SF).toPandas()
    assert len(spdf) == 3
    for r in spdf.itertuples():
        a, b = fam[r.fam_a], fam[r.fam_b]
        assert r.n_pairs_a == len(a)
        assert r.n_pairs_b == len(b)
        assert r.n_common == len(a & b)
        assert r.n_common <= min(r.n_pairs_a, r.n_pairs_b)
        denom = len(a | b)
        want = round(len(a & b) / denom, 6) if denom else 0.0
        assert math.isclose(r.edge_jaccard, want)


# --- source_dedup_savings ---------------------------------------------------

def test_source_dedup_savings_oracle(spark):
    spdf = q.q_source_dedup_savings(spark, SF).toPandas()
    opdf = _oracle_df(o.sql_source_dedup_savings(q.SIMHASH_RADIUS))
    _strict_compare(spdf, opdf)


def test_source_dedup_savings_composition(spark):
    """Fold the gated keep-list with Python token counts per source; the
    corpus-wide totals must also reconcile with token_yield_funnel."""
    kl = {
        r.doc_id: r.reason
        for r in q.q_dedup_keep_list(spark, SF).toPandas().itertuples()
    }
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, source, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    from collections import defaultdict

    want = defaultdict(lambda: [0, 0, 0, 0])
    for doc_id, source, text in rows:
        n = len([t for t in (text or "").split() if t])
        w = want[source]
        w[0] += 1
        w[2] += n
        if kl[doc_id] != "kept":
            w[1] += 1
            w[3] += n
    spdf = q.q_source_dedup_savings(spark, SF).toPandas()
    assert len(spdf) == len(want)
    for r in spdf.itertuples():
        d, rm, t, trm = want[r.source]
        assert (r.n_docs, r.n_removed, r.n_tokens, r.tokens_removed) == (
            d, rm, t, trm
        )
        assert math.isclose(r.savings_frac, round(trm / max(t, 1), 6))
    # corpus totals reconcile with the funnel's near stage
    fun = {
        r.stage: r
        for r in q.q_token_yield_funnel(spark, SF).toPandas().itertuples()
    }
    assert spdf.n_tokens.sum() == fun["0_raw"].n_tokens
    assert (
        spdf.n_tokens.sum() - spdf.tokens_removed.sum()
        == fun["2_after_near"].n_tokens
    )


# --- kmv_cardinality --------------------------------------------------------

def test_kmv_cardinality_oracle(spark):
    spdf = q.q_kmv_cardinality(spark, SF).toPandas()
    opdf = _oracle_df(o.sql_kmv_cardinality(q.KMV_K, q.K_SHINGLE))
    _strict_compare(spdf, opdf)


def test_kmv_cardinality_first_principles(spark):
    """Recompute per-source distinct shingle hashes and the KMV estimator
    from hashlib md5 alone; exact columns must match and the estimator
    must use the k-th smallest distinct hash."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT source, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    from collections import defaultdict

    hs = defaultdict(set)
    k_sh = q.K_SHINGLE
    for source, text in rows:
        toks = [t for t in (text or "").split() if t]
        for i in range(len(toks) - k_sh + 1):
            s = " ".join(toks[i : i + k_sh])
            hs[source].add(
                int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big")
            )
    spdf = q.q_kmv_cardinality(spark, SF).toPandas()
    assert set(spdf.source) == {s for s, v in hs.items() if v}
    for r in spdf.itertuples():
        vals = sorted(hs[r.source])
        assert r.exact_distinct == len(vals)
        if len(vals) >= q.KMV_K:
            hk = vals[q.KMV_K - 1]
            est = (q.KMV_K - 1) * 4294967296.0 / max(hk, 1)
        else:
            est = float(len(vals))
        assert math.isclose(r.kmv_estimate, round(est, 6))
        assert math.isclose(
            r.rel_error, round(abs(est - len(vals)) / len(vals), 6)
        )
        # the estimator regime should be informative on this corpus
        assert r.rel_error < 0.5


def test_kmv_topk_plan_is_partial(spark):
    """The k-minimum stage must plan as a WindowGroupLimit below the
    exchange (the domain_quota_topk discipline) so the rank shuffle
    carries O(k x sources) rows at any corpus size."""
    plan = (
        q.q_kmv_cardinality(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the Partial must be ON the WindowGroupLimit node line itself — a
    # partial HashAggregate elsewhere in the plan must not satisfy this
    wgl_lines = [l for l in plan.splitlines() if "WindowGroupLimit" in l]
    assert wgl_lines, plan
    assert any("Partial" in l for l in wgl_lines), wgl_lines


# --- incremental_embedding_near_pairs ---------------------------------------

def _oracle_df_emb(sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    return con.sql(sql).df()


def test_incremental_embedding_near_pairs_oracle(spark):
    spdf = q.q_incremental_embedding_near_pairs(spark, SF).toPandas()
    opdf = _oracle_df_emb(
        o.sql_incremental_embedding_near_pairs(
            q.EMB_DIM, q.EMB_SCALE, q.EMB_STREAM_RADIUS, q.INCR_NEW_MOD
        )
    )
    _strict_compare(spdf, opdf)


def test_incremental_embedding_two_legs_match_full_restriction(spark):
    """The cross + within legs must reproduce the FULL banded self-join's
    pair set restricted to batch-touching pairs — the incremental
    contract (no pair lost at the old/new boundary, none double-emitted)."""
    from pyspark.sql import functions as F

    from intraarchivededuplicator_spark.operators.ann import (
        make_hyperplane_udf,
    )
    from intraarchivededuplicator_spark.operators.banded_join import (
        banded_self_join,
    )

    sig_udf = make_hyperplane_udf(q.EMB_DIM)
    d = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            "vec_id",
            sig_udf(F.col("embedding").cast("array<double>")).alias("sig"),
        )
    )
    full = banded_self_join(
        d, "vec_id", "sig", q.EMB_STREAM_RADIUS
    ).collect()
    want = {
        (r.id_lo, r.id_hi, r.distance)
        for r in full
        if r.id_lo % q.INCR_NEW_MOD == 0 or r.id_hi % q.INCR_NEW_MOD == 0
    }
    got = {
        (r.id_lo, r.id_hi, r.distance)
        for r in q.q_incremental_embedding_near_pairs(spark, SF).collect()
    }
    assert got == want
    assert want, "fixture must produce batch-touching pairs"


def test_wrong_dim_vectors_excluded_everywhere(spark):
    """The hyperplane eligibility contract: a wrong-dimension vector must
    be EXCLUDED by engine and oracle alike — the kernel would mask it to
    signature 0 (fabricating distance-0 pairs) while a partial-dot SQL
    signature would be nonzero. Plant two identical wrong-dim vectors
    close in id-space and assert no pair mentions them on either engine.
    Media features sign through the same rule: two unrelated 8-long
    feature vectors would both sign to 0 and pair at distance 0."""
    import duckdb as ddb

    from pyspark.sql import functions as F

    from intraarchivededuplicator_spark.functions.multimodal import (
        DECODED_SCHEMA,
        media_near_dup_pairs,
    )
    from intraarchivededuplicator_spark.operators.ann import (
        ann_near_pairs,
        ann_topk,
    )

    base = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    bad = spark.createDataFrame(
        [(900001, [1.0] * 8), (900002, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    emb = base.unionByName(bad)
    out = ann_near_pairs(emb, threshold=0.5, dim=q.EMB_DIM).collect()
    ids = {i for r in out for i in (r.id_lo, r.id_hi)}
    assert 900001 not in ids and 900002 not in ids
    top = ann_topk(emb, q.EMB_DIM, k=3).collect()
    assert top
    ids = {i for r in top for i in (r.vec_id, r.neighbor_id)}
    assert 900001 not in ids and 900002 not in ids
    decoded = spark.createDataFrame(
        [
            (1, "u1", "image", 10, 4, 4, 1, [0.1 * i for i in range(8)]),
            (2, "u2", "image", 10, 4, 4, 1, [1.0 - 0.2 * i for i in range(8)]),
        ],
        DECODED_SCHEMA,
    )
    assert media_near_dup_pairs(decoded).collect() == []
    # oracle twin: the planted rows vanish behind the len = dim gate
    con = ddb.connect()
    con.execute(
        f"""CREATE VIEW embeddings AS
            SELECT * FROM '{SF}/embeddings.parquet'
            UNION ALL SELECT 900001, [1.0::FLOAT,1,1,1,1,1,1,1], 0
            UNION ALL SELECT 900002, [1.0::FLOAT,1,1,1,1,1,1,1], 0"""
    )
    osql = o.sql_embedding_near_pairs_ann(q.EMB_DIM, q.EMB_SCALE, 0.5)
    oids = {
        i for row in con.sql(osql).fetchall() for i in (row[0], row[1])
    }
    assert 900001 not in oids and 900002 not in oids
