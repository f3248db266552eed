"""Exact-containment pass: which documents appear verbatim inside others.

Web-graft analog of the reference's archive-containment query — "is container
A's item set a subset of container B's?"
(/root/reference/deduplicator/ProcessArchive.py:351-394, early-exit on any
unique item at :388-390). Here: doc A's *text* appears as an exact substring
of doc B's text.

Distributed plan (no O(n^2)):
 1. anchor generation — each inner-candidate doc contributes its 3 rarest
    shared shingle hashes, read from the shingle-set column a signature
    kernel computed. If A ⊂ B at token boundaries, every interior A-shingle
    is a B-shingle, so at least one anchor is in B's shingle set.
 2. candidate join — explode outer docs' distinct shingle hashes, semi-join
    against the broadcast anchor set, then equi-join anchors == shingles.
    Shuffle volume: one row per (outer doc, anchored shingle), not n^2.
 3. exact verify — applyInPandas grouped by outer doc: build one suffix
    array over the outer text (functions/suffix.py) and binary-search each
    inner candidate. Amortizes many probes per outer doc.

Emitted pairs are (inner_id, outer_id) with inner strictly shorter; equal
texts are the exact-dup operator's job.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.columns import tokens

# anchor slots whose candidate volume (inners x outer df) exceeds this are
# skipped; see containment_pairs' skew note
HOT_ANCHOR_CAP = 250_000


def containment_pairs(
    docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    *,
    shingle_col: str,
    broadcast_anchors: bool = True,
    winnow_interior_col: str | None = None,
    winnow_boundary_col: str | None = None,
) -> DataFrame:
    """(inner_id, outer_id) where inner text ⊂ outer text, len(inner) < len(outer).

    shingle_col names each doc's distinct shingle-hash set (array<long>,
    null below k_shingle tokens), computed by a signature kernel before the
    call: compute_docs carries it as shingle_hashes. The operator hashes
    nothing itself; anchors and the outer explode read that column.

    Candidate plan (ids only — no text leaves its partition until the final
    verify): min-anchor equi-join -> shingle-subset filter (containment
    implies inner's shingle set ⊆ outer's up to boundary effects, checked
    JVM-side with array_except) -> texts joined for the few survivors ->
    per-outer-doc suffix-array verify.

    Singleton pruning: if inner ⊂ outer, every *interior* inner shingle also
    occurs in the outer doc, so its document frequency is >= 2. A doc whose
    shingles are (near-)all df=1 can never be an inner — and on web corpora
    most shingles are df=1, so only the df>=2 slice of the shingle table
    flows into the per-doc anchor aggregation. Boundary tolerance: a
    mid-token substring cut turns the first and last inner token into
    fragments, and a fragment token appears in exactly ONE sliding-window
    shingle (token 0 is only in shingle 0; token n-1 only in shingle n-k),
    so at most 2 inner shingles can be perturbed — the tolerance on the
    all-multi gate and the subset filter is the constant 2, independent of
    k_shingle; the suffix-array verify downstream is exact either way.

    Skew: anchors are each doc's 3 globally RAREST df>=2 shingles (min by
    document frequency, hash tie-break) — rarest-first because any inner
    shingle genuinely shared with the outer works as an anchor and the
    rarest is the most selective; 3 of them because up to 2 boundary
    shingles (one fragment shingle per end, see above) can be perturbed by a
    mid-token substring cut AND still have df>=2 via some third doc, so a
    single min-anchor could be absent from the outer and silently miss the
    pair (ADVICE r2) — by pigeonhole at least one of 3 distinct df>=2
    shingles is interior, and interior shingles of a contained doc always
    occur in the outer. A common shingle can therefore never accumulate a
    large anchor group; only true near-identical mega-clusters (where every
    shingle is shared by all m members) stay hot, and anchor slots whose
    inner x df product exceeds HOT_ANCHOR_CAP are skipped (per slot — a doc
    skipped on one hot anchor still joins via its other anchors) — residual
    connectivity is the SimHash/Jaccard legs' job (the reference's
    >100-candidate skip, deduplicator/ProcessArchive.py:504-513).

    Shuffle budget (the scale story): three corpus x shingle-sized
    exchanges — df groupBy, the df>=2 join-back, and one per-doc window
    that yields the anchor ranking AND the shared-shingle count together.
    These are the flagship's largest exchanges; on a single box they cap at
    the host's shuffle-throughput ceiling (see BENCH/BASELINE.md), on a
    real cluster they scale with executor count like any keyed exchange.

    broadcast_anchors: the anchor-set semi-join that prunes the exploded
    outer-shingle table is map-side (broadcast) by default — one long per
    inner doc. At 10^9+ docs the anchor set exceeds broadcast capacity; pass
    False to keep it a shuffle semi-join (both sides partitioned on the
    shingle hash), which is the scale-safe plan VERDICT r1 asked for.

    winnow_interior_col / winnow_boundary_col (opt-in, both or neither):
    shrink the df/anchor exchange ~(w+1)/2-fold by exploding each doc's
    WINNOWED shingle selection (window-w sliding min,
    functions/hashing.winnow_split) instead of its full shingle set. The
    recall guarantee stays deterministic: anchors are drawn only from
    *interior*-window selections, which a true outer provably also selects
    (its corresponding windows have identical content), so the anchor
    equi-join still finds every (inner, outer) pair — no sampling, no
    probability. Boundary-window selections (<= 2 values, possibly perturbed
    by a mid-token cut) stay in the exchange for the outer side and the
    all-multi gate (slack=2 covers them) but are never anchors. Caveat: a
    doc with fewer than winnow_w + 2 shingles has no interior window and
    cannot be detected as an INNER — enable winnowing only where true inner
    duplicates are longer than winnow_w + k_shingle + 1 tokens (web pages:
    yes; tweet-sized corpora: leave the columns out). The fast signature
    kernel emits both columns (make_fast_signatures_udf(winnow_w=...);
    compute_docs under cfg.containment_winnow_w).
    """
    winnowing = winnow_interior_col is not None
    if winnowing != (winnow_boundary_col is not None):
        raise ValueError(
            "pass both winnow_interior_col and winnow_boundary_col, or neither"
        )
    # one fragment shingle per end at most (see docstring) — NOT k-dependent
    slack = 2
    base = docs.filter(F.col(shingle_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        F.length(text_col).alias("_len"),
        F.col(shingle_col).alias("_sh"),
        *(
            [
                F.col(winnow_interior_col).alias("_wint"),
                F.col(winnow_boundary_col).alias("_wbnd"),
            ]
            if winnowing
            else []
        ),
    )
    # docs with < k_shingle tokens have no anchor and are skipped: containment
    # is only defined for inner docs of at least one shingle (degenerate/empty
    # docs are the blacklist's business, not this operator's).
    # the exploded stream feeds the flagship's LARGEST exchanges — keep its
    # rows minimal (id + shingle hash only; lengths re-join at candidate
    # scale, which is orders of magnitude smaller). Repartition on the
    # shingle hash ONCE: the df groupBy, the df>=2 join-back, and the outer
    # side of the candidate join all read this one shuffle output via
    # ReuseExchange instead of each re-exploding/re-exchanging the table.
    if winnowing:
        # winnowed universe: interior values first, then boundary; the
        # position bit rides the exchange (1 byte) so the anchor ranking can
        # filter to the guaranteed-interior slice without a second explode
        exploded = (
            base.select(
                "_id",
                F.size("_wint").alias("_ni"),
                F.posexplode(F.concat("_wint", "_wbnd")).alias("_pos", "s"),
            )
            .select(
                "_id", "s", (F.col("_pos") < F.col("_ni")).alias("_int")
            )
            .repartition("s")
        )
    else:
        exploded = base.select(
            F.col("_id"), F.explode("_sh").alias("s")
        ).repartition("s")
    from pyspark.sql.window import Window

    n_anchors = slack + 1  # pigeonhole: at least one interior anchor survives
    multi = (
        exploded.select("_id", "s")
        .groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
    )
    # both sides are partitioned on s (multi is the groupBy's own output);
    # shuffle_hash builds the df-table map per partition with no sorts
    shared = exploded.join(multi.hint("shuffle_hash"), "s")
    # Two-stage anchor build. Naively one window over `shared` partitioned by
    # _id yields both the rarest-anchor ranking and the shared-shingle count,
    # but that exchanges + sorts the ENTIRE corpus-x-df>=2 table (36M rows at
    # 160k docs) while only the handful of docs passing the all-multi gate
    # (near-fully-shared shingle sets — true containment/near-identical
    # candidates, ~0.1% of a web corpus) ever need ranking. So:
    #  1. per-doc df>=2 count via groupBy — partial aggregation collapses it
    #     map-side, so the exchange carries slim (id, count) partials, not
    #     the shared rows themselves;
    #  2. gate against the doc's shingle-set size (inner docs: every shingle
    #     shared, minus boundary tolerance);
    #  3. window ONLY the passing docs' shared rows (broadcast semi-join
    #     prunes map-side) — the rank exchange shrinks from corpus-sized to
    #     candidate-sized.
    # (A collect_list-packed 2-exchange variant was measured and rejected:
    # ObjectHashAggregate's sort-based fallback at high key cardinality made
    # it 2-8x slower. `shared`'s subtree appears in both branches below and
    # its exchanges are deduped by ReuseExchange — written once, read twice.)
    # gate counts run over the SAME universe the exchange carries: the full
    # shingle set normally, the winnowed selection under winnowing (a true
    # inner's interior selections are all df>=2; only the <= slack boundary
    # selections can miss)
    universe_size = (
        (F.size("_wint") + F.size("_wbnd")) if winnowing else F.size("_sh")
    )
    meta = base.select(
        F.col("_id"), F.col("_len"), universe_size.alias("_n_sh")
    )
    passing = (
        shared.groupBy("_id")
        .agg(F.count("*").alias("_n_multi"))
        .join(meta, "_id")
        .filter(F.col("_n_multi") >= F.col("_n_sh") - slack)
        .select("_id", "_len")
    )
    if broadcast_anchors:
        # bounded by construction at web scale (fully-shared-shingle docs);
        # the 10^9+-doc plan keeps it a shuffle join like the anchor join
        passing = F.broadcast(passing)
    # under winnowing only interior-window selections are valid anchors
    # (guaranteed present in a true outer's winnowed set — see docstring)
    anchorable = shared.filter(F.col("_int")) if winnowing else shared
    inner = (
        anchorable.join(passing, "_id")
        .select(
            "_id",
            "s",
            "df",
            "_len",
            F.row_number()
            .over(Window.partitionBy("_id").orderBy("df", "s"))
            .alias("_rn"),
        )
        .filter(F.col("_rn") <= n_anchors)
        .select(
            F.col("_id").alias("inner_id"),
            F.col("_len").alias("inner_len"),
            F.col("s").alias("anchor"),
            F.col("df").alias("_adf"),
        )
    )
    # skip anchor slots whose candidate volume (inners x outer df) would
    # blow up — one window over the small inner table, no extra join
    n_in = F.count("*").over(Window.partitionBy("anchor"))
    inner = (
        inner.withColumn("_n_in", n_in)
        .filter(F.col("_n_in") * F.col("_adf") <= HOT_ANCHOR_CAP)
        .select("inner_id", "inner_len", "anchor")
    )
    if broadcast_anchors:
        inner = F.broadcast(inner)
    # candidate join: outer shingle rows x inner anchors. The equi-join on
    # anchor IS the pruning — a broadcast hash join keeps the exploded table
    # map-side (zero shuffle of it); with broadcast_anchors=False both sides
    # shuffle-partition on the shingle hash (the 10^9+-doc plan).
    outer = exploded.select(
        F.col("_id").alias("outer_id"), F.col("s").alias("anchor")
    )

    cand = (
        outer.join(inner, "anchor")
        .filter(F.col("inner_id") != F.col("outer_id"))
        .select("outer_id", "inner_id", "inner_len")
        .dropDuplicates(["outer_id", "inner_id"])
        # outer lengths re-join at candidate scale; the strict inner<outer
        # length gate must run BEFORE the fat shingle-array joins below
        .join(
            base.select(
                F.col("_id").alias("outer_id"), F.col("_len").alias("outer_len")
            ).hint("shuffle_hash"),
            "outer_id",
        )
        .filter(F.col("inner_len") < F.col("outer_len"))
        .select("outer_id", "inner_id")
    )
    # necessary condition, JVM-side: inner shingle set ⊆ outer's, tolerating
    # up to `slack` boundary shingles perturbed by a mid-token substring cut
    sh_in = base.select(F.col("_id").alias("inner_id"), F.col("_sh").alias("_sh_in"))
    sh_out = base.select(F.col("_id").alias("outer_id"), F.col("_sh").alias("_sh_out"))
    cand = (
        cand.join(sh_in, "inner_id")
        .join(sh_out, "outer_id")
        .filter(F.size(F.array_except("_sh_in", "_sh_out")) <= slack)
        .select("outer_id", "inner_id")
    )
    texts_in = base.select(
        F.col("_id").alias("inner_id"), F.col("_text").alias("inner_text")
    )
    texts_out = base.select(
        F.col("_id").alias("outer_id"), F.col("_text").alias("outer_text")
    )
    cand = cand.join(texts_in, "inner_id").join(texts_out, "outer_id").select(
        "outer_id", "outer_text", "inner_id", "inner_text"
    )

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.suffix import sa_contains, suffix_array

        out_rows = []
        for outer_text, grp in pdf.groupby("outer_text", sort=False):
            blob = outer_text.encode("utf-8")
            if len(grp) == 1:
                row = grp.iloc[0]
                if row["inner_text"].encode("utf-8") in blob:
                    out_rows.append((int(row["inner_id"]), int(row["outer_id"])))
                continue
            sa = suffix_array(blob)
            for _, row in grp.iterrows():
                if sa_contains(blob, sa, row["inner_text"]):
                    out_rows.append((int(row["inner_id"]), int(row["outer_id"])))
        return pd.DataFrame(out_rows, columns=["inner_id", "outer_id"])

    return cand.groupBy("outer_id").applyInPandas(
        verify, schema="inner_id long, outer_id long"
    )


def containment_pairs_bruteforce(
    docs: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """O(n^2) oracle for differential tests."""
    k_shingle = 5
    a = docs.select(
        F.col(id_col).alias("inner_id"), F.col(text_col).alias("ta")
    ).filter(F.size(tokens(F.col(text_col))) >= k_shingle)
    b = docs.select(F.col(id_col).alias("outer_id"), F.col(text_col).alias("tb"))
    return (
        a.crossJoin(b)
        .filter(
            (F.col("inner_id") != F.col("outer_id"))
            & (F.length("ta") < F.length("tb"))
            & F.contains(F.col("tb"), F.col("ta"))
        )
        .select("inner_id", "outer_id")
    )
