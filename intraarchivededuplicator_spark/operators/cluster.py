"""Distributed connected components (union-find) over the pairs table.

Replaces the reference's Neo4j similarity graph, whose connected components
are the duplicate clusters (/root/reference/graphApi.py:15-27,
/root/reference/invertDb.py:74-91).

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — the standard shuffle-efficient
CC for DataFrame engines (also what GraphFrames uses):

  large-star: every node connects its strictly-larger neighbors to the
              minimum of its closed neighborhood;
  small-star: every node connects its not-larger neighbors (and itself) to
              that minimum.

The fixpoint is a forest of stars centered at each component's minimum id,
reached in O(log^2 n) rounds worst case (O(log n) in practice) — including on
path graphs, where naive min-propagation needs O(diameter) rounds. Each round
is localCheckpoint()ed to cut lineage (at cluster scale this is a parquet/
Iceberg stage checkpoint, see engine/checkpoint.py).

Cluster id = min member id: stable and deterministic across runs and
partitionings (R3 determinism discipline,
/root/reference/deduplicator/ProcessArchive.py:204-207).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import empty_frame


def _symmetric(e: DataFrame) -> DataFrame:
    return e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _large_star(e: DataFrame) -> DataFrame:
    """Emit (v, m) for every neighbor v > u, where m = min(N(u) ∪ {u}).

    The mins join is hinted shuffle_hash: inside the iterative loop AQE would
    otherwise broadcast a fresh mins table every round, and accumulated
    driver-side broadcasts OOM the driver long before the loop converges
    (observed at 160k docs / ~10 rounds). Both sides are partitioned on the
    node id, so a shuffle hash join is also the right plan at cluster scale.
    """
    sym = _symmetric(e)
    mins = (
        sym.groupBy("a")
        .agg(F.min("b").alias("nb"))
        .select("a", F.least("a", "nb").alias("m"))
    )
    return (
        sym.join(mins.hint("shuffle_hash"), "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))  # (larger, min)
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (big -> small); connect each node's small neighbors and
    itself to the minimum of those."""
    oriented = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
    moved = (
        oriented.join(mins.hint("shuffle_hash"), "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_edges = mins.select(F.col("a"), F.col("m").alias("b"))
    return (
        moved.unionByName(self_edges)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


# Edge-count bound for the driver-side fast path: 1M edges is ~16 MB over
# the Arrow transport — the same magnitude of driver materialization as a
# broadcast-join build side — and a sub-second union-find, vs ~10 distributed
# star rounds (each: 2 shuffles + a checkpoint) for the same answer. Dup-pair
# edge sets are sparse relative to the corpus, so this is the common case;
# above the cap (billions of edges at the 10^12-doc scale) the alternating
# star loop engages unchanged.
SMALL_GRAPH_CAP = 1_000_000

# Round cap for the star loop. It converges in O(log^2 n) rounds worst case
# (~10 measured at 160k docs), so 50 is a safety stop, never the exit.
MAX_ITERATIONS = 50


def _driver_union_find(spark, e: DataFrame) -> DataFrame:
    """(a, b) edges -> (id, cluster_id) via driver-side union-find.

    Only called when the DISTINCT edge count is <= small_graph_cap, so the
    collect is bounded by construction. Deterministic and partitioning-
    independent: union always attaches the larger root under the smaller
    (so a component's root IS its min id — the same contract as the star
    loop's fixpoint), and the min-id of a component does not depend on edge
    visit order."""
    pdf = e.toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(pdf["a"].tolist(), pdf["b"].tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    import pandas as pd

    out = pd.DataFrame(
        [(i, find(i)) for i in parent], columns=["id", "cluster_id"]
    )
    return spark.createDataFrame(out, "id long, cluster_id long")


def _checksum(e: DataFrame) -> tuple[int, int]:
    # xor-fold (never overflows, edges are distinct) + count; used only for
    # the fixpoint early-stop — a late stop is harmless, rounds are idempotent
    # at the fixpoint
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "id_lo",
    dst: str = "id_hi",
    small_graph_cap: int | None = SMALL_GRAPH_CAP,
) -> DataFrame:
    """edges (src, dst) -> (id, cluster_id) for every id appearing in edges.

    cluster_id = min node id in the component. Isolated nodes (no edges) are
    not emitted; see assign_clusters().

    When the distinct edge count is <= small_graph_cap the answer comes from
    a bounded driver-side union-find (see _driver_union_find; identical
    output, pinned by a differential test) instead of the star loop — the
    count is already on the driver from the fixpoint checksum, so the gate
    costs no extra job. Pass small_graph_cap=None (or 0) to force the
    distributed loop.
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    prev = _checksum(e)
    if prev[0] == 0:
        return empty_frame(spark, "id long, cluster_id long")
    if small_graph_cap and prev[0] <= small_graph_cap:
        return _driver_union_find(spark, e)

    # Size the loop's shuffles by DATA, not by the session default: the edge
    # table is usually tiny relative to the corpus (dup pairs only), and a
    # 64-partition shuffle x ~10 rounds x ~6 stages is thousands of near-empty
    # tasks of pure scheduling overhead. prev[0] is the exact edge count from
    # the first checksum; at 10^12-doc scale this keeps the cluster default.
    conf = spark.conf
    saved_parts = conf.get("spark.sql.shuffle.partitions")
    loop_parts = max(8, min(int(saved_parts), prev[0] // 50_000 + 1))
    conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        for rnd in range(MAX_ITERATIONS):
            # checkpoint every round: lineage would otherwise grow per round
            e = _small_star(_large_star(e)).localCheckpoint()
            # convergence check every other round: a fixpoint round is
            # idempotent, so a late stop is harmless and this halves the
            # driver collect barriers (VERDICT r1 next-round #1b)
            if rnd % 2 == 0:
                continue
            cur = _checksum(e)
            if cur == prev:
                break
            prev = cur
    finally:
        conf.set("spark.sql.shuffle.partitions", saved_parts)

    # fixpoint: stars (member -> root). Members map to root; roots to self.
    members = e.select(
        F.greatest("a", "b").alias("id"), F.least("a", "b").alias("cluster_id")
    ).groupBy("id").agg(F.min("cluster_id").alias("cluster_id"))
    roots = (
        e.select(F.least("a", "b").alias("id"))
        .distinct()
        .join(members.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("cluster_id"))
    )
    return members.unionByName(roots)


def assign_clusters(
    all_ids: DataFrame, edges: DataFrame, id_col: str = "id"
) -> DataFrame:
    """(id) x (id_lo, id_hi) -> (id, cluster_id); singletons keep their own id."""
    cc = connected_components(edges)
    # cc is bounded by the edge-touched node count (dup-pair members only),
    # usually far smaller than all_ids but not broadcast-bounded at corpus
    # scale; shuffle_hash builds the hash table from it without sorting either
    # side, which is the right plan at every scale.
    return (
        all_ids.select(F.col(id_col).alias("id"))
        .join(cc.hint("shuffle_hash"), "id", "left")
        .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id"))
    )
