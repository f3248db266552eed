"""Connected-components (union-find) tests.

Replaces the reference's Neo4j cluster semantics (components of the Phash4
edge graph, /root/reference/graphApi.py:15-27). Includes the path-graph
round-count bound from SURVEY.md's risk register.
"""

import numpy as np
from pyspark.sql import functions as F

from intraarchivededuplicator_spark.operators.cluster import (
    assign_clusters,
    connected_components,
)


def cc_dict(edges_df, **kw):
    # default small_graph_cap=None so these tests keep pinning the
    # DISTRIBUTED star loop (the default engine takes the driver-side
    # union-find fast path below SMALL_GRAPH_CAP; its equivalence is pinned
    # separately in test_small_graph_fast_path_matches_star_loop)
    kw.setdefault("small_graph_cap", None)
    return {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges_df, **kw).collect()
    }


def test_triangle(spark):
    e = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id_lo long, id_hi long")
    assert cc_dict(e) == {1: 1, 2: 1, 3: 1}


def test_two_components(spark):
    e = spark.createDataFrame([(1, 2), (10, 11), (11, 12)], "id_lo long, id_hi long")
    assert cc_dict(e) == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_path_graph_long_chain(spark):
    """200-node path: naive min-propagation needs ~200 rounds; the alternating
    star algorithm must converge well inside MAX_ITERATIONS=50."""
    n = 200
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_lo long, id_hi long"
    )
    got = cc_dict(e)
    assert got == {i: 0 for i in range(n)}


def test_star_hot_cluster(spark):
    e = spark.createDataFrame([(0, i) for i in range(1, 500)], "id_lo long, id_hi long")
    got = cc_dict(e)
    assert set(got.values()) == {0}
    assert len(got) == 500


def test_random_graph_vs_networkx_style_oracle(spark):
    """Random sparse graph vs a driver-side union-find oracle."""
    rng = np.random.RandomState(99)
    n, m = 400, 300
    edges = [(int(a), int(b)) for a, b in rng.randint(0, n, size=(m, 2)) if a != b]
    e = spark.createDataFrame(edges, "id_lo long, id_hi long")

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per component
    rep = {}
    for v in range(n):
        r = find(v)
        rep.setdefault(r, v if v < rep.get(r, n) else rep[r])
    expect = {}
    touched = {v for ab in edges for v in ab}
    for v in touched:
        r = find(v)
        expect[v] = min(u for u in touched if find(u) == r)
    assert cc_dict(e) == expect


def test_assign_clusters_singletons(spark):
    ids = spark.createDataFrame([(i,) for i in range(6)], "id long")
    e = spark.createDataFrame([(1, 3), (3, 5)], "id_lo long, id_hi long")
    got = {r["id"]: r["cluster_id"] for r in assign_clusters(ids, e).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1}


def test_empty_edges(spark):
    ids = spark.createDataFrame([(1,), (2,)], "id long")
    e = spark.createDataFrame([], "id_lo long, id_hi long")
    got = {r["id"]: r["cluster_id"] for r in assign_clusters(ids, e).collect()}
    assert got == {1: 1, 2: 2}


def test_edge_free_graph_is_a_local_empty_frame(spark):
    """An edge-free result must not be a Python RDD: each action on one
    starts Python workers."""
    e = spark.createDataFrame([(1, 1)], "id_lo long, id_hi long")
    cc = connected_components(e)
    plan = cc._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert cc.collect() == []


def test_embedding_dup_clusters_composition(spark):
    """Pin the SemDeDup composition (plans/queries.q_embedding_dup_clusters):
    clusters of the IVF near-pair edge set == an independent driver-side
    union-find over the SAME edges, with every non-null/non-empty-embedding
    vector in the universe (singletons keep their own id). Uses clustered
    synthetic vectors so the edge set is non-trivial, plus planted null and
    empty embeddings that must be absent from the output — the same
    universe contract the DuckDB oracle's `ids` CTE states."""
    from pyspark.sql import Row

    from intraarchivededuplicator_spark.operators.ivf import ivf_near_pairs

    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for c in rng.standard_normal((6, 8)):
        for _ in range(5):
            v = c + 0.01 * rng.standard_normal(8)
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    rows.append(Row(vec_id=vid, embedding=None))
    rows.append(Row(vec_id=vid + 1, embedding=[]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = ivf_near_pairs(emb, threshold=0.9, n_cells=6, nprobe=2)
    edges = [(r["id_lo"], r["id_hi"]) for r in pairs.collect()]
    assert edges, "fixture must produce a non-trivial edge set"

    universe = list(range(vid))  # null/empty rows excluded
    parent = {v: v for v in universe}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per component over the full universe
    comp = {}
    for v in universe:
        comp.setdefault(find(v), []).append(v)
    expect = {v: min(members) for members in comp.values() for v in members}

    clustered = assign_clusters(
        emb.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") > 0)
        ).select(F.col("vec_id").alias("id")),
        pairs,
    )
    got = {r["id"]: r["cluster_id"] for r in clustered.collect()}
    assert got == expect
    assert vid not in got and vid + 1 not in got


def test_small_graph_fast_path_matches_star_loop(spark):
    """The driver-side union-find fast path (edge count <= small_graph_cap)
    must emit exactly the star loop's output — same ids, same min-id cluster
    representatives — on a random sparse graph with skew (one hot star plus
    random edges plus a long path)."""
    rng = np.random.RandomState(1234)
    edges = [(0, i) for i in range(1, 60)]                      # hot star
    edges += [(int(a), int(b)) for a, b in rng.randint(100, 500, size=(300, 2)) if a != b]
    edges += [(i, i + 1) for i in range(600, 680)]              # path
    e = spark.createDataFrame(edges, "id_lo long, id_hi long")

    fast = {
        r["id"]: r["cluster_id"]
        for r in connected_components(e).collect()  # default: fast path
    }
    loop = cc_dict(e)  # forced distributed star loop
    assert fast == loop
    assert len(fast) > 0


def test_fast_path_gate_respects_cap(spark):
    """With the cap below the edge count, the distributed loop must engage
    (same answer either way; this pins the gate arithmetic, not semantics)."""
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_lo long, id_hi long"
    )
    capped = {
        r["id"]: r["cluster_id"]
        for r in connected_components(e, small_graph_cap=5).collect()
    }
    assert capped == {i: 0 for i in range(21)}


def test_dedup_cluster_stats_inverts_clusters(spark):
    """The size histogram must be exactly the inversion of the gated cluster
    assignment: n_clusters/n_docs/n_removable per size recomputed in Python
    from q_simhash_clusters' output, and the doc total must conserve."""
    import collections

    from intraarchivededuplicator_spark.plans import queries as q

    sf = "/root/testdata/sf0.001"
    clusters = q.q_simhash_clusters(spark, sf).collect()
    by_cluster = collections.Counter(r["cluster_id"] for r in clusters)
    by_size = collections.Counter(by_cluster.values())
    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"], r["n_removable"])
        for r in q.q_dedup_cluster_stats(spark, sf).collect()
    }
    want = {
        size: (n, n * size, n * (size - 1)) for size, n in by_size.items()
    }
    assert got == want
    assert sum(v[1] for v in got.values()) == len(clusters)
