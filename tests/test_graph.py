"""Connected-components clustering over candidate pairs
(operators/graph.py — the LSH-pairs → dedup-groups resolution step)."""

from __future__ import annotations

from pyspark.sql import functions as F

from blueforty___etl_data_pipeline_spark.operators.graph import (
    connected_components,
    dedup_near_duplicates,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_chain_collapses_to_one_component(spark):
    # 1-2, 2-3, 3-4: a diameter-3 chain — needs >1 propagation round.
    out = connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4)]))
    got = {r["node"]: r["component_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components_stay_separate(spark):
    out = connected_components(
        _pairs(spark, [(1, 2), (10, 11), (11, 12), (20, 21)])
    )
    got = {r["node"]: r["component_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_edge_direction_is_irrelevant(spark):
    # Pairs arrive with arbitrary orientation; symmetrization handles it.
    out = connected_components(_pairs(spark, [(5, 3), (3, 9), (9, 1)]))
    got = {r["node"]: r["component_id"] for r in out.collect()}
    assert set(got.values()) == {1}


def test_dedup_keeps_min_id_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = _pairs(spark, [(1, 2), (2, 4)])  # cluster {1,2,4}
    kept = sorted(
        r["doc_id"] for r in dedup_near_duplicates(docs, pairs).collect()
    )
    # 0, 3, 5 unpaired; 1 survives for {1,2,4}.
    assert kept == [0, 1, 3, 5]


def test_empty_pairs_keeps_everything(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(3)], "doc_id long, text string"
    )
    pairs = _pairs(spark, [])
    assert dedup_near_duplicates(docs, pairs).count() == 3


def _simulate_pagerank(edges, iterations=10, scale=10**9, d=85):
    """Pure-Python reference: the same integer fixed-point updates."""
    e = sorted(set(edges))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    deg = {}
    for u, _ in e:
        deg[u] = deg.get(u, 0) + 1
    rank = {n: scale for n in nodes}
    base = scale * (100 - d) // 100
    for _ in range(iterations):
        s = {n: 0 for n in nodes}
        for u, v in e:
            s[v] += rank[u] // deg[u]
        rank = {n: base + d * s[n] // 100 for n in nodes}
    return rank


def test_pagerank_matches_python_simulation(spark):
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        pagerank_fixed_point,
    )

    # Star + tail: hub 1 pointed at by 2,3,4; chain 4->5; symmetrized.
    directed = [(2, 1), (3, 1), (4, 1), (4, 5)]
    edges = directed + [(v, u) for u, v in directed]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_e9"]
        for r in pagerank_fixed_point(df, iterations=10).collect()
    }
    assert got == _simulate_pagerank(edges)
    # The hub outranks every leaf; the leaf-of-chain ranks lowest.
    assert got[1] == max(got.values())


def test_pagerank_two_cycle_is_fixed_point(spark):
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        pagerank_fixed_point,
    )

    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r["node"]: r["rank_e9"] for r in
           pagerank_fixed_point(df, iterations=7).collect()}
    # rank = 0.15e9 + 0.85e9 = 1e9 every round: exact fixed point.
    assert got == {1: 10**9, 2: 10**9}


def test_flatten_hierarchy_forest_and_cycle_guard(spark):
    import pytest

    from blueforty___etl_data_pipeline_spark.operators.graph import (
        flatten_hierarchy,
    )

    # forest: tree rooted at 1 (2,3 under 1; 4 under 2) + isolated
    # tree rooted at 10 (11 under 10)
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (11, 10)], "child long, parent long"
    )
    out = {
        r["node"]: (r["root"], r["depth"])
        for r in flatten_hierarchy(edges).collect()
    }
    assert out == {
        1: (1, 0), 2: (1, 1), 3: (1, 1), 4: (1, 2),
        10: (10, 0), 11: (10, 1),
    }

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "child long, parent long")
    with pytest.raises(ValueError, match="max_depth"):
        flatten_hierarchy(cyc, max_depth=5)


def _chain(spark, height):
    # 0 <- 1 <- ... <- height: root 0, node i at depth i
    return spark.createDataFrame(
        [(i, i - 1) for i in range(1, height + 1)],
        "child long, parent long",
    )


def test_flatten_hierarchy_depth_guard_boundaries(spark):
    import pytest

    from blueforty___etl_data_pipeline_spark.operators.graph import (
        flatten_hierarchy,
    )

    for max_depth in (5, 8):
        out = {
            r["node"]: (r["root"], r["depth"])
            for r in flatten_hierarchy(
                _chain(spark, max_depth), max_depth=max_depth
            ).collect()
        }
        assert out == {i: (0, i) for i in range(max_depth + 1)}
        with pytest.raises(ValueError, match="max_depth"):
            flatten_hierarchy(
                _chain(spark, max_depth + 1), max_depth=max_depth
            )

    one = _chain(spark, 1)
    with pytest.raises(ValueError, match="max_depth"):
        flatten_hierarchy(one, max_depth=0)
    out = {
        r["node"]: (r["root"], r["depth"])
        for r in flatten_hierarchy(one, max_depth=1).collect()
    }
    assert out == {0: (0, 0), 1: (0, 1)}


def test_flatten_hierarchy_cycle_with_tail_raises(spark):
    import pytest

    from blueforty___etl_data_pipeline_spark.operators.graph import (
        flatten_hierarchy,
    )

    # 1 -> 2 -> 3 -> 1 is a cycle; 5 -> 4 -> 1 hangs off it, and the
    # separate tree 11 -> 10 is well formed
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1), (5, 4), (11, 10)],
        "child long, parent long",
    )
    with pytest.raises(ValueError, match="max_depth"):
        flatten_hierarchy(edges, max_depth=40)


def test_flatten_hierarchy_log_rounds_no_probe_jobs(spark, monkeypatch):
    # Pointer doubling: a 1,024-node chain (height 1,023) takes
    # ceil(log2 1023) = 10 jump rounds after the initial step, and
    # convergence is read off each cut job, never a take/count probe.
    import math

    from pyspark.sql.classic.dataframe import DataFrame

    from blueforty___etl_data_pipeline_spark import lineage
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        flatten_hierarchy,
    )

    height = 1023
    edges = _chain(spark, height).persist()
    edges.count()
    cuts, probes = [], []
    orig_cut = lineage.cut_lineage

    def spy_cut(df, eager=True):
        cuts.append(eager)
        return orig_cut(df, eager=eager)

    orig_take, orig_count = DataFrame.take, DataFrame.count
    monkeypatch.setattr(lineage, "cut_lineage", spy_cut)
    monkeypatch.setattr(
        DataFrame, "take", lambda self, n: probes.append("take")
        or orig_take(self, n)
    )
    monkeypatch.setattr(
        DataFrame, "count", lambda self: probes.append("count")
        or orig_count(self)
    )
    out = flatten_hierarchy(edges, max_depth=height)
    monkeypatch.undo()
    assert len(cuts) <= math.ceil(math.log2(height)) + 1, cuts
    assert all(cuts)
    assert probes == []
    got = {r["node"]: (r["root"], r["depth"]) for r in out.collect()}
    assert got == {i: (0, i) for i in range(height + 1)}
    edges.unpersist()


def test_dedup_keep_best_prefers_quality_over_min_id(spark):
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        dedup_keep_best,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (7, 5)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_keep_best(df, pairs, quality_col="quality").collect()
    )
    # cluster {1,2,3}: both 2 and 3 have quality 99 -> id tiebreak
    # keeps 2 (NOT the min-id 1, whose quality is lower); 7 unpaired
    assert kept == [2, 7]


def test_flatten_hierarchy_randomized_vs_python_walk(spark):
    import random

    from blueforty___etl_data_pipeline_spark.operators.graph import (
        flatten_hierarchy,
    )

    for seed in (0, 1):
        rng = random.Random(seed)
        # random forest: each node 1..60 parents to a strictly smaller
        # id (or is a root with p=0.15)
        edges = []
        parent = {}
        for n in range(1, 61):
            if n > 0 and rng.random() > 0.15 and n > 1:
                p = rng.randint(1, n - 1)
                edges.append((n, p))
                parent[n] = p
        def walk(n):
            d = 0
            while n in parent:
                n = parent[n]
                d += 1
            return n, d
        nodes = {x for e in edges for x in e}
        want = {n: walk(n) for n in nodes}
        got = {
            r["node"]: (r["root"], r["depth"])
            for r in flatten_hierarchy(
                spark.createDataFrame(edges, "child long, parent long")
            ).collect()
        }
        assert got == want, f"seed {seed}"


def test_triangle_count_known_graph(spark):
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    # K4 on {1,2,3,4} has 4 triangles + a pendant edge (4,5); edges
    # given unordered/duplicated to exercise canonicalization
    edges = [
        (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (3, 2), (2, 4),
        (3, 4), (5, 4),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (5, 7, 4)


def test_triangle_count_triangle_free(spark):
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    # star graph: no triangles
    df = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    r = triangle_count(df).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (6, 5, 0)


def test_k_core_peel_ground_truth(spark):
    """Hand-built graph: a K4 clique (4-node complete) wired to a
    tail path.  The 3-core is exactly the clique (each clique node
    has degree 3 inside it); the tail peels away over multiple
    rounds, proving the cascade; converged flags the fixpoint."""
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        k_core_peel,
    )

    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    tail = [(4, 5), (5, 6), (6, 7)]  # chain hanging off the clique
    edges = spark.createDataFrame(clique + tail, ["src", "dst"])

    out = k_core_peel(edges, k=3, rounds=8).collect()
    assert sorted(r["node"] for r in out) == [1, 2, 3, 4]
    assert all(r["degree"] == 3 for r in out)
    assert all(r["converged"] for r in out)

    # k=2: the chain still peels (endpoints cascade), clique survives
    out2 = k_core_peel(edges, k=2, rounds=8).collect()
    assert sorted(r["node"] for r in out2) == [1, 2, 3, 4]

    # insufficient rounds: the 3-node chain needs 3 peels at k=2;
    # with rounds=1 the cascade is incomplete and converged is False
    out3 = k_core_peel(edges, k=2, rounds=1).collect()
    assert sorted(r["node"] for r in out3) != [1, 2, 3, 4]
    assert not any(r["converged"] for r in out3)


def test_resource_allocation_pairs_weights_and_cap(spark):
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        resource_allocation_pairs,
    )

    # hub h1 {a,b,c} deg3, h2 {a,b} deg2, h3 {a,b,c,d} deg4
    edges = spark.createDataFrame(
        [("h1", x) for x in "abc"]
        + [("h2", x) for x in "ab"]
        + [("h3", x) for x in "abcd"]
        + [("h2", "a")],  # duplicate edge must collapse
        "hub string, item string",
    )
    got = {
        (r["item_a"], r["item_b"]): (r["n_common"], r["ra_score_e6"])
        for r in resource_allocation_pairs(
            edges, "hub", "item", min_common=2
        ).collect()
    }
    # (a,b): shared by all three hubs -> 1/3 + 1/2 + 1/4
    assert got[("a", "b")] == (3, 333333 + 500000 + 250000)
    # (a,c): h1 + h3
    assert got[("a", "c")] == (2, 333333 + 250000)
    # (c,d): only h3 -> below min_common, absent
    assert ("c", "d") not in got

    # super-hub cap: with max_degree=3, h3's contributions vanish
    capped = {
        (r["item_a"], r["item_b"]): (r["n_common"], r["ra_score_e6"])
        for r in resource_allocation_pairs(
            edges, "hub", "item", min_common=2, max_degree=3
        ).collect()
    }
    assert capped[("a", "b")] == (2, 333333 + 500000)
    assert ("a", "c") not in capped


def test_grid_density_clusters_shapes(spark):
    import pytest

    from blueforty___etl_data_pipeline_spark.operators.graph import (
        grid_density_clusters,
    )

    # two dense blobs joined by an adjacent dense cell; one far dense
    # singleton; a couple of sparse noise points
    def blob(cx, cy, k):
        # k points inside cell (cx, cy) at scale 16
        return [((cx + 0.5) / 16.0, (cy + 0.5) / 16.0)] * k

    pts = (
        blob(0, 0, 5) + blob(1, 0, 5)      # adjacent -> one cluster
        + blob(5, 5, 6)                     # far singleton cluster
        + [(0.9, 0.9), (-0.7, 0.3)]         # noise (sparse cells)
    )
    df = spark.createDataFrame(pts, "x double, y double")
    rows = {r["cluster_id"]: r for r in grid_density_clusters(
        df, "x", "y", scale=16, min_pts=4
    ).collect()}

    noise = rows.pop(-1)
    assert noise["n_points"] == 2 and noise["n_cells"] == 0
    assert len(rows) == 2
    by_cells = sorted(rows.values(), key=lambda r: r["n_cells"])
    assert by_cells[1]["n_cells"] == 2 and by_cells[1]["n_points"] == 10
    assert by_cells[0]["n_cells"] == 1 and by_cells[0]["n_points"] == 6
    # bounding boxes
    assert (by_cells[1]["min_cx"], by_cells[1]["max_cx"]) == (0, 1)
    assert (by_cells[0]["min_cx"], by_cells[0]["max_cx"]) == (5, 5)

    with pytest.raises(ValueError, match="power of two"):
        grid_density_clusters(df, "x", "y", scale=10)


def test_grid_density_clusters_far_coords_no_collision(spark):
    """Cells far beyond the old ±64-coordinate pack limit must stay
    distinct clusters (the retired (cx+1024)·4096 encoding collided
    there and silently merged them)."""
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        grid_density_clusters,
    )

    def blob(cx, cy, k):
        return [((cx + 0.5) / 16.0, (cy + 0.5) / 16.0)] * k

    # (cx=5000, cy=0) vs (cx=0, cy=5000·4096-ish offsets) — under the
    # old pack, (cx+1024)*4096 + cy + 1024 collides for e.g.
    # (2, 10) vs (1, 4106).  Use exactly that colliding pair.
    pts = blob(2, 10, 5) + blob(1, 4106, 5)
    df = spark.createDataFrame(pts, "x double, y double")
    rows = [
        r
        for r in grid_density_clusters(
            df, "x", "y", scale=16, min_pts=4
        ).collect()
        if r["cluster_id"] != -1
    ]
    assert len(rows) == 2  # two singleton clusters, never merged
    assert sorted(r["n_points"] for r in rows) == [5, 5]


def test_grid_density_clusters_out_of_range_raises(spark):
    import pytest

    from blueforty___etl_data_pipeline_spark.operators.graph import (
        grid_density_clusters,
    )

    big = (float(1 << 31), 0.0)  # cx = 2^35 at scale 16 — unencodable
    df = spark.createDataFrame([big] * 5, "x double, y double")
    with pytest.raises(Exception, match="encodable range"):
        grid_density_clusters(df, "x", "y", scale=16, min_pts=4).collect()


def test_label_propagation_two_communities(spark):
    """Deterministic sync LPA (round 11): two triangles bridged by one
    edge must settle into two communities ({1,2,3} -> label 1,
    {4,5,6} -> label 3) after 4 rounds — hand-worked through the
    most-frequent / smallest-label tie rule, including the round-2
    tie states the rule must break identically on every engine."""
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_bfs_hops_chain_levels_and_convergence(spark):
    from blueforty___etl_data_pipeline_spark.operators.graph import bfs_hops

    # chain 1-2-3-4-5 plus an unreachable island {10,11}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "v long")
    out = bfs_hops(edges, seeds, rounds=6)
    got = {r["node"]: (r["hops"], r["converged"]) for r in out.collect()}
    assert got == {
        1: (0, True), 2: (1, True), 3: (2, True), 4: (3, True), 5: (4, True)
    }


def test_bfs_hops_multi_source_takes_min_and_truncates(spark):
    from blueforty___etl_data_pipeline_spark.operators.graph import bfs_hops

    # chain 1-2-3-4-5-6; seeds at both ends, only 1 round allowed
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (6,)], "v long")
    out = bfs_hops(edges, seeds, rounds=1)
    got = {r["node"]: r["hops"] for r in out.collect()}
    assert got == {1: 0, 6: 0, 2: 1, 5: 1}
    # 3 and 4 are still unreached -> not converged
    assert all(r["converged"] is False for r in out.collect())
    # two rounds finish the chain: BFS level = min over both seeds
    out2 = bfs_hops(edges, seeds, rounds=2)
    got2 = {r["node"]: r["hops"] for r in out2.collect()}
    assert got2 == {1: 0, 6: 0, 2: 1, 5: 1, 3: 2, 4: 2}
    assert all(r["converged"] for r in out2.collect())


def test_hits_fixed_point_star_and_determinism(spark):
    """Star 1→{2,3,4}: the sole hub renorms to exactly scale, every
    authority to scale, and cross roles to 0 — bit-stable across
    partition counts (integer max-renorm, no float chain)."""
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        hits_fixed_point,
    )

    e = spark.createDataFrame([(1, 2), (1, 3), (1, 4)],
                              "src long, dst long")
    for parts in (1, 5):
        rows = {
            r["node"]: (r["hub_e9"], r["auth_e9"])
            for r in hits_fixed_point(e.repartition(parts),
                                      rounds=2).collect()
        }
        assert rows[1] == (10**9, 0)
        for v in (2, 3, 4):
            assert rows[v] == (0, 10**9)


def test_hits_fixed_point_asymmetric_chain(spark):
    """2→1, 3→1, 3→2: node 1 is the top authority, node 3 (pointing at
    both) the top hub; hand-rolled one round checks the renorm."""
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        hits_fixed_point,
    )

    e = spark.createDataFrame([(2, 1), (3, 1), (3, 2)],
                              "src long, dst long")
    rows = {
        r["node"]: (r["hub_e9"], r["auth_e9"])
        for r in hits_fixed_point(e, rounds=1).collect()
    }
    # round 1: a_raw(1)=2e9, a_raw(2)=1e9 -> a = (1e9, 5e8)
    # h_raw(2)=1e9, h_raw(3)=1.5e9 -> h(3)=1e9, h(2)=(1e9*1e9)//1.5e9
    assert rows[1][1] == 10**9 and rows[2][1] == 5 * 10**8
    assert rows[3][0] == 10**9
    assert rows[2][0] == (10**9 * 10**9) // (15 * 10**8)
    assert rows[1][0] == 0 and rows[3][1] == 0


def test_degree_assortativity_star_ring(spark):
    """A star is maximally disassortative (exactly −1.0); a ring has
    zero degree variance → defined 0."""
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        degree_assortativity,
    )

    star = spark.createDataFrame([(0, i) for i in range(1, 6)],
                                 "src long, dst long")
    (r,) = degree_assortativity(star).collect()
    assert r["n_edges"] == 10 and r["assortativity_e6"] == -1000000
    ring = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)],
                                 "src long, dst long")
    (r2,) = degree_assortativity(ring).collect()
    assert r2["n_edges"] == 12 and r2["assortativity_e6"] == 0


def test_clustering_coefficient_triangle_plus_pendant(spark):
    """K3 {1,2,3} plus pendant 4-1: nodes 2,3 fully clustered (1e6),
    node 1 has deg 3 -> 2*1e6*1 div 6 = 333333, pendant 4 -> 0."""
    from blueforty___etl_data_pipeline_spark.operators.graph import (
        clustering_coefficient,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    out = {r["node"]: r for r in clustering_coefficient(e).collect()}
    assert out[2]["coeff_e6"] == 1000000 == out[3]["coeff_e6"]
    assert out[1]["degree"] == 3 and out[1]["coeff_e6"] == 333333
    assert out[4]["degree"] == 1 and out[4]["coeff_e6"] == 0
    assert out[1]["n_triangles"] == 1 == out[2]["n_triangles"]


def test_adamic_adar_path_scores_nonadjacent_only(spark):
    """Path 1-2-3: only (1,3) is non-adjacent with a common neighbor
    (2, deg 2) -> aa = 1e12 div floor(1e6*ln 2) = 1442695; adjacent
    pairs never emitted."""
    import math

    from blueforty___etl_data_pipeline_spark.operators.graph import (
        adamic_adar,
    )

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    rows = adamic_adar(e).collect()
    assert len(rows) == 1
    (r,) = rows
    assert (r["id_a"], r["id_b"], r["n_common"]) == (1, 3, 1)
    assert r["aa_e6"] == 10**12 // math.floor(10**6 * math.log(2))
    # star 0-{1,2,3}: hub deg 3 -> each leaf pair scores via ln 3
    star = spark.createDataFrame([(0, i) for i in (1, 2, 3)],
                                 "src long, dst long")
    got = {(r["id_a"], r["id_b"]): r["aa_e6"]
           for r in adamic_adar(star).collect()}
    w = 10**12 // math.floor(10**6 * math.log(3))
    assert got == {(1, 2): w, (1, 3): w, (2, 3): w}
