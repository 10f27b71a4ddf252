"""Hand-computed fixtures for the round-9 graph additions: neighbor-
Jaccard link prediction, multi-source bounded BFS, and deterministic
synchronous label propagation.

Each test pins a semantic the oracle gate can't distinguish from a
lucky aggregate: the non-adjacency anti-join and exact-integer Jaccard
in link prediction, the frontier/settled-set contract and the
seed-outside-graph universe rule in BFS, and LPA's neighbors-only
voting with the min-label tie-break, hand-iterated three rounds.
"""

from __future__ import annotations

import pytest

from big_data_project_datapipeline_spark.operators.graph import (
    bfs_distance,
    label_propagation,
    neighbor_jaccard,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_neighbor_jaccard_square(spark):
    """4-cycle 0-1-2-3-0: the two diagonals are the only candidate
    links, each with both neighbors shared -> J = 2/(2+2-2) = 1.0;
    adjacent pairs never appear (anti-join), self-pairs never appear."""
    got = neighbor_jaccard(
        _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    ).collect()
    rows = {(r["u"], r["v"]): (r["common_neighbors"], r["jaccard"]) for r in got}
    assert rows == {(0, 2): (2, 1.0), (1, 3): (2, 1.0)}


def test_neighbor_jaccard_path_scores_and_order(spark):
    """Path 0-1-2-3: candidates (0,2) and (1,3), each common=1 with
    degree sums 1+2 -> J=0.5; tie broken by (u, v) ascending, and
    top_k=1 keeps only (0,2)."""
    ed = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    got = [(r["u"], r["v"], r["jaccard"]) for r in neighbor_jaccard(ed).collect()]
    assert got == [(0, 2, 0.5), (1, 3, 0.5)]
    top1 = neighbor_jaccard(ed, top_k=1).collect()
    assert [(r["u"], r["v"]) for r in top1] == [(0, 2)]


def test_neighbor_jaccard_pivot_cap_drops_hub_wedges(spark):
    """Star 0-{1,2,3}: every candidate pair's only shared neighbor is
    the hub (degree 3); capping max_pivot_degree=2 removes the hub as
    a pivot, so no candidates survive."""
    ed = _edges(spark, [(0, 1), (0, 2), (0, 3)])
    assert neighbor_jaccard(ed).count() == 3  # (1,2),(1,3),(2,3)
    assert neighbor_jaccard(ed, max_pivot_degree=2).count() == 0


def test_neighbor_jaccard_absorbs_duplicates_and_loops(spark):
    """Duplicate edges (both directions) and self-loops do not inflate
    degrees or common counts: the collapsed graph is the path 0-1-2,
    so deg(0)=deg(2)=1 and J(0,2) = 1/(1+1-1) = 1.0."""
    ed = _edges(spark, [(0, 1), (1, 0), (1, 2), (1, 2), (1, 1)])
    got = {(r["u"], r["v"]): (r["common_neighbors"], r["jaccard"]) for r in
           neighbor_jaccard(ed).collect()}
    assert got == {(0, 2): (1, 1.0)}


def test_bfs_distance_path_cap_and_outside_seed(spark):
    """Path 0-1-2-3-4 from seed {0} with n_rounds=2: exactly
    {0:0, 1:1, 2:2}; a seed absent from the edge list is kept at 0
    (the q189 universe contract); NULL seeds drop."""
    ed = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    seeds = spark.createDataFrame([(0,), (99,), (None,)], "node long")
    got = {r["node"]: r["dist"] for r in
           bfs_distance(ed, seeds, n_rounds=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 99: 0}


def test_bfs_distance_two_seeds_take_nearest(spark):
    """Seeds {0, 4} on the path: every node settles at the distance of
    the NEARER seed; the middle node is 2 from both."""
    ed = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    seeds = spark.createDataFrame([(0,), (4,)], "node long")
    got = {r["node"]: r["dist"] for r in
           bfs_distance(ed, seeds, n_rounds=3).collect()}
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_bfs_distance_settled_nodes_never_relax(spark):
    """Triangle 0-1-2 with seed {0}: nodes 1 and 2 settle at round 1
    and the round-2 frontier is empty (the anti-join contract) — no
    node is re-emitted at a larger distance."""
    ed = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    seeds = spark.createDataFrame([(0,)], "node long")
    out = bfs_distance(ed, seeds, n_rounds=3).collect()
    assert len(out) == 3
    assert {r["node"]: r["dist"] for r in out} == {0: 0, 1: 1, 2: 1}


def test_label_propagation_two_triangles_hand_iterated(spark):
    """Two triangles {0,1,2} and {3,4,5} joined by bridge 2-3,
    hand-iterated three synchronous rounds with neighbors-only voting
    and min-label ties:
      L1 = [1,0,0,2,3,3], L2 = [0,0,0,3,2,2], L3 = [0,0,0,2,2,2] —
    the two communities emerge with labels 0 and 2."""
    ed = _edges(
        spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)]
    )
    for rounds, want in [
        (1, {0: 1, 1: 0, 2: 0, 3: 2, 4: 3, 5: 3}),
        (2, {0: 0, 1: 0, 2: 0, 3: 3, 4: 2, 5: 2}),
        (3, {0: 0, 1: 0, 2: 0, 3: 2, 4: 2, 5: 2}),
    ]:
        got = {r["node"]: r["label"] for r in
               label_propagation(ed, n_rounds=rounds).collect()}
        assert got == want, f"round {rounds}"


def test_label_propagation_neighbors_only_vote(spark):
    """A node's OWN label never votes: star center 9 with spokes
    {1,4,5} and spoke edge 4-5, hand-iterated. Round 1: 9 sees ids
    {1,4,5} -> 1 (its own label 9 does not anchor it). Round 2: L1 is
    {1:9, 4:5, 5:4}, so 9 sees {9,5,4} -> min 4 — 9's round-1 label 1
    has vanished entirely, proving no self-vote is mixed in."""
    ed = _edges(spark, [(9, 1), (9, 4), (9, 5), (4, 5)])
    got = {r["node"]: r["label"] for r in
           label_propagation(ed, n_rounds=1).collect()}
    assert got == {9: 1, 1: 9, 4: 5, 5: 4}
    got2 = {r["node"]: r["label"] for r in
            label_propagation(ed, n_rounds=2).collect()}
    assert got2[9] == 4


def test_label_propagation_duplicate_edges_vote_once(spark):
    """Edge multiplicity must not weight a vote: node 2 sees neighbor
    1 via a 3x-duplicated edge and neighbor 0 once. Distinct-neighbor
    voting gives the tie {0:1, 1:1} -> min 0; multiplicity-weighted
    voting would elect 1 (3 votes). Pin the tie outcome."""
    ed = _edges(spark, [(2, 1), (1, 2), (2, 1), (2, 0)])
    got = {r["node"]: r["label"] for r in
           label_propagation(ed, n_rounds=1).collect()}
    assert got[2] == 0


def test_ktruss_k3_triangle_survives_pendant_dies(spark):
    """Triangle 0-1-2 with pendant edge 2-3: at k=3 (support >= 1) the
    pendant closes no triangle and dies in round 1; the triangle
    survives with every edge supporting exactly 1 triangle."""
    from big_data_project_datapipeline_spark.operators.graph import ktruss_peel

    ed = _edges(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
    got = {(r["u"], r["v"]): r["support"] for r in
           ktruss_peel(ed, k=3, n_rounds=1).collect()}
    assert got == {(0, 1): 1, (1, 2): 1, (0, 2): 1}


def test_ktruss_two_round_cascade_and_guard(spark):
    """K4 on {0,1,2,3} plus a two-triangle fan {3-4, 4-5, 3-5 missing}:
    edges (3,4),(4,5),(3,5)... build T1=(3,4,5), T2=(3,4,6) via edges
    (3,4),(4,5),(3,5),(4,6),(3,6). At k=4 (support >= 2): round 1
    drops (4,5),(3,5),(4,6),(3,6) (support 1 each) but KEEPS (3,4)
    (support 2 at evaluation time); round 2 finds (3,4) now closes no
    triangle and drops it — a genuine 2-round cascade. n_rounds=1 must
    RAISE (guard: survivors still a superset); n_rounds=2 returns
    exactly the K4, every edge supporting 2 triangles."""
    import pytest as _pytest

    from big_data_project_datapipeline_spark.operators.graph import ktruss_peel

    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    fan = [(3, 4), (4, 5), (3, 5), (4, 6), (3, 6)]
    ed = _edges(spark, k4 + fan)
    with _pytest.raises(ValueError, match="not at fixpoint"):
        ktruss_peel(ed, k=4, n_rounds=1).collect()
    got = {(r["u"], r["v"]): r["support"] for r in
           ktruss_peel(ed, k=4, n_rounds=2).collect()}
    assert got == {(0, 1): 2, (0, 2): 2, (0, 3): 2,
                   (1, 2): 2, (1, 3): 2, (2, 3): 2}


def test_ktruss_k_validation_and_dup_absorption(spark):
    from big_data_project_datapipeline_spark.operators.graph import ktruss_peel

    ed = _edges(spark, [(0, 1), (1, 0), (1, 2), (2, 0), (0, 0)])
    with pytest.raises(ValueError, match="k must be >= 3"):
        ktruss_peel(ed, k=2)
    got = {(r["u"], r["v"]): r["support"] for r in
           ktruss_peel(ed, k=3, n_rounds=1).collect()}
    assert got == {(0, 1): 1, (1, 2): 1, (0, 2): 1}


# ------------------------------------------- per-seed BFS / harmonic (q214)


def test_multi_source_bfs_per_seed_distances(spark):
    """Path 1-2-3-4, seeds {1,4}: each seed gets its OWN distance
    column-space — (1,4)=3 and (4,1)=3 both survive where the
    single-frontier bfs_distance would collapse them to min=0/1."""
    from big_data_project_datapipeline_spark.operators.graph import (
        multi_source_bfs,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (4,)], "node long")
    got = {
        (r["seed"], r["node"]): r["dist"]
        for r in multi_source_bfs(edges, seeds, n_rounds=3).collect()
    }
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 3,
        (4, 4): 0, (4, 3): 1, (4, 2): 2, (4, 1): 3,
    }


def test_bfs_distance_is_the_min_over_seeds_of_multi_source_bfs(spark):
    """Both BFS operators run the same frontier loop: on a cycle with
    a tail, a chord, a self-loop and a seed outside the edge list, the
    nearest-seed distance is, per node, the minimum of the per-seed
    distances."""
    from big_data_project_datapipeline_spark.operators.graph import (
        multi_source_bfs,
    )

    ed = _edges(spark, [
        (0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0),  # 6-cycle
        (3, 6), (6, 7), (7, 8), (8, 9),                  # tail
        (1, 4), (2, 2),                                  # chord, loop
    ])
    seeds = spark.createDataFrame([(0,), (8,), (99,)], "node long")
    nearest = {r["node"]: r["dist"] for r in
               bfs_distance(ed, seeds, n_rounds=2).collect()}
    per_seed: dict[int, int] = {}
    for r in multi_source_bfs(ed, seeds, n_rounds=2).collect():
        per_seed[r["node"]] = min(per_seed.get(r["node"], r["dist"]), r["dist"])
    assert nearest == per_seed
    assert nearest == {0: 0, 1: 1, 5: 1, 2: 2, 4: 2,
                       8: 0, 7: 1, 9: 1, 6: 2, 99: 0}


def test_multi_source_bfs_cap_outside_seed_and_dup_collapse(spark):
    """3-hop cap drops the 4-hop node; a seed outside the edge list
    persists at dist 0 only; duplicate seeds collapse to one
    frontier."""
    from big_data_project_datapipeline_spark.operators.graph import (
        multi_source_bfs,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame(
        [(1,), (1,), (99,)], "node long"
    )
    got = {
        (r["seed"], r["node"]): r["dist"]
        for r in multi_source_bfs(edges, seeds, n_rounds=3).collect()
    }
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 3,  # node 5 beyond cap
        (99, 99): 0,
    }


def test_harmonic_centrality_hand_computed(spark):
    """Path 1-2-3-4, landmarks {1,4}: ends score 1/3 (the far
    landmark; the 0-distance self term is excluded), middles
    1/1 + 1/2 = 1.5 with both landmarks reached."""
    from big_data_project_datapipeline_spark.operators.graph import (
        harmonic_centrality,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (4,)], "node long")
    got = {
        r["node"]: (r["n_reached"], r["harmonic"])
        for r in harmonic_centrality(edges, seeds, n_rounds=3).collect()
    }
    assert got == {
        1: (1, 0.333333),
        2: (2, 1.5),
        3: (2, 1.5),
        4: (1, 0.333333),
    }


def test_harmonic_centrality_isolated_landmark_contributes_nothing(spark):
    """A landmark with no edges reaches nobody: it emits no rows of
    its own (0-distance self excluded) and no other node's score
    mentions it — n_reached counts only landmarks at positive
    distance."""
    from big_data_project_datapipeline_spark.operators.graph import (
        harmonic_centrality,
    )

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    got = {
        r["node"]: (r["n_reached"], r["harmonic"])
        for r in harmonic_centrality(edges, seeds, n_rounds=3).collect()
    }
    assert got == {2: (1, 1.0)}


# ------------------------------------- modularity (q226, round-10)


class TestModularity:
    def _frames(self, spark):
        from pyspark.sql import functions as F  # noqa: F401

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
            "src long, dst long",
        )
        labels = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
            "node long, label long",
        )
        return edges, labels

    def test_two_triangles_bridge_hand_value(self, spark):
        """m=7, each community: e_c=3, D_c=7 -> contribution
        (4*7*3-49)/196 = 35/196; Q = 70/196 = 0.357142857... ->
        floor-quantized 0.357143."""
        from big_data_project_datapipeline_spark.operators.graph import (
            modularity,
        )

        edges, labels = self._frames(spark)
        rows = {r["community"]: r for r in modularity(edges, labels).collect()}
        for c in (1, 4):
            assert rows[c]["n_nodes"] == 3
            assert rows[c]["inner_edges"] == 3
            assert rows[c]["degree_sum"] == 7
            assert rows[c]["contribution"] == pytest.approx(
                35.0 / 196.0, abs=1e-9
            )
        assert rows[1]["modularity"] == 0.357143

    def test_single_community_is_zero(self, spark):
        """Everything in one community: e=m and D=2m, so Q is exactly
        (4m^2 - 4m^2)/4m^2 = 0."""
        from big_data_project_datapipeline_spark.operators.graph import (
            modularity,
        )

        edges, _ = self._frames(spark)
        labels = spark.createDataFrame(
            [(n, 0) for n in range(1, 7)], "node long, label long"
        )
        r = modularity(edges, labels).first()
        assert r["modularity"] == 0.0 and r["inner_edges"] == 7

    def test_unlabeled_endpoint_and_isolated_label(self, spark):
        """An edge with an unlabeled endpoint drops from e_c; a
        labeled node with no edges contributes degree 0."""
        from big_data_project_datapipeline_spark.operators.graph import (
            modularity,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        labels = spark.createDataFrame(
            [(1, 1), (2, 1), (99, 7)], "node long, label long"
        )
        rows = {r["community"]: r for r in modularity(edges, labels).collect()}
        assert rows[1]["inner_edges"] == 1  # (2,3) lost its label
        assert rows[1]["degree_sum"] == 3   # deg(1)=1, deg(2)=2
        assert rows[7]["n_nodes"] == 1 and rows[7]["degree_sum"] == 0

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        from big_data_project_datapipeline_spark.operators.graph import (
            modularity,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 2), (1, 1)], "src long, dst long"
        )
        labels = spark.createDataFrame(
            [(1, 1), (2, 1)], "node long, label long"
        )
        r = modularity(edges, labels).first()
        # one canonical edge, self-loop dropped: e=1, D=2, m=1 -> Q=0
        assert r["inner_edges"] == 1 and r["degree_sum"] == 2
        assert r["modularity"] == 0.0
