"""Golden tests for BFS/DFS against the reference's Sample-IO
acceptance rules (FIXTURES.md §2): BFS compares (vertex, level) pairs
order-insensitively; DFS compares the leaf set."""

import pytest

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.traverse import (
    bfs_level_order,
    bfs_levels,
    connected_count,
    dfs_leaves,
)

from conftest import REF_G1, REF_G2_POST, REF_G3, SIO_G1, SIO_G2, make_edges

def levels_of(df):
    return {(r["vertex"], r["level"]) for r in df.collect()}

def leaves_of(df):
    return {r["leaf"] for r in df.collect()}

@pytest.mark.parametrize(
    "pairs,start,expected",
    [
        (SIO_G1, 1, {(1, 0), (2, 1), (3, 2), (4, 2), (5, 3)}),
        (SIO_G1, 2, {(2, 0), (1, 1), (3, 1), (4, 1), (5, 2)}),
        (SIO_G2, 1, {(1, 0), (2, 1), (4, 1), (3, 2), (5, 2), (7, 2), (6, 3)}),
        (REF_G1, 1, {(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)}),
        (REF_G3, 2, {(2, 0), (1, 1), (3, 1), (4, 1), (5, 1)}),
    ],
)
def test_bfs_levels_golden(spark, pairs, start, expected):
    edges = make_edges(spark, pairs)
    assert levels_of(bfs_levels(edges, start, graph_id=1)) == expected

@pytest.mark.parametrize(
    "pairs,start,expected",
    [
        (SIO_G1, 1, {3, 5}),
        (SIO_G1, 2, {1, 3, 5}),
        (SIO_G1, 4, {1, 3, 5}),
        (REF_G1, 1, {5}),
        (REF_G1, 3, {1, 5}),
        (REF_G3, 3, {1, 4, 5}),
        (REF_G2_POST, 2, {1, 3}),
    ],
)
def test_dfs_leaves_golden(spark, pairs, start, expected):
    edges = make_edges(spark, pairs)
    assert leaves_of(dfs_leaves(edges, start, graph_id=1)) == expected
    # General (non-tree-assuming) path must agree on trees.
    assert leaves_of(dfs_leaves(edges, start, graph_id=1, assume_tree=False)) == expected

def test_bfs_level_order_positions(spark):
    edges = make_edges(spark, REF_G1)
    rows = bfs_level_order(edges, 1, graph_id=1).orderBy("pos").collect()
    assert [(r["vertex"], r["level"], r["pos"]) for r in rows] == [
        (1, 0, 1), (2, 1, 2), (3, 2, 3), (4, 3, 4), (5, 4, 5),
    ]

def test_bfs_disconnected_returns_reached_only(spark):
    # Two components: 1-2-3 and 4-5.  Documented deviation from the
    # reference (which emits garbage, SURVEY.md §1.1).
    edges = make_edges(spark, [(1, 2), (2, 3), (4, 5)])
    assert levels_of(bfs_levels(edges, 1, graph_id=1)) == {(1, 0), (2, 1), (3, 2)}
    assert connected_count(edges, 1, graph_id=1).collect()[0]["n_reachable"] == 3


def test_bfs_strict_compat_emits_all_n_vertices(spark):
    # include_unreached renders the reference's "exactly n vertices"
    # contract (secondary_server.c:96-97) with NULL standing in for
    # its uninitialized-memory rows.
    edges = make_edges(spark, [(1, 2), (2, 3), (4, 5)])
    got = levels_of(bfs_levels(edges, 1, graph_id=1, include_unreached=True))
    assert got == {(1, 0), (2, 1), (3, 2), (4, None), (5, None)}

def test_dfs_leaves_general_path_disconnected(spark):
    edges = make_edges(spark, [(1, 2), (2, 3), (4, 5)])
    assert leaves_of(dfs_leaves(edges, 1, graph_id=1, assume_tree=False)) == {3}

def test_bfs_single_vertex_start_is_level_zero(spark):
    edges = make_edges(spark, [(1, 2)])
    assert levels_of(bfs_levels(edges, 2, graph_id=1)) == {(2, 0), (1, 1)}

def test_absent_start_vertex_raises(spark):
    # FIXTURES.md: the reference indexes row -1 for out-of-range starts
    # (inp.txt:36-39); the engine raises instead.
    edges = make_edges(spark, [(1, 2)])
    with pytest.raises(ValueError, match="not present"):
        bfs_levels(edges, 42, graph_id=1)
    with pytest.raises(ValueError, match="not present"):
        dfs_leaves(edges, 42, graph_id=1)

def test_bfs_levels_directed_mode_handles_back_edges(spark):
    # Directed path 1->2->3->4->5 plus a back-jump 5->1: the
    # last-two-frontiers dedup of undirected mode would re-emit vertex
    # 1 at level 5; directed mode keeps the full visited set.
    rows = [(1, 1, 2), (1, 2, 3), (1, 3, 4), (1, 4, 5), (1, 5, 1)]
    edges = spark.createDataFrame(rows, "graph_id int, src long, dst long")
    got = levels_of(bfs_levels(edges, 1, graph_id=1, undirected=False))
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)}


def test_graph_id_isolation(spark):
    e1 = make_edges(spark, [(1, 2), (2, 3)], graph_id=1)
    e2 = make_edges(spark, [(1, 9), (9, 10)], graph_id=2)
    both = e1.unionAll(e2)
    assert levels_of(bfs_levels(both, 1, graph_id=1)) == {(1, 0), (2, 1), (3, 2)}
    assert leaves_of(dfs_leaves(both, 1, graph_id=2)) == {10}


# --- set-oriented batch traversal ---

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.traverse import (  # noqa: E402
    bfs_levels_multi,
    dfs_leaves_multi,
)
from conftest import REF_G3, SIO_G2  # noqa: E402


def test_bfs_levels_multi_matches_single_source(spark):
    e = make_edges(spark, SIO_G1, graph_id=1).unionByName(
        make_edges(spark, REF_G3, graph_id=3)
    )
    sources = spark.createDataFrame(
        [(1, 1), (1, 2), (3, 3), (3, 2)], "graph_id int, start long"
    )
    multi = bfs_levels_multi(e, sources).collect()
    got = {(r["graph_id"], r["start"], r["vertex"]): r["level"] for r in multi}
    for gid, start in [(1, 1), (1, 2), (3, 3), (3, 2)]:
        single = bfs_levels(e, start, graph_id=gid)
        for r in single.collect():
            assert got[(gid, start, r["vertex"])] == r["level"]
    # Same total row count (no leakage across traversals/graphs).
    n_single = sum(
        bfs_levels(e, s, graph_id=g).count() for g, s in [(1, 1), (1, 2), (3, 3), (3, 2)]
    )
    assert len(multi) == n_single


def test_bfs_levels_multi_skips_absent_start(spark):
    e = make_edges(spark, SIO_G1, graph_id=1)
    sources = spark.createDataFrame([(1, 99), (1, 1)], "graph_id int, start long")
    rows = bfs_levels_multi(e, sources).collect()
    assert all(r["start"] == 1 for r in rows)


def test_dfs_leaves_multi_per_request_roots(spark):
    e = make_edges(spark, SIO_G2, graph_id=7)
    sources = spark.createDataFrame([(7, 1), (7, 5)], "graph_id int, start long")
    got = {}
    for r in dfs_leaves_multi(e, sources).collect():
        got.setdefault(r["start"], set()).add(r["leaf"])
    # Sample-IO G2: leaves rooted at 1 -> {3,5,6}; rooted at 5 -> {3,6,1}? no:
    # degree-1 vertices are {3,5,6}; minus the root.
    assert got[1] == {3, 5, 6}
    assert got[5] == {3, 6}


def test_connected_components_forest(spark):
    # Two disjoint graphs in one edge set -> components = min vertex id
    # of each tree.
    e = make_edges(spark, [(1, 2), (2, 3)], graph_id=1).unionByName(
        make_edges(spark, [(10, 11), (11, 12), (12, 13)], graph_id=1)
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.traverse import (
        connected_components,
    )

    got = {r["vertex"]: r["component"] for r in connected_components(e, graph_id=1).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_connected_components_probe_chaining_same_fixpoint(spark):
    # probe_every chains rounds between convergence probes; the
    # fixpoint (min id per component) must be identical for any
    # chaining factor, including on a path long enough to need many
    # rounds and with the probe boundary landing mid-convergence.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.traverse import (
        connected_components,
    )

    pairs = [(i, i + 1) for i in range(1, 14)] + [(20, 21)]
    edges = make_edges(spark, pairs)
    base = {
        (r["vertex"], r["component"])
        for r in connected_components(edges).collect()
    }
    for probe in (2, 3, 7):
        got = {
            (r["vertex"], r["component"])
            for r in connected_components(edges, probe_every=probe).collect()
        }
        assert got == base, probe


def test_bfs_probe_chaining_same_levels(spark):
    # probe_every chains BFS expansion levels between convergence
    # probes (the sssp/betweenness contract); the level assignment is
    # unique, so the result must be identical for any chaining factor
    # — including factors that overshoot past convergence and factors
    # whose probe boundary lands exactly on the last non-empty level.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.loopstats import (
        LOOP_STATS,
    )

    pairs = [(i, i + 1) for i in range(1, 10)]  # path 1..10, depth 9
    edges = make_edges(spark, pairs)
    base = {(r["vertex"], r["level"]) for r in bfs_levels(edges, 1, graph_id=1).collect()}
    base_steps = LOOP_STATS["bfs_levels"]["supersteps"]
    for probe in (2, 3, 5, 10):
        got = {
            (r["vertex"], r["level"])
            for r in bfs_levels(edges, 1, graph_id=1, probe_every=probe).collect()
        }
        assert got == base, probe
        # metric semantics unchanged: non-empty levels + 1 empty probe
        assert LOOP_STATS["bfs_levels"]["supersteps"] == base_steps, probe


def test_bfs_levels_multi_probe_chaining_same_levels(spark):
    # Multi-source form of the chaining contract: traversals of
    # different depths ride one frontier; chaining must not leak rows
    # between traversals or change any level.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.loopstats import (
        LOOP_STATS,
    )

    pairs = [(i, i + 1) for i in range(1, 10)]
    edges = make_edges(spark, pairs)
    src = spark.createDataFrame(
        [(1, 1), (1, 5), (1, 10)], "graph_id int, start long"
    )
    base = {
        (r["start"], r["vertex"], r["level"])
        for r in bfs_levels_multi(edges, src).collect()
    }
    base_steps = LOOP_STATS["bfs_levels_multi"]["supersteps"]
    for probe in (2, 4, 9):
        got = {
            (r["start"], r["vertex"], r["level"])
            for r in bfs_levels_multi(edges, src, probe_every=probe).collect()
        }
        assert got == base, probe
        assert LOOP_STATS["bfs_levels_multi"]["supersteps"] == base_steps, probe


def test_bfs_levels_multi_co_partition_same_levels(spark):
    # r13 co-partitioned loop: pre-shuffling the edge side into
    # loop_shuffle_partitions (here 3, unlike the session's 4) and
    # forcing the SHUFFLE_HASH expansion join is a pure plan change —
    # every (start, vertex, level) row and the superstep count must
    # match the broadcast-join loop exactly (combined with probe
    # chaining, the q_assignment_replay configuration).
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.loopstats import (
        LOOP_STATS,
    )

    pairs = [(i, i + 1) for i in range(1, 10)] + [(3, 11), (11, 12)]
    edges = make_edges(spark, pairs)
    src = spark.createDataFrame(
        [(1, 1), (1, 5), (1, 12)], "graph_id int, start long"
    )
    base = {
        (r["start"], r["vertex"], r["level"])
        for r in bfs_levels_multi(edges, src).collect()
    }
    base_steps = LOOP_STATS["bfs_levels_multi"]["supersteps"]
    got = {
        (r["start"], r["vertex"], r["level"])
        for r in bfs_levels_multi(
            edges, src, probe_every=3, loop_shuffle_partitions=3
        ).collect()
    }
    assert got == base
    assert LOOP_STATS["bfs_levels_multi"]["supersteps"] == base_steps
