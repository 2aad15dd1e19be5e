"""Tests for catalog mutation (O1/O2), routing (O5), scheduling (O6),
batch dispatch, stats, and the text-matrix compat IO (O7/O8)."""

import pytest
from pyspark.sql import functions as F

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.catalog import (
    GraphCatalog,
    add_graph,
    modify_graph,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dispatch import (
    format_reply,
    route_counts,
    route_requests,
    run_requests,
    schedule_requests,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.stats import graph_stats
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.matrix_io import (
    read_adjacency_text,
    write_adjacency_text,
)

from conftest import REF_G1, REF_G2, REF_G2_POST, REF_G3, make_edges

def pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")

def edge_set(df):
    return {(r["graph_id"], r["src"], r["dst"]) for r in df.collect()}

def test_add_graph_normalizes(spark):
    # Duplicates, reversed duplicates, and a self-loop all collapse.
    raw = pairs_df(spark, [(1, 2), (2, 1), (1, 2), (3, 3), (2, 3)])
    out = add_graph(raw, graph_id=7)
    assert edge_set(out) == {
        (7, 1, 2), (7, 2, 1), (7, 2, 3), (7, 3, 2),
    }

def test_modify_graph_replaces_one_partition(spark):
    current = make_edges(spark, REF_G1, graph_id=1).unionAll(
        make_edges(spark, REF_G2, graph_id=2)
    )
    out = modify_graph(current, pairs_df(spark, REF_G2_POST), graph_id=2)
    expect = edge_set(make_edges(spark, REF_G1, graph_id=1)) | edge_set(
        make_edges(spark, REF_G2_POST, graph_id=2)
    )
    assert edge_set(out) == expect

def test_graph_catalog_roundtrip(spark, tmp_path):
    cat = GraphCatalog(spark, str(tmp_path / "gdb"))
    cat.add_graph(1, pairs_df(spark, REF_G1))
    cat.add_graph(2, pairs_df(spark, REF_G2))
    with pytest.raises(ValueError, match="already exists"):
        cat.add_graph(1, pairs_df(spark, REF_G1))
    # inp.txt session: modify G2 from 2-vertex to the 3-path.
    cat.modify_graph(2, pairs_df(spark, REF_G2_POST))
    with pytest.raises(ValueError, match="does not exist"):
        cat.modify_graph(9, pairs_df(spark, REF_G1))
    assert edge_set(cat.edges(2)) == edge_set(make_edges(spark, REF_G2_POST, graph_id=2))
    # Graph 1 untouched by the partition overwrite.
    assert edge_set(cat.edges(1)) == edge_set(make_edges(spark, REF_G1, graph_id=1))

def test_graph_catalog_concurrent_writers_keep_each_others_graphs(spark, tmp_path):
    # Two threads each rewrite their OWN graph id repeatedly.  The
    # dynamic overwrite is a per-write option, so neither writer can
    # run a static overwrite that drops the other's partition, and the
    # shared session conf is never changed.
    import threading

    key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(key)
    cat = GraphCatalog(spark, str(tmp_path / "gdb"))
    cat.add_graph(1, pairs_df(spark, REF_G1))
    cat.add_graph(2, pairs_df(spark, REF_G2))
    plans = {
        1: [REF_G3, REF_G2_POST, REF_G1, REF_G3],
        2: [REF_G1, REF_G3, REF_G2_POST, REF_G1],
    }
    errors = []

    def writer(gid):
        try:
            for pairs in plans[gid]:
                cat.modify_graph(gid, pairs_df(spark, pairs))
        except Exception as exc:  # surfaced below, not lost in the thread
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(g,)) for g in plans]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors
    for gid, seq in plans.items():
        assert edge_set(cat.edges(gid)) == edge_set(make_edges(spark, seq[-1], graph_id=gid))
    assert spark.conf.get(key) == conf_before

def test_route_requests_parity(spark):
    reqs = spark.createDataFrame(
        [(1, 1, "G1.txt", None), (2, 2, "G1.txt", None),
         (3, 3, "G1.txt", 1), (4, 4, "G1.txt", 1), (5, 4, "G1.txt", 2)],
        "seq_no int, op_no int, graph_name string, start_vertex int",
    )
    routes = {r["seq_no"]: r["route"] for r in route_requests(reqs).collect()}
    assert routes == {1: "primary", 2: "primary", 3: "ss2", 4: "ss1", 5: "ss2"}
    counts = {r["route"]: r["n_requests"] for r in route_counts(reqs).collect()}
    assert counts == {"primary": 2, "ss1": 1, "ss2": 2}

def test_schedule_requests_lowest_seq_first(spark):
    reqs = spark.createDataFrame(
        [(42, 3, "G1.txt", 1), (7, 4, "G1.txt", 1), (19, 1, "G1.txt", None)],
        "seq_no int, op_no int, graph_name string, start_vertex int",
    )
    rows = schedule_requests(reqs).orderBy("service_order").collect()
    assert [r["seq_no"] for r in rows] == [7, 19, 42]
    assert [r["service_order"] for r in rows] == [1, 2, 3]


def test_schedule_requests_bucketed_matches_global_no_single_partition_sort(spark):
    # seq_nos straddling several buckets at width 8: exact global rank
    # without a whole-log single-partition sort.
    seqs = [3, 8, 7, 25, 16, 9, 1, 24, 40, 33]
    reqs = spark.createDataFrame([(s, 4) for s in seqs], "seq_no int, op_no int")
    bucketed = schedule_requests(reqs, bucket_width=8)
    legacy = schedule_requests(reqs, bucket_width=None)
    got = {(r["seq_no"], r["service_order"]) for r in bucketed.collect()}
    want = {(r["seq_no"], r["service_order"]) for r in legacy.collect()}
    assert got == want
    # The request-log window must be partitioned by bucket; the only
    # allowed SinglePartition exchange is over the per-bucket counts
    # (offsets side, one row per bucket) and the legacy form's.
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    rows_side = plan.split("BroadcastExchange")[0]
    assert "SinglePartition" not in rows_side

def test_run_requests_and_reply(spark):
    edges = make_edges(spark, REF_G3, graph_id=3)
    reqs = spark.createDataFrame(
        [(10, 3, 3, 3), (11, 4, 3, 2)],
        "seq_no int, op_no int, graph_id int, start_vertex int",
    )
    out = run_requests(reqs, edges)
    dfs_rows = {r["vertex"] for r in out.where(F.col("seq_no") == 10).collect()}
    assert dfs_rows == {1, 4, 5}  # inp.txt:32-35 request: DFS G3 from 3
    bfs_rows = {(r["vertex"], r["level"]) for r in out.where(F.col("seq_no") == 11).collect()}
    assert bfs_rows == {(2, 0), (1, 1), (3, 1), (4, 1), (5, 1)}
    replies = {r["seq_no"]: r["reply"] for r in format_reply(out).collect()}
    assert replies[11].startswith("2 ")  # root first (level order)
    assert set(replies[10].split()) == {"1", "4", "5"}

def test_graph_stats(spark):
    edges = make_edges(spark, REF_G3, graph_id=3).unionAll(
        make_edges(spark, REF_G1, graph_id=1)
    )
    stats = {r["graph_id"]: r for r in graph_stats(edges).collect()}
    assert stats[3]["n_vertices"] == 5
    assert stats[3]["n_edges"] == 4
    assert stats[3]["max_degree"] == 4  # star center
    assert stats[1]["max_degree"] == 2  # path interior

def test_matrix_io_roundtrip(spark, tmp_path):
    # Write the ref_G3 star in reference text format, read it back.
    path = str(tmp_path / "G3.txt")
    edges = make_edges(spark, REF_G3, graph_id=3)
    write_adjacency_text(edges, path)
    with open(path) as f:
        first = f.readline().strip()
    assert first == "5"
    back = read_adjacency_text(spark, path, graph_id=3)
    assert edge_set(back) == edge_set(edges)


def test_bucketed_catalog_degree_agg_skips_shuffle(spark, tmp_path):
    import uuid

    cat = GraphCatalog(spark, str(tmp_path / "gdb"))
    cat.add_graph(1, spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "src long, dst long"
    ))
    name = f"edges_bucketed_{uuid.uuid4().hex[:8]}"
    try:
        cat.save_bucketed(name, n_buckets=4)
        agg = (
            spark.table(name)
            .groupBy("src")
            .agg(F.count("*").alias("degree"))
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        # Bucketing by src pre-partitions the scan: the per-vertex
        # aggregation must not introduce an Exchange.
        assert "Exchange" not in plan
        assert agg.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_catalog_colocated_join_skips_shuffle(spark, tmp_path):
    # The SCALE.md cluster claim: two reads of a src-bucketed table
    # joining on src are co-located — the join plan must contain no
    # Exchange (each bucket joins in place; at most a per-bucket sort).
    import uuid

    cat = GraphCatalog(spark, str(tmp_path / "gdb"))
    cat.add_graph(1, spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "src long, dst long"
    ))
    name = f"edges_bucketed_{uuid.uuid4().hex[:8]}"
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        cat.save_bucketed(name, n_buckets=4)
        # Disable auto-broadcast (scoped) so the fixture-sized table
        # takes the merge-join path a cluster-scale table would.
        spark.conf.set(key, "-1")
        a = spark.table(name).select("src", F.col("dst").alias("dst_a"))
        b = spark.table(name).select("src", F.col("dst").alias("dst_b"))
        two_hop = a.join(b, on="src").where(F.col("dst_a") != F.col("dst_b"))
        plan = two_hop._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert two_hop.count() > 0
    finally:
        spark.conf.set(key, prev)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_csv_jsonl_roundtrip_adversarial(spark, tmp_path):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.fileio import (
        read_csv,
        read_jsonl,
        write_csv,
        write_jsonl,
    )

    rows = [
        (1, "plain", "hello world"),
        (2, "comma,name", 'quote "inside" text'),
        (3, "line", "first line\nsecond line\ttabbed"),
        (4, "unicode", "naïve café — ünïcode ✓"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, body string")
    schema = "id long, name string, body string"

    write_csv(df, str(tmp_path / "c"))
    got_csv = {r.id: (r.name, r.body) for r in read_csv(spark, str(tmp_path / "c"), schema).collect()}
    write_jsonl(df, str(tmp_path / "j"))
    got_json = {r.id: (r.name, r.body) for r in read_jsonl(spark, str(tmp_path / "j"), schema).collect()}
    want = {i: (n, b) for i, n, b in rows}
    assert got_json == want
    # CSV: quoting handles commas/quotes; the multiLine read path (on
    # by default) makes embedded newlines roundtrip too.
    assert got_csv == want


def test_catalog_edges_partition_pruned(spark, tmp_path):
    # Single-graph reads must prune to the graph_id=k partition at
    # the scan (PartitionFilters), not filter post-scan.
    cat = GraphCatalog(spark, str(tmp_path / "gdb"))
    cat.add_graph(1, spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"))
    cat.add_graph(2, spark.createDataFrame([(7, 8)], "src long, dst long"))
    df = cat.edges(graph_id=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "graph_id" in plan.split("PartitionFilters", 1)[1][:200]
    assert df.count() == 4  # symmetric storage: 2 pairs -> 4 rows


def test_weighted_matrix_cell_rule_divergence(spark, tmp_path):
    """Round-5 verdict #8: the reference's BFS follows ANY nonzero
    cell (g[node][i] > 0, secondary_server.c:83) while its DFS follows
    only ==1 cells (secondary_server.c:162).  All shipped data is 0/1
    so the behaviors coincide there; this fixture plants a cell value
    of 2 and pins BOTH readings — and the engine's documented
    standardization on the BFS (nonzero) rule."""
    # 3 vertices: 1-2 weight 1, 2-3 weight 2.
    path = str(tmp_path / "weighted.txt")
    with open(path, "w") as f:
        f.write("3\n0 1 0\n1 0 2\n0 2 0\n")
    bfs_view = read_adjacency_text(spark, path)  # default: nonzero
    dfs_view = read_adjacency_text(spark, path, cell_rule="eq1")
    assert edge_set(bfs_view) == {(1, 1, 2), (1, 2, 1), (1, 2, 3), (1, 3, 2)}
    # The reference DFS would not see the weight-2 edge at all.
    assert edge_set(dfs_view) == {(1, 1, 2), (1, 2, 1)}
    # Traversal consequence of the divergence, made concrete: under
    # the engine's standard (nonzero) reading vertex 3 is reachable
    # and is the BFS frontier's depth-2 member; under the reference
    # DFS's ==1 reading the graph ends at vertex 2, so the leaf set
    # from root 1 is {2}, not {3}.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.traverse import (
        bfs_levels,
        dfs_leaves,
    )

    lv = {(r["vertex"], r["level"]) for r in bfs_levels(bfs_view, 1, graph_id=1).collect()}
    assert (3, 2) in lv
    leaves_nonzero = {r["leaf"] for r in dfs_leaves(bfs_view, 1, graph_id=1).collect()}
    leaves_eq1 = {r["leaf"] for r in dfs_leaves(dfs_view, 1, graph_id=1).collect()}
    assert leaves_nonzero == {3}
    assert leaves_eq1 == {2}


def test_merge_edges_delta_semantics(spark):
    """Edge-level incremental mutation (round-5 verdict #6): deletes
    first (both stored orientations via the canonical pair key), then
    upsert-as-set-union; a pair in both deltas ends PRESENT;
    already-present inserts are no-ops; other graphs untouched."""
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.catalog import (
        merge_edges,
    )

    g1 = add_graph(pairs_df(spark, [(1, 2), (2, 3), (3, 4)]), graph_id=1)
    g2 = add_graph(pairs_df(spark, [(7, 8)]), graph_id=2)
    current = g1.unionByName(g2)
    # delete 2-3 (given reversed: 3-2) and 3-4; insert 3-4 back (both
    # deltas -> present), 4-5 (new), 1-2 (already present -> no-op).
    out = merge_edges(
        current,
        graph_id=1,
        delete_pairs=pairs_df(spark, [(3, 2), (3, 4)]),
        insert_pairs=pairs_df(spark, [(3, 4), (4, 5), (1, 2)]),
    )
    assert edge_set(out) == {
        (1, 1, 2), (1, 2, 1),
        (1, 3, 4), (1, 4, 3),
        (1, 4, 5), (1, 5, 4),
        (2, 7, 8), (2, 8, 7),
    }


def test_client_repl_replays_reference_inp(spark, tmp_path):
    """The interactive-client analogue (scripts/client_repl.py) must
    replay the reference's shipped inp.txt session end-to-end
    (client (1).c:59-155 token protocol): two adds, one duplicate-add
    error, one modify, then DFS and BFS whose replies match the
    Sample IO goldens (1-indexed, secondary_server.c:318)."""
    import importlib.util
    import os as _os

    ref_inp = "/root/reference/inp.txt"
    if not _os.path.exists(ref_inp):
        import pytest as _pytest

        _pytest.skip("reference inp.txt not present")
    spec = importlib.util.spec_from_file_location(
        "client_repl",
        _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
                      "scripts", "client_repl.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    tokens = open(ref_inp).read().split()
    out = mod.run_session(spark, tokens, str(tmp_path / "gdb"))
    assert out[0] == "1: added G1.txt (n=5)"
    assert out[1] == "2: added G2.txt (n=2)"
    assert out[2] == "3: added G3.txt (n=5)"
    assert out[3] == "4: modified G2.txt (n=3)"
    # Request 5: DFS on G3 from wire index 3 (= vertex 4): star center
    # 2 rooted at 4 -> leaves 1 3 5.  Request 6: BFS on G3 from wire
    # index 0 (= vertex 1): 1; 2; 3 4 5 in level order.
    assert out[4] == "5: 1 3 5"
    assert out[5] == "6: 1 2 3 4 5"
    # Duplicate add is an operational error, like the reference's
    # O_CREAT-exclusive semaphore branch (primary_server.c:106-117).
    again = mod.run_session(spark, ["9", "1", "G1.txt", "2", "0", "1", "1", "0"],
                            str(tmp_path / "gdb"))
    assert again[0].startswith("9: error:")
