"""Whole-graph analytics beyond per-request traversal: PageRank and
triangle counting.

Extension beyond the reference's BFS/DFS request surface (SURVEY.md
§2.2 "graph ops beyond BFS/DFS"): the reference stores whole graphs
resident in memory (secondary_server.c:42 ``int graphs[10][N][N]``)
but only ever answers single-start traversals; these operators answer
the whole-graph questions the same stored graphs support.

Engine-portability posture (mirrors ``sketches.hll_distinct``): the
PageRank here is FIXED-POINT — ranks are integers in units of
``1/scale`` and every step is integer arithmetic (floor division,
integer sums).  Integer sums are exact and order-independent, so the
result is bit-identical across engines and partitionings, which is
what gives the query a full value oracle (a float PageRank's sum
order varies per run/engine, making hash equality meaningless).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .traverse import _edges_only

# Superstep observability (round-9, for the 100x graph gate): each
# iterative loop records how many rounds it actually ran on its last
# invocation, so scale sweeps can REPORT the measured superstep count
# next to wall time instead of extrapolating the O(log n) claims.
# Driver-side only, one tiny dict write per query — no plan impact.
from .loopstats import LOOP_STATS  # noqa: F401  (shared superstep instrumentation)

def canonical_edges(edges: DataFrame, *, graph_id: int | None = None) -> DataFrame:
    """Undirected edge set as canonical ``src < dst`` pairs (one row
    per edge regardless of input orientation/duplication)."""
    e = _edges_only(edges, graph_id)
    return (
        e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

def _oriented_edges(e: DataFrame) -> DataFrame:
    """Degree-ordered orientation: each canonical edge re-oriented
    from the endpoint that is smaller in the total order
    ``(degree, id)`` to the larger.  Every triangle then has exactly
    one pivot vertex with two out-edges, and out-degrees are bounded
    by O(sqrt(m)) — a celebrity vertex's edges all point INTO it, so
    the hub-blowup of naive id-ordering never happens."""
    deg = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    ds = deg.select(F.col("v").alias("src"), F.col("deg").alias("sdeg"))
    dd = deg.select(F.col("v").alias("dst"), F.col("deg").alias("ddeg"))
    with_deg = e.join(ds, "src").join(dd, "dst")
    src_first = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    return with_deg.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("w"),
        F.when(src_first, F.col("ddeg")).otherwise(F.col("sdeg")).alias("wdeg"),
    )

def _parse_byte_conf(value: str) -> int:
    """Spark byte-size conf string -> bytes: plain ints pass through,
    unit suffixes (b/k/kb/m/mb/g/gb/t/tb/p/pb, case-insensitive —
    Spark's own accepted spellings, JavaUtils.byteStringAs) are
    expanded.  Raises on anything else rather than guessing a default
    — a wrong threshold silently re-enables the broadcast the
    caller's 'auto' logic exists to avoid."""
    s = value.strip().lower()
    units = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
             "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
             "t": 1 << 40, "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}
    for suffix in sorted(units, key=len, reverse=True):
        if s.endswith(suffix) and s[: -len(suffix)].lstrip("-").isdigit():
            return int(s[: -len(suffix)]) * units[suffix]
    return int(s)


def triangle_counts(
    edges: DataFrame,
    *,
    graph_id: int | None = None,
    strategy: str = "adjacency",
    hub_cap: int = 128,
    max_segments: int = 16,
) -> DataFrame:
    """Per-vertex triangle participation counts over an undirected
    graph.  Returns ``(vertex: long, triangles: long)`` for every
    vertex in at least one triangle.

    Both strategies use degree-ordered orientation (compact-forward);
    they differ in how wedges are closed — the same
    broadcast-vs-shuffle dichotomy Spark applies to joins:

    * ``adjacency`` (default): build each vertex's out-neighbor array
      (one ``collect_list`` shuffle, output has one row per vertex)
      and close triangles with a broadcast ``array_intersect`` per
      edge — for edge u->w, ``adj(u) & adj(w)`` is exactly the set of
      apexes closing a triangle over it.  The wedge intermediate (sum
      of outdeg^2, 40M rows on the sf0.1 co-purchase graph vs 1.2M
      edges) NEVER materializes.  Right choice while the adjacency
      table fits a broadcast (vertex count x avg degree — dimension
      -table-sized for product/part-style graphs even when the edge
      set is huge).
    * ``wedge``: enumerate out-neighbor pairs per pivot and close with
      a shuffle join on the (v, w) pair.  O(m^1.5) intermediate, no
      broadcast requirement — the 100-TB-vertex path (GraphX/
      GraphFrames shape).
    * ``auto``: measure the oriented edge count against the session's
      broadcast threshold and pick — adjacency while the broadcast
      fits, graceful degradation to wedge when the graph outgrows it.

    Counts are identical (each triangle closed exactly once, at its
    unique oriented v->w edge with v,w the two order-smaller
    vertices); the SQL oracle enumerates a<b<c id-ordered triangles,
    which is the same set.
    """
    e = canonical_edges(edges, graph_id=graph_id)
    # Eager localCheckpoint: the oriented edge set feeds THREE
    # consumers (adjacency build + both join sides); without a
    # materialization Spark recomputes the canonicalize+orient subtree
    # once per consumer (persist() would be unpersisted before the
    # caller's action runs — checkpointing is the handle-free form).
    oriented = _oriented_edges(e).localCheckpoint(eager=True)
    if strategy == "auto":
        # Graceful degradation: the adjacency strategy broadcasts one
        # row per vertex whose arrays hold ALL oriented edges, so its
        # broadcast payload grows with m, not n — estimate it as
        # ~16 bytes per oriented edge (long + array overhead) against
        # the session's broadcast threshold and fall back to the
        # shuffle-join wedge path when it doesn't fit (or when
        # broadcasting is disabled).  The count is free: ``oriented``
        # was just eagerly checkpointed.
        spark = edges.sparkSession
        thr = _parse_byte_conf(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
        m = oriented.count()
        strategy = "adjacency" if 0 < 16 * m <= thr else "wedge"
    if strategy == "adjacency":
        # Hub-split (round-5 verdict #5): degree-ordered orientation
        # bounds out-degrees by O(sqrt(m)) across the graph, but a
        # planted clique (promotional mega-bundle) still concentrates
        # ~k^2/2 intersect work on the clique's edge rows — a per-ROW
        # compute skew no partitioner can rebalance.  When the max
        # out-degree exceeds ``hub_cap``, adjacency arrays are built
        # per (vertex, segment) with segment = hash(neighbor) % S:
        # segments partition each neighbor set, and because BOTH
        # sides segment by the same hash of the APEX id,
        # seg_i(u) & seg_j(w) is empty unless i == j — so the S
        # matched-segment intersections exactly tile the full one,
        # counts add up unchanged, and one hot edge's closure work
        # spreads across S independent rows.  The max-degree probe is
        # one tiny agg on the already-checkpointed oriented edges.
        mx = (
            oriented.groupBy("u")
            .agg(F.count("*").alias("od"))
            .agg(F.max("od"))
            .first()[0]
            or 0
        )
        n_seg = min(max_segments, max(1, -(-int(mx) // int(hub_cap))))
        seg_of = F.pmod(F.xxhash64(F.col("w")), F.lit(n_seg)).alias("seg")
        adj = (
            oriented.select(F.col("u").alias("v"), "w")
            .withColumn("seg", seg_of)
            .groupBy("v", "seg")
            .agg(F.collect_list("w").alias("nbrs"))
        )
        au = adj.select(F.col("v").alias("u"), "seg", F.col("nbrs").alias("nu"))
        aw = adj.select(F.col("v").alias("w"), "seg", F.col("nbrs").alias("nw"))
        # Inner joins: an edge whose endpoint lacks a matching
        # (vertex, segment) adjacency row can only have an empty
        # intersection there, which the size>0 filter drops anyway.
        per_edge = (
            oriented.join(F.broadcast(au), "u")
            .join(F.broadcast(aw), ["w", "seg"])
            .select(
                "u",
                "w",
                F.array_intersect("nu", "nw").alias("common"),
            )
            .where(F.size("common") > 0)
        )
        members = (
            per_edge.select(F.col("u").alias("vertex"), F.size("common").alias("c"))
            .unionAll(per_edge.select(F.col("w").alias("vertex"), F.size("common").alias("c")))
            .unionAll(
                per_edge.select(F.explode("common").alias("vertex"), F.lit(1).alias("c"))
            )
        )
        out = members.groupBy("vertex").agg(F.sum("c").cast("long").alias("triangles"))
    elif strategy == "wedge":
        o1 = oriented.select("u", F.col("w").alias("v"), F.col("wdeg").alias("vdeg"))
        o2 = oriented.select("u", "w", "wdeg")
        # Wedge (u; v, w) with v before w in the (deg, id) order, so
        # the closing edge — if present — is oriented exactly v -> w.
        wedges = o1.join(o2, "u").where(
            (F.col("vdeg") < F.col("wdeg"))
            | ((F.col("vdeg") == F.col("wdeg")) & (F.col("v") < F.col("w")))
        )
        closer = oriented.select(F.col("u").alias("v"), F.col("w"))
        tris = wedges.join(closer, ["v", "w"]).select("u", "v", "w")
        members = (
            tris.select(F.col("u").alias("vertex"))
            .unionAll(tris.select(F.col("v").alias("vertex")))
            .unionAll(tris.select(F.col("w").alias("vertex")))
        )
        out = members.groupBy("vertex").agg(
            F.count("*").cast("long").alias("triangles")
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r} (adjacency|wedge|auto)")
    return out.select(F.col("vertex").cast("long").alias("vertex"), "triangles")

class PageRankGraph:
    """Materialized inputs shared by ``pagerank_fixed`` runs over the
    same graph: the narrow edge list, the per-vertex degree table, and
    the vertex count.

    ONE ``groupBy`` computes both the weighted out-degree
    (``outdeg = SUM(w)``) and the unit out-degree
    (``outdeg_unit = COUNT(*)``), so a single prepare serves BOTH the
    uniform-split and the weight-proportional update rules — two
    PageRank variants over one graph pay for one build instead of two
    (the round-3 bench showed the build re-run per query was ~40% of
    each PageRank query's cost).

    r13 slimming (guide §2.3 "project before the exchange" / §5): the
    old ``ed`` was the edge⋈outdeg join materialized per EDGE row
    (5 longs x |E|); degrees are a VERTEX property, so they now live in
    the |V|-sized ``deg`` table and the loop attaches them to the rank
    vector (V-sized join) instead of to every edge — the eager edge
    checkpoint shrinks 40% and the prepare loses the edge-sized join.
    """

    __slots__ = ("ed", "deg", "verts", "n")

    def __init__(self, ed: DataFrame, deg: DataFrame, verts: DataFrame, n: int):
        self.ed = ed
        self.deg = deg
        self.verts = verts
        self.n = n


def pagerank_prepare(
    edges: DataFrame,
    *,
    graph_id: int | None = None,
    weight_col: str | None = None,
    assume_symmetric: bool = False,
) -> PageRankGraph:
    """Build the shared ``PageRankGraph`` for ``pagerank_fixed``.

    ``ed`` columns: ``(esrc, edst, w)``; ``deg`` columns ``(vertex,
    outdeg, outdeg_unit)`` covering EVERY vertex (0 for dangling).
    With ``weight_col=None`` the graph is unweighted (``w = 1`` and
    ``outdeg == outdeg_unit``); with a weight column, both degree
    flavors are available and the same prepared graph can run the
    weighted AND the unweighted update rules.

    ``assume_symmetric``: on a symmetric edge list every vertex has an
    out-edge, so the out-degree aggregation's key set IS the vertex
    set — the |V|+|E|-row distinct that otherwise derives ``verts`` is
    skipped entirely (r13; the engine's canonical edge lists are
    symmetric, so the entry queries all qualify).

    The eager ``localCheckpoint`` is deliberate (the triangle_counts
    idiom): the rank loop references ``ed`` once per round inside a
    single lazy DAG with no in-loop action, so a persist()-then-
    unpersist would be released before the caller's action ran.
    """
    if weight_col is None:
        e = _edges_only(edges, graph_id)
        e = e.select("src", "dst", F.lit(1).cast("long").alias("w"))
    else:
        e = _edges_only_weighted(edges, graph_id, weight_col=weight_col)
    outdeg = e.groupBy(F.col("src").alias("vertex")).agg(
        F.sum("w").alias("outdeg"),
        F.count("*").cast("long").alias("outdeg_unit"),
    )
    if assume_symmetric:
        deg = outdeg
    else:
        # Dangling vertices (dst-only) carry outdeg 0; their division
        # expressions are never evaluated (no out-edge row joins them).
        # The src side's distinct keys already live in outdeg, so the
        # distinct runs over |V|+|E| rows, not 2|E|.
        verts = (
            outdeg.select("vertex")
            .unionAll(e.select(F.col("dst").alias("vertex")))
            .distinct()
        )
        deg = verts.join(outdeg, on="vertex", how="left").select(
            "vertex",
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
            F.coalesce("outdeg_unit", F.lit(0)).cast("long").alias("outdeg_unit"),
        )
    ed = e.select(
        F.col("src").alias("esrc"), F.col("dst").alias("edst"), "w"
    ).localCheckpoint(eager=True)
    deg = deg.localCheckpoint(eager=True)
    n = deg.count()  # one driver scalar (reads the checkpoint)
    return PageRankGraph(ed, deg, deg.select("vertex"), n)


def pagerank_fixed(
    edges: DataFrame | None = None,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    graph_id: int | None = None,
    weight_col: str | None = None,
    loop_shuffle_partitions: int | None = None,
    prepared: PageRankGraph | None = None,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list (pass a
    symmetric list for undirected graphs).  Returns
    ``(vertex: long, rank_scaled: long, rank: double)`` where
    ``rank_scaled`` is the rank in units of ``1/scale``.

    Update rule (all integer arithmetic)::

        r0       = scale div n
        teleport = ((100 - damping_pct) * scale div 100) div n
        r_{k+1}(v) = teleport
                   + (damping_pct * sum_{u->v} (r_k(u) div outdeg(u))) div 100

    With ``weight_col`` (positive INTEGER edge weights), the uniform
    split becomes weight-proportional::

        r_{k+1}(v) = teleport
                   + (damping_pct * sum_{u->v} ((r_k(u) * w_uv) div W_out(u))) div 100

    where ``W_out(u)`` is u's total out-weight.  ``r * w`` stays well
    inside int64 for scale=1e12 and weights up to ~1e6.

    Floor division loses at most ``outdeg`` units per vertex per
    round — at scale=1e12 that is a relative error ~1e-9, far below
    float PageRank's own convergence tolerance, and in exchange the
    result is EXACTLY reproducible in any engine with integer floor
    division (the SQL oracle uses DuckDB's ``//``).  Integer sums are
    order-independent, so partitioning/AQE cannot perturb the answer.

    Dangling vertices (outdeg 0) keep their teleport share but leak
    their damped mass — acceptable for the symmetric graphs this
    engine stores (every vertex of a symmetric edge list has
    outdeg >= 1, so no mass leaks there).

    Scale posture (100 TB): per round, one shuffle keyed on ``dst``
    with map-side partial integer sums; the rank-to-edge join keys on
    the vertex.  ``n`` is the single driver-side scalar (one count —
    the same O(1)-rows-to-driver posture as ``similarity.ivf_centroids``).
    Lineage grows one join per round; for the default 5 rounds the
    whole DAG is one action with no checkpoint barrier (BFS-style
    per-round checkpointing kicks in past ``_CHECKPOINT_EVERY``).

    ``loop_shuffle_partitions`` (scoped set/restore, the sssp idiom):
    per-round shuffles carry one row per vertex/edge — far smaller
    than scan-oriented stages — and the loop pays the per-task floor
    ``iters x 2 x partitions`` times, so right-size it to the graph
    (measured at sf0.1: 32 -> 8 halves the warm-cache loop).  Because
    the loop is otherwise one lazy DAG executed by the CALLER's
    action, setting this also eagerly materializes the final ranks
    inside the operator (localCheckpoint) so the narrowed width
    actually binds; leave None at scan-dominated scale to inherit the
    session width and full laziness.

    ``prepared`` (a ``pagerank_prepare`` result) skips the build
    entirely — pass the same prepared graph to a weighted and an
    unweighted run to share one edge⋈outdeg materialization.  With
    ``prepared``, ``weight_col`` only SELECTS the update rule (any
    non-None value means weight-proportional using the prepared
    ``w``/``outdeg``; None means uniform using ``outdeg_unit``).
    """
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = pagerank_prepare(edges, graph_id=graph_id, weight_col=weight_col)
    # ONE loop implementation: delegate to the fused two-rule loop
    # (for an unweighted prepare w == 1 and outdeg == outdeg_unit, so
    # both measures are identical anyway; the second long per row is
    # marginal) and project the requested rule's columns.
    both = pagerank_fixed_both(
        prepared,
        iters=iters,
        damping_pct=damping_pct,
        scale=scale,
        loop_shuffle_partitions=loop_shuffle_partitions,
    )
    suffix = "w" if weight_col is not None else "u"
    return both.select(
        "vertex",
        F.col(f"rank_scaled_{suffix}").alias("rank_scaled"),
        F.col(f"rank_{suffix}").alias("rank"),
    )



def pagerank_fixed_both(
    prepared: PageRankGraph,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """BOTH PageRank update rules (uniform split and
    weight-proportional split) in ONE superstep loop — returns
    ``(vertex, rank_scaled_u, rank_u, rank_scaled_w, rank_w)``.

    The two variants walk the same graph with the same schedule; the
    only difference is the per-edge contribution expression.  Running
    them as two loops pays the per-round join/shuffle floor twice for
    no reason: here each round's rank⋈edge join and dst-keyed
    aggregation carry TWO integer measures instead of one (a second
    long per row — marginal bytes, zero extra stages), so two declared
    queries cost one loop.  Arithmetic is identical to two separate
    ``pagerank_fixed`` runs (integer ops never interact across
    columns), so both oracles hold unchanged.
    """
    spark = prepared.verts.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))
    handles: list[DataFrame] = []
    try:
        ed, deg, n = prepared.ed, prepared.deg, prepared.n
        if n == 0:
            return prepared.verts.select(
                F.col("vertex").cast("long"),
                F.lit(0).cast("long").alias("rank_scaled_u"),
                F.lit(0.0).alias("rank_u"),
                F.lit(0).cast("long").alias("rank_scaled_w"),
                F.lit(0.0).alias("rank_w"),
            )
        co_partitioned = loop_shuffle_partitions is not None
        if co_partitioned:
            # Exchange-free loop (r13, guide §2.4 "remove shuffles
            # outright"): shuffle the edge and degree tables ONCE into
            # the loop partitioning and persist (InMemoryRelation
            # preserves outputPartitioning, so EnsureRequirements sees
            # both join sides pre-clustered); with the SHUFFLE_HASH
            # hint (broadcast ignores partitioning and would
            # reintroduce a per-round driver build+ship) every round is
            # then ONE exchange — the contribution aggregation — and
            # zero broadcast builds.  Same-boot A/B at sf0.1/width 8:
            # 5.3-5.9 s -> 3.0-3.4 s, bit-identical ranks.
            w_ = int(loop_shuffle_partitions)
            ed = ed.repartition(w_, "esrc").persist()
            deg = deg.repartition(w_, "vertex").persist()
            handles += [ed, deg]
        init = scale // n
        teleport = ((100 - damping_pct) * scale // 100) // n
        # The rank vector CARRIES the degrees (r13): the per-round
        # rebuild join is keyed on the |V|-sized deg table anyway, so
        # threading (outdeg, outdeg_unit) through it costs two longs
        # per vertex and lets the edge table stay narrow (esrc, edst,
        # w) — the per-edge division reads the degree off the rank
        # side.  Arithmetic identical to the old edge-carried form.
        ranks = deg.select(
            "vertex",
            "outdeg",
            "outdeg_unit",
            F.lit(init).cast("long").alias("ru"),
            F.lit(init).cast("long").alias("rw"),
        )
        upd = f"CAST({teleport} + ({damping_pct} * coalesce({{s}}, 0)) div 100 AS LONG)"
        _CHECKPOINT_EVERY = 8
        for i in range(iters):
            lhs = ranks.hint("shuffle_hash") if co_partitioned else ranks
            sums = (
                lhs.join(ed, lhs["vertex"] == F.col("esrc"))
                .select(
                    F.col("edst").alias("sv"),
                    F.expr("ru div outdeg_unit").alias("cu"),
                    F.expr("(rw * w) div outdeg").alias("cw"),
                )
                .groupBy("sv")
                .agg(F.sum("cu").alias("su"), F.sum("cw").alias("sw"))
            )
            dlhs = deg.hint("shuffle_hash") if co_partitioned else deg
            ranks = dlhs.join(sums, dlhs["vertex"] == F.col("sv"), "left").select(
                dlhs["vertex"],
                dlhs["outdeg"],
                dlhs["outdeg_unit"],
                F.expr(upd.format(s="su")).alias("ru"),
                F.expr(upd.format(s="sw")).alias("rw"),
            )
            if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < iters:
                ranks = ranks.localCheckpoint(eager=True)
        out = ranks.select(
            F.col("vertex").cast("long").alias("vertex"),
            F.col("ru").alias("rank_scaled_u"),
            (F.col("ru") / F.lit(float(scale))).alias("rank_u"),
            F.col("rw").alias("rank_scaled_w"),
            (F.col("rw") / F.lit(float(scale))).alias("rank_w"),
        )
        LOOP_STATS["pagerank_fixed_both"] = {"iters": iters}
        if loop_shuffle_partitions is not None:
            # Eager: materializes the whole loop inside the operator
            # (so the narrowed width binds and a bare count() cannot
            # prune the unique-key rebuild joins) and makes the blocks
            # independent of the loop persists released below.
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)
        for h in handles:
            h.unpersist(blocking=False)


def degree_histogram(edges: DataFrame, *, graph_id: int | None = None) -> DataFrame:
    """Log2-binned degree distribution:
    ``(bucket, n_vertices, min_degree, max_degree)`` where ``bucket``
    is the bit length of the degree (``floor(log2(d)) + 1``) — degree
    1 -> bucket 1, 2-3 -> 2, 4-7 -> 3, ...

    The bucket is computed as ``length(bin(degree))`` — INTEGER bit
    arithmetic, not float ``log2`` (libm rounding differs across
    engines at exact powers of two, which would flip a bucket edge;
    the string length of the binary rendering is exact everywhere).

    Scale: two shuffles (degree count, bucket agg), both map-side
    combined; output is O(log max_degree) rows.
    """
    e = canonical_edges(edges, graph_id=graph_id)
    deg = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.select(F.length(F.bin("degree")).cast("int").alias("bucket"), "degree")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
    )


def common_neighbors(
    edges: DataFrame,
    *,
    graph_id: int | None = None,
    min_common: int = 3,
    max_center_degree: int = 1000,
) -> DataFrame:
    """Link prediction by common-neighbor counting: for every
    NON-adjacent vertex pair ``u < v`` sharing at least ``min_common``
    neighbors, emit ``(u, v, common, jaccard)`` where ``jaccard`` is
    ``common / (deg(u) + deg(v) - common)``.

    Wedge centers with degree above ``max_center_degree`` are dropped
    BEFORE pair expansion: the wedge set is sum-of-C(deg,2) over
    centers, so one celebrity vertex would contribute quadratically
    many pairs while carrying almost no signal (everything is
    "similar" through a hub) — the standard link-prediction hub guard,
    and this engine's recurring degenerate-bucket posture
    (``dedup._bucket_pairs``).  The cap is a no-op on the testdata
    (max co-purchase degree ~221) but is the 100-TB survival knob.

    Scale: wedge expansion is one self-join keyed on the center; the
    pair aggregation and the adjacency anti-join shuffle on the (u,v)
    pair; degrees broadcast-join back on each endpoint.  ``jaccard``
    divides exact integer counts as doubles (IEEE division is
    correctly rounded — deterministic across engines).

    A projection of ``link_prediction_scores`` — one wedge expansion
    serves every score family.
    """
    return link_prediction_scores(
        edges,
        graph_id=graph_id,
        min_common=min_common,
        max_center_degree=max_center_degree,
    ).select("u", "v", "common", "jaccard")


def link_prediction_scores(
    edges: DataFrame,
    *,
    graph_id: int | None = None,
    min_common: int = 3,
    max_center_degree: int = 1000,
    scale: int = 10**9,
) -> DataFrame:
    """All link-prediction scores from ONE wedge expansion: for every
    non-adjacent pair ``u < v`` with at least ``min_common`` common
    neighbors, ``(u, v, common, jaccard, ra_scaled, ra)`` —
    common-neighbor count, Jaccard over neighborhoods, and the
    resource-allocation index (exact integer ``scale div deg(x)``
    summed over common neighbors; see ``resource_allocation`` for why
    RA's integer form is the portable one).  ``common_neighbors`` and
    ``resource_allocation`` are projections of this frame, so a
    consumer wanting several score families pays for the quadratic
    wedge stage once.

    Scale posture: hub centers dropped before pair expansion
    (``max_center_degree``), pair aggregation and adjacency anti-join
    shuffle on (u, v), endpoint degrees join back per side.
    """
    e = canonical_edges(edges, graph_id=graph_id)
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
    centers = deg.where(F.col("d") <= max_center_degree).select(
        F.col("v").alias("center"),
        F.expr(f"{int(scale)} div d").alias("wt"),
    )
    s = sym.join(centers, sym["src"] == centers["center"]).select("src", "dst", "wt")
    a = s.select(F.col("src").alias("x"), F.col("dst").alias("u"), "wt")
    b = s.select(F.col("src").alias("x"), F.col("dst").alias("v"))
    pairs = (
        a.join(b, "x")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("common"),
            F.sum("wt").cast("long").alias("ra_scaled"),
        )
        .where(F.col("common") >= min_common)
    )
    non_adjacent = pairs.join(
        e.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        on=["u", "v"],
        how="left_anti",
    )
    du = deg.select(F.col("v").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("v").alias("v"), F.col("d").alias("dv"))
    return (
        non_adjacent.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").cast("long").alias("u"),
            F.col("v").cast("long").alias("v"),
            "common",
            (
                F.col("common")
                / (F.col("du") + F.col("dv") - F.col("common")).cast("double")
            ).alias("jaccard"),
            "ra_scaled",
            (F.col("ra_scaled").cast("double") / float(scale)).alias("ra"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    *,
    graph_id: int | None = None,
    max_iters: int = 50,
    loop_shuffle_partitions: int | None = None,
    probe_every: int = 1,
) -> DataFrame:
    """The k-core: the maximal subgraph in which every vertex has
    degree >= k, by iterative peeling (repeatedly drop vertices whose
    degree within the surviving subgraph is below k until a fixpoint).
    Returns ``(vertex, core_degree)`` — survivors with their degree
    inside the core.

    The fixpoint is unique (peeling is confluent), so the result is
    deterministic regardless of execution order.  Peeling is monotone
    (the alive set only shrinks), so an unchanged alive COUNT implies
    an unchanged alive SET — the convergence probe is the same count
    that materializes the round's checkpoint: ONE Spark action per
    round (the BFS/CC idiom, traverse.py).  Exhausting ``max_iters``
    raises instead of returning a non-fixpoint (same contract as
    ``connected_components``).

    Scale: each round is one join of edges against the alive set on
    each endpoint + a map-side-combined degree count; rounds needed =
    peeling depth (single digits on real graphs for small k).  The
    symmetric edge list is persisted across rounds.
    ``loop_shuffle_partitions`` (scoped set/restore, the sssp idiom)
    right-sizes the per-round shuffles to the alive-set cardinality;
    the probe action (run once per ``probe_every`` chained rounds)
    executes the chain under the narrowed setting.
    """
    e = canonical_edges(edges, graph_id=graph_id)
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    spark = sym.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))
    try:
        alive = sym.select(F.col("src").alias("v")).distinct().localCheckpoint(eager=False)
        prev = alive.count()
        converged = False
        scored = alive  # replaced on the first round
        # Peeling a fixpoint is a no-op (degrees unchanged, nothing
        # drops), so — exactly like sssp's probe_every — chaining
        # rounds between count probes reaches the same unique fixpoint
        # while paying the probe action once per chain; each round
        # still ends in its own lazy localCheckpoint.  The flat round
        # counter probes on chain boundaries AND on the final round,
        # so exactly max_iters peels run before the non-convergence
        # raise.
        probe = max(1, int(probe_every))
        for i in range(max_iters):
            av = alive.select(F.col("v").alias("av"))
            bv = alive.select(F.col("v").alias("bv"))
            scored = (
                sym.join(av, sym["src"] == F.col("av"))
                .join(bv, sym["dst"] == F.col("bv"))
                .groupBy(F.col("src").alias("v"))
                .agg(F.count("*").alias("d"))
                .where(F.col("d") >= k)
                .localCheckpoint(eager=False)
            )
            alive = scored.select("v")
            if (i + 1) % probe == 0 or i == max_iters - 1:
                cur = alive.count()
                if cur == prev:
                    converged = True
                    break
                prev = cur
        if not converged:
            raise RuntimeError(
                f"kcore(k={k}) did not converge in {max_iters} peeling rounds"
            )
        LOOP_STATS["kcore"] = {"peel_rounds": i + 1}
        # At the fixpoint the final round's degrees were counted against
        # an alive set equal to the surviving set, so they ARE the
        # in-core degrees — no extra degree pass needed.
        return scored.select(
            F.col("v").cast("long").alias("vertex"),
            F.col("d").cast("long").alias("core_degree"),
        )
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)
        sym.unpersist(blocking=False)


def sssp(
    edges_weighted: DataFrame,
    source: int,
    *,
    graph_id: int | None = None,
    max_iters: int = 100,
    loop_shuffle_partitions: int | None = None,
    probe_every: int = 1,
) -> DataFrame:
    """Single-source shortest paths over a weighted directed edge list
    ``(src, dst, w)`` with non-negative INTEGER weights (pass a
    symmetric list for undirected graphs).  Returns
    ``(vertex, dist)`` for every reached vertex.

    Bellman-Ford relaxation with the SPFA frontier refinement: only
    vertices whose distance improved in round R can improve a
    neighbor in round R+1, so each round relaxes FROM the changed set
    only — the frontier collapses after the first few rounds while
    the naive form re-relaxes every settled vertex every round.
    Convergence = empty frontier; the probe is the frontier count that
    also materializes the chained rounds' checkpoints (chaining
    relaxations into one un-materialized plan WITHOUT per-round
    checkpoints was tried and is SLOWER — the shared dist/frontier
    subtrees re-execute combinatorially; ``probe_every`` keeps every
    round's lazy localCheckpoint and only amortizes the probe ACTION,
    measured ~35% off the loop at sf0.1 with probe_every=3).  Integer
    distances make the result engine-exact
    (the SQL oracle unrolls plain relaxation rounds to the same unique
    fixpoint).  Raises if the fixpoint isn't reached within
    ``max_iters`` relaxations (negative weights are out of contract).

    Scale: per relaxation, one join of the frontier against edges
    keyed on the vertex (frontier-sized, not graph-sized) + one
    min-aggregation keyed on the destination; edges stay persisted
    across rounds.  ``loop_shuffle_partitions`` (scoped set/restore,
    the catalog._write idiom) right-sizes the superstep shuffles:
    frontier/dist rows are FAR smaller than the session's
    scan-oriented shuffle width, and an iterative loop pays the
    per-task scheduling floor ``rounds x partitions`` times — size it
    to the frontier (a few thousand rows -> single digits), not to
    the fact tables; leave None to inherit the session setting.
    """
    # Distinct column names (esrc/edst) keep the repeated edge joins
    # inside one un-materialized multi-relax plan unambiguous.
    e = _edges_only_weighted(edges_weighted, graph_id).select(
        F.col("src").alias("esrc"), F.col("dst").alias("edst"), "w"
    )
    if loop_shuffle_partitions is not None:
        # Pre-shuffle the edge side ONCE into the loop partitioning
        # (r13, upgrading the previous bare coalesce): the relaxation
        # join then finds the persisted side already clustered on esrc
        # and, with the SHUFFLE_HASH hint below, each round shuffles
        # only the frontier instead of collecting it to the driver for
        # a broadcast build per round (the betweenness/pagerank
        # co-partition posture).  Correct precisely when the caller
        # asked for a narrow loop width; a big edge table keeps its
        # scan parallelism (width None).
        e = e.repartition(int(loop_shuffle_partitions), "esrc")
    e = e.persist()
    spark = e.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))
    try:
        dist = (
            e.sparkSession.createDataFrame(
                [(int(source), 0)], "v long, d long"
            ).localCheckpoint(eager=False)
        )
        frontier = dist
        converged = False
        # ``probe_every`` chains that many relaxations between
        # convergence probes: each round still ends in its own lazy
        # localCheckpoint (so nothing is re-executed combinatorially —
        # the one probe action materializes the chained rounds' blocks
        # in sequence), but the per-action scheduling floor is paid
        # once per chain instead of once per round.  Relaxing an
        # already-converged frontier is a no-op (empty relaxed set, min
        # merge leaves dist unchanged), so ANY chaining factor returns
        # the same fixpoint — at most probe_every - 1 empty rounds of
        # plan overhead after convergence.  The flat round counter
        # probes on chain boundaries AND on the final round, so
        # exactly max_iters relaxations run before the non-convergence
        # raise.
        probe = max(1, int(probe_every))
        for i in range(max_iters):
            flhs = (
                frontier.hint("shuffle_hash")
                if loop_shuffle_partitions is not None
                else frontier
            )
            relaxed = flhs.join(e, F.col("v") == F.col("esrc")).select(
                F.col("edst").alias("v"),
                (F.col("d") + F.col("w")).alias("d"),
                F.lit(False).alias("settled"),
            )
            # ONE tagged min-merge detects improvement in the same
            # aggregation: old rows carry settled=true, so
            # od = MIN(d | settled) is the previous distance (NULL for
            # newly reached vertices) and the frontier is simply the
            # rows where the merged min beat it — the per-round
            # |V|-sized new-vs-old left join this replaces was ~1/3 of
            # each superstep's cost.  Checkpoint the merged table and
            # derive dist/frontier as narrow projections of the
            # checkpointed handle: the probe count materializes each
            # chained merge exactly once and later rounds re-read its
            # blocks.
            merged = (
                dist.select("v", "d", F.lit(True).alias("settled"))
                .unionAll(relaxed)
                .groupBy("v")
                .agg(
                    F.min("d").alias("d"),
                    F.min(F.when(F.col("settled"), F.col("d"))).alias("od"),
                )
                .localCheckpoint(eager=False)
            )
            frontier = merged.where(
                F.col("od").isNull() | (F.col("d") < F.col("od"))
            ).select("v", "d")
            dist = merged.select("v", "d")
            if ((i + 1) % probe == 0 or i == max_iters - 1) and frontier.count() == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(f"sssp did not converge in {max_iters} relaxations")
        LOOP_STATS["sssp"] = {"rounds": i + 1}
        return dist.select(
            F.col("v").cast("long").alias("vertex"), F.col("d").cast("long").alias("dist")
        )
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)
        e.unpersist(blocking=False)


def _edges_only_weighted(
    edges: DataFrame, graph_id: int | None, *, weight_col: str = "w"
) -> DataFrame:
    # Selecting by source-column NAME (never renaming first) keeps a
    # caller-side 'w' column from colliding with weight_col != 'w'.
    e = edges
    if graph_id is not None and "graph_id" in e.columns:
        e = e.where(F.col("graph_id") == graph_id)
    return e.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    )


def clustering_coefficient(
    edges: DataFrame,
    *,
    graph_id: int | None = None,
    strategy: str = "adjacency",
    triangles: DataFrame | None = None,
) -> DataFrame:
    """Local clustering coefficient per vertex:
    ``coeff = 2 * triangles(v) / (deg(v) * (deg(v) - 1))`` for every
    vertex with degree >= 2 (the closed-wedge fraction; undefined
    below 2 neighbors).  Returns
    ``(vertex, degree, triangles, coeff)``.

    A composition, not a new algorithm: ``triangle_counts`` (its
    broadcast-vs-wedge strategy dichotomy applies unchanged) left-
    joined onto the one-shuffle degree aggregation — vertices in no
    triangle coalesce to 0.  ``coeff`` is one IEEE division of exact
    integers (correctly rounded, engine-portable), so the value
    oracle is exact.  Extension beyond the reference (its only graph
    reads are BFS/DFS, secondary_server.c:182-329) in the
    GraphX/GraphFrames tradition.

    ``triangles``: pass a precomputed ``triangle_counts`` result over
    the SAME graph to share one enumeration across consumers (the
    session-cache pattern — a triangles query and this one otherwise
    each pay the full orientation + closure).
    """
    e = canonical_edges(edges, graph_id=graph_id)
    tri = triangles if triangles is not None else triangle_counts(e, strategy=strategy)
    deg = (
        e.select(F.col("src").alias("vertex"))
        .unionAll(e.select(F.col("dst").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return (
        deg.where(F.col("degree") >= 2)
        .join(tri, "vertex", "left")
        .select(
            F.col("vertex").cast("long").alias("vertex"),
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            (
                (2 * F.coalesce("triangles", F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double")
            ).alias("coeff"),
        )
    )


def resource_allocation(
    edges: DataFrame,
    *,
    graph_id: int | None = None,
    min_common: int = 3,
    max_center_degree: int = 1000,
    scale: int = 10**9,
) -> DataFrame:
    """Resource-allocation link prediction (Zhou-Lü-Zhang): for every
    non-adjacent pair ``u < v``, ``RA = sum over common neighbors x of
    1/deg(x)`` — the degree-penalized refinement of common-neighbor
    counting (a shared hub says less than a shared rare neighbor).
    Returns ``(u, v, common, ra_scaled, ra)`` for pairs with at least
    ``min_common`` common neighbors.

    The per-center weight is computed as exact INTEGER division
    ``scale div deg(x)`` and summed as a long (``ra_scaled``), so the
    result is order-independent and byte-replayable by any engine —
    the same portability posture as the integer PageRank.  (This is
    why RA rather than Adamic-Adar here: 1/ln(deg) has no exact
    integer form, and a float sum's rounding depends on partitioning.)
    ``ra`` is the one final IEEE division by ``scale``.

    Scale posture is ``common_neighbors``' verbatim: hub centers
    dropped before the quadratic wedge expansion, pair aggregation
    shuffles on (u, v), adjacency removed by anti-join.  A projection
    of ``link_prediction_scores`` — one wedge expansion serves every
    score family.
    """
    return link_prediction_scores(
        edges,
        graph_id=graph_id,
        min_common=min_common,
        max_center_degree=max_center_degree,
        scale=scale,
    ).select("u", "v", "common", "ra_scaled", "ra")


def personalized_pagerank_fixed(
    edges: DataFrame | None = None,
    sources: DataFrame | None = None,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    graph_id: int | None = None,
    loop_shuffle_partitions: int | None = None,
    prepared: PageRankGraph | None = None,
    assume_symmetric: bool = False,
) -> DataFrame:
    """Personalized PageRank (random walk with restart): identical
    integer fixed-point loop to ``pagerank_fixed`` except the teleport
    mass returns ONLY to the ``sources`` set — the recommendation /
    relatedness query ("what is close to THESE vertices"), vs global
    PageRank's "what is central".

    Update rule (all integer arithmetic, |S| = source count)::

        r0(v)       = scale div |S|                    if v in S else 0
        teleport(v) = ((100-d)*scale div 100) div |S|  if v in S else 0
        r_{k+1}(v)  = teleport(v)
                      + (d * sum over in-edges(u,v) of r_k(u) div outdeg(u)) div 100

    Returns ``(vertex, rank_scaled, rank)`` for every graph vertex
    (mass decays with distance from the sources; unreachable vertices
    hold 0).  Integer ops are order-independent, so the result is
    engine-exact and the SQL oracle unrolls the same rounds.

    Scale posture is ``pagerank_fixed``'s verbatim; the source tag is
    one broadcast join materialized once before the loop.
    """
    if prepared is None:
        if edges is None:
            raise ValueError("pass either edges or prepared")
        prepared = pagerank_prepare(
            edges, graph_id=graph_id, assume_symmetric=assume_symmetric
        )
    if sources is None:
        raise ValueError("sources is required")
    spark = prepared.verts.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))
    handles: list[DataFrame] = []
    try:
        ed, deg = prepared.ed, prepared.deg
        srcs = sources.select(F.col(sources.columns[0]).cast("long").alias("sv0")).distinct()
        k = srcs.count()  # O(1)-rows-to-driver scalar, like prepared.n
        if k == 0:
            raise ValueError("personalized_pagerank_fixed: empty source set")
        co_partitioned = loop_shuffle_partitions is not None
        if co_partitioned:
            # Exchange-free loop: see pagerank_fixed_both (one shuffle
            # of the edge table into the loop partitioning, persisted;
            # SHUFFLE_HASH keeps the planner off per-round broadcasts).
            ed = ed.repartition(int(loop_shuffle_partitions), "esrc").persist()
            handles.append(ed)
        # The source tag table CARRIES outdeg_unit (r13, the
        # pagerank_fixed_both posture): the per-round rebuild join is
        # keyed on this |V|-sized table anyway, so threading the degree
        # through it keeps the edge table narrow (esrc, edst, w).
        tagged = (
            deg.join(
                F.broadcast(srcs.withColumn("_is", F.lit(1))),
                deg["vertex"] == F.col("sv0"),
                "left",
            )
            .select(
                "vertex", "outdeg_unit", F.coalesce("_is", F.lit(0)).alias("is_src")
            )
            .localCheckpoint(eager=True)
        )
        if co_partitioned:
            tagged = tagged.repartition(
                int(loop_shuffle_partitions), "vertex"
            ).persist()
            handles.append(tagged)
        init = scale // k
        tele = ((100 - damping_pct) * scale // 100) // k
        ranks = tagged.select(
            "vertex",
            "outdeg_unit",
            "is_src",
            F.when(F.col("is_src") == 1, F.lit(init)).otherwise(F.lit(0))
            .cast("long")
            .alias("r"),
        )
        _CHECKPOINT_EVERY = 8
        for i in range(iters):
            lhs = ranks.hint("shuffle_hash") if co_partitioned else ranks
            sums = (
                lhs.join(ed, lhs["vertex"] == F.col("esrc"))
                .select(
                    F.col("edst").alias("sv"),
                    F.expr("r div outdeg_unit").alias("c"),
                )
                .groupBy("sv")
                .agg(F.sum("c").alias("s"))
            )
            tlhs = tagged.hint("shuffle_hash") if co_partitioned else tagged
            ranks = tlhs.join(sums, tlhs["vertex"] == F.col("sv"), "left").select(
                tlhs["vertex"],
                tlhs["outdeg_unit"],
                tlhs["is_src"],
                F.expr(
                    f"CAST(CASE WHEN is_src = 1 THEN {tele} ELSE 0 END "
                    f"+ ({damping_pct} * coalesce(s, 0)) div 100 AS LONG)"
                ).alias("r"),
            )
            if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < iters:
                ranks = ranks.localCheckpoint(eager=True)
        out = ranks.select(
            F.col("vertex").cast("long").alias("vertex"),
            F.col("r").alias("rank_scaled"),
            (F.col("r") / F.lit(float(scale))).alias("rank"),
        )
        LOOP_STATS["personalized_pagerank_fixed"] = {"iters": iters}
        if loop_shuffle_partitions is not None:
            # Eager: binds the narrowed width, defeats count() pruning
            # of the unique-key rebuild joins, and frees the loop
            # persists below without losing the result blocks.
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)
        for h in handles:
            h.unpersist(blocking=False)


def eccentricities(
    edges: DataFrame, sources: DataFrame, *, graph_id: int | None = None
) -> DataFrame:
    """Sampled eccentricities / diameter lower bound: for each source
    vertex, the farthest hop distance and reach count — ``(start, ecc,
    n_reached)``.  k-source BFS sampling is the standard diameter
    estimator at scale (exact diameter is all-pairs; iFUB and friends
    all start from exactly this per-source eccentricity primitive).

    Scale notes: ALL sources ride ONE multi-source BFS
    (``bfs_levels_multi`` — one frontier carries every traversal, one
    Spark action per superstep), so the cost is max-ecc supersteps,
    not sources x supersteps; the final rollup is a k-row aggregate.
    """
    from .traverse import bfs_levels_multi

    src = sources
    if "graph_id" not in src.columns:
        gid = 1 if graph_id is None else int(graph_id)
        src = src.select(F.lit(gid).alias("graph_id"), F.col("start"))
    lv = bfs_levels_multi(edges, src)
    return lv.groupBy("start").agg(
        F.max("level").cast("int").alias("ecc"),
        F.count("*").cast("long").alias("n_reached"),
    )


def closeness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    *,
    graph_id: int | None = None,
    scale: int = 10**9,
) -> DataFrame:
    """Sampled closeness / harmonic centrality: for each source vertex,
    the reach count, total hop distance, and the integer-scaled
    harmonic sum ``SUM(scale div level)`` over reached vertices —
    ``(start, n_reached, sum_dist, harmonic_scaled)``.  On an
    undirected graph d(u,v) = d(v,u), so one BFS from v yields v's
    EXACT centrality over its component; sampling k sources is the
    standard estimator (computing it for all n is all-pairs BFS).

    Scale notes: identical posture to ``eccentricities`` — every
    source rides ONE multi-source BFS (one frontier carries all k
    traversals, one Spark action per superstep), and the rollup is a
    k-row aggregate.  Integer ``div`` keeps the harmonic sum
    order-independent and engine-portable (no float accumulation).
    """
    from .traverse import bfs_levels_multi

    src = sources
    if "graph_id" not in src.columns:
        gid = 1 if graph_id is None else int(graph_id)
        src = src.select(F.lit(gid).alias("graph_id"), F.col("start"))
    lv = bfs_levels_multi(edges, src)
    reached = lv.where(F.col("level") >= 1)
    return reached.groupBy("start").agg(
        F.count("*").cast("long").alias("n_reached"),
        F.sum("level").cast("long").alias("sum_dist"),
        F.sum(F.expr(f"{int(scale)} div level")).cast("long").alias("harmonic_scaled"),
    )


def four_clique_counts(
    edges: DataFrame, *, graph_id: int | None = None
) -> DataFrame:
    """Per-vertex 4-clique participation counts — the motif-counting
    step above ``triangle_counts`` (4-cliques drive community cores
    and dense-subgraph mining the way triangles drive clustering
    coefficient).  Returns ``(vertex, cliques4)`` for vertices in at
    least one 4-clique.

    Each clique is enumerated EXACTLY once in degree-ordered
    orientation (the compact-forward discipline): the clique's
    (deg, id)-smallest three vertices form one oriented triangle
    (u ≺ v ≺ w), extended by w's out-neighbors x (so w ≺ x), with the
    (u, x) and (v, x) closures checked by left-semi joins against the
    oriented edge set — orientation by a TOTAL order makes every
    closure edge's direction known in advance, so each check is one
    equi semi-join, never a disjunction.

    Scale: oriented out-degrees are O(sqrt(m)) (hubs absorb edges
    inward), so candidate quads are bounded by triangles x sqrt(m);
    both closure semi-joins stream against the same persisted oriented
    edge table.  The per-vertex rollup is a map-side-combined count
    over the four role projections.
    """
    e = canonical_edges(edges, graph_id=graph_id)
    # Eager localCheckpoint, not persist: FIVE consumers read the
    # oriented set (wedge legs, closer, extension, both semi probes)
    # and a persist handle would be unpersisted before the caller's
    # action runs (the triangle_counts rationale).
    oriented = _oriented_edges(e).localCheckpoint(eager=True)
    o1 = oriented.select("u", F.col("w").alias("v"), F.col("wdeg").alias("vdeg"))
    o2 = oriented.select("u", "w", "wdeg")
    wedges = o1.join(o2, "u").where(
        (F.col("vdeg") < F.col("wdeg"))
        | ((F.col("vdeg") == F.col("wdeg")) & (F.col("v") < F.col("w")))
    )
    closer = oriented.select(F.col("u").alias("v"), F.col("w"))
    tris = wedges.join(closer, ["v", "w"]).select("u", "v", "w")
    ext = oriented.select(F.col("u").alias("w"), F.col("w").alias("x"))
    cand = tris.join(ext, "w").select("u", "v", "w", "x")
    ux = oriented.select(F.col("u").alias("u"), F.col("w").alias("x"))
    vx = oriented.select(F.col("u").alias("v"), F.col("w").alias("x"))
    quads = cand.join(ux, ["u", "x"], "left_semi").join(
        vx, ["v", "x"], "left_semi"
    )
    members = (
        quads.select(F.col("u").alias("vertex"))
        .unionAll(quads.select(F.col("v").alias("vertex")))
        .unionAll(quads.select(F.col("w").alias("vertex")))
        .unionAll(quads.select(F.col("x").alias("vertex")))
    )
    return members.groupBy("vertex").agg(
        F.count("*").cast("long").alias("cliques4")
    ).select(F.col("vertex").cast("long").alias("vertex"), "cliques4")


def _contract_selection(sel: DataFrame, *, max_doublings: int = 40) -> DataFrame:
    """Merge-label table for one Borůvka round WITHOUT a nested hash-min
    CC run: the selection relation ``(c, k.oc)`` is FUNCTIONAL (exactly
    one best edge per component), and under a strict total edge order
    every cycle of the best-edge graph is a 2-cycle (a longer cycle's
    minimum-key edge would be selected by BOTH its endpoints), so the
    component-pair graph is a pseudo-forest: trees hanging off
    mutual-best pairs.  Root it directly —

    1. cycle-break: ``p(c) <- min(c, p(c))`` exactly where
       ``p(p(c)) == c`` (the mutual pair); the pointer graph becomes a
       forest whose roots self-point (one c-cardinality self-join);
    2. pointer doubling: ``p <- p∘p`` until fixpoint — chain depth
       halves per round, so O(log chain) rounds (the r12 profile
       measured hash-min chains of 12 on the first merge graph).

    Cost per round: ONE self-join on component-cardinality rows — no
    edge-set join, no aggregation — vs the nested CC's per-round
    (labels ⋈ merge-edges) + min-aggregate + left join.  Same-boot
    profile at sf0.1: the five nested CC runs were 15.7 s of q_msf's
    ~20 s cold wall; this contraction replaces all of them.

    Label VALUES differ from hash-min CC's (the component's ROOT — the
    min endpoint of its mutual pair — rather than the global min id),
    but the PARTITION is identical, and ``max_spanning_forest`` only
    ever compares labels for equality (``cs != cd``) and groups by
    them, so every round's selected edge set — and therefore the
    forest — is bit-identical (the docstring's "label VALUES are
    irrelevant" contract, now load-bearing).

    Checkpoint-vs-persist note (the r11 BigInteger trap, live again):
    ``localCheckpoint`` REWRITES stats from the child logical plan
    (``LogicalRDD.rewriteStatsAndConstraints``), so a chain of
    checkpointed self-joins squares ``sizeInBytes`` per round AND the
    outer Borůvka loop compounds it through comp/sel — measured here:
    the driver pinned a core in ``BigInteger.multiplyToomCook3`` for
    11+ minutes at sf0.01.  ``persist()`` instead reads the REAL cached
    size once the probe action materializes each round, so every
    round's plan is optimized against linear, truthful stats.  The
    returned frame is an eager localCheckpoint OVER the final cached
    round (real stats, blocks independent of the persist handles),
    after which all intermediates are released.

    Returns ``(pc, p)``: every component appearing in ``sel`` mapped to
    its root.  Raises on non-convergence (chain deeper than
    2^max_doublings — impossible for any graph that fits in storage).
    """
    handles: list[DataFrame] = []
    try:
        p = sel.select(F.col("c"), F.col("k.oc").alias("p"))
        # Every oc is itself a selecting component (the ``both`` union
        # feeds each cross edge from BOTH endpoints), so the self-joins
        # below are total — inner joins lose nothing.
        q_ = p.select(F.col("c").alias("qc"), F.col("p").alias("qp"))
        p = (
            p.join(q_, p["p"] == F.col("qc"))
            .select(
                "c",
                F.when(F.col("qp") == F.col("c"), F.least("c", "p"))
                .otherwise(F.col("p"))
                .alias("p"),
            )
            .persist()
        )
        handles.append(p)
        # One probe action per squaring: the r13 same-boot A/B measured
        # chaining two squarings per probe as a REGRESSION (q_msf 8.4 ->
        # 10.3 s) — within a chain the second squaring plans against
        # the first's un-materialized InMemoryRelation (child-plan
        # stats, squared sizeInBytes), so the saved probe action costs
        # more than it returns here, unlike the frontier-shaped
        # sssp/CC loops.
        for i in range(max_doublings):
            q_ = p.select(F.col("c").alias("qc"), F.col("p").alias("qp"))
            squared = (
                p.join(q_, p["p"] == F.col("qc"))
                .select(
                    "c",
                    F.col("qp").alias("p"),
                    (F.col("qp") != F.col("p")).cast("int").alias("_chg"),
                )
                .persist()
            )
            handles.append(squared)
            p = squared.drop("_chg")
            # The probe action ALSO materializes the round's cache
            # (and, on round 0, the cycle-break frame).
            n_changed = squared.agg(F.sum("_chg")).collect()[0][0] or 0
            if n_changed == 0:
                # Accumulates across the Borůvka rounds of one
                # max_spanning_forest call — the CALLER resets the
                # entry per invocation (r12 ADVICE: a bare setdefault
                # here made the count cumulative across queries).
                LOOP_STATS.setdefault("msf_contract", {"doublings": 0})
                LOOP_STATS["msf_contract"]["doublings"] += i + 1
                return p.select(F.col("c").alias("pc"), F.col("p")).localCheckpoint(
                    eager=True
                )
        raise RuntimeError(
            f"_contract_selection did not converge in {max_doublings} doublings"
        )
    finally:
        for h in handles:
            h.unpersist(blocking=False)


def max_spanning_forest(
    edges: DataFrame,
    *,
    weight_col: str = "cnt",
    max_outer: int = 8,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Distributed Borůvka maximum spanning forest over a CANONICAL
    weighted edge list ``(src, dst, weight)`` — the strongest-tie
    backbone of the graph (the minimum variant is the same algebra on
    negated weights).  Under the total edge order ``(weight DESC, src,
    dst)`` the forest is UNIQUE (distinct keys ⇒ Kruskal == Borůvka ==
    this), so the result is deterministic and any correct SQL MST
    replays it value-exact.  Returns the forest edges
    ``(src, dst, <weight_col>)``.

    Borůvka round: every component selects its best incident edge
    (one ``min(struct(-w, src, dst, other_comp))`` hash aggregate over
    both orientations of the cross-component candidate set — no
    window); selected edges join the forest; touched components merge
    by pointer doubling on the FUNCTIONAL selection relation
    (``_contract_selection`` — O(log chain) component-cardinality
    self-joins; the nested hash-min CC this replaces needed O(chain)
    edge-joining rounds and was ~80% of the operator's wall, r12
    profile).  Components at least halve per round ⇒ O(log n) rounds
    (measured 4-5 on the co-purchase graphs).  Label VALUES are
    irrelevant to the algorithm — only the component PARTITION is, so
    any correct merge (pointer doubling here, hash-min before r12,
    whatever the SQL oracle uses) yields identical rounds.

    Raise-don't-diverge contract (the ktruss/kcore posture):
    ``max_outer`` exhaustion raises (and the nested contraction raises
    on ITS non-convergence), so the engine can never silently disagree
    with an oracle unrolled to the same bounds.

    Engine note — the r11 objection to pointer doubling (chaining k
    label self-joins squares Catalyst's size estimate per step until
    the driver drowns in `BigInteger.multiply` under
    `LogicalRDD.rewriteStatsAndConstraints`) is real and was reproduced
    here; ``_contract_selection`` defuses it by ``persist()``-ing every
    doubling round — once the probe action fills the cache, downstream
    plans read the REAL InMemoryRelation size, so stats stay linear and
    truthful (localCheckpoint would NOT help: it rewrites stats from
    the child plan, not from the materialized blocks).

    Scale notes: per round — one candidate join of edges against the
    label table on each endpoint (hash joins on vertex keys) streaming
    straight into one map-side-combined struct-min per component, all
    under a SINGLE action (sel's eager checkpoint — the round-8 fused
    round; convergence reads take(1) off the materialized result),
    then one pointer-doubling contraction over the selection relation
    (component-cardinality rows, shrinking geometrically).  The forest
    accumulates as unions of per-round checkpointed frames.
    """
    w = F.col(weight_col).cast("long")
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        w.alias("w"),
    ).persist()
    spark = e.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))
    try:
        comp = (
            e.select(F.col("src").alias("v"))
            .unionAll(e.select(F.col("dst").alias("v")))
            .distinct()
            .select("v", F.col("v").alias("c"))
            .localCheckpoint(eager=True)
        )
        forest_parts: list[DataFrame] = []
        converged = False
        # Per-call counter (r12 ADVICE): _contract_selection ACCUMULATES
        # into this entry across the Borůvka rounds of ONE invocation;
        # reset here so the metric is per-call like every other
        # LOOP_STATS entry, not cumulative across queries in a session.
        LOOP_STATS["msf_contract"] = {"doublings": 0}
        for _round in range(max_outer):
            cu = comp.select(F.col("v").alias("u_"), F.col("c").alias("cs"))
            cv = comp.select(F.col("v").alias("v_"), F.col("c").alias("cd"))
            # FUSED round action (round-7 verdict #5): no separate
            # candidate-count probe and no edge-sized cand checkpoint
            # — the joins stream straight into the map-side-combined
            # struct-min aggregate, and the ONE action per round is
            # sel's eager checkpoint.  Convergence = empty sel
            # (component-cardinality rows), read via take(1) on the
            # already-materialized checkpoint.  Same-boot A/B at
            # sf0.1 is time-NEUTRAL (~8.7 s warm both arms — the
            # floor is the nested CC supersteps, BASELINE.md round-8)
            # but the fuse removes the per-round materialization of
            # the FULL cross-component candidate edge set, which is
            # the edge-sized disk write that would dominate at 100 TB.
            cand = (
                e.join(cu, e["src"] == F.col("u_"))
                .join(cv, e["dst"] == F.col("v_"))
                .where(F.col("cs") != F.col("cd"))
                .select("src", "dst", "w", "cs", "cd")
            )
            both = cand.select(
                F.col("cs").alias("c"),
                F.struct(
                    (-F.col("w")).alias("nw"), "src", "dst",
                    F.col("cd").alias("oc"),
                ).alias("k"),
            ).unionAll(
                cand.select(
                    F.col("cd").alias("c"),
                    F.struct(
                        (-F.col("w")).alias("nw"), "src", "dst",
                        F.col("cs").alias("oc"),
                    ).alias("k"),
                )
            )
            sel = both.groupBy("c").agg(F.min("k").alias("k")).localCheckpoint(
                eager=True  # the round's single action; self-joined below
            )
            if not sel.take(1):
                converged = True
                break
            forest_parts.append(
                sel.select(
                    F.col("k.src").alias("src"),
                    F.col("k.dst").alias("dst"),
                    (-F.col("k.nw")).alias(weight_col),
                ).distinct()
                .localCheckpoint(eager=False)
            )
            # Touched components merge via pointer doubling on the
            # FUNCTIONAL selection relation (see _contract_selection):
            # O(log chain) c-cardinality self-joins replace the nested
            # hash-min CC whose O(chain) edge-joining rounds were ~80%
            # of this operator's wall (r12 profile: CC chains of
            # 12/9/9/6/6 across the five merge graphs, 15.7 s of 20 s).
            # Identical partition => identical per-round selections =>
            # bit-identical forest.
            merged = _contract_selection(sel)
            comp = (
                comp.join(merged, comp["c"] == F.col("pc"), "left")
                .select("v", F.coalesce("p", F.col("c")).alias("c"))
                .localCheckpoint(eager=False)
            )
        if not converged:
            raise RuntimeError(
                f"max_spanning_forest did not converge in {max_outer} rounds"
            )
        LOOP_STATS["max_spanning_forest"] = {"rounds": _round + 1}
        if not forest_parts:
            return spark.createDataFrame(
                [], f"src long, dst long, {weight_col} long"
            )
        out = forest_parts[0]
        for part in forest_parts[1:]:
            out = out.unionAll(part)
        return out
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)
        e.unpersist(blocking=False)


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    *,
    scale: int = 10**9,
    max_depth: int = 24,
    loop_shuffle_partitions: int | None = None,
    probe_every: int = 1,
) -> DataFrame:
    """Sampled Brandes betweenness centrality over a SYMMETRIC edge
    list: the summed pair-dependencies ``delta_s(v)`` from the given
    source vertices — the standard betweenness estimator (exact needs
    all-n sources = all-pairs; sampling k sources is Brandes-Pich).
    Returns ``(vertex, bc_scaled)`` with ``bc_scaled = SUM_s
    delta_s(v) * scale`` (sources excluded, zero rows dropped).

    Engine-portable integer contract: the backward accumulation uses
    ``sigma_v * (scale + delta_w) div sigma_w`` per (v, w) successor
    term — every term is an integer, so the per-vertex SUM is
    order-independent and any SQL engine replays it value-exact
    (unlike float Brandes, where accumulation order changes low bits).
    Path counts stay tiny on real graphs (measured max sigma 21 on the
    co-purchase graphs), so the products sit far below BIGINT range.

    Scale notes: all k sources ride ONE level-synchronous frontier
    (keyed ``(start, vertex)``, the bfs_levels_multi posture) that
    carries the path count ``sigma`` as a map-side-combined SUM —
    forward cost is max-depth supersteps, not k x depth, with one
    count action per CHAIN of ``probe_every`` levels (each level keeps
    its lazy localCheckpoint; a frontier can never be empty then
    non-empty, so a non-empty chain tail proves the whole chain and a
    zero tail is resolved by recounting the chain's already-
    materialized frames — unlike the shallow dispatch BFS where
    chaining regressed, this loop is ~18 levels deep and the probe
    action floor dominates) and last-two-frontiers dedup (valid on
    symmetric lists: an edge moves at most one level).  The backward
    sweep replays the stored per-level frames deepest-first — one
    (frontier x edges x next-level) join per level, NO action (a
    single lazy chain materialized by the consumer), no window, no
    collect.  Depth beyond ``max_depth`` raises (the oracle unrolls a
    fixed bound; raising beats silently disagreeing with it).
    """
    # Co-partitioned loop (r13, guide §2.4): with a loop width set, the
    # edge side is shuffled ONCE into the loop partitioning and
    # persisted (InMemoryRelation preserves outputPartitioning), and
    # the expansion join takes a SHUFFLE_HASH hint — each level then
    # shuffles only the frontier (sigma rows) instead of collecting it
    # to the driver and shipping a broadcast build per level.
    # Same-boot A/B at sf0.1 (18 levels): 11.6-12.8 s -> 10.4 s,
    # bit-identical bc_scaled.
    _copart = loop_shuffle_partitions is not None
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    if _copart:
        e = e.repartition(int(loop_shuffle_partitions), "src")
    e = e.persist()
    spark = e.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))
    try:
        src0 = sources.select(F.col("start").cast("long").alias("start")).distinct()
        frontier = (
            src0.join(
                e.select(F.col("src").alias("start")).distinct(),
                "start",
                "left_semi",
            )
            .select(
                "start",
                F.col("start").alias("vertex"),
                F.lit(1).cast("long").alias("sigma"),
            )
            .localCheckpoint(eager=True)
        )
        levels = [frontier]
        prev_keys: DataFrame | None = None
        probe = max(1, int(probe_every))
        pending: list[DataFrame] = []
        done = False
        while not done:
            flhs = frontier.hint("shuffle_hash") if _copart else frontier
            expanded = flhs.join(e, flhs["vertex"] == e["src"]).select(
                flhs["start"], e["dst"].alias("vertex"), flhs["sigma"]
            )
            sums = expanded.groupBy("start", "vertex").agg(
                F.sum("sigma").cast("long").alias("sigma")
            )
            dedup = frontier.select("start", "vertex")
            if prev_keys is not None:
                dedup = dedup.unionAll(prev_keys)
            new = sums.join(dedup, ["start", "vertex"], "left_anti").localCheckpoint(
                eager=False
            )
            pending.append(new)
            prev_keys = frontier.select("start", "vertex")
            frontier = new
            at_depth_guard = len(levels) + len(pending) > max_depth + 1
            if len(pending) < probe and not at_depth_guard:
                continue  # chain more levels before the probe action
            if pending[-1].count() > 0:
                # A frontier can never be empty then non-empty, so a
                # non-empty tail proves every chained level non-empty.
                levels.extend(pending)
                pending = []
                if len(levels) - 1 > max_depth:
                    raise RuntimeError(
                        f"betweenness_sampled exceeded max_depth={max_depth}"
                    )
                continue
            # Zero tail: keep the non-empty prefix (the chain's frames
            # are materialized — these recounts read checkpoint blocks).
            for df in pending:
                if df.count() == 0:
                    break
                levels.append(df)
                if len(levels) - 1 > max_depth:
                    raise RuntimeError(
                        f"betweenness_sampled exceeded max_depth={max_depth}"
                    )
            pending = []
            done = True
        depth = len(levels) - 1
        LOOP_STATS["betweenness_sampled"] = {"depth": depth}
        out: DataFrame | None = None
        delta_next: DataFrame | None = None
        for d in range(depth - 1, -1, -1):
            succ = levels[d + 1].select(
                "start",
                F.col("vertex").alias("w"),
                F.col("sigma").alias("sigma_w"),
            )
            if delta_next is not None:
                dn = delta_next.select(
                    "start", F.col("vertex").alias("w"), F.col("delta").alias("dw")
                )
                succ = succ.join(dn, ["start", "w"], "left").select(
                    "start",
                    "w",
                    "sigma_w",
                    F.coalesce("dw", F.lit(0)).cast("long").alias("delta_w"),
                )
            else:
                succ = succ.select(
                    "start", "w", "sigma_w", F.lit(0).cast("long").alias("delta_w")
                )
            cur = levels[d]
            terms = (
                cur.join(e, cur["vertex"] == e["src"])
                .select(
                    cur["start"], cur["vertex"], cur["sigma"], e["dst"].alias("w")
                )
                .join(succ, ["start", "w"])
                .select(
                    "start",
                    "vertex",
                    F.expr(f"sigma * ({int(scale)} + delta_w) div sigma_w").alias(
                        "term"
                    ),
                )
            )
            delta_next = (
                terms.groupBy("start", "vertex")
                .agg(F.sum("term").cast("long").alias("delta"))
                .localCheckpoint(eager=False)
            )
            out = delta_next if out is None else out.unionAll(delta_next)
        if out is None:
            return spark.createDataFrame([], "vertex long, bc_scaled long")
        return (
            out.where(F.col("vertex") != F.col("start"))
            .groupBy("vertex")
            .agg(F.sum("delta").cast("long").alias("bc_scaled"))
            .where(F.col("bc_scaled") > 0)
            .select(F.col("vertex").cast("long").alias("vertex"), "bc_scaled")
        )
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)
        e.unpersist(blocking=False)


def maximal_independent_set(
    edges: DataFrame,
    *,
    graph_id: int | None = None,
    max_iters: int = 25,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Luby-style maximal independent set — the canonical distributed
    symmetry-breaking primitive (the building block for distributed
    coloring/matching).  Each round every still-active vertex draws a
    priority; a vertex joins the MIS iff its priority beats every
    active neighbor's, then winners AND their neighbors retire.
    Expected O(log n) rounds.

    Determinism (the engine-portable trick shared with the sampling
    operators): the "random" priority is ``md5('mis:' || v || ':' ||
    round)`` — a fixed hash, not an RNG — compared lexicographically
    with ``(priority, vertex)`` tie-break, so Spark and any SQL engine
    replay the EXACT same rounds and the result is value-exact
    reproducible.  Returns ``(vertex, mis_round)``.

    Scale notes: per round, losers are found with one join of the
    symmetric edge list against the active-priority set on each
    endpoint (no window, no collect); winners retire their neighbor
    set via hash anti-joins.  One count action per round (the active
    set, which also materializes the round's checkpoint).  The active
    set shrinks geometrically, so late rounds are near-free.
    """
    e = canonical_edges(edges, graph_id=graph_id).select("src", "dst")
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    spark = sym.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))
    try:
        active = (
            sym.select(F.col("src").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        rounds: list[DataFrame] = []
        converged = False
        for rnd in range(max_iters):
            if active.count() == 0:
                converged = True
                break
            pri = active.select(
                "v",
                F.md5(
                    F.concat_ws(":", F.lit("mis"), F.col("v"), F.lit(rnd))
                ).alias("p"),
            )
            ps = pri.select(F.col("v").alias("sv"), F.col("p").alias("sp"))
            pd_ = pri.select(F.col("v").alias("dv"), F.col("p").alias("dp"))
            # src loses if some ACTIVE neighbor has a strictly smaller
            # (priority, vertex) key; inner joins against pri restrict
            # the edge list to active x active.
            losers = (
                sym.join(ps, sym["src"] == F.col("sv"))
                .join(pd_, sym["dst"] == F.col("dv"))
                .where(
                    (F.col("dp") < F.col("sp"))
                    | ((F.col("dp") == F.col("sp")) & (F.col("dv") < F.col("sv")))
                )
                .select(F.col("sv").alias("v"))
                .distinct()
            )
            winners = active.join(losers, "v", "left_anti").localCheckpoint(
                eager=False
            )
            rounds.append(
                winners.select(
                    F.col("v").cast("long").alias("vertex"),
                    F.lit(rnd).cast("int").alias("mis_round"),
                )
            )
            retired = winners.unionAll(
                sym.join(winners, sym["src"] == F.col("v")).select(
                    F.col("dst").alias("v")
                )
            )
            active = active.join(retired, "v", "left_anti").localCheckpoint(
                eager=False
            )
        if not converged:
            raise RuntimeError(
                f"maximal_independent_set did not converge in {max_iters} rounds"
            )
        LOOP_STATS["maximal_independent_set"] = {"luby_rounds": rnd}
        out = rounds[0]
        for r in rounds[1:]:
            out = out.unionAll(r)
        return out
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    *,
    graph_id: int | None = None,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA), the
    GraphX `lib.LabelPropagation` analogue: every vertex starts as its
    own label; each round it adopts the most frequent label among its
    neighbors, ties broken by SMALLEST label.  Synchronous LPA can
    oscillate on bipartite structure, so — like ``pagerank_fixed`` —
    the contract is a FIXED round count, which makes the output
    deterministic and engine-replayable regardless of convergence.
    Returns ``(vertex, label)`` after exactly ``rounds`` rounds.

    Scale notes: each round is one join (symmetric edges x labels) +
    one map-side-combined count + one ``max(struct(cnt, -label))``
    aggregate — the argmax-with-tie-break as a plain hash aggregate,
    NO per-vertex window (a window keyed on vertex would put each
    vertex's candidate list in one task; fine here, fatal on a
    100x hub).  One lazy checkpoint per round, no per-round action.
    """
    e = canonical_edges(edges, graph_id=graph_id).select("src", "dst")
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    spark = sym.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))
    try:
        labels = (
            sym.select(F.col("src").alias("v"))
            .distinct()
            .select("v", F.col("v").alias("label"))
            .localCheckpoint(eager=False)
        )
        for i in range(int(rounds)):
            nb = sym.join(
                labels.select(F.col("v").alias("dv"), "label"),
                sym["dst"] == F.col("dv"),
            ).select(F.col("src").alias("v"), "label")
            counts = nb.groupBy("v", "label").agg(F.count("*").alias("c"))
            labels = (
                counts.groupBy("v")
                .agg(
                    F.max(
                        F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                    ).alias("m")
                )
                .select("v", (-F.col("m.nl")).cast("long").alias("label"))
                .localCheckpoint(eager=False)
            )
        LOOP_STATS["label_propagation"] = {"rounds": int(rounds)}
        return labels.select(F.col("v").cast("long").alias("vertex"), "label")
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)


def ktruss(
    edges: DataFrame,
    k: int,
    *,
    graph_id: int | None = None,
    max_iters: int = 30,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """The k-truss: the maximal subgraph in which every EDGE sits in
    at least ``k - 2`` triangles, by iterative support peeling — the
    edge-grained sharpening of the k-core (every k-truss is inside the
    (k-1)-core, but not vice versa; trusses are the standard
    cohesive-community primitive one level above triangle counting).
    Returns surviving canonical edges with their in-truss support:
    ``(src, dst, support)``.

    Like ``kcore``, the fixpoint is unique (support peeling is
    confluent) and the edge set only shrinks, so an unchanged edge
    COUNT implies an unchanged edge SET — one count action per round.
    Exhausting ``max_iters`` raises rather than returning a
    non-fixpoint.

    Scale: each round enumerates triangles ONCE in oriented form
    (wedges from the common LOWER endpoint closed by a third canonical
    edge — each triangle found exactly once, the compact-forward
    discipline of ``triangle_counts``), then distributes +1 support to
    each of the three edges: two self-joins keyed on vertex ids plus
    one map-side-combined count, all on the shrinking edge set.
    Rounds needed = peeling depth (2-3 on the co-purchase graphs at
    every gate scale — measured, not assumed).
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    min_support = k - 2
    cur = canonical_edges(edges, graph_id=graph_id).select("src", "dst")
    spark = cur.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))

    def _support(es: DataFrame) -> DataFrame:
        e1 = es.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        e2 = es.select(F.col("src").alias("a2"), F.col("dst").alias("c"))
        wedges = e1.join(
            e2, (F.col("a") == F.col("a2")) & (F.col("c") > F.col("b"))
        ).select("a", "b", "c")
        tris = wedges.join(
            es,
            (es["src"] == F.col("b")) & (es["dst"] == F.col("c")),
            "left_semi",
        )
        sides = (
            tris.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionAll(tris.select(F.col("a").alias("src"), F.col("c").alias("dst")))
            .unionAll(tris.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        )
        return sides.groupBy("src", "dst").agg(F.count("*").alias("support"))

    try:
        cur = cur.localCheckpoint(eager=False)
        prev = cur.count()
        converged = False
        for peel_i in range(max_iters):
            nxt = (
                _support(cur)
                .where(F.col("support") >= min_support)
                .select("src", "dst")
                .localCheckpoint(eager=False)
            )
            n = nxt.count()
            cur = nxt
            if n == prev:
                converged = True
                break
            prev = n
        if not converged:
            raise RuntimeError(f"ktruss did not converge in {max_iters} rounds")
        LOOP_STATS["ktruss"] = {"peel_rounds": peel_i + 1}
        # One more support pass over the fixpoint set for the output
        # column (at the fixpoint the filter is a no-op by definition).
        return (
            _support(cur)
            .where(F.col("support") >= min_support)
            .select(
                "src", "dst", F.col("support").cast("long").alias("support")
            )
        )
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)


def strongly_connected_components(
    edges: DataFrame,
    *,
    max_peel_rounds: int = 10,
    max_prop_rounds: int = 50,
    loop_shuffle_partitions: int | None = None,
    probe_every: int = 1,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph by iterative
    forward-backward hash-min peel (the FW-BW-MIN decomposition —
    Pregel-style, the same family as the MultiStep SCC algorithm):

    per peel round, propagate two labels to fixpoint over the
    remaining subgraph — ``f(v)`` = min id of vertices that can REACH
    v (along edge direction), ``b(v)`` = min id REACHABLE FROM v
    (against it) — and pin every vertex with ``f(v) == b(v) == m``:
    that pair of facts says ``m -> v`` and ``v -> m``, so v lies in
    SCC(m); conversely every member of SCC(m) carries the same
    (f, b), so pinned vertices always form COMPLETE SCCs.  Pinned
    vertices leave, and the peel repeats on the rest.  The globally
    minimum remaining vertex is always pinned (its f and b are both
    itself), so every round makes progress; exhausting
    ``max_peel_rounds`` raises rather than returning partial labels
    (the adversarial case is id-descending chains — real graphs pin
    many SCCs per round; the declared trade digraph needs 2).

    Returns ``(vertex, scc)``, scc = min vertex id of the component —
    the directed twin of ``connected_components``' contract.

    Scale notes: both labels ride the SAME propagation loop — per
    round one labels-join-edges shuffle per direction and one
    min-aggregation each, then ONE action that materializes the
    round's checkpoint and probes convergence via a summed change
    flag (the connected_components discipline).  The peel restricts
    the edge set with two hash semi-joins (no broadcast assumption),
    and each peel round's survivor set shrinks by at least the pinned
    SCCs.  No collect beyond the per-round scalar.
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).distinct().persist()
    spark = e.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))
    try:
        remaining = (
            e.select(F.col("src").alias("v"))
            .unionAll(e.select(F.col("dst").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        pinned_parts: list[DataFrame] = []
        done = False
        n_peels = 0
        total_props = 0
        for _ in range(max_peel_rounds):
            if remaining.count() == 0:
                done = True
                break
            n_peels += 1
            re_ = (
                e.join(
                    remaining.select(F.col("v").alias("src")), "src", "left_semi"
                )
                .join(
                    remaining.select(F.col("v").alias("dst")), "dst", "left_semi"
                )
                .persist()
            )
            labels = remaining.select(
                "v", F.col("v").alias("f"), F.col("v").alias("b")
            ).localCheckpoint(eager=False)
            converged = False
            # Probe chaining (round-6 verdict #8 — the sssp/CC
            # discipline extended to the peel's propagation loop):
            # min-label propagation is monotone and its fixpoint is
            # stable, so a round with zero changes is followed only by
            # zero-change rounds — probing every ``probe_every``
            # rounds reaches the same unique fixpoint while paying the
            # probe ACTION once per chain; each chained round still
            # ends in its own lazy localCheckpoint, which the probe
            # materializes exactly once.  At most probe_every - 1
            # no-op rounds run past convergence.
            probe = max(1, int(probe_every))
            for _r in range(max_prop_rounds):
                fmin = (
                    labels.join(re_, labels["v"] == re_["src"])
                    .groupBy(re_["dst"].alias("v"))
                    .agg(F.min("f").alias("_nf"))
                )
                bmin = (
                    labels.join(re_, labels["v"] == re_["dst"])
                    .groupBy(re_["src"].alias("v"))
                    .agg(F.min("b").alias("_nb"))
                )
                new_labels = (
                    labels.join(fmin, "v", "left")
                    .join(bmin, "v", "left")
                    .select(
                        "v",
                        F.least("f", F.coalesce("_nf", "f")).alias("f"),
                        F.least("b", F.coalesce("_nb", "b")).alias("b"),
                        (
                            (F.coalesce("_nf", "f") < F.col("f"))
                            | (F.coalesce("_nb", "b") < F.col("b"))
                        )
                        .cast("int")
                        .alias("_changed"),
                    )
                    .localCheckpoint(eager=False)
                )
                labels = new_labels.drop("_changed")
                if (_r + 1) % probe == 0 or _r == max_prop_rounds - 1:
                    n_changed = (
                        new_labels.agg(F.sum("_changed")).collect()[0][0] or 0
                    )
                    if n_changed == 0:
                        converged = True
                        break
            if not converged:
                raise RuntimeError(
                    f"SCC label propagation did not converge in "
                    f"{max_prop_rounds} rounds"
                )
            total_props += _r + 1
            pinned = labels.where(F.col("f") == F.col("b")).select(
                F.col("v").cast("long").alias("vertex"),
                F.col("f").cast("long").alias("scc"),
            )
            pinned_parts.append(pinned.localCheckpoint(eager=False))
            remaining = (
                labels.where(F.col("f") != F.col("b"))
                .select("v")
                .localCheckpoint(eager=False)
            )
            re_.unpersist(blocking=False)
        if not done:
            raise RuntimeError(
                f"SCC peel did not finish in {max_peel_rounds} rounds "
                "(id-descending chain worst case); raise max_peel_rounds"
            )
        LOOP_STATS["strongly_connected_components"] = {
            "peel_rounds": n_peels,
            "prop_rounds_total": total_props,
        }
        out = pinned_parts[0]
        for p in pinned_parts[1:]:
            out = out.unionAll(p)
        return out
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)
        e.unpersist(blocking=False)


def degree_assortativity(edges: DataFrame, *, graph_id: int | None = None) -> DataFrame:
    """Degree assortativity (Newman's r) as EXACT integers — do hubs
    attach to hubs?  Over the symmetric directed rendering of the
    undirected graph (each edge counted in both orientations, the
    standard convention), with ``j = deg(src)``, ``k = deg(dst)``:

        r = (M·Σjk − Σj·Σk) / sqrt((M·Σj² − (Σj)²)(M·Σk² − (Σk)²))

    On a SYMMETRIC list Σj = Σk and Σj² = Σk², so the square root
    collapses and r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²) — a ratio of
    two exact BIGINT-expressible integers, no libm.  Returns ONE row
    ``(m_directed, num, den, r_ppm)``; num/den are the exact rational
    (the cross-engine contract), r_ppm a sign-safe integer rendering
    (``sign · (|num|·10⁶ div den)`` — integral div of NON-NEGATIVES
    only, because truncating vs flooring division disagree on
    negatives across engines).

    Scale: one degree aggregation, two (vertex-keyed) joins to stamp
    endpoint degrees on edges, one global sum — all map-side
    combined, output is a single row.  The num/den products need
    headroom: DECIMAL(38,0) covers M·Σjk for M ~ 1e12 edges of
    degree ~1e6.
    """
    e = canonical_edges(edges, graph_id=graph_id)
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = (
        sym.groupBy(F.col("src").alias("v"))
        .agg(F.count("*").alias("deg"))
    )
    dj = deg.select(F.col("v").alias("src"), F.col("deg").alias("j"))
    dk = deg.select(F.col("v").alias("dst"), F.col("deg").alias("k"))
    stamped = sym.join(dj, "src").join(dk, "dst")
    sums = stamped.agg(
        F.count("*").alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum("j").alias("sj"),
        F.sum(F.col("j") * F.col("j")).alias("sjj"),
    )
    return (
        sums.select(
            F.col("m").cast("long").alias("m_directed"),
            F.expr(
                "CAST(CAST(m AS DECIMAL(38,0)) * sjk "
                "- CAST(sj AS DECIMAL(38,0)) * sj AS LONG)"
            ).alias("num"),
            F.expr(
                "CAST(CAST(m AS DECIMAL(38,0)) * sjj "
                "- CAST(sj AS DECIMAL(38,0)) * sj AS LONG)"
            ).alias("den"),
        ).select(
            "m_directed",
            "num",
            "den",
            # DECIMAL(38) product before the integral div (the
            # gini_concentration headroom idiom: num*10^6 would
            # overflow BIGINT near 1e13-edge graphs).
            F.expr(
                "CAST(CASE WHEN num >= 0 "
                "THEN (CAST(num AS DECIMAL(38,0)) * 1000000) DIV den "
                "ELSE -((CAST(-num AS DECIMAL(38,0)) * 1000000) DIV den) "
                "END AS LONG)"
            ).alias("r_ppm"),
        )
    )


def random_walks(
    edges: DataFrame,
    *,
    walk_len: int = 4,
    salt: str = "walk",
    graph_id: int | None = None,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Deterministic uniform random walks over the symmetrized graph,
    one walk started at every vertex (the DeepWalk / node2vec p=q=1
    corpus-generation step: the emitted (walk, position, vertex)
    sequences are the "sentences" a skip-gram embedding trains on).

    The "random" choice is a seeded, engine-portable hash: at step t
    of walk w standing on vertex v, the next neighbor is

        idx = int(md5('{salt}:w:t:v')[:8 hex], 16) % deg(v)

    into v's dst-sorted adjacency.  That makes the corpus exactly
    reproducible run to run (a property the ad-hoc RNG of a driver
    loop cannot give) and replayable in ANSI SQL for the value
    oracle — the same md5-keyed determinism contract as the sampling
    and MIS operators.

    Scale posture (100 TB): the adjacency is indexed once
    (``row_number`` partitioned by src — one shuffle; a hub's
    neighbor list sorts inside its own partition) and persisted
    across the ``walk_len`` supersteps.  Each superstep is two 1:1
    equi-joins of the O(V) frontier — (vertex -> deg) to form the
    pick, then (vertex, pick) -> next — so a walk transition costs
    O(1) rows JOINED, never a neighbor-list expansion: stepping off a
    100M-degree celebrity vertex moves one row, not 100M.  Every
    vertex of the symmetric graph has deg >= 1, so walks never
    terminate early and the output is exactly V * (walk_len + 1)
    rows.  No collect; the loop is width-bounded (walk_id, vertex).
    ``loop_shuffle_partitions`` right-sizes the superstep shuffles
    (the sssp idiom, scoped set/restore): a frontier of thousands of
    rows should not pay a scan-width shuffle 2*walk_len times.  Each
    superstep ends in a LAZY localCheckpoint; the final state's eager
    checkpoint materializes the whole chain in one action, after
    which the adjacency can be released — the union branches read
    cached step blocks only.

    Reference scope note: the reference engine's traversals are BFS/
    DFS only (secondary_server.c:83, :162); walks are part of the
    training-data extension surface (SURVEY.md section 2.3).
    """
    from pyspark.sql.window import Window

    e = canonical_edges(edges, graph_id=graph_id)
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Distinct column names on the (shared-lineage) adjacency and
    # degree tables keep the walk_len self-joins unambiguous.
    adj = sym.select(
        F.col("src").alias("a_src"),
        F.col("dst").alias("a_dst"),
        (
            F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1
        ).alias("a_idx"),
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("d_deg")).select(
        F.col("src").alias("d_v"), "d_deg"
    )
    if loop_shuffle_partitions is not None:
        # Bare coalesce, NOT the betweenness/pagerank co-partition
        # (r13: repartition-on-join-keys + SHUFFLE_HASH was A/B'd here
        # and REGRESSED q_walks 3.55 -> 3.91 s — this loop is fully
        # lazy until one eager action, so its broadcast builds pipeline
        # across steps and the extra input shuffles cost more than the
        # builds they replace, unlike the probe-per-round loops).
        adj = adj.coalesce(int(loop_shuffle_partitions))
        deg = deg.coalesce(int(loop_shuffle_partitions))
    adj = adj.persist()
    deg = deg.persist()
    spark = adj.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    if loop_shuffle_partitions is not None:
        spark.conf.set(_parts_key, str(int(loop_shuffle_partitions)))

    try:
        state = deg.select(
            F.col("d_v").alias("walk_id"), F.col("d_v").alias("vertex")
        ).localCheckpoint(eager=False)
        outs = [state.withColumn("step", F.lit(0).cast("int"))]
        for t in range(1, walk_len + 1):
            pick_hash = F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(salt),
                            F.col("walk_id").cast("string"),
                            F.lit(str(t)),
                            F.col("vertex").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            staged = (
                state.join(deg, F.col("vertex") == F.col("d_v"))
                .withColumn("pick", pick_hash % F.col("d_deg"))
                .select("walk_id", "vertex", "pick")
            )
            state = staged.join(
                adj,
                (F.col("vertex") == F.col("a_src"))
                & (F.col("pick") == F.col("a_idx")),
            ).select("walk_id", F.col("a_dst").alias("vertex"))
            # Lazy checkpoint per superstep: lineage stays O(1), and
            # the chained blocks materialize in sequence under the
            # ONE eager action below (the sssp probe pattern) — no
            # per-step job floor, no per-branch recompute.
            eager = t == walk_len
            state = state.localCheckpoint(eager=eager)
            outs.append(state.withColumn("step", F.lit(t).cast("int")))

        result = outs[0]
        for o in outs[1:]:
            result = result.unionAll(o)
        return result.select(
            F.col("walk_id").cast("long").alias("walk_id"),
            "step",
            F.col("vertex").cast("long").alias("vertex"),
        )
    finally:
        if loop_shuffle_partitions is not None:
            spark.conf.set(_parts_key, _prev_parts)
        adj.unpersist(blocking=False)
        deg.unpersist(blocking=False)


def neighbor_sample(
    edges: DataFrame,
    *,
    k: int = 3,
    salt: str = "nbr",
    graph_id: int | None = None,
) -> DataFrame:
    """Deterministic GraphSAGE-style neighbor sampling: for every
    vertex keep up to ``k`` neighbors, chosen by ascending
    ``md5(salt:src:dst)`` (a seeded uniform draw without replacement
    — the mini-batch fan-in cap GNN training uses so a celebrity
    vertex contributes k rows, not its whole neighbor list).

    Engine-portable by the usual md5 contract: the hex strings order
    identically in any engine, ties (impossible for distinct dst, but
    pinned anyway) break on dst.  Returns ``(src, dst, sample_rank)``
    with sample_rank 1..k.

    Scale posture: ONE row_number window partitioned by src — each
    vertex's candidates sort inside its own partition (never a global
    window), and the output is hard-capped at k rows per vertex, so
    downstream joins see bounded fan-in regardless of skew.  For
    degrees so extreme one vertex's list breaks a task, pre-thin with
    a coarse hash filter on md5 before the window (same order, fewer
    rows) — the standard top-k-per-key escalation.
    """
    from pyspark.sql.window import Window

    e = canonical_edges(edges, graph_id=graph_id)
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pri = F.md5(
        F.concat_ws(
            ":",
            F.lit(salt),
            F.col("src").cast("string"),
            F.col("dst").cast("string"),
        )
    )
    w = Window.partitionBy("src").orderBy(pri, F.col("dst"))
    return (
        sym.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= int(k))
        .select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("sample_rank").cast("int").alias("sample_rank"),
        )
    )


def feature_propagation(
    edges: DataFrame,
    features: DataFrame,
    *,
    hops: int = 2,
    graph_id: int | None = None,
    id_col: str = "vertex",
    feat_col: str = "feat",
) -> DataFrame:
    """Linear neighborhood aggregation — the SIGN / GraphSAGE
    preprocessing step that materializes h_k = A·h_{k-1} so GNN
    training becomes plain table learning: h_0 is an INTEGER vertex
    feature, and hop k sums the (k-1)-hop values of the immediate
    neighbors (walks with backtracking — the standard linear
    operator, exactly A^k·x).

    All-integer (sums of BIGINT features), so the readout is exact
    cross-engine with no float contract.  Vertices missing from
    ``features`` propagate 0 (COALESCE on the feature join);
    vertices absent from the graph do not appear.

    Scale posture: each hop is ONE edges-x-values equi-join shuffled
    on the vertex key plus ONE map-side-combined groupBy — the
    textbook distributed SpMV; hop count is the only multiplier.  The
    degree column rides the same aggregation.  At extreme feature
    width, h_k becomes an array and the same join/agg applies
    elementwise (zip_with sums) — the scalar form here is the
    declared surface.

    Returns ``(vertex, degree, h1, ..., h<hops>)``.
    """
    e = canonical_edges(edges, graph_id=graph_id)
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    verts = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("degree")
    )
    h = features.select(
        F.col(id_col).alias("fv"), F.col(feat_col).cast("long").alias("h")
    )
    out = verts
    for hop in range(1, int(hops) + 1):
        agg = (
            sym.join(h, sym["dst"] == h["fv"])
            .groupBy(F.col("src").alias("v2"))
            .agg(F.sum("h").alias(f"h{hop}"))
        )
        out = out.join(agg, out["v"] == agg["v2"], "left").drop("v2")
        out = out.withColumn(f"h{hop}", F.coalesce(F.col(f"h{hop}"), F.lit(0)))
        h = out.select(
            F.col("v").alias("fv"), F.col(f"h{hop}").cast("long").alias("h")
        )
    return out.select(
        F.col("v").cast("long").alias("vertex"),
        F.col("degree").cast("long").alias("degree"),
        *[F.col(f"h{i}").cast("long").alias(f"h{i}") for i in range(1, int(hops) + 1)],
    )


def also_bought(weighted_edges: DataFrame, *, k: int = 3) -> DataFrame:
    """Item-based collaborative-filtering readout over the SYMMETRIC
    weighted co-purchase graph: for every part, the top-``k``
    co-purchased parts by co-occurrence count — the "customers also
    bought" panel, precomputed as a table.

    Deterministic ranking (cnt desc, dst asc) over exact integer
    counts.  Returns ``(src, dst, cnt, rank)`` with rank <= k.

    Scale posture: ONE per-src window over the already-aggregated
    edge list (WindowGroupLimit pushes the k-cutoff into the sort —
    no vertex materializes more than its edge list, and the output is
    hard-capped at k rows per part).  The co-occurrence aggregation
    itself is the shared copurchase_weighted_edges base — this
    readout adds no extra scan of the fact table.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("src").orderBy(F.col("cnt").desc(), F.col("dst"))
    return (
        weighted_edges.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("cnt").cast("long").alias("cnt"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def modularity_summary(edges_canonical: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a vertex partition, as an EXACT integral
    ppm (the assortativity idiom): with M undirected edges, e_c
    intra-community edges and d_c the community degree sum,

        Q = sum_c e_c / M  -  sum_c (d_c / 2M)^2
          = (4M * sum(e_c) - sum(d_c^2)) / (4 M^2)

    — one DECIMAL(38,0) rational, sign-safe integral division (Q can
    be negative), zero float accumulation.  This is the quality
    readout for ``connected_components``/``label_propagation``
    partitions: a near-zero Q says the "communities" are no better
    than random wiring.

    ``edges_canonical``: one row per undirected edge, src < dst.
    ``labels``: ``(vertex, component)``.

    Scale posture: two label joins keyed on vertex ids (the same
    shuffle key the CC loop already used), two map-side-combined
    per-community rollups (output = community count), then a one-row
    reduction.  No collect; the final row is the action.

    Returns one row ``(n_communities, m_edges, q_ppm)``.
    """
    la = labels.select(F.col("vertex").alias("src"), F.col("component").alias("ca"))
    lb = labels.select(F.col("vertex").alias("dst"), F.col("component").alias("cb"))
    tagged = edges_canonical.select("src", "dst").join(la, "src").join(lb, "dst")
    # COUNT over an empty relation is 0 (not NULL), so the zero-intra
    # partition needs no guard and no per-community rollup here.
    intra = tagged.where(F.col("ca") == F.col("cb")).agg(
        F.count("*").alias("sum_ec")
    )
    deg = (
        edges_canonical.select(F.col("src").alias("vertex"))
        .unionAll(edges_canonical.select(F.col("dst").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("d"))
    )
    dc = (
        deg.join(labels, "vertex")
        .groupBy("component")
        .agg(F.sum("d").alias("d_c"))
    )
    per_comm = dc.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.sum(F.expr("CAST(d_c AS DECIMAL(38,0)) * d_c")).alias("sum_dc2"),
    )
    m = edges_canonical.agg(F.count("*").alias("m_edges"))
    return (
        per_comm.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(intra))
        .select(
            "n_communities",
            F.col("m_edges").cast("long").alias("m_edges"),
            F.expr(
                "CAST(CASE WHEN m_edges = 0 THEN 0 ELSE "
                "CASE WHEN 4 * CAST(m_edges AS DECIMAL(38,0)) * sum_ec - sum_dc2 >= 0 "
                "THEN ((4 * CAST(m_edges AS DECIMAL(38,0)) * sum_ec - sum_dc2) * 1000000)"
                " DIV (4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges) "
                "ELSE -(((sum_dc2 - 4 * CAST(m_edges AS DECIMAL(38,0)) * sum_ec) * 1000000)"
                " DIV (4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges)) END END AS BIGINT)"
            ).alias("q_ppm"),
        )
    )
