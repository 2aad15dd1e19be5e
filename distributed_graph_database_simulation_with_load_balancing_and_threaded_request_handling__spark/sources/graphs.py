"""Graph construction over the driver testdata (FIXTURES.md §3) and
edge-list normalization.

The derived graph is the deterministic 4-level tree
``root 999 -> regions (r_regionkey) -> nations (100+n_nationkey) ->
customers (1000+c_custkey)`` so every traversal query has a plain-SQL
(``WITH RECURSIVE``) DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .tables import load_table

ROOT_VID = 999

# Persisted-graph cache, keyed per Spark application + construction
# args.  The reference keeps every graph resident in the secondary
# servers' address space between requests (secondary_server.c:42
# ``int graphs[10][N][N]``); the Spark rendering is a persisted edge
# DataFrame shared by every traversal in the session (the GraphX
# ``graph.cache()`` posture).  Testdata is immutable, so entries never
# go stale; MEMORY_AND_DISK spills instead of OOMing at scale.  Most
# graph queries read their edge set several times (width-sizing count,
# warm-up, the loop itself), so the cache pays off within ONE query;
# bench.py drops it before every timed run (reset_session_caches).
_EDGE_CACHE: dict[tuple, DataFrame] = {}


def evict_edge_cache(
    except_sf_dir: str | None = None, *, blocking: bool = False
) -> None:
    """Unpersist and drop every cached edge table whose sf_dir differs
    from ``except_sf_dir`` (all of them when None).  Cache keys are
    ``(applicationId, sf_dir, kind, ...)`` — sf_dir is index 1.  The
    driver harness sweeps one sf_dir at a time, so a long-lived
    session switching sf_dirs releases the previous scale's persisted
    blocks instead of accumulating them.  ``blocking=True`` is for
    harness boundaries (the bench's per-run reset), where async block
    removal would overlap the next timed run."""
    for key in [k for k in _EDGE_CACHE if except_sf_dir is None or k[1] != except_sf_dir]:
        _EDGE_CACHE.pop(key).unpersist(blocking=blocking)


def derived_tree_edges(
    spark: SparkSession,
    sf_dir: str,
    *,
    symmetric: bool = True,
    graph_id: int = 1,
    cached: bool = True,
) -> DataFrame:
    """Edge list of the derived tree over region/nation/customer.

    Directed parent->child when ``symmetric=False`` (what the SQL
    recursive oracle traverses); both directions when True (what the
    engine stores — the reference stores symmetric adjacency matrices,
    G1.txt/G2.txt/G3.txt are all symmetric).

    ``cached`` (default) persists the constructed edge list once per
    session and returns the same DataFrame to every caller, so the
    BFS/DFS/CC query family shares one materialization instead of
    re-deriving the union-of-three-scans per query.
    """
    key = (spark.sparkContext.applicationId, sf_dir, symmetric, graph_id)
    if cached and key in _EDGE_CACHE:
        return _EDGE_CACHE[key]
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")

    e0 = (
        region.select(
            F.lit(ROOT_VID).cast("long").alias("src"),
            F.col("r_regionkey").cast("long").alias("dst"),
        )
        .unionAll(
            nation.select(
                F.col("n_regionkey").cast("long").alias("src"),
                (F.col("n_nationkey") + 100).cast("long").alias("dst"),
            )
        )
        .unionAll(
            customer.select(
                (F.col("c_nationkey") + 100).cast("long").alias("src"),
                (F.col("c_custkey") + 1000).cast("long").alias("dst"),
            )
        )
    )
    if symmetric:
        e0 = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    out = e0.select(F.lit(graph_id).cast("int").alias("graph_id"), "src", "dst")
    if cached:
        out = out.persist()
        _EDGE_CACHE[key] = out
    return out

def edges_from_pairs(pairs: DataFrame, *, graph_id: int = 1, symmetric: bool = True) -> DataFrame:
    """Normalize raw (src,dst) pairs into a canonical undirected edge
    list: drop self-loops, dedupe, symmetrize.

    This is the ingest normalization of the reference's add_graph (O1,
    primary_server.c:86-179) re-expressed declaratively — the reference
    trusts the client's dense matrix; we canonicalize an edge list.
    One shuffle (the distinct); symmetrization is a shuffle-free union
    + projection on top.
    """
    canon = (
        pairs.select(
            F.least("src", "dst").cast("long").alias("src"),
            F.greatest("src", "dst").cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    out = canon
    if symmetric:
        out = canon.unionAll(
            canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return out.select(F.lit(graph_id).cast("int").alias("graph_id"), "src", "dst")

def requests_from_orders(spark: SparkSession, sf_dir: str, *, limit: int | None = None) -> DataFrame:
    """Deterministic `requests` table derived from `orders`, shaped per
    FIXTURES.md §1 (the reference's "<seq_no> <op_no> <filename>" +
    start-vertex payload, client (1).c:63-73,105).

    op_no cycles 1..4 on o_orderkey; graph_name cycles G1..G5;
    start_vertex only for read ops (3/4), NULL for writes — mirroring
    the reference where the shm payload is a matrix for ops 1/2 and a
    single int for ops 3/4 (client (1).c:78-104 vs 137-155).
    """
    orders = load_table(spark, sf_dir, "orders")
    df = orders.select(
        F.col("o_orderkey").cast("int").alias("seq_no"),
        (F.col("o_orderkey") % 4 + 1).cast("int").alias("op_no"),
        F.concat(F.lit("G"), (F.col("o_orderkey") % 5 + 1).cast("string"), F.lit(".txt")).alias(
            "graph_name"
        ),
        F.when(
            (F.col("o_orderkey") % 4 + 1).isin(3, 4),
            (F.col("o_orderkey") % 20 + 1).cast("int"),
        ).alias("start_vertex"),
    )
    if limit is not None:
        df = df.limit(limit)
    return df


def copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_basket: int | None = 12,
    symmetric: bool = False,
    ship_range: tuple[str, str] | None = None,
    cached: bool = True,
) -> DataFrame:
    """Part co-occurrence graph from ``lineitem``: one canonical
    ``src < dst`` edge per distinct pair of parts appearing in the
    same order.  Unlike the derived tree (``derived_tree_edges``)
    this graph has cycles and triangles, so it exercises the
    whole-graph analytics (``graphalgs``) non-trivially.

    ``max_basket`` drops degenerate orders with more than that many
    distinct parts BEFORE the pair self-join — per-order pair count is
    quadratic in basket size, so one pathological basket would
    dominate the shuffle (same degenerate-bucket guard as
    ``dedup._bucket_pairs``'s ``max_bucket_size``).  TPC-H orders have
    <= 7 lineitems, so the default cap drops nothing on the testdata;
    the guard exists for the 100-TB shape of real basket data.

    ``ship_range=(lo, hi)`` restricts to lineitems with
    ``lo <= l_shipdate < hi`` — expressed as a plain range predicate
    (not ``year(...)``) so it reaches the parquet scan as a min/max
    pushdown filter.

    Scale: ONE lineitem scan.  Per-order part sets are gathered with a
    single ``collect_set`` shuffle (which also dedups (ok, p) — no
    separate distinct), the basket-size guard is an array-length
    filter on the aggregated row (no second scan / no join back), and
    the canonical pairs explode JVM-side from the sorted array (the
    naive formulation — distinct + basket groupBy + self-join — reads
    the fact table FOUR times and shuffles it thrice).  The final
    distinct on the pair is the one remaining shuffle.
    ``symmetric=True`` adds the reversed projection (shuffle-free
    union) for consumers that need both orientations
    (e.g. ``pagerank_fixed``).
    """
    # Derived from the weighted build: the canonical pair set is
    # exactly the weighted aggregation's key set (groupBy keys ==
    # distinct), so the unweighted graph is a free projection over the
    # ONE persisted base per (sf_dir, window) — the analytics suite
    # (triangles/k-core/common-neighbors over the windowed graph,
    # degree-hist over the full one) shares that base with the
    # sssp/PageRank weighted consumers instead of re-scanning lineitem
    # and re-shuffling the pair explosion per query family.
    w = copurchase_weighted_edges(
        spark,
        sf_dir,
        max_basket=max_basket,
        symmetric=symmetric,
        ship_range=ship_range,
        cached=cached,
    )
    return w.select("src", "dst")


def cooccurrence_pairs(
    items: DataFrame,
    group_col: str,
    item_col: str,
    *,
    max_group: int | None = 12,
) -> DataFrame:
    """General co-occurrence pair generator — the bipartite-projection
    primitive: one canonical ``src < dst`` row per group containing
    the item pair (NOT deduplicated across groups — multiplicity is
    the co-occurrence count).  Works for any (group, item) table:
    order/part baskets, user/item interactions, document/entity
    mentions.

    ONE scan of ``items``: per-group item sets are gathered with a
    single ``collect_set`` shuffle (which also dedups (group, item)),
    the group-size guard is an array-length filter on the aggregated
    row, and the pairs explode JVM-side from the sorted array.
    Per-group pair count is quadratic in group size, so groups over
    ``max_group`` are dropped BEFORE explosion (degenerate-group
    guard, the ``dedup._bucket_pairs.max_bucket_size`` posture).
    """
    baskets = (
        items.select(
            F.col(group_col).alias("g"), F.col(item_col).cast("long").alias("p")
        )
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("p")).alias("parts"))
    )
    if max_group is not None:  # None = uncapped (skew-stress harness)
        baskets = baskets.where(F.size("parts") <= max_group)
    # All i<j index pairs of the sorted array: `parts` is a bare column
    # reference, so the nested-lambda re-evaluation trap (HOF lambdas
    # are CodegenFallback) costs only an O(1) attribute read per element.
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) ->"
                    " transform(slice(parts, i + 2, size(parts)), y -> struct(x AS src, y AS dst))))"
                )
            ).alias("e")
        )
        .select(F.col("e.src"), F.col("e.dst"))
    )


def _copurchase_pair_rows(
    spark: SparkSession,
    sf_dir: str,
    max_basket: int | None,
    ship_range: tuple[str, str] | None,
) -> DataFrame:
    """Lineitem instance of ``cooccurrence_pairs`` (orders = groups,
    parts = items), with the optional pushdown-able ship-date window."""
    li = load_table(spark, sf_dir, "lineitem")
    if ship_range is not None:
        lo, hi = ship_range
        li = li.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
    return cooccurrence_pairs(li, "l_orderkey", "l_partkey", max_group=max_basket)


def copurchase_weighted_edges(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_basket: int | None = 12,
    symmetric: bool = False,
    ship_range: tuple[str, str] | None = None,
    cached: bool = True,
) -> DataFrame:
    """Weighted co-purchase graph: ``(src, dst, cnt, w)`` per canonical
    part pair, where ``cnt`` is the number of orders containing both
    parts and ``w = 1 + 100 div cnt`` is an integer TRAVERSAL COST
    (strong ties are cheap) for the shortest-path family — integer so
    the result stays engine-exact (``graphalgs.sssp``).

    Same single-scan basket-explosion plan as ``copurchase_edges``;
    the dedup-distinct is replaced by a count aggregation (identical
    shuffle shape, the weight comes for free).
    """
    # The persisted unit is the CANONICAL (src < dst) weighted base —
    # one per (sf_dir, window, max_basket); the symmetric orientation
    # is a shuffle-free union-of-projections over those same blocks,
    # so symmetric and asymmetric consumers (and, via
    # ``copurchase_edges``, unweighted ones) all share one build.
    base_key = (
        spark.sparkContext.applicationId, sf_dir, "copurchase_w", max_basket, ship_range,
    )
    if cached and base_key in _EDGE_CACHE:
        weighted = _EDGE_CACHE[base_key]
    else:
        weighted = (
            _copurchase_pair_rows(spark, sf_dir, max_basket, ship_range)
            .groupBy("src", "dst")
            .agg(F.count("*").alias("cnt"))
            .select(
                "src", "dst", "cnt", (1 + F.expr("100 div cnt")).cast("long").alias("w")
            )
        )
        if cached:
            weighted = weighted.persist()
            _EDGE_CACHE[base_key] = weighted
    if not symmetric:
        return weighted
    return weighted.unionAll(
        weighted.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt", "w"
        )
    )


def trade_digraph(
    spark: SparkSession,
    sf_dir: str,
    *,
    top_k: int = 2,
    cached: bool = True,
) -> DataFrame:
    """DIRECTED nation trade-flow graph: an edge ``a -> b`` when
    supplier-nation ``b`` is among customer-nation ``a``'s ``top_k``
    trading destinations by lineitem count (ties broken by cnt DESC,
    then b ASC — deterministic at every scale).  The one derived graph
    whose edges have DIRECTION, built for the strongly-connected-
    component family: mutual top-partners form cycles, so SCCs are
    non-trivial (measured 3-10-node cores at sf0.001-0.1).

    Scale: one fact scan joined to three broadcast dims (orders is
    fact-sized — that join shuffles on orderkey once), aggregated to
    |nations|^2 flow rows; the top-k window runs over those bounded
    rows, NOT the fact table.  Returns ``(src, dst)`` long columns.
    """
    key = (spark.sparkContext.applicationId, sf_dir, "trade_digraph", top_k)
    if cached and key in _EDGE_CACHE:
        return _EDGE_CACHE[key]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    flows = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    out = (
        flows.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("src").orderBy(
                    F.col("cnt").desc(), F.col("dst")
                )
            ),
        )
        .where(F.col("_rk") <= int(top_k))
        .select("src", "dst")
    )
    if cached:
        out = out.persist()
        _EDGE_CACHE[key] = out
    return out


def cobuyer_weighted_edges(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_part_buyers: int = 25,
    symmetric: bool = False,
    cached: bool = True,
) -> DataFrame:
    """The OTHER projection of the order-basket bipartite graph:
    customers connected when they bought the same part, weighted by
    how many distinct parts they share — the "shoppers like you"
    graph (user-user collaborative filtering), where
    ``copurchase_weighted_edges`` is the item-item side.

    Same one-scan ``cooccurrence_pairs`` machinery with parts as the
    groups: a part bought by more than ``max_part_buyers`` distinct
    customers is a non-discriminative staple and is dropped BEFORE
    the quadratic pair explosion (the max_basket posture, mirrored).
    The default 25 is calibrated to the driver data (buyers per part:
    median 30, max ~53 — measured at sf0.01 AND sf0.1), keeping ~20%
    of parts and ~1M pairs at sf0.1, the same order as the
    co-purchase base; a cap at the basket-side 12 is VACUOUS here
    (zero parts survive, measured).

    Returns canonical ``(src, dst, cnt)`` customer pairs
    (``symmetric=True`` unions both orientations, shuffle-free).
    """
    base_key = (
        spark.sparkContext.applicationId, sf_dir, "cobuyer_w", max_part_buyers,
    )
    if cached and base_key in _EDGE_CACHE:
        weighted = _EDGE_CACHE[base_key]
    else:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        bought = li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        ).select("l_partkey", "o_custkey")
        weighted = (
            cooccurrence_pairs(
                bought, "l_partkey", "o_custkey", max_group=max_part_buyers
            )
            .groupBy("src", "dst")
            .agg(F.count("*").alias("cnt"))
        )
        if cached:
            weighted = weighted.persist()
            _EDGE_CACHE[base_key] = weighted
    if not symmetric:
        return weighted
    return weighted.unionAll(
        weighted.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt")
    )
