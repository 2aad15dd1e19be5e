"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Query inventory per SURVEY.md §2.3: the graph-database operator set
(add/modify/BFS/DFS/route/schedule/stats) over the derived tree of
FIXTURES.md §3, plus the training-data extension operators over
``documents``/``embeddings``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_ASSIGNMENT_TREE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "data", "assignment_trees"
)


def _assignment_tree_path(name: str) -> str:
    return os.path.join(_ASSIGNMENT_TREE_DIR, f"{name}.txt")


def _assignment_trees():
    """(graph_id, name, n, matrix) for the 14 committed evaluation
    trees (the reference's graded docx corpus; see
    scripts/extract_assignment_trees.py for provenance)."""
    out = []
    for gid in range(1, 15):
        name = f"G{gid}"
        with open(_assignment_tree_path(name)) as f:
            tokens = f.read().split()
        n = int(tokens[0])
        cells = [int(x) for x in tokens[1:]]
        out.append((gid, name, n, [cells[r * n : (r + 1) * n] for r in range(n)]))
    return out


def _assignment_bfs_values() -> str:
    """Independent pure-Python BFS over the raw matrices, rendered as
    a VALUES literal — the golden oracle for q_assignment_replay."""
    from collections import deque

    rows = []
    for gid, _name, n, mat in _assignment_trees():
        for root0 in range(n):
            level = {root0: 0}
            q = deque([root0])
            while q:
                u = q.popleft()
                for v in range(n):
                    if mat[u][v] and v not in level:
                        level[v] = level[u] + 1
                        q.append(v)
            rows.extend(
                (gid, root0 + 1, v0 + 1, lvl) for v0, lvl in level.items()
            )
    values = ", ".join(f"({g}, {s}, {v}, {l})" for g, s, v, l in rows)
    return (
        "SELECT CAST(graph_id AS INTEGER) AS graph_id, "
        "CAST(start AS BIGINT) AS start, "
        "CAST(vertex AS BIGINT) AS vertex, "
        "CAST(level AS INTEGER) AS level "
        f"FROM (VALUES {values}) AS t(graph_id, start, vertex, level)"
    )


from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.catalog import (
    add_graph as _add_graph,
    merge_edges as _merge_edges,
    modify_graph as _modify_graph,
    snapshot_diff as _snapshot_diff,
    snapshot_versions as _snapshot_versions,
    vacuum_plan as _vacuum_plan,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dispatch import (
    route_counts,
    schedule_requests,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.persists import (
    release_operator_persists,
    tracked_persist,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.stats import graph_stats
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.traverse import (
    bfs_level_order,
    bfs_levels,
    connected_components,
    connected_count,
    dfs_leaves,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.graphs import (
    ROOT_VID,
    cobuyer_weighted_edges,
    copurchase_edges,
    copurchase_weighted_edges,
    derived_tree_edges,
    evict_edge_cache,
    requests_from_orders,
    trade_digraph,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
    also_bought,
    clustering_coefficient,
    degree_assortativity,
    degree_histogram,
    link_prediction_scores,
    betweenness_sampled,
    four_clique_counts,
    kcore,
    ktruss,
    label_propagation,
    max_spanning_forest,
    maximal_independent_set,
    modularity_summary,
    pagerank_fixed,
    pagerank_fixed_both,
    pagerank_prepare,
    feature_propagation,
    neighbor_sample,
    personalized_pagerank_fixed,
    random_walks,
    sssp,
    strongly_connected_components,
    triangle_counts,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.tables import load_table
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
    cross_source_duplicates,
    dedup_clusters,
    edit_dedup,
    exact_dedup,
    fingerprint_dedup,
    minhash_dedup,
    decontaminate,
    ngram_jaccard_pairs,
    prefix_jaccard_join,
    shingle_jaccard_pairs,
    simhash_allpairs,
    simhash_dedup,
    substring_overlap_pairs,
    winnow_fingerprints,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
    cosine_range_search,
    cosine_topk,
    cosine_topk_batch,
    cosine_topk_filtered,
    cosine_topk_per_group,
    embedding_near_dup,
    ivf_pq_topk,
    ivf_topk,
    knn_graph_recall,
    lsh_knn_graph,
    lsh_topk,
    make_hyperplanes,
    pq_topk,
    sq8_topk,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.textops import (
    PII_EMAIL,
    PII_IPV4,
    PII_PHONE,
    bm25_topk,
    boilerplate_prefixes,
    bpe_fertility,
    bpe_tokenize,
    bpe_train,
    json_extract_features,
    url_parse_features,
    xml_extract_features,
    chunk_documents,
    collocations,
    lang_confusion,
    corpus_stats,
    token_length_histogram,
    doc_features,
    pack_sequences,
    rare_bigram_rate,
    redact_pii,
    repetition_features,
    similar_docs_jaccard,
    tfidf_topk,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.temporal import (
    activity_profile_similarity,
    asof_join,
    cumulative_new_users,
    daily_volume_anomalies,
    interval_join,
    time_gapfill,
    time_rollup,
    trailing_window_spend,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.sketches import (
    kmv_intersect_estimate,
    kmv_sketch,
    BLOOM_K,
    HLL_ALPHA_M2,
    HLL_M,
    bloom_bits,
    bloom_probe,
    cms_estimate,
    cms_table,
    heavy_hitters,
    hll_distinct,
    hll_estimate,
    hll_registers,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.clustering import (
    cluster_label_profile,
    kmeans_fixed,
    semantic_dedup_pairs,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.pipeline import (
    corpus_prep_stats,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.sampling import (
    grouped_split_summary,
    group_sample_exact,
    leakage_matrix,
    negative_sample,
    rate_threshold,
    sample_quantile_err,
    split_thresholds,
    stratified_sample,
    temperature_sample,
    train_split,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
    attach_media,
    audio_downsample_features,
    audio_pcm_features,
    extract_audio_meta,
    g711_audio_features,
    ima_adpcm_features,
    plant_g711_audio,
    plant_ima_adpcm_audio,
    _IMA_STEP_TABLE,
    plant_audio_signal,
    plant_encoded_adam7_pngs,
    plant_encoded_palette_pngs,
    plant_encoded_jpegs,
    plant_encoded_pngs,
    plant_encoded_rgb_pngs,
    jpeg_decode_stats,
    png_decode_stats,
    rgb_decode_stats,
    extract_media_meta,
    frame_sample,
    gif_frame_stats,
    jpeg_color_stats,
    plant_encoded_color_jpegs,
    plant_encoded_gifs,
    plant_audio,
    plant_bitmaps,
    plant_images,
    resize_bitmaps,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.relational import (
    column_profile,
    quintile_mobility,
    revenue_trend,
    seasonal_index,
    spend_outliers,
    winsorized_spend,
    brand_revenue,
    customer_order_distribution,
    customers_without_orders,
    disjunctive_part_revenue,
    forecast_revenue,
    funnel_stages,
    event_contingency,
    idle_customers,
    important_parts,
    integrity_audit,
    large_quantity_orders,
    min_cost_supplier,
    product_profit,
    promo_suppliers,
    supplier_part_counts,
    small_quantity_revenue,
    local_supplier_volume,
    nation_market_share,
    nation_trade_volume,
    order_gap_stats,
    association_rules,
    decile_table,
    event_sequences,
    event_transitions,
    gini_concentration,
    order_cube,
    retention_cohorts,
    revenue_grouping_sets,
    skyline_2d,
    top_supplier,
    waiting_suppliers,
    order_priority_check,
    promo_revenue_share,
    returned_item_revenue,
    ship_priority,
    shipmode_priority_stats,
    event_props_filter,
    event_type_pivot,
    event_windows,
    pricing_summary,
    quality_percentiles,
    revenue_rollup,
    running_customer_spend,
    sessionize_events,
    top_events_per_type,
    user_cohort,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dispatch import (
    format_reply,
    run_requests,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming.ingest import (
    run_attribution_batch,
    run_corpus_stats_batch,
    run_dedup_batch,
    run_enrich_batch,
    run_hdr_hist_batch,
    run_spend_upsert_batch,
    run_edge_ingest_batch,
    run_event_rollup_batch,
    run_sessions_batch,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming.requests import (
    serve_requests_available_now,
)

# ---------------------------------------------------------------------------
# Shared derived-graph constructions (FIXTURES.md §3).
# Graph 1: root 999 -> regions -> nations(+100) -> customers(+1000).
# Graph 2 (for modify): initially star 998 -> nations(+100); replaced by the
# 3-level tree 998 -> regions -> nations(+100).
# ---------------------------------------------------------------------------

def _g2_initial_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        F.lit(998).cast("long").alias("src"),
        (F.col("n_nationkey") + 100).cast("long").alias("dst"),
    )

def _g2_replacement_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.select(
        F.lit(998).cast("long").alias("src"),
        F.col("r_regionkey").cast("long").alias("dst"),
    ).unionAll(
        nation.select(
            F.col("n_regionkey").cast("long").alias("src"),
            (F.col("n_nationkey") + 100).cast("long").alias("dst"),
        )
    )

def _raw_tree_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derived_tree_edges(spark, sf_dir, symmetric=False).select("src", "dst")

def _db_two_graphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    g1 = derived_tree_edges(spark, sf_dir, symmetric=True, graph_id=1)
    g2 = _add_graph(_g2_initial_pairs(spark, sf_dir), graph_id=2)
    return g1.unionByName(g2)

# SQL fragments shared by the oracles (DuckDB dialect == ANSI here).
_SQL_E0 = """
  SELECT CAST(999 AS BIGINT) AS src, CAST(r_regionkey AS BIGINT) AS dst FROM region
  UNION ALL
  SELECT CAST(n_regionkey AS BIGINT), CAST(100 + n_nationkey AS BIGINT) FROM nation
  UNION ALL
  SELECT CAST(100 + c_nationkey AS BIGINT), CAST(1000 + c_custkey AS BIGINT) FROM customer
"""

_SQL_SYM = f"""
  WITH e0 AS ({_SQL_E0})
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
"""

# Net event log of the 3-version delta history q_time_travel / q_cdc
# share (catalog._delta_events replica: delete-then-insert at one
# version nets to insert via EXCEPT).
_SQL_TT_EV = f"""
            e0 AS ({_SQL_E0}),
            b AS (
              SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
              FROM e0 WHERE src <> dst
            ),
            rr AS (
              SELECT DISTINCT
                     LEAST(CAST(999 AS BIGINT), CAST(r_regionkey AS BIGINT)) AS lo,
                     GREATEST(CAST(999 AS BIGINT), CAST(r_regionkey AS BIGINT)) AS hi
              FROM region
            ),
            rn AS (
              SELECT DISTINCT
                     LEAST(CAST(999 AS BIGINT), CAST(100 + n_nationkey AS BIGINT)) AS lo,
                     GREATEST(CAST(999 AS BIGINT), CAST(100 + n_nationkey AS BIGINT)) AS hi
              FROM nation
            ),
            ev AS (
              SELECT lo, hi, 1 AS v, TRUE AS ins FROM b
              UNION ALL
              SELECT lo, hi, 2, TRUE FROM rn WHERE lo < 105
              UNION ALL
              SELECT lo, hi, 2, FALSE FROM (
                SELECT lo, hi FROM rr
                EXCEPT
                SELECT lo, hi FROM rn WHERE lo < 105
              )
              UNION ALL
              SELECT lo, hi, 3, TRUE FROM rr WHERE lo < 2
              UNION ALL
              SELECT lo, hi, 3, FALSE FROM (
                SELECT lo, hi FROM rn WHERE lo < 102
                EXCEPT
                SELECT lo, hi FROM rr WHERE lo < 2
              )
            )
"""

# Part co-purchase graph (sources/graphs.copurchase_edges replica):
# canonical src < dst pairs of parts sharing an order, baskets > 12
# distinct parts dropped before the pair join.
def _sql_copurchase(where: str = "") -> str:
    return f"""
  li AS (SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS p
         FROM lineitem {where}),
  ok_sized AS (SELECT ok FROM li GROUP BY ok HAVING COUNT(*) <= 12),
  li2 AS (SELECT li.ok, li.p FROM li JOIN ok_sized USING (ok)),
  ce AS (SELECT DISTINCT a.p AS src, b.p AS dst
         FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p)
"""


def _ktruss_oracle_sql(rounds: int = 5, min_support: int = 2) -> str:
    """Unrolled 4-truss support peeling over the 1995 co-purchase
    graph — one (oriented-triangles, filtered-edges) CTE pair per
    round, MATERIALIZED like the kcore/sssp oracles.  Peeling depth is
    2-3 at every gate scale (measured; see graphalgs.ktruss), so 5
    rounds reach the unique fixpoint with slack."""
    where = (
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-01-01'"
    )
    parts = ["WITH " + _sql_copurchase(where).strip()]
    prev = "ce"
    for i in range(rounds):
        parts.append(
            f"""
  t{i} AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
           FROM {prev} e1
           JOIN {prev} e2 ON e2.src = e1.src AND e2.dst > e1.dst
           JOIN {prev} e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
  e{i + 1} AS MATERIALIZED (
           SELECT src, dst FROM (
             SELECT a AS src, b AS dst FROM t{i}
             UNION ALL SELECT a, c FROM t{i}
             UNION ALL SELECT b, c FROM t{i})
           GROUP BY src, dst HAVING COUNT(*) >= {min_support})"""
        )
        prev = f"e{i + 1}"
    return (
        ",".join(parts)
        + f""",
  tf AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         FROM {prev} e1
         JOIN {prev} e2 ON e2.src = e1.src AND e2.dst > e1.dst
         JOIN {prev} e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS support FROM (
    SELECT a AS src, b AS dst FROM tf
    UNION ALL SELECT a, c FROM tf
    UNION ALL SELECT b, c FROM tf)
  GROUP BY src, dst HAVING COUNT(*) >= {min_support}"""
    )


def _msf_oracle_sql(outer: int = 8, doubling: int = 8) -> str:
    """Unrolled Borůvka maximum spanning forest over the WEIGHTED 1995
    co-purchase graph (graphalgs.max_spanning_forest replica).  The
    forest is UNIQUE under the (cnt DESC, src, dst) total order, so
    the oracle only needs to be A correct MST replay, and this one
    mirrors the engine's rounds: per round, each component's best
    incident edge (ROW_NUMBER over the same total order), 2-cycle
    collapse by LEAST, ``doubling`` pointer-doubling steps.  Measured
    4-5 outer rounds / <= 5 doublings at every testdata SF; the Spark
    side RAISES past the same bounds (and asserts the doubling
    fixpoint each round), so the two can never silently disagree.
    MATERIALIZED per the kcore rationale."""
    where = (
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-01-01'"
    )
    ctes = [
        "WITH " + _sql_copurchase(where).strip(),
        "w_ce AS MATERIALIZED (SELECT a.p AS src, b.p AS dst, COUNT(*) AS cnt "
        "FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p GROUP BY a.p, b.p)",
        """comp0 AS MATERIALIZED (
          SELECT v, v AS c FROM (
            SELECT DISTINCT src AS v FROM w_ce
            UNION SELECT dst FROM w_ce))""",
    ]
    for r in range(outer):
        ctes.append(
            f"""cand{r} AS MATERIALIZED (
              SELECT e.src, e.dst, e.cnt, cu.c AS cs, cv.c AS cd
              FROM w_ce e
              JOIN comp{r} cu ON cu.v = e.src
              JOIN comp{r} cv ON cv.v = e.dst
              WHERE cu.c != cv.c)"""
        )
        ctes.append(
            f"""sel{r} AS MATERIALIZED (
              SELECT c, src, dst, cnt, oc FROM (
                SELECT c, src, dst, cnt, oc,
                       ROW_NUMBER() OVER (
                         PARTITION BY c ORDER BY cnt DESC, src, dst) AS rn
                FROM (SELECT cs AS c, src, dst, cnt, cd AS oc FROM cand{r}
                      UNION ALL
                      SELECT cd, src, dst, cnt, cs FROM cand{r}))
              WHERE rn = 1)"""
        )
        ctes.append(
            f"""pr{r}_0 AS MATERIALIZED (
              SELECT a.c,
                     CASE WHEN b.c IS NOT NULL THEN LEAST(a.c, a.oc)
                          ELSE a.oc END AS p
              FROM sel{r} a
              LEFT JOIN sel{r} b ON b.c = a.oc AND b.oc = a.c
              UNION ALL
              SELECT c, c FROM (SELECT DISTINCT c FROM comp{r}) t
              WHERE c NOT IN (SELECT c FROM sel{r}))"""
        )
        for k in range(1, doubling + 1):
            ctes.append(
                f"pr{r}_{k} AS MATERIALIZED (SELECT a.c, b.p "
                f"FROM pr{r}_{k - 1} a JOIN pr{r}_{k - 1} b ON b.c = a.p)"
            )
        ctes.append(
            f"""comp{r + 1} AS MATERIALIZED (
              SELECT m.v, p.p AS c FROM comp{r} m
              JOIN pr{r}_{doubling} p ON p.c = m.c)"""
        )
    chosen = "\nUNION ALL ".join(
        f"SELECT DISTINCT src, dst, cnt FROM sel{r}" for r in range(outer)
    )
    return (
        ",\n".join(ctes)
        + f"""
        SELECT src, dst, CAST(cnt AS BIGINT) AS cnt FROM ({chosen})"""
    )


def _betweenness_oracle_sql(levels: int = 24, scale: int = 10**9) -> str:
    """Unrolled sampled-Brandes betweenness over the 1995 co-purchase
    graph (graphalgs.betweenness_sampled replica): recursive min-level
    BFS from the 4 smallest vertices, then one unrolled
    path-count (sigma) CTE per level forward and one integer-scaled
    dependency (delta) CTE per level backward — every delta term is
    ``sigma_v * (scale + delta_w) // sigma_w``, an integer, so the
    accumulation is order-independent and value-exact in both engines.
    Measured depth is 12/14/18 at sf0.001/0.01/0.1; the Spark loop
    RAISES past max_depth=24, so engine and oracle can never silently
    disagree about the unroll bound.  MATERIALIZED per the kcore/sssp
    rationale (each CTE is referenced by two later ones)."""
    where = (
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-01-01'"
    )
    ctes = [
        "WITH RECURSIVE " + _sql_copurchase(where).strip(),
        "sym AS MATERIALIZED (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce)",
        "srcs AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym ORDER BY src LIMIT 4)",
        f"""bfs(start, vertex, level) AS (
          SELECT v, v, CAST(0 AS INTEGER) FROM srcs
          UNION
          SELECT bfs.start, sym.dst, CAST(bfs.level + 1 AS INTEGER)
          FROM bfs JOIN sym ON sym.src = bfs.vertex
          WHERE bfs.level < {levels})""",
        """lv AS MATERIALIZED (
          SELECT start, vertex, MIN(level) AS level
          FROM bfs GROUP BY start, vertex)""",
        """sig0 AS MATERIALIZED (
          SELECT start, vertex, CAST(1 AS BIGINT) AS sigma
          FROM lv WHERE level = 0)""",
    ]
    for d in range(1, levels + 1):
        ctes.append(
            f"""sig{d} AS MATERIALIZED (
              SELECT l.start, l.vertex, CAST(SUM(p.sigma) AS BIGINT) AS sigma
              FROM lv l
              JOIN sym e ON e.dst = l.vertex
              JOIN sig{d - 1} p ON p.start = l.start AND p.vertex = e.src
              WHERE l.level = {d}
              GROUP BY l.start, l.vertex)"""
        )
    for d in range(levels - 1, -1, -1):
        if d == levels - 1:
            dnext = "CAST(0 AS BIGINT)"
            djoin = ""
        else:
            dnext = "COALESCE(dn.delta, 0)"
            djoin = (
                f"LEFT JOIN del{d + 1} dn "
                f"ON dn.start = c.start AND dn.vertex = e.dst"
            )
        ctes.append(
            f"""del{d} AS MATERIALIZED (
              SELECT c.start, c.vertex,
                     CAST(SUM(c.sigma * ({int(scale)} + {dnext}) // s2.sigma)
                          AS BIGINT) AS delta
              FROM sig{d} c
              JOIN sym e ON e.src = c.vertex
              JOIN sig{d + 1} s2 ON s2.start = c.start AND s2.vertex = e.dst
              {djoin}
              GROUP BY c.start, c.vertex)"""
        )
    all_del = "\nUNION ALL ".join(
        f"SELECT start, vertex, delta FROM del{d}" for d in range(levels)
    )
    return (
        ",\n".join(ctes)
        + f"""
        SELECT CAST(vertex AS BIGINT) AS vertex,
               CAST(SUM(delta) AS BIGINT) AS bc_scaled
        FROM ({all_del})
        WHERE vertex != start
        GROUP BY vertex HAVING SUM(delta) > 0"""
    )


def _mis_oracle_sql(rounds: int = 8) -> str:
    """Unrolled Luby MIS over the 1995 co-purchase graph
    (graphalgs.maximal_independent_set replica).  The priority is the
    same fixed hash both engines compute identically —
    ``md5('mis:' || v || ':' || round)`` — so every round's winner set
    is value-exact reproducible.  Measured round count is 3 (sf0.01)
    and 4 (sf0.1); once the active set empties every further unrolled
    round is an exact no-op (empty winners), so 8 is generous slack —
    and the Spark loop RAISES if it fails to converge, so the two can
    never silently disagree.  MATERIALIZED for the same CTE-inlining
    reason as the kcore/sssp oracles."""
    where = (
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-01-01'"
    )
    ctes = [
        "WITH " + _sql_copurchase(where).strip(),
        "sym AS MATERIALIZED (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce)",
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym)",
    ]
    for r in range(rounds):
        ctes.append(
            f"""p{r} AS (SELECT v, md5(concat_ws(':', 'mis', CAST(v AS VARCHAR),
                       CAST({r} AS VARCHAR))) AS p FROM a{r})"""
        )
        ctes.append(
            f"""w{r} AS MATERIALIZED (
              SELECT v FROM a{r}
              EXCEPT
              SELECT DISTINCT s.src AS v FROM sym s
                JOIN p{r} ps ON ps.v = s.src
                JOIN p{r} pd ON pd.v = s.dst
               WHERE pd.p < ps.p OR (pd.p = ps.p AND s.dst < s.src))"""
        )
        ctes.append(
            f"""a{r + 1} AS MATERIALIZED (
              SELECT v FROM a{r}
              EXCEPT
              SELECT v FROM (
                SELECT v FROM w{r}
                UNION ALL
                SELECT s.dst AS v FROM sym s JOIN w{r} w ON w.v = s.src))"""
        )
    winners = "\nUNION ALL ".join(
        f"SELECT CAST(v AS BIGINT) AS vertex, CAST({r} AS INTEGER) AS mis_round FROM w{r}"
        for r in range(rounds)
    )
    return ",\n".join(ctes) + "\n" + winners


def _lpa_oracle_sql(rounds: int = 4) -> str:
    """Unrolled synchronous label propagation
    (graphalgs.label_propagation replica): each round every vertex
    adopts the most frequent neighbor label, ties to the SMALLEST
    label.  The round count is part of the query contract (fixed, not
    run-to-convergence), so the unroll is exact, not slack."""
    where = (
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-01-01'"
    )
    ctes = [
        "WITH " + _sql_copurchase(where).strip(),
        "sym AS MATERIALIZED (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS label FROM sym)",
    ]
    for r in range(rounds):
        ctes.append(
            f"""l{r + 1} AS MATERIALIZED (
              SELECT v, MIN(label) AS label FROM (
                SELECT s.src AS v, l.label, COUNT(*) AS c,
                       MAX(COUNT(*)) OVER (PARTITION BY s.src) AS mc
                FROM sym s JOIN l{r} l ON l.v = s.dst
                GROUP BY s.src, l.label)
              WHERE c = mc GROUP BY v)"""
        )
    return (
        ",\n".join(ctes)
        + f"""
        SELECT CAST(v AS BIGINT) AS vertex, CAST(label AS BIGINT) AS label
        FROM l{rounds}"""
    )


def _pagerank_oracle_sql(
    iters: int = 5, damping_pct: int = 85, scale: int = 10**12, weighted: bool = False
) -> str:
    """Unrolled fixed-point PageRank: one (sums, ranks) CTE pair per
    iteration, integer floor division (`//`) throughout — reproduces
    ``graphalgs.pagerank_fixed`` bit-for-bit (integer sums are
    order-independent, so engine/partitioning cannot perturb it).
    ``weighted`` uses the co-occurrence count as the edge weight and
    weight-proportional splits."""
    tele_num = (100 - damping_pct) * scale // 100
    if weighted:
        edges_ctes = [
            "w_ce AS MATERIALIZED (SELECT a.p AS src, b.p AS dst, COUNT(*) AS w "
            "FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p GROUP BY a.p, b.p)",
            "sym AS MATERIALIZED (SELECT src, dst, w FROM w_ce "
            "UNION ALL SELECT dst, src, w FROM w_ce)",
        ]
        contrib = "(p.r * e.w) // dg.d"
        deg_cte = "deg AS (SELECT src AS v, SUM(w) AS d FROM sym GROUP BY src)"
    else:
        edges_ctes = [
            "sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce)",
        ]
        contrib = "p.r // dg.d"
        deg_cte = "deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src)"
    ctes = [
        f"WITH {_sql_copurchase()}",
        *edges_ctes,
        "verts AS (SELECT DISTINCT src AS v FROM sym)",
        deg_cte,
        "nn AS (SELECT COUNT(*) AS n FROM verts)",
        f"r0 AS (SELECT v, {scale} // (SELECT n FROM nn) AS r FROM verts)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"s{k} AS (SELECT e.dst AS v, SUM({contrib}) AS s FROM sym e "
            f"JOIN r{k - 1} p ON p.v = e.src JOIN deg dg ON dg.v = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k} AS (SELECT verts.v, {tele_num} // (SELECT n FROM nn) "
            f"+ ({damping_pct} * COALESCE(s{k}.s, 0)) // 100 AS r "
            f"FROM verts LEFT JOIN s{k} ON s{k}.v = verts.v)"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT v AS vertex, CAST(r AS BIGINT) AS rank_scaled, "
        f"r / {float(scale)} AS rank_val FROM r{iters}"
    )


_KCORE_SHIP_WHERE = (
    "WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'"
)


def _ppr_oracle_sql(
    iters: int = 5, damping_pct: int = 85, scale: int = 10**12, k: int = 8
) -> str:
    """Unrolled personalized PageRank over the 1995-window co-purchase
    graph, sources = the ``k`` smallest vertex ids: the
    ``graphalgs.personalized_pagerank_fixed`` update rule replayed
    bit-for-bit (teleport and initial mass confined to the source
    set, integer floor division throughout)."""
    tele_num = (100 - damping_pct) * scale // 100
    ctes = [
        f"WITH {_sql_copurchase(_KCORE_SHIP_WHERE)}",
        "sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce)",
        "verts AS (SELECT DISTINCT src AS v FROM sym)",
        "deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src)",
        f"srcs AS (SELECT v FROM verts ORDER BY v LIMIT {k})",
        # Divisor derived from the source CTE, not the Python literal:
        # on a graph with fewer than k vertices LIMIT returns them
        # all, and personalized_pagerank_fixed divides by the COUNTED
        # set — the oracle must too (round-5 ADVICE).
        "sc AS (SELECT COUNT(*) AS n FROM srcs)",
        f"r0 AS (SELECT verts.v, CASE WHEN srcs.v IS NOT NULL "
        f"THEN {scale} // sc.n ELSE 0 END AS r "
        f"FROM verts LEFT JOIN srcs ON srcs.v = verts.v CROSS JOIN sc)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"s{i} AS (SELECT e.dst AS v, SUM(p.r // dg.d) AS s FROM sym e "
            f"JOIN r{i - 1} p ON p.v = e.src JOIN deg dg ON dg.v = e.src "
            f"GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT verts.v, "
            f"CASE WHEN srcs.v IS NOT NULL THEN {tele_num} // sc.n ELSE 0 END "
            f"+ ({damping_pct} * COALESCE(s{i}.s, 0)) // 100 AS r "
            f"FROM verts LEFT JOIN srcs ON srcs.v = verts.v "
            f"LEFT JOIN s{i} ON s{i}.v = verts.v CROSS JOIN sc)"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT v AS vertex, CAST(r AS BIGINT) AS rank_scaled, "
        f"r / {float(scale)} AS rank FROM r{iters}"
    )


def _sssp_oracle_sql(rounds: int = 24) -> str:
    """Unrolled Bellman-Ford relaxation (graphalgs.sssp replica) over
    the weighted 1995 co-purchase graph, source = MIN part id.
    Convergence measured <= 18 rounds at every testdata SF; extra
    rounds are exact no-ops (unique fixpoint), and the Spark side
    raises if IT fails to converge, so the two cannot silently
    disagree.  MATERIALIZED stops DuckDB's CTE inlining from expanding
    the round chain exponentially (each round reads the previous one
    twice)."""
    ctes = [
        f"WITH {_sql_copurchase(_KCORE_SHIP_WHERE)}",
        # Weighted variant: multiplicity -> integer traversal cost.
        "w_ce AS MATERIALIZED (SELECT a.p AS src, b.p AS dst, COUNT(*) AS cnt "
        "FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p GROUP BY a.p, b.p)",
        "wsym AS MATERIALIZED (SELECT src, dst, 1 + 100 // cnt AS w FROM w_ce "
        "UNION ALL SELECT dst, src, 1 + 100 // cnt FROM w_ce)",
        "d0 AS MATERIALIZED (SELECT (SELECT MIN(src) FROM wsym) AS v, CAST(0 AS BIGINT) AS d)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT v, MIN(d) AS d FROM ("
            f"SELECT v, d FROM d{i - 1} UNION ALL "
            f"SELECT e.dst, p.d + e.w FROM d{i - 1} p JOIN wsym e ON e.src = p.v"
            f") GROUP BY v)"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT v AS vertex, CAST(d AS BIGINT) AS dist FROM d{rounds}"
    )


def _kcore_oracle_sql(k: int = 2, rounds: int = 16) -> str:
    """Unrolled k-core peeling (graphalgs.kcore replica).  ``rounds``
    must be >= the graph's peeling depth (measured <= 7 at every
    testdata SF for k=2); once the fixpoint is reached every further
    unrolled round is an exact no-op, so over-unrolling is safe — and
    the Spark side RAISES if its own loop fails to converge, so the
    two can never silently disagree about convergence."""
    # Each round references the previous round TWICE; DuckDB inlines
    # plain CTEs, which would expand the chain exponentially (2^rounds
    # scans) — MATERIALIZED forces each round to be computed once.
    ctes = [
        f"WITH {_sql_copurchase(_KCORE_SHIP_WHERE)}",
        "sym AS MATERIALIZED (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce)",
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT s.src AS v FROM sym s "
            f"JOIN a{i - 1} x ON x.v = s.src JOIN a{i - 1} y ON y.v = s.dst "
            f"GROUP BY s.src HAVING COUNT(*) >= {k})"
        )
    return (
        ",\n".join(ctes)
        + f"""
        SELECT s.src AS vertex, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM sym s
        JOIN a{rounds} x ON x.v = s.src
        JOIN a{rounds} y ON y.v = s.dst
        GROUP BY s.src"""
    )

_SQL_BFS = f"""
  WITH RECURSIVE e0 AS ({_SQL_E0}),
  bfs(vertex, level) AS (
    SELECT CAST(999 AS BIGINT), CAST(0 AS INTEGER)
    UNION ALL
    SELECT e0.dst, CAST(bfs.level + 1 AS INTEGER) FROM bfs JOIN e0 ON e0.src = bfs.vertex
  )
  SELECT vertex, level FROM bfs
"""

def _stream_requests_oracle_sql(rounds: int = 8) -> str:
    """Oracle for the STREAMED request lifecycle (q_stream_requests):
    the accumulated replies must equal a batch dispatch of the same
    request set, so the oracle is the batch semantics — an unrolled
    multi-source min-distance BFS (one d-chain for all op-4 requests
    at once; the tree's eccentricity from any nation vertex is 5, so
    8 rounds over-converge and extra rounds are exact no-ops on the
    min fixpoint) plus the degree-1 leaf rule for op-3 requests
    (dfs_leaves_multi semantics: leaves exclude the start).
    MATERIALIZED for the same CTE-inlining reason as the sssp/kcore
    oracles."""
    ctes = [
        f"WITH sym AS MATERIALIZED ({_SQL_SYM})",
        "reqs AS (SELECT CAST(n_nationkey + 1 AS INTEGER) AS seq_no, "
        "CASE WHEN n_nationkey % 2 = 0 THEN 4 ELSE 3 END AS op_no, "
        "CAST(100 + n_nationkey AS BIGINT) AS start FROM nation)",
        "d0 AS MATERIALIZED (SELECT seq_no, start AS v, CAST(0 AS INTEGER) AS d "
        "FROM reqs WHERE op_no = 4)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT seq_no, v, MIN(d) AS d FROM ("
            f"SELECT seq_no, v, d FROM d{i - 1} UNION ALL "
            f"SELECT p.seq_no, e.dst, p.d + 1 FROM d{i - 1} p JOIN sym e ON e.src = p.v"
            f") GROUP BY seq_no, v)"
        )
    ctes.append(
        "deg AS (SELECT src AS v, COUNT(DISTINCT dst) AS dg FROM sym GROUP BY src)"
    )
    return (
        ",\n".join(ctes)
        + f"""
        SELECT seq_no, string_agg(CAST(v AS VARCHAR), ' ' ORDER BY d, v) AS reply
        FROM d{rounds} GROUP BY seq_no
        UNION ALL
        SELECT r.seq_no, string_agg(CAST(deg.v AS VARCHAR), ' ' ORDER BY deg.v)
        FROM reqs r JOIN deg ON deg.dg = 1 AND deg.v <> r.start
        WHERE r.op_no = 3 GROUP BY r.seq_no"""
    )


# Decoded-PNG stats oracle, shared verbatim by q_png_decode
# (sequential fixtures) and q_png_adam7 (interlaced fixtures): both
# plant pixel(i, j) = (31i + 17j + id) % 256 at W = 8 + id%9,
# H = 8 + id%7, and the decode contract is that the byte layout
# (filters, interlacing) is erased.
_SQL_PNG_STATS = """
    WITH grid AS (
      SELECT r.r, c.c FROM range(0, 16) r(r) CROSS JOIN range(0, 16) c(c)
    ),
    dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             CAST(8 + doc_id % 9 AS BIGINT) AS w,
             CAST(8 + doc_id % 7 AS BIGINT) AS h
      FROM documents
    ),
    pix AS (
      SELECT media_id,
             CAST(SUM((31 * g.r + 17 * g.c + media_id) % 256) AS BIGINT)
                 AS pix_sum
      FROM dims JOIN grid g ON g.r < h AND g.c < w
      GROUP BY media_id
    ),
    rs AS (
      SELECT media_id,
             CAST(SUM((31 * ((g.r * h) // 8) + 17 * ((g.c * w) // 8)
                       + media_id) % 256) AS BIGINT) AS resized_sum
      FROM dims JOIN grid g ON g.r < 8 AND g.c < 8
      GROUP BY media_id
    )
    SELECT d.media_id, d.w AS width, d.h AS height,
           p.pix_sum, r.resized_sum
    FROM dims d JOIN pix p USING (media_id) JOIN rs r USING (media_id)
"""


_SQL_REQUESTS = """
  SELECT CAST(o_orderkey AS INTEGER) AS seq_no,
         CAST(o_orderkey % 4 + 1 AS INTEGER) AS op_no,
         'G' || CAST(o_orderkey % 5 + 1 AS VARCHAR) || '.txt' AS graph_name,
         CASE WHEN (o_orderkey % 4 + 1) IN (3, 4)
              THEN CAST(o_orderkey % 20 + 1 AS INTEGER) END AS start_vertex
  FROM orders
"""

# Normalized text (lowercase, non-alnum runs -> single space, trim) —
# must stay in lockstep with functions/textfns.normalize_text.
_SQL_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


def _sql_split_case() -> str:
    """The train/val/test CASE over cumulative hex thresholds — built
    from sampling.split_thresholds() so the oracle states the literal
    same constants as the Spark predicate."""
    whens = " ".join(
        f"WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) < '{thr}' "
        f"THEN '{name}'"
        for name, thr in split_thresholds()
    )
    return f"CASE {whens} ELSE 'test' END"

# Whitespace token count with the empty-text guard — lockstep with
# functions/textfns.token_count.
_SQL_NTOK = (
    "CAST(CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"
)

# ---------------------------------------------------------------------------
# Oracle fragments for the (formerly rows-only) approximate operators.
#
# The approximations are deterministic once seeded, and the md5-backed
# hash variants are byte-reproducible in ANSI SQL, so the "approximate"
# queries get FULL value oracles: DuckDB re-runs the same LSH banding /
# signature / probing pipeline and must produce identical rows.  The
# recall queries then join each approximation against its in-repo exact
# ground truth and report a deterministic, SQL-checked recall number —
# the measured-recall contract VERDICT r1 asked for.
# ---------------------------------------------------------------------------

# Number of docs the O(n^2) ground-truth comparisons run over: the
# recall harness is a verification tool, so it is pinned to a bounded
# id-prefix (the full table at sf<=0.01) and stays flat as SF grows.
_RECALL_DOCS = 500

def reset_session_caches() -> None:
    """Drop the persisted edge tables (``sources.graphs``) and release
    the operator-internal persists (``operators.persists``), so the
    next query computes entirely from the parquet inputs.  bench.py
    calls this before EACH timed run.  Both releases BLOCK: async
    block removal would land inside the next query's timed region."""
    evict_edge_cache(blocking=True)
    release_operator_persists()


def _sql_planes_values() -> str:
    """The hyperplane constants of similarity.make_hyperplanes (seeded
    LCG, so identical on both engines) as a VALUES list (t, p, h)."""
    rows = []
    for t in range(4):
        for p, h in enumerate(make_hyperplanes(8, 64, seed=42 + 1000 * t)):
            arr = "[" + ", ".join(repr(float(x)) for x in h) + "]"
            rows.append(f"({t}, {p}, {arr}::DOUBLE[])")
    return ", ".join(rows)

def _sql_emb_sig_ctes() -> str:
    """CTEs computing the per-table sign-LSH signature for every row of
    a preceding ``vecs(id, dv)`` CTE — mirrors
    similarity.hyperplane_signatures_arrow (bit p weight 2^(7-p))."""
    return f"""
  planes(t, p, h) AS (VALUES {_sql_planes_values()}),
  esig AS (
    SELECT v.id, pl.t,
           CAST(SUM(CASE WHEN list_dot_product(v.dv, pl.h) >= 0
                    THEN 1::BIGINT << (7 - pl.p) ELSE 0 END) AS BIGINT) AS sig
    FROM vecs v CROSS JOIN planes pl
    GROUP BY v.id, pl.t
  )"""

def _sql_knn_graph_ctes() -> str:
    """CTEs replicating similarity.lsh_knn_graph over a preceding
    ``vecs(id, dv)`` CTE: shared sign-LSH buckets -> canonical
    candidate pairs (bucket cap 1000) -> exact cosine -> both
    orientations ranked.  Ends with ``knng(id, nbr, sim, rank)``
    (unfiltered rank — consumers apply their own k cut)."""
    return f"""
  {_sql_emb_sig_ctes().strip()},
  sized AS (
    SELECT id, t, sig, COUNT(*) OVER (PARTITION BY t, sig) AS bsz FROM esig
  ),
  cand AS (
    SELECT DISTINCT x.id AS id_a, y.id AS id_b
    FROM sized x JOIN sized y ON x.t = y.t AND x.sig = y.sig AND x.id < y.id
    WHERE x.bsz <= 1000 AND y.bsz <= 1000
  ),
  scored AS (
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(a.dv, b.dv), 4) AS sim
    FROM cand c JOIN vecs a ON a.id = c.id_a JOIN vecs b ON b.id = c.id_b
  ),
  directed AS (
    SELECT id_a AS id, id_b AS nbr, sim FROM scored
    UNION ALL SELECT id_b, id_a, sim FROM scored
  ),
  knng AS (
    SELECT id, nbr, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY id
                ORDER BY sim DESC, nbr) AS INTEGER) AS rank
    FROM directed
  )"""


# minhash_dedup's signature-screen cut, computed once in Python so both
# engines compare against the bit-identical literal.
_MINHASH_SCREEN_CUT = 0.8 - 2.0 * (0.8 * (1.0 - 0.8) / 32) ** 0.5

def _sql_minhash_ctes(doc_src: str) -> str:
    """CTEs replicating dedup.minhash_dedup(hash_fn='md5') over
    ``doc_src``: 5-char shingles of normalized text, 32 md5 min-hashes,
    8 bands of 4 rows, bucket-size cap, signature screen, exact-Jaccard
    verification.  Ends with ``mh_pairs(id_a, id_b, jaccard)``."""
    return f"""
  n AS (SELECT doc_id AS id, {_SQL_NORM} AS t FROM {doc_src}),
  shingle AS (
    SELECT DISTINCT id, substr(t, CAST(p AS INTEGER), 5) AS s
    FROM (SELECT id, t, unnest(range(1, greatest(len(t) - 4, 1) + 1)) AS p FROM n)
  ),
  cnts AS (SELECT id, COUNT(*) AS nsz FROM shingle GROUP BY id),
  sig0 AS (
    SELECT id, v.i,
           min(substr(md5(CAST(v.i // 8 AS VARCHAR) || ':' || s),
                      CAST((v.i % 8) * 4 + 1 AS INTEGER), 4)) AS h
    FROM shingle CROSS JOIN range(0, 32) AS v(i)
    GROUP BY id, v.i
  ),
  sigarr AS (SELECT id, list(h ORDER BY i) AS sig FROM sig0 GROUP BY id),
  buckets AS (
    SELECT id, sig, w.j AS band,
           md5(array_to_string(sig[(w.j*4+1):(w.j*4+4)], '|')) AS bucket
    FROM sigarr CROSS JOIN range(0, 8) AS w(j)
  ),
  sized AS (SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bsz FROM buckets),
  screened AS (
    SELECT DISTINCT x.id AS id_a, y.id AS id_b
    FROM sized x JOIN sized y
      ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
    WHERE x.bsz <= 1000 AND y.bsz <= 1000
      AND len(list_filter(range(1, 33), i -> x.sig[i] = y.sig[i])) / 32.0 >= {_MINHASH_SCREEN_CUT!r}
  ),
  mh_inter AS (
    SELECT s2.id_a, s2.id_b, COUNT(*) AS ni
    FROM screened s2
    JOIN shingle pa ON pa.id = s2.id_a
    JOIN shingle pb ON pb.id = s2.id_b AND pb.s = pa.s
    GROUP BY s2.id_a, s2.id_b
  ),
  mh_pairs AS (
    SELECT i.id_a, i.id_b,
           round(CAST(ni AS DOUBLE) / (ca.nsz + cb.nsz - ni), 6) AS jaccard
    FROM mh_inter i JOIN cnts ca ON ca.id = i.id_a JOIN cnts cb ON cb.id = i.id_b
    WHERE round(CAST(ni AS DOUBLE) / (ca.nsz + cb.nsz - ni), 6) >= 0.8
  )"""

def _sql_simhash_ctes(doc_src: str) -> str:
    """CTEs replicating dedup._simhash_df(hash_fn='md5') over
    ``doc_src`` by brute force: 60-bit token hash reconstructed
    nibble-by-nibble from the md5 hex (bit i = bit (i%4) of hex digit
    15 - i//4, matching conv(substr(md5,1,15),16,10)), per-bit +-1 sign
    sums, then ALL-pairs Hamming <= 3.  Ends with
    ``sh_pairs(id_a, id_b, hamming)`` — equal to the banded
    simhash_dedup output by the pigeonhole guarantee (4 bands > 3
    differing bits)."""
    return f"""
  sn AS (SELECT doc_id AS id, {_SQL_NORM} AS t FROM {doc_src}),
  tok AS (SELECT id, unnest(regexp_split_to_array(t, '\\s+')) AS tk FROM sn WHERE t <> ''),
  th AS (SELECT id, md5(tk) AS h FROM tok),
  bits AS (
    SELECT id, u.i,
           SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(15 - u.i // 4 AS INTEGER), 1)) - 1)
                          >> CAST(u.i % 4 AS INTEGER)) & 1 = 1
                    THEN 1 ELSE -1 END) AS s
    FROM th CROSS JOIN range(0, 60) AS u(i)
    GROUP BY id, u.i
  ),
  shv AS (
    SELECT id,
           CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << CAST(i AS INTEGER) ELSE 0::BIGINT END) AS BIGINT) AS v
    FROM bits GROUP BY id
  ),
  sh_pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, CAST(bit_count(xor(a.v, b.v)) AS INTEGER) AS hamming
    FROM shv a JOIN shv b ON a.id < b.id
    WHERE bit_count(xor(a.v, b.v)) <= 3
  )"""

_SQL_SIM_TOPK = """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS sim
      FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
      SELECT vec_id, sim,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM sims
    )
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= 10
"""

def _sql_lsh_topk() -> str:
    """Full replication of similarity.lsh_topk(k=10, 8 planes, 4
    tables, seed 42): per-table signatures, query-signature match in
    any table, exact cosine top-10 over the candidates."""
    return f"""
    WITH vecs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    {_sql_emb_sig_ctes()},
    q AS (SELECT dv AS qv FROM vecs WHERE id = 0),
    qsig AS (
      SELECT pl.t,
             CAST(SUM(CASE WHEN list_dot_product(q.qv, pl.h) >= 0
                      THEN 1::BIGINT << (7 - pl.p) ELSE 0 END) AS BIGINT) AS sig
      FROM planes pl CROSS JOIN q GROUP BY pl.t
    ),
    cand AS (SELECT DISTINCT e.id FROM esig e JOIN qsig s ON e.t = s.t AND e.sig = s.sig),
    sims AS (
      SELECT v.id AS vec_id, round(list_cosine_similarity(v.dv, q.qv), 4) AS sim
      FROM vecs v JOIN cand c ON v.id = c.id CROSS JOIN q
    ),
    ranked AS (
      SELECT vec_id, sim,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM sims
    )
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= 10
"""

def _sql_kmeans_ctes(*, k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """WITH-body replicating clustering.kmeans_fixed exactly: quantize
    to int64 (floor((x+1)*1e6) — IEEE ops, identical in numpy), assign
    by integer squared distance (ties -> lowest cid), update by
    per-dim floor division (positive quanta, so // == Spark's div),
    empty clusters keep their centroid.  Produces ``final(vec_id,
    cluster, dist)``.  The fixture's vec_ids are dense from 0, so
    'k smallest ids' is ``vec_id < k``."""
    parts = [
        f"dims AS (SELECT range AS i FROM range(0, {dim}))",
        """v AS MATERIALIZED (
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor((x + 1.0) * 1000000) AS BIGINT)) AS xq
      FROM embeddings
    )""",
        f"c0 AS MATERIALIZED (SELECT vec_id AS cid, xq AS c FROM v WHERE vec_id < {k})",
    ]
    for r in range(1, iters + 1):
        parts.append(f"""a{r} AS MATERIALIZED (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM (
        SELECT v.vec_id, c.cid,
               SUM((v.xq[d.i + 1] - c.c[d.i + 1])
                   * (v.xq[d.i + 1] - c.c[d.i + 1])) AS dist
        FROM v CROSS JOIN c{r - 1} c CROSS JOIN dims d
        GROUP BY v.vec_id, c.cid
      )
    )""")
        parts.append(f"""cs{r} AS MATERIALIZED (
      SELECT a.cid, d.i, CAST(SUM(v.xq[d.i + 1]) // COUNT(*) AS BIGINT) AS s
      FROM (SELECT vec_id, cid FROM a{r} WHERE rn = 1) a
      JOIN v USING (vec_id) CROSS JOIN dims d
      GROUP BY a.cid, d.i
    )""")
        parts.append(f"""c{r} AS MATERIALIZED (
      SELECT cid, list(s ORDER BY i) AS c FROM cs{r} GROUP BY cid
      UNION ALL
      SELECT cid, c FROM c{r - 1}
      WHERE cid NOT IN (SELECT DISTINCT cid FROM cs{r})
    )""")
    parts.append(f"""final AS (
      SELECT vec_id, CAST(cid AS INTEGER) AS cluster, CAST(dist AS BIGINT) AS dist
      FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (
          SELECT v.vec_id, c.cid,
                 SUM((v.xq[d.i + 1] - c.c[d.i + 1])
                     * (v.xq[d.i + 1] - c.c[d.i + 1])) AS dist
          FROM v CROSS JOIN c{iters} c CROSS JOIN dims d
          GROUP BY v.vec_id, c.cid
        )
      )
      WHERE rn = 1
    )""")
    return ",\n    ".join(parts)


def _sql_ivf_topk(n_probe: int = 4) -> str:
    """Full replication of similarity.ivf_topk(k=10, 16 cells,
    ``n_probe`` probes): md5-ordered centroid selection, nearest-cell
    assignment by |c|^2 - 2 v.c (ties -> lowest cell), probe the
    ``n_probe`` cells nearest the query, exact cosine top-10 within
    them."""
    return f"""
    WITH vecs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS cell, dv AS c
      FROM vecs ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16
    ),
    q AS (SELECT dv AS qv FROM vecs WHERE id = 0),
    probe AS (
      SELECT cell FROM cents CROSS JOIN q
      ORDER BY list_dot_product(c, c) - 2*list_dot_product(c, qv) + list_dot_product(qv, qv), cell
      LIMIT {int(n_probe)}
    ),
    assign AS (
      SELECT v.id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY v.id
               ORDER BY list_dot_product(c.c, c.c) - 2*list_dot_product(v.dv, c.c), c.cell) AS rn
      FROM vecs v CROSS JOIN cents c
    ),
    cand AS (SELECT id FROM assign WHERE rn = 1 AND cell IN (SELECT cell FROM probe)),
    sims AS (
      SELECT v.id AS vec_id, round(list_cosine_similarity(v.dv, q.qv), 4) AS sim
      FROM vecs v JOIN cand c ON v.id = c.id CROSS JOIN q
    ),
    ranked AS (
      SELECT vec_id, sim,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM sims
    )
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= 10
"""

def _sql_add_chain(prefix: str, m: int) -> str:
    """Left-associated SQL add chain '(((x1 + x2) + x3) + ...)' —
    the exact parenthesization of a Spark Column '+' loop, so the
    float-add order is pinned identically on both engines."""
    expr = f"{prefix}1"
    for j in range(2, m + 1):
        expr = f"({expr} + {prefix}{j})"
    return expr


def _sql_pq_intdist(a: str, b: str, sub: int) -> str:
    """Exact int64 squared distance between two BIGINT lists of length
    ``sub`` — the similarity._pq_train_lloyd / _pq_codes_arrow_q
    assignment metric, order-independent (integer adds)."""
    return (
        f"list_sum(list_transform(range(1, {sub} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _sql_pq_lloyd_rounds(*, iters: int, sub: int, subq: str, tb: str) -> list[str]:
    """Unrolled per-subspace integer Lloyd's rounds (the
    _sql_kmeans_ctes idiom, partitioned by subspace j): given
    ``{subq}(id, j, vq)`` (quantized subvectors) and ``{tb}0(j, code,
    cq)`` (seeded integer codebooks), emit assignment + update CTEs
    through ``{tb}{iters}``.  Assignment ties -> lowest code; update
    is per-dim ``SUM // COUNT`` floor division (positive quanta);
    empty codes keep their codeword — exactly
    similarity._pq_train_lloyd."""
    dist = _sql_pq_intdist("s.vq", "b.cq", sub)
    sums = ", ".join(
        f"CAST(SUM(s.vq[{i}]) // COUNT(*) AS BIGINT) AS s{i}"
        for i in range(1, sub + 1)
    )
    dims = ", ".join(f"s{i}" for i in range(1, sub + 1))
    parts = []
    for r in range(1, iters + 1):
        parts.append(f"""ta{r} AS MATERIALIZED (
      SELECT id, j, code FROM (
        SELECT s.id, s.j, b.code,
               ROW_NUMBER() OVER (PARTITION BY s.id, s.j
                 ORDER BY {dist}, b.code) AS rn
        FROM {subq} s JOIN {tb}{r - 1} b USING (j)
      ) WHERE rn = 1
    )""")
        parts.append(f"""{tb}{r} AS MATERIALIZED (
      SELECT j, code, [{dims}] AS cq FROM (
        SELECT a.j, a.code, {sums}
        FROM ta{r} a JOIN {subq} s ON s.id = a.id AND s.j = a.j
        GROUP BY a.j, a.code
      )
      UNION ALL
      SELECT b.j, b.code, b.cq FROM {tb}{r - 1} b
      WHERE NOT EXISTS (SELECT 1 FROM ta{r} a
                        WHERE a.j = b.j AND a.code = b.code)
    )""")
    return parts


def _sql_cell_lloyd_rounds(*, iters: int, dim: int) -> list[str]:
    """Unrolled FULL-VECTOR integer Lloyd's rounds for the trained IVF
    coarse quantizer (similarity.ivf_centroids_trained ==
    clustering._lloyd_rounds): given ``fullq(id, vq)`` (full-dim
    ``floor((x + 1) * 1e6)`` quanta) and ``cc0(cell, cq)`` (quantized
    md5-ordered seeds), emit assignment + update CTEs through
    ``cc{iters}``.  Assignment ties -> lowest cell; update is per-dim
    ``SUM // COUNT`` floor division (positive quanta); empty cells
    keep their centroid."""
    dist = _sql_pq_intdist("s.vq", "b.cq", dim)
    sums = ", ".join(
        f"CAST(SUM(s.vq[{i}]) // COUNT(*) AS BIGINT) AS s{i}"
        for i in range(1, dim + 1)
    )
    dims = ", ".join(f"s{i}" for i in range(1, dim + 1))
    parts = []
    for r in range(1, iters + 1):
        parts.append(f"""ca{r} AS MATERIALIZED (
      SELECT id, cell FROM (
        SELECT s.id, b.cell,
               ROW_NUMBER() OVER (PARTITION BY s.id
                 ORDER BY {dist}, b.cell) AS rn
        FROM fullq s CROSS JOIN cc{r - 1} b
      ) WHERE rn = 1
    )""")
        parts.append(f"""cc{r} AS MATERIALIZED (
      SELECT cell, [{dims}] AS cq FROM (
        SELECT a.cell, {sums}
        FROM ca{r} a JOIN fullq s USING (id)
        GROUP BY a.cell
      )
      UNION ALL
      SELECT b.cell, b.cq FROM cc{r - 1} b
      WHERE NOT EXISTS (SELECT 1 FROM ca{r} a WHERE a.cell = b.cell)
    )""")
    return parts


def _sql_pq_topk_trained(
    m: int = 16, n_codes: int = 128, sub: int = 4, k: int = 10, iters: int = 3
) -> str:
    """Full replication of similarity.pq_topk(train_iters=``iters``):
    md5-ordered seeded codebooks, ``iters`` unrolled rounds of
    per-subspace integer Lloyd's (fixed-point quantization
    floor((x+1)*1e6), ties -> lowest code, SUM // COUNT updates,
    empty codes keep), integer-exact encode against the trained
    books, then ADC off the DEQUANTIZED float books (cq/1e6 - 1 —
    exact IEEE, identical in numpy) with the SAME left-associated
    float-add order as the Spark expression chain."""
    d_chain = _sql_add_chain("p.d", m)
    n_chain = _sql_add_chain("p.n", m)
    d_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN d END) AS d{j}" for j in range(1, m + 1)
    )
    n_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN nsq END) AS n{j}" for j in range(1, m + 1)
    )
    rounds = ",\n    ".join(
        _sql_pq_lloyd_rounds(iters=iters, sub=sub, subq="subq", tb="tb")
    )
    enc_dist = _sql_pq_intdist("s.vq", "b.cq", sub)
    qslice = (
        f"list_transform(range(1, {sub} + 1), "
        f"i -> CAST(floor((v.dv[(j.j - 1) * {sub} + i] + 1.0) * 1000000) AS BIGINT))"
    )
    return f"""
    WITH vecs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    samp AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS code, dv
      FROM vecs ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_codes}
    ),
    js AS (SELECT unnest(range(1, {m} + 1)) AS j),
    subq AS MATERIALIZED (
      SELECT v.id, j.j, {qslice} AS vq
      FROM vecs v CROSS JOIN js j
    ),
    tb0 AS MATERIALIZED (
      SELECT j.j, s.code,
             list_transform(range(1, {sub} + 1),
               i -> CAST(floor((s.dv[(j.j - 1) * {sub} + i] + 1.0) * 1000000) AS BIGINT)) AS cq
      FROM samp s CROSS JOIN js j
    ),
    {rounds},
    books AS MATERIALIZED (
      SELECT j, code, list_transform(cq, x -> x / 1000000.0 - 1.0) AS c FROM tb{iters}
    ),
    q AS (SELECT dv AS qv FROM vecs WHERE id = 0),
    qn AS (SELECT sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
    lut AS (
      SELECT b.j, b.code,
             list_dot_product(list_slice(q.qv, (b.j - 1) * {sub} + 1, b.j * {sub}), b.c) AS d,
             list_dot_product(b.c, b.c) AS nsq
      FROM books b CROSS JOIN q
    ),
    assign AS (
      SELECT id, j, code FROM (
        SELECT s.id, s.j, b.code,
               ROW_NUMBER() OVER (PARTITION BY s.id, s.j
                 ORDER BY {enc_dist}, b.code) AS rn
        FROM subq s JOIN tb{iters} b USING (j)
      ) WHERE rn = 1
    ),
    terms AS (
      SELECT a.id, a.j, l.d, l.nsq FROM assign a JOIN lut l USING (j, code)
    ),
    piv AS (SELECT id, {d_cases}, {n_cases} FROM terms GROUP BY id),
    sims AS (
      SELECT p.id AS vec_id,
             CASE WHEN qn.qnorm = 0 OR {n_chain} = 0 THEN 0.0
                  ELSE round({d_chain} / (sqrt({n_chain}) * qn.qnorm), 4)
             END AS sim
      FROM piv p CROSS JOIN qn
    ),
    ranked AS (
      SELECT vec_id, sim,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM sims
    )
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= {k}
"""


def _sql_pq_topk(m: int = 4, n_codes: int = 16, sub: int = 16, k: int = 10) -> str:
    """Full replication of similarity.pq_topk(k=10, m=4 subspaces,
    16 codewords): md5-ordered codeword sample (the ivf_centroids
    selection), per-subspace slices as codebooks, encode = argmin
    ||v_j - c||^2 (ties -> lowest code), ADC score from the dot/norm
    LUTs with the SAME left-associated float-add order as the Spark
    expression chain."""
    d_chain = _sql_add_chain("p.d", m)
    n_chain = _sql_add_chain("p.n", m)
    d_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN d END) AS d{j}" for j in range(1, m + 1)
    )
    n_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN nsq END) AS n{j}" for j in range(1, m + 1)
    )
    return f"""
    WITH vecs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    samp AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS code, dv
      FROM vecs ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_codes}
    ),
    js AS (SELECT unnest(range(1, {m} + 1)) AS j),
    books AS (
      SELECT j.j, s.code, list_slice(s.dv, (j.j - 1) * {sub} + 1, j.j * {sub}) AS c
      FROM samp s CROSS JOIN js j
    ),
    q AS (SELECT dv AS qv FROM vecs WHERE id = 0),
    qn AS (SELECT sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
    lut AS (
      SELECT b.j, b.code,
             list_dot_product(list_slice(q.qv, (b.j - 1) * {sub} + 1, b.j * {sub}), b.c) AS d,
             list_dot_product(b.c, b.c) AS nsq
      FROM books b CROSS JOIN q
    ),
    subv AS (
      SELECT v.id, j.j, list_slice(v.dv, (j.j - 1) * {sub} + 1, j.j * {sub}) AS vj
      FROM vecs v CROSS JOIN js j
    ),
    assign AS (
      SELECT id, j, code FROM (
        SELECT s.id, s.j, b.code,
               ROW_NUMBER() OVER (PARTITION BY s.id, s.j
                 ORDER BY list_dot_product(b.c, b.c) - 2 * list_dot_product(s.vj, b.c),
                          b.code) AS rn
        FROM subv s JOIN books b USING (j)
      ) WHERE rn = 1
    ),
    terms AS (
      SELECT a.id, a.j, l.d, l.nsq FROM assign a JOIN lut l USING (j, code)
    ),
    piv AS (SELECT id, {d_cases}, {n_cases} FROM terms GROUP BY id),
    sims AS (
      SELECT p.id AS vec_id,
             CASE WHEN qn.qnorm = 0 OR {n_chain} = 0 THEN 0.0
                  ELSE round({d_chain} / (sqrt({n_chain}) * qn.qnorm), 4)
             END AS sim
      FROM piv p CROSS JOIN qn
    ),
    ranked AS (
      SELECT vec_id, sim,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM sims
    )
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= {k}
"""


def _sql_ivfpq_topk(
    m: int = 4, n_codes: int = 16, sub: int = 16, n_cells: int = 16,
    n_probe: int = 4, k: int = 10,
) -> str:
    """Full replication of similarity.ivf_pq_topk (residual IVF-PQ):
    md5-ordered centroids AND codeword sample, per-sample residual
    against its nearest cell, per-subspace residual encode (ties ->
    lowest code), probe the 4 nearest cells, ADC cosine with the SAME
    pinned float-add order as the Spark expression chains."""
    d_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN d END) AS d{j}" for j in range(1, m + 1)
    )
    n_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN nsq END) AS n{j}" for j in range(1, m + 1)
    )
    c_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN cd END) AS c{j}" for j in range(1, m + 1)
    )
    d_chain = _sql_add_chain("p.d", m)
    n_chain = _sql_add_chain("p.n", m)
    c_chain = _sql_add_chain("p.c", m)
    nsq = f"((pc.bb + 2 * {c_chain}) + {n_chain})"
    adot = f"(pc.a + {d_chain})"
    return f"""
    WITH vecs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS cell, dv AS c
      FROM vecs ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_cells}
    ),
    q AS (SELECT dv AS qv FROM vecs WHERE id = 0),
    qn AS (SELECT sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
    probe AS (
      SELECT cell FROM cents CROSS JOIN q
      ORDER BY list_dot_product(c, c) - 2*list_dot_product(c, qv) + list_dot_product(qv, qv), cell
      LIMIT {n_probe}
    ),
    assign AS (
      SELECT id, cell FROM (
        SELECT v.id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY v.id
                 ORDER BY list_dot_product(c.c, c.c) - 2*list_dot_product(v.dv, c.c), c.cell) AS rn
        FROM vecs v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    samp AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS code, id, dv
      FROM vecs ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_codes}
    ),
    js AS (SELECT unnest(range(1, {m} + 1)) AS j),
    books AS (
      SELECT j.j, s.code,
             list_transform(range(1, {sub} + 1),
                            i -> s.dv[(j.j - 1) * {sub} + i] - c.c[(j.j - 1) * {sub} + i]) AS b
      FROM samp s JOIN assign a ON a.id = s.id JOIN cents c ON c.cell = a.cell
      CROSS JOIN js j
    ),
    rsub AS (
      SELECT v.id, a.cell, j.j,
             list_transform(range(1, {sub} + 1),
                            i -> v.dv[(j.j - 1) * {sub} + i] - c.c[(j.j - 1) * {sub} + i]) AS rj
      FROM vecs v JOIN assign a ON a.id = v.id JOIN cents c ON c.cell = a.cell
      CROSS JOIN js j
      WHERE a.cell IN (SELECT cell FROM probe)
    ),
    enc AS (
      SELECT id, cell, j, code FROM (
        SELECT r.id, r.cell, r.j, b.code,
               ROW_NUMBER() OVER (PARTITION BY r.id, r.j
                 ORDER BY list_dot_product(b.b, b.b) - 2*list_dot_product(r.rj, b.b), b.code) AS rn
        FROM rsub r JOIN books b USING (j)
      ) WHERE rn = 1
    ),
    dq AS (
      SELECT b.j, b.code,
             list_dot_product(list_slice(q.qv, (b.j - 1) * {sub} + 1, b.j * {sub}), b.b) AS d,
             list_dot_product(b.b, b.b) AS nsq
      FROM books b CROSS JOIN q
    ),
    dc AS (
      SELECT c.cell, b.j, b.code,
             list_dot_product(list_slice(c.c, (b.j - 1) * {sub} + 1, b.j * {sub}), b.b) AS cd
      FROM cents c CROSS JOIN books b
      WHERE c.cell IN (SELECT cell FROM probe)
    ),
    percell AS (
      SELECT c.cell, list_dot_product(q.qv, c.c) AS a, list_dot_product(c.c, c.c) AS bb
      FROM cents c CROSS JOIN q WHERE c.cell IN (SELECT cell FROM probe)
    ),
    terms AS (
      SELECT e.id, e.cell, e.j, dq.d, dq.nsq, dc.cd
      FROM enc e
      JOIN dq ON dq.j = e.j AND dq.code = e.code
      JOIN dc ON dc.cell = e.cell AND dc.j = e.j AND dc.code = e.code
    ),
    piv AS (SELECT id, cell, {d_cases}, {n_cases}, {c_cases} FROM terms GROUP BY id, cell),
    sims AS (
      SELECT p.id AS vec_id,
             CASE WHEN qn.qnorm = 0 OR {nsq} <= 0 THEN 0.0
                  ELSE round({adot} / (sqrt({nsq}) * qn.qnorm), 4)
             END AS sim
      FROM piv p JOIN percell pc ON pc.cell = p.cell CROSS JOIN qn
    ),
    ranked AS (
      SELECT vec_id, sim,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM sims
    )
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= {k}
"""


def _sql_ivfpq_topk_trained(
    m: int = 4,
    n_codes: int = 128,
    sub: int = 16,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 10,
    iters: int = 2,
    cell_iters: int = 0,
) -> str:
    """Full replication of similarity.ivf_pq_topk(train_iters=
    ``iters``): md5-ordered centroids and codeword seed, residuals
    quantized at offset 2 (they live in (-2, 2)), ``iters`` unrolled
    per-subspace integer Lloyd's rounds over ALL vectors' residuals,
    integer-exact encode of the probed rows, ADC off the dequantized
    float books (cq/1e6 - 2) with the pinned float-add order.

    ``cell_iters`` > 0 replays ivf_pq_topk(cell_iters=...) — the
    TRAINED coarse quantizer (round-7 verdict #1): seeds quantized to
    the ``floor((x + 1) * 1e6)`` grid, ``cell_iters`` unrolled
    full-vector integer Lloyd's rounds (``_sql_cell_lloyd_rounds``),
    and EVERY cell pick (probe selection, vector assignment) runs as
    exact int64 distance on that grid — no float-ordering dependence
    anywhere in the trained pipeline."""
    d_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN d END) AS d{j}" for j in range(1, m + 1)
    )
    n_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN nsq END) AS n{j}" for j in range(1, m + 1)
    )
    c_cases = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN cd END) AS c{j}" for j in range(1, m + 1)
    )
    d_chain = _sql_add_chain("p.d", m)
    n_chain = _sql_add_chain("p.n", m)
    c_chain = _sql_add_chain("p.c", m)
    nsq = f"((pc.bb + 2 * {c_chain}) + {n_chain})"
    adot = f"(pc.a + {d_chain})"
    rounds = ",\n    ".join(
        _sql_pq_lloyd_rounds(iters=iters, sub=sub, subq="rsubq", tb="tb")
    )
    enc_dist = _sql_pq_intdist("r.vq", "b.cq", sub)
    rq = (
        f"list_transform(range(1, {sub} + 1), i -> CAST(floor(("
        f"(v.dv[(j.j - 1) * {sub} + i] - c.c[(j.j - 1) * {sub} + i])"
        f" + 2.0) * 1000000) AS BIGINT))"
    )
    dim = m * sub
    if cell_iters:
        quant1 = "list_transform(dv, x -> CAST(floor((x + 1.0) * 1000000) AS BIGINT))"
        cell_rounds = ",\n    ".join(
            _sql_cell_lloyd_rounds(iters=cell_iters, dim=dim)
        )
        cdist = _sql_pq_intdist("s.vq", "b.cq", dim)
        qdist = _sql_pq_intdist("qq.vq", "b.cq", dim)
        cells_block = f"""fullq AS MATERIALIZED (
      SELECT id, {quant1} AS vq FROM vecs
    ),
    cc0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS cell,
             {quant1} AS cq
      FROM vecs ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_cells}
    ),
    {cell_rounds},
    cents AS MATERIALIZED (
      SELECT cell, list_transform(cq, x -> x / 1000000.0 - 1.0) AS c FROM cc{cell_iters}
    ),
    q AS (SELECT dv AS qv FROM vecs WHERE id = 0),
    qq AS (SELECT {quant1.replace('(dv,', '(qv,')} AS vq FROM q),
    qn AS (SELECT sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
    probe AS (
      SELECT b.cell FROM cc{cell_iters} b CROSS JOIN qq
      ORDER BY {qdist}, b.cell
      LIMIT {n_probe}
    ),
    assign AS MATERIALIZED (
      SELECT id, cell FROM (
        SELECT s.id, b.cell,
               ROW_NUMBER() OVER (PARTITION BY s.id
                 ORDER BY {cdist}, b.cell) AS rn
        FROM fullq s CROSS JOIN cc{cell_iters} b
      ) WHERE rn = 1
    )"""
    else:
        cells_block = f"""cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS cell, dv AS c
      FROM vecs ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_cells}
    ),
    q AS (SELECT dv AS qv FROM vecs WHERE id = 0),
    qn AS (SELECT sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
    probe AS (
      SELECT cell FROM cents CROSS JOIN q
      ORDER BY list_dot_product(c, c) - 2*list_dot_product(c, qv) + list_dot_product(qv, qv), cell
      LIMIT {n_probe}
    ),
    assign AS MATERIALIZED (
      SELECT id, cell FROM (
        SELECT v.id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY v.id
                 ORDER BY list_dot_product(c.c, c.c) - 2*list_dot_product(v.dv, c.c), c.cell) AS rn
        FROM vecs v CROSS JOIN cents c
      ) WHERE rn = 1
    )"""
    return f"""
    WITH vecs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    {cells_block},
    samp AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS code, id, dv
      FROM vecs ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {n_codes}
    ),
    js AS (SELECT unnest(range(1, {m} + 1)) AS j),
    rsubq AS MATERIALIZED (
      SELECT v.id, j.j, {rq} AS vq
      FROM vecs v JOIN assign a ON a.id = v.id JOIN cents c ON c.cell = a.cell
      CROSS JOIN js j
    ),
    tb0 AS MATERIALIZED (
      SELECT r.j, s.code, r.vq AS cq
      FROM samp s JOIN rsubq r ON r.id = s.id
    ),
    {rounds},
    books AS MATERIALIZED (
      SELECT j, code, list_transform(cq, x -> x / 1000000.0 - 2.0) AS b FROM tb{iters}
    ),
    enc AS (
      SELECT e.id, a.cell, e.j, e.code FROM (
        SELECT r.id, r.j, b.code,
               ROW_NUMBER() OVER (PARTITION BY r.id, r.j
                 ORDER BY {enc_dist}, b.code) AS rn
        FROM rsubq r JOIN tb{iters} b USING (j)
      ) e JOIN assign a ON a.id = e.id
      WHERE e.rn = 1 AND a.cell IN (SELECT cell FROM probe)
    ),
    dq AS (
      SELECT b.j, b.code,
             list_dot_product(list_slice(q.qv, (b.j - 1) * {sub} + 1, b.j * {sub}), b.b) AS d,
             list_dot_product(b.b, b.b) AS nsq
      FROM books b CROSS JOIN q
    ),
    dc AS (
      SELECT c.cell, b.j, b.code,
             list_dot_product(list_slice(c.c, (b.j - 1) * {sub} + 1, b.j * {sub}), b.b) AS cd
      FROM cents c CROSS JOIN books b
      WHERE c.cell IN (SELECT cell FROM probe)
    ),
    percell AS (
      SELECT c.cell, list_dot_product(q.qv, c.c) AS a, list_dot_product(c.c, c.c) AS bb
      FROM cents c CROSS JOIN q WHERE c.cell IN (SELECT cell FROM probe)
    ),
    terms AS (
      SELECT e.id, e.cell, e.j, dq.d, dq.nsq, dc.cd
      FROM enc e
      JOIN dq ON dq.j = e.j AND dq.code = e.code
      JOIN dc ON dc.cell = e.cell AND dc.j = e.j AND dc.code = e.code
    ),
    piv AS (SELECT id, cell, {d_cases}, {n_cases}, {c_cases} FROM terms GROUP BY id, cell),
    sims AS (
      SELECT p.id AS vec_id,
             CASE WHEN qn.qnorm = 0 OR {nsq} <= 0 THEN 0.0
                  ELSE round({adot} / (sqrt({nsq}) * qn.qnorm), 4)
             END AS sim
      FROM piv p JOIN percell pc ON pc.cell = p.cell CROSS JOIN qn
    ),
    ranked AS (
      SELECT vec_id, sim,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM sims
    )
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= {k}
"""


def _sql_topk_recall(approx_sql: str) -> str:
    """Overlap of an approximate top-10 with the exact cosine top-10."""
    return f"""
    WITH ex AS (SELECT vec_id FROM ({_SQL_SIM_TOPK})),
    ap AS (SELECT vec_id FROM ({approx_sql})),
    m AS (SELECT COUNT(*) AS nm FROM ex JOIN ap USING (vec_id))
    SELECT CAST(10 AS BIGINT) AS k, CAST(nm AS BIGINT) AS n_matched,
           round(CAST(nm AS DOUBLE) / 10.0, 6) AS recall
    FROM m
"""

_RECALL_DOC_SRC = f"(SELECT * FROM documents WHERE doc_id < {_RECALL_DOCS})"


def _sql_hx_frac(col: str) -> str:
    """DuckDB expression for sketches._hx_frac: first 13 hex chars of
    ``col`` as an exact double fraction of 2^52 (digit-by-digit base-16
    reconstruction — every term and the sum are exactly representable,
    so the value is bit-identical to Spark's conv/cast)."""
    return (
        f"(list_sum(list_transform(range(1, 14), i -> "
        f"(strpos('0123456789abcdef', substring({col}, CAST(i AS INTEGER), 1)) - 1)"
        f" * power(16.0, 13 - i))) / power(2.0, 52))"
    )

# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def _registry_order(
    names,
    records_root: str | None = None,
    live_hashes: dict[str, str] | None = None,
) -> list[str]:
    """DERIVED registry rotation (round-7: the manual rotation missed
    the freshly-landed record two rounds running, so the order is now
    computed, not typed).  The driver's oracle gate checks only the
    FIRST 50 registry entries per round; official coverage therefore
    decays unless the window rotates.  Policy, derived from the
    on-disk CORRECTNESS_r*.json records at call time:

    - must-set = every query absent from the two most recent records'
      hash-matched names — exactly the set
      test_entry_parses.py::test_registry_order_covers_the_driver_window
      requires contiguous at the head.
    - within the must-set, oldest official record first (never-recorded
      queries lead at round 0), name-tiebroken — so the stalest
      evidence is always inside the next 50-entry window.
    - the recently-verified tail is likewise oldest-record-first, so
      the next block to age out already sits just behind the window.
    - CHANGE-AWARE (round-8, per round-7 ADVICE): any query whose
      live oracle-SQL hash differs from ORACLE_HASHES.json — the
      snapshot taken at its last verified record
      (scripts/snapshot_oracle_hashes.py) — is treated as
      never-verified: forced to the head of the must-set no matter
      how fresh its record is.  A changed Spark/oracle pair can
      therefore never coast on a pre-change record.

    Because the head is *computed* as the must-set, landing a new
    CORRECTNESS record can never invalidate the order: the next
    import re-derives it.  Deterministic for a given record state."""
    import glob as _glob
    import json as _json
    import re as _re

    root = records_root or os.path.dirname(os.path.abspath(__file__))
    candidates = []
    for p in _glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"_r(\d+)", os.path.basename(p))
        if m is not None:  # skip stray non-numeric names (ADVICE r7)
            candidates.append((int(m.group(1)), p))
    candidates.sort()
    records = [p for _, p in candidates]
    rounds = {p: rnd for rnd, p in candidates}
    changed: set[str] = set()
    if live_hashes:
        try:
            with open(os.path.join(root, "ORACLE_HASHES.json")) as fh:
                snap = _json.load(fh)
        except (OSError, ValueError):
            snap = {}
        changed = {n for n, h in live_hashes.items() if snap.get(n) != h}
    last_ok: dict[str, int] = {}
    for path in records:
        rnd = rounds[path]
        try:
            with open(path) as fh:
                rec = _json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rec.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last_ok[name] = max(rnd, last_ok.get(name, 0))
    recent: set[str] = set()
    for path in records[-2:]:
        try:
            with open(path) as fh:
                rec = _json.load(fh)
        except (OSError, ValueError):
            continue
        recent |= {
            n for n, row in rec.items() if isinstance(row, dict) and row.get("hash_match")
        }
    # A changed oracle voids both its record age and its recency.
    recent -= changed
    key = lambda n: (-1 if n in changed else last_ok.get(n, 0), n)  # noqa: E731
    must = sorted((n for n in names if n not in recent), key=key)
    rest = sorted((n for n in names if n in recent), key=key)
    return must + rest

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: BFS hop-distance over the derived tree at
    sf0.001 (the reference's op 4, Spark-first)."""
    sf_dir = "/root/testdata/sf0.001"
    edges = derived_tree_edges(spark, sf_dir, symmetric=True)
    return bfs_levels(edges, ROOT_VID, graph_id=1)

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def q_add_graph(spark, sf_dir):
        return _add_graph(_raw_tree_pairs(spark, sf_dir), graph_id=1)

    def q_modify_graph(spark, sf_dir):
        return _modify_graph(
            _db_two_graphs(spark, sf_dir), _g2_replacement_pairs(spark, sf_dir), graph_id=2
        )

    def _loop_parts(spark, build, n=8, warm=()):
        # Scoped shuffle width for iterative-loop queries (the
        # graphalgs.sssp loop_shuffle_partitions rationale): superstep
        # shuffles carry frontier-sized rows, and the loop pays the
        # per-task scheduling floor rounds x partitions times, so the
        # width is sized to the frontier, not to the fact tables.  The
        # loop's in-operator actions (checkpoint + convergence probe)
        # run under the narrowed setting; it is restored before the
        # driver's own action, which only re-reads the checkpoints.
        # ``warm``: session-cached DataFrames (shared edge sets) are
        # materialized BEFORE narrowing, so a loop query that happens
        # to run first doesn't persist the shared cache at loop width
        # for every later consumer.
        for df in warm:
            df.count()
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        spark.conf.set(key, str(int(n)))
        try:
            return build()
        finally:
            spark.conf.set(key, prev)

    def q_bfs_levels(spark, sf_dir):
        # The level table is a union of localCheckpointed levels, so
        # q_bfs_order / q_connected_count consume it without re-running
        # supersteps.
        edges = derived_tree_edges(spark, sf_dir, symmetric=True)
        return _loop_parts(
            spark, lambda: bfs_levels(edges, ROOT_VID, graph_id=1), warm=(edges,)
        )

    def q_bfs_order(spark, sf_dir):
        edges = derived_tree_edges(spark, sf_dir, symmetric=True)
        lv = q_bfs_levels(spark, sf_dir)
        return _loop_parts(
            spark,
            lambda: bfs_level_order(edges, ROOT_VID, graph_id=1, levels=lv),
        )

    def q_dfs_leaves(spark, sf_dir):
        edges = derived_tree_edges(spark, sf_dir, symmetric=True)
        return _loop_parts(spark, lambda: dfs_leaves(edges, ROOT_VID, graph_id=1), warm=(edges,))

    def q_route_requests(spark, sf_dir):
        return route_counts(requests_from_orders(spark, sf_dir))

    def q_request_sched(spark, sf_dir):
        return schedule_requests(requests_from_orders(spark, sf_dir))

    def q_graph_stats(spark, sf_dir):
        return graph_stats(_db_two_graphs(spark, sf_dir))

    def q_connected_count(spark, sf_dir):
        edges = derived_tree_edges(spark, sf_dir, symmetric=True)
        lv = q_bfs_levels(spark, sf_dir)
        return _loop_parts(
            spark, lambda: connected_count(edges, ROOT_VID, graph_id=1, levels=lv)
        )

    def q_connected_components(spark, sf_dir):
        # Drop the root so the derived tree decomposes into one
        # component per region (hash-min label propagation).
        edges = derived_tree_edges(spark, sf_dir, symmetric=True).where(
            (F.col("src") != ROOT_VID) & (F.col("dst") != ROOT_VID)
        )
        # Co-partitioned at the loop width (r13): edge side pre-shuffled
        # once, label joins SHUFFLE_HASH — no per-round broadcast
        # builds (A/B on the strong-tie CC: −12-18%, identical labels).
        return _loop_parts(
            spark,
            lambda: connected_components(edges, graph_id=1, loop_shuffle_partitions=8),
            n=8,
            warm=(edges,),
        )

    # --- training-data extension operators (SURVEY.md §2.3 north-star) ---

    def q_dedup_exact(spark, sf_dir):
        return exact_dedup(load_table(spark, sf_dir, "documents"))

    def q_fingerprint_dedup(spark, sf_dir):
        return fingerprint_dedup(load_table(spark, sf_dir, "documents"))

    def q_doc_features(spark, sf_dir):
        return doc_features(load_table(spark, sf_dir, "documents"))

    def q_text_stats(spark, sf_dir):
        return corpus_stats(load_table(spark, sf_dir, "documents"))

    def q_ngram_jaccard(spark, sf_dir):
        return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)

    def q_minhash_dedup(spark, sf_dir):
        # md5 hash variant: same plan shape as the xxhash64 scale
        # default (pytest-covered), but byte-reproducible in SQL, so
        # the whole LSH pipeline is value-oracle-checked.
        return minhash_dedup(
            load_table(spark, sf_dir, "documents"), threshold=0.8, hash_fn="md5"
        )

    def q_simhash_dedup(spark, sf_dir):
        # md5 variant (60-bit hash); oracle is brute-force Hamming<=3,
        # which the banded output must equal exactly (pigeonhole).
        return simhash_dedup(
            load_table(spark, sf_dir, "documents"), max_hamming=3, hash_fn="md5"
        )

    def _recall_minhash_pairs(spark, sf_dir):
        # The recall-prefix pair set q_minhash_recall and
        # q_dedup_clusters both consume; persisted (tracked) because
        # q_minhash_recall reads it twice.
        docs = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") < _RECALL_DOCS
        )
        return tracked_persist(minhash_dedup(docs, threshold=0.8, hash_fn="md5"))

    def q_minhash_recall(spark, sf_dir):
        # Measured-recall contract: fraction of exact shingle-Jaccard
        # >= 0.8 pairs recovered by MinHash-LSH, over a bounded doc
        # prefix (the ground truth is O(n^2) verification tooling).
        docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _RECALL_DOCS)
        approx = _recall_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
        truth = shingle_jaccard_pairs(docs, threshold=0.8).select("id_a", "id_b")
        nt = truth.agg(F.count("*").cast("long").alias("n_truth"))
        na = approx.agg(F.count("*").cast("long").alias("n_approx"))
        nm = approx.join(truth, ["id_a", "id_b"]).agg(
            F.count("*").cast("long").alias("n_matched")
        )
        return nt.crossJoin(na).crossJoin(nm).select(
            "n_truth", "n_approx", "n_matched",
            F.round(F.col("n_matched") / F.nullif(F.col("n_truth"), F.lit(0)), 6).alias("recall"),
        )

    def q_simhash_recall(spark, sf_dir):
        # Banding-recall contract: with 4 bands and max_hamming=3 the
        # blocked output must equal brute-force all-pairs exactly.
        docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _RECALL_DOCS)
        banded = simhash_dedup(docs, max_hamming=3, hash_fn="md5").select("id_a", "id_b")
        truth = simhash_allpairs(docs, max_hamming=3, hash_fn="md5").select("id_a", "id_b")
        nt = truth.agg(F.count("*").cast("long").alias("n_truth"))
        nb = banded.agg(F.count("*").cast("long").alias("n_banded"))
        nm = banded.join(truth, ["id_a", "id_b"]).agg(
            F.count("*").cast("long").alias("n_matched")
        )
        return nt.crossJoin(nb).crossJoin(nm).select(
            "n_truth", "n_banded", "n_matched",
            F.round(F.col("n_matched") / F.nullif(F.col("n_truth"), F.lit(0)), 6).alias("recall"),
        )

    def q_dedup_clusters(spark, sf_dir):
        # Transitive keep-list: connected components over the minhash
        # near-dup pair graph + singleton fill-in -> one verdict per
        # document (the consumable a dedup pipeline actually applies).
        docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _RECALL_DOCS)
        pairs = _recall_minhash_pairs(spark, sf_dir)
        return dedup_clusters(pairs, documents=docs, id_col="doc_id")

    def q_winnow_fp(spark, sf_dir):
        return winnow_fingerprints(load_table(spark, sf_dir, "documents"))

    def q_substring_dup(spark, sf_dir):
        # Exact-substring dedup seed (Lee et al. 2022): doc pairs
        # sharing any identical 50-char normalized run, via the md5
        # digest inverted index — value-exact oracle replays the
        # same digests.
        return substring_overlap_pairs(
            load_table(spark, sf_dir, "documents"), sub_len=50
        )

    def q_sim_topk(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return cosine_topk(emb, qvec, 10)

    def q_filtered_topk(spark, sf_dir):
        # Filtered vector search (retrieval with a metadata filter):
        # pre-filter strategy — the label predicate reaches the scan,
        # scoring runs only on survivors, exact by construction.
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return cosine_topk_filtered(
            emb, qvec, 10, predicate=F.col("label").isin(1, 3)
        )

    def q_group_topk(spark, sf_dir):
        # Diversified retrieval: top-3 nearest per label group; the
        # rank<=k filter compiles to WindowGroupLimit so the window
        # shuffle carries O(groups*k) rows.
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return cosine_topk_per_group(emb, qvec, 3)

    def q_lsh_topk(spark, sf_dir):
        # Deterministic once seeded -> full value oracle (the SQL
        # replays the same hyperplane signatures and bucket match).
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return lsh_topk(emb, qvec, 10)

    def q_ivf_topk(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return ivf_topk(emb, qvec, 10)

    def q_lsh_recall(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        exact = cosine_topk(emb, qvec, 10).select("vec_id")
        approx = lsh_topk(emb, qvec, 10).select("vec_id")
        return exact.join(approx, "vec_id").agg(
            F.count("*").cast("long").alias("n_matched")
        ).select(
            F.lit(10).cast("long").alias("k"),
            "n_matched",
            F.round(F.col("n_matched") / 10.0, 6).alias("recall"),
        )

    def q_ivf_recall(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        exact = cosine_topk(emb, qvec, 10).select("vec_id")
        approx = ivf_topk(emb, qvec, 10).select("vec_id")
        return exact.join(approx, "vec_id").agg(
            F.count("*").cast("long").alias("n_matched")
        ).select(
            F.lit(10).cast("long").alias("k"),
            "n_matched",
            F.round(F.col("n_matched") / 10.0, 6).alias("recall"),
        )

    def q_embedding_near_dup(spark, sf_dir):
        # Plant exact copies (ids +1_000_000) so the query is
        # non-vacuous: sign-LSH finds exact copies with probability 1
        # (scale-invariant signatures), and the oracle replays the
        # same blocking, so the result is value-checked.
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        planted = emb.where(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        return embedding_near_dup(emb.unionByName(planted), threshold=0.95)

    def q_media_meta(spark, sf_dir):
        media = attach_media(load_table(spark, sf_dir, "documents"))
        return extract_media_meta(media).select("media_id", "media_type", "n_bytes", "sha256")

    def q_image_meta(spark, sf_dir):
        # REAL byte-level decode: structurally valid PNG/GIF/JPEG
        # payloads with arithmetically planted dimensions, parsed back
        # by the stdlib header parser (multimodal.image_dims) inside
        # the Arrow mapInPandas pipeline.  The oracle predicts every
        # width/height from doc_id, so a parser that misreads the
        # actual encoded bytes fails the value check.
        media = plant_images(load_table(spark, sf_dir, "documents"))
        return extract_media_meta(media).select(
            "media_id", "n_bytes", "width", "height"
        )

    def q_frame_sample(spark, sf_dir):
        # Video frame-sampling plumbing (multimodal.frame_sample):
        # fixed-size chunking + every-k-th selection capped at
        # max_frames, over the opaque video payloads.  Sizes are
        # byte-arithmetic in the payload length, so the oracle
        # value-checks frame numbering, stride selection, and the cap
        # without shipping frame bytes.
        media = attach_media(load_table(spark, sf_dir, "documents"))
        frames = frame_sample(media, chunk_bytes=256, max_frames=4)
        return frames.select(
            "media_id",
            "frame_no",
            F.length("frame").cast("long").alias("n_bytes"),
        )

    def q_jpeg_color(spark, sf_dir):
        # REAL multi-component (YCbCr 4:2:0) baseline JPEG decode
        # (round 9): interleaved-MCU entropy decode with
        # per-component DC predictors over fully-encoded color
        # fixtures; the planes ride the exact DCT subspace so all
        # three component sums replay closed-form, and the RGB sums
        # replay the declared box-upsample + BT.601 floor(x+0.5)
        # conversion verbatim.
        return jpeg_color_stats(
            plant_encoded_color_jpegs(load_table(spark, sf_dir, "documents"))
        )

    def q_jpeg_sampling(spark, sf_dir):
        # JPEG sampling grids beyond 4:2:0 (round 11): the MCU walk
        # generalized to per-component (h, v) factors — doc_id % 3
        # picks 4:2:0 / 4:2:2 / 4:4:4, so one query proves the
        # interleave order, chroma resolution, and per-grid
        # box-upsample factors all at once.  Planes ride the DCT
        # subspace per coded resolution (lossless-on-subspace), so
        # the oracle replays every decoded component sum AND the
        # BT.601 floor(x+0.5) RGB conversion at each grid's own
        # upsample factors; the emitted `chroma` label is derived
        # from the DECODED plane shapes, value-checking the factor
        # parse itself.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            jpeg_sampling_stats,
            plant_sampling_jpegs,
        )

        return jpeg_sampling_stats(
            plant_sampling_jpegs(load_table(spark, sf_dir, "documents"))
        )

    def q_jpeg_prog_color(spark, sf_dir):
        # REAL progressive COLOR JPEG decode (round 9 — the last JPEG
        # shape, what `cjpeg -progressive` emits for photos): SOF2 +
        # 4:2:0 YCbCr with interleaved DC scans (per-component
        # predictors, MCU order) and per-component AC scans (T.81 G.1
        # forbids interleaved progressive AC), stress-proven
        # bit-identical to the baseline color decoder on random
        # images.  Scan structure is an encoding detail the decode
        # must erase, so the oracle is q_jpeg_color's verbatim.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            jpeg_ycbcr_progressive_decode,
        )

        return jpeg_color_stats(
            plant_encoded_color_jpegs(
                load_table(spark, sf_dir, "documents"), progressive=True
            ),
            decode=jpeg_ycbcr_progressive_decode,
        )

    def q_gif_frames(spark, sf_dir):
        # REAL decoded-frame sampling (round-8 verdict #7): fully
        # encoded animated GIF89a streams (global gray palette,
        # per-frame GCE + LZW image blocks — stdlib codec both
        # directions, like the JPEG one) are decoded frame by frame;
        # every 2nd frame capped at 2 is kept.  Pixels are arithmetic
        # in (id, frame, r, c), so the oracle replays frame counts,
        # stride selection, the cap, and every decoded pixel sum.
        return gif_frame_stats(
            plant_encoded_gifs(load_table(spark, sf_dir, "documents")),
            every_k=2, max_frames=2,
        )

    def q_resize(spark, sf_dir):
        # REAL image resize (nearest-neighbor numpy gather over Arrow
        # batches) on raw grayscale bitmaps with arithmetic pixels:
        # the checksum of every 16x16 output replays exactly in SQL
        # because pixel(i,j) = (31i + 17j + id) % 256 by construction.
        return resize_bitmaps(
            plant_bitmaps(load_table(spark, sf_dir, "documents")),
            out_w=16, out_h=16,
        )

    def q_audio_meta(spark, sf_dir):
        # REAL WAV decode: RIFF/WAVE chunk walk over structurally
        # valid planted PCM files; the oracle predicts sample rate,
        # channels, byte size, and integer-ms duration from doc_id.
        media = plant_audio(load_table(spark, sf_dir, "documents"))
        return extract_audio_meta(media)

    def q_png_decode(spark, sf_dir):
        # REAL end-to-end image pipeline from ENCODED bytes: fully
        # valid zlib-compressed grayscale PNGs (per-row filters cycle
        # through None/Sub/Up/Average/Paeth) are inflated + unfiltered
        # by the stdlib decoder, then resized by the nearest-neighbor
        # kernel — all in one Arrow map stage.  Pixels are arithmetic
        # in doc_id, so the oracle replays both the decoded-pixel sum
        # and the resized checksum; a decoder that mishandles ANY
        # filter type fails the value check.
        return png_decode_stats(
            plant_encoded_pngs(load_table(spark, sf_dir, "documents")),
            out_w=8, out_h=8,
        )

    def q_png_alpha(spark, sf_dir):
        # ALPHA-channel PNGs (round 11): even ids RGBA (color type 6
        # — the web's dominant PNG shape), odd ids gray+alpha (type
        # 4), per-row filters cycling so unfilter runs at bpp 4 and 2.
        # Channel sums plus the Σ r·a premultiply cross term replay
        # closed-form; the ctype column comes from the DECODED plane
        # count, value-checking the color-type parse itself.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            plant_alpha_pngs,
            png_alpha_stats,
        )

        return png_alpha_stats(
            plant_alpha_pngs(load_table(spark, sf_dir, "documents"))
        )

    def q_png_16bit(spark, sf_dir):
        # 16-BIT PNGs (round 11, the scientific/medical-imagery
        # depth): big-endian sample pairs recombined after the
        # BYTE-level unfilter (RFC 2083 filters never split samples —
        # they offset by the full pixel's byte width).  Even ids
        # gray16, odd RGB16; the max-sample column fails any decoder
        # that truncates to 8 bits, the sums fail any byte-swap.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            plant_16bit_pngs,
            png_16bit_stats,
        )

        return png_16bit_stats(
            plant_16bit_pngs(load_table(spark, sf_dir, "documents"))
        )

    def q_tiff_decode(spark, sf_dir):
        # TIFF (round 12, late): the other scanned-document staple —
        # IFD walk over both byte orders, gray8/RGB24, single- and
        # multi-strip layouts, compressions none / TIFF-LZW (MSB
        # codes, early-change widths) / PackBits.  Strips decompress
        # independently — the intra-file split grain giant scans
        # shard by.  Channel sums + the compression tag read back
        # value-check the whole path.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            plant_tiffs,
            tiff_stats,
        )

        return tiff_stats(plant_tiffs(load_table(spark, sf_dir, "documents")))

    def q_bmp_decode(spark, sf_dir):
        # BMP (round 12, late): the uncompressed DIB family scanned-
        # document and screenshot corpora contain — 24-bit BGR, 8-bit
        # palettized, 32-bit BGRA, bottom-up AND top-down (negative
        # biHeight, every 5th fixture), 4-byte scanline padding at odd
        # widths.  Channel sums fail any row-order, padding, BGR-
        # swizzle, or palette mistake; bpp value-checks the header.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            bmp_stats,
            plant_bmps,
        )

        return bmp_stats(plant_bmps(load_table(spark, sf_dir, "documents")))

    def q_png_lowbit(spark, sf_dir):
        # SUB-BYTE PNGs + tRNS (round 12): 1/2/4-bit gray (even ids)
        # and palette (odd ids), every 5th Adam7-interlaced, half
        # carrying a tRNS chunk (keyed gray transparency / per-entry
        # palette alphas).  Channel sums fail any bit-order or
        # packing-stride mistake; a_sum + n_transp fail a decoder that
        # drops or misapplies tRNS; depth/ctype value-check the header
        # parse.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            plant_lowbit_pngs,
            png_lowbit_stats,
        )

        return png_lowbit_stats(
            plant_lowbit_pngs(load_table(spark, sf_dir, "documents"))
        )

    def q_rgb_decode(spark, sf_dir):
        # Truecolor twin of q_png_decode: bpp=3 unfilter over encoded
        # RGB PNGs; per-channel pixel sums replay from the planting
        # arithmetic (31i + 17j + 7c + id) % 256.
        return rgb_decode_stats(
            plant_encoded_rgb_pngs(load_table(spark, sf_dir, "documents"))
        )

    def q_png_adam7(spark, sf_dir):
        # Adam7-INTERLACED grayscale PNGs carrying the same arithmetic
        # pixels as q_png_decode's sequential fixtures: the decoder
        # must walk all seven de-interlace passes (each independently
        # filtered) to reproduce the pixel/resize sums — the oracle is
        # q_png_decode's verbatim, which is the point: interlacing is
        # an encoding detail the decode must erase.
        return png_decode_stats(
            plant_encoded_adam7_pngs(load_table(spark, sf_dir, "documents")),
            out_w=8, out_h=8,
        )

    def q_png_palette(spark, sf_dir):
        # Palette-indexed (color type 3) PNGs: index grid
        # (31i + 17j + id) % 256 through a 256-entry per-image PLTE
        # palette[k] = ((11k + id) % 256, (13k + 2id) % 256,
        # (17k + 3id) % 256); the decoded per-channel sums replay in
        # SQL by composing the two congruences.
        return rgb_decode_stats(
            plant_encoded_palette_pngs(load_table(spark, sf_dir, "documents"))
        )

    def q_jpeg_decode(spark, sf_dir):
        # REAL baseline JPEG decode (round-7 verdict #6 — the last
        # "REAL decode" hole): planted 16x16 baseline JPEGs whose DCT
        # coefficients live only on the {DC, (4,0), (0,4), (4,4)}
        # bases with 8-multiple amplitudes, so the true pixels are
        # exact integers and the full codec (canonical Huffman from
        # the file's own DHT, 0xFF00 unstuffing, EXTEND, DC
        # prediction, zigzag, dequantize, float IDCT) round-trips
        # losslessly — every fixture's stream carries real AC run
        # codes AND stuffed 0xFF bytes, and the oracle replays the
        # closed-form pixels; a decoder bug anywhere breaks values.
        return jpeg_decode_stats(
            plant_encoded_jpegs(load_table(spark, sf_dir, "documents")),
            out_w=8, out_h=8,
        )

    def q_jpeg_restart(spark, sf_dir):
        # REAL restart-interval (DRI/RSTn) JPEG decode (round 9): the
        # SAME planted pixels as q_jpeg_decode, encoded with DRI=3 so
        # the 4-MCU stream splits into an uneven 3+1 segment pair —
        # and decoded by the PARALLEL path: jpeg_restart_segments
        # finds the byte-aligned RSTn boundaries without entropy
        # decoding (stuffing makes FF D0-D7 unambiguous), then each
        # segment decodes INDEPENDENTLY with a fresh DC predictor.
        # Restart structure is an encoding detail the decode must
        # erase, so the oracle is q_jpeg_decode's verbatim.  This is
        # the codec's own intra-image parallelism grain — the scale
        # answer for multi-gigapixel scans that q_adpcm_audio's block
        # independence gives audio.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            jpeg_gray_decode_parallel,
        )

        return jpeg_decode_stats(
            plant_encoded_jpegs(
                load_table(spark, sf_dir, "documents"), restart_interval=3
            ),
            out_w=8, out_h=8, decode=jpeg_gray_decode_parallel,
        )

    def q_negative_sample(spark, sf_dir):
        # Contrastive-training negative sampling (round 9): k=3
        # deterministic cross-language negatives per anchor via
        # hash-blocked slices — each anchor probes ONE md5-chosen
        # bucket (N x N/16 join, never all-pairs), per-anchor window
        # rank over salted md5 — the engine-portable split idiom, so
        # the oracle replays membership and ranking exactly.
        return negative_sample(load_table(spark, sf_dir, "documents"), k=3)

    def q_json_extract(spark, sf_dir):
        # Native JSON path (round 9): planted JSON metadata parsed by
        # Spark's Jackson-backed from_json (JVM codegen, no Python) —
        # scalars, nested struct, array length + indexing — against
        # DuckDB's yyjson parsing the identical printf-built string:
        # two independent JSON parsers must agree on every value.
        return json_extract_features(load_table(spark, sf_dir, "documents"))

    def q_xpath_extract(spark, sf_dir):
        # Native XML path (round 9): Spark's XPath family (javax.xml,
        # JVM — attribute, text node, numeric node, node-set count)
        # over planted XML sidecars; the oracle rebuilds the fields
        # from the id arithmetic.
        return xml_extract_features(load_table(spark, sf_dir, "documents"))

    def q_url_parse(spark, sf_dir):
        # Native URL parsing (round 9): Spark's parse_url (JVM,
        # java.net.URI-backed) extracts HOST / PATH / a QUERY param
        # from planted arithmetic URLs; the oracle rebuilds the same
        # fields from the id arithmetic — a value check that the
        # parser splits exactly where the RFC says.
        return url_parse_features(load_table(spark, sf_dir, "documents"))

    def q_lz4_corpus(spark, sf_dir):
        # REAL LZ4 frame decode (round 9): .jsonl.lz4-style shards
        # (token/offset block format + frame wrapper with the xxh32
        # header-checksum byte, both from the public spec, both
        # directions) decompressed in one Arrow stage; the 'c'-count
        # value-checks the reconstructed bytes, not just sizes.
        # Frame blocks are independently decodable (BD-sized), so
        # giant shards split at block granularity — the gzip-member
        # WARC story for the other wire compression.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.warc import (
            lz4_corpus_stats,
            plant_lz4_shards,
        )

        return lz4_corpus_stats(plant_lz4_shards(load_table(spark, sf_dir, "documents")))

    def q_zstd_corpus(spark, sf_dir):
        # REAL zstd frame decode (round 10, RFC 8878 from spec):
        # .jsonl.zst is the shard format The Pile / RedPajama / Dolma
        # publish in.  Shards are compressed by the module's own
        # writer (Huffman literals + predefined-FSE sequences + xxh64
        # content checksum, CLI-interop-pinned in tests/data/zstd/)
        # and decoded by the full FSE/Huffman/sequences decoder in one
        # Arrow stage; the 'c'-count value-checks the reconstructed
        # bytes and the frame checksum is verified inside the decode.
        # One frame per record = the record-level split grain at
        # 100 TB (the WARC gzip-member / LZ4-block story).
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.zstdcodec import (
            plant_zstd_shards,
            zstd_corpus_stats,
        )

        return zstd_corpus_stats(plant_zstd_shards(load_table(spark, sf_dir, "documents")))

    def q_zstd_dict(spark, sf_dir):
        # RFC 8878 DICTIONARY frames (round 12): shards are the fixed
        # ~260-byte corpus template + a unique tail, compressed
        # against the committed trained dictionary (4-byte DID,
        # window descriptor spanning dict content + payload, first
        # block matching into the dictionary's virtual past — dict
        # frame ~36 B vs ~235 B plain).  Decode gates the DID,
        # preloads the dict entropy tables / recent offsets, seeds
        # the window with dict content, and verifies the frame
        # checksum; the 'c' count value-checks the reconstruction.
        # CLI interop both directions pinned in tests (zstd --train
        # dict committed; zstd -D output decodes here, our dict
        # frames decode under zstd -d -D).
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.zstdcodec import (
            plant_zstd_dict_shards,
            zstd_dict_corpus_stats,
        )

        return zstd_dict_corpus_stats(
            plant_zstd_dict_shards(load_table(spark, sf_dir, "documents"))
        )

    def q_webp_lossy(spark, sf_dir):
        # LOSSY WebP — VP8 keyframes (round 12, RFC 6386): the
        # majority shape of real-world .webp, previously rejected at
        # the container guard.  Fixtures are per-MB constant targets
        # riding Y2/chroma DC coefficients at an exactly-dequantizable
        # quantizer, encoded by the module's own boolean-coder writer
        # (libwebp accepts the streams live; cwebp output decodes
        # bit-exact vs WebPDecodeYUV — tests/test_round12_ops.py).
        # The decode runs the full keyframe path: header/segmentation
        # parse, kf mode trees, token decode, dequant, IWHT/IDCT,
        # intra prediction, loop filter.  Plane sums + an MB-position-
        # weighted luma sum replay closed-form.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.vp8 import (
            plant_lossy_webps,
            webp_lossy_stats,
        )

        return webp_lossy_stats(
            plant_lossy_webps(load_table(spark, sf_dir, "documents"))
        )

    def q_webp_anim(spark, sf_dir):
        # ANIMATED WebP (round 12): NOT inter-frame-predicted — each
        # ANMF frame is a complete VP8L/VP8 image composited onto the
        # canvas with blend/dispose flags, the GIF model.  Fixtures:
        # 3 frames per file (full-canvas copy with dispose-to-
        # background on odd ids; sub-rect copy; alpha-128 BLEND whose
        # non-premultiplied compositor reduces to (src*128+dst*127)
        # // 255 over the opaque canvas — exact integers).  Per-frame
        # channel sums + duration + loop value-check demux, per-frame
        # decode, blend arithmetic, and dispose in one pass.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.vp8l import (
            plant_anim_webps,
            webp_anim_stats,
        )

        return webp_anim_stats(
            plant_anim_webps(load_table(spark, sf_dir, "documents"))
        )

    def q_webp_decode(spark, sf_dir):
        # REAL WebP-lossless decode (round 10, VP8L from the public
        # spec): canonical prefix codes, LZ77 through the plane-code
        # distance map, color cache, meta groups, and all four
        # transforms; interop pinned BOTH directions against the
        # system libwebp (committed fixtures + live ctypes test).
        # Planted arithmetic images decode in one Arrow stage; the
        # position-weighted sum catches any scrambled pixel.  Each
        # file decodes independently — the multimodal shard grain.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.vp8l import (
            plant_webp_images,
            webp_pixel_stats,
        )

        return webp_pixel_stats(plant_webp_images(load_table(spark, sf_dir, "documents")))

    def q_warc_parse(spark, sf_dir):
        # REAL WARC ingestion (round 9): Common Crawl's wire format —
        # multi-member gzip (one member per record, the layout that
        # lets an index point at member offsets for record-level range
        # reads = task-level splits at 100 TB), walked with a zlib
        # decompressobj loop, headers parsed, payload sliced by
        # Content-Length.  c_count is a content checksum the oracle
        # replays arithmetically, proving the members inflated to the
        # right bytes (length alone would pass a zero-filled payload).
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.warc import (
            plant_warc,
            warc_records,
        )

        return warc_records(plant_warc(load_table(spark, sf_dir, "documents")))

    def q_mjpeg_frames(spark, sf_dir):
        # REAL video decode (round 9): MJPEG-in-AVI — each frame an
        # independent baseline JPEG inside a RIFF/AVI 'movi' LIST, so
        # the from-scratch JPEG codec IS the video decoder.  Container
        # walk -> every-2nd-frame sampling -> full entropy decode, in
        # one Arrow stage.  weighted_sum = Σ pix*(31r+17c+1) is
        # position-sensitive (plain sums cancel the planted AC bases),
        # so the oracle value-checks every pixel of every sampled
        # frame.  Frames are independent by format — the video
        # analogue of JPEG restart segments and ADPCM blocks.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            mjpeg_frame_stats,
            plant_encoded_mjpeg,
        )

        return mjpeg_frame_stats(
            plant_encoded_mjpeg(load_table(spark, sf_dir, "documents")), every=2
        )

    def q_jpeg_progressive(spark, sf_dir):
        # REAL progressive (SOF2) JPEG decode (round 9 — the last
        # JPEG seam): the SAME planted pixels as q_jpeg_decode, but
        # encoded as a 6-scan spectral-selection + successive-
        # approximation stream (DC point transform + refinement,
        # split AC bands at Al=2, two chained AC refinement scans
        # with EOB runs / ZRL / buffered correction bits).  The scan
        # structure is an encoding detail the decode must erase, so
        # the oracle is q_jpeg_decode's verbatim — the q_png_adam7
        # pattern.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            jpeg_progressive_decode,
        )

        return jpeg_decode_stats(
            plant_encoded_jpegs(
                load_table(spark, sf_dir, "documents"), progressive=True
            ),
            out_w=8, out_h=8, decode=jpeg_progressive_decode,
        )

    def q_audio_features(spark, sf_dir):
        # REAL signal features from DECODED audio: planted WAVs carry
        # arithmetic int16 PCM (sample k = ((37k + 11*id) % 4001) -
        # 2000), wav_pcm_decode reads them back, and peak/Σ|s|/Σs²
        # are exact integers the oracle replays — the audio twin of
        # q_png_decode.
        media = plant_audio_signal(load_table(spark, sf_dir, "documents"))
        return audio_pcm_features(media)

    def q_g711_audio(spark, sf_dir):
        # REAL compressed-audio decode (G.711): planted WAVs carry
        # arithmetically-encoded mu-law (even ids) / A-law (odd ids)
        # bytes — byte k = (13k + 5*id) % 256 — expanded through the
        # spec's integer companding arithmetic (g711.c segment math)
        # to int16, then the same exact-integer features as
        # q_audio_features.  The oracle replays the full expansion
        # per byte in SQL, so the codec itself is value-checked.
        media = plant_g711_audio(load_table(spark, sf_dir, "documents"))
        return g711_audio_features(media)

    def q_ogg_flac(spark, sf_dir):
        # Ogg-ENCAPSULATED FLAC (round 12, RFC 9639 §10.2): real
        # corpora ship .oga/.ogg FLAC.  The decode walks the Ogg page
        # layer (capture pattern, CRC-32/OGG page checksums, segment-
        # lacing packet reassembly — fixtures alternate 1 and 2 frames
        # per page), strips the 0x7F"FLAC" mapping header, and runs
        # the native FLAC decoder (STREAMINFO MD5 still end-to-end).
        # Same arithmetic signal as q_flac_audio: encapsulation is a
        # wire detail the decode must erase, so the oracle is
        # q_flac_audio's verbatim.  Pages are self-delimiting and
        # CRC-checked — the page is the .oga split grain at 100 TB.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            ogg_flac_audio_features,
            plant_ogg_flac,
        )

        return ogg_flac_audio_features(
            plant_ogg_flac(load_table(spark, sf_dir, "documents"))
        )

    def q_flac_audio(spark, sf_dir):
        # REAL lossless compressed audio (round 9): FLAC with fixed
        # predictors — rice-coded residuals, CRC-8 headers, CRC-16
        # footers, and the STREAMINFO MD5 self-check the decoder
        # VERIFIES over the full decode (a bug anywhere breaks the
        # signature before the oracle even looks).  Frames decode
        # independently (seekable by design) — the same intra-file
        # grain as restart JPEG and ADPCM blocks.  The fixture is the
        # q_audio_features arithmetic signal mono, losslessly encoded,
        # so the oracle replays the identical closed forms through a
        # real compressed container.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            flac_audio_features,
            plant_flac_audio,
        )

        return flac_audio_features(
            plant_flac_audio(load_table(spark, sf_dir, "documents"))
        )

    def q_flac_stereo(spark, sf_dir):
        # STEREO FLAC (round 11): RFC 9639 §9.1.3 channel
        # decorrelation — each doc's frames cycle the four channel
        # assignments (independent, left/side, right/side, mid/side,
        # phase id % 4, so all four appear even on one-frame docs),
        # the side channel decodes at 17-bit depth, and STREAMINFO's
        # MD5 is verified over the INTERLEAVED decode — a channel
        # swap, bad decorrelation, or interleaving bug breaks the
        # signature before the oracle looks.  Features are exact
        # per-channel integers plus the Σ L·R cross term (catches
        # channel swaps that symmetric stats would miss); the oracle
        # replays both closed-form channels.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            flac_stereo_features,
            plant_flac_stereo,
        )

        return flac_stereo_features(
            plant_flac_stereo(load_table(spark, sf_dir, "documents"))
        )

    def q_flac_24bit(spark, sf_dir):
        # 24-BIT stereo FLAC (round 11): the studio-master depth
        # through the full decorrelation pipeline — side channel at
        # 25 bits, residual magnitudes past the 4-bit rice parameter
        # space exercising the spec's 5-bit method, STREAMINFO MD5
        # over 3-byte little-endian packed interleaved samples.  Same
        # per-channel + cross-term feature contract as q_flac_stereo;
        # the oracle replays both 24-bit closed forms (all sums fit
        # int64 with 2 decimal orders to spare).
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
            flac_stereo_features,
            plant_flac_24bit,
        )

        return flac_stereo_features(
            plant_flac_24bit(load_table(spark, sf_dir, "documents"))
        )

    def q_adpcm_audio(spark, sf_dir):
        # REAL stateful compressed-audio decode (IMA/DVI ADPCM, WAV
        # format 0x11): each 4-bit code advances a predictor + step-
        # table index, so decode is a per-block state machine — blocks
        # are independent by codec design (each header restates the
        # state precisely so decoders can seek/parallelize), which is
        # the intra-file parallelism grain the Spark plan rides.  The
        # oracle replays the state machine with a recursive CTE
        # advancing every (file, block) decoder one nibble per step.
        media = plant_ima_adpcm_audio(load_table(spark, sf_dir, "documents"))
        return ima_adpcm_features(media)

    def q_audio_downsample(spark, sf_dir):
        # REAL integer resample: decode the planted PCM, decimate by
        # 2 at FRAME granularity (stereo stays synced), same exact-
        # integer features over the kept frames + the halved nominal
        # rate — the audio twin of q_resize's vectorized gather.
        media = plant_audio_signal(load_table(spark, sf_dir, "documents"))
        return audio_downsample_features(media, factor=2)

    def _kmeans_assignment(spark, sf_dir):
        # The assignment q_kmeans, q_cluster_labels and
        # q_semantic_dedup consume (persisted, tracked).
        emb = load_table(spark, sf_dir, "embeddings")
        return tracked_persist(
            kmeans_fixed(emb, k=8, iters=3, loop_shuffle_partitions=4)
        )

    def q_kmeans(spark, sf_dir):
        # Engine-exact k-means (SemDeDup-style semantic clustering):
        # integer-quantized Lloyd's, 3 rounds, k=8 — assignment +
        # exact int64 squared distance under the final centroids.
        # Every step is order-independent integer arithmetic, so the
        # DuckDB oracle unrolls the identical rounds and hash-matches.
        return _kmeans_assignment(spark, sf_dir)

    def q_cluster_labels(spark, sf_dir):
        # Cluster-vs-label contingency (purity read): the k-means
        # assignment joined back to the labeled embeddings.
        emb = load_table(spark, sf_dir, "embeddings")
        return cluster_label_profile(_kmeans_assignment(spark, sf_dir), emb)

    def q_semantic_dedup(spark, sf_dir):
        # SemDeDup: exact cosine near-dup pairs WITHIN k-means
        # clusters only — the cluster assignment is the blocking
        # structure, so the quadratic term is bounded by the largest
        # cluster.  Complements q_embedding_near_dup (LSH blocking).
        # The fixture embeddings are near-orthogonal (max within-
        # cluster cosine ~0.51), so the threshold exercises the top
        # ~0.1% tail rather than returning the trivial empty set.
        emb = load_table(spark, sf_dir, "embeddings")
        return semantic_dedup_pairs(
            emb, _kmeans_assignment(spark, sf_dir), threshold=0.4
        )

    # --- relational surface (SURVEY.md §2.2 categories) ---

    def q_pricing_summary(spark, sf_dir):
        return pricing_summary(load_table(spark, sf_dir, "lineitem"))

    def q_event_windows(spark, sf_dir):
        return event_windows(load_table(spark, sf_dir, "events"))

    def q_top_events(spark, sf_dir):
        return top_events_per_type(load_table(spark, sf_dir, "events"), 3)

    def q_event_props(spark, sf_dir):
        return event_props_filter(load_table(spark, sf_dir, "events"))

    def q_brand_revenue(spark, sf_dir):
        return brand_revenue(
            load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
        )

    def q_user_cohort(spark, sf_dir):
        return user_cohort(load_table(spark, sf_dir, "events"))

    def q_sessions(spark, sf_dir):
        return sessionize_events(load_table(spark, sf_dir, "events"))

    def q_no_orders(spark, sf_dir):
        return customers_without_orders(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            min_total=300_000.0,
        )

    def q_quality_pct(spark, sf_dir):
        return quality_percentiles(load_table(spark, sf_dir, "documents"))

    def q_hll_distinct(spark, sf_dir):
        # Engine-portable HyperLogLog (md5 registers): approximate
        # distinct users per event type, value-oracle-checked because
        # the SQL replica computes the IDENTICAL estimate; exact count
        # joined alongside for the error contract.
        events = load_table(spark, sf_dir, "events")
        exact = events.groupBy("event_type").agg(
            F.count_distinct("user_id").cast("long").alias("n_exact")
        )
        approx = hll_distinct(events, "user_id", group_by=["event_type"])
        return exact.join(approx, on="event_type")

    def q_attribution(spark, sf_dir):
        # Range join rendered as a bucketed EQUI join (temporal.
        # interval_join): clicks attributed to the same user's
        # purchase within a 2-hour half-open window, counted per
        # purchase.  A naive BETWEEN predicate would plan as a
        # nested-loop join; this plans as a hash join on
        # (user_id, hour-bucket).
        ev = load_table(spark, sf_dir, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
        )
        clicks = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
        joined = interval_join(clicks, purchases, keys=["user_id"])
        return joined.groupBy("purchase_id").agg(
            F.count("*").cast("long").alias("n_clicks")
        )

    def q_asof_join(spark, sf_dir):
        # For every event, the user's most recent order-day spend at or
        # before the event time (union-merge as-of join; right side
        # pre-aggregated per (user, day) so the match is unique).
        events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        daily = (
            load_table(spark, sf_dir, "orders")
            .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
            .agg(F.round(F.sum("o_totalprice"), 4).alias("day_spend"))
        )
        return asof_join(
            events,
            daily,
            on=["user_id"],
            left_ts="ts",
            right_ts="o_orderdate",
            values=["day_spend"],
        )

    def q_time_rollup(spark, sf_dir):
        # Hypertable-style hour+day+total rollup in one pass.
        return time_rollup(load_table(spark, sf_dir, "events"))

    def q_matrix_io(spark, sf_dir):
        # O7+O8+O11 end-to-end: serialize the reference G3 star to the
        # text adjacency-matrix format (primary_server.c:145-151) and
        # parse it back (secondary_server.c:272-286), 1-index shim both
        # ways.  The oracle is the literal symmetric edge list.
        import os
        import tempfile

        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.matrix_io import (
            read_adjacency_text,
            write_adjacency_text,
        )

        pairs = [(1, 2), (2, 3), (2, 4), (2, 5)]  # G3 star, center 2
        rows = [(3, u, v) for u, v in pairs] + [(3, v, u) for u, v in pairs]
        edges = spark.createDataFrame(rows, "graph_id int, src long, dst long")
        d = tempfile.mkdtemp(prefix="gdb_matrix_")
        path = os.path.join(d, "G3.txt")
        write_adjacency_text(edges, path)
        return read_adjacency_text(spark, path, graph_id=3)

    def q_assignment_replay(spark, sf_dir):
        # Round 10: the reference's GRADED evaluation corpus ('Trees
        # for OS Assignment-2.docx', extracted byte-for-byte into
        # tests/data/assignment_trees by scripts/
        # extract_assignment_trees.py) replayed as driver-oracle
        # surface: all 14 matrices parsed by the O8 text scan, EVERY
        # (graph, root) pair — 152 traversals — in ONE
        # bfs_levels_multi loop (supersteps = deepest tree, not the
        # request count).  The oracle is an independent pure-Python
        # queue BFS over the raw matrices, inlined as VALUES.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.traverse import (
            bfs_levels_multi,
        )
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.matrix_io import (
            GRAPH_EDGES_SCHEMA,
            parse_adjacency_text,
        )

        # One relation for all 14 graphs (a 14-way union of tiny
        # local scans costs more in plan nodes than data): each file
        # still goes through the O8 text parser, only the Spark-side
        # assembly is consolidated.
        rows = []
        sources = []
        for gid, name, n, _mat in _assignment_trees():
            rows.extend(
                parse_adjacency_text(_assignment_tree_path(name), graph_id=gid)
            )
            sources.extend((gid, v) for v in range(1, n + 1))
        edges = spark.createDataFrame(rows, schema=GRAPH_EDGES_SCHEMA)
        src_df = spark.createDataFrame(sources, "graph_id int, start long")
        # probe_every=3 (the sssp/betweenness contract): this is the
        # DEEPEST traversal loop in the registry (18 supersteps — the
        # deepest assignment tree), so the convergence-probe action
        # floor dominates; chaining 3 levels per probe reaches the
        # identical fixpoint (empty-then-non-empty is impossible).
        # Loop width 4 (the q_stream_requests rationale): the frontier
        # carries at most the 152 traversals x a few vertices each, and
        # the 18-superstep loop pays the per-task floor supersteps x
        # partitions times — session width 32 was pure scheduling
        # overhead here.
        # Co-partitioned at the loop width (r13): the edge side is
        # shuffled once and the expansion join stays off the per-level
        # broadcast-build path — A/B −8% on this deepest loop.
        return _loop_parts(
            spark,
            lambda: bfs_levels_multi(
                edges, src_df, probe_every=3, loop_shuffle_partitions=4
            ).select("graph_id", "start", "vertex", "level"),
            n=4,
        )

    def q_repetition(spark, sf_dir):
        # Gopher-style repetition quality signals per document.
        return repetition_features(load_table(spark, sf_dir, "documents"))

    def q_tfidf(spark, sf_dir):
        # Per-document top-5 characteristic terms (division-exact
        # raw-inverse-df scoring -> full value oracle).
        return tfidf_topk(load_table(spark, sf_dir, "documents"), k=5)

    def q_collocations(spark, sf_dir):
        # Corpus-level PMI-lift collocations (top-20 bigrams).
        return collocations(load_table(spark, sf_dir, "documents"), k=20, min_count=5)

    def q_bpe_train(spark, sf_dir):
        # Distributed BPE merge training (round 9): learn the first 5
        # byte-pair merges from the corpus — per round, ONE map-side-
        # combinable groupBy over exploded adjacent symbol pairs of
        # the pre-aggregated (word, freq) vocabulary relation, argmax
        # collected as a single bounded row, merge applied as a pure
        # string expression.  The oracle replays all 5 rounds with
        # chained CTEs using the identical pinned double-replace merge
        # semantics; tie-break is (count desc, pair asc) — exact
        # integer counts make this fully deterministic cross-engine.
        return bpe_train(load_table(spark, sf_dir, "documents"), n_merges=5)

    def q_bpe_tokenize(spark, sf_dir):
        # BPE apply (q_bpe_train's twin): tokenize the corpus under
        # the learned 5-merge list and report per-doc word/token
        # counts — the sizing pass before sequence packing.  The
        # merge chain is applied once to the distinct-word VOCABULARY
        # and broadcast-joined back to the exploded (doc, word)
        # stream: the corpus never passes through the merge
        # expressions and the big side never shuffles for the join.
        merges_df = bpe_train(load_table(spark, sf_dir, "documents"), n_merges=5)
        merges = [
            (r["pair"], r["merged"]) for r in merges_df.orderBy("rank").collect()
        ]  # bounded: 5 rows
        return bpe_tokenize(load_table(spark, sf_dir, "documents"), merges)

    def q_bpe_fertility(spark, sf_dir):
        # Tokenizer-coverage readout: per-language fertility (tokens
        # per word, integer ppm) under the shared learned merges —
        # the standard multilingual-tokenizer-fit metric.  Same
        # vocabulary-broadcast shape as q_bpe_tokenize; one map-side-
        # combined groupBy on language.
        merges_df = bpe_train(load_table(spark, sf_dir, "documents"), n_merges=5)
        merges = [
            (r["pair"], r["merged"]) for r in merges_df.orderBy("rank").collect()
        ]
        return bpe_fertility(load_table(spark, sf_dir, "documents"), merges)

    def q_train_split(spark, sf_dir):
        # Deterministic hash-based 90/5/5 train/val/test assignment.
        docs = load_table(spark, sf_dir, "documents")
        return train_split(docs).select("doc_id", "lang", "split")

    def q_group_sample(spark, sf_dir):
        # Exactly-k-per-language deterministic sample (balanced eval
        # subset selection): k smallest salted-md5 ranks per group,
        # exact sizes, engine-reproducible ordering.
        docs = load_table(spark, sf_dir, "documents")
        return group_sample_exact(
            docs, group_by=["lang"], id_col="doc_id", k=20
        ).select("doc_id", "lang", "sample_rank")

    def q_stratified_sample(spark, sf_dir):
        # Per-language Bernoulli downsampling (domain mixing): the
        # rates below exercise explicit rates, rate 1.0, and the
        # default rate for strata absent from the table (es/fr).
        docs = load_table(spark, sf_dir, "documents")
        return stratified_sample(
            docs, {"en": 0.25, "de": 1.0, "zh": 0.5}, default_rate=0.1
        ).select("doc_id", "lang")

    def q_rollup_revenue(spark, sf_dir):
        # ROLLUP subtotals: leaf/flag/grand-total revenue in one pass.
        return revenue_rollup(load_table(spark, sf_dir, "lineitem"))

    def q_event_pivot(spark, sf_dir):
        # Long-to-wide per-user activity matrix (explicit pivot values).
        return event_type_pivot(load_table(spark, sf_dir, "events"))

    def _tri_1995(spark, sf_dir):
        # Triangle counts over the 1995 co-purchase graph, shared by
        # q_triangles and q_clustering_coeff.
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        # strategy="auto": the production default — broadcast
        # adjacency while it fits the session threshold, graceful
        # degradation to the wedge shuffle join beyond it (both
        # count the same set; the testdata sits on the adjacency
        # side, the 100-TB graph on the wedge side).
        return triangle_counts(edges, strategy="auto").localCheckpoint(eager=True)

    def q_triangles(spark, sf_dir):
        # Per-vertex triangle counts over the 1995-ship-year part
        # co-purchase graph (degree-ordered compact-forward with
        # broadcast adjacency intersection).
        return _tri_1995(spark, sf_dir)

    def _pagerank_both(spark, sf_dir):
        # ONE build + ONE superstep loop: the weighted symmetric
        # co-purchase graph has the same edge set as the unweighted
        # one (a pair exists iff cnt >= 1); pagerank_prepare computes
        # both degree flavors in a single groupBy and
        # pagerank_fixed_both walks the loop once with both update
        # rules as two integer measures per round — q_pagerank and
        # q_pagerank_weighted each project their columns from it.
        base = copurchase_weighted_edges(spark, sf_dir)
        n_edges = base.count()  # warm the shared weighted-edge cache
        wsym = copurchase_weighted_edges(spark, sf_dir, symmetric=True)
        # assume_symmetric: the union IS symmetric by construction,
        # so prepare derives the vertex set from the out-degree
        # aggregation instead of a |V|+|E|-row distinct (r13).
        g = pagerank_prepare(wsym, weight_col="cnt", assume_symmetric=True)
        # Scale-adaptive loop width (the q_msf pattern; r13 sweep
        # over the co-partitioned loop: 8 beats 4 by ~15% at
        # sf0.1's 2.4M symmetric edges, which is what
        # _iter_loop_width derives).
        return pagerank_fixed_both(
            g, iters=5, loop_shuffle_partitions=_iter_loop_width(2 * n_edges)
        )

    def q_pagerank(spark, sf_dir):
        # Fixed-point PageRank (integer units of 1e-12) over the
        # symmetric co-purchase graph — exact cross-engine value
        # oracle because every step is integer arithmetic.  Uniform
        # rule (r div outdeg_unit) projected from the fused loop.
        both = _pagerank_both(spark, sf_dir)
        return both.select(
            "vertex",
            F.col("rank_scaled_u").alias("rank_scaled"),
            F.col("rank_u").alias("rank_val"),
        )

    def q_pagerank_weighted(spark, sf_dir):
        # Weight-proportional PageRank: co-occurrence counts as edge
        # weights, splits by total out-weight — still all-integer;
        # projected from the same fused loop as q_pagerank.
        both = _pagerank_both(spark, sf_dir)
        return both.select(
            "vertex",
            F.col("rank_scaled_w").alias("rank_scaled"),
            F.col("rank_w").alias("rank_val"),
        )

    def q_degree_hist(spark, sf_dir):
        # Log2-binned degree distribution of the co-purchase graph
        # (integer bit-length bucketing — no float log2).
        return degree_histogram(copurchase_edges(spark, sf_dir))

    def _linkpred_1995(spark, sf_dir):
        # The superset score frame (common, jaccard, ra_scaled, ra)
        # that q_common_neighbors / q_link_pred project from.
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        return link_prediction_scores(edges, min_common=2).localCheckpoint(
            eager=True
        )

    def q_common_neighbors(spark, sf_dir):
        # Link prediction: non-adjacent part pairs sharing >= 2
        # co-purchase neighbors, with exact Jaccard scores.
        return _linkpred_1995(spark, sf_dir).select("u", "v", "common", "jaccard")

    def q_clustering_coeff(spark, sf_dir):
        # Local clustering coefficient over the 1995 co-purchase
        # graph: triangle_counts composed with the degree aggregation
        # (shares the session-cached edge base with the triangles /
        # common-neighbors family); coeff is one IEEE division of
        # exact integers, so the oracle is value-exact.
        return clustering_coefficient(
            copurchase_edges(spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")),
            triangles=_tri_1995(spark, sf_dir),
        )

    def q_link_pred(spark, sf_dir):
        # Resource-allocation link prediction (degree-penalized
        # common neighbors, integer-exact via scale-div-degree
        # weights) over the same pair set as q_common_neighbors —
        # both project from the one cached wedge expansion.
        return _linkpred_1995(spark, sf_dir).select(
            "u", "v", "common", "ra_scaled", "ra"
        )

    def q_series_sim(spark, sf_dir):
        # Time-series similarity search (profile form): 24-bin
        # hour-of-day activity profiles in integer cents, top-20
        # entities by exact dot product against user 1's profile —
        # linear one-vs-all (no pairwise expansion), ties on user id.
        return activity_profile_similarity(
            load_table(spark, sf_dir, "events"), ref_user=1, k=20
        )

    def q_ppr(spark, sf_dir):
        # Personalized PageRank (random walk with restart) from the 8
        # smallest part ids of the 1995 co-purchase graph — the
        # "related products" relatedness query; integer fixed-point
        # loop, teleport confined to the source set, value-exact
        # against the unrolled SQL rounds.
        edges = copurchase_edges(
            spark, sf_dir, symmetric=True, ship_range=("1995-01-01", "1996-01-01")
        )
        sources = (
            edges.select(F.col("src").alias("v")).distinct().orderBy("v").limit(8)
        )
        return personalized_pagerank_fixed(
            edges, sources, loop_shuffle_partitions=8, assume_symmetric=True
        )

    def q_communities(spark, sf_dir):
        # Strong-tie communities: the products repeatedly bought
        # together (co-purchase multiplicity >= 2) clustered by
        # hash-min connected components — the classic market-basket
        # community detection, and the deterministic counterpart of
        # label propagation (ties make LPA order-dependent; CC over
        # the thresholded graph is its unique-fixpoint core).  The
        # threshold keeps the community graph sparse at ANY scale
        # (3.4k edges at sf0.01, 3.6k at sf0.1 from 115k/1.2M raw
        # pairs) — multiplicity-thresholding IS the scale knob.
        # Plain hash-min: path doubling (one extra labels-to-labels
        # join per round) measured slower same-boot at sf0.1 — 3.9 s
        # vs 3.5 s — because the strong graph's diameter is only 8.
        w, strong = _strong_edges(spark, sf_dir)
        sym = strong.unionAll(
            strong.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        return _loop_parts(
            spark,
            lambda: connected_components(sym, loop_shuffle_partitions=4),
            n=4,
            warm=(w,),
        )

    def _strong_edges(spark, sf_dir):
        w = copurchase_weighted_edges(spark, sf_dir)
        return w, w.where(F.col("cnt") >= 2).select("src", "dst")

    def q_sssp(spark, sf_dir):
        # Weighted shortest paths (integer traversal costs from
        # co-occurrence counts) from the lowest part id, SPFA
        # frontier.  (A max-degree "central" source was measured
        # SLOWER despite fewer supersteps: flooding out of the hub
        # keeps the frontier graph-sized for every round, while the
        # peripheral source's frontiers stay small.)
        wsym = copurchase_weighted_edges(
            spark, sf_dir, symmetric=True, ship_range=("1995-01-01", "1996-01-01")
        )
        src = wsym.agg(F.min("src")).collect()[0][0]
        if src is None:  # empty window -> empty result, not a crash
            return spark.createDataFrame([], "vertex long, dist long")
        # Frontiers are <= a few thousand rows; 4 loop partitions keeps
        # the ~18-round superstep loop off the per-task scheduling
        # floor (measured at sf0.1: 8 -> 4 saves ~15%; 2 is marginally
        # faster still but leaves no headroom for wider frontiers) and
        # _iter_loop_width grows the width past sf0.1 (the relaxation join
        # still carries O(edges) rows even when frontiers are small).
        # probe_every=3 amortizes the convergence-probe action over
        # three chained relaxations (identical fixpoint; ~35% off).
        return sssp(
            wsym, int(src),
            loop_shuffle_partitions=_iter_loop_width(wsym.count()), probe_every=3,
        )

    def q_returned_revenue(spark, sf_dir):
        # TPC-H Q10 shape: top-20 customers by returned-item revenue
        # in one quarter; per-customer aggregation BELOW the customer
        # join, broadcast nation, TakeOrderedAndProject top-k.
        return returned_item_revenue(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "nation"),
        )

    def q_order_priority(spark, sf_dir):
        # TPC-H Q4 shape: EXISTS rewritten as a LEFT SEMI join — the
        # lineitem side contributes only a deduplicated orderkey bag.
        return order_priority_check(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
        )

    def q_shipmode_stats(spark, sf_dir):
        # TPC-H Q12 shape: conditional aggregation (SUM of CASE) folds
        # high/low priority counts into one pass over the joined rows.
        return shipmode_priority_stats(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
        )

    def q_promo_revenue(spark, sf_dir):
        # TPC-H Q14 shape: promo revenue share — broadcast (partkey,
        # is_promo) dim, numerator+denominator from ONE conditional agg.
        return promo_revenue_share(
            load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
        )

    def q_big_orders(spark, sf_dir):
        # TPC-H Q18 shape: HAVING-aggregation-first — lineitem
        # collapses to (orderkey, qty) before any join; top-k via
        # TakeOrderedAndProject.
        return large_quantity_orders(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
        )

    def q_prefix_join(spark, sf_dir):
        # EXACT set-similarity self-join by prefix filtering (PPJoin
        # family) at token-Jaccard >= 0.8: frequency-ordered prefixes
        # make the candidate index buckets each doc's rarest tokens,
        # never all-pairs; threshold test cross-multiplied to longs.
        # Bounded to the _RECALL_DOCS id prefix — the SYNTHETIC corpus
        # is template-generated and pathologically self-similar (24%
        # of ALL pairs pass 0.8 at sf0.1 -> the OUTPUT itself is
        # quadratic, 3M pairs; measured 115 s), which no exact join
        # can avoid; on real corpora where high similarity is sparse,
        # the prefix filter is the full-corpus exact path.  Same
        # bounded-verification posture as q_ngram_jaccard.
        docs = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") < _RECALL_DOCS
        )
        return prefix_jaccard_join(docs)

    def q_forecast_rev(spark, sf_dir):
        # TPC-H Q6 shape: four pushed predicates, zero joins, one
        # decimal-exact map-side-combined aggregate — the pure
        # pruned-scan query.
        return forecast_revenue(load_table(spark, sf_dir, "lineitem"))

    def q_small_qty_rev(spark, sf_dir):
        # TPC-H Q17 shape: correlated scalar subquery decorrelated
        # into a per-part pre-aggregation, avg gate cross-multiplied
        # to exact decimals (no division in the predicate).
        return small_quantity_revenue(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part"),
        )

    def q_disjunctive_rev(spark, sf_dir):
        # TPC-H Q19 shape: OR-of-ANDs split into a pre-broadcast part
        # filter + residual joined predicate; zero shuffles end to end.
        return disjunctive_part_revenue(
            load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
        )

    def q_stream_rollup(spark, sf_dir):
        # STRUCTURED STREAMING under the value oracle: the per-(day,
        # type) event rollup runs as a finite stream (availableNow ->
        # memory sink) and must equal the batch GROUP BY exactly —
        # every measure is an integer/decimal aggregate, so micro-
        # batch boundaries and state-update order cannot perturb it.
        import os

        # Narrow drive width: state stores per shuffle partition pay
        # an open/commit floor that dominates bounded-cardinality
        # aggregations (the q_stream_attrib rationale).
        return _loop_parts(
            spark,
            lambda: run_event_rollup_batch(
                spark, os.path.join(sf_dir, "events.parquet")
            ),
            n=4,
        )

    def q_assoc_rules(spark, sf_dir):
        # Market-basket association rules over the full basket table
        # (the q_communities window — repeat pairs need the full
        # history): 2-itemset support / integer-scaled confidence +
        # lift, rules pruned by min support BEFORE the dimension joins.
        li = load_table(spark, sf_dir, "lineitem")
        return association_rules(
            li, "l_orderkey", "l_partkey", min_pair_count=2
        )

    def q_trailing_spend(spark, sf_dir):
        # VALUE-based RANGE window frame: per-customer trailing-30-day
        # spend over an integer day number — sparse histories span the
        # full calendar window, same-day orders aggregate together
        # (the frame shape ROWS windows cannot express).
        return trailing_window_spend(load_table(spark, sf_dir, "orders"))

    def q_grouping_sets(spark, sf_dir):
        # Arbitrary GROUPING SETS (leaf grid + a different dimension's
        # marginals + grand total) in ONE map-side-combined shuffle —
        # the general multi-grain aggregation ROLLUP can't express.
        return revenue_grouping_sets(load_table(spark, sf_dir, "lineitem"))

    def q_skyline(spark, sf_dir):
        # 2-D Pareto frontier over parts (size up, price down): the
        # two-phase distributed skyline — per-size min-price
        # candidates, broadcast strict-dominance anti-join, semi-join
        # back.  Never an all-pairs dominance join.
        return skyline_2d(
            load_table(spark, sf_dir, "part"),
            maximize="p_size",
            minimize="p_retailprice",
        ).select("p_partkey", "p_size", "p_retailprice")

    def q_stream_enrich(spark, sf_dir):
        # The NINTH streaming shape: STREAM-STATIC broadcast
        # enrichment join (streamed purchases x static signup dim —
        # stateless join, bounded aggregation state), value-exact
        # against the batch join + GROUP BY.
        import os

        return _loop_parts(
            spark,
            lambda: run_enrich_batch(
                spark, os.path.join(sf_dir, "events.parquet")
            ),
            n=4,
        )

    def q_pack_sequences(spark, sf_dir):
        # Training-sequence packing (concat-then-chunk): per-language
        # token tape cut into 256-token packs, all integer arithmetic,
        # one lang-partitioned window shuffle.
        return pack_sequences(load_table(spark, sf_dir, "documents"), budget=256)

    def q_stream_corpus(spark, sf_dir):
        # Streaming twin of the per-language corpus rollup: stateful
        # aggregation (state = one row per language) driven to
        # completion; integer measures == batch GROUP BY exactly.
        import os

        return _loop_parts(
            spark,
            lambda: run_corpus_stats_batch(
                spark, os.path.join(sf_dir, "documents.parquet")
            ),
            n=4,
        )

    def q_stream_attrib(spark, sf_dir):
        # STREAM-STREAM interval join under the value oracle: clicks
        # joined to the same user's purchase within 2 hours, driven as
        # a finite stream — the match SET equals the batch interval
        # join exactly (inner joins emit the predicate's matches;
        # micro-batching can't change the set within the watermark
        # horizon), which is what the SQL oracle computes.
        import os

        # Narrow width for the drive: each shuffle partition carries a
        # state store for BOTH join sides, and the per-store
        # open/commit floor dominates at this volume — the same
        # partitions-sized-to-the-data rationale as _loop_parts.
        return _loop_parts(
            spark,
            lambda: run_attribution_batch(
                spark, os.path.join(sf_dir, "events.parquet")
            ),
            n=4,
        )

    def q_stream_sessions(spark, sf_dir):
        # SESSION WINDOWS under the value oracle: per-user gap
        # sessionization as a stateful streaming aggregation driven to
        # completion — sessions are the connected components of the
        # <gap adjacency, so the completed result is split-invariant;
        # integer counts + exact decimal sums make it value-exact
        # against the SQL gap rule (boundary at diff >= gap,
        # session_window's own semantics).  Session starts emitted as
        # epoch micros (timezone-free).
        import os

        return _loop_parts(
            spark,
            lambda: run_sessions_batch(
                spark, os.path.join(sf_dir, "events.parquet")
            ),
            n=4,
        )

    def q_rare_bigrams(spark, sf_dir):
        # Frequency-based quality filter: per-doc fraction of corpus-
        # rare bigrams (count <= 2) — the integer-exact stand-in for
        # perplexity filtering (no LM, no float summation).
        return rare_bigram_rate(load_table(spark, sf_dir, "documents"))

    def q_cust_order_dist(spark, sf_dir):
        # TPC-H Q13 shape: per-customer order-count distribution with
        # zero-order customers preserved by the left join; orders are
        # pre-aggregated so the join never carries raw fact rows.
        return customer_order_distribution(
            load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
        )

    def q_nation_volume(spark, sf_dir):
        # TPC-H Q7 shape: cross-nation shipped revenue by year between
        # NATION_1 and NATION_2 (both directions), broadcast dims
        # filtered before broadcasting, one fact-fact shuffle.
        return nation_trade_volume(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
        )

    def q_pipeline_stats(spark, sf_dir):
        # End-to-end corpus prep: exact-dedup keepers -> token/quality
        # gate -> deterministic split -> per-(split, lang) accounting.
        return corpus_prep_stats(load_table(spark, sf_dir, "documents"))

    def q_gapfill(spark, sf_dir):
        # Dense hourly grid per event type with forward fill — the
        # gap-filling half of the hypertable surface.
        return time_gapfill(load_table(spark, sf_dir, "events"))

    def q_cms_counts(spark, sf_dir):
        # Engine-portable count-min sketch: per-type frequency
        # estimates (min over 4 row-salted md5 cells) joined with the
        # exact counts — the sketch never under-counts, and the oracle
        # computes the identical cells, so values hash-match.
        events = load_table(spark, sf_dir, "events")
        cms = cms_table(events, "event_type")
        est = cms_estimate(cms, events.select("event_type"), "event_type")
        exact = events.groupBy(F.col("event_type").alias("item")).agg(
            F.count("*").cast("long").alias("n_exact")
        )
        return exact.join(est, "item")

    def q_salted_join(spark, sf_dir):
        # Static skew mitigation under the correctness gate: the salted
        # (key, salt) join must produce exactly the rows of the plain
        # inner join the oracle runs — salting redistributes, never
        # changes the result.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.partitioning import (
            salted_join,
        )

        events = load_table(spark, sf_dir, "events").select("user_id", "value")
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_nationkey"
        )
        j = salted_join(events, cust, "user_id")
        return j.groupBy(F.col("c_nationkey").cast("long").alias("nation")).agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
            ).alias("total_value"),
        )

    def q_kmv_overlap(spark, sf_dir):
        # Set-EXPRESSION estimation, the capability HLL lacks: KMV
        # theta sketches of click vs purchase distinct-user sets,
        # union and intersection estimated from 2x256 hashes, with
        # the exact counts alongside as the accuracy contract.  md5
        # selection + 52-bit hash fractions make every estimate
        # byte-replayable in SQL.
        # k=64 keeps the sketch REGIME engaged at sf0.01's ~150
        # distinct users (k=256 would hold every value and the
        # estimator path would never be oracle-exercised).
        ev = load_table(spark, sf_dir, "events").where(
            F.col("event_type").isin("click", "purchase")
        )
        sk = kmv_sketch(ev, "user_id", group_by=["event_type"], k=64)
        est = kmv_intersect_estimate(sk, "event_type", "click", "purchase", k=64)
        clicks = ev.where(F.col("event_type") == "click")
        purchases = ev.where(F.col("event_type") == "purchase")
        exact = (
            ev.agg(F.count_distinct("user_id").cast("long").alias("n_union_exact"))
            .crossJoin(
                clicks.select("user_id")
                .intersect(purchases.select("user_id"))
                .agg(F.count("*").cast("long").alias("n_inter_exact"))
            )
        )
        return est.crossJoin(exact)

    def q_hll_merged(spark, sf_dir):
        # Sketch MERGEABILITY at the query level: the global distinct
        # estimate is computed by max-merging the per-event-type
        # register tables (never re-reading the data) — the
        # distributed-aggregation property that makes HLL usable as
        # partial state; the oracle computes registers globally, and
        # the hash match proves merge == direct.
        events = load_table(spark, sf_dir, "events")
        per_type = hll_registers(events, "user_id", group_by=["event_type"])
        merged = per_type.groupBy("bucket").agg(F.max("reg").alias("reg"))
        approx = hll_estimate(merged)
        exact = events.agg(
            F.count_distinct("user_id").cast("long").alias("n_exact")
        )
        return exact.crossJoin(approx)

    def q_quantile_sample(spark, sf_dir):
        # Sampling accuracy contract: exact p50/p90/p99 of extended
        # price PER SHIP MONTH vs the same quantiles over a
        # deterministic 10% sample, with measured absolute error — one
        # scan, value-exact oracle.  The ~84 month strata keep the
        # exact percentile parallel across groups (no single-global-
        # group gather in the plan), and each stratum's gather is
        # bounded by a month of data, not the whole table.
        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "ship_month", F.date_format("l_shipdate", "yyyy-MM")
        )
        key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
        return sample_quantile_err(
            li, F.col("l_extendedprice"), key, group_by=["ship_month"]
        )

    def q_running_spend(spark, sf_dir):
        # Cumulative spend per customer (explicit ROWS frame, decimal
        # prefix sums, deterministic tie-break).
        return running_customer_spend(load_table(spark, sf_dir, "orders"))

    def q_csv_io(spark, sf_dir):
        # Distributed CSV sink+scan roundtrip (explicit schema, no
        # inference pass); the oracle recomputes straight from parquet,
        # so the hash match IS the losslessness proof.
        import tempfile

        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.fileio import (
            read_csv,
            write_csv,
        )

        nation = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        path = tempfile.mkdtemp(prefix="sparkgraft_csv_") + "/nation"
        write_csv(nation, path)
        back = read_csv(
            spark, path, "n_nationkey long, n_name string, n_regionkey long"
        )
        return back.groupBy("n_regionkey").agg(
            F.count("*").cast("long").alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )

    def q_orc_io(spark, sf_dir):
        # ORC sink+scan roundtrip (the Hive-ecosystem columnar
        # format; pushdown/pruning parity with Parquet).  Oracle
        # recomputes from parquet — hash match = losslessness.
        import tempfile

        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.fileio import (
            read_orc,
            write_orc,
        )

        supplier = load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
        )
        path = tempfile.mkdtemp(prefix="sparkgraft_orc_") + "/supplier"
        write_orc(supplier, path)
        back = read_orc(
            spark, path,
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        )
        return back.groupBy("s_nationkey").agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.min("s_name").alias("first_name"),
            F.round(
                F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double"), 4
            ).alias("bal_sum"),
        )

    def q_jsonl_io(spark, sf_dir):
        # JSON-lines sink+scan roundtrip over the documents corpus
        # (text with newlines survives via JSON escaping).
        import tempfile

        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.fileio import (
            read_jsonl,
            write_jsonl,
        )

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        path = tempfile.mkdtemp(prefix="sparkgraft_jsonl_") + "/docs"
        write_jsonl(docs, path)
        back = read_jsonl(spark, path, "doc_id long, lang string, text string")
        return back.groupBy("lang").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )

    def q_bucketed_table(spark, sf_dir):
        # Bucketed-table sink+scan roundtrip — the ingest layout
        # SCALE.md prescribes for digest-keyed dedup, under the
        # official gate: the corpus is published bucketBy(8,
        # text_hash) with the digest precomputed at ingest, read back
        # through the catalog, and exact-deduped.  The aggregation
        # consumes the table's bucketing, so the recurring dedup pass
        # is SCAN-ONLY — zero exchanges (the plan shape pinned by
        # test_plans.py::test_exact_dedup_on_digest_bucketed_table_
        # no_exchange); only the publish shuffles.  The
        # oracle recomputes from the original parquet, so the hash
        # match is the layout's losslessness proof (the CSV/ORC/JSONL
        # roundtrip contract, extended to the bucketed metastore
        # sink).
        # One table at one fixed location under the warehouse dir,
        # overwritten on every call: repeat calls, sf_dir switches and
        # later sessions leave no stale table or directory behind.  The
        # explicit path (not a managed table) lets the overwrite reuse
        # a location an earlier session's in-memory catalog left on
        # disk, which a managed CTAS refuses.
        name = "docs_bucketed"
        path = spark.conf.get("spark.sql.warehouse.dir").rstrip("/") + "/" + name
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", F.md5("text").alias("text_hash"))
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(8, "text_hash")
            .sortBy("text_hash")
            .format("parquet")
            .saveAsTable(name)
        )
        return (
            spark.table(name)
            .groupBy("text_hash")
            .agg(
                F.count("*").cast("long").alias("n_dups"),
                F.min("doc_id").cast("long").alias("keep_id"),
            )
        )

    def q_schema_merge(spark, sf_dir):
        # SCHEMA EVOLUTION roundtrip: a v1 writer lays down 2-column
        # files, a later v2 writer appends a third column to the same
        # directory, and a mergeSchema read reconciles them — v1 rows
        # surface NULL for the new column (the lakehouse
        # add-a-column-without-rewrite contract).  The oracle
        # recomputes from the source with an explicit NULL projection,
        # so the hash match proves the merge is lossless and typed.
        import tempfile

        nation = load_table(spark, sf_dir, "nation")
        path = tempfile.mkdtemp(prefix="sparkgraft_evolve_") + "/t"
        v1 = nation.where(F.col("n_nationkey") % 2 == 0).select(
            F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name"
        )
        v2 = nation.where(F.col("n_nationkey") % 2 == 1).select(
            F.col("n_nationkey").cast("long").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("long").alias("n_regionkey"),
        )
        v1.write.parquet(path)
        v2.write.mode("append").parquet(path)
        back = spark.read.option("mergeSchema", "true").parquet(path)
        return back.groupBy(
            F.coalesce("n_regionkey", F.lit(-1)).cast("long").alias("region")
        ).agg(
            F.count("*").cast("long").alias("n_nations"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
            F.min("n_name").alias("first_name"),
        )

    def q_kcore(spark, sf_dir):
        # 2-core of the 1995 co-purchase graph: survivors + in-core
        # degree via iterative peeling (unique fixpoint).
        edges = copurchase_edges(spark, sf_dir, ship_range=("1995-01-01", "1996-01-01"))
        # Materialize the shared edge cache at session width BEFORE the
        # loop narrows (the _loop_parts warm rationale), then let the
        # operator's own scoped conf drive the peel loop: width 4 (the
        # sssp rationale — alive-set rows are tiny and the loop pays
        # the per-task floor rounds x partitions times; 8 -> 4 saves
        # ~15% at sf0.1) with the probe amortized over 2 chained peels.
        edges.count()
        return kcore(edges, k=2, loop_shuffle_partitions=4, probe_every=2)

    def q_request_replies(spark, sf_dir):
        # O12 end-to-end: dispatch a fixed BFS + DFS request pair over
        # the derived tree and format the reference-style reply strings.
        edges = derived_tree_edges(spark, sf_dir, symmetric=True)
        reqs = spark.createDataFrame(
            [(1, 4, 1, ROOT_VID), (2, 3, 1, ROOT_VID)],
            "seq_no int, op_no int, graph_id int, start_vertex int",
        )
        return _loop_parts(spark, lambda: format_reply(run_requests(reqs, edges)), warm=(edges,))

    def q_stream_requests(spark, sf_dir):
        # The reference's LONG-RUNNING lifecycle (while(1) server
        # loops, load_balancer.c:47, secondary_server.c:363) under the
        # value oracle: 25 read requests (one per nation vertex, BFS
        # for even keys / DFS-leaves for odd) are staged as queue
        # files, drained in 2 scheduled micro-batch cycles through the
        # streaming server (schedule -> dispatch -> reply rows), and
        # the ACCUMULATED replies must equal a one-shot batch dispatch
        # — which is exactly what the SQL oracle computes.
        edges = derived_tree_edges(spark, sf_dir, symmetric=True)
        nation = load_table(spark, sf_dir, "nation")
        reqs = nation.select(
            (F.col("n_nationkey") + 1).cast("int").alias("seq_no"),
            F.when(F.col("n_nationkey") % 2 == 0, 4)
            .otherwise(3)
            .cast("int")
            .alias("op_no"),
            F.lit("G1.txt").alias("graph_name"),
            (F.col("n_nationkey") + 100).cast("int").alias("start_vertex"),
        )
        # Loop width 16 (r13 re-measure under the de-gamed protocol):
        # the 25-request drain's deep frontiers carry ~180k rows per
        # level — wide enough that width 4 (tuned against cache-hit
        # numbers) starved the superstep shuffles; the sweep at sf0.1
        # reads 3.8/3.8/3.3/3.5 s per dispatch at widths 4/8/16/32.
        return _loop_parts(
            spark,
            lambda: format_reply(
                serve_requests_available_now(spark, reqs, edges, n_cycles=2)
            ),
            n=16,
            warm=(edges,),
        )

    def q_bloom_join(spark, sf_dir):
        # Engine-portable Bloom filter (md5 cells, same portability
        # posture as the HLL/CMS) used the way a 100-TB pipeline uses
        # it: bits built from the orders' customer keys broadcast
        # against a probe side.  The output is the measured membership
        # contract — Bloom never misses a member (n_maybe >=
        # n_members) and the false positives are exactly countable
        # against the real key set; every cell is replayed by the SQL
        # oracle, so the numbers are value-exact, not a rows-only
        # check.
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer")
        bits = bloom_bits(orders, "o_custkey")
        probe = bloom_probe(bits, cust, "c_custkey")
        members = (
            orders.select(F.col("o_custkey").alias("item"))
            .distinct()
            .withColumn("member", F.lit(1))
        )
        return probe.join(members, "item", "left").agg(
            F.count("*").cast("long").alias("n_probed"),
            F.count("member").cast("long").alias("n_members"),
            F.sum(F.col("maybe").cast("long")).cast("long").alias("n_maybe"),
            F.sum((F.col("maybe") & F.col("member").isNull()).cast("long"))
            .cast("long")
            .alias("n_false_pos"),
        )

    def q_decontam(spark, sf_dir):
        # Benchmark decontamination: docs with doc_id % 20 == 0 play
        # the held-out eval set, the rest are train; any shared token
        # 5-gram flags contamination (the GPT-3-style n-gram overlap
        # test, n scaled to the short synthetic docs).  Planted
        # near-duplicates in the corpus make the hits real.
        docs = load_table(spark, sf_dir, "documents")
        ev = docs.where(F.col("doc_id") % 17 == 0)
        tr = docs.where(F.col("doc_id") % 20 != 0)
        return decontaminate(tr, ev, ngram_len=5)

    def q_pii_redact(spark, sf_dir):
        # Corpus PII scrubbing over deterministically dirtied text
        # (planted email / IP / phone per doc_id residue classes —
        # the synthetic docs contain no real PII, so the redaction
        # must earn its counts): per-doc category counts + the md5 of
        # the cleaned text, all byte-replayed by the oracle.
        docs = load_table(spark, sf_dir, "documents")
        dirty = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 4 == 0,
                    F.concat(
                        F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.concat(
                        F.lit(" from 10.0.0."), (F.col("doc_id") % 256).cast("string")
                    ),
                ).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 3 == 0, F.lit(" call 555-123-4567")).otherwise(
                    F.lit("")
                ),
            ).alias("text"),
        )
        return redact_pii(dirty).select(
            "doc_id", "n_emails", "n_ips", "n_phones",
            F.md5("clean_text").alias("clean_md5"),
        )

    def q_chunks(spark, sf_dir):
        # Sequence prep: 64-token chunks, stride 48 (16-token overlap);
        # chunk identity is the md5 of the joined tokens, so the oracle
        # check is value-exact per chunk without shipping chunk text.
        docs = load_table(spark, sf_dir, "documents")
        return chunk_documents(docs, chunk_size=64, stride=48)

    def q_ship_priority(spark, sf_dir):
        # TPC-H Q3 shape: top-10 undelivered BUILDING-segment orders
        # by discounted revenue as of 1998-06-01.
        return ship_priority(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            segment="BUILDING",
            date="1998-06-01",
            k=10,
        )

    def q_local_supplier(spark, sf_dir):
        # TPC-H Q5 shape: 1997 per-nation revenue where customer and
        # supplier share an ASIA nation.
        return local_supplier_volume(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region"),
            region_name="ASIA",
            date_from="1997-01-01",
            date_to="1998-01-01",
        )

    def q_stream_dedup(spark, sf_dir):
        # The last streaming shape to come under the value oracle
        # (round-5 verdict #4): watermarked first-seen dedup driven to
        # completion; the surviving DIGEST SET is micro-batch-order
        # invariant and equals batch exact_dedup's keeper hashes,
        # which the oracle's SELECT DISTINCT md5(text) checks.
        import os

        return _loop_parts(
            spark,
            lambda: run_dedup_batch(
                spark, os.path.join(sf_dir, "documents.parquet")
            ),
            n=4,
        )

    def q_edge_merge(spark, sf_dir):
        # Edge-level incremental mutation (round-5 verdict #6): on the
        # two-graph catalog, delete graph 1's root->region edges, then
        # upsert five root->nation shortcuts PLUS 20 already-present
        # nation->customer edges (the no-op half of upsert) — deletes
        # first, anti-join + union + distinct, graph 2 untouched.
        db = _db_two_graphs(spark, sf_dir)
        nation = load_table(spark, sf_dir, "nation")
        customer = load_table(spark, sf_dir, "customer")
        region = load_table(spark, sf_dir, "region")
        deletes = region.select(
            F.lit(999).cast("long").alias("src"),
            F.col("r_regionkey").cast("long").alias("dst"),
        )
        inserts = nation.where(F.col("n_nationkey") < 5).select(
            F.lit(999).cast("long").alias("src"),
            (F.col("n_nationkey") + 100).cast("long").alias("dst"),
        ).unionAll(
            customer.where(F.col("c_custkey") <= 20).select(
                (F.col("c_nationkey") + 100).cast("long").alias("src"),
                (F.col("c_custkey") + 1000).cast("long").alias("dst"),
            )
        )
        return _merge_edges(
            db, graph_id=1, insert_pairs=inserts, delete_pairs=deletes
        )

    def q_stream_upsert(spark, sf_dir):
        # The TENTH streaming shape: UPDATE-mode per-user spend
        # rollup merged by foreachBatch into a keyed upsert view
        # (anti-join changed keys + union, fresh version dir per
        # micro-batch — the Delta-MERGE contract from primitives).
        # Events staged as 3 arrival files, one per trigger, so the
        # merge path really runs multi-batch; final == batch GROUP BY.
        import os

        return _loop_parts(
            spark,
            lambda: run_spend_upsert_batch(
                spark, os.path.join(sf_dir, "events.parquet")
            ),
            n=4,
        )

    def q_scc(spark, sf_dir):
        # Strongly connected components of the DIRECTED top-2 trade
        # digraph: forward+backward hash-min labels ride one loop,
        # f==b pins complete SCCs, peel repeats on the rest (2 peels
        # measured).  The directed twin of q_connected_components.
        edges = trade_digraph(spark, sf_dir)
        edges.count()  # warm the shared digraph cache at session width
        return _loop_parts(
            spark,
            lambda: strongly_connected_components(
                edges, loop_shuffle_partitions=None
            ),
            n=4,
        )

    def _tt_deltas(spark, sf_dir):
        # The shared 3-version history: v1 = the derived tree, v2
        # deletes the root->region edges and inserts 5 root->nation
        # shortcuts, v3 deletes 2 of those shortcuts and re-inserts 2
        # root->region edges.  Consumed by q_time_travel and q_cdc.
        nation = load_table(spark, sf_dir, "nation")
        region = load_table(spark, sf_dir, "region")
        root_region = region.select(
            F.lit(999).cast("long").alias("src"),
            F.col("r_regionkey").cast("long").alias("dst"),
        )
        root_nation = nation.select(
            F.lit(999).cast("long").alias("src"),
            (F.col("n_nationkey") + 100).cast("long").alias("dst"),
        )
        return [
            (root_nation.where(F.col("dst") < 105), root_region),
            (
                root_region.where(F.col("dst") < 2),
                root_nation.where(F.col("dst") < 102),
            ),
        ]

    def q_time_travel(spark, sf_dir):
        # MVCC time travel over the 3-version delta log (the O9
        # snapshot-isolation strengthening).  All snapshots
        # reconstructed in ONE edge-keyed pass (interval algebra,
        # not sequential folds).
        return _snapshot_versions(
            _raw_tree_pairs(spark, sf_dir),
            _tt_deltas(spark, sf_dir),
            graph_id=1,
        )

    def q_cdc(spark, sf_dir):
        # Change-data-capture between v1 and v3 of the same history:
        # net add/del rows a consumer replays to advance a
        # materialized copy — intermediate churn cancels (the v2-only
        # shortcuts deleted again at v3 never appear), like Delta CDF
        # between two versions.
        return _snapshot_diff(
            _raw_tree_pairs(spark, sf_dir),
            _tt_deltas(spark, sf_dir),
            v_from=1,
            v_to=3,
            graph_id=1,
        )

    def _qvec0(emb):
        return [
            float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
        ]

    def _iter_loop_width(n_edges):
        # Loop shuffle width for the iterative graph loops: per-round
        # keyed joins carry O(edges), so width must GROW with the
        # graph.  4 partitions clears the per-task scheduling floor at
        # the shipped scales (round-6 A/B), one partition per ~300k
        # edges bounds partition size as data grows, capped at the 32
        # local cores (a real cluster would cap at executor cores).
        # The round-9 100x graph gate is what made this adaptive: a
        # constant 4 would push ~30M-row partitions through the
        # candidate joins at 120M edges.
        return max(4, min(32, int(n_edges) // 300_000))

    def q_pq_topk(spark, sf_dir):
        # Product-quantized ANN (round-5 verdict #7): 16 subspaces x
        # 128 sampled codewords (16 small ints per vector = 16 bytes
        # at code width 1 vs 256 bytes of floats; recall 0.8 measured
        # by q_pq_recall — the sweep over (m, n_codes) is in
        # BASELINE.md), ADC scoring off the codes alone — value-exact
        # because the oracle replays codebook selection, encoding
        # argmin, and the pinned float-add order.
        emb = load_table(spark, sf_dir, "embeddings")
        return pq_topk(emb, _qvec0(emb), 10, m=16, n_codes=128, train_iters=3)

    def q_ivfpq_topk(spark, sf_dir):
        # Residual IVF-PQ (the complete 100 TB ANN read path), FULLY
        # TRAINED (round-7 verdict #1): integer-Lloyd's coarse
        # quantizer (2 rounds) + integer-Lloyd's residual books
        # (m=32 x 128 codes, 2 rounds), probe 8 of 16 cells, score
        # only probed rows' (1+m)-int codes by ADC against
        # centroid+residual-codeword reconstructions — broadcast-LUT
        # JVM scoring, value-exact via the replayed training/encode/
        # float-add order; every cell argmin is exact int64, so the
        # whole pipeline is engine-exact (no float-order caveat).
        # Declared operating point: recall 0.9 @ query 0 (sf0.01 AND
        # sf0.1); mean recall@10 over 20 queries 0.77/0.79 (was 0.5
        # probe-capped at the old m=4/probe-4 sampled-cells config).
        emb = load_table(spark, sf_dir, "embeddings")
        return ivf_pq_topk(
            emb, _qvec0(emb), 10,
            n_probe=8, m=32, n_codes=128, train_iters=2, cell_iters=2,
        )

    def q_ivfpq_recall(spark, sf_dir):
        # Measured IVF-PQ quality vs exact cosine (the q_ivf_recall
        # pattern) — quantization error AND probe misses both count.
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        exact = cosine_topk(emb, qvec, 10).select("vec_id")
        approx = ivf_pq_topk(
            emb, qvec, 10,
            n_probe=8, m=32, n_codes=128, train_iters=2, cell_iters=2,
        ).select("vec_id")
        return exact.join(approx, "vec_id").agg(
            F.count("*").cast("long").alias("n_matched")
        ).select(
            F.lit(10).cast("long").alias("k"),
            "n_matched",
            F.round(F.col("n_matched") / 10.0, 6).alias("recall"),
        )

    def q_stream_edges(spark, sf_dir):
        # The SEVENTH streaming shape under the value oracle:
        # streaming graph ingest — raw tree pairs staged as arrival
        # batches, canonicalized in-flight with watermarked
        # first-seen dedup on the canonical pair, symmetrized after
        # the drive; result == batch add_graph (O1) row-for-row for
        # any batch split.
        return _loop_parts(
            spark,
            lambda: run_edge_ingest_batch(
                spark, _raw_tree_pairs(spark, sf_dir), graph_id=1
            ),
            n=4,
        )

    def q_funnel(spark, sf_dir):
        # Ordered funnel (sequence-pattern analytics): users advancing
        # signup -> view -> click -> purchase, each stage strictly
        # after the previous stage's first qualifying event; stage
        # tables broadcast against the pushed-predicate event scans.
        return funnel_stages(load_table(spark, sf_dir, "events"))

    def q_transitions(spark, sf_dir):
        # First-order Markov transition matrix over per-user event
        # sequences: LEAD keyed on user_id (bounded rows per key),
        # |types|^2 output, broadcast row totals, integer-div
        # probabilities.
        return event_transitions(load_table(spark, sf_dir, "events"))

    def q_order_gaps(spark, sf_dir):
        # Purchase-cadence windows (LAG): per-customer day gaps
        # between consecutive orders, all-integer aggregates; one
        # custkey shuffle serves both the window and the groupBy.
        return order_gap_stats(load_table(spark, sf_dir, "orders"))

    def q_retention(spark, sf_dir):
        # Weekly retention triangle: first-signup cohorts x active
        # week offsets (integral DIV), broadcast signup dim,
        # distinct over bare ids + small ints.
        return retention_cohorts(load_table(spark, sf_dir, "events"))

    def q_vector_stats(spark, sf_dir):
        # Higher-order array functions as a declared surface: per-row
        # dim / L2 norm / positive-component count / max-abs via
        # size, aggregate, filter, transform + array_max — all JVM
        # expressions over the embedding column, no UDF.
        emb = load_table(spark, sf_dir, "embeddings")
        v = F.col("embedding").cast("array<double>")
        return emb.select(
            "vec_id",
            F.size(v).cast("int").alias("dim"),
            F.round(
                F.sqrt(
                    F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
                ),
                4,
            ).alias("l2_norm"),
            F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
            F.round(
                F.array_max(F.transform(v, lambda x: F.abs(x))), 4
            ).alias("max_abs"),
        )

    def q_market_share(spark, sf_dir):
        # TPC-H Q8 shape: one nation's yearly share of a region's
        # ECONOMY-part revenue — numerator and denominator from ONE
        # conditional aggregation; the only fact-fact shuffle is
        # orders⋈lineitem.
        return nation_market_share(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region"),
            load_table(spark, sf_dir, "part"),
        )

    def q_top_supplier(spark, sf_dir):
        # TPC-H Q15 shape: quarterly revenue view + broadcast scalar
        # max filter, tie membership decided on the EXACT decimal sum.
        return top_supplier(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "supplier"),
        )

    def q_waiting_suppliers(spark, sf_dir):
        # TPC-H Q21 shape (ship-late adaptation): the EXISTS/NOT
        # EXISTS double correlation decorrelated into one per-order
        # supplier/late-supplier count joined back as integer
        # predicates.
        return waiting_suppliers(
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "nation"),
        )

    def q_idle_customers(spark, sf_dir):
        # TPC-H Q22 shape (nation-key adaptation): cross-multiplied
        # above-average balance predicate + left-anti join against the
        # distinct order custkeys.
        return idle_customers(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
        )

    def q_min_cost_supp(spark, sf_dir):
        # TPC-H Q2 shape: correlated min-cost subquery decorrelated
        # into a per-part min joined back on exact decimal equality;
        # the supply relation is derived from lineitem (no partsupp in
        # the testdata — cost = cheapest observed line price).
        return min_cost_supplier(
            load_table(spark, sf_dir, "part"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region"),
            load_table(spark, sf_dir, "lineitem"),
        )

    def q_product_profit(spark, sf_dir):
        # TPC-H Q9 shape: product-line profit by supplier nation x
        # order year; supply cost stand-in is the part's retail price.
        return product_profit(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "part"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
        )

    def q_important_parts(spark, sf_dir):
        # TPC-H Q11 shape: per-part share of one region's supply value
        # vs a broadcast global scalar (2x the average share),
        # integer-cents cross-multiplied.
        return important_parts(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region"),
        )

    def q_part_supp_counts(spark, sf_dir):
        # TPC-H Q16 shape: distinct-supplier counts per surviving
        # (brand, type, size) bucket, complaint suppliers anti-joined.
        return supplier_part_counts(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part"),
            load_table(spark, sf_dir, "supplier"),
        )

    def q_promo_suppliers(spark, sf_dir):
        # TPC-H Q20 shape: nested EXISTS chain decorrelated into one
        # conditional aggregation + broadcast semi join.
        return promo_suppliers(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region"),
        )

    def q_temperature_sample(spark, sf_dir):
        # Multilingual temperature resampling (tau=2): per-language
        # keep rate sqrt(min_count/count) derived from the corpus
        # itself — upsamples scarce languages toward uniform.  IEEE
        # sqrt/divide are correctly rounded, so membership is
        # integer-exact cross-engine (sampling.py:temperature_sample).
        docs = load_table(spark, sf_dir, "documents")
        return temperature_sample(docs, tau=2.0).select("doc_id", "lang")

    def q_gini(spark, sf_dir):
        # Revenue-concentration readout: Gini of per-customer spend,
        # global ascending rank via the two-pass blocked decomposition
        # (no single-partition window), integer ppm output.
        return gini_concentration(load_table(spark, sf_dir, "orders"))

    def q_cube(spark, sf_dir):
        # Full CUBE over (priority, order year): all four grains in
        # ONE map-side-combined shuffle, gid bitmask disambiguation —
        # completes the ROLLUP / GROUPING SETS / CUBE family.
        return order_cube(load_table(spark, sf_dir, "orders"))

    def q_event_seqs(spark, sf_dir):
        # Contiguous 3-event clickstream motifs (sequential-pattern
        # mining one order above q_transitions): two window LEADs per
        # user timeline, global counts + integer support ppm.
        return event_sequences(load_table(spark, sf_dir, "events"))

    def q_deciles(spark, sf_dir):
        # Global spend deciles: NTILE arithmetic off the blocked
        # two-pass global rank (no single-partition window), one
        # broadcast population count, 10 output groups.
        return decile_table(load_table(spark, sf_dir, "orders"))

    def q_edit_dedup(spark, sf_dir):
        # Fuzzy dedup by edit distance: token-5-gram inverted-index
        # blocking (bucket-capped, never all-pairs), then JVM
        # levenshtein verification under an early-exit threshold.
        return edit_dedup(load_table(spark, sf_dir, "documents"))

    def q_heavy_hitters(spark, sf_dir):
        # Sketch-then-verify heavy hitters: broadcast-CMS upper
        # bounds prune rows MAP-SIDE (CMS never under-counts, so no
        # true hitter is lost), the exact-count shuffle carries only
        # near-heavy survivors; threshold = 1.2x the mean user
        # frequency, cross-multiplied integers throughout.
        return heavy_hitters(
            load_table(spark, sf_dir, "events"), "user_id", num=12, den=10
        )

    def q_assortativity(spark, sf_dir):
        # Degree assortativity of the 1995 co-purchase graph as an
        # exact rational (num, den) + sign-safe ppm: the symmetric
        # edge list collapses Newman's sqrt, so r is a ratio of two
        # BIGINT-exact integers — no libm anywhere.
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        edges.count()  # warm the shared edge cache
        return degree_assortativity(edges)

    def q_cliques4(spark, sf_dir):
        # Per-vertex 4-clique counts over the 1995 co-purchase graph:
        # each clique enumerated once in degree-ordered orientation
        # (oriented triangle + out-extension + two semi closures).
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        edges.count()  # warm the shared edge cache
        return four_clique_counts(edges)

    def q_msf(spark, sf_dir):
        # Distributed Borůvka maximum spanning forest: the
        # strongest-tie backbone of the weighted 1995 co-purchase
        # graph — unique under the (cnt DESC, src, dst) total order.
        edges = copurchase_weighted_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        n_edges = edges.count()  # warm the shared weighted-edge cache
        return max_spanning_forest(
            edges, loop_shuffle_partitions=_iter_loop_width(n_edges)
        )

    def q_betweenness(spark, sf_dir):
        # Sampled Brandes betweenness from the 4 smallest vertices of
        # the symmetric 1995 co-purchase graph: one multi-source
        # sigma-carrying frontier forward, integer-scaled dependency
        # sweep backward (value-exact — every term is an integer div).
        edges = copurchase_edges(
            spark, sf_dir, symmetric=True, ship_range=("1995-01-01", "1996-01-01")
        )
        sources = (
            edges.select(F.col("src").alias("start")).distinct().orderBy("start").limit(4)
        )
        # probe_every=3: one count action per 3 chained forward
        # levels (A/B same-boot at sf0.1: 12.7 -> 10.0 s warm,
        # identical rows — BASELINE.md round-6 third session).
        return betweenness_sampled(
            edges, sources,
            loop_shuffle_partitions=_iter_loop_width(edges.count()), probe_every=3,
        )

    def q_mis(spark, sf_dir):
        # Luby maximal independent set over the 1995 co-purchase
        # graph: deterministic md5 priorities, winners + their
        # neighbors retire each round (measured 3-4 rounds).
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        edges.count()  # warm the shared edge cache at session width
        # max_iters == the oracle's unroll bound: exhausting it RAISES
        # instead of silently returning rounds the oracle never ran.
        return maximal_independent_set(
            edges, max_iters=8, loop_shuffle_partitions=4
        )

    def q_lpa(spark, sf_dir):
        # Synchronous label-propagation communities, FIXED 4 rounds
        # (the deterministic fixed-iteration contract, like pagerank).
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        edges.count()
        return label_propagation(edges, rounds=4, loop_shuffle_partitions=4)

    def q_ktruss(spark, sf_dir):
        # 4-truss of the 1995 co-purchase graph: iterative edge-
        # support peeling (unique fixpoint), oriented triangle
        # enumeration each round; survivors with in-truss support.
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        edges.count()  # warm the shared edge cache at session width
        # max_iters == the oracle's unroll bound (the q_mis rationale).
        return ktruss(edges, k=4, max_iters=5, loop_shuffle_partitions=4)

    def q_stream_hdr(spark, sf_dir):
        # The eighth streaming shape: the HDR histogram driven as a
        # complete-mode stateful aggregation (state = bounded bins per
        # month), quantiles read off the FINAL table — mergeable-
        # sketch integer counts make the result micro-batch-invariant
        # and equal to q_hdr_quantile's estimates exactly.
        import os

        return _loop_parts(
            spark,
            lambda: run_hdr_hist_batch(
                spark, os.path.join(sf_dir, "lineitem.parquet")
            ),
            n=4,
        )

    def q_hdr_quantile(spark, sf_dir):
        # Mergeable HDR-histogram quantiles per ship month WITH the
        # measured error vs the exact percentile — the committed
        # 100 TB replacement for per-stratum exact-percentile gathers
        # (pure-integer bucket function, value-exact under the oracle).
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.sketches import (
            hdr_quantile_err,
        )

        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "ship_month", F.date_format("l_shipdate", "yyyy-MM")
        )
        return hdr_quantile_err(
            li, F.col("l_extendedprice"), group_by=["ship_month"]
        )

    def q_diameter(spark, sf_dir):
        # Sampled eccentricities / diameter lower bound over the
        # derived tree: all 3 sources ride ONE multi-source BFS.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
            eccentricities,
        )

        edges = derived_tree_edges(spark, sf_dir, symmetric=True, graph_id=1)
        sources = spark.createDataFrame(
            [(1, 999), (1, 0), (1, 100)], "graph_id int, start long"
        )
        return _loop_parts(
            spark, lambda: eccentricities(edges, sources), warm=(edges,)
        )

    def q_closeness(spark, sf_dir):
        # Sampled closeness / harmonic centrality: the same three
        # sources as q_diameter ride ONE multi-source BFS; per-source
        # reach, total distance, and the integer-scaled harmonic sum.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
            closeness_sampled,
        )

        edges = derived_tree_edges(spark, sf_dir, symmetric=True, graph_id=1)
        sources = spark.createDataFrame(
            [(1, 999), (1, 0), (1, 100)], "graph_id int, start long"
        )
        return _loop_parts(
            spark, lambda: closeness_sampled(edges, sources), warm=(edges,)
        )

    def q_zorder(spark, sf_dir):
        # Z-order clustering readout: per target file (a run of 4096
        # consecutive Morton cells over (custkey%256, day%256)), row
        # count and BOTH dimensions' min/max spans — the 2-D pruning
        # contract OPTIMIZE ZORDER exists for.
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.layout import (
            zorder_layout,
        )

        return zorder_layout(load_table(spark, sf_dir, "orders"))

    def q_compaction(spark, sf_dir):
        # Small-file compaction plan: per-source running-sum bin
        # packing to 16 KiB targets (the planning half of OPTIMIZE).
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.layout import (
            compaction_plan,
        )

        return compaction_plan(load_table(spark, sf_dir, "documents"))

    def q_ann_batch(spark, sf_dir):
        # Batched exact ANN: top-5 neighbors for a 5-query batch in
        # ONE corpus scan (broadcast queries, WindowGroupLimit per-
        # query top-k) — the serving-path retrieval shape.
        return cosine_topk_batch(load_table(spark, sf_dir, "embeddings"))

    def q_range_search(spark, sf_dir):
        # Radius similarity search: everything within cosine 0.25 of
        # any query in the batch — pure predicate, no window state.
        return cosine_range_search(load_table(spark, sf_dir, "embeddings"))

    def q_bm25(spark, sf_dir):
        # BM25 retrieval with fraction-cleared integer weights and a
        # fixed-order score sum (engine-portable doubles).
        return bm25_topk(load_table(spark, sf_dir, "documents"))

    def q_pq_recall(spark, sf_dir):
        # Measured PQ quality: overlap of the ADC top-10 with the
        # exact cosine top-10 (the q_ivf_recall pattern).
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        exact = cosine_topk(emb, qvec, 10).select("vec_id")
        approx = pq_topk(emb, qvec, 10, m=16, n_codes=128, train_iters=3).select(
            "vec_id"
        )
        return exact.join(approx, "vec_id").agg(
            F.count("*").cast("long").alias("n_matched")
        ).select(
            F.lit(10).cast("long").alias("k"),
            "n_matched",
            F.round(F.col("n_matched") / 10.0, 6).alias("recall"),
        )


    def q_walks(spark, sf_dir):
        # Deterministic DeepWalk corpus (one 4-step uniform walk per
        # vertex) over the 1995 co-purchase graph: the neighbor pick
        # is a seeded md5 index into the dst-sorted adjacency, so the
        # emitted (walk, position, vertex) corpus is bit-reproducible
        # and replayable in ANSI SQL.
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        return random_walks(edges, walk_len=4, loop_shuffle_partitions=4)

    def q_sq8_topk(spark, sf_dir):
        # Scalar-quantized (1 byte/dim) approximate top-k: symmetric
        # uint8 codes against shared per-dimension min/max bounds,
        # BIGINT dot-product score — exact cross-engine, no rounding
        # contract at all.
        emb = load_table(spark, sf_dir, "embeddings")
        return sq8_topk(emb, _qvec0(emb), 10)

    def q_sq8_recall(spark, sf_dir):
        # Measured SQ8 quality: overlap of the quantized top-10 with
        # the exact cosine top-10 (the q_pq_recall pattern).
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        exact = cosine_topk(emb, qvec, 10).select("vec_id")
        approx = sq8_topk(emb, qvec, 10).select("vec_id")
        return exact.join(approx, "vec_id").agg(
            F.count("*").cast("long").alias("n_matched")
        ).select(
            F.lit(10).cast("long").alias("k"),
            "n_matched",
            F.round(F.col("n_matched") / 10.0, 6).alias("recall"),
        )

    def q_outliers(spark, sf_dir):
        # Per-customer z-score spend anomalies; the outlier FLAG is a
        # pure-BIGINT inequality ((n*y-S)^2 >= t^2*(n*SS-S^2)) so the
        # flagged set cannot drift across engines at a float boundary.
        return spend_outliers(load_table(spark, sf_dir, "orders"))

    def q_trend(spark, sf_dir):
        # Closed-form OLS daily-revenue trend, DECIMAL(38,0)-exact
        # moments, sign-safe integral renderings (assortativity idiom).
        return revenue_trend(load_table(spark, sf_dir, "orders"))


    def q_neighbor_sample(spark, sf_dir):
        # Deterministic GraphSAGE neighbor sampling: up to 3 neighbors
        # per vertex by seeded md5 order — the bounded fan-in cap GNN
        # mini-batching needs; hub vertices emit 3 rows, not their list.
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        return neighbor_sample(edges, k=3)

    def q_feature_prop(spark, sf_dir):
        # SIGN/GraphSAGE linear preprocessing: 2-hop all-integer
        # neighborhood sums of part retail price (cents) over the 1995
        # co-purchase graph — h_k = A^k x materialized as columns.
        edges = copurchase_edges(
            spark, sf_dir, ship_range=("1995-01-01", "1996-01-01")
        )
        part = load_table(spark, sf_dir, "part")
        feats = part.select(
            F.col("p_partkey").alias("vertex"),
            F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("feat"),
        )
        return feature_propagation(edges, feats, hops=2)

    def q_group_split(spark, sf_dir):
        # Leakage-safe split audit: the hash decision variable is the
        # documents' SOURCE (origin domain), so near-duplicates that
        # cluster by origin can never straddle train/test.
        docs = load_table(spark, sf_dir, "documents")
        return grouped_split_summary(
            docs, group_col="source", weight_col="n_chars"
        )

    def q_also_bought(spark, sf_dir):
        # Item-based CF readout: top-3 co-purchased parts per part
        # over the full-history weighted co-purchase graph (shares the
        # session-cached weighted base with q_communities); one
        # per-src WindowGroupLimit, no extra fact scan.
        wsym = copurchase_weighted_edges(spark, sf_dir, symmetric=True)
        return also_bought(wsym, k=3)

    def q_integrity_audit(spark, sf_dir):
        # Referential-integrity sweep: orphan counts per FK relation;
        # dims broadcast into left-anti joins, the one fact-fact check
        # shuffles on the orderkey it already serves elsewhere.
        return integrity_audit(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "part"),
            load_table(spark, sf_dir, "nation"),
        )

    def q_new_users(spark, sf_dir):
        # Adoption curves: exact first day each user performs each
        # event type, then a per-type running sum over
        # calendar-bounded day rows only (type-partitioned window).
        return cumulative_new_users(
            load_table(spark, sf_dir, "events"), type_col="event_type"
        )

    def q_similar_docs(spark, sf_dir):
        # "More like this": pruned-vocabulary token Jaccard of every
        # doc against doc 7, blocked by the query's inverted-index
        # postings — integer ppm scores, never all-pairs.
        # df_prune_pct=80 here, not the real-corpus 20 default: the
        # synthetic documents table has a 31-token vocabulary whose
        # tokens all carry df ~75-80%, so a 20% cut empties every
        # token set (measured); 80 keeps 26/31 tokens and still
        # exercises the prune path.
        return similar_docs_jaccard(
            load_table(spark, sf_dir, "documents"),
            query_doc_id=7,
            k=10,
            df_prune_pct=80,
        )

    def q_boilerplate(spark, sf_dir):
        # Template mining: top-10 leading 8-token prefixes of
        # normalized text — one codegen projection + map-side-combined
        # count, TakeOrderedAndProject top-k.
        return boilerplate_prefixes(
            load_table(spark, sf_dir, "documents"), n_tokens=8, k=10
        )

    def q_len_hist(spark, sf_dir):
        # Sequence-length planning: per-language doc counts / token
        # totals in power-of-two token-count buckets (HDR bit-length
        # idiom, no float log2).
        return token_length_histogram(load_table(spark, sf_dir, "documents"))

    def q_mirror_sources(spark, sf_dir):
        # Mirror detection: shared normalized-text fingerprints per
        # unordered source pair; digests shuffle, text never does.
        # The synthetic corpus has no cross-source duplicates
        # (measured: 0 rows), so a mirror domain is PLANTED — every
        # 17th doc republished under 'mirror.example' (17 is co-prime
        # with the 20-way source assignment, so mirrors spread over
        # every source) — to make the
        # query non-vacuous; the oracle replays the same union.
        docs = load_table(spark, sf_dir, "documents")
        mirrored = docs.where(F.col("doc_id") % 17 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "text",
            "lang",
            F.lit("mirror.example").alias("source"),
            "n_chars",
        )
        return cross_source_duplicates(docs.unionByName(mirrored))

    def q_chi2(spark, sf_dir):
        # Chi-square contingency (event type x day-of-week), every
        # reported value an integer ppm via DECIMAL(38,0) integral
        # division — no unordered float sum anywhere.
        return event_contingency(load_table(spark, sf_dir, "events"))

    def q_knn_graph(spark, sf_dir):
        # Approximate k-NN graph (the HNSW/SemDeDup ingest primitive):
        # per-vector top-3 by exact cosine among sign-LSH bucket
        # mates; canonical pairs scored once, both orientations ranked.
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return lsh_knn_graph(emb, k=3)

    def q_split_leakage(spark, sf_dir):
        # Leakage audit: MinHash-verified near-dup pairs classified by
        # the splits their members landed in — off-diagonal cells are
        # memorized eval text.  md5 signature variant so the whole
        # pipeline (pairs AND split) replays in SQL.
        docs = load_table(spark, sf_dir, "documents")
        pairs = minhash_dedup(docs, threshold=0.8, hash_fn="md5").select(
            "id_a", "id_b"
        )
        return leakage_matrix(pairs, train_split(docs))

    def q_modularity(spark, sf_dir):
        # Quality readout for the strong-tie communities: Newman Q as
        # an exact DECIMAL(38,0) rational (sign-safe integral ppm).
        # Labels from q_communities' CC loop; shares the persisted
        # weighted-edge base with it.
        _, strong = _strong_edges(spark, sf_dir)
        return modularity_summary(strong, q_communities(spark, sf_dir))

    def q_profile(spark, sf_dir):
        # ANALYZE-style column statistics in ONE scan (multi-distinct
        # Expand + stack unpivot); float columns excluded by design
        # (engine-specific rendering).
        return column_profile(
            load_table(spark, sf_dir, "orders"),
            ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate"],
        )

    def q_winsorize(spark, sf_dir):
        # Robust clipping readout: exact nearest-rank p5/p95 via the
        # blocked global rank (no single-partition sort), clamp scan
        # under a broadcast threshold row.
        return winsorized_spend(load_table(spark, sf_dir, "orders"))

    def q_volume_anomaly(spark, sf_dir):
        # Daily event volume with z flags — the spend_outliers
        # pure-BIGINT inequality over calendar-bounded day rows.
        return daily_volume_anomalies(load_table(spark, sf_dir, "events"))

    def q_knn_recall(spark, sf_dir):
        # Measured kNN-graph quality: LSH-blocked edges vs the exact
        # top-3 for 20 sampled vertices (sample x corpus broadcast —
        # the quadratic stays verification-sized).
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return knn_graph_recall(emb, k=3, sample_below=20)

    def q_ivf_sweep(spark, sf_dir):
        # Index-tuning table: IVF recall at n_probe = 1, 2, 4 against
        # the exact top-10 — the probes/recall tradeoff curve an ANN
        # deployment reads before fixing its operating point.
        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        exact = cosine_topk(emb, qvec, 10).select("vec_id")
        # One coarse-quantizer build for all three arms (the sweep
        # re-plans only the pruned-cell predicate).
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
            ivf_centroids,
        )

        cents = ivf_centroids(emb)
        out = None
        for p in (1, 2, 4):
            approx = ivf_topk(
                emb, qvec, 10, n_probe=p, centroids=cents
            ).select("vec_id")
            row = (
                exact.join(approx, "vec_id")
                .agg(F.count("*").cast("long").alias("n_matched"))
                .select(
                    F.lit(p).cast("int").alias("n_probe"),
                    "n_matched",
                    F.round(F.col("n_matched") / 10.0, 6).alias("recall"),
                )
            )
            out = row if out is None else out.unionAll(row)
        return out

    def q_lang_confusion(spark, sf_dir):
        # Language-ID evaluation: marker-count guess vs the labeled
        # lang — one codegen projection + a bounded-cell rollup; zh
        # (outside the marker table) landing wrong/und is the point.
        return lang_confusion(load_table(spark, sf_dir, "documents"))

    def q_vacuum(spark, sf_dir):
        # OPTIMIZE/VACUUM dry-run over the shared 3-version delta log
        # (horizon 2): per version, events contributed, events
        # surviving the re-base as deciding inserts, and reclaimables.
        return _vacuum_plan(
            _raw_tree_pairs(spark, sf_dir), _tt_deltas(spark, sf_dir), horizon=2
        )

    def q_cobuyers(spark, sf_dir):
        # User-user CF ("shoppers like you"): the OTHER projection of
        # the basket bipartite graph — also_bought's window readout
        # over customer pairs weighted by shared distinct parts;
        # staple parts (>25 buyers) dropped before the pair explosion
        # (cap calibrated in sources.cobuyer_weighted_edges).
        wsym = cobuyer_weighted_edges(spark, sf_dir, symmetric=True)
        return also_bought(wsym, k=3)

    def q_quintile_move(spark, sf_dir):
        # Spend-quintile mobility 1995 -> 1996: two pushed-down
        # year scans, two blocked global ranks (no single-partition
        # sort), one custkey join, a 25-cell rollup.
        return quintile_mobility(load_table(spark, sf_dir, "orders"))

    def q_seasonality(spark, sf_dir):
        # Month-of-year seasonal index in exact integer ppm
        # (1_000_000 = average month): 12-cell rollup + one-row total.
        return seasonal_index(load_table(spark, sf_dir, "orders"))

    # Registry ORDER matters: the driver's oracle gate checks only the
    # FIRST 50 entries per round.  The order is no longer typed by hand
    # (the manual rotation went stale two rounds running) — it is
    # DERIVED from the CORRECTNESS_r*.json records by _registry_order:
    # must-verify queries (absent from the two freshest records) head
    # the registry oldest-evidence-first; the verified tail follows in
    # age order so the next block to expire already fronts the queue.
    # The dict literal below is the stable DEFINITION order only.
    base = {
        # -- new this round (round 6; inside the 50-entry window) --
        "q_walks": q_walks,
        "q_neighbor_sample": q_neighbor_sample,
        "q_feature_prop": q_feature_prop,
        "q_group_split": q_group_split,
        "q_sq8_topk": q_sq8_topk,
        "q_sq8_recall": q_sq8_recall,
        "q_outliers": q_outliers,
        "q_trend": q_trend,
        "q_cube": q_cube,
        "q_cdc": q_cdc,
        "q_heavy_hitters": q_heavy_hitters,
        "q_assortativity": q_assortativity,
        "q_audio_downsample": q_audio_downsample,
        "q_stream_upsert": q_stream_upsert,
        "q_scc": q_scc,
        "q_time_travel": q_time_travel,
        "q_event_seqs": q_event_seqs,
        "q_deciles": q_deciles,
        "q_edit_dedup": q_edit_dedup,
        "q_temperature_sample": q_temperature_sample,
        "q_stream_enrich": q_stream_enrich,
        "q_gini": q_gini,
        "q_cliques4": q_cliques4,
        "q_msf": q_msf,
        "q_betweenness": q_betweenness,
        "q_transitions": q_transitions,
        "q_mis": q_mis,
        "q_lpa": q_lpa,
        "q_closeness": q_closeness,
        "q_ktruss": q_ktruss,
        "q_stream_hdr": q_stream_hdr,
        "q_hdr_quantile": q_hdr_quantile,
        "q_diameter": q_diameter,
        "q_zorder": q_zorder,
        "q_compaction": q_compaction,
        "q_ann_batch": q_ann_batch,
        "q_range_search": q_range_search,
        "q_bm25": q_bm25,
        "q_min_cost_supp": q_min_cost_supp,
        "q_product_profit": q_product_profit,
        "q_important_parts": q_important_parts,
        "q_part_supp_counts": q_part_supp_counts,
        "q_promo_suppliers": q_promo_suppliers,
        "q_stream_dedup": q_stream_dedup,
        "q_edge_merge": q_edge_merge,
        "q_pq_topk": q_pq_topk,
        "q_pq_recall": q_pq_recall,
        "q_market_share": q_market_share,
        "q_top_supplier": q_top_supplier,
        "q_waiting_suppliers": q_waiting_suppliers,
        "q_idle_customers": q_idle_customers,
        "q_ivfpq_topk": q_ivfpq_topk,
        "q_ivfpq_recall": q_ivfpq_recall,
        "q_stream_edges": q_stream_edges,
        "q_order_gaps": q_order_gaps,
        "q_funnel": q_funnel,
        "q_retention": q_retention,
        "q_vector_stats": q_vector_stats,
        "q_also_bought": q_also_bought,
        "q_integrity_audit": q_integrity_audit,
        "q_new_users": q_new_users,
        "q_similar_docs": q_similar_docs,
        "q_boilerplate": q_boilerplate,
        "q_len_hist": q_len_hist,
        "q_mirror_sources": q_mirror_sources,
        "q_chi2": q_chi2,
        "q_knn_graph": q_knn_graph,
        "q_split_leakage": q_split_leakage,
        "q_modularity": q_modularity,
        "q_profile": q_profile,
        "q_winsorize": q_winsorize,
        "q_volume_anomaly": q_volume_anomaly,
        "q_knn_recall": q_knn_recall,
        "q_ivf_sweep": q_ivf_sweep,
        "q_lang_confusion": q_lang_confusion,
        "q_vacuum": q_vacuum,
        "q_cobuyers": q_cobuyers,
        "q_quintile_move": q_quintile_move,
        "q_seasonality": q_seasonality,
        # -- official rows aged to r3: lead the round-6 window --
        "q_top_events": q_top_events,
        "q_event_props": q_event_props,
        "q_brand_revenue": q_brand_revenue,
        "q_user_cohort": q_user_cohort,
        "q_sessions": q_sessions,
        "q_no_orders": q_no_orders,
        "q_quality_pct": q_quality_pct,
        "q_hll_distinct": q_hll_distinct,
        "q_asof_join": q_asof_join,
        "q_attribution": q_attribution,
        "q_time_rollup": q_time_rollup,
        "q_matrix_io": q_matrix_io,
        "q_repetition": q_repetition,
        "q_tfidf": q_tfidf,
        "q_collocations": q_collocations,
        # -- must-verify overflow (position 51): the round-6 must-set
        # is 51 queries against the driver's 50-entry window, so ONE
        # new query queues here, machine-guaranteed to head round 7's
        # window (test_registry_order_covers_the_driver_window).
        # q_skyline is the demotion pick: 4 stable rows, locally
        # oracle-verified at sf0.01 this round, fixture-pinned ties.
        "q_skyline": q_skyline,
        "q_grouping_sets": q_grouping_sets,
        "q_trailing_spend": q_trailing_spend,
        "q_assoc_rules": q_assoc_rules,
        # -- round-4-checked block (oldest official rows after the
        # stale-15; the first 50-minus-19 of these land inside this
        # round's window, the rest rotate forward next round) --
        "q_triangles": q_triangles,
        "q_pagerank": q_pagerank,
        "q_pagerank_weighted": q_pagerank_weighted,
        "q_degree_hist": q_degree_hist,
        "q_common_neighbors": q_common_neighbors,
        "q_kcore": q_kcore,
        "q_sssp": q_sssp,
        "q_train_split": q_train_split,
        "q_bpe_train": q_bpe_train,
        "q_bpe_tokenize": q_bpe_tokenize,
        "q_bpe_fertility": q_bpe_fertility,
        "q_stratified_sample": q_stratified_sample,
        "q_group_sample": q_group_sample,
        "q_rollup_revenue": q_rollup_revenue,
        "q_event_pivot": q_event_pivot,
        "q_pipeline_stats": q_pipeline_stats,
        "q_gapfill": q_gapfill,
        "q_cms_counts": q_cms_counts,
        "q_salted_join": q_salted_join,
        "q_hll_merged": q_hll_merged,
        "q_kmv_overlap": q_kmv_overlap,
        "q_quantile_sample": q_quantile_sample,
        "q_running_spend": q_running_spend,
        "q_csv_io": q_csv_io,
        "q_orc_io": q_orc_io,
        "q_jsonl_io": q_jsonl_io,
        "q_bloom_join": q_bloom_join,
        "q_decontam": q_decontam,
        "q_chunks": q_chunks,
        "q_pii_redact": q_pii_redact,
        "q_ship_priority": q_ship_priority,
        "q_local_supplier": q_local_supplier,
        "q_request_replies": q_request_replies,
        "q_png_decode": q_png_decode,
        "q_png_alpha": q_png_alpha,  # new round 11
        "q_png_16bit": q_png_16bit,  # new round 11
        "q_png_lowbit": q_png_lowbit,  # new round 12
        "q_bmp_decode": q_bmp_decode,  # new round 12
        "q_tiff_decode": q_tiff_decode,  # new round 12
        "q_audio_features": q_audio_features,
        "q_g711_audio": q_g711_audio,
        "q_adpcm_audio": q_adpcm_audio,
        "q_flac_audio": q_flac_audio,
        "q_ogg_flac": q_ogg_flac,  # new round 12
        "q_flac_stereo": q_flac_stereo,
        "q_flac_24bit": q_flac_24bit,
        "q_kmeans": q_kmeans,
        "q_cluster_labels": q_cluster_labels,
        "q_semantic_dedup": q_semantic_dedup,
        "q_cust_order_dist": q_cust_order_dist,
        "q_nation_volume": q_nation_volume,
        "q_rare_bigrams": q_rare_bigrams,
        "q_returned_revenue": q_returned_revenue,
        "q_rgb_decode": q_rgb_decode,
        "q_order_priority": q_order_priority,
        "q_shipmode_stats": q_shipmode_stats,
        "q_promo_revenue": q_promo_revenue,
        "q_big_orders": q_big_orders,
        "q_disjunctive_rev": q_disjunctive_rev,
        "q_filtered_topk": q_filtered_topk,
        "q_group_topk": q_group_topk,
        "q_stream_rollup": q_stream_rollup,
        "q_stream_corpus": q_stream_corpus,
        "q_pack_sequences": q_pack_sequences,
        # -- round-5-checked block (freshest official rows) --
        "q_stream_requests": q_stream_requests,
        "q_png_adam7": q_png_adam7,
        "q_png_palette": q_png_palette,
        "q_jpeg_decode": q_jpeg_decode,
        "q_gif_frames": q_gif_frames,  # new round 9 (never-recorded -> heads the window)
        "q_jpeg_color": q_jpeg_color,  # new round 9
        "q_jpeg_sampling": q_jpeg_sampling,  # new round 11
        "q_jpeg_prog_color": q_jpeg_prog_color,  # new round 9
        "q_jpeg_progressive": q_jpeg_progressive,  # new round 9
        "q_jpeg_restart": q_jpeg_restart,  # new round 9
        "q_mjpeg_frames": q_mjpeg_frames,  # new round 9
        "q_warc_parse": q_warc_parse,  # new round 9
        "q_json_extract": q_json_extract,  # new round 9
        "q_negative_sample": q_negative_sample,  # new round 9
        "q_url_parse": q_url_parse,  # new round 9
        "q_xpath_extract": q_xpath_extract,  # new round 9
        "q_lz4_corpus": q_lz4_corpus,  # new round 9
        "q_zstd_corpus": q_zstd_corpus,  # new round 10
        "q_zstd_dict": q_zstd_dict,  # new round 12
        "q_webp_decode": q_webp_decode,  # new round 10
        "q_webp_lossy": q_webp_lossy,  # new round 12
        "q_webp_anim": q_webp_anim,  # new round 12
        "q_assignment_replay": q_assignment_replay,  # new round 10
        "q_clustering_coeff": q_clustering_coeff,
        "q_link_pred": q_link_pred,
        "q_stream_attrib": q_stream_attrib,
        "q_bucketed_table": q_bucketed_table,
        "q_stream_sessions": q_stream_sessions,
        "q_communities": q_communities,
        "q_forecast_rev": q_forecast_rev,
        "q_small_qty_rev": q_small_qty_rev,
        "q_prefix_join": q_prefix_join,
        "q_ppr": q_ppr,
        "q_series_sim": q_series_sim,
        "q_schema_merge": q_schema_merge,
        "q_add_graph": q_add_graph,
        "q_modify_graph": q_modify_graph,
        "q_bfs_levels": q_bfs_levels,
        "q_bfs_order": q_bfs_order,
        "q_dfs_leaves": q_dfs_leaves,
        "q_route_requests": q_route_requests,
        "q_request_sched": q_request_sched,
        "q_graph_stats": q_graph_stats,
        "q_connected_count": q_connected_count,
        "q_connected_components": q_connected_components,
        "q_dedup_exact": q_dedup_exact,
        "q_fingerprint_dedup": q_fingerprint_dedup,
        "q_doc_features": q_doc_features,
        "q_text_stats": q_text_stats,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_minhash_dedup": q_minhash_dedup,
        "q_simhash_dedup": q_simhash_dedup,
        "q_minhash_recall": q_minhash_recall,
        "q_simhash_recall": q_simhash_recall,
        "q_dedup_clusters": q_dedup_clusters,
        "q_winnow_fp": q_winnow_fp,
        "q_substring_dup": q_substring_dup,
        "q_sim_topk": q_sim_topk,
        "q_lsh_topk": q_lsh_topk,
        "q_ivf_topk": q_ivf_topk,
        "q_lsh_recall": q_lsh_recall,
        "q_ivf_recall": q_ivf_recall,
        "q_embedding_near_dup": q_embedding_near_dup,
        "q_media_meta": q_media_meta,
        "q_image_meta": q_image_meta,
        "q_audio_meta": q_audio_meta,
        "q_frame_sample": q_frame_sample,
        "q_resize": q_resize,
        "q_pricing_summary": q_pricing_summary,
        "q_event_windows": q_event_windows,
    }
    import hashlib as _hashlib

    live = {
        n: _hashlib.sha256(s.encode()).hexdigest() for n, s in oracle_sql().items()
    }
    return {name: base[name] for name in _registry_order(base, live_hashes=live)}



def _sql_random_walks(walk_len: int = 4) -> str:
    """Replay of graphalgs.random_walks(walk_len) over the 1995
    co-purchase graph: dst-sorted indexed adjacency, and at step t of
    walk w on vertex v the pick is int(md5('walk:w:t:v')[:8], 16) %
    deg(v) — DuckDB's ('0x'||hex)::BIGINT equals Spark's
    conv(hex,16,10) on 32-bit values, so the corpus matches row for
    row."""
    parts = [
        f"WITH {_sql_copurchase(_KCORE_SHIP_WHERE)}",
        "sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce)",
        "adj AS (SELECT src, dst, ROW_NUMBER() OVER "
        "(PARTITION BY src ORDER BY dst) - 1 AS idx FROM sym)",
        "deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src)",
        "w0 AS (SELECT v AS walk_id, v AS vertex FROM deg)",
    ]
    for t in range(1, walk_len + 1):
        pick = (
            "('0x' || substr(md5('walk:' || CAST(p.walk_id AS VARCHAR) || "
            f"':{t}:' || CAST(p.vertex AS VARCHAR)), 1, 8))::BIGINT % d.d"
        )
        parts.append(
            f"w{t} AS (SELECT p.walk_id, a.dst AS vertex "
            f"FROM w{t - 1} p JOIN deg d ON d.v = p.vertex "
            f"JOIN adj a ON a.src = p.vertex AND a.idx = {pick})"
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST(walk_id AS BIGINT) AS walk_id, "
        f"CAST({t} AS INTEGER) AS step, CAST(vertex AS BIGINT) AS vertex "
        f"FROM w{t}"
        for t in range(walk_len + 1)
    )
    return ",\n".join(parts) + "\n" + sel


# similarity.sq8_topk replayed: per-dimension min/max bounds, uint8
# codes for vectors AND the id-0 query, BIGINT symmetric dot score.
_SQL_SQ8_TOPK = """
    WITH vecs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    dims AS (SELECT id, unnest(dv) AS val, generate_subscripts(dv, 1) AS pos FROM vecs),
    rng AS (SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM dims GROUP BY pos),
    codes AS (
      SELECT d.id, d.pos,
             CASE WHEN r.mx - r.mn = 0 THEN 0
                  ELSE LEAST(255, GREATEST(0,
                       CAST(floor((d.val - r.mn) * 255 / (r.mx - r.mn)) AS BIGINT)))
             END AS c
      FROM dims d JOIN rng r USING (pos)),
    q AS (SELECT pos, c AS qc FROM codes WHERE id = 0),
    scores AS (SELECT c.id AS vec_id, CAST(SUM(c.c * q.qc) AS BIGINT) AS score
               FROM codes c JOIN q USING (pos) GROUP BY c.id),
    top AS (SELECT vec_id, score FROM scores ORDER BY score DESC, vec_id LIMIT 10)
    SELECT vec_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS INTEGER) AS rank
    FROM top
"""


# relational.spend_outliers replayed: integer moments, pure-BIGINT
# outlier inequality, float only in the reported z.
_SQL_OUTLIERS = """
    WITH r AS (SELECT o_custkey, o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
    mom AS (SELECT o_custkey, COUNT(*) AS n, SUM(cents) AS s,
                   SUM(cents * cents) AS ss
            FROM r GROUP BY o_custkey)
    SELECT r.o_custkey, r.o_orderkey, r.cents,
           CAST(m.n AS BIGINT) AS n_orders,
           round(CAST(m.n * r.cents - m.s AS DOUBLE)
                 / sqrt(CAST(m.n * m.ss - m.s * m.s AS DOUBLE)), 4) AS z
    FROM r JOIN mom m USING (o_custkey)
    WHERE m.n >= 5
      AND m.n * m.ss - m.s * m.s > 0
      AND (m.n * r.cents - m.s) * (m.n * r.cents - m.s)
          >= 4 * (m.n * m.ss - m.s * m.s)
"""


# relational.revenue_trend replayed: HUGEINT-exact OLS moments,
# floor-division only on non-negatives (// == Spark DIV there).
_SQL_TREND = """
    WITH daily AS (
      SELECT datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1),
    s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
                 CAST(SUM(y) AS HUGEINT) AS sy,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
          FROM daily),
    t AS (SELECT n, sx, sy, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den FROM s)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
                     ELSE -((-num * 1000000) // den) END AS BIGINT)
             AS slope_ppm_cents_per_day,
           CAST(CASE WHEN sy * den - num * sx >= 0
                     THEN (sy * den - num * sx) // (n * den)
                     ELSE -((-(sy * den - num * sx)) // (n * den)) END AS BIGINT)
             AS intercept_cents
    FROM t
"""




def _sql_neighbor_sample(k: int = 3) -> str:
    """graphalgs.neighbor_sample replayed: md5-priority row_number
    per src over the symmetric 1995 co-purchase adjacency."""
    return (
        f"WITH {_sql_copurchase(_KCORE_SHIP_WHERE)}, "
        "sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce), "
        "r AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY "
        "md5('nbr:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), dst) "
        "AS sample_rank FROM sym) "
        "SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, "
        f"CAST(sample_rank AS INTEGER) AS sample_rank FROM r WHERE sample_rank <= {k}"
    )


# graphalgs.feature_propagation(hops=2) replayed: all-integer
# neighborhood sums of part retail cents (h_k = A^k x).
def _sql_feature_prop() -> str:
    return f"""
    WITH {_sql_copurchase(_KCORE_SHIP_WHERE)},
    sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
    verts AS (SELECT src AS v, COUNT(*) AS degree FROM sym GROUP BY src),
    f0 AS (SELECT p_partkey AS fv, CAST(round(p_retailprice * 100) AS BIGINT) AS h
           FROM part),
    a1 AS (SELECT s.src AS v, SUM(f.h) AS h1 FROM sym s
           JOIN f0 f ON f.fv = s.dst GROUP BY s.src),
    t1 AS (SELECT verts.v, verts.degree, COALESCE(a1.h1, 0) AS h1
           FROM verts LEFT JOIN a1 ON a1.v = verts.v),
    a2 AS (SELECT s.src AS v, SUM(t.h1) AS h2 FROM sym s
           JOIN t1 t ON t.v = s.dst GROUP BY s.src)
    SELECT CAST(t1.v AS BIGINT) AS vertex, CAST(t1.degree AS BIGINT) AS degree,
           CAST(t1.h1 AS BIGINT) AS h1, CAST(COALESCE(a2.h2, 0) AS BIGINT) AS h2
    FROM t1 LEFT JOIN a2 ON a2.v = t1.v
"""


def _sql_group_split() -> str:
    """sampling.grouped_split_summary replayed: the train_split CASE
    with the GROUP key (source) as the hashed id, then the per-split
    audit aggregation."""
    whens = " ".join(
        f"WHEN substring(md5('gsplit' || CAST(source AS VARCHAR)), 1, 8) < '{thr}' "
        f"THEN '{name}'"
        for name, thr in split_thresholds()
    )
    return f"""
    WITH assigned AS (
      SELECT source, n_chars, CASE {whens} ELSE 'test' END AS split
      FROM documents)
    SELECT split, CAST(COUNT(DISTINCT source) AS BIGINT) AS n_groups,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS total_weight
    FROM assigned GROUP BY split
"""


def oracle_sql() -> dict[str, str]:
    # Morton interleave as pure integer arithmetic (mirrors
    # layout.z_value bit for bit): bit i of x -> position 2i, of y ->
    # 2i+1, over 8 bits per dimension.
    _Z_EXPR = " + ".join(
        f"((cx // {1 << i}) % 2) * {1 << (2 * i)}"
        f" + ((cy // {1 << i}) % 2) * {2 * (1 << (2 * i))}"
        for i in range(8)
    )
    oracles = {
        "q_add_graph": f"""
            WITH e0 AS ({_SQL_E0}),
            canon AS (
              SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
              FROM e0 WHERE src <> dst
            )
            SELECT CAST(1 AS INTEGER) AS graph_id, src, dst FROM canon
            UNION ALL
            SELECT CAST(1 AS INTEGER), dst, src FROM canon
        """,
        "q_modify_graph": f"""
            WITH sym1 AS ({_SQL_SYM}),
            r0 AS (
              SELECT CAST(998 AS BIGINT) AS src, CAST(r_regionkey AS BIGINT) AS dst FROM region
              UNION ALL
              SELECT CAST(n_regionkey AS BIGINT), CAST(100 + n_nationkey AS BIGINT) FROM nation
            ),
            canon2 AS (
              SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
              FROM r0 WHERE src <> dst
            )
            SELECT CAST(1 AS INTEGER) AS graph_id, src, dst FROM sym1
            UNION ALL
            SELECT CAST(2 AS INTEGER), src, dst FROM canon2
            UNION ALL
            SELECT CAST(2 AS INTEGER), dst, src FROM canon2
        """,
        "q_bfs_levels": f"{_SQL_BFS}",
        "q_bfs_order": f"""
            WITH b AS ({_SQL_BFS})
            SELECT vertex, level,
                   CAST(ROW_NUMBER() OVER (ORDER BY level, vertex) AS INTEGER) AS pos
            FROM b
        """,
        "q_dfs_leaves": f"""
            WITH sym AS ({_SQL_SYM}),
            deg AS (SELECT src, COUNT(DISTINCT dst) AS d FROM sym GROUP BY src)
            SELECT CAST(src AS BIGINT) AS leaf FROM deg WHERE d = 1 AND src <> 999
        """,
        "q_route_requests": f"""
            WITH requests AS ({_SQL_REQUESTS})
            SELECT CASE WHEN op_no IN (1, 2) THEN 'primary'
                        WHEN seq_no % 2 = 0 THEN 'ss1' ELSE 'ss2' END AS route,
                   CAST(COUNT(*) AS BIGINT) AS n_requests
            FROM requests GROUP BY 1
        """,
        "q_request_sched": f"""
            WITH requests AS ({_SQL_REQUESTS})
            SELECT seq_no, op_no, graph_name, start_vertex,
                   CAST(ROW_NUMBER() OVER (ORDER BY seq_no) AS INTEGER) AS service_order
            FROM requests
        """,
        "q_graph_stats": f"""
            WITH sym1 AS ({_SQL_SYM}),
            g2 AS (
              SELECT CAST(998 AS BIGINT) AS src, CAST(100 + n_nationkey AS BIGINT) AS dst FROM nation
            ),
            db AS (
              SELECT 1 AS graph_id, src, dst FROM sym1
              UNION ALL SELECT 2, src, dst FROM g2
              UNION ALL SELECT 2, dst, src FROM g2
            ),
            deg AS (
              SELECT graph_id, src, COUNT(DISTINCT dst) AS degree
              FROM db GROUP BY graph_id, src
            )
            SELECT CAST(graph_id AS INTEGER) AS graph_id,
                   CAST(COUNT(*) AS BIGINT) AS n_vertices,
                   CAST(SUM(degree) / 2 AS BIGINT) AS n_edges,
                   CAST(MAX(degree) AS BIGINT) AS max_degree
            FROM deg GROUP BY graph_id
        """,
        "q_connected_count": f"""
            WITH b AS ({_SQL_BFS})
            SELECT CAST(COUNT(*) AS BIGINT) AS n_reachable FROM b
        """,
        "q_connected_components": f"""
            WITH RECURSIVE e0 AS ({_SQL_E0}),
            sym AS (
              SELECT src, dst FROM e0 WHERE src <> 999 AND dst <> 999
              UNION ALL
              SELECT dst, src FROM e0 WHERE src <> 999 AND dst <> 999
            ),
            reach(v, r) AS (
              SELECT DISTINCT src, src FROM sym
              UNION
              SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.v
            )
            SELECT v AS vertex, MIN(r) AS component FROM reach GROUP BY v
        """,
        "q_dedup_exact": """
            SELECT md5(text) AS text_hash,
                   CAST(COUNT(*) AS BIGINT) AS n_dups,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_id
            FROM documents GROUP BY 1
        """,
        "q_fingerprint_dedup": f"""
            SELECT md5({_SQL_NORM}) AS fp,
                   CAST(COUNT(*) AS BIGINT) AS n_dups,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_id
            FROM documents GROUP BY 1
        """,
        "q_doc_features": f"""
            WITH feat AS (
              SELECT doc_id,
                     CAST(length(text) AS BIGINT) AS n_chars_obs,
                     {_SQL_NTOK} AS n_tokens,
                     CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subtokens,
                     CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS BIGINT) AS np,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                   x -> x IN ('the','a','of','and','to','in','is','it')))
                     END AS BIGINT) AS ns,
                     ' ' || lower(text) || ' ' AS padded,
                     md5({_SQL_NORM}) AS fp
              FROM documents
            ),
            scored AS (
              SELECT *,
                     (CASE WHEN contains(padded, ' the ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(padded, ' a ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(padded, ' of ') THEN 1 ELSE 0 END) AS s_en,
                     (CASE WHEN contains(padded, ' der ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(padded, ' und ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(padded, ' die ') THEN 1 ELSE 0 END) AS s_de,
                     (CASE WHEN contains(padded, ' el ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(padded, ' y ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(padded, ' de ') THEN 1 ELSE 0 END) AS s_es,
                     (CASE WHEN contains(padded, ' le ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(padded, ' et ') THEN 1 ELSE 0 END
                      + CASE WHEN contains(padded, ' la ') THEN 1 ELSE 0 END) AS s_fr
              FROM feat
            )
            SELECT doc_id, n_chars_obs, n_tokens, n_subtokens,
                   (CASE WHEN n_chars_obs = 0 THEN 0
                         ELSE (np * 1000000) // n_chars_obs END) / 1000000.0
                       AS punct_ratio,
                   (CASE WHEN n_tokens = 0 THEN 0
                         ELSE (ns * 1000000) // n_tokens END) / 1000000.0
                       AS stopword_ratio,
                   least(1000000,
                       least(n_chars_obs, 500) * 1000
                       + (CASE WHEN n_tokens = 0 THEN 0
                          ELSE least((ns * 5000000) // n_tokens, 1000000) END) * 3 // 10
                       + (1000000 - CASE WHEN n_chars_obs = 0 THEN 0
                          ELSE least((np * 10000000) // n_chars_obs, 1000000) END) * 2 // 10
                   ) / 1000000.0 AS quality_score,
                   CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                        WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_en THEN 'de'
                        WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_en AND s_es >= s_de THEN 'es'
                        WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                        ELSE 'und' END AS lang_guess,
                   fp
            FROM scored
        """,
        "q_winnow_fp": f"""
            WITH n AS (
              SELECT doc_id, {_SQL_NORM} AS t FROM documents
            ),
            pos AS (
              SELECT doc_id, len(t) - 4 AS n_grams, t,
                     unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS p
              FROM n WHERE len(t) >= 5
            ),
            g AS (
              SELECT doc_id, n_grams, p, md5(substr(t, CAST(p AS INTEGER), 5)) AS h
              FROM pos
            ),
            win AS (
              SELECT doc_id, p, n_grams,
                     min(h) OVER (PARTITION BY doc_id ORDER BY p
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
              FROM g
            )
            SELECT DISTINCT doc_id, fp FROM win WHERE p <= n_grams - 3
        """,
        "q_text_stats": f"""
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars,
                   CAST(SUM({_SQL_NTOK}) AS BIGINT) AS total_tokens,
                   round(AVG(length(text)), 4) AS avg_chars,
                   round(AVG({_SQL_NTOK}), 4) AS avg_tokens
            FROM documents GROUP BY lang
        """,
        "q_ngram_jaccard": f"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN {_SQL_NORM} = '' THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array({_SQL_NORM}, '\\s+') END AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                        list_distinct(list_transform(
                           range(1, greatest(len(t) - 2, 1) + 1),
                           i -> array_to_string(t[i:i+2], ' '))),
                        x -> substr(md5(x), 1, 15))) AS g
              FROM toks
            ),
            inv AS (SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM grams),
            pairs AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                     CAST(COUNT(*) AS DOUBLE) AS inter,
                     any_value(x.n) AS na, any_value(y.n) AS nb
              FROM inv x JOIN inv y ON x.gram = y.gram AND x.doc_id < y.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, round(inter / (na + nb - inter), 6) AS jaccard
            FROM pairs WHERE round(inter / (na + nb - inter), 6) >= 0.5
        """,
        "q_sim_topk": _SQL_SIM_TOPK,
        "q_minhash_dedup": f"""
            WITH {_sql_minhash_ctes('documents')}
            SELECT id_a, id_b, jaccard FROM mh_pairs
        """,
        "q_simhash_dedup": f"""
            WITH {_sql_simhash_ctes('documents')}
            SELECT id_a, id_b, hamming FROM sh_pairs
        """,
        "q_minhash_recall": f"""
            WITH {_sql_minhash_ctes(_RECALL_DOC_SRC)},
            t_inter AS (
              SELECT pa.id AS id_a, pb.id AS id_b, COUNT(*) AS ni
              FROM shingle pa JOIN shingle pb ON pb.s = pa.s AND pa.id < pb.id
              GROUP BY pa.id, pb.id
            ),
            truth AS (
              SELECT i.id_a, i.id_b
              FROM t_inter i JOIN cnts ca ON ca.id = i.id_a JOIN cnts cb ON cb.id = i.id_b
              WHERE round(CAST(ni AS DOUBLE) / (ca.nsz + cb.nsz - ni), 6) >= 0.8
            ),
            nt AS (SELECT COUNT(*) AS n FROM truth),
            na AS (SELECT COUNT(*) AS n FROM mh_pairs),
            m AS (SELECT COUNT(*) AS nm FROM mh_pairs JOIN truth USING (id_a, id_b))
            SELECT CAST(nt.n AS BIGINT) AS n_truth, CAST(na.n AS BIGINT) AS n_approx,
                   CAST(m.nm AS BIGINT) AS n_matched,
                   round(CAST(m.nm AS DOUBLE) / nullif(nt.n, 0), 6) AS recall
            FROM nt, na, m
        """,
        "q_simhash_recall": f"""
            WITH {_sql_simhash_ctes(_RECALL_DOC_SRC)},
            nt AS (SELECT COUNT(*) AS n FROM sh_pairs)
            SELECT CAST(n AS BIGINT) AS n_truth, CAST(n AS BIGINT) AS n_banded,
                   CAST(n AS BIGINT) AS n_matched,
                   round(CAST(n AS DOUBLE) / nullif(n, 0), 6) AS recall
            FROM nt
        """,
        "q_dedup_clusters": f"""
            WITH RECURSIVE {_sql_minhash_ctes(_RECALL_DOC_SRC)},
            sympairs AS (
              SELECT id_a AS src, id_b AS dst FROM mh_pairs
              UNION
              SELECT id_b, id_a FROM mh_pairs
            ),
            reach(v, r) AS (
              SELECT DISTINCT src, src FROM sympairs
              UNION
              SELECT s.dst, reach.r FROM reach JOIN sympairs s ON s.src = reach.v
            ),
            comp AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v)
            SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
                   (d.doc_id = COALESCE(c.cluster_id, d.doc_id)) AS keep
            FROM {_RECALL_DOC_SRC} d
            LEFT JOIN comp c ON c.v = d.doc_id
        """,
        "q_lsh_topk": _sql_lsh_topk(),
        "q_ivf_topk": _sql_ivf_topk(),
        # trained codebooks (round-7): the oracle replays the unrolled
        # per-subspace integer Lloyd's rounds, the integer-exact
        # encode, and the dequantized-book ADC.
        "q_pq_topk": _sql_pq_topk_trained(m=16, sub=4, n_codes=128, iters=3),
        "q_pq_recall": _sql_topk_recall(
            _sql_pq_topk_trained(m=16, sub=4, n_codes=128, iters=3)
        ),
        "q_ivfpq_topk": _sql_ivfpq_topk_trained(
            m=32, n_codes=128, sub=2, n_probe=8, iters=2, cell_iters=2
        ),
        "q_ivfpq_recall": _sql_topk_recall(
            _sql_ivfpq_topk_trained(
                m=32, n_codes=128, sub=2, n_probe=8, iters=2, cell_iters=2
            )
        ),
        "q_ktruss": _ktruss_oracle_sql(),
        "q_betweenness": _betweenness_oracle_sql(),
        "q_msf": _msf_oracle_sql(),
        # Temperature resampling: the rate sqrt(min/count) uses only
        # correctly-rounded IEEE ops (divide, sqrt, multiply, floor),
        # so the hex threshold below is bit-identical to the engine's
        # (sampling.py:temperature_sample); membership is then the
        # integer-exact md5-slice comparison.
        "q_temperature_sample": """
            WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
            m AS (SELECT MIN(n) AS mn FROM c),
            t AS (
              SELECT lang,
                     CASE WHEN v >= 4294967296 THEN 'gggggggg'
                          ELSE lpad(lower(to_hex(v)), 8, '0') END AS thr
              FROM (
                SELECT lang,
                       CAST(floor(sqrt(CAST(mn AS DOUBLE) / CAST(n AS DOUBLE))
                                  * 4294967296.0) AS BIGINT) AS v
                FROM c CROSS JOIN m
              )
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN t ON t.lang = d.lang
            WHERE substring(md5('temp' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
        """,
        "q_gini": """
            WITH spend AS (
              SELECT o_custkey,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders GROUP BY o_custkey
            ),
            r AS (
              SELECT cents,
                     ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
              FROM spend
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(cents) AS BIGINT) AS total_cents,
                   CAST(CAST(2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)
                             AS HUGEINT)
                        * 1000000 // (COUNT(*) * SUM(cents)) AS BIGINT)
                       AS gini_ppm
            FROM r
        """,
        "q_walks": _sql_random_walks(walk_len=4),
        "q_neighbor_sample": _sql_neighbor_sample(k=3),
        "q_feature_prop": _sql_feature_prop(),
        "q_group_split": _sql_group_split(),
        "q_sq8_topk": _SQL_SQ8_TOPK,
        "q_sq8_recall": _sql_topk_recall(_SQL_SQ8_TOPK),
        "q_outliers": _SQL_OUTLIERS,
        "q_trend": _SQL_TREND,
        "q_cube": """
            WITH base AS (
              SELECT o_orderpriority AS priority,
                     CAST(year(o_orderdate) AS INTEGER) AS o_year,
                     CAST(o_totalprice AS DECIMAL(18,2)) AS price
              FROM orders
            )
            SELECT priority, o_year,
                   round(CAST(SUM(price) AS DOUBLE), 4) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(GROUPING(priority, o_year) AS INTEGER) AS gid
            FROM base GROUP BY CUBE (priority, o_year)
        """,
        "q_event_seqs": """
            WITH s AS (
              SELECT event_type AS e1,
                     LEAD(event_type, 1) OVER w AS e2,
                     LEAD(event_type, 2) OVER w AS e3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            f AS (
              SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM s WHERE e3 IS NOT NULL GROUP BY e1, e2, e3
            )
            SELECT e1, e2, e3, cnt,
                   CAST(cnt * 1000000 // (SELECT SUM(cnt) FROM f) AS BIGINT)
                       AS support_ppm
            FROM f
        """,
        "q_deciles": """
            WITH spend AS (
              SELECT o_custkey,
                     CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders GROUP BY o_custkey
            ),
            r AS (
              SELECT cents,
                     ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
              FROM spend
            )
            SELECT CAST((i - 1) * 10 // (SELECT COUNT(*) FROM spend) AS INTEGER)
                       AS decile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(cents) AS BIGINT) AS total_cents,
                   CAST(MIN(cents) AS BIGINT) AS min_cents,
                   CAST(MAX(cents) AS BIGINT) AS max_cents
            FROM r GROUP BY 1
        """,
        # Blocking replay for the levenshtein fuzzy dedup: the same
        # normalized token 5-gram vocabulary as q_decontam, bucket cap
        # 16, length-band prefilter, then DuckDB's levenshtein (unit
        # costs, identical to Spark's) under the same threshold.
        "q_edit_dedup": f"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN {_SQL_NORM} = '' THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array({_SQL_NORM}, '\\s+') END AS t
              FROM documents
            ),
            gd AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                        range(1, greatest(len(t) - 4, 1) + 1),
                        i -> array_to_string(t[i:i+4], ' ')))) AS g
              FROM toks
            ),
            ok AS (
              SELECT g FROM gd WHERE g != ''
              GROUP BY g HAVING COUNT(*) <= 16
            ),
            cand AS (
              SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              FROM gd x JOIN ok USING (g) JOIN gd y USING (g)
              WHERE x.doc_id < y.doc_id
            )
            SELECT CAST(c.doc_a AS BIGINT) AS doc_a,
                   CAST(c.doc_b AS BIGINT) AS doc_b,
                   CAST(levenshtein(da.text, db.text) AS INTEGER) AS lev
            FROM cand c
            JOIN documents da ON da.doc_id = c.doc_a
            JOIN documents db ON db.doc_id = c.doc_b
            WHERE abs(length(da.text) - length(db.text)) <= 10
              AND levenshtein(da.text, db.text) <= 10
        """,
        # Heavy-hitters replay: the same 4 x 4096 md5 cells as the
        # engine's sketch (3 hex chars), per-item MIN upper bound,
        # both threshold predicates cross-multiplied; est-pass is a
        # superset of exact-pass (CMS never under-counts), so the
        # joint filter equals the engine's prune-then-verify.
        "q_heavy_hitters": """
            WITH depths AS (SELECT unnest(range(4)) AS i),
            v AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events),
            cells AS (
              SELECT i,
                     substring(md5(CAST(i AS VARCHAR) || ':' || item), 1, 3)
                         AS bucket,
                     COUNT(*) AS cnt
              FROM v CROSS JOIN depths GROUP BY 1, 2
            ),
            t AS (
              SELECT COUNT(*) AS tot, COUNT(DISTINCT item) AS ni FROM v
            ),
            items AS (SELECT DISTINCT item FROM v),
            probes AS (
              SELECT item, i,
                     substring(md5(CAST(i AS VARCHAR) || ':' || item), 1, 3)
                         AS bucket
              FROM items CROSS JOIN depths
            ),
            est AS (
              SELECT item, CAST(MIN(cnt) AS BIGINT) AS n_est
              FROM probes JOIN cells USING (i, bucket) GROUP BY item
            ),
            exact AS (
              SELECT item, CAST(COUNT(*) AS BIGINT) AS n_exact
              FROM v GROUP BY item
            )
            SELECT exact.item, exact.n_exact, est.n_est
            FROM exact JOIN est USING (item), t
            WHERE est.n_est * t.ni * 10 >= t.tot * 12
              AND exact.n_exact * t.ni * 10 >= t.tot * 12
        """,
        # Assortativity replay: same sums over the symmetric stamped
        # edge list; HUGEINT products mirror the DECIMAL(38) headroom,
        # and the CASE keeps every integral division non-negative
        # (truncate == floor there, so // and DIV agree).
        "q_assortativity": f"""
            WITH {_sql_copurchase(
                "WHERE l_shipdate >= TIMESTAMP '1995-01-01' "
                "AND l_shipdate < TIMESTAMP '1996-01-01'").strip()},
            sym AS (
              SELECT src, dst FROM ce
              UNION ALL SELECT dst, src FROM ce
            ),
            deg AS (SELECT src AS v, COUNT(*) AS deg FROM sym GROUP BY src),
            st AS (
              SELECT dj.deg AS j, dk.deg AS k
              FROM sym JOIN deg dj ON dj.v = sym.src
                       JOIN deg dk ON dk.v = sym.dst
            ),
            s AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS m,
                     SUM(j * k) AS sjk, SUM(j) AS sj, SUM(j * j) AS sjj
              FROM st
            ),
            nd AS (
              SELECT m,
                     CAST(m AS HUGEINT) * sjk - CAST(sj AS HUGEINT) * sj AS num,
                     CAST(m AS HUGEINT) * sjj - CAST(sj AS HUGEINT) * sj AS den
              FROM s
            )
            SELECT m AS m_directed,
                   CAST(num AS BIGINT) AS num,
                   CAST(den AS BIGINT) AS den,
                   CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
                             ELSE -((-num * 1000000) // den) END AS BIGINT)
                       AS r_ppm
            FROM nd
        """,
        # Decimation replay: interleaved sample k belongs to frame
        # k // channels; keeping even frames keeps those k — same
        # congruence signal as q_audio_features over the kept set.
        "q_audio_downsample": """
            WITH ks AS (SELECT range AS k FROM range(0, 1998)),
            d AS (
              SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST(1 + doc_id % 2 AS BIGINT) AS ch,
                     CAST(100 + (37 * doc_id) % 900 AS BIGINT) AS frames,
                     CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) AS rate
              FROM documents
            ),
            s AS (
              SELECT media_id, ch, rate,
                     ((37 * k + 11 * media_id) % 4001) - 2000 AS v
              FROM d JOIN ks ON k < frames * ch
              WHERE (k // ch) % 2 = 0
            )
            SELECT media_id,
                   CAST(rate // 2 AS BIGINT) AS rate_out,
                   CAST(COUNT(*) AS BIGINT) AS n_samples,
                   CAST(MAX(ABS(v)) AS BIGINT) AS peak,
                   CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
                   CAST(SUM(v * v) AS BIGINT) AS sum_sq
            FROM s GROUP BY media_id, rate
        """,
        "q_stream_upsert": """
            SELECT user_id,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS spend_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_purchases
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        """,
        # Directed-SCC ground truth on the bounded trade digraph:
        # pairwise reachability by WITH RECURSIVE (|nations|^2 pairs),
        # scc id = min mutual-reach partner (incl. self) — the same
        # min-id contract the FW-BW peel converges to.
        "q_scc": """
            -- flows0 is MATERIALIZED as an optimizer fence (round-7):
            -- with the a != b predicate inside the join block, DuckDB
            -- 1.0 rewrites it into a customer NESTED_LOOP_JOIN
            -- supplier ON c_nationkey != s_nationkey — a 1.5e9-row
            -- intermediate at decade scale (measured: disk-full spill
            -- at sf1-equivalent; 0.9 s with the fence).  Filtering
            -- the 625 aggregated groups afterward is value-identical:
            -- each fact row belongs to exactly one (a, b) group, so
            -- dropping diagonal GROUPS drops exactly the diagonal
            -- ROWS' counts.
            WITH RECURSIVE flows0 AS MATERIALIZED (
              SELECT CAST(c.c_nationkey AS BIGINT) AS a,
                     CAST(s.s_nationkey AS BIGINT) AS b,
                     COUNT(*) AS cnt
              FROM lineitem l
              JOIN orders o ON o.o_orderkey = l.l_orderkey
              JOIN customer c ON c.c_custkey = o.o_custkey
              JOIN supplier s ON s.s_suppkey = l.l_suppkey
              GROUP BY 1, 2
            ),
            flows AS (SELECT a, b, cnt FROM flows0 WHERE a != b),
            tg AS (
              SELECT a, b FROM (
                SELECT a, b,
                       ROW_NUMBER() OVER (PARTITION BY a
                                          ORDER BY cnt DESC, b) AS rk
                FROM flows
              ) WHERE rk <= 2
            ),
            reach AS (
              SELECT a AS s, b AS t FROM tg
              UNION
              SELECT r.s, tg.b FROM reach r JOIN tg ON tg.a = r.t
            ),
            verts AS (
              SELECT DISTINCT a AS v FROM tg
              UNION SELECT DISTINCT b FROM tg
            ),
            mutual AS (
              SELECT r1.s AS v, r1.t AS w
              FROM reach r1 JOIN reach r2 ON r2.s = r1.t AND r2.t = r1.s
            )
            SELECT CAST(v.v AS BIGINT) AS vertex,
                   CAST(LEAST(v.v, COALESCE(MIN(m.w), v.v)) AS BIGINT) AS scc
            FROM verts v LEFT JOIN mutual m ON m.v = v.v
            GROUP BY v.v
        """,
        # MVCC time-travel replay: same net-event construction as
        # catalog.snapshot_versions (delete-then-insert at one version
        # nets to insert via EXCEPT), arg_max over (v) per (edge,
        # version) decides visibility.
        "q_time_travel": f"""
            WITH {_SQL_TT_EV.strip()},
            vers AS (SELECT CAST(unnest(range(1, 4)) AS INTEGER) AS version),
            vis AS (
              SELECT e.lo, e.hi, ver.version, arg_max(e.ins, e.v) AS ins
              FROM ev e JOIN vers ver ON e.v <= ver.version
              GROUP BY e.lo, e.hi, ver.version
            )
            SELECT CAST(1 AS INTEGER) AS graph_id, version,
                   CAST(COUNT(*) AS BIGINT) AS n_edges,
                   CAST(SUM(lo * 100003 + hi) AS BIGINT) AS checksum
            FROM vis WHERE ins GROUP BY version
        """,
        # CDC replay: visibility at v1 and v3 off the same event log,
        # EXCEPT in both directions.
        "q_cdc": f"""
            WITH {_SQL_TT_EV.strip()},
            va AS (
              SELECT lo, hi FROM (
                SELECT lo, hi, arg_max(ins, v) AS ins
                FROM ev WHERE v <= 1 GROUP BY lo, hi
              ) WHERE ins
            ),
            vb AS (
              SELECT lo, hi FROM (
                SELECT lo, hi, arg_max(ins, v) AS ins
                FROM ev WHERE v <= 3 GROUP BY lo, hi
              ) WHERE ins
            )
            SELECT CAST(1 AS INTEGER) AS graph_id, 'add' AS op, lo, hi
            FROM (SELECT lo, hi FROM vb EXCEPT SELECT lo, hi FROM va)
            UNION ALL
            SELECT CAST(1 AS INTEGER), 'del', lo, hi
            FROM (SELECT lo, hi FROM va EXCEPT SELECT lo, hi FROM vb)
        """,
        "q_cliques4": f"""
            WITH {_sql_copurchase(
                "WHERE l_shipdate >= TIMESTAMP '1995-01-01' "
                "AND l_shipdate < TIMESTAMP '1996-01-01'").strip()},
            t3 AS MATERIALIZED (
                   SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                   FROM ce e1
                   JOIN ce e2 ON e2.src = e1.src AND e2.dst > e1.dst
                   JOIN ce e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
            q4 AS (SELECT t.a, t.b, t.c, x1.dst AS d
                   FROM t3 t
                   JOIN ce x1 ON x1.src = t.c
                   JOIN ce x2 ON x2.src = t.b AND x2.dst = x1.dst
                   JOIN ce x3 ON x3.src = t.a AND x3.dst = x1.dst)
            SELECT vertex, CAST(COUNT(*) AS BIGINT) AS cliques4 FROM (
              SELECT a AS vertex FROM q4
              UNION ALL SELECT b FROM q4
              UNION ALL SELECT c FROM q4
              UNION ALL SELECT d FROM q4)
            GROUP BY vertex
        """,
        "q_mis": _mis_oracle_sql(),
        "q_lpa": _lpa_oracle_sql(),
        "q_assoc_rules": f"""
            WITH {_sql_copurchase().strip()},
            nitem AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n
                      FROM li2 GROUP BY p),
            ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM ok_sized),
            pc AS (SELECT a.p AS src, b.p AS dst,
                          CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p
                   GROUP BY a.p, b.p HAVING COUNT(*) >= 2),
            rules AS (SELECT src AS ante, dst AS cons, cnt FROM pc
                      UNION ALL SELECT dst, src, cnt FROM pc)
            SELECT ante, cons, cnt AS pair_cnt, na.n AS n_ante,
                   CAST(cnt * 1000000 // na.n AS BIGINT) AS conf_ppm,
                   CAST(cnt * ng.N * 1000000 // (na.n * nb.n) AS BIGINT)
                       AS lift_ppm
            FROM rules JOIN nitem na ON na.p = rules.ante
                       JOIN nitem nb ON nb.p = rules.cons, ng
        """,
        "q_trailing_spend": """
            WITH base AS (
              SELECT o_orderkey, o_custkey,
                     CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)
                         AS day_num,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders
            )
            SELECT o_orderkey, o_custkey, CAST(day_num AS INTEGER) AS day_num,
                   CAST(SUM(cents) OVER w AS BIGINT) AS trailing_cents,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window
            FROM base
            WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
                         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        """,
        "q_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        """,
        "q_skyline": """
            SELECT a.p_partkey, a.p_size, a.p_retailprice
            FROM part a
            WHERE NOT EXISTS (
              SELECT 1 FROM part b
              WHERE b.p_size >= a.p_size AND b.p_retailprice <= a.p_retailprice
                AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice)
            )
        """,
        "q_stream_enrich": """
            WITH signup AS (
              SELECT user_id, MIN(ts) AS t0 FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            )
            SELECT CAST(date_diff('day', s.t0, e.ts) // 7 AS INTEGER) AS week_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_purchases,
                   round(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 4)
                       AS total_value
            FROM events e JOIN signup s ON e.user_id = s.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= s.t0
            GROUP BY 1
        """,
        "q_transitions": """
            WITH pairs AS (
              SELECT event_type AS from_type,
                     LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS to_type
              FROM events
            ),
            counts AS (
              SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
              FROM pairs WHERE to_type IS NOT NULL
              GROUP BY from_type, to_type
            ),
            totals AS (
              SELECT from_type, SUM(n) AS tot FROM counts GROUP BY from_type
            )
            SELECT c.from_type, c.to_type, c.n,
                   CAST(c.n * 1000000 // t.tot AS BIGINT) AS p_scaled
            FROM counts c JOIN totals t USING (from_type)
        """,
        "q_stream_hdr": """
            WITH base AS (
              SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS c
              FROM lineitem
            ),
            b2 AS (
              SELECT ship_month,
                     (c // CAST(power(2, greatest(
                          length(format('{:b}', c)) - 1 - 4, 0)) AS BIGINT))
                     * CAST(power(2, greatest(
                          length(format('{:b}', c)) - 1 - 4, 0)) AS BIGINT)
                         AS bucket
              FROM base
            ),
            hist AS (
              SELECT ship_month, bucket, COUNT(*) AS cnt
              FROM b2 GROUP BY ship_month, bucket
            ),
            cum AS (
              SELECT ship_month, bucket,
                     SUM(cnt) OVER (PARTITION BY ship_month
                                    ORDER BY bucket) AS cum,
                     SUM(cnt) OVER (PARTITION BY ship_month) AS n
              FROM hist
            ),
            est AS (
              SELECT ship_month,
                     MIN(CASE WHEN cum >= 0.5 * n THEN bucket END) AS est_0,
                     MIN(CASE WHEN cum >= 0.9 * n THEN bucket END) AS est_1,
                     MIN(CASE WHEN cum >= 0.99 * n THEN bucket END) AS est_2
              FROM cum GROUP BY ship_month
            )
            SELECT ship_month, CAST(0.5 AS DOUBLE) AS q,
                   round(est_0 / 100.0, 4) AS est_v FROM est
            UNION ALL
            SELECT ship_month, CAST(0.9 AS DOUBLE), round(est_1 / 100.0, 4)
            FROM est
            UNION ALL
            SELECT ship_month, CAST(0.99 AS DOUBLE), round(est_2 / 100.0, 4)
            FROM est
        """,
        "q_hdr_quantile": """
            WITH base AS (
              SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS c,
                     CAST(l_extendedprice AS DOUBLE) AS x
              FROM lineitem
            ),
            b2 AS (
              SELECT ship_month,
                     (c // CAST(power(2, greatest(
                          length(format('{:b}', c)) - 1 - 4, 0)) AS BIGINT))
                     * CAST(power(2, greatest(
                          length(format('{:b}', c)) - 1 - 4, 0)) AS BIGINT)
                         AS bucket
              FROM base
            ),
            hist AS (
              SELECT ship_month, bucket, COUNT(*) AS cnt
              FROM b2 GROUP BY ship_month, bucket
            ),
            cum AS (
              SELECT ship_month, bucket,
                     SUM(cnt) OVER (PARTITION BY ship_month
                                    ORDER BY bucket) AS cum,
                     SUM(cnt) OVER (PARTITION BY ship_month) AS n
              FROM hist
            ),
            est AS (
              SELECT ship_month,
                     MIN(CASE WHEN cum >= 0.5 * n THEN bucket END) AS est_0,
                     MIN(CASE WHEN cum >= 0.9 * n THEN bucket END) AS est_1,
                     MIN(CASE WHEN cum >= 0.99 * n THEN bucket END) AS est_2
              FROM cum GROUP BY ship_month
            ),
            ex AS (
              SELECT ship_month,
                     quantile_cont(x, 0.5) AS x0,
                     quantile_cont(x, 0.9) AS x1,
                     quantile_cont(x, 0.99) AS x2
              FROM base GROUP BY ship_month
            ),
            unrolled AS (
              SELECT est.ship_month, CAST(0.5 AS DOUBLE) AS q,
                     round(est_0 / 100.0, 4) AS est_v, round(x0, 4) AS exact_v
              FROM est JOIN ex USING (ship_month)
              UNION ALL
              SELECT est.ship_month, CAST(0.9 AS DOUBLE),
                     round(est_1 / 100.0, 4), round(x1, 4)
              FROM est JOIN ex USING (ship_month)
              UNION ALL
              SELECT est.ship_month, CAST(0.99 AS DOUBLE),
                     round(est_2 / 100.0, 4), round(x2, 4)
              FROM est JOIN ex USING (ship_month)
            )
            SELECT ship_month, q, est_v, exact_v,
                   -- both-zero guard mirrors sketches.hdr_quantile_err:
                   -- an all-zero stratum reads 0; a nonzero estimate
                   -- against an exact 0 surfaces as NULL, never 0.
                   CASE WHEN exact_v = 0 AND est_v = 0 THEN 0.0
                        ELSE round((exact_v - est_v) / nullif(exact_v, 0), 4)
                   END AS rel_err
            FROM unrolled
        """,
        "q_diameter": f"""
            WITH RECURSIVE e0 AS ({_SQL_E0}),
            sym AS (
              SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
            ),
            bfs(start, vertex, level) AS (
              SELECT v, v, CAST(0 AS INTEGER)
              FROM (SELECT CAST(999 AS BIGINT) AS v
                    UNION ALL SELECT CAST(0 AS BIGINT)
                    UNION ALL SELECT CAST(100 AS BIGINT)) s
              UNION
              SELECT bfs.start, sym.dst, CAST(bfs.level + 1 AS INTEGER)
              FROM bfs JOIN sym ON sym.src = bfs.vertex
              WHERE bfs.level < 8
            ),
            lv AS (
              SELECT start, vertex, MIN(level) AS level
              FROM bfs GROUP BY start, vertex
            )
            SELECT start, CAST(MAX(level) AS INTEGER) AS ecc,
                   CAST(COUNT(*) AS BIGINT) AS n_reached
            FROM lv GROUP BY start
        """,
        "q_closeness": f"""
            WITH RECURSIVE e0 AS ({_SQL_E0}),
            sym AS (
              SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
            ),
            bfs(start, vertex, level) AS (
              SELECT v, v, CAST(0 AS INTEGER)
              FROM (SELECT CAST(999 AS BIGINT) AS v
                    UNION ALL SELECT CAST(0 AS BIGINT)
                    UNION ALL SELECT CAST(100 AS BIGINT)) s
              UNION
              SELECT bfs.start, sym.dst, CAST(bfs.level + 1 AS INTEGER)
              FROM bfs JOIN sym ON sym.src = bfs.vertex
              WHERE bfs.level < 8
            ),
            lv AS (
              SELECT start, vertex, MIN(level) AS level
              FROM bfs GROUP BY start, vertex
            )
            SELECT start, CAST(COUNT(*) AS BIGINT) AS n_reached,
                   CAST(SUM(level) AS BIGINT) AS sum_dist,
                   CAST(SUM(1000000000 // level) AS BIGINT) AS harmonic_scaled
            FROM lv WHERE level >= 1 GROUP BY start
        """,
        "q_zorder": f"""
            WITH cells AS (
              SELECT CAST(o_custkey % 256 AS BIGINT) AS cx,
                     CAST((CAST(o_orderdate AS DATE) - DATE '1992-01-01') % 256
                          AS BIGINT) AS cy
              FROM orders
            ),
            z AS (
              SELECT cx, cy, CAST(({_Z_EXPR}) // 4096 AS BIGINT) AS file_id
              FROM cells
            )
            SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MIN(cx) AS min_cust, MAX(cx) AS max_cust,
                   MIN(cy) AS min_day, MAX(cy) AS max_day
            FROM z GROUP BY file_id
        """,
        "q_compaction": """
            WITH binned AS (
              SELECT source,
                     CAST((SUM(n_chars) OVER (
                         PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) - n_chars) // 16384 AS BIGINT) AS bin_id,
                     CAST(n_chars AS BIGINT) AS sz
              FROM documents
            )
            SELECT source, bin_id, CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(sz) AS BIGINT) AS total_bytes
            FROM binned GROUP BY source, bin_id
        """,
        "q_ann_batch": """
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
            ),
            sims AS (
              SELECT CAST(query_id AS BIGINT) AS query_id, e.vec_id,
                     round(list_cosine_similarity(
                         CAST(e.embedding AS DOUBLE[]), qv), 4) AS sim
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id
            ),
            ranked AS (
              SELECT query_id, vec_id, sim,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY sim DESC, vec_id
                     ) AS INTEGER) AS rank
              FROM sims
            )
            SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 5
        """,
        "q_range_search": """
            WITH q AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
            )
            SELECT CAST(query_id AS BIGINT) AS query_id, e.vec_id,
                   round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), qv), 4) AS sim
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> query_id
              AND round(list_cosine_similarity(
                      CAST(e.embedding AS DOUBLE[]), qv), 4) >= 0.25
        """,
        "q_bm25": """
            WITH base AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                         AS norm
              FROM documents
            ),
            toks AS (
              SELECT doc_id, unnest(string_split(norm, ' ')) AS term
              FROM base WHERE norm <> ''
            ),
            per_doc AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl,
                     CAST(SUM(CASE WHEN term = 'vector' THEN 1 ELSE 0 END)
                          AS BIGINT) AS tf_0,
                     CAST(SUM(CASE WHEN term = 'join' THEN 1 ELSE 0 END)
                          AS BIGINT) AS tf_1,
                     CAST(SUM(CASE WHEN term = 'stream' THEN 1 ELSE 0 END)
                          AS BIGINT) AS tf_2
              FROM toks GROUP BY doc_id
            ),
            stats AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS n_toks,
                     CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
                     CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
                     CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
              FROM per_doc
            ),
            scored AS (
              SELECT doc_id, round(
                  ((2*n_docs - 2*df_0 + 1) / (2*df_0 + 1))
                  * (CASE WHEN tf_0 > 0
                     THEN (44*tf_0*n_toks)
                          / (20*tf_0*n_toks + 6*n_toks + 18*dl*n_docs)
                     ELSE 0.0 END)
                + ((2*n_docs - 2*df_1 + 1) / (2*df_1 + 1))
                  * (CASE WHEN tf_1 > 0
                     THEN (44*tf_1*n_toks)
                          / (20*tf_1*n_toks + 6*n_toks + 18*dl*n_docs)
                     ELSE 0.0 END)
                + ((2*n_docs - 2*df_2 + 1) / (2*df_2 + 1))
                  * (CASE WHEN tf_2 > 0
                     THEN (44*tf_2*n_toks)
                          / (20*tf_2*n_toks + 6*n_toks + 18*dl*n_docs)
                     ELSE 0.0 END), 6) AS score
              FROM per_doc CROSS JOIN stats
            ),
            top AS (
              SELECT doc_id, score FROM scored WHERE score > 0
              ORDER BY score DESC, doc_id LIMIT 15
            )
            SELECT doc_id, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS INTEGER) AS rank
            FROM top
        """,
        "q_min_cost_supp": """
            WITH supply AS (
              SELECT l_partkey, l_suppkey,
                     MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost_dec
              FROM lineitem GROUP BY l_partkey, l_suppkey
            ),
            sup AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
            ),
            cand AS (
              SELECT sup.s_acctbal, sup.s_name, sup.n_name,
                     part.p_partkey, part.p_brand, supply.cost_dec
              FROM supply
              JOIN part ON l_partkey = p_partkey
              JOIN sup ON l_suppkey = s_suppkey
              WHERE p_size BETWEEN 10 AND 20
            )
            SELECT round(CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE), 2)
                       AS s_acctbal,
                   s_name, n_name, CAST(p_partkey AS BIGINT) AS p_partkey,
                   p_brand, round(CAST(cost_dec AS DOUBLE), 2) AS supply_cost
            FROM cand c
            WHERE cost_dec = (SELECT MIN(cost_dec) FROM cand c2
                              WHERE c2.p_partkey = c.p_partkey)
        """,
        "q_product_profit": """
            WITH p AS (
              SELECT p_partkey, CAST(p_retailprice AS DECIMAL(18,2)) AS retail_dec
              FROM part WHERE p_name LIKE '%blue%'
            ),
            li AS (
              SELECT l_orderkey, l_suppkey,
                     CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))
                     - CAST(l_quantity AS DECIMAL(18,2)) * retail_dec AS amount
              FROM lineitem JOIN p ON l_partkey = p_partkey
            ),
            sup AS (
              SELECT s_suppkey, n_name FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
            )
            SELECT n_name AS nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                   round(CAST(SUM(amount) AS DOUBLE), 4) AS sum_profit
            FROM li
            JOIN orders ON l_orderkey = o_orderkey
            JOIN sup ON l_suppkey = s_suppkey
            GROUP BY n_name, o_year
        """,
        "q_important_parts": """
            WITH sup AS (
              SELECT s_suppkey FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
            ),
            pvalue AS (
              SELECT l_partkey,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                          AS BIGINT) AS value_cents
              FROM lineitem JOIN sup ON l_suppkey = s_suppkey
              GROUP BY l_partkey
            )
            SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
                   round(value_cents / 100.0, 2) AS value
            FROM pvalue
            WHERE value_cents * (SELECT COUNT(*) FROM pvalue) >
                  (SELECT SUM(value_cents) FROM pvalue) * 2
        """,
        "q_part_supp_counts": """
            WITH pairs AS (
              SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            ),
            ok_pairs AS (
              SELECT * FROM pairs
              WHERE l_suppkey NOT IN
                    (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
            )
            SELECT p_brand, p_type, CAST(p_size AS INTEGER) AS p_size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM ok_pairs JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 16, 25, 36, 49)
            GROUP BY p_brand, p_type, p_size
        """,
        "q_promo_suppliers": """
            WITH p AS (
              SELECT p_partkey FROM part WHERE p_name LIKE 'blue%'
            ),
            sums AS (
              SELECT l_suppkey,
                     SUM(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01'
                               AND l_shipdate < TIMESTAMP '1996-01-01'
                          THEN CAST(l_quantity AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS qty_window,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_all
              FROM lineitem JOIN p ON l_partkey = p_partkey
              GROUP BY l_suppkey, l_partkey
            )
            SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND s_suppkey IN (SELECT l_suppkey FROM sums
                                WHERE 2 * qty_window > qty_all)
        """,
        "q_market_share": """
            WITH nat_r AS (
              SELECT n_nationkey FROM nation
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
            ),
            o AS (
              SELECT o_orderkey, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
                AND o_custkey IN (
                  SELECT c_custkey FROM customer
                  WHERE c_nationkey IN (SELECT n_nationkey FROM nat_r))
            ),
            li AS (
              SELECT l_orderkey, l_suppkey,
                     CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2))) AS dp
              FROM lineitem
              WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
            ),
            sup AS (
              SELECT s_suppkey, n_name FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
            ),
            j AS (
              SELECT o.o_year, li.dp, sup.n_name
              FROM o JOIN li ON o.o_orderkey = li.l_orderkey
              JOIN sup ON li.l_suppkey = sup.s_suppkey
            )
            SELECT o_year,
                   round(CAST(SUM(CASE WHEN n_name = 'NATION_7' THEN dp
                                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                         / CAST(SUM(dp) AS DOUBLE), 6) AS mkt_share
            FROM j GROUP BY o_year
        """,
        "q_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
                   round(CAST(rev_dec AS DOUBLE), 4) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
        """,
        "q_waiting_suppliers": """
            WITH lo AS (
              SELECT l_orderkey, l_suppkey,
                     l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
            ),
            per_order AS (
              SELECT l_orderkey,
                     COUNT(DISTINCT l_suppkey) AS n_supps,
                     COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supps
              FROM lo GROUP BY l_orderkey
            ),
            blamed AS (
              SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
              FROM lo JOIN per_order USING (l_orderkey)
              WHERE lo.is_late AND per_order.n_supps > 1
                AND per_order.n_late_supps = 1
            )
            SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
            FROM blamed
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY s_name
        """,
        "q_idle_customers": """
            WITH cs AS (
              SELECT c_custkey, c_nationkey,
                     CAST(c_acctbal AS DECIMAL(18,2)) AS bal
              FROM customer
              WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
            ),
            pos AS (
              SELECT SUM(bal) AS sum_bal, COUNT(*) AS n_pos
              FROM cs WHERE bal > 0
            )
            SELECT CAST(c_nationkey AS INTEGER) AS cntry,
                   CAST(COUNT(*) AS BIGINT) AS numcust,
                   round(CAST(SUM(bal) AS DOUBLE), 4) AS totacctbal
            FROM cs CROSS JOIN pos
            WHERE bal * n_pos > sum_bal
              AND c_custkey NOT IN (
                SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c_nationkey
        """,
        "q_stream_dedup": """
            SELECT DISTINCT md5(text) AS text_hash FROM documents
        """,
        "q_edge_merge": f"""
            WITH e0 AS ({_SQL_E0}),
            canon AS (
              SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
              FROM e0 WHERE src <> dst
            ),
            g1 AS (
              SELECT CAST(1 AS INTEGER) AS graph_id, lo AS src, hi AS dst FROM canon
              UNION ALL
              SELECT CAST(1 AS INTEGER), hi, lo FROM canon
            ),
            g2raw AS (
              SELECT CAST(998 AS BIGINT) AS src, CAST(100 + n_nationkey AS BIGINT) AS dst
              FROM nation
            ),
            canon2 AS (
              SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
              FROM g2raw WHERE src <> dst
            ),
            g2 AS (
              SELECT CAST(2 AS INTEGER) AS graph_id, lo AS src, hi AS dst FROM canon2
              UNION ALL
              SELECT CAST(2 AS INTEGER), hi, lo FROM canon2
            ),
            dels AS (
              SELECT DISTINCT LEAST(CAST(999 AS BIGINT), CAST(r_regionkey AS BIGINT)) AS lo,
                     GREATEST(CAST(999 AS BIGINT), CAST(r_regionkey AS BIGINT)) AS hi
              FROM region
            ),
            kept AS (
              SELECT g1.graph_id, g1.src, g1.dst FROM g1
              LEFT JOIN dels d
                ON LEAST(g1.src, g1.dst) = d.lo AND GREATEST(g1.src, g1.dst) = d.hi
              WHERE d.lo IS NULL
            ),
            ins0 AS (
              SELECT CAST(999 AS BIGINT) AS src, CAST(100 + n_nationkey AS BIGINT) AS dst
              FROM nation WHERE n_nationkey < 5
              UNION ALL
              SELECT CAST(100 + c_nationkey AS BIGINT), CAST(1000 + c_custkey AS BIGINT)
              FROM customer WHERE c_custkey <= 20
            ),
            canoni AS (
              SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
              FROM ins0 WHERE src <> dst
            ),
            ins AS (
              SELECT CAST(1 AS INTEGER) AS graph_id, lo AS src, hi AS dst FROM canoni
              UNION ALL
              SELECT CAST(1 AS INTEGER), hi, lo FROM canoni
            ),
            merged AS (
              SELECT DISTINCT graph_id, src, dst
              FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
            )
            SELECT graph_id, src, dst FROM g2
            UNION ALL
            SELECT graph_id, src, dst FROM merged
        """,
        "q_lsh_recall": _sql_topk_recall(_sql_lsh_topk()),
        "q_ivf_recall": _sql_topk_recall(_sql_ivf_topk()),
        "q_embedding_near_dup": f"""
            WITH vecs AS (
              SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id < 20
            ),
            {_sql_emb_sig_ctes()},
            sized AS (SELECT id, t, sig, COUNT(*) OVER (PARTITION BY t, sig) AS bsz FROM esig),
            cand AS (
              SELECT DISTINCT x.id AS id_a, y.id AS id_b
              FROM sized x JOIN sized y ON x.t = y.t AND x.sig = y.sig AND x.id < y.id
              WHERE x.bsz <= 1000 AND y.bsz <= 1000
            )
            SELECT c.id_a, c.id_b, round(list_cosine_similarity(a.dv, b.dv), 6) AS sim
            FROM cand c JOIN vecs a ON a.id = c.id_a JOIN vecs b ON b.id = c.id_b
            WHERE round(list_cosine_similarity(a.dv, b.dv), 6) >= 0.95
        """,
        "q_media_meta": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents
        """,
        # plant_images builds one minimal PNG (33 bytes) / GIF (13) /
        # JPEG (33) per doc with dims planted arithmetically; the
        # oracle predicts what the byte-level header parser must read
        # back out of the real encoded structures.
        "q_image_meta": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(CASE WHEN doc_id % 3 = 1 THEN 13 ELSE 33 END AS BIGINT) AS n_bytes,
                   CAST(16 + (7 * doc_id) % 240 AS BIGINT) AS width,
                   CAST(16 + (13 * doc_id) % 240 AS BIGINT) AS height
            FROM documents
        """,
        # frame_sample keeps every stride-th 256-byte chunk of the
        # video payload (utf-8 text bytes), at most 4; frame sizes and
        # numbering replay as byte arithmetic on octet_length.
        "q_frame_sample": """
            WITH v AS (
              SELECT doc_id, octet_length(encode(text)) AS L
              FROM documents WHERE doc_id % 3 = 2
            ),
            c AS (
              SELECT doc_id, L, CAST(ceil(L / 256.0) AS BIGINT) AS n_chunks
              FROM v WHERE L > 0
            ),
            s AS (
              SELECT doc_id, L, n_chunks,
                     greatest(1, CAST(ceil(n_chunks / 4.0) AS BIGINT)) AS stride
              FROM c
            ),
            f AS (
              SELECT doc_id, L, stride,
                     unnest(range(least((n_chunks - 1) // stride + 1, 4))) AS j
              FROM s
            )
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(j AS BIGINT) AS frame_no,
                   CAST(least(256, L - j * stride * 256) AS BIGINT) AS n_bytes
            FROM f
        """,
        # Nearest-neighbor resize replay: source W/H and every pixel
        # are arithmetic in doc_id, so the 16x16 output checksum is a
        # 256-term sum over the sampled source coordinates
        # (out[r,c] = src[r*H // 16, c*W // 16]).
        "q_resize": """
            WITH grid AS (
              SELECT r.r, c.c FROM range(0, 16) r(r) CROSS JOIN range(0, 16) c(c)
            ),
            px AS (
              SELECT d.doc_id,
                     (31 * ((g.r * (8 + d.doc_id % 7)) // 16)
                      + 17 * ((g.c * (8 + d.doc_id % 9)) // 16)
                      + d.doc_id) % 256 AS v
              FROM documents d CROSS JOIN grid g
            )
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(16 AS BIGINT) AS out_w,
                   CAST(16 AS BIGINT) AS out_h,
                   CAST(SUM(v) AS BIGINT) AS checksum
            FROM px GROUP BY doc_id
        """,
        # plant_encoded_pngs compresses the plant_bitmaps arithmetic
        # pixels (W = 8 + id%9, H = 8 + id%7, p(i,j) = (31i+17j+id)%256)
        # through the real PNG encoder; the decoded-pixel sum and the
        # 8x8 nearest-neighbor resize checksum replay exactly.
        "q_png_decode": _SQL_PNG_STATS,
        # plant_alpha_pngs: even ids RGBA (ctype 6), odd gray+alpha
        # (ctype 4, gray reported as r=g=b); channels are arithmetic
        # in (i, j, id) and the r*a cross term pins channel order.
        "q_png_alpha": """
    WITH docs AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             CAST(8 + doc_id % 9 AS BIGINT) AS w,
             CAST(8 + doc_id % 7 AS BIGINT) AS h,
             CASE WHEN doc_id % 2 = 0 THEN 6 ELSE 4 END AS ctype
      FROM documents
    ),
    px AS (
      SELECT d.media_id, d.ctype, d.w, d.h,
             (31 * i.i + 17 * j.j + d.media_id) % 256 AS r,
             CASE WHEN d.ctype = 6
                  THEN (29 * i.i + 19 * j.j + 3 * d.media_id) % 256
                  ELSE (31 * i.i + 17 * j.j + d.media_id) % 256 END AS g,
             CASE WHEN d.ctype = 6
                  THEN (23 * i.i + 13 * j.j + 7 * d.media_id) % 256
                  ELSE (31 * i.i + 17 * j.j + d.media_id) % 256 END AS b,
             (5 * i.i + 3 * j.j + 11 * d.media_id) % 256 AS a
      FROM docs d
      JOIN range(0, 14) i(i) ON i.i < d.h
      JOIN range(0, 16) j(j) ON j.j < d.w
    )
    SELECT media_id, CAST(ctype AS BIGINT) AS ctype, w AS width, h AS height,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(SUM(a) AS BIGINT) AS a_sum,
           CAST(SUM(r * a) AS BIGINT) AS ra_sum
    FROM px GROUP BY media_id, ctype, w, h
""",
        # plant_16bit_pngs: even ids gray16 (ctype 0, reported r=g=b),
        # odd RGB16 (ctype 2); samples arithmetic mod 65536 — max_val
        # fails 8-bit truncation, sums fail big-endian byte swaps.
        "q_png_16bit": """
    WITH docs AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             CAST(8 + doc_id % 9 AS BIGINT) AS w,
             CAST(8 + doc_id % 7 AS BIGINT) AS h,
             CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END AS ctype
      FROM documents
    ),
    px AS (
      SELECT d.media_id, d.ctype, d.w, d.h,
             (4099 * i.i + 2053 * j.j + 257 * d.media_id) % 65536 AS r,
             (4099 * i.i + 2053 * j.j
              + CASE WHEN d.ctype = 2 THEN 769 ELSE 0 END
              + 257 * d.media_id) % 65536 AS g,
             (4099 * i.i + 2053 * j.j
              + CASE WHEN d.ctype = 2 THEN 1538 ELSE 0 END
              + 257 * d.media_id) % 65536 AS b
      FROM docs d
      JOIN range(0, 14) i(i) ON i.i < d.h
      JOIN range(0, 16) j(j) ON j.j < d.w
    )
    SELECT media_id, CAST(ctype AS BIGINT) AS ctype, w AS width, h AS height,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS max_val
    FROM px GROUP BY media_id, ctype, w, h
""",
        # plant_lowbit_pngs: 1/2/4-bit samples v=(3i+5j+id)%2^d; gray
        # bit-replicates to 8 bits (255/(2^d-1) = 255/85/17 exactly),
        # palette maps v through the congruence PLTE; tRNS (id%4<2)
        # keys gray on id%2^d and gives palette entry k alpha
        # 1+(37k+11id)%255 with entry id%2^d forced 0.
        "q_png_lowbit": """
    WITH docs AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             CAST(8 + doc_id % 9 AS BIGINT) AS w,
             CAST(8 + doc_id % 7 AS BIGINT) AS h,
             CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END
                  AS BIGINT) AS d,
             CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 3 END AS ctype,
             CASE WHEN doc_id % 4 < 2 THEN 1 ELSE 0 END AS has_trns
      FROM documents
    ),
    px AS (
      SELECT dd.media_id, dd.ctype, dd.d, dd.w, dd.h, dd.has_trns,
             (3 * i.i + 5 * j.j + dd.media_id) % (1 << dd.d) AS v,
             CASE dd.d WHEN 1 THEN 255 WHEN 2 THEN 85 ELSE 17 END AS scale
      FROM docs dd
      JOIN range(0, 14) i(i) ON i.i < dd.h
      JOIN range(0, 16) j(j) ON j.j < dd.w
    ),
    ch AS (
      SELECT media_id, ctype, d, w, h,
             CASE WHEN ctype = 0 THEN v * scale
                  ELSE (11 * v + media_id) % 256 END AS r,
             CASE WHEN ctype = 0 THEN v * scale
                  ELSE (13 * v + 2 * media_id) % 256 END AS g,
             CASE WHEN ctype = 0 THEN v * scale
                  ELSE (17 * v + 3 * media_id) % 256 END AS b,
             CASE WHEN has_trns = 0 THEN 255
                  WHEN v = media_id % (1 << d) THEN 0
                  WHEN ctype = 0 THEN 255
                  ELSE 1 + (37 * v + 11 * media_id) % 255 END AS a
      FROM px
    )
    SELECT media_id, CAST(ctype AS BIGINT) AS ctype, d AS depth,
           w AS width, h AS height,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(SUM(a) AS BIGINT) AS a_sum,
           CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_transp
    FROM ch GROUP BY media_id, ctype, d, w, h
""",
        # Interlacing is an encoding detail the decode must erase:
        # same pixel contract, same oracle, different byte layout.
        "q_png_adam7": _SQL_PNG_STATS,
        # Baseline JPEG decode: replay the planted per-block arithmetic
        # pixel(r, c) = m + a1*s4(r%8) + a2*s4(c%8) + a3*s4(r%8)*s4(c%8)
        # (s4 = sign of the u=4 DCT basis, +1 at t in {0,3,4,7}); the
        # 16x16 -> 8x8 nearest-neighbor resize samples even coords.
        "q_jpeg_decode": """
    WITH grid AS (
      SELECT r.r, c.c FROM range(0, 16) r(r) CROSS JOIN range(0, 16) c(c)
    ),
    px AS (
      SELECT CAST(d.doc_id AS BIGINT) AS media_id, g.r, g.c,
             (64 + (17 * (2 * (g.r // 8) + (g.c // 8)) + 5 * d.doc_id) % 128)
             + ((3 * (2 * (g.r // 8) + (g.c // 8)) + d.doc_id) % 9 - 4)
               * (CASE WHEN (g.r % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((3 * (2 * (g.r // 8) + (g.c // 8)) + d.doc_id + 1) % 9 - 4)
               * (CASE WHEN (g.c % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((3 * (2 * (g.r // 8) + (g.c // 8)) + d.doc_id + 2) % 9 - 4)
               * (CASE WHEN (g.r % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
               * (CASE WHEN (g.c % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             AS pix
      FROM documents d CROSS JOIN grid g
    )
    SELECT media_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
           CAST(SUM(pix) AS BIGINT) AS pix_sum,
           CAST(SUM(CASE WHEN r % 2 = 0 AND c % 2 = 0 THEN pix END) AS BIGINT)
               AS resized_sum
    FROM px GROUP BY media_id
""",
        # Multi-component 4:2:0 JPEG: Y is the q_jpeg_decode plane;
        # Cb/Cr are single 8x8 subspace blocks sampled at (r//2, c//2)
        # (box upsampling); RGB replays BT.601 with floor(x+0.5) and
        # LEAST/GREATEST clamping — the same op order as the decoder.
        "q_jpeg_color": """
    WITH grid AS (
      SELECT r.r, c.c FROM range(0, 16) r(r) CROSS JOIN range(0, 16) c(c)
    ),
    px AS (
      SELECT CAST(d.doc_id AS BIGINT) AS media_id, g.r, g.c,
             (64 + (17 * (2 * (g.r // 8) + (g.c // 8)) + 5 * d.doc_id) % 128)
             + ((3 * (2 * (g.r // 8) + (g.c // 8)) + d.doc_id) % 9 - 4)
               * (CASE WHEN (g.r % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((3 * (2 * (g.r // 8) + (g.c // 8)) + d.doc_id + 1) % 9 - 4)
               * (CASE WHEN (g.c % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((3 * (2 * (g.r // 8) + (g.c // 8)) + d.doc_id + 2) % 9 - 4)
               * (CASE WHEN (g.r % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
               * (CASE WHEN (g.c % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             AS y,
             (96 + (7 * d.doc_id) % 64)
             + (d.doc_id % 9 - 4)
               * (CASE WHEN (g.r // 2) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((d.doc_id + 1) % 9 - 4)
               * (CASE WHEN (g.c // 2) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((d.doc_id + 2) % 9 - 4)
               * (CASE WHEN (g.r // 2) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
               * (CASE WHEN (g.c // 2) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             AS cb,
             (96 + (11 * d.doc_id) % 64)
             + (d.doc_id % 9 - 4)
               * (CASE WHEN (g.r // 2) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((d.doc_id + 1) % 9 - 4)
               * (CASE WHEN (g.c // 2) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((d.doc_id + 2) % 9 - 4)
               * (CASE WHEN (g.r // 2) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
               * (CASE WHEN (g.c // 2) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             AS cr
      FROM documents d CROSS JOIN grid g
    )
    SELECT media_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
           CAST(SUM(y) AS BIGINT) AS y_sum,
           CAST(SUM(CASE WHEN r % 2 = 0 AND c % 2 = 0 THEN cb END) AS BIGINT)
               AS cb_sum,
           CAST(SUM(CASE WHEN r % 2 = 0 AND c % 2 = 0 THEN cr END) AS BIGINT)
               AS cr_sum,
           CAST(SUM(LEAST(255, GREATEST(0, FLOOR(
               y + 1.402 * (cr - 128) + 0.5)))) AS BIGINT) AS r_sum,
           CAST(SUM(LEAST(255, GREATEST(0, FLOOR(
               y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5))))
               AS BIGINT) AS g_sum,
           CAST(SUM(LEAST(255, GREATEST(0, FLOOR(
               y + 1.772 * (cb - 128) + 0.5)))) AS BIGINT) AS b_sum
    FROM px GROUP BY media_id
""",
        # JPEG sampling grids: doc_id % 3 picks 4:2:0 / 4:2:2 / 4:4:4.
        # Y is the q_jpeg_color plane; chroma is tiled from 8x8
        # subspace blocks ON ITS CODED RESOLUTION (16/v x 16/h), block
        # b = (R//8)*2 + (C//8) in plane coords, sampled per pixel at
        # (r//v, c//h) — box upsampling at each grid's own factors.
        # cb_sum/cr_sum sum the coded plane (pixels with r%v=0, c%h=0).
        "q_jpeg_sampling": """
    WITH grid AS (
      SELECT r.r, c.c FROM range(0, 16) r(r) CROSS JOIN range(0, 16) c(c)
    ),
    docs AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS vs,
             CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 2 END AS hs,
             CASE doc_id % 3 WHEN 0 THEN '420' WHEN 1 THEN '422'
                  ELSE '444' END AS chroma
      FROM documents
    ),
    coords AS (
      SELECT d.media_id, d.vs, d.hs, d.chroma, g.r, g.c,
             (g.r // d.vs) AS pr, (g.c // d.hs) AS pc,
             ((g.r // d.vs) // 8) * 2 + ((g.c // d.hs) // 8) AS b
      FROM docs d CROSS JOIN grid g
    ),
    px AS (
      SELECT media_id, vs, hs, chroma, r, c,
             (64 + (17 * (2 * (r // 8) + (c // 8)) + 5 * media_id) % 128)
             + ((3 * (2 * (r // 8) + (c // 8)) + media_id) % 9 - 4)
               * (CASE WHEN (r % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((3 * (2 * (r // 8) + (c // 8)) + media_id + 1) % 9 - 4)
               * (CASE WHEN (c % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((3 * (2 * (r // 8) + (c // 8)) + media_id + 2) % 9 - 4)
               * (CASE WHEN (r % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
               * (CASE WHEN (c % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             AS yv,
             (96 + (7 * media_id + 13 * b) % 64)
             + ((media_id + b) % 9 - 4)
               * (CASE WHEN (pr % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((media_id + b + 1) % 9 - 4)
               * (CASE WHEN (pc % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((media_id + b + 2) % 9 - 4)
               * (CASE WHEN (pr % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
               * (CASE WHEN (pc % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             AS cbv,
             (96 + (11 * media_id + 13 * b) % 64)
             + ((media_id + b) % 9 - 4)
               * (CASE WHEN (pr % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((media_id + b + 1) % 9 - 4)
               * (CASE WHEN (pc % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             + ((media_id + b + 2) % 9 - 4)
               * (CASE WHEN (pr % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
               * (CASE WHEN (pc % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
             AS crv
      FROM coords
    )
    SELECT media_id, chroma,
           CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
           CAST(SUM(yv) AS BIGINT) AS y_sum,
           CAST(SUM(CASE WHEN r % vs = 0 AND c % hs = 0 THEN cbv END)
                AS BIGINT) AS cb_sum,
           CAST(SUM(CASE WHEN r % vs = 0 AND c % hs = 0 THEN crv END)
                AS BIGINT) AS cr_sum,
           CAST(SUM(LEAST(255, GREATEST(0, FLOOR(
               yv + 1.402 * (crv - 128) + 0.5)))) AS BIGINT) AS r_sum,
           CAST(SUM(LEAST(255, GREATEST(0, FLOOR(
               yv - 0.344136 * (cbv - 128) - 0.714136 * (crv - 128) + 0.5))))
               AS BIGINT) AS g_sum,
           CAST(SUM(LEAST(255, GREATEST(0, FLOOR(
               yv + 1.772 * (cbv - 128) + 0.5)))) AS BIGINT) AS b_sum
    FROM px GROUP BY media_id, chroma
""",
        # Animated-GIF decoded-frame sampler: n_frames = 2 + id % 4,
        # kept frames 0, 2 (every 2nd, cap 2), pixel(f, r, c) =
        # (7*id + 13*f_eff + 31*r + 17*c) % 256 on the 16x16 grid,
        # where f_eff = f - 1 for rows r < 8 when f > 0 and f even
        # (round 11: even frames repeat the previous top half, so the
        # fixture's transparency delta-encoding leaves real skip-draw
        # holes IN KEPT FRAME 2 — these sums only come out right if
        # the decoder composites through the GCE transparent index;
        # odd frames are also interlaced).
        "q_gif_frames": """
    WITH grid AS (
      SELECT r.r, c.c FROM range(0, 16) r(r) CROSS JOIN range(0, 16) c(c)
    ),
    docs AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             CAST(2 + doc_id % 4 AS BIGINT) AS n_frames
      FROM documents
    ),
    kept AS (
      SELECT media_id, n_frames, CAST(f.f AS BIGINT) AS frame_no
      FROM docs JOIN range(0, 4) f(f)
        ON f.f < n_frames AND f.f % 2 = 0 AND f.f // 2 < 2
    )
    SELECT k.media_id, k.frame_no, k.n_frames,
           CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
           CAST(SUM((7 * k.media_id
                     + 13 * (k.frame_no
                             - (CASE WHEN k.frame_no > 0
                                      AND k.frame_no % 2 = 0
                                      AND g.r < 8
                                     THEN 1 ELSE 0 END))
                     + 31 * g.r + 17 * g.c)
                    % 256) AS BIGINT) AS pix_sum
    FROM kept k CROSS JOIN grid g
    GROUP BY k.media_id, k.frame_no, k.n_frames
""",
        "q_png_palette": """
            WITH grid AS (
              SELECT r.r, c.c FROM range(0, 16) r(r) CROSS JOIN range(0, 16) c(c)
            ),
            dims AS (
              SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST(8 + doc_id % 9 AS BIGINT) AS w,
                     CAST(8 + doc_id % 7 AS BIGINT) AS h
              FROM documents
            ),
            px AS (
              SELECT media_id, w, h,
                     (31 * g.r + 17 * g.c + media_id) % 256 AS idx
              FROM dims JOIN grid g ON g.r < h AND g.c < w
            )
            SELECT media_id, MIN(w) AS width, MIN(h) AS height,
                   CAST(SUM((11 * idx + media_id) % 256) AS BIGINT) AS sum_r,
                   CAST(SUM((13 * idx + 2 * media_id) % 256) AS BIGINT) AS sum_g,
                   CAST(SUM((17 * idx + 3 * media_id) % 256) AS BIGINT) AS sum_b
            FROM px GROUP BY media_id
        """,
        # clustering.kmeans_fixed replica: integer-quantized Lloyd's,
        # unrolled rounds, value-exact (see _sql_kmeans_ctes).
        "q_kmeans": f"""
            WITH {_sql_kmeans_ctes()}
            SELECT vec_id, cluster, dist FROM final
        """,
        "q_cluster_labels": f"""
            WITH {_sql_kmeans_ctes()}
            SELECT f.cluster, CAST(e.label AS BIGINT) AS label,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM final f JOIN embeddings e ON f.vec_id = e.vec_id
            GROUP BY f.cluster, e.label
        """,
        "q_semantic_dedup": f"""
            WITH {_sql_kmeans_ctes()},
            m AS (
              SELECT f.cluster, CAST(e.vec_id AS BIGINT) AS id,
                     CAST(e.embedding AS DOUBLE[]) AS vec
              FROM final f JOIN embeddings e ON f.vec_id = e.vec_id
            )
            SELECT a.cluster, a.id AS id_a, b.id AS id_b,
                   round(list_cosine_similarity(a.vec, b.vec), 4) AS sim
            FROM m a JOIN m b ON a.cluster = b.cluster AND a.id < b.id
            WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.4
        """,
        # plant_encoded_rgb_pngs: pixel(i,j,c) = (31i+17j+7c+id)%256,
        # W = 8+id%9, H = 8+id%7; per-channel sums replay exactly.
        "q_rgb_decode": """
            WITH grid AS (
              SELECT r.r, c.c, ch.ch
              FROM range(0, 16) r(r)
              CROSS JOIN range(0, 16) c(c)
              CROSS JOIN range(0, 3) ch(ch)
            ),
            dims AS (
              SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST(8 + doc_id % 9 AS BIGINT) AS w,
                     CAST(8 + doc_id % 7 AS BIGINT) AS h
              FROM documents
            )
            SELECT media_id, w AS width, h AS height,
                   CAST(SUM(CASE WHEN ch = 0 THEN v END) AS BIGINT) AS sum_r,
                   CAST(SUM(CASE WHEN ch = 1 THEN v END) AS BIGINT) AS sum_g,
                   CAST(SUM(CASE WHEN ch = 2 THEN v END) AS BIGINT) AS sum_b
            FROM (
              SELECT d.media_id, d.w, d.h, g.ch,
                     (31 * g.r + 17 * g.c + 7 * g.ch + d.media_id) % 256 AS v
              FROM dims d JOIN grid g ON g.r < d.h AND g.c < d.w
            )
            GROUP BY media_id, w, h
        """,
        # plant_audio_signal writes sample k = ((37k + 11*id) % 4001)
        # - 2000 over n = frames*channels interleaved int16 slots;
        # peak/sum_abs/sum_sq replay exactly from that arithmetic.
        "q_audio_features": """
            WITH ks AS (SELECT range AS k FROM range(0, 1998)),
            d AS (
              SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST((100 + (37 * doc_id) % 900) * (1 + doc_id % 2) AS BIGINT)
                         AS n
              FROM documents
            ),
            s AS (
              SELECT media_id, n,
                     ((37 * k + 11 * media_id) % 4001) - 2000 AS v
              FROM d JOIN ks ON k < n
            )
            SELECT media_id,
                   n AS n_samples,
                   CAST(MAX(ABS(v)) AS BIGINT) AS peak,
                   CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
                   CAST(SUM(v * v) AS BIGINT) AS sum_sq
            FROM s GROUP BY media_id, n
        """,
        # plant_g711_audio writes encoded byte k = (13k + 5*id) % 256
        # into a mu-law (even id) / A-law (odd id) WAV with n =
        # 100 + (31*id) % 400 frames; the oracle replays the g711.c
        # integer expansion per byte — mu-law: u = 255-b, t =
        # (((u&15)<<3)+132) << ((u>>4)&7), sign picks 132-t / t-132;
        # A-law: a = b XOR 85, segment-scaled mantissa, sign bit SET
        # means positive — so peak/sum_abs/sum_sq check the codec
        # arithmetic itself, not just the plumbing.
        "q_g711_audio": """
            WITH ks AS (SELECT range AS k FROM range(0, 500)),
            d AS (
              SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST(100 + (31 * doc_id) % 400 AS BIGINT) AS n,
                     CASE WHEN doc_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS codec
              FROM documents
            ),
            b AS (
              SELECT media_id, n, codec,
                     CAST((13 * k + 5 * media_id) % 256 AS BIGINT) AS byte
              FROM d JOIN ks ON k < n
            ),
            e AS (
              SELECT media_id, n, codec, byte,
                     CASE WHEN codec = 'mulaw' THEN 255 - byte
                          ELSE xor(byte, 85) END AS a
              FROM b
            ),
            v AS (
              SELECT media_id, n, codec,
                CASE WHEN codec = 'mulaw' THEN
                  CASE WHEN (a & 128) != 0
                       THEN 132 - (((((a & 15) * 8) + 132)) * (1 << ((a >> 4) & 7)))
                       ELSE (((((a & 15) * 8) + 132)) * (1 << ((a >> 4) & 7))) - 132
                  END
                ELSE
                  (CASE WHEN (a & 128) != 0 THEN 1 ELSE -1 END) *
                  (CASE WHEN ((a >> 4) & 7) = 0 THEN ((a & 15) * 16) + 8
                        WHEN ((a >> 4) & 7) = 1 THEN ((a & 15) * 16) + 264
                        ELSE (((a & 15) * 16) + 264) * (1 << (((a >> 4) & 7) - 1))
                   END)
                END AS val
              FROM e
            )
            SELECT media_id, codec, n AS n_samples,
                   CAST(MAX(ABS(val)) AS BIGINT) AS peak,
                   CAST(SUM(ABS(val)) AS BIGINT) AS sum_abs,
                   CAST(SUM(val * val) AS BIGINT) AS sum_sq
            FROM v GROUP BY media_id, codec, n
        """,
        # plant_flac_audio carries the q_audio_features arithmetic
        # signal mono (n = 100 + (37*id) % 900; sample k = ((37k +
        # 11*id) % 4001) - 2000) through a REAL lossless container,
        # so the oracle is the same closed-form replay plus the
        # planted sample rate.
        "q_flac_audio": """
            WITH ks AS (SELECT range AS k FROM range(0, 999)),
            d AS (
              SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) AS sample_rate,
                     CAST(100 + (37 * doc_id) % 900 AS BIGINT) AS n
              FROM documents
            ),
            s AS (
              SELECT media_id, sample_rate, n,
                     ((37 * k + 11 * media_id) % 4001) - 2000 AS v
              FROM d JOIN ks ON k < n
            )
            SELECT media_id, sample_rate, n AS n_samples,
                   CAST(MAX(ABS(v)) AS BIGINT) AS peak,
                   CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
                   CAST(SUM(v * v) AS BIGINT) AS sum_sq
            FROM s GROUP BY media_id, sample_rate, n
        """,
        # plant_flac_stereo: two arithmetic channels (L the q_flac_audio
        # signal, R a second congruence ((53k + 7*id) % 4001) - 2000)
        # through a REAL stereo FLAC container whose frames cycle all
        # four RFC 9639 channel assignments; the oracle replays both
        # closed forms per channel plus the L*R cross term.
        "q_flac_stereo": """
            WITH ks AS (SELECT range AS k FROM range(0, 999)),
            d AS (
              SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) AS sample_rate,
                     CAST(100 + (37 * doc_id) % 900 AS BIGINT) AS n
              FROM documents
            ),
            s AS (
              SELECT media_id, sample_rate, n,
                     ((37 * k + 11 * media_id) % 4001) - 2000 AS l,
                     ((53 * k + 7 * media_id) % 4001) - 2000 AS r
              FROM d JOIN ks ON k < n
            )
            SELECT media_id, sample_rate, n AS n_samples,
                   CAST(MAX(ABS(l)) AS BIGINT) AS peak_l,
                   CAST(MAX(ABS(r)) AS BIGINT) AS peak_r,
                   CAST(SUM(ABS(l)) AS BIGINT) AS sum_abs_l,
                   CAST(SUM(ABS(r)) AS BIGINT) AS sum_abs_r,
                   CAST(SUM(l * l) AS BIGINT) AS sum_sq_l,
                   CAST(SUM(r * r) AS BIGINT) AS sum_sq_r,
                   CAST(SUM(l * r) AS BIGINT) AS sum_lr
            FROM s GROUP BY media_id, sample_rate, n
        """,
        # plant_flac_24bit: the same stereo feature contract at the
        # studio-master depth — L/R are 24-bit congruences, rate fixed
        # 96000; every sum fits int64 (peak 8e6, sum_sq <= 7e16).
        "q_flac_24bit": """
            WITH ks AS (SELECT range AS k FROM range(0, 999)),
            d AS (
              SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST(96000 AS BIGINT) AS sample_rate,
                     CAST(100 + (37 * doc_id) % 900 AS BIGINT) AS n
              FROM documents
            ),
            s AS (
              SELECT media_id, sample_rate, n,
                     ((9241 * k + 11 * media_id) % 16000001) - 8000000 AS l,
                     ((7919 * k + 5 * media_id) % 16000001) - 8000000 AS r
              FROM d JOIN ks ON k < n
            )
            SELECT media_id, sample_rate, n AS n_samples,
                   CAST(MAX(ABS(l)) AS BIGINT) AS peak_l,
                   CAST(MAX(ABS(r)) AS BIGINT) AS peak_r,
                   CAST(SUM(ABS(l)) AS BIGINT) AS sum_abs_l,
                   CAST(SUM(ABS(r)) AS BIGINT) AS sum_abs_r,
                   CAST(SUM(l * l) AS BIGINT) AS sum_sq_l,
                   CAST(SUM(r * r) AS BIGINT) AS sum_sq_r,
                   CAST(SUM(l * r) AS BIGINT) AS sum_lr
            FROM s GROUP BY media_id, sample_rate, n
        """,
        # plant_ima_adpcm_audio: 1 + id%2 blocks of 64 nibbles; block b
        # starts at predictor ((7*id + 911*b) % 4001) - 2000 and step
        # index (id + 13*b) % 89; nibble k is (5k + 3*id + 7*b) % 16.
        # The oracle replays the IMA state machine itself: a (step
        # index x nibble) difference LUT built from the 89-entry step
        # table with the spec's shift-truncated arithmetic, then a
        # RECURSIVE CTE advancing every (file, block) decoder one
        # nibble per iteration, accumulating |s|, s^2, and peak with
        # int16 clamping at each step — a value oracle for a genuinely
        # stateful codec.
        "q_adpcm_audio": f"""
            WITH RECURSIVE steps(sidx, step) AS (VALUES {
                ",".join(f"({i},{s})" for i, s in enumerate(_IMA_STEP_TABLE))
            }),
            lut AS (
              SELECT s.sidx, r.range AS nib,
                     (s.step >> 3)
                     + CASE WHEN (r.range & 1) != 0 THEN s.step >> 2 ELSE 0 END
                     + CASE WHEN (r.range & 2) != 0 THEN s.step >> 1 ELSE 0 END
                     + CASE WHEN (r.range & 4) != 0 THEN s.step ELSE 0 END AS diff,
                     CASE r.range & 7 WHEN 4 THEN 2 WHEN 5 THEN 4
                          WHEN 6 THEN 6 WHEN 7 THEN 8 ELSE -1 END AS didx
              FROM steps s, range(16) r
            ),
            blocks AS (
              SELECT CAST(d.doc_id AS BIGINT) AS media_id,
                     CAST(b.range AS BIGINT) AS blk,
                     ((7 * d.doc_id + 911 * b.range) % 4001) - 2000 AS p0,
                     (d.doc_id + 13 * b.range) % 89 AS i0
              FROM documents d JOIN range(2) b ON b.range < 1 + d.doc_id % 2
            ),
            dec AS (
              SELECT media_id, blk, 0 AS k, p0 AS pred, i0 AS sidx,
                     CAST(ABS(p0) AS BIGINT) AS sum_abs,
                     CAST(p0 * p0 AS BIGINT) AS sum_sq,
                     CAST(ABS(p0) AS BIGINT) AS peak
              FROM blocks
              UNION ALL
              SELECT d.media_id, d.blk, d.k + 1,
                     LEAST(32767, GREATEST(-32768,
                       d.pred + CASE WHEN ((5 * d.k + 3 * d.media_id + 7 * d.blk) % 16) >= 8
                                     THEN -l.diff ELSE l.diff END)),
                     LEAST(88, GREATEST(0, d.sidx + l.didx)),
                     d.sum_abs + ABS(LEAST(32767, GREATEST(-32768,
                       d.pred + CASE WHEN ((5 * d.k + 3 * d.media_id + 7 * d.blk) % 16) >= 8
                                     THEN -l.diff ELSE l.diff END))),
                     d.sum_sq + CAST(LEAST(32767, GREATEST(-32768,
                       d.pred + CASE WHEN ((5 * d.k + 3 * d.media_id + 7 * d.blk) % 16) >= 8
                                     THEN -l.diff ELSE l.diff END)) AS BIGINT)
                              * LEAST(32767, GREATEST(-32768,
                       d.pred + CASE WHEN ((5 * d.k + 3 * d.media_id + 7 * d.blk) % 16) >= 8
                                     THEN -l.diff ELSE l.diff END)),
                     GREATEST(d.peak, ABS(LEAST(32767, GREATEST(-32768,
                       d.pred + CASE WHEN ((5 * d.k + 3 * d.media_id + 7 * d.blk) % 16) >= 8
                                     THEN -l.diff ELSE l.diff END))))
              FROM dec d
              JOIN lut l ON l.sidx = d.sidx
                        AND l.nib = (5 * d.k + 3 * d.media_id + 7 * d.blk) % 16
              WHERE d.k < 64
            )
            SELECT media_id,
                   CAST(COUNT(*) AS BIGINT) AS n_blocks,
                   CAST(65 * COUNT(*) AS BIGINT) AS n_samples,
                   CAST(MAX(peak) AS BIGINT) AS peak,
                   CAST(SUM(sum_abs) AS BIGINT) AS sum_abs,
                   CAST(SUM(sum_sq) AS BIGINT) AS sum_sq
            FROM dec WHERE k = 64
            GROUP BY media_id
        """,
        # plant_audio builds one 16-bit PCM WAV per doc (44 header
        # bytes + frames*channels*2); params are arithmetic in doc_id.
        "q_audio_meta": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(44 + (100 + (37 * doc_id) % 900) * (1 + doc_id % 2) * 2 AS BIGINT)
                       AS n_bytes,
                   CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) AS sample_rate,
                   CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
                   CAST((100 + (37 * doc_id) % 900) * 1000
                        // (8000 + (doc_id % 5) * 4000) AS BIGINT) AS duration_ms
            FROM documents
        """,
        # Exact-decimal aggregation on both sides makes the sums
        # bit-identical regardless of partitioning; averages divide the
        # double-cast sum so both engines do the same double / count.
        "q_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_disc_price,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))
                              * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_charge,
                   round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
                   round(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_event_windows": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   round(SUM(value), 4) AS total_value
            FROM events GROUP BY 1, 2, 3
        """,
        "q_top_events": """
            WITH ranked AS (
              SELECT event_type, event_id, value,
                     ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY value DESC, event_id
                     ) AS rnk
              FROM events
            )
            SELECT event_type, event_id, round(value, 6) AS value,
                   CAST(rnk AS INTEGER) AS rnk
            FROM ranked WHERE rnk <= 3
        """,
        "q_event_props": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   round(AVG(k), 6) AS avg_k
            FROM (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events
            )
            WHERE k >= 50 GROUP BY event_type
        """,
        "q_brand_revenue": """
            SELECT p_brand,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "q_user_cohort": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value >= 100
            INTERSECT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'click' AND value >= 100
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND value >= 400
        """,
        "q_no_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000
            )
        """,
        "q_quality_pct": """
            SELECT lang,
                   round(quantile_cont(CAST(length(text) AS DOUBLE), 0.25), 4) AS p25_chars,
                   round(quantile_cont(CAST(length(text) AS DOUBLE), 0.5), 4) AS p50_chars,
                   round(quantile_cont(CAST(length(text) AS DOUBLE), 0.9), 4) AS p90_chars,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        """,
        "q_sessions": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS boundary
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT user_id, ts, event_id, value,
                     SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_no
              FROM flagged
            )
            SELECT user_id, CAST(session_no AS INTEGER) AS session_no,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   round(SUM(value), 4) AS total_value
            FROM sess GROUP BY user_id, session_no
        """,
        "q_hll_distinct": f"""
            WITH h AS (
              SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events
            ),
            parts AS (
              SELECT event_type, substring(hx, 1, 2) AS bucket,
                     substring(hx, 3, 15) AS rest,
                     length(regexp_extract(substring(hx, 3, 15), '^(0*)', 1)) AS z
              FROM h
            ),
            rho AS (
              SELECT event_type, bucket,
                     COALESCE(z * 4 + CASE substring(rest, z + 1, 1)
                        WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                        WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                        WHEN '7' THEN 1 ELSE 0 END + 1, 61) AS rho
              FROM parts
            ),
            regs AS (
              SELECT event_type, bucket, MAX(rho) AS reg
              FROM rho GROUP BY event_type, bucket
            ),
            agg AS (
              SELECT event_type, SUM(power(2.0, -reg)) AS s_used,
                     COUNT(*) AS n_used
              FROM regs GROUP BY event_type
            ),
            est AS (
              SELECT event_type,
                CASE WHEN ({HLL_ALPHA_M2!r} / (s_used + ({HLL_M} - n_used)))
                          <= 2.5 * {HLL_M} AND ({HLL_M} - n_used) > 0
                     THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / ({HLL_M} - n_used))
                     ELSE {HLL_ALPHA_M2!r} / (s_used + ({HLL_M} - n_used)) END AS e
              FROM agg
            ),
            exact AS (
              SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
              FROM events GROUP BY event_type
            )
            SELECT x.event_type, x.n_exact, round(e.e, 4) AS n_approx
            FROM exact x JOIN est e USING (event_type)
        """,
        "q_attribution": """
            SELECT p.event_id AS purchase_id,
                   CAST(COUNT(*) AS BIGINT) AS n_clicks
            FROM events p
            JOIN events c
              ON c.user_id = p.user_id
             AND c.event_type = 'click'
             AND c.ts >= p.ts
             AND c.ts < p.ts + INTERVAL 2 HOUR
            WHERE p.event_type = 'purchase'
            GROUP BY p.event_id
        """,
        "q_asof_join": """
            WITH daily AS (
              SELECT o_custkey AS user_id, o_orderdate,
                     round(SUM(o_totalprice), 4) AS day_spend
              FROM orders GROUP BY o_custkey, o_orderdate
            )
            SELECT e.event_id, e.user_id, e.ts,
                   d.o_orderdate AS asof_ts, d.day_spend AS asof_day_spend
            FROM events e ASOF LEFT JOIN daily d
              ON e.user_id = d.user_id AND e.ts >= d.o_orderdate
        """,
        "q_time_rollup": """
            WITH b AS (
              SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     date_trunc('hour', ts) AS hour, value
              FROM events
            )
            SELECT day, hour, CAST(GROUPING(day, hour) AS INTEGER) AS gid,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   round(SUM(value), 4) AS total_value
            FROM b GROUP BY ROLLUP(day, hour)
        """,
        "q_matrix_io": """
            SELECT CAST(graph_id AS INTEGER) AS graph_id,
                   CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
            FROM (VALUES (3,1,2),(3,2,1),(3,2,3),(3,3,2),
                         (3,2,4),(3,4,2),(3,2,5),(3,5,2)) AS t(graph_id, src, dst)
        """,
        "q_repetition": f"""
            WITH base AS (
              SELECT doc_id, {_SQL_NORM} AS norm FROM documents
            ),
            nonempty AS (SELECT doc_id, norm FROM base WHERE norm <> ''),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(norm, ' ')) AS tok,
                     generate_subscripts(string_split(norm, ' '), 1) AS pos
              FROM nonempty
            ),
            per_tok AS (
              SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
            ),
            tok_stats AS (
              SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                     1.0 - COUNT(*) * 1.0 / SUM(c) AS dup_frac
              FROM per_tok GROUP BY doc_id
            ),
            bigrams AS (
              SELECT doc_id, bg FROM (
                SELECT doc_id,
                       tok || ' ' || LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
                FROM toks
              ) WHERE bg IS NOT NULL
            ),
            bg_counts AS (
              SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
            ),
            bg_stats AS (
              SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top_bg FROM bg_counts GROUP BY doc_id
            )
            SELECT t.doc_id, t.n_tokens,
                   round(t.dup_frac, 6) AS dup_token_frac,
                   round(COALESCE(b.top_bg, 0.0), 6) AS top_bigram_frac
            FROM tok_stats t LEFT JOIN bg_stats b USING (doc_id)
        """,
        "q_tfidf": f"""
            WITH base AS (
              SELECT doc_id, {_SQL_NORM} AS norm FROM documents
            ),
            toks AS (
              SELECT doc_id, unnest(string_split(norm, ' ')) AS term
              FROM base WHERE norm <> ''
            ),
            tf AS (
              SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks GROUP BY doc_id, term
            ),
            df AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
            ),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, df.df,
                     CAST(tf.tf AS DOUBLE) / df.df AS score
              FROM tf JOIN df USING (term)
            ),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC
              ) AS rnk FROM scored
            )
            SELECT doc_id, term, tf, df, round(score, 6) AS score,
                   CAST(rnk AS BIGINT) AS rnk
            FROM ranked WHERE rnk <= 5
        """,
        "q_collocations": f"""
            WITH base AS (
              SELECT doc_id, {_SQL_NORM} AS norm FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(norm, ' ')) AS tok,
                     generate_subscripts(string_split(norm, ' '), 1) AS pos
              FROM base WHERE norm <> ''
            ),
            uni AS (
              SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c_w
              FROM toks GROUP BY tok
            ),
            bigrams AS (
              SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_pair FROM (
                SELECT doc_id, tok AS w1,
                       LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                FROM toks
              ) WHERE w2 IS NOT NULL GROUP BY w1, w2
              HAVING COUNT(*) >= 5
            ),
            n_uni AS (SELECT CAST(SUM(c_w) AS DOUBLE) AS n_uni FROM uni),
            n_bi AS (SELECT CAST(SUM(c_pair) AS DOUBLE) AS n_bi FROM bigrams),
            scored AS (
              SELECT b.w1, b.w2, b.c_pair, u1.c_w AS c_w1, u2.c_w AS c_w2,
                     (CAST(b.c_pair AS DOUBLE) / n_bi.n_bi)
                     / ((CAST(u1.c_w AS DOUBLE) / n_uni.n_uni)
                        * (CAST(u2.c_w AS DOUBLE) / n_uni.n_uni)) AS lift
              FROM bigrams b
              JOIN uni u1 ON u1.w = b.w1
              JOIN uni u2 ON u2.w = b.w2
              CROSS JOIN n_uni CROSS JOIN n_bi
            )
            SELECT w1, w2, c_pair, c_w1, c_w2, round(lift, 6) AS lift
            FROM scored ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 20
        """,
        "q_train_split": f"""
            SELECT doc_id, lang, {_sql_split_case()} AS split FROM documents
        """,
        "q_stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE substring(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 8) <
                  CASE lang WHEN 'en' THEN '{rate_threshold(0.25)}'
                            WHEN 'de' THEN '{rate_threshold(1.0)}'
                            WHEN 'zh' THEN '{rate_threshold(0.5)}'
                            ELSE '{rate_threshold(0.1)}' END
        """,
        "q_request_replies": f"""
            WITH b AS ({_SQL_BFS}),
            sym AS ({_SQL_SYM}),
            deg AS (SELECT src, COUNT(DISTINCT dst) AS d FROM sym GROUP BY src)
            SELECT CAST(1 AS INTEGER) AS seq_no,
                   string_agg(CAST(vertex AS VARCHAR), ' ' ORDER BY level, vertex) AS reply
            FROM b
            UNION ALL
            SELECT CAST(2 AS INTEGER),
                   string_agg(CAST(src AS VARCHAR), ' ' ORDER BY src)
            FROM deg WHERE d = 1 AND src <> 999
        """,
        # Canonical-id triangle enumeration (src<dst edges make every
        # triangle appear exactly once as a<b<c); the engine's
        # degree-ordered orientation counts the same set.
        "q_triangles": f"""
            WITH {_sql_copurchase(
                "WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'"
            )},
            tri AS (
              SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
              FROM ce e1
              JOIN ce e2 ON e2.src = e1.dst
              JOIN ce e3 ON e3.src = e1.src AND e3.dst = e2.dst
            ),
            m AS (
              SELECT a AS vertex FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri
            )
            SELECT vertex, CAST(COUNT(*) AS BIGINT) AS triangles
            FROM m GROUP BY vertex
        """,
        "q_ppr": _ppr_oracle_sql(iters=5),
        "q_schema_merge": """
            WITH v AS (
              SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
                     CAST(NULL AS BIGINT) AS n_regionkey
              FROM nation WHERE n_nationkey % 2 = 0
              UNION ALL
              SELECT CAST(n_nationkey AS BIGINT), n_name,
                     CAST(n_regionkey AS BIGINT)
              FROM nation WHERE n_nationkey % 2 = 1
            )
            SELECT CAST(COALESCE(n_regionkey, -1) AS BIGINT) AS region,
                   CAST(COUNT(*) AS BIGINT) AS n_nations,
                   CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
                   MIN(n_name) AS first_name
            FROM v GROUP BY 1
        """,
        "q_series_sim": """
            WITH prof AS (
              SELECT user_id AS u, EXTRACT(hour FROM ts) AS h,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                         AS v
              FROM events GROUP BY 1, 2
            ),
            ref AS (SELECT h, v AS rv FROM prof WHERE u = 1),
            scored AS (
              SELECT p.u, CAST(SUM(p.v * ref.rv) AS BIGINT) AS dot
              FROM prof p JOIN ref USING (h) WHERE p.u <> 1 GROUP BY p.u
            )
            SELECT CAST(u AS BIGINT) AS user_id, dot
            FROM scored ORDER BY dot DESC, u LIMIT 20
        """,
        "q_pagerank": _pagerank_oracle_sql(iters=5),
        "q_pagerank_weighted": _pagerank_oracle_sql(iters=5, weighted=True),
        "q_degree_hist": f"""
            WITH {_sql_copurchase()},
            deg AS (
              SELECT v, COUNT(*) AS degree FROM (
                SELECT src AS v FROM ce UNION ALL SELECT dst FROM ce
              ) GROUP BY v
            )
            SELECT CAST(length(format('{{:b}}', degree)) AS INTEGER) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_vertices,
                   CAST(MIN(degree) AS BIGINT) AS min_degree,
                   CAST(MAX(degree) AS BIGINT) AS max_degree
            FROM deg GROUP BY 1
        """,
        "q_common_neighbors": f"""
            WITH {_sql_copurchase(
                "WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'"
            )},
            sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
            deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src),
            s AS (SELECT sym.src, sym.dst FROM sym JOIN deg ON deg.v = sym.src
                  WHERE deg.d <= 1000),
            p AS (SELECT a.dst AS u, b.dst AS v, CAST(COUNT(*) AS BIGINT) AS common
                  FROM s a JOIN s b ON a.src = b.src AND a.dst < b.dst
                  GROUP BY a.dst, b.dst HAVING COUNT(*) >= 2),
            na AS (SELECT p.* FROM p LEFT JOIN ce ON ce.src = p.u AND ce.dst = p.v
                   WHERE ce.src IS NULL)
            SELECT na.u, na.v, na.common,
                   na.common / CAST(du.d + dv.d - na.common AS DOUBLE) AS jaccard
            FROM na JOIN deg du ON du.v = na.u JOIN deg dv ON dv.v = na.v
        """,
        "q_prefix_join": f"""
            WITH nd AS (SELECT doc_id AS id, {_SQL_NORM} AS t FROM documents
                        WHERE doc_id < {_RECALL_DOCS}),
            tok AS (
              SELECT DISTINCT id, tk FROM (
                SELECT id, unnest(regexp_split_to_array(t, '\\s+')) AS tk
                FROM nd WHERE t <> ''
              ) WHERE tk <> ''
            ),
            freq AS (SELECT tk, COUNT(*) AS f FROM tok GROUP BY tk),
            sizes AS (SELECT id, COUNT(*) AS n FROM tok GROUP BY id),
            ranked AS (
              SELECT tok.id, tok.tk,
                     row_number() OVER (PARTITION BY tok.id ORDER BY f, tok.tk)
                         AS rn
              FROM tok JOIN freq USING (tk)
            ),
            pre AS (
              SELECT r.id, r.tk FROM ranked r JOIN sizes s USING (id)
              WHERE r.rn <= s.n - ((4 * s.n + 4) // 5) + 1
            ),
            cand AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM pre a JOIN pre b ON a.tk = b.tk AND a.id < b.id
            ),
            i AS (
              SELECT c.id_a, c.id_b, COUNT(*) AS inter
              FROM cand c
              JOIN tok x ON x.id = c.id_a
              JOIN tok y ON y.id = c.id_b AND y.tk = x.tk
              GROUP BY 1, 2
            )
            SELECT i.id_a, i.id_b, CAST(i.inter AS BIGINT) AS inter,
                   CAST(s1.n AS BIGINT) AS n_a, CAST(s2.n AS BIGINT) AS n_b,
                   CAST(i.inter AS DOUBLE) / (s1.n + s2.n - i.inter) AS jaccard
            FROM i JOIN sizes s1 ON s1.id = i.id_a
                   JOIN sizes s2 ON s2.id = i.id_b
            WHERE 5 * i.inter >= 4 * (s1.n + s2.n - i.inter)
        """,
        "q_forecast_rev": """
            SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE),
                         4) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
              AND CAST(l_discount AS DECIMAL(18,2))
                  BETWEEN CAST('0.05' AS DECIMAL(18,2))
                      AND CAST('0.07' AS DECIMAL(18,2))
              AND l_quantity < 24
        """,
        "q_small_qty_rev": """
            WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
            li AS (
              SELECT l_partkey,
                     CAST(l_quantity AS DECIMAL(18,2)) AS q,
                     CAST(l_extendedprice AS DECIMAL(18,2)) AS price
              FROM lineitem JOIN p ON l_partkey = p_partkey
            ),
            pp AS (
              SELECT l_partkey, SUM(q) AS sq, COUNT(*) AS cnt
              FROM li GROUP BY 1
            )
            SELECT round(CAST(SUM(price) AS DOUBLE) / 7.0, 4) AS avg_yearly
            FROM li JOIN pp USING (l_partkey)
            WHERE q * 5 * cnt < sq
        """,
        "q_communities": f"""
            WITH RECURSIVE {_sql_copurchase()},
            w_ce AS MATERIALIZED (
              SELECT a.p AS src, b.p AS dst, COUNT(*) AS cnt
              FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p
              GROUP BY 1, 2
            ),
            strong AS (SELECT src, dst FROM w_ce WHERE cnt >= 2),
            sym AS (
              SELECT src, dst FROM strong
              UNION ALL SELECT dst, src FROM strong
            ),
            reach(v, r) AS (
              SELECT DISTINCT src, src FROM sym
              UNION
              SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.v
            )
            SELECT v AS vertex, CAST(MIN(r) AS BIGINT) AS component
            FROM reach GROUP BY v
        """,
        "q_clustering_coeff": f"""
            WITH {_sql_copurchase(
                "WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'"
            )},
            tri AS (
              SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
              FROM ce e1
              JOIN ce e2 ON e2.src = e1.dst
              JOIN ce e3 ON e3.src = e1.src AND e3.dst = e2.dst
            ),
            m AS (
              SELECT a AS vertex FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri
            ),
            tcount AS (SELECT vertex, COUNT(*) AS triangles FROM m GROUP BY vertex),
            sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
            deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src)
            SELECT deg.v AS vertex, CAST(deg.d AS BIGINT) AS degree,
                   CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
                   CAST(2 * COALESCE(t.triangles, 0) AS DOUBLE)
                       / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS coeff
            FROM deg LEFT JOIN tcount t ON t.vertex = deg.v
            WHERE deg.d >= 2
        """,
        "q_link_pred": f"""
            WITH {_sql_copurchase(
                "WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'"
            )},
            sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
            deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src),
            s AS (SELECT sym.src, sym.dst, 1000000000 // deg.d AS wt
                  FROM sym JOIN deg ON deg.v = sym.src
                  WHERE deg.d <= 1000),
            p AS (SELECT a.dst AS u, b.dst AS v,
                         CAST(COUNT(*) AS BIGINT) AS common,
                         CAST(SUM(a.wt) AS BIGINT) AS ra_scaled
                  FROM s a JOIN s b ON a.src = b.src AND a.dst < b.dst
                  GROUP BY a.dst, b.dst HAVING COUNT(*) >= 2)
            SELECT p.u, p.v, p.common, p.ra_scaled,
                   CAST(p.ra_scaled AS DOUBLE) / 1000000000.0 AS ra
            FROM p LEFT JOIN ce ON ce.src = p.u AND ce.dst = p.v
            WHERE ce.src IS NULL
        """,
        "q_kcore": _kcore_oracle_sql(k=2, rounds=16),
        "q_sssp": _sssp_oracle_sql(rounds=24),
        "q_gapfill": """
            WITH hourly AS (
              SELECT event_type AS k, date_trunc('hour', ts) AS h,
                     round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS v
              FROM events GROUP BY 1, 2
            ),
            bounds AS (SELECT k, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY k),
            grid AS (
              SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
              FROM bounds
            ),
            joined AS (
              SELECT g.k, g.h, hourly.v FROM grid g
              LEFT JOIN hourly ON hourly.k = g.k AND hourly.h = g.h
            )
            SELECT k AS event_type, CAST(h AS TIMESTAMP) AS hour,
                   last_value(v IGNORE NULLS) OVER (
                     PARTITION BY k ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS value_filled,
                   CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INTEGER) AS filled
            FROM joined
        """,
        "q_cms_counts": """
            WITH depths AS (SELECT unnest(range(4)) AS i),
            cells AS (
              SELECT i, substring(md5(CAST(i AS VARCHAR) || ':' || event_type), 1, 2) AS bucket,
                     COUNT(*) AS cnt
              FROM events CROSS JOIN depths GROUP BY 1, 2
            ),
            items AS (SELECT DISTINCT event_type AS item FROM events),
            probes AS (
              SELECT item, i,
                     substring(md5(CAST(i AS VARCHAR) || ':' || item), 1, 2) AS bucket
              FROM items CROSS JOIN depths
            ),
            est AS (
              SELECT item, CAST(MIN(cnt) AS BIGINT) AS n_est
              FROM probes JOIN cells USING (i, bucket) GROUP BY item
            ),
            exact AS (
              SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n_exact
              FROM events GROUP BY 1
            )
            SELECT exact.item, exact.n_exact, est.n_est
            FROM exact JOIN est USING (item)
        """,
        "q_salted_join": """
            SELECT CAST(c_nationkey AS BIGINT) AS nation,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
            FROM events e JOIN customer c ON c.c_custkey = e.user_id
            GROUP BY 1
        """,
        # KMV theta-sketch replay: same md5 ranking, same 52-bit hash
        # fractions (exactly representable doubles — see sketches.py
        # _hx_frac), same Beyer et al. estimator arithmetic.
        "q_kmv_overlap": f"""
            WITH vals AS (
              SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
              FROM events WHERE event_type IN ('click', 'purchase')
            ),
            sk AS (
              SELECT event_type, hx FROM (
                SELECT event_type, hx,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hx) AS rk
                FROM vals
              ) WHERE rk <= 64
            ),
            a AS (SELECT hx FROM sk WHERE event_type = 'click'),
            b AS (SELECT hx FROM sk WHERE event_type = 'purchase'),
            u AS (SELECT DISTINCT hx FROM (SELECT hx FROM a UNION ALL SELECT hx FROM b)),
            kth AS (
              SELECT {_sql_hx_frac('hx')} AS theta FROM (
                SELECT hx, ROW_NUMBER() OVER (ORDER BY hx) AS rk FROM u
              ) WHERE rk = 64
            ),
            nu AS (SELECT COUNT(*) AS n_u FROM u),
            common AS (
              SELECT COUNT(*) AS n_common_all,
                     COALESCE(SUM(CASE WHEN (SELECT theta FROM kth) IS NULL
                                        OR {_sql_hx_frac('a.hx')} < (SELECT theta FROM kth)
                                       THEN 1 ELSE 0 END), 0) AS n_common
              FROM a JOIN b USING (hx)
            ),
            eu AS (
              SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_union_exact
              FROM events WHERE event_type IN ('click', 'purchase')
            ),
            ei AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_inter_exact FROM (
                SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
                INTERSECT
                SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
              )
            )
            SELECT round(CASE WHEN (SELECT theta FROM kth) IS NOT NULL
                              THEN 63 / (SELECT theta FROM kth)
                              ELSE CAST(nu.n_u AS DOUBLE) END, 4) AS est_union,
                   round(CASE WHEN (SELECT theta FROM kth) IS NOT NULL
                              THEN common.n_common / 64.0 * (63 / (SELECT theta FROM kth))
                              ELSE CAST(common.n_common_all AS DOUBLE) END, 4) AS est_inter,
                   eu.n_union_exact, ei.n_inter_exact
            FROM nu CROSS JOIN common CROSS JOIN eu CROSS JOIN ei
        """,
        "q_hll_merged": f"""
            WITH h AS (
              SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
            ),
            parts AS (
              SELECT substring(hx, 1, 2) AS bucket,
                     substring(hx, 3, 15) AS rest,
                     length(regexp_extract(substring(hx, 3, 15), '^(0*)', 1)) AS z
              FROM h
            ),
            rho AS (
              SELECT bucket,
                     COALESCE(z * 4 + CASE substring(rest, z + 1, 1)
                        WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                        WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                        WHEN '7' THEN 1 ELSE 0 END + 1, 61) AS rho
              FROM parts
            ),
            regs AS (SELECT bucket, MAX(rho) AS reg FROM rho GROUP BY bucket),
            agg AS (
              SELECT SUM(power(2.0, -reg)) AS s_used, COUNT(*) AS n_used FROM regs
            ),
            est AS (
              SELECT CASE WHEN ({HLL_ALPHA_M2} / (s_used + ({HLL_M} - n_used)))
                          <= 2.5 * {HLL_M} AND ({HLL_M} - n_used) > 0
                     THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / ({HLL_M} - n_used))
                     ELSE {HLL_ALPHA_M2} / (s_used + ({HLL_M} - n_used)) END AS e
              FROM agg
            )
            SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
                   round(e, 4) AS n_approx
            FROM est
        """,
        "q_quantile_sample": " UNION ALL ".join(
            f"""
            SELECT ship_month, q, exact_v, sample_v,
                   round(abs(exact_v - sample_v), 4) AS abs_err
            FROM (
              SELECT ship_month, CAST({q} AS DOUBLE) AS q,
                     round(quantile_cont(x, {q}), 4) AS exact_v,
                     round(quantile_cont(x, {q}) FILTER (WHERE s), 4) AS sample_v
              FROM (
                SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                       CAST(l_extendedprice AS DOUBLE) AS x,
                       substring(md5('q' || CAST(l_orderkey AS VARCHAR) || '-'
                                 || CAST(l_linenumber AS VARCHAR)), 1, 8)
                           < '{rate_threshold(0.1)}' AS s
                FROM lineitem
              )
              GROUP BY ship_month
            )"""
            for q in (0.5, 0.9, 0.99)
        ),
        "q_running_spend": """
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(o_custkey AS BIGINT) AS o_custkey,
                   round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE), 4) AS cum_spend
            FROM orders
        """,
        "q_csv_io": """
            SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
                   MIN(n_name) AS first_name,
                   CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
            FROM nation GROUP BY n_regionkey
        """,
        "q_group_sample": """
            SELECT doc_id, lang, CAST(rk AS INTEGER) AS sample_rank
            FROM (
              SELECT doc_id, lang,
                     ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5('gsample' || CAST(doc_id AS VARCHAR)) ASC,
                                doc_id ASC
                     ) AS rk
              FROM documents
            ) WHERE rk <= 20
        """,
        "q_orc_io": """
            SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
                   CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                   MIN(s_name) AS first_name,
                   round(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4) AS bal_sum
            FROM supplier GROUP BY s_nationkey
        """,
        "q_jsonl_io": """
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM documents GROUP BY lang
        """,
        # Composite pipeline: keepers (min doc_id per md5), feature
        # thresholds on the SAME expressions as q_doc_features, split
        # thresholds as q_train_split, decimal-summed quality average.
        "q_pipeline_stats": r"""
            WITH keepers AS (
              SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
            ),
            feat AS (
              SELECT d.doc_id, d.lang,
                     CAST(length(text) AS BIGINT) AS n_chars_obs,
                     CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
                     CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS BIGINT) AS np,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                   x -> x IN ('the','a','of','and','to','in','is','it')))
                     END AS BIGINT) AS ns
              FROM documents d JOIN keepers k ON k.doc_id = d.doc_id
            ),
            good AS (
              SELECT * FROM (
                SELECT doc_id, lang, n_tokens,
                       least(1000000,
                           least(n_chars_obs, 500) * 1000
                           + (CASE WHEN n_tokens = 0 THEN 0
                              ELSE least((ns * 5000000) // n_tokens, 1000000) END) * 3 // 10
                           + (1000000 - CASE WHEN n_chars_obs = 0 THEN 0
                              ELSE least((np * 10000000) // n_chars_obs, 1000000) END) * 2 // 10
                       ) AS quality_ppm
                FROM feat
              ) WHERE n_tokens >= 10 AND quality_ppm >= 300000
            ),
            assigned AS (
              SELECT lang, n_tokens, quality_ppm,
                     CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
                          WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
                          ELSE 'test' END AS split
              FROM good
            )
            SELECT split, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   (SUM(quality_ppm) // COUNT(*)) / 1000000.0 AS avg_quality
            FROM assigned GROUP BY split, lang
        """,
        "q_rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "q_event_pivot": """
            SELECT user_id,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
                   COALESCE(round(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                              FILTER (WHERE event_type = 'purchase') AS DOUBLE), 4), 0.0)
                       AS purchase_value
            FROM events
            GROUP BY user_id
        """,
        # Exact-substring-overlap seed: identical digest construction
        # (md5 over every 50-char window of normalized text), identical
        # per-gram doc cap, identical distinct-shared-gram count.
        "q_substring_dup": f"""
            WITH n AS (SELECT doc_id AS id, {_SQL_NORM} AS t FROM documents),
            g AS (
              SELECT DISTINCT id,
                     substr(md5(substr(t, CAST(p AS INTEGER), 50)), 1, 15) AS h
              FROM (
                SELECT id, t, unnest(range(1, len(t) - 49 + 1)) AS p
                FROM n WHERE len(t) >= 50
              )
            ),
            capped AS (
              SELECT id, h FROM (
                SELECT id, h, COUNT(*) OVER (PARTITION BY h) AS ndocs FROM g
              ) WHERE ndocs <= 1000
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM g a JOIN capped b ON b.h = a.h AND a.id < b.id
            GROUP BY a.id, b.id
        """,
        # Bloom cells are row-salted md5 hex prefixes (sketches.py
        # _bloom_pos), so the oracle replays the IDENTICAL filter —
        # positions compared as 4-hex-char strings (base-16 parse is
        # just a relabeling; equality is what matters).
        "q_bloom_join": """
            WITH hashes AS (SELECT unnest(range(4)) AS i),
            keys AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders),
            bits AS (
              SELECT DISTINCT substring(md5(CAST(i AS VARCHAR) || ':' || v), 1, 4) AS pos
              FROM keys CROSS JOIN hashes
            ),
            items AS (SELECT DISTINCT c_custkey AS item FROM customer),
            probes AS (
              SELECT item, i,
                     substring(md5(CAST(i AS VARCHAR) || ':' || CAST(item AS VARCHAR)), 1, 4) AS pos
              FROM items CROSS JOIN hashes
            ),
            probed AS (
              SELECT item, COUNT(b.pos) = 4 AS maybe
              FROM probes p LEFT JOIN bits b ON b.pos = p.pos
              GROUP BY item
            ),
            members AS (SELECT DISTINCT o_custkey AS item FROM orders)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
                   CAST(COUNT(m.item) AS BIGINT) AS n_members,
                   CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
                   CAST(SUM(CASE WHEN maybe AND m.item IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_false_pos
            FROM probed pr LEFT JOIN members m ON m.item = pr.item
        """,
        # Identical regexes (the Java/RE2-common subset), identical
        # replacement order, identical planted dirt — the md5 of the
        # cleaned text proves byte-identical redaction.
        "q_pii_redact": f"""
            WITH dirty AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 4 = 0
                             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                             ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
                             ELSE '' END
                     || CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567' ELSE '' END
                         AS t
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t, '{PII_IPV4}')) AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT) AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(
                       t, '{PII_EMAIL}', '<EMAIL>', 'g'),
                       '{PII_IPV4}', '<IP>', 'g'),
                       '{PII_PHONE}', '<PHONE>', 'g')) AS clean_md5
            FROM dirty
        """,
        # Same gram construction as q_ngram_jaccard but 5-grams:
        # a doc shorter than 5 tokens yields one gram (its whole
        # token run), an empty doc yields the '' gram — kept on the
        # train side (one output row per doc), dropped on the eval
        # side (empty docs don't contaminate; dedup.py decontaminate).
        "q_decontam": f"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN {_SQL_NORM} = '' THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array({_SQL_NORM}, '\\s+') END AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                        range(1, greatest(len(t) - 4, 1) + 1),
                        i -> array_to_string(t[i:i+4], ' '))) AS g
              FROM toks
            ),
            tr AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 20 != 0),
            ev AS (
              SELECT DISTINCT gram FROM (
                SELECT unnest(g) AS gram FROM grams WHERE doc_id % 17 = 0
              ) WHERE gram != ''
            )
            SELECT tr.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(ev.gram) AS BIGINT) AS n_hits,
                   COUNT(ev.gram) > 0 AS contaminated
            FROM tr LEFT JOIN ev ON ev.gram = tr.gram
            GROUP BY tr.doc_id
        """,
        # Chunk identity is md5 of the space-joined token slice
        # (textops.py chunk_documents): DuckDB's 1-based inclusive
        # list slice t[a:b] == Spark's slice(t, a, 64) with
        # b = a + 63; both clamp at the end of the list.
        "q_chunks": f"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN {_SQL_NORM} = '' THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array({_SQL_NORM}, '\\s+') END AS t
              FROM documents
            ),
            staged AS (
              SELECT doc_id, t,
                     CAST(unnest(range(
                        CASE WHEN len(t) <= 64 THEN 1
                             ELSE CAST(ceil((len(t) - 64) / 48.0) AS INTEGER) + 1 END
                     )) AS INTEGER) AS chunk_no
              FROM toks
            )
            SELECT doc_id, chunk_no,
                   chunk_no * 48 AS start_tok,
                   CAST(len(t[chunk_no * 48 + 1 : chunk_no * 48 + 64]) AS INTEGER) AS n_tokens,
                   md5(array_to_string(t[chunk_no * 48 + 1 : chunk_no * 48 + 64], ' ')) AS chunk_md5
            FROM staged
        """,
        "q_ship_priority": """
            SELECT o_orderkey, o_orderdate,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
            FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-01'
              AND l_shipdate > TIMESTAMP '1998-06-01'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "q_returned_revenue": """
            SELECT c_custkey, c_name, n_name, revenue FROM (
              SELECT c.c_custkey, c.c_name, n.n_name, pc.revenue
              FROM (
                SELECT o_custkey,
                       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                  * (1 - CAST(l_discount AS DECIMAL(18,2))))
                             AS DOUBLE), 4) AS revenue
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                WHERE l_returnflag = 'R'
                  AND o_orderdate >= TIMESTAMP '1995-07-01'
                  AND o_orderdate < TIMESTAMP '1995-10-01'
                GROUP BY o_custkey
              ) pc
              JOIN customer c ON c.c_custkey = pc.o_custkey
              JOIN nation n ON n.n_nationkey = c.c_nationkey
            )
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "q_filtered_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0),
            sims AS (
              SELECT e.vec_id,
                     round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS sim
              FROM embeddings e CROSS JOIN q
              WHERE e.label IN (1, 3)
            ),
            ranked AS (
              SELECT vec_id, sim,
                     CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
              FROM sims
            )
            SELECT vec_id, sim, rank FROM ranked WHERE rank <= 10
        """,
        "q_group_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0),
            sims AS (
              SELECT e.label AS "group", e.vec_id,
                     round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS sim
              FROM embeddings e CROSS JOIN q
            ),
            ranked AS (
              SELECT "group", vec_id, sim,
                     CAST(ROW_NUMBER() OVER (PARTITION BY "group"
                          ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
              FROM sims
            )
            SELECT "group", vec_id, sim, rank FROM ranked
            WHERE rank <= 3 ORDER BY "group", rank
        """,
        "q_pack_sequences": f"""
            WITH t AS (
              SELECT lang AS stream, doc_id, {_SQL_NTOK} AS n_tokens
              FROM documents
            ),
            tape AS (
              SELECT stream, doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
              FROM t
            )
            SELECT stream, doc_id, n_tokens, start_tok,
                   start_tok // 256 AS pack_id,
                   start_tok % 256 AS pack_offset
            FROM tape
        """,
        "q_stream_corpus": f"""
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars,
                   CAST(SUM({_SQL_NTOK}) AS BIGINT) AS total_tokens
            FROM documents GROUP BY lang
        """,
        "q_stream_requests": _stream_requests_oracle_sql(),
        "q_bucketed_table": """
            SELECT md5(text) AS text_hash,
                   CAST(COUNT(*) AS BIGINT) AS n_dups,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_id
            FROM documents GROUP BY 1
        """,
        "q_stream_sessions": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             >= 30 * 60 * 1000000
                          THEN 1 ELSE 0 END AS b
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT user_id, ts, value,
                     SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sno
              FROM flagged
            )
            SELECT user_id,
                   CAST(MIN(epoch_us(ts)) AS BIGINT) AS session_start_us,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
                       AS total_value
            FROM sess GROUP BY user_id, sno
        """,
        "q_stream_attrib": """
            SELECT p.event_id AS purchase_id,
                   c.event_id AS click_id,
                   c.user_id
            FROM events p
            JOIN events c
              ON c.user_id = p.user_id
             AND c.event_type = 'click'
             AND c.ts >= p.ts
             AND c.ts < p.ts + INTERVAL 2 HOUR
            WHERE p.event_type = 'purchase'
        """,
        "q_stream_rollup": """
            SELECT CAST(ts AS DATE) AS day, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
                       AS total_value
            FROM events
            GROUP BY 1, 2
        """,
        "q_order_priority": """
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1995-04-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
              )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "q_shipmode_stats": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_promo_revenue": """
            SELECT round(CAST(promo_dec AS DOUBLE), 4) AS promo_revenue,
                   round(CAST(total_dec AS DOUBLE), 4) AS total_revenue,
                   round(CAST(100.0 * promo_dec / total_dec AS DOUBLE), 4)
                       AS promo_pct
            FROM (
              SELECT SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo_dec,
                     SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_dec
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1995-09-01'
                AND l_shipdate < TIMESTAMP '1995-10-01'
            )
        """,
        "q_big_orders": """
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                   round(CAST(qty_dec AS DOUBLE), 4) AS total_qty
            FROM (
              SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(18,2)))
                     > CAST(220.0 AS DECIMAL(18,2))
            ) big
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            ORDER BY total_qty DESC, o_orderkey
            LIMIT 20
        """,
        "q_disjunctive_rev": """
            SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
                       AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 25 AND 50
                   AND l_quantity BETWEEN 20 AND 45)
        """,
        "q_rare_bigrams": f"""
            WITH base AS (
              SELECT doc_id, {_SQL_NORM} AS norm FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     unnest(string_split(norm, ' ')) AS tok,
                     generate_subscripts(string_split(norm, ' '), 1) AS pos
              FROM base WHERE norm <> ''
            ),
            doc_bi AS (
              SELECT doc_id, w1, w2 FROM (
                SELECT doc_id, tok AS w1,
                       LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                FROM toks
              ) WHERE w2 IS NOT NULL
            ),
            corpus AS (
              SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_pair
              FROM doc_bi GROUP BY w1, w2
            )
            SELECT d.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(CASE WHEN c.c_pair <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_rare,
                   round(CAST(SUM(CASE WHEN c.c_pair <= 2 THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*), 4) AS rare_pct
            FROM doc_bi d JOIN corpus c ON d.w1 = c.w1 AND d.w2 = c.w2
            GROUP BY d.doc_id
        """,
        "q_cust_order_dist": """
            SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
            FROM (
              SELECT c.c_custkey,
                     CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
              FROM customer c
              LEFT OUTER JOIN (
                SELECT o_custkey, o_orderkey FROM orders
                WHERE o_orderpriority <> '1-URGENT'
              ) o ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "q_nation_volume": """
            SELECT sn.n_name AS supp_nation,
                   cn.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON sn.n_nationkey = s_nationkey
            JOIN nation cn ON cn.n_nationkey = c_nationkey
            WHERE sn.n_name IN ('NATION_1', 'NATION_2')
              AND cn.n_name IN ('NATION_1', 'NATION_2')
              AND sn.n_name <> cn.n_name
              AND l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "q_local_supplier": """
            SELECT n_name,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
            FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
            JOIN nation ON n_nationkey = s_nationkey
            JOIN region ON r_regionkey = n_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "q_order_gaps": """
            WITH g AS (
              SELECT o_custkey,
                     date_diff('day',
                               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey),
                               o_orderdate) AS gap
              FROM orders
            )
            SELECT CAST(o_custkey AS BIGINT) AS custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_gaps,
                   CAST(SUM(gap) AS BIGINT) AS total_gap_days,
                   CAST(MAX(gap) AS BIGINT) AS max_gap_days
            FROM g WHERE gap IS NOT NULL GROUP BY o_custkey
        """,
        "q_funnel": """
            WITH s1 AS (
              SELECT user_id, MIN(ts) AS t FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ),
            s2 AS (
              SELECT e.user_id, MIN(e.ts) AS t FROM events e
              JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
              WHERE e.event_type = 'view' GROUP BY e.user_id
            ),
            s3 AS (
              SELECT e.user_id, MIN(e.ts) AS t FROM events e
              JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
              WHERE e.event_type = 'click' GROUP BY e.user_id
            ),
            s4 AS (
              SELECT e.user_id, MIN(e.ts) AS t FROM events e
              JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
              WHERE e.event_type = 'purchase' GROUP BY e.user_id
            )
            SELECT CAST(1 AS INTEGER) AS stage_no, 'signup' AS stage,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
            UNION ALL
            SELECT CAST(2 AS INTEGER), 'view',
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
            UNION ALL
            SELECT CAST(3 AS INTEGER), 'click',
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
            UNION ALL
            SELECT CAST(4 AS INTEGER), 'purchase',
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM s4)
        """,
    }
    oracles["q_retention"] = """
        WITH signup AS (
          SELECT user_id, MIN(ts) AS t0 FROM events
          WHERE event_type = 'signup' GROUP BY user_id
        ),
        cells AS (
          SELECT DISTINCT CAST(date_trunc('week', s.t0) AS DATE) AS cohort_week,
                 CAST(date_diff('day', s.t0, e.ts) // 7 AS INTEGER) AS week_offset,
                 e.user_id
          FROM events e JOIN signup s ON e.user_id = s.user_id
          WHERE e.ts >= s.t0
        )
        SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM cells GROUP BY cohort_week, week_offset
    """
    oracles["q_vector_stats"] = """
        SELECT vec_id,
               CAST(len(dv) AS INTEGER) AS dim,
               round(sqrt(list_dot_product(dv, dv)), 4) AS l2_norm,
               CAST(len(list_filter(dv, x -> x > 0)) AS BIGINT) AS n_pos,
               round(list_max(list_transform(dv, x -> abs(x))), 4) AS max_abs
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings)
    """
    # The streamed graph ingest must equal batch add_graph (O1)
    # row-for-row — same oracle by construction.
    oracles["q_stream_edges"] = oracles["q_add_graph"]
    # graphalgs.also_bought replayed: weighted co-purchase counts over
    # the FULL history (no ship window), symmetric orientation, top-3
    # per src by (cnt desc, dst).
    oracles["q_also_bought"] = f"""
        WITH {_sql_copurchase("").strip()},
        w_ce AS (SELECT a.p AS src, b.p AS dst, COUNT(*) AS cnt
                 FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p
                 GROUP BY a.p, b.p),
        wsym AS (SELECT src, dst, cnt FROM w_ce
                 UNION ALL SELECT dst, src, cnt FROM w_ce),
        r AS (SELECT src, dst, cnt,
                     ROW_NUMBER() OVER (PARTITION BY src
                                        ORDER BY cnt DESC, dst) AS rank
              FROM wsym)
        SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
               CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= 3
    """
    # relational.integrity_audit replayed: per-FK orphan counts via
    # NOT EXISTS (== left-anti).
    _fk_checks = [
        ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    oracles["q_integrity_audit"] = " UNION ALL ".join(
        f"""SELECT '{name}' AS relation,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
                WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                  WHERE p.{pk} = c.{ck})) AS n_orphans"""
        for name, child, ck, parent, pk in _fk_checks
    )
    # temporal.cumulative_new_users replayed: first day each user
    # performs each event type, day rollup, per-type running sum.
    oracles["q_new_users"] = """
        WITH firstday AS (
          SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
          FROM events GROUP BY event_type, user_id
        ),
        daily AS (
          SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS new_users
          FROM firstday GROUP BY event_type, day
        )
        SELECT event_type, day, new_users,
               CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cume_users
        FROM daily
    """
    # textops.similar_docs_jaccard replayed: max-df 80% vocabulary
    # prune (synthetic-corpus calibration, see q_similar_docs),
    # inverted-index intersection with doc 7, integer-ppm Jaccard,
    # top-10 by (jac_ppm desc, doc_id).
    oracles["q_similar_docs"] = f"""
        WITH base AS (
          SELECT doc_id, {_SQL_NORM} AS norm FROM documents
          WHERE {_SQL_NORM} <> ''
        ),
        toks AS (
          SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS tok
          FROM base
        ),
        dfreq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
        nd AS (SELECT COUNT(*) AS n_docs FROM base),
        kept AS (
          SELECT t.doc_id, t.tok FROM toks t JOIN dfreq USING (tok) CROSS JOIN nd
          WHERE df * 100 <= 80 * n_docs
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
        q AS (SELECT tok FROM kept WHERE doc_id = 7),
        qs AS (SELECT COUNT(*) AS qsz FROM q),
        inter AS (
          SELECT k.doc_id, COUNT(*) AS i FROM kept k JOIN q USING (tok)
          WHERE k.doc_id <> 7 GROUP BY k.doc_id
        ),
        scored AS (
          SELECT i.doc_id, CAST(i.i AS BIGINT) AS n_shared,
                 CAST((i.i * 1000000) // (s.sz + qs.qsz - i.i) AS BIGINT)
                     AS jac_ppm
          FROM inter i JOIN sizes s USING (doc_id) CROSS JOIN qs
        ),
        top AS (SELECT * FROM scored ORDER BY jac_ppm DESC, doc_id LIMIT 10)
        SELECT doc_id, n_shared, jac_ppm,
               CAST(ROW_NUMBER() OVER (ORDER BY jac_ppm DESC, doc_id)
                    AS INTEGER) AS rank
        FROM top
    """
    # textops.boilerplate_prefixes replayed: leading 8-token prefix
    # of normalized text, count, top-10.
    oracles["q_boilerplate"] = f"""
        WITH base AS (SELECT {_SQL_NORM} AS norm FROM documents),
        pref AS (
          SELECT array_to_string(list_slice(string_split(norm, ' '), 1, 8), ' ')
                 AS prefix
          FROM base WHERE norm <> ''
        ),
        counts AS (
          SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM pref GROUP BY prefix
        ),
        top AS (SELECT * FROM counts ORDER BY n_docs DESC, prefix LIMIT 10)
        SELECT prefix, n_docs,
               CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, prefix)
                    AS INTEGER) AS rank
        FROM top
    """
    # textops.token_length_histogram replayed: whitespace token count
    # of raw text, power-of-two bucket via the HDR bit-length idiom.
    oracles["q_len_hist"] = """
        WITH base AS (
          SELECT lang AS "group",
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
          FROM documents
        ),
        b2 AS (
          SELECT "group",
                 CASE WHEN n <= 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(power(2, length(format('{:b}', n)) - 1) AS BIGINT)
                 END AS bucket,
                 n
          FROM base
        )
        SELECT "group", bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS total_tokens
        FROM b2 GROUP BY "group", bucket
    """
    # dedup.cross_source_duplicates replayed: distinct (fingerprint,
    # source), per-fp source self-join, canonical pair counts; the
    # planted mirror.example republication mirrors q_mirror_sources.
    oracles["q_mirror_sources"] = f"""
        WITH alldocs AS (
          SELECT text, source FROM documents
          UNION ALL
          SELECT text, 'mirror.example' FROM documents WHERE doc_id % 17 = 0
        ),
        fps AS (SELECT DISTINCT md5({_SQL_NORM}) AS fp, source FROM alldocs)
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_fps
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
    """
    # relational.event_contingency replayed: dow 0=Sunday matches
    # Spark's dayofweek()-1; all ppm values integral over HUGEINT
    # products of non-negatives (// == DIV).
    oracles["q_chi2"] = """
        WITH cells AS (
          SELECT event_type, CAST(date_part('dow', ts) AS INTEGER) AS dow,
                 CAST(COUNT(*) AS BIGINT) AS obs
          FROM events GROUP BY 1, 2
        ),
        rowm AS (SELECT event_type, SUM(obs) AS r FROM cells GROUP BY 1),
        colm AS (SELECT dow, SUM(obs) AS c FROM cells GROUP BY 1),
        tot AS (SELECT SUM(obs) AS n FROM cells)
        SELECT cells.event_type, cells.dow, cells.obs,
               CAST((CAST(r AS HUGEINT) * c * 1000000) // CAST(n AS HUGEINT)
                    AS BIGINT) AS exp_ppm,
               CAST(((CAST(obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                     * (CAST(obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                     * 1000000)
                    // (CAST(r AS HUGEINT) * c * n) AS BIGINT) AS contrib_ppm
        FROM cells JOIN rowm USING (event_type) JOIN colm USING (dow)
        CROSS JOIN tot
    """
    # similarity.lsh_knn_graph replayed: shared sign-LSH buckets ->
    # canonical candidate pairs -> exact cosine -> per-source top-3.
    oracles["q_knn_graph"] = f"""
        WITH vecs AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
        ),
        {_sql_knn_graph_ctes()}
        SELECT id, nbr, sim, rank FROM knng WHERE rank <= 3
    """
    # sampling.leakage_matrix over dedup.minhash_dedup(md5) pairs and
    # the default 90/5/5 doc_id split, all replayed.
    _split_whens = " ".join(
        f"WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) < '{thr}' "
        f"THEN '{name}'"
        for name, thr in split_thresholds()
    )
    oracles["q_split_leakage"] = f"""
        WITH {_sql_minhash_ctes('documents')},
        assigned AS (
          SELECT doc_id, CASE {_split_whens} ELSE 'test' END AS split
          FROM documents
        )
        SELECT LEAST(sa.split, sb.split) AS split_a,
               GREATEST(sa.split, sb.split) AS split_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM mh_pairs p
        JOIN assigned sa ON sa.doc_id = p.id_a
        JOIN assigned sb ON sb.doc_id = p.id_b
        GROUP BY 1, 2
    """
    # graphalgs.modularity_summary over the strong-tie communities:
    # recursive-CC labels (the q_communities oracle), then Newman Q as
    # one HUGEINT rational with the sign-safe integral ppm.
    oracles["q_modularity"] = f"""
        WITH RECURSIVE {_sql_copurchase().strip()},
        w_ce AS MATERIALIZED (
          SELECT a.p AS src, b.p AS dst, COUNT(*) AS cnt
          FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p
          GROUP BY 1, 2
        ),
        strong AS (SELECT src, dst FROM w_ce WHERE cnt >= 2),
        sym AS (
          SELECT src, dst FROM strong UNION ALL SELECT dst, src FROM strong
        ),
        reach(v, r) AS (
          SELECT DISTINCT src, src FROM sym
          UNION
          SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.v
        ),
        lab AS (SELECT v, MIN(r) AS comp FROM reach GROUP BY v),
        intra AS (
          SELECT SUM(CASE WHEN la.comp = lb.comp THEN 1 ELSE 0 END) AS sum_ec
          FROM strong e JOIN lab la ON la.v = e.src JOIN lab lb ON lb.v = e.dst
        ),
        deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src),
        dc AS (
          SELECT lab.comp, SUM(d.d) AS d_c
          FROM deg d JOIN lab ON lab.v = d.v GROUP BY lab.comp
        ),
        agg AS (
          SELECT COUNT(*) AS n_communities,
                 SUM(CAST(d_c AS HUGEINT) * d_c) AS sum_dc2
          FROM dc
        ),
        m AS (SELECT COUNT(*) AS m_edges FROM strong)
        SELECT CAST(n_communities AS BIGINT) AS n_communities,
               CAST(m_edges AS BIGINT) AS m_edges,
               CAST(CASE WHEN m_edges = 0 THEN 0 ELSE
                 CASE WHEN 4 * CAST(m_edges AS HUGEINT) * sum_ec - sum_dc2 >= 0
                 THEN ((4 * CAST(m_edges AS HUGEINT) * sum_ec - sum_dc2) * 1000000)
                      // (4 * CAST(m_edges AS HUGEINT) * m_edges)
                 ELSE -(((sum_dc2 - 4 * CAST(m_edges AS HUGEINT) * sum_ec) * 1000000)
                        // (4 * CAST(m_edges AS HUGEINT) * m_edges)) END END
                 AS BIGINT) AS q_ppm
        FROM agg CROSS JOIN m CROSS JOIN intra
    """
    # relational.column_profile replayed: one SELECT per profiled
    # column (string/integer/timestamp casts render identically; float
    # columns are excluded by design).
    oracles["q_profile"] = " UNION ALL ".join(
        f"""SELECT '{c}' AS "column",
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
               CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_s,
               CAST(MAX({c}) AS VARCHAR) AS max_s
        FROM orders"""
        for c in ("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate")
    )
    # relational.winsorized_spend replayed: nearest-rank p5/p95 by
    # global (cents, orderkey) row number, clamp aggregation.
    oracles["q_winsorize"] = """
        WITH cents AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
          FROM orders
        ),
        r AS (
          SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS i
          FROM cents
        ),
        n AS (SELECT COUNT(*) AS _n FROM cents),
        th AS (
          SELECT MIN(cents) AS p_lo, MAX(cents) AS p_hi
          FROM r CROSS JOIN n
          WHERE i = (5 * _n + 99) // 100 OR i = (95 * _n + 99) // 100
        )
        SELECT CAST(n._n AS BIGINT) AS n_orders,
               CAST(th.p_lo AS BIGINT) AS p_lo_cents,
               CAST(th.p_hi AS BIGINT) AS p_hi_cents,
               CAST(SUM(CASE WHEN c.cents < th.p_lo THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clipped_low,
               CAST(SUM(CASE WHEN c.cents > th.p_hi THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clipped_high,
               CAST(SUM(GREATEST(LEAST(c.cents, th.p_hi), th.p_lo)) AS BIGINT)
                   AS winsorized_sum_cents
        FROM cents c CROSS JOIN th CROSS JOIN n
        GROUP BY n._n, th.p_lo, th.p_hi
    """
    # temporal.daily_volume_anomalies replayed: day rollup, one-row
    # integer moments, pure-BIGINT flag inequality, display-only z.
    oracles["q_volume_anomaly"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1
        ),
        mom AS (
          SELECT COUNT(*) AS n, SUM(n_events) AS s,
                 SUM(n_events * n_events) AS ss
          FROM daily
        )
        SELECT day, n_events,
               CASE WHEN n * ss - s * s <= 0 THEN 0.0
                    ELSE round(CAST(n * n_events - s AS DOUBLE)
                               / sqrt(CAST(n * ss - s * s AS DOUBLE)), 4)
               END AS z,
               (n * ss - s * s > 0
                AND (n * n_events - s) * (n * n_events - s)
                    >= 4 * (n * ss - s * s)) AS flagged
        FROM daily CROSS JOIN mom
    """
    # similarity.knn_graph_recall replayed: the knng CTEs filtered to
    # the sampled sources vs a sample x corpus exact top-3.
    oracles["q_knn_recall"] = f"""
        WITH vecs AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
        ),
        {_sql_knn_graph_ctes()},
        g AS (SELECT id, nbr FROM knng WHERE rank <= 3 AND id < 20),
        ex AS (
          SELECT s.id AS sid, v.id AS nbr,
                 ROW_NUMBER() OVER (PARTITION BY s.id
                     ORDER BY round(list_cosine_similarity(s.dv, v.dv), 4) DESC,
                              v.id) AS rnk
          FROM vecs s JOIN vecs v ON v.id <> s.id
          WHERE s.id < 20
        ),
        ns AS (SELECT COUNT(*) AS n_sampled FROM vecs WHERE id < 20),
        m AS (
          SELECT COUNT(*) AS nm
          FROM (SELECT sid, nbr FROM ex WHERE rnk <= 3) e
          JOIN g ON g.id = e.sid AND g.nbr = e.nbr
        )
        SELECT CAST(3 AS BIGINT) AS k,
               CAST(ns.n_sampled AS BIGINT) AS n_sampled,
               CAST(m.nm AS BIGINT) AS n_matched,
               round(CAST(m.nm AS DOUBLE) / (ns.n_sampled * 3), 6) AS recall
        FROM m CROSS JOIN ns
    """
    # similarity.ivf_topk recall sweep at n_probe = 1, 2, 4 — each arm
    # is the parameterized IVF replica joined against the exact top-10.
    oracles["q_ivf_sweep"] = " UNION ALL ".join(
        f"""SELECT CAST({p} AS INTEGER) AS n_probe,
               CAST(nm AS BIGINT) AS n_matched,
               round(CAST(nm AS DOUBLE) / 10.0, 6) AS recall
        FROM (
          SELECT COUNT(*) AS nm
          FROM (SELECT vec_id FROM ({_SQL_SIM_TOPK})) ex
          JOIN (SELECT vec_id FROM ({_sql_ivf_topk(p)})) ap USING (vec_id)
        )"""
        for p in (1, 2, 4)
    )
    # textops.lang_confusion replayed: the q_doc_features marker-count
    # argmax CASE, rolled up to (label, guess) cells.
    oracles["q_lang_confusion"] = """
        WITH feat AS (
          SELECT lang, concat(' ', lower(text), ' ') AS padded FROM documents
        ),
        scored AS (
          SELECT lang,
                 (CASE WHEN contains(padded, ' the ') THEN 1 ELSE 0 END
                  + CASE WHEN contains(padded, ' a ') THEN 1 ELSE 0 END
                  + CASE WHEN contains(padded, ' of ') THEN 1 ELSE 0 END) AS s_en,
                 (CASE WHEN contains(padded, ' der ') THEN 1 ELSE 0 END
                  + CASE WHEN contains(padded, ' und ') THEN 1 ELSE 0 END
                  + CASE WHEN contains(padded, ' die ') THEN 1 ELSE 0 END) AS s_de,
                 (CASE WHEN contains(padded, ' el ') THEN 1 ELSE 0 END
                  + CASE WHEN contains(padded, ' y ') THEN 1 ELSE 0 END
                  + CASE WHEN contains(padded, ' de ') THEN 1 ELSE 0 END) AS s_es,
                 (CASE WHEN contains(padded, ' le ') THEN 1 ELSE 0 END
                  + CASE WHEN contains(padded, ' et ') THEN 1 ELSE 0 END
                  + CASE WHEN contains(padded, ' la ') THEN 1 ELSE 0 END) AS s_fr
          FROM feat
        ),
        g AS (
          SELECT lang,
                 CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                      WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_en THEN 'de'
                      WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_en AND s_es >= s_de THEN 'es'
                      WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                      ELSE 'und' END AS lang_guess
          FROM scored
        )
        SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM g GROUP BY 1, 2
    """
    # catalog.vacuum_plan replayed over the shared 3-version event
    # log: deciding events at horizon 2 via arg_max(ins, v) + MAX(v).
    oracles["q_vacuum"] = f"""
        WITH {_SQL_TT_EV.strip()},
        dec AS (
          SELECT lo, hi, arg_max(ins, v) AS ins, MAX(v) AS v_dec
          FROM ev WHERE v <= 2 GROUP BY lo, hi
        ),
        live AS (
          SELECT v_dec AS v, COUNT(*) AS n_live FROM dec WHERE ins GROUP BY v_dec
        ),
        pv AS (SELECT v, COUNT(*) AS n_events FROM ev GROUP BY v)
        SELECT CAST(pv.v AS INTEGER) AS version,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(COALESCE(n_live, 0) AS BIGINT) AS n_live_at_horizon,
               CAST(CASE WHEN pv.v <= 2 THEN n_events - COALESCE(n_live, 0)
                         ELSE 0 END AS BIGINT) AS n_reclaimable
        FROM pv LEFT JOIN live ON live.v = pv.v
    """
    # sources.cobuyer_weighted_edges + graphalgs.also_bought replayed:
    # the customer-side bipartite projection (parts as groups, staples
    # over 25 buyers dropped), per-customer top-3.
    oracles["q_cobuyers"] = """
        WITH bought AS (
          SELECT DISTINCT l_partkey AS g, CAST(o_custkey AS BIGINT) AS p
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        g_sized AS (SELECT g FROM bought GROUP BY g HAVING COUNT(*) <= 25),
        b2 AS (SELECT bought.g, bought.p FROM bought JOIN g_sized USING (g)),
        w_ce AS (
          SELECT a.p AS src, b.p AS dst, COUNT(*) AS cnt
          FROM b2 a JOIN b2 b ON a.g = b.g AND a.p < b.p GROUP BY 1, 2
        ),
        wsym AS (
          SELECT src, dst, cnt FROM w_ce UNION ALL SELECT dst, src, cnt FROM w_ce
        ),
        r AS (
          SELECT src, dst, cnt,
                 ROW_NUMBER() OVER (PARTITION BY src
                                    ORDER BY cnt DESC, dst) AS rank
          FROM wsym
        )
        SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
               CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= 3
    """
    # relational.quintile_mobility replayed: per-year exact-cents rank
    # (cents, custkey ascending), NTILE arithmetic, inner join on the
    # customers active both years.
    oracles["q_quintile_move"] = """
        WITH s94 AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS cents
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1996-01-01'
          GROUP BY o_custkey
        ),
        r94 AS (
          SELECT o_custkey,
                 ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM s94
        ),
        b94 AS (
          SELECT o_custkey,
                 CAST((i - 1) * 5 // (SELECT COUNT(*) FROM s94) AS INTEGER)
                     AS q_from
          FROM r94
        ),
        s95 AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS cents
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'
          GROUP BY o_custkey
        ),
        r95 AS (
          SELECT o_custkey,
                 ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM s95
        ),
        b95 AS (
          SELECT o_custkey,
                 CAST((i - 1) * 5 // (SELECT COUNT(*) FROM s95) AS INTEGER)
                     AS q_to
          FROM r95
        )
        SELECT q_from, q_to, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM b94 JOIN b95 USING (o_custkey)
        GROUP BY 1, 2
    """
    # relational.seasonal_index replayed: 12-cell rollup, HUGEINT
    # non-negative integral division.
    oracles["q_seasonality"] = """
        WITH monthly AS (
          SELECT CAST(month(o_orderdate) AS INTEGER) AS month,
                 SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS mc
          FROM orders GROUP BY 1
        ),
        t AS (SELECT SUM(mc) AS tc FROM monthly)
        SELECT month, CAST(mc AS BIGINT) AS total_cents,
               CAST((CAST(mc AS HUGEINT) * 12 * 1000000)
                    // CAST(tc AS HUGEINT) AS BIGINT) AS idx_ppm
        FROM monthly CROSS JOIN t
    """
    # Progressive JPEG carries the SAME planted pixels as the baseline
    # fixtures — the scan structure is an encoding detail the decode
    # must erase, so the oracle is q_jpeg_decode's verbatim (the
    # q_png_adam7 pattern).
    oracles["q_jpeg_progressive"] = oracles["q_jpeg_decode"]
    # Restart-interval streams likewise carry the SAME planted pixels —
    # DRI/RSTn segmentation is an encoding detail the decode must
    # erase, so the oracle is q_jpeg_decode's verbatim.
    oracles["q_jpeg_restart"] = oracles["q_jpeg_decode"]
    # Progressive COLOR streams carry the SAME planted planes as the
    # baseline color fixtures — scan structure is an encoding detail
    # the decode must erase, so the oracle is q_jpeg_color's verbatim.
    oracles["q_jpeg_prog_color"] = oracles["q_jpeg_color"]

    # LZ4 shards: m = 20 + id % 30 lines of 'doc {id} line {l}\n';
    # per-line length = 11 + len(str(id)) + len(str(l)); the l-digit
    # sum over 0..m-1 is m + max(0, m-10) since m <= 49; one 'c' per
    # line ('doc' — ids and line numbers are digits).
    oracles["q_lz4_corpus"] = """
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST((20 + doc_id % 30) * (11 + len(CAST(doc_id AS VARCHAR)))
                    + (20 + doc_id % 30) + GREATEST(0, (20 + doc_id % 30) - 10)
                    AS BIGINT) AS n_bytes,
               CAST(20 + doc_id % 30 AS BIGINT) AS n_lines,
               CAST(20 + doc_id % 30 AS BIGINT) AS c_count
        FROM documents
    """

    # zstd shards: same closed-form corpus as the LZ4 shards (the two
    # wire formats are directly comparable), so the oracle is
    # identical — the value check is on the INFLATED text either way.
    oracles["q_zstd_corpus"] = oracles["q_lz4_corpus"]

    # Lossy WebP: per-MB constant targets (exact DC subspace) — plane
    # sums over the 16x16 luma / 8x8 chroma macroblocks plus the
    # MB-position-weighted luma sum.
    oracles["q_webp_lossy"] = """
    WITH docs AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             CAST(1 + doc_id % 3 AS BIGINT) AS mbw,
             CAST(1 + doc_id % 2 AS BIGINT) AS mbh
      FROM documents
    ),
    mb AS (
      SELECT d.media_id, d.mbw, d.mbh, r.r, c.c,
             (29 * r.r + 31 * c.c + d.media_id) % 256 AS yt,
             (17 * r.r + 13 * c.c + 3 * d.media_id) % 256 AS ut,
             (11 * r.r + 19 * c.c + 7 * d.media_id) % 256 AS vt
      FROM docs d
      JOIN range(0, 2) r(r) ON r.r < d.mbh
      JOIN range(0, 3) c(c) ON c.c < d.mbw
    )
    SELECT media_id,
           CAST(mbw * 16 AS BIGINT) AS width,
           CAST(mbh * 16 AS BIGINT) AS height,
           CAST(SUM(yt) * 256 AS BIGINT) AS y_sum,
           CAST(SUM(ut) * 64 AS BIGINT) AS u_sum,
           CAST(SUM(vt) * 64 AS BIGINT) AS v_sum,
           CAST(SUM(yt * (r + 2 * c + 1)) * 256 AS BIGINT) AS y_wsum
    FROM mb GROUP BY media_id, mbw, mbh
"""

    # TIFF: compression is a wire detail the decode must erase — the
    # oracle replays the gray/RGB arithmetic per variant only.
    oracles["q_tiff_decode"] = """
    WITH docs AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             CAST(6 + doc_id % 9 AS BIGINT) AS w,
             CAST(5 + doc_id % 6 AS BIGINT) AS h,
             doc_id % 3 AS variant
      FROM documents
    ),
    px AS (
      SELECT d.media_id, d.variant, d.w, d.h,
             CASE WHEN d.variant = 1
                  THEN (31*i.i + 17*j.j + d.media_id) % 256
                  ELSE (37*i.i + 23*j.j + d.media_id) % 256 END AS r,
             CASE WHEN d.variant = 1
                  THEN (29*i.i + 19*j.j + 3*d.media_id) % 256
                  ELSE (37*i.i + 23*j.j + d.media_id) % 256 END AS g,
             CASE WHEN d.variant = 1
                  THEN (23*i.i + 13*j.j + 7*d.media_id) % 256
                  ELSE (37*i.i + 23*j.j + d.media_id) % 256 END AS b
      FROM docs d
      JOIN range(0, 11) i(i) ON i.i < d.h
      JOIN range(0, 15) j(j) ON j.j < d.w
    )
    SELECT media_id,
           CAST(CASE variant WHEN 0 THEN 1 WHEN 1 THEN 5
                ELSE 32773 END AS BIGINT) AS compression,
           w AS width, h AS height,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum
    FROM px GROUP BY media_id, variant, w, h
"""

    # BMP: channel sums replay per variant — 24/32-bit direct
    # arithmetic, 8-bit through the nested palette congruence
    # (the q_png_palette pattern); orientation/padding must erase.
    oracles["q_bmp_decode"] = """
    WITH docs AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             CAST(5 + doc_id % 9 AS BIGINT) AS w,
             CAST(4 + doc_id % 7 AS BIGINT) AS h,
             doc_id % 3 AS variant
      FROM documents
    ),
    px AS (
      SELECT d.media_id, d.variant, d.w, d.h,
             CASE WHEN d.variant = 1
                  THEN (11 * ((3*i.i + 5*j.j + d.media_id) % 256) + d.media_id) % 256
                  ELSE (31*i.i + 17*j.j + d.media_id) % 256 END AS r,
             CASE WHEN d.variant = 1
                  THEN (13 * ((3*i.i + 5*j.j + d.media_id) % 256) + 2*d.media_id) % 256
                  ELSE (29*i.i + 19*j.j + 3*d.media_id) % 256 END AS g,
             CASE WHEN d.variant = 1
                  THEN (17 * ((3*i.i + 5*j.j + d.media_id) % 256) + 3*d.media_id) % 256
                  ELSE (23*i.i + 13*j.j + 7*d.media_id) % 256 END AS b,
             CASE WHEN d.variant = 2
                  THEN (5*i.i + 3*j.j + 11*d.media_id) % 256
                  ELSE 255 END AS a
      FROM docs d
      JOIN range(0, 11) i(i) ON i.i < d.h
      JOIN range(0, 14) j(j) ON j.j < d.w
    )
    SELECT media_id,
           CAST(CASE variant WHEN 0 THEN 24 WHEN 1 THEN 8 ELSE 32 END
                AS BIGINT) AS bpp,
           w AS width, h AS height,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(SUM(a) AS BIGINT) AS a_sum
    FROM px GROUP BY media_id, variant, w, h
"""

    # Animated WebP: three-frame compositing replay — frame 0 is the
    # full-canvas arithmetic image, frame 1 a copied sub-rect over
    # background (id odd, via dispose) or frame 0 (id even), frame 2
    # an alpha-128 blend whose integer form over the opaque canvas is
    # (src*128 + dst*127) // 255.
    oracles["q_webp_anim"] = """
    WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS media_id FROM documents),
    px AS (
      SELECT d.media_id, i.i, j.j,
             (3*i.i + 5*j.j + d.media_id) % 256 AS f0r,
             (7*i.i + j.j + 2*d.media_id) % 256 AS f0g,
             (i.i + j.j + 3*d.media_id) % 256 AS f0b,
             (i.i BETWEEN 2 AND 7 AND j.j BETWEEN 4 AND 11) AS in1,
             (i.i BETWEEN 4 AND 7 AND j.j BETWEEN 8 AND 13) AS in2,
             (11*(i.i-2) + 13*(j.j-4) + d.media_id) % 256 AS f1r,
             (2*(i.i-2) + (j.j-4) + 5*d.media_id) % 256 AS f1g,
             ((i.i-2) + 4*(j.j-4) + 7*d.media_id) % 256 AS f1b,
             (9*(i.i-4) + 4*(j.j-8) + 5*d.media_id) % 256 AS f2r,
             ((i.i-4) + 2*(j.j-8) + d.media_id) % 256 AS f2g,
             (5*(i.i-4) + (j.j-8) + 2*d.media_id) % 256 AS f2b
      FROM docs d CROSS JOIN range(0, 12) i(i) CROSS JOIN range(0, 16) j(j)
    ),
    c1 AS (
      SELECT media_id, f0r, f0g, f0b, in2, f2r, f2g, f2b,
             CASE WHEN in1 THEN f1r WHEN media_id % 2 = 1 THEN 200 ELSE f0r END AS c1r,
             CASE WHEN in1 THEN f1g WHEN media_id % 2 = 1 THEN 100 ELSE f0g END AS c1g,
             CASE WHEN in1 THEN f1b WHEN media_id % 2 = 1 THEN 50  ELSE f0b END AS c1b
      FROM px
    ),
    c2 AS (
      SELECT media_id, f0r, f0g, f0b, c1r, c1g, c1b,
             CASE WHEN in2 THEN (f2r*128 + c1r*127)//255 ELSE c1r END AS c2r,
             CASE WHEN in2 THEN (f2g*128 + c1g*127)//255 ELSE c1g END AS c2g,
             CASE WHEN in2 THEN (f2b*128 + c1b*127)//255 ELSE c1b END AS c2b
      FROM c1
    ),
    frames AS (
      SELECT media_id, 0 AS fi, SUM(f0r) r, SUM(f0g) g, SUM(f0b) b FROM c2 GROUP BY media_id
      UNION ALL
      SELECT media_id, 1, SUM(c1r), SUM(c1g), SUM(c1b) FROM c2 GROUP BY media_id
      UNION ALL
      SELECT media_id, 2, SUM(c2r), SUM(c2g), SUM(c2b) FROM c2 GROUP BY media_id
    )
    SELECT media_id, CAST(fi AS BIGINT) AS frame_idx,
           CAST(CASE fi WHEN 0 THEN 40 + media_id % 10
                        WHEN 1 THEN 50 ELSE 60 END AS BIGINT) AS duration,
           CAST(media_id % 4 AS BIGINT) AS loop_count,
           CAST(r AS BIGINT) AS r_sum,
           CAST(g AS BIGINT) AS g_sum,
           CAST(b AS BIGINT) AS b_sum,
           CAST(192 * 255 AS BIGINT) AS a_sum
    FROM frames
"""

    # Ogg-FLAC: same planted signal as q_flac_audio — the Ogg page
    # layer is an encoding detail the decode must erase, so the
    # oracle is q_flac_audio's verbatim (the q_png_adam7 pattern).
    oracles["q_ogg_flac"] = oracles["q_flac_audio"]

    # Dictionary shards: TEMPLATE + 'doc {id} tail {(id*id)%9973}\n'
    # — template length / 'c' count are Python-computed constants
    # interpolated below, the tail replays via VARCHAR lengths.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.zstdcodec import (
        ZSTD_DICT_TEMPLATE as _ZT,
    )

    oracles["q_zstd_dict"] = f"""
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST({len(_ZT)} + 11 + len(CAST(doc_id AS VARCHAR))
                    + len(CAST((doc_id * doc_id) % 9973 AS VARCHAR))
                    AS BIGINT) AS n_bytes,
               CAST(1 AS BIGINT) AS n_lines,
               CAST({_ZT.count('c') + 1} AS BIGINT) AS c_count
        FROM documents
    """

    # Assignment-tree replay: golden VALUES from an independent
    # pure-Python BFS over the committed docx matrices (all 152
    # (graph, root) traversals of the reference's graded corpus).
    oracles["q_assignment_replay"] = _assignment_bfs_values()

    # WebP: per-pixel channel arithmetic replayed over a lateral
    # (x, y) grid; wsum is position-weighted so any scrambled pixel
    # breaks the hash even where the plain channel sums collide.
    oracles["q_webp_decode"] = """
        SELECT d.doc_id AS media_id,
               CAST(8 + d.doc_id % 9 AS BIGINT) AS width,
               CAST(8 + d.doc_id % 7 AS BIGINT) AS height,
               CAST(SUM((3 * g.x + 5 * g.y + d.doc_id) % 256) AS BIGINT) AS r_sum,
               CAST(SUM((7 * g.x + 2 * g.y + 11 * d.doc_id) % 256) AS BIGINT) AS g_sum,
               CAST(SUM((g.x * g.y + 13 * d.doc_id) % 256) AS BIGINT) AS b_sum,
               CAST(SUM(((3 * g.x + 5 * g.y + d.doc_id) % 256
                         + 2 * ((7 * g.x + 2 * g.y + 11 * d.doc_id) % 256)
                         + 3 * ((g.x * g.y + 13 * d.doc_id) % 256))
                        * (31 * g.y + 17 * g.x + 1)) AS BIGINT) AS wsum
        FROM documents d,
             (SELECT gx.x, gy.y
              FROM range(0, 17) AS gx(x), range(0, 15) AS gy(y)) AS g
        WHERE g.x < 8 + d.doc_id % 9 AND g.y < 8 + d.doc_id % 7
        GROUP BY d.doc_id
    """

    # XML: the oracle rebuilds title/views/tag fields from the id
    # arithmetic (n_tags = 2 by construction), value-checking the
    # JVM XPath parser's split points.
    oracles["q_xpath_extract"] = """
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               't' || CAST(doc_id % 11 AS VARCHAR) AS title,
               CAST((doc_id * 7) % 1000 AS BIGINT) AS views,
               CAST(2 AS BIGINT) AS n_tags,
               'g' || CAST(doc_id % 5 AS VARCHAR) AS tag0
        FROM documents
    """

    # URL parsing: the oracle rebuilds host/path/ref from the id
    # arithmetic (path depth = 2 slashes by construction).
    oracles["q_url_parse"] = """
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
               '/cat' || CAST(doc_id % 7 AS VARCHAR) || '/p' || CAST(doc_id AS VARCHAR)
                   AS path,
               'r' || CAST(doc_id % 3 AS VARCHAR) AS ref,
               CAST(2 AS BIGINT) AS path_depth
        FROM documents
    """

    # Negative sampling: DuckDB replays the same salted-md5 buckets,
    # cross-group filter, and per-anchor (pair-hash, neg_id) ranking.
    oracles["q_negative_sample"] = """
        WITH a AS (
          SELECT CAST(doc_id AS BIGINT) AS anchor_id, lang AS a_grp,
                 substr(md5('nsb' || CAST(doc_id AS VARCHAR)), 1, 1) AS bkt
          FROM documents
        ),
        c AS (
          SELECT CAST(doc_id AS BIGINT) AS neg_id, lang AS c_grp,
                 substr(md5('nsc' || CAST(doc_id AS VARCHAR)), 1, 1) AS bkt
          FROM documents
        ),
        ranked AS (
          SELECT a.anchor_id, c.neg_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.anchor_id
                   ORDER BY md5('nsp' || CAST(a.anchor_id AS VARCHAR) || '|'
                                || CAST(c.neg_id AS VARCHAR)), c.neg_id
                 ) AS rnk
          FROM a JOIN c ON a.bkt = c.bkt AND a.a_grp != c.c_grp
        )
        SELECT anchor_id, neg_id, CAST(rnk AS INT) AS rnk
        FROM ranked WHERE rnk <= 3
    """

    # JSON: the oracle builds the identical payload with printf and
    # parses it with DuckDB's native yyjson functions — an independent
    # JSON parser agreeing with Spark's Jackson on every value.
    oracles["q_json_extract"] = """
        WITH j AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 printf('{"id": %d, "views": %d, "tags": ["t%d", "t%d"], "meta": {"score": %d}}',
                        doc_id, (doc_id * 7) % 1000, doc_id % 5,
                        (doc_id + 1) % 7, (doc_id * 3) % 100) AS payload
          FROM documents
        )
        SELECT doc_id,
               CAST(json_extract(payload, '$.views') AS BIGINT) AS views,
               CAST(json_extract(payload, '$.meta.score') AS BIGINT) AS score,
               CAST(json_array_length(payload, '$.tags') AS BIGINT) AS n_tags,
               json_extract_string(payload, '$.tags[0]') AS tag0
        FROM j
    """

    # WARC: record 0 is the warcinfo ('format: WARC/1.0', 16 bytes, no
    # lowercase 'c'); response r's payload is 'doc {id} rec {r} '
    # repeated 10 + (id+r) % 20 times — lengths and 'c' counts replay
    # from the same string arithmetic.
    oracles["q_warc_parse"] = """
        WITH resp AS (
          SELECT CAST(d.doc_id AS BIGINT) AS media_id,
                 CAST(r.range + 1 AS BIGINT) AS rec_idx,
                 CAST(10 + (d.doc_id + r.range) % 20 AS BIGINT) AS k,
                 'doc ' || d.doc_id || ' rec ' || r.range || ' ' AS unit
          FROM documents d JOIN range(0, 3) r ON r.range < 1 + d.doc_id % 3
        )
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST(0 AS BIGINT) AS rec_idx,
               'warcinfo' AS warc_type,
               CAST(16 AS BIGINT) AS content_length,
               CAST(0 AS BIGINT) AS c_count
        FROM documents
        UNION ALL
        SELECT media_id, rec_idx, 'response' AS warc_type,
               CAST(k * len(unit) AS BIGINT) AS content_length,
               CAST(k * (len(unit) - len(replace(unit, 'c', ''))) AS BIGINT)
                   AS c_count
        FROM resp
    """

    # MJPEG AVI: every sampled frame's pixels replay closed-form (the
    # q_jpeg_decode construction with the frame index mixed in); the
    # position-weighted checksum makes the check pixel-exact.
    oracles["q_mjpeg_frames"] = """
        WITH grid AS (
          SELECT r.r, c.c FROM range(0, 16) r(r) CROSS JOIN range(0, 16) c(c)
        ),
        fr AS (
          SELECT CAST(d.doc_id AS BIGINT) AS media_id,
                 CAST(2 + d.doc_id % 4 AS BIGINT) AS n_frames,
                 CAST(f.range AS BIGINT) AS frame_idx
          FROM documents d JOIN range(0, 5) f
            ON f.range < 2 + d.doc_id % 4 AND f.range % 2 = 0
        ),
        px AS (
          SELECT fr.media_id, fr.n_frames, fr.frame_idx, g.r, g.c,
                 (64 + (17 * (2 * (g.r // 8) + (g.c // 8))
                        + 5 * fr.media_id + 29 * fr.frame_idx) % 128)
                 + ((3 * (2 * (g.r // 8) + (g.c // 8))
                     + fr.media_id + fr.frame_idx) % 9 - 4)
                   * (CASE WHEN (g.r % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
                 + ((3 * (2 * (g.r // 8) + (g.c // 8))
                     + fr.media_id + fr.frame_idx + 1) % 9 - 4)
                   * (CASE WHEN (g.c % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
                 + ((3 * (2 * (g.r // 8) + (g.c // 8))
                     + fr.media_id + fr.frame_idx + 2) % 9 - 4)
                   * (CASE WHEN (g.r % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
                   * (CASE WHEN (g.c % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
                 AS pix
          FROM fr CROSS JOIN grid g
        )
        SELECT media_id, n_frames, frame_idx,
               CAST(SUM(pix) AS BIGINT) AS pix_sum,
               CAST(SUM(pix * (31 * r + 17 * c + 1)) AS BIGINT) AS weighted_sum
        FROM px GROUP BY media_id, n_frames, frame_idx
    """

    # BPE merge training: 5 chained (pair-count -> argmax -> apply)
    # CTE steps with the pinned double-replace merge semantics (two
    # non-overlapping passes are exact: misses only follow matches, so
    # they are never adjacent).  Tie-break (cnt DESC, pair ASC);
    # integer counts make the argmax engine-exact.
    def _bpe_step(i: int) -> str:
        # Every CTE is MATERIALIZED: each level is referenced more
        # than once (w{i} reads w{i-1}; b{i}'s scalar subqueries are
        # referenced four times inside w{i}), so un-materialized
        # inlining re-evaluates the whole lower chain multiplicatively
        # per level — measured as a hang at 5 merges.  Same fence
        # class as the q_scc NLJ guard.
        prev = f"w{i-1}"
        return f"""
            p{i} AS MATERIALIZED (
              SELECT toks[k + 1] || ' ' || toks[k + 2] AS pair,
                     SUM(freq) AS cnt
              FROM (SELECT str_split(t, ' ') AS toks, freq FROM {prev}),
                   range(0, 40) r(k)
              WHERE k < len(toks) - 1
              GROUP BY 1
            ),
            b{i} AS MATERIALIZED (
              SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1
            ),
            w{i} AS MATERIALIZED (
              SELECT w,
                     trim(replace(replace(' ' || t || ' ',
                       ' ' || (SELECT pair FROM b{i}) || ' ',
                       ' ' || (SELECT replace(pair, ' ', '') FROM b{i}) || ' '),
                       ' ' || (SELECT pair FROM b{i}) || ' ',
                       ' ' || (SELECT replace(pair, ' ', '') FROM b{i}) || ' ')) AS t,
                     freq
              FROM {prev}
            )"""

    # Shared learning chain: w0 is the (word, spaced-symbols, freq)
    # vocabulary; each step counts pairs, argmaxes, and applies the
    # merge, carrying the original word through for the tokenize join.
    _bpe_chain = (
        """
        WITH w0 AS MATERIALIZED (
          SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS t, freq
          FROM (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                  FROM documents)
            WHERE len(w) > 0 AND len(w) <= 30
            GROUP BY 1
          )
        ),"""
        + ",".join(_bpe_step(i) for i in range(1, 6))
    )

    oracles["q_bpe_train"] = (
        _bpe_chain
        + """
        SELECT * FROM ("""
        + " UNION ALL ".join(
            f"SELECT {i} AS rank, pair, replace(pair, ' ', '') AS merged,"
            f" CAST(cnt AS BIGINT) AS freq FROM b{i}"
            for i in range(1, 6)
        )
        + ") ORDER BY rank"
    )

    # Tokenize: join every (doc, word) occurrence to its final symbol
    # string after the 5 learned merges; token count = symbol count.
    oracles["q_bpe_tokenize"] = (
        _bpe_chain
        + """
        , dw AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents
        )
        SELECT dw.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(str_split(v.t, ' '))) AS BIGINT) AS n_tokens
        FROM dw JOIN w5 v ON v.w = dw.w
        GROUP BY dw.doc_id"""
    )

    # Fertility: the same vocabulary join grouped by language; integer
    # ppm so both engines floor-divide identically.
    oracles["q_bpe_fertility"] = (
        _bpe_chain
        + """
        , dw AS (
          SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(str_split(v.t, ' '))) AS BIGINT) AS n_tokens,
               CAST(SUM(len(str_split(v.t, ' '))) * 1000000
                    // COUNT(*) AS BIGINT) AS fertility_ppm
        FROM dw JOIN w5 v ON v.w = dw.w
        GROUP BY lang"""
    )
    return oracles
