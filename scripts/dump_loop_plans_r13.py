"""Dump the ITERATIVE LOOP plans the r13 co-partition work changed.

The touched operators end in an eager localCheckpoint (so the bench's
count() cannot prune the loop), which means isolate_r13's
explain("formatted") captures only the checkpoint scan.  This script
rebuilds each loop LAZILY — the broadcast form and the co-partitioned
form — and dumps both physical plans, so the Exchange/join-strategy
claims in OPTIMIZATION_r13.md are checkable against committed files.

Writes plans/r13/loop_pagerank_{broadcast,copart}.txt and
loop_cc_{broadcast,copart}.txt.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.session import get_spark
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.graphs import (
    copurchase_weighted_edges,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
    pagerank_prepare,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "plans", "r13")


def dump(df, name: str) -> None:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(OUT, name), "w") as fh:
        fh.write(plan)
    print(name, "written")


def pagerank_loop(g, *, copart: bool, w: int = 8, iters: int = 2):
    """The pagerank_fixed_both round body, built lazily (2 rounds are
    enough to show the steady-state per-round shape)."""
    ed, deg = g.ed, g.deg
    if copart:
        ed = ed.repartition(w, "esrc")
        deg = deg.repartition(w, "vertex")
    init, teleport, damping_pct, scale = 1, 1, 85, 10**12
    upd = f"CAST({teleport} + ({damping_pct} * coalesce({{s}}, 0)) div 100 AS LONG)"
    ranks = deg.select(
        "vertex", "outdeg", "outdeg_unit",
        F.lit(init).cast("long").alias("ru"),
        F.lit(init).cast("long").alias("rw"),
    )
    for _ in range(iters):
        lhs = ranks.hint("shuffle_hash") if copart else ranks
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
        dlhs = deg.hint("shuffle_hash") if copart else deg
        ranks = dlhs.join(sums, dlhs["vertex"] == F.col("sv"), "left").select(
            dlhs["vertex"], dlhs["outdeg"], dlhs["outdeg_unit"],
            F.expr(upd.format(s="su")).alias("ru"),
            F.expr(upd.format(s="sw")).alias("rw"),
        )
    return ranks


def cc_round(sym, *, copart: bool, w: int = 4, rounds: int = 2):
    """The connected_components round body, built lazily."""
    e = sym.select(F.col("src").alias("esrc"), F.col("dst").alias("edst"))
    if copart:
        e = e.repartition(w, "esrc")
    e = e.persist()
    labels = (
        e.select(F.col("esrc").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("component"))
        # the real operator checkpoints per round; eager here so the
        # dumped plan shows ONE steady-state round over a materialized
        # label table, exactly like rounds 2+ of the loop
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        llhs = labels.hint("shuffle_hash") if copart else labels
        nbr_min = (
            llhs.join(e, llhs["vertex"] == e["esrc"])
            .groupBy(e["edst"].alias("vertex"))
            .agg(F.min("component").alias("nbr_component"))
        )
        labels = llhs.join(nbr_min, on="vertex", how="left").select(
            "vertex",
            F.least("component", F.coalesce("nbr_component", "component")).alias(
                "component"
            ),
        )
        if _ < rounds - 1:
            labels = labels.localCheckpoint(eager=True)
    return labels


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("loop-plans-r13")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)

    wsym = copurchase_weighted_edges(spark, sf_dir, symmetric=True)
    g = pagerank_prepare(wsym, weight_col="cnt", assume_symmetric=True)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    dump(pagerank_loop(g, copart=False), "loop_pagerank_broadcast.txt")
    dump(pagerank_loop(g, copart=True), "loop_pagerank_copart.txt")

    w = copurchase_weighted_edges(spark, sf_dir)
    strong = w.where(F.col("cnt") >= 2).select("src", "dst")
    sym = strong.unionAll(
        strong.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    dump(cc_round(sym, copart=False), "loop_cc_broadcast.txt")
    dump(cc_round(sym, copart=True), "loop_cc_copart.txt")


if __name__ == "__main__":
    main()
