"""Round-13 optimization harness: isolate declared queries one at a
time — capture ``explain("formatted")`` to ``plans/r13/<q>_<tag>.txt``
and time both the bench action (``count()``) and the noop sink
(guide §1.4: computes every column, no driver transfer).

Unlike the r12 variant, every timed run starts with no persisted edge
table or operator persist (``entrymod.reset_session_caches()`` — the
de-gamed bench contract), so the numbers here include the shared-base
builds a query actually pays in the official bench.

Usage:
  python scripts/isolate_r13.py --tag before q_msf q_betweenness ...
  python scripts/isolate_r13.py --tag before --top 20     # slowest 20 per BENCH_FULL.json
  python scripts/isolate_r13.py --tag after --no-plan q_msf   # timing only
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = sys.argv[1:]
    tag = "before"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        args = args[:i] + args[i + 2:]
    do_plan = True
    if "--no-plan" in args:
        args.remove("--no-plan")
        do_plan = False
    do_noop = True
    if "--no-noop" in args:
        args.remove("--no-noop")
        do_noop = False
    runs = 2
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    names = list(args)
    if "--top" in names:
        i = names.index("--top")
        n = int(names[i + 1])
        names = names[:i] + names[i + 2:]
        full = json.load(open(os.path.join(REPO, "BENCH_FULL.json")))["queries"]
        names += [k for k, _ in sorted(full.items(), key=lambda kv: -kv[1])[:n]]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("isolate-r13")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    qmap = entrymod.queries()
    plans_dir = os.path.join(REPO, "plans", "r13")
    os.makedirs(plans_dir, exist_ok=True)
    out = {}
    for name in names:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"{name} [{tag}]")
        if do_plan:
            entrymod.reset_session_caches()
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan)
            del df
        if runs == 0:  # plan capture only
            out[name] = {}
            spark.sparkContext.setJobDescription(None)
            continue
        counts, noops = [], []
        for _ in range(runs):
            entrymod.reset_session_caches()
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.count()
            counts.append(round(time.time() - t0, 3))
            if do_noop:
                entrymod.reset_session_caches()
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                noops.append(round(time.time() - t0, 3))
            del df
        out[name] = {"count_s": min(counts), "count_runs": counts}
        if noops:
            out[name].update({"noop_s": min(noops), "noop_runs": noops})
        print(f"{name}: count={min(counts)}s {counts}"
              + (f"  noop={min(noops)}s {noops}" if noops else ""),
              file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "queries": out}))


if __name__ == "__main__":
    main()
