"""Benchmark harness: run the declared query set at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

Output contract (driver-parseable — rounds 4 and 5 produced
``"parsed": null`` official records because the single full JSON line
exceeded the driver's 2000-char stdout tail):

* stdout line 1: the FULL record ``{"metric", "value", "unit",
  "queries": {name: sec}, "sf"}`` (for humans and history; ~2.5 KB
  at 115 queries, may be truncated by tail captures).
* stdout line 2 (LAST line, < 1 KB, always intact in a tail):
  compact summary ``{"metric", "value", "unit", "sf", "n_queries",
  "sec_per_query", "slowest": {top-10 map}, "full": "BENCH_FULL.json"}``.
* ``BENCH_FULL_c{cpus}.json`` at the repo root: the full record, one
  file per core count so the driver's low-core scaling re-run cannot
  clobber the main run's per-query map (round-12 verdict #2);
  ``BENCH_FULL.json`` stays as a latest-run alias.

Each query is fully materialized (count of collected rows) so the
timing covers the whole plan, not just planning.

Timed runs are COLD: ``entrymod.reset_session_caches()`` drops the
persisted edge tables and releases the operator persists before each
timed repetition (round-12 verdict #1 — a best-of-N min over persisted
state records a cache read, e.g. q_pagerank at 0.046 s vs its real
7-12 s cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.session import get_spark

def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM, codegen, and the parquet footers once so the first
    # timed query doesn't absorb session spin-up; queries are still
    # timed cold with respect to their own plans (nothing is cached).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("region", "nation", "customer", "orders", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).limit(1).collect()

    # Best of 2 runs per query (3 when the first two disagree by >1.5x
    # — one of them hit one-off Janino/JIT compilation or a GC pause):
    # the min reflects the steady-state cost a real workload sees.
    # Nothing is cached between runs (each call rebuilds the DataFrame
    # from the scan).  The per-query gc.collect() releases py4j
    # DataFrame handles promptly so the ContextCleaner can reclaim the
    # previous query's checkpoint/broadcast blocks instead of letting
    # them crowd the block manager.
    import gc

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators import (
        graphalgs,
    )

    timings: dict[str, float] = {}
    rounds: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        runs: list[float] = []
        n = -1
        for i in range(3):
            # De-game the timing (round-12 verdict #1): drop the
            # persisted edge tables and operator persists before EACH
            # timed run, so run 2+ rebuilds from the parquet scans
            # exactly like run 1 and min() reflects the query's true
            # cost, never a cache read.
            entrymod.reset_session_caches()
            graphalgs.LOOP_STATS.clear()
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            runs.append(round(time.time() - t0, 3))
            del df
            gc.collect()
            if i == 1 and max(runs) <= 1.5 * min(runs):
                break
        timings[name] = min(runs)
        # measured superstep counts (round-9 verdict #8): the
        # iteration-floor evidence, straight from the engine's own
        # loop instrumentation, embedded per iterative query.  ALL
        # instrumented loops are recorded, keyed by operator name
        # (r10 ADVICE: a query composing two loops — BFS feeding
        # connected_components — previously kept whichever wrote
        # first and dropped the rest).
        # Always the op-keyed nested form {op: {metric: v}} — even for
        # a single loop — so the BENCH_FULL.json schema is stable when
        # a query gains a second instrumented loop (r11 ADVICE).
        stats = {op: dict(s) for op, s in graphalgs.LOOP_STATS.items()}
        if stats:
            rounds[name] = stats
        print(f"# {name}: {n} rows in {timings[name]}s {runs}", file=sys.stderr)

    # Per-core-count full map (round-12 verdict #2): the driver re-runs
    # the bench at a lower core count to measure scaling, and a single
    # shared BENCH_FULL.json meant that run CLOBBERED the main map —
    # PERF_r12 degraded to totals (per_query: {}).  Write the full map
    # to BENCH_FULL_c{N}.json (one file per core count, never clobbered
    # across counts) and keep BENCH_FULL.json as the
    # latest-run alias for history/tools.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        spark.sparkContext.defaultParallelism
    )
    full_name = f"BENCH_FULL_c{cpus}.json"
    full_line, compact_line = summary_lines(
        timings, sf, rounds=rounds, ab=load_ab(), full_name=full_name
    )
    repo = os.path.dirname(os.path.abspath(__file__))
    for fname in (full_name, "BENCH_FULL.json"):
        with open(os.path.join(repo, fname), "w") as fh:
            fh.write(full_line + "\n")
    print(full_line)
    print(compact_line)


def load_ab() -> dict | None:
    """Controlled same-boot A/B context (round-9 verdict #5): when
    scripts/bench_ab.py has produced .scratch/bench_ab.json with a
    meta block, embed its code-vs-code ratio into the bench record so
    an official number landing in a slow host window can be read
    against the controlled measurement instead of poisoning the
    round-over-round comparison."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".scratch", "bench_ab.json")
    try:
        with open(path) as fh:
            data = json.load(fh)
        meta = data["meta"]
        return {
            "ratio": meta["ratio"],
            "base": meta["base_commit"][:9],
            "base_s": meta["base_total_s"],
            "head_s": meta["head_total_s"],
            "at": meta["at"],
        }
    except (OSError, KeyError, ValueError):
        return None


def summary_lines(
    timings: dict[str, float],
    sf: float,
    *,
    rounds: dict[str, dict] | None = None,
    ab: dict | None = None,
    full_name: str = "BENCH_FULL.json",
) -> tuple[str, str]:
    """(full_record_json, compact_record_json).  The COMPACT line is
    printed LAST so a bounded stdout-tail capture always holds one
    complete, parseable record — its size is bounded (slowest-10 map
    only) regardless of how many queries the registry grows to; the
    full per-query map goes on the first line and to BENCH_FULL.json.
    Pinned by tests/test_entry_parses.py::test_bench_compact_line_fits_tail."""
    total = round(sum(timings.values()), 3)
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = -1.0
    full_rec = {
        "metric": "declared_query_set_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "loadavg_1m": load1,
    }
    if rounds:
        full_rec["rounds"] = rounds
    if ab:
        full_rec["ab"] = ab
    full = json.dumps(full_rec)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    compact_rec = {
        "metric": "declared_query_set_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "sec_per_query": round(total / max(len(timings), 1), 3),
        "loadavg_1m": load1,
        "slowest": slowest,
        "full": full_name,
    }
    if ab:
        compact_rec["ab"] = ab
    compact = json.dumps(compact_rec)
    return full, compact

if __name__ == "__main__":
    main()
