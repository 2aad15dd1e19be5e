"""Graph-database benchmark: one run of one workload.

    python3 graphbench/run.py --workload serve_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process builds one Spark session
through the package's ``session.get_spark`` on ``local[<cores>]``,
generates every input from ``--seed``, runs the workload for
``--seconds`` (see ``workloads.py``), checks every output against a
pure-Python oracle, prints a human-readable report and, as the last
stdout line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` turns on Spark's event log and span
wrappers and reports the per-layer metrics instead.

Everything the run writes stays under ``.graphbench/`` in the current
directory: a scratch directory (catalog, Spark local dirs, event log)
that is removed at exit, and the kept per-run records
``.graphbench/results/<workload>-seed<n>-trace<t>.json`` (the traced
record holds all spans and per-op figures).
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from graphbench.trace import (  # noqa: E402  (needs the path entry above)
    NullTracer,
    Tracer,
    covered,
    cpu_jiffies,
    dir_bytes,
    peak_rss_mb,
    read_event_log,
    span_total,
)

PKG = "distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark"
SPARK_DRIVER_MEMORY = "1g"

# Which end-to-end figure each per-layer metric should move, and where.
# "BFS/DFS/write/cc/kcore/pagerank latency" are the per-kind medians
# that p50_s is the geometric mean of (printed by name in the report);
# work saved in any of them also shows in cpu_s_per_op.
PREDICTIONS = {
    "session.get_spark_s": "setup_s (both workloads)",
    "catalog.add_graph_s": "write latency (serve_mixed), setup_s",
    "catalog.modify_graph_s": "write latency (serve_mixed)",
    "catalog.write_jobs": "write latency (serve_mixed), setup_s",
    "catalog.bytes_written_per_edge": "catalog_bytes_per_edge",
    "catalog.edges_s": "BFS and DFS latency (serve_mixed)",
    "catalog.ops_failed": "failed share (serve_mixed)",
    "catalog.torn_reads": "BFS and DFS latency (serve_mixed): each torn read is sent again",
    "dispatch.run_requests_self_s": "BFS and DFS latency (serve_mixed)",
    "dispatch.format_reply_s": "BFS and DFS latency (serve_mixed)",
    "dispatch.collect_s": "BFS and DFS latency (serve_mixed)",
    "dispatch.jobs_per_bfs_request": "BFS latency (serve_mixed)",
    "dispatch.jobs_per_dfs_request": "DFS latency (serve_mixed)",
    "dispatch.replies_wrong": "failed share",
    "traverse.bfs_levels_multi_s": "BFS latency (serve_mixed)",
    "traverse.bfs_supersteps": "BFS latency (serve_mixed)",
    "traverse.jobs_per_superstep": "BFS latency (serve_mixed)",
    "traverse.dfs_leaves_multi_s": "DFS latency (serve_mixed)",
    "traverse.useful_superstep_frac": "BFS latency (serve_mixed); 1 while each call holds one request",
    "traverse.connected_components_s": "cc latency (analytics)",
    "traverse.cc_rounds": "cc latency (analytics)",
    "graphalgs.kcore_s": "kcore latency (analytics)",
    "graphalgs.kcore_rounds": "kcore latency (analytics)",
    "graphalgs.pagerank_fixed_s": "pagerank latency (analytics): the control, should not move",
    "spark.jobs": "BFS, DFS and write latency (serve_mixed)",
    "spark.stages": "BFS, DFS and write latency (serve_mixed)",
    "spark.tasks": "BFS, DFS and write latency (serve_mixed)",
    "spark.executor_run_s": "every timing",
    "spark.driver_gap_s": "BFS, DFS and write latency (serve_mixed)",
    "spark.stage_wait_s": "BFS/DFS latency under two clients (serve_mixed); flat on analytics",
    "spark.shuffle_read_bytes": "cc and kcore latency (analytics)",
    "spark.shuffle_write_bytes": "cc and kcore latency (analytics)",
    "spark.spill_bytes": "cc and kcore latency (analytics)",
    "trace.cpu_s_per_op": "cpu_s_per_op of this traced run: the tracing overhead against the untraced run",
    "trace.p50_s": "p50_s of this traced run: the tracing overhead against the untraced run",
    "trace.ops_per_s": "ops_per_s of this traced run: the tracing overhead against the untraced run",
}


def percentile_tail(xs: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it, or None when there are fewer than 11 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n, n


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl: str, out, ctx, t0: float, cat_root: str, rss_mb: float):
    """(metrics, named): the metrics common to every workload, and the
    workload's own named figures for the report.

    ``cpu_s_per_op`` is the CPU time spent on the measured ops, per op
    run (a torn read sent again counts as one more op, so that the
    timing of torn reads does not move it): the Spark JVM's outside its
    JIT compiler over the measured window, plus the Python client
    threads inside each op (the oracle checks between ops are left out).  The wall-clock
    ``p50_s`` and ``ops_per_s`` are kept in the record and the report, but
    ``BENCHMARK.json`` does not gate them: on a shared host they move by
    up to 2x with the CPU time the hypervisor gives to other guests."""
    ops = out.ops
    kinds = sorted({op.kind for op in ops})
    lat = {k: [op.latency for op in ops if op.kind == k and op.ok] for k in kinds}
    # A kind with no successful op (say, every BFS torn on all its
    # attempts) is timed over its failed ops, so the run still
    # reports its figures and failures instead of crashing.
    untimed = [k for k, v in lat.items() if not v]
    for k in untimed:
        lat[k] = [op.latency for op in ops if op.kind == k]
    if wl == "serve_mixed":
        ops_per_s = sum(out.extra["client_ops_per_s"])
    else:
        ops_per_s = sum(op.ok for op in ops) / sum(op.latency for op in ops)
    # Stored rows, counted rather than derived from the writes made: a
    # torn concurrent overwrite can drop other graphs' partitions.
    ctx.sc.setJobGroup("teardown", "count stored edges")
    live_edges = ctx.cat.edges().count()
    bytes_per_edge = dir_bytes(cat_root) / live_edges
    n_run = sum(op.info.get("attempts", 1) for op in ops)
    metrics = {
        "setup_s": (ctx.setup_end - t0, "s"),
        "cpu_s_per_op": ((ctx.jvm_cpu_s + ctx.py_cpu_s) / n_run, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "p50_s": (geomean([median(v) for v in lat.values()]), "s"),
        "catalog_bytes_per_edge": (bytes_per_edge, "B"),
        "driver_peak_rss_mb": (rss_mb, "MB"),
    }
    named = {
        "setup_s": (ctx.setup_end - t0, "s"),
        "cpu_s_per_op": (*metrics["cpu_s_per_op"],
                         f"JVM {ctx.jvm_cpu_s:.4g} + Python clients {ctx.py_cpu_s:.4g} CPU s "
                         f"over {n_run} ops run"),
        "p50_s": (*metrics["p50_s"], "wall clock, geometric mean of the per-kind medians below"),
        "ops_per_s": (ops_per_s, "1/s", "wall clock, correct ops per second"),
    }
    if wl == "serve_mixed":
        for k in ("bfs", "dfs", "write"):
            note = " failed ops, none succeeded" if k in untimed else ""
            named[f"{k}_p50_s"] = (median(lat[k]), "s", f"n={len(lat[k])}{note}")
            if k != "write":
                tail = percentile_tail(lat[k])
                named[f"{k}_tail_s"] = (
                    (tail[0], "s", f"p{tail[1]:.0f} of n={tail[2]}")
                    if tail
                    else (None, "s", f"n={len(lat[k])} < 11 samples, no percentile has 10 above it")
                )
        named["torn_reads"] = (out.torn_reads, "count",
                               "read attempts a concurrent write broke; each was sent again")
    else:
        for k in ("cc", "kcore", "pagerank"):
            named[f"{k}_s"] = (median(lat[k]), "s", f"median of n={len(lat[k])}")
    named["catalog_bytes_per_edge"] = (bytes_per_edge, "B", f"{live_edges} live edge rows")
    named["driver_peak_rss_mb"] = (rss_mb, "MB", "Spark JVM VmHWM")
    return metrics, named


def per_layer(out, ctx, tracer, log_groups: dict, e2e: dict) -> tuple[dict, dict]:
    """(metrics, by_kind): the per-layer metrics of ``BENCHMARK.json`` and
    the spark.* figures per op kind.

    Each metric is a median over the measured ops (catalog metrics also
    take the set-up writes), and 0 for a layer the workload does not
    enter.  Span times are wall time inside the wrapped public call;
    ``dispatch.run_requests_self_s`` is ``run_requests`` minus its
    traverse children.  Job counts come from the status tracker (one job
    group per op).  ``traverse.jobs_per_superstep`` counts the jobs
    submitted inside the ``bfs_levels_multi`` span; supersteps come from
    the oracle (eccentricity + 1), since both clients write
    ``LOOP_STATS``.  ``useful_superstep_frac`` is sum of traversal depths
    / (traversals x supersteps); each ``run_requests`` call holds one
    request, its own deepest, so it reads 1.  spark.* come from the
    event log: ``driver_gap_s`` is op
    wall time minus the union of its stage spans, ``stage_wait_s`` the
    summed wait from stage submission to first task launch."""
    ops = out.ops
    every_op = list({op.group: op for op in ops + ctx.writes}.values())
    spans_of = {op.group: tracer.request_spans(op.group) for op in every_op}

    def span_med(name: str, kinds=None) -> float:
        vals = [
            span_total(spans_of[op.group], name)
            for op in every_op
            if (kinds is None or op.kind in kinds)
            and any(s["name"] == name for s in spans_of[op.group])
        ]
        return median(vals)

    reads = [op for op in ops if op.kind in ("bfs", "dfs")]
    bfs = [op for op in ops if op.kind == "bfs"]
    m: dict[str, float] = {}
    m["session.get_spark_s"] = span_total(tracer.spans, "session.get_spark")
    m["catalog.add_graph_s"] = span_med("catalog.add_graph")
    m["catalog.modify_graph_s"] = span_med("catalog.modify_graph")
    m["catalog.write_jobs"] = median(w.info["jobs"] for w in ctx.writes)
    m["catalog.bytes_written_per_edge"] = median(
        w.info["partition_bytes"] / w.info["edges"] for w in ctx.writes if w.ok
    )
    m["catalog.edges_s"] = span_med("catalog.edges")
    m["catalog.ops_failed"] = sum(1 for w in ctx.writes if not w.ok)
    m["catalog.torn_reads"] = out.torn_reads
    m["dispatch.run_requests_self_s"] = median(
        span_total(spans_of[op.group], "dispatch.run_requests")
        - span_total(spans_of[op.group], "traverse.bfs_levels_multi")
        - span_total(spans_of[op.group], "traverse.dfs_leaves_multi")
        for op in reads
    )
    m["dispatch.format_reply_s"] = span_med("dispatch.format_reply")
    m["dispatch.collect_s"] = span_med("dispatch.collect")
    for k in ("bfs", "dfs"):
        m[f"dispatch.jobs_per_{k}_request"] = median(op.info["jobs"] for op in ops if op.kind == k)
    m["dispatch.replies_wrong"] = out.wrong if reads else 0
    m["traverse.bfs_levels_multi_s"] = span_med("traverse.bfs_levels_multi", ("bfs",))
    m["traverse.bfs_supersteps"] = median(op.info["supersteps"] for op in bfs)
    jps = []
    for op in bfs:
        g = log_groups.get(op.group)
        inner = [s for s in spans_of[op.group] if s["name"] == "traverse.bfs_levels_multi"]
        if g and inner:
            n = sum(1 for t in g["job_submits"] for s in inner if s["start"] <= t <= s["end"])
            jps.append(n / op.info["supersteps"])
    m["traverse.jobs_per_superstep"] = median(jps)
    m["traverse.dfs_leaves_multi_s"] = span_med("traverse.dfs_leaves_multi", ("dfs",))
    m["traverse.useful_superstep_frac"] = 1.0 if bfs else 0.0
    m["traverse.connected_components_s"] = span_med("traverse.connected_components", ("cc",))
    m["traverse.cc_rounds"] = median(op.info["rounds"] for op in ops if op.kind == "cc")
    m["graphalgs.kcore_s"] = span_med("graphalgs.kcore", ("kcore",))
    m["graphalgs.kcore_rounds"] = median(op.info["rounds"] for op in ops if op.kind == "kcore")
    m["graphalgs.pagerank_fixed_s"] = span_med("graphalgs.pagerank_fixed", ("pagerank",))

    def spark_figures(op) -> dict:
        g = log_groups.get(op.group)
        if g is None:
            return {}
        return {
            "jobs": g["jobs"],
            "stages": g["stages"],
            "tasks": g["tasks"],
            "executor_run_s": g["executor_run_s"],
            "driver_gap_s": (op.wall_end - op.wall_start
                             - covered(g["stage_spans"], op.wall_start, op.wall_end)),
            "stage_wait_s": g["stage_wait_s"],
            "shuffle_read_bytes": g["shuffle_read_bytes"],
            "shuffle_write_bytes": g["shuffle_write_bytes"],
            "spill_bytes": g["spill_bytes"],
        }

    figs = {op.group: spark_figures(op) for op in ops}
    by_kind: dict[str, dict] = {}
    for kind in sorted({op.kind for op in ops}):
        rows = [figs[op.group] for op in ops if op.kind == kind and figs[op.group]]
        by_kind[kind] = {k: median(r[k] for r in rows) for k in rows[0]} if rows else {}
        by_kind[kind]["ops"] = len(rows)
    for key in ("jobs", "stages", "tasks", "executor_run_s", "driver_gap_s", "stage_wait_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = median(f[key] for f in figs.values() if f)
    m["trace.cpu_s_per_op"] = e2e["cpu_s_per_op"][0]
    m["trace.p50_s"] = e2e["p50_s"][0]
    m["trace.ops_per_s"] = e2e["ops_per_s"][0]
    return m, by_kind


def install_wrappers(tracer) -> None:
    catalog, dispatch, traverse, graphalgs = (
        importlib.import_module(f"{PKG}.operators.{m}")
        for m in ("catalog", "dispatch", "traverse", "graphalgs")
    )
    for owner, attr, name in (
        (catalog.GraphCatalog, "add_graph", "catalog.add_graph"),
        (catalog.GraphCatalog, "modify_graph", "catalog.modify_graph"),
        (catalog.GraphCatalog, "edges", "catalog.edges"),
        (dispatch, "run_requests", "dispatch.run_requests"),
        (dispatch, "format_reply", "dispatch.format_reply"),
        (traverse, "bfs_levels_multi", "traverse.bfs_levels_multi"),
        (traverse, "dfs_leaves_multi", "traverse.dfs_leaves_multi"),
        (traverse, "connected_components", "traverse.connected_components"),
        (graphalgs, "kcore", "graphalgs.kcore"),
        (graphalgs, "pagerank_fixed", "graphalgs.pagerank_fixed"),
    ):
        tracer.wrap(owner, attr, name)


def check_wrappers_in_path(tracer, out) -> None:
    """Every read attempt enters ``run_requests`` once, and through it
    ``bfs_levels_multi`` and ``dfs_leaves_multi`` once, unless a torn
    read broke it before it got there; every analytics call enters its
    operator once.  Set-up adds one warm-up call per op type.  A wrapper
    whose count is off is not in the call path, and its spans would mean
    nothing."""
    n = {k: sum(op.kind == k for op in out.ops) for k in ("bfs", "dfs", "cc", "kcore", "pagerank")}
    reads = sum(op.info.get("attempts", 1) for op in out.ops if op.kind in ("bfs", "dfs"))
    torn = out.torn_reads + sum(1 for op in out.ops if op.kind in ("bfs", "dfs") and not op.ok)
    want = {
        "traverse.connected_components": n["cc"] + 1 if n["cc"] else 0,
        "graphalgs.kcore": n["kcore"] + 1 if n["kcore"] else 0,
        "graphalgs.pagerank_fixed": n["pagerank"] + 1 if n["pagerank"] else 0,
        "dispatch.run_requests": reads + 2 if reads else 0,
    }
    for name, calls in want.items():
        if tracer.calls[name] != calls:
            raise RuntimeError(f"{name} wrapper saw {tracer.calls[name]} calls, expected {calls}")
    for name in ("traverse.bfs_levels_multi", "traverse.dfs_leaves_multi"):
        hi = want["dispatch.run_requests"]
        if not hi - torn <= tracer.calls[name] <= hi:
            raise RuntimeError(f"{name} wrapper saw {tracer.calls[name]} calls, "
                               f"expected {hi - torn} to {hi}")


def spark_env(work: str, traced: bool) -> None:
    """Point every file Spark and the JVM write into ``work`` and, for a
    traced run, enable the uncompressed event log — all through the
    environment, without touching the package."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = SPARK_DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit first runs a small launcher JVM that takes only these.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    # The JVM compiles with C1 only.  With the default tiered C2, a run's
    # fresh JVM spends about two of four cores compiling during the
    # measured ops, and how far that has got sets both their wall and CPU
    # time: op CPU time ranged over 25% across seeds on a calm host, and
    # 13% with C1 only, whose compilation ends within set-up.  The
    # compiler threads stay alive for the whole run, so that
    # jvm_work_cpu_s can take all of their CPU time out.
    confs = {
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                          "-XX:TieredStopAtLevel=1 "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.sql.warehouse.dir": f"file://{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{work}/eventlog",
        })
    args = " ".join(f'--conf "{k}={v}"' for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("serve_mixed", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"graphbench: package {PKG} not found under {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    # A terminated run still stops Spark and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(root, ".graphbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    traced = bool(args.trace)
    spark_env(work, traced)
    tempfile.tempdir = os.environ["TMPDIR"]

    tracer = Tracer() if traced else NullTracer()
    if traced:
        install_wrappers(tracer)
    from graphbench import workloads

    session = importlib.import_module(f"{PKG}.session")
    catalog = importlib.import_module(f"{PKG}.operators.catalog")
    spark = None
    steal0, total0 = cpu_jiffies()
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = session.get_spark("graphbench")
        spark.sparkContext.setLogLevel("ERROR")
        cat_root = os.path.join(work, "catalog")
        cat = catalog.GraphCatalog(spark, cat_root)
        ctx = workloads.Ctx(spark, cat, args.seed, args.seconds, tracer, traced)
        out = workloads.WORKLOADS[args.workload](ctx)
        if traced:
            check_wrappers_in_path(tracer, out)
        rss = peak_rss_mb(ctx.jvm_pid)
        e2e, named = end_to_end(args.workload, out, ctx, t0, cat_root, rss)
        stop_spark(spark)
        spark = None
        steal1, total1 = cpu_jiffies()
        steal_share = (steal1 - steal0) / max(total1 - total0, 1)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_at_end": os.getloadavg(),
            "cpu_steal_share": steal_share,
            "end_to_end": {k: v[0] for k, v in e2e.items()},
            "named": {k: list(v) for k, v in named.items()},
            "ops": [
                {"kind": op.kind, "group": op.group, "latency_s": op.latency, "ok": op.ok,
                 "error": op.error, **{k: v for k, v in op.info.items() if k != "reply"}}
                for op in out.ops
            ],
        }
        if traced:
            layers, by_kind = per_layer(out, ctx, tracer,
                                        read_event_log(os.path.join(work, "eventlog")), e2e)
            record.update(per_layer=layers, spark_by_kind=by_kind, spans=tracer.spans)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    attempted, failed = out.attempted, out.failed
    # Failures a concurrent catalog write explains (the known torn-read
    # and overwrite-race defects) count in ``failed`` only; any other
    # failure makes the run incorrect.
    correct = out.self_check_ok and out.unexplained == 0

    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cores={record['cores']} host-cpu-steal={steal_share:.1%}")
    print(f"# ops attempted={attempted} failed={failed} "
          f"(explained by a concurrent catalog write: {failed - out.unexplained}; "
          f"torn reads sent again: {out.torn_reads}) "
          f"oracle self-check={'ok' if out.self_check_ok else 'FAILED'}")
    for k, v in named.items():
        val = "n/a" if v[0] is None else f"{v[0]:.6g}"
        print(f"# {k} = {val} {v[1]}" + (f"  ({v[2]})" if len(v) > 2 else ""))
    if traced:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for name, v in metrics.items():
            print(f"# layer {name} = {v['value']:.6g} {v['unit']}  -> {PREDICTIONS[name]}")
        for kind, figs in by_kind.items():
            print(f"# spark[{kind}] " + " ".join(f"{k}={v:.6g}" for k, v in figs.items()))
        base_rec = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(base_rec):
            with open(base_rec, encoding="utf-8") as fh:
                untraced = json.load(fh)["end_to_end"]
            print("# tracing overhead against the untraced run of this seed: " + ", ".join(
                f"{k} {layers['trace.' + k] / untraced[k] - 1:+.1%}"
                for k in ("cpu_s_per_op", "p50_s", "ops_per_s")))
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
