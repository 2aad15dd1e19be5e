"""Same-boot session-config A/B (round-12 optimization): ONE JVM /
SparkSession, full bench passes ALTERNATED control vs candidate conf
set, package modules purged between passes so every pass starts
from fresh module state — the bench_ab.py protocol, but the two arms
differ by runtime conf instead of by tree.

Usage:
  python scripts/conf_ab_r12.py '{"spark.sql.adaptive.coalescePartitions.parallelismFirst": "false"}' \
      [sf_dir] [passes_per_arm] [--queries q_a,q_b,...]

Writes .scratch/conf_ab_r12.json and prints the comparison table.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = (
    "distributed_graph_database_simulation_with_load_balancing_"
    "and_threaded_request_handling__spark"
)


def _purge_modules() -> None:
    for name in [
        m for m in sys.modules
        if m == PKG or m.startswith(PKG + ".") or m == "__spark_entry__"
    ]:
        del sys.modules[name]


def _load_queries():
    _purge_modules()
    import __spark_entry__ as entrymod  # noqa: PLC0415

    return entrymod.queries()


def _bench_pass(spark, sf_dir: str, only: set | None) -> dict[str, float]:
    qs = _load_queries()
    if only is not None:
        qs = {n: f for n, f in qs.items() if n in only}
    out: dict[str, float] = {}
    for name, fn in qs.items():
        t0 = time.time()
        fn(spark, sf_dir).count()
        out[name] = round(time.time() - t0, 3)
        gc.collect()
    return out


def main() -> None:
    argv = list(sys.argv[1:])
    only: set | None = None
    if "--queries" in argv:
        qi = argv.index("--queries")
        only = set(argv[qi + 1].split(","))
        del argv[qi : qi + 2]
    cand: dict[str, str] = json.loads(argv[0])
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    passes = int(argv[2]) if len(argv) > 2 else 2

    sys.path.insert(0, REPO)
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.session import (  # noqa: PLC0415
        get_spark,
    )

    spark = get_spark("conf-ab-r12")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    control = {k: spark.conf.get(k, None) for k in cand}

    def apply(conf: dict[str, str | None]) -> None:
        for k, v in conf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    arms: dict[str, list[dict[str, float]]] = {"ctl": [], "cand": []}
    for i in range(passes):
        for arm, conf in (("cand", cand), ("ctl", control)):
            apply(conf)
            t0 = time.time()
            arms[arm].append(_bench_pass(spark, sf_dir, only))
            print(
                f"pass {i + 1}/{passes} {arm}: "
                f"{sum(arms[arm][-1].values()):.1f}s plan-sum, "
                f"{time.time() - t0:.1f}s wall",
                flush=True,
            )
    apply(control)

    best = {
        arm: {q: min(p[q] for p in plist) for q in plist[0]}
        for arm, plist in arms.items()
    }
    common = sorted(set(best["ctl"]) & set(best["cand"]))
    tc = sum(best["ctl"][q] for q in common)
    tk = sum(best["cand"][q] for q in common)
    print(
        f"\ncommon {len(common)} queries: ctl {tc:.1f}s, cand {tk:.1f}s "
        f"(cand/ctl = {tk / tc:.3f})",
        flush=True,
    )
    diffs = sorted(
        ((best["cand"][q] - best["ctl"][q], q) for q in common), key=lambda x: x[0]
    )
    print("top wins (cand - ctl sec):")
    for d, q in diffs[:10]:
        print(f"  {q}: {best['ctl'][q]:.2f} -> {best['cand'][q]:.2f} ({d:+.2f})")
    print("top regressions:")
    for d, q in diffs[-10:][::-1]:
        print(f"  {q}: {best['ctl'][q]:.2f} -> {best['cand'][q]:.2f} ({d:+.2f})")

    os.makedirs(os.path.join(REPO, ".scratch"), exist_ok=True)
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = -1.0
    with open(os.path.join(REPO, ".scratch", "conf_ab_r12.json"), "w") as fh:
        json.dump(
            {
                "cand_conf": cand,
                "ratio": round(tk / tc, 4),
                "ctl_total_s": round(tc, 1),
                "cand_total_s": round(tk, 1),
                "loadavg_1m": load1,
                "sf_dir": sf_dir,
                "passes": passes,
                "best": best,
            },
            fh,
            indent=1,
        )


if __name__ == "__main__":
    main()
