"""100x GRAPH-FAMILY gate (round-8 verdict #6): demonstrate — not
extrapolate — the superstep-floor claims of the heaviest iterative
queries by running them at a 100x scale-up of sf0.1 (sf10-equivalent,
~60M lineitem rows, ~120M co-purchase edge rows) and recording wall
time AND the measured superstep counts (graphalgs.LOOP_STATS) next to
the same-boot 10x numbers.

Graph tables only (customer/supplier/orders/lineitem + fixed
region/nation): the full 100x set does not fit the container disk,
and the four gate queries read nothing else.  No DuckDB oracle at this
scale — correctness is the decade gate's job (sf1-equivalent, full
value oracles); THIS gate is the scaling-shape evidence: rounds must
stay flat (they are O(log n) / O(diameter), and the replicated
copies are disconnected components so diameter is unchanged) while
wall grows sub-linearly in edges.

Usage: python scripts/graph_scale100.py [--skip-gen] [--no-baseline]
Writes the results table into BASELINE.md between the GRAPH100_GATE
sentinels unless --no-baseline.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALED100 = os.path.join(REPO, ".scratch", "sf100x0.1_graph")
SCALED100_DOCS = os.path.join(REPO, ".scratch", "sf100x0.1_docs")
SCALED10 = os.path.join(REPO, ".scratch", "sf10x0.1")
GRAPH_TABLES = "customer,supplier,orders,lineitem"
DOC_TABLES = "documents,embeddings"
QUERIES = ("q_sssp", "q_scc", "q_msf", "q_betweenness")
# round-10 verdict #4: the dedup/ANN scale claims get the same
# same-boot 10x-vs-100x treatment — with the blocking evidence (max
# LSH bucket size, per-cell code counts) recorded next to wall
DEDUP_ANN_QUERIES = ("q_minhash_dedup", "q_ivfpq_topk")
# round-10 verdict #7: the text-dedup self-join shapes too — edit
# dedup's gram-bucket cap and prefix join's posting bounds are the
# caps whose behavior at 100x IS the scale story
TEXT_DEDUP_QUERIES = ("q_edit_dedup", "q_prefix_join")
BEGIN = "<!-- GRAPH100_GATE:BEGIN (maintained by scripts/graph_scale100.py) -->"
END = "<!-- GRAPH100_GATE:END -->"


def _gen(out: str, factor: int) -> None:
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "gen_scaled_testdata.py"),
            str(factor),
            "/root/testdata/sf0.1",
            out,
            "--tables",
            GRAPH_TABLES,
        ],
        check=True,
    )


def _lsh_bucket_stats(spark, sf_dir: str) -> dict:
    """Band-bucket size distribution for q_minhash_dedup's exact
    configuration (32 hashes, 8 bands, md5 variant): the 100 TB
    blocking claim is 'degenerate buckets are dropped BEFORE the
    self-join', so the gate records the max bucket size and how many
    buckets the 1000-member cap actually drops at each scale."""
    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators import (
        dedup,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sh = dedup._shingle_rows(docs, text_col="text", id_col="doc_id", shingle_len=5)
    staged, aggs, elems = dedup._sig_parts(sh, 32, "md5")
    sigs = staged.groupBy("id").agg(*aggs).select(
        "id", F.array(*elems).alias("sig")
    )
    buckets = sigs.select(
        "id",
        F.posexplode(dedup._band_keys(F.col("sig"), 8, 4, "md5")).alias(
            "band", "bucket"
        ),
    )
    row = (
        buckets.groupBy("band", "bucket")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.count("*").alias("n"),
            F.sum(F.when(F.col("count") > 1000, 1).otherwise(0)).alias("dropped"),
        )
        .first()
    )
    return {
        "max_bucket": int(row["mx"]),
        "n_buckets": int(row["n"]),
        "dropped_buckets": int(row["dropped"]),
    }


def _ivf_cell_stats(spark, sf_dir: str) -> dict:
    """Per-cell code counts for q_ivfpq_topk's trained coarse
    quantizer (16 cells, 2 integer-Lloyd's rounds): cell balance is
    what makes the probe-8-of-16 read path partition-prunable at
    100 TB, so the gate records min/max cell populations."""
    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators import (
        similarity,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    _cents_q, cents = similarity.ivf_centroids_trained(
        emb, n_cells=16, iters=2
    )
    cell = similarity._nearest_cell_arrow(cents)
    counts = (
        emb.select(cell(F.col("embedding")).alias("cell"))
        .groupBy("cell")
        .count()
    )
    row = counts.agg(
        F.min("count").alias("mn"), F.max("count").alias("mx"), F.count("*").alias("cells")
    ).first()
    return {
        "min_cell": int(row["mn"]),
        "max_cell": int(row["mx"]),
        "cells": int(row["cells"]),
    }


def _edit_gram_stats(spark, sf_dir: str) -> dict:
    """Gram-bucket distribution for q_edit_dedup's exact blocking
    (token 5-grams, bucket cap 16): on the mirror-replicated scaled
    corpora every family gram's bucket hits the family size, so the
    cap drops them BEFORE the self-join — the measured demonstration
    that the cap defends the join against degenerate corpora.
    ``cand_bound`` is Σ C(k,2) over surviving buckets — the hard
    upper bound on candidate pairs entering verification."""
    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators import (
        dedup,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    grams = dedup.token_ngrams(docs, ngram_len=5).where(F.col("g") != "")
    row = (
        grams.groupBy("g")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.count("*").alias("n"),
            F.sum(F.when(F.col("count") > 16, 1).otherwise(0)).alias("dropped"),
            F.sum(
                F.when(
                    F.col("count") <= 16,
                    F.col("count") * (F.col("count") - 1) / 2,
                ).otherwise(0)
            ).cast("long").alias("cand_bound"),
        )
        .first()
    )
    return {
        "max_gram_bucket": int(row["mx"]),
        "dropped_grams": int(row["dropped"]),
        "cand_bound": int(row["cand_bound"]),
    }


def _prefix_posting_stats(spark, sf_dir: str) -> dict:
    """FULL-corpus prefix-index posting bounds for q_prefix_join's
    blocking theorem (prefix tokens are each doc's globally RAREST,
    so postings stay small): max posting length and Σ C(k,2) (the
    exact candidate-pair count the index join would emit).  The
    registered query verifies a bounded slice by contract — the
    synthetic corpus is 100%-mirrored so the exact-join OUTPUT is
    quadratic by construction (documented degenerate case); these
    bounds are the part of the claim that must hold corpus-wide."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
        normalize_text,
        tokens,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(F.array_distinct(tokens(normalize_text(F.col("text"))))).alias("tk"),
        )
        .where(F.col("tk") != "")
    )
    freq = toks.groupBy("tk").agg(F.count("*").alias("f"))
    sizes = toks.groupBy("id").agg(F.count("*").alias("n"))
    ranked = toks.join(freq, "tk").select(
        "id", "tk",
        F.row_number().over(W.partitionBy("id").orderBy("f", "tk")).alias("rn"),
    )
    prefix_len = F.expr("n - ((4 * n + 4) div 5) + 1")
    pre = ranked.join(sizes, "id").where(F.col("rn") <= prefix_len)
    row = (
        pre.groupBy("tk")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.count("*").alias("n"),
            F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long").alias("cand"),
        )
        .first()
    )
    return {
        "max_posting": int(row["mx"]),
        "n_postings": int(row["n"]),
        "cand_pairs": int(row["cand"]),
    }


def main() -> int:
    if not os.path.isdir(SCALED100) and "--skip-gen" not in sys.argv:
        print(f"== generating {SCALED100} (graph tables only)", flush=True)
        _gen(SCALED100, 100)
    if not os.path.isdir(SCALED100_DOCS) and "--skip-gen" not in sys.argv:
        print(f"== generating {SCALED100_DOCS} (documents/embeddings only)", flush=True)
        subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "scripts", "gen_scaled_testdata.py"),
                "100",
                "/root/testdata/sf0.1",
                SCALED100_DOCS,
                "--tables",
                DOC_TABLES,
            ],
            check=True,
        )
    if not os.path.isdir(SCALED10):
        print(f"== generating {SCALED10} (full decade-gate set)", flush=True)
        subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "scripts", "gen_scaled_testdata.py"),
                "10",
            ],
            check=True,
        )

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators import (
        graphalgs,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.session import (
        get_spark,
    )

    spark = get_spark()
    qs = entrymod.queries()
    results: dict[str, dict] = {}
    for sf_label, sf_dir in (("10x", SCALED10), ("100x", SCALED100)):
        for name in QUERIES:
            graphalgs.LOOP_STATS.clear()
            t0 = time.time()
            n_rows = qs[name](spark, sf_dir).count()
            wall = time.time() - t0
            stats = dict(next(iter(graphalgs.LOOP_STATS.values()), {}))
            results.setdefault(name, {})[sf_label] = {
                "wall_s": round(wall, 1),
                "rows": n_rows,
                **stats,
            }
            print(
                f"   {sf_label:>4} {name}: {wall:6.1f}s, {n_rows} rows, {stats}",
                flush=True,
            )

    da_results: dict[str, dict] = {}
    for sf_label, sf_dir in (("10x", SCALED10), ("100x", SCALED100_DOCS)):
        for name in DEDUP_ANN_QUERIES:
            t0 = time.time()
            n_rows = qs[name](spark, sf_dir).count()
            wall = time.time() - t0
            if name == "q_minhash_dedup":
                stats = _lsh_bucket_stats(spark, sf_dir)
            else:
                stats = _ivf_cell_stats(spark, sf_dir)
            da_results.setdefault(name, {})[sf_label] = {
                "wall_s": round(wall, 1),
                "rows": n_rows,
                **stats,
            }
            print(
                f"   {sf_label:>4} {name}: {wall:6.1f}s, {n_rows} rows, {stats}",
                flush=True,
            )

    td_results: dict[str, dict] = {}
    for sf_label, sf_dir in (("10x", SCALED10), ("100x", SCALED100_DOCS)):
        for name in TEXT_DEDUP_QUERIES:
            t0 = time.time()
            n_rows = qs[name](spark, sf_dir).count()
            wall = time.time() - t0
            if name == "q_edit_dedup":
                stats = _edit_gram_stats(spark, sf_dir)
            else:
                stats = _prefix_posting_stats(spark, sf_dir)
            td_results.setdefault(name, {})[sf_label] = {
                "wall_s": round(wall, 1),
                "rows": n_rows,
                **stats,
            }
            print(
                f"   {sf_label:>4} {name}: {wall:6.1f}s, {n_rows} rows, {stats}",
                flush=True,
            )

    lines = [
        BEGIN,
        "",
        "### 100x graph-family gate (scripts/graph_scale100.py)",
        "",
        "Same-boot 10x-vs-100x scale-up of sf0.1 (graph tables only at",
        "100x; ~120M co-purchase edge rows).  Rounds are the MEASURED",
        "superstep counts (graphalgs.LOOP_STATS) — the flat-rounds /",
        "sub-linear-wall evidence behind the O(log n) / O(diameter)",
        "claims.  No oracle at this scale (the decade gate owns",
        "correctness); row counts are recorded for plausibility.",
        "",
        "| query | 10x wall | 10x rounds | 10x rows | 100x wall | 100x rounds | 100x rows | wall ratio |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in QUERIES:
        r10, r100 = results[name]["10x"], results[name]["100x"]

        def fmt_rounds(r):
            return (
                "/".join(str(v) for k, v in r.items() if k not in ("wall_s", "rows"))
                or "-"
            )

        ratio = round(r100["wall_s"] / max(r10["wall_s"], 0.1), 1)
        lines.append(
            f"| {name} | {r10['wall_s']}s | {fmt_rounds(r10)} | {r10['rows']} "
            f"| {r100['wall_s']}s | {fmt_rounds(r100)} | {r100['rows']} "
            f"| {ratio}x |"
        )
    lines += [
        "",
        "Dedup/ANN rows (round 10): same-boot 10x-vs-100x over the",
        "documents/embeddings tables (exact 100x mirror families are",
        "the generator's deliberate dedup stress).  'blocking' is the",
        "measured bound that keeps each quadratic local: LSH max",
        "bucket size + buckets the 1000-cap drops, and IVF min/max",
        "per-cell code counts (probe-8-of-16 partition pruning).",
        "",
        "| query | 10x wall | 10x rows | 10x blocking | 100x wall | 100x rows | 100x blocking | wall ratio |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in DEDUP_ANN_QUERIES:
        r10, r100 = da_results[name]["10x"], da_results[name]["100x"]

        def fmt_blocking(r):
            return "/".join(
                f"{k}={v}" for k, v in r.items() if k not in ("wall_s", "rows")
            )

        ratio = round(r100["wall_s"] / max(r10["wall_s"], 0.1), 1)
        lines.append(
            f"| {name} | {r10['wall_s']}s | {r10['rows']} | {fmt_blocking(r10)} "
            f"| {r100['wall_s']}s | {r100['rows']} | {fmt_blocking(r100)} "
            f"| {ratio}x |"
        )
    lines += [
        "",
        "Text-dedup self-join rows (round 11): the two shapes whose",
        "caps ARE the scale story.  q_edit_dedup runs FULL-corpus at",
        "both scales — on the mirror-replicated corpora every family",
        "gram bucket exceeds the 16-cap and is dropped BEFORE the",
        "self-join (cand_bound = sum C(k,2) over surviving buckets is",
        "the hard candidate ceiling).  q_prefix_join's wall is its",
        "REGISTERED bounded-verification contract (the 100%-mirrored",
        "synthetic corpus makes the exact join's OUTPUT quadratic by",
        "construction — documented degenerate case); its blocking",
        "columns are FULL-corpus prefix-index posting bounds, the part",
        "of the PPJoin claim that must hold corpus-wide.",
        "",
        "| query | 10x wall | 10x rows | 10x blocking | 100x wall | 100x rows | 100x blocking | wall ratio |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in TEXT_DEDUP_QUERIES:
        r10, r100 = td_results[name]["10x"], td_results[name]["100x"]

        def fmt_blocking(r):
            return "/".join(
                f"{k}={v}" for k, v in r.items() if k not in ("wall_s", "rows")
            )

        ratio = round(r100["wall_s"] / max(r10["wall_s"], 0.1), 1)
        lines.append(
            f"| {name} | {r10['wall_s']}s | {r10['rows']} | {fmt_blocking(r10)} "
            f"| {r100['wall_s']}s | {r100['rows']} | {fmt_blocking(r100)} "
            f"| {ratio}x |"
        )
    lines += ["", END]
    block = "\n".join(lines)
    print(block)
    print(json.dumps({**results, **da_results, **td_results}))

    if "--no-baseline" not in sys.argv:
        path = os.path.join(REPO, "BASELINE.md")
        text = open(path).read()
        if BEGIN in text and END in text:
            pre = text[: text.index(BEGIN)]
            post = text[text.index(END) + len(END) :]
            text = pre + block + post
        else:
            text = text.rstrip() + "\n\n" + block + "\n"
        open(path, "w").write(text)
        print(f"BASELINE.md updated between GRAPH100_GATE sentinels")
    return 0


if __name__ == "__main__":
    sys.exit(main())
