"""Graph catalog mutation: add_graph (O1) / modify_graph (O2).

Reference semantics: op 1 creates a graph (file ``G<gno>.txt`` +
per-graph semaphore pair, primary_server.c:104-120) and fails
operationally if re-added; op 2 wholesale-replaces an existing graph's
contents (same write path, opens existing semaphores,
primary_server.c:121-135).  Both are whole-graph writes, not deltas.

Spark-native rendering: the database is one Parquet dataset partitioned
by ``graph_id``; add = write a new partition (errorifexists at the
logical level), modify = dynamic partition overwrite of exactly that
partition.  The reference's reader/writer semaphores (O9) are
unnecessary: Parquet commits are atomic at the partition level and
readers see immutable snapshots — documented non-goal (SURVEY.md §2.1).

At 100 TB: partitioning by graph_id gives partition pruning for every
single-graph query, and dynamic partition overwrite touches only the
mutated graph — no full-table rewrite, no locking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.graphs import edges_from_pairs
from ..sources.schema import GRAPH_EDGES_SCHEMA

class GraphCatalog:
    """A graph database rooted at a Parquet path, one partition per
    graph_id.

    Writers to DIFFERENT graph ids may run concurrently on one session:
    each write carries dynamic partition overwrite as a per-write
    option, so it replaces only its own graph's partition and leaves
    the session conf alone.

    Single-writer assumption per graph id (documented contract): like
    the reference's one primary server owning all mutations
    (primary_server.c:68), the catalog assumes one writer at a time
    for a given graph.  ``add_graph`` re-probes the target partition
    directory immediately before writing to narrow the check-then-write
    window, but two truly concurrent writers racing on the same
    graph_id are outside the contract (the loser's partition is
    atomically replaced, not interleaved — Parquet partition commits
    stay atomic either way)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _hadoop_fs(self):
        """(FileSystem, Path) for the catalog root via the JVM Hadoop
        API — partition existence from filesystem METADATA (an O(dirs)
        listing), never a data scan.  The reference keeps the same
        registry driver-side as ``gnos[100]`` (primary_server.c:68)."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    def _partition_exists(self, graph_id: int) -> bool:
        fs, jpath = self._hadoop_fs()
        jvm = self.spark._jvm
        return bool(
            fs.exists(jvm.org.apache.hadoop.fs.Path(jpath, f"graph_id={int(graph_id)}"))
        )

    def _existing_ids(self) -> set[int]:
        """Registered graph ids from the partition-directory listing
        (no data scan; O(partitions) filesystem metadata)."""
        fs, jpath = self._hadoop_fs()
        if not fs.exists(jpath):
            return set()
        ids: set[int] = set()
        for status in fs.listStatus(jpath):
            name = status.getPath().getName()
            if status.isDirectory() and name.startswith("graph_id="):
                try:
                    ids.add(int(name.split("=", 1)[1]))
                except ValueError:
                    continue
        return ids

    def add_graph(self, graph_id: int, pairs: DataFrame) -> None:
        """O1: ingest a new graph.  Raises if the id exists — the
        analogue of the reference's 'create semaphores with O_CREAT'
        branch being the add-only path (primary_server.c:106-117)."""
        if self._partition_exists(graph_id):
            raise ValueError(f"graph {graph_id} already exists; use modify_graph")
        self._write(graph_id, pairs)

    def modify_graph(self, graph_id: int, pairs: DataFrame) -> None:
        """O2: wholesale replace an existing graph (whole-file overwrite
        in the reference, primary_server.c:138-153)."""
        if not self._partition_exists(graph_id):
            raise ValueError(f"graph {graph_id} does not exist; add it first "
                             "(instructions.txt:18-20 invariant)")
        self._write(graph_id, pairs)

    def _write(self, graph_id: int, pairs: DataFrame) -> None:
        edges = edges_from_pairs(pairs, graph_id=graph_id, symmetric=True)
        # Dynamic partition overwrite as a per-write option: only the
        # mutated graph's partition is replaced, and the shared
        # session's conf is never touched.
        (
            edges.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("graph_id")
            .parquet(self.path)
        )

    def edges(self, graph_id: int | None = None) -> DataFrame:
        df = self.spark.read.schema(GRAPH_EDGES_SCHEMA).parquet(self.path)
        if graph_id is not None:
            df = df.where(F.col("graph_id") == graph_id)  # partition pruning
        return df.select("graph_id", "src", "dst")

    def save_bucketed(self, table_name: str, *, n_buckets: int = 32) -> None:
        """Publish the catalog as a metastore table bucketed by ``src``
        (sorted within buckets): per-vertex aggregations (degree,
        DFS-leaves R1) and src-keyed joins then read pre-partitioned
        data and skip their shuffle entirely — the cluster-scale
        co-location strategy SCALE.md describes.  One-time cost: the
        bucketing write itself shuffles on src."""
        (
            self.spark.read.schema(GRAPH_EDGES_SCHEMA)
            .parquet(self.path)
            .write.mode("overwrite")
            .bucketBy(n_buckets, "src")
            .sortBy("src")
            .format("parquet")
            .saveAsTable(table_name)
        )

def add_graph(pairs: DataFrame, *, graph_id: int) -> DataFrame:
    """Pure (side-effect-free) form of O1 for declarative pipelines:
    normalize raw pairs into the canonical symmetric edge list that the
    catalog would persist."""
    return edges_from_pairs(pairs, graph_id=graph_id, symmetric=True)

def merge_edges(
    current: DataFrame,
    *,
    graph_id: int,
    insert_pairs: DataFrame | None = None,
    delete_pairs: DataFrame | None = None,
) -> DataFrame:
    """Edge-level incremental mutation — the lakehouse-grade refinement
    of O2's whole-partition overwrite (the reference rewrites the whole
    graph file for any change, primary_server.c:121-135): apply an
    undirected delete-delta, then upsert the normalized symmetric
    insert-delta.  Deletes run FIRST, so a pair present in both deltas
    ends PRESENT.

    Semantics: deltas are undirected raw pairs; a delete removes BOTH
    stored orientations of the canonical pair; an upsert is set-union
    (edges are pure keys, so inserting an existing edge is a no-op).
    Self-loops in either delta are ignored, matching
    ``edges_from_pairs``' ingest normalization.

    Scale posture: the delete delta is broadcast (deltas are small by
    definition — a big delta is a modify_graph); the upsert dedup
    shuffles only the TARGET graph's rows on the edge key, and other
    graph_id partitions stream through untouched — in the physical
    catalog this composes with dynamic partition overwrite of exactly
    one partition, never a full-table rewrite.
    """
    rest = current.where(F.col("graph_id") != graph_id)
    tgt = current.where(F.col("graph_id") == graph_id)
    if delete_pairs is not None:
        dk = (
            delete_pairs.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").cast("long").alias("_lo"),
                F.greatest("src", "dst").cast("long").alias("_hi"),
            )
            .distinct()
        )
        tgt = tgt.join(
            F.broadcast(dk),
            (F.least(F.col("src"), F.col("dst")) == F.col("_lo"))
            & (F.greatest(F.col("src"), F.col("dst")) == F.col("_hi")),
            "left_anti",
        )
    if insert_pairs is not None:
        ins = edges_from_pairs(insert_pairs, graph_id=graph_id, symmetric=True)
        tgt = tgt.unionByName(ins).distinct()
    return rest.unionByName(tgt)


def modify_graph(current: DataFrame, replacement_pairs: DataFrame, *, graph_id: int) -> DataFrame:
    """Pure form of O2: the database edge list after wholesale replacing
    one graph's partition — anti-join out the old partition, union in
    the normalized replacement.  (The physical catalog does this as a
    dynamic partition overwrite; this declared form is what the DuckDB
    oracle checks.)"""
    kept = current.where(F.col("graph_id") != graph_id)
    replaced = edges_from_pairs(replacement_pairs, graph_id=graph_id, symmetric=True)
    return kept.unionByName(replaced)


def _delta_events(
    base_pairs: DataFrame,
    deltas: list[tuple[DataFrame | None, DataFrame | None]],
) -> DataFrame:
    """Net per-edge event log ``(lo, hi, v, ins)`` for a delta-log
    history: version 1 inserts the canonical base set; each following
    version contributes its canonical insert set and the delete set
    MINUS the inserts (``merge_edges`` runs deletes first, so an edge
    in both deltas nets to present — one insert event represents it).
    Shared by ``snapshot_versions`` (read any version) and
    ``snapshot_diff`` (CDC between versions)."""

    def canon(pairs: DataFrame) -> DataFrame:
        return (
            pairs.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").cast("long").alias("lo"),
                F.greatest("src", "dst").cast("long").alias("hi"),
            )
            .distinct()
        )

    def tagged(df: DataFrame, v: int, ins: bool) -> DataFrame:
        return df.select(
            "lo",
            "hi",
            F.lit(int(v)).alias("v"),
            F.lit(bool(ins)).alias("ins"),
        )

    events = tagged(canon(base_pairs), 1, True)
    for i, (insert_pairs, delete_pairs) in enumerate(deltas):
        v = i + 2
        ins_c = canon(insert_pairs) if insert_pairs is not None else None
        if ins_c is not None:
            events = events.unionByName(tagged(ins_c, v, True))
        if delete_pairs is not None:
            del_c = canon(delete_pairs)
            if ins_c is not None:
                del_c = del_c.join(ins_c, ["lo", "hi"], "left_anti")
            events = events.unionByName(tagged(del_c, v, False))
    return events


def _visible_at(events: DataFrame, version: int) -> DataFrame:
    """Canonical edge set ``(lo, hi)`` visible at ``version``: the
    latest event at or before it decides (``max(struct(v, ins))`` —
    one map-side-combined shuffle keyed on the edge)."""
    return (
        events.where(F.col("v") <= int(version))
        .groupBy("lo", "hi")
        .agg(F.max(F.struct(F.col("v"), F.col("ins"))).alias("last"))
        .where(F.col("last.ins"))
        .select("lo", "hi")
    )


def snapshot_diff(
    base_pairs: DataFrame,
    deltas: list[tuple[DataFrame | None, DataFrame | None]],
    *,
    v_from: int,
    v_to: int,
    graph_id: int,
) -> DataFrame:
    """Change-data-capture between two committed versions of the
    delta-log catalog: ``(graph_id, op, lo, hi)`` where op is 'add'
    for edges visible at ``v_to`` but not ``v_from`` and 'del' for
    the reverse — the net diff a downstream consumer replays to move
    a materialized copy from one snapshot to the other (intermediate
    churn cancels out, exactly like Delta CDF between two versions).

    Completes the lakehouse mutation trio: ``snapshot_versions``
    (time-travel read), the streaming upsert view (continuous MERGE),
    and this diff (CDC export).  Scale: two visibility passes over
    the shared event log (each one edge-keyed shuffle) + two
    anti-joins on the edge key; never a full-snapshot rewrite.
    """
    # The event log is narrow unions of small deltas — recomputing it
    # for the two visibility passes is cheaper than holding a persist
    # the (lazy) result would outlive.
    events = _delta_events(base_pairs, deltas)
    a = _visible_at(events, v_from)
    b = _visible_at(events, v_to)
    added = b.join(a, ["lo", "hi"], "left_anti").select(
        F.lit("add").alias("op"), "lo", "hi"
    )
    removed = a.join(b, ["lo", "hi"], "left_anti").select(
        F.lit("del").alias("op"), "lo", "hi"
    )
    return (
        added.unionByName(removed)
        .withColumn("graph_id", F.lit(int(graph_id)))
        .select("graph_id", "op", "lo", "hi")
    )


def snapshot_versions(
    base_pairs: DataFrame,
    deltas: list[tuple[DataFrame | None, DataFrame | None]],
    *,
    graph_id: int,
    edge_hash_prime: int = 100003,
) -> DataFrame:
    """MVCC time travel over a delta log — every version's snapshot in
    ONE pass: version 1 is ``base_pairs`` (an ``add_graph``), each
    following version applies an (insert_pairs, delete_pairs) delta
    with ``merge_edges`` semantics (deletes first, so an edge in both
    deltas ends PRESENT).  Returns one row per version: ``(version,
    n_edges, checksum)`` over the CANONICAL undirected edge set.

    This is the Spark-idiomatic strengthening of the reference's O9
    readers-writer protocol (primary_server.c:138-153 holds a write
    lock so readers never see a half-written graph file): here every
    committed version is an immutable snapshot and "read as of v" is
    a pure function of the log — readers pin a version and are
    isolated from writers BY CONSTRUCTION, no locks.

    Execution shape — interval algebra, not v sequential folds: each
    delta contributes net per-edge events ``(edge, v, ins)`` (an
    edge deleted and inserted at the same version nets to insert);
    the bounded version list is broadcast against the event log, and
    ``max(struct(v, ins))`` per (edge, version) — one map-side-
    combined shuffle keyed on the edge — finds the latest event at or
    before each version, whose flag decides visibility.  Cost is
    O(|events| x versions) rows through one exchange, independent of
    how many edges the base snapshot holds beyond the event log; a
    long-lived log is compacted by re-basing (fold the prefix into a
    new version-1 snapshot), the standard checkpoint move.
    """
    spark = base_pairs.sparkSession
    events = _delta_events(base_pairs, deltas)
    n_versions = len(deltas) + 1
    vers = spark.range(1, n_versions + 1).select(
        F.col("id").cast("int").alias("version")
    )
    vis = (
        events.join(F.broadcast(vers), F.col("v") <= F.col("version"))
        .groupBy("lo", "hi", "version")
        .agg(F.max(F.struct(F.col("v"), F.col("ins"))).alias("last"))
        .where(F.col("last.ins"))
    )
    return (
        vis.groupBy("version")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum(
                F.col("lo") * F.lit(int(edge_hash_prime)) + F.col("hi")
            )
            .cast("long")
            .alias("checksum"),
        )
        .withColumn("graph_id", F.lit(int(graph_id)))
        .select("graph_id", "version", "n_edges", "checksum")
    )


def vacuum_plan(
    base_pairs: DataFrame,
    deltas: list[tuple[DataFrame | None, DataFrame | None]],
    *,
    horizon: int,
) -> DataFrame:
    """Checkpoint/VACUUM planning for the delta-log catalog: if the
    history is re-based at ``horizon`` (every version <= horizon
    folded into a fresh base snapshot — the standard log-compaction
    move ``snapshot_versions`` documents), how much of the log does
    each version contribute and how much is reclaimed?  Per version:
    its event count, how many of its events SURVIVE as rows of the
    folded base (they are the deciding insert for some edge at the
    horizon), and how many are reclaimable (superseded events and
    dead tombstones for v <= horizon; versions beyond the horizon
    keep their log verbatim, reclaimable 0).

    Completes the lakehouse maintenance story around
    ``snapshot_versions`` (time travel), ``snapshot_diff`` (CDC) and
    the streaming upsert view (MERGE): this is the OPTIMIZE/VACUUM
    dry-run.

    Scale: one edge-keyed max(struct) shuffle over the event log for
    the deciding events + two tiny per-version rollups — never a
    snapshot materialization.

    Returns ``(version, n_events, n_live_at_horizon, n_reclaimable)``.
    """
    events = _delta_events(base_pairs, deltas)
    dec = (
        events.where(F.col("v") <= int(horizon))
        .groupBy("lo", "hi")
        .agg(F.max(F.struct(F.col("v"), F.col("ins"))).alias("last"))
    )
    live = (
        dec.where(F.col("last.ins"))
        .groupBy(F.col("last.v").alias("v"))
        .agg(F.count("*").alias("n_live"))
    )
    per_version = events.groupBy("v").agg(F.count("*").alias("n_events"))
    return (
        per_version.join(live, "v", "left")
        .select(
            F.col("v").cast("int").alias("version"),
            F.col("n_events").cast("long").alias("n_events"),
            F.coalesce(F.col("n_live"), F.lit(0)).cast("long").alias(
                "n_live_at_horizon"
            ),
            F.when(
                F.col("v") <= int(horizon),
                F.col("n_events") - F.coalesce(F.col("n_live"), F.lit(0)),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_reclaimable"),
        )
    )
