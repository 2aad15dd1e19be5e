"""The workloads.  Each one builds its catalog in set-up, marks the end
of set-up, then measures for at least ``ctx.seconds`` (whole op blocks
or cycles) and returns every operation it ran as an ``Op``.

* ``serve_mixed``: closed loop, two client threads on one session,
  single requests (op-4 BFS, op-3 DFS, op-1/op-2 writes).  Writes go
  through one writer at a time, as the catalog's single-writer contract
  and the reference's one primary server have it; reads run alongside
  them, and a read torn by a concurrent write is retried and counted.
* ``analytics``: one client, ``connected_components``, ``kcore`` and
  ``pagerank_fixed`` on one random graph.
"""

from __future__ import annotations

import math
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators import (
    dispatch,
    graphalgs,
    loopstats,
    traverse,
)

from . import gen, oracle
from .trace import dir_bytes, job_counts, jvm_work_cpu_s

SERVE_CLIENTS = 2
SERVE_TREES = 4             # = reads per block: a block reads each graph once
SERVE_TREE_SIZES = (200, 2000)
TREE_HEIGHT = 2             # BFS supersteps per request <= 2 * height + 1
ANALYTICS_CORE = 4_000
ANALYTICS_CHAINS = 100
CHAIN_LEN = 4               # k-core peel rounds = CHAIN_LEN + 1
TAIL_LEN = 6                # connected-components rounds = TAIL_LEN + 3
KCORE_K = 3
WARMUP_GRAPH = 0
WARMUP_TREE_SIZE = 16
READ_ATTEMPTS = 4           # a read torn by concurrent writes is retried


@dataclass
class Op:
    kind: str
    group: str
    start: float
    end: float = 0.0
    wall_start: float = 0.0
    wall_end: float = 0.0
    ok: bool = False
    error: str | None = None
    info: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Outcome:
    ops: list[Op]
    attempted: int = 0
    failed: int = 0            # exceptions and oracle mismatches
    wrong: int = 0             # replies that matched no oracle answer
    unexplained: int = 0       # failures no concurrent catalog write explains
    torn_reads: int = 0        # read attempts a concurrent write broke, retried
    self_check_ok: bool = False
    extra: dict = field(default_factory=dict)


class Ctx:
    """One run's session, catalog, seed, measuring time and tracer, plus
    every catalog write it made."""

    def __init__(self, spark, cat, seed: int, seconds: float, tracer, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cat = cat
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = traced
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.setup_end: float | None = None
        self.jvm_cpu_s = 0.0         # JVM outside JIT, set-up end to mark_measured
        self.py_cpu_s = 0.0          # driver threads inside measured ops
        self.writes: list[Op] = []   # every catalog write, set-up included
        self._cpu_lock = threading.Lock()

    def mark_setup(self) -> None:
        self.setup_end = time.perf_counter()
        self.jvm_cpu_s = -jvm_work_cpu_s(self.jvm_pid)

    def mark_measured(self) -> None:
        self.jvm_cpu_s += jvm_work_cpu_s(self.jvm_pid)

    def run(self, kind: str, group: str, fn) -> Op:
        """Run ``fn`` as one operation under its own job group; failures
        are recorded, never raised."""
        self.sc.setJobGroup(group, kind)
        self.tracer.set_request(group)
        op = Op(kind, group, time.perf_counter(), wall_start=time.time())
        cpu0 = time.thread_time()
        try:
            op.info["result"] = fn()
            op.ok = True
        except Exception as exc:  # a failed op is a measurement, not a crash
            op.error = f"{type(exc).__name__}: {str(exc)[:200]}"
        op.end, op.wall_end = time.perf_counter(), time.time()
        if self.setup_end is not None:
            with self._cpu_lock:
                self.py_cpu_s += time.thread_time() - cpu0
        if self.traced:
            op.info["jobs"], op.info["stages"], op.info["tasks"] = job_counts(self.sc, group)
        self.tracer.set_request(None)
        return op

    def write(self, op_no: int, gid: int, pairs, group: str) -> Op:
        def call():
            df = self.spark.createDataFrame(pairs, gen.PAIRS_SCHEMA)
            if op_no == 1:
                self.cat.add_graph(gid, df)
            else:
                self.cat.modify_graph(gid, df)
            return len(pairs)

        op = self.run("write", group, call)
        op.info.update(op_no=op_no, graph=gid, edges=2 * len(pairs))
        if self.traced and op.ok:
            op.info["partition_bytes"] = dir_bytes(f"{self.cat.path}/graph_id={gid}")
        self.writes.append(op)
        return op

    def request(self, rows: list[tuple], gid: int) -> dict[int, str]:
        """One ``run_requests`` -> ``format_reply`` -> ``collect`` round
        trip over graph ``gid``; returns ``{seq_no: reply}``."""
        req = self.spark.createDataFrame(rows, gen.REQUEST_SCHEMA)
        replies = dispatch.format_reply(dispatch.run_requests(req, self.cat.edges(gid)))
        with self.tracer.span("dispatch.collect"):
            out = replies.collect()
        return {r["seq_no"]: r["reply"] for r in out}


# ---------------------------------------------------------------- serve_mixed


class Version:
    """One version of one graph; oracle answers are computed on demand
    and kept, since both clients may ask for the same one."""

    def __init__(self, pairs, visible_from: float):
        self.pairs = pairs
        self.visible_from = visible_from
        self.visible_until: float | None = None
        self.write_end: float | None = None
        self.committed = False
        self._adj = None
        self._answers: dict = {}
        self._lock = threading.Lock()

    def _answer(self, key: tuple, fn):
        with self._lock:
            if self._adj is None:
                self._adj = oracle.adjacency(self.pairs)
            if key not in self._answers:
                self._answers[key] = fn(self._adj, key[1])
            return self._answers[key]

    def expected(self, op_no: int, start: int) -> str:
        return self._answer((op_no, start), oracle.bfs_reply if op_no == 4 else oracle.dfs_reply)

    def eccentricity(self, start: int) -> int:
        return self._answer(("ecc", start), oracle.eccentricity)


class Versions:
    """Every version of every graph with the interval in which a reader
    could have seen it: from the start of the write that installs it to
    the end of the write that replaces it.  A read is correct if it
    matches any version visible at some point of its request window."""

    def __init__(self):
        self._lock = threading.Lock()
        self._by_graph: dict[int, list[Version]] = defaultdict(list)

    def begin(self, gid: int, pairs, t: float) -> Version:
        v = Version(pairs, t)
        with self._lock:
            self._by_graph[gid].append(v)
        return v

    def end(self, gid: int, v: Version, t: float, ok: bool) -> None:
        with self._lock:
            v.write_end = t
            if not ok:
                v.visible_until = t
                return
            for w in self._by_graph[gid]:
                if w is not v and w.committed and w.visible_until is None:
                    w.visible_until = t
            v.committed = True

    def visible(self, gid: int, t0: float, t1: float) -> list[Version]:
        with self._lock:
            return [
                v
                for v in self._by_graph[gid]
                if v.visible_from <= t1 and (v.visible_until is None or v.visible_until >= t0)
            ]

    def write_overlaps(self, t0: float, t1: float) -> bool:
        """Whether a catalog write of any graph ran during ``[t0, t1]``:
        it can tear a read, since every read lists the whole catalog."""
        with self._lock:
            return any(
                v.visible_from <= t1 and (v.write_end is None or v.write_end >= t0)
                for vs in self._by_graph.values()
                for v in vs
                if v.visible_from > -math.inf  # set-up ingests ran alone
            )


def _ingest(ctx: Ctx, versions: Versions, gid: int, pairs, group: str) -> None:
    v = versions.begin(gid, pairs, -math.inf)
    op = ctx.write(1, gid, pairs, group)
    if not op.ok:
        raise RuntimeError(f"set-up ingest of graph {gid} failed: {op.error}")
    versions.end(gid, v, -math.inf, True)


def _warm_up_requests(ctx: Ctx, versions: Versions, gid: int, prefix: str) -> None:
    """One untimed call per read op type on the tiny warm-up graph; its
    replies are checked like any other."""
    (v,) = versions.visible(gid, 0.0, 0.0)
    for op_no in (4, 3):
        op = ctx.run(f"warmup{op_no}", f"{prefix}|warmup|op{op_no}",
                     lambda op_no=op_no: ctx.request([(op_no, op_no, gid, 0)], gid))
        if not op.ok or op.info["result"].get(op_no) != v.expected(op_no, 0):
            raise RuntimeError(f"warm-up op {op_no} failed: {op.error or op.info['result']}")


def serve_mixed(ctx: Ctx) -> Outcome:
    versions = Versions()
    rng = gen.stream(ctx.seed, "catalog")
    sizes = gen.geometric_sizes(SERVE_TREES, *SERVE_TREE_SIZES)
    n_of = {WARMUP_GRAPH: WARMUP_TREE_SIZE}
    warm = gen.recursive_tree(rng, WARMUP_TREE_SIZE, TREE_HEIGHT)
    _ingest(ctx, versions, WARMUP_GRAPH, warm, "setup|add|0")
    _warm_up_requests(ctx, versions, WARMUP_GRAPH, "setup")
    warm = gen.recursive_tree(rng, WARMUP_TREE_SIZE, TREE_HEIGHT)
    wv = versions.begin(WARMUP_GRAPH, warm, -math.inf)
    op = ctx.write(2, WARMUP_GRAPH, wv.pairs, "setup|warmup|op2")
    if not op.ok:
        raise RuntimeError(f"warm-up modify_graph failed: {op.error}")
    versions.end(WARMUP_GRAPH, wv, -math.inf, True)
    for gid, n in enumerate(sizes, 1):
        n_of[gid] = n
        _ingest(ctx, versions, gid, gen.recursive_tree(rng, n, TREE_HEIGHT), f"setup|add|{gid}")
    ctx.mark_setup()

    shared = list(range(1, SERVE_TREES + 1))
    deadline = time.perf_counter() + ctx.seconds
    per_client: list[list[Op]] = [[] for _ in range(SERVE_CLIENTS)]
    t_begin = time.perf_counter()
    errors: list[BaseException] = []

    def read(c: int, crng, seq: int, op_no: int, gid: int) -> Op:
        """One request, retried while a concurrent write explains its
        failure (the known torn-read defect); latency runs from the
        first send to the reply accepted."""
        start = crng.randrange(n_of[gid])
        kind = "bfs" if op_no == 4 else "dfs"
        sent = time.perf_counter()
        torn = []
        for attempt in range(1, READ_ATTEMPTS + 1):
            op = ctx.run(kind, f"serve_mixed|c{c}|{seq}",
                         lambda: ctx.request([(seq, op_no, gid, start)], gid))
            cands = versions.visible(gid, op.start, op.end)
            reply = op.info.pop("result", {}).get(seq) if op.ok else None
            if op.ok and reply not in {v.expected(op_no, start) for v in cands}:
                op.ok, op.error = False, "reply matches no visible version"
            torn_now = not op.ok and versions.write_overlaps(op.start, op.end)
            if not torn_now or attempt == READ_ATTEMPTS:
                break
            torn.append(op.error)
        if not op.ok and not torn_now:
            op.info["unexplained"] = True
        op.info.update(op_no=op_no, graph=gid, start_vertex=start, reply=reply,
                       attempts=attempt, torn_errors=torn)
        if op_no == 4:
            op.info["supersteps"] = cands[0].eccentricity(start) + 1
        op.start = sent
        return op

    writer = threading.Lock()

    def write(c: int, crng, seq: int, op_no: int, gid: int, n: int) -> Op:
        """Op 1 adds graph ``gid`` from the client's own id range; op 2
        replaces a shared graph.  Either writes a fresh ``n``-vertex tree,
        after any other client's write has finished: the catalog
        supports one writer at a time.  Latency includes that wait."""
        pairs = gen.recursive_tree(crng, n, TREE_HEIGHT)
        sent = time.perf_counter()
        with writer:
            v = versions.begin(gid, pairs, time.perf_counter())
            op = ctx.write(op_no, gid, pairs, f"serve_mixed|c{c}|{seq}")
            versions.end(gid, v, op.end, op.ok)
        op.info["queued_s"] = op.start - sent
        op.start = sent
        if not op.ok:
            op.info["unexplained"] = True
        return op

    def client(c: int) -> None:
        crng = gen.stream(ctx.seed, f"client{c}")
        # Client 0's first write is an add and client 1's a replace, so
        # every run, however short, measures both write ops.
        blocks = gen.serve_blocks(crng, first_add=1 + 2 * c)
        added = seq = 0
        try:
            while time.perf_counter() < deadline:
                # Each read of a block goes to another graph, so every
                # block does the same work whatever graphs the seed draws.
                graphs = iter(crng.sample(shared, SERVE_TREES))
                for op_no in next(blocks):
                    seq += 1
                    if op_no in (3, 4):
                        op = read(c, crng, seq, op_no, next(graphs))
                    elif op_no == 1:
                        # Sizes in turn, not drawn, so the stored edge
                        # count (and bytes per edge) is the same per seed.
                        n = sizes[added % len(sizes)]
                        added += 1
                        op = write(c, crng, seq, 1, 1000 * (c + 1) + added, n)
                    else:
                        gid = crng.choice(shared)
                        op = write(c, crng, seq, 2, gid, n_of[gid])
                    per_client[c].append(op)
        except BaseException as exc:  # surfaced in the main thread
            errors.append(exc)

    # Daemon threads, so a stuck client cannot keep the process alive
    # past the failure raised below.
    threads = [threading.Thread(target=client, args=(c,), name=f"client{c}", daemon=True)
               for c in range(SERVE_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=ctx.seconds + 60)
        if t.is_alive():
            raise RuntimeError(f"{t.name} did not finish")
    ctx.mark_measured()
    if errors:
        raise errors[0]

    ops = [op for ops_c in per_client for op in ops_c]
    out = Outcome(ops=ops, attempted=len(ops))
    out.failed = sum(1 for op in ops if not op.ok)
    out.wrong = sum(1 for op in ops if op.error == "reply matches no visible version")
    out.unexplained = sum(1 for op in ops if op.info.get("unexplained"))
    out.torn_reads = sum(len(op.info.get("torn_errors", ())) for op in ops)
    out.extra["client_ops_per_s"] = [
        sum(op.ok for op in ops_c) / max(ops_c[-1].end - t_begin, 1e-9) if ops_c else 0.0
        for ops_c in per_client
    ]
    sample = next(op for op in ops if op.kind in ("bfs", "dfs"))
    cands = versions.visible(sample.info["graph"], sample.start, sample.end)
    expected = {v.expected(sample.info["op_no"], sample.info["start_vertex"]) for v in cands}
    out.self_check_ok = all(oracle.corrupt(e) not in expected for e in expected)
    return out


# ------------------------------------------------------------------ analytics


def analytics(ctx: Ctx) -> Outcome:
    versions = Versions()
    rng = gen.stream(ctx.seed, "catalog")
    pairs = gen.analytics_graph(rng, ANALYTICS_CORE, ANALYTICS_CHAINS, CHAIN_LEN, TAIL_LEN)
    gid = 1
    _ingest(ctx, versions, gid, pairs, f"setup|add|{gid}")

    algos = {
        "cc": (
            lambda g: traverse.connected_components(ctx.cat.edges(g)),
            lambda rows: {r["vertex"]: r["component"] for r in rows},
            lambda: loopstats.LOOP_STATS.get("connected_components", {}).get("rounds", 0),
        ),
        "kcore": (
            lambda g: graphalgs.kcore(ctx.cat.edges(g), KCORE_K),
            lambda rows: {r["vertex"]: r["core_degree"] for r in rows},
            lambda: loopstats.LOOP_STATS.get("kcore", {}).get("peel_rounds", 0),
        ),
        "pagerank": (
            lambda g: graphalgs.pagerank_fixed(ctx.cat.edges(g)),
            lambda rows: {r["vertex"]: r["rank_scaled"] for r in rows},
            lambda: 5,
        ),
    }

    def call(kind: str, g: int):
        build, parse, _ = algos[kind]
        df = build(g)
        with ctx.tracer.span("analytics.collect"):
            return parse(df.collect())

    # Warm up on the measured graph itself: a first call runs about 20%
    # slower than later ones even after a warm-up on a tiny graph, and
    # a run holds only a few calls per kind.  The three kinds warm up at
    # once to shorten set-up.
    with ThreadPoolExecutor(len(algos)) as pool:
        futures = {
            kind: pool.submit(ctx.run, kind, f"setup|warmup|{kind}",
                              lambda kind=kind: call(kind, gid))
            for kind in algos
        }
    warmups = {kind: f.result() for kind, f in futures.items()}
    ctx.mark_setup()

    expected = {
        "cc": oracle.components(pairs),
        "kcore": oracle.kcore(pairs, KCORE_K),
        "pagerank": oracle.pagerank_fixed(pairs),
    }
    for kind, op in warmups.items():
        if not op.ok or op.info["result"] != expected[kind]:
            raise RuntimeError(f"warm-up {kind} failed: {op.error or 'wrong result'}")
    out = Outcome(ops=[])
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    # Whole cycles only, so every run holds each kind equally often.
    while i % len(algos) or time.perf_counter() < deadline:
        kind = list(algos)[i % len(algos)]
        i += 1
        loopstats.LOOP_STATS.clear()
        op = ctx.run(kind, f"analytics|{kind}|{i}", lambda kind=kind: call(kind, gid))
        op.info["rounds"] = algos[kind][2]()
        result = op.info.pop("result", None)
        if op.ok and result != expected[kind]:
            op.ok, op.error = False, f"{kind} result differs from the oracle"
            out.wrong += 1
        elif op.ok and not out.self_check_ok:
            bad = dict(result)
            v = next(iter(bad))
            bad[v] += 1
            out.self_check_ok = bad != expected[kind]
        out.ops.append(op)
    ctx.mark_measured()
    out.attempted = len(out.ops)
    out.failed = out.unexplained = sum(1 for op in out.ops if not op.ok)
    return out


WORKLOADS = {"serve_mixed": serve_mixed, "analytics": analytics}
