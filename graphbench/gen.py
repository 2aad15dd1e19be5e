"""Seeded input generators.

Every input of a run is drawn from ``random.Random`` streams derived
from the one ``--seed`` on the command line, so the same seed gives the
same trees, request streams and analytics graph.  The engine only ever
receives the DataFrames built from these lists.
"""

from __future__ import annotations

import random

REQUEST_SCHEMA = "seq_no int, op_no int, graph_id int, start_vertex long"
PAIRS_SCHEMA = "src long, dst long"


def stream(seed: int, name: str) -> random.Random:
    """An independent, reproducible random stream for one purpose."""
    return random.Random(f"{seed}:{name}")


def geometric_sizes(k: int, lo: int, hi: int) -> list[int]:
    """``k`` vertex counts spread geometrically from ``lo`` to ``hi``.
    Fixed sizes keep the work per run comparable across seeds; only the
    tree shapes and the traffic are seeded."""
    if k == 1:
        return [lo]
    return [round(lo * (hi / lo) ** (i / (k - 1))) for i in range(k)]


def recursive_tree(rng: random.Random, n: int, height: int) -> list[tuple[int, int]]:
    """Random recursive tree of bounded height on vertices ``0..n-1``:
    the i-th vertex in insertion order attaches to a uniform earlier
    vertex among those less than ``height`` below the root.  Vertex ids
    are a seeded permutation, so an id says nothing about depth."""
    ids = list(range(n))
    rng.shuffle(ids)
    depth = {ids[0]: 0}
    open_ = [ids[0]]
    pairs = []
    for v in ids[1:]:
        parent = open_[rng.randrange(len(open_))]
        depth[v] = depth[parent] + 1
        if depth[v] < height:
            open_.append(v)
        pairs.append((parent, v))
    return pairs


def analytics_graph(
    rng: random.Random, core: int, chains: int, chain_len: int, tail_len: int
) -> list[tuple[int, int]]:
    """Seeded random graph whose loop depths are the same for every seed,
    so a seed changes the data but not the number of rounds timed.

    * A random core: each of ``core`` vertices links to 3 distinct
      uniform others, so every core vertex has degree >= 3.
    * A hub, vertex id 1, linked to every core vertex.
    * ``chains`` peel chains of ``chain_len`` vertices.  Along a chain
      each vertex links to the next and to one uniform core vertex; the
      last links to two.  The first has degree 2 and every other degree
      3, so 3-core peeling removes one chain vertex per round:
      ``chain_len`` peel rounds, then one round that finds nothing.
    * A tail path of ``tail_len`` vertices hanging off the hub, ending
      in vertex id 0.  Min-label propagation spreads label 0 one hop
      per round, and every vertex is within ``tail_len + 2`` hops of it:
      ``tail_len + 2`` rounds that change labels, then one that does not.

    All other ids are a seeded permutation.  The hub's id is fixed
    because the stored size of its many edges depends on it: with a
    drawn id, the catalog's bytes per edge moved by 5% from seed to seed.
    Returns distinct undirected edges ``(u, v)`` with ``u < v``, in
    seeded random order."""
    n = 2 + core + chains * chain_len + tail_len
    ids = list(range(2, n))
    rng.shuffle(ids)
    hub, core_ids = 1, ids[:core]
    rest = iter(ids[core:])
    edges: set[tuple[int, int]] = set()

    def link(u: int, v: int) -> None:
        edges.add((min(u, v), max(u, v)))

    for u in core_ids:
        link(u, hub)
        for v in _distinct_others(rng, core_ids, u, 3):
            link(u, v)
    for _ in range(chains):
        chain = [next(rest) for _ in range(chain_len)]
        for a, b in zip(chain, chain[1:]):
            link(a, b)
        for u in chain[:-1]:
            link(u, rng.choice(core_ids))
        for v in rng.sample(core_ids, 2):
            link(chain[-1], v)
    tail = [hub] + [next(rest) for _ in range(tail_len - 1)] + [0]
    for a, b in zip(tail, tail[1:]):
        link(a, b)
    out = sorted(edges)
    rng.shuffle(out)
    return out


def _distinct_others(rng: random.Random, pool: list[int], u: int, k: int) -> list[int]:
    out: set[int] = set()
    while len(out) < k:
        v = rng.choice(pool)
        if v != u:
            out.add(v)
    return sorted(out)


def serve_blocks(rng: random.Random, first_add: int):
    """One client's endless stream for ``serve_mixed``, in blocks of
    five ops: two op-4 BFS, two op-3 DFS and one write, shuffled inside
    the block.  A client stops only between blocks, so every run sees
    the 40/40/20 mix exactly.  Write number ``first_add`` and every
    fourth after it add a new graph (op 1); the others replace an
    existing one (op 2)."""
    writes = 0
    while True:
        writes += 1
        block = [4, 4, 3, 3, 1 if writes % 4 == first_add % 4 else 2]
        rng.shuffle(block)
        yield block
