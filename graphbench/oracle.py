"""Pure-Python oracles for every output the benchmark checks.

Each function recomputes, from the generated edge list alone, what the
engine must return: the op-4 BFS reply, the op-3 DFS leaf reply, the
connected-component labels, the k-core and the fixed-point PageRank.
"""

from __future__ import annotations

from collections import defaultdict, deque


def adjacency(pairs: list[tuple[int, int]]) -> dict[int, list[int]]:
    adj: dict[int, list[int]] = defaultdict(list)
    for u, v in pairs:
        if u != v:
            adj[u].append(v)
            adj[v].append(u)
    return adj


def bfs_levels(adj: dict[int, list[int]], start: int) -> dict[int, int]:
    level = {start: 0}
    queue = deque([start])
    while queue:
        u = queue.popleft()
        for w in adj[u]:
            if w not in level:
                level[w] = level[u] + 1
                queue.append(w)
    return level


def bfs_reply(adj: dict[int, list[int]], start: int) -> str:
    """The op-4 reply: reached vertices in (level, vertex) order."""
    level = bfs_levels(adj, start)
    return " ".join(str(v) for v in sorted(level, key=lambda v: (level[v], v)))


def dfs_reply(adj: dict[int, list[int]], start: int) -> str:
    """The op-3 reply: the vertices that are leaves when the tree is
    rooted at ``start`` (no child in a walk from the root), ascending."""
    leaves = []
    parent = {start: None}
    stack = [start]
    while stack:
        u = stack.pop()
        children = [w for w in adj[u] if w != parent[u]]
        if not children and u != start:
            leaves.append(u)
        for w in children:
            parent[w] = u
            stack.append(w)
    return " ".join(str(v) for v in sorted(leaves))


def eccentricity(adj: dict[int, list[int]], start: int) -> int:
    return max(bfs_levels(adj, start).values())


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: every vertex that has an edge, labelled with the
    smallest vertex id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {v: find(v) for v in parent}


def kcore(pairs: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Sequential peeling: drop any vertex of degree < k until none is
    left; returns each survivor's degree inside the core."""
    adj = {v: set(ws) for v, ws in adjacency(pairs).items()}
    queue = [v for v, ws in adj.items() if len(ws) < k]
    removed: set[int] = set()
    while queue:
        v = queue.pop()
        if v in removed:
            continue
        removed.add(v)
        for w in adj[v]:
            adj[w].discard(v)
            if w not in removed and len(adj[w]) < k:
                queue.append(w)
    return {v: len(ws) for v, ws in adj.items() if v not in removed}


def pagerank_fixed(
    pairs: list[tuple[int, int]],
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> dict[int, int]:
    """Replica of the engine's integer PageRank update rule on the
    symmetric edge list:
    ``r' = teleport + (damping_pct * sum_{u->v} r(u) div outdeg(u)) div 100``."""
    adj = adjacency(pairs)
    n = len(adj)
    rank = {v: scale // n for v in adj}
    teleport = ((100 - damping_pct) * scale // 100) // n
    for _ in range(iters):
        incoming = dict.fromkeys(adj, 0)
        for u, ws in adj.items():
            share = rank[u] // len(ws)
            for w in ws:
                incoming[w] += share
        rank = {v: teleport + (damping_pct * s) // 100 for v, s in incoming.items()}
    return rank


def corrupt(reply: str) -> str:
    """A deliberately wrong reply for the checker's self-test: the last
    vertex dropped, or a bogus vertex when the reply is empty."""
    parts = reply.split()
    return " ".join(parts[:-1]) if parts else "-1"
