"""Small-graph kernels that run inside one Python task, and the bytes
each guarded graph path holds.

The graph ops (``operators/graph.py``) compute a graph whose vertex set
provably fits the session's broadcast budget in one
``arrow_rows.map_partitions`` task over the whole edge list, and keep
their distributed algorithms for larger graphs. This module holds the
two kernels and the size estimates their guards compare with that
budget. It imports numpy only: a worker that unpickles a kernel
imports this module, never the operator module.

Size estimates, in bytes:

- ``triangle_kernel_bytes``: every n×n array ``triangle_counts`` holds;
- ``union_find_bytes``: ``min_label_components``' memory per vertex;
- ``adjacency_bytes``: the broadcast hash relation of neighbor arrays
  that the edge-iterator fallback attaches to each edge.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterable, Iterator

import numpy as np

# float64 integers are exact up to 2⁵³; every entry of A·A and every
# row sum of A·A∘A is below n² (see triangle_counts)
_EXACT_F64 = 2**53

# Measured with tracemalloc on 10⁴–10⁵-vertex chains and sparse random
# graphs: the kernel peaks at ~140 B per vertex (the parent dict, the
# boxed ids and the output rows); the output columns' list slots and
# Arrow values add ~32 B.
UNION_FIND_VERTEX_BYTES = 192

# One adjacency row in a broadcast LongHashedRelation: the UnsafeRow's
# null bitset and two 8-byte slots (24 B), the neighbor array's
# element count and null bitmap word (16 B), and the hash map's key
# slot, offset/length word and chain link (~40 B), rounded up.
ADJ_ROW_BYTES = 96
# one int64 neighbor plus its null bit, rounded up to a byte
ADJ_ENTRY_BYTES = 9


def triangle_kernel_bytes(n: int) -> int:
    """Peak bytes of ``triangle_counts`` on at most ``n`` nodes. No
    phase holds more than two arrays of n² 8-byte words: the edge
    endpoints (at most n(n−1) int64) with their sorted copy, then their
    dense index with A, then A with A·A (the Hadamard product is taken
    in place). A third covers ``np.fromiter``'s growth and the batch of
    input rows; tracemalloc reads ~18·n² bytes on complete graphs."""
    return 3 * 8 * n * n


def triangle_kernel_fits(n: int, budget: int) -> bool:
    """True when ``triangle_counts`` on ``n`` nodes is exact in float64
    and holds at most ``budget`` bytes."""
    return n * n < _EXACT_F64 and triangle_kernel_bytes(n) <= budget


def union_find_bytes(n_vertices: int) -> int:
    """Bytes ``min_label_components`` holds for ``n_vertices`` ids."""
    return n_vertices * UNION_FIND_VERTEX_BYTES


def adjacency_bytes(n_rows: int, n_entries: int) -> int:
    """Bytes of a broadcast adjacency relation with ``n_rows`` nodes
    and ``n_entries`` neighbor ids in all."""
    return n_rows * ADJ_ROW_BYTES + n_entries * ADJ_ENTRY_BYTES


def triangle_counts(rows: Iterable[tuple], max_nodes: int) -> Iterator[tuple]:
    """(s1, s2) undirected edges, each once → (node, triangles through
    it) for every node in at least one triangle.

    Nodes are numbered densely with ``np.unique``; with A the symmetric
    0/1 adjacency, node v lies in (A·A∘A)·1 / 2 triangles: (A·A)_vu
    counts the common neighbors of v and u, and A keeps only the u
    adjacent to v, so each triangle through v is counted once from
    each of its two other corners. Every entry of A·A is below n and
    every row sum below n², so float64 matmul is exact while n² < 2⁵³.
    More than ``max_nodes`` distinct nodes breaks the bound the caller
    sized the task for, and raises."""
    ends = np.fromiter(itertools.chain.from_iterable(rows), dtype=np.int64)
    ids = np.unique(ends)
    n = len(ids)
    if n > max_nodes:
        raise ValueError(
            f"triangle_counts: {n} nodes exceed the {max_nodes} the task "
            "was sized for"
        )
    # searchsorted, not unique's return_inverse: the inverse's argsort
    # and its temporaries hold ~5 endpoint-sized arrays at once
    idx = np.searchsorted(ids, ends)
    del ends
    a = np.zeros((n, n))
    src, dst = idx[0::2], idx[1::2]
    a[src, dst] = 1.0
    a[dst, src] = 1.0
    del idx, src, dst
    paths = a @ a
    paths *= a
    counts = paths.sum(axis=1).astype(np.int64) // 2
    keep = np.nonzero(counts)[0]
    return zip(ids[keep].tolist(), counts[keep].tolist())


def min_label_components(rows: Iterable[tuple]) -> list[tuple]:
    """(src, dst) edges → (id, component) for every endpoint, with
    component the minimum id reachable from id.

    A union-find whose root is always the smaller of the two roots it
    joins, so every parent id is at most its child's and each root is
    its set's minimum; finds halve their path. The edges stream
    through it: memory is O(vertices), whatever the edge count."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    return [(v, find(v)) for v in list(parent)]
