"""One-task kernels for small inputs, and the bytes each guarded path
holds.

Three ops compute their result in one ``arrow_rows.map_partitions``
task when their input provably fits the session's task budget
(``arrow_rows.task_budget``), and keep distributed plans for larger
inputs: op220 counts triangles of the supplier co-supply graph from
the (part, supplier) incidence rows, op89/op96/op221 count the word
3-grams document pairs share, and op96/op221 label the components of
the resulting near-duplicate graph. This module holds the three
kernels and the size estimates their guards compare with that budget.
Each kernel reads the task's Arrow batches itself. The module imports
numpy only: a worker that unpickles a kernel imports this module,
never an operator module.

Size estimates, in bytes:

- ``triangle_kernel_bytes``: every n×n array
  ``incidence_triangle_counts`` holds, plus one input batch;
- ``neardup_kernel_bytes``: ``ngram_pair_counts``' peak per input row
  and text character, measured with tracemalloc;
- ``union_find_bytes``: ``min_label_components``' memory per vertex;
- ``adjacency_bytes``: the broadcast hash relation of neighbor arrays
  that op220's edge-iterator fallback attaches to each edge.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np

# float64 integers are exact up to 2⁵³; every entry of A·A and every
# row sum of A·A∘A is below n² (see incidence_triangle_counts)
_EXACT_F64 = 2**53

# One input batch of (part, supplier) rows: Spark's Arrow batches hold
# at most 10⁴ rows (spark.sql.execution.arrow.maxRecordsPerBatch), and
# the kernel keeps ~8 row-sized int64 arrays of one batch at a time.
TRIANGLE_BATCH_BYTES = 10_000 * 8 * 8

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

# A gram held by more documents than this is a stop-gram: no pair
# counts it (the max-df cap of dedup.ngram_jaccard_pairs)
NEARDUP_MAX_DF = 50
# ngram_pair_counts counts at most this many (entry, partner)
# candidates per probe block (more only when one document alone has
# more)
_PAIR_BLOCK = 1 << 14
# tracemalloc peaks of ngram_pair_counts, per text character: 15 B on
# the documents corpora (500 and 5000 docs of ~300 chars), 11 B on
# 5·10⁴ rows of 3–5 tokens, 24 B on clusters of 50 identical docs,
# whose 24 500 output pairs per 10³ docs dominate. Arrow's dictionary
# indices add ~1 B. The constant covers a probe block's ~10 arrays of
# _PAIR_BLOCK int64s.
NEARDUP_CHAR_BYTES = 32
NEARDUP_ROW_BYTES = 128
NEARDUP_FIXED_BYTES = 12 * 8 * _PAIR_BLOCK


def triangle_kernel_bytes(n: int) -> int:
    """Peak bytes of ``incidence_triangle_counts`` on at most ``n``
    suppliers. No phase holds more than three arrays of n² 8-byte
    words: A, its used corner when fewer than ``n`` suppliers appear,
    and A·A (the Hadamard product is taken in place); one input batch
    comes on top."""
    return 3 * 8 * n * n + TRIANGLE_BATCH_BYTES


def triangle_kernel_fits(n: int, budget: int) -> bool:
    """True when ``incidence_triangle_counts`` on ``n`` suppliers is
    exact in float64 and holds at most ``budget`` bytes."""
    return n * n < _EXACT_F64 and triangle_kernel_bytes(n) <= budget


def neardup_kernel_bytes(n_rows: int, n_chars: int) -> int:
    """Bytes ``ngram_pair_counts`` holds on ``n_rows`` documents whose
    texts have ``n_chars`` characters in all."""
    return (
        n_rows * NEARDUP_ROW_BYTES + n_chars * NEARDUP_CHAR_BYTES
        + NEARDUP_FIXED_BYTES
    )


def union_find_bytes(n_vertices: int) -> int:
    """Bytes ``min_label_components`` holds for ``n_vertices`` ids."""
    return n_vertices * UNION_FIND_VERTEX_BYTES


def adjacency_bytes(n_rows: int, n_entries: int) -> int:
    """Bytes of a broadcast adjacency relation with ``n_rows`` nodes
    and ``n_entries`` neighbor ids in all."""
    return n_rows * ADJ_ROW_BYTES + n_entries * ADJ_ENTRY_BYTES


def _int_columns(batch) -> list[np.ndarray]:
    """The batch's integer columns as int64 arrays, without the rows
    that hold a null in any column."""
    cols = batch.columns
    if not any(c.null_count for c in cols):
        return [c.to_numpy().astype(np.int64, copy=False) for c in cols]
    valid = np.logical_and.reduce(
        [c.is_valid().to_numpy(zero_copy_only=False) for c in cols]
    )
    return [c.fill_null(0).to_numpy().astype(np.int64)[valid] for c in cols]


def incidence_triangle_counts(batches: Iterable, max_nodes: int) -> Iterator[tuple]:
    """(part, supplier) incidence rows, sorted by part → (supplier,
    triangles through it in the co-supply graph) for every supplier in
    at least one triangle. Two suppliers are adjacent when they share
    a part; repeated rows and rows with a null are no-ops.

    Suppliers are numbered densely in order of appearance, and each
    part's supplier set S sets A[S×S] = 1; the diagonal is then
    cleared. With A the symmetric 0/1 adjacency, supplier v lies in
    (A·A∘A)·1 / 2 triangles: (A·A)_vu counts the common neighbors of v
    and u, and A keeps only the u adjacent to v, so each triangle
    through v is counted once from each of its two other corners.
    Every entry of A·A is below n and every row sum below n², so the
    float64 matmul is exact while n² < 2⁵³.

    Rows stream through: a part whose rows end a batch waits for the
    next one, so memory is A plus one batch, whatever the row count.
    More than ``max_nodes`` distinct suppliers break the bound the
    caller sized the task for, and rows out of part order break the
    grouping; both raise."""
    a = np.zeros((max_nodes, max_nodes))
    index: dict[int, int] = {}
    part = idx = np.empty(0, np.int64)
    for batch in batches:
        p, s = _int_columns(batch)
        ids, inv = np.unique(s, return_inverse=True)
        lut = np.fromiter(
            (index.setdefault(x, len(index)) for x in ids.tolist()),
            np.int64, len(ids),
        )
        if len(index) > max_nodes:
            raise ValueError(
                f"incidence_triangle_counts: {len(index)} suppliers exceed "
                f"the {max_nodes} the task was sized for"
            )
        part = np.concatenate([part, p])
        idx = np.concatenate([idx, lut[inv]])
        if np.any(part[1:] < part[:-1]):
            raise ValueError("incidence_triangle_counts: rows not sorted by part")
        # the last part may continue in the next batch
        last = np.searchsorted(part, part[-1]) if len(part) else 0
        _set_cliques(a, part[:last], idx[:last])
        part, idx = part[last:], idx[last:]
    _set_cliques(a, part, idx)
    m = len(index)
    np.fill_diagonal(a, 0.0)
    if m < max_nodes:
        a = a[:m, :m].copy()
    paths = a @ a
    paths *= a
    counts = paths.sum(axis=1).astype(np.int64) // 2
    keep = np.nonzero(counts)[0]
    ids = np.fromiter(index, np.int64, m)
    return zip(ids[keep].tolist(), counts[keep].tolist())


def _set_cliques(a: np.ndarray, part: np.ndarray, idx: np.ndarray) -> None:
    """A[S×S] = 1 for every part's supplier set S; ``part`` is sorted."""
    bounds = np.flatnonzero(np.diff(part)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(part)]])
    for lo, hi in zip(starts.tolist(), ends.tolist()):
        if hi - lo > 1:
            s = idx[lo:hi]
            a[np.ix_(s, s)] = 1.0


def ngram_pair_counts(
    batches: Iterable, threshold: float, same_source: bool
) -> list[tuple]:
    """(doc_id[, source], tokens) rows → (doc_a, doc_b, n_shared, n_a,
    n_b) for doc_a < doc_b: the word-3-gram overlap counts of
    ``dedup.ngram_jaccard_pairs``' relational plan, under its multiset
    semantics.

    - A row's grams are its distinct runs of three consecutive tokens;
      rows with a null doc_id or null tokens hold none.
    - A gram found in more than ``NEARDUP_MAX_DF`` distinct doc_ids is
      dropped.
    - n_a counts doc_a's kept (row, gram) entries, summed over all of
      doc_a's rows; n_shared counts the entry pairs of doc_a and doc_b
      with the same gram (and, when ``same_source``, the same non-null
      source).

    The count is the inverted-index probe of all-pairs similarity
    search (Bayardo, Ma & Srikant, WWW 2007): entries are grouped by
    gram (and source), each entry meets the later entries of its group,
    and documents are probed in id order in blocks, so a pair's count
    is complete inside one block. A pair is dropped only when its exact
    ratio n_shared / (n_a + n_b − n_shared) lies below
    ``threshold − 1e-6``, which no 6-digit rounding lifts to the
    threshold; the caller applies the rounded Jaccard filter."""
    vocab: dict[str, int] = {}
    sources: dict[object, int] = {}
    parts: list[tuple] = []
    for batch in batches:
        doc, toks = batch.column(0), batch.column(batch.num_columns - 1)
        lens = toks.value_lengths().fill_null(0).to_numpy().astype(np.int64)
        keep = doc.is_valid().to_numpy(zero_copy_only=False) & (lens >= 3)
        words = toks.flatten().dictionary_encode()
        lut = _codes(words.dictionary, vocab)
        tok = lut[words.indices.to_numpy()][np.repeat(keep, lens)]
        src = np.zeros(len(lens), np.int64)
        if same_source:
            source = batch.column(1).dictionary_encode()
            src = np.append(_codes(source.dictionary, sources), -1)[
                source.indices.fill_null(-1).to_numpy()
            ]
        doc = doc.fill_null(0).to_numpy().astype(np.int64)
        parts.append((tok, lens[keep], doc[keep], src[keep]))
    del vocab, sources
    if not any(len(p[1]) for p in parts):
        return []
    tok, lens, row_doc, row_src = (np.concatenate(c) for c in zip(*parts))
    del parts

    # gram ids: (t0, t1) then (t0t1, t2) numbered by np.unique. Tokens
    # hold no space, so equal token triples are exactly equal grams.
    # Products stay below (#tokens)², far from 2⁶³ at any task budget.
    n_grams = lens - 2
    row = np.repeat(np.arange(len(lens)), n_grams)
    pos = (
        np.arange(len(row))
        - np.repeat(np.cumsum(n_grams) - n_grams, n_grams)
        + np.repeat(np.cumsum(lens) - lens, n_grams)
    )
    v = np.int64(tok.max() + 1)
    key = np.unique(tok[pos] * v + tok[pos + 1], return_inverse=True)[1]
    key = key * v + tok[pos + 2]
    del pos, tok
    gram = np.unique(key, return_inverse=True)[1]
    n_gram = np.int64(gram.max() + 1)
    # distinct (row, gram) entries
    key = np.unique(row * n_gram + gram)
    row, gram = key // n_gram, key % n_gram
    docs, doc_of_row = np.unique(row_doc, return_inverse=True)
    n_doc = np.int64(len(docs))
    doc = doc_of_row[row]
    # max-df cap: distinct doc_ids per gram
    df = np.bincount(np.unique(gram * n_doc + doc) // n_doc, minlength=n_gram)
    keep = df[gram] <= NEARDUP_MAX_DF
    row, gram, doc = row[keep], gram[keep], doc[keep]
    n = np.bincount(doc, minlength=n_doc)

    # postings: entries grouped by gram (and source), each group in doc
    # order; only groups of two or more entries can pair
    group = gram
    if same_source:
        src = row_src[row]
        probe = src >= 0
        group = gram[probe] * np.int64(row_src.max() + 1) + src[probe]
        doc = doc[probe]
    order = np.lexsort((doc, group))
    group, doc = group[order], doc[order]
    first = np.searchsorted(group, group, "left")
    after = np.searchsorted(group, group, "right")
    multi = after - first > 1
    group, doc = group[multi], doc[multi]
    partners = np.searchsorted(group, group, "right") - np.arange(len(group)) - 1
    del order, first, after, multi, row, gram

    out: list[tuple] = []
    by_doc = np.argsort(doc, kind="stable")
    doc_sorted = doc[by_doc]
    reach = np.cumsum(partners[by_doc])
    start, done = 0, 0
    while start < len(by_doc):
        end = max(int(np.searchsorted(reach, done + _PAIR_BLOCK, "right")), start + 1)
        end = int(np.searchsorted(doc_sorted, doc_sorted[end - 1], "right"))
        a_pos = by_doc[start:end]
        cnt = partners[a_pos]
        total = int(cnt.sum())
        if total:
            rep = np.repeat(a_pos, cnt)
            b_pos = rep + 1 + np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            da, db = doc[rep], doc[b_pos]
            apart = da < db  # same-doc entries come from duplicate rows
            pair, shared = np.unique(da[apart] * n_doc + db[apart], return_counts=True)
            a, b = pair // n_doc, pair % n_doc
            na, nb = n[a], n[b]
            denom = na + nb - shared
            hit = (denom <= 0) | (shared >= (threshold - 1e-6) * denom)
            out.extend(zip(
                docs[a[hit]].tolist(), docs[b[hit]].tolist(),
                shared[hit].tolist(), na[hit].tolist(), nb[hit].tolist(),
            ))
        done, start = int(reach[end - 1]), end
    return out


def _codes(values, codes: dict) -> np.ndarray:
    """Task-wide int codes of an Arrow dictionary's ``values``, numbered
    in order of first appearance across the task's batches."""
    return np.fromiter(
        (codes.setdefault(v, len(codes)) for v in values.to_pylist()),
        np.int64, len(values),
    )


def min_label_components(batches: Iterable) -> list[tuple]:
    """(src, dst) edges → (id, component) for every endpoint, with
    component the minimum id reachable from id; rows with a null are
    skipped.

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

    for batch in batches:
        src, dst = _int_columns(batch)
        for a, b in zip(src.tolist(), dst.tolist()):
            ra, rb = find(a), find(b)
            if ra < rb:
                parent[rb] = ra
            elif rb < ra:
                parent[ra] = rb
    return [(v, find(v)) for v in list(parent)]
