"""Collision-free hash partitioning for dense integer keys.

`df.repartition(k, col)` places a row in partition
`pmod(murmur3(col), k)` — for k dense cell ids hashed into k partitions
~1/e of the partitions stay EMPTY while ~26% receive two or more cells
(balls-in-bins). When the per-key work is a whole graph build, a
two-cell task runs its builds sequentially and doubles the stage wall
(observed live on the 300k reference-default smoke: 10/12 cells done in
~27 min, then ~1h for two collision tasks). Round 10 fixed that with
`repartitionByRange`, whose range-boundary sampling job re-runs the
upstream (assignment) pass once more — a measurable build-wall tax at
bench scale.

This module removes both costs: precompute, per dense key c in
[0, k), a TOKEN t_c whose Spark hash lands exactly in partition c, map
the key column through the token table, and `repartition(k, token)`
becomes a perfect 1:1 key→partition placement with NO sampling job.

The token search needs Spark's exact hash: `Murmur3Hash` over one INT
column with seed 42 (what both `F.hash` and `HashPartitioning` compute
— Murmur3_x86_32.hashInt). It is re-implemented here and pinned
against `F.hash` by a unit test, so a Spark-side change of the hash
would fail loud instead of silently skewing partitions.

The module also owns the rest of cell placement, shared by the vamana
cell build, its calibration replay and knn_join: the LPT packer that
maps cells to bins (`lpt_bins`) and the oversized-cell split rule
(`split_cells`, `sub_cells`). Both cell-probe scans — knn_join's bins
and the IVF index scan — invert their probe pairs with `probe_csr` and
score with `score_cells`.
"""

from __future__ import annotations

import numpy as np

from .distance import np_index_distances


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF


def murmur3_hash_int(value: int, seed: int = 42) -> int:
    """Spark's `Murmur3Hash` of a single INT column (seed 42) — the
    hash behind `F.hash(int_col)` AND `repartition(n, int_col)`
    placement. Returns the signed 32-bit java int."""
    k1 = ((value & 0xFFFFFFFF) * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = _rotl32(k1, 15)
    k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
    h1 = (seed & 0xFFFFFFFF) ^ k1
    h1 = _rotl32(h1, 13)
    h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # total byte length of the hashed row (one int)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - 0x100000000 if h1 >= 0x80000000 else h1


def exact_partition_tokens(n: int) -> np.ndarray:
    """tokens[c] = the smallest non-negative int whose Spark hash lands
    in partition c of n (`pmod(murmur3(t), n) == c`). Mapping a dense
    key column c → tokens[c] and `repartition(n, token_col)` places key
    c in partition c exactly — one task per key, zero collisions, zero
    sampling jobs. The search is driver-side and O(n log n) expected
    (coupon collector); n here is a shard/cell count, never data-sized."""
    tokens = np.full(n, -1, dtype=np.int64)
    found, t = 0, 0
    while found < n:
        p = murmur3_hash_int(t) % n  # python % IS pmod for n > 0
        if tokens[p] < 0:
            tokens[p] = t
            found += 1
        t += 1
    return tokens


def lpt_bins(mass: np.ndarray, n_bins: int) -> np.ndarray:
    """LPT pack: heaviest key first into the lightest bin → bin_of
    (len(mass),). Every key gets at least unit mass so zero-estimate
    keys round-robin across bins instead of piling into bin 0 (the r15
    ADVICE straggler hazard). The one packer behind the vamana cell
    build and knn_join's bin placement."""
    import heapq

    mass = np.maximum(np.asarray(mass, dtype=np.float64), 1.0)
    order = np.argsort(-mass, kind="stable")
    heap = [(0.0, b) for b in range(n_bins)]
    bin_of = np.empty(len(mass), dtype=np.int64)
    for c in order.tolist():
        load, b = heapq.heappop(heap)
        bin_of[c] = b
        heapq.heappush(heap, (load + float(mass[c]), b))
    return bin_of


def split_cells(est: np.ndarray, share: int) -> tuple[np.ndarray, np.ndarray]:
    """Oversized-cell split rule (round 15 cell-size guard): a cell
    estimated past 2×`share` rows gets ceil(est/share) sub-cells, every
    other cell one → (n_sub (k,), offsets (k+1,)); the sub-cells of
    cell c are offsets[c] .. offsets[c+1]-1. Balanced estimates split
    nothing, so sub-cell ids equal cell ids exactly."""
    n_sub = np.ones(len(est), dtype=np.int64)
    over = est > 2 * share
    n_sub[over] = np.ceil(est[over] / share).astype(np.int64)
    return n_sub, np.concatenate([[0], np.cumsum(n_sub)]).astype(np.int64)


def mix64_np(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array — bit-identical
    to `vamana_core._mix64` per element (numpy uint64 arithmetic wraps
    mod 2^64 exactly like the masked python version), so sub-cell
    placement is deterministic across environments."""
    z = (x + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def sub_cells(cells: np.ndarray, ids: np.ndarray, n_sub: np.ndarray,
              offsets: np.ndarray) -> np.ndarray:
    """Sub-cell of each row: offsets[cell] + mix64(id) mod n_sub[cell]
    (int64). An unsplit cell (n_sub 1) maps to offsets[cell]."""
    sub = mix64_np(ids.astype(np.uint64)) % n_sub[cells].astype(np.uint64)
    return offsets[cells] + sub.astype(np.int64)


def probe_csr(cells: np.ndarray, qidx: np.ndarray, n_cells: int):
    """Invert (cell, query) probe pairs to CSR over cells →
    (grouped_q, bounds (n_cells+1,)): cell c is probed by the queries
    grouped_q[bounds[c]:bounds[c+1]], in their pair order (ascending
    when the pairs come query-major)."""
    order = np.argsort(cells, kind="stable")
    return qidx[order], np.searchsorted(cells[order], np.arange(n_cells + 1))


def cell_slices(ids: np.ndarray, mat: np.ndarray, cells: np.ndarray):
    """Rows grouped by cell, in row order within a cell → iterator of
    (cell, ids, mat) — the `score_cells` input of a mixed-cell batch."""
    order = np.argsort(cells, kind="stable")
    uc, starts = np.unique(cells[order], return_index=True)
    ends = np.r_[starts[1:], len(order)]
    for c, s, e in zip(uc.tolist(), starts.tolist(), ends.tolist()):
        rows = order[s:e]
        yield c, ids[rows], mat[rows]


def live_mask(ids: np.ndarray, deleted: np.ndarray) -> np.ndarray:
    """True where `ids` is not in the sorted tombstone array `deleted`
    (binary search: O(|ids| log |deleted|), no re-sort of `deleted`)."""
    if len(deleted) == 0:
        return np.ones(len(ids), dtype=bool)
    pos = np.minimum(np.searchsorted(deleted, ids), len(deleted) - 1)
    return deleted[pos] != ids


def score_cells(cells, qmat: np.ndarray, grouped_q: np.ndarray,
                bounds: np.ndarray, metric: str, k: int,
                deleted: np.ndarray | None = None):
    """The one cell-probe scorer: each (cell, ids, vectors) of `cells`
    against the queries probing it (CSR `grouped_q`/`bounds` into
    `qmat`) → (qx — rows of qmat, ids, f64 distances), or None when no
    cell meets a query. `cells` may be a generator, so a caller can keep
    one cell resident at a time.

    Each cell is ONE (|q_c|, |b_c|) GEMM. The per-cell cut keeps every
    candidate with d <= the k-th smallest of its query row (ties kept;
    a NaN k-th keeps the whole row — there is no safe cutoff there),
    and the cross-cell merge keeps per query the first k by (d, id)
    plus everything tied with the k-th (the `_hits_batch` discipline):
    a superset of every global (d, id) top-k, so a final (d, id) cut is
    exact over the probed cells and only ~k rows per query survive.

    `deleted` (sorted int64 tombstones): their columns are dropped
    after the GEMM, before the per-cell cut — the GEMM keeps the cell's
    full shape, so every live distance is bit-identical to a clean
    scan's."""
    acc_q: list = []
    acc_b: list = []
    acc_d: list = []
    for c, ids, mat in cells:
        qs_, qe_ = int(bounds[c]), int(bounds[c + 1])
        if qe_ <= qs_:
            continue
        qidx_c = grouped_q[qs_:qe_]
        d = np_index_distances(metric, mat, qmat[qidx_c])
        if deleted is not None:
            live = live_mask(ids, deleted)
            if not live.all():
                ids, d = ids[live], d[:, live]
        nq_c, nb = d.shape
        if nb > k:
            kth = np.partition(d, k - 1, axis=1)[:, k - 1]
            qi, bj = np.nonzero(~(d > kth[:, None]))
        else:
            qi = np.repeat(np.arange(nq_c), nb)
            bj = np.tile(np.arange(nb), nq_c)
        acc_q.append(qidx_c[qi])
        acc_b.append(ids[bj])
        acc_d.append(d[qi, bj])
    if not acc_q:
        return None
    qx = np.concatenate(acc_q)
    bx = np.concatenate(acc_b)
    dx = np.concatenate(acc_d).astype(np.float64)
    if len(qx) > k:
        order = np.lexsort((bx, dx, qx))
        qx, bx, dx = qx[order], bx[order], dx[order]
        starts = np.flatnonzero(np.r_[True, qx[1:] != qx[:-1]])
        counts = np.diff(np.r_[starts, len(qx)])
        rank = np.arange(len(qx)) - np.repeat(starts, counts)
        kth = dx[starts + np.minimum(counts - 1, k - 1)]
        keep = (rank < k) | ~(dx > np.repeat(kth, counts))
        qx, bx, dx = qx[keep], bx[keep], dx[keep]
    return qx, bx, dx
