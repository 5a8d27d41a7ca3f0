"""Compiled graph kernels — two bodies in one C source, each
reproducing its python/numpy twin exactly:

* the RobustPrune choose loops, bit-identical to the numpy bodies in
  `vamana_core.VamanaGraph.robust_prune` (below);
* the lock-step beam of `vamana_core.VamanaGraph.search_batch` (the
  `Beam` class at the end): C keeps each query's visited set,
  candidate heap, result list and active flag, and per hop hands the
  unvisited (neighbour, query) pairs back to numpy, which gathers and
  reduces them with the unchanged einsum — distances are numpy's, so
  results equal the python body's byte for byte (CPython heapq sift
  order, `bisect_right` inserts, python `(d, id)` tuple order with NaN
  comparing false; pinned by tests/test_vamana.py::test_beam_c_parity).
  Every adjacency entry is bounds-checked: a corrupt shard raises
  IndexError instead of reading out of bounds.

Round 16 (optimization round 2; guide §1.2 "per-task work"): the named
r15 kernel floor was `robust_prune` at 58% of `build_graph`, and its
cost is numpy DISPATCH, not arithmetic — the large-pool choose loop
runs ~degree iterations of {eligibility scan, one gemv row, divide,
max-merge}, each a handful of numpy kernel launches over a few hundred
elements. This module compiles the exact same loop to C at first use
(plain `gcc -O2 -ffp-contract=off -shared`, no Python.h, called via
ctypes) and reproduces the numpy path BIT-FOR-BIT:

* the pair-distance gemv row is computed by THE SAME BLAS numpy uses —
  the bundled OpenBLAS's `cblas_sgemv(64_)` symbol is resolved at
  runtime and its address passed into the C kernel, so
  `cand[i+1:] @ cand[i]` is the identical routine with identical
  arguments (verified bit-equal across shapes in the parity test);
* every elementwise step is scalar IEEE f32/f64 arithmetic in the same
  association order as the numpy expressions, with numpy's NaN
  semantics reproduced explicitly (`np.maximum(v, 0)` keeps NaN;
  `np.maximum(occ, rrow)` propagates NaN; `x <= a` is False for NaN);
  `-ffp-contract=off` forbids FMA contraction so a*b+c rounds twice,
  exactly like the separate numpy kernels;
* the small-pool loop is pure comparisons over the precomputed ratio
  matrix — bit-identity is trivial there.

Decisions therefore match the numpy path exactly — byte-pinned golden
graphs build identically with the kernel on or off (pinned by
tests/test_vamana.py::test_prune_c_parity_and_gate and the golden
suites).

One gate covers both bodies: `SPARK_GRAFT_PRUNE_C=0` disables the
prune loops AND the beam together, and any compile/symbol failure
falls back to the python/numpy bodies for both, with the cause in
`_DISABLED_REASON` and one RuntimeWarning per process (the env gate
stays silent). The .so is cached per source hash, so an edit to either
body recompiles both.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading
import warnings

import numpy as np

_C_SRC = r"""
#include <stddef.h>
#include <stdlib.h>
#include <string.h>

typedef long long i64;

/* cblas_sgemv with 64-bit (ILP64, suffixed) or 32-bit (LP64) ints.
   The function POINTER comes from the caller, resolved out of the very
   OpenBLAS numpy links, so the dot rows are bit-identical to
   `cand[i+1:] @ cand[i]`. */
typedef void (*sgemv64_t)(i64 order, i64 trans, i64 m, i64 n, float alpha,
                          const float *a, i64 lda, const float *x, i64 incx,
                          float beta, float *y, i64 incy);
typedef void (*sgemv32_t)(int order, int trans, int m, int n, float alpha,
                          const float *a, int lda, const float *x, int incx,
                          float beta, float *y, int incy);

static void run_sgemv(void *fn, int width64, i64 rows, i64 dim,
                      const float *a, const float *x, float *y) {
    if (width64) {
        ((sgemv64_t)fn)(101, 111, rows, dim, 1.0f, a, dim, x, 1, 0.0f, y, 1);
    } else {
        ((sgemv32_t)fn)(101, 111, (int)rows, (int)dim, 1.0f, a, (int)dim,
                        x, 1, 0.0f, y, 1);
    }
}

/* Large-pool path: same decisions as the numpy while-loop.
   occ_buf (m doubles) and prow_buf (m floats) are caller scratch. */
i64 choose_large(const float *cand, const float *n2, const float *dists,
                 i64 m, i64 dim, i64 degree, double alpha, double inc,
                 int is_ip, void *sgemv, int width64,
                 i64 *chosen_out, float *prow_buf, double *occ_buf) {
    const float fmaxf32 = 3.4028234663852886e38f;
    const double fmax_d = (double)fmaxf32;
    i64 nchosen = 0;
    double cur_alpha = 1.0;
    for (i64 j = 0; j < m; j++) occ_buf[j] = 0.0;
    while (nchosen < degree) {
        i64 i = -1;
        for (i64 j = 0; j < m; j++) {
            /* NaN occ compares false, exactly like numpy */
            if (occ_buf[j] <= cur_alpha) { i = j; break; }
        }
        if (i >= 0) {
            occ_buf[i] = fmax_d;
            chosen_out[nchosen++] = i;
            i64 rem = m - i - 1;
            if (rem > 0) {
                run_sgemv(sgemv, width64, rem, dim,
                          cand + (size_t)(i + 1) * dim,
                          cand + (size_t)i * dim, prow_buf);
                if (is_ip) {
                    for (i64 j = 0; j < rem; j++) prow_buf[j] = -prow_buf[j];
                } else {
                    float n2i = n2[i];
                    for (i64 j = 0; j < rem; j++) {
                        /* (n2[i+1+j] + n2i) - 2.0f*dot : the numpy
                           association; NaN survives the clamp like
                           np.maximum(v, 0) */
                        float v = (n2[i + 1 + j] + n2i) - 2.0f * prow_buf[j];
                        prow_buf[j] = (v < 0.0f) ? 0.0f : v;
                    }
                }
                for (i64 j = 0; j < rem; j++) {
                    float r = dists[i + 1 + j] / prow_buf[j];
                    double rd = (prow_buf[j] == 0.0f) ? fmax_d : (double)r;
                    double cur = occ_buf[i + 1 + j];
                    /* np.maximum(occ, rrow): NaN in either propagates */
                    if (rd != rd) occ_buf[i + 1 + j] = rd;
                    else if (cur != cur) { /* stays NaN */ }
                    else if (rd > cur) occ_buf[i + 1 + j] = rd;
                }
            }
            continue;
        }
        if (cur_alpha == alpha) break;
        cur_alpha = cur_alpha * inc;
        if (cur_alpha > alpha) cur_alpha = alpha;
    }
    return nchosen;
}

/* Small-pool path: pure comparisons over the precomputed f32 ratio
   matrix (row-major m x m), python-float (f64) comparison semantics. */
i64 choose_small(const float *ratio, i64 m, i64 degree, double alpha,
                 double inc, i64 *chosen_out, double *occlude_buf) {
    const double fmax_d = 3.4028234663852886e38;
    i64 nchosen = 0;
    double cur_alpha = 1.0;
    for (i64 j = 0; j < m; j++) occlude_buf[j] = 0.0;
    while (nchosen < degree) {
        for (i64 i = 0; i < m; i++) {
            if (nchosen >= degree) break;
            if (occlude_buf[i] > cur_alpha) continue;
            occlude_buf[i] = fmax_d;
            chosen_out[nchosen++] = i;
            const float *ri = ratio + (size_t)i * m;
            for (i64 j = i + 1; j < m; j++) {
                double rij = (double)ri[j];
                if (rij > occlude_buf[j]) occlude_buf[j] = rij;
            }
        }
        if (cur_alpha == alpha) break;
        cur_alpha = cur_alpha * inc;
        if (cur_alpha > alpha) cur_alpha = alpha;
    }
    return nchosen;
}

/* ---- lock-step beam: VamanaGraph.search_batch's per-query bookkeeping.
   Items order like python (d, id) tuples: equal d -> id decides, and
   NaN compares false both ways (never ==, never <). The heap is CPython
   heapq's exact sift order and the result insert is bisect_right, so a
   non-transitive NaN order lands every item where the python body
   lands it. Distances stay in numpy; C only sees them as doubles. */
typedef unsigned int u32;
typedef struct { double d; i64 id; } item;

static int item_lt(item a, item b) {
    if (a.d == b.d) return a.id < b.id;
    return a.d < b.d;
}

typedef struct {
    item *heap; i64 hn, hcap;
    item *res; i64 rn;          /* sized max(L, #entry points) + 1 */
    u32 *vis; i64 vn, vbits;    /* open-addressed id set, 0xFFFFFFFF = empty */
    int active;
} qstate;

typedef struct {
    i64 nq, L, width, adj_rows, vec_rows;
    const u32 *adj;
    qstate *q;
    i64 *seg_q, *seg_n, nseg;   /* work of the last expand, in query order */
} beam;

#define EMPTY 0xFFFFFFFFu

static i64 vis_slot(const qstate *s, u32 id) {
    i64 mask = ((i64)1 << s->vbits) - 1;
    i64 h = (i64)(((unsigned long long)id * 0x9E3779B97F4A7C15ull)
                  >> (64 - s->vbits));
    while (s->vis[h] != EMPTY && s->vis[h] != id) h = (h + 1) & mask;
    return h;
}

static int vis_has(const qstate *s, u32 id) {
    return s->vis[vis_slot(s, id)] == id;
}

static int vis_add(qstate *s, u32 id) {
    if (2 * (s->vn + 1) > ((i64)1 << s->vbits)) {
        u32 *old = s->vis;
        i64 oldcap = (i64)1 << s->vbits;
        u32 *nv = (u32 *)malloc(sizeof(u32) * (size_t)(oldcap * 2));
        if (!nv) return -1;
        memset(nv, 0xFF, sizeof(u32) * (size_t)(oldcap * 2));
        s->vis = nv;
        s->vbits++;
        for (i64 j = 0; j < oldcap; j++)
            if (old[j] != EMPTY) s->vis[vis_slot(s, old[j])] = old[j];
        free(old);
    }
    i64 h = vis_slot(s, id);
    if (s->vis[h] == EMPTY) { s->vis[h] = id; s->vn++; }
    return 0;
}

/* heapq.heappush: append, then _siftdown(heap, 0, n-1) */
static int heap_push(qstate *s, item x) {
    if (s->hn == s->hcap) {
        i64 nc = s->hcap * 2;
        item *nh = (item *)realloc(s->heap, sizeof(item) * (size_t)nc);
        if (!nh) return -1;
        s->heap = nh;
        s->hcap = nc;
    }
    item *h = s->heap;
    i64 pos = s->hn++;
    while (pos > 0) {
        i64 parent = (pos - 1) >> 1;
        if (!item_lt(x, h[parent])) break;
        h[pos] = h[parent];
        pos = parent;
    }
    h[pos] = x;
    return 0;
}

/* heapq.heappop: last item to the root, _siftup (smaller child up to a
   leaf, right child unless left < right), then _siftdown */
static item heap_pop(qstate *s) {
    item *h = s->heap;
    item last = h[--s->hn];
    if (s->hn == 0) return last;
    item ret = h[0];
    i64 end = s->hn, pos = 0, child = 1;
    while (child < end) {
        if (child + 1 < end && !item_lt(h[child], h[child + 1])) child++;
        h[pos] = h[child];
        pos = child;
        child = 2 * pos + 1;
    }
    while (pos > 0) {
        i64 parent = (pos - 1) >> 1;
        if (!item_lt(last, h[parent])) break;
        h[pos] = h[parent];
        pos = parent;
    }
    h[pos] = last;
    return ret;
}

/* bisect.insort_right */
static void res_insort(qstate *s, item x) {
    i64 lo = 0, hi = s->rn;
    while (lo < hi) {
        i64 mid = (lo + hi) / 2;
        if (item_lt(x, s->res[mid])) hi = mid; else lo = mid + 1;
    }
    memmove(s->res + lo + 1, s->res + lo, sizeof(item) * (size_t)(s->rn - lo));
    s->res[lo] = x;
    s->rn++;
}

void beam_free(beam *b) {
    if (!b) return;
    if (b->q) {
        for (i64 i = 0; i < b->nq; i++) {
            free(b->q[i].heap); free(b->q[i].res); free(b->q[i].vis);
        }
        free(b->q);
    }
    free(b->seg_q); free(b->seg_n); free(b);
}

beam *beam_new(const u32 *adj, i64 adj_rows, i64 width, i64 vec_rows,
               i64 nq, i64 L, i64 neps) {
    i64 rcap = (L > neps ? L : neps) + 1;
    beam *b = (beam *)calloc(1, sizeof(beam));
    if (!b) return NULL;
    b->nq = nq; b->L = L; b->width = width; b->adj = adj;
    b->adj_rows = adj_rows; b->vec_rows = vec_rows;
    b->q = (qstate *)calloc((size_t)nq, sizeof(qstate));
    b->seg_q = (i64 *)malloc(sizeof(i64) * (size_t)nq);
    b->seg_n = (i64 *)malloc(sizeof(i64) * (size_t)nq);
    if (!b->q || !b->seg_q || !b->seg_n) { beam_free(b); return NULL; }
    for (i64 i = 0; i < nq; i++) {
        qstate *s = &b->q[i];
        s->hcap = 64;
        s->vbits = 6;
        s->heap = (item *)malloc(sizeof(item) * (size_t)s->hcap);
        s->res = (item *)malloc(sizeof(item) * (size_t)rcap);
        s->vis = (u32 *)malloc(sizeof(u32) * ((size_t)1 << s->vbits));
        if (!s->heap || !s->res || !s->vis) { beam_free(b); return NULL; }
        memset(s->vis, 0xFF, sizeof(u32) * ((size_t)1 << s->vbits));
        s->active = 1;
    }
    return b;
}

/* Entry points for every query: dmat is (nq, neps) row-major. Like the
   python seeding, the result list is NOT capped at L here. */
int beam_seed(beam *b, const i64 *eps, i64 neps, const double *dmat) {
    for (i64 qi = 0; qi < b->nq; qi++) {
        qstate *s = &b->q[qi];
        for (i64 j = 0; j < neps; j++) {
            item x = { dmat[qi * neps + j], eps[j] };
            if (vis_add(s, (u32)eps[j]) || heap_push(s, x)) return -1;
            res_insort(s, x);
        }
    }
    return 0;
}

/* One hop for every active query, in query order: pop candidates until
   one has unvisited neighbours (filtered against the visited set as it
   was BEFORE the row scan, so a duplicated neighbour appears twice), or
   the stop rule / an empty heap retires the query. Writes the neighbour
   ids and their query index; returns how many, -1 on a corrupt
   adjacency entry, -2 on allocation failure. */
i64 beam_expand(beam *b, i64 *flat, i64 *qidx) {
    i64 nf = 0, L = b->L;
    b->nseg = 0;
    for (i64 qi = 0; qi < b->nq; qi++) {
        qstate *s = &b->q[qi];
        if (!s->active) continue;
        i64 start = nf;
        while (s->hn > 0 && nf == start) {
            item c = heap_pop(s);
            if (s->rn >= L && c.d > s->res[L - 1].d) break;
            if (c.id < 0 || c.id >= b->adj_rows) return -1;
            const u32 *row = b->adj + (size_t)c.id * b->width;
            for (i64 j = 0; j < b->width; j++) {
                u32 nb = row[j];
                if (nb == EMPTY) continue;
                if ((i64)nb >= b->vec_rows) return -1;
                if (vis_has(s, nb)) continue;
                flat[nf] = nb;
                qidx[nf++] = qi;
            }
        }
        if (nf == start) { s->active = 0; continue; }
        for (i64 j = start; j < nf; j++)
            if (vis_add(s, (u32)flat[j])) return -2;
        b->seg_q[b->nseg] = qi;
        b->seg_n[b->nseg++] = nf - start;
    }
    return nf;
}

/* Merge the last expand's distances (same order as its ids): the
   python `_merge_batch` — a full result list first filters by its
   CURRENT last distance, then each survivor is re-checked in turn. */
int beam_merge(beam *b, const i64 *flat, const double *ds) {
    i64 pos = 0, L = b->L;
    for (i64 g = 0; g < b->nseg; g++) {
        qstate *s = &b->q[b->seg_q[g]];
        i64 cnt = b->seg_n[g];
        int full = s->rn >= L;
        double last0 = full ? s->res[s->rn - 1].d : 0.0;
        for (i64 j = pos; j < pos + cnt; j++) {
            if (full && !(ds[j] < last0)) continue;
            if (s->rn < L || ds[j] < s->res[s->rn - 1].d) {
                item x = { ds[j], flat[j] };
                res_insort(s, x);
                if (s->rn > L) s->rn--;
                if (heap_push(s, x)) return -1;
            }
        }
        pos += cnt;
    }
    return 0;
}

/* First min(k, len) results of every query: ids/ds are (nq, k). */
void beam_results(const beam *b, i64 k, i64 *counts, i64 *ids,
                  double *ds) {
    for (i64 qi = 0; qi < b->nq; qi++) {
        const qstate *s = &b->q[qi];
        i64 c = s->rn < k ? s->rn : k;
        counts[qi] = c;
        for (i64 j = 0; j < c; j++) {
            ids[qi * k + j] = s->res[j].id;
            ds[qi * k + j] = s->res[j].d;
        }
    }
}
"""

_lib = None
_sgemv_addr = None
_sgemv_width64 = None
_DISABLED_REASON: str | None = None


def _find_sgemv():
    """Resolve the cblas sgemv symbol from the OpenBLAS numpy itself
    links → (address, width64) or None."""
    import glob

    numpy_dir = os.path.dirname(np.__file__)
    cands = sorted(
        glob.glob(os.path.join(numpy_dir, "..", "numpy.libs", "*blas*"))
        + glob.glob(os.path.join(numpy_dir, ".libs", "*blas*"))
        + glob.glob(os.path.join(numpy_dir, "core", "*blas*"))
    )
    for path in cands:
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for sym, w64 in (("cblas_sgemv64_", True), ("cblas_sgemv", False)):
            fn = getattr(lib, sym, None)
            if fn is not None:
                return ctypes.cast(fn, ctypes.c_void_p).value, w64, lib
    return None


def _compile() -> str:
    """Compile the kernel to a cached .so keyed by source hash; atomic
    rename so concurrent Python workers race safely."""
    h = hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]
    cache_dir = os.path.join(
        os.environ.get("XDG_CACHE_HOME", os.path.expanduser("~/.cache")),
        "duckdb_ann_spark",
    )
    os.makedirs(cache_dir, exist_ok=True)
    so_path = os.path.join(cache_dir, f"prune_{h}.so")
    if os.path.exists(so_path):
        return so_path
    with tempfile.TemporaryDirectory(dir=cache_dir) as td:
        src = os.path.join(td, "prune.c")
        with open(src, "w") as f:
            f.write(_C_SRC)
        out = os.path.join(td, "prune.so")
        proc = subprocess.run(
            ["gcc", "-O2", "-ffp-contract=off", "-fPIC", "-shared",
             "-o", out, src],
            capture_output=True, text=True, timeout=120,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"gcc failed: {proc.stderr.strip()[:2000]}")
        os.replace(out, so_path)  # atomic on the same filesystem
    return so_path


def _load():
    """Resolve sgemv, compile and bind every kernel → the loaded lib;
    raises on any failure."""
    global _sgemv_addr, _sgemv_width64
    got = _find_sgemv()
    if got is None:
        raise RuntimeError("no cblas_sgemv symbol in numpy's BLAS")
    _sgemv_addr, _sgemv_width64, keepalive = got
    lib = ctypes.CDLL(_compile())
    P, I, D = ctypes.c_void_p, ctypes.c_longlong, ctypes.c_double
    for name, restype, argtypes in (
        ("choose_large", I,
         [P, P, P, I, I, I, D, D, ctypes.c_int, P, ctypes.c_int, P, P, P]),
        ("choose_small", I, [P, I, I, D, D, P, P]),
        ("beam_new", P, [P, I, I, I, I, I, I]),
        ("beam_free", None, [P]),
        ("beam_seed", ctypes.c_int, [P, P, I, P]),
        ("beam_expand", I, [P, P, P]),
        ("beam_merge", ctypes.c_int, [P, P, P]),
        ("beam_results", None, [P, I, P, P, P]),
    ):
        fn = getattr(lib, name)
        fn.restype, fn.argtypes = restype, argtypes
    lib._keepalive = keepalive  # hold the BLAS handle
    return lib


def _init():
    global _lib, _DISABLED_REASON
    if _lib is not None or _DISABLED_REASON is not None:
        return
    if os.environ.get("SPARK_GRAFT_PRUNE_C", "1") in ("0", "false", ""):
        _DISABLED_REASON = "disabled by SPARK_GRAFT_PRUNE_C"
        return
    try:
        _lib = _load()
    except Exception as e:  # pragma: no cover - environment-dependent
        _DISABLED_REASON = f"{type(e).__name__}: {e}"
        # once per process: _DISABLED_REASON short-circuits later calls
        warnings.warn(
            "compiled prune/beam kernels unavailable, the numpy/python "
            f"bodies run instead: {_DISABLED_REASON}", RuntimeWarning,
            stacklevel=3,
        )


def available() -> bool:
    _init()
    return _lib is not None


# per-call scratch, grown on demand; thread-local in case a driver
# builds graphs from several threads
_scratch = threading.local()


def _buffers(m: int):
    if getattr(_scratch, "m", 0) < m:
        _scratch.m = m
        _scratch.chosen = np.empty(m, dtype=np.int64)
        _scratch.prow = np.empty(m, dtype=np.float32)
        _scratch.occ = np.empty(m, dtype=np.float64)
    return _scratch.chosen, _scratch.prow, _scratch.occ


def choose_large(cand: np.ndarray, n2: np.ndarray, dists: np.ndarray,
                 degree: int, alpha: float, inc: float, is_ip: bool):
    """→ list of chosen POSITIONS (into the pool), identical to the
    numpy large-pool loop, or None when the kernel is unavailable."""
    _init()
    if _lib is None:
        return None
    m, dim = cand.shape
    cand = np.ascontiguousarray(cand, dtype=np.float32)
    n2 = np.ascontiguousarray(n2, dtype=np.float32)
    dists = np.ascontiguousarray(dists, dtype=np.float32)
    chosen, prow, occ = _buffers(m)
    nch = _lib.choose_large(
        cand.ctypes.data, n2.ctypes.data, dists.ctypes.data,
        m, dim, degree, float(alpha), float(inc), int(is_ip),
        _sgemv_addr, int(_sgemv_width64),
        chosen.ctypes.data, prow.ctypes.data, occ.ctypes.data,
    )
    return chosen[:nch].tolist()


def choose_small(ratio: np.ndarray, degree: int, alpha: float, inc: float):
    """→ list of chosen POSITIONS, identical to the numpy small-pool
    python loop over the precomputed ratio matrix, or None when the
    kernel is unavailable."""
    _init()
    if _lib is None:
        return None
    m = ratio.shape[0]
    ratio = np.ascontiguousarray(ratio, dtype=np.float32)
    chosen, _, occ = _buffers(m)
    nch = _lib.choose_small(
        ratio.ctypes.data, m, degree, float(alpha), float(inc),
        chosen.ctypes.data, occ.ctypes.data,
    )
    return chosen[:nch].tolist()


class Beam:
    """C-side state of one lock-step `search_batch` call (visited set,
    candidate heap, result list and active flag per query). Distances
    never enter C except as the doubles numpy computed: `expand()` hands
    out the hop's (ids, query index) pairs, the caller gathers and
    reduces them, `merge()` takes the distances back."""

    def __init__(self, adjacency: np.ndarray, vec_rows: int, nq: int,
                 L: int, neps: int):
        self._adj = adjacency  # the C side reads it in place
        self.nq, self._neps, self._nf = nq, neps, 0
        width = adjacency.shape[1]
        # one adjacency row per active query per hop at most
        self._flat = np.empty(max(1, nq * width), dtype=np.int64)
        self._qidx = np.empty_like(self._flat)
        self._h = _lib.beam_new(adjacency.ctypes.data, adjacency.shape[0],
                                width, vec_rows, nq, L, neps)
        if not self._h:
            raise MemoryError("beam_new")

    @classmethod
    def open(cls, adjacency, vec_rows: int, nq: int, L: int, neps: int):
        """→ a Beam, or None when the kernel is unavailable or the
        adjacency is not a C-contiguous uint32 matrix."""
        _init()
        if (_lib is None or adjacency.dtype != np.uint32
                or adjacency.ndim != 2 or not adjacency.flags.c_contiguous):
            return None
        return cls(adjacency, vec_rows, nq, L, neps)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        _lib.beam_free(self._h)
        self._h = None

    def seed(self, eps, dmat: np.ndarray) -> None:
        """Push the entry points into every query: `dmat` is their
        (nq, len(eps)) distance matrix."""
        eps = np.ascontiguousarray(eps, dtype=np.int64)
        dmat = np.ascontiguousarray(dmat, dtype=np.float64)
        if eps.shape != (self._neps,) or dmat.shape != (self.nq, self._neps):
            raise ValueError("entry points do not match the beam")
        if _lib.beam_seed(self._h, eps.ctypes.data, len(eps),
                          dmat.ctypes.data):
            raise MemoryError("beam_seed")

    def expand(self):
        """→ (ids, qidx) of this hop's unvisited neighbours, empty when
        every query has stopped."""
        nf = _lib.beam_expand(self._h, self._flat.ctypes.data,
                              self._qidx.ctypes.data)
        if nf == -1:
            raise IndexError("adjacency entry out of range: corrupt graph")
        if nf < 0:
            raise MemoryError("beam_expand")
        self._nf = nf
        return self._flat[:nf], self._qidx[:nf]

    def merge(self, ds: np.ndarray) -> None:
        """Take back the distances of the last `expand()`'s pairs."""
        ds = np.ascontiguousarray(ds, dtype=np.float64)
        if ds.shape != (self._nf,):
            raise ValueError("distances do not match the last expand")
        if _lib.beam_merge(self._h, self._flat.ctypes.data, ds.ctypes.data):
            raise MemoryError("beam_merge")

    def results(self, k: int):
        """→ per query, its first min(k, |result|) (id, distance) pairs."""
        counts = np.empty(self.nq, dtype=np.int64)
        ids = np.empty((self.nq, k), dtype=np.int64)
        ds = np.empty((self.nq, k), dtype=np.float64)
        _lib.beam_results(self._h, k, counts.ctypes.data, ids.ctypes.data,
                          ds.ctypes.data)
        return [
            list(zip(i[:c], d[:c]))
            for c, i, d in zip(counts.tolist(), ids.tolist(), ds.tolist())
        ]
