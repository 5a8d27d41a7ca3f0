"""Vector distance expressions (JVM-side Column functions) + numpy twins.

Mirrors the six DuckDB scalar functions the reference optimizer recognizes
(`/root/reference/src/ann_optimizer.cpp:386-390`) plus the index-side distance
semantics the reference tests pin down:

* L2 index distance is **squared** Euclidean (reference
  `test/sql/diskann_basic.test:29-34` expects 2.0 between unit axes;
  `rust_lib/src/distance.rs:14-19`).
* IP index distance is the **negated** dot product, so ascending order = most
  similar first (`rust_lib/src/distance.rs:20-25`).
* `array_distance`/`list_distance` (DuckDB core semantics) are plain Euclidean.
* Cosine similarity is similarity (higher = closer); cosine *distance* is
  ``1 - similarity``.

Determinism contract: every expression casts elements to DOUBLE and folds
sequentially left-to-right (``F.aggregate`` over ``zip_with``), which is
bit-for-bit the same association order DuckDB's ``list_reduce`` uses — so the
driver's value-hash comparison against the DuckDB oracle matches exactly, with
no float rounding slop. The numpy twins are the fast path used inside the ANN
engines (BLAS batched), where exactness vs the oracle is asserted via recall
floors instead.
"""

from __future__ import annotations

from typing import Union

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]

__all__ = [
    "as_vector_lit",
    "cast_id_vec",
    "l2sq_distance",
    "array_distance",
    "list_distance",
    "inner_product",
    "array_inner_product",
    "list_inner_product",
    "neg_inner_product",
    "cosine_similarity",
    "array_cosine_similarity",
    "list_cosine_similarity",
    "cosine_distance",
    "index_distance",
    "np_from_arrow_list",
    "np_u8_from_arrow_binary",
    "arrow_f32_list",
    "np_index_distances",
    "np_paired_distances",
    "np_partial_topk",
    "np_topk_frame",
    "METRICS",
]

METRICS = ("l2", "ip", "cosine")


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def cast_id_vec(df, id_col: str, vec_col: str):
    """Normalize an (id, vec) frame to the engine's Arrow-pass dtypes:
    `<id> long, <vec> array<float>` (column order preserved, other
    columns dropped).

    mapInArrow/applyInArrow hand RecordBatches to the JVM under the
    DECLARED schema with NO coercion — unlike mapInPandas, which
    converts. A user frame with `array<double>` vectors or int32 ids
    passed verbatim into a declared `array<float>`/`long` output column
    crashes executors with ArrowColumnVector accessor errors
    (round-13 advice; regression introduced by the round-12
    mapInPandas→mapInArrow migration). Every Arrow-pass entry point
    casts ONCE through this helper; when the input already has the
    target types Catalyst's SimplifyCasts removes the no-ops, so
    published float32 artifacts stay bit-stable.

    Validates the SOURCE types before casting (round-13 advice): an
    ANSI-off `cast('long')` turns a string id column into silent nulls
    — wrong join output instead of the loud executor Arrow error the
    pre-cast code raised. Schema inspection is driver-local and free;
    no extra action.

    String id columns are permitted (round-14 advice: the round-14
    tightening also rejected all-numeric string ids that previously
    cast losslessly) but guarded per ROW: a value the cast nulls
    raises at execution time via an inlined `raise_error`, so
    numeric-string pipelines keep working while genuinely non-numeric
    ids still fail loud instead of silently nulling. The guard is a
    row-local expression — no extra action, no shuffle."""
    from pyspark.sql.types import ArrayType, NumericType, StringType

    id_t = df.schema[id_col].dataType
    if isinstance(id_t, StringType):
        # try_cast: null-on-malformed under BOTH ANSI modes, so the
        # guard below is the single failure path (ANSI-on cast() would
        # throw its own error first; ANSI-off cast() silently nulls)
        casted = F.col(id_col).try_cast("long")
        id_expr = F.when(
            F.col(id_col).isNotNull() & casted.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"id column '{id_col}' is a string with "
                        "non-numeric value: "
                    ),
                    F.col(id_col),
                )
            ).cast("long"),
        ).otherwise(casted)
        vec_t = df.schema[vec_col].dataType
        if not (
            isinstance(vec_t, ArrayType)
            and isinstance(vec_t.elementType, NumericType)
        ):
            raise ValueError(
                f"vector column '{vec_col}' must be array<numeric>, got "
                f"{vec_t.simpleString()}"
            )
        return df.select(
            id_expr.alias(id_col),
            F.col(vec_col).cast("array<float>").alias(vec_col),
        )
    if not isinstance(id_t, NumericType):
        raise ValueError(
            f"id column '{id_col}' must be a numeric/integral type (or a "
            f"string of numeric values), got {id_t.simpleString()} (a "
            "lossy cast would silently null non-numeric ids)"
        )
    vec_t = df.schema[vec_col].dataType
    if not (
        isinstance(vec_t, ArrayType)
        and isinstance(vec_t.elementType, NumericType)
    ):
        raise ValueError(
            f"vector column '{vec_col}' must be array<numeric>, got "
            f"{vec_t.simpleString()}"
        )
    return df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).cast("array<float>").alias(vec_col),
    )


def _dbl(c: ColumnOrName) -> Column:
    return _col(c).cast("array<double>")


def as_vector_lit(vec) -> Column:
    """A python list[float] as ONE array<double> literal Column.

    `F.lit(ndarray)` emits a single typed array literal; building
    `F.array(lit, lit, ...)` instead carries dim child expressions into
    every distance expression — at dim 768 the exact top-k plan would
    drag ~2-4x768 literal nodes through analysis and codegen."""
    return F.lit(np.asarray([float(x) for x in vec], dtype=np.float64))


def _fold_sum(arr: Column) -> Column:
    # Sequential left fold with 0.0 seed: (((0+x1)+x2)+...). 0.0+x1 == x1
    # exactly in IEEE754, so this equals DuckDB's seedless list_reduce.
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def l2sq_distance(a: ColumnOrName, b) -> Column:
    """Squared L2 — the DiskANN/FAISS 'l2' index distance."""
    bcol = as_vector_lit(b) if isinstance(b, (list, tuple, np.ndarray)) else _dbl(b)
    return _fold_sum(F.zip_with(_dbl(a), bcol, lambda x, y: (x - y) * (x - y)))


def array_distance(a: ColumnOrName, b) -> Column:
    """Euclidean distance (DuckDB `array_distance` semantics)."""
    return F.sqrt(l2sq_distance(a, b))


def inner_product(a: ColumnOrName, b) -> Column:
    """Dot product (DuckDB `array_inner_product` semantics)."""
    bcol = as_vector_lit(b) if isinstance(b, (list, tuple, np.ndarray)) else _dbl(b)
    return _fold_sum(F.zip_with(_dbl(a), bcol, lambda x, y: x * y))


def neg_inner_product(a: ColumnOrName, b) -> Column:
    """Negated dot product — the 'ip' index distance (lower = closer)."""
    return -inner_product(a, b)


def cosine_similarity(a: ColumnOrName, b) -> Column:
    """Cosine similarity (DuckDB `array_cosine_similarity` semantics).

    Zero vectors → NULL (DuckDB's x/0 semantics); `try_divide` keeps the
    same result under Spark's default ANSI mode, where plain `/` throws."""
    bcol = as_vector_lit(b) if isinstance(b, (list, tuple, np.ndarray)) else _dbl(b)
    dot = _fold_sum(F.zip_with(_dbl(a), bcol, lambda x, y: x * y))
    na = F.sqrt(_fold_sum(F.zip_with(_dbl(a), _dbl(a), lambda x, y: x * y)))
    nb = F.sqrt(_fold_sum(F.zip_with(bcol, bcol, lambda x, y: x * y)))
    return F.try_divide(dot, na * nb)


def cosine_distance(a: ColumnOrName, b) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


# DuckDB-core aliases (array_* and list_* are the same function over our
# array<float> columns; the reference optimizer accepts either spelling).
list_distance = array_distance
array_inner_product = inner_product
list_inner_product = inner_product
array_cosine_similarity = cosine_similarity
list_cosine_similarity = cosine_similarity


def index_distance(metric: str, a: ColumnOrName, b) -> Column:
    """The distance an index with `metric` reports in its `_distance` column."""
    m = metric.lower()
    if m == "l2":
        return l2sq_distance(a, b)
    if m == "ip":
        return neg_inner_product(a, b)
    if m == "cosine":
        return cosine_distance(a, b)
    raise ValueError(f"Unknown metric '{metric}'. Supported: {', '.join(METRICS)}")


def np_stack_vectors(series, dtype=np.float32) -> np.ndarray:
    """Stack a pandas Series of fixed-length vectors into an (n, d) matrix.

    Arrow hands `array<float>` columns to mapInPandas as an object-dtype
    Series whose elements are already numpy float32 views of the Arrow
    child buffers; `np.vstack(series.to_numpy())` stacks those buffers
    directly. The previous spelling, `np.array(series.tolist())`,
    round-tripped every element through a Python list — the slowest
    correct conversion, and these call sites are the hottest loops in the
    engine (every ANN scan/build batch).
    """
    vals = series.to_numpy()
    if len(vals) == 0:
        return np.empty((0, 0), dtype=dtype)
    return np.vstack(vals).astype(dtype, copy=False)


def np_from_arrow_list(col, dim: int, dtype=np.float32):
    """Zero-copy (n, dim) matrix from a pyarrow ``list<float>`` /
    ``fixed_size_list<float>`` column, or None when the fast path does
    not apply (nulls, ragged rows) and the caller must fall back to the
    pandas conversion.

    This is the mapInArrow twin of `np_stack_vectors` (round 12): the
    Arrow child buffer IS the flat (n*dim,) float array, so a reshape
    replaces the 10M-row pandas object-Series round trip that was 81%
    of the 10M IVF build's wall (measured: assignment pass 241.3s via
    mapInPandas vs 23.7s via mapInArrow at 10M x d16 x nlist 3162)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        return None
    flat = col.flatten()
    n = len(col)
    if len(flat) != n * dim:
        return None
    # total length alone can't see COMPENSATING ragged rows (one short,
    # one long sums to n*dim but reshapes misaligned — round-13 advice);
    # per-row lengths are a cheap int pass. FixedSizeList can't be
    # ragged, so only variable-length lists pay it.
    if not pa.types.is_fixed_size_list(col.type):
        lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
        if not (lens == dim).all():
            return None
    vals = flat.to_numpy(zero_copy_only=False)
    return vals.astype(dtype, copy=False).reshape(n, dim)


def np_arrow_mat(col, dim: int) -> np.ndarray:
    """(n, dim) f32 matrix of an Arrow vector column — zero-copy when
    `np_from_arrow_list` applies, else the pandas conversion."""
    mat = np_from_arrow_list(col, dim)
    return mat if mat is not None else np_stack_vectors(col.to_pandas())


def np_u8_from_arrow_binary(col, dim: int):
    """Zero-copy-ish (n, dim) uint8 matrix from a pyarrow ``binary``
    column of fixed-width SQ8 code rows, or None when the fast path
    does not apply (nulls, ragged rows). The binary→fixed_size_binary
    cast validates uniform width; the fixed array's data buffer IS the
    flat (n*dim,) byte run (round 13 — the IVF sq8 cell scan's twin of
    `np_from_arrow_list`)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        return None
    try:
        fsb = col.cast(pa.binary(dim))
    except Exception:
        return None  # ragged rows (cast to fixed width fails)
    buf = fsb.buffers()[1]
    flat = np.frombuffer(buf, dtype=np.uint8)
    start = fsb.offset * dim
    return flat[start : start + len(fsb) * dim].reshape(len(fsb), dim)


def arrow_f32_list(mat: np.ndarray):
    """(n, dim) float matrix -> ONE pyarrow list<float> array (offsets
    stride dim, child = the flat buffer) — the write-side twin of
    `np_from_arrow_list`, no per-row python lists."""
    import pyarrow as pa

    mat = np.ascontiguousarray(mat, dtype=np.float32)
    n, dim = mat.shape
    offs = np.arange(n + 1, dtype=np.int32) * dim
    child = pa.Array.from_buffers(
        pa.float32(), n * dim, [None, pa.py_buffer(mat.tobytes())]
    )
    return pa.Array.from_buffers(
        pa.list_(pa.float32()), n, [None, pa.py_buffer(offs.tobytes())],
        children=[child],
    )


def np_index_distances(metric: str, mat: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """Batched index distances: (n, d) x (q, d) -> (q, n), float32 BLAS path.

    The numpy analog of the reference's batch distance kernels
    (`/root/reference/rust_lib/src/metal_ffi.rs`, `src/ann_search.cpp:697-732`):
    aggregate the distance work and dispatch as one matrix op.
    """
    m = metric.lower()
    mat = np.ascontiguousarray(mat, dtype=np.float32)
    queries = np.ascontiguousarray(queries, dtype=np.float32)
    if queries.ndim == 1:
        queries = queries[None, :]
    dots = queries @ mat.T  # (q, n)
    if m == "ip":
        return -dots
    if m == "l2":
        qn = (queries * queries).sum(axis=1, keepdims=True)
        mn = (mat * mat).sum(axis=1)[None, :]
        d = qn + mn - 2.0 * dots
        np.maximum(d, 0.0, out=d)
        return d
    if m == "cosine":
        qn = np.linalg.norm(queries, axis=1, keepdims=True)
        mn = np.linalg.norm(mat, axis=1)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            d = 1.0 - dots / (qn * mn)
        # Zero-vector convention: distance is undefined → NaN, matching the
        # Column/DuckDB path (0/0 → NULL there). NaN sorts last under
        # np.argsort and NULL sorts last under our asc_nulls_last top-k, so
        # both paths rank zero vectors identically (i.e. never nearest).
        return d
    raise ValueError(f"Unknown metric '{metric}'. Supported: {', '.join(METRICS)}")


def np_paired_distances(metric: str, mat: np.ndarray, qrows: np.ndarray) -> np.ndarray:
    """Row-paired distances: mat[i] vs qrows[i] (same shape), one einsum
    kernel per metric. The single shared implementation for every
    candidate-pair scorer (knn_join, batch paths) — per-path copies of
    these branches drift (see the one-kernel rule in vamana_core)."""
    m = metric.lower()
    mat = np.asarray(mat, dtype=np.float32)
    qrows = np.asarray(qrows, dtype=np.float32)
    if m == "ip":
        return -np.einsum("ij,ij->i", mat, qrows)
    if m == "l2":
        diff = mat - qrows
        return np.einsum("ij,ij->i", diff, diff)
    if m == "cosine":
        num = np.einsum("ij,ij->i", mat, qrows)
        den = np.linalg.norm(mat, axis=1) * np.linalg.norm(qrows, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return 1.0 - num / den
    raise ValueError(f"Unknown metric '{metric}'. Supported: {', '.join(METRICS)}")


def np_partial_topk(d: np.ndarray, ids: np.ndarray, kk: int) -> np.ndarray:
    """Indices of the kk smallest (distance, id) pairs of one query row.

    argpartition alone breaks distance ties arbitrarily at the boundary
    and can drop the lower-id row before a downstream global merge ever
    sees it; this keeps every row tied with the k-th distance and
    lexsorts the (small) candidate set so the per-batch cut respects
    the engine's ties-on-id-ascending contract."""
    n = d.shape[0]
    if kk >= n:
        return np.lexsort((ids, d))
    part = np.argpartition(d, kk - 1)[:kk]
    t = d[part].max()
    with np.errstate(invalid="ignore"):
        # NB: ~(d > t) keeps NaN IN (NaN > t is False) — deliberately:
        # NaNs sort last in the lexsort below and fall off the [:kk]
        # cut. Do NOT "simplify" to d <= t: when t is itself NaN (fewer
        # than kk finite distances), d <= NaN is all-False and would
        # drop every finite candidate.
        cand = np.flatnonzero(~(d > t))
    order = np.lexsort((ids[cand], d[cand]))[:kk]
    return cand[order]


def np_topk_frame(dists, ids, qidx_values, kk: int, id_col: str,
                  dist_col: str = "_distance"):
    """Assemble the tie-safe per-batch partial top-k of a (nq, n)
    distance matrix into a pandas frame (query_idx, id, distance) — the
    one shared implementation of the cut-and-stack loop every batch
    scorer needs (ivf probe, brute-force batch)."""
    import pandas as pd

    qs_out, ids_out, d_out = [], [], []
    for r, qv in enumerate(qidx_values):
        top = np_partial_topk(dists[r], ids, kk)
        qs_out.append(np.full(len(top), qv, dtype=np.int32))
        ids_out.append(ids[top])
        d_out.append(dists[r][top])
    return pd.DataFrame(
        {
            "query_idx": np.concatenate(qs_out),
            # int64, unconditionally: every consumer declares the id
            # column `long`, and the Arrow-pass consumers
            # (RecordBatch/Table.from_pandas) do NOT coerce — an int32
            # ids input would crash the JVM read (round-13 advice)
            id_col: np.concatenate(ids_out).astype(np.int64, copy=False),
            dist_col: np.concatenate(d_out).astype(np.float64),
        }
    )
