"""`diskann_streaming_build`: out-of-core two-pass index build.

Reference (`src/diskann_functions.cpp:133-211`,
`rust_lib/src/streaming_build.rs:46-127`): read vectors from a raw
binary file `[u32 n][u32 dim][f32 * n * dim]` (little-endian), build a
pilot Vamana graph from a sample (default `max(sqrt(N), 1000)`), then
stream-insert the remainder; write a `.diskann` v2 file. Returns
`(num_vectors, dimension, sample_size)`.

We accept the same raw binary input for parity, plus parquet input
(directory or .parquet file with a vector column) as the Spark-native
path.

Out-of-core for real (round-3 fix): the input is NEVER materialized as
one array. Raw binary streams through a chunked memmap; parquet streams
through pyarrow record batches (row-group granularity). Driver memory is
O(pilot sample + one chunk), matching the reference's pass-2 streaming
(`streaming_build.rs:46-127`), not O(N). The graph itself is in-memory,
as in the reference.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np

from .file_format import write_diskann
from .params import DiskannParams
from .vamana_core import build_graph

__all__ = ["diskann_streaming_build", "read_raw_vectors", "write_raw_vectors"]

CHUNK_ROWS = 8192


def read_raw_vectors(path: str) -> np.ndarray:
    """Read the reference's raw input format: [u32 n][u32 dim][f32 data]."""
    with open(path, "rb") as f:
        head = f.read(8)
        if len(head) < 8:
            raise ValueError(f"Invalid vector file (truncated header): {path}")
        n, dim = struct.unpack("<II", head)
        data = np.fromfile(f, dtype="<f4", count=n * dim)
    if data.size != n * dim:
        raise ValueError(
            f"Invalid vector file: expected {n * dim} floats, got {data.size}"
        )
    return data.reshape(n, dim)


def write_raw_vectors(path: str, vectors: np.ndarray) -> None:
    v = np.ascontiguousarray(vectors, dtype="<f4")
    with open(path, "wb") as f:
        f.write(struct.pack("<II", v.shape[0], v.shape[1]))
        f.write(v.tobytes())


def _raw_header(path: str) -> tuple[int, int]:
    with open(path, "rb") as f:
        head = f.read(8)
    if len(head) < 8:
        raise ValueError(f"Invalid vector file (truncated header): {path}")
    n, dim = struct.unpack("<II", head)
    size = os.path.getsize(path) - 8
    if size < n * dim * 4:
        raise ValueError(
            f"Invalid vector file: expected {n * dim} floats, got {size // 4}"
        )
    return n, dim


def _iter_raw_chunks(path: str, n: int, dim: int) -> Iterator[np.ndarray]:
    """Chunked memmap view — the OS pages in CHUNK_ROWS rows at a time."""
    if n == 0 or dim == 0:
        return
    mm = np.memmap(path, dtype="<f4", mode="r", offset=8, shape=(n, dim))
    for i in range(0, n, CHUNK_ROWS):
        yield np.asarray(mm[i : i + CHUNK_ROWS], dtype=np.float32)


def _iter_parquet_chunks(input_path: str, vec_col: str) -> Iterator[np.ndarray]:
    """Stream parquet record batches (row-group granularity, bounded RAM)."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(input_path, format="parquet")
    # use_threads=False: batch order must be file order — a threaded scan
    # can interleave row groups, making the insert order (and thus the
    # graph) nondeterministic
    for batch in dataset.to_batches(
        columns=[vec_col], batch_size=CHUNK_ROWS, use_threads=False
    ):
        if batch.num_rows:
            yield np.array(batch.column(0).to_pylist(), dtype=np.float32)


def _parquet_count(input_path: str) -> int:
    import pyarrow.dataset as ds

    # footer metadata only — no vector data is read for the count
    return ds.dataset(input_path, format="parquet").count_rows()


def _build_streaming(chunks: Iterator[np.ndarray], n: int, used: int, params):
    """Two-pass build over a chunk stream: buffer only the pilot sample,
    build the pilot graph, then stream-insert every later row."""
    buf: list[np.ndarray] = []
    have = 0
    g = None
    for chunk in chunks:
        if g is None:
            buf.append(chunk)
            have += len(chunk)
            if have >= used:
                allv = np.concatenate(buf) if len(buf) > 1 else buf[0]
                buf.clear()
                g = build_graph(
                    allv[:used],
                    max_degree=params.max_degree,
                    build_complexity=params.build_complexity,
                    alpha=params.alpha,
                    metric=params.metric,
                )
                for v in allv[used:]:
                    g.insert(v)
        else:
            for v in chunk:
                g.insert(v)
    if g is None:  # n == 0 (used <= n guarantees the loop built otherwise)
        g = build_graph(
            np.zeros((0, 0), dtype=np.float32),
            max_degree=params.max_degree,
            build_complexity=params.build_complexity,
            alpha=params.alpha,
            metric=params.metric,
        )
    return g


def diskann_streaming_build(
    input_path: str,
    output_path: str,
    metric: str = "l2",
    max_degree: int = 64,
    build_complexity: int = 128,
    alpha: float = 1.2,
    sample_size: int = 0,
    vec_col: str = "embedding",
) -> tuple[int, int, int]:
    """Build a `.diskann` file from a raw binary or parquet vector file.

    → (num_vectors, dimension, sample_size_used)."""
    params = DiskannParams(
        metric=metric, max_degree=max_degree,
        build_complexity=build_complexity, alpha=alpha,
    )
    if not os.path.exists(input_path):
        raise FileNotFoundError(f"Input file does not exist: {input_path}")

    if input_path.endswith(".parquet") or os.path.isdir(input_path):
        n = _parquet_count(input_path)
        chunks = _iter_parquet_chunks(input_path, vec_col)
    else:
        n, dim = _raw_header(input_path)
        chunks = _iter_raw_chunks(input_path, n, dim)

    used = sample_size if sample_size > 0 else max(int(np.sqrt(n)), 1000)
    used = min(used, n)
    g = _build_streaming(chunks, n, used, params)
    write_diskann(output_path, g)
    return n, (g.dim if g.n else 0), used
