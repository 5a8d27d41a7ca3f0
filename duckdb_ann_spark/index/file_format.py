"""`.diskann` v2 binary format reader/writer (numpy).

Byte-compatible with the reference (`rust_lib/src/file_format.rs:1-125`):

    [Header: 32 bytes]
      magic "DANN" | version u32(=2) | num_vectors u32 | dimension u32 |
      max_degree u32 | num_entry_points u32 | metric u8 (0=L2, 1=IP) |
      pad[3] | build_complexity u32
    [entry point ids: num_entry_points * u32]
    [vectors: num_vectors * dimension * f32]
    [adjacency: num_vectors * max_degree * u32, u32::MAX-padded]

All little-endian. Optional SQ8 appendix
(`rust_lib/src/index_manager.rs:508-535`):

    "SQ8\\0" | dimension u32 | qlen u64 | mins f32*dim | scales f32*dim |
    codes u8*qlen

The fixed-width layout means executors can `np.memmap` the vector and
adjacency segments straight from shared storage — the Spark analog of
the reference's mmap DiskProvider (`rust_lib/src/disk_provider.rs`).

Layered-HNSW shards reuse the same body (layer-0 adjacency in the
adjacency segment → still mmap-able, still reconstructable by
`vectors()`), plus an HNSW appendix carrying the thin upper layers:

    "HNSW" | m u32 | ef_construction u32 | entry u32 | max_level u32 |
    n u32 | levels u8*n |
    per layer 1..max_level:
      count u32 | count x (label u32 | deg u32 | nbrs u32*deg)

Every index shard `shard_<s>.diskann` has an id sidecar
`shard_<s>.ids` beside it: little-endian int64, entry i = the row id of
label i (the reference keeps its label↔rowid map beside the graph the
same way, `src/include/diskann_index.hpp:144-147`). `write_ids` /
`read_ids` own that format; callers pass the shard's own path.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from .vamana_core import VamanaGraph

MAGIC = b"DANN"
VERSION = 2
HEADER_SIZE = 32
SQ8_MAGIC = b"SQ8\x00"
HNSW_MAGIC = b"HNSW"

_METRIC_TO_U8 = {"l2": 0, "ip": 1}
_U8_TO_METRIC = {0: "l2", 1: "ip"}


def write_diskann(path: str, graph, sq8: tuple | None = None,
                  hnsw=None) -> None:
    """Write a graph as a v2 `.diskann` file (+ optional SQ8 appendix of
    (codes, mins, scales), + optional HNSW upper-layer appendix when
    `hnsw` is the HnswGraph itself). Accepts any graph exposing the
    VamanaGraph storage attributes (HnswGraph serializes its layer-0
    matrix as the body's adjacency). Written to a temp file and renamed
    so a retried/speculative executor task can never leave a torn
    shard."""
    n, dim = graph.n, graph.dim
    eps = np.asarray(graph.entry_points, dtype="<u4")
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(MAGIC)
        f.write(struct.pack("<IIIII", VERSION, n, dim, graph.max_degree, len(eps)))
        f.write(struct.pack("<B3xI", _METRIC_TO_U8[graph.metric],
                            graph.build_complexity))
        f.write(eps.tobytes())
        f.write(np.ascontiguousarray(graph.vectors[:n], dtype="<f4").tobytes())
        f.write(np.ascontiguousarray(graph.adjacency[:n], dtype="<u4").tobytes())
        if sq8 is not None:
            codes, mins, scales = sq8
            f.write(SQ8_MAGIC)
            f.write(struct.pack("<IQ", dim, codes.size))
            f.write(np.ascontiguousarray(mins, dtype="<f4").tobytes())
            f.write(np.ascontiguousarray(scales, dtype="<f4").tobytes())
            f.write(np.ascontiguousarray(codes, dtype="u1").tobytes())
        if hnsw is not None:
            f.write(HNSW_MAGIC)
            f.write(struct.pack(
                "<IIIII", hnsw.m, hnsw.ef_construction,
                max(hnsw.entry_point, 0), hnsw.max_level, n,
            ))
            f.write(np.ascontiguousarray(
                hnsw.levels[:n], dtype="u1").tobytes())
            for layer in range(1, hnsw.max_level + 1):
                d = hnsw.upper[layer - 1] if layer <= len(hnsw.upper) else {}
                items = sorted((lab, ids) for lab, ids in d.items())
                f.write(struct.pack("<I", len(items)))
                for lab, ids in items:
                    ids = np.asarray(ids, dtype="<u4")
                    f.write(struct.pack("<II", int(lab), ids.size))
                    f.write(ids.tobytes())
    os.replace(tmp, path)


def ids_path(shard_path: str) -> str:
    """The id sidecar's path for the shard file at `shard_path`."""
    return os.path.splitext(shard_path)[0] + ".ids"


def write_ids(shard_path: str, ids) -> None:
    """Write the shard's id sidecar (entry i = id of label i), temp file
    + rename like `write_diskann`. Shard writers call this BEFORE
    `write_diskann`, so a reader never sees a label without its id."""
    path = ids_path(shard_path)
    tmp = f"{path}.tmp.{os.getpid()}"
    np.ascontiguousarray(ids, dtype="<i8").tofile(tmp)
    os.replace(tmp, path)


def read_ids(shard_path: str, n: int) -> np.ndarray:
    """The (n,) int64 id array of the shard at `shard_path`, memmapped.
    Raises ValueError when the sidecar is missing or does not hold
    exactly `n` ids — an artifact written before the sidecar format, or
    a torn one."""
    path = ids_path(shard_path)
    size = os.path.getsize(path) if os.path.exists(path) else -1
    if size != 8 * n:
        found = "missing" if size < 0 else f"{size // 8} ids"
        raise ValueError(
            f"Index shard '{shard_path}' has no matching id sidecar "
            f"({found}, expected {n} ids). Drop and recreate the index."
        )
    if n == 0:  # mmap cannot map an empty file
        return np.empty(0, dtype="<i8")
    return np.memmap(path, dtype="<i8", mode="r", shape=(n,))


def read_header(path: str) -> dict:
    with open(path, "rb") as f:
        raw = f.read(HEADER_SIZE)
    if raw[:4] != MAGIC:
        raise ValueError(f"Not a .diskann file (bad magic): {path}")
    version, n, dim, max_degree, n_eps = struct.unpack("<IIIII", raw[4:24])
    metric_u8, build_complexity = struct.unpack("<B3xI", raw[24:32])
    if version != VERSION:
        # reference wording: src/diskann_index.cpp:471
        raise ValueError(
            f"DiskANN index storage version mismatch: found {version}, "
            f"expected {VERSION}. Drop and recreate the index."
        )
    return {
        "num_vectors": n,
        "dimension": dim,
        "max_degree": max_degree,
        "num_entry_points": n_eps,
        "metric": _U8_TO_METRIC.get(metric_u8, "l2"),
        "build_complexity": build_complexity,
    }


def read_diskann(path: str, mmap: bool = False) -> VamanaGraph:
    """Load a v2 file; `mmap=True` memory-maps vectors/adjacency (read-only)."""
    h = read_header(path)
    n, dim, deg = h["num_vectors"], h["dimension"], h["max_degree"]
    ep_off = HEADER_SIZE
    vec_off = ep_off + h["num_entry_points"] * 4
    adj_off = vec_off + n * dim * 4
    eps = np.fromfile(path, dtype="<u4", count=h["num_entry_points"],
                      offset=ep_off)
    if mmap:
        vectors = np.memmap(path, dtype="<f4", mode="r", offset=vec_off,
                            shape=(n, dim))
        adjacency = np.memmap(path, dtype="<u4", mode="r", offset=adj_off,
                              shape=(n, deg))
    else:
        vectors = np.fromfile(path, dtype="<f4", count=n * dim,
                              offset=vec_off).reshape(n, dim)
        adjacency = np.fromfile(path, dtype="<u4", count=n * deg,
                                offset=adj_off).reshape(n, deg)

    g = VamanaGraph(dim, deg, h["build_complexity"], metric=h["metric"],
                    capacity=1)
    g.n = n
    g.vectors = vectors
    g.adjacency = adjacency
    g.entry_points = [int(e) for e in eps]
    return g


def read_sq8(path: str) -> tuple | None:
    """Read the optional SQ8 appendix → (codes, mins, scales) or None."""
    h = read_header(path)
    n, dim, deg = h["num_vectors"], h["dimension"], h["max_degree"]
    base = HEADER_SIZE + h["num_entry_points"] * 4 + n * dim * 4 + n * deg * 4
    with open(path, "rb") as f:
        f.seek(base)
        marker = f.read(4)
        if marker != SQ8_MAGIC:
            return None
        qdim, qlen = struct.unpack("<IQ", f.read(12))
        mins = np.frombuffer(f.read(qdim * 4), dtype="<f4")
        scales = np.frombuffer(f.read(qdim * 4), dtype="<f4")
        codes = np.frombuffer(f.read(qlen), dtype="u1").reshape(-1, qdim)
    return codes, mins, scales


def read_hnsw(path: str, mmap: bool = False):
    """Load a shard as a layered HnswGraph, or None when the file has no
    HNSW appendix (plain Vamana shard). The v2 body supplies vectors +
    layer-0 adjacency (mmap-able); the appendix supplies levels and the
    thin upper layers."""
    from .hnsw_core import HnswGraph

    h = read_header(path)
    n, dim, deg = h["num_vectors"], h["dimension"], h["max_degree"]
    base = HEADER_SIZE + h["num_entry_points"] * 4 + n * dim * 4 + n * deg * 4
    with open(path, "rb") as f:
        f.seek(base)
        marker = f.read(4)
        if marker == SQ8_MAGIC:  # skip a quantization appendix
            qdim, qlen = struct.unpack("<IQ", f.read(12))
            f.seek(qdim * 8 + qlen, 1)
            marker = f.read(4)
        if marker != HNSW_MAGIC:
            return None
        m, ef, entry, max_level, n2 = struct.unpack("<IIIII", f.read(20))
        levels = np.frombuffer(f.read(n2), dtype=np.uint8).copy()
        upper: list[dict] = []
        for _layer in range(1, max_level + 1):
            (count,) = struct.unpack("<I", f.read(4))
            d = {}
            for _ in range(count):
                lab, deg_l = struct.unpack("<II", f.read(8))
                d[int(lab)] = np.frombuffer(
                    f.read(4 * deg_l), dtype="<u4"
                ).astype(np.int64)
            upper.append(d)

    body = read_diskann(path, mmap=mmap)
    g = HnswGraph(body.dim, m, ef, metric=body.metric, capacity=1)
    g.n = body.n
    g.vectors = body.vectors
    g.adjacency = body.adjacency
    g.levels = levels
    g.upper = upper
    g.entry_point = int(entry) if body.n else -1
    g.max_level = int(max_level)
    return g
