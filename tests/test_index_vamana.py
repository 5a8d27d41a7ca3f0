"""DiskANN engine through the index API (recall, shards, sq8, delete)."""

import pytest
from pyspark.sql import functions as F

from duckdb_ann_spark.index import (
    Catalog,
    ann_index_info,
    create_index,
    delete_from_index,
    drop_index,
    index_scan,
    vacuum_index,
)
from duckdb_ann_spark.operators.topk import topk


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "indexes"))


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def qvec(emb):
    row = emb.where(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row[0]]


def _want(emb, qvec, k=10, metric="l2"):
    return [
        r.vec_id
        for r in topk(emb, "embedding", qvec, k, metric, id_col="vec_id").collect()
    ]


def test_build_and_recall(spark, emb, qvec, cat):
    m = create_index(
        emb, "vec_id", "embedding", "dk", engine="diskann",
        max_degree=32, build_complexity=64, catalog=cat,
    )
    assert m["engine"] == "DISKANN" and m["subtype"] == "vamana"
    got = [r.vec_id for r in index_scan(spark, "dk", [qvec], 10, catalog=cat).collect()]
    assert got[0] == 0  # self-match first
    assert len(set(got) & set(_want(emb, qvec))) >= 7


def test_sharded_build_recall(spark, emb, qvec, cat):
    create_index(
        emb, "vec_id", "embedding", "dks", engine="diskann",
        max_degree=32, build_complexity=64, shards=4, catalog=cat,
    )
    got = [r.vec_id for r in index_scan(spark, "dks", [qvec], 10, catalog=cat).collect()]
    assert got[0] == 0
    assert len(set(got) & set(_want(emb, qvec))) >= 7


def test_sq8_quantized(spark, emb, qvec, cat):
    """diskann_quantization.test: sq8 index still returns the exact-match
    id first; ann_index_info reports quantized=true."""
    create_index(
        emb, "vec_id", "embedding", "dkq", engine="diskann",
        max_degree=32, build_complexity=64, quantization="sq8", catalog=cat,
    )
    got = [r.vec_id for r in index_scan(spark, "dkq", [qvec], 10, catalog=cat).collect()]
    assert got[0] == 0
    info = ann_index_info(spark, cat).where(F.col("name") == "dkq").collect()[0]
    assert info.quantized is True
    assert len(set(got) & set(_want(emb, qvec))) >= 6  # sq8 loses a little


def test_delete_and_vacuum(spark, emb, qvec, cat):
    create_index(
        emb, "vec_id", "embedding", "dkd", engine="diskann",
        max_degree=32, build_complexity=64, catalog=cat,
    )
    before = [r.vec_id for r in index_scan(spark, "dkd", [qvec], 5, catalog=cat).collect()]
    delete_from_index(spark, "dkd", before[:2], catalog=cat)
    after = [r.vec_id for r in index_scan(spark, "dkd", [qvec], 5, catalog=cat).collect()]
    assert set(after).isdisjoint(before[:2]) and len(after) == 5
    m = vacuum_index(spark, "dkd", catalog=cat)
    assert m["num_vectors"] == emb.count() - 2 and m["num_deleted"] == 0
    again = [r.vec_id for r in index_scan(spark, "dkd", [qvec], 5, catalog=cat).collect()]
    assert set(again).isdisjoint(before[:2])


def test_search_complexity_improves_recall(spark, emb, qvec, cat):
    create_index(
        emb, "vec_id", "embedding", "dkl", engine="diskann",
        max_degree=8, build_complexity=16, catalog=cat,
    )
    want = set(_want(emb, qvec, 20))
    lo = {r.vec_id for r in
          index_scan(spark, "dkl", [qvec], 20, search_complexity=20, catalog=cat).collect()}
    hi = {r.vec_id for r in
          index_scan(spark, "dkl", [qvec], 20, search_complexity=200, catalog=cat).collect()}
    assert len(hi & want) >= len(lo & want)


def test_auto_shards_resolution(spark, emb, qvec, cat, monkeypatch):
    """shards=0 (default) resolves to one graph per AUTO_SHARD_ROWS; at
    or below the threshold it is the reference-parity single build."""
    import os
    from duckdb_ann_spark.index.params import DiskannParams

    monkeypatch.setattr(DiskannParams, "AUTO_SHARD_ROWS", 100)
    drop_index("vam_auto", cat)
    create_index(
        emb, "vec_id", "embedding", "vam_auto", engine="diskann",
        max_degree=16, build_complexity=32, catalog=cat,
    )
    gdir = os.path.join(cat.path("vam_auto"), "graph")
    n_shards = len([f for f in os.listdir(gdir) if f.endswith(".diskann")])
    assert n_shards == 5  # 500 rows / 100 per shard
    hits = index_scan(spark, "vam_auto", [qvec], k=5, catalog=cat).collect()
    assert len(hits) == 5
    drop_index("vam_auto", cat)


# ---- append shard routing (round-3 scale fix) ------------------------


def _shard_digests(gdir):
    import hashlib
    import os

    out = {}
    for f in os.listdir(gdir):
        if f.endswith(".diskann"):
            with open(os.path.join(gdir, f), "rb") as fh:
                out[f] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_append_rewrites_only_smallest_shard(spark, emb, qvec, cat):
    """Appends on a multi-shard index go to the SMALLEST shard; every
    other shard file stays byte-identical (round-2 verdict: the old path
    always rewrote shard 0, which grows without bound at scale)."""
    import os

    from duckdb_ann_spark.index import insert_into_index

    create_index(
        emb.where(F.col("vec_id") < 400), "vec_id", "embedding", "dka",
        engine="diskann", max_degree=16, build_complexity=32, shards=4,
        catalog=cat,
    )
    gdir = os.path.join(cat.path("dka"), "graph")
    before = _shard_digests(gdir)
    sizes = {f: os.path.getsize(os.path.join(gdir, f)) for f in before}
    smallest = min(sizes, key=sizes.get)

    insert_into_index(
        spark, "dka", emb.where(F.col("vec_id").between(400, 449)), cat
    )
    after = _shard_digests(gdir)
    changed = [f for f in before if after[f] != before[f]]
    assert changed == [smallest]
    # appended rows are searchable
    row = emb.where(F.col("vec_id") == 425).select("embedding").head()
    hits = [
        r.vec_id
        for r in index_scan(
            spark, "dka", [[float(x) for x in row[0]]], 5, catalog=cat
        ).collect()
    ]
    assert hits[0] == 425


def test_append_overflow_opens_new_shard(spark, emb, cat, monkeypatch):
    """When every shard is at APPEND_SHARD_CAP, the append builds a fresh
    overflow shard and leaves all existing shard files byte-identical."""
    import os

    from duckdb_ann_spark.index import insert_into_index
    from duckdb_ann_spark.index.vamana import VamanaEngine

    monkeypatch.setattr(VamanaEngine, "APPEND_SHARD_CAP", 10)
    create_index(
        emb.where(F.col("vec_id") < 100), "vec_id", "embedding", "dko",
        engine="diskann", max_degree=16, build_complexity=32, shards=2,
        catalog=cat,
    )
    gdir = os.path.join(cat.path("dko"), "graph")
    before = _shard_digests(gdir)
    insert_into_index(
        spark, "dko", emb.where(F.col("vec_id").between(100, 119)), cat
    )
    after = _shard_digests(gdir)
    assert len(after) == len(before) + 1  # new overflow shard file
    assert all(after[f] == before[f] for f in before)  # untouched shards
    row = emb.where(F.col("vec_id") == 110).select("embedding").head()
    hits = [
        r.vec_id
        for r in index_scan(
            spark, "dko", [[float(x) for x in row[0]]], 3, catalog=cat
        ).collect()
    ]
    assert hits[0] == 110


def test_ragged_query_batch_returns_empty(spark, emb, qvec, cat):
    """A batch whose FIRST query matches the index dim but a later one
    doesn't must return the reference's empty result, not crash in the
    engine (round-2 advisory finding)."""
    create_index(
        emb, "vec_id", "embedding", "dkr", engine="diskann",
        max_degree=16, build_complexity=32, catalog=cat,
    )
    ragged = [qvec, qvec[: len(qvec) // 2]]
    assert index_scan(spark, "dkr", ragged, 5, catalog=cat).count() == 0


def test_create_index_medoid_start(spark, tmp_path):
    """start_strategy plumbs WITH-options -> params -> build; the shard
    entry point is the medoid and search stays correct."""
    import numpy as np
    from duckdb_ann_spark.index import Catalog, create_index, index_scan
    from duckdb_ann_spark.index.file_format import read_diskann
    from duckdb_ann_spark.index.vamana_core import compute_medoid

    rng = np.random.default_rng(3)
    vecs = rng.random((120, 8)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "id long, v array<float>",
    )
    cat = Catalog(str(tmp_path / "idx"))
    m = create_index(df, "id", "v", "med", engine="diskann", shards=1,
                     max_degree=12, build_complexity=24,
                     start_strategy="medoid", catalog=cat)
    assert m["params"]["start_strategy"] == "medoid"
    g = read_diskann(f"{cat.path('med')}/graph/shard_0.diskann")
    assert g.entry_points == [compute_medoid(g.vectors[:g.n], "l2")]
    hits = index_scan(spark, "med", [[0.5] * 8], 3, catalog=cat).collect()
    assert len(hits) == 3


def test_append_delta_cap_raises(spark, emb, cat, monkeypatch):
    """Round-6 guard: an append delta past MAX_APPEND_ROWS raises (the
    delta is collected to the driver for sequential insert — reference
    semantics — and used to OOM silently on bulk misuse) and the error
    names the bulk-load alternatives."""
    from duckdb_ann_spark.index import insert_into_index
    from duckdb_ann_spark.index.vamana import VamanaEngine

    create_index(
        emb.where(F.col("vec_id") < 50), "vec_id", "embedding", "capped",
        engine="diskann", max_degree=16, build_complexity=32, catalog=cat,
    )
    monkeypatch.setattr(VamanaEngine, "MAX_APPEND_ROWS", 10)
    with pytest.raises(ValueError, match="merge_indexes"):
        insert_into_index(
            spark, "capped", emb.where(F.col("vec_id").between(50, 80)), cat
        )
    # an in-bounds delta still lands
    insert_into_index(
        spark, "capped", emb.where(F.col("vec_id").between(50, 55)), cat
    )


def test_shard_cache_lru_bounded(tmp_path):
    """The per-process shard cache is LRU-bounded: touching more than
    MAX_CACHED_SHARDS distinct shard files evicts the least recently
    used (round 7 — SQ8 shards cache a dequantized float32 matrix, so
    an unbounded cache leaks in long-lived executors)."""
    import numpy as np

    import duckdb_ann_spark.index.vamana as vm
    from duckdb_ann_spark.index.file_format import write_diskann, write_ids
    from duckdb_ann_spark.index.vamana_core import build_graph

    g = build_graph(np.ones((3, 4), dtype=np.float32), max_degree=4,
                    build_complexity=8)
    old_max = vm.MAX_CACHED_SHARDS
    try:
        vm._clear_shard_cache()
        vm.MAX_CACHED_SHARDS = 3
        paths = []
        for i in range(5):
            p = str(tmp_path / f"s{i}.diskann")
            write_ids(p, np.arange(g.n))
            write_diskann(p, g)
            paths.append(p)
            vm._load_shard(p)
        assert len(vm._GRAPH_CACHE) == 3
        cached = {k[0] for k in vm._GRAPH_CACHE}
        assert cached == set(paths[2:])  # oldest two evicted
        vm._load_shard(paths[2])  # LRU touch
        vm._load_shard(paths[0])  # reload; evicts paths[3] (now LRU)
        cached = {k[0] for k in vm._GRAPH_CACHE}
        assert paths[2] in cached and paths[0] in cached
        assert paths[3] not in cached
    finally:
        vm.MAX_CACHED_SHARDS = old_max
        vm._clear_shard_cache()


def test_sq8_shard_cache_stays_quantized(tmp_path):
    """Round-8 (r7 verdict #2): a cached SQ8 shard must pin ~n*dim
    resident bytes (u8 codes + per-dim min/scale), NOT the 4*n*dim
    dequantized float32 matrix — the reference's SQ8 resource contract
    (provider.rs:161-231: u8 resident, dequantize on read). Search
    results through the lazy view are bitwise identical to the full
    dequantized matrix."""
    import numpy as np

    import duckdb_ann_spark.index.vamana as vm
    from duckdb_ann_spark.index.file_format import write_diskann, write_ids
    from duckdb_ann_spark.index.vamana_core import (
        SQ8Vectors,
        build_graph,
        sq8_dequantize,
        sq8_quantize,
    )

    rng = np.random.default_rng(8)
    n, dim = 400, 32
    vecs = rng.random((n, dim), dtype=np.float32)
    g = build_graph(vecs, max_degree=8, build_complexity=16)
    p = str(tmp_path / "q.diskann")
    write_ids(p, np.arange(n))
    write_diskann(p, g, sq8_quantize(vecs))
    try:
        vm._clear_shard_cache()
        loaded, _ = vm._load_shard(p)
        assert isinstance(loaded.vectors, SQ8Vectors)
        # resident accounting: codes (n*dim u1) + mins/scale (2*dim f4),
        # plus nothing else materialized (body vectors/adjacency are mmap)
        (_, nbytes), = vm._GRAPH_CACHE.values()
        assert nbytes == n * dim + 2 * dim * 4
        assert nbytes < 4 * n * dim / 3  # far under the f32 matrix
        assert vm._CACHE_BYTES == nbytes
        # row-lazy dequantize is bitwise-equal to the full matrix
        full = sq8_dequantize(loaded.vectors.codes, loaded.vectors.mins,
                              loaded.vectors.scale)
        idx = rng.integers(0, n, size=50)
        assert np.array_equal(loaded.vectors[idx], full[idx])
        assert np.array_equal(loaded.vectors[3], full[3])
        # search through the view == search over the dequantized matrix
        q = rng.random(dim, dtype=np.float32)
        got = loaded.search(q, 5, search_complexity=32)
        loaded.vectors = full
        want = loaded.search(q, 5, search_complexity=32)
        assert got == want
    finally:
        vm._clear_shard_cache()


def test_shard_cache_byte_budget(tmp_path):
    """The cache evicts by RESIDENT BYTES, not only entry count: two
    resident SQ8 shards over the budget drop the least-recently-used
    even with the count cap far away."""
    import numpy as np

    import duckdb_ann_spark.index.vamana as vm
    from duckdb_ann_spark.index.file_format import write_diskann, write_ids
    from duckdb_ann_spark.index.vamana_core import build_graph, sq8_quantize

    rng = np.random.default_rng(9)
    n, dim = 300, 16
    per_shard = n * dim + 2 * dim * 4
    old_budget = vm.MAX_CACHED_BYTES
    try:
        vm._clear_shard_cache()
        vm.MAX_CACHED_BYTES = int(per_shard * 2.5)  # fits 2, not 3
        paths = []
        for i in range(4):
            vecs = rng.random((n, dim), dtype=np.float32)
            g = build_graph(vecs, max_degree=8, build_complexity=16)
            p = str(tmp_path / f"b{i}.diskann")
            write_ids(p, np.arange(n))
            write_diskann(p, g, sq8_quantize(vecs))
            paths.append(p)
            vm._load_shard(p)
        assert len(vm._GRAPH_CACHE) == 2
        assert {k[0] for k in vm._GRAPH_CACHE} == set(paths[2:])
        assert vm._CACHE_BYTES == 2 * per_shard
        assert vm._CACHE_BYTES <= vm.MAX_CACHED_BYTES
    finally:
        vm.MAX_CACHED_BYTES = old_budget
        vm._clear_shard_cache()
