"""Layered HNSW core: structure, recall, determinism, serialization.

Gated the way the reference gates its faiss HNSW (recall floors, param
plumbing, lifecycle) plus structural checks that this is genuinely the
layered algorithm, not a flat graph under HNSW names."""

import os
import numpy as np
import pytest

from duckdb_ann_spark.index.file_format import read_hnsw, write_diskann
from duckdb_ann_spark.index.hnsw_core import HnswGraph, _level_for, build_hnsw


@pytest.fixture(scope="module")
def vecs():
    rng = np.random.default_rng(7)
    return rng.random((600, 32), dtype=np.float32)


@pytest.fixture(scope="module")
def graph(vecs):
    return build_hnsw(vecs, m=16, ef_construction=40, metric="l2")


def _brute(vecs, q, k):
    d = ((vecs - q) ** 2).sum(axis=1)
    return [int(i) for i in np.lexsort((np.arange(len(vecs)), d))[:k]]


def test_levels_are_geometric(graph):
    """A real HNSW has a thinning hierarchy: most nodes only on layer 0,
    a ~1/M fraction per extra level, and at least one upper level for
    600 nodes at M=16."""
    lv = graph.levels[: graph.n]
    assert graph.max_level >= 1
    assert (lv == 0).sum() > 0.8 * graph.n  # overwhelmingly layer-0-only
    assert (lv >= 1).sum() >= 1
    # the entry point is a top-level node
    assert lv[graph.entry_point] == graph.max_level
    # upper-layer adjacency exists exactly for the nodes assigned there
    assert set(graph.upper[0].keys()) == {int(i) for i in np.where(lv >= 1)[0]}


def test_level_assignment_deterministic():
    ml = 1.0 / np.log(16)
    a = [_level_for(i, ml) for i in range(1000)]
    b = [_level_for(i, ml) for i in range(1000)]
    assert a == b
    # expected geometric decay: fraction at level>=1 near 1/16
    frac = sum(1 for x in a if x >= 1) / 1000
    assert 0.02 < frac < 0.15


def test_degree_bounds(graph):
    assert (
        (graph.adjacency[: graph.n] != np.uint32(0xFFFFFFFF)).sum(axis=1)
        <= graph.m0
    ).all()
    for layer in graph.upper:
        for ids in layer.values():
            assert len(ids) <= graph.m


def test_recall_floor(vecs, graph):
    """>= 0.9 recall@10 at efSearch=80 on 600 uniform vectors — well
    above the reference's asserted 0.70 floor."""
    rng = np.random.default_rng(11)
    qs = rng.random((30, 32), dtype=np.float32)
    hit = 0
    for q in qs:
        want = set(_brute(vecs, q, 10))
        got = {i for i, _ in graph.search(q, 10, search_complexity=80)}
        hit += len(got & want)
    assert hit / (30 * 10) >= 0.9, hit / 300


def test_exact_when_ef_covers_all(vecs, graph):
    """efSearch >= n degenerates to exact (the driver's hash-compared
    entry relies on this)."""
    q = vecs[0]
    got = [i for i, _ in graph.search(q, 10, search_complexity=graph.n)]
    assert got == _brute(vecs, q, 10)


def test_build_deterministic(vecs):
    g2 = build_hnsw(vecs, m=16, ef_construction=40, metric="l2")
    g1 = build_hnsw(vecs, m=16, ef_construction=40, metric="l2")
    assert np.array_equal(
        g1.adjacency[: g1.n], g2.adjacency[: g2.n]
    )
    assert g1.entry_point == g2.entry_point and g1.max_level == g2.max_level


def test_serialization_roundtrip(tmp_path, vecs, graph):
    path = str(tmp_path / "h.diskann")
    write_diskann(path, graph, None, hnsw=graph)
    g2 = read_hnsw(path, mmap=True)
    assert g2 is not None
    assert g2.n == graph.n and g2.m == graph.m
    assert g2.entry_point == graph.entry_point
    assert g2.max_level == graph.max_level
    assert np.array_equal(g2.levels[: g2.n], graph.levels[: graph.n])
    assert np.array_equal(g2.adjacency[: g2.n], graph.adjacency[: graph.n])
    for la, lb in zip(graph.upper, g2.upper):
        assert set(la) == set(lb)
        for k in la:
            assert np.array_equal(la[k], lb[k])
    q = vecs[3]
    assert graph.search(q, 5, 64) == g2.search(q, 5, 64)


def test_insert_after_load(tmp_path, vecs):
    """Append path: inserts into a reloaded graph keep searching."""
    g = build_hnsw(vecs[:500], m=16, ef_construction=40)
    path = str(tmp_path / "h2.diskann")
    write_diskann(path, g, None, hnsw=g)
    g2 = read_hnsw(path, mmap=False)
    for v in vecs[500:]:
        g2.insert(v)
    assert g2.n == 600
    q = vecs[510]
    hits = [i for i, _ in g2.search(q, 3, search_complexity=120)]
    assert 510 in hits


def test_sharded_hnsw_engine(spark, sf_dir, tmp_path):
    """shards=4: four independent layered graphs built in executors, all
    searched and merged; recall vs brute force clears the floor and the
    artifact holds 4 HNSW-appendix shard files."""
    import glob
    from pyspark.sql import functions as F
    from duckdb_ann_spark.index import Catalog, create_index, index_scan
    from duckdb_ann_spark.operators.topk import topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cat = Catalog(str(tmp_path / "idx"))
    m = create_index(
        emb, "vec_id", "embedding", "sh", engine="faiss", type="HNSW",
        hnsw_m=16, shards=4, catalog=cat,
    )
    assert m["shards"] == 4 and m["layout"] == "hnsw-layered"
    paths = glob.glob(f"{cat.path('sh')}/graph/*.diskann")
    assert len(paths) == 4
    for p in paths:
        assert read_hnsw(p) is not None  # every shard is layered

    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    got = {r.vec_id for r in
           index_scan(spark, "sh", [qv], 10, search_complexity=64,
                      catalog=cat).collect()}
    want = {r.vec_id for r in
            topk(emb, "embedding", qv, 10, "l2", id_col="vec_id").collect()}
    assert len(got & want) >= 7, (sorted(got), sorted(want))


def test_hnsw_auto_shards_no_driver_collect(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """Default shards=0 resolves to one shard per AUTO_SHARD_ROWS above
    the threshold, and the build never collects the source table to the
    driver (the round-4 scale-killer: shards=1 routed CREATE INDEX
    through src.toPandas())."""
    import glob
    from pyspark.sql import DataFrame, functions as F
    from duckdb_ann_spark.index import Catalog, create_index, index_scan
    from duckdb_ann_spark.index.params import FaissParams
    from duckdb_ann_spark.operators.topk import topk

    monkeypatch.setattr(FaissParams, "AUTO_SHARD_ROWS", 100)
    calls = []
    orig = DataFrame.toPandas
    monkeypatch.setattr(
        DataFrame, "toPandas",
        lambda self: (calls.append(1), orig(self))[1],
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cat = Catalog(str(tmp_path / "idx3"))
    m = create_index(emb, "vec_id", "embedding", "hauto", engine="faiss",
                     type="HNSW", hnsw_m=16, catalog=cat)
    assert not calls, "auto-sharded HNSW build collected to the driver"
    assert m["shards"] == 5  # 500 rows / 100 per shard
    paths = glob.glob(f"{cat.path('hauto')}/graph/*.diskann")
    assert len(paths) == 5
    for p in paths:
        assert read_hnsw(p) is not None  # every shard is layered

    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    got = {r.vec_id for r in
           index_scan(spark, "hauto", [qv], 10, search_complexity=64,
                      catalog=cat).collect()}
    want = {r.vec_id for r in
            topk(emb, "embedding", qv, 10, "l2", id_col="vec_id").collect()}
    assert len(got & want) >= 7, (sorted(got), sorted(want))


def test_sharded_hnsw_append_routes_smallest(spark, tmp_path):
    """Appends land in ONE shard (smallest), stay layered, and are
    immediately searchable."""
    import glob
    import numpy as np
    from duckdb_ann_spark.index import (
        Catalog, create_index, index_scan, insert_into_index,
    )

    rng = np.random.default_rng(9)
    vecs = rng.random((300, 16)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "id long, v array<float>",
    )
    cat = Catalog(str(tmp_path / "idx2"))
    create_index(df.where("id < 280"), "id", "v", "ha", engine="faiss",
                 type="HNSW", hnsw_m=8, shards=2, catalog=cat)
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{cat.path('ha')}/graph/*.diskann")
    }
    insert_into_index(spark, "ha", df.where("id >= 280"), cat)
    after = glob.glob(f"{cat.path('ha')}/graph/*.diskann")
    rewritten = [p for p in after
                 if p not in before or os.path.getmtime(p) != before[p]]
    assert len(rewritten) == 1  # exactly one shard file touched
    assert read_hnsw(rewritten[0]) is not None  # still layered
    q = [float(x) for x in vecs[290]]
    hits = [r.id for r in
            index_scan(spark, "ha", [q], 3, search_complexity=100,
                       catalog=cat).collect()]
    assert hits[0] == 290


def test_ip_metric_hnsw(vecs):
    """metric='ip': ranking by negated dot product, exact at ef >= n."""
    g = build_hnsw(vecs, m=16, ef_construction=40, metric="ip")
    q = vecs[5]
    got = [i for i, _ in g.search(q, 10, search_complexity=g.n)]
    d = -(vecs @ q)
    want = [int(i) for i in np.lexsort((np.arange(len(vecs)), d))[:10]]
    assert got == want


def test_ip_sink_still_returns_k():
    """A 1-dim IP graph at m=2 has a layer-0 sink of five mutually
    nearest nodes the descent lands in; search (and its slab twin)
    still returns min(k, n) hits, the beam's five first."""
    vecs = np.random.default_rng(0).uniform(
        -1.0, 1.0, size=(28, 1)).astype(np.float32)
    g = build_hnsw(vecs, m=2, ef_construction=8, metric="ip")
    hits = g.search(vecs[0], 6, search_complexity=8)
    assert len(hits) == 6
    ds = [d for _, d in hits]
    assert ds == sorted(ds)
    assert g.search_batch_slab(vecs[:1], 6, 8)[0] == hits
    want = np.lexsort((np.arange(28), -(vecs @ vecs[0])))[:5]
    assert [i for i, _ in hits[:5]] == want.tolist()


def test_hnsw_vacuum_and_merge_lifecycle(spark, sf_dir, tmp_path):
    """Vacuum rebuilds an HNSW index without tombstones (still layered);
    merge_indexes folds another index's vectors in — including a
    CROSS-ENGINE source (IVF artifact vectors into an HNSW index), since
    every engine exposes the same vectors() reconstruction."""
    import glob
    from pyspark.sql import functions as F
    from duckdb_ann_spark.index import (
        Catalog, create_index, delete_from_index, index_scan,
        merge_indexes, vacuum_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cat = Catalog(str(tmp_path / "idx"))
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]

    create_index(emb, "vec_id", "embedding", "hv", engine="faiss",
                 type="HNSW", hnsw_m=8, catalog=cat)
    delete_from_index(spark, "hv", [1, 2, 3], catalog=cat)
    m = vacuum_index(spark, "hv", catalog=cat)
    assert m["num_vectors"] == emb.count() - 3 and m["num_deleted"] == 0
    for p in glob.glob(f"{cat.path('hv')}/graph/*.diskann"):
        assert read_hnsw(p) is not None  # rebuild stayed layered
    got = [r.vec_id for r in
           index_scan(spark, "hv", [qv], 5, search_complexity=500,
                      catalog=cat).collect()]
    assert got[0] == 0 and {1, 2, 3}.isdisjoint(got)

    # cross-engine merge: IVF source vectors into the HNSW destination
    create_index(emb.where("vec_id < 100"), "vec_id", "embedding", "src_ivf",
                 engine="faiss", type="IVFFlat", ivf_nlist=4, nprobe=4,
                 catalog=cat)
    create_index(emb.where("vec_id >= 100"), "vec_id", "embedding", "dst_h",
                 engine="faiss", type="HNSW", hnsw_m=8, catalog=cat)
    mm = merge_indexes(spark, "dst_h", "src_ivf", catalog=cat)
    assert mm["num_vectors"] == emb.count()
    got = [r.vec_id for r in
           index_scan(spark, "dst_h", [qv], 3, search_complexity=500,
                      catalog=cat).collect()]
    assert got[0] == 0  # vec 0 came from the merged IVF source


def test_hnsw_search_batch_slab_recall_parity():
    """Round 14: the layered slab search twin must hold recall at the
    same ef as the sequential beam (waved layer-0 expansion, documented
    not-byte-parity) and return the same shape."""
    import numpy as np

    from duckdb_ann_spark.index.hnsw_core import build_hnsw

    rng = np.random.default_rng(19)
    n, dim, k = 1500, 16, 5
    vecs = rng.random((n, dim), dtype=np.float32)
    g = build_hnsw(vecs, m=16, ef_construction=40)
    qs = rng.random((50, dim), dtype=np.float32)
    d = ((vecs[None, :, :] - qs[:, None, :]) ** 2).sum(-1)
    truth = [set(np.argsort(x)[:k].tolist()) for x in d]

    def recall(res):
        return sum(
            len({i for i, _ in r[:k]} & truth[qi])
            for qi, r in enumerate(res)
        ) / (len(qs) * k)

    r_seq = recall(g.search_batch(qs, k, 40))
    r_slab = recall(g.search_batch_slab(qs, k, 40))
    assert r_slab >= r_seq - 0.02, (r_slab, r_seq)
    assert r_slab >= 0.9, r_slab
    out = g.search_batch_slab(qs[:2], k, 40)
    assert len(out) == 2 and len(out[0]) == k
    ds = [dd for _, dd in out[0]]
    assert ds == sorted(ds)


def test_hnsw_wave_insert_recall_parity():
    """Round 14: wave-batched level-0 HNSW inserts hold recall parity
    with the per-row slab body (upper layers are untouched by level-0
    waves, so only the layer-0 pools relax to the wave snapshot)."""
    import numpy as np

    import duckdb_ann_spark.index.vamana_core as vc
    from duckdb_ann_spark.index.hnsw_core import build_hnsw

    rng = np.random.default_rng(23)
    n, dim, k = 2000, 16, 10
    vecs = rng.random((n, dim), dtype=np.float32)
    qs = rng.random((50, dim), dtype=np.float32)
    d = ((vecs[None, :, :] - qs[:, None, :]) ** 2).sum(-1)
    truth = [set(np.argsort(x)[:k].tolist()) for x in d]

    def recall(g):
        res = g.search_batch(qs, k, 40)
        return sum(
            len({i for i, _ in r} & truth[qi]) for qi, r in enumerate(res)
        ) / (len(qs) * k)

    old = vc.WAVE_ROWS
    try:
        vc.WAVE_ROWS = 16
        gw = build_hnsw(vecs, m=16, ef_construction=40)
        vc.WAVE_ROWS = 0
        gr = build_hnsw(vecs, m=16, ef_construction=40)
    finally:
        vc.WAVE_ROWS = old
    rw, rr = recall(gw), recall(gr)
    assert rw >= rr - 0.03, (rw, rr)
    assert rw >= 0.85, rw
    # upper layers identical (level assignment is label-deterministic
    # and level-1+ rows insert sequentially in both modes)
    assert np.array_equal(gw.levels[:n], gr.levels[:n])
