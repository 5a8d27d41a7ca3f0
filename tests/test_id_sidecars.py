"""Per-shard id sidecars (`graph/shard_<s>.ids`, int64 id of each label):
graph searches map labels to ids inside the search task and cut each
query to its top-k by (distance, id) there, so every search surface must
return exactly what a per-shard `search_batch` + id map + (distance, id)
cut returns; every write path must keep one sidecar entry per label."""

import os

import numpy as np
import pytest

import duckdb_ann_spark.index.vamana as vm
from duckdb_ann_spark.index import (
    Catalog,
    create_index,
    delete_from_index,
    drop_index,
    index_scan,
    index_search_table,
    insert_into_index,
    vacuum_index,
)
from duckdb_ann_spark.index.engines import get_engine
from duckdb_ann_spark.index.file_format import ids_path, read_diskann, read_ids

DIM = 8


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "indexes"))


def _data(n=600, seed=3):
    """Clustered rows plus 40 copies of one vector under spread-out ids,
    so hash shards each hold some copies and queries at that vector tie
    across shards."""
    rng = np.random.default_rng(seed)
    cents = rng.normal(0, 1, (6, DIM))
    mat = (cents[rng.integers(0, 6, n)] + rng.normal(0, 0.1, (n, DIM)))
    mat = mat.astype(np.float32)
    mat[::15] = mat[0]
    ids = np.arange(n, dtype=np.int64) * 7 + 3
    return ids, mat


def _frame(spark, ids, mat):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, embedding array<float>",
    )


def _reference(spark, cat, name, queries, k):
    """Per-shard `search_batch` at the index's resolved L over the
    probe sets search uses, labels mapped through the sidecar, cut by
    (distance, id)."""
    m = cat.load(name)
    d = cat.path(name)
    eng = get_engine(m["engine"], m["subtype"])
    files = eng._shard_files(d)
    L = vm._resolve_search_complexity(m, None)
    route = vm._route_centroids(d, m["params"])
    psets = None
    if route is not None and len(files) > 1:
        psets = vm._route_probe_sets(
            route, queries, m["params"]["metric"], m, {s for s, _ in files}
        )
    qm = np.asarray(queries, dtype=np.float32)
    out = []
    for qi in range(len(queries)):
        hits = []
        for s, p in files:
            if psets is not None and s not in psets[qi]:
                continue
            g, _ = vm._load_shard(p)
            ids = read_ids(p, g.n)
            for lab, dist in g.search_batch(qm[qi:qi + 1], k, L)[0]:
                hits.append((dist, int(ids[lab])))
        out += [(qi, i, dist) for dist, i in sorted(hits)[:k]]
    return sorted(out)


@pytest.mark.parametrize("name,opts", [
    ("hash", dict(engine="diskann", max_degree=8, build_complexity=16,
                  shards=4)),
    ("routed", dict(engine="diskann", max_degree=8, build_complexity=16,
                    shards=6, shard_by="cells")),
    ("routed_sq8", dict(engine="diskann", max_degree=8,
                        build_complexity=16, shards=6, shard_by="cells",
                        quantization="sq8")),
    ("hnsw", dict(engine="faiss", type="HNSW", hnsw_m=8, shards=3)),
])
def test_search_surfaces_match_per_shard_reference(spark, cat, name, opts):
    ids, mat = _data()
    create_index(_frame(spark, ids, mat), "vec_id", "embedding", name,
                 catalog=cat, **opts)
    rng = np.random.default_rng(11)
    queries = [[float(x) for x in mat[0]]] + [
        [float(x) for x in mat[i] + rng.normal(0, 0.05, DIM)]
        for i in rng.integers(0, len(mat), 11)
    ]
    # k past a whole hash shard (~150 rows) and a small k under the
    # 40-way distance tie at mat[0]
    for k in (10, 200):
        for nq in (3, 12):  # driver path (<= 8 queries) and distributed
            want = _reference(spark, cat, name, queries[:nq], k)
            got = sorted(
                tuple(r) for r in index_scan(
                    spark, name, queries[:nq], k, catalog=cat
                ).collect()
            )
            assert got == want, (name, k, nq)
        qdf = spark.createDataFrame(
            [(qi * 5, q) for qi, q in enumerate(queries)],
            "qid long, qv array<float>",
        )
        got = sorted(
            (r["qid"] // 5, r["vec_id"], r["_distance"])
            for r in index_search_table(
                spark, name, qdf, "qid", "qv", k, catalog=cat
            ).collect()
        )
        assert got == _reference(spark, cat, name, queries, k), (name, k)
    drop_index(name, cat)


def _check_sidecars(spark, cat, name, want_ids):
    """Every shard has a sidecar with one id per label, and `ids()` /
    `vectors()` return exactly `want_ids` in (shard, label) order."""
    m = cat.load(name)
    d = cat.path(name)
    eng = get_engine(m["engine"], m["subtype"])
    in_order = []
    for _, p in eng._shard_files(d):
        n = read_diskann(p).n
        assert os.path.getsize(ids_path(p)) == 8 * n, p
        in_order += read_ids(p, n).tolist()
    assert sorted(in_order) == sorted(want_ids)
    assert [r[0] for r in eng.ids(spark, d, "vec_id").collect()] == in_order
    assert [r[0] for r in eng.vectors(spark, d).collect()] == in_order


@pytest.mark.parametrize("opts", [
    dict(engine="diskann", max_degree=8, build_complexity=16, shards=2),
    dict(engine="faiss", type="HNSW", hnsw_m=8, shards=2),
])
def test_sidecars_follow_hash_lifecycle(spark, cat, monkeypatch, opts):
    ids, mat = _data(n=300)
    name = "life"
    create_index(_frame(spark, ids[:200], mat[:200]), "vec_id",
                 "embedding", name, catalog=cat, **opts)
    _check_sidecars(spark, cat, name, ids[:200])
    # smallest-shard append
    insert_into_index(spark, name, _frame(spark, ids[200:230], mat[200:230]),
                      catalog=cat)
    _check_sidecars(spark, cat, name, ids[:230])
    # overflow append: every shard is past the cap -> a fresh shard
    monkeypatch.setattr(vm.VamanaEngine, "APPEND_SHARD_CAP", 50)
    insert_into_index(spark, name, _frame(spark, ids[230:], mat[230:]),
                      catalog=cat)
    assert cat.load(name)["shards"] == 3
    _check_sidecars(spark, cat, name, ids)
    delete_from_index(spark, name, ids[:40].tolist(), catalog=cat)
    vacuum_index(spark, name, catalog=cat)
    _check_sidecars(spark, cat, name, ids[40:])
    drop_index(name, cat)


@pytest.mark.parametrize("engine_opts", [
    dict(engine="diskann", max_degree=8, build_complexity=16),
    dict(engine="faiss", type="HNSW", hnsw_m=8),
])
def test_sidecars_follow_routed_lifecycle(spark, cat, engine_opts):
    ids, mat = _data(n=400)
    name = "rlife"
    create_index(_frame(spark, ids[:300], mat[:300]), "vec_id", "embedding",
                 name, shards=6, shard_by="cells", catalog=cat,
                 **engine_opts)
    _check_sidecars(spark, cat, name, ids[:300])
    insert_into_index(spark, name, _frame(spark, ids[300:], mat[300:]),
                      catalog=cat)
    _check_sidecars(spark, cat, name, ids)
    delete_from_index(spark, name, ids[::3].tolist(), catalog=cat)
    vacuum_index(spark, name, catalog=cat)
    _check_sidecars(spark, cat, name, np.setdiff1d(ids, ids[::3]))
    drop_index(name, cat)


def test_bad_sidecar_raises(spark, cat):
    ids, mat = _data(n=100)
    name = "torn"
    create_index(_frame(spark, ids, mat), "vec_id", "embedding", name,
                 engine="diskann", max_degree=8, build_complexity=16,
                 catalog=cat)
    (_, path), = get_engine("diskann", "vamana")._shard_files(cat.path(name))
    q = [[float(x) for x in mat[1]]]
    assert index_scan(spark, name, q, 3, catalog=cat).count() == 3
    with open(ids_path(path), "r+b") as f:
        f.truncate(8 * 99)
    vm._clear_shard_cache()
    with pytest.raises(ValueError, match="recreate the index"):
        index_scan(spark, name, q, 3, catalog=cat).collect()
    os.remove(ids_path(path))
    with pytest.raises(ValueError, match="recreate the index"):
        index_scan(spark, name, q, 3, catalog=cat).collect()
    drop_index(name, cat)
