"""Lifecycle edge cases surfaced by the round-5 core review: empty-index
bootstrap, delete-then-reinsert semantics, hostile column names, catalog
hygiene, kmeans reseeding, and the shard-cache rewrite leak."""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_ann_spark.index import (
    Catalog,
    create_index,
    delete_from_index,
    drop_index,
    index_scan,
    insert_into_index,
    vacuum_index,
)

ROOT = os.path.join(tempfile.gettempdir(), f"idx_robust_{os.getpid()}")


@pytest.fixture()
def cat():
    return Catalog(ROOT)


def _vecs(spark, ids, dim=4, id_col="vec_id", vec_col="embedding"):
    rows = [(int(i), [float(i % 7 + j) for j in range(dim)]) for i in ids]
    qa, qb = f"`{id_col}`", f"`{vec_col}`"
    return spark.createDataFrame(rows, f"{qa} long, {qb} array<float>")


@pytest.mark.parametrize("engine,opts", [
    ("faiss", {}),
    ("faiss", {"type": "HNSW", "hnsw_m": 8}),
    # full probe: a partial probe may legitimately return < k rows when
    # the probed cells are small — not what this bootstrap test checks
    ("faiss", {"type": "IVFFlat", "ivf_nlist": 4, "nprobe": 4}),
    ("diskann", {}),
])
def test_create_empty_then_insert(spark, cat, engine, opts):
    """An index created over 0 rows must adopt the first real batch's
    dimension instead of being a permanent dim=0 dead-end (the
    create-empty-then-stream-inserts flow)."""
    name = f"rob_empty_{engine}_{opts.get('type', 'flat')}"
    drop_index(name, cat)
    empty = _vecs(spark, [])
    m = create_index(empty, "vec_id", "embedding", name, engine=engine,
                     table_name="t", catalog=cat, **opts)
    assert m["dim"] == 0 and m["num_vectors"] == 0
    m = insert_into_index(spark, name, _vecs(spark, range(12)), catalog=cat)
    assert m["dim"] == 4 and m["num_vectors"] == 12
    hits = index_scan(spark, name, [[0.0, 1.0, 2.0, 3.0]], k=3, catalog=cat)
    assert hits.count() == 3
    drop_index(name, cat)


def test_vacuum_and_merge_with_empty_indexes(spark, cat):
    """Vacuum of an empty index is a no-op; the empty IVF artifact reads
    as empty frames (known schema, nothing to infer from); merging an
    empty source is a no-op and an empty DESTINATION adopts the
    source's vectors and dimension."""
    from duckdb_ann_spark.index import merge_indexes

    for n in ("rob_me_full", "rob_me_empty", "rob_me_ivf"):
        drop_index(n, cat)
    create_index(_vecs(spark, range(8)), "vec_id", "embedding",
                 "rob_me_full", engine="faiss", table_name="t", catalog=cat)
    create_index(_vecs(spark, []), "vec_id", "embedding", "rob_me_empty",
                 engine="faiss", table_name="t", catalog=cat)
    create_index(_vecs(spark, []), "vec_id", "embedding", "rob_me_ivf",
                 engine="faiss", table_name="t", type="IVFFlat",
                 ivf_nlist=4, catalog=cat)
    from duckdb_ann_spark.index.engines import get_engine

    ivf = get_engine("faiss", "ivfflat")
    assert ivf.vectors(spark, cat.path("rob_me_ivf")).count() == 0
    assert ivf.ids(spark, cat.path("rob_me_ivf"), "vec_id").count() == 0

    assert vacuum_index(spark, "rob_me_ivf", catalog=cat)["num_vectors"] == 0
    assert vacuum_index(spark, "rob_me_empty", catalog=cat)["num_vectors"] == 0

    # full <- empty: no-op merge
    m = merge_indexes(spark, "rob_me_full", "rob_me_empty", catalog=cat)
    assert m["num_vectors"] == 8
    # empty <- full: adopts vectors and dim
    m = merge_indexes(spark, "rob_me_empty", "rob_me_full", catalog=cat)
    assert m["num_vectors"] == 8 and m["dim"] == 4
    hits = index_scan(spark, "rob_me_empty", [[0.0, 1.0, 2.0, 3.0]], k=3,
                      catalog=cat)
    assert hits.count() == 3
    for n in ("rob_me_full", "rob_me_empty", "rob_me_ivf"):
        drop_index(n, cat)


def test_delete_then_reinsert_says_vacuum(spark, cat):
    name = "rob_reinsert"
    drop_index(name, cat)
    create_index(_vecs(spark, range(10)), "vec_id", "embedding", name,
                 engine="faiss", table_name="t", catalog=cat)
    delete_from_index(spark, name, [3], catalog=cat)
    with pytest.raises(ValueError, match="vacuum_index to reclaim"):
        insert_into_index(spark, name, _vecs(spark, [3]), catalog=cat)
    vacuum_index(spark, name, catalog=cat)
    m = insert_into_index(spark, name, _vecs(spark, [3]), catalog=cat)
    assert m["num_vectors"] == 10  # 9 after vacuum + 1 reinserted
    got = index_scan(spark, name, [[3.0, 4.0, 5.0, 6.0]], k=10, catalog=cat)
    assert got.where(F.col("vec_id") == 3).count() == 1
    drop_index(name, cat)


@pytest.mark.parametrize("engine,opts", [
    ("diskann", {}),
    ("faiss", {"type": "IVFFlat", "ivf_nlist": 4, "nprobe": 4}),
    ("faiss", {}),
])
def test_delete_of_never_indexed_ids_tombstones_nothing(
        spark, cat, engine, opts):
    """Phantom deletes: like the reference (`src/diskann_index.cpp:363-385`)
    only ids the index holds are tombstoned, so deleting ids it never
    held counts 0 and leaves them insertable, and `num_deleted` counts
    distinct tombstoned ids — list and DataFrame input alike."""
    name = f"rob_phantom_{engine}_{opts.get('type', 'flat')}"
    drop_index(name, cat)
    create_index(_vecs(spark, range(200)), "vec_id", "embedding", name,
                 engine=engine, table_name="t", catalog=cat, **opts)
    m = delete_from_index(spark, name, list(range(1000, 1150)), catalog=cat)
    assert int(m.get("num_deleted", 0)) == 0
    m = insert_into_index(spark, name, _vecs(spark, [1000]), catalog=cat)
    assert m["num_vectors"] == 201
    assert delete_from_index(spark, name, [5, 5, 2000],
                             catalog=cat)["num_deleted"] == 1
    assert delete_from_index(spark, name, [5], catalog=cat)["num_deleted"] == 1
    more = spark.createDataFrame([(7,), (3000,), (1000,)], "x long")
    assert delete_from_index(spark, name, more, catalog=cat)["num_deleted"] == 3
    got = {r["vec_id"] for r in index_scan(
        spark, name, [[5.0, 6.0, 7.0, 8.0]], k=50, catalog=cat).collect()}
    assert got and not got & {5, 7, 1000}
    drop_index(name, cat)


@pytest.mark.parametrize("opts", [{}, {"type": "IVFFlat", "ivf_nlist": 4}])
def test_hostile_column_names(spark, cat, opts):
    """id/vec column names with dashes and spaces survive the index
    module's DDL schema strings (quoted like the corpus operators)."""
    name = f"rob_names_{opts.get('type', 'flat')}"
    drop_index(name, cat)
    df = _vecs(spark, range(20), id_col="doc-id", vec_col="vec col")
    create_index(df, "doc-id", "vec col", name, engine="faiss",
                 table_name="t", catalog=cat, **opts)
    hits = index_scan(spark, name, [[0.0, 1.0, 2.0, 3.0]], k=3, catalog=cat)
    assert hits.count() == 3 and "doc-id" in hits.columns
    insert_into_index(
        spark, name, _vecs(spark, [100], id_col="doc-id", vec_col="vec col"),
        catalog=cat,
    )
    drop_index(name, cat)


def test_catalog_list_skips_stray_files(cat):
    with open(os.path.join(cat.root, ".DS_Store"), "w") as f:
        f.write("junk")
    try:
        cat.list()  # must not raise on the dot-file
    finally:
        os.remove(os.path.join(cat.root, ".DS_Store"))


def test_create_duplicate_name_errors_before_scan(spark, cat):
    name = "rob_dup"
    drop_index(name, cat)
    create_index(_vecs(spark, range(5)), "vec_id", "embedding", name,
                 engine="faiss", table_name="t", catalog=cat)
    # ragged-dimension input WOULD fail validation; the name check must
    # fire first (reference orders it before reading data)
    ragged = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [0.0, 1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="already exists"):
        create_index(ragged, "vec_id", "embedding", name, engine="faiss",
                     table_name="t", catalog=cat)
    drop_index(name, cat)


def test_hnsw_m_validated(spark, cat):
    with pytest.raises(ValueError, match="hnsw_m must be >= 1"):
        create_index(_vecs(spark, range(5)), "vec_id", "embedding",
                     "rob_m0", engine="faiss", table_name="t",
                     type="HNSW", hnsw_m=0, catalog=cat)


def test_kmeans_reseeds_distinct_centroids():
    from duckdb_ann_spark.index.ivf import _kmeans

    rng = np.random.default_rng(0)
    # two tight blobs: most of k=8 cells go empty every Lloyd iteration
    data = np.concatenate([
        rng.normal(0, 1e-3, (50, 4)), rng.normal(10, 1e-3, (50, 4)),
    ]).astype(np.float32)
    cents = _kmeans(data, 8)
    assert cents.shape == (8, 4)
    assert len(np.unique(cents, axis=0)) == 8  # no duplicate centroids


def test_shard_cache_evicts_rewritten_generations(spark, cat):
    from duckdb_ann_spark.index.vamana import _GRAPH_CACHE

    name = "rob_cache"
    drop_index(name, cat)
    create_index(_vecs(spark, range(30)), "vec_id", "embedding", name,
                 engine="diskann", table_name="t", catalog=cat)
    q = [[0.0, 1.0, 2.0, 3.0]]
    index_scan(spark, name, q, k=3, catalog=cat).count()
    insert_into_index(spark, name, _vecs(spark, [100]), catalog=cat)
    index_scan(spark, name, q, k=3, catalog=cat).count()
    paths = [k[0] for k in _GRAPH_CACHE]
    assert len(paths) == len(set(paths)), (
        "stale shard generations leaked in _GRAPH_CACHE"
    )
    drop_index(name, cat)


def test_bounded_tombstone_overrequest(spark, cat):
    """Round-8: past max(2k, OVERREQUEST_CAP) tombstones, index_scan's
    first pass is depth-BOUNDED (the reference's k+|deleted| would make
    every search linear in the delete count) with an exactness-
    preserving retry. Exact Flat engine so results can be compared to
    brute force without graph-approximation flake:

    * deletes spread across the ranking → the bounded first pass alone
      returns the true top-k survivors (no starvation);
    * the query's ENTIRE near neighborhood tombstoned (worst case) →
      the retry kicks in and still returns the true top-k survivors.
    """
    from duckdb_ann_spark.index.vamana import OVERREQUEST_CAP

    n, k = 1000, 3
    dim = 4
    rows = [(i, [float(i), float(i % 7), float(i % 11), 0.0])
            for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    name = "rob_tomb"
    drop_index(name, cat)
    create_index(df, "vec_id", "embedding", name, engine="faiss",
                 type="Flat", table_name="t", catalog=cat)
    q = [0.0, 0.0, 0.0, 0.0]  # nearest rows are the smallest ids

    # scenario 1: 150 deletes (over the 128 cap), spread far from the
    # query (ids 500..649) — bounded pass suffices
    delete_from_index(spark, name, list(range(500, 650)), catalog=cat)
    got = [r["vec_id"] for r in index_scan(spark, name, [q], k, catalog=cat)
           .orderBy("_distance", "vec_id").collect()]
    assert got == [0, 1, 2]

    # scenario 2: additionally tombstone the query's whole neighborhood
    # (ids 0..149) — first pass starves, the retry must recover the
    # true survivors
    delete_from_index(spark, name, list(range(0, 150)), catalog=cat)
    got = [r["vec_id"] for r in index_scan(spark, name, [q], k, catalog=cat)
           .orderBy("_distance", "vec_id").collect()]
    assert got == [150, 151, 152]
    # sanity: the bound really engaged (both passes' depth math)
    assert 300 > max(2 * k, OVERREQUEST_CAP), "cap must be < |deleted|"

    # scenario 3 (r8 review): fewer than k survivors in total — the
    # retry must still recover ALL of them (returning the best
    # available rows matters even when k is unreachable), not skip as
    # futile. Tombstone everything except two far-away rows.
    survivors = {700, 900}
    delete_from_index(
        spark, name,
        [i for i in range(1000) if i not in survivors
         and i not in range(500, 650) and i not in range(0, 150)],
        catalog=cat,
    )
    got = [r["vec_id"] for r in index_scan(spark, name, [q], k, catalog=cat)
           .orderBy("_distance", "vec_id").collect()]
    assert got == sorted(survivors)
    drop_index(name, cat)


def test_overrequest_retry_on_routed_graph(spark, cat):
    """The bounded tombstone pass + retry also holds on an approximate
    routed graph index: after mass-deleting well past the cap (no
    vacuum), every query still gets k rows and no tombstone surfaces."""
    import numpy as np

    n, k, dim = 2000, 5, 8
    rng = np.random.default_rng(31)
    rows = [(i, [float(x) for x in rng.random(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    name = "rob_tomb_graph"
    drop_index(name, cat)
    create_index(df, "vec_id", "embedding", name, engine="diskann",
                 max_degree=8, build_complexity=16, shards=10,
                 shard_by="cells", table_name="t", catalog=cat)
    deleted = list(range(0, 400))  # 20% of the corpus, > the 128 cap
    delete_from_index(spark, name, deleted, catalog=cat)
    qs = [[float(x) for x in rng.random(dim)] for _ in range(3)]
    got = index_scan(spark, name, qs, k, catalog=cat).collect()
    assert len(got) == 3 * k
    assert not {r["vec_id"] for r in got} & set(deleted)
    drop_index(name, cat)


def _raw_vecs(spark, n, dim=4):
    """The round-13 advice reproducer: array<double> vectors + INT ids —
    the dtypes a user frame most commonly arrives with. Every Arrow
    pass declares long/array<float> and does not coerce, so these must
    be cast at the operator boundary or executors crash with
    ArrowColumnVector accessor errors."""
    rows = [(int(i), [float(i % 7 + j) for j in range(dim)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


@pytest.mark.parametrize("engine,opts", [
    ("faiss", {"type": "IVFFlat", "ivf_nlist": 4, "nprobe": 4}),
    ("faiss", {}),
    ("diskann", {}),
])
def test_double_vec_int_id_inputs(spark, cat, engine, opts):
    """create_index + scan + insert over array<double>/int-id input
    (round-13 advice): the r12 mapInArrow migration crashed these."""
    name = f"rob_dtypes_{engine}_{opts.get('type', 'flat')}"
    drop_index(name, cat)
    create_index(_raw_vecs(spark, 48), "vec_id", "embedding", name,
                 engine=engine, table_name="t", catalog=cat, **opts)
    hits = index_scan(spark, name, [[0.0, 1.0, 2.0, 3.0]], k=3, catalog=cat)
    assert hits.count() == 3
    extra = spark.createDataFrame(
        [(1000, [9.0, 9.0, 9.0, 9.0])], "vec_id int, embedding array<double>"
    )
    m = insert_into_index(spark, name, extra, catalog=cat)
    assert m["num_vectors"] == 49
    got = index_scan(spark, name, [[9.0, 9.0, 9.0, 9.0]], k=1, catalog=cat)
    assert [r["vec_id"] for r in got.collect()] == [1000]
    drop_index(name, cat)


def test_double_vec_int_id_batch_and_join(spark):
    """ann_search_batch + knn_join (blas fast paths) over
    array<double>/int-id frames — the non-index Arrow passes of the
    round-13 advice, including the in-call probe calibration scan."""
    from duckdb_ann_spark.operators.batch import search_batch_ids
    from duckdb_ann_spark.operators.knn_join import knn_join

    base = _raw_vecs(spark, 60)
    hits = search_batch_ids(
        base, "vec_id", "embedding", [[0.0, 1.0, 2.0, 3.0]], 3
    ).collect()
    assert len(hits) == 3

    q = spark.createDataFrame(
        [(int(i), [float(i % 7 + j) for j in range(4)]) for i in range(5)],
        "qid int, qv array<double>",
    )
    j = knn_join(q, "qid", "qv", base, "vec_id", "embedding", k=2,
                 nlist=4, nprobe=4)
    rows = j.collect()
    assert len(rows) == 10
    # exact self-match: query i's vector equals base row i's exactly
    best = {r["qid"]: r["vec_id"] for r in rows if r["_distance"] == 0.0}
    assert all(best[i] % 7 == i % 7 for i in best)


def test_cast_id_vec_rejects_nonnumeric_types(spark):
    """Round 14 (r13 advice): cast_id_vec's ANSI-off cast('long') turned
    a string id column into silent nulls — wrong join output where the
    pre-cast code failed loudly. Round 15 (r14 advice): numeric-STRING
    ids cast losslessly before the tightening, so strings are permitted
    again behind a per-row raise_error guard — all-numeric strings
    succeed, a non-numeric value fails at execution instead of nulling."""
    from duckdb_ann_spark.functions.distance import cast_id_vec

    str_ids = spark.createDataFrame(
        [("a", [1.0, 2.0])], "vec_id string, embedding array<double>"
    )
    # non-numeric string id: schema passes, the ROW fails loud on action
    with pytest.raises(Exception, match="non-numeric value"):
        cast_id_vec(str_ids, "vec_id", "embedding").collect()

    # all-numeric string ids: lossless cast, back-compat preserved
    num_str = cast_id_vec(
        spark.createDataFrame(
            [("7", [1.0, 2.0]), ("12", [3.0, 4.0])],
            "vec_id string, embedding array<double>",
        ),
        "vec_id", "embedding",
    )
    assert dict(num_str.dtypes) == {
        "vec_id": "bigint", "embedding": "array<float>"
    }
    assert sorted(r["vec_id"] for r in num_str.collect()) == [7, 12]

    # string ids still hit the vector-type validation too
    str_id_bad_vec = spark.createDataFrame(
        [("1", "blob")], "vec_id string, embedding string"
    )
    with pytest.raises(ValueError, match="array<numeric>"):
        cast_id_vec(str_id_bad_vec, "vec_id", "embedding")

    str_vecs = spark.createDataFrame(
        [(1, ["x", "y"])], "vec_id long, embedding array<string>"
    )
    with pytest.raises(ValueError, match="array<numeric>"):
        cast_id_vec(str_vecs, "vec_id", "embedding")

    not_arr = spark.createDataFrame([(1, "blob")], "vec_id long, embedding string")
    with pytest.raises(ValueError, match="array<numeric>"):
        cast_id_vec(not_arr, "vec_id", "embedding")

    # numeric/integral sources still pass (the round-13 robustness case)
    ok = cast_id_vec(
        spark.createDataFrame(
            [(1, [1.0, 2.0])], "vec_id int, embedding array<double>"
        ),
        "vec_id", "embedding",
    )
    assert dict(ok.dtypes) == {"vec_id": "bigint", "embedding": "array<float>"}
