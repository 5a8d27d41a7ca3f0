"""IVFFlat engine: faiss_ivfflat.test-style checks + scale-plan asserts."""

import os

import pytest
from pyspark.sql import functions as F

from duckdb_ann_spark.index import Catalog, create_index, drop_index, index_scan
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


def _brute_ids(emb, qvec, k, metric="l2"):
    return [
        r.vec_id
        for r in topk(emb, "embedding", qvec, k, metric, id_col="vec_id").collect()
    ]


def test_build_manifest(emb, cat):
    m = create_index(
        emb, "vec_id", "embedding", "ivf", engine="faiss", type="IVFFlat",
        ivf_nlist=16, nprobe=4, catalog=cat,
    )
    assert m["subtype"] == "ivfflat"
    assert m["params"]["ivf_nlist"] == 16
    assert m["nlist_effective"] == 16


def test_full_probe_is_exact(spark, emb, qvec, cat):
    """nprobe >= nlist degenerates to an exact flat scan (bit-exact)."""
    create_index(
        emb, "vec_id", "embedding", "ivf", engine="faiss", type="IVFFlat",
        ivf_nlist=8, nprobe=8, catalog=cat,
    )
    got = index_scan(spark, "ivf", [qvec], k=10, catalog=cat).collect()
    want = topk(emb, "embedding", qvec, 10, "l2", id_col="vec_id").collect()
    assert [(r.vec_id, r._distance) for r in got] == [
        (r.vec_id, r._distance) for r in want
    ]


def test_partial_probe_recall_floor(spark, emb, qvec, cat):
    """Partial probing must keep >=7/10 recall vs brute force (the
    reference's 70% floor, test/sql/diskann_streaming.test:40-50). The
    testdata embeddings are ~uniform random — the hardest case for IVF —
    so the config probes 6/8 cells; real clustered embeddings need far
    fewer."""
    create_index(
        emb, "vec_id", "embedding", "ivf", engine="faiss", type="IVFFlat",
        ivf_nlist=8, nprobe=6, catalog=cat,
    )
    got = {r.vec_id for r in index_scan(spark, "ivf", [qvec], 10, catalog=cat).collect()}
    want = set(_brute_ids(emb, qvec, 10))
    assert len(got & want) >= 7, (sorted(got), sorted(want))


def test_partial_probe_exact_ids_at_fixed_seed(spark, emb, qvec, cat):
    """The probe path is deterministic given the seeded KMeans: an
    INDEPENDENT numpy recomputation — reassign every vector to its
    nearest persisted centroid, pick the nprobe nearest centroids to the
    query, brute-force top-k within those cells with the engine's
    tie-break — must reproduce the engine's (id, distance) list exactly.
    Together with the artifact-replaying DuckDB oracle registered for
    `ann_search_ivfflat_probe` (index_suite.py reads centroids/ and the
    probed vectors/ partitions in SQL), this pins the probe path from two
    independent directions."""
    import numpy as np
    from duckdb_ann_spark.functions.distance import np_index_distances

    create_index(
        emb, "vec_id", "embedding", "ivf_gold", engine="faiss", type="IVFFlat",
        ivf_nlist=8, nprobe=2, catalog=cat,
    )
    art = cat.path("ivf_gold")
    cent = (
        spark.read.parquet(f"{art}/centroids")
        .toPandas().sort_values("__cell")
    )
    centroids = np.array(cent["centroid"].tolist(), dtype=np.float32)
    vp = (
        spark.read.parquet(f"{art}/vectors")
        .select("vec_id", "embedding").toPandas()
    )
    mat = np.array(vp["embedding"].tolist(), dtype=np.float32)
    ids = vp["vec_id"].to_numpy()
    q = np.asarray([qvec], dtype=np.float32)

    cells = np_index_distances("l2", mat, centroids).argmin(axis=0)
    probe = np.argsort(
        np_index_distances("l2", centroids, q)[0], kind="stable"
    )[:2]
    in_probe = np.isin(cells, probe)
    cand_ids, cand = ids[in_probe], mat[in_probe]
    d = np_index_distances("l2", cand, q)[0].astype(np.float64)
    order = np.lexsort((cand_ids, d))[:10]
    want = [(int(cand_ids[i]), float(d[i])) for i in order]

    got = [
        (r.vec_id, r._distance)
        for r in index_scan(spark, "ivf_gold", [qvec], 10, catalog=cat).collect()
    ]
    assert got == want, (got, want)


def test_nprobe_monotone_recall(spark, emb, qvec, cat):
    create_index(
        emb, "vec_id", "embedding", "ivf", engine="faiss", type="IVFFlat",
        ivf_nlist=16, nprobe=1, catalog=cat,
    )
    want = set(_brute_ids(emb, qvec, 10))
    recalls = []
    for nprobe in (1, 4, 16):
        got = {
            r.vec_id
            for r in index_scan(
                spark, "ivf", [qvec], 10, search_complexity=nprobe, catalog=cat
            ).collect()
        }
        recalls.append(len(got & want))
    assert recalls[0] <= recalls[1] <= recalls[2]
    assert recalls[-1] == 10  # full probe == exact


def test_partition_pruning_in_plan(spark, emb, qvec, cat):
    """Only the probed cells are read — at 100 TB this IS the index: a
    probe reads nprobe/nlist of the data. With every non-probed cell's
    parquet overwritten by garbage the scan returns its rows unchanged;
    garbage in a probed cell raises. The scan's plan holds no join,
    window or exchange."""
    from conftest import garble_ivf_cells

    create_index(
        emb, "vec_id", "embedding", "ivf", engine="faiss", type="IVFFlat",
        ivf_nlist=16, nprobe=2, catalog=cat,
    )
    qs = [qvec, [-x for x in qvec]]
    df = index_scan(spark, "ivf", qs, 5, catalog=cat)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("Join", "Window", "Exchange"):
        assert node not in plan, plan
    want = sorted(tuple(r) for r in df.collect())
    probed = garble_ivf_cells(cat.path("ivf"), qs, 2)
    assert len(probed) < 16
    got = index_scan(spark, "ivf", qs, 5, catalog=cat).collect()
    assert sorted(tuple(r) for r in got) == want
    garble_ivf_cells(cat.path("ivf"), qs, 2, probed=True)
    with pytest.raises(Exception):
        index_scan(spark, "ivf", qs, 5, catalog=cat).collect()


def test_ip_metric_ivf(spark, emb, cat):
    create_index(
        emb, "vec_id", "embedding", "ivfip", engine="faiss", type="IVFFlat",
        metric="ip", ivf_nlist=4, nprobe=4, catalog=cat,
    )
    row = emb.where(F.col("vec_id") == 3).select("embedding").head()
    q = [float(x) for x in row[0]]
    got = index_scan(spark, "ivfip", [q], 5, catalog=cat).collect()
    want = topk(emb, "embedding", q, 5, "ip", id_col="vec_id").collect()
    assert [(r.vec_id, r._distance) for r in got] == [
        (r.vec_id, r._distance) for r in want
    ]


def test_append_assigns_to_existing_cells(spark, emb, cat):
    """Incremental add re-uses the trained centroids (no retrain): new
    rows land in existing cells and full-probe search stays exact over
    the union."""
    from duckdb_ann_spark.index import insert_into_index

    name = "ivf_append"
    drop_index(name, cat)
    old = emb.where(F.col("vec_id") < 400)
    new = emb.where(F.col("vec_id") >= 400)
    create_index(
        old, "vec_id", "embedding", name,
        engine="faiss", type="IVFFlat", ivf_nlist=8, nprobe=8, catalog=cat,
    )
    m0 = insert_into_index(spark, name, new, cat)
    assert m0["num_vectors"] == emb.count()
    qrow = emb.where(F.col("vec_id") == 450).select("embedding").head()
    q = [float(x) for x in qrow[0]]
    hits = index_scan(spark, name, [q], k=1, catalog=cat).collect()
    # the appended vector itself is found at distance 0
    assert hits[0]["vec_id"] == 450 and hits[0]["_distance"] == 0.0
    drop_index(name, cat)


def test_train_sample_user_cap_honored(emb, cat):
    """A user train_sample below the automatic 10k floor must be honored
    as the cap (round-2 advisory: it was silently overridden). The
    manifest records the realized train-set size."""
    m = create_index(
        emb, "vec_id", "embedding", "ivf_ts", engine="faiss", type="IVFFlat",
        ivf_nlist=4, nprobe=4, train_sample=300, catalog=cat,
    )
    assert m["train_size"] == 300  # == min(user cap, n); not the 10k floor


def test_train_sample_default_floor(emb, cat):
    """Without train_sample, the automatic cap (50*nlist, 10k floor,
    clamped to n) applies — at n=500 that is the whole table."""
    m = create_index(
        emb, "vec_id", "embedding", "ivf_tf", engine="faiss", type="IVFFlat",
        ivf_nlist=4, nprobe=4, catalog=cat,
    )
    assert m["train_size"] == emb.count()


def test_auto_nlist_sqrt_rule(emb, cat):
    """ivf_nlist=0 resolves to clamp(floor(sqrt(N)), 16, 65536): at
    N=500 that is 22 cells (the README's sizing rule applied
    automatically; the reference default of 100 stays the default)."""
    m = create_index(
        emb, "vec_id", "embedding", "ivf_auto", engine="faiss",
        type="IVFFlat", ivf_nlist=0, nprobe=4, catalog=cat,
    )
    assert m["nlist_effective"] == 22  # floor(sqrt(500))
    with pytest.raises(ValueError, match="ivf_nlist"):
        create_index(
            emb, "vec_id", "embedding", "ivf_neg", engine="faiss",
            type="IVFFlat", ivf_nlist=-1, catalog=cat,
        )


def test_auto_nprobe_formula():
    """nprobe=0 resolves via the recall-calibrated rule
    ceil(1.25 * (d/64)^0.25 * nlist^0.75) clamped to [8, nlist] — the
    exact points the offline calibration pinned (ivf.auto_nprobe
    docstring), plus the structural properties the 100 TB story needs:
    probe COUNT grows with nlist while probe FRACTION shrinks."""
    from duckdb_ann_spark.index.ivf import auto_nprobe

    assert auto_nprobe(256, 64) == 80   # 1.25 * 256^0.75 = 80 exactly
    assert auto_nprobe(1000, 64) == 223
    assert auto_nprobe(316, 128) == 112
    assert auto_nprobe(4, 64) == 4      # capped at nlist
    assert auto_nprobe(16, 64) == 10
    for d in (64, 128, 768):
        counts = [auto_nprobe(nl, d) for nl in (64, 256, 1024, 4096, 65536)]
        assert counts == sorted(counts)  # monotone in nlist
        fracs = [c / nl for c, nl in zip(counts, (64, 256, 1024, 4096, 65536))]
        assert fracs == sorted(fracs, reverse=True)  # fraction shrinks


def test_auto_nprobe_search(spark, emb, qvec, cat):
    """The all-auto pairing (ivf_nlist=0, nprobe=0) searches end-to-end
    and clears the reference recall floor on the ~uniform testdata.
    Since round 9 nprobe=0 rides the BUILD-TIME measured calibration
    (manifest `calibration`), falling back to the search-time static
    rule for unmeasured artifacts; appends can slowly stale the
    measurement (vacuum re-measures — see index/calibration.py)."""
    create_index(
        emb, "vec_id", "embedding", "ivf_auto_np", engine="faiss",
        type="IVFFlat", ivf_nlist=0, nprobe=0, catalog=cat,
    )
    got = [
        r.vec_id
        for r in index_scan(spark, "ivf_auto_np", [qvec], k=10, catalog=cat)
        .orderBy("_distance", "vec_id")
        .collect()
    ]
    want = _brute_ids(emb, qvec, 10)
    assert len(got) == 10
    assert len(set(got) & set(want)) >= 7


def test_kmeans_deterministic_and_covering():
    """The round-5 kmeans rewrite (shared norms + reduceat update) must
    stay seeded-deterministic, produce finite centroids, and leave no
    empty cell unreseeded."""
    import numpy as np
    from duckdb_ann_spark.index.ivf import _kmeans
    from duckdb_ann_spark.functions.distance import np_index_distances

    rng = np.random.default_rng(3)
    data = rng.random((2000, 16), dtype=np.float32)
    a = _kmeans(data, 32)
    b = _kmeans(data, 32)
    assert np.array_equal(a, b)
    assert a.shape == (32, 16) and np.isfinite(a).all()
    assign = np_index_distances("l2", data, a).argmin(axis=0)
    # Lloyd with farthest-point reseeding keeps the clustering
    # non-degenerate: most cells own points
    assert len(set(assign.tolist())) >= 24


def _inertia(data, cents):
    import numpy as np
    from duckdb_ann_spark.index.ivf import _chunked_assign

    dn = np.einsum("ij,ij->i", data, data)
    return float(_chunked_assign(data, dn, cents)[1].sum())


def test_kmeans_scalable_init_large_k():
    """Round 12: k > SEQ_INIT_K_MAX rides the k-means|| oversampled
    init (the sequential kmeans++ loop was a measured 291.5s / 98%
    serial fraction of the 10M IVF build). The new path must stay
    seeded-deterministic, produce k finite centroids, and match the
    sequential init's CLUSTERING QUALITY after Lloyd — inertia within
    10% on the same data (measured here ~1.00x; the 10M-shape A/B in
    `_init_scalable`'s docstring measured 0.2% at 200k x 3162)."""
    import numpy as np
    import duckdb_ann_spark.index.ivf as ivf

    rng = np.random.default_rng(11)
    data = rng.random((8000, 16), dtype=np.float32)
    k = 600  # > SEQ_INIT_K_MAX=512, and 4k < n so the |-init runs
    assert k > ivf.SEQ_INIT_K_MAX and 4 * k < data.shape[0]
    a = ivf._kmeans(data, k)
    b = ivf._kmeans(data, k)
    assert np.array_equal(a, b)
    assert a.shape == (k, 16) and np.isfinite(a).all()
    # quality vs the sequential path, forced via the gate constant
    old_gate = ivf.SEQ_INIT_K_MAX
    try:
        ivf.SEQ_INIT_K_MAX = k  # k <= gate -> original kmeans++ init
        seq = ivf._kmeans(data, k)
    finally:
        ivf.SEQ_INIT_K_MAX = old_gate
    ratio = _inertia(data, a) / _inertia(data, seq)
    assert ratio <= 1.10, ratio


def test_kmeans_dense_regime_subset_init():
    """4k >= n (the 65536-nlist clamp against the 200k train cap):
    random-subset init — deterministic, k centroids, still clusters."""
    import numpy as np
    import duckdb_ann_spark.index.ivf as ivf

    rng = np.random.default_rng(5)
    data = rng.random((2100, 8), dtype=np.float32)
    k = 600  # > gate and 4k >= n
    assert k > ivf.SEQ_INIT_K_MAX and 4 * k >= data.shape[0]
    a = ivf._kmeans(data, k)
    assert np.array_equal(a, ivf._kmeans(data, k))
    assert a.shape == (k, 8) and np.isfinite(a).all()


def test_kmeans_small_k_golden_stability():
    """The k <= SEQ_INIT_K_MAX path must stay BIT-IDENTICAL across
    refactors — every published sf0.01 oracle artifact (nlist 8/16)
    and the 100k bench tier (nlist 316) holds centroids from this
    path. Golden pinned from the round-5 kernel (unchanged through
    the round-12 init split)."""
    import hashlib

    import numpy as np
    from duckdb_ann_spark.index.ivf import _kmeans

    rng = np.random.default_rng(123)
    data = rng.random((1500, 12), dtype=np.float32)
    c = _kmeans(data, 16)
    digest = hashlib.sha256(np.ascontiguousarray(c).tobytes()).hexdigest()
    # pinned against the pre-round-12 kernel (verified equal by running
    # the HEAD~ _kmeans source side-by-side at k=16 and k=316)
    assert digest == (
        "909947509f068685deb4172dca97718f479922e87d715411cfedc46b6623f5dd"
    ), digest


def test_arrow_assignment_matches_pandas_path(spark):
    """Round 12: the mapInArrow assignment (zero-copy vector reshape)
    must pick the SAME cell per row as the mapInPandas kernel it
    replaced — same np_index_distances values, same lowest-index tie
    break. Checked against a driver-side recomputation on both
    metrics, plus the explicit chunked path (rows > one chunk)."""
    import numpy as np
    import pyarrow as pa

    from duckdb_ann_spark.functions.distance import (
        np_from_arrow_list,
        np_index_distances,
    )
    from duckdb_ann_spark.index.ivf import _arrow_cells

    rng = np.random.default_rng(7)
    n, dim, k = 3000, 8, 20
    mat = rng.random((n, dim), dtype=np.float32)
    cm = rng.random((k, dim), dtype=np.float32)
    batch = pa.record_batch(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(
                [r for r in mat], type=pa.list_(pa.float32())
            ),
        }
    )
    for metric in ("l2", "ip"):
        want = np_index_distances(metric, mat, cm).argmin(axis=0)
        got = _arrow_cells(batch, "embedding", cm, metric)
        assert got.dtype == np.int32
        assert np.array_equal(got, want), metric

    # chunked regime: force several _chunk_slices per batch
    import duckdb_ann_spark.index.ivf as ivf_mod

    old = ivf_mod._CHUNK_ELEMS
    ivf_mod._CHUNK_ELEMS = k * 100  # 100-row chunks
    try:
        got = _arrow_cells(batch, "embedding", cm, "l2")
    finally:
        ivf_mod._CHUNK_ELEMS = old
    assert np.array_equal(got, np_index_distances("l2", mat, cm).argmin(axis=0))

    # fast-path refusals: nulls and ragged rows -> None (callers fall
    # back to the pandas conversion)
    with_null = pa.array([[1.0, 2.0], None], type=pa.list_(pa.float32()))
    assert np_from_arrow_list(with_null, 2) is None
    ragged = pa.array([[1.0, 2.0], [3.0]], type=pa.list_(pa.float32()))
    assert np_from_arrow_list(ragged, 2) is None
    # sliced arrays must honor offsets, not re-read from buffer start
    base = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], type=pa.list_(pa.float32()))
    sl = np_from_arrow_list(base.slice(1, 2), 2)
    assert sl is not None and sl.tolist() == [[3.0, 4.0], [5.0, 6.0]]


def test_write_centroids_round_trips(tmp_path):
    """_write_centroids writes a parquet the engine's reader round-trips,
    including the (0, dim) table of an empty build."""
    import numpy as np

    from duckdb_ann_spark.index.ivf import IvfFlatEngine, _write_centroids

    cents = np.arange(12, dtype=np.float32).reshape(4, 3)
    eng = IvfFlatEngine()

    plain = str(tmp_path / "plain")
    _write_centroids(f"{plain}/centroids", cents)
    assert np.array_equal(eng._centroids(plain), cents)

    empty = str(tmp_path / "empty")
    _write_centroids(f"{empty}/centroids", np.zeros((0, 3), np.float32))
    assert eng._centroids(empty).shape[0] == 0


def test_write_partition_count_regimes(spark):
    """One writer task per cell is wrong at scale (measured 31.9s vs
    9.0s at the 10M smoke); the width rule: core-count floor, ~128MB
    per task, capped at k_eff."""
    from duckdb_ann_spark.index.ivf import _write_partition_count

    cores = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    # small build: the core-count floor, capped at k_eff (layout
    # unchanged vs pre-round-12); the k_eff=2 case binds the cap on
    # every host (cores >= 4 always)
    assert _write_partition_count(spark, 8, 60_000, 64) == min(8, cores)
    assert _write_partition_count(spark, 2, 60_000, 64) == 2
    # the 10M smoke shape: core-count, not 3162 (10M x (16*4+16) B is
    # ~6 tasks of 128 MB, so the size term only shows below 6 cores)
    assert _write_partition_count(spark, 3162, 10_000_000, 16) == max(
        cores, 6
    )
    # huge rows: the 128MB/task term takes over
    big = _write_partition_count(spark, 65_536, 2_000_000_000, 128)
    assert big > cores and big <= 65_536


def _dir_bytes(path):
    import os

    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def test_sq8_cells_quarter_bytes_and_recall(spark, cat):
    """Round 13 (r12 verdict item 3): quantization='sq8' stores u8 codes
    in the cell parquet (~1/4 the vector bytes), dequantizes inside the
    Arrow scorer, and holds recall within noise of the fp32 build.
    ann_index_info reports quantized=true and the 1-byte/dim memory
    estimate."""
    import numpy as np

    from duckdb_ann_spark.index import ann_index_info, insert_into_index

    rng = np.random.default_rng(11)
    n, dim, k = 4000, 32, 10
    rows = [(int(i), [float(x) for x in rng.random(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = [[float(x) for x in rng.random(dim)] for _ in range(20)]

    create_index(df, "vec_id", "embedding", "ivf_f32", engine="faiss",
                 type="IVFFlat", ivf_nlist=16, nprobe=6, catalog=cat)
    m8 = create_index(df, "vec_id", "embedding", "ivf_sq8", engine="faiss",
                      type="IVFFlat", ivf_nlist=16, nprobe=6,
                      quantization="sq8", catalog=cat)
    assert m8["params"]["quantization"] == "sq8"
    assert len(m8["sq8_min"]) == dim and len(m8["sq8_scale"]) == dim

    # ~4x fewer vector bytes on disk (codes are 1 byte/dim vs 4)
    b_f32 = _dir_bytes(cat.path("ivf_f32") + "/vectors")
    b_sq8 = _dir_bytes(cat.path("ivf_sq8") + "/vectors")
    assert b_sq8 < b_f32 / 2.5, (b_sq8, b_f32)

    # recall parity within noise (same cells — identical centroids —
    # so only the u8 rounding can move results)
    def recall(name):
        got = index_scan(spark, name, qs, k, catalog=cat).collect()
        per = {}
        for r in got:
            per.setdefault(r["query_idx"], set()).add(r["vec_id"])
        hit = 0
        for i, q in enumerate(qs):
            truth = set(_brute_ids(df, q, k))
            hit += len(truth & per.get(i, set()))
        return hit / (len(qs) * k)

    r_f32, r_sq8 = recall("ivf_f32"), recall("ivf_sq8")
    assert r_sq8 >= r_f32 - 0.05, (r_sq8, r_f32)

    # info surface
    info = {r["name"]: r for r in ann_index_info(spark, catalog=cat).collect()}
    assert info["ivf_sq8"]["quantized"] is True
    assert info["ivf_f32"]["quantized"] is False
    assert info["ivf_sq8"]["memory_bytes"] < info["ivf_f32"]["memory_bytes"]

    # full probe degenerates to exact over the dequantized domain
    got = index_scan(spark, "ivf_sq8", [qs[0]], k=5, catalog=cat,
                     search_complexity=16).collect()
    assert len(got) == 5

    # append quantizes with the stored min/scale and is searchable
    extra = spark.createDataFrame(
        [(100000, qs[0])], "vec_id long, embedding array<float>"
    )
    insert_into_index(spark, "ivf_sq8", extra, catalog=cat)
    got = index_scan(spark, "ivf_sq8", [qs[0]], k=1, catalog=cat).collect()
    assert got[0]["vec_id"] == 100000
    drop_index("ivf_f32", cat)
    drop_index("ivf_sq8", cat)


def test_sq8_vacuum_and_knn_join(spark, cat):
    """SQ8 artifacts survive the lifecycle: delete + vacuum rebuilds
    (re-quantizing the dequantized survivors), and index_knn_join
    dequantizes after its cell pruning."""
    import numpy as np

    from duckdb_ann_spark.index import delete_from_index, vacuum_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    rng = np.random.default_rng(12)
    n, dim = 2000, 16
    rows = [(int(i), [float(x) for x in rng.random(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    create_index(df, "vec_id", "embedding", "ivf_sq8l", engine="faiss",
                 type="IVFFlat", ivf_nlist=8, nprobe=8,
                 quantization="sq8", catalog=cat)

    delete_from_index(spark, "ivf_sq8l", list(range(100)), catalog=cat)
    m = vacuum_index(spark, "ivf_sq8l", catalog=cat)
    assert m["num_vectors"] == n - 100 and m["num_deleted"] == 0
    assert m["params"]["quantization"] == "sq8"
    got = index_scan(
        spark, "ivf_sq8l", [rows[500][1]], k=3, catalog=cat
    ).collect()
    assert got[0]["vec_id"] == 500  # self-match survives quantization

    q = spark.createDataFrame(rows[500:520], "qid long, qv array<float>")
    j = index_knn_join(spark, "ivf_sq8l", q, "qid", "qv", k=2, catalog=cat)
    jrows = j.collect()
    assert len(jrows) == 20 * 2
    top = {}
    for r in jrows:
        if r["qid"] not in top or r["_distance"] < top[r["qid"]][1]:
            top[r["qid"]] = (r["vec_id"], r["_distance"])
    hits = sum(1 for qid, (vid, _) in top.items() if vid == qid)
    assert hits >= 18, hits  # u8 rounding may shift a borderline pair
    drop_index("ivf_sq8l", cat)


def test_sq8_clip_count_observability(spark, cat):
    """Round 14 (r13 verdict item 6): appends of vectors OUTSIDE the
    build-time train envelope clip silently — ann_index_info surfaces a
    running sq8_clip_count so the degradation is observable, with the
    -1 sentinel on fp32 artifacts (no envelope to clip against)."""
    import numpy as np

    from duckdb_ann_spark.index import ann_index_info, insert_into_index

    rng = np.random.default_rng(21)
    n, dim = 500, 8
    rows = [(int(i), [float(x) for x in rng.random(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    create_index(df, "vec_id", "embedding", "clip_f32", engine="faiss",
                 type="IVFFlat", ivf_nlist=4, nprobe=4, catalog=cat)
    m = create_index(df, "vec_id", "embedding", "clip_sq8", engine="faiss",
                     type="IVFFlat", ivf_nlist=4, nprobe=4,
                     quantization="sq8", catalog=cat)
    # n <= train cap: every build row is in the train set, nothing clips
    assert m["sq8_clip_count"] == 0, m["sq8_clip_count"]

    def info(name):
        return ann_index_info(spark, catalog=cat).where(
            F.col("name") == name
        ).head()

    assert info("clip_f32")["sq8_clip_count"] == -1
    assert info("clip_sq8")["sq8_clip_count"] == 0

    # two out-of-envelope rows: every component sits above the train
    # max, so all 2*dim values clip
    extra = spark.createDataFrame(
        [(9001, [10.0] * dim), (9002, [-10.0] * dim)],
        "vec_id long, embedding array<float>",
    )
    m = insert_into_index(spark, "clip_sq8", extra, catalog=cat)
    assert m["sq8_clip_count"] == 2 * dim, m["sq8_clip_count"]
    assert info("clip_sq8")["sq8_clip_count"] == 2 * dim

    # cumulative across appends; in-envelope appends add nothing
    ok = spark.createDataFrame(
        [(9003, [float(x) for x in rng.random(dim) * 0.5 + 0.25])],
        "vec_id long, embedding array<float>",
    )
    m = insert_into_index(spark, "clip_sq8", ok, catalog=cat)
    assert m["sq8_clip_count"] == 2 * dim
    more = spark.createDataFrame(
        [(9004, [20.0] * dim)], "vec_id long, embedding array<float>"
    )
    m = insert_into_index(spark, "clip_sq8", more, catalog=cat)
    assert m["sq8_clip_count"] == 3 * dim
    drop_index("clip_f32", cat)
    drop_index("clip_sq8", cat)


def test_vectors_reads_manifest_from_file_uri(spark, tmp_path):
    """An index whose catalog root is given as a `file:` URI builds and
    round-trips its (dequantized) vectors: the root resolves to a plain
    path, so the engines' manifest reads and Spark scans agree."""
    import numpy as np

    from duckdb_ann_spark.index.engines import get_engine

    cat = Catalog("file://" + str(tmp_path / "indexes"))
    assert cat.root == str(tmp_path / "indexes")
    rng = np.random.default_rng(22)
    n, dim = 300, 8
    rows = [(int(i), [float(x) for x in rng.random(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    create_index(df, "vec_id", "embedding", "uri_sq8", engine="faiss",
                 type="IVFFlat", ivf_nlist=4, quantization="sq8",
                 catalog=cat)
    impl = get_engine("faiss", "ivfflat")
    got = impl.vectors(spark, cat.path("uri_sq8")).collect()
    assert len(got) == n
    by_id = {r["vec_id"]: r["embedding"] for r in got}
    # dequantized values reconstruct within the SQ8 half-step bound
    orig = np.array(rows[7][1], dtype=np.float32)
    assert np.max(np.abs(np.array(by_id[7]) - orig)) < 0.01
    drop_index("uri_sq8", cat)


@pytest.mark.parametrize("root", ["hdfs://nn/idx", "s3a://b/x", "dbfs:/x"])
def test_catalog_rejects_non_file_roots(root, tmp_path, monkeypatch):
    """A root under any scheme but `file:` breaks the one filesystem
    contract (a POSIX mount at the same path everywhere): it raises,
    and creates no directory (relative to the working directory, where
    `os.makedirs` would have put `hdfs:/nn/idx`)."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="mounted at the same path"):
        Catalog(root)
    assert os.listdir(tmp_path) == []


def test_catalog_root_spellings_resolve_to_one_path(tmp_path, monkeypatch):
    """The three `file:` spellings and a relative path all resolve to
    the same absolute root."""
    want = str(tmp_path / "idx")
    monkeypatch.chdir(tmp_path)
    for root in ("file://" + want, "file:" + want,
                 "file://localhost" + want, "FILE://" + want, "idx",
                 "./idx/"):
        assert Catalog(root).root == want, root


def test_sq8_envelope_full_clip_free(spark, cat):
    """Round 15 (r14 verdict item 6): sq8_envelope='full' trains the
    per-dim min/scale on a distributed min/max pass over the WHOLE
    frame instead of the bounded train sample — build-time clip count
    is 0 by construction, closing the heavy-tailed-data hole that
    'train' (faiss semantics, the default) leaves observable-but-
    unavoidable. The manifest records the envelope mode."""
    import numpy as np

    rng = np.random.default_rng(33)
    n, dim = 2000, 8
    rows = [(int(i), [float(x) for x in rng.random(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # replicate the build's deterministic hash-sample (train_sample=64,
    # nlist=4 -> cap 64, modulus n//cap) to pick an id OUTSIDE the train
    # set, then give it out-of-envelope values — the 'train' build MUST
    # clip it, the 'full' build must not
    cap = 64
    modulus = max(1, n // cap)
    sampled = {
        r["vec_id"]
        for r in df.where(
            F.pmod(F.abs(F.hash(F.col("vec_id"))), F.lit(modulus)) == 0
        ).select("vec_id").collect()
    }
    out_id = next(i for i in range(n) if i not in sampled)
    rows[out_id] = (out_id, [5.0] * dim)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    m_train = create_index(
        df, "vec_id", "embedding", "env_train", engine="faiss",
        type="IVFFlat", ivf_nlist=4, nprobe=4, train_sample=cap,
        quantization="sq8", catalog=cat,
    )
    assert m_train["sq8_clip_count"] >= dim, m_train["sq8_clip_count"]
    assert m_train["params"]["sq8_envelope"] == "train"

    m_full = create_index(
        df, "vec_id", "embedding", "env_full", engine="faiss",
        type="IVFFlat", ivf_nlist=4, nprobe=4, train_sample=cap,
        quantization="sq8", sq8_envelope="full", catalog=cat,
    )
    assert m_full["sq8_clip_count"] == 0, m_full["sq8_clip_count"]
    assert m_full["params"]["sq8_envelope"] == "full"
    # the full envelope actually covers the outlier: its stored codes
    # round-trip to ~5.0 instead of saturating at the sample max
    got = index_scan(
        spark, "env_full", [[5.0] * dim], k=1, catalog=cat
    ).collect()
    assert got[0]["vec_id"] == out_id
    assert got[0]["_distance"] < 0.01, got[0]["_distance"]
    # invalid mode fails loud
    with pytest.raises(ValueError, match="sq8_envelope"):
        create_index(df, "vec_id", "embedding", "env_bad", engine="faiss",
                     type="IVFFlat", ivf_nlist=4, quantization="sq8",
                     sq8_envelope="median", catalog=cat)
    drop_index("env_train", cat)
    drop_index("env_full", cat)
