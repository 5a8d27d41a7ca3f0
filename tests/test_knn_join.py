"""Distributed k-NN join: exactness at full probe, recall at partial
probe, and the no-crossJoin plan guarantee."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_ann_spark.operators.knn_join import knn_join


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _brute_1nn(vecs_q, ids_q, vecs_b, ids_b, k):
    out = {}
    for qv, qid in zip(vecs_q, ids_q):
        d = ((vecs_b - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids_b, d))[:k]
        out[qid] = [(int(ids_b[i]), float(d[i])) for i in order]
    return out


def test_full_probe_is_exact(spark, emb):
    queries = emb.where(F.col("vec_id") < 20)
    got = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=3, nlist=8, nprobe=8,
    ).collect()
    rows = emb.orderBy("vec_id").collect()
    vb = np.array([r["embedding"] for r in rows], dtype=np.float32)
    ib = np.array([r["vec_id"] for r in rows])
    want = _brute_1nn(vb[:20], ib[:20], vb, ib, 3)
    by_q = {}
    for r in got:
        by_q.setdefault(r["_q_vec_id"], []).append((r["vec_id"], r["_distance"]))
    assert set(by_q) == set(want)
    for qid, hits in by_q.items():
        assert [h[0] for h in sorted(hits, key=lambda h: (h[1], h[0]))] == [
            w[0] for w in want[qid]
        ], qid


def test_partial_probe_recall(spark, emb):
    queries = emb.where(F.col("vec_id") < 30)
    got = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=5, nlist=16, nprobe=6,
    ).collect()
    rows = emb.orderBy("vec_id").collect()
    vb = np.array([r["embedding"] for r in rows], dtype=np.float32)
    ib = np.array([r["vec_id"] for r in rows])
    want = _brute_1nn(vb[:30], ib[:30], vb, ib, 5)
    hits = 0
    for r in got:
        if r["vec_id"] in {w[0] for w in want[r["_q_vec_id"]]}:
            hits += 1
    assert hits >= 0.7 * 30 * 5, hits  # the reference's 70% floor


def test_no_cartesian_product(spark, emb):
    queries = emb.where(F.col("vec_id") < 10)
    df = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=2, nlist=8, nprobe=2,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_blas_path_never_materializes_pairs(spark, emb, monkeypatch):
    """Fast-path plan shapes. Broadcast delivery (default): scan →
    MapInArrow scoring with TWO exchanges (the token-placed base gather
    + the window merge), the query side never on the wire. Exchange
    delivery (cap disabled): base and query rows meet in the same
    token-keyed exchange — two exchanges as well (the retired per-cell
    cogroup took three). Either way, no join operator: a
    pair-materializing join (|q_cell| × |b_cell| vector rows on the
    wire) must never appear."""
    queries = emb.where(F.col("vec_id") < 10)

    def mk():
        return knn_join(
            queries, "vec_id", "embedding", emb, "vec_id", "embedding",
            k=2, nlist=8, nprobe=2,
        )

    plan = mk()._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "FlatMapCoGroupsInArrow" not in plan, plan
    assert "Union" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 2, plan

    monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_MB", "0")
    plan = mk()._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Union" in plan, plan
    assert "FlatMapCoGroupsInArrow" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 2, plan


def test_exact_method_matches_blas_ids(spark, emb):
    queries = emb.where(F.col("vec_id") < 10)
    a = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=3, nlist=4, nprobe=4, method="exact",
    ).collect()
    b = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=3, nlist=4, nprobe=4, method="blas",
    ).collect()
    ka = {(r["_q_vec_id"], r["vec_id"]) for r in a}
    kb = {(r["_q_vec_id"], r["vec_id"]) for r in b}
    assert ka == kb


@pytest.fixture(scope="module")
def skewed(spark):
    """A base where most rows are ONE duplicated vector (far from the
    rest), so k-means puts ~80% of the rows in one cell."""
    import pandas as pd

    rng = np.random.default_rng(3)
    n, dim = 1200, 16
    mat = rng.random((n, dim), dtype=np.float32)
    mat[200:] = np.float32(4.0)
    base = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "embedding": list(mat)})
    )
    return base, mat


def test_knn_join_skew_split(spark, skewed, monkeypatch):
    """A cell past twice the per-bin share splits into sub-cells by
    base-id hash (replacing the old `salt` knob): at full probe both
    deliveries still return the numpy brute-force (query, id) lists —
    ties on the duplicated vector broken by id — and the split engages
    (more scored cells than trained ones)."""
    base, mat = skewed
    qi = np.r_[np.arange(0, 200, 10), np.arange(200, 1200, 100)]
    queries = base.where(F.col("vec_id").isin([int(i) for i in qi]))
    d = ((mat[qi][:, None, :] - mat[None, :, :]) ** 2).sum(-1)
    k = 7
    want = sorted(
        (int(q), int(j))
        for q, row in zip(qi, d)
        for j in np.lexsort((np.arange(len(mat)), row))[:k]
    )
    for cap in ("64", "0"):
        monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_MB", cap)
        stats: dict = {}
        got = knn_join(
            queries, "vec_id", "embedding", base, "vec_id", "embedding",
            k=k, nlist=6, nprobe=6, calibration_queries=0, stats=stats,
        ).collect()
        assert stats["delivery"] == ("broadcast" if cap == "64"
                                     else "exchange")
        assert stats["cells"] > stats["nlist"], stats
        assert sorted((r["_q_vec_id"], r["vec_id"]) for r in got) == want


def test_knn_join_exchange_query_rows_bounded(spark, emb, monkeypatch):
    """Over the cap, each query crosses the exchange once per DISTINCT
    probed bin, carrying all its probed cells in that bin — not once
    per probed cell: with nlist > bins and nprobe > 1 the query rows
    entering the exchange are <= nq × distinct probed bins and strictly
    fewer than nq × nprobe."""
    from duckdb_ann_spark.operators import knn_join as kj

    monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_MB", "0")
    nq, nlist, nprobe = 40, 32, 6
    seen = {}
    real = kj._scored_topk

    def spy(*a, q=None, **kw):
        # `q` is exactly the query side of the scorer's one exchange
        seen["per_q"] = q.groupBy(q.columns[0]).agg(
            F.count("*").alias("rows"),
            F.countDistinct("__tok").alias("bins"),
            F.sum(F.size("__cells")).alias("cells"),
        ).toPandas()
        return real(*a, q=q, **kw)

    monkeypatch.setattr(kj, "_scored_topk", spy)
    stats: dict = {}
    queries = emb.where(F.col("vec_id") < nq)
    out = knn_join(queries, "vec_id", "embedding", emb, "vec_id",
                   "embedding", k=3, nlist=nlist, nprobe=nprobe,
                   calibration_queries=0, stats=stats)
    assert out.count() == nq * 3
    assert stats["delivery"] == "exchange"
    assert stats["nlist"] > stats["bins"], stats
    per_q = seen["per_q"]
    assert len(per_q) == nq
    assert (per_q["rows"] == per_q["bins"]).all()  # one row per bin
    assert (per_q["rows"] <= min(nprobe, stats["bins"])).all()
    assert (per_q["cells"] >= nprobe).all()  # every probe carried
    assert per_q["rows"].sum() < nq * nprobe, per_q


def test_knn_join_collect_pool_shut_down_on_error(spark, emb, monkeypatch):
    """Any error while the query-side collect runs in its helper thread
    (here: the in-call calibration raising) must still shut the pool
    down — no thread, and no Spark collect, outlives the call."""
    import duckdb_ann_spark.index.calibration as cal
    from duckdb_ann_spark.operators import knn_join as kj

    pools = []

    class Pool(kj.ThreadPoolExecutor):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.closed = False
            pools.append(self)

        def shutdown(self, *a, **kw):
            self.closed = True
            return super().shutdown(*a, **kw)

    def boom(*a, **kw):
        raise RuntimeError("calibration failed")

    monkeypatch.setattr(kj, "ThreadPoolExecutor", Pool)
    monkeypatch.setattr(cal, "measure_probe_calibration", boom)
    with pytest.raises(RuntimeError, match="calibration failed"):
        knn_join(emb.where(F.col("vec_id") < 10), "vec_id", "embedding",
                 emb, "vec_id", "embedding", k=3, nlist=8)
    assert len(pools) == 1 and pools[0].closed
    assert all(not t.is_alive() for t in pools[0]._threads)


def test_knn_join_auto_nlist(spark, sf_dir):
    """nlist=0 resolves via the sqrt-N cell rule (same as ivf_nlist=0)
    and still returns exactly k matches per query."""
    from duckdb_ann_spark.operators.knn_join import knn_join
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = knn_join(q, "qid", "embedding", emb, "vec_id", "embedding",
                   k=3, nlist=0, nprobe=16).toPandas()
    assert len(out) == 20 * 3
    self_hits = out[(out.qid == out.vec_id)]
    # BLAS path scores with the norms-trick GEMM: self-distance is
    # ~1e-7 f32 cancellation noise, not exactly 0
    assert len(self_hits) == 20 and (self_hits._distance < 1e-5).all()


def test_knn_join_auto_nprobe(spark, emb):
    """nprobe=0 resolves via the shared recall-calibrated rule — the
    knn_join twin of the ivf_nlist=0/nprobe=0 index pairing."""
    from duckdb_ann_spark.operators.knn_join import knn_join
    from pyspark.sql import functions as F

    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = knn_join(q, "qid", "embedding", emb, "vec_id", "embedding",
                   k=3, nlist=16, nprobe=0, n_rows=500)
    assert out.count() == 20 * 3


# ---------------------------------------------------------------------------
# index_knn_join: join against a PUBLISHED IVF index's cells
# ---------------------------------------------------------------------------

@pytest.fixture()
def ivf_cat(tmp_path):
    from duckdb_ann_spark.index import Catalog

    return Catalog(str(tmp_path / "indexes"))


def test_index_knn_join_fullprobe_matches_knn_join(spark, emb, ivf_cat):
    """At nprobe >= nlist both paths are exact, so joining against the
    published index must equal the freshly-trained join row-for-row
    (same ids AND same bit-exact distances on the exact method)."""
    from duckdb_ann_spark.index import create_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "ikj", engine="faiss",
                 type="IVFFlat", ivf_nlist=8, nprobe=2, catalog=ivf_cat)
    queries = emb.where(F.col("vec_id") < 20)
    via_index = index_knn_join(
        spark, "ikj", queries, "vec_id", "embedding", k=3, nprobe=8,
        method="exact", catalog=ivf_cat,
    )
    fresh = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=3, nlist=8, nprobe=8, method="exact",
    )
    assert via_index.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(via_index).count() == 0


def test_index_knn_join_partial_probe_prunes_and_recalls(spark, emb, ivf_cat):
    """Partial probe: k rows per query, every query finds itself (each
    query IS a base row, and its own cell is always its nearest)."""
    from duckdb_ann_spark.index import create_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "ikp", engine="faiss",
                 type="IVFFlat", ivf_nlist=16, nprobe=4, catalog=ivf_cat)
    q = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = index_knn_join(
        spark, "ikp", q, "qid", "embedding", k=3, nprobe=6, catalog=ivf_cat,
    ).toPandas()
    assert len(out) == 30 * 3
    self_hits = out[out.qid == out.vec_id]
    assert len(self_hits) == 30 and (self_hits._distance < 1e-5).all()


def test_index_knn_join_respects_tombstones(spark, emb, ivf_cat):
    from duckdb_ann_spark.index import create_index, delete_from_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "ikd", engine="faiss",
                 type="IVFFlat", ivf_nlist=8, nprobe=8, catalog=ivf_cat)
    delete_from_index(spark, "ikd", [0, 1, 2], catalog=ivf_cat)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = index_knn_join(
        spark, "ikd", q, "qid", "embedding", k=4, catalog=ivf_cat
    ).toPandas()
    assert len(out) == 5 * 4
    assert not set(out.vec_id) & {0, 1, 2}


def test_index_knn_join_rejects_graph_engines(spark, emb, ivf_cat):
    from duckdb_ann_spark.index import create_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    create_index(emb, "vec_id", "embedding", "ikg", engine="diskann",
                 max_degree=8, build_complexity=16, catalog=ivf_cat)
    with pytest.raises(ValueError, match="IVFFlat"):
        index_knn_join(spark, "ikg", emb, "vec_id", "embedding", k=3,
                       catalog=ivf_cat)


# ---------------------------------------------------------------------------
# round 10: in-call measured probe calibration + target_recall
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def clustered(spark):
    """Clustered base (the regime the measurement exists for) + a small
    query side drawn from the same clusters."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n_cl, n, dim = 16, 4_000, 32
    centers = rng.random((n_cl, dim), dtype=np.float32)
    mat = (
        centers[np.arange(n) % n_cl]
        + rng.normal(0, 0.02, (n, dim)).astype(np.float32)
    )
    base = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "embedding": list(mat)})
    )
    return base, mat, n


def test_knn_join_default_measures_clustered_probes(spark, clustered):
    """The DEFAULT call (nlist=0, nprobe=0) measures its fresh cells'
    probe curve in-call: on clustered data the resolved nprobe sits
    well below the static uniform rule, and recall still clears the
    0.70 floor."""
    from duckdb_ann_spark.index.ivf import auto_nlist, auto_nprobe

    base, mat, n = clustered
    q = base.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    stats: dict = {}
    got = knn_join(
        q, "qid", "embedding", base, "vec_id", "embedding",
        k=5, n_rows=n, stats=stats,
    ).collect()
    assert stats["measured"] is True
    assert stats["nlist"] >= auto_nlist(n) // 2
    static = auto_nprobe(stats["nlist"], 32)
    assert stats["nprobe"] <= static // 2, (stats, static)
    want = _brute_1nn(mat[:40], np.arange(40), mat, np.arange(n), 5)
    hits = sum(
        1 for r in got if r["vec_id"] in {w[0] for w in want[r["qid"]]}
    )
    assert hits >= 0.70 * 40 * 5, hits


def test_knn_join_calibration_disabled_uses_static_rule(spark, clustered):
    from duckdb_ann_spark.index.ivf import auto_nprobe

    base, _, n = clustered
    q = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    stats: dict = {}
    out = knn_join(
        q, "qid", "embedding", base, "vec_id", "embedding",
        k=3, n_rows=n, calibration_queries=0, stats=stats,
    )
    assert out.count() == 15
    assert stats["measured"] is False
    assert stats["nprobe"] == min(auto_nprobe(stats["nlist"], 32),
                                  stats["nlist"])


def test_knn_join_target_recall(spark, clustered):
    """target_recall resolves probes from the in-call curve; validation
    errors fire before any distributed work."""
    base, mat, n = clustered
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    s_hi: dict = {}
    got = knn_join(
        q, "qid", "embedding", base, "vec_id", "embedding",
        k=5, n_rows=n, target_recall=1.0, stats=s_hi,
    ).collect()
    s_def: dict = {}
    knn_join(
        q.limit(1), "qid", "embedding", base, "vec_id", "embedding",
        k=5, n_rows=n, stats=s_def,
    ).count()
    assert s_hi["nprobe"] >= s_def["nprobe"]
    want = _brute_1nn(mat[:20], np.arange(20), mat, np.arange(n), 5)
    hits = sum(
        1 for r in got if r["vec_id"] in {w[0] for w in want[r["qid"]]}
    )
    assert hits >= 0.85 * 20 * 5, hits  # 1.0 cell-coverage target

    with pytest.raises(ValueError, match="not both"):
        knn_join(q, "qid", "embedding", base, "vec_id", "embedding",
                 k=3, n_rows=n, nprobe=4, target_recall=0.9)
    with pytest.raises(ValueError, match=r"in \(0, 1\]"):
        knn_join(q, "qid", "embedding", base, "vec_id", "embedding",
                 k=3, n_rows=n, target_recall=1.5)
    with pytest.raises(ValueError, match="calibration_queries"):
        knn_join(q, "qid", "embedding", base, "vec_id", "embedding",
                 k=3, n_rows=n, calibration_queries=0, target_recall=0.9)


def test_index_knn_join_target_recall(spark, clustered, tmp_path):
    """The published-index join accepts target_recall with the
    index_scan contract: resolve from the stored curve, loud failure on
    unmeasured artifacts, not-both validation."""
    from duckdb_ann_spark.index import Catalog, create_index, drop_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    base, mat, n = clustered
    cat = Catalog(str(tmp_path / "ikj_tr"))
    m = create_index(base, "vec_id", "embedding", "ikj_tr", engine="faiss",
                     type="IVFFlat", ivf_nlist=0, nprobe=0, catalog=cat)
    assert m["calibration"] is not None
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = index_knn_join(
        spark, "ikj_tr", q, "qid", "embedding", k=5, catalog=cat,
        target_recall=0.99,
    ).collect()
    assert len(got) == 20 * 5
    want = _brute_1nn(mat[:20], np.arange(20), mat, np.arange(n), 5)
    hits = sum(
        1 for r in got if r["vec_id"] in {w[0] for w in want[r["qid"]]}
    )
    assert hits >= 0.80 * 20 * 5, hits
    with pytest.raises(ValueError, match="not both"):
        index_knn_join(spark, "ikj_tr", q, "qid", "embedding", k=3,
                       catalog=cat, nprobe=2, target_recall=0.9)
    drop_index("ikj_tr", cat)
    # pinned-nprobe build records no curve -> loud failure
    create_index(base, "vec_id", "embedding", "ikj_pin", engine="faiss",
                 type="IVFFlat", ivf_nlist=16, nprobe=4, catalog=cat)
    with pytest.raises(ValueError, match="no measured recall curve"):
        index_knn_join(spark, "ikj_pin", q, "qid", "embedding", k=3,
                       catalog=cat, target_recall=0.9)
    drop_index("ikj_pin", cat)


def test_broadcast_and_exchange_deliveries_match(spark, emb, monkeypatch):
    """The two query deliveries of the one bin scorer — broadcast
    (under the cap) and the token-keyed exchange (cap 0): the (query,
    base) id lists must be identical and the distances equal to BLAS
    ulp wobble (shuffle-arrival row order wobbles the GEMM at the last
    ulp — per-pair values are not bit-pinned on either delivery).
    Covers partial probe, k larger than a cell, and all three
    metrics."""
    queries = emb.where(F.col("vec_id") < 25)

    def run(**kw):
        return sorted(
            (r["_q_vec_id"], r["vec_id"], r["_distance"])
            for r in knn_join(
                queries, "vec_id", "embedding", emb, "vec_id", "embedding",
                calibration_queries=0, **kw,
            ).collect()
        )

    for metric in ("l2", "ip", "cosine"):
        for k, nlist, nprobe in ((3, 8, 3), (40, 16, 16)):
            monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_MB", "64")
            a = run(metric=metric, k=k, nlist=nlist, nprobe=nprobe)
            monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_MB", "0")
            b = run(metric=metric, k=k, nlist=nlist, nprobe=nprobe)
            assert [(x[0], x[1]) for x in a] == [(x[0], x[1]) for x in b], (
                metric, k)
            assert np.allclose(
                [x[2] for x in a], [x[2] for x in b], rtol=1e-4, atol=1e-5
            ), (metric, k)


def test_broadcast_path_falls_back_over_cap(spark, emb, monkeypatch):
    """A query side over the byte cap must take the exchange delivery
    (bounded collect, no driver blow-up) and produce the same ids."""
    queries = emb.where(F.col("vec_id") < 25)
    monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_MB", "0.0001")
    stats: dict = {}
    df = knn_join(
        queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=2, nlist=8, nprobe=2, stats=stats,
    )
    assert stats["delivery"] == "exchange"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan, plan
    a = sorted((r["_q_vec_id"], r["vec_id"]) for r in df.collect())
    monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_MB", "64")
    b = sorted(
        (r["_q_vec_id"], r["vec_id"])
        for r in knn_join(
            queries, "vec_id", "embedding", emb, "vec_id", "embedding",
            k=2, nlist=8, nprobe=2,
        ).collect()
    )
    assert a == b


def test_index_broadcast_and_exchange_deliveries_match(spark, emb, ivf_cat,
                                                      monkeypatch):
    """index_knn_join parity across the two query deliveries, with the
    tombstone anti-join riding in front of the scorer, on a plain and
    an SQ8 index, at partial and full probe."""
    from duckdb_ann_spark.index import create_index, delete_from_index
    from duckdb_ann_spark.operators.knn_join import index_knn_join

    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    for name, opts in (("kjb_idx", {}), ("kjb_sq8", {"quantization": "sq8"})):
        create_index(emb, "vec_id", "embedding", name, engine="faiss",
                     type="IVFFlat", ivf_nlist=8, nprobe=3, catalog=ivf_cat,
                     **opts)
        delete_from_index(spark, name, [3, 7], catalog=ivf_cat)
        for nprobe in (0, 8):

            def run():
                return sorted(
                    (r["qid"], r["vec_id"], r["_distance"])
                    for r in index_knn_join(
                        spark, name, queries, "qid", "embedding", k=4,
                        nprobe=nprobe, catalog=ivf_cat,
                    ).collect()
                )

            monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_MB", "64")
            a = run()
            monkeypatch.setenv("SPARK_GRAFT_KNN_BCAST_MB", "0")
            b = run()
            assert [x[:2] for x in a] == [x[:2] for x in b], (name, nprobe)
            assert np.allclose([x[2] for x in a], [x[2] for x in b],
                               rtol=1e-4, atol=1e-5), (name, nprobe)
            assert len(a) == 20 * 4
            assert not any(x[1] in (3, 7) for x in a)


def test_lpt_bins_balance_and_zero_mass():
    """LPT packs heaviest-first into the lightest bin; zero-estimate
    cells round-robin instead of piling into bin 0 (r15 ADVICE)."""
    from duckdb_ann_spark.functions.partitioning import lpt_bins as _lpt_bins

    mass = np.array([100.0, 90.0, 10.0, 10.0, 0.0, 0.0, 0.0, 0.0])
    bins = _lpt_bins(mass, 2)
    loads = [np.maximum(mass, 1.0)[bins == b].sum() for b in (0, 1)]
    assert abs(loads[0] - loads[1]) <= np.maximum(mass, 1.0).max(), loads
    # the ADVICE scenario: ALL cells zero-estimate — without the unit
    # epsilon every (0.0 + 0.0) push kept bin 0 the heap minimum and
    # the whole set piled into one task
    bins0 = _lpt_bins(np.zeros(16), 4)
    counts = np.bincount(bins0, minlength=4)
    assert counts.max() == 4, counts


def test_cell_tokens_prune_and_place():
    """Unprobed cells get token -1 (pruned pre-exchange); probed cells'
    tokens hash-place into distinct partitions of the bin count."""
    from duckdb_ann_spark.functions.partitioning import murmur3_hash_int
    from duckdb_ann_spark.operators.knn_join import _cell_tokens

    # 6 cells, cells 1 and 4 unprobed
    bounds = np.array([0, 2, 2, 5, 9, 9, 12])
    tokens, n_bins = _cell_tokens(np.diff(bounds), None, par=2)
    assert tokens[1] == -1 and tokens[4] == -1
    probed = [0, 2, 3, 5]
    parts = {murmur3_hash_int(int(tokens[c])) % n_bins for c in probed}
    assert len(parts) == min(len(probed), n_bins)


def test_cell_tokens_balanced_data_unchanged():
    """On balanced data the skew split is the identity and the
    broadcast delivery's placement tokens are exactly the ones the
    pre-split packer produced (values pinned from it)."""
    from duckdb_ann_spark.functions.partitioning import split_cells
    from duckdb_ann_spark.operators.knn_join import _cell_tokens

    rng = np.random.default_rng(5)
    counts = rng.integers(0, 6, 24)
    counts[[3, 17]] = 0
    est = rng.integers(0, 40, 24).astype(float)
    for par, want in (
        (2, [6, 0, -1, -1, 12, 12, 2, 2, 6, -1, 12, 0, 0, 2, -1, -1, -1,
             -1, -1, 12, 2, 6, 6, 0]),
        (4, [0, 25, -1, -1, 15, 12, 5, 2, 1, -1, 25, 0, 1, 15, -1, -1, -1,
             -1, -1, 2, 0, 6, 15, 2]),
    ):
        n = int(est.sum())
        n_sub, offsets = split_cells(est, -(-n // (2 * par)))
        assert (n_sub == 1).all() and (offsets == np.arange(25)).all()
        tokens, _ = _cell_tokens(counts, np.repeat(est / n_sub, n_sub), par)
        assert tokens.tolist() == want, par
