"""Routed graph calibration measured inside the build.

A routed (`shard_by='cells'`) build measures its routing, in-shard L and
end-recall calibrations from the shard-build tasks themselves
(`calibration.ShardMeasure`); `recalibrate_index` runs the same
per-shard measurement in one job over the shard files on disk. On a
fresh index the two must record the same calibrations, and the build
must run no Spark job for the measurement beyond its end-anchor search.
"""

import numpy as np
import pandas as pd
import pytest

from conftest import spark_jobs
from duckdb_ann_spark.index import (
    Catalog,
    create_index,
    delete_from_index,
    recalibrate_index,
    vacuum_index,
)
from duckdb_ann_spark.index import calibration

KEYS = ("route_calibration", "l_calibration", "end_calibration")
GRAPH = dict(engine="diskann", max_degree=16, build_complexity=32,
             shard_by="cells")


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "indexes"))


def _clustered(n=2400, dim=16, n_cl=8, seed=3, dup=False):
    rng = np.random.default_rng(seed)
    centers = rng.random((n_cl, dim), dtype=np.float32)
    mat = (centers[np.arange(n) % n_cl]
           + rng.normal(0, 0.02, (n, dim)).astype(np.float32))
    if dup:
        mat[1::2] = mat[::2]  # every vector duplicated under a second id
    return mat


def _blob(n=6000, dim=16, seed=5):
    """80% of the rows in one tight blob: its k-means cell is estimated
    past twice the shard budget and splits into sub-shards."""
    rng = np.random.default_rng(seed)
    mat = rng.random((n, dim), dtype=np.float32)
    k = int(0.8 * n)
    mat[:k] = (rng.random(dim, dtype=np.float32)
               + rng.normal(0, 0.01, (k, dim)).astype(np.float32))
    return mat


def _frame(spark, mat):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(len(mat)), "embedding": list(mat)})
    )


def _cals(m):
    """The three graph calibrations without their staleness anchors
    (`recalibrate_index` re-anchors them at the current index state)."""
    return {
        key: None if m.get(key) is None else {
            k: v for k, v in m[key].items()
            if not k.endswith("_at_measurement")
        }
        for key in KEYS
    }


CASES = {
    "l2": (dict(), dict(GRAPH, shards=8)),
    "ip": (dict(), dict(GRAPH, shards=8, metric="ip")),
    "hnsw": (dict(), dict(engine="faiss", type="HNSW", hnsw_m=8, shards=8,
                          shard_by="cells")),
    "sq8": (dict(), dict(GRAPH, shards=8, quantization="sq8")),
    "duplicates": (dict(dup=True), dict(GRAPH, shards=8)),
    "pinned_route": (dict(), dict(GRAPH, shards=8, route_nprobe=2)),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_build_calibrations_equal_recalibrate(spark, cat, case):
    """The in-build measurement and the standalone pass over the shards
    on disk record the same route, L and end calibrations; a pinned
    route_nprobe records L only."""
    data_kw, index_kw = CASES[case]
    m = create_index(_frame(spark, _clustered(**data_kw)), "vec_id",
                     "embedding", case, catalog=cat, **index_kw)
    built = _cals(m)
    assert built["l_calibration"] is not None
    pinned = case == "pinned_route"
    assert (built["route_calibration"] is None) == pinned
    assert (built["end_calibration"] is None) == pinned
    assert _cals(recalibrate_index(spark, case, catalog=cat)) == built


def test_calibration_off_records_nothing(spark, cat):
    m = create_index(_frame(spark, _clustered()), "vec_id", "embedding",
                     "off", calibration_queries=0, catalog=cat,
                     **dict(GRAPH, shards=8))
    assert all(m[key] is None for key in KEYS)
    # the standalone finish of an empty plan agrees
    assert calibration.graph_plan(
        np.arange(3), np.zeros((3, 16), np.float32),
        np.zeros((8, 16), np.float32), "l2", 2400, 32, n_queries=0,
    ) is None
    assert calibration.measure_graph_calibrations(
        None, None, None, np.zeros((8, 16)), 2400, 32, None
    ) == (None, None, None)


def test_recalibrate_split_cells_reproduces_build(spark, cat):
    """A split cell's rows live in several sub-shards that share one
    route row. The measured cell of a true neighbor is the sub-shard
    that holds it — not the first sub-shard its route row ranks — so a
    recalibration straight after the build records the build's
    calibrations."""
    m = create_index(_frame(spark, _blob()), "vec_id", "embedding", "split",
                     catalog=cat, **dict(GRAPH, shards=8))
    assert m["shards"] > 8  # the blob's cell split into sub-shards
    built = _cals(m)
    assert built["route_calibration"] is not None
    assert built["end_calibration"] is not None
    assert _cals(recalibrate_index(spark, "split", catalog=cat)) == built


def test_missing_l_target_falls_back_to_shards_on_disk(
    spark, cat, monkeypatch
):
    """When a shard the build planned to measure L on wrote no file, the
    build measures L again over the shards that exist and records what
    a build with a right prediction records."""
    df = _frame(spark, _clustered())
    want = _cals(create_index(df, "vec_id", "embedding", "ok", catalog=cat,
                              **dict(GRAPH, shards=8)))
    real_targets = calibration._l_targets
    real_measure = calibration.measure_shards
    reruns = []

    def mispredict(qmat, route, metric, existing=None,
                   max_shards=calibration.L_MAX_SHARDS):
        tgt = real_targets(qmat, route, metric, existing, max_shards)
        if existing is None:
            # plan the busiest query onto a shard id with no file
            tgt = tgt.copy()
            tgt[np.flatnonzero(tgt >= 0)[0]] = route.shape[0]
        return tgt

    def counted(*a, **kw):
        reruns.append(a[3]["truth"])
        return real_measure(*a, **kw)

    monkeypatch.setattr(calibration, "_l_targets", mispredict)
    monkeypatch.setattr(calibration, "measure_shards", counted)
    got = _cals(create_index(df, "vec_id", "embedding", "fallback",
                             catalog=cat, **dict(GRAPH, shards=8)))
    assert reruns == [False]  # one L-only pass over the shards on disk
    assert got == want


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_shard_measure_is_grouping_independent(spark, cat, metric):
    """`ShardMeasure` folds each task's shards into one candidate set, so
    the finished calibrations cannot depend on which shards share a
    task: every shard in its own task, all shards in one task, and the
    standalone job over the files agree for every metric (engines build
    L2/IP only, so cosine is measured here on an L2 index's files)."""
    from duckdb_ann_spark.index.file_format import read_diskann, read_ids
    from duckdb_ann_spark.index.vamana import VamanaEngine, _route_centroids

    mat = _clustered()
    mat[5] = 0.0  # a zero vector: NaN cosine distances sort last
    m = create_index(_frame(spark, mat), "vec_id", "embedding", "g",
                     catalog=cat, **dict(GRAPH, shards=8))
    d = cat.path("g")
    eng = VamanaEngine()
    files = eng._shard_files(d)
    route = _route_centroids(d, m["params"])
    _, qids, qmat = calibration.collect_train_and_sample(
        _frame(spark, mat), "vec_id", "embedding", len(mat), 0,
        calibration.graph_sample_size(64),
    )
    plan = calibration.graph_plan(qids, qmat, route, metric, len(mat), 32,
                                  64, existing={s for s, _ in files})

    def in_tasks(groups):
        # one BLAS thread, as in the build tasks and the standalone job
        from duckdb_ann_spark.index.vamana_core import _blas_set_threads

        prev = _blas_set_threads(1)
        try:
            return _in_tasks(groups)
        finally:
            if prev is not None:
                _blas_set_threads(prev)

    def _in_tasks(groups):
        rows = []
        for group in groups:
            meas = calibration.ShardMeasure(plan, d)
            for j, (s, path) in enumerate(group):
                g = read_diskann(path, mmap=True)
                rows.append(meas.batch(s, read_ids(path, g.n),
                                       np.asarray(g.vectors[: g.n]),
                                       j == len(group) - 1).to_pandas())
        return pd.concat(rows, ignore_index=True)

    def finish(rows):
        return calibration.measure_graph_calibrations(
            plan, *calibration.gather_measures(rows), route, len(mat), 32,
            None,
        )

    alone = finish(in_tasks([[f] for f in files]))
    assert alone[0] is not None and alone[1] is not None
    assert finish(in_tasks([files])) == alone
    assert finish(calibration.measure_shards(eng, spark, d, plan)) == alone


def test_routed_lifecycle_job_floor(spark, cat):
    """A calibrated routed build runs 7 Spark jobs: 3 input validation,
    the train+sample collect, assign+build (2 with its shuffle) and the
    end-anchor search; a vacuum runs only its rebuild's 4 (no input
    validation, no row count, tombstones dropped in the read tasks)."""
    df = _frame(spark, _clustered(n=3000))
    jobs = spark_jobs(spark, lambda: create_index(
        df, "vec_id", "embedding", "floor", catalog=cat,
        **dict(GRAPH, shards=8)))
    assert len(jobs) == 7, jobs
    delete_from_index(spark, "floor", list(range(0, 300, 3)), catalog=cat)
    jobs = spark_jobs(spark, lambda: vacuum_index(spark, "floor",
                                                  catalog=cat))
    assert len(jobs) == 4, jobs
