import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_ann_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def assert_df_matches_oracle(sdf, duck_con, oracle_sql, sort_cols=None, rtol=0.0):
    """Mini replica of the driver's compare: row count, column names, values."""
    import math

    pdf = sdf.toPandas()
    odf = duck_con.execute(oracle_sql).df()
    assert sorted(pdf.columns) == sorted(odf.columns), (
        f"schema mismatch: {sorted(pdf.columns)} vs {sorted(odf.columns)}"
    )
    assert len(pdf) == len(odf), f"rowcount {len(pdf)} vs {len(odf)}"
    cols = sorted(pdf.columns)
    a = pdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            # int-vs-float drift (e.g. DuckDB HUGEINT → float64) breaks the
            # driver's value hash even when == holds; catch it here too.
            assert isinstance(x, float) == isinstance(y, float), (
                f"col {c} row {i}: dtype drift {type(x).__name__} vs {type(y).__name__}"
            )
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if rtol:
                    assert math.isclose(x, y, rel_tol=rtol), (c, i, x, y)
                else:
                    assert x == y, f"col {c} row {i}: {x!r} != {y!r}"
            else:
                assert x == y, f"col {c} row {i}: {x!r} != {y!r}"


def garble_ivf_cells(artifact_dir, queries, nprobe, metric="l2", probed=False):
    """Overwrite the parquet files of an IVF artifact's NON-probed cells
    (or, with `probed=True`, of its first probed cell) with garbage
    bytes → the probed cell ids. A scan that reads only the probed cells
    still answers after the first call and fails after the second."""
    import numpy as np

    from duckdb_ann_spark.functions.distance import np_index_distances
    from duckdb_ann_spark.index.ivf import CELL_COL, VECTORS_DIR, IvfFlatEngine

    cent = IvfFlatEngine()._centroids(artifact_dir)
    cd = np_index_distances(metric, cent, np.asarray(queries, np.float32))
    hit = set(np.argsort(cd, axis=1, kind="stable")[:, :nprobe].ravel().tolist())
    vdir = os.path.join(artifact_dir, VECTORS_DIR)
    cells = {int(d.split("=")[1]): os.path.join(vdir, d)
             for d in os.listdir(vdir) if d.startswith(f"{CELL_COL}=")}
    victims = [min(hit & set(cells))] if probed else set(cells) - hit
    for c in victims:
        for f in os.listdir(cells[c]):
            if f.endswith(".parquet"):
                with open(os.path.join(cells[c], f), "wb") as fh:
                    fh.write(b"not a parquet file")
    return hit


_JOB_GROUPS = itertools.count()


def spark_jobs(spark, fn) -> list:
    """The stage names of each Spark job `fn` runs (one list per job),
    counted through a job group of its own."""
    sc = spark.sparkContext
    group = f"job-floor-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "job floor")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is filled by the asynchronous listener bus: drain
    # it so every job of the group is recorded
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()

    def name(stage_id):
        # the store keeps `spark.ui.retainedStages` stages (1000 by
        # default), so late in a long session a stage's info can already
        # be evicted; the job still counts
        info = st.getStageInfo(stage_id)
        return info.name if info is not None else f"stage {stage_id}"

    return [[name(s) for s in st.getJobInfo(j).stageIds]
            for j in st.getJobIdsForGroup(group)]
