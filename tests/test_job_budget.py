"""Job budget: the exact number of Spark jobs each index lifecycle call
runs, per engine, on small seeded fixtures whose sizes are fixed here.

Pins are exact, not upper bounds: a call that starts running one more
job fails, and a call that runs one fewer updates the table. AQE can
change job counts with data size, so the sizes below are part of the
pins. `pytest tests/test_job_budget.py -s` prints the measured table.
"""

import numpy as np
import pandas as pd
import pytest

from conftest import spark_jobs
from duckdb_ann_spark.index import (
    Catalog,
    create_index,
    delete_from_index,
    index_scan,
    insert_into_index,
    vacuum_index,
)

N, N_NEW, DIM, NQ, K = 400, 40, 8, 12, 5
ENGINES = {
    "ivf": dict(engine="faiss", type="IVFFlat", ivf_nlist=8, nprobe=2),
    "flat": dict(engine="faiss", type="Flat"),
    "routed_diskann": dict(engine="diskann", max_degree=8,
                           build_complexity=16, shards=4, shard_by="cells",
                           calibration_queries=0),
    "hnsw": dict(engine="faiss", type="HNSW", hnsw_m=8,
                 calibration_queries=0),
}
# (call, engine) → jobs
BUDGET = {
    ("create_index", "ivf"): 6,
    ("insert_into_index", "ivf"): 7,
    ("delete_from_index", "ivf"): 2,
    ("index_scan", "ivf"): 1,
    ("vacuum_index", "ivf"): 3,
    ("create_index", "flat"): 4,
    ("insert_into_index", "flat"): 7,
    ("delete_from_index", "flat"): 2,
    ("index_scan", "flat"): 3,
    ("vacuum_index", "flat"): 1,
    ("create_index", "routed_diskann"): 6,
    ("insert_into_index", "routed_diskann"): 7,
    ("delete_from_index", "routed_diskann"): 0,
    ("index_scan", "routed_diskann"): 1,
    ("vacuum_index", "routed_diskann"): 3,
    ("create_index", "hnsw"): 4,
}


def _frame(spark, mat, id0=0):
    return spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(id0, id0 + len(mat), dtype=np.int64),
        "embedding": list(mat),
    }))


@pytest.mark.parametrize("kind", ENGINES)
def test_lifecycle_job_budget(spark, tmp_path, kind):
    cat = Catalog(str(tmp_path / "indexes"))
    rng = np.random.default_rng(5)
    mat = rng.normal(0, 1, (N + N_NEW, DIM)).astype(np.float32)
    qs = (mat[:NQ] + 0.01).tolist()
    base, new = _frame(spark, mat[:N]), _frame(spark, mat[N:], N)
    calls = {
        "create_index": lambda: create_index(
            base, "vec_id", "embedding", "x", catalog=cat, **ENGINES[kind]),
        "insert_into_index": lambda: insert_into_index(
            spark, "x", new, catalog=cat),
        "delete_from_index": lambda: delete_from_index(
            spark, "x", list(range(0, N + N_NEW, 9)), catalog=cat),
        "index_scan": lambda: index_scan(
            spark, "x", qs, K, catalog=cat).collect(),
        "vacuum_index": lambda: vacuum_index(spark, "x", catalog=cat),
    }
    want = {c: n for (c, e), n in BUDGET.items() if e == kind}
    got = {c: len(spark_jobs(spark, calls[c])) for c in want}
    print(f"\njob budget {kind}: {got}")
    assert got == want
