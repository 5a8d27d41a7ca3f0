"""One filesystem contract: an index root is a POSIX directory mounted at
the same path on the driver and on every executor, and Spark reaches its
artifacts through `file:` URIs. So the index lifecycle returns the same
rows whatever the session's `fs.defaultFS` names — even a scheme no
Hadoop filesystem serves, under which any bare artifact path fails."""

import numpy as np
import pandas as pd
import pytest

from duckdb_ann_spark.index import (
    Catalog,
    create_index,
    delete_from_index,
    index_scan,
    insert_into_index,
    vacuum_index,
)

FAKE_FS = "nosuchfs://nowhere/"
N, N_NEW, DIM, K = 300, 60, 8, 5
ENGINES = {
    "ivf": dict(engine="faiss", type="IVFFlat", ivf_nlist=6, nprobe=2),
    "ivf_sq8": dict(engine="faiss", type="IVFFlat", ivf_nlist=6, nprobe=2,
                    quantization="sq8"),
    "flat": dict(engine="faiss", type="Flat"),
    "routed_diskann": dict(engine="diskann", max_degree=8,
                           build_complexity=16, shards=4, shard_by="cells"),
}


def _frame(spark, mat, id0=0):
    return spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(id0, id0 + len(mat), dtype=np.int64),
        "embedding": list(mat),
    }))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=lambda r: r[:2])


def _lifecycle(spark, root, opts):
    """create → insert → list delete → scan → vacuum → scan, returning
    both scans' rows and the final counts. IVF's vacuum trains k-means
    on the rows in the order Spark lists the cell files, which differs
    between two runs on any filesystem, so its post-vacuum scan probes
    every cell: an exact scan of the rebuilt cells."""
    cat = Catalog(root)
    rng = np.random.default_rng(3)
    mat = rng.normal(0, 1, (N + N_NEW, DIM)).astype(np.float32)
    qs = (mat[::45] + 0.01).tolist()
    create_index(_frame(spark, mat[:N]), "vec_id", "embedding", "x",
                 catalog=cat, **opts)
    insert_into_index(spark, "x", _frame(spark, mat[N:], N), catalog=cat)
    delete_from_index(spark, "x", list(range(0, N + N_NEW, 7)), catalog=cat)
    tombstoned = _rows(index_scan(spark, "x", qs, K, catalog=cat))
    vacuum_index(spark, "x", catalog=cat)
    vacuumed = _rows(index_scan(spark, "x", qs, K, catalog=cat,
                                search_complexity=opts.get("ivf_nlist")))
    m = cat.load("x")
    return tombstoned, vacuumed, (m["num_vectors"], m["num_deleted"])


@pytest.mark.parametrize("kind", ENGINES)
def test_lifecycle_ignores_default_fs(spark, tmp_path, kind):
    want = _lifecycle(spark, str(tmp_path / "default_fs"), ENGINES[kind])
    assert want[2] == (N + N_NEW - len(range(0, N + N_NEW, 7)), 0)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = conf.get("fs.defaultFS", "file:///")
    conf.set("fs.defaultFS", FAKE_FS)
    try:
        # the fake filesystem is live: a bare path cannot be read
        with pytest.raises(Exception, match="nosuchfs"):
            spark.read.parquet(str(tmp_path)).count()
        got = _lifecycle(spark, str(tmp_path / "fake_fs"), ENGINES[kind])
    finally:
        conf.set("fs.defaultFS", default_fs)
    assert got == want
