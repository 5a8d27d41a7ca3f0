"""Tombstones are dropped inside the search tasks.

Every engine gets the index's tombstone array from the driver and drops
those ids before each query's final top-k cut, so a tombstoned scan
runs the Spark jobs a clean scan runs, and each query's rows are the
rows of the same query scanned alone — whatever else shares its batch.
A list delete on a graph index checks the id sidecars and writes the
delete file on the driver, without a Spark job.
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
    index_search_table,
    vacuum_index,
)
from duckdb_ann_spark.index.vamana import OVERREQUEST_CAP

K = 10
ENGINES = {
    "routed_diskann": dict(engine="diskann", max_degree=16,
                           build_complexity=32, shards=12,
                           shard_by="cells"),
    "ivf": dict(engine="faiss", type="IVFFlat", ivf_nlist=16, nprobe=4),
    "ivf_sq8": dict(engine="faiss", type="IVFFlat", ivf_nlist=16, nprobe=4,
                    quantization="sq8"),
    "flat": dict(engine="faiss", type="Flat"),
}


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "indexes"))


def _data(n=3000, dim=16, nq=12, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 4, (12, dim))
    mat = (centers[rng.integers(0, 12, n)]
           + rng.normal(0, 1, (n, dim))).astype(np.float32)
    qs = (centers[rng.integers(0, 12, nq)]
          + rng.normal(0, 1, (nq, dim))).astype(np.float32)
    return mat, qs


def _frame(spark, mat):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(len(mat)), "embedding": list(mat)})
    )


def _starving_deletes(mat, q, n_near=400, n_spread=100, seed=11):
    """Query `q`'s n_near nearest ids — past k + OVERREQUEST_CAP, so its
    bounded first pass holds no survivor — plus ids spread at random."""
    assert n_near > K + OVERREQUEST_CAP
    near = np.argsort(((mat - q) ** 2).sum(axis=1), kind="stable")[:n_near]
    spread = np.random.default_rng(seed).choice(len(mat), n_spread,
                                                replace=False)
    return sorted(set(near.tolist()) | set(spread.tolist()))


def _by_query(rows, qcol="query_idx"):
    out: dict = {}
    for r in rows:
        out.setdefault(int(r[qcol]), []).append(
            (int(r["vec_id"]), r["_distance"]))
    return {q: sorted(v, key=lambda t: (t[1] is None, t[1], t[0]))
            for q, v in out.items()}


@pytest.mark.parametrize("kind", sorted(ENGINES))
def test_batch_rows_equal_single_query_scans(spark, cat, kind):
    """In a tombstoned batch scan that holds a starved query, every
    query's (id, distance) rows equal its own single-query scan, and no
    tombstone surfaces. A partial-probe IVF cell is one GEMM over the
    queries probing it, so its distances move in the last ulp with the
    batch (clean scans too): there the ids must be equal and the
    distances close."""
    mat, qs = _data()
    dead = _starving_deletes(mat, qs[0])
    create_index(_frame(spark, mat), "vec_id", "embedding", kind,
                 catalog=cat, **ENGINES[kind])
    delete_from_index(spark, kind, dead, catalog=cat)
    batch = _by_query(index_scan(spark, kind, qs.tolist(), K,
                                 catalog=cat).collect())
    assert sorted(batch) == list(range(len(qs)))
    for qi, q in enumerate(qs):
        alone = _by_query(index_scan(spark, kind, [q.tolist()], K,
                                     catalog=cat).collect())
        if kind.startswith("ivf"):
            assert [i for i, _ in batch[qi]] == [i for i, _ in alone[0]]
            np.testing.assert_allclose([d for _, d in batch[qi]],
                                       [d for _, d in alone[0]], rtol=1e-5)
        else:
            assert batch[qi] == alone[0], (kind, qi)
        assert len(batch[qi]) == K
        assert not {i for i, _ in batch[qi]} & set(dead)


def test_search_table_recovers_a_starved_query(spark, cat):
    """index_search_table on a graph index whose query has its whole
    neighbourhood tombstoned (beyond k + OVERREQUEST_CAP) still returns
    k live rows for it — the rows index_scan returns."""
    mat, qs = _data()
    dead = _starving_deletes(mat, qs[0])
    create_index(_frame(spark, mat), "vec_id", "embedding", "tab",
                 catalog=cat, **ENGINES["routed_diskann"])
    delete_from_index(spark, "tab", dead, catalog=cat)
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(len(qs)), "qv": list(qs)})
    )
    got = _by_query(index_search_table(spark, "tab", qdf, "qid", "qv", K,
                                       catalog=cat).collect(), "qid")
    want = _by_query(index_scan(spark, "tab", qs.tolist(), K,
                                catalog=cat).collect())
    assert len(got[0]) == K
    assert not {i for i, _ in got[0]} & set(dead)
    assert got == want


@pytest.mark.parametrize("kind", ["routed_diskann", "ivf", "flat"])
def test_tombstoned_scan_runs_no_more_jobs_than_a_clean_scan(
        spark, cat, kind):
    mat, qs = _data(nq=50)
    create_index(_frame(spark, mat), "vec_id", "embedding", kind,
                 catalog=cat, **ENGINES[kind])

    def scan():
        index_scan(spark, kind, qs.tolist(), K, catalog=cat).collect()

    clean = spark_jobs(spark, scan)
    delete_from_index(spark, kind, list(range(0, 3000, 30)), catalog=cat)
    tombstoned = spark_jobs(spark, scan)
    assert len(tombstoned) <= len(clean), (clean, tombstoned)


def test_delete_job_counts_and_vacuum_floor(spark, cat):
    """A list delete on a graph index runs no Spark job; a DataFrame
    delete runs one (its collect); the routed vacuum runs its rebuild
    (the build's four jobs) plus the tombstone broadcast, with no row
    count."""
    mat, _ = _data()
    create_index(_frame(spark, mat), "vec_id", "embedding", "del",
                 catalog=cat, **ENGINES["routed_diskann"])
    jobs = spark_jobs(spark, lambda: delete_from_index(
        spark, "del", list(range(0, 3000, 30)), catalog=cat))
    assert jobs == []
    ids = spark.createDataFrame([(i,) for i in range(1, 3000, 30)], "x long")
    jobs = spark_jobs(spark, lambda: delete_from_index(spark, "del", ids,
                                                       catalog=cat))
    assert len(jobs) == 1, jobs
    assert cat.load("del")["num_deleted"] == 200
    jobs = spark_jobs(spark, lambda: vacuum_index(spark, "del", catalog=cat))
    assert len(jobs) <= 7, jobs
    m = cat.load("del")
    assert (m["num_vectors"], m["num_deleted"]) == (2800, 0)
