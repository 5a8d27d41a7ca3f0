"""IVFFlat partial-probe scan: each probed cell is ONE GEMM of its rows
against the ascending list of queries probing it, and every query keeps
its first k rows by (distance, id), NaN last. The scan reads the probed
cells' files in one Spark job and must return what that numpy reference
returns."""

import copy
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import duckdb_ann_spark.index.ivf as ivf
from conftest import spark_jobs
from duckdb_ann_spark.functions.distance import np_index_distances
from duckdb_ann_spark.index import (
    Catalog,
    create_index,
    delete_from_index,
    index_scan,
    insert_into_index,
)

DIM = 16


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "indexes"))


def _data(n, seed, id0=3):
    rng = np.random.default_rng(seed)
    cents = rng.normal(0, 1, (12, DIM))
    mat = (cents[rng.integers(0, 12, n)] + rng.normal(0, 0.2, (n, DIM)))
    return np.arange(n, dtype=np.int64) * 7 + id0, mat.astype(np.float32)


def _frame(spark, ids, mat):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, embedding array<float>",
    )


def _queries(n, seed=5):
    _, q = _data(n, seed)
    q[min(2, n - 1)] = 0.0  # a zero query: NaN cosine distances
    return q


def _reference(spark, cat, name, manifest, qmat, k, nprobe, deleted=()):
    """One GEMM per probed cell (its artifact rows, in file order,
    against its ascending probing queries), then each query's first k
    by (distance, id) with NaN last → sorted (query_idx, id, distance)
    rows, NaN as None."""
    d = cat.path(name)
    metric = manifest["params"]["metric"]
    cent = ivf.IvfFlatEngine()._centroids(d)
    probe = np.argsort(np_index_distances(metric, cent, qmat), axis=1,
                       kind="stable")[:, :nprobe]
    vdir = os.path.join(d, ivf.VECTORS_DIR)
    parts, cells = [], []
    for sub in sorted(x for x in os.listdir(vdir) if "=" in x):
        for f in sorted(os.listdir(os.path.join(vdir, sub))):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                parts.append(pq.read_table(os.path.join(vdir, sub, f)))
                cells += [int(sub.split("=")[1])] * parts[-1].num_rows
    t = pa.concat_tables(parts)
    cells = np.asarray(cells)
    ids = t.column("vec_id").to_numpy()
    sq8 = ivf.IvfFlatEngine._sq8_params(manifest)
    if sq8 is None:
        vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    else:
        codes = np.stack([np.frombuffer(b, np.uint8)
                          for b in t.column(ivf.SQ8_COL).to_pylist()])
        vecs = ivf.sq8_decode(codes, *sq8)
    hits = [[] for _ in range(len(qmat))]
    for c in np.unique(probe):
        rows = np.flatnonzero(cells == c)
        qs = np.flatnonzero((probe == c).any(axis=1))
        dist = np_index_distances(metric, vecs[rows], qmat[qs])
        for r, qi in enumerate(qs):
            hits[qi] += zip(dist[r].astype(np.float64).tolist(),
                            ids[rows].tolist())
    out = []
    for qi, h in enumerate(hits):
        h = [(dd, i) for dd, i in h if i not in deleted]
        h.sort(key=lambda x: (np.isnan(x[0]), np.nan_to_num(x[0]), x[1]))
        out += [(qi, i, None if np.isnan(dd) else dd) for dd, i in h[:k]]
    return sorted(out, key=lambda r: r[:2])


def _got(rows):
    return sorted(((r["query_idx"], r["vec_id"], r["_distance"])
                   for r in rows), key=lambda r: r[:2])


def _assert_rows(got, want, exact):
    assert [r[:2] for r in got] == [r[:2] for r in want]
    if exact:
        assert got == want
    else:
        for (_, _, a), (_, _, b) in zip(got, want):
            assert (a is None) == (b is None)
            if a is not None:
                assert a == pytest.approx(b, rel=1e-5, abs=1e-5)


@pytest.mark.parametrize("case", ["l2", "ip", "sq8", "appended",
                                  "tombstoned"])
def test_probe_scan_matches_numpy_reference(spark, cat, case):
    ids, mat = _data(1200, seed=1)
    opts = dict(engine="faiss", type="IVFFlat", ivf_nlist=40, nprobe=3,
                calibration_queries=0,
                metric="ip" if case == "ip" else "l2")
    if case == "sq8":
        opts["quantization"] = "sq8"
    create_index(_frame(spark, ids, mat), "vec_id", "embedding", case,
                 catalog=cat, **opts)
    deleted = set()
    if case == "appended":
        new_ids, new_mat = _data(300, seed=2, id0=100_000)
        insert_into_index(spark, case, _frame(spark, new_ids, new_mat),
                          catalog=cat)
        vdir = os.path.join(cat.path(case), ivf.VECTORS_DIR)
        files = ivf._cell_files(vdir, range(40))
        assert max(len(fs) for fs in files.values()) > 1  # multi-file cells
    if case == "tombstoned":
        deleted = set(ids[::9].tolist())
        delete_from_index(spark, case, sorted(deleted), catalog=cat)
    m = cat.load(case)
    q = _queries(12)
    # nprobe >= 2 over a 12-query batch sharing cells; k=500 exceeds
    # the probed rows (a short result)
    for nprobe, k in ((2, 10), (3, 25), (1, 500)):
        for nq in (1, 12):
            want = _reference(spark, cat, case, m, q[:nq], k, nprobe, deleted)
            got = _got(index_scan(spark, case, q[:nq].tolist(), k,
                                  search_complexity=nprobe,
                                  catalog=cat).collect())
            _assert_rows(got, want, exact=case != "appended")
    if case == "l2":
        # cosine (index builds take L2/IP): the engine over the same
        # artifact with a cosine manifest; the zero query's distances
        # are NaN and sort last, so its rows are the smallest ids
        mc = copy.deepcopy(m)
        mc["params"]["metric"] = "cosine"
        for nprobe, k in ((2, 10), (1, 500)):
            want = _reference(spark, cat, case, mc, q, k, nprobe)
            got = _got(ivf.IvfFlatEngine().search(
                spark, mc, cat.path(case), q.tolist(), k, nprobe
            ).collect())
            _assert_rows(got, want, exact=True)
            assert any(r[2] is None for r in got if r[0] == 2)


def test_index_scan_runs_one_spark_job(spark, cat):
    """A partial-probe IVF scan over more than 32 cells (Spark's
    parallel partition-discovery threshold) and a routed DiskANN scan on
    the distributed path (> 8 queries) each run exactly one job."""
    ids, mat = _data(1200, seed=1)
    df = _frame(spark, ids, mat)
    create_index(df, "vec_id", "embedding", "ivf40", engine="faiss",
                 type="IVFFlat", ivf_nlist=40, nprobe=2,
                 calibration_queries=0, catalog=cat)
    assert cat.load("ivf40")["nlist_effective"] > 32
    create_index(df, "vec_id", "embedding", "routed", engine="diskann",
                 max_degree=8, build_complexity=16, shards=6,
                 shard_by="cells", catalog=cat)
    q = _queries(12).tolist()
    for name in ("ivf40", "routed"):
        jobs = spark_jobs(spark, lambda: index_scan(spark, name, q, 10,
                                               catalog=cat).collect())
        assert len(jobs) == 1, (name, jobs)
