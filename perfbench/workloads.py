"""The three closed-loop workloads: build, query and corpus.

Each workload sets up (inputs, then engine-side state) and runs
`cycle(i)`, one unit of closed-loop work: the next cycle starts when
the previous one returns. Every public call goes through
`Bench.op`, which times it, counts it as attempted and counts a raised
error or a failed output check as failed. Checks and ground truth run
outside the timed calls.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback
from dataclasses import dataclass

import numpy as np

import gen
from metrics import recall

K = 10          # recall@K for index scans, exact search and table search
KNN_K = 5       # kNN-graph self-join
NQ = 50         # queries per batch call
BATCHES = 4     # distinct query batches per workload, used round-robin
SAMPLE = 200    # bulk-output rows checked against exact truth
RECALL_FLOOR = 0.5   # below this an approximate output counts as failed
# degree 16 / L 32 sizes routed shards at 1.5k rows, so the shards build
# in parallel tasks; at the default degree 64 a small index is one graph
# built by one task
VAMANA = dict(engine="diskann", max_degree=16, build_complexity=32,
              shard_by="cells")
IVF = dict(engine="faiss", type="IVFFlat", ivf_nlist=0, nprobe=0)
HNSW = dict(engine="faiss", type="HNSW")


@dataclass(frozen=True)
class Sizes:
    build_n: int
    hnsw_n: int
    insert_rows: int
    delete_rows: int
    query_n: int
    table_rows: int
    lineitem: int
    docs: int
    dups: int


FULL = Sizes(build_n=3_000, hnsw_n=500, insert_rows=200, delete_rows=100,
             query_n=5_000, table_rows=1_000,
             lineitem=30_000, docs=2_000, dups=100)
TINY = Sizes(build_n=600, hnsw_n=200, insert_rows=40, delete_rows=20,
             query_n=800, table_rows=60,
             lineitem=2_000, docs=200, dups=10)


class Bench:
    """Shared run state: session, tracer, catalog, work directory, and
    the attempted/failed tallies."""

    def __init__(self, spark, tracer, work: str, seed: int, sizes: Sizes):
        from duckdb_ann_spark.index import Catalog

        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.catalog = Catalog(os.path.join(work, "catalog"))
        self.attempted = 0
        self.failed = 0
        self.cycle_ops: list[float] = []   # walls of the current cycle
        self.ratios: dict[str, list[float]] = {}

    def op(self, phase: str, fn, *args, **kwargs):
        """One public call: timed, counted; None if it raised."""
        self.attempted += 1
        try:
            out = self.tracer.call(phase, fn, *args, **kwargs)
        except Exception:
            self.failed += 1
            print(f"[perfbench] {phase} raised:", file=sys.stderr)
            traceback.print_exc()
            return None
        self.cycle_ops.append(self.tracer.walls[phase][-1])
        return out

    def check(self, ok: bool, what: str) -> bool:
        """Count a failed output check against the call just made."""
        if not ok:
            self.failed += 1
            print(f"[perfbench] check failed: {what}", file=sys.stderr)
        return ok

    def ratio(self, name: str, value: float) -> None:
        self.ratios.setdefault(name, []).append(float(value))

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def load(self, path: str):
        df = self.spark.read.parquet(path).persist()
        df.count()
        return df


def _by_query(rows, qcol: str, idcol: str) -> dict:
    """→ {query: [(distance, id), ...] nearest first}."""
    out: dict = {}
    for r in rows:
        out.setdefault(int(r[qcol]), []).append((float(r["_distance"]),
                                                int(r[idcol])))
    for v in out.values():
        v.sort()
    return out


def check_topk(b: Bench, what: str, rows, qcol: str, idcol: str,
               queries: np.ndarray, base_of, truth_ids, k: int,
               exact: bool = False, banned: set | None = None,
               short_ok: bool = False):
    """Checks one top-k output → its recall@k (None if it failed).

    * every query has exactly k rows (with `short_ok`, 1 to k: an
      approximate search whose probed cells hold fewer than k rows);
    * each reported distance equals the squared L2 distance recomputed
      in numpy, so distances are non-decreasing in reported order;
    * no banned (tombstoned) id;
    * exact search: every returned id is within float32 rounding of the
      true k-th distance; approximate search: recall@k against exact
      truth of at least RECALL_FLOOR.
    `base_of(ids)` maps ids to their base vectors."""
    if rows is None:
        return None
    got = _by_query(rows, qcol, idcol)
    nq = len(truth_ids)
    lo = 1 if short_ok else k
    ok = b.check(len(got) == nq
                 and all(lo <= len(v) <= k for v in got.values()),
                 f"{what}: {len(rows)} rows for {nq}x{k}")
    for qi, hits in got.items():
        ids = np.array([i for _, i in hits])
        true_d = ((base_of(ids) - queries[qi]) ** 2).sum(1)
        rep = np.array([d for d, _ in hits])
        if not np.allclose(rep, true_d, rtol=1e-3, atol=1e-4):
            ok = b.check(False, f"{what}: query {qi} distances disagree")
            break
        if exact:
            kth = ((base_of(truth_ids[qi][k - 1:k]) - queries[qi]) ** 2).sum()
            # |q|^2 - 2q.x + |x|^2 in float32: the dot product's rounding
            # error grows like sqrt(dim) * eps32 * (|q|^2 + |x|^2)
            slack = 2 * np.sqrt(queries.shape[1]) * 6e-8 * (
                float(queries[qi] @ queries[qi])
                + float((base_of(ids) ** 2).sum(1).max()))
            if true_d.max() > kth + slack:
                ok = b.check(False, f"{what}: query {qi} is not exact")
                break
    if banned:
        seen = {i for v in got.values() for _, i in v}
        ok = b.check(not (seen & banned),
                     f"{what}: tombstoned ids returned") and ok
    r = recall({q: [i for _, i in v] for q, v in got.items()}, truth_ids, k)
    if ok and not exact:
        ok = b.check(r >= RECALL_FLOOR, f"{what}: recall {r:.3f}")
    return r if ok else None


class Workload:
    """setup_inputs (seeded files and truth), load (into Spark, repeated),
    setup_engine (engine-side state, once), cycle(i)."""

    def __init__(self, b: Bench):
        self.b = b
        self.first_recall: list[float] = []

    def setup_engine(self):
        pass

    def recall(self) -> float:
        """Mean recall of the first cycle's outputs. The first cycle always
        runs and sees the same inputs for a seed, so this repeats exactly
        across runs with the same seed."""
        return float(np.mean(self.first_recall)) if self.first_recall else 0.0


class VectorWorkload(Workload):
    """Shared helpers for the two vector workloads."""

    def __init__(self, b: Bench):
        super().__init__(b)
        self.space = gen.VectorSpace(b.seed)

    def batches(self, base: np.ndarray, ids: np.ndarray):
        qs = [self.space.draw(NQ) for _ in range(BATCHES)]
        return qs, [gen.exact_topk(base, ids, q, K)[0] for q in qs]

    def scan(self, phase: str, name: str, q: np.ndarray, truth, base_of,
             banned=None, i: int = 0):
        from duckdb_ann_spark.index import index_scan

        b = self.b
        rows = b.op(phase, lambda: index_scan(
            b.spark, name, q, K, catalog=b.catalog).collect())
        # IVF scans whole probed cells: on small indexes those can hold
        # fewer than K rows, and the query then gets fewer
        r = check_topk(b, phase, rows, "query_idx", "vec_id", q, base_of,
                       truth, K, banned=banned, short_ok=phase.endswith(".ivf"))
        if i == 0 and r is not None:
            self.first_recall.append(r)

    def index_ratios(self, m: dict, raw_bytes: int) -> None:
        from duckdb_ann_spark.index.calibration import calibrated_nprobe
        from duckdb_ann_spark.index.ivf import auto_nprobe, auto_route_nprobe

        if m["engine"] == "DISKANN" and m.get("shards"):
            rnp = (calibrated_nprobe(m, "route_calibration")
                   or auto_route_nprobe(m["shards"], m["dim"]))
            self.b.ratio("index.vamana.route_frac",
                         min(rnp, m["shards"]) / m["shards"])
        elif m.get("nlist_effective"):
            nl = m["nlist_effective"]
            npb = calibrated_nprobe(m) or auto_nprobe(nl, m["dim"])
            self.b.ratio("index.ivf.probe_frac", min(npb, nl) / nl)
        self.b.ratio("index.catalog.bytes_per_vector_byte",
                     _du(self.b.catalog.path(m["name"])) / raw_bytes)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Build(VectorWorkload):
    """The index lifecycle. Each cycle builds routed DiskANN, auto IVFFlat
    and single-graph HNSW (on a slice), scans the last two with one
    batch, then inserts rows into the routed index, tombstones ids,
    scans it, vacuums it, and drops all three. Every cycle starts
    from the same inputs, so cycles repeat the same work."""

    def setup_inputs(self):
        s = self.b.sizes
        n, n_all = s.build_n, s.build_n + s.insert_rows
        self.x = self.space.draw(n_all)
        self.ids = np.arange(n_all, dtype=np.int64)
        gen.write_vectors(self.b.path("base.parquet"), self.ids[:n],
                          self.x[:n])
        gen.write_vectors(self.b.path("insert.parquet"), self.ids[n:],
                          self.x[n:])
        self.q = self.space.draw(NQ)
        self.truth = gen.exact_topk(self.x[:n], self.ids[:n], self.q, K)[0]
        self.htruth = gen.exact_topk(self.x[:s.hnsw_n], self.ids[:s.hnsw_n],
                                     self.q, K)[0]
        pick = np.random.default_rng(self.b.seed + 7)
        self.gone = np.sort(pick.choice(n_all, s.delete_rows, replace=False))
        live = np.setdiff1d(self.ids, self.gone)
        self.live_truth = gen.exact_topk(self.x[live], live, self.q, K)[0]

    def load(self):
        self.df = self.b.load(self.b.path("base.parquet"))
        self.new = self.b.load(self.b.path("insert.parquet"))

    def cycle(self, i: int) -> None:
        from duckdb_ann_spark.index import (
            create_index, delete_from_index, drop_index, insert_into_index,
            vacuum_index)

        b, s = self.b, self.b.sizes
        base_of = lambda ids: self.x[ids]  # noqa: E731
        hdf = self.df.where(f"vec_id < {s.hnsw_n}")
        specs = (("vamana", self.df, VAMANA, self.truth, s.build_n),
                 ("ivf", self.df, IVF, self.truth, s.build_n),
                 ("hnsw", hdf, HNSW, self.htruth, s.hnsw_n))
        for eng, df, opts, truth, n in specs:
            m = b.op(f"index.create_index.{eng}", create_index, df, "vec_id",
                     "embedding", f"b_{eng}", catalog=b.catalog, **opts)
            if m is None:
                continue
            b.check(m["num_vectors"] == n, f"{eng}: {m['num_vectors']} rows")
            self.index_ratios(m, n * gen.DIM * 4)
            if eng != "vamana":   # the routed index is scanned after churn
                self.scan(f"index.index_scan.{eng}", f"b_{eng}", self.q,
                          truth, base_of, i=i)

        n_all = s.build_n + s.insert_rows
        m = b.op("index.insert_into_index.vamana", insert_into_index,
                 b.spark, "b_vamana", self.new, catalog=b.catalog)
        if m is not None:
            b.check(m["num_vectors"] == n_all,
                    f"insert: {m['num_vectors']} vectors")
        b.op("index.delete_from_index.vamana", delete_from_index, b.spark,
             "b_vamana", [int(g) for g in self.gone], catalog=b.catalog)
        self.scan("index.index_scan.vamana", "b_vamana", self.q,
                  self.live_truth, base_of, banned=set(self.gone.tolist()),
                  i=i)
        m = b.op("index.vacuum_index.vamana", vacuum_index, b.spark,
                 "b_vamana", catalog=b.catalog)
        if m is not None:
            live = n_all - s.delete_rows
            b.check(m["num_vectors"] == live
                    and int(m.get("num_deleted", 0)) == 0,
                    f"vacuum: {m['num_vectors']} vectors")
            self.index_ratios(m, live * gen.DIM * 4)
        for eng, *_ in specs:
            drop_index(f"b_{eng}", b.catalog)


class Query(VectorWorkload):
    """Batch scans on routed DiskANN and auto IVF built once, exact batch
    search, a table search and a default kNN-graph self-join."""

    def setup_inputs(self):
        s = self.b.sizes
        self.x = self.space.draw(s.query_n)
        self.ids = np.arange(s.query_n, dtype=np.int64)
        gen.write_vectors(self.b.path("base.parquet"), self.ids, self.x)
        self.qs, self.truths = self.batches(self.x, self.ids)
        self.tq = self.space.draw(s.table_rows)
        gen.write_vectors(self.b.path("tq.parquet"),
                          np.arange(s.table_rows), self.tq, id_col="qid")
        n_s = min(SAMPLE, s.table_rows)
        self.ttruth = gen.exact_topk(self.x, self.ids, self.tq[:n_s], K)[0]
        n_k = min(SAMPLE, s.query_n)
        self.ktruth = gen.exact_topk(self.x, self.ids, self.x[:n_k], KNN_K)[0]

    def load(self):
        self.df = self.b.load(self.b.path("base.parquet"))
        self.tdf = self.b.load(self.b.path("tq.parquet"))
        self.qdf = self.df.withColumnRenamed("vec_id", "qid")

    def setup_engine(self):
        from duckdb_ann_spark.index import create_index

        b = self.b
        for eng, opts in (("vamana", VAMANA), ("ivf", IVF)):
            m = create_index(self.df, "vec_id", "embedding", f"q_{eng}",
                             catalog=b.catalog, **opts)
            self.index_ratios(m, b.sizes.query_n * gen.DIM * 4)

    def cycle(self, i: int) -> None:
        from duckdb_ann_spark.index import index_search_table
        from duckdb_ann_spark.operators.batch import search_batch_ids
        from duckdb_ann_spark.operators.knn_join import knn_join

        b, s = self.b, self.b.sizes
        q, truth = self.qs[i % BATCHES], self.truths[i % BATCHES]
        base_of = lambda ids: self.x[ids]  # noqa: E731
        self.scan("index.index_scan.vamana", "q_vamana", q, truth, base_of,
                  i=i)
        self.scan("index.index_scan.ivf", "q_ivf", q, truth, base_of, i=i)
        rows = b.op("operators.batch.search_batch_ids", lambda: search_batch_ids(
            self.df, "vec_id", "embedding", q, K).collect())
        check_topk(b, "search_batch_ids", rows, "query_idx", "vec_id", q,
                   base_of, truth, K, exact=True)

        rows = b.op("index.index_search_table.vamana", lambda: index_search_table(
            b.spark, "q_vamana", self.tdf, "qid", "embedding", K,
            catalog=b.catalog).collect())
        self._bulk(i, "index_search_table", rows, s.table_rows, K,
                   self.tq, self.ttruth)

        stats: dict = {}
        rows = b.op("operators.knn_join.knn_join", lambda: knn_join(
            self.qdf, "qid", "embedding", self.df, "vec_id", "embedding",
            k=KNN_K, stats=stats).collect())
        if rows is not None and stats.get("nlist"):
            b.ratio("operators.knn_join.probe_frac",
                    stats["nprobe"] / stats["nlist"])
        # approximate: a query whose probed cells hold fewer than KNN_K
        # rows gets fewer (counted in the report as short rows)
        self._bulk(i, "knn_join", rows, s.query_n, KNN_K, self.x,
                   self.ktruth, short_ok=True)

    def _bulk(self, i, what, rows, n_rows, k, queries, truth,
              short_ok=False):
        """Per-query row counts over the whole output, full checks on
        the first SAMPLE query rows."""
        if rows is None:
            return
        per_q: dict = {}
        for r in rows:
            per_q[r["qid"]] = per_q.get(r["qid"], 0) + 1
        lo = 1 if short_ok else k
        if not self.b.check(
                len(per_q) == n_rows
                and all(lo <= c <= k for c in per_q.values()),
                f"{what}: {len(rows)} rows for {n_rows}x{k}"):
            return
        self.b.ratio(f"{what}.short_rows", n_rows * k - len(rows))
        sample = [r for r in rows if r["qid"] < len(truth)]
        r = check_topk(self.b, what, sample, "qid", "vec_id", queries,
                       lambda ids: self.x[ids], truth, k, short_ok=short_ok)
        if i == 0 and r is not None:
            self.first_recall.append(r)


class Corpus(Workload):
    """Relational queries, hybrid search with and without a published
    text index, MinHash candidate pairs and corpus preparation over a
    generated TPC-H-shaped corpus. Read-only. Its recall is the share of
    planted near-duplicate pairs MinHash returns."""

    def setup_inputs(self):
        s = self.b.sizes
        self.sf = self.b.path("sf")
        os.makedirs(self.sf, exist_ok=True)
        tables, self.pairs = gen.corpus_tables(
            self.b.seed, s.lineitem, s.docs, s.dups)
        gen.write_corpus(self.sf, tables)
        self.q1 = gen.pricing_summary_truth(tables["lineitem"])
        self.q_star = gen.region_sales_truth(tables)
        self.qvec = [float(v) for v in tables["embeddings"]["embedding"][0]]
        self.n_docs = s.docs

    def load(self):
        from pyspark.sql import functions as F

        self.docs = self.b.load(f"{self.sf}/documents.parquet")
        emb = self.b.load(f"{self.sf}/embeddings.parquet")
        self.hbase = self.docs.join(
            emb, F.col("doc_id") == F.col("vec_id")
        ).select("doc_id", "text", "embedding")

    def setup_engine(self):
        from duckdb_ann_spark.operators.hybrid import publish_text_index

        self.ti = self.b.path("text_index")
        shutil.rmtree(self.ti, ignore_errors=True)
        publish_text_index(self.hbase, "doc_id", "text", self.ti)

    def cycle(self, i: int) -> None:
        from duckdb_ann_spark.operators.dedup import minhash_candidate_pairs
        from duckdb_ann_spark.operators.hybrid import hybrid_search
        from duckdb_ann_spark.pipeline import prepare_corpus
        from duckdb_ann_spark.suite.relational import (
            q_multi_join_region_sales, q_pricing_summary)

        b = self.b
        rows = b.op("suite.relational.q_pricing_summary",
                    lambda: q_pricing_summary(b.spark, self.sf).collect())
        if rows is not None:
            b.check([tuple(r) for r in rows] == self.q1, "q_pricing_summary")
        rows = b.op("suite.relational.q_multi_join_region_sales",
                    lambda: q_multi_join_region_sales(b.spark, self.sf).collect())
        if rows is not None:
            b.check([tuple(r) for r in rows] == self.q_star,
                    "q_multi_join_region_sales")

        ranked = []
        for ti in (None, self.ti):
            rows = b.op("operators.hybrid.hybrid_search", lambda: hybrid_search(
                self.hbase, "doc_id", self.qvec, "spark join query data",
                text_col="text", vec_col="embedding", k=K,
                text_index=ti).collect())
            if rows is not None:
                ids = [int(r["doc_id"]) for r in rows]
                b.check(len(ids) == K == len(set(ids))
                        and all(0 <= d < self.n_docs for d in ids),
                        f"hybrid_search text_index={ti}: {ids}")
                ranked.append(sorted(ids))
        if len(ranked) == 2:
            b.check(ranked[0] == ranked[1],
                    "hybrid_search: published text index changed the top-k")

        rows = b.op("operators.dedup.minhash_candidate_pairs",
                    lambda: minhash_candidate_pairs(
                        self.docs, "doc_id", "text", ids_only=True).collect())
        if rows is not None:
            found = {tuple(sorted((int(r[0]), int(r[1])))) for r in rows}
            r = sum(p in found for p in self.pairs) / len(self.pairs)
            if b.check(r >= 0.8, f"minhash: planted-pair recall {r:.3f}") \
                    and i == 0:
                self.first_recall.append(r)

        rows = b.op("pipeline.prepare_corpus", lambda: prepare_corpus(
            self.docs, "doc_id", "text", langs=("en",),
            min_quality=0.65).select("doc_id").collect())
        if rows is not None:
            kept = [int(r[0]) for r in rows]
            ks = set(kept)
            both = sum(a in ks and c in ks for a, c in self.pairs)
            # near-dedup is LSH-approximate: hold it to the MinHash floor
            b.check(0 < len(kept) == len(ks) <= self.n_docs
                    and all(0 <= d < self.n_docs for d in ks)
                    and both <= 0.2 * len(self.pairs),
                    f"prepare_corpus: {len(kept)} rows, {both} planted "
                    "pairs kept whole")


WORKLOADS = {"build": Build, "query": Query, "corpus": Corpus}
