"""Per-index MEASURED probe calibration (round 9).

Every `nprobe=0` / `route_nprobe=0` surface used to resolve through the
STATIC formulas in `ivf.py` (`auto_nprobe` / `auto_route_nprobe`),
calibrated once, offline, on UNIFORM vectors — IVF's worst case. The
bench's own numbers showed what that costs on the worst case it was
tuned for: routing probed 72% of shards and auto-IVF 35% of cells to
hold the reference's 0.70 recall@10 floor
(`/root/reference/test/sql/diskann_streaming.test:40-50`). On real
(clustered) embeddings those rules over-probe by integer factors, and
nothing in the artifact said so. At 100x scale this is the difference
between probing 3 shards and probing 700.

This module measures the probe→recall curve of THE INDEX BEING BUILT,
at CREATE INDEX time, and stores the floor-clearing probe count in the
manifest; `nprobe=0` then means "what this index measurably needs",
falling back to the static worst-case rule only for artifacts without a
measurement (pre-round-9 manifests, `calibration_queries=0` builds).

How the measurement stays one cheap pass (no per-nprobe re-search):
for a held-out query sample, the exact top-k neighbors AND the cell
each neighbor lives in are computed in ONE distributed pass; ranking
the cells per query by centroid distance then gives the ENTIRE
recall-vs-nprobe curve in closed form — a true neighbor is found at
probe depth p iff its cell ranks < p. (For routed GRAPH shards the
curve is the ROUTING recall — the in-shard graph search multiplies its
own ~0.92-0.97 miss on top, which is why `ROUTED_TARGET` sits higher
than `IVF_TARGET`; see the constants.)

Staleness contract: the measurement reflects the data AT BUILD TIME.
Appends route new rows into the existing cells/shards without
re-measuring (one bounded pass per append would defeat the append's
own cost bound), so a heavily-appended index drifts from its recorded
curve; `vacuum_index` / `merge_indexes` rebuild through `build` and
therefore RE-measure — the same rebalance path that already retrains
routing. Tombstones shift the true-neighbor set outward (survivors can
live in lower-ranked cells), so heavy-delete indexes drift too — the
engine's existing discipline already routes them to `vacuum_index`
(`needs_vacuum`), which re-measures.

Scale shape: the held-out sample rides the build's train-sample
collect (`collect_train_and_sample`, one hash-of-id pass for both).
IVF builds and knn_join then run one mapInArrow scan with PER-PARTITION
top-(k+1) accumulation — each partition emits at most
`n_queries*(k+1)` rows regardless of how many Arrow batches it holds,
so driver traffic is O(partitions * queries * k), never O(N); candidate
cells are computed in-task against the broadcast centroids. Routed
graph builds scan nothing extra: each shard-build task folds its own
rows into the top-(k+1) and counts the in-shard L curve on the shard it
just wrote (`ShardMeasure`), so the measurement adds no Spark job to
the build beyond the end-anchor search.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.distance import np_index_distances, np_stack_vectors

# Floor-clearing targets, both sized for the reference's recall@10 >=
# 0.70 floor plus sampling noise (64 queries x k=10 => recall-estimate
# std ~0.016; 0.08 margin ~= 5 sigma):
#
# * IVF cells are scanned EXACTLY, so routing recall IS end recall:
#   target 0.78 reproduces the static rule's measured margin band
#   (0.78-0.89 on uniform) — but now per index, so clustered data gets
#   the small probe count it actually needs.
# * Routed graph shards compound the routing miss with the per-shard
#   graph-search miss, so the routing target sits well above the floor.
#   Honest round-9 measurement of the residual: on the 100k/128-shard
#   CLUSTERED bench leg the measured curve is steep (2 probes already
#   reach 0.958 routing recall) yet end recall is 0.728 — the loss is
#   IN-SHARD (greedy beam ~0.76 on dense-cluster shards, vs 0.92-0.97
#   on uniform ones; occlusion pruning bites hardest when every point
#   is close), which no routing target can buy back — that lever is
#   `search_complexity` (L), not probes. 0.90 is the belt: steep
#   curves overshoot it for free (clustered measured nprobe is
#   unchanged vs a 0.85 target), shallow (uniform) curves land at
#   0.64 probe fraction — still under the static rule's 0.72 — with
#   compound 0.83 measured.
IVF_TARGET = 0.78
ROUTED_TARGET = 0.90
DEFAULT_QUERIES = 64
CAL_K = 10

# In-shard graph-search recall target (round 10 — the symmetric half of
# the round-9 probe work). Routing calibration holds candidate COVERAGE
# at ROUTED_TARGET, but the greedy beam inside a probed shard stacks its
# own miss on top: measured ~0.92-0.97 at the static default L on
# uniform shards but ~0.76 on dense-cluster shards (occlusion pruning
# bites when every point is close — round-9 measurement, see the
# ROUTED_TARGET comment above). Why 0.95 and not the naive
# compound-budget 0.90: the held-out sample measures DATA-distribution
# queries, and real query sets sit partly off that distribution — on
# the 100k/128-shard clustered bench the sample curve read 0.90 at
# L=1.25x base while the cluster-core query set held only ~0.81
# in-shard at that L (end recall 0.758). The measured end-recall sweep
# on that config: L=2x base -> 0.834, 3x -> 0.884, 4x -> 0.904, with
# walls moving ~10-30% — so the target carries the off-sample margin
# explicitly; sample-curve 0.95 landed at 2x base = end 0.834, a
# 0.13 margin over the reference's 0.70 floor. On uniform shards the
# honest (self-excluded) base-L recall typically sits at/near 0.95
# already, so the common case stays measured-L == base.
L_TARGET = 0.95
# L grid: multiples of the engine's static default (build_complexity /
# ef_construction). Search cost is ~linear in L, so the grid tops out
# at 8x (a shard needing more is mis-sized — the degree-aware budget
# should have split it) and the measurement records the honest
# achieved recall when even 8x misses the target.
L_GRID_FACTORS = (1.0, 1.25, 1.5, 2.0, 3.0, 4.0, 6.0, 8.0)
L_GRID_CAP = 4096
# measure on at most this many shards (the busiest by held-out query
# mass): bounds the per-build measurement cost regardless of shard
# count, the same discipline as the query-sample cap
L_MAX_SHARDS = 8


def _every(id_col: str, n_rows: int, keep: int):
    """Hash-of-id predicate keeping about `keep` of `n_rows` rows (every
    row when `n_rows <= keep`, none when `keep <= 0`) — the
    deterministic sampling every build-time collect shares (insertion
    order is not a scalable concept)."""
    if keep <= 0:
        return F.lit(False)
    if n_rows <= keep:
        return F.lit(True)
    return F.pmod(
        F.abs(F.hash(F.col(id_col))), F.lit(max(1, n_rows // keep))
    ) == 0


def collect_train_and_sample(
    src: DataFrame, id_col: str, vec_col: str, n_rows: int,
    train_cap: int, n_queries: int,
) -> "tuple[np.ndarray | None, np.ndarray, np.ndarray]":
    """ONE driver collect → (train, qids, qmat): the k-means train set
    and the held-out query sample of a calibrated build.

    A row is collected when it passes either hash-of-id predicate. The
    train set is the train rows in collect order cut to `train_cap`
    (None when `train_cap` is 0). The sample keeps about
    `4 * n_queries` rows and takes the first `n_queries` by ascending
    id, so the set is stable for a given table (empty (0, 0) when
    `n_queries` is 0)."""
    pdf = (
        src.select(id_col, vec_col,
                   _every(id_col, n_rows, train_cap).alias("__train"),
                   _every(id_col, n_rows, 4 * n_queries).alias("__sample"))
        .where(F.col("__train") | F.col("__sample"))
        .toPandas()
    )
    train = None
    if train_cap > 0:
        train = np_stack_vectors(pdf.loc[pdf["__train"], vec_col])[:train_cap]
    sample = (
        pdf[pdf["__sample"]].sort_values(id_col).reset_index(drop=True)
        .iloc[:n_queries]
    )
    if not len(sample):
        return train, np.array([], dtype=np.int64), np.zeros((0, 0), np.float32)
    return (
        train,
        sample[id_col].to_numpy(dtype=np.int64),
        np_stack_vectors(sample[vec_col]),
    )


def _topk_fold(acc, d: np.ndarray, ids: np.ndarray, extra: np.ndarray,
               cap: int):
    """Fold one (nq, n) distance block into the running per-query
    top-`cap` → [dists, ids, extra], each (nq, <=cap, ...). `extra` is
    a per-row payload (the row's vector, or its shard) carried with
    each candidate. The merge keeps the lowest (distance, id); a
    block's own cut at a tie is argpartition's."""
    take = min(cap, d.shape[1])
    part = np.argpartition(d, take - 1, axis=1)[:, :take]
    blk = [np.take_along_axis(d, part, axis=1), ids[part], extra[part]]
    if acc is not None:
        blk = [np.concatenate([a, b], axis=1) for a, b in zip(acc, blk)]
    if blk[0].shape[1] > cap:
        # nq is tiny; lexsort is per-row
        o = np.stack([
            np.lexsort((blk[1][i], blk[0][i]))[:cap]
            for i in range(d.shape[0])
        ])
        blk = [
            np.take_along_axis(a, o.reshape(o.shape + (1,) * (a.ndim - 2)),
                               axis=1)
            for a in blk
        ]
    return blk


def _exact_topk_scan(
    src: DataFrame,
    id_col: str,
    vec_col: str,
    qmat: np.ndarray,
    centroids: np.ndarray,
    metric: str,
    k: int,
) -> pd.DataFrame:
    """ONE distributed scan → per-query exact top-(k+1) candidates with
    the cell each candidate lives in: per-partition top-(k+1)
    accumulation (each partition emits at most `nq*(k+1)` rows
    regardless of batch count, so driver traffic is
    O(partitions*queries*k), never O(N)); candidate cells computed
    in-task against the broadcast centroids. The truth of the IVF build
    and knn_join measurements; routed graph builds compute the same
    truth per shard inside their build tasks (`ShardMeasure`)."""
    spark = src.sparkSession
    nq = qmat.shape[0]
    cap = k + 1  # +1 so dropping the query's own row still leaves k
    bq = spark.sparkContext.broadcast(
        (np.ascontiguousarray(qmat), np.ascontiguousarray(centroids))
    )

    def scan(batches):
        # mapInArrow (round 12): the zero-copy vector reshape (vs the
        # pandas object-Series round trip) cuts the measurement's wall
        # the same way it cut the IVF assignment pass
        import pyarrow as pa

        from ..functions.distance import np_from_arrow_list

        qm, cm = bq.value
        dim = qm.shape[1]
        acc = None
        for b in batches:
            if b.num_rows == 0:
                continue
            vcol = b.column(b.schema.get_field_index(vec_col))
            mat = np_from_arrow_list(vcol, dim)
            if mat is None:
                mat = np_stack_vectors(
                    b.select([vec_col]).to_pandas()[vec_col]
                )
            if mat.shape[1] != dim:
                continue  # ragged row: same drop rule as index search
            ids = b.column(b.schema.get_field_index(id_col)).to_numpy(
                zero_copy_only=False
            ).astype(np.int64, copy=False)
            d = np_index_distances(metric, mat, qm)  # (nq, n)
            acc = _topk_fold(acc, d, ids, mat, cap)
        if acc is None:
            return
        acc_d, acc_id, acc_v = acc
        m = acc_d.shape[1]
        cells = np_index_distances(
            metric, cm, acc_v.reshape(nq * m, dim)
        ).argmin(axis=1)
        yield pa.RecordBatch.from_pandas(
            pd.DataFrame(
                {
                    "qi": np.repeat(np.arange(nq, dtype=np.int32), m),
                    "_d": acc_d.reshape(-1).astype(np.float64),
                    "_id": acc_id.reshape(-1),
                    "_cell": cells.astype(np.int32),
                }
            ),
            preserve_index=False,
        )

    from ..functions.distance import cast_id_vec

    return (
        # Arrow-pass dtype normalization (round-13 advice): knn_join
        # feeds USER frames through this scan; builds feed the already-
        # normalized create_index src, where the casts are no-ops
        cast_id_vec(src, id_col, vec_col)
        .mapInArrow(scan, schema="qi int, _d double, _id long, _cell int")
        .toPandas()
    )


def _merge_truth(
    hits: pd.DataFrame, qids: np.ndarray, k: int
) -> "list[tuple[np.ndarray, np.ndarray, np.ndarray]]":
    """Merge the per-partition (or per-task) candidates to the
    per-query EXACT global top-k → one (ids, dists, cells) triple per
    query, sorted by (distance, id) with the query's own row dropped
    (self-exclusion by id — the measurement discipline every
    calibration pass shares)."""
    truth: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = [
        (np.array([], np.int64), np.array([]), np.array([], np.int64))
    ] * len(qids)
    for qi, grp in hits.groupby("qi", sort=True):
        o = np.lexsort((grp["_id"].to_numpy(), grp["_d"].to_numpy()))
        g_ids = grp["_id"].to_numpy()[o]
        g_d = grp["_d"].to_numpy()[o]
        g_cells = grp["_cell"].to_numpy()[o]
        keep = g_ids != qids[int(qi)]  # drop the query's own row
        truth[int(qi)] = (
            g_ids[keep][:k], g_d[keep][:k], g_cells[keep][:k]
        )
    return truth


def _routing_curve(
    truth, qmat: np.ndarray, centroids: np.ndarray, metric: str
) -> np.ndarray | None:
    """recall-vs-probed-cells curve from the exact truth's cells: rank
    the cells per query by centroid distance (the index's own routing
    order); a true neighbor is found at probe depth p iff its cell
    ranks < p — the ENTIRE curve in closed form, no per-nprobe
    re-search. curve[p-1] = recall@p probes; None when no ranks."""
    nlist = int(centroids.shape[0])
    cd = np_index_distances(metric, centroids, qmat)  # (nq, nlist)
    order = np.argsort(cd, axis=1, kind="stable")
    rank_of_cell = np.empty_like(order)
    np.put_along_axis(
        rank_of_cell, order,
        np.broadcast_to(np.arange(nlist), (qmat.shape[0], nlist)).copy(),
        axis=1,
    )
    ranks: list[int] = []
    for qi, (_ids, _ds, cells) in enumerate(truth):
        ranks.extend(int(rank_of_cell[qi, c]) for c in cells)
    if not ranks:
        return None
    hist = np.bincount(np.asarray(ranks), minlength=nlist)
    return np.cumsum(hist) / float(len(ranks))


def _probe_cal_dict(
    curve: np.ndarray, nlist: int, target: float, nq: int, k: int,
    n_rows: int,
) -> dict:
    measured = int(np.searchsorted(curve, target, side="left")) + 1
    measured = min(measured, nlist)
    # log-spaced curve slice for the manifest (bounded, observable)
    pts = sorted({1, 2, measured, nlist} | {
        p for p in (2 ** e for e in range(1, 17)) if p <= nlist
    })
    return {
        "n_queries": int(nq),
        "k": int(k),
        "target": float(target),
        "nprobe": measured,
        "recall_at_nprobe": round(float(curve[measured - 1]), 4),
        "probes": [int(p) for p in pts],
        "recall": [round(float(curve[p - 1]), 4) for p in pts],
        # staleness observability (round 10): the measurement reflects
        # the data AT BUILD TIME (see the module docstring's staleness
        # contract); `ann_index_info` compares this against the live
        # num_vectors and reports `calibration_stale` once appends
        # drift past CALIBRATION_STALE_FRACTION
        "rows_at_measurement": int(n_rows),
    }


def measure_probe_calibration(
    src: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    metric: str,
    n_rows: int,
    target: float,
    n_queries: int = DEFAULT_QUERIES,
    k: int = CAL_K,
    sample: "tuple[np.ndarray, np.ndarray] | None" = None,
) -> dict | None:
    """→ manifest-ready calibration dict, or None when the index is too
    small/degenerate to measure (<=1 cell, <2 rows, no sample). The
    dict's `nprobe` is the smallest probe count whose measured
    cell-level recall@k clears `target` on the held-out sample; `probes`
    / `recall` carry a log-spaced slice of the full curve for
    observability (the curve always ends at 1.0 — every true neighbor's
    cell is SOMEWHERE in the ranking). The single-measurement surface
    (IVF builds, `knn_join`'s in-call cells) — graph builds measure
    routing + in-shard L + end recall together through
    `measure_graph_calibrations` instead. `sample` is the (qids, qmat)
    the caller already collected with its train set
    (`collect_train_and_sample`); None collects it here."""
    nlist = int(centroids.shape[0])
    if nlist <= 1 or n_rows < 2 or n_queries <= 0:
        return None
    k = max(1, min(k, n_rows - 1))
    if sample is None:
        sample = collect_train_and_sample(
            src, id_col, vec_col, n_rows, 0, n_queries
        )[1:]
    qids, qmat = sample
    nq = qmat.shape[0]
    if nq == 0:
        return None
    hits = _exact_topk_scan(src, id_col, vec_col, qmat, centroids, metric, k)
    if not len(hits):
        return None
    truth = _merge_truth(hits, qids, k)
    curve = _routing_curve(truth, qmat, centroids, metric)
    if curve is None:
        return None
    return _probe_cal_dict(curve, nlist, target, nq, k, n_rows)


def _l_targets(
    qmat: np.ndarray, route: np.ndarray, metric: str, existing=None,
    max_shards: int = L_MAX_SHARDS,
) -> np.ndarray:
    """The shard each held-out query is measured on by the in-shard L
    pass, -1 for queries the pass skips: the query's top-1 routed shard
    (stable ranking over the route rows) among `existing` shard ids —
    every route row when None, the routed build's prediction before
    any shard file exists — kept only on the `max_shards` busiest
    targets by held-out query mass. Bounding the measured shards bounds
    the pass's cost regardless of shard count."""
    nq = qmat.shape[0]
    order = np.argsort(
        np_index_distances(metric, route, qmat), axis=1, kind="stable"
    )
    if existing is None:
        tgt = order[:, 0].astype(np.int64)
    else:
        tgt = np.full(nq, -1, dtype=np.int64)
        for i in range(nq):
            for c in order[i]:
                if int(c) in existing:
                    tgt[i] = int(c)
                    break
    live = tgt >= 0
    if live.any():
        shards_u, counts = np.unique(tgt[live], return_counts=True)
        busiest = shards_u[np.argsort(-counts, kind="stable")][:max_shards]
        tgt[~np.isin(tgt, busiest)] = -1
    return tgt


def _l_counts(g, ids: np.ndarray, qs: np.ndarray, q_ids: np.ndarray,
              grid: "list[int]", k: int, metric: str) -> "list[tuple]":
    """In-shard recall-vs-L hit counts of one shard → [(L, hits, total)]
    (round 10). Routing calibration fixes WHICH shards a query probes;
    this fixes how hard the greedy beam works INSIDE them — the two
    losses multiply, and round 9's measurement showed the in-shard term
    is the binding one on clustered data (~0.76 at the static default L
    vs 0.92-0.97 on uniform shards — occlusion pruning bites when every
    point is close).

    `g`/`ids` are the shard as served (`vamana._load_shard`: SQ8 codes,
    HNSW layers); `qs`/`q_ids` the held-out queries routed to it. The
    exact in-shard top-k comes from one (nq, shard_rows) GEMM — a shard
    is budget-bounded, so this is small — then the lock-step batch
    search runs once per grid L. Recall is judged in the exact-distance
    domain with a tie tolerance (a returned label counts if its exact
    distance is within the k-th exact distance), so GEMM-vs-per-row
    float32 accumulation differences cannot miscount. Self-exclusion is
    BY ID via the shard's id sidecar (nearest-point "self" miscounts
    duplicate vectors and is wrong outright for IP)."""
    n = int(g.n)
    if n < 2:
        return []
    # the query IS a shard row (held-out sample routed to its own cell),
    # so its self-point is a guaranteed trivial hit for BOTH the exact
    # truth and the beam — excluding it keeps the measurement honest
    # (the probe calibration drops the query's own row for the same
    # reason; an inflated curve here under-measures L and the end
    # recall pays for it)
    kk = min(k, n - 1)
    # judge (and SEARCH) only queries whose row is in this shard —
    # defensive rows can't be self-excluded, and searching them per
    # grid L was pure waste (round-10 advice: |grid| beam runs per
    # never-judged query)
    by_id = np.argsort(ids, kind="stable")
    pos = by_id[np.searchsorted(ids[by_id], q_ids).clip(max=n - 1)]
    self_all = np.where(ids[pos] == q_ids, pos, -1)
    judged = self_all >= 0
    if not judged.any():
        return []
    qs = qs[judged]
    self_lab = self_all[judged]
    nq_s = qs.shape[0]
    vecs = np.asarray(g.vectors[:n])
    d_exact = np_index_distances(metric, vecs, qs)  # (nq, n)
    dk = np.full(nq_s, np.inf)
    for qi in range(nq_s):
        dq = d_exact[qi].copy()
        dq[self_lab[qi]] = np.inf  # kk-th NEIGHBOR, self out
        dk[qi] = np.partition(dq, kk - 1)[kk - 1]
    # tie/float tolerance: squared-l2 >= 0, negated-ip can be negative —
    # widen by magnitude either way
    tol = dk + np.maximum(1e-6, np.abs(dk) * 1e-5)
    total = int(kk * nq_s)
    out = []
    for L in grid:
        # request kk+1 so the self-point occupying one slot cannot crowd
        # out a true neighbor
        res = g.search_batch(qs, kk + 1, L)
        hits = 0
        for qi, hl in enumerate(res):
            found = 0
            for label, _dist in hl:
                lab = int(label)
                if lab == int(self_lab[qi]) or found >= kk:
                    continue
                if d_exact[qi, lab] <= tol[qi]:
                    hits += 1
                found += 1
            # only the first kk non-self returns are judged
        out.append((int(L), int(hits), total))
    return out


def graph_sample_size(n_queries: int) -> int:
    """Held-out sample size of a routed graph measurement: the 4x
    oversample the busiest-shard L cut needs, capped at 512."""
    return min(4 * n_queries, 512)


def graph_plan(
    qids: np.ndarray, qmat: np.ndarray, route: np.ndarray, metric: str,
    n_rows: int, base_l: int, n_queries: int, existing=None,
    deleted: "np.ndarray | None" = None, k: int = CAL_K,
    max_shards: int = L_MAX_SHARDS,
) -> dict | None:
    """The driver-side plan of a routed graph measurement, or None when
    there is nothing to measure (calibration off, no L base, <2 rows,
    empty sample). Small enough to broadcast with a build (the sample
    is <=512 x d floats): the sample, the clamped k, the L grid, the
    per-query L targets (`_l_targets` over `existing`), and the
    tombstoned ids the truth must skip. `truth=False` plans measure
    only L (the build's missing-target re-run)."""
    if (n_queries <= 0 or int(base_l) <= 0 or n_rows < 2
            or qmat.shape[0] == 0):
        return None
    return {
        "qids": qids,
        "qmat": np.ascontiguousarray(qmat),
        "k": max(1, min(k, n_rows - 1)),
        "metric": metric,
        "grid": _l_grid(int(base_l)),
        "tgt": _l_targets(qmat, route, metric, existing, max_shards),
        "deleted": deleted,
        "truth": True,
    }


# one row per measured shard: (shard, rows) plus its L hit counts; the
# task's last row also carries the task's exact top-(k+1) candidates
MEASURE_SCHEMA = (
    "shard int, n long, qi array<int>, _d array<double>, _id array<long>, "
    "_cell array<int>, l array<int>, hits array<long>, total array<long>"
)
_MEASURE_NAMES = [f.split()[0] for f in MEASURE_SCHEMA.split(", ")]


class ShardMeasure:
    """One task's share of a routed graph measurement (`graph_plan`).

    `batch(shard, ids, vecs, last)` runs on a shard whose file is
    written: it folds the shard's rows into the task's exact top-(k+1)
    per query — the candidate's cell is the shard that holds it, so
    split cells need no plumbing — and, when the shard is an L target,
    counts its in-shard L-grid hits on the file read back the way it is
    served (`_l_counts`). It returns the shard's `MEASURE_SCHEMA` row;
    the `last` row of the task carries the folded candidates, so a task
    ships at most nq x (k+1) of them. The routed build calls it right
    after each shard build (`vamana._build_cells`), and `measure_shards`
    over the shard files on disk — one code path for both."""

    def __init__(self, plan: dict, artifact_dir: str):
        self.plan = plan
        self.artifact_dir = artifact_dir
        self.acc = None

    def batch(self, shard: int, ids, vecs, last: bool):
        import pyarrow as pa

        p = self.plan
        n = 0 if ids is None else len(ids)
        if n and p["truth"]:
            if p["deleted"] is not None:
                live = ~np.isin(ids, p["deleted"])
                ids, vecs = ids[live], vecs[live]
            if len(ids):
                d = np_index_distances(p["metric"], vecs, p["qmat"])
                self.acc = _topk_fold(
                    self.acc, d, ids, np.full(len(ids), shard, np.int32),
                    p["k"] + 1,
                )
        counts = np.empty((0, 3), np.int64)
        sel = p["tgt"] == shard
        if sel.any():
            # deferred import breaks the module cycle (vamana imports
            # this module)
            from .vamana import _load_shard, _shard_path

            g, gids = _load_shard(_shard_path(self.artifact_dir, shard))
            counts = np.array(
                _l_counts(g, gids, p["qmat"][sel], p["qids"][sel],
                          p["grid"], p["k"], p["metric"]),
                dtype=np.int64,
            ).reshape(-1, 3)
        cand = [np.empty(0, np.int32), np.empty(0, np.float64),
                np.empty(0, np.int64), np.empty(0, np.int32)]
        if last and self.acc is not None:
            acc_d, acc_id, acc_cell = self.acc
            nq, m = acc_d.shape
            cand = [np.repeat(np.arange(nq, dtype=np.int32), m),
                    acc_d.reshape(-1).astype(np.float64),
                    acc_id.reshape(-1), acc_cell.reshape(-1)]
            self.acc = None
        lists = cand + [counts[:, 0].astype(np.int32), counts[:, 1],
                        counts[:, 2]]
        return pa.RecordBatch.from_arrays(
            [pa.array([shard], pa.int32()), pa.array([n], pa.int64())]
            + [pa.ListArray.from_arrays(pa.array([0, len(a)], pa.int32()),
                                        pa.array(a))
               for a in lists],
            names=_MEASURE_NAMES,
        )


def measure_shards(engine, spark, artifact_dir: str, plan: dict):
    """The standalone per-shard pass: ONE job over the shard files on
    disk (`engine._shard_scan`) running `ShardMeasure` on each → the
    collected `MEASURE_SCHEMA` rows. The truth reads each shard's raw
    vectors (full precision under SQ8) and id sidecar. Used by
    `recalibrate_index`, and by a routed build whose predicted L target
    wrote no file."""

    def emit(shard_files):
        from .file_format import read_diskann, read_ids
        from .vamana_core import _blas_set_threads

        m = ShardMeasure(plan, artifact_dir)
        # one BLAS thread, as in the build tasks: OpenBLAS GEMM results
        # change in the last ulp with the thread count, and the truth's
        # distances must not depend on which path measured them
        prev_threads = _blas_set_threads(1)
        try:
            for j, (shard, path) in enumerate(shard_files):
                ids = vecs = None
                if plan["truth"]:
                    g = read_diskann(path, mmap=True)
                    ids = read_ids(path, g.n)
                    vecs = np.asarray(g.vectors[: g.n])
                yield m.batch(shard, ids, vecs, j == len(shard_files) - 1)
        finally:
            if prev_threads is not None:
                _blas_set_threads(prev_threads)

    return engine._shard_scan(
        spark, artifact_dir, emit, MEASURE_SCHEMA
    ).toPandas()


def gather_measures(rows) -> "tuple[pd.DataFrame, pd.DataFrame]":
    """Collected `MEASURE_SCHEMA` rows → (candidates (qi, _d, _id,
    _cell), L counts (l, hits, total)). Accepts Arrow-collected numpy
    arrays and row-collected lists alike."""

    def cat(col, dt):
        parts = [np.asarray(v, dt) for v in rows[col] if v is not None]
        return np.concatenate(parts) if parts else np.empty(0, dt)

    hits = pd.DataFrame({"qi": cat("qi", np.int32), "_d": cat("_d", np.float64),
                         "_id": cat("_id", np.int64),
                         "_cell": cat("_cell", np.int32)})
    counts = pd.DataFrame({"l": cat("l", np.int32),
                           "hits": cat("hits", np.int64),
                           "total": cat("total", np.int64)})
    return hits, counts


def _l_cal_dict(
    recall: dict, grid: "list[int]", base_l: int, target: float,
    nq: int, k: int, n_rows: int,
) -> dict | None:
    """→ manifest-ready `l_calibration` dict from the measured
    {L: recall} map: smallest grid L clearing `target`, else the CURVE
    KNEE — the smallest L within epsilon of the best achieved recall,
    not the grid max unconditionally (round-10 advice: a flat curve
    past 2x base would otherwise pin every search_complexity=None
    search to the 8x beam cost for a ~0.01 recall difference)."""
    ls = [L for L in grid if L in recall]
    if not ls:
        return None
    measured = grid[-1]
    for L in grid:
        if L in recall and recall[L] >= target:
            measured = L
            break
    else:
        best = max(recall[L] for L in ls)
        eps = 0.01
        measured = next(L for L in ls if recall[L] >= best - eps)
    return {
        "n_queries": int(nq),
        "k": int(k),
        "target": float(target),
        "base": int(base_l),
        "search_complexity": int(measured),
        "recall_at_l": round(float(recall.get(measured, 0.0)), 4),
        "ls": [int(L) for L in ls],
        "recall": [round(float(recall[L]), 4) for L in ls],
        "rows_at_measurement": int(n_rows),
    }


def _measure_end_recall(
    search_fn, qids: np.ndarray, qmat: np.ndarray, truth, k: int,
    route_nprobe: int, search_complexity: int,
) -> "tuple[float, int]":
    """One END-TO-END search of the held-out queries through the real
    search path at the resolved default config → (measured end
    recall@k, n_queries). The exact global top-k (from the shared scan)
    is the truth; judging uses the same exact-domain tie tolerance as
    the in-shard pass, against the k-th TRUE distance — the search
    path's own reported distances live in the same metric domain, so
    kernel-vs-GEMM float noise cannot miscount. Self-excluded by id on
    both sides (the query row is in the index)."""
    hits_total = 0
    judged_total = 0
    results = search_fn(qmat, k + 1, int(route_nprobe),
                        int(search_complexity))
    for qi in range(qmat.shape[0]):
        t_ids, t_ds, _cells = truth[qi]
        kk = min(k, len(t_ids))
        if kk <= 0:
            continue
        dk = float(t_ds[kk - 1])
        tol = dk + max(1e-6, abs(dk) * 1e-5)
        found = 0
        hits = 0
        for rid, dist in results[qi]:
            if int(rid) == int(qids[qi]) or found >= kk:
                continue
            if float(dist) <= tol:
                hits += 1
            found += 1
        hits_total += hits
        judged_total += kk
    if judged_total == 0:
        return 0.0, 0
    return hits_total / judged_total, int(qmat.shape[0])


def shape_search_results(rows, n_queries: int, id_col: str):
    """Collected (query_idx, id, _distance) rows → the per-query
    (id, dist) lists sorted by (dist, id) that
    `measure_graph_calibrations`' search_fn contract expects. Shared
    by the build-path closure (`vamana._run_cell_build`) and
    `recalibrate_index` so the shaping/tie-break can never drift
    between the two end-recall measurements."""
    out: list[list] = [[] for _ in range(n_queries)]
    for r in rows:
        out[int(r["query_idx"])].append(
            (int(r[id_col]), float(r["_distance"]))
        )
    for hits in out:
        hits.sort(key=lambda t: (t[1], t[0]))
    return out


def _l_grid(base_l: int) -> "list[int]":
    return sorted(
        {
            min(L_GRID_CAP, max(1, int(round(base_l * f))))
            for f in L_GRID_FACTORS
        }
    )


def measure_graph_calibrations(
    plan: dict | None,
    hits: pd.DataFrame,
    l_counts: pd.DataFrame,
    centroids: np.ndarray,
    n_rows: int,
    base_l: int,
    search_fn,
    measure_routing: bool = True,
    route_target: float = ROUTED_TARGET,
    l_target: float = L_TARGET,
    n_queries: int = DEFAULT_QUERIES,
) -> "tuple[dict | None, dict | None, dict | None]":
    """The finishing step of a routed graph measurement →
    (route_calibration, l_calibration, end_calibration), each None when
    unmeasurable.

    The measurement is planned on the driver (`graph_plan`: one shared
    held-out sample, collected with the k-means train set), and its
    per-shard work runs where the shard data already is
    (`ShardMeasure`): inside the routed build's shard-build tasks, or
    in one job over the shards on disk (`measure_shards`,
    `recalibrate_index`). `hits` and `l_counts` are those tasks'
    gathered output (`gather_measures`). This step merges the
    candidates to the exact global truth, derives the routing curve
    from the candidates' shards, turns the L counts into the L curve,
    and runs ONE end-to-end search of the sample at the resolved
    default config (`search_fn(qmat, k, route_nprobe, L) ->
    [[(id, dist), ...]]` — the engine's real search path). The routed
    build therefore adds no scan of the table: its measurement costs
    the sample rows in the train collect, the per-shard GEMM and L
    grid inside the build tasks, and the end search.

    `end_calibration` is the piece that turns the two sample curves
    into an honest end-recall contract: the sample curves are measured
    on DATA-distribution queries and their product systematically
    over-predicts the end recall of off-sample query sets (round-10
    measurement: sample product ~0.91 vs measured end 0.834 on the
    clustered 100k config). Storing {measured end recall, predicted
    product} at the default operating point lets
    `resolve_end_recall` deflate a caller's `target_recall` by the
    index's OWN measured prediction error instead of a global fudge
    factor.

    `measure_routing=False` (pinned `route_nprobe` builds) skips the
    routing curve AND the end measurement (the composition needs both
    curves), but still measures L — the per-call knob with no build
    pin. The routing curve uses the whole 4x sample (a strictly
    lower-variance curve than the IVF measurement's)."""
    if plan is None or not len(hits):
        return None, None, None
    qids, qmat, k = plan["qids"], plan["qmat"], plan["k"]
    nq = qmat.shape[0]
    truth = _merge_truth(hits, qids, k)
    nlist = int(centroids.shape[0])
    route_cal = None
    curve = None
    if nlist > 1:
        curve = _routing_curve(truth, qmat, centroids, plan["metric"])
        if curve is not None and measure_routing:
            route_cal = _probe_cal_dict(
                curve, nlist, route_target, nq, k, n_rows
            )
    l_recall: dict = {}
    if len(l_counts):
        summed = l_counts.groupby("l", sort=True).sum()
        l_recall = (summed["hits"] / summed["total"]).to_dict()
    l_cal = _l_cal_dict(
        l_recall, plan["grid"], int(base_l), l_target,
        int((plan["tgt"] >= 0).sum()), k, n_rows,
    )
    end_cal = None
    if route_cal is not None and l_cal is not None and search_fn is not None:
        p_star = int(route_cal["nprobe"])
        l_star = int(l_cal["search_complexity"])
        rp = float(curve[p_star - 1])
        rl = float(l_recall[l_star])
        # the end search costs ~n_queries * route_nprobe * L beam work
        # — on UNIFORM data the measured nprobe can be most of the
        # shards (bench: 79/128), and running the full 4x routing
        # sample through that blew the routed build wall up 35%
        # (round-11 bench). 2x n_queries (128 at the default) keeps
        # the recall-estimate std at ~0.011 for k=10 — plenty for a
        # deflation anchor — at a quarter of the search work.
        end_n = min(qmat.shape[0], 2 * n_queries)
        end_recall, end_nq = _measure_end_recall(
            search_fn, qids[:end_n], qmat[:end_n], truth[:end_n], k,
            p_star, l_star,
        )
        if end_nq > 0:
            end_cal = {
                "n_queries": int(end_nq),
                "k": int(k),
                "route_nprobe": p_star,
                "search_complexity": l_star,
                "recall": round(float(end_recall), 4),
                "predicted": round(rp * rl, 4),
                "rows_at_measurement": int(n_rows),
            }
    return route_cal, l_cal, end_cal


def resolve_end_recall(
    manifest: dict, target: float, name: str = ""
) -> "tuple[int, int]":
    """Resolve (route_nprobe, search_complexity) JOINTLY so the END
    recall clears `target` (round 11 — `target_recall` on routed
    graphs used to resolve routing coverage only, silently
    under-delivering because the routing and in-shard losses
    multiply), anchored at the index's own MEASURED end recall:

    * target <= `end_calibration.recall`: return the anchor config
      itself — the one point certified end-to-end. (A 500-query
      measurement on the clustered-100k bench config killed the
      tempting alternative: composing the two sample curves with a
      constant measured deflation and picking a CHEAPER pair
      delivered 0.713 on a 0.78 ask, because the curves' off-sample
      bias grows as L shrinks below the anchor.)
    * target above it: cheapest pair (by the p*L search-cost model,
      probed shards x beam width) at or above the anchor on BOTH
      axes — the direction where the sample curves approach 1 and
      their bias shrinks — whose predicted product grows by the same
      factor the end recall must.
    * no anchor (pre-round-11 artifact): raw curve-product rule,
      best-effort; `recalibrate_index()` measures the anchor without
      a rebuild.

    Fails loud when either curve is missing or when even the curve
    maxima cannot compose to the target — an approximate engine must
    never silently under-deliver an EXPLICIT recall ask."""
    label = f"index '{name}'" if name else "index"
    rc = manifest.get("route_calibration") or {}
    lc = manifest.get("l_calibration") or {}
    probes = rc.get("probes") or []
    prec = rc.get("recall") or []
    if not probes or not prec:
        raise ValueError(
            f"{label} carries no measured routing curve "
            "(hash/single-shard layout, pinned route_nprobe, or "
            "calibration_queries=0) — target_recall needs a "
            "shard_by='cells' build with calibration enabled"
        )
    ls = lc.get("ls") or []
    lrec = lc.get("recall") or []
    if not ls or not lrec:
        raise ValueError(
            f"{label} carries no measured in-shard L curve (pre-round-10 "
            "artifact or degenerate build) — rebuild with calibration "
            "enabled, or pass search_complexity instead of target_recall"
        )
    ec = manifest.get("end_calibration") or {}
    anchor = None
    if (
        ec.get("recall") is not None
        and ec.get("predicted")
        and ec.get("route_nprobe")
        and ec.get("search_complexity")
    ):
        anchor = (
            int(ec["route_nprobe"]), int(ec["search_complexity"]),
            float(ec["recall"]), float(ec["predicted"]),
        )
    if anchor is not None:
        p_a, l_a, end_a, pred_a = anchor
        # MEASURED-ANCHOR resolution (round-11 500-query measurement:
        # a constant deflation extrapolated BELOW the anchor point
        # under-delivered — 0.713 measured end on a 0.78 ask — because
        # the sample curves' off-sample bias GROWS as L shrinks; the
        # one point we can certify end-to-end is the anchor itself).
        # target <= measured anchor end recall: return the anchor
        # config — measured to deliver it, never cheaper-but-uncertain.
        if float(target) <= end_a:
            return p_a, l_a
        # target ABOVE the anchor: scale UP monotonically (p >= p_a,
        # L >= l_a — the direction where the sample curves approach 1
        # and their bias shrinks), requiring the predicted product to
        # grow by the same factor the end recall must:
        # rp*rl >= pred_a * target / end_a.
        required = pred_a * float(target) / max(end_a, 1e-9)
        best = None
        for p, rp in zip(probes, prec):
            if int(p) < p_a:
                continue
            for L, rl in zip(ls, lrec):
                if int(L) < l_a:
                    continue
                if float(rp) * float(rl) >= required:
                    cost = int(p) * int(L)
                    if best is None or cost < best[0]:
                        best = (cost, int(p), int(L))
        if best is not None:
            return best[1], best[2]
        max_prod = max(
            float(rp) for p, rp in zip(probes, prec) if int(p) >= p_a
        ) * max(float(rl) for L, rl in zip(ls, lrec) if int(L) >= l_a)
        best_end = min(1.0, end_a * max_prod / max(pred_a, 1e-9))
        raise ValueError(
            f"{label}: target_recall={float(target):g} is not composable "
            f"from the measured curves (measured end recall {end_a:.3f} "
            f"at the default config; max composable ~{best_end:.3f}) — "
            "lower the target, or rebuild with more shards / higher "
            "degree so the in-shard curve reaches higher"
        )
    # no end anchor (pre-round-11 artifact): raw curve-product rule —
    # the sample curves systematically over-predict off-sample end
    # recall, so this is best-effort; recalibrate_index() measures the
    # anchor without a rebuild
    best = None
    for p, rp in zip(probes, prec):
        for L, rl in zip(ls, lrec):
            if float(rp) * float(rl) >= float(target):
                cost = int(p) * int(L)
                if best is None or cost < best[0]:
                    best = (cost, int(p), int(L))
    if best is None:
        best_end = max(float(r) for r in prec) * max(float(r) for r in lrec)
        raise ValueError(
            f"{label}: target_recall={float(target):g} is not composable "
            f"from the measured curves (max composable end recall "
            f"~{best_end:.3f}) — lower the target, or rebuild with more "
            "shards / higher degree so the in-shard curve reaches higher"
        )
    return best[1], best[2]


# Appended-row fraction past which a build-time measurement no longer
# describes the index it rides on (round 10 — the staleness contract in
# the module docstring made OBSERVABLE): appends route new rows into
# existing cells/shards without re-measuring, so curves drift. 0.25 is
# the same order as the measurement's own target margins (IVF_TARGET
# 0.78 and ROUTED_TARGET 0.90 both carry ~0.1-0.2 of headroom over the
# 0.70 floor); drifting the data by a quarter of what was measured is
# when that headroom stops being credible. Deleted rows count toward
# the drift too — tombstones shift the true-neighbor set outward, and
# the fix is the same `vacuum_index` that re-measures.
CALIBRATION_STALE_FRACTION = 0.25


def calibration_stale(manifest: dict) -> bool:
    """True when the manifest carries at least one build-time
    measurement (`calibration` / `route_calibration` / `l_calibration`)
    whose `rows_at_measurement` has drifted by more than
    CALIBRATION_STALE_FRACTION (appends + tombstones). False for
    unmeasured artifacts (nothing to go stale) and for pre-round-10
    measurements without the field (undecidable — the vacuum path
    refreshes them on first use). Same observability discipline as
    `needs_vacuum`: the flag tells the caller the rebalance path is
    due, it never changes search behavior."""
    appended_base = int(manifest.get("num_vectors", 0))
    deleted = int(manifest.get("num_deleted", 0) or 0)
    for key in ("calibration", "route_calibration", "l_calibration",
                "end_calibration"):
        cal = manifest.get(key) or {}
        at = cal.get("rows_at_measurement")
        if not at:
            continue
        # deleted's contribution counts deletes SINCE the measurement
        # (recalibrate_index anchors `deleted_at_measurement` — round
        # 11; builds measure at 0 deletes so the anchor defaults to 0)
        # and is bounded by the rows that EXISTED at measurement — a
        # row appended after measurement and then tombstoned already
        # counts once through the append term (round-10 advice:
        # unbounded, it double-counted such rows and could flip the
        # flag early)
        del_since = max(
            0, deleted - int(cal.get("deleted_at_measurement", 0) or 0)
        )
        drift = max(0, appended_base - int(at)) + min(del_since, int(at))
        if drift > CALIBRATION_STALE_FRACTION * int(at):
            return True
    return False


def calibrated_l(manifest: dict) -> int:
    """The measured in-shard floor-clearing search_complexity (L /
    efSearch) recorded in `manifest` under `l_calibration`, or 0 when
    the artifact carries none — callers fall back to the engine's
    static default (build_complexity / ef_construction)."""
    cal = manifest.get("l_calibration") or {}
    try:
        return int(cal.get("search_complexity") or 0)
    except (TypeError, ValueError):
        return 0


def nprobe_for_target(
    manifest: dict, target: float, key: str = "calibration"
) -> int:
    """Resolve a probe count for a CALLER-CHOSEN recall target from the
    measured curve the build stored in the manifest (round 9): the
    smallest stored curve point whose measured recall clears `target` —
    conservative, since stored points are a log-spaced slice and the
    next stored point can only over-probe. The curve always ends at 1.0
    (every true neighbor's cell is somewhere in the ranking), so any
    target <= 1 resolves when a curve exists. Returns 0 when the
    artifact carries no measurement under `key` — callers fail loud
    (unlike the nprobe=0 default path, a caller asking for a SPECIFIC
    recall must not be silently handed the static rule's guess).

    For routed GRAPH shards (`key='route_calibration'`) the curve is the
    ROUTING recall — the candidate-coverage target; the in-shard graph
    search stacks its own miss on top, so this is not an end-recall
    guarantee (same contract as ROUTED_TARGET)."""
    cal = manifest.get(key) or {}
    probes = cal.get("probes") or []
    recall = cal.get("recall") or []
    for p, r in zip(probes, recall):
        if float(r) >= float(target):
            return int(p)
    return int(probes[-1]) if probes else 0


def calibrated_nprobe(manifest: dict, key: str = "calibration") -> int:
    """The measured floor-clearing probe count recorded in `manifest`
    under `key` ('calibration' for IVF cells, 'route_calibration' for
    routed graph shards), or 0 when the artifact carries none (old
    artifacts, disabled builds) — callers fall back to the static
    `ivf.auto_nprobe` / `auto_route_nprobe` worst-case rules."""
    cal = manifest.get(key) or {}
    try:
        return int(cal.get("nprobe") or 0)
    except (TypeError, ValueError):
        return 0
