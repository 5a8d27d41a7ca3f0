"""Distributed k-NN join: every row of a QUERY DataFrame gets its k
nearest rows from a BASE DataFrame — no driver collect, no crossJoin.

This is the operator shape the reference cannot express at scale: its
`ann_search_table` (`/root/reference/src/ann_search.cpp:397-691`)
streams the query table through one in-process index; here BOTH sides
may be arbitrarily large DataFrames.

Plan (IVF-style cell co-partitioning):

1. train `nlist` centroids from a bounded, deterministic sample of the
   base side (driver numpy k-means — O(cap·dim) memory regardless of
   table size);
2. one narrow pass assigns each base row to its nearest cell and each
   query row to its `nprobe` nearest cells;
3. score within cells:
   * fast path (default, `method='blas'`): cells are LPT-packed into at
     most 2×parallelism BINS, each bin placed in its own partition.
     The base side makes one exchange into the bins, and each bin's
     task scores its cells with `score_cells` — one (|q_c|, |b_c|)
     BLAS GEMM per cell, a tie-keep cut, and a merge across cells.
     Candidate pairs are never materialized as rows. The query side
     is delivered one of two ways:
     - under the `SPARK_GRAFT_KNN_BCAST_MB` cap (64 MB): ONE broadcast
       of the query matrix and its per-cell probe lists;
     - over the cap: through the same exchange, as one row per
       (query, distinct probed bin) carrying the query's probed cells
       in that bin — each query crosses at most min(nprobe, bins)
       times, not once per probed cell.
   * exact path (`method='exact'`): equi-join on `cell` + the JVM
     sequential-fold distance — bit-exact vs the DuckDB LATERAL oracle
     (this is the hash-compared driver entry at `nprobe >= nlist`).
4. a per-query window merges bin-local top-k into the global top-k.

`nprobe >= nlist` degenerates to the exact k-NN join (every pair
scored). Cell skew is handled without a knob: a cell whose train-sample
estimate exceeds two bins' share of the base splits into sub-cells by a
hash of the base id (the vamana cell-size guard's rule,
`functions.partitioning.split_cells`), and queries probing it go to
every sub-cell.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import (
    index_distance,
    np_arrow_mat,
    np_index_distances,
    np_stack_vectors,
)
from ..functions.partitioning import (
    cell_slices,
    exact_partition_tokens,
    lpt_bins,
    probe_csr,
    score_cells,
    split_cells,
    sub_cells,
)
from ..index.ivf import _kmeans, auto_nlist, auto_nprobe

DISTANCE_COL = "_distance"
CELL_COL = "__cell"
CELLS_COL = "__cells"
TOK_COL = "__tok"

# Broadcast-queries delivery (round 16, guide §8 "decide with small
# rows, move big rows once" / §2.3 "shuffle keys, not payloads"): cap on
# the query-side vector bytes collected to the driver. 0 disables it
# (every call delivers its queries through the exchange).
_BCAST_MB_ENV = "SPARK_GRAFT_KNN_BCAST_MB"


def _collect_queries_bounded(queries_df: DataFrame, query_id_col: str,
                             query_vec_col: str, dim: int):
    """Bounded collect of the query side for the broadcast delivery
    → (qids int64 (nq,), qmat f32 (nq, dim)) or None when the side
    exceeds the byte cap / the cap is disabled / the side is empty.
    The probe is one `limit(cap+1).toPandas()` — CollectLimit stops
    early on a huge query side, so the fallback cost is bounded by the
    cap, not the side's size."""
    cap_mb = float(os.environ.get(_BCAST_MB_ENV, "") or 64)
    if cap_mb <= 0:
        return None
    cap_rows = max(1, int(cap_mb * 1024 * 1024 // (4 * max(1, dim))))
    pdf = (
        queries_df.select(query_id_col, query_vec_col)
        .limit(cap_rows + 1)
        .toPandas()
    )
    if len(pdf) > cap_rows or len(pdf) == 0:
        return None
    qids = pdf[query_id_col].to_numpy().astype(np.int64, copy=False)
    qmat = np_stack_vectors(pdf[query_vec_col])
    return qids, qmat


def _nearest_cells(metric: str, mat: np.ndarray, centroids: np.ndarray,
                   nprobe: int) -> np.ndarray:
    """(nprobe, n) nearest cells per row, nearest first — the one
    assignment arithmetic of the driver and every executor pass, so
    probe sets agree bit for bit wherever they are computed."""
    d = np_index_distances(metric, mat, centroids)  # (nlist, n)
    return np.argsort(d, axis=0, kind="stable")[:nprobe]


def _unsplit(n_cells: int) -> tuple[np.ndarray, np.ndarray]:
    """(n_sub, offsets) of a layout whose cells are all whole."""
    return (np.ones(n_cells, dtype=np.int64),
            np.arange(n_cells + 1, dtype=np.int64))


def _sub_probes(cells: np.ndarray, n_sub: np.ndarray,
                offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nprobe, n) probed cells → flat (probed sub-cell, row) pairs: a
    row probing a split cell probes each of its sub-cells."""
    nprobe, n = cells.shape
    qidx = np.tile(np.arange(n, dtype=np.int64), nprobe)
    cells = cells.reshape(-1)
    reps = n_sub[cells]
    first = np.repeat(offsets[cells], reps)
    within = np.arange(len(first)) - np.repeat(np.cumsum(reps) - reps, reps)
    return first + within, np.repeat(qidx, reps)


def _driver_probe_csr(qmat: np.ndarray, centroids: np.ndarray, metric: str,
                      nprobe: int, n_sub: np.ndarray, offsets: np.ndarray):
    """Probe CSR over (sub-)cells of a driver-resident query matrix,
    with `_assign_cells` arithmetic → (grouped_q, bounds)."""
    sc, qi = _sub_probes(_nearest_cells(metric, qmat, centroids, nprobe),
                         n_sub, offsets)
    return probe_csr(sc, qi, int(offsets[-1]))


def _cell_tokens(q_counts: np.ndarray, est_b: np.ndarray | None,
                 par: int, per_core: int = 2) -> tuple[np.ndarray, int]:
    """Placement tokens of the bin scorer → (tokens (n_cells,), n_bins).
    Cells probed by nobody (q_counts 0) get token -1: their base rows
    are pruned before the exchange — they cannot contribute a
    candidate. Probed cells are LPT-packed by estimated GEMM mass
    (|q_c| × est |b_c|) into `n_bins <= per_core×parallelism` bins,
    each bin placed in its own partition by a collision-free murmur3
    token (`functions.partitioning`). The broadcast delivery takes two
    bins per core (queries do not move; more bins buy LPT balance); the
    exchange delivery takes one, because a query row crosses the
    exchange once per distinct bin it probes."""
    q_counts = np.asarray(q_counts, dtype=np.float64)
    probed = np.flatnonzero(q_counts > 0)
    tokens = np.full(len(q_counts), -1, dtype=np.int64)
    if len(probed) == 0:
        return tokens, 1
    mass = q_counts[probed]
    if est_b is not None:
        mass = mass * np.maximum(est_b[probed], 1.0)
    n_bins = max(1, min(len(probed), per_core * par))
    tokens[probed] = exact_partition_tokens(n_bins)[lpt_bins(mass, n_bins)]
    return tokens, n_bins


def _with_tokens(df: DataFrame, tokens: np.ndarray) -> DataFrame:
    """Append the per-cell placement token column (`TOK_COL` =
    tokens[cell], an INT so Spark's hash matches the token search) to
    a frame that already carries `CELL_COL` — one vectorized narrow
    Arrow pass, no plan-bloating literal array."""
    bc = df.sparkSession.sparkContext.broadcast(tokens)
    names = [f.name for f in df.schema.fields]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}

    def add(batches):
        import pyarrow as pa

        t = bc.value
        for b in batches:
            cell = b.column(
                b.schema.get_field_index(CELL_COL)
            ).to_numpy(zero_copy_only=False)
            yield b.append_column(
                TOK_COL, pa.array(t[cell], type=pa.int32())
            )

    schema = ", ".join(f"{c} {types[c]}" for c in names)
    return df.mapInArrow(add, schema=f"{schema}, {TOK_COL} int")


def _window_topk(scored: DataFrame, query_id_col: str, base_id_col: str,
                 k: int) -> DataFrame:
    """Per-query global top-k of the scored candidates, ties on base id
    ascending."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(DISTANCE_COL).asc_nulls_last(), F.col(base_id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(query_id_col, base_id_col, DISTANCE_COL)
    )


def _scored_topk(
    b: DataFrame,
    base_id_col: str,
    base_vec_col: str,
    query_id_col: str,
    metric: str,
    k: int,
    n_bins: int,
    dim: int,
    bcast: tuple | None = None,
    q: DataFrame | None = None,
    n_cells: int = 0,
) -> DataFrame:
    """The bin scorer's Spark stage. `b` carries (id, vec, `CELL_COL`,
    `TOK_COL`); cells whose token is -1 are pruned before the one
    exchange into `n_bins` partitions, and each partition runs
    `score_cells` on its bin. Exactly one query delivery is given:

    * `bcast` = (qids, qmat, grouped_q, bounds): the driver-resident
      queries and their probe CSR ride one broadcast;
    * `q` = (qid, qvec, `CELLS_COL`, `TOK_COL`) rows, one per (query,
      distinct bin): unioned with the base rows ahead of the same
      exchange, so both sides meet per bin; each task rebuilds its
      bin's probe CSR (over `n_cells` cells) from the rows' cell
      lists.

    Correctness does not depend on placement (see `score_cells`);
    query/base row order inside a GEMM follows shuffle arrival, which
    BLAS answers with last-ulp wobble — the id lists are pinned by
    tests, the distances to 1e-5."""
    spark = b.sparkSession
    bc = spark.sparkContext.broadcast(bcast) if bcast is not None else None

    def col_np(t, name):
        return t.column(name).to_numpy().astype(np.int64, copy=False)

    def score(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        parts = [x for x in batches if x.num_rows]
        if not parts:
            return
        t = pa.Table.from_batches(parts)
        if bc is not None:
            qids, qmat, gq, bnd = bc.value
        else:
            isq = pc.is_valid(t.column(CELLS_COL))
            qt, t = t.filter(isq), t.filter(pc.invert(isq))
            if qt.num_rows == 0 or t.num_rows == 0:
                return
            qids = col_np(qt, base_id_col)
            qmat = np_arrow_mat(qt.column(base_vec_col), dim)
            lists = qt.column(CELLS_COL).combine_chunks()
            gq, bnd = probe_csr(
                lists.flatten().to_numpy(),
                pc.list_parent_indices(lists).to_numpy(), n_cells,
            )
        hits = score_cells(
            cell_slices(col_np(t, base_id_col),
                        np_arrow_mat(t.column(base_vec_col), dim),
                        col_np(t, CELL_COL)),
            qmat, gq, bnd, metric, k,
        )
        if hits is not None:
            qx, bx, dx = hits
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids[qx]), pa.array(bx), pa.array(dx)],
                names=[query_id_col, base_id_col, DISTANCE_COL],
            )

    frame = b.where(F.col(TOK_COL) >= 0)
    if q is None:
        frame = frame.select(base_id_col, base_vec_col, CELL_COL, TOK_COL)
    else:
        frame = frame.select(
            base_id_col, base_vec_col, CELL_COL,
            F.lit(None).cast("array<int>").alias(CELLS_COL), TOK_COL,
        ).union(q.select(
            q.columns[0], q.columns[1], F.lit(None).cast("int").alias(CELL_COL),
            CELLS_COL, TOK_COL,
        ))
    scored = frame.repartition(n_bins, F.col(TOK_COL)).mapInArrow(
        score,
        schema=(
            f"{query_id_col} long, {base_id_col} long, {DISTANCE_COL} double"
        ),
    )
    return _window_topk(scored, query_id_col, base_id_col, k)


def _assign_cells(df: DataFrame, vec_col: str, centroids: np.ndarray,
                  metric: str, nprobe: int, out_cols: list[str],
                  place: tuple | None = None,
                  id_col: str | None = None) -> DataFrame:
    """Narrow pass: the `nprobe` nearest cells of every row.

    mapInArrow (round 12, same fix as the IVF build assignment): the
    vector matrix reshapes zero-copy from the Arrow buffer and every
    row fan-out is one vectorized `RecordBatch.take`.

    * no `place` (the exact path, probe counting): rows explode
      ×nprobe, one `CELL_COL` each;
    * `place` = (tokens, n_sub, offsets) and `id_col` (a base side,
      nprobe 1): `CELL_COL` = the row's sub-cell (a split cell by the
      id hash of `functions.partitioning.sub_cells`), `TOK_COL` = its
      bin token;
    * `place` without `id_col` (an exchange-delivered query side): one
      row per (row, distinct probed bin), `CELLS_COL` = the row's
      probed sub-cells in that bin, `TOK_COL` = the bin token."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((centroids, place))
    if place is None:
        extra_names, extra_types = [CELL_COL], ["int"]
    elif id_col is not None:
        extra_names, extra_types = [CELL_COL, TOK_COL], ["int", "int"]
    else:
        extra_names, extra_types = [CELLS_COL, TOK_COL], ["array<int>", "int"]

    def assign(batches):
        import pyarrow as pa

        cm, pl = bc.value
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            cells = _nearest_cells(
                metric, np_arrow_mat(b.column(vec_col), cm.shape[1]), cm, nprobe
            )  # (nprobe, n)
            take = None
            if pl is None:
                take = np.tile(np.arange(n, dtype=np.int64), nprobe)
                extra = [pa.array(cells.reshape(-1).astype(np.int32))]
            elif id_col is not None:
                tokens, n_sub, offsets = pl
                sc = sub_cells(
                    cells[0],
                    b.column(id_col).to_numpy(zero_copy_only=False),
                    n_sub, offsets,
                )
                extra = [pa.array(sc.astype(np.int32)),
                         pa.array(tokens[sc].astype(np.int32))]
            else:
                tokens, n_sub, offsets = pl
                sc, qi = _sub_probes(cells, n_sub, offsets)
                tok = tokens[sc]
                order = np.lexsort((sc, tok, qi))
                sc, tok, qi = sc[order], tok[order], qi[order]
                head = np.flatnonzero(
                    np.r_[True, (qi[1:] != qi[:-1]) | (tok[1:] != tok[:-1])]
                )
                take = qi[head]
                extra = [
                    pa.ListArray.from_arrays(
                        pa.array(np.r_[head, len(sc)].astype(np.int32)),
                        pa.array(sc.astype(np.int32)),
                    ),
                    pa.array(tok[head].astype(np.int32)),
                ]
            kept = b.select(out_cols)
            if take is not None:
                kept = kept.take(pa.array(take))
            yield pa.RecordBatch.from_arrays(
                kept.columns + extra, names=[*out_cols, *extra_names]
            )

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(
        [f"{c} {types[c]}" for c in out_cols]
        + [f"{c} {t}" for c, t in zip(extra_names, extra_types)]
    )
    return df.mapInArrow(assign, schema=schema)


def _exact_scored_topk(q: DataFrame, b: DataFrame, query_id_col: str,
                       query_vec_col: str, base_id_col: str,
                       base_vec_col: str, k: int, metric: str) -> DataFrame:
    """`method='exact'` scoring shared by `knn_join` (freshly-trained
    cells) and `index_knn_join` (cells of a published IVF index): both
    sides arrive carrying `__cell`; a bit-exact JVM fold over
    materialized candidate pairs — the oracle path (hash-compared
    against DuckDB's LATERAL join)."""
    cand = q.join(b, on=CELL_COL)  # ONLY wide exchange: cell equi-join
    scored = cand.withColumn(
        DISTANCE_COL,
        index_distance(
            metric, base_vec_col,
            F.col(query_vec_col).cast("array<double>"),
        ),
    )
    return _window_topk(scored, query_id_col, base_id_col, k)


def _rename_clashes(queries_df: DataFrame, query_id_col: str,
                    query_vec_col: str, base_id_col: str, base_vec_col: str):
    """Prefix query columns named like a base column with `_q_` →
    (frame, query id col, query vec col)."""
    if query_vec_col == base_vec_col:
        queries_df = queries_df.withColumnRenamed(
            query_vec_col, f"_q_{query_vec_col}"
        )
        query_vec_col = f"_q_{query_vec_col}"
    if query_id_col == base_id_col:
        queries_df = queries_df.withColumnRenamed(
            query_id_col, f"_q_{query_id_col}"
        )
        query_id_col = f"_q_{query_id_col}"
    return queries_df, query_id_col, query_vec_col


def _check_target_recall(nprobe: int, target_recall: float) -> None:
    if nprobe:
        raise ValueError(
            "pass either nprobe (an explicit probe count) or "
            "target_recall, not both"
        )
    if not (0.0 < float(target_recall) <= 1.0):
        raise ValueError("target_recall must be in (0, 1]")


def knn_join(
    queries_df: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    base_df: DataFrame,
    base_id_col: str,
    base_vec_col: str,
    k: int,
    metric: str = "l2",
    nlist: int = 0,
    nprobe: int = 0,
    method: str = "blas",
    n_rows: int | None = None,
    calibration_queries: int = 64,
    target_recall: float | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """→ DataFrame(<query_id_col>, <base_id_col>, _distance), the k
    nearest base rows per query row (ties on base id ascending).

    Exact when `nprobe >= nlist`; otherwise approximate with IVF-probe
    recall characteristics. The DEFAULT (`nlist=0, nprobe=0`) trains
    auto-sized cells (`ivf.auto_nlist`, the sqrt-N rule) and — round
    10 — MEASURES the probe→recall curve of those freshly-trained
    cells on a held-out sample of the base side
    (`calibration.measure_probe_calibration`, the same pass a CREATE
    INDEX runs), probing what THIS data measurably needs instead of
    the static uniform-worst-case `auto_nprobe` guess: on clustered
    real data the static rule over-probes by ~an order of magnitude
    (bench: measured frac 0.009 vs 0.354 at 100k/clustered), and the
    fresh-build path is the operator's default face. The measurement
    is one extra narrow scan of the base side (the join already pays
    two: train sample + assignment); `calibration_queries=0` skips it
    and falls back to the static rule, which still holds the
    reference's 0.70 floor with margin even on uniform vectors
    (bench-asserted at 100k: `scale100k_knn_join_auto`).

    `target_recall` (round 10, same contract as
    `index_scan(target_recall=)`): resolve the probe count for THIS
    call from the freshly measured curve instead of the floor target —
    requires the measurement (errors loud with `calibration_queries=0`
    or a degenerate curve), mutually exclusive with an explicit
    `nprobe`. Cell-level recall: cells are scanned exactly, so the
    target is end recall modulo the sample noise.

    Pinning a small fixed `nprobe` buys latency at UNCHARACTERIZED
    recall (the 100k bench measures 0.264 at nprobe=4/nlist=512) — do
    that only with your own recall measurement in hand; for the least
    probe work that still clears the 0.70 floor, pass
    `nprobe=ivf.floor_nprobe(ivf.auto_nlist(n), dim)` (the measured
    0.7x rule — sweep table in its docstring). Pass `n_rows`
    (the base row count) when known to skip the counting pass over the
    base side.

    `stats`: pass a dict to observe the resolved configuration — the
    call records `nlist` (effective trained cells), `nprobe` (resolved
    probe count) and `measured` (whether the in-call calibration
    produced it) before returning; a `method='blas'` call also records
    `delivery` ('broadcast' or 'exchange'), `cells` (scored cells after
    the skew split — above `nlist` when a cell split) and `bins` (scoring
    partitions). Observability only; results don't depend on it.

    Cell skew (the one imbalance LPT placement cannot fix: a whole cell
    is one GEMM in one task) is split automatically. Each cell's base
    rows are estimated from the train sample; a cell past twice the
    per-bin share ceil(n / (2·parallelism)) becomes ceil(est / share)
    sub-cells by a hash of the base id, and every query probing it is
    scored against each sub-cell — every (query, base) pair still meets
    in exactly one sub-cell. Balanced data never splits.
    """
    spark = base_df.sparkSession
    # argument-only validation fires BEFORE the count/train/kmeans work
    # (round-10 review: a bad target_recall must not cost a pass over a
    # 100M-row base first)
    if target_recall is not None:
        _check_target_recall(nprobe, target_recall)
        if int(calibration_queries) <= 0:
            raise ValueError(
                "target_recall needs the in-call probe measurement — "
                "don't pass calibration_queries=0 with it"
            )
    queries_df, query_id_col, query_vec_col = _rename_clashes(
        queries_df, query_id_col, query_vec_col, base_id_col, base_vec_col
    )
    # Arrow-pass dtype normalization (round-13 advice): the assignment
    # and scoring mapInArrow passes and the in-call calibration scan all
    # declare long/array<float> schemas and do not coerce — cast BOTH
    # sides once here (no-op for already-typed frames)
    from ..functions.distance import cast_id_vec

    base_df = cast_id_vec(base_df, base_id_col, base_vec_col)
    queries_df = cast_id_vec(queries_df, query_id_col, query_vec_col)
    base = base_df.select(base_id_col, base_vec_col)
    queries = queries_df.select(query_id_col, query_vec_col)

    # bounded deterministic train sample from the base side
    n = base_df.count() if n_rows is None else int(n_rows)
    if nlist == 0:
        nlist = auto_nlist(n)  # shared sqrt-N rule, same as ivf_nlist=0
    cap = min(max(50 * nlist, 10_000), 200_000)
    from ..index import calibration

    # round 16 (guide §1.4-adjacent measurement): `limit(cap)` ran the
    # incremental CollectLimit (a 1-partition probe job, then the full
    # scan) — 0.3s vs 0.07s for a plain collect at the bench shape. The
    # filtered sample is O(cap) rows BY CONSTRUCTION (modulus = n//cap
    # keeps the expectation in [cap, 2cap); n <= cap collects the whole
    # base), so collect it all and slice. The same collect carries the
    # held-out calibration sample of an nprobe=0 join.
    train, qids, qmat = calibration.collect_train_and_sample(
        base, base_id_col, base_vec_col, n, cap,
        int(calibration_queries) if nprobe == 0 else 0,
    )
    centroids = _kmeans(train, min(nlist, max(1, len(train))))
    nlist_eff, dim = centroids.shape[0], int(centroids.shape[1])
    measured = False
    # the pool's `with` joins the collect thread on every exit path,
    # errors included — no Spark collect outlives the call
    with ThreadPoolExecutor(max_workers=1) as pool:
        # kick the bounded query-side collect off NOW (guide §2.6
        # "overlap independent jobs"): it shares no lineage with the
        # calibration scan below, and its CollectLimit round trips hide
        # under the calibration job's wall
        collect_fut = None
        if method != "exact":
            collect_fut = pool.submit(
                _collect_queries_bounded, queries, query_id_col,
                query_vec_col, dim,
            )
        if nprobe == 0 and int(calibration_queries) > 0 and nlist_eff > 1:
            # nprobe=0 = AUTO (round 10): measure THIS join's freshly
            # trained cells on a held-out base sample — the same
            # build-time pass a CREATE INDEX runs — so clustered data
            # gets the small probe count it actually needs instead of
            # the static uniform-worst-case rule (see docstring)
            cal = calibration.measure_probe_calibration(
                base, base_id_col, base_vec_col, centroids, metric, n,
                calibration.IVF_TARGET, n_queries=int(calibration_queries),
                sample=(qids, qmat),
            )
            if target_recall is not None:
                nprobe = calibration.nprobe_for_target(
                    {"calibration": cal}, target_recall
                )
                if nprobe <= 0:
                    raise ValueError(
                        "knn_join: the in-call probe measurement came "
                        "back degenerate (too few rows/cells) — "
                        "target_recall cannot be honored; drop "
                        "target_recall and pass an explicit nprobe"
                    )
                measured = True
            elif cal is not None:
                nprobe = int(cal["nprobe"])
                measured = True
        elif target_recall is not None:
            raise ValueError(
                "knn_join: target_recall needs >1 trained cell to measure "
                "a curve; drop target_recall and pass an explicit nprobe"
            )
        got = collect_fut.result() if collect_fut is not None else None
    if nprobe == 0:
        # static fallback: calibration disabled or degenerate — the
        # uniform-worst-case rule, same as ivf_nlist=0/nprobe=0 search
        nprobe = auto_nprobe(nlist_eff, dim)
    nprobe = min(max(1, nprobe), nlist_eff)
    if stats is not None:
        stats.update(
            nlist=int(nlist_eff), nprobe=int(nprobe), measured=bool(measured)
        )

    if method == "exact":
        b = _assign_cells(base, base_vec_col, centroids, metric, 1,
                          [base_id_col, base_vec_col])
        q = _assign_cells(queries, query_vec_col, centroids, metric, nprobe,
                          [query_id_col, query_vec_col])
        return _exact_scored_topk(q, b, query_id_col, query_vec_col,
                                  base_id_col, base_vec_col, k, metric)

    # base-side rows per cell, estimated from the already-resident train
    # sample (one driver GEMM — no extra Spark pass): the LPT mass, and
    # the skew split of cells past twice the per-bin share
    est_b = np.bincount(
        np.argmin(np_index_distances(metric, train, centroids), axis=0),
        minlength=nlist_eff,
    ).astype(np.float64)
    par = max(1, spark.sparkContext.defaultParallelism)
    n_sub, offsets = split_cells(
        est_b / max(1, len(train)) * n, max(1, -(-n // (2 * par)))
    )
    n_cells = int(offsets[-1])
    if got is not None:
        qids_np, qmat = got
        grouped_q, bounds = _driver_probe_csr(
            qmat, centroids, metric, nprobe, n_sub, offsets
        )
        q_counts = np.diff(bounds)
    else:
        # exchange delivery: no query side on the driver, so every cell
        # counts as probed once and the base estimate alone packs bins
        q_counts = np.ones(n_cells)
    tokens, n_bins = _cell_tokens(
        q_counts, np.repeat(est_b / n_sub, n_sub), par,
        2 if got is not None else 1,
    )
    if stats is not None:
        stats.update(delivery="broadcast" if got is not None else "exchange",
                     cells=n_cells, bins=int(n_bins))
    place = (tokens, n_sub, offsets)
    b = _assign_cells(base, base_vec_col, centroids, metric, 1,
                      [base_id_col, base_vec_col], place, base_id_col)
    if got is not None:
        return _scored_topk(b, base_id_col, base_vec_col, query_id_col,
                            metric, k, n_bins, dim,
                            bcast=(qids_np, qmat, grouped_q, bounds))
    q = _assign_cells(queries, query_vec_col, centroids, metric, nprobe,
                      [query_id_col, query_vec_col], place)
    return _scored_topk(b, base_id_col, base_vec_col, query_id_col, metric,
                        k, n_bins, dim, q=q, n_cells=n_cells)


def index_knn_join(
    spark,
    index_name: str,
    queries_df: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    k: int,
    nprobe: int = 0,
    method: str = "blas",
    catalog=None,
    target_recall: float | None = None,
) -> DataFrame:
    """k-NN join against a PUBLISHED IVFFlat index instead of freshly
    trained cells → (query_id, <index id col>, _distance).

    `target_recall` (round 10, the `index_scan` contract on the join
    surface): resolve the probe count for THIS call from the index's
    measured build-time curve — mutually exclusive with an explicit
    `nprobe`, loud failure on artifacts without a measurement.

    `knn_join` pays, on every call, a kmeans train (driver), a full
    assignment pass over the base side, and the base-side exchange into
    cells. A table that is joined against repeatedly should pay those
    once — at CREATE INDEX time. This operator reuses the index
    artifact the IVF engine already maintains (beyond-reference: the
    reference's `ann_search_table` streams a query table through one
    in-process index, `src/ann_search.cpp:397-691`; here the query side
    is an arbitrary DataFrame and the scoring is distributed):

    * centroids: the tiny driver-side table (`ivf._centroids`);
    * base side: the cell-PARTITIONED vectors parquet read as-is — no
      assignment pass, no exchange; pruned to the union of probed cells
      (Spark partition pruning);
    * query side: its `nprobe` nearest cells, then the same bin
      scorer (broadcast or exchange delivery) / exact scoring as
      `knn_join`. The index's cells are kept whole — no skew split —
      and packed into bins by their query counts.
      `nprobe=0` resolves exactly like `index_scan` on this index
      (round 9): the index's own PINNED build nprobe when one was set
      (reference semantics — FAISS defaults nprobe=1, and the join
      must score the same cells a search of that index would), else
      the index's measured build-time calibration, else the static
      `auto_nprobe` rule. To force full-probe regardless of the pin,
      pass `nprobe >= nlist`.

    Tombstoned ids are dropped off the base side before scoring, so
    results match a vacuumed index. `nprobe >= nlist` degenerates to
    the exact k-NN join (`method='exact'` for bit-exact distances).
    """
    from ..index.api import _load, _tombstones
    from ..index.engines import drop_tombstoned
    from ..index.ivf import CELL_COL as IVF_CELL_COL
    from ..index.ivf import IvfFlatEngine, _decode_cells_df

    cat, manifest, d, impl = _load(index_name, "", catalog)
    if not isinstance(impl, IvfFlatEngine):
        raise ValueError(
            f"index_knn_join needs an IVFFlat index; '{index_name}' is "
            f"{manifest['engine']}/{manifest.get('subtype', '')} (graph "
            "engines have no cell layout to join against — use knn_join, "
            "or ann_search_table for a small query side)"
        )
    base_id_col = manifest["id_col"]
    base_vec_col = manifest["vec_col"]
    metric = manifest["params"]["metric"]
    centroids = impl._centroids(d)
    nlist_eff = centroids.shape[0]
    if nlist_eff == 0:
        raise ValueError(f"index '{index_name}' is empty (no trained cells)")
    if target_recall is not None:
        _check_target_recall(nprobe, target_recall)
        from ..index.calibration import nprobe_for_target

        nprobe = nprobe_for_target(manifest, target_recall)
        if nprobe <= 0:
            raise ValueError(
                f"index '{index_name}' carries no measured recall curve "
                "(built with a pinned nprobe or calibration_queries=0, "
                "or pre-dates build-time calibration) — rebuild with "
                "nprobe=0 to measure, or pass an explicit nprobe"
            )
    elif nprobe == 0:
        # mirror index_scan's resolution exactly (round-9 fix — the old
        # jump straight to the static rule diverged from index_scan on
        # indexes with a PINNED build nprobe): the manifest's own
        # nprobe when pinned > the index's measured floor-clearing
        # count (build-time calibration) > the static worst-case rule
        from ..index.calibration import calibrated_nprobe

        nprobe = (
            int(manifest["params"].get("nprobe", 0) or 0)
            or calibrated_nprobe(manifest)
            or auto_nprobe(nlist_eff, int(manifest["dim"]))
        )
    nprobe = min(max(1, nprobe), nlist_eff)

    queries_df, query_id_col, query_vec_col = _rename_clashes(
        queries_df, query_id_col, query_vec_col, base_id_col, base_vec_col
    )
    from ..functions.distance import cast_id_vec

    queries = cast_id_vec(queries_df, query_id_col, query_vec_col).select(
        query_id_col, query_vec_col
    )
    dim = int(centroids.shape[1])

    b = impl._read_cells(spark, d, manifest)
    if IVF_CELL_COL != CELL_COL:  # pragma: no cover - same constant today
        b = b.withColumnRenamed(IVF_CELL_COL, CELL_COL)

    got = None
    if method != "exact":
        # broadcast delivery (round 16, guide §8 — see knn_join): the
        # probe counts are then known driver-side at no Spark job
        got = _collect_queries_bounded(queries, query_id_col,
                                       query_vec_col, dim)
    if got is not None:
        qids_np, qmat = got
        grouped_q, bounds = _driver_probe_csr(
            qmat, centroids, metric, nprobe, *_unsplit(nlist_eff)
        )
        q_counts = np.diff(bounds)
    elif nprobe < nlist_eff:
        # ONE job over the (narrow, cheap) query assignment pass: the
        # per-cell query counts feed both the partition prune below and
        # the LPT bin mass — worth it whenever the base outweighs the
        # query side, which is this operator's use case (a query
        # workload with locality probes far fewer than nlist cells).
        # The collect is bounded by nlist_eff rows.
        q_counts = np.zeros(nlist_eff)
        for r in (
            _assign_cells(queries, query_vec_col, centroids, metric, nprobe,
                          [query_id_col])
            .groupBy(CELL_COL).count().collect()
        ):
            q_counts[int(r[CELL_COL])] = r["count"]
    else:
        q_counts = np.ones(nlist_eff)  # full probe: every cell, evenly
    probed = np.flatnonzero(q_counts > 0)
    if len(probed) < nlist_eff:
        # partition pruning: only cells some query probes are scanned
        # (a scan optimization — the scorer's token filter alone cannot
        # reach the parquet scan)
        b = b.where(F.col(CELL_COL).isin([int(c) for c in probed]))
    # after the prune: the task-side tombstone filter is opaque to
    # Catalyst, so a filter above it would not reach the parquet scan
    b = drop_tombstoned(b, base_id_col, _tombstones(d))
    sq8 = impl._sq8_params(manifest)
    if sq8 is not None:
        # dequantize AFTER the cell pruning so the parquet scan still
        # reads only the probed cells' (1/4-size) code files
        b = _decode_cells_df(b, base_id_col, base_vec_col, sq8,
                             with_cell=True)
    if method == "exact":
        q = _assign_cells(queries, query_vec_col, centroids, metric, nprobe,
                          [query_id_col, query_vec_col])
        return _exact_scored_topk(q, b, query_id_col, query_vec_col,
                                  base_id_col, base_vec_col, k, metric)
    par = max(1, spark.sparkContext.defaultParallelism)
    tokens, n_bins = _cell_tokens(q_counts, None, par,
                                  2 if got is not None else 1)
    b = _with_tokens(b.select(base_id_col, base_vec_col, CELL_COL), tokens)
    if got is not None:
        return _scored_topk(b, base_id_col, base_vec_col, query_id_col,
                            metric, k, n_bins, dim,
                            bcast=(qids_np, qmat, grouped_q, bounds))
    q = _assign_cells(queries, query_vec_col, centroids, metric, nprobe,
                      [query_id_col, query_vec_col],
                      (tokens, *_unsplit(nlist_eff)))
    return _scored_topk(b, base_id_col, base_vec_col, query_id_col, metric,
                        k, n_bins, dim, q=q, n_cells=nlist_eff)
