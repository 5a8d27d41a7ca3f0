"""Driver queries: index lifecycle surface (SURVEY §2.1-2.2).

Each callable builds a fresh index in a process-local catalog, searches
through it, and returns the result. Flat is exact, so its searches
hash-match the brute-force DuckDB oracle; `ann_list`/`ann_index_info`
oracles are VALUES literals (deterministic manifests at sf0.01).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import (
    Catalog,
    ann_index_info,
    ann_list,
    ann_search,
    create_index,
    delete_from_index,
    diskann_streaming_build,
    drop_index,
    faiss_gpu_info,
    index_scan,
    insert_into_index,
    merge_indexes,
    vacuum_index,
)
from ..plans import topk_auto
from ..oracle import sql_index_distance
from . import register
from .vector import query_vec

# per-process root: concurrent runs (driver + pytest) must not share
# index artifacts, or a drop in one races a read in the other
_ROOT = os.path.join(
    tempfile.gettempdir(), f"duckdb_ann_spark_suite_indexes_{os.getpid()}"
)


def _cat() -> Catalog:
    return Catalog(_ROOT)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _fresh_index(spark, sf_dir, name, **opts) -> Catalog:
    cat = _cat()
    drop_index(name, cat)
    create_index(
        _emb(spark, sf_dir), "vec_id", "embedding", name,
        engine="faiss", table_name="embeddings", catalog=cat, **opts
    )
    return cat

_Q_CTE = "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)"
_DIST = sql_index_distance("l2", "e.embedding", "q.qv")


@register(
    "ann_search_flat",
    f"""
    {_Q_CTE}
    SELECT e.vec_id, e.label, {_DIST} AS _distance
    FROM embeddings e CROSS JOIN q
    ORDER BY _distance, e.vec_id LIMIT 10
    """,
)
def q_ann_search_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _fresh_index(spark, sf_dir, "suite_flat")
    q = query_vec(spark, sf_dir)
    res = ann_search(_emb(spark, sf_dir), "suite_flat", q, k=10, catalog=cat)
    return res.select("vec_id", "label", "_distance")


@register(
    "faiss_index_scan",
    f"""
    WITH qs AS (
        SELECT vec_id AS query_idx, embedding AS qv
        FROM embeddings WHERE vec_id < 3
    )
    SELECT query_idx, vec_id, _distance FROM (
        SELECT CAST(q.query_idx AS INT) AS query_idx, e.vec_id,
               {sql_index_distance('l2', 'e.embedding', 'q.qv')} AS _distance,
               row_number() OVER (
                   PARTITION BY q.query_idx
                   ORDER BY {sql_index_distance('l2', 'e.embedding', 'q.qv')}, e.vec_id
               ) AS rn
        FROM qs q CROSS JOIN embeddings e
    ) WHERE rn <= 5
    """,
)
def q_faiss_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _fresh_index(spark, sf_dir, "suite_scan")
    qs = [
        [float(x) for x in r[0]]
        for r in _emb(spark, sf_dir)
        .where(F.col("vec_id") < 3)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    return index_scan(spark, "suite_scan", qs, k=5, catalog=cat)


@register(
    "ann_delete_tombstones",
    f"""
    {_Q_CTE}
    SELECT e.vec_id, {_DIST} AS _distance
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id NOT IN (0, 7, 13)
    ORDER BY _distance, e.vec_id LIMIT 8
    """,
)
def q_ann_delete_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstoned ids are excluded with k still satisfied
    (diskann_delete.test:34-55 semantics)."""
    cat = _fresh_index(spark, sf_dir, "suite_del")
    delete_from_index(spark, "suite_del", [0, 7, 13], catalog=cat)
    q = query_vec(spark, sf_dir)
    return index_scan(spark, "suite_del", [q], k=8, catalog=cat).drop("query_idx")


@register(
    "ann_search_ivfflat_fullprobe",
    f"""
    {_Q_CTE}
    SELECT e.vec_id, {_DIST} AS _distance
    FROM embeddings e CROSS JOIN q
    ORDER BY _distance, e.vec_id LIMIT 10
    """,
)
def q_ann_search_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFFlat with nprobe >= nlist degenerates to an exact scan, so it
    hash-matches the brute-force oracle (faiss_ivfflat.test semantics)."""
    cat = _fresh_index(
        spark, sf_dir, "suite_ivf_full", type="IVFFlat", ivf_nlist=8, nprobe=8
    )
    q = query_vec(spark, sf_dir)
    return index_scan(spark, "suite_ivf_full", [q], k=10, catalog=cat).drop(
        "query_idx"
    )


# The partial probe is approximate vs brute force but DETERMINISTIC given
# the seeded KMeans (ivf.py TRAIN_SEED): the oracle replays the probe from
# the persisted artifact — rank cells by centroid distance, brute-force
# only the probed cells' vectors — so even the approximate path is
# hash-compared, not just row-counted. The artifact is plain parquet; the
# path is process-local (same pid builds and compares).
#
# Stated assumption: the engine ranks cells and candidates in f32
# (np_index_distances) while the oracle ranks in f64 SQL — the compare
# holds because neither the 6-cell probe boundary nor the k=10 cut has a
# near-tie on this fixture (seed + testdata pinned). If the testdata or
# the TRAIN_SEED/nlist/nprobe constants are ever regenerated, a boundary
# tie could flip one set: tests/test_index_ivf.py's
# exact-ids-at-fixed-seed pytest is the local canary for that.
_IVF_PROBE_ART = os.path.join(_ROOT, "suite_ivf")
_IVF_PROBE_ORACLE = f"""
    {_Q_CTE}
    , cent AS (
        SELECT CAST(__cell AS INT) AS cell, centroid
        FROM read_parquet('{_IVF_PROBE_ART}/centroids/*.parquet')
    ), probe AS (
        SELECT cell FROM cent CROSS JOIN q
        ORDER BY {sql_index_distance('l2', 'cent.centroid', 'q.qv')}, cell
        LIMIT 6
    ), cand AS (
        SELECT CAST(v.vec_id AS BIGINT) AS vec_id, v.embedding
        FROM read_parquet('{_IVF_PROBE_ART}/vectors/*/*.parquet',
                          hive_partitioning=1) v
        WHERE CAST(v.__cell AS INT) IN (SELECT cell FROM probe)
    )
    SELECT c.vec_id, {sql_index_distance('l2', 'c.embedding', 'q.qv')} AS _distance
    FROM cand c CROSS JOIN q
    ORDER BY _distance, c.vec_id LIMIT 10
    """


@register("ann_search_ivfflat_probe", _IVF_PROBE_ORACLE)
def q_ann_search_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-probe IVF (the 100 TB path: a scan of the probed cells).
    The probe itself runs the engine's BLAS path (f32 ranking); the
    returned `_distance` is recomputed with the f64 JVM fold so values
    hash-match the artifact-replaying DuckDB oracle above (same move as
    `_exact_graph_scan`). Recall floor + exact-ids-at-fixed-seed are
    additionally pinned in tests/test_index_ivf.py."""
    from ..functions.distance import index_distance

    cat = _fresh_index(
        spark, sf_dir, "suite_ivf", type="IVFFlat", ivf_nlist=16, nprobe=6
    )
    q = query_vec(spark, sf_dir)
    hits = index_scan(spark, "suite_ivf", [q], k=10, catalog=cat)
    e = _emb(spark, sf_dir)
    return (
        hits.select("vec_id")
        .join(F.broadcast(e.select("vec_id", "embedding")), on="vec_id")
        .withColumn("_distance", index_distance("l2", "embedding", q))
        .select("vec_id", "_distance")
        .orderBy("_distance", "vec_id")
    )


def _exact_graph_scan(
    spark: SparkSession, sf_dir: str, name: str, k: int = 10
) -> DataFrame:
    """Search `name` with search_complexity >= n (greedy visits the whole
    connected graph → exact result), then recompute `_distance` with the
    f64 JVM fold so values hash-match the DuckDB oracle (the graph engine
    ranks in f32, which preserves the exact top-k order on this fixture
    but not the low bits of the distance)."""
    from ..functions.distance import index_distance

    e = _emb(spark, sf_dir)
    n = e.count()
    q = query_vec(spark, sf_dir)
    hits = index_scan(spark, name, [q], k=k, search_complexity=int(n),
                      catalog=_cat())
    return (
        hits.select("vec_id")
        .join(F.broadcast(e.select("vec_id", "embedding")), on="vec_id")
        .withColumn("_distance", index_distance("l2", "embedding", q))
        .select("vec_id", "_distance")
        .orderBy("_distance", "vec_id")
    )


@register(
    "diskann_index_scan_exact",
    f"""
    {_Q_CTE}
    SELECT e.vec_id, {_DIST} AS _distance
    FROM embeddings e CROSS JOIN q
    ORDER BY _distance, e.vec_id LIMIT 10
    """,
)
def q_diskann_index_scan_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vamana greedy search degenerated to exact: `search_complexity >= n`
    makes the candidate list hold every reachable node, so greedy search
    visits the whole graph — the same degeneration move
    `ann_search_ivfflat_fullprobe` uses for IVF (reference exact-result
    tests, `test/sql/diskann_basic.test:27-34`). The APPROXIMATE path
    (bounded search_complexity) keeps its recall gates in
    tests/test_vamana.py and tests/test_index_vamana.py (>=7/10 vs brute
    force, the `diskann_streaming.test` floor) and in bench.py's
    reported recall."""
    cat = _cat()
    drop_index("suite_vamana", cat)
    create_index(
        _emb(spark, sf_dir), "vec_id", "embedding", "suite_vamana",
        engine="diskann", table_name="embeddings", max_degree=32,
        build_complexity=64, catalog=cat,
    )
    return _exact_graph_scan(spark, sf_dir, "suite_vamana")


@register(
    "diskann_sq8_recon",
    # derived from the table, not literals: the oracle must hold at any
    # scale factor (round-5 sf-robustness sweep)
    """
    SELECT CAST(count(*) AS BIGINT) AS num_vectors,
           CAST((SELECT len(embedding) FROM embeddings LIMIT 1) AS INT)
               AS dimension,
           true AS quantized, true AS recon_within_half_step,
           'diskann-v2' AS layout
    FROM embeddings
    UNION ALL
    SELECT CAST(count(*) AS BIGINT),
           CAST((SELECT len(embedding) FROM embeddings LIMIT 1) AS INT),
           true, true, 'ivf-parquet'
    FROM embeddings
    ORDER BY layout
    """,
)
def q_diskann_sq8_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantization contract (`rust_lib/src/provider.rs:161-231`):
    codes are per-dimension u8 with min/scale, so every dequantized value
    must sit within half a quantization step (scale/255/2) of the
    original. Two rows, one per SQ8 surface (round 13): the `.diskann`
    appendix of an SQ8 Vamana build, and the DISTRIBUTED tier — the
    IVF cell layout's u8 code columns read back through the engine's
    Arrow-decoding vectors() view. Hash-green; search recall for SQ8 is
    gated in tests. (At these oracle SFs the IVF train sample covers
    every row, so no value clips and the half-step bound is exact.)"""
    import numpy as np

    from ..index.engines import get_engine
    from ..index.file_format import read_diskann, read_sq8
    from ..index.vamana_core import sq8_dequantize

    cat = _cat()
    drop_index("suite_vamana_q", cat)
    m = create_index(
        _emb(spark, sf_dir), "vec_id", "embedding", "suite_vamana_q",
        engine="diskann", table_name="embeddings", max_degree=32,
        build_complexity=64, quantization="sq8", catalog=cat,
    )
    d = cat.path("suite_vamana_q")
    gdir = os.path.join(d, "graph")
    ok = True
    for f in sorted(os.listdir(gdir)):
        if not f.endswith(".diskann"):
            continue
        path = os.path.join(gdir, f)
        g = read_diskann(path, mmap=True)
        sq8 = read_sq8(path)
        if sq8 is None:
            ok = False
            break
        codes, mins, scale = sq8
        err = np.abs(sq8_dequantize(codes, mins, scale) - g.vectors[: g.n])
        # half-step bound + float32 slack
        ok = ok and bool((err <= scale / 255.0 / 2.0 + 1e-5).all())

    drop_index("suite_ivf_q", cat)
    m2 = create_index(
        _emb(spark, sf_dir), "vec_id", "embedding", "suite_ivf_q",
        engine="faiss", type="IVFFlat", ivf_nlist=8, nprobe=8,
        quantization="sq8", catalog=cat,
    )
    impl = get_engine("faiss", "ivfflat")
    deq = impl.vectors(spark, cat.path("suite_ivf_q")).toPandas()
    orig = _emb(spark, sf_dir).toPandas()
    deq = deq.sort_values("vec_id").reset_index(drop=True)
    orig = orig.sort_values("vec_id").reset_index(drop=True)
    ok2 = bool((deq["vec_id"].to_numpy() == orig["vec_id"].to_numpy()).all())
    dm = np.vstack(deq["embedding"].to_numpy()).astype(np.float32)
    om = np.vstack(orig["embedding"].to_numpy()).astype(np.float32)
    scale2 = np.asarray(m2["sq8_scale"], dtype=np.float32)
    ok2 = ok2 and bool(
        (np.abs(dm - om) <= scale2 / 255.0 / 2.0 + 1e-5).all()
    )
    return spark.createDataFrame(
        [
            (int(m["num_vectors"]), int(m["dim"]), True, bool(ok),
             "diskann-v2"),
            (int(m2["num_vectors"]), int(m2["dim"]), True, bool(ok2),
             "ivf-parquet"),
        ],
        "num_vectors long, dimension int, quantized boolean, "
        "recon_within_half_step boolean, layout string",
    )


@register(
    "ann_insert_append",
    f"""
    {_Q_CTE}
    SELECT e.vec_id, {_DIST} AS _distance
    FROM embeddings e CROSS JOIN q
    ORDER BY _distance, e.vec_id LIMIT 10
    """,
)
def q_ann_insert_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index built on part of the table, remainder inserted live
    (diskann_basic.test:45-55 semantics) — search equals full brute
    force because Flat is exact."""
    cat = _cat()
    drop_index("suite_ins", cat)
    emb = _emb(spark, sf_dir)
    create_index(
        emb.where(F.col("vec_id") < 400), "vec_id", "embedding", "suite_ins",
        engine="faiss", table_name="embeddings", catalog=cat,
    )
    insert_into_index(spark, "suite_ins", emb.where(F.col("vec_id") >= 400), cat)
    q = query_vec(spark, sf_dir)
    return index_scan(spark, "suite_ins", [q], k=10, catalog=cat).drop("query_idx")


@register(
    "planner_rewrites",
    f"""
    SELECT * FROM (
        {_Q_CTE}
        SELECT 'route10' AS rewrite_case, e.vec_id, e.label,
               {_DIST} AS _distance
        FROM embeddings e CROSS JOIN q
        ORDER BY _distance, e.vec_id LIMIT 10
    )
    UNION ALL
    SELECT * FROM (
        {_Q_CTE}
        SELECT 'default_k' AS rewrite_case, e.vec_id, e.label,
               {_DIST} AS _distance
        FROM embeddings e CROSS JOIN q
        ORDER BY _distance, e.vec_id LIMIT 100
    )
    """,
)
def q_planner_rewrites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimizer-rewrite analog, both gate scenarios in one entry
    (round 5: formerly planner_topk_route + planner_default_k; merged
    for the registry cap, both assertions kept).

    Case 'route10': topk_auto consults the catalog, passes the
    reference's gates, and routes through the Flat index — result
    identical to brute force (ann_optimizer.cpp:348-530).

    Case 'default_k': a LIMIT-less ORDER BY is rewritten with the
    reference's default k=100 (`src/ann_optimizer.cpp:475,554-557`):
    `topk_auto(k=None)` returns exactly 100 rows. The route then
    depends on the selectivity gate (k=100 vs 10% of N) — the entry
    asserts the gate DECISION matches the rule for the actual corpus
    size; the result is exact top-100 either way (Flat index).

    Isolated catalog: the planner picks any metric-compatible index on
    the table, so the other suite entries' (approximate) indexes must
    not be visible to it."""
    cat = Catalog(_ROOT + "_planner")
    drop_index("suite_plan", cat)
    emb = _emb(spark, sf_dir)
    n = emb.count()
    create_index(
        emb, "vec_id", "embedding", "suite_plan",
        engine="faiss", table_name="embeddings", catalog=cat,
    )
    q = query_vec(spark, sf_dir)

    res10, decision = topk_auto(
        emb, "embedding", q, 10, table_name="embeddings",
        catalog=cat, explain=True,
    )
    assert decision.strategy == "index_scan", decision

    res_dk, decision_dk = topk_auto(
        emb, "embedding", q, k=None, table_name="embeddings",
        id_col="vec_id", catalog=cat, explain=True,
    )
    if 100 > 0.10 * n:
        assert decision_dk.strategy == "brute_force", decision_dk
        if n >= 50:  # below MIN_ROWS_FOR_INDEX the cardinality gate
            # fires first with its own message
            assert any(
                "10%" in g or "k=100" in g for g in decision_dk.gates
            ), decision_dk
    else:
        assert decision_dk.strategy == "index_scan", decision_dk

    cols = ["vec_id", "label", "_distance"]
    return (
        res10.select(F.lit("route10").alias("rewrite_case"), *cols)
        .unionByName(
            res_dk.select(F.lit("default_k").alias("rewrite_case"), *cols)
        )
    )


@register(
    "faiss_gpu_info",
    "SELECT * FROM (VALUES (false, 'cpu (numpy BLAS / Arrow)'))"
    " AS t(available, device)",
)
def q_faiss_gpu_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    return faiss_gpu_info(spark)


@register(
    "diskann_streaming_build",
    # mirrors the default sample rule max(floor(sqrt(N)), 1000) clamped
    # to N, so the oracle holds at any scale factor
    """
    WITH s AS (
        SELECT count(*) AS n,
               (SELECT len(embedding) FROM embeddings LIMIT 1) AS dim
        FROM embeddings
    )
    SELECT CAST(n AS BIGINT) AS num_vectors, CAST(dim AS INT) AS dimension,
           CAST(least(greatest(
               CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT), 1000), n)
               AS INT) AS sample_size
    FROM s
    """,
)
def q_diskann_streaming_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass out-of-core build (streaming_build.rs shape): default
    sample = max(sqrt(N), 1000) clamped to N."""
    import tempfile

    out = os.path.join(tempfile.gettempdir(), f"suite_sb_{os.getpid()}.diskann")
    n, dim, used = diskann_streaming_build(
        f"{sf_dir}/embeddings.parquet", out, max_degree=16,
        build_complexity=32,
    )
    return spark.createDataFrame(
        [(n, dim, used)], "num_vectors long, dimension int, sample_size int"
    )


@register(
    "ann_list_info",
    # memory model mirrored from the engines: flat = n*dim*4 bytes;
    # layered HNSW adds the layer-0 adjacency, m0=2*hnsw_m u32s per row
    # → n*(dim + 32)*4 at hnsw_m=16. Derived from the table so the
    # oracle holds at any scale factor.
    """
    WITH s AS (
        SELECT count(*) AS n,
               (SELECT len(embedding) FROM embeddings LIMIT 1) AS dim
        FROM embeddings
    )
    SELECT * FROM (
        SELECT 'suite_lia' AS name, 'FAISS' AS engine,
               'embeddings' AS table_name, CAST(n AS BIGINT) AS num_vectors,
               CAST(2 AS BIGINT) AS num_deleted,
               CAST(n * dim * 4 AS BIGINT) AS memory_bytes,
               false AS quantized, 'flat-parquet-v1' AS layout,
               false AS calibration_stale,
               CAST(-1.0 AS DOUBLE) AS end_recall,
               CAST(-1.0 AS DOUBLE) AS end_predicted,
               CAST(0 AS INT) AS end_route_nprobe,
               CAST(0 AS INT) AS end_search_complexity,
               CAST(-1 AS BIGINT) AS sq8_clip_count FROM s
        UNION ALL
        SELECT 'suite_lib', 'FAISS', 'embeddings', CAST(n AS BIGINT),
               CAST(0 AS BIGINT), CAST(n * dim * 4 AS BIGINT),
               false, 'flat-parquet-v1', false,
               CAST(-1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE),
               CAST(0 AS INT), CAST(0 AS INT), CAST(-1 AS BIGINT) FROM s
        UNION ALL
        SELECT 'suite_lih', 'FAISS', 'embeddings', CAST(n AS BIGINT),
               CAST(0 AS BIGINT), CAST(n * (dim + 32) * 4 AS BIGINT),
               false, 'hnsw-layered', false,
               CAST(-1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE),
               CAST(0 AS INT), CAST(0 AS INT), CAST(-1 AS BIGINT) FROM s
    )
    ORDER BY name
    """,
)
def q_ann_list_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_list()` + `ann_index_info()` in one entry (consolidated round
    3 — the info columns are a superset of the list columns). Both table
    functions run: the entry asserts `ann_list`'s projection agrees with
    the manifests, then returns the info rows (`src/ann_list.cpp:21-221`),
    including the hash-checked `layout` diagnostic (the HNSW index must
    report the layered structure, not a flat-graph stand-in), the
    round-10 `calibration_stale` column (false here: Flat carries no
    measurement and the single-graph HNSW records none — unmeasured
    artifacts have nothing to go stale), and the round-12
    `end_calibration` columns (SENTINELS here — -1.0/-1.0/0/0 — the
    deterministic stand-in for 'no end anchor'; a routed build's
    measured values are covered by tests/test_calibration.py, where
    the measurement is seeded but not SQL-predictable)."""
    cat = _cat()
    for n, opts in (
        ("suite_lia", {}),
        ("suite_lib", {}),
        ("suite_lih", {"type": "HNSW", "hnsw_m": 16}),
    ):
        drop_index(n, cat)
        create_index(
            _emb(spark, sf_dir), "vec_id", "embedding", n,
            engine="faiss", table_name="embeddings", catalog=cat, **opts,
        )
    delete_from_index(spark, "suite_lia", [1, 2], catalog=cat)
    listed = {
        (r["name"], r["engine"], r["table_name"])
        for r in ann_list(spark, cat)
        .where(F.col("name").startswith("suite_li"))
        .collect()
    }
    assert listed == {
        ("suite_lia", "FAISS", "embeddings"),
        ("suite_lib", "FAISS", "embeddings"),
        ("suite_lih", "FAISS", "embeddings"),
    }, listed
    return (
        ann_index_info(spark, cat)
        .where(F.col("name").startswith("suite_li"))
        .orderBy("name")
    )


@register(
    "ann_vacuum_rebuild",
    f"""
    {_Q_CTE}
    SELECT e.vec_id, {_DIST} AS _distance,
           CAST((SELECT count(*) FROM embeddings) - 3 AS BIGINT) AS num_vectors
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id NOT IN (5, 11, 21)
    ORDER BY _distance, e.vec_id LIMIT 6
    """,
)
def q_ann_vacuum_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum rebuilds without tombstoned rows (`Vacuum`,
    src/diskann_index.cpp:701-741): post-vacuum search equals brute force
    over the survivors, and the manifest count drops by |deleted|."""
    cat = _fresh_index(spark, sf_dir, "suite_vac")
    delete_from_index(spark, "suite_vac", [5, 11, 21], catalog=cat)
    m = vacuum_index(spark, "suite_vac", catalog=cat)
    assert m["num_deleted"] == 0
    q = query_vec(spark, sf_dir)
    return (
        index_scan(spark, "suite_vac", [q], k=6, catalog=cat)
        .drop("query_idx")
        .withColumn("num_vectors", F.lit(int(m["num_vectors"])).cast("long"))
    )


@register(
    "ann_merge_indexes",
    f"""
    {_Q_CTE}
    SELECT e.vec_id, {_DIST} AS _distance
    FROM embeddings e CROSS JOIN q
    ORDER BY _distance, e.vec_id LIMIT 10
    """,
)
def q_ann_merge_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`MergeIndexes` (src/diskann_index.cpp:655-699): dst absorbs src's
    surviving vectors; the merged Flat index searches exactly like one
    built over the whole table."""
    cat = _cat()
    emb = _emb(spark, sf_dir)
    for n in ("suite_mrg_a", "suite_mrg_b"):
        drop_index(n, cat)
    create_index(
        emb.where(F.col("vec_id") < 250), "vec_id", "embedding",
        "suite_mrg_a", engine="faiss", table_name="embeddings", catalog=cat,
    )
    create_index(
        emb.where(F.col("vec_id") >= 250), "vec_id", "embedding",
        "suite_mrg_b", engine="faiss", table_name="embeddings", catalog=cat,
    )
    merge_indexes(spark, "suite_mrg_a", "suite_mrg_b", catalog=cat)
    q = query_vec(spark, sf_dir)
    return index_scan(spark, "suite_mrg_a", [q], k=10, catalog=cat).drop(
        "query_idx"
    )


@register(
    "faiss_hnsw_scan_exact",
    f"""
    {_Q_CTE}
    SELECT e.vec_id, {_DIST} AS _distance
    FROM embeddings e CROSS JOIN q
    ORDER BY _distance, e.vec_id LIMIT 10
    """,
)
def q_faiss_hnsw_scan_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW surface (`CREATE INDEX ... USING FAISS WITH (type='HNSW',
    hnsw_m=...)`), backed by REAL layered HNSW (`index/hnsw_core.py`:
    geometric level assignment, per-layer beam search, Algorithm-4
    selection — the reference's `faiss::IndexHNSWFlat` structure),
    degenerated to exact with efSearch (search_complexity) >= n so the
    driver can hash-compare against brute force. Approximate recall,
    layering, and param plumbing are pinned in tests/test_hnsw.py and
    tests/test_persist_edge.py."""
    cat = _cat()
    drop_index("suite_hnsw", cat)
    create_index(
        _emb(spark, sf_dir), "vec_id", "embedding", "suite_hnsw",
        engine="faiss", type="HNSW", hnsw_m=16, table_name="embeddings",
        catalog=cat,
    )
    return _exact_graph_scan(spark, sf_dir, "suite_hnsw")


@register(
    "ann_search_oversample",
    f"""
    {_Q_CTE}
    SELECT vec_id, label, _distance FROM (
        SELECT e.vec_id, e.label, {_DIST} AS _distance
        FROM embeddings e CROSS JOIN q
        ORDER BY _distance, e.vec_id LIMIT 6
    )
    """,
)
def q_ann_search_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oversample EXPANDS ann_search's result to k*oversample rows so an
    external filter still finds k survivors (src/ann_search.cpp:123,
    diskann_optimizer.test:96-110: k=2 x oversample=3 returns 5 of 5)."""
    cat = _fresh_index(spark, sf_dir, "suite_over")
    q = query_vec(spark, sf_dir)
    res = ann_search(
        _emb(spark, sf_dir), "suite_over", q, k=3, oversample=2, catalog=cat
    )
    return res.select("vec_id", "label", "_distance")
