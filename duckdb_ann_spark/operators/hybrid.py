"""`hybrid_search`: BM25 full-text + vector search fused with RRF.

Reference (`/root/reference/src/ann_search.cpp:903-1163`):
BM25 ranks from DuckDB FTS (rank 1 = best, at most `bm25_candidates`),
vector ranks from the DiskANN index (at most `vector_candidates`), then
Reciprocal Rank Fusion with `RRF_K = 60`:

    score = bm25_weight * 1/(60 + bm25_rank)      [if bm25-ranked]
          + vector_weight * 1/(60 + vector_rank)  [if vector-ranked]

sorted descending, top k; a missing rank is reported as 0 and
contributes nothing (`:1091-1115`). FTS failure degrades to vector-only
(`:1056`); we mirror that when `query_text` is empty/has no tokens.

Spark-first BM25 (no FTS extension):
Okapi BM25 (k1=1.2, b=0.75) with `idf = ln(1 + (N - df + .5)/(df + .5))`.
Scale shape: the query-term set is tiny, so per-doc tf/dl are array ops
over ONE bound tokenize evaluation — no explode, no per-term shuffle.
One aggregate computes the corpus constants (N, total tokens, per-term
doc frequencies) as a single broadcast row; one projection scores every
doc with a sequential term-sorted fold so the result is
bit-deterministic (and hash-matchable by the DuckDB oracle). Ranking
happens after `limit(candidates)` — the global window only ever sees
`candidates` rows.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import py_tokenize

RRF_K = 60.0
BM25_K1 = 1.2
BM25_B = 0.75
# block-max candidate bounding (round 11): per-term impact-ordered
# posting blocks of this many rows; block maxima let the table search
# prune whole blocks against a per-query threshold with EXACT results.
# 128 rows ≈ the classic block-max-WAND block size: summaries stay
# ~1% of postings while a block is still big enough to amortize its
# row-group read.
BLOCK_ROWS = 128
# blocks scanned per (query, term) to SEED the pruning threshold: the
# top-2 impact blocks bound the seed slice at 256 rows per term while
# containing the highest single-term contributions — on a Zipfian head
# term that is what puts the C-th candidate's lower bound high enough
# to prune the remaining ~99% of the term's blocks
BLOCK_SEED = 2
# terms with corpus df at or under this are SHORT: their matching docs
# join the candidate set wholesale instead of participating in the
# block bounds — a rare term's enormous max impact would otherwise
# poison every other term's pruning threshold, and including a few
# thousand postings outright costs less than the summary arithmetic
# that would save them
BLOCK_SHORT_DF = 4096
# single-query block-max COST GATE (round 13 — r12's one bench
# regression): the pruning plan carries ~1.3s of fixed Spark job
# overhead (blocks read + θ seeding + three-way union + distinct +
# semi-join), so `bm25_scores_indexed(use_blockmax=None)` engages it
# only when the query's total posting mass (sum of per-term dfs —
# already collected driver-side at the decision point) reaches this
# floor. Anchored by the two measured endpoints: at sf0.1 (~5k docs,
# sum(df) ≈ 10^3) the unconditional prune DOUBLED the query
# (1.22 → 2.52s, r12 bench) while the 5M-doc Zipf head-term smoke
# (sum(df) ≈ 10^6) keeps a >=10x win. 50k posting rows ≈ where the
# pivot work the prune saves matches the plan overhead on the Zipf
# corpus shape; `use_blockmax=True` bypasses the gate.
BLOCKMAX_MIN_POSTINGS = 50_000

__all__ = [
    "bm25_scores",
    "bm25_ranks",
    "publish_text_index",
    "publish_text_index_delta",
    "bm25_scores_indexed",
    "hybrid_search",
    "hybrid_search_table",
    "RRF_K",
]


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_text: str,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """→ (id, _bm25_score) for docs containing >=1 query term.

    Scale shape (round-3 rewrite): the query-term set is tiny, so tf/dl
    are per-doc ARRAY ops over one bound tokenize evaluation — no
    explode, no groupBy(id, term) shuffle, no join back. Two narrow
    scans total: one aggregate for the corpus constants (N, total
    tokens, per-term doc frequencies — one broadcast row), one
    projection computing every doc's score with the constants cross-
    joined in. The old explode→3x-scan→2x-shuffle pipeline did the same
    arithmetic with three full passes over the token stream."""
    from ..functions.text import spark_sql_tokenize, sql_bind_once

    qterms = sorted(set(py_tokenize(query_text)))
    spark = docs.sparkSession
    if not qterms:
        return spark.createDataFrame([], f"{id_col} long, _bm25_score double")
    m = len(qterms)

    # the whole per-doc counts struct as ONE SQL string (one py4j call;
    # the per-node builders paid a round-trip per term). Query terms are
    # py_tokenize output — strictly [a-z0-9]+ — so inlining them in the
    # string is injection-safe. The element_at(transform(array(..)), 1)
    # wrapper is bind_once: every tf and dl shares one tokenize pass.
    tfs = ", ".join(
        f"cast(size(filter(toks, t -> t = '{t}')) as double) as tf{i}"
        for i, t in enumerate(qterms)
    )
    counts_sql = sql_bind_once(
        spark_sql_tokenize(text_col), "toks",
        f"struct(cast(size(toks) as double) as dl, {tfs})",
    )
    per_doc = docs.select(
        F.col(id_col), F.expr(counts_sql).alias("_t")
    ).select(id_col, "_t.dl", *[f"_t.tf{i}" for i in range(m)])

    consts = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.sum("dl").alias("_total_tokens"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("double")).alias(f"_df{i}")
            for i in range(m)
        ],
    )

    hit = per_doc.where(
        F.greatest(*[F.col(f"tf{i}") for i in range(m)]) > 0
        if m > 1
        else F.col("tf0") > 0
    )
    joined = hit.crossJoin(F.broadcast(consts))
    avgdl = F.col("_total_tokens") / F.col("_n_docs")
    # sequential fold in sorted term order, skipping absent terms —
    # bit-identical to the oracle's list_reduce over list(s ORDER BY term)
    # (0.0 + s == s exactly, and each add is left-associated)
    acc: Column = F.lit(0.0)
    for i in range(m):
        tf_i = F.col(f"tf{i}")
        s_i = _term_score(
            tf_i, F.col(f"_df{i}"), F.col("dl"), F.col("_n_docs"), avgdl, k1, b
        )
        acc = F.when(tf_i > 0, acc + s_i).otherwise(acc)
    return joined.select(F.col(id_col), acc.alias("_bm25_score"))


def _term_score(tf: Column, df: Column, dl: Column, n_docs: Column,
                avgdl: Column, k1: float, b: float) -> Column:
    # ln() is the one non-bit-deterministic op in the BM25 chain: JVM
    # Math.log and libm (DuckDB) disagree by 1 ulp for some arguments
    # (observed at df=3857, n=5000 — sf0.1), which flipped candidate-set
    # membership at the rank cutoff. Quantize the idf with exact IEEE
    # ops (floor of x*1e9, both engines mirror it) so a 1-ulp input
    # divergence collapses; the 1e-9 perturbation is far below any
    # ranking-relevant signal. NOT a complete fix: if ln(x)*1e9 lands
    # within 1 ulp of an integer the two engines can still floor apart
    # (~1e-6 chance per distinct idf value) — if the hybrid hash gate
    # ever flakes after a testdata regen, suspect this boundary first.
    idf = F.log(F.lit(1.0) + (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)))
    idf = F.floor(idf * F.lit(1e9)) / F.lit(1e9)
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl)
    return idf * (tf * F.lit(k1 + 1.0)) / denom


def publish_text_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    output_path: str,
) -> None:
    """Write an inverted BM25 postings artifact — the analog of the FTS
    index the reference's `hybrid_search` REQUIRES
    (`src/ann_search.cpp:903-1020` ranks through DuckDB's prebuilt FTS
    index; our full-scan `bm25_scores` is the convenience path — this is
    the scale path: a 100-TB corpus must not re-tokenize per query).

    Layout (manifest-written-LAST commit discipline):

        postings/  (term, <id_col>, tf, dl)  sorted by term, so a
                   query's `term IN (...)` predicate prunes parquet row
                   groups. dl is DENORMALIZED onto every posting row
                   (+8 bytes/row) so scoring needs NO doc-length join —
                   the hit pivot is the only shuffle, and it moves hit
                   rows only.
        docs/      (id, dl) — the DOC CENSUS (round 11): one row per
                   document INCLUDING token-less ones, which have no
                   postings rows and were invisible to the delta
                   publish's id-overlap validation (a delta reusing
                   such an id silently double-counted n_docs and broke
                   the bit-identity promise — the round-10 advice
                   corner). Deltas validate against this.
        stats/     one row (n_docs, total_tokens)
        manifest/  one row (version, id_col) — the commit marker

    Per-query work becomes: a term-pruned postings scan + one groupBy
    over the hit rows — nothing scales with corpus text size. Values
    are stored exactly as the scan path computes them (tf/dl as
    doubles, integer-valued → exact), so `bm25_scores_indexed` is
    BIT-IDENTICAL to `bm25_scores` over the same corpus."""
    _publish_postings(docs.sparkSession, docs, id_col, text_col, output_path)


def _publish_postings(
    spark,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    output_path: str,
    extra_postings: Optional[DataFrame] = None,
    extra_stats: tuple = (0.0, 0.0),
    extra_census: Optional[DataFrame] = None,
) -> None:
    """The SINGLE tokenize → postings → stats → manifest pipeline behind
    `publish_text_index` (extra_* empty) and `publish_text_index_delta`
    (extra_postings = the base artifact's existing rows, extra_stats =
    its (n_docs, total_tokens), extra_census = its (id, dl) doc
    census). One implementation, so the delta merge's
    bit-identity-to-full-republish contract cannot drift from the full
    publish (round-9 review: the two copies had to stay line-for-line
    identical by hand). Clears the commit marker FIRST, writes it LAST
    (torn-publish discipline)."""
    from ..functions.text import spark_sql_tokenize, sql_bind_once
    from ..local import local_df

    local_df(spark, [], "version int, id_col string").write.mode(
        "overwrite"
    ).parquet(f"{output_path}/manifest")  # clear the commit marker first
    toks_sql = sql_bind_once(
        spark_sql_tokenize(text_col), "toks",
        "struct(toks as toks, cast(size(toks) as double) as dl)",
    )
    base = docs.select(
        F.col(id_col), F.expr(toks_sql).alias("_t")
    ).select(id_col, "_t.toks", "_t.dl").persist()
    try:
        postings = (
            base.select(id_col, "dl", F.explode("toks").alias("term"))
            .groupBy("term", id_col)
            .agg(
                F.count(F.lit(1)).cast("double").alias("tf"),
                F.first("dl").alias("dl"),
            )
        )
        if extra_postings is not None:
            # fixed-width base rows union in as-is: per-posting tf/dl
            # depend only on the posting's own document, per-term df is
            # derived at READ time by counting rows (counts union
            # exactly) — the merge is bit-identical to a full republish
            postings = extra_postings.select(
                "term", id_col, "tf", "dl"
            ).unionByName(postings)
        # merged-corpus stats BEFORE the postings write (round 11: the
        # per-posting impacts below need them)
        dstats = base.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
        ).head()
        n_docs = float(extra_stats[0]) + float(dstats["n_docs"] or 0.0)
        total_tokens = (
            float(extra_stats[1]) + float(dstats["total_tokens"] or 0.0)
        )
        # block-max structure (round 11): per term, postings sorted by
        # IMPACT (the posting's exact BM25 contribution under THIS
        # artifact's stats — strictly positive, the +1 idf variant)
        # descending and chunked into BLOCK_ROWS blocks; `blocks/`
        # stores each block's max. Query time can then prune whole
        # blocks that provably cannot reach a running top-k threshold
        # and still score survivors bit-identically (see
        # `_blockmax_hits`). A delta merge recomputes impacts for
        # ALL rows — stats shift — but that is one windowed pass over
        # postings, the same order as the move-the-postings cost the
        # delta contract already declares. Impact ordering puts the
        # per-term pruning in prefix form: survivors are blocks
        # 0..m_t, everything after is provably under the threshold.
        if n_docs > 0:
            from pyspark.sql import Window as _W

            avgdl_expr = F.lit(float(total_tokens)) / F.lit(float(n_docs))
            w_df = _W.partitionBy("term")
            w_rank = _W.partitionBy("term").orderBy(
                F.desc("_impact"), F.asc(id_col)
            )
            postings = (
                postings.repartitionByRange(F.col("term"))
                .withColumn(
                    "_df", F.count(F.lit(1)).over(w_df).cast("double")
                )
                .withColumn("_impact", _term_score_expr(
                    F.col("tf"), F.col("_df"), F.col("dl"), n_docs,
                    avgdl_expr, BM25_K1, BM25_B,
                ))
                .withColumn("_blk", F.floor(
                    (F.row_number().over(w_rank) - F.lit(1))
                    / F.lit(BLOCK_ROWS)
                ).cast("int"))
                .drop("_df")
            )
            (
                postings
                .sortWithinPartitions("term", "_blk")
                .write.mode("overwrite")
                .parquet(f"{output_path}/postings")
            )
            # summaries from the WRITTEN rows (a narrow columnar
            # re-scan — recomputing the window would re-run the whole
            # pipeline); _k1/_b record the constants the impacts were
            # computed under, so a reader with different constants
            # falls back to the plain exact path instead of pruning
            # with wrong bounds
            (
                spark.read.parquet(f"{output_path}/postings")
                .groupBy("term", "_blk")
                .agg(
                    F.max("_impact").alias("_bmax"),
                    F.count(F.lit(1)).alias("_n"),
                )
                .withColumn("_k1", F.lit(float(BM25_K1)))
                .withColumn("_b", F.lit(float(BM25_B)))
                .write.mode("overwrite")
                .parquet(f"{output_path}/blocks")
            )
        else:  # empty corpus: keep the legacy empty layout readable
            (
                postings.repartitionByRange(F.col("term"))
                .sortWithinPartitions("term")
                .write.mode("overwrite")
                .parquet(f"{output_path}/postings")
            )
        # the doc census (round 11): every document, token-less ones
        # included — dl is already computed, so this is a narrow
        # two-column write off the same persisted token frame
        census = base.select(id_col, "dl")
        if extra_census is not None:
            census = extra_census.select(id_col, "dl").unionByName(census)
        census.write.mode("overwrite").parquet(f"{output_path}/docs")
        local_df(
            spark,
            [(n_docs, total_tokens)],
            "n_docs double, total_tokens double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{output_path}/stats")
    finally:
        # also on a failed write: the artifact is left detectably
        # uncommitted either way, but the token frame must not stay
        # pinned for the session (round-9 advice)
        base.unpersist()
    local_df(
        spark, [(1, id_col)], "version int, id_col string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{output_path}/manifest")


def _norm_index_path(path: str) -> str:
    """Canonical form for the delta publish's in-place guard: local
    paths resolve through `os.path.realpath` (symlinked spellings of
    the same directory must compare equal — abspath strings don't), and
    a `file:` URI IS a local path (Spark resolves it to the same
    directory), so it is unwrapped as the index catalog unwraps its
    root and realpathed too. Other URI
    schemes (s3://, hdfs://...) are NOT filesystem paths —
    realpath/abspath would mangle the double slash — so they only
    normalize trailing slashes; two remote URIs aliasing one location
    through different endpoints are the caller's responsibility
    (round-10 advice + review)."""
    import re

    from ..index.catalog import file_uri_path

    local = file_uri_path(path)
    if local is not None:
        return os.path.realpath(local)
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path):
        return path.rstrip("/")
    return os.path.realpath(path)


def publish_text_index_delta(
    spark,
    base_path: str,
    delta_docs: DataFrame,
    text_col: str,
    output_path: str,
    validate_ids: bool = True,
) -> None:
    """Merge a DELTA corpus into a published text index → a NEW
    versioned artifact at `output_path` — the pay-once discipline
    completed (round 9): a daily-delta corpus must not re-tokenize the
    whole corpus to refresh its postings (`publish_text_index` was
    full-rebuild only, which broke the very economics the artifact
    exists for).

    Only the delta is tokenized. The base contributes its EXISTING
    postings rows — fixed-width (term, id, tf, dl) — and its two-number
    stats row; the merge is a union + the same term-range layout write,
    so the cost is tokenize(delta) + move(postings bytes), never
    tokenize(corpus). BIT-IDENTICAL to a full republish over
    corpus ∪ delta by construction: per-posting tf/dl depend only on
    the posting's own document; per-term df is derived at READ time by
    counting posting rows (counts union exactly); n_docs/total_tokens
    are integer-valued doubles whose sums are exact. The suite's
    `indexed_delta` leg hash-pins this identity against the scan-path
    oracle.

    Contracts: `output_path` must differ from `base_path` (in-place
    merge while readers are live is inherently racy on object stores —
    publish fresh, switch pointers; the base is also still being READ
    during the merge). Local paths are compared by `os.path.realpath`,
    so symlinked spellings of the same directory are caught; URI paths
    (s3://, hdfs://, file://) are compared as normalized strings only —
    two URIs that alias the same object-store location through
    different endpoints/mounts are the CALLER's responsibility. Delta
    ids must be disjoint from the base's — validated against the
    base's DOC CENSUS (`docs/`, round 11), which covers token-less
    documents too, closing the round-10 corner where a delta reusing
    an empty doc's id silently double-counted n_docs and broke the
    bit-identity promise. Pre-census bases (round ≤10 artifacts) fall
    back to the postings id scan, where that corner remains (the
    census the merge WRITES is then reconstructed from postings and
    inherits the same blind spot — republish to get full coverage).
    Skip with `validate_ids=False` when the caller guarantees
    disjointness. The delta must carry the base's own id column.
    Chaining works: the output is a valid base for the next delta."""
    if _norm_index_path(output_path) == _norm_index_path(base_path):
        raise ValueError(
            "publish_text_index_delta: output_path must differ from "
            "base_path (publish each corpus version to a fresh path and "
            "switch pointers — in-place merge is racy for live readers)"
        )
    id_col, base_postings, n_docs, total_tokens = _load_text_index(
        spark, base_path
    )
    if id_col not in delta_docs.columns:
        raise ValueError(
            f"delta is missing the base index's id column '{id_col}'"
        )
    census = _load_census(spark, base_path, id_col, base_postings)
    if validate_ids:
        overlap = (
            census.select(id_col)
            .join(delta_docs.select(id_col).distinct(), on=id_col,
                  how="leftsemi")
            .first()
        )
        if overlap is not None:
            raise ValueError(
                f"delta ids overlap the published corpus (e.g. "
                f"{id_col}={overlap[0]}); ids must be disjoint — "
                "republish from scratch to replace documents"
            )
    _publish_postings(
        spark, delta_docs, id_col, text_col, output_path,
        extra_postings=base_postings,
        extra_stats=(float(n_docs), float(total_tokens)),
        extra_census=census,
    )


def _load_census(spark, index_path: str, id_col: str,
                 base_postings: DataFrame) -> DataFrame:
    """The base artifact's (id, dl) doc census, or its best-effort
    reconstruction from postings for pre-round-11 artifacts (distinct
    posting ids — token-less docs are invisible there, the documented
    residual blind spot of old bases)."""
    try:
        return spark.read.parquet(
            f"{index_path.rstrip('/')}/docs"
        ).select(id_col, "dl")
    except Exception:
        return (
            base_postings.groupBy(id_col).agg(F.first("dl").alias("dl"))
        )


def _load_text_index(spark, index_path: str):
    """→ (id_col, postings df, n_docs, total_tokens), after the
    commit-marker check."""
    try:
        m = spark.read.parquet(f"{index_path.rstrip('/')}/manifest").head()
    except Exception as e:
        raise ValueError(
            f"'{index_path}' is not a committed text index (missing "
            "manifest — interrupted publish?); re-run publish_text_index"
        ) from e
    if m is None or int(m["version"]) != 1:
        raise ValueError(
            f"text index at '{index_path}' is uncommitted or from an "
            "unknown version; re-run publish_text_index"
        )
    stats = spark.read.parquet(f"{index_path.rstrip('/')}/stats").head()
    return (
        m["id_col"],
        spark.read.parquet(f"{index_path.rstrip('/')}/postings"),
        float(stats["n_docs"]),
        float(stats["total_tokens"]),
    )


def bm25_scores_indexed(
    spark,
    index_path: str,
    query_text: str,
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_candidates: Optional[int] = None,
    use_blockmax: Optional[bool] = None,
) -> DataFrame:
    """→ (id, _bm25_score) from a `publish_text_index` artifact —
    BIT-IDENTICAL scores to `bm25_scores` over the published corpus
    (same tf/dl/df/N values, the same `_term_score` expression with the
    published constants as literals, the same sorted-term fold), without
    touching the corpus text: the postings scan is pruned to the query's
    terms, per-term doc frequencies are a <=|terms|-row collect, and the
    hit-row groupBy is the only shuffle (dl rides the posting rows — no
    doc-length join).

    `n_candidates` (round 12 — r11 verdict item 2): with it set, the
    per-doc pivot is restricted to the block-max candidate set
    (`_blockmax_candidates` — the table surface's exact pruning, fed a
    one-row query frame), so a Zipf HEAD term no longer materializes
    its whole O(df) posting list. The returned frame then covers a
    candidate SUPERSET of the true top-`n_candidates` docs; each
    returned doc's score is bit-identical (candidates re-score
    COMPLETELY — semi-join by doc keeps every query-term posting row),
    so the top-`n_candidates` set and order match the full path
    exactly. Docs outside the candidate set are absent — callers that
    need every matching doc's score (no top-k cut) must leave
    `n_candidates=None`. `use_blockmax`: None = AUTO — prune when the
    artifact carries usable block summaries AND the query's posting
    mass clears the COST GATE below (pre-round-11 artifacts degrade to
    the full path); True = require the summaries and prune
    unconditionally (loud error without them); False = full path.

    Cost gate (round 13 — r12's one bench regression): the pruning
    plan (block read + θ seeding + three-way union + distinct +
    semi-join) is ~1.3s of FIXED Spark job overhead per query, so for
    a single query it only pays when the pruned posting mass is large.
    The per-term dfs are already collected driver-side at the decision
    point, so the gate is free arithmetic: engage the prune only when
    `sum(df) >= max(64 * n_candidates, BLOCKMAX_MIN_POSTINGS)`.
    Below the gate there is nothing to prune — at sf0.1's ~5k-doc
    corpus the unconditional r12 prune DOUBLED the query
    (1.22 → 2.52s) while the 5M-doc Zipf head-term smoke (sum(df) in
    the millions) keeps its >=10x intermediate cut through this same
    auto path. Scores are bit-identical either way, so the gate is
    plan-only — no oracle risk."""
    qterms = sorted(set(py_tokenize(query_text)))
    if not qterms:
        id_guess = "id"
        try:
            id_guess = _load_text_index(spark, index_path)[0]
        except ValueError:
            pass
        return spark.createDataFrame([], f"{id_guess} long, _bm25_score double")
    id_col, postings, n_docs, total_tokens = _load_text_index(
        spark, index_path
    )
    # the pruned postings slice is consumed TWICE (the df collect below
    # + the pivot); persist so the parquet read happens once per query
    # (r8 review — this is the latency path the artifact exists for).
    # The slice rides the returned frame's tracked list: release via
    # release_caches on the result, or the release_operator_caches sweep.
    post = postings.where(F.col("term").isin(qterms)).persist()
    # df per term: postings hold only tf>0 rows, so the row count per
    # term IS the scan path's doc frequency. Bounded collect (<= |terms|).
    dfs = {
        r["term"]: float(r["df"])
        for r in post.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("df")
        ).collect()
    }
    scored = post
    engage = n_candidates is not None and (
        use_blockmax is True
        or (
            use_blockmax is None
            and sum(dfs.values())
            >= max(64 * int(n_candidates), BLOCKMAX_MIN_POSTINGS)
        )
    )
    if engage:
        from ..local import local_df

        qdf = local_df(
            spark, [(0, t) for t in qterms], "_bm_qid int, term string"
        )
        cands = _blockmax_candidates(
            spark, index_path, qdf, post, "_bm_qid", id_col,
            int(n_candidates),
        )
        if cands is None and use_blockmax is True:
            raise ValueError(
                "use_blockmax=True but the text index carries no block "
                "summaries under the current BM25 constants (pre-round-"
                "11 artifact?) — republish the index, or pass "
                "use_blockmax=False"
            )
        if cands is not None:
            scored = post.join(
                cands.select(id_col), on=id_col, how="leftsemi"
            )
    per = scored.groupBy(id_col).agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == F.lit(t), F.col("tf"))),
                F.lit(0.0),
            ).alias(f"tf{i}")
            for i, t in enumerate(qterms)
        ],
        F.max("dl").alias("dl"),
    )
    # identical arithmetic to bm25_scores: literal constants carry the
    # same double values the scan path's broadcast consts row carries,
    # through the same JVM column ops (avgdl division included)
    avgdl = F.lit(total_tokens) / F.lit(n_docs)
    acc: Column = F.lit(0.0)
    for i, t in enumerate(qterms):
        tf_i = F.col(f"tf{i}")
        s_i = _term_score(
            tf_i, F.lit(dfs.get(t, 0.0)), F.col("dl"), F.lit(n_docs),
            avgdl, k1, b,
        )
        acc = F.when(tf_i > 0, acc + s_i).otherwise(acc)
    from ..caching import track_caches

    return track_caches(
        per.select(F.col(id_col), acc.alias("_bm25_score")), post
    )


def bm25_ranks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_text: str,
    candidates: int,
) -> DataFrame:
    """→ (id, _bm25_rank) with rank 1 = best score, ties broken on id."""
    scores = bm25_scores(docs, id_col, text_col, query_text)
    top = scores.orderBy(F.desc("_bm25_score"), F.asc(id_col)).limit(candidates)
    # global window, DELIBERATE: it ranks an already-limited
    # (<= candidates-row) set, so the single partition WindowExec warns
    # about is bounded and correct. A constant partition key can't
    # silence the warning — Spark 4's EliminateWindowPartitions folds
    # any foldable spec (lit(0) and col*0 both measured eliminated) —
    # so the bench sets the log level instead.
    w = Window.orderBy(F.desc("_bm25_score"), F.asc(id_col))
    return top.withColumn("_bm25_rank", F.row_number().over(w)).select(
        id_col, "_bm25_rank"
    )


def hybrid_search(
    docs: DataFrame,
    id_col: str,
    query_vec: Sequence[float],
    query_text: str,
    text_col: str = "text",
    index: Optional[str] = None,
    vec_col: Optional[str] = None,
    k: int = 20,
    bm25_weight: float = 0.3,
    vector_weight: float = 0.7,
    bm25_candidates: int = 50,
    vector_candidates: int = 50,
    search_complexity: Optional[int] = None,
    metric: str = "l2",
    catalog=None,
    text_index: Optional[str] = None,
    use_blockmax: Optional[bool] = None,
) -> DataFrame:
    """→ docs columns + `_rrf_score, _bm25_rank, _vector_rank` (0 = not
    ranked by that leg), descending score, top k.

    Vector leg: through `index` when given (any engine), else exact brute
    force over `vec_col` (the reference always requires a DiskANN index;
    brute force is our Flat-equivalent convenience).

    Text leg: through a `publish_text_index` artifact when `text_index`
    is given — bit-identical ranks to the scan path at none of its
    per-query corpus tokenization (the reference's own shape: its BM25
    leg reads a prebuilt FTS index). The artifact must be published
    over the same corpus as `docs`, like the reference's FTS index is
    built over the searched table. Measured at the 200k-doc gated smoke
    on an idle host: indexed BM25 query 0.95s vs 1.92s scan, identical
    scores; at sf0.1's 5k docs the two are even (fixed job overhead) —
    the artifact is for corpora whose text dwarfs job overhead.

    Head-term (stop-word) query texts at scale (round 12 — r11
    verdict item 2): the indexed text leg rides the SAME exact
    block-max candidate bounding as `hybrid_search_table`
    (`bm25_scores_indexed(n_candidates=bm25_candidates)`), so a head
    term's O(df) posting list never materializes into the per-doc
    pivot; ranks are bit-identical by the `_blockmax_candidates`
    proof. `use_blockmax`: None = auto (prune when the artifact has
    usable block summaries), True = require, False = full join —
    the table surface's contract."""
    spark = docs.sparkSession

    # ---- vector ranks ----
    if index is not None:
        from ..index import index_scan

        hits = index_scan(
            spark, index, [list(query_vec)], vector_candidates,
            search_complexity, catalog,
        ).drop("query_idx")
    else:
        if vec_col is None:
            raise ValueError("hybrid_search needs `index` or `vec_col`")
        from .topk import topk

        hits = topk(
            docs.select(id_col, vec_col), vec_col, query_vec,
            vector_candidates, metric, id_col=id_col,
        ).select(id_col, "_distance")
    # global window, deliberate for the same reason as bm25_ranks':
    # hits is <= vector_candidates rows, one partition is the point
    wv = Window.orderBy(F.col("_distance").asc_nulls_last(), F.col(id_col).asc())
    vec_ranks = hits.withColumn("_vector_rank", F.row_number().over(wv)).select(
        id_col, "_vector_rank"
    )

    # ---- BM25 ranks (empty/failed text leg → vector-only) ----
    tracked_src = None
    if text_index is not None:
        scores = bm25_scores_indexed(
            spark, text_index, query_text or "",
            n_candidates=bm25_candidates, use_blockmax=use_blockmax,
        )
        # the pruned-postings slice bm25_scores_indexed persisted rides
        # ITS return value's tracked list; thread it onto hybrid's own
        # return below (round-9 advice) so release_caches() on what the
        # caller actually holds frees the slice — without this, every
        # indexed query pinned a new persisted slice until the global
        # release_operator_caches() sweep
        tracked_src = scores
        # published artifacts carry their own id column name; align it
        # to the caller's
        if scores.columns[0] != id_col:
            scores = scores.withColumnRenamed(scores.columns[0], id_col)
        top = scores.orderBy(
            F.desc("_bm25_score"), F.asc(id_col)
        ).limit(bm25_candidates)
        w = Window.orderBy(F.desc("_bm25_score"), F.asc(id_col))
        bm_ranks = top.withColumn(
            "_bm25_rank", F.row_number().over(w)
        ).select(id_col, "_bm25_rank")
    else:
        bm_ranks = bm25_ranks(
            docs, id_col, text_col, query_text or "", bm25_candidates
        )

    # ---- RRF fusion ----
    # round 15 (guide §2.4/§3.1): the two rank legs are <= candidates
    # rows each, but a FULL OUTER join cannot broadcast — it planned as
    # a SortMergeJoin (2 exchanges + 2 sorts for <=50-row inputs, pure
    # fixed stage overhead). A union + max-aggregate computes the
    # identical (id, bm25_rank, vector_rank) frame — absent legs as 0,
    # exactly the old coalesce(rank, 0) — through ONE hash-aggregate
    # exchange with map-side partial aggregation.
    fused = (
        vec_ranks.select(
            F.col(id_col), F.lit(0).alias("_bm25_rank"), F.col("_vector_rank")
        )
        .unionByName(
            bm_ranks.select(
                F.col(id_col), F.col("_bm25_rank"),
                F.lit(0).alias("_vector_rank"),
            )
        )
        .groupBy(id_col)
        .agg(
            F.max("_bm25_rank").alias("_bm25_rank"),
            F.max("_vector_rank").alias("_vector_rank"),
        )
    )
    score = F.when(
        F.col("_bm25_rank") > 0,
        F.lit(bm25_weight) * (F.lit(1.0) / (F.lit(RRF_K) + F.col("_bm25_rank"))),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("_vector_rank") > 0,
        F.lit(vector_weight) * (F.lit(1.0) / (F.lit(RRF_K) + F.col("_vector_rank"))),
    ).otherwise(F.lit(0.0))
    fused = (
        fused.withColumn("_rrf_score", score)
        .orderBy(F.desc("_rrf_score"), F.asc(id_col))
        .limit(k)
    )
    # fused is <= k rows: broadcast it so the doc-column fetch is one
    # more narrow scan of docs, never a shuffle of the docs table
    out = (
        F.broadcast(fused).join(docs, on=id_col, how="inner")
        .select(*docs.columns, "_rrf_score", "_bm25_rank", "_vector_rank")
        .orderBy(F.desc("_rrf_score"), F.asc(id_col))
    )
    if tracked_src is not None:
        from ..caching import track_caches

        out = track_caches(out, tracked_src)
    return out


def _term_score_expr(tf: Column, df: Column, dl: Column, n_docs: float,
                     avgdl: Column, k1: float, b: float) -> Column:
    """`_term_score` with the corpus constants as literals — the exact
    arithmetic `bm25_scores_indexed` uses (shared so the table path
    below cannot drift from the single-query indexed path)."""
    return _term_score(tf, df, dl, F.lit(float(n_docs)), avgdl, k1, b)


def _blockmax_candidates(
    spark,
    index_path: str,
    qterms: DataFrame,
    post_scored: DataFrame,
    query_id_col: str,
    text_id: str,
    n_candidates: int,
):
    """Block-max/MaxScore candidate bounding (round 11 — the EXACT
    successor to the `max_term_df` approximation): → the per-query
    candidate (query_id, doc_id) pairs GUARANTEED to contain every doc
    of the true BM25 top-`n_candidates` (so any complete re-score over
    them is bit-identical to the full join on those ranks), or None
    when the artifact carries no block summaries / was published under
    different BM25 constants (callers fall back to the full join).
    Round 12 splits this candidate step out of `_blockmax_hits` so the
    SINGLE-query indexed path (`bm25_scores_indexed`) can ride the
    same pruning as the table surface.

    How it stays exact (every impact is strictly positive — the +1 idf
    variant — so all bounds below are sound):

    1. THRESHOLD: the top-`BLOCK_SEED` impact blocks per (query, term)
       are scored; a seed doc's summed visible impacts LOWER-bound its
       true score (missing terms only add). The `n_candidates`-th
       largest lower bound is θ(q) — at least n_candidates docs truly
       score >= θ.
    2. SHORT terms (corpus df <= BLOCK_SHORT_DF): every matching doc
       is a candidate outright. Rare terms carry the largest impacts —
       folding them into the block bounds below would poison every
       other term's threshold (tmax(rare) ~ 9 vs θ ~ 0.4 on a Zipf
       corpus), while including their few postings wholesale is
       cheaper than one block read.
    3. LONG terms: slice (t, b) survives iff BOTH
           block_max(t, b) + Σ_{t' long, t'≠t} term_max(t') >= θ(q)
           |long terms| * block_max(t, b) >= θ(q)
       and candidate docs are those in ANY surviving slice. A
       long-only doc d reaching θ has a best term t* with
       imp >= θ/m_long (second bound) and
       bmax(t*, b) + rest_long(t*) >= total(d) >= θ (first bound), so
       its t*-slice survives and d is found. The second bound is what
       kills a stop-word list outright: a head term whose every
       impact is tiny cannot be any θ-reaching doc's best term, no
       matter how large the other terms' maxima are.
    4. RE-SCORE: candidates (short ∪ long, deduped) join BACK to the
       term-pruned postings BY DOC and then to the query's own terms —
       every candidate doc gets its COMPLETE query-term rows, so its
       collected term set, sorted-term fold and score are identical to
       the full join's. Docs below θ that slip in as candidates score
       exactly too and simply rank below the true top-n_candidates.

    Everything here is DataFrame-composed: the summary join is
    O(query_terms x blocks-per-term) rows, the seed slice is
    O(query_terms x BLOCK_SEED x BLOCK_ROWS), θ comes from one bounded
    window, and the re-score join shuffles only the term-pruned
    postings slice (by doc) and the candidate pairs — no collects, no
    per-query jobs."""
    try:
        blocks = spark.read.parquet(f"{index_path.rstrip('/')}/blocks")
    except Exception:
        return None
    head = blocks.select("_k1", "_b").head()
    if (
        head is None
        or float(head["_k1"]) != float(BM25_K1)
        or float(head["_b"]) != float(BM25_B)
    ):
        return None
    # only terms still participating in scoring (the post_scored side
    # already carries the query-term prune and any max_term_df cap, so
    # its distinct terms ARE the contract — one narrow pass over the
    # pruned slice, never the full postings)
    blocks_q = blocks.join(
        post_scored.select("term").distinct(), on="term", how="leftsemi"
    )
    term_stats = blocks_q.groupBy("term").agg(
        F.max(F.when(F.col("_blk") == 0, F.col("_bmax"))).alias("_tmax"),
        F.sum("_n").alias("_tdf"),
    ).withColumn("_short", F.col("_tdf") <= F.lit(int(BLOCK_SHORT_DF)))
    qt = qterms.join(term_stats, on="term")
    w_q = Window.partitionBy(query_id_col)
    long_tmax = F.when(~F.col("_short"), F.col("_tmax")).otherwise(F.lit(0.0))
    qt = (
        qt.withColumn("_rest", F.sum(long_tmax).over(w_q) - long_tmax)
        .withColumn(
            "_m_long",
            F.sum((~F.col("_short")).cast("int")).over(w_q),
        )
    )
    seed_hits = qterms.join(
        post_scored.where(F.col("_blk") < F.lit(int(BLOCK_SEED))),
        on="term",
    )
    lower = seed_hits.groupBy(query_id_col, text_id).agg(
        F.sum("_impact").alias("_lb")
    )
    w_b = Window.partitionBy(query_id_col).orderBy(
        F.desc("_lb"), F.asc(text_id)
    )
    theta = (
        lower.withColumn("_rn", F.row_number().over(w_b))
        .where(F.col("_rn") == int(n_candidates))
        .select(query_id_col, F.col("_lb").alias("_theta"))
    )
    # float-tie slack: θ and the bounds are order-dependent float sums
    # (window sum vs seed groupBy vs the exact path's sorted fold), so
    # a doc whose true score TIES θ could fall one ulp under the
    # comparison and break the bit-identity promise — the same 1-ulp
    # class the idf quantization above exists for. Candidates below θ
    # re-score exactly and rank out naturally, so the slack is free.
    theta_eps = F.col("_theta") - F.greatest(
        F.lit(1e-12), F.abs(F.col("_theta")) * F.lit(1e-9)
    )
    # a query with fewer than n_candidates seed docs has no θ —
    # nothing can be pruned safely, keep every slice
    surv = (
        qt.where(~F.col("_short"))
        .join(blocks_q, on="term")
        .join(theta, on=query_id_col, how="left")
        .where(
            F.col("_theta").isNull()
            | (
                (F.col("_bmax") + F.col("_rest") >= theta_eps)
                & (F.col("_m_long") * F.col("_bmax") >= theta_eps)
            )
        )
        .select(query_id_col, "term", "_blk")
    )
    cand_long = surv.join(
        post_scored.select("term", "_blk", text_id), on=["term", "_blk"]
    ).select(query_id_col, text_id)
    cand_short = (
        qt.where(F.col("_short"))
        .select(query_id_col, "term")
        .join(post_scored.select("term", text_id), on="term")
        .select(query_id_col, text_id)
    )
    # seed docs join unconditionally: the θ-defining docs themselves
    # must never be lost to a float-tie prune (belt to the epsilon
    # braces above; the seed slice is bounded)
    cand_seed = lower.select(query_id_col, text_id)
    return (
        cand_long.unionByName(cand_short).unionByName(cand_seed).distinct()
    )


def _blockmax_hits(
    spark,
    index_path: str,
    qterms: DataFrame,
    post_scored: DataFrame,
    query_id_col: str,
    text_id: str,
    n_candidates: int,
):
    """`_blockmax_candidates` joined BACK to the term-pruned postings
    BY DOC and to each query's own terms (step 4 of the proof above):
    the per-(query, candidate-doc, term) hit rows whose per-doc
    groupBy is BIT-IDENTICAL to the full exact join on ranks <=
    n_candidates; None when the artifact carries no usable block
    summaries."""
    cands = _blockmax_candidates(
        spark, index_path, qterms, post_scored, query_id_col, text_id,
        n_candidates,
    )
    if cands is None:
        return None
    return (
        cands.join(post_scored, on=text_id)
        .join(qterms, on=[query_id_col, "term"])
    )


def hybrid_search_table(
    queries_df: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    query_text_col: str,
    *,
    text_index: str,
    index: Optional[str] = None,
    docs: Optional[DataFrame] = None,
    doc_id_col: Optional[str] = None,
    vec_col: Optional[str] = None,
    k: int = 20,
    bm25_weight: float = 0.3,
    vector_weight: float = 0.7,
    bm25_candidates: int = 50,
    vector_candidates: int = 50,
    search_complexity: Optional[int] = None,
    metric: str = "l2",
    catalog=None,
    method: str = "blas",
    max_term_df: Optional[float] = None,
    use_blockmax: Optional[bool] = None,
    target_recall: Optional[float] = None,
) -> DataFrame:
    """Hybrid BM25+vector RRF for an UNBOUNDED query DataFrame →
    (<query_id_col>, <doc id col>, _rrf_score, _bm25_rank,
    _vector_rank), top-k per query; a doc-side id column whose name
    collides with `query_id_col` is presented as `_doc_<name>` — the
    engine's own discipline
    (`ann_search_table` → `index_search_table`) applied to the one
    search surface that was still single-query (round 9). The query
    side is never collected to the driver.

    Legs (per-query semantics identical to `hybrid_search` — same
    `_term_score` arithmetic, same rank/RRF shape):

    * text: REQUIRES a `publish_text_index` artifact (the reference's
      own shape — its BM25 leg reads a prebuilt FTS index; a per-query
      corpus scan times N queries is exactly what must not happen).
      Query texts tokenize JVM-side, distinct terms join the
      term-pruned postings, per-(query, doc) scores fold over the
      SORTED term list (`sort_array` + `F.aggregate` — the same
      left-associated sorted-term fold as the scan path, so scores are
      bit-identical per document), ranks come from a window partitioned
      by query id (bounded to `bm25_candidates` rows per query).
    * vector: through `index` (any engine with a DataFrame-queries
      path — `index_search_table`, in-task routing, measured probe
      calibration) or brute-force exact against `docs[vec_col]`
      (`knn_join` full-probe; `method='exact'` for the bit-exact JVM
      fold — the oracle discipline).

    Scale shape: the only shuffles are the term join (postings side
    pruned to the queries' terms), the per-(query, doc) groupBy, and
    the rank windows partitioned by query id — everything is keyed,
    nothing collects, no per-query jobs. Queries with no recognized
    terms degrade to vector-only (`_bm25_rank` 0), like the reference's
    FTS-failure path. Query ids must be integral (the
    `index_search_table` contract). A query whose vector length
    mismatches the index dimension keeps its text leg and reports
    `_vector_rank` 0 — the DataFrame-native reading of the reference's
    empty-result rule, per leg.

    `max_term_df` (round 10 — the high-df blow-up contract): the text
    leg materializes one row per (query, posting hit) before the
    per-(query, doc) groupBy, so a stop-word-like query term — df close
    to N on a Zipfian corpus — contributes ~N rows PER QUERY (the round-
    10 smoke measures 25M intermediate rows for 100 head-term queries
    on a 100k-doc Zipf corpus). With `max_term_df=<doc count>`, query
    terms whose corpus df exceeds it are EXCLUDED from the text leg
    before the postings join (the candidate blow-up never forms).
    APPROXIMATION, off by default: BM25's idf already weighs a
    df≈0.8N term at ~1-2% of a rare term's contribution, but dropping
    it (a) loses that small score term and (b) drops docs matching
    ONLY capped terms from the text candidates — ranks can shift where
    candidates were close. The default (None) stays exact/bit-identical
    to `hybrid_search`; set a cap only when query texts can contain
    corpus stop words at scale. Same idea as FTS stop-word lists —
    declared per call, never silently.

    `target_recall` (round 11): forwarded to the vector leg —
    `index_search_table`'s per-call recall contract (measured-curve
    nprobe for IVF; anchored joint (route_nprobe, L) for routed
    graphs); the docs-based exact leg satisfies any in-range target by
    construction, mirroring the Flat rule.

    `use_blockmax` (round 11 — the EXACT answer to the same blow-up):
    indexes published this round carry per-term impact-ordered posting
    blocks + block maxima; the text leg then seeds a per-query top-k
    threshold from the highest-impact blocks and prunes whole blocks
    that provably cannot reach it, with ranks <= bm25_candidates
    BIT-IDENTICAL to the full join (`_blockmax_hits` carries the
    proof). None (default) = use when the artifact has summaries under
    matching BM25 constants; True = require (loud error otherwise);
    False = plain exact join. Composes with `max_term_df` (capped
    terms leave both the scoring and the bounds)."""
    spark = queries_df.sparkSession

    # enforce the integral-id contract on BOTH vector paths so the
    # docs/knn_join brute-force path fails as loudly as the index path
    # (round-10 advice; shared helper per review)
    from ..index.api import require_integral_qid

    require_integral_qid(queries_df, query_id_col, "hybrid_search_table")

    # ---- text leg: published postings, per-query ----
    from ..functions.text import spark_sql_tokenize
    from ..caching import track_caches

    idx_id_col, postings, n_docs, total_tokens = _load_text_index(
        spark, text_index
    )

    # ---- vector leg ----
    # Collision rule (round-9 review fix): when the doc-side id column
    # has the SAME name as the query id, the output presents the doc
    # side as `_doc_<name>` and the query side under its own name —
    # uniformly across all three vector sources and the text leg.
    if index is not None:
        from ..index import index_search_table
        from ..index.api import _load

        # the AUTHORITATIVE doc-id name is the index manifest's id_col
        # — detecting the collision by sniffing vhits for a `_q_` column
        # misfires when the index's id column is literally named
        # `_q_<query id>` (second-review fix)
        idx_vec_id = _load(index, "", catalog)[1]["id_col"]
        vhits = index_search_table(
            spark, index, queries_df, query_id_col, query_vec_col,
            vector_candidates, search_complexity, catalog,
            target_recall=target_recall,
        )
        if idx_vec_id == query_id_col:
            # real collision: index_search_table renamed the QUERY side
            # to _q_<id>; re-shape to the collision rule above (naively
            # excluding query_id_col here would pick the QUERY column
            # as the doc id and partition the rank window by the DOC
            # column — silently swapped keys)
            out_id_col = f"_doc_{query_id_col}"
            vhits = vhits.withColumnRenamed(
                query_id_col, out_id_col
            ).withColumnRenamed(f"_q_{query_id_col}", query_id_col)
        else:
            out_id_col = idx_vec_id
    else:
        if docs is None or vec_col is None or doc_id_col is None:
            raise ValueError(
                "hybrid_search_table needs `index` or all of "
                "(docs, doc_id_col, vec_col)"
            )
        if target_recall is not None and not (
            0.0 < float(target_recall) <= 1.0
        ):
            raise ValueError("target_recall must be in (0, 1]")
        # (an in-range target_recall is satisfied by construction here:
        # the docs-based vector leg is an exact full-probe join — the
        # same rule as Flat engines in _apply_target_recall)
        from .knn_join import knn_join

        out_id_col = doc_id_col
        dsel = docs.select(doc_id_col, vec_col)
        if doc_id_col == query_id_col:
            out_id_col = f"_doc_{doc_id_col}"
            dsel = dsel.withColumnRenamed(doc_id_col, out_id_col)
        vhits = knn_join(
            queries_df.select(query_id_col, query_vec_col), query_id_col,
            query_vec_col, dsel, out_id_col,
            vec_col, k=vector_candidates, metric=metric, nlist=0,
            nprobe=1 << 30, method=method,
        )
    wv = Window.partitionBy(query_id_col).orderBy(
        F.col("_distance").asc_nulls_last(), F.col(out_id_col).asc()
    )
    vec_ranks = (
        vhits.withColumn("_vector_rank", F.row_number().over(wv))
        .select(query_id_col, out_id_col, "_vector_rank")
    )

    qterms = queries_df.select(
        F.col(query_id_col),
        F.explode(
            F.array_distinct(F.expr(spark_sql_tokenize(query_text_col)))
        ).alias("term"),
    ).persist()  # consumed twice (prune + hits join): tokenize ONCE
    # postings pruned to the queries' term set, then df per term derived
    # from the pruned rows (postings hold only tf>0 rows, so the count
    # per term IS the corpus doc frequency — the indexed path's rule)
    post = postings.join(
        qterms.select("term").distinct(), on="term", how="leftsemi"
    ).persist()
    if idx_id_col == query_id_col:
        # artifact id column collides with the query id name — rename
        # the ARTIFACT side BEFORE the join (a post-join rename would
        # match BOTH same-named columns and erase the query id,
        # breaking the groupBy below — round-9 review fix)
        text_id = f"_doc_{idx_id_col}"
        post_scored = post.withColumnRenamed(idx_id_col, text_id)
    else:
        text_id = idx_id_col
        post_scored = post
    term_df = post_scored.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    if max_term_df is not None:
        # prune the POSTINGS side before the query-terms join — the
        # point is that the per-(query, posting-hit) intermediate never
        # materializes for capped terms; filtering after the join would
        # pay the blow-up first. term_df itself is computed BEFORE the
        # cap, so surviving terms keep their true corpus df in scoring.
        post_scored = post_scored.join(
            term_df.where(F.col("_df") <= float(max_term_df))
            .select("term"),
            on="term", how="leftsemi",
        )
    bm_hits = None
    if use_blockmax is not False:
        bm_hits = _blockmax_hits(
            spark, text_index, qterms, post_scored, query_id_col,
            text_id, bm25_candidates,
        )
        if bm_hits is None and use_blockmax is True:
            raise ValueError(
                "use_blockmax=True but the text index carries no block "
                "summaries under the current BM25 constants (pre-round-"
                "11 artifact?) — republish the index, or pass "
                "use_blockmax=False"
            )
    if bm_hits is not None:
        # only the bounded candidate set reaches the per-(query,
        # posting-hit) intermediate; ranks <= bm25_candidates are
        # bit-identical to the full join (see _blockmax_hits)
        hits = bm_hits.join(term_df, on="term")
    else:
        hits = (
            qterms.join(post_scored, on="term")
            .join(term_df, on="term")
        )
    avgdl = F.lit(float(total_tokens)) / F.lit(float(n_docs))
    per = hits.groupBy(query_id_col, text_id).agg(
        F.sort_array(
            F.collect_list(F.struct("term", "tf", "_df", "dl"))
        ).alias("_ts"),
    )
    score = F.aggregate(
        "_ts",
        F.lit(0.0),
        lambda acc, s: acc + _term_score_expr(
            s["tf"], s["_df"], s["dl"], n_docs, avgdl, BM25_K1, BM25_B
        ),
    )
    wb = Window.partitionBy(query_id_col).orderBy(
        F.desc("_bm25_score"), F.asc(out_id_col)
    )
    bm_ranks = (
        per.select(
            query_id_col, F.col(text_id).alias(out_id_col),
            score.alias("_bm25_score"),
        )
        .withColumn("_bm25_rank", F.row_number().over(wb))
        .where(F.col("_bm25_rank") <= bm25_candidates)
        .select(query_id_col, out_id_col, "_bm25_rank")
    )

    # ---- RRF fusion per query ----
    # round 15: union + max-aggregate instead of a FULL OUTER join —
    # identical frame (absent legs rank 0), one hash-agg exchange with
    # map-side combine instead of the full join's two sorted shuffles
    # (see hybrid_search's fusion note).
    fused = (
        vec_ranks.select(
            query_id_col, out_id_col,
            F.lit(0).alias("_bm25_rank"), F.col("_vector_rank"),
        )
        .unionByName(
            bm_ranks.select(
                query_id_col, out_id_col, F.col("_bm25_rank"),
                F.lit(0).alias("_vector_rank"),
            )
        )
        .groupBy(query_id_col, out_id_col)
        .agg(
            F.max("_bm25_rank").alias("_bm25_rank"),
            F.max("_vector_rank").alias("_vector_rank"),
        )
    )
    score = F.when(
        F.col("_bm25_rank") > 0,
        F.lit(bm25_weight) * (F.lit(1.0) / (F.lit(RRF_K) + F.col("_bm25_rank"))),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("_vector_rank") > 0,
        F.lit(vector_weight) * (F.lit(1.0) / (F.lit(RRF_K) + F.col("_vector_rank"))),
    ).otherwise(F.lit(0.0))
    wk = Window.partitionBy(query_id_col).orderBy(
        F.desc("_rrf_score"), F.asc(out_id_col)
    )
    return track_caches(
        fused.withColumn("_rrf_score", score)
        .withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= k)
        .select(query_id_col, out_id_col, "_rrf_score", "_bm25_rank",
                "_vector_rank"),
        post, qterms,
    )
