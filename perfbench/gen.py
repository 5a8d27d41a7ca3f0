"""Seeded workload inputs and the driver-side numpy ground truth.

Everything here is a pure function of the seed: the same seed writes the
same parquet files and the same truth arrays. The engine only ever sees
the generated files, read back through Spark.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128
CENTRES = 64
SIGMA = 0.02


class VectorSpace:
    """A mixture of Gaussians: CENTRES centres in [0, 1)^DIM, noise SIGMA.

    Real embeddings cluster, and the engine's measured probe calibration
    exists for that regime, so base rows and queries are both drawn near
    the centres."""

    def __init__(self, seed: int, dim: int = DIM):
        self.rng = np.random.default_rng(seed)
        self.dim = dim
        self.centres = self.rng.random((CENTRES, dim), dtype=np.float32)

    def draw(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, CENTRES, n)
        noise = self.rng.normal(0.0, SIGMA, (n, self.dim))
        return (self.centres[lab] + noise).astype(np.float32)


def vector_table(ids: np.ndarray, x: np.ndarray, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> pa.Table:
    flat = pa.array(np.ascontiguousarray(x, dtype=np.float32).ravel())
    vecs = pa.FixedSizeListArray.from_arrays(flat, x.shape[1])
    return pa.table({
        id_col: pa.array(np.asarray(ids, dtype=np.int64)),
        vec_col: vecs.cast(pa.list_(pa.float32())),
    })


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray, **kw) -> None:
    pq.write_table(vector_table(ids, x, **kw), path)


def exact_topk(base: np.ndarray, ids: np.ndarray, queries: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact squared-L2 top-k → (ids (nq, k), distances (nq, k)), nearest
    first, computed in float64."""
    b = base.astype(np.float64)
    q = queries.astype(np.float64)
    d2 = (q * q).sum(1)[:, None] - 2.0 * q @ b.T + (b * b).sum(1)[None, :]
    k = min(k, b.shape[0])
    part = np.argpartition(d2, k - 1, axis=1)[:, :k]
    pd2 = np.take_along_axis(d2, part, 1)
    order = np.argsort(pd2, axis=1, kind="stable")
    top = np.take_along_axis(part, order, 1)
    return ids[top], np.take_along_axis(d2, top, 1)


# --- corpus tables -------------------------------------------------------

VOCAB = (
    "spark vector index query scan join table stream window batch filter "
    "group order sort hash merge value column row key data part line "
    "small big fast slow agg customer region nation price graph shard "
    "probe cell centre recall build train insert delete vacuum"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64


def corpus_tables(seed: int, n_lineitem: int, n_docs: int,
                  n_dups: int) -> tuple[dict, list[tuple[int, int]]]:
    """TPC-H-shaped relational tables plus documents and embeddings.

    Returns ({table name: pandas frame}, planted near-duplicate pairs).
    Each planted pair is (original doc id, copy doc id); the copy differs
    from the original in one word."""
    rng = np.random.default_rng(seed)
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": list(REGIONS)})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    n_supp = 200
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:05d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    price = np.round(rng.uniform(900, 2100, n_lineitem), 2)
    day0 = np.datetime64("1995-01-01")
    ship = day0 + rng.integers(0, 2500, n_lineitem).astype("timedelta64[D]")
    lineitem = pd.DataFrame({
        "l_orderkey": np.arange(n_lineitem, dtype=np.int64) // 4,
        "l_partkey": rng.integers(0, 20_000, n_lineitem).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lineitem).astype(np.int64),
        "l_linenumber": (np.arange(n_lineitem) % 4 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_lineitem),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_lineitem),
        "l_shipdate": ship.astype("datetime64[us]"),
    })

    n_words = rng.integers(20, 80, n_docs - n_dups)
    texts = [" ".join(rng.choice(VOCAB, int(n))) for n in n_words]
    pairs = []
    # originals of 50+ words: one changed word keeps their 3-shingle
    # Jaccard near 0.9, where MinHash LSH finds virtually every pair
    originals = rng.choice(np.flatnonzero(n_words >= 50), n_dups,
                           replace=False)
    for j, orig in enumerate(originals):
        words = texts[orig].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts.append(" ".join(words))
        pairs.append((int(orig), n_docs - n_dups + j))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(LANGS), n_docs),
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    space = VectorSpace(seed + 1, EMB_DIM)
    emb = space.draw(n_docs)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_docs).astype(np.int32),
    })
    tables = {"region": region, "nation": nation, "supplier": supplier,
              "lineitem": lineitem, "documents": documents,
              "embeddings": embeddings}
    return tables, pairs


def write_corpus(sf_dir: str, tables: dict) -> None:
    for name, frame in tables.items():
        if name == "embeddings":
            x = np.stack(frame["embedding"].to_numpy()).astype(np.float32)
            t = vector_table(frame["vec_id"].to_numpy(), x)
            t = t.append_column("label", pa.array(frame["label"].to_numpy()))
        else:
            t = pa.Table.from_pandas(frame, preserve_index=False)
        pq.write_table(t, f"{sf_dir}/{name}.parquet")


def _half_up(x: np.ndarray) -> np.ndarray:
    """Round half away from zero for non-negative doubles, exactly as
    Spark's `round` does on the same double (x - floor(x) is exact)."""
    f = np.floor(x)
    return np.where(x - f >= 0.5, f + 1, f).astype(np.int64)


def pricing_summary_truth(li: pd.DataFrame) -> list[tuple]:
    cut = np.datetime64(_dt.datetime(2000, 12, 1))
    x = li[li["l_shipdate"].to_numpy() <= cut].copy()
    x["cents"] = _half_up(x["l_extendedprice"].to_numpy() * 100)
    g = x.groupby(["l_returnflag", "l_linestatus"], sort=True).agg(
        sum_qty=("l_quantity", "sum"), sum_price_cents=("cents", "sum"),
        count_order=("cents", "size"))
    return [(rf, ls, int(r.sum_qty), int(r.sum_price_cents), int(r.count_order))
            for (rf, ls), r in g.iterrows()]


def region_sales_truth(t: dict) -> list[tuple]:
    li = t["lineitem"]
    x = li.merge(t["supplier"], left_on="l_suppkey", right_on="s_suppkey")
    x = x.merge(t["nation"], left_on="s_nationkey", right_on="n_nationkey")
    x = x.merge(t["region"], left_on="n_regionkey", right_on="r_regionkey")
    rev = x["l_extendedprice"].to_numpy() * (1 - x["l_discount"].to_numpy()) * 100
    x["rev"] = _half_up(rev)
    g = x.groupby(["r_name", "n_name"], sort=True).agg(
        n_lineitems=("rev", "size"), revenue_cents=("rev", "sum"))
    return [(r, n, int(v.n_lineitems), int(v.revenue_cents))
            for (r, n), v in g.iterrows()]
