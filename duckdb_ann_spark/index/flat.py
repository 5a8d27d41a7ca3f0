"""FAISS-Flat analog: exact scan over the stored vectors.

Reference: `MakeFaissIndex` Flat branch (`src/faiss_index.cpp:38-60`) —
an exact index that stores the raw vectors and brute-force scans them.
Spark-first: the artifact is a parquet of (id, vec); search is the exact
batch brute force from `operators.batch` (JVM sequential-fold distances →
bit-exact vs the DuckDB oracle, which is the point of Flat: it IS the
oracle engine). The `blas` method is available for throughput-bound
workloads via `method='blas'`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import quote_ident as _quote
from ..operators.batch import search_batch_ids
from .catalog import read_manifest, spark_path
from .engines import drop_tombstoned, register_engine

VECTORS_DIR = "vectors"


class FlatEngine:
    name = "flat"
    search_method = "exact"

    def build(
        self,
        spark: SparkSession,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        artifact_dir: str,
        params,
        dim: int,
    ) -> dict:
        df.select(id_col, vec_col).write.mode("overwrite").parquet(
            f"{spark_path(artifact_dir)}/{VECTORS_DIR}"
        )
        return {"layout": "flat-parquet-v1"}

    def vectors(self, spark: SparkSession, artifact_dir: str) -> DataFrame:
        """The stored (id, vec) parquet, read under the schema the
        build writes (ids long, vectors array<float> — create_index and
        insert normalize both), so no schema-inference job runs."""
        m = read_manifest(artifact_dir)
        return spark.read.schema(
            f"{_quote(m['id_col'])} long, {_quote(m['vec_col'])} array<float>"
        ).parquet(f"{spark_path(artifact_dir)}/{VECTORS_DIR}")

    def append(
        self,
        spark: SparkSession,
        manifest: dict,
        artifact_dir: str,
        df_new: DataFrame,
        params,
    ) -> dict:
        """Incremental add (`FaissIndex` Append): Flat just extends the
        stored vectors."""
        df_new.select(manifest["id_col"], manifest["vec_col"]).write.mode(
            "append"
        ).parquet(f"{spark_path(artifact_dir)}/{VECTORS_DIR}")
        return {}

    def search(
        self,
        spark: SparkSession,
        manifest: dict,
        artifact_dir: str,
        queries: Sequence[Sequence[float]],
        k: int,
        search_complexity: int | None = None,
        deleted=None,
    ) -> DataFrame:
        return search_batch_ids(
            drop_tombstoned(self.vectors(spark, artifact_dir),
                            manifest["id_col"], deleted),
            manifest["id_col"],
            manifest["vec_col"],
            queries,
            k,
            metric=manifest["params"]["metric"],
            method=self.search_method,
        )


register_engine("faiss", "flat", FlatEngine())
