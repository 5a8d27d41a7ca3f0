"""Engine abstraction: build / search over an artifact directory.

Each engine turns (id, vec) DataFrames into an on-disk artifact at build
time and answers batch queries with a (query_idx, id, _distance)
DataFrame at search time. Searches take the index's tombstones as a
sorted int64 array (`api._tombstones`, read once per call on the
driver) and drop those ids inside their own tasks, before each query's
final top-k cut; row fetch and catalog bookkeeping live in `api.py`.
"""

from __future__ import annotations

from typing import Protocol, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession


class Engine(Protocol):
    name: str

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
        """Write the artifact; return engine-specific manifest fields."""
        ...

    def search(
        self,
        spark: SparkSession,
        manifest: dict,
        artifact_dir: str,
        queries: Sequence[Sequence[float]],
        k: int,
        search_complexity: int | None = None,
        deleted: np.ndarray | None = None,
    ) -> DataFrame:
        """→ DataFrame(query_idx int, <id_col> long, _distance double):
        each query's k nearest ids that are not in `deleted`."""
        ...


def drop_tombstoned(df: DataFrame, id_col: str,
                    deleted: np.ndarray | None) -> DataFrame:
    """`df` without the rows whose id is in `deleted`, dropped inside
    its own tasks: the array rides a broadcast variable, so no
    broadcast join and no extra Spark job runs. `df` itself when
    nothing is tombstoned."""
    if deleted is None or len(deleted) == 0:
        return df
    from ..functions.partitioning import live_mask

    bc = df.sparkSession.sparkContext.broadcast(deleted)

    def keep(batches):
        import pyarrow as pa

        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col))
            yield b.filter(pa.array(live_mask(np.asarray(ids), bc.value)))

    return df.mapInArrow(keep, schema=df.schema)


_ENGINES: dict[tuple[str, str], Engine] = {}


def register_engine(engine: str, subtype: str, impl: Engine) -> None:
    _ENGINES[(engine.lower(), subtype.lower())] = impl


def get_engine(engine: str, subtype: str) -> Engine:
    key = (engine.lower(), subtype.lower())
    if key not in _ENGINES:
        raise NotImplementedError(
            f"ANN engine '{engine}' type '{subtype}' is not implemented"
        )
    return _ENGINES[key]
