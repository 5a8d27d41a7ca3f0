"""duckdb_ann_spark — a PySpark-native ANN + data-pipeline analytics engine.

Re-expresses the query surface of the `decisiongraph/duckdb-ann` DuckDB
extension (DiskANN/Vamana + FAISS vector indexes, exact & approximate top-k
search, batch/table search, hybrid BM25+vector search, index lifecycle and
diagnostics) as an idiomatic Spark DataFrame library, plus the large-scale
training-data pipeline operators (dedup, similarity search, text analysis,
multimodal columns) such an engine needs at 100 TB.

Design stance: DataFrame-declarative first (Catalyst optimizes), numpy inside
Arrow-batched UDFs only where built-ins can't express the semantics (graph ANN
search), never row-at-a-time Python.
"""

import os as _os

# BLAS thread cap must land BEFORE numpy loads (OpenBLAS reads the env
# at library init): the imports below pull in numpy, so session.py's
# identical setdefault would come too late for the DRIVER process
# (python workers are fresh processes and inherit either way). 2 keeps
# driver-side GEMMs (KMeans training) reasonable without N workers x N
# BLAS threads oversubscription.
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    _os.environ.setdefault(_var, "2")

# inside a PySpark Python worker: stop every later task of this worker
# from re-reading pyspark.zip's directory (a no-op on the driver)
from ._worker import install as _install_zip_guard  # noqa: E402

_install_zip_guard()

from .session import get_spark  # noqa: E402
from .functions.distance import (  # noqa: E402
    array_cosine_similarity,
    array_distance,
    array_inner_product,
    cosine_distance,
    cosine_similarity,
    index_distance,
    inner_product,
    l2sq_distance,
    list_cosine_similarity,
    list_distance,
    list_inner_product,
    neg_inner_product,
)
from .operators.topk import topk, vector_distances
from .caching import release_caches, track_caches  # noqa: E402

__version__ = "0.1.0"
