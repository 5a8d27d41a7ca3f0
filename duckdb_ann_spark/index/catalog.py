"""Index catalog: a directory of artifact dirs with JSON manifests.

The reference stores indexes as DuckDB catalog entries inside the .duckdb
file (`src/diskann_index.cpp:261-299`); our distributed equivalent is a
filesystem catalog — each index is a directory

    <root>/<name>/
        manifest.json        (engine, table, column, params, stats)
        vectors/             (Flat/IVF parquet: id + vec, IVF partitioned
                              by cell; Vamana keeps vectors inside its
                              graph/ shard files instead)
        deleted/             (tombstoned ids, optional: one parquet
                              file per delete call, read on the driver)
        graph/               (engine-specific: .diskann shards, centroids)

`manifest.json` is the committed state: readers treat a directory without
a manifest as nonexistent, and creation writes the manifest last (after
all data files), giving create/drop crash consistency without needing a
transaction log.

One filesystem contract: <root> is a POSIX directory mounted at the same
path on the driver and on every executor (a local disk on one machine, a
shared or FUSE mount such as `/dbfs/...` on a cluster). `Catalog`
resolves it once to an absolute path; the driver and the executors' own
Python read and write artifacts with plain file calls, and Spark reaches
them through `spark_path`'s `file:` URIs, which ignore `fs.defaultFS`.
Any other URI scheme is rejected.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile

MANIFEST = "manifest.json"
DEFAULT_ROOT_ENV = "SPARK_ANN_INDEX_ROOT"

_FILE_URI_RE = re.compile(
    r"^file:(?:///|/(?!/)|//localhost/)(.*)$", re.IGNORECASE
)
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def file_uri_path(path: str) -> str | None:
    """The local path a `file:` URI names, for all three spellings
    (`file:///x`, the `file:/x` Hadoop renders, `file://localhost/x`);
    None for anything else."""
    m = _FILE_URI_RE.match(path)
    return "/" + m.group(1) if m else None


def spark_path(artifact_dir: str) -> str:
    """The `file:` URI every Spark read, write and refresh of an
    artifact dir goes through: it names the mounted index root whatever
    the session's `fs.defaultFS` is."""
    return "file://" + os.path.abspath(artifact_dir)


def read_manifest(artifact_dir: str) -> dict:
    with open(os.path.join(artifact_dir, MANIFEST)) as f:
        return json.load(f)


class Catalog:
    def __init__(self, root: str | None = None):
        root = root or os.environ.get(DEFAULT_ROOT_ENV) or os.path.join(
            tempfile.gettempdir(), "duckdb_ann_spark_indexes"
        )
        local = file_uri_path(root)
        if local is None and _SCHEME_RE.match(root):
            raise ValueError(
                f"index root '{root}' is not a local path: the root must be "
                "a POSIX directory mounted at the same path on the driver "
                "and every executor (a FUSE mount such as /dbfs/... "
                "qualifies), given as a path or a file: URI"
            )
        self.root = os.path.abspath(local or root)
        os.makedirs(self.root, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"Invalid index name '{name}'")
        return os.path.join(self.root, name)

    def manifest_path(self, name: str) -> str:
        return os.path.join(self.path(name), MANIFEST)

    # -- lifecycle -----------------------------------------------------
    def exists(self, name: str) -> bool:
        return os.path.exists(self.manifest_path(name))

    def begin_create(self, name: str, if_not_exists: bool = False) -> str:
        """Reserve the artifact dir. Returns the dir, or '' when the index
        exists and if_not_exists is set."""
        if self.exists(name):
            if if_not_exists:
                return ""
            # reference wording: src/diskann_index.cpp:268
            raise ValueError(f'Index with name "{name}" already exists!')
        d = self.path(name)
        if os.path.exists(d):  # stale partial build — clear it
            shutil.rmtree(d)
        os.makedirs(d)
        return d

    def commit(self, name: str, manifest: dict) -> dict:
        tmp = self.manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path(name))
        return manifest

    def load(self, name: str, table_name: str | None = None) -> dict:
        if not self.exists(name):
            # reference wording: src/ann_search.cpp:147
            raise ValueError(
                f"ANN index '{name}' not found on table '{table_name or '?'}'"
            )
        return read_manifest(self.path(name))

    def update(self, name: str, **changes) -> dict:
        m = self.load(name)
        m.update(changes)
        return self.commit(name, m)

    def drop(self, name: str) -> None:
        """CommitDrop semantics (`src/diskann_index.cpp:387-400`): remove
        the artifact and catalog entry."""
        d = self.path(name)
        if os.path.exists(d):
            shutil.rmtree(d)

    def list(self) -> list[dict]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for name in sorted(os.listdir(self.root)):
            if not name or "/" in name or name.startswith("."):
                continue  # stray files (.DS_Store, editor temps) aren't indexes
            if self.exists(name):
                out.append(self.load(name))
        return out
