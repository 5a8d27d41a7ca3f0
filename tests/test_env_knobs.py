"""The package's environment surface is documented: every
`SPARK_GRAFT_*` name the package source mentions is a row of README's
"Environment knobs" table, and every row names a variable the package
still mentions — an undocumented knob, or a stale mention of a deleted
one, fails here."""

from __future__ import annotations

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KNOB = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _readme_knobs() -> set[str]:
    with open(os.path.join(REPO, "README.md")) as f:
        text = f.read()
    section = text.split("### Environment knobs", 1)[1].split("\n#", 1)[0]
    rows = [ln for ln in section.splitlines() if ln.startswith("| `")]
    return {k for ln in rows for k in KNOB.findall(ln.split("|")[1])}


def test_package_env_knobs_match_readme_table():
    found = set()
    for path in glob.glob(
        os.path.join(REPO, "duckdb_ann_spark", "**", "*.py"), recursive=True
    ):
        with open(path) as f:
            found |= set(KNOB.findall(f.read()))
    assert found == _readme_knobs()
    assert found == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_KNN_BCAST_MB",
        "SPARK_GRAFT_PRUNE_C",
        "SPARK_GRAFT_SHARD_CACHE_BYTES",
        "SPARK_GRAFT_BUILD_PHASES",
    }
