"""The worker-side zip-directory guard (`duckdb_ann_spark._worker`):
inside a PySpark Python worker, `importlib.invalidate_caches()` — which
PySpark calls at the start of every task — no longer re-reads an
unchanged zip archive's directory; a changed archive is still re-read;
outside a worker nothing is patched; and every worker that ran a
package task has it installed. Nothing here asserts on wall times."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs in a child process that looks like a PySpark worker
_CHILD = textwrap.dedent("""
    import importlib, os, sys, zipfile, zipimport

    archive = sys.argv[1]
    sys.path.insert(0, archive)
    import mod_a  # creates the zipimporter for the archive

    from duckdb_ann_spark import _worker

    assert _worker.active() and _worker.install() is True

    reads = []
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return original(path)

    zipimport._read_directory = counting
    for _ in range(5):
        importlib.invalidate_caches()
    unchanged = len(reads)

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("mod_b.py", "VALUE = 2\\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    changed = len(reads)
    import mod_b

    print("READS", unchanged, changed, mod_b.VALUE)
""")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython >= 3.13 re-reads lazily; install is a no-op")
def test_guard_skips_unchanged_archives_in_a_worker(tmp_path):
    import zipfile

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod_a.py", "VALUE = 1\n")
    env = dict(os.environ, PYTHON_WORKER_FACTORY_SECRET="test-secret",
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, archive], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    unchanged, changed, value = map(
        int, re.search(r"READS (\d+) (\d+) (\d+)", out.stdout).groups()
    )
    # the importer predates install(), which recorded its archive's key:
    # no re-read of an unchanged archive, not even on the first call
    assert unchanged == 0
    assert changed == 1      # a rewritten archive is read again, once
    assert value == 2        # ... and its new module imports


def test_guard_not_installed_outside_a_worker(monkeypatch):
    from duckdb_ann_spark import _worker

    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    before = zipimport.zipimporter.invalidate_caches
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is before
    assert not _worker.active()
    assert before.__module__ == "zipimport"


def test_guard_active_in_every_worker(spark):
    def probe(batches):
        import pyarrow as pa

        from duckdb_ann_spark import _worker

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "guard": [_worker.active()]})

    n = 2 * spark.sparkContext.defaultParallelism
    rows = (spark.range(0, n, 1, n)
            .mapInArrow(probe, "pid long, guard boolean").collect())
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r.pid, set()).add(r.guard)
    assert by_pid
    expect = sys.version_info < (3, 13)
    assert all(g == {expect} for g in by_pid.values()), by_pid


def test_task_floor_tool_smoke(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "task_floor.py"),
         "--reps", "1", "--cpus", "2", "--parts", "4"],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = {ln.split()[0]: ln for ln in out.stdout.splitlines()
            if ln.split() and ln.split()[0] in ("plain", "package")}
    assert set(rows) == {"plain", "package"}, out.stdout
    guarded = {k: re.search(r"(\d+)/(\d+)\s*$", v).groups()
               for k, v in rows.items()}
    g, w = map(int, guarded["package"])
    assert w >= 1 and g == (w if sys.version_info < (3, 13) else 0)
    assert int(guarded["plain"][0]) == 0
