"""Measure the fixed cost of a PySpark Python task on this host.

    python3 tools/task_floor.py [--reps 3] [--cpus N] [--parts 4,16]

Runs trivial `mapInArrow` jobs (each task yields one row and does no
work) in two phases on one session from `duckdb_ann_spark.get_spark`:

- `plain`: the task function never imports the package, so the
  workers run as any PySpark worker would;
- `package`: the task function imports `duckdb_ann_spark`, which
  installs the worker-side zip-directory guard (`_worker.py`).

`plain` runs first, because Python workers are reused and a worker
keeps the guard once a task has installed it. Per phase and partition
count it prints the wall of each job (its single `collect`), each
reused worker's CPU per task — the `os.times()` user+system delta
between consecutive tasks on one worker pid — and how many of the
workers had the guard active. Run it from any directory; the workers
find the package through `PYTHONPATH`.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCHEMA = "pid long, start double, cpu double, guard boolean"


def _task_fn(import_package: bool):
    def run(batches):
        import pyarrow as pa

        if import_package:
            import duckdb_ann_spark  # noqa: F401  (installs the guard)
        t = os.times()
        from zipimport import zipimporter

        guard = bool(getattr(zipimporter.invalidate_caches,
                             "_duckdb_ann_spark_zip_guard", False))
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "start": [time.time()],
             "cpu": [t.user + t.system], "guard": [guard]},
            schema=pa.schema([("pid", pa.int64()), ("start", pa.float64()),
                              ("cpu", pa.float64()), ("guard", pa.bool_())]),
        )

    return run


def measure(spark, parts: int, reps: int, import_package: bool) -> dict:
    """Run `reps` trivial jobs of `parts` tasks → {walls, cpu_per_task,
    workers, guarded}."""
    fn = _task_fn(import_package)
    df = spark.range(0, parts, 1, parts).mapInArrow(fn, SCHEMA)
    walls, rows = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        rows += df.collect()
        walls.append(time.perf_counter() - t0)
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r)
    deltas = []
    for runs in by_pid.values():
        runs.sort(key=lambda r: r.start)
        deltas += [b.cpu - a.cpu for a, b in zip(runs, runs[1:])]
    return {"walls": walls, "cpu_per_task": deltas, "workers": len(by_pid),
            "guarded": sum(1 for runs in by_pid.values() if runs[-1].guard)}


def _spread(xs: list[float]) -> str:
    if not xs:
        return "-"
    return (f"{statistics.median(xs):.3f} "
            f"[{min(xs):.3f}..{max(xs):.3f}] n={len(xs)}")


def report(spark, parts: list[int], reps: int) -> list[str]:
    """The printed table, one line per (phase, partition count)."""
    lines = [f"{'phase':<8} {'parts':>5}  {'job wall s (median [min..max])':<36}"
             f" {'cpu s per task (median [min..max])':<38} guarded"]
    for phase, import_package in (("plain", False), ("package", True)):
        for p in parts:
            m = measure(spark, p, reps, import_package)
            lines.append(
                f"{phase:<8} {p:>5}  {_spread(m['walls']):<36}"
                f" {_spread(m['cpu_per_task']):<38}"
                f" {m['guarded']}/{m['workers']}"
            )
    return lines


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] cores (default: the engine's default)")
    ap.add_argument("--parts", default="4,16",
                    help="comma-separated partition counts")
    args = ap.parse_args(argv)
    # the workers inherit the JVM's environment, which inherits ours
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    from duckdb_ann_spark.session import get_spark

    spark = get_spark("task_floor", cpus=args.cpus or None)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(f"python {sys.version.split()[0]}, spark {spark.version}, "
              f"{spark.sparkContext.defaultParallelism} cores", flush=True)
        for line in report(spark, [int(p) for p in args.parts.split(",")],
                           args.reps):
            print(line, flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
