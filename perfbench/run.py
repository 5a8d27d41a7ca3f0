"""Benchmark of the duckdb_ann_spark engine through its public Python API.

    python3 perfbench/run.py --workload build|query|corpus \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One Spark driver process, one client,
closed loop on local[nproc]: set up, then run whole cycles until
`--seconds` have passed (at least one). The last stdout line is one JSON
object {correct, attempted, failed, metrics}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
The line before it is a JSON report with host facts, per-phase latency
summaries and, when traced, the tracing overhead. Everything the run
writes goes under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3

CALIBRATIONS = ("measure_graph_calibrations", "measure_probe_calibration")


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import this checkout's package whatever the cwd."""
    for sub in ("tmp", "cache", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["XDG_CACHE_HOME"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a 1 MB query-side cap puts the query workload's self-join over it,
    # so knn_join takes its exchange delivery as it does past 64 MB
    os.environ["SPARK_GRAFT_KNN_BCAST_MB"] = "1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={work}/tmp",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        f"--conf spark.executorEnv.PYTHONPATH={ROOT}",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def host_facts(spark) -> dict:
    import pyspark

    from duckdb_ann_spark.index import _prune_c

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "threads_env": {v: os.environ.get(v) for v in (
            "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")},
        "prune_c_available": _prune_c.available(),
        "prune_c_disabled_reason": _prune_c._DISABLED_REASON,
    }


def patch_calibrations(tracer):
    """Wrap the calibration entry points in place so traced runs time
    them; returns an undo function."""
    from duckdb_ann_spark.index import calibration

    saved = {n: getattr(calibration, n) for n in CALIBRATIONS}

    def wrap(name, fn):
        return lambda *a, **kw: tracer.timed(
            f"index.calibration.{name}", fn, *a, **kw)

    for n, fn in saved.items():
        setattr(calibration, n, wrap(n, fn))
    return lambda: [setattr(calibration, n, fn) for n, fn in saved.items()]


def stop(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes, taking its Python workers with it) and wait for it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        proc.wait(timeout=60)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer, ratios: dict) -> dict:
    """Every per-layer value this run measured, by metric name. A phase
    is `<module>.<function>[.<engine>]`; each counter is the median over
    the run's calls of that phase."""
    from sparktrace import COUNTERS

    out = {f"{phase}.{c}": median([x[c] for x in calls])
           for phase, calls in tracer.counters.items() for c in COUNTERS}
    for n in CALIBRATIONS:
        out[f"index.calibration.{n}.wall_s"] = median(
            tracer.walls.get(f"index.calibration.{n}", []))
    for n in ("index.vamana_core.build_graph", "session.get_spark"):
        out[f"{n}.wall_s"] = median(tracer.walls.get(n, []))
    out["session.worker_warm_s"] = median(tracer.walls.get("session.warm", []))
    out.update({n: median(v) for n, v in ratios.items()})
    return out


def time_build_graph(tracer, seed: int) -> None:
    """One driver-side graph build of the routed build's shard shape."""
    import gen
    from duckdb_ann_spark.index.params import DiskannParams
    from duckdb_ann_spark.index.vamana_core import build_graph

    from workloads import VAMANA

    p = DiskannParams(max_degree=VAMANA["max_degree"],
                      build_complexity=VAMANA["build_complexity"])
    x = gen.VectorSpace(seed).draw(p.auto_shard_rows())
    tracer.timed("index.vamana_core.build_graph", build_graph, x,
                 max_degree=p.max_degree, build_complexity=p.build_complexity)


def run(args, sizes=None) -> tuple[dict, dict]:
    """One benchmark run → (result line, report)."""
    import shutil

    # first: the package caps BLAS threads before numpy loads
    from duckdb_ann_spark.session import get_spark

    import workloads as W
    from sparktrace import StatusStore, Tracer

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    nproc = len(os.sched_getaffinity(0))
    spark = tracer.timed("session.get_spark", get_spark, "perfbench",
                         cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    undo = None
    try:
        sc = spark.sparkContext
        if args.trace:
            tracer.store, tracer.sc = StatusStore(sc), sc
            undo = patch_calibrations(tracer)

        def warm(it):
            # each Python worker imports the package and loads the
            # compiled prune kernel, as the first index build would
            from duckdb_ann_spark.index import _prune_c

            _prune_c.available()
            yield from it

        tracer.timed("session.warm", lambda: spark.range(nproc * 16)
                     .repartition(nproc).mapInPandas(warm, "id long").count())
        b = W.Bench(spark, tracer, work, args.seed, sizes or W.FULL)
        wl = W.WORKLOADS[args.workload](b)

        wl.setup_inputs()
        loads = []
        for _ in range(SETUP_REPS):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            wl.load()
            loads.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.setup_engine()
        setup_s = median(loads) + time.perf_counter() - t0

        cycles = []
        t_loop = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_loop < args.seconds:
            b.cycle_ops = []
            wl.cycle(i)
            cycles.append(sum(b.cycle_ops))
            i += 1
        if args.trace:
            time_build_graph(tracer, args.seed)
        facts = host_facts(spark)
    finally:
        if undo:
            undo()
        stop(spark)
    if args.trace:
        tracer.dump(os.path.join(WORK, f"spans-{run_id}.jsonl"))

    from metrics import summarize

    end_to_end = {"setup_s": setup_s, "cycle_p50_s": median(cycles),
                  "recall": wl.recall()}
    # a phase or ratio the workload never reaches reports 0
    values = per_layer(tracer, b.ratios) if args.trace else end_to_end
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": facts, "cycles": summarize(cycles),
        "end_to_end": end_to_end,
        "phases": {p: summarize(w) for p, w in sorted(tracer.walls.items())},
        "ratios": {k: median(v) for k, v in sorted(b.ratios.items())},
    }
    if args.trace:
        # status-store reading between calls, outside their walls; the
        # whole overhead is traced minus untraced cycle_p50_s for a seed
        report["tracing"] = {"bookkeeping_s": tracer.bookkeeping_s}
    result = {"correct": b.failed == 0, "attempted": b.attempted,
              "failed": b.failed, "metrics": metrics}
    return result, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("build", "query", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "duckdb_ann_spark",
                                       "__init__.py")):
        print(f"perfbench: no duckdb_ann_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    prepare_env(WORK)
    result, report = run(args)
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
