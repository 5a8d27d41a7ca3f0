"""Interleaved A/B of two source checkouts on the repo benchmark.

    python3 tools/ab.py --base REV_OR_DIR [--change DIR] \
        --workload query [--workload build ...] --seeds 201-210 \
        [--seconds 5] [--trace 0|1] [--out runs.jsonl]

Runs `perfbench/run.py` from the base checkout and the change checkout
alternately, one pair per seed, flipping which side runs first on every
other pair so slow drift on the host lands on both sides equally. Each
side runs its own copy of perfbench (its own cwd), with identical
arguments. `--base` is a directory holding a checkout, or a git revision
of the current repository, which is exported with `git archive` into a
fresh temporary directory. `--change` defaults to the repository root
this tool lives in.

Per workload and metric it prints each side's median and quartiles, how
many pairs the change won (better per BENCHMARK.json's direction, ties
count for neither), whether the median gap exceeds the base's quartile
spread, per-seed recall equality, and failed/attempted per side. The
raw result of every run goes to `--out` as JSON lines when given.
Nothing in either checkout is edited; perfbench writes only its own
`.perfbench_work/`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
END_TO_END = ("setup_s", "cycle_p50_s", "recall")


def parse_seeds(spec: str) -> list[int]:
    """'201-205,300' -> [201, 202, 203, 204, 205, 300]."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export_rev(rev: str, dest: str) -> str:
    """Export git revision `rev` of this repository into `dest`."""
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One perfbench run → its result dict ({correct, attempted, failed,
    metrics}); a run that exits non-zero or prints no result line counts
    as one failed attempt with no metrics."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 else None
    except (IndexError, json.JSONDecodeError):
        result = None
    if not isinstance(result, dict) or "metrics" not in result:
        tail = (proc.stderr or proc.stdout).strip().splitlines()[-3:]
        print(f"  run failed ({checkout}, seed {seed}): {tail}", flush=True)
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(checkout: str) -> dict[str, str]:
    """metric name → 'lower' / 'higher', from the checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"]
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def value(run: dict, name: str):
    """A run's metric as a number (perfbench prints {value, unit})."""
    m = run["metrics"].get(name)
    return m["value"] if isinstance(m, dict) else m


def summarize(workload: str, pairs: list[dict], better: dict) -> None:
    print(f"\n== {workload}: {len(pairs)} pairs ==")
    names = sorted({n for p in pairs for side in ("base", "change")
                    for n in p[side]["metrics"]})
    print(f"{'metric':<44} {'base q1/med/q3':>26} {'change q1/med/q3':>26}"
          f" {'wins':>7} {'gap>IQR':>7}")
    for name in names:
        got = [(value(p["base"], name), value(p["change"], name))
               for p in pairs]
        b = [x for x, _ in got if x is not None]
        c = [y for _, y in got if y is not None]
        if not b or not c:
            continue
        sign = -1.0 if better.get(name, "lower") == "lower" else 1.0
        wins = sum(1 for x, y in got
                   if x is not None and y is not None and sign * (y - x) > 0)
        decided = sum(1 for x, y in got if x is not None and y is not None)
        bq, cq = quartiles(b), quartiles(c)
        gap = sign * (cq[1] - bq[1]) > (bq[2] - bq[0])
        fmt = "{:8.4g}/{:8.4g}/{:8.4g}"
        print(f"{name:<44} {fmt.format(*bq):>26} {fmt.format(*cq):>26}"
              f" {wins:>3}/{decided:<3} {'yes' if gap else 'no':>7}")
    recalls = [(p["seed"], value(p["base"], "recall"),
                value(p["change"], "recall")) for p in pairs]
    if any(b is None or c is None for _, b, c in recalls):
        print("recall: not reported (traced runs)")
    else:
        diff = [s for s, b, c in recalls if b != c]
        print("recall identical per seed:",
              "yes" if not diff else f"NO, seeds {diff}")
    for side in ("base", "change"):
        failed = sum(p[side]["failed"] for p in pairs)
        attempted = sum(p[side]["attempted"] for p in pairs)
        print(f"{side} failed: {failed}/{attempted}")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True,
                    help="checkout directory or git revision")
    ap.add_argument("--change", default=ROOT)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 201-210,300")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)

    base = args.base
    if not os.path.isdir(base):
        base = export_rev(base, tempfile.mkdtemp(prefix="ab_base_"))
    sides = {"base": os.path.abspath(base),
             "change": os.path.abspath(args.change)}
    better = directions(sides["change"])
    out = open(args.out, "a") if args.out else None
    try:
        for workload in args.workload:
            pairs = []
            for i, seed in enumerate(parse_seeds(args.seeds)):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                pair = {"workload": workload, "seed": seed, "first": order[0]}
                for side in order:
                    pair[side] = run_once(sides[side], workload, seed,
                                          args.seconds, args.trace)
                print(f"{workload} seed {seed} ({order[0]} first): " + " | ".join(
                    f"{s} " + " ".join(f"{k}={value(pair[s], k)}"
                                       for k in END_TO_END)
                    for s in order), flush=True)
                if out is not None:
                    out.write(json.dumps(pair) + "\n")
                    out.flush()
                pairs.append(pair)
            summarize(workload, pairs, better)
    finally:
        if out is not None:
            out.close()


if __name__ == "__main__":
    main()
