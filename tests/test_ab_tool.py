"""tools/ab.py: seed lists, quartiles and the pair summary, on canned
run results (no benchmark run)."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ab():
    spec = importlib.util.spec_from_file_location(
        "ab", os.path.join(ROOT, "tools", "ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_parse_seeds_and_quartiles():
    ab = _ab()
    assert ab.parse_seeds("201-203,7") == [201, 202, 203, 7]
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert ab.quartiles([2.0]) == (2.0, 2.0, 2.0)


def test_summary_counts_wins_by_direction(capsys):
    ab = _ab()

    def run(cycle, recall, failed=0):
        # the shape perfbench/run.py prints
        return {"attempted": 4, "failed": failed,
                "metrics": {"cycle_p50_s": {"value": cycle, "unit": "s"},
                            "recall": {"value": recall, "unit": "ratio"}}}

    pairs = [
        {"seed": s, "base": run(3.0 + 0.01 * s, 0.9),
         "change": run(2.0 + 0.01 * s, 0.9 if s else 0.8, failed=s == 2)}
        for s in range(4)
    ]
    ab.summarize("query", pairs, ab.directions(ROOT))
    out = capsys.readouterr().out
    cyc = next(line for line in out.splitlines()
               if line.startswith("cycle_p50_s"))
    assert "4/4" in cyc and cyc.rstrip().endswith("yes")
    rec = next(line for line in out.splitlines() if line.startswith("recall "))
    assert "0/4" in rec  # seed 0 lost recall; equal seeds are ties
    assert "recall identical per seed: NO, seeds [0]" in out
    assert "change failed: 1/16" in out
    assert "base failed: 0/16" in out


def test_summary_says_when_recall_is_not_reported(capsys):
    """Traced perfbench runs carry only the per-layer metrics: the
    summary must say recall is absent, not call it identical."""
    ab = _ab()
    traced = {"attempted": 1, "failed": 0,
              "metrics": {"index.index_scan.vamana.jobs":
                          {"value": 1, "unit": "count"}}}
    pairs = [{"seed": s, "base": traced, "change": traced} for s in range(3)]
    ab.summarize("query", pairs, ab.directions(ROOT))
    out = capsys.readouterr().out
    assert "recall: not reported (traced runs)" in out
    assert "recall identical per seed" not in out
