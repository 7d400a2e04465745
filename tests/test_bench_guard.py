"""Unit tests for bench.py's paired verdict and output line — pure
Python, no Spark.

`bench.py --base REF` runs fresh head/base processes in alternating
pairs; a query regresses only when HEAD loses at least 9 of 10 pairs AND
its median is worse than base's by more than base's interquartile range.
"""

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import PAIRS, arm_python, paired_verdict, result_line  # noqa: E402

# ten per-pair base medians with a realistic spread (IQR ~0.05 s)
BASE = [1.00, 1.03, 0.98, 1.05, 1.01, 0.99, 1.07, 1.02, 0.97, 1.04]
NAMES = [f"q{i}" for i in range(30)]


def test_no_change_no_flags():
    v = paired_verdict(list(BASE), list(BASE))
    assert v["verdict"] == "same"
    assert v["head_wins"] == 0
    assert v["ratio"] == 1.0
    assert v["pairs"] == PAIRS


def test_localized_regression_flagged():
    # one query 20% slower in every pair, the rest unchanged
    verdicts = {
        n: paired_verdict([b * (1.2 if n == "q3" else 1.0) for b in BASE], BASE)
        for n in NAMES
    }
    assert [n for n, v in verdicts.items() if v["verdict"] == "regressed"] == ["q3"]
    assert verdicts["q3"]["head_wins"] == 0
    assert verdicts["q3"]["ratio"] == 1.2


def test_uniform_slowdown_flags_every_query():
    # EVERY query 1.5x slower (e.g. a session-conf regression): a paired
    # run has no drift factor to absorb it, so each one flags
    verdicts = [paired_verdict([b * 1.5 for b in BASE], BASE) for _ in NAMES]
    assert all(v["verdict"] == "regressed" for v in verdicts)


def test_improvement_is_the_mirror_rule():
    v = paired_verdict([b * 0.8 for b in BASE], BASE)
    assert v["verdict"] == "improved"
    assert v["head_wins"] == 10


def test_eight_of_ten_losses_not_flagged():
    head = [b * 1.5 for b in BASE[:8]] + [b * 0.9 for b in BASE[8:]]
    v = paired_verdict(head, BASE)
    assert v["head_wins"] == 2
    assert v["verdict"] == "same"


def test_ten_losses_inside_iqr_not_flagged():
    # HEAD loses every pair, but by less than base's own spread
    v = paired_verdict([b + 0.005 for b in BASE], BASE)
    assert v["head_wins"] == 0
    assert v["head_median"] - v["base_median"] < v["base_q3"] - v["base_q1"]
    assert v["verdict"] == "same"


def test_plain_line_keeps_every_query():
    samples = {n: [0.5 + i * 0.01, 0.4 + i * 0.01, 0.6] for i, n in enumerate(NAMES)}
    layout = {n: [0.3, 0.2, 0.4] for n in NAMES[:9]}
    section = {"build_sec": 3.0, "table_files": 150, "queries": {}}
    rec = json.loads(
        result_line(0.1, 4, samples, layout, section, "/x/vl/__init__.py", [])
    )
    assert set(rec["queries"]) == set(NAMES)
    assert set(rec["query_medians"]) == set(NAMES)
    assert rec["queries"]["q2"] == 0.42
    assert rec["query_medians"]["q2"] == 0.52
    assert set(rec["queries_layout"]) == set(rec["layout_query_medians"]) == set(
        NAMES[:9]
    )
    assert rec["layout"] == section
    assert rec["value"] == round(sum(rec["queries"].values()), 4)


def test_arm_env_puts_worktree_root_first(tmp_path):
    # a fake checkout: the arm process must import ITS victorialogs_spark,
    # even with this repo's copy on the inherited PYTHONPATH
    root = tmp_path / "base"
    (root / "victorialogs_spark").mkdir(parents=True)
    (root / "victorialogs_spark" / "__init__.py").write_text("")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    argv, env = arm_python(str(root), {**os.environ, "PYTHONPATH": here})
    assert env["PYTHONPATH"].split(os.pathsep)[:2] == [str(root), here]
    assert env["SPARK_GRAFT_CPUS"]
    out = subprocess.run(
        argv + ["-c", "import sys, victorialogs_spark as v;"
                      " print(sys.path[0]); print(v.__file__)"],
        env=env, cwd=str(root), stdout=subprocess.PIPE, text=True, check=True,
    ).stdout.splitlines()
    assert out[0] == str(root)
    assert out[1] == str(root / "victorialogs_spark" / "__init__.py")
