"""tools/plan_parity.py's masking and snapshot diff, without Spark."""

from __future__ import annotations

import json

from tools.plan_parity import diff, mask


def _write(path, snap):
    path.write_text(json.dumps(snap))
    return str(path)


def test_mask_hides_per_session_counters():
    plan = "Project [a#12L, x_3] plan_id=7 Scan ExistingRDD RDD[41]"
    assert mask(plan) == "Project [a#nL, x_n] plan_id=n Scan ExistingRDD RDD[n]"


def test_diff_is_quiet_and_exits_0_on_equal_snapshots(tmp_path, capsys):
    snap = {"__oracles__": "h", "q": {"plan": "p", "rows": "r"}}
    a = _write(tmp_path / "a.json", snap)
    b = _write(tmp_path / "b.json", snap)
    assert diff(a, b) == 0
    assert capsys.readouterr().out == "2 keys compared, 0 differ\n"


def test_diff_names_each_difference_and_exits_1(tmp_path, capsys):
    a = _write(
        tmp_path / "a.json",
        {"__oracles__": "h", "q1": {"plan": "p", "rows": "r"}, "q2": {"plan": "p", "rows": "r"}},
    )
    b = _write(
        tmp_path / "b.json",
        {"__oracles__": "g", "q1": {"plan": "p2", "rows": "r"}, "q3": {"plan": "p", "rows": "r"}},
    )
    assert diff(a, b) == 1
    out = capsys.readouterr().out.splitlines()
    assert out == [
        "__oracles__: hash differs",
        "q1: plan differs",
        f"q2: only in {a}",
        f"q3: only in {b}",
        "4 keys compared, 4 differ",
    ]
