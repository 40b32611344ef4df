"""``bench.py``'s delta report compares a run only with earlier
artifacts at the same scale factor: a run at sf0.01 diffed against an
sf0.1 artifact flags nearly every query for the data-size gap alone."""

from __future__ import annotations

import json

from bench import _delta_report


def _artifact(path, sf, queries):
    path.write_text(json.dumps({"sf": sf, "parsed": {"sf": sf, "queries": queries}}))


def test_delta_report_compares_only_same_scale_factor(tmp_path):
    _artifact(tmp_path / "BENCH_r01.json", 0.01, {"q1": 1.0, "q2": 2.0})
    _artifact(tmp_path / "BENCH_r02.json", 0.1, {"q1": 10.0, "q2": 20.0})
    timings = {"q1": 1.05, "q2": 3.0}

    small = _delta_report(timings, 0.01, str(tmp_path))
    assert small["prev"] == "BENCH_r01.json"
    assert small["pct"] == {"q1": 5.0, "q2": 50.0}
    assert small["flagged"] == ["q2"]
    assert "prev2" not in small

    large = _delta_report({"q1": 10.0, "q2": 20.0}, 0.1, str(tmp_path))
    assert large["prev"] == "BENCH_r02.json"
    assert large["flagged"] == []

    assert _delta_report(timings, 1.0, str(tmp_path)) is None
    assert _delta_report(timings, None, str(tmp_path)) is None
