"""The single owner of CPU metering (perfbench/meter): nothing else in
the package, the scripts or bench.py reads /proc, and the spot tier
records a reading the meter refuses as null, never as a number."""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys

from perfbench import meter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import spot_bench_scale as spot  # noqa: E402


def test_only_perfbench_meter_reads_proc():
    paths = [os.path.join(REPO, "bench.py")]
    for top in ("candy_store_etl_spark", "scripts"):
        for root, _, names in os.walk(os.path.join(REPO, top)):
            paths += [os.path.join(root, n) for n in names if n.endswith(".py")]
    hits = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                if "/proc" in line:
                    hits.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert hits == []


def _write_stat(proc, pid: int, ppid: int, ticks: int) -> None:
    """A ``/proc/<pid>/stat`` line: ``ticks`` of utime, nothing else."""
    (proc / str(pid)).mkdir(exist_ok=True)
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(ticks), "0", "0", "0"] + ["0"] * 7
    (proc / str(pid) / "stat").write_text(f"{pid} (java) " + " ".join(rest) + "\n")


def _tree(proc):
    """A driver (pid 100) with one Python worker (pid 101), metered on
    a clock that moves 10 s between any two readings."""
    _write_stat(proc, 100, 1, 5000)
    _write_stat(proc, 101, 100, 3000)
    clock = itertools.count(0.0, 10.0).__next__
    return meter.CpuMeter(root_pid=100, proc=str(proc), cores=4, clock=clock)


def _worker_vanishes(proc):
    """The worker's ticks leave the tree without reaching the parent's
    reaped-children counters: the tree's counters go backwards."""

    def run(t: int) -> None:
        shutil.rmtree(proc / "101")
        _write_stat(proc, 100, 1, 4000 + t)

    return run


def _no_prepare(t: int) -> None:
    pass


def test_spot_tier_records_a_backwards_cpu_reading_as_null(tmp_path):
    rows = spot.time_trials(_worker_vanishes(tmp_path), 1, _tree(tmp_path), _no_prepare)
    assert rows[0]["cpu_s"] is None
    row = spot.best_row(rows, [1.5])
    assert row["cpu_s"] is None
    assert json.loads(json.dumps(row)) == {"wall_s": row["wall_s"], "task_s": 1.5, "cpu_s": None}


def test_spot_tier_best_cpu_is_the_least_valid_reading(tmp_path):
    cpu = _tree(tmp_path)
    vanish = _worker_vanishes(tmp_path)

    def run(t: int) -> None:
        if t == 0:  # a valid trial: the driver burns one second
            _write_stat(tmp_path, 100, 1, 5000 + meter.HZ)
        else:
            vanish(t)

    rows = spot.time_trials(run, 2, cpu, _no_prepare)
    assert rows[0]["cpu_s"] == 1.0 and rows[1]["cpu_s"] is None
    assert spot.best_row(rows, [2.0, 1.0])["cpu_s"] == 1.0
