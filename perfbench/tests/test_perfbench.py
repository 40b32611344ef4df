"""Tests of the benchmark's generators, reference check, meters and
statistics. Run: ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import pytest

from perfbench import gen, meter, report, serve
from perfbench.reference import check_outputs, reference_outputs
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest_dir(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.md5(f.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for run in ("a", "b"):
        gen.write_candy(str(tmp_path / run / "candy"), seed=7, history_days=3)
        gen.write_corpus(str(tmp_path / run / "corpus"), seed=7, n_docs=200, n_vecs=50)
    for sub in ("candy", "corpus"):
        assert _digest_dir(str(tmp_path / "a" / sub)) == _digest_dir(str(tmp_path / "b" / sub))
    assert gen.lineitem_rows(7, 100).equals(gen.lineitem_rows(7, 100))
    assert serve.make_requests(7) == serve.make_requests(7)
    # and another seed gives other inputs
    gen.write_candy(str(tmp_path / "c"), seed=8, history_days=3)
    assert _digest_dir(str(tmp_path / "c")) != _digest_dir(str(tmp_path / "a" / "candy"))


def test_serve_requests_have_the_same_mix_for_every_seed():
    def shape(reqs):
        return [(r[0], len(r[1]) if r[0] == "point" else None) for r in reqs]

    a, b = serve.make_requests(7), serve.make_requests(8)
    assert shape(a) == shape(b)
    assert a != b
    kinds = [r[0] for r in a]
    n = serve.REQUESTS_PER_PASS
    assert (kinds.count("point"), kinds.count("range"), kinds.count("append")) == (n * 8 // 10, n // 10, n // 10)
    for r in a:
        if r[0] == "point":
            assert len(set(r[1])) == len(r[1])


def test_candy_generator_meets_fixture_rates(tmp_path):
    """FIXTURES.md (dataset_5): 1-5 items per transaction (mean ~3),
    ~7.5% null qty items, ~1.8% all-null transactions, 36 products,
    30 customers, unique 8-digit ids, and a few products running out.
    Tolerances: 1 point on the null rate, 0.6 points on all-null."""
    g, paths = gen.write_candy(str(tmp_path), seed=3, history_days=20)
    txns = [t for p in paths for t in json.load(open(p))]
    items = [i for t in txns for i in t["items"]]
    assert len(g.products) == 36
    assert len(open(tmp_path / "customers.csv").read().splitlines()) == 31
    assert len(txns) == 20 * gen.TXNS_PER_DAY
    assert all(1 <= len(t["items"]) <= 5 for t in txns)
    assert 2.9 <= len(items) / len(txns) <= 3.1
    assert abs(sum(i["qty"] is None for i in items) / len(items) - 0.075) <= 0.01
    all_null = sum(all(i["qty"] is None for i in t["items"]) for t in txns) / len(txns)
    assert abs(all_null - 0.018) <= 0.006
    ids = [t["transaction_id"] for t in txns]
    assert len(set(ids)) == len(ids) and all(10**7 <= i < 10**8 for i in ids)
    ref = reference_outputs(str(tmp_path / "products.csv"), paths)
    cancelled = {r[1] for r in ref["order_line_items"] if r[2] == 0}
    assert 1 <= len(cancelled) <= 8


def test_candy_reference_agrees_with_run_pipeline(tmp_path):
    pytest.importorskip("pyspark")
    from candy_store_etl_spark.caching import release_caches
    from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
    from candy_store_etl_spark.session import build_session
    from candy_store_etl_spark.sources.candy import read_products
    from candy_store_etl_spark.sources.sinks import save_single_csv

    # sized so stock runs out within the 10 days
    g, paths = gen.write_candy(str(tmp_path / "in"), seed=5, history_days=8)
    paths.extend(g.write_day(str(tmp_path / "in"), d) for d in (8, 9))
    spark = build_session("perfbench-tests", cpus=2)
    try:
        outs = run_pipeline(spark, paths, read_products(spark, str(tmp_path / "in" / "products.csv")))
        for name, df in outs.items():
            save_single_csv(df, str(tmp_path / "out"), f"{name}.csv")
    finally:
        release_caches()
    want = reference_outputs(str(tmp_path / "in" / "products.csv"), paths)
    assert any(r[2] == 0 for r in want["order_line_items"])  # cancellations happen
    last = gen.FIRST_DAY + dt.timedelta(days=9)
    assert check_outputs(str(tmp_path / "out"), want, last) == []
    # the check is not vacuous: a changed stock figure is caught
    want["products_updated"][0] = (*want["products_updated"][0][:2], -1)
    assert check_outputs(str(tmp_path / "out"), want, last)


def test_percentile_needs_ten_samples_beyond():
    vals = [float(i) for i in range(1, 100)]  # 99 samples: 9.9 beyond p90
    assert meter.percentile(vals, 0.9) is None
    vals.append(100.0)  # 100 samples: 10 beyond p90
    assert meter.percentile(vals, 0.9) == 90.0
    assert meter.percentile(vals, 0.99) is None
    assert meter.percentile([3.0], 0.5) == 3.0  # the median needs no tail
    assert meter.percentile([], 0.5) is None
    s = meter.summarize(vals)
    assert s == {"n": 100, "p50": 50.5, "p90": 90.0}
    assert meter.summarize([1.0, 2.0]) == {"n": 2, "p50": 1.5}
    assert meter.summarize([]) == {"n": 0, "p50": None}


def _write_proc(root, procs: dict[int, tuple[int, int, int, int, int]]) -> None:
    """procs: pid -> (ppid, utime, stime, cutime, cstime)."""
    for old in os.listdir(root):
        os.remove(os.path.join(root, old, "stat"))
        os.rmdir(os.path.join(root, old))
    for pid, (ppid, ut, st, cut, cst) in procs.items():
        os.makedirs(os.path.join(root, str(pid)))
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)] + ["0"] * 6 + ["100"]
        with open(os.path.join(root, str(pid), "stat"), "w") as f:
            f.write(f"{pid} (proc x) " + " ".join(fields) + "\n")


def test_cpu_meter_counts_a_worker_that_exits_mid_pass(tmp_path):
    proc = str(tmp_path)
    hz = meter.HZ
    # driver 10 -> JVM 11 -> worker daemon 12 -> worker 13; 99 is foreign
    _write_proc(proc, {10: (1, 100, 0, 0, 0), 11: (10, 500, 50, 0, 0),
                       12: (11, 20, 0, 0, 0), 13: (12, 3000, 30, 0, 0), 99: (1, 7, 0, 0, 0)})
    m = meter.CpuMeter(root_pid=10, proc=proc, cores=4, clock=iter([0.0, 10.0]).__next__)
    m.start()
    # the worker used 2 s more, then exited and was reaped by the daemon:
    # its CPU moved into the daemon's cutime/cstime
    _write_proc(proc, {10: (1, 100 + hz, 0, 0, 0), 11: (10, 500 + 3 * hz, 50, 0, 0),
                       12: (11, 20, 0, 3000 + 2 * hz, 30), 99: (1, 9000, 0, 0, 0)})
    assert m.stop() == pytest.approx(6.0)
    # summing live processes' utime+stime only would read a drop here
    live_only = (100 + hz + 500 + 3 * hz + 50 + 20) - (100 + 500 + 50 + 20 + 3000 + 30)
    assert live_only < 0


def test_cpu_meter_rejects_impossible_readings(tmp_path):
    proc = str(tmp_path)
    hz = meter.HZ
    for before, after in ((1000, 10), (0, 10 * 4 * hz + 10 * hz)):
        _write_proc(proc, {10: (1, before, 0, 0, 0)})
        m = meter.CpuMeter(root_pid=10, proc=proc, cores=4, clock=iter([0.0, 10.0]).__next__)
        m.start()
        _write_proc(proc, {10: (1, after, 0, 0, 0)})
        assert m.stop() is None


def test_tracer_self_time():
    t = Tracer(True)
    with t.span("pass", "op0"):
        with t.span("plans.build", "op0"):
            pass
        with t.span("sources.sinks.write", "op0"):
            pass
    spans = {s["name"]: s for s in t.spans}
    assert spans["plans.build"]["parent"] == spans["pass"]["id"]
    tot = t.totals()
    children = tot["plans.build"]["total_s"] + tot["sources.sinks.write"]["total_s"]
    assert tot["pass"]["self_s"] == pytest.approx(tot["pass"]["total_s"] - children)
    off = Tracer(False)
    with off.span("pass") as rec:
        assert rec is None
    assert off.spans == []


def test_benchmark_json_declares_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(report.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(report.PER_LAYER)
    from perfbench.run import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
