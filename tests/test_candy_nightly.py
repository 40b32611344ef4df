"""The nightly candy pass on generated data, so the paper's core check
runs without the reference checkout: a 34-day history (more than the
32 paths past which Spark lists files with a parallel job) through
``run_pipeline`` and the five single-file CSV sinks, checked against
the plain-Python reference semantics of ``perfbench.reference``.

Also pinned here: the three mechanisms that keep a pass at 19 Spark
jobs — day files read without a listing job, report outputs sorted in
one partition without a sampling job, and order headers carried on the
line items instead of a second branch over the transactions — the
five reports written on the sink's Arrow route in Spark's CSV bytes,
and the staged DAG's parquet artifacts against this one."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from contextlib import contextmanager

import pytest

from candy_store_etl_spark.caching import release_caches
from candy_store_etl_spark.orchestration import (
    StageContext,
    run_dag,
    run_stages,
    stage_outputs,
)
from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
from candy_store_etl_spark.sources import candy, sinks
from candy_store_etl_spark.sources.candy import read_products, read_transactions
from candy_store_etl_spark.sources.sinks import save_single_csv
from perfbench import gen
from perfbench.reference import check_outputs, reference_outputs

OUTPUTS = (
    "order_line_items",
    "products_updated",
    "orders",
    "daily_summary",
    "sales_profit_forecast",
)
LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@contextmanager
def _job_ids(spark, group: str):
    """Ids of the Spark jobs launched inside the block, by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def _spark_writer_raises():
    """``save_single_csv`` inside the block must not fall back to
    Spark's writer: a silent fallback would lose the driver route."""

    def fallback(df, output_path, filename):
        raise AssertionError(f"{filename} fell back to Spark's CSV writer")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sinks, "_spark_csv", fallback)
        yield


def _write_arrow_route(outs, out_dir: str) -> None:
    """The five reports through ``save_single_csv``, each on its Arrow
    route."""
    with _spark_writer_raises():
        for name in OUTPUTS:
            save_single_csv(outs[name], out_dir, f"{name}.csv")


def _write_spark_route(outs, out_dir: str) -> None:
    """The five reports through Spark's writer, into ``<out_dir>/spark``."""
    for name in OUTPUTS:
        sinks._spark_csv(outs[name], os.path.join(out_dir, "spark"), f"{name}.csv")


def _assert_spark_bytes(out_dir: str) -> None:
    """Each report in ``out_dir`` has the bytes of its Spark-written twin."""
    for name in OUTPUTS:
        with open(os.path.join(out_dir, f"{name}.csv"), "rb") as f:
            got = f.read()
        with open(os.path.join(out_dir, "spark", f"{name}.csv"), "rb") as f:
            assert got == f.read(), name


@pytest.fixture(scope="module")
def history(candy_history):
    """(day-file paths, products.csv) of the seeded 34-day history."""
    return candy_history.paths, candy_history.products_csv


@pytest.fixture(scope="module")
def nightly(spark, history, tmp_path_factory):
    """One nightly pass: (build job ids, sink job ids, output dir), its
    reports written on the sink's Arrow route (a fallback to Spark's
    writer raises), and the same frames through Spark's writer in
    ``<output dir>/spark``, outside the counted jobs."""
    paths, products_csv = history
    out = str(tmp_path_factory.mktemp("nightly_out"))
    products = read_products(spark, products_csv)
    with _job_ids(spark, "nightly-build") as build_jobs:
        outs = run_pipeline(spark, paths, products)
    with _job_ids(spark, "nightly-sinks") as sink_jobs:
        _write_arrow_route(outs, out)
    _write_spark_route(outs, out)
    release_caches()
    return build_jobs, sink_jobs, out


def test_nightly_outputs_match_reference_semantics(history, nightly):
    paths, products_csv = history
    last_day = gen.FIRST_DAY + dt.timedelta(days=len(paths) - 1)
    want = reference_outputs(products_csv, paths)
    assert check_outputs(nightly[2], want, last_day) == []


def test_nightly_reports_are_spark_csv_bytes(nightly):
    _assert_spark_bytes(nightly[2])


def test_plan_build_over_34_day_files_launches_no_job(nightly):
    assert nightly[0] == []


def test_nightly_pass_launches_at_most_20_jobs(nightly):
    build_jobs, sink_jobs, _ = nightly
    assert len(build_jobs) + len(sink_jobs) <= 20


def _dag_context(spark, paths, products_csv, workdir):
    return StageContext(
        session_factory=lambda: spark,
        transaction_paths=tuple(paths),
        products_path=str(products_csv),
        workdir=str(workdir),
    )


def test_staged_pipeline_returns_same_rows(spark, history, tmp_path):
    """The parquet-staged DAG's five outputs, read back from its stage
    artifacts, are row-for-row the one-session pipeline's."""
    paths, products_csv = history
    products = read_products(spark, products_csv)
    want = run_pipeline(spark, paths, products)
    ctx = _dag_context(spark, paths, products_csv, tmp_path / "staged")
    run_stages(ctx)
    got = stage_outputs(ctx)
    try:
        for name in OUTPUTS:
            assert got[name].columns == want[name].columns, name
            assert got[name].collect() == want[name].collect(), name
    finally:
        release_caches()


def test_listing_threshold_restored_after_read(spark, history, monkeypatch):
    paths, _ = history
    missing = os.path.join(os.path.dirname(paths[0]), "transactions_missing.json")
    spark.conf.unset(LISTING_THRESHOLD)
    read_transactions(spark, paths)
    assert spark.conf.get(LISTING_THRESHOLD, None) is None
    # a missing file is not a known local file: Spark's own listing
    # raises, and the threshold was never touched
    with pytest.raises(Exception, match="transactions_missing"):
        read_transactions(spark, paths + [missing])
    assert spark.conf.get(LISTING_THRESHOLD, None) is None

    # the read raising while the threshold is raised still restores it
    monkeypatch.setattr(candy, "_known_local_files", lambda path, threshold: True)
    with pytest.raises(Exception, match="transactions_missing"):
        read_transactions(spark, paths + [missing])
    assert spark.conf.get(LISTING_THRESHOLD, None) is None
    spark.conf.set(LISTING_THRESHOLD, "20")
    try:
        read_transactions(spark, paths)
        assert spark.conf.get(LISTING_THRESHOLD) == "20"
        with pytest.raises(Exception, match="transactions_missing"):
            read_transactions(spark, paths + [missing])
        assert spark.conf.get(LISTING_THRESHOLD) == "20"
    finally:
        spark.conf.unset(LISTING_THRESHOLD)


def test_directory_and_glob_paths_read_every_day(spark, history, tmp_path):
    paths, _ = history
    day_dir = tmp_path / "days"
    day_dir.mkdir()
    for p in paths[:3]:
        shutil.copy(p, day_dir)

    def ids(df):
        return sorted(r.transaction_id for r in df.select("transaction_id").collect())

    assert ids(read_transactions(spark, str(day_dir))) == ids(
        read_transactions(spark, paths[:3])
    )
    pattern = os.path.join(os.path.dirname(paths[0]), "transactions_*.json")
    assert ids(read_transactions(spark, pattern)) == ids(
        read_transactions(spark, paths)
    )


def _write_day(path, txns: list[dict]) -> str:
    with open(path, "w") as f:
        json.dump(txns, f)
    return str(path)


def _txn(tid: int, customer: int, ts: str, items: list[tuple]) -> dict:
    return {
        "transaction_id": tid,
        "customer_id": customer,
        "timestamp": ts,
        "items": [
            {"product_id": p, "product_name": f"p{p}", "qty": q} for p, q in items
        ],
    }


def _repeated_history(tmp_path) -> tuple[list[str], str]:
    """(day files, products.csv) in which transaction 7 occurs three
    times over two day files and transaction 8's items are all null."""
    day1 = _write_day(
        tmp_path / "transactions_20240201.json",
        [
            _txn(7, 5, "2024-02-02T10:00:00.000000", [(1, 2)]),
            _txn(8, 4, "2024-02-01T11:00:00.000000", [(1, None), (2, None)]),
        ],
    )
    day2 = _write_day(
        tmp_path / "transactions_20240202.json",
        [
            _txn(7, 3, "2024-02-01T09:00:00.000000", [(2, 1), (1, 1)]),
            _txn(7, 8, "2024-02-03T09:00:00.000000", [(2, 1), (1, None)]),
        ],
    )
    days = [day1, day2]
    products_csv = tmp_path / "products.csv"
    products_csv.write_text(
        ",".join(candy.PRODUCTS_SCHEMA.names)
        + "\n1,p1,c,s,Bar,2.00,1.00,100\n2,p2,c,s,Bar,3.00,1.50,100\n"
    )
    return days, str(products_csv)


def test_repeated_transaction_is_one_order_with_first_header(spark, tmp_path):
    """Transaction 7 occurs three times over two day files. Its order
    row takes the header of the first occurrence in file order — not
    the earliest timestamp nor the smallest or largest customer — and
    totals over all its items. Transaction 8's items are all null, so
    it has no order. Every form agrees: the one-session pipeline and
    the staged DAG."""
    days, products_csv = _repeated_history(tmp_path)
    products = read_products(spark, str(products_csv))

    def dag(workdir):
        ctx = _dag_context(spark, days, products_csv, workdir)
        run_stages(ctx)
        return stage_outputs(ctx)

    forms = {
        "run_pipeline": lambda workdir: run_pipeline(spark, days, products),
        "dag": dag,
    }
    for name, form in forms.items():
        outs = form(str(tmp_path / name))
        try:
            orders = [tuple(r) for r in outs["orders"].collect()]
            lines = outs["order_line_items"].count()
            days_summarized = outs["daily_summary"].count()
        finally:
            release_caches()
        # 2 x 2.00 + 1 x 3.00 + 1 x 2.00 + 1 x 3.00 over the non-null items
        assert orders == [(7, "2024-02-02T10:00:00.000000", 5, 12.0, 4)], name
        assert lines == 4, name
        assert days_summarized == 1, name


def test_repeated_transaction_reports_are_spark_csv_bytes(spark, tmp_path):
    """The repeated-transaction history's five reports take the sink's
    Arrow route and are byte-identical to Spark's writer's."""
    days, products_csv = _repeated_history(tmp_path)
    outs = run_pipeline(spark, days, read_products(spark, products_csv))
    out = str(tmp_path / "reports")
    try:
        _write_arrow_route(outs, out)
        _write_spark_route(outs, out)
    finally:
        release_caches()
    _assert_spark_bytes(out)


def test_stage_boundary_variants_match_pipeline(spark, candy_history, nightly, tmp_path):
    """The staged DAG writes the one-session pipeline's five CSVs over
    the 34-day history, and its stage boundaries are what they claim:
    plain parquet directories on disk, not table-log tables."""
    import pandas as pd

    from candy_store_etl_spark.sources import table_log as tl

    ctx = _dag_context(
        spark, candy_history.paths, candy_history.products_csv, tmp_path / "dag"
    )
    run_dag(ctx)
    for name in OUTPUTS:
        pd.testing.assert_frame_equal(
            pd.read_csv(os.path.join(ctx.workdir, "reports", f"{name}.csv")),
            pd.read_csv(os.path.join(nightly[2], f"{name}.csv")),
            obj=name,
        )
    for artifact in ("txns", "line_items", "orders", "daily_summary"):
        assert os.path.isdir(ctx.stage(artifact)), artifact
        assert tl.current_version(ctx.stage(artifact)) is None, artifact
