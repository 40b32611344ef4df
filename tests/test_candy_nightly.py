"""The nightly candy pass on generated data, so the paper's core check
runs without the reference checkout: a 34-day history (more than the
32 paths past which Spark lists files with a parallel job) through
``run_pipeline`` and the five single-file CSV sinks, checked against
the plain-Python reference semantics of ``perfbench.reference``.

Also pinned here: the three mechanisms that keep a pass at 19 Spark
jobs — day files read without a listing job, report outputs sorted in
one partition without a sampling job, and order headers carried on the
line items instead of a second branch over the transactions."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from contextlib import contextmanager
from decimal import Decimal

import pytest

from candy_store_etl_spark.caching import release_caches
from candy_store_etl_spark.plans.candy_pipeline import (
    run_pipeline,
    run_pipeline_staged,
)
from candy_store_etl_spark.sources import candy
from candy_store_etl_spark.sources.candy import read_products, read_transactions
from candy_store_etl_spark.sources.sinks import save_single_csv
from perfbench import gen
from perfbench.reference import check_outputs, reference_outputs

HISTORY_DAYS = 34
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


@pytest.fixture(scope="module")
def history(tmp_path_factory):
    """(day-file paths, products.csv) of a seeded 34-day history."""
    d = str(tmp_path_factory.mktemp("candy_history"))
    _, paths = gen.write_candy(d, 11, HISTORY_DAYS)
    return paths, os.path.join(d, "products.csv")


@pytest.fixture(scope="module")
def nightly(spark, history, tmp_path_factory):
    """One nightly pass: (build job ids, sink job ids, output dir)."""
    paths, products_csv = history
    out = str(tmp_path_factory.mktemp("nightly_out"))
    products = read_products(spark, products_csv)
    with _job_ids(spark, "nightly-build") as build_jobs:
        outs = run_pipeline(spark, paths, products)
    with _job_ids(spark, "nightly-sinks") as sink_jobs:
        for name in OUTPUTS:
            save_single_csv(outs[name], out, f"{name}.csv")
    release_caches()
    return build_jobs, sink_jobs, out


def test_nightly_outputs_match_reference_semantics(history, nightly):
    paths, products_csv = history
    last_day = gen.FIRST_DAY + dt.timedelta(days=len(paths) - 1)
    want = reference_outputs(products_csv, paths)
    assert check_outputs(nightly[2], want, last_day) == []


def test_plan_build_over_34_day_files_launches_no_job(nightly):
    assert nightly[0] == []


def test_nightly_pass_launches_at_most_20_jobs(nightly):
    build_jobs, sink_jobs, _ = nightly
    assert len(build_jobs) + len(sink_jobs) <= 20


def test_staged_pipeline_returns_same_rows(spark, history, tmp_path):
    paths, products_csv = history
    products = read_products(spark, products_csv)
    want = run_pipeline(spark, paths, products)
    got = run_pipeline_staged(spark, paths, products, str(tmp_path / "staged"))
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


def test_repeated_transaction_is_one_order_with_first_header(spark, tmp_path):
    """Transaction 7 occurs three times over two day files. Its order
    row takes the header of the first occurrence in file order — not
    the earliest timestamp nor the smallest or largest customer — and
    totals over all its items. Transaction 8's items are all null, so
    it has no order."""
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
    products = spark.createDataFrame(
        [
            (1, "p1", "c", "s", "Bar", Decimal("2.00"), Decimal("1.00"), 100),
            (2, "p2", "c", "s", "Bar", Decimal("3.00"), Decimal("1.50"), 100),
        ],
        candy.PRODUCTS_SCHEMA,
    )
    outs = run_pipeline(spark, [day1, day2], products)
    try:
        orders = [tuple(r) for r in outs["orders"].collect()]
        lines = outs["order_line_items"].count()
    finally:
        release_caches()
    # 2 x 2.00 + 1 x 3.00 + 1 x 2.00 + 1 x 3.00 over the non-null items
    assert orders == [(7, "2024-02-02T10:00:00.000000", 5, 12.0, 4)]
    assert lines == 4


def test_stage_boundary_variants_match_pipeline(spark, tmp_path):
    """The parquet and table-log DAGs and the incremental table-log
    chain build orders from the header-carrying line items too; their
    five outputs equal the one-session pipeline's on a 3-day history."""
    import pandas as pd

    from candy_store_etl_spark.orchestration import StageContext, run_dag
    from candy_store_etl_spark.plans.candy_colocated import (
        run_pipeline_incremental,
    )

    _, paths = gen.write_candy(str(tmp_path / "in"), 5, 3)
    products_csv = str(tmp_path / "in" / "products.csv")
    products = read_products(spark, products_csv)
    want_dir = str(tmp_path / "want")
    try:
        want = run_pipeline(spark, paths, products)
        for name in OUTPUTS:
            save_single_csv(want[name], want_dir, f"{name}.csv")
        ivm = run_pipeline_incremental(spark, paths, products, str(tmp_path / "ivm"))
        for name in OUTPUTS:
            pd.testing.assert_frame_equal(
                ivm[name].toPandas(), want[name].toPandas(), check_dtype=False, obj=name
            )
    finally:
        release_caches()

    for fmt in ("parquet", "table_log"):
        ctx = StageContext(
            session_factory=lambda: spark,
            transaction_paths=tuple(paths),
            products_path=products_csv,
            workdir=str(tmp_path / f"dag_{fmt}"),
            stage_format=fmt,
        )
        run_dag(ctx)
        for name in OUTPUTS:
            pd.testing.assert_frame_equal(
                pd.read_csv(os.path.join(ctx.workdir, "reports", f"{name}.csv")),
                pd.read_csv(os.path.join(want_dir, f"{name}.csv")),
                obj=f"{fmt}:{name}",
            )
