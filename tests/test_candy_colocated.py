"""The incremental table-log candy chain extends a history without
rewriting it: a new day appends, and the result still equals the
one-session pipeline. Its parity over whole histories, and the staged
table-log DAG's, are pinned in tests/test_candy_nightly.py."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from candy_store_etl_spark.sources import table_log as tl


def test_incremental_pipeline_extends_without_reprocessing(
    spark, tmp_path, candy_history
):
    """Day N+1 arrives: the maintenance chain appends ONE line-items
    version and merges one batch per hop — the earlier days' stage
    files are untouched inodes, and the result equals the batch
    pipeline over all N+1 days."""
    from candy_store_etl_spark.plans.candy_colocated import (
        run_pipeline_incremental,
    )
    from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
    from candy_store_etl_spark.sources.candy import (
        read_products,
        read_transactions,
    )

    paths = candy_history.paths[:4]
    products = read_products(spark, candy_history.short_products_csv)
    work = str(tmp_path / "ivm")
    run_pipeline_incremental(spark, paths[:3], products, work)
    li = os.path.join(work, "line_items_tl")
    assert tl.current_version(li) == 2  # one append per day
    # the recurring-id probe reads no orders file: ids rise by day, and
    # every orders file's committed [min, max] lies below day 4's ids
    lo, hi = (
        read_transactions(spark, paths[3])
        .agg(F.min("transaction_id"), F.max("transaction_id"))
        .first()
    )
    orders = os.path.join(work, "orders_tl")
    assert tl.read_snapshot_pruned(spark, orders, "order_id", lo, hi)[1] == 0
    before = {
        p: os.stat(p).st_ino for p in tl.snapshot_files(li)
    }
    got = run_pipeline_incremental(spark, paths, products, work)
    # the three earlier days' files are the SAME inodes — history was
    # never rewritten, only extended
    after = {p: os.stat(p).st_ino for p in tl.snapshot_files(li)}
    assert all(after[p] == i for p, i in before.items())
    assert tl.current_version(li) == 3
    want = run_pipeline(spark, paths, products)
    g = [tuple(r) for r in got["daily_summary"].collect()]
    w = [tuple(r) for r in want["daily_summary"].collect()]
    assert len(g) == len(w) == 4
    for grow, wrow in zip(g, w):
        for gv, wv in zip(grow, wrow):
            if isinstance(gv, float):
                assert abs(gv - wv) < 1e-6
            else:
                assert gv == wv
