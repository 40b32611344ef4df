"""Airflow DAG artifact for the candy pipeline (SURVEY §3.3).

The reference ships an Airflow DAG (`candy_store_pipeline_dag.py:284-327`)
whose tasks exchange intermediates through session temp views — views
that do not survive the per-task SparkSessions the DAG creates, so the
orchestrated form is structurally broken. This module publishes the
WORKING topology: tasks exchange state only through persisted parquet
stage directories (`plans/candy_pipeline.run_pipeline_staged`), so any
task can run in its own session, process, or cluster and resume from
the previous task's files.

The task graph is declared engine-side as plain data
(``CANDY_DAG_TASKS``) and the Airflow binding is import-gated: where
Airflow is installed, ``build_airflow_dag()`` returns a real
``airflow.DAG`` wired task-for-task from the same declaration; where
it is not (this container), the declaration is still importable,
topologically checkable, and is what the tests pin against the staged
pipeline's actual write/read order.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from graphlib import TopologicalSorter

from pyspark.sql import SparkSession

# task -> (upstream dependencies, produced stage artifact)
# Artifacts are directory names under the pipeline workdir; "reports/*"
# are terminal single-file outputs.
CANDY_DAG_TASKS: dict[str, tuple[tuple[str, ...], str]] = {
    "load_transactions": ((), "txns"),
    "build_line_items": (("load_transactions",), "line_items"),
    "build_orders": (("build_line_items", "load_transactions"), "orders"),
    "build_daily_summary": (("build_orders",), "daily_summary"),
    "export_line_items": (("build_line_items",), "reports/order_line_items"),
    "export_products_updated": (("build_line_items",), "reports/products_updated"),
    "export_orders": (("build_orders",), "reports/orders"),
    "export_daily_summary": (("build_daily_summary",), "reports/daily_summary"),
    "forecast": (("build_daily_summary",), "reports/sales_profit_forecast"),
}


def topological_order() -> list[str]:
    """Deterministic topological order of the task graph (stable
    tie-break on task name, so the schedule is reproducible)."""
    ts = TopologicalSorter(
        {name: set(deps) for name, (deps, _) in CANDY_DAG_TASKS.items()}
    )
    ts.prepare()
    order: list[str] = []
    while ts.is_active():
        ready = sorted(ts.get_ready())
        order.extend(ready)
        ts.done(*ready)
    return order


@dataclass(frozen=True)
class StageContext:
    """Everything a task needs to run in its own process: where the
    inputs live, where stage artifacts go, and how to get a session.
    Stages communicate ONLY through persisted artifacts under
    ``workdir`` — no temp views, no driver state (the reference DAG's
    fatal flaw, `candy_store_pipeline_dag.py:147-207`).

    ``stage_format`` picks the artifact kind: ``"parquet"`` (plain
    directories — resumable, but each stage re-shuffles what the next
    joins and artifacts have no history) or ``"table_log"`` (each
    stage a VERSIONED table-log table; the fact-sized ones bucketed on
    ``order_id`` with ``n_buckets``, so the orders-rollup⋈headers task
    runs as the fused storage-partitioned join with zero fact
    exchange, a re-run lands as a new atomic version instead of
    clobbering files, and every stage output time-travels). Same task
    graph, same outputs — pinned equal in tests/test_orchestration."""

    session_factory: Callable[[], SparkSession]
    transaction_paths: tuple[str, ...]
    products_path: str
    workdir: str
    stage_format: str = "parquet"
    n_buckets: int = 16

    def stage(self, artifact: str) -> str:
        return os.path.join(self.workdir, artifact)


def run_stage(name: str, ctx: StageContext) -> None:
    """Execute ONE task of ``CANDY_DAG_TASKS`` end-to-end: read the
    upstream stage artifacts from disk, compute, write this task's
    artifact. Safe to call from any process once upstreams have run."""
    from ..plans.candy_pipeline import (
        build_daily_summary,
        build_forecast,
        build_line_items,
        build_orders_with_profit,
        build_products_updated,
        load_daily_transactions,
    )
    from ..sources.candy import read_products
    from ..sources.sinks import save_single_csv, write_partitioned

    spark = ctx.session_factory()
    reports = ctx.stage("reports")
    tablelog = ctx.stage_format == "table_log"
    if tablelog:
        from ..operators.colocated import (
            colocated_aggregate_join,
            write_bucketed,
        )
        from ..plans.candy_colocated import (
            FUSED_ORDER_AGGS,
            dedup_headers,
            fused_orders_select,
            line_items_with_profit_term,
        )
        from ..sources import table_log as tl

    def _read(artifact: str):
        if tablelog:
            return tl.read_snapshot(spark, ctx.stage(artifact))
        return spark.read.parquet(ctx.stage(artifact))

    def _write(df, artifact: str, *, bucket_key: str | None = None):
        if tablelog:
            # every stage is a versioned snapshot; fact-sized stages
            # bucket on the join key so downstream tasks plan SPJs
            if bucket_key is not None:
                write_bucketed(
                    df,
                    ctx.stage(artifact),
                    key_col=bucket_key,
                    n_buckets=ctx.n_buckets,
                )
            else:
                tl.overwrite(df, ctx.stage(artifact))
        else:
            write_partitioned(df, ctx.stage(artifact))

    if name == "load_transactions":
        # materializing the scan freezes day_idx/row_in_file, so every
        # downstream task sees one immutable sequence-keyed relation
        _write(
            load_daily_transactions(spark, list(ctx.transaction_paths)),
            "txns",
        )
    elif name == "build_line_items":
        txns = _read("txns")
        products = read_products(spark, ctx.products_path)
        li = build_line_items(txns, products)
        if tablelog:
            # the stored profit_term makes the next task's rollup a
            # pure stored-column aggregate (candy_colocated's shared
            # helper — ONE definition with run_pipeline_tablelog);
            # exports select their 5 columns, so the extra one rides
            li = line_items_with_profit_term(li)
        _write(li, "line_items", bucket_key="order_id" if tablelog else None)
    elif name == "build_orders":
        if tablelog:
            # the fused storage-partitioned rollup+join: headers land
            # as their own bucketed stage table, then each bucket task
            # aggregates its orders to completion and joins that
            # bucket's headers locally — zero fact exchange (stage
            # bodies shared with plans/candy_colocated.py so the two
            # golden-parity forms cannot drift apart)
            write_bucketed(
                dedup_headers(_read("txns")),
                ctx.stage("headers"),
                key_col="order_id",
                n_buckets=ctx.n_buckets,
            )
            rolled = colocated_aggregate_join(
                spark,
                ctx.stage("line_items"),
                ctx.stage("headers"),
                aggs=FUSED_ORDER_AGGS,
            )
            _write(fused_orders_select(rolled), "orders")
        else:
            # the line items carry the order headers: one grouped pass
            _write(build_orders_with_profit(_read("line_items")), "orders")
    elif name == "build_daily_summary":
        orders_full = _read("orders")
        _write(build_daily_summary(orders_full), "daily_summary")
    elif name == "export_line_items":
        line_items = _read("line_items")
        save_single_csv(
            line_items.select(
                "order_id", "product_id", "quantity", "unit_price", "line_total"
            ).orderBy("order_id", "product_id"),
            reports,
            "order_line_items.csv",
        )
    elif name == "export_products_updated":
        line_items = _read("line_items")
        products = read_products(spark, ctx.products_path)
        save_single_csv(
            build_products_updated(line_items, products),
            reports,
            "products_updated.csv",
        )
    elif name == "export_orders":
        orders_full = _read("orders")
        save_single_csv(
            orders_full.drop("order_profit").orderBy("order_id"),
            reports,
            "orders.csv",
        )
    elif name == "export_daily_summary":
        daily = _read("daily_summary")
        save_single_csv(daily.orderBy("date"), reports, "daily_summary.csv")
    elif name == "forecast":
        daily = _read("daily_summary")
        save_single_csv(
            build_forecast(daily), reports, "sales_profit_forecast.csv"
        )
    else:
        raise KeyError(f"unknown stage {name!r}")


def run_dag(ctx: StageContext) -> None:
    """Drive the whole graph in topological order — the no-Airflow
    executor (what the PythonOperators do one task at a time)."""
    for name in topological_order():
        run_stage(name, ctx)


def build_airflow_dag(dag_id: str = "candy_store_pipeline", ctx: StageContext | None = None):
    """Construct a real Airflow DAG from ``CANDY_DAG_TASKS``.

    Import-gated: raises ``ImportError`` where Airflow is absent. Each
    task is a PythonOperator invoking the corresponding stage of
    ``run_pipeline_staged`` with its own SparkSession — legal here
    because stage boundaries are parquet, not temp views.
    """
    from airflow import DAG  # noqa: PLC0415 — env-gated by design
    from airflow.operators.python import PythonOperator

    dag = DAG(dag_id=dag_id, schedule=None, catchup=False)
    ops = {
        name: PythonOperator(
            task_id=name,
            python_callable=_stage_runner(name, ctx),
            dag=dag,
        )
        for name in CANDY_DAG_TASKS
    }
    for name, (deps, _artifact) in CANDY_DAG_TASKS.items():
        for dep in deps:
            ops[dep] >> ops[name]
    return dag


def _default_context() -> StageContext:
    """Deployment binding resolved from the environment at task runtime
    (Airflow workers import this module without constructor args)."""
    data = os.environ["CANDY_DATA_DIR"]
    paths = tuple(
        sorted(
            os.path.join(data, f)
            for f in os.listdir(data)
            if f.startswith("transactions_") and f.endswith(".json")
        )
    )
    return StageContext(
        session_factory=lambda: SparkSession.builder.getOrCreate(),
        transaction_paths=paths,
        products_path=os.path.join(data, "products.csv"),
        workdir=os.environ["CANDY_WORKDIR"],
    )


def _stage_runner(name: str, ctx: StageContext | None = None):
    def run(**context):
        run_stage(name, ctx if ctx is not None else _default_context())

    return run
