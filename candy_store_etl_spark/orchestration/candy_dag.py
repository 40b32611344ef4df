"""The staged candy pipeline, and its Airflow DAG artifact (SURVEY §3.3).

The reference ships an Airflow DAG (`candy_store_pipeline_dag.py:284-327`)
whose tasks exchange intermediates through session temp views — views
that do not survive the per-task SparkSessions the DAG creates, so the
orchestrated form is structurally broken. This module is the ONLY
staged implementation of the pipeline: its tasks exchange state only
through persisted stage artifacts under a workdir, so any task can run
in its own session, process, or cluster and resume from the previous
task's files. Every stage builds with the one-session pipeline's own
steps (``plans/candy_pipeline``): orders come from the header-carrying
line items (``build_orders_with_profit``), and each export task writes
its report through the shared projection (``candy_pipeline.REPORTS``),
reading only the artifacts that report needs.

The task graph is declared engine-side as plain data
(``CANDY_DAG_TASKS``) and the Airflow binding is import-gated: where
Airflow is installed, ``build_airflow_dag()`` returns a real
``airflow.DAG`` wired task-for-task from the same declaration; where
it is not (this container), the declaration is still importable,
topologically checkable, and runnable in-process: ``run_dag`` runs
every task, ``run_stages`` only the stage tasks, and ``stage_outputs``
reads the five reference outputs back from the stage artifacts.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

# task -> (upstream dependencies, produced stage artifact)
# Artifacts are directory names under the pipeline workdir; "reports/*"
# are terminal single-file outputs, one per ``candy_pipeline.REPORTS``
# entry, each depending on the tasks that produce the relations it reads.
CANDY_DAG_TASKS: dict[str, tuple[tuple[str, ...], str]] = {
    "load_transactions": ((), "txns"),
    "build_line_items": (("load_transactions",), "line_items"),
    "build_orders": (("build_line_items",), "orders"),
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
    fatal flaw, `candy_store_pipeline_dag.py:147-207`). Artifacts are
    plain parquet directories, pinned equal to the one-session
    pipeline in tests/test_candy_nightly.py."""

    session_factory: Callable[[], SparkSession]
    transaction_paths: tuple[str, ...]
    products_path: str
    workdir: str

    def stage(self, artifact: str) -> str:
        return os.path.join(self.workdir, artifact)


def _read(spark: SparkSession, ctx: StageContext, relation: str) -> DataFrame:
    """One relation a task reads: a stage artifact, or the products
    catalog (``"products"``)."""
    if relation == "products":
        from ..sources.candy import read_products

        return read_products(spark, ctx.products_path)
    return spark.read.parquet(ctx.stage(relation))


def run_stage(name: str, ctx: StageContext) -> None:
    """Execute ONE task of ``CANDY_DAG_TASKS`` end-to-end: read the
    upstream stage artifacts from disk, compute, write this task's
    artifact. Safe to call from any process once upstreams have run."""
    from ..plans import candy_pipeline as cp
    from ..sources.sinks import save_single_csv, write_partitioned

    if name not in CANDY_DAG_TASKS:
        raise KeyError(f"unknown stage {name!r}")
    spark = ctx.session_factory()
    artifact = CANDY_DAG_TASKS[name][1]
    if artifact.startswith("reports/"):
        report = artifact.split("/", 1)[1]
        reads, project = cp.REPORTS[report]
        save_single_csv(
            project(*(_read(spark, ctx, r) for r in reads)),
            ctx.stage("reports"),
            f"{report}.csv",
        )
        return
    if name == "load_transactions":
        # materializing the scan freezes day_idx/row_in_file, so every
        # downstream task sees one immutable sequence-keyed relation
        df = cp.load_daily_transactions(spark, list(ctx.transaction_paths))
    elif name == "build_line_items":
        df = cp.build_line_items(
            _read(spark, ctx, "txns"), _read(spark, ctx, "products")
        )
    elif name == "build_orders":
        # the line items carry the order headers: one grouped pass
        df = cp.build_orders_with_profit(_read(spark, ctx, "line_items"))
    else:  # build_daily_summary
        df = cp.build_daily_summary(_read(spark, ctx, "orders"))
    write_partitioned(df, ctx.stage(artifact))


def run_dag(ctx: StageContext) -> None:
    """Drive the whole graph in topological order — the no-Airflow
    executor (what the PythonOperators do one task at a time)."""
    for name in topological_order():
        run_stage(name, ctx)


def run_stages(ctx: StageContext) -> None:
    """Run the graph's stage tasks (every task but the report exports)
    in topological order; ``stage_outputs`` then reads the reports."""
    for name in topological_order():
        if not CANDY_DAG_TASKS[name][1].startswith("reports/"):
            run_stage(name, ctx)


def stage_outputs(ctx: StageContext) -> dict[str, DataFrame]:
    """The five reference outputs over the stage artifacts, through the
    same report projections the export tasks write."""
    from ..plans.candy_pipeline import REPORTS, report_outputs

    spark = ctx.session_factory()
    relations = {r for reads, _ in REPORTS.values() for r in reads}
    return report_outputs({r: _read(spark, ctx, r) for r in relations})


def build_airflow_dag(dag_id: str = "candy_store_pipeline", ctx: StageContext | None = None):
    """Construct a real Airflow DAG from ``CANDY_DAG_TASKS``.

    Import-gated: raises ``ImportError`` where Airflow is absent. Each
    task is a PythonOperator invoking ``run_stage`` for its task with
    its own SparkSession — legal here because stage boundaries are
    persisted artifacts, not temp views.
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
