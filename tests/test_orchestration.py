"""The DAG declaration must match the stage tasks' real topology:
every stage read must be preceded by its producing write, and the
terminal artifacts must be exactly the five reference outputs. The
DAG's outputs are pinned against the one-session pipeline in
tests/test_candy_nightly.py."""

from __future__ import annotations

import pytest

from candy_store_etl_spark.orchestration import (
    CANDY_DAG_TASKS,
    build_airflow_dag,
    topological_order,
)


def test_topological_order_is_valid_and_deterministic():
    order = topological_order()
    assert sorted(order) == sorted(CANDY_DAG_TASKS)
    pos = {t: i for i, t in enumerate(order)}
    for name, (deps, _) in CANDY_DAG_TASKS.items():
        for dep in deps:
            assert pos[dep] < pos[name], (dep, name)
    assert order == topological_order()  # stable tie-break


def test_terminal_artifacts_are_the_five_reference_outputs():
    terminals = {
        art.split("/", 1)[1]
        for _, (_, art) in CANDY_DAG_TASKS.items()
        if art.startswith("reports/")
    }
    assert terminals == {
        "order_line_items",
        "products_updated",
        "orders",
        "daily_summary",
        "sales_profit_forecast",
    }


def test_stage_artifacts_match_staged_pipeline():
    # the stage tasks persist line_items then orders (built from the
    # header-carrying line items alone), and derive daily/forecast
    # from the orders stage
    from candy_store_etl_spark.plans.candy_pipeline import REPORTS

    arts = {name: art for name, (_, art) in CANDY_DAG_TASKS.items()}
    assert arts["build_line_items"] == "line_items"
    assert arts["build_orders"] == "orders"
    deps = {name: set(d) for name, (d, _) in CANDY_DAG_TASKS.items()}
    assert deps["build_orders"] == {"build_line_items"}
    assert "build_orders" in deps["build_daily_summary"]
    assert "build_daily_summary" in deps["forecast"]
    # each export depends on exactly the tasks producing the
    # relations its report reads (products is an input, not a task)
    producer = {art: name for name, art in arts.items()}
    for name, art in arts.items():
        if art.startswith("reports/"):
            reads = REPORTS[art.split("/", 1)[1]][0]
            want = {producer[r] for r in reads if r != "products"}
            assert deps[name] == want, name


def test_airflow_binding_is_import_gated():
    pytest.importorskip("airflow", reason="airflow not installed here")
    dag = build_airflow_dag()
    assert len(dag.tasks) == len(CANDY_DAG_TASKS)
