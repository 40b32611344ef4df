"""Allocation operator semantics, pinned by brute-force simulation.

The distributed groupBy(product).applyInPandas scan must be exactly
equivalent to the reference's global sequential driver loop
(data_processor.py:188-262) — same allocations, same cancellations,
same final stock — because per-product allocation is independent
(SURVEY.md §2.3).
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from candy_store_etl_spark.operators.allocation import (
    allocate_greedy,
    final_stock,
)
from candy_store_etl_spark.sources.tpch import load_table


def sequential_reference(items: list[dict], stock: dict[int, int]):
    """The reference's global in-order scan, verbatim semantics."""
    remaining = dict(stock)
    out = []
    for it in items:
        avail = remaining.get(it["product_id"], 0)
        q = it["qty"]
        if 0 <= q <= avail:
            out.append({**it, "allocated_qty": q, "cancelled": 0})
            remaining[it["product_id"]] = avail - q
        else:
            out.append({**it, "allocated_qty": 0, "cancelled": 1 if q > 0 else 0})
    return out, remaining


# (l_orderkey, l_linenumber) alone is NOT unique in the synthetic data;
# the ordering key must be unique for the scan to be deterministic.
_ORDER_KEY = ("l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice")


def test_matches_sequential_simulation_on_testdata(spark, sf_smoke):
    li = (
        load_table(spark, sf_smoke, "lineitem")
        .select(
            *_ORDER_KEY,
            F.col("l_partkey").alias("product_id"),
            F.col("l_quantity").cast("int").alias("qty"),
        )
    )
    stock_df = load_table(spark, sf_smoke, "part").select(
        F.col("p_partkey").alias("product_id"),
        (F.col("p_size") * 10).alias("stock"),
    )
    result = allocate_greedy(li, stock_df, order_by=_ORDER_KEY)
    got = {
        tuple(r[k] for k in _ORDER_KEY): (r.allocated_qty, r.cancelled)
        for r in result.collect()
    }

    items = [r.asDict() for r in li.orderBy(*_ORDER_KEY).collect()]
    stock = {r.product_id: r.stock for r in stock_df.collect()}
    expected, final = sequential_reference(items, stock)

    assert len(got) == len(expected)
    mismatches = [
        e
        for e in expected
        if got[tuple(e[k] for k in _ORDER_KEY)]
        != (e["allocated_qty"], e["cancelled"])
    ]
    assert not mismatches, f"{len(mismatches)} divergent items, first: {mismatches[0]}"
    # sanity: the scenario actually exercises cancellation
    assert sum(e["cancelled"] for e in expected) > 0

    fs = final_stock(result, stock_df)
    got_stock = {r.product_id: r.current_stock for r in fs.collect()}
    assert got_stock == final


def test_missing_product_gets_zero_stock(spark):
    items = spark.createDataFrame(
        [(1, 1, 99, 5)], "seq int, sub int, product_id int, qty int"
    ).drop("sub")
    stock = spark.createDataFrame([(1, 100)], "product_id int, stock int")
    rows = allocate_greedy(items, stock, order_by=("seq",)).collect()
    assert rows[0].allocated_qty == 0 and rows[0].cancelled == 1


def test_zero_and_negative_qty_never_cancelled_nor_allocated(spark):
    items = spark.createDataFrame(
        [(1, 7, 0), (2, 7, -3), (3, 7, 2)], "seq int, product_id int, qty int"
    )
    stock = spark.createDataFrame([(7, 2)], "product_id int, stock int")
    got = {r.seq: (r.allocated_qty, r.cancelled) for r in
           allocate_greedy(items, stock, order_by=("seq",)).collect()}
    assert got[1] == (0, 0)   # zero qty: allocates nothing, not a cancel
    assert got[2] == (0, 0)   # negative qty: skipped, never increments stock
    assert got[3] == (2, 0)


def test_rejects_missing_columns(spark):
    items = spark.createDataFrame([(1, 2)], "product_id int, qty int")
    stock = spark.createDataFrame([(1, 10)], "product_id int, stock int")
    with pytest.raises(ValueError, match="seq"):
        allocate_greedy(items, stock, order_by=("seq",))


@settings(max_examples=20, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # product
            st.integers(min_value=0, max_value=12),  # qty
        ),
        min_size=1,
        max_size=60,
    ),
    stocks=st.lists(
        st.integers(min_value=0, max_value=30), min_size=6, max_size=6
    ),
)
def test_property_equivalence(spark_prop, data, stocks):
    items = [
        {"seq": i, "product_id": p, "qty": q} for i, (p, q) in enumerate(data)
    ]
    stock = {p: s for p, s in enumerate(stocks)}
    items_df = spark_prop.createDataFrame(
        pd.DataFrame(items), "seq long, product_id long, qty long"
    )
    stock_df = spark_prop.createDataFrame(
        pd.DataFrame([{"product_id": p, "stock": s} for p, s in stock.items()]),
        "product_id long, stock long",
    )
    got = {
        r.seq: (r.allocated_qty, r.cancelled)
        for r in allocate_greedy(items_df, stock_df, order_by=("seq",)).collect()
    }
    expected, final = sequential_reference(items, stock)
    assert got == {
        e["seq"]: (e["allocated_qty"], e["cancelled"]) for e in expected
    }
    # invariants: allocated ≤ initial per product; final = initial − Σ
    for p, s in stock.items():
        used = sum(e["allocated_qty"] for e in expected if e["product_id"] == p)
        assert used <= s
        assert final[p] == s - used


@pytest.fixture(scope="module")
def spark_prop(spark):
    # hypothesis + spark: reuse the session-scoped fixture under a
    # module alias (keeps hypothesis from re-creating sessions)
    return spark


def test_bucketed_equals_per_product_grouping(spark, sf_smoke):
    """buckets=N groups many products per pandas frame; results must be
    identical to the one-group-per-product plan (allocation is
    per-product independent and the in-frame scan resets at product
    boundaries)."""
    li = load_table(spark, sf_smoke, "lineitem").select(
        *_ORDER_KEY,
        F.col("l_partkey").alias("product_id"),
        F.col("l_quantity").cast("int").alias("qty"),
    )
    stock_df = load_table(spark, sf_smoke, "part").select(
        F.col("p_partkey").alias("product_id"),
        (F.col("p_size") * 10).alias("stock"),
    )
    per_product = {
        tuple(r[k] for k in _ORDER_KEY): (r.allocated_qty, r.cancelled)
        for r in allocate_greedy(li, stock_df, order_by=_ORDER_KEY).collect()
    }
    bucketed = {
        tuple(r[k] for k in _ORDER_KEY): (r.allocated_qty, r.cancelled)
        for r in allocate_greedy(
            li, stock_df, order_by=_ORDER_KEY, buckets=16
        ).collect()
    }
    assert bucketed == per_product


def test_chained_equals_single_pass(spark):
    """allocate_greedy_chained must produce identical allocations to
    the single-pass scan, including on a pathologically hot product."""
    from candy_store_etl_spark.operators.allocation import (
        allocate_greedy,
        allocate_greedy_chained,
    )

    rows = []
    # hot product 1: 200 items, stock runs out partway
    for s in range(200):
        rows.append((1, s, 3))
    # regular products
    for p in range(2, 12):
        for s in range(5):
            rows.append((p, s, p))
    items = spark.createDataFrame(rows, "product_id int, seq int, qty int")
    stock = spark.createDataFrame(
        [(1, 250)] + [(p, p * 3) for p in range(2, 12)],
        "product_id int, stock int",
    )
    single = {
        (r.product_id, r.seq): (r.allocated_qty, r.cancelled)
        for r in allocate_greedy(items, stock).collect()
    }
    chained = {
        (r.product_id, r.seq): (r.allocated_qty, r.cancelled)
        for r in allocate_greedy_chained(items, stock, chunks=4).collect()
    }
    assert chained == single
    # sanity: the hot product did run out (cancellations exist)
    assert any(c == 1 for (p, _), (a, c) in single.items() if p == 1)

    # chunks="auto" with a tight per-task row budget must force real
    # chaining (hottest product has 200 rows -> ceil(200/64) = 4
    # rounds) and still match the single pass exactly
    auto = {
        (r.product_id, r.seq): (r.allocated_qty, r.cancelled)
        for r in allocate_greedy_chained(
            items, stock, target_chunk_rows=64
        ).collect()
    }
    assert auto == single


def test_chained_auto_degenerates_to_single_pass(spark):
    """With the default 1M-row budget, auto mode on a small dataset
    must pick 1 chunk and return the plain applyInPandas plan — no
    ntile window, no union of rounds."""
    from candy_store_etl_spark.operators.allocation import (
        allocate_greedy_chained,
    )

    items = spark.createDataFrame(
        [(1, 0, 5), (1, 1, 5), (2, 0, 3)], "product_id int, seq int, qty int"
    )
    stock = spark.createDataFrame([(1, 7), (2, 9)], "product_id int, stock int")
    df = allocate_greedy_chained(items, stock)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan and "ntile" not in plan.lower()
    got = {(r.product_id, r.seq): r.allocated_qty for r in df.collect()}
    assert got == {(1, 0): 5, (1, 1): 0, (2, 0): 3}


def test_null_qty_raises_loudly(spark):
    """A null qty must fail, not silently become INT64_MIN 'invalid
    negative' (numpy NaN->int64 emits garbage with only a warning —
    the pre-vectorization row loop raised ValueError and the kernel
    entry point must keep that contract)."""
    items = spark.createDataFrame(
        [(1, 5, 1), (1, None, 2)], "product_id int, qty int, seq int"
    )
    stock = spark.createDataFrame([(1, 100)], "product_id int, stock int")
    with pytest.raises(Exception) as ei:
        allocate_greedy(items, stock, order_by=("seq",)).collect()
    assert "null" in str(ei.value).lower() or "NaN" in str(ei.value)
