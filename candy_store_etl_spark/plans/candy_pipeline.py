"""The candy-store pipeline: the reference's five output relations as
one single-scan, fully-distributed Spark pipeline.

Reference lifecycle (`/root/reference/src/main.py:146-201`,
`data_processor.py`): per-day Mongo scan → explode items → null-qty
filter → price join → **driver-side** greedy allocation → per-order
rollup → a SECOND full scan for headers → daily summary (two grouped
passes + join) → Prophet forecast on collected arrays.

This pipeline produces byte-compatible outputs with one scan of the
transactions, zero ``collect()`` of fact data, and the allocation
running distributed (operators/allocation.py). The transactions are
consumed once: each line item carries its order's header
(``order_datetime``, ``customer_id``) through the allocation, so the
orders rollup needs no second branch over the transactions:

    transactions → posexplode items (+ header) → filter
        → ⋈ products(price,cost) → allocate_greedy (groupBy product)
        → line_items ─┬─ groupBy order (header of first occurrence)
                      │     → orders (with profit) → daily_summary
                      │                                 → forecast
                      └─ used stock per product → products_updated

The five report projections are defined once (``REPORTS``) and every
form builds its outputs through ``report_outputs``: this one-session
pipeline, the staged DAG's export tasks (``orchestration/candy_dag.py``,
the only staged form) and the maintained tables' reader
(``candy_colocated.read_pipeline_outputs``). Each report ends in one
sorted partition (``repartition(1).sortWithinPartitions``):
``save_single_csv`` writes it through one task anyway, so a global
``orderBy``'s range exchange and its sampling job buy nothing.

Ordering policy: the reference's scan order is *file order* (SURVEY
§2.3 — its README claims chronological, but simulation proves file
order). We pin ``seq = (day_idx, row_in_file, item_idx)`` for golden
parity, and expose ``order_by`` for the documented saner policy
``(timestamp, order_id, item_idx)``.

Known reference bugs fixed here (SURVEY §2.2 op-15, §2.9):
- daily_summary date format ``yyyy-MM-dd`` (golden answers), not the
  unpadded ``yyyy-M-dd`` the reference emits;
- forecaster fits on real dates, not a today-anchored synthetic index.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import tracked_cache

from ..operators.allocation import allocate_greedy, final_stock
from ..sources.candy import read_transactions
from ..timeseries.forecast import forecast_wide

_ROUND2 = lambda c: F.round(c, 2)  # noqa: E731 — reference money rounding

# items-per-transaction bound for the streaming seq key (see
# run_allocation_streaming); guarded by raise_error at build time.
_SEQ_STRIDE = 1 << 20


def load_daily_transactions(
    spark: SparkSession, paths: list[str]
) -> DataFrame:
    """Read per-day transaction files with a deterministic sequence key.

    ONE multi-path scan (a per-file loop of reads costs a py4j round
    trip + listing job per day and unions N plans); ``day_idx`` is
    recovered from the file name, and — each multiLine JSON file being
    a single split — ``monotonically_increasing_id`` enumerates rows
    in file order within each day. At production scale, transactions
    live date-partitioned in parquet and ``seq`` is a real ingest
    column — this reader exists for source parity with the reference's
    per-day Mongo collections.
    """
    names = F.array(*[F.lit(os.path.basename(p)) for p in paths])
    return (
        read_transactions(spark, paths)
        .withColumn(
            "day_idx",
            F.array_position(
                names, F.element_at(F.split(F.input_file_name(), "/"), -1)
            )
            - 1,
        )
        .withColumn("row_in_file", F.monotonically_increasing_id())
    )


def build_line_items(
    transactions: DataFrame, products: DataFrame
) -> DataFrame:
    """order_line_items with allocation applied (reference
    `data_processor.py:136-287`, minus the driver round-trip). Each
    line carries its order's header (``order_datetime``,
    ``customer_id``) through the allocation, so the orders rollup reads
    only the line items."""
    items = (
        transactions.select(
            F.col("transaction_id").alias("order_id"),
            F.col("timestamp").alias("order_datetime"),
            "customer_id",
            "day_idx",
            "row_in_file",
            F.posexplode("items").alias("item_idx", "item"),
        )
        .select(
            "order_id",
            "order_datetime",
            "customer_id",
            "day_idx",
            "row_in_file",
            "item_idx",
            F.col("item.product_id").alias("product_id"),
            F.col("item.qty").alias("qty"),
        )
        # null-qty items are dropped BEFORE pricing (reference :179);
        # a transaction whose items are all null vanishes entirely.
        .filter(F.col("qty").isNotNull())
    )
    priced = items.join(
        F.broadcast(
            products.select(
                "product_id",
                F.col("sales_price").cast("double").alias("unit_price"),
                F.col("cost_to_make").cast("double").alias("cost_to_make"),
            )
        ),
        "product_id",
    )
    stock = products.select("product_id", "stock")
    allocated = allocate_greedy(
        priced,
        stock,
        product_col="product_id",
        qty_col="qty",
        stock_col="stock",
        order_by=("day_idx", "row_in_file", "item_idx"),
    )
    return allocated.select(
        "order_id",
        "product_id",
        F.col("allocated_qty").alias("quantity"),
        "unit_price",
        _ROUND2(F.col("allocated_qty") * F.col("unit_price")).alias("line_total"),
        F.col("cost_to_make"),
        "order_datetime",
        "customer_id",
        "day_idx",
        "row_in_file",
    )


def _single_sorted(df: DataFrame, *cols: str) -> DataFrame:
    """``df`` in one partition sorted by ``cols``: the shape of a
    report bound for ``save_single_csv``, whose ``coalesce(1)`` writes
    through one task anyway, without a global sort's sampling job."""
    return df.repartition(1).sortWithinPartitions(*cols)


def build_products_updated(
    line_items: DataFrame, products: DataFrame
) -> DataFrame:
    """Final stock per product (reference products_updated.csv)."""
    used = line_items.groupBy("product_id").agg(
        F.sum("quantity").alias("__used")
    )
    return _single_sorted(
        products.join(used, "product_id", "left").select(
            "product_id",
            "product_name",
            (F.col("stock") - F.coalesce("__used", F.lit(0)))
            .cast("int")
            .alias("current_stock"),
        ),
        "product_id",
    )


def first_header() -> list:
    """``order_datetime`` and ``customer_id`` of an order's first
    occurrence in file order (``day_idx``, ``row_in_file``), as
    aggregate columns over rows carrying those four columns — the ONE
    header rule of every candy form, so a transaction id repeated
    across day files gets the same header whichever form built it."""
    first = F.min_by(
        F.struct("order_datetime", "customer_id"),
        F.struct("day_idx", "row_in_file"),
    )
    return [
        first.order_datetime.alias("order_datetime"),
        first.customer_id.alias("customer_id"),
    ]


def profit_term() -> Column:
    """One line item's profit: its total minus its allocated units'
    cost to make (a cancelled line contributes zero)."""
    return F.col("line_total") - F.col("quantity") * F.col("cost_to_make")


def build_orders_with_profit(line_items: DataFrame) -> DataFrame:
    """Per-order rollup in ONE grouped pass over the line items (the
    reference re-reads every day's collection a second time for the
    headers, `data_processor.py:310-326`): amount, item count, profit
    AND the header come out of the same shuffle on ``order_id``. The
    header is the one of the order's first occurrence in file order
    (``first_header``), so a transaction id repeated across
    day files yields one order with totals over all its items; a
    transaction whose items are all null has no line items and no
    order. Unordered — the report sink sorts. The golden ``orders``
    output is this minus the ``order_profit`` column."""
    return line_items.groupBy("order_id").agg(
        *first_header(),
        _ROUND2(F.sum("line_total")).alias("total_amount"),
        F.count(F.lit(1)).alias("num_items"),  # counts cancelled rows too
        F.sum(profit_term()).alias("order_profit"),
    )


def build_daily_summary(orders_with_profit: DataFrame) -> DataFrame:
    """Per-day orders/sales/profit in ONE grouped pass over the
    profit-carrying orders relation (reference runs two grouped passes
    + join; op 22-25). Unordered — the report sorts."""
    # golden answers use padded months; the reference's yyyy-M-dd is a
    # bug (SURVEY §2.2 op-15)
    return (
        orders_with_profit.groupBy(F.to_date("order_datetime").alias("date"))
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            _ROUND2(F.sum("total_amount")).alias("total_sales"),
            _ROUND2(F.sum("order_profit")).alias("total_profit"),
        )
        .withColumn("date", F.date_format("date", "yyyy-MM-dd"))
    )


def build_forecast(daily_summary: DataFrame, horizon: int = 1) -> DataFrame:
    """Next-day sales/profit forecast (reference sales_profit_forecast)."""
    return forecast_wide(
        daily_summary.select(
            F.to_date("date").alias("date"), "total_sales", "total_profit"
        ),
        date_col="date",
        metric_cols=["total_sales", "total_profit"],
        horizon=horizon,
    )


def _line_items_report(line_items: DataFrame) -> DataFrame:
    return _single_sorted(
        line_items.select(
            "order_id", "product_id", "quantity", "unit_price", "line_total"
        ),
        "order_id",
        "product_id",
    )


def _orders_report(orders_with_profit: DataFrame) -> DataFrame:
    return _single_sorted(orders_with_profit.drop("order_profit"), "order_id")


def _daily_summary_report(daily: DataFrame) -> DataFrame:
    return _single_sorted(daily, "date")


#: The five reference outputs: name -> (the relations it reads, its
#: projection). The ONE definition of each report's columns and order.
#: Relation names are the staged DAG's artifact names, plus
#: ``products`` for the catalog.
REPORTS = {
    "order_line_items": (("line_items",), _line_items_report),
    "products_updated": (("line_items", "products"), build_products_updated),
    "orders": (("orders",), _orders_report),
    "daily_summary": (("daily_summary",), _daily_summary_report),
    "sales_profit_forecast": (("daily_summary",), build_forecast),
}


def report_outputs(relations: Mapping[str, DataFrame]) -> dict[str, DataFrame]:
    """The five reference outputs over ``relations`` (``line_items``,
    ``products``, the profit-carrying ``orders``, ``daily_summary``),
    each ready for ``save_single_csv``."""
    return {
        name: project(*(relations[r] for r in reads))
        for name, (reads, project) in REPORTS.items()
    }


def run_allocation_streaming(
    spark: SparkSession,
    transaction_paths: list[str],
    products: DataFrame,
    workdir: str,
    *,
    table_name: str = "candy_alloc_stream",
) -> DataFrame:
    """The daily batch loop as Structured Streaming (SURVEY §2.8).

    Each day's file becomes one micro-batch through the stateful
    allocation (``applyInPandasWithState``) — state is the running
    per-product stock, exactly the reference's inventory carry-over
    (`data_processor.py:240-259`) but held by the state store instead
    of a driver dict. Returns the allocation result table; equality
    with the batch pipeline is pinned in tests/test_streaming.py.

    In production the staging step disappears — transactions arrive as
    Kafka/file micro-batches already; this function replays history
    through the same plan.
    """
    from ..streaming.events import (
        run_stream_to_memory,
        streaming_inventory_allocation,
    )

    stage = os.path.join(workdir, "txn_stream")
    os.makedirs(stage, exist_ok=True)
    for i, p in enumerate(transaction_paths):
        day = (
            read_transactions(spark, p)
            .withColumn("row_in_file", F.monotonically_increasing_id())
            .select(
                "row_in_file",
                F.posexplode("items").alias("item_idx", "item"),
            )
            .select(
                F.col("item.product_id").cast("long").alias("product_id"),
                # seq = row * stride + item position. The stride bounds
                # items-per-transaction; a transaction wider than it
                # would interleave seq keys across rows and silently
                # break the streaming-vs-batch ordering parity, so
                # overflow raises instead of corrupting order. 2^20
                # items/transaction is far past any real order; row ids
                # stay small here (single-split multiLine JSON →
                # partition 0), so the product cannot overflow a long.
                F.when(
                    F.col("item_idx") < _SEQ_STRIDE,
                    F.col("row_in_file") * _SEQ_STRIDE + F.col("item_idx"),
                )
                .otherwise(
                    F.raise_error(
                        f"transaction has >= {_SEQ_STRIDE} items; "
                        "seq stride would collide"
                    )
                )
                .alias("seq"),
                F.col("item.qty").alias("qty"),
                F.lit(None).cast("timestamp").alias("event_time"),
            )
            .filter(F.col("qty").isNotNull())
        )
        # one file per day, name-ordered → maxFilesPerTrigger=1 replays
        # the daily loop in order
        tmp = os.path.join(stage, f"_day_{i:02d}")
        day.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob as _glob
        import shutil as _shutil

        (part,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        _shutil.move(part, os.path.join(stage, f"{i:02d}.parquet"))
        _shutil.rmtree(tmp, ignore_errors=True)

    stock0 = {int(r.product_id): int(r.stock) for r in products.collect()}
    stream = (
        spark.readStream.schema(
            "product_id long, seq long, qty int, event_time timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stage)
    )
    out = streaming_inventory_allocation(stream, stock0)
    run_stream_to_memory(out, table_name, output_mode="append")
    return spark.table(table_name)


def run_pipeline(
    spark: SparkSession,
    transaction_paths: list[str],
    products: DataFrame,
) -> dict[str, DataFrame]:
    """All five reference outputs from one transactions scan."""
    # the transactions are consumed once (line items carry the order
    # headers); line_items feeds three downstream relations → cache the
    # (small relative to source) derived relation instead of re-deriving
    line_items = build_line_items(
        load_daily_transactions(spark, transaction_paths), products
    ).transform(tracked_cache)
    # the profit-carrying orders relation and the daily summary are
    # each consumed twice more (orders output + daily ← orders_full;
    # forecast ← daily); caching them cuts the re-derivation chain back
    # to the line items on every output
    orders_full = build_orders_with_profit(line_items).transform(tracked_cache)
    # cached as its report (one sorted partition), the daily summary
    # needs no second sort, and the forecast reads a single partition
    daily = _daily_summary_report(build_daily_summary(orders_full)).transform(
        tracked_cache
    )
    relations = {
        "line_items": line_items,
        "products": products,
        "orders": orders_full,
        "daily_summary": daily,
    }
    return {**report_outputs(relations), "daily_summary": daily}
