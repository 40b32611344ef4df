"""The candy pipeline composed with the table-log/SPJ surface: stage
boundaries become hash-bucketed, versioned table-log tables, and the
orders-rollup-joins-headers pass rides the fused co-located
aggregate-join — zero exchange of line items, rollups, or headers.

``run_pipeline_staged`` (the reference's Airflow DAG done right,
`plans/candy_pipeline.py:234`) exchanges stages via plain parquet: a
resumable boundary, but each stage re-shuffles what the next one
joins, and stage outputs have no history. This variant writes each
stage bucketed on its join key through the table log, so:

- the per-order rollup + headers join (reference's SECOND full scan,
  `data_processor.py:310-326`) runs as ONE task wave over aligned
  bucket groups (``colocated_aggregate_join``) — at 100 TB that
  stage shuffles no table data at all (the routing relation arrives
  pre-sliced one row per task);
- every stage output is a versioned snapshot: yesterday's line items
  are one ``version=`` away (time travel), a re-run lands as a new
  atomic version instead of clobbering parquet in place, and
  downstream consumers can follow the stage's change feed.

Output parity with ``run_pipeline`` is pinned in
``tests/test_candy_colocated.py`` over the reference's own dataset.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import tracked_cache
from ..operators.colocated import colocated_aggregate_join, write_bucketed
from ..sources import table_log as tl
from .candy_pipeline import (
    _ROUND2,
    build_daily_summary,
    build_forecast,
    build_line_items,
    build_products_updated,
    load_daily_transactions,
)


# ONE definition of the fused-orders stage, shared with the
# orchestrated DAG's table_log branch (orchestration/candy_dag.py):
# both claim golden parity, so the profit-term expression, the header
# dedup, the agg list, and the rounding point must not be able to
# drift apart.
FUSED_ORDER_AGGS = [
    ("line_total", "sum", "amount_raw"),
    ("order_id", "count", "num_items"),
    ("profit_term", "sum", "order_profit"),
]


def line_items_with_profit_term(li: DataFrame) -> DataFrame:
    """Stage-1 line items plus the precomputed profit term, so the
    fused rollup is a pure stored-column aggregate."""
    return li.withColumn(
        "profit_term",
        F.col("line_total") - F.col("quantity") * F.col("cost_to_make"),
    )


def dedup_headers(txns: DataFrame) -> DataFrame:
    """One header row per order (reference's dropDuplicates)."""
    return txns.select(
        F.col("transaction_id").alias("order_id"),
        F.col("timestamp").alias("order_datetime"),
        "customer_id",
    ).dropDuplicates(["order_id"])


def fused_orders_select(rolled: DataFrame) -> DataFrame:
    """The golden orders-with-profit projection over the fused
    rollup+join output (reference money rounding on the amount)."""
    return rolled.select(
        "order_id",
        "order_datetime",
        "customer_id",
        _ROUND2(F.col("amount_raw")).alias("total_amount"),
        "num_items",
        "order_profit",
    )


def run_pipeline_tablelog(
    spark: SparkSession,
    transaction_paths: list[str],
    products: DataFrame,
    workdir: str,
    *,
    n_buckets: int = 16,
) -> dict[str, DataFrame]:
    """The five reference outputs with table-log stage boundaries.

    Stage 1 writes line items (plus the precomputed ``profit_term``,
    so the rollup is a pure stored-column aggregate) and the
    deduplicated headers as two tables bucketed on ``order_id`` with
    one committed spec. Stage 2 is the fused SPJ: per-order amount /
    item-count / profit aggregate to completion inside each bucket
    task and join that bucket's headers locally — orders whose items
    were all null-qty vanish exactly as in the reference (inner join).
    Stage 3 appends the orders relation as its own versioned table and
    derives daily summary + forecast from the committed snapshot."""
    li_dir = os.path.join(workdir, "line_items_tl")
    hdr_dir = os.path.join(workdir, "headers_tl")
    orders_dir = os.path.join(workdir, "orders_tl")

    # two write jobs consume txns (line items + headers): cached, the
    # multiLine JSON parse happens once — same rule as run_pipeline
    txns = load_daily_transactions(spark, transaction_paths).transform(
        tracked_cache
    )
    write_bucketed(
        line_items_with_profit_term(build_line_items(txns, products)),
        li_dir,
        key_col="order_id",
        n_buckets=n_buckets,
    )
    write_bucketed(
        dedup_headers(txns),
        hdr_dir,
        key_col="order_id",
        n_buckets=n_buckets,
    )

    rolled = colocated_aggregate_join(
        spark, li_dir, hdr_dir, aggs=FUSED_ORDER_AGGS
    )
    # overwrite, not append: a re-run with the same workdir must
    # REPLACE the orders relation (append would silently double every
    # order in three outputs) — version 0 stays readable for time
    # travel either way
    tl.overwrite(fused_orders_select(rolled), orders_dir)

    orders_full = tl.read_snapshot(spark, orders_dir)
    line_items = tl.read_snapshot(spark, li_dir)
    daily = build_daily_summary(orders_full)
    return {
        "order_line_items": line_items.select(
            "order_id", "product_id", "quantity", "unit_price", "line_total"
        ).orderBy("order_id", "product_id"),
        "products_updated": build_products_updated(line_items, products),
        "orders": orders_full.drop("order_profit").orderBy("order_id"),
        "daily_summary": daily,
        "sales_profit_forecast": build_forecast(daily),
    }


def _ivm_dirs(workdir: str) -> tuple[str, str, str, str]:
    return (
        os.path.join(workdir, "line_items_tl"),
        os.path.join(workdir, "usage_tl"),
        os.path.join(workdir, "orders_tl"),
        os.path.join(workdir, "daily_tl"),
    )


#: (table_dir, meta key) -> (newest version folded, tags seen). The
#: ingest/append ledgers only ever ASK "is this tag committed?"; the
#: cache makes repeated asks read only the commits SINCE the last ask
#: — O(delta) per ingest, where a per-call log_entries walk would go
#: quadratic over a 1000-day run (the exact curve the table-log
#: checkpoints exist to kill). A fresh process pays one full walk.
_META_TAG_CACHE: dict[tuple[str, str], tuple[int, set]] = {}


def _meta_tags(table_dir: str, key: str) -> set:
    latest = tl.current_version(table_dir)
    if latest is None:
        return set()
    seen_v, tags = _META_TAG_CACHE.get((table_dir, key), (-1, set()))
    if seen_v > latest:
        # the table was rebuilt at the same path (version regressed):
        # the cached tags belong to a dead incarnation — a stale ledger
        # here would silently skip real ingests/appends
        seen_v, tags = -1, set()
    for v in range(seen_v + 1, latest + 1):
        t = (tl._read_entry(table_dir, v).get("meta") or {}).get(key)
        if t is not None:
            tags.add(t)
    _META_TAG_CACHE[(table_dir, key)] = (latest, tags)
    return tags


def ingest_days(
    spark: SparkSession,
    day_paths: list[str],
    products: DataFrame,
    workdir: str,
    *,
    n_buckets: int = 16,
    tag: str | None = None,
) -> bool:
    """Ingest ONE increment — one or more day files as a single batch
    (multi-day batches keep the greedy allocation's global (day, row,
    item) order via ``load_daily_transactions``'s day_idx) — then
    drain the maintenance chain. This is the unit the marginal-day
    scaling measurement times; its cost is structurally proportional
    to the increment, never to history, because of how each hop is
    maintained:

    - the ORDERS view is INSERT-ONLY: this data model's orders are
      day-scoped (the reference ingests one collection per day;
      transaction ids never recur), so a batch's order rows are new
      keys and the consumer APPENDS them as new bucketed files —
      history is never read or rewritten. A keyed MERGE here would be
      O(history) per day: a saturating day hashes orders into every
      bucket group, so the merge would rewrite the whole accumulated
      rollup (and its change feed would re-fold it downstream). The
      consumer raises on any non-insert change row — a restatement of
      the line-items stage needs a rebuild, not silent merging.
    - the USAGE and DAILY views are CDC merges, but their state is
      DIMENSION-sized (products; distinct dates), so the merge
      rewrite is bounded by the view's own small size, not by fact
      history.

    Crash repair: the drains run FIRST (catch-up) as well as after
    the append — a prior ingest that died between its append and its
    drains is repaired before the allocation reads the usage
    snapshot, and every layer is idempotent (stream checkpoints, the
    CDC batch ledger, the append ledger in commit meta). Idempotent
    ingest: the increment's ``tag`` (default: the day file's name)
    rides the append commit's meta; an already-ingested tag returns
    False after the catch-up drains."""
    li_dir, usage_dir, orders_dir, daily_dir = _ivm_dirs(workdir)

    from ..sources import table_log_source
    from ..streaming.cdc import change_sign, make_routed_cdc_sink
    from ..streaming.events import run_stream_foreach_batch

    table_log_source.register(spark)
    if tag is None:
        if len(day_paths) != 1:
            raise ValueError("multi-day increments need an explicit tag")
        tag = os.path.basename(day_paths[0])

    _sign = change_sign

    def append_orders(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in _meta_tags(orders_dir, "cdc_batch"):
            return  # replayed epoch: the committed append IS the marker
        # the guard scans only the BATCH's files (day-sized), never
        # the table
        if batch_df.filter(
            F.col("_change_type") != "insert"
        ).limit(1).count():
            raise ValueError(
                "orders view is insert-only: the line-items stage must "
                "stay append-only (a restatement needs a downstream "
                "rebuild, not a silent merge)"
            )
        rows = batch_df.groupBy("order_id").agg(
            F.sum("line_total").alias("amount_raw"),
            F.count(F.lit(1)).alias("num_items"),
            F.sum("profit_term").alias("order_profit"),
            F.max("order_datetime").alias("order_datetime"),
            F.max("customer_id").alias("customer_id"),
        )
        write_bucketed(
            rows,
            orders_dir,
            key_col="order_id",
            n_buckets=n_buckets,
            mode=(
                "append"
                if tl.current_version(orders_dir) is not None
                else "overwrite"
            ),
            extra_meta={"cdc_batch": batch_id},
        )

    def _inc_usage(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("product_id").agg(
            F.sum(_sign() * F.col("quantity")).alias("used_total")
        )

    def _inc_daily(batch_df: DataFrame) -> DataFrame:
        # signed folding over the orders feed: inserts-only in normal
        # operation (each order folds exactly ONCE, so no repeated
        # float +x/-x residue can accumulate), signed for robustness
        s = _sign()
        return (
            batch_df.withColumn(
                "date",
                F.date_format(F.to_date("order_datetime"), "yyyy-MM-dd"),
            )
            .groupBy("date")
            .agg(
                F.sum(s).alias("num_orders"),
                F.sum(s * _ROUND2(F.col("amount_raw"))).alias("sales_raw"),
                F.sum(s * F.col("order_profit")).alias("profit_raw"),
            )
        )

    sink_usage = make_routed_cdc_sink(
        usage_dir,
        _inc_usage,
        key_col="product_id",
        add_cols=("used_total",),
        n_buckets=4,
    )
    sink_daily = make_routed_cdc_sink(
        daily_dir,
        _inc_daily,
        key_col="date",
        add_cols=("num_orders", "sales_raw", "profit_raw"),
        n_buckets=n_buckets,
    )

    def _drain(src_dir: str, sink, ckpt: str) -> None:
        run_stream_foreach_batch(
            spark.readStream.format("table_log")
            .option("path", src_dir)
            .option("changeFeed", "true")
            .load(),
            sink,
            checkpoint_dir=os.path.join(workdir, ckpt),
        )

    def _drain_all() -> None:
        # line-items feed -> orders (insert-only append) + usage;
        # the ORDERS feed -> daily. Checkpoints persist in workdir, so
        # each drain processes exactly the not-yet-consumed commits.
        if tl.current_version(li_dir) is not None:
            _drain(li_dir, append_orders, "ckpt_orders")
            _drain(li_dir, sink_usage, "ckpt_usage")
        if tl.current_version(orders_dir) is not None:
            _drain(orders_dir, sink_daily, "ckpt_daily")

    # catch-up BEFORE the ledger check and the usage read: repairs a
    # prior ingest that crashed between append and drains (cheap when
    # clean — the streams see zero new commits)
    _drain_all()
    if tag in _meta_tags(li_dir, "day"):
        return False

    txns = load_daily_transactions(spark, day_paths)
    # remaining stock = catalog stock minus MERGED usage: the one
    # carried state the sequential greedy allocation needs (per
    # product — dimension-sized, never the line-item history)
    if tl.current_version(usage_dir) is not None:
        usage = tl.read_snapshot(spark, usage_dir)
        day_products = (
            products.join(F.broadcast(usage), "product_id", "left")
            .withColumn(
                "stock",
                (
                    F.col("stock") - F.coalesce("used_total", F.lit(0))
                ).cast("int"),
            )
            .drop("used_total")
        )
    else:
        day_products = products
    # the line items carry their order headers (order_datetime,
    # customer_id), which the insert-only orders view folds
    li_day = line_items_with_profit_term(build_line_items(txns, day_products))
    write_bucketed(
        li_day,
        li_dir,
        key_col="order_id",
        n_buckets=n_buckets,
        mode=(
            "append" if tl.current_version(li_dir) is not None
            else "overwrite"
        ),
        extra_meta={"day": tag},
    )
    _drain_all()
    return True


def read_pipeline_outputs(
    spark: SparkSession, workdir: str, products: DataFrame
) -> dict[str, DataFrame]:
    """The five reference outputs, read from the maintained tables'
    current snapshots (no recomputation — the maintenance already
    paid it)."""
    li_dir, _, orders_dir, daily_dir = _ivm_dirs(workdir)
    line_items = tl.read_snapshot(spark, li_dir)
    orders_tbl = tl.read_snapshot(spark, orders_dir)
    orders_full = orders_tbl.select(
        "order_id",
        "order_datetime",
        "customer_id",
        _ROUND2(F.col("amount_raw")).alias("total_amount"),
        "num_items",
        "order_profit",
    )
    daily = (
        tl.read_snapshot(spark, daily_dir)
        .filter(F.col("num_orders") > 0)
        .select(
            "date",
            "num_orders",
            _ROUND2(F.col("sales_raw")).alias("total_sales"),
            _ROUND2(F.col("profit_raw")).alias("total_profit"),
        )
        .orderBy("date")
    )
    return {
        "order_line_items": line_items.select(
            "order_id", "product_id", "quantity", "unit_price", "line_total"
        ).orderBy("order_id", "product_id"),
        "products_updated": build_products_updated(line_items, products),
        "orders": orders_full.drop("order_profit").orderBy("order_id"),
        "daily_summary": daily,
        "sales_profit_forecast": build_forecast(daily),
    }


def run_pipeline_incremental(
    spark: SparkSession,
    transaction_paths: list[str],
    products: DataFrame,
    workdir: str,
    *,
    n_buckets: int = 16,
) -> dict[str, DataFrame]:
    """The candy pipeline as INCREMENTAL VIEW MAINTENANCE — the true
    at-scale answer to the reference's per-day driver loop
    (`data_processor.py:172`): each day's transactions APPEND to the
    line-items stage table, whose change feed maintains the orders
    view, whose own change feed maintains the daily summary —
    maintenance cost at every hop is proportional to the DAY'S DELTA,
    never a stage rescan, so day 1000 costs what day 10 did.

    The chain (all table-log tables under ``workdir``):

    - ``line_items_tl`` — append-only history, bucketed on order_id,
      each row carrying the header attributes (order_datetime,
      customer_id) and the precomputed profit term: the
      denormalization that keeps the downstream hops join-free.
    - ``usage_tl`` — per-product allocated quantity, maintained from
      the line-items feed: the next day's greedy allocation reads
      REMAINING stock from it (stock minus merged usage) instead of
      re-aggregating history. Greedy allocation is sequential by
      construction, so day-at-a-time allocation against the carried
      remainder equals the batch pipeline's global
      (day, row, item)-ordered pass exactly.
    - ``orders_tl`` — per-order amount/items/profit (+ the carried
      datetime/customer), maintained from the line-items feed as an
      INSERT-ONLY view: orders are day-scoped in this data model, so
      each batch's order rows are new keys, appended as new bucketed
      files — never merged, never rewriting history (see
      ``ingest_days`` for why a keyed merge here would be O(history)
      per day).
    - ``daily_tl`` — per-date orders/sales/profit, maintained from the
      ORDERS table's change feed with signed folding (dimension-sized
      state, so its CDC merge is bounded by the view, not by fact
      history — cdf_matview_chain's telescoping).

    Every maintained table is versioned: a crashed day replays
    idempotently (the CDC ledger), and yesterday's warehouse is one
    ``version=`` away. Re-invoking over the same workdir with an
    extended path list ingests only the new days (the append commit's
    meta is the day ledger). Outputs match ``run_pipeline``'s five
    (parity pinned in tests over the reference's own dataset)."""
    for day_path in transaction_paths:
        ingest_days(
            spark, [day_path], products, workdir, n_buckets=n_buckets
        )
    return read_pipeline_outputs(spark, workdir, products)
