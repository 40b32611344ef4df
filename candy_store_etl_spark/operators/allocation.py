"""Greedy first-come-first-served inventory allocation — distributed.

Reference parity: `/root/reference/src/data_processor.py:188-262` runs
a sequential Python loop over *all* line items collected to the driver
(dict of product→stock, scan in source order, cancel when insufficient,
stock carries across days). That design is O(dataset) driver memory.

Key insight (SURVEY.md §2.3, verified by simulation): allocation for
one product is independent of every other product, so the global
sequential scan is exactly equivalent to

    repartition by product → sort each product's items by a global
    sequence key → per-product greedy scan.

This operator implements that as ``groupBy(product).applyInPandas``:
fully parallel across products, no driver state, Arrow-batched. The
per-group recurrence is non-linear (a cancelled item must NOT
decrement stock), so a pure-SQL window cumsum cannot express it —
grouped-map pandas is the right Spark primitive.

At 100 TB: the shuffle is one hash partition on the product key; skew
(one hot product) is bounded by per-product item counts, and the AQE
skew-join splitting doesn't apply to groupBy — for a pathologically
hot key use ``allocate_greedy_chained``, which pre-splits every
product into order-contiguous chunks (spillable window ntile, not an
in-memory pandas group) and chains the carry-over stock between
chunk rounds; result identical to the single pass.

The ordering key must be explicit and deterministic. The reference's
implicit policy is file order; we require the caller to pass
``order_by`` columns (e.g. ``["file_date", "row_in_file"]`` for
reference parity, or ``["timestamp", "order_id", "item_index"]`` as
the documented saner policy).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_cache
from pyspark.sql.types import IntegerType, StructField, StructType

ALLOCATED_COL = "allocated_qty"
CANCELLED_COL = "cancelled"
_STOCK_COL = "__initial_stock"


def _greedy_kernel(
    prod: np.ndarray, qty: np.ndarray, stock: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Exact greedy allocation over rows ALREADY SORTED by
    (product, *order): returns (allocated, cancelled) int64 arrays.

    The recurrence is sequential per product, but most of it is
    provably decidable in one vectorized pass: with cumulative demand
    ``seg`` (positive quantities only) inside each product group, any
    row with ``seg <= stock`` is allocated in the true greedy too —
    cancellations can only INCREASE the remaining stock, so the full-
    demand prefix is a lower bound on feasibility. Only rows from each
    group's FIRST violation onward need the sequential scan (Python
    loop over the violating tails — empty when stock covers demand).
    Measured 3.7x over the row-at-a-time loop on an sf10-shaped bucket
    frame (940k rows, 31k products, 17% cancellations) in isolation;
    end-to-end the grouped-map sort and shuffle keep ~20% of that. The
    semantics are pinned by tests/test_allocation.py's brute-force
    simulation and hypothesis invariants, which exercise this kernel
    through the grouped-map entry points.
    """
    n = len(qty)
    allocated = np.zeros(n, np.int64)
    cancelled = np.zeros(n, np.int64)
    if n == 0:
        return allocated, cancelled
    starts = np.empty(n, dtype=bool)
    starts[0] = True
    starts[1:] = prod[1:] != prod[:-1]
    gidx = np.cumsum(starts) - 1
    # negative qty is invalid input (see allocate_greedy docstring):
    # never allocated, never counted cancelled, never mutates stock —
    # excluded from the demand prefix entirely
    qpos = np.where(qty >= 0, qty, 0)
    cs = np.cumsum(qpos)
    grp_base = (cs - qpos)[starts]  # cumulative demand before each group
    seg = cs - grp_base[gidx]  # inclusive demand prefix within group
    stock_g = stock[starts][gidx]
    certain = (seg <= stock_g) & (qty >= 0)
    allocated[certain] = qty[certain]
    viol = ~certain & (qty >= 0)
    if viol.any():
        vi = np.flatnonzero(viol)
        n_groups = int(gidx[-1]) + 1
        first = np.full(n_groups, -1, np.int64)
        first[gidx[vi][::-1]] = vi[::-1]  # reversed write: first wins
        start_idx = np.flatnonzero(starts)
        ends = np.append(start_idx[1:], n)
        qty_l = qty.tolist()  # list indexing beats ndarray scalar boxing
        for g in np.flatnonzero(first >= 0):
            f, e = int(first[g]), int(ends[g])
            # stock minus everything allocated before f (all certain)
            rem = int(stock_g[f]) - int(seg[f] - qpos[f])
            for i in range(f, e):
                q = qty_l[i]
                if 0 <= q <= rem:
                    allocated[i] = q
                    cancelled[i] = 0
                    rem -= q
                elif q > 0:
                    allocated[i] = 0
                    cancelled[i] = 1
                else:
                    allocated[i] = 0
                    cancelled[i] = 0
    return allocated, cancelled


def _stock_to_int64(raw: np.ndarray) -> np.ndarray:
    """Left-joined stock arrives nullable (NaN/None for unknown
    products → 0 available)."""
    if raw.dtype == object:
        return np.array(
            [0 if v is None or v != v else int(v) for v in raw], np.int64
        )
    if np.issubdtype(raw.dtype, np.floating):
        return np.nan_to_num(raw, nan=0.0).astype(np.int64)
    return raw.astype(np.int64)


def _qty_to_int64(raw: np.ndarray, qty_col: str) -> np.ndarray:
    """Quantities must be REAL integers: a null qty silently cast
    would become INT64_MIN garbage (numpy NaN→int64), which the kernel
    would misclassify as 'invalid negative'. The row-loop this kernel
    replaced raised on NaN — keep failing loudly."""
    if np.issubdtype(raw.dtype, np.floating):
        if np.isnan(raw).any():
            raise ValueError(
                f"items[{qty_col!r}] contains null/NaN quantities — "
                "clean or filter them before allocation (a null qty "
                "has no greedy-scan semantics)"
            )
        return raw.astype(np.int64)
    if raw.dtype == object:
        if any(v is None or v != v for v in raw):
            raise ValueError(
                f"items[{qty_col!r}] contains null quantities — clean "
                "or filter them before allocation"
            )
        return np.array([int(v) for v in raw], np.int64)
    return raw.astype(np.int64)


def grouped_map_buckets(spark) -> int:
    """Bucket count for grouped-map / cogrouped Arrow stages: ~2 task
    waves (2 × total cores) balances per-group Arrow overhead (fewer,
    larger frames win — measured 3× over one-frame-per-product) against
    parallelism and straggler back-fill. The former constant 64 was
    this exact formula evaluated at local[32]; deriving it keeps the
    local value and scales with the cluster (r12 optimization audit).
    Results are bucket-count INVARIANT — the kernels work per key
    inside each frame; bucketing only packs keys into frames
    (tests/test_allocation.py pins unbucketed==16-bucket equality)."""
    return max(16, 2 * spark.sparkContext.defaultParallelism)


def allocate_greedy(
    items: DataFrame,
    stock: DataFrame,
    *,
    product_col: str = "product_id",
    qty_col: str = "qty",
    stock_col: str = "stock",
    order_by: Sequence[str] = ("seq",),
    buckets: int | None = None,
) -> DataFrame:
    """Allocate ``items[qty_col]`` against per-product stock, greedily,
    in ``order_by`` order within each product.

    Returns the input columns plus ``allocated_qty`` (= qty if filled,
    0 if cancelled) and ``cancelled`` (0/1). Stock never goes negative;
    an unfillable item is skipped whole (no partial fills), matching
    the reference (`data_processor.py:216-235`).

    Negative-quantity policy (DELIBERATE divergence): the reference
    (`data_processor.py:204`) allocates whenever ``stock >= qty``, so a
    negative qty is "fulfilled" and silently INCREASES stock — treating
    corrupt input as a return. Here a negative qty is invalid input: it
    is passed through unallocated (``allocated_qty=0``) and NOT counted
    as a customer cancellation (``cancelled=0``), and it never mutates
    stock. Pinned in tests/test_allocation.py; the DuckDB oracle for
    the registered queries (``BETWEEN 0 AND remaining``) encodes the
    same policy.

    ``buckets``: with many low-row-count products, one pandas group per
    product pays the Arrow/pandas per-group overhead thousands of times
    (measured 6.3s -> 2.0s at sf0.1's 20k products). Setting ``buckets``
    groups by ``pmod(hash(product), buckets)`` instead — each task gets
    one frame holding MANY products, sorted (product, *order_by), and
    the scan resets its running stock at product boundaries. Results
    are identical (allocation is per-product independent); keys spread
    uniformly, and per-product skew is the chained variant's job either
    way. Leave ``None`` only when products are few and huge.
    """
    for c in (product_col, qty_col, *order_by):
        if c not in items.columns:
            raise ValueError(f"items is missing required column {c!r}")
    if product_col not in stock.columns or stock_col not in stock.columns:
        raise ValueError(f"stock needs columns {product_col!r}, {stock_col!r}")

    stock_small = stock.select(
        F.col(product_col),
        F.col(stock_col).cast("long").alias(_STOCK_COL),
    )
    # Dimension-sized in practice (catalog of products) → broadcast;
    # items missing from the stock table get 0 available.
    joined = items.join(F.broadcast(stock_small), on=product_col, how="left")

    out_schema = StructType(
        items.schema.fields
        + [
            StructField(ALLOCATED_COL, IntegerType(), False),
            StructField(CANCELLED_COL, IntegerType(), False),
        ]
    )
    order_cols = list(order_by)
    item_cols = list(items.columns)

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        # sorted (product, *order) so one linear pass handles every
        # product in the frame; the running stock resets at product
        # boundaries — identical to one-frame-per-product semantics
        pdf = pdf.sort_values([product_col, *order_cols], kind="mergesort")
        allocated, cancelled = _greedy_kernel(
            pdf[product_col].to_numpy(),
            _qty_to_int64(pdf[qty_col].to_numpy(), qty_col),
            _stock_to_int64(pdf[_STOCK_COL].to_numpy()),
        )
        out = pdf[item_cols].copy()
        out[ALLOCATED_COL] = allocated.astype(np.int32)
        out[CANCELLED_COL] = cancelled.astype(np.int32)
        return out

    if buckets is None:
        return joined.groupBy(product_col).applyInPandas(scan, out_schema)
    key = F.pmod(F.hash(F.col(product_col)), F.lit(buckets))
    return joined.groupBy(key.alias("__bucket")).applyInPandas(scan, out_schema)


def allocate_greedy_chained(
    items: DataFrame,
    stock: DataFrame,
    *,
    chunks: int | str = "auto",
    target_chunk_rows: int = 1_000_000,
    product_col: str = "product_id",
    qty_col: str = "qty",
    stock_col: str = "stock",
    order_by: Sequence[str] = ("seq",),
    buckets: int | None = None,
) -> DataFrame:
    """Hot-key form of ``allocate_greedy``: bounded memory per task.

    ``allocate_greedy`` holds one product's items in a single pandas
    frame — fine until one pathological product owns a billion rows.
    This variant splits every product's items into ``chunks``
    order-contiguous slices (``ntile`` over the ordering key) and runs
    the greedy scan chunk-round by chunk-round, chaining the remaining
    stock between rounds exactly like the inventory carries across the
    reference's days. Each round is fully distributed; driver state is
    just the loop counter. Result is provably identical to the
    single-pass scan (pinned in tests/test_allocation.py) because
    greedy allocation composes: scanning [chunk1; chunk2] equals
    scanning chunk2 with chunk1's remaining stock.

    ``chunks="auto"`` sizes the round count from the data the way AQE
    sizes shuffle partitions from runtime stats: one cheap count
    aggregate finds the hottest product, and the chunk count is
    ``ceil(hottest / target_chunk_rows)`` clamped to [1, 64] — so a
    skew-free dataset degenerates to the plain single pass (zero extra
    rounds) and a pathological key gets exactly the rounds it needs.
    ``target_chunk_rows`` is the per-task pandas-frame budget; the
    default (1M rows ≈ low hundreds of MB Arrow-side) fits default
    executor memory.
    """
    from pyspark.sql import Window

    if chunks == "auto":
        hottest = (
            items.groupBy(product_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n"))
            .first()[0]
            or 0
        )
        chunks = max(1, min(64, -(-int(hottest) // target_chunk_rows)))
    if chunks == 1:
        return allocate_greedy(
            items,
            stock,
            product_col=product_col,
            qty_col=qty_col,
            stock_col=stock_col,
            order_by=order_by,
            buckets=buckets,
        )

    w = Window.partitionBy(product_col).orderBy(
        *[F.col(c) for c in order_by]
    )
    # cache: every round filters this frame — uncached, each round
    # would redo the scan + ntile window
    chunked = items.withColumn("__chunk", F.ntile(chunks).over(w)).transform(tracked_cache)
    remaining = stock.select(product_col, F.col(stock_col).cast("long").alias(stock_col))
    outs: list[DataFrame] = []
    for k in range(1, chunks + 1):
        part = chunked.filter(F.col("__chunk") == k).drop("__chunk")
        out_k = allocate_greedy(
            part,
            remaining,
            product_col=product_col,
            qty_col=qty_col,
            stock_col=stock_col,
            order_by=order_by,
            buckets=buckets,
        ).transform(tracked_cache)
        outs.append(out_k)
        remaining = (
            final_stock(
                out_k, remaining, product_col=product_col, stock_col=stock_col
            )
            .select(
                product_col, F.col("current_stock").cast("long").alias(stock_col)
            )
            .transform(tracked_cache)
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def final_stock(
    allocated_items: DataFrame,
    stock: DataFrame,
    *,
    product_col: str = "product_id",
    stock_col: str = "stock",
) -> DataFrame:
    """Post-allocation stock per product: initial − Σ allocated.

    Replaces the reference's driver-side write-back + left-join merge
    (`data_processor.py:240-259`) with one aggregate.
    """
    used = allocated_items.groupBy(product_col).agg(
        F.sum(ALLOCATED_COL).alias("__used")
    )
    return (
        stock.join(used, on=product_col, how="left")
        .withColumn(
            "current_stock",
            (F.col(stock_col) - F.coalesce(F.col("__used"), F.lit(0))).cast("int"),
        )
        .drop("__used")
    )
