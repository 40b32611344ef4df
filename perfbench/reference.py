"""Plain-Python reference semantics of the candy pipeline, and the check
of the pipeline's written outputs against them.

The semantics (FIXTURES.md, the reference's data_processor.py):

- items are allocated greedily in file order (day, row in file, item
  position); an item whose ``qty`` exceeds the product's remaining
  stock is cancelled (quantity 0) and takes no stock;
- items with a null ``qty`` are dropped before pricing, and a
  transaction with only null items vanishes from ``orders``;
- ``num_items`` counts cancelled rows;
- money is rounded to 2 dp and compared within the reference CI's
  rtol 1e-2 / atol 0.01.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

RTOL, ATOL = 1e-2, 0.01


class Reference:
    """The reference semantics, fed one day-file at a time, so the
    outputs after each of several growing histories cost one read of
    each day in total."""

    def __init__(self, products_csv: str):
        with open(products_csv) as f:
            self.products = {int(r["product_id"]): r for r in csv.DictReader(f)}
        self.stock = {p: int(r["stock"]) for p, r in self.products.items()}
        self.price = {p: float(r["sales_price"]) for p, r in self.products.items()}
        self.cost = {p: float(r["cost_to_make"]) for p, r in self.products.items()}
        self.lines: list[tuple] = []
        self.orders: list[tuple] = []
        self.daily: dict[str, list] = {}

    def add_day(self, path: str) -> None:
        with open(path) as f:
            txns = json.load(f)
        for t in txns:
            items = [i for i in t["items"] if i["qty"] is not None]
            if not items:
                continue
            total = profit = 0.0
            for it in items:
                p, q = it["product_id"], it["qty"]
                alloc = q if self.stock[p] >= q else 0
                self.stock[p] -= alloc
                line_total = round(alloc * self.price[p], 2)
                self.lines.append((t["transaction_id"], p, alloc, self.price[p], line_total))
                total += line_total
                profit += line_total - alloc * self.cost[p]
            self.orders.append(
                (t["transaction_id"], t["timestamp"], t["customer_id"], round(total, 2), len(items))
            )
            d = self.daily.setdefault(t["timestamp"][:10], [0, 0.0, 0.0])
            d[0] += 1
            d[1] += round(total, 2)
            d[2] += profit

    def outputs(self) -> dict[str, list[tuple]]:
        return {
            "order_line_items": sorted(self.lines, key=lambda r: (r[0], r[1])),
            "orders": sorted(self.orders),
            "products_updated": [
                (p, self.products[p]["product_name"], self.stock[p]) for p in sorted(self.products)
            ],
            "daily_summary": [
                (d, v[0], round(v[1], 2), round(v[2], 2)) for d, v in sorted(self.daily.items())
            ],
        }


def reference_outputs(products_csv: str, day_paths: list[str]) -> dict[str, list[tuple]]:
    ref = Reference(products_csv)
    for path in day_paths:
        ref.add_day(path)
    return ref.outputs()


_TEXT = {"order_datetime", "product_name", "date"}


def _read_csv(path: str) -> pa.Table:
    opts = pacsv.ConvertOptions(column_types={c: pa.string() for c in _TEXT})
    return pacsv.read_csv(path, convert_options=opts)


def _column_mismatch(name: str, got: np.ndarray, want: list, money: bool) -> str | None:
    if money:
        g, w = got.astype(float), np.asarray(want, float)
        bad = np.flatnonzero(np.abs(g - w) > ATOL + RTOL * np.abs(w))
    elif name in _TEXT:
        bad = [i for i, (a, b) in enumerate(zip(got, want)) if a != b and not _same_instant(a, b)]
    else:
        bad = np.flatnonzero(got.astype(np.int64) != np.asarray(want, np.int64))
    if len(bad):
        i = int(bad[0])
        return f"row {i} column {name}: {got[i]!r}, want {want[i]!r}"
    return None


def _same_instant(got: str, want: str) -> bool:
    """Timestamps may be rendered differently by the CSV writer."""
    try:
        return dt.datetime.fromisoformat(got.replace("Z", "")) == dt.datetime.fromisoformat(want)
    except ValueError:
        return False


def check_outputs(out_dir: str, want: dict[str, list[tuple]], last_day: dt.date) -> list[str]:
    """Compare the pipeline's five written CSV outputs with ``want``.
    Returns one message per mismatching output (empty when all match)."""
    errors = []
    specs = {
        "order_line_items": (["order_id", "product_id", "quantity", "unit_price", "line_total"],
                             {"unit_price", "line_total"}),
        "orders": (["order_id", "order_datetime", "customer_id", "total_amount", "num_items"],
                   {"total_amount"}),
        "products_updated": (["product_id", "product_name", "current_stock"], set()),
        "daily_summary": (["date", "num_orders", "total_sales", "total_profit"],
                          {"total_sales", "total_profit"}),
    }
    for name, (cols, money) in specs.items():
        got = _read_csv(os.path.join(out_dir, f"{name}.csv"))
        if got.column_names != cols:
            errors.append(f"{name}: columns {got.column_names}, want {cols}")
            continue
        if got.num_rows != len(want[name]):
            errors.append(f"{name}: {got.num_rows} rows, want {len(want[name])}")
            continue
        if name == "orders":  # the orders output carries no ordering
            got = got.take(np.argsort(got["order_id"].to_numpy(), kind="stable"))
        for j, c in enumerate(cols):
            msg = _column_mismatch(c, got[c].to_numpy(zero_copy_only=False), [r[j] for r in want[name]], c in money)
            if msg:
                errors.append(f"{name}: {msg}")
                break
    fc = _read_csv(os.path.join(out_dir, "sales_profit_forecast.csv")).to_pylist()
    cols = ["date", "forecasted_sales", "forecasted_profit"]
    if len(fc) != 1 or list(fc[0]) != cols:
        errors.append(f"sales_profit_forecast: {fc!r}")
    elif fc[0]["date"] != (last_day + dt.timedelta(days=1)).isoformat():
        errors.append(f"sales_profit_forecast: date {fc[0]['date']}")
    elif not all(math.isfinite(float(fc[0][c])) for c in cols[1:]):
        errors.append(f"sales_profit_forecast: values {fc[0]!r}")
    return errors
