"""``candy_nightly``: the paper's nested-JSON daily batch.

Each pass adds one new day-file to a seeded history and runs
``plans.candy_pipeline.run_pipeline`` over every day so far, writing
the five outputs as single CSV files as the reference does. It is the
only workload that drives nested JSON ingest, the grouped-map
allocation, tracked caching, the forecast and the CSV sinks. The
history holds more than 32 day-files, so building the plan takes
Spark's parallel file-listing path. Because a new day arrives on every
pass, only work truly shared between passes can skip re-parsing input.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from . import gen
from .reference import Reference, check_outputs

HISTORY_DAYS = 34
WARM_PASSES = 5
OUTPUTS = ("order_line_items", "products_updated", "orders", "daily_summary", "sales_profit_forecast")


class CandyNightly:
    MIN_OPS = 3

    def fixtures(self, run, fixture_dir: str) -> None:
        self.dir = fixture_dir
        self.input_dir = os.path.join(fixture_dir, "input")
        with run.span("sources.scratch.build"):
            self.gen, self.paths = gen.write_candy(self.input_dir, run.seed, HISTORY_DAYS)
        self.passes: list[tuple[str, int]] = []  # (output dir, days used)

    def warm_up(self, run) -> None:
        """Untimed passes over the history: the first passes over data
        of this size are dominated by JIT compilation, and pass time
        keeps falling until about the sixth pass."""
        products = os.path.join(self.input_dir, "products.csv")
        for k in range(WARM_PASSES):
            t0 = time.perf_counter()
            self._pass(run, "setup", list(self.paths), products, os.path.join(self.dir, f"warm{k}"))
            run.add("warmup_pass_s", time.perf_counter() - t0)

    def _pass(self, run, op: str, paths: list[str], products_csv: str, out_dir: str) -> None:
        from candy_store_etl_spark.caching import release_caches
        from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
        from candy_store_etl_spark.sources.candy import read_products
        from candy_store_etl_spark.sources.sinks import save_single_csv

        run.group(f"{op}:build")
        with run.span("plans.build", op):
            outs = run_pipeline(run.spark, paths, read_products(run.spark, products_csv))
        if run.trace:
            run.group(f"{op}:catalyst")
            with run.span("plans.catalyst", op):
                for df in outs.values():
                    df._jdf.queryExecution().executedPlan()
        for name in OUTPUTS:
            run.group(f"{op}:sink:{name}")
            layer = "timeseries.forecast" if name == "sales_profit_forecast" else "sources.sinks.write"
            with run.span(layer, op):
                save_single_csv(outs[name], out_dir, f"{name}.csv")
        if run.trace:
            run.add("caching.cached_mb", _cached_mb(run.spark))
        release_caches()

    def op(self, run, i: int) -> bool:
        self.paths.append(self.gen.write_day(self.input_dir, HISTORY_DAYS + i))
        out_dir = os.path.join(self.dir, f"out{i}")
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.span("pass", f"op{i}"):
                self._pass(run, f"op{i}", list(self.paths), os.path.join(self.input_dir, "products.csv"), out_dir)
        except Exception as e:  # noqa: BLE001 — a failed pass is counted, the run goes on
            run.fail(f"pass {i}: {type(e).__name__}: {e}")
            return False
        run.add("result_s", time.perf_counter() - t0)
        self.passes.append((out_dir, len(self.paths)))
        return True

    def finish(self, run) -> None:
        ref = Reference(os.path.join(self.input_dir, "products.csv"))
        used = 0
        for out_dir, n_days in self.passes:
            for path in self.paths[used:n_days]:
                ref.add_day(path)
            used = n_days
            last = gen.FIRST_DAY + dt.timedelta(days=n_days - 1)
            errors = check_outputs(out_dir, ref.outputs(), last)
            if errors:
                run.fail(f"{out_dir}: " + "; ".join(errors))

    def layers(self, run) -> None:
        run.layers_from_event_log("op")
        n = max(1, run.units)
        run.layer["sources.sinks.write_s"] = run.span_s("sources.sinks.write") / n
        run.layer["timeseries.forecast_s"] = run.span_s("timeseries.forecast") / n


def _cached_mb(spark) -> float:
    """Storage memory of every cached RDD block: the pipeline's tracked
    caches, read before they are released."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20
