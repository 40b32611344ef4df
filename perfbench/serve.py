"""``serve_mixed``: one closed-loop client against table-log tables.

Set-up builds two tables from a seeded ``lineitem``-shaped relation
(order key ``okey``, price in ``cents``): the 128-bucket order-key
layout the ``serve_probe_*`` queries use, and a range-clustered copy
whose files carry committed ``okey`` stats. The client then issues a
fixed seeded sequence of requests, one after another:

- 80% point probes through ``operators.colocated.serve()`` with 1, 4
  or 16 keys, some of them keys appended earlier in the pass;
- 10% range probes through ``serve_range()`` on the clustered copy;
- 10% small appends through ``write_bucketed(mode="append")``.

These are short requests, where route choice, log resolution and plan
construction dominate. Every append adds files to the bucketed table,
so later probes resolve a longer log; writes sit beside reads on the
same table-log layer. Each pass starts from a zero-copy clone of the
freshly built table, so every pass sees the same growth.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from . import gen

N_ORDERS = 30_000
N_BUCKETS = 128
RANGE_FILES = 16
REQUESTS_PER_PASS = 60
WARM_PASSES = 3
APPEND_ORDERS = 8
POINT_KEYS = (1, 4, 16)
RANGE_WIDTHS = (50, 200, 400)
SCHEMA = "okey long, cents long"


def make_requests(seed: int) -> list[tuple]:
    """The fixed request sequence of one pass:
    ``("point", keys)``, ``("range", lo, hi)`` or ``("append", batch)``.

    The shape of the sequence is the same for every seed: request
    ``j`` is an append when ``j % 10 == 4``, a range probe when
    ``j % 10 == 9`` and a point probe otherwise; point probes cycle
    through 1, 4 and 16 keys, and every fourth point probe after the
    first append asks for a key appended earlier in the pass. The seed
    picks the keys, the batch and the range bounds, so two seeds give
    requests of the same mix and cost.
    """
    rng = np.random.default_rng([seed, 30])
    out: list[tuple] = []
    n_appends = n_points = 0
    for j in range(REQUESTS_PER_PASS):
        if j % 10 == 4:
            out.append(("append", n_appends))
            n_appends += 1
        elif j % 10 == 9:
            lo = int(rng.integers(1, N_ORDERS - 400))
            out.append(("range", lo, lo + RANGE_WIDTHS[(j // 10) % len(RANGE_WIDTHS)]))
        else:
            k = POINT_KEYS[n_points % len(POINT_KEYS)]
            keys = [int(x) for x in rng.choice(np.arange(1, N_ORDERS + 1), k, replace=False)]
            if n_appends and n_points % 4 == 0:
                # a key from a batch appended earlier in this pass
                b = int(rng.integers(0, n_appends))
                keys[0] = _batch_first_key(b) + int(rng.integers(0, APPEND_ORDERS))
            n_points += 1
            out.append(("point", sorted(keys)))
    return out


def _batch_first_key(batch: int) -> int:
    return N_ORDERS + 1 + batch * APPEND_ORDERS


class ServeMixed:
    MIN_OPS = REQUESTS_PER_PASS

    def fixtures(self, run, fixture_dir: str) -> None:
        from candy_store_etl_spark.operators.colocated import write_bucketed
        from candy_store_etl_spark.sources import table_log as tl

        self.dir = fixture_dir
        self.requests = make_requests(run.seed)
        self.base = os.path.join(fixture_dir, "base.parquet")
        pq.write_table(gen.lineitem_rows(run.seed, N_ORDERS), self.base)
        n_batches = sum(r[0] == "append" for r in self.requests)
        self.batches = []
        for b in range(n_batches):
            path = os.path.join(fixture_dir, f"batch{b}.parquet")
            pq.write_table(gen.lineitem_rows(run.seed, APPEND_ORDERS, _batch_first_key(b)), path)
            self.batches.append(path)
        self.lines = os.path.join(fixture_dir, "lines")
        self.ranged = os.path.join(fixture_dir, "ranged")
        with run.span("sources.scratch.build"):
            df = run.spark.read.schema(SCHEMA).parquet(self.base)
            write_bucketed(df, self.lines, key_col="okey", n_buckets=N_BUCKETS)
            tl.append(df, self.ranged)
            tl.compact(run.spark, self.ranged, target_files=RANGE_FILES, sort_by="okey", stats_cols=["okey"])
        self.table = None
        self.seen: list[tuple] = []  # (request, batches visible, rows)

    def warm_up(self, run) -> None:
        """Untimed passes of the request sequence, each on a new clone
        of the bucketed table: the first pass is dominated by JIT
        compilation, and latencies settle from the second on."""
        from candy_store_etl_spark.sources import table_log as tl

        for k in range(WARM_PASSES):
            warm = os.path.join(self.dir, f"warm{k}")
            tl.clone_table(self.lines, warm)
            for req in self.requests:
                self._request(run, "setup", req, warm)

    def _request(self, run, op: str, req: tuple, table: str):
        """Run one request; returns ``(rows, info)`` for a probe and
        ``(None, None)`` for an append."""
        from candy_store_etl_spark.operators.colocated import serve, serve_range, write_bucketed

        if req[0] == "append":
            run.group(f"{op}:write")
            batch = run.spark.read.schema(SCHEMA).parquet(self.batches[req[1]])
            with run.span("table_log.append", op):
                write_bucketed(batch, table, key_col="okey", n_buckets=N_BUCKETS, mode="append")
            return None, None
        # serve()/serve_range() choose the route and return the planned
        # DataFrame: for a probe, this is the plan build
        run.group(f"{op}:build")
        with run.span("operators.colocated.route", op):
            if req[0] == "point":
                df, info = serve(run.spark, table, req[1])
            else:
                df, info = serve_range(run.spark, self.ranged, "okey", req[1], req[2])
        if run.trace:
            run.group(f"{op}:catalyst")
            with run.span("plans.catalyst", op):
                df._jdf.queryExecution().executedPlan()
        run.group(f"{op}:exec")
        with run.span("serve.exec", op):
            rows = sorted((r[0], r[1]) for r in df.select("okey", "cents").collect())
        return rows, info

    def op(self, run, i: int) -> bool:
        from candy_store_etl_spark.sources import table_log as tl

        j = i % REQUESTS_PER_PASS
        if j == 0:
            self.table = os.path.join(self.dir, f"pass{i // REQUESTS_PER_PASS}")
            tl.clone_table(self.lines, self.table)
            self.appended = 0
            if run.trace:
                self.files_before = len(tl.snapshot_files(self.table))
        req = self.requests[j]
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.span("request", f"op{i}"):
                rows, info = self._request(run, f"op{i}", req, self.table)
        except Exception as e:  # noqa: BLE001 — counted, the client goes on
            run.fail(f"request {i} {req[0]}: {type(e).__name__}: {e}")
            return False
        run.add(f"{req[0]}_s", time.perf_counter() - t0)
        if req[0] == "append":
            self.appended += 1
            if run.trace:
                files = tl.snapshot_files(self.table)
                run.add("table_log.files_per_append", len(files) - self.files_before)
        else:
            run.add(f"route.{info['route']}", 1)
            run.add("files_scanned_frac", info["files_scanned"] / max(1, info["files_total"]))
            self.seen.append((req, self.appended, rows))
        if run.trace:
            self.files_before = len(tl.snapshot_files(self.table))
            if j == REQUESTS_PER_PASS - 1:
                run.add("table_log.snapshot_files", self.files_before)
        return True

    def finish(self, run) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW base AS SELECT * FROM read_parquet('{self.base}')")
        for req, n_batches, rows in self.seen:
            if req[0] == "range":
                want = con.execute(
                    "SELECT okey, cents FROM base WHERE okey BETWEEN ? AND ?", [req[1], req[2]]
                ).fetchall()
            else:
                srcs = ["base"] + [f"read_parquet('{p}')" for p in self.batches[:n_batches]]
                keys = ", ".join(str(k) for k in req[1])
                sql = " UNION ALL ".join(f"SELECT okey, cents FROM {s} WHERE okey IN ({keys})" for s in srcs)
                want = con.execute(sql).fetchall()
            if sorted(want) != rows:
                run.fail(f"{req}: {len(rows)} rows, DuckDB has {len(want)}")
        con.close()

    def layers(self, run) -> None:
        run.layers_from_event_log("op")
        s = run.samples
        n_probe = max(1, len(s.get("point_s", ())) + len(s.get("range_s", ())))
        run.layer["operators.colocated.route_s"] = run.span_s("operators.colocated.route") / n_probe
        run.layer["plans.build_s"] = run.span_s("operators.colocated.route") / max(1, run.units)
        run.layer["serve.exec_s"] = run.span_s("serve.exec") / n_probe
        run.layer["table_log.append_s"] = run.span_s("table_log.append") / max(1, len(s.get("append_s", ())))

