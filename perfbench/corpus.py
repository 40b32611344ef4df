"""``corpus_sf1``: six curation, dedup, sketch and similarity queries
over a seeded document corpus and vector set.

Each pass materializes the six registered queries below, all of which
have DuckDB oracles. The workload is executor-bound: it carries the
dedup, sketch, text and similarity operators and the shuffle, reads
parquet, and bypasses JSON ingest, the allocation and the table log.
"""

from __future__ import annotations

import hashlib
import os
import time

from . import gen

QUERIES = (
    "pretraining_pipeline_funnel",
    "minhash_neardup_pairs_portable",
    "exact_substring_dup_pairs",
    "bloom_decontaminate_docs",
    "heavy_hitter_tokens",
    "ann_topk_lsh",
)
N_DOCS, N_VECS = 50_000, 20_000


def rows_digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: each row's values as
    strings, ordered by column name; rows sorted."""
    canon = sorted(
        tuple(str(v) for _, v in sorted(zip(columns, r), key=lambda p: p[0])) for r in rows
    )
    return hashlib.md5(repr(canon).encode()).hexdigest()


class CorpusSf1:
    MIN_OPS = 2

    def fixtures(self, run, fixture_dir: str) -> None:
        from candy_store_etl_spark.plans import query_map

        self.fns = query_map()
        self.dir = fixture_dir
        self.data = os.path.join(fixture_dir, "data")
        with run.span("sources.scratch.build"):
            gen.write_corpus(self.data, run.seed, N_DOCS, N_VECS)
        self.digests: list[dict[str, str]] = []

    def warm_up(self, run) -> None:
        """One untimed pass: the first pass is dominated by JIT
        compilation and Python worker start-up."""
        self._pass(run, "setup", self.data)

    def _pass(self, run, op: str, sf_dir: str) -> dict[str, str]:
        from candy_store_etl_spark.caching import release_caches

        out = {}
        for q in QUERIES:
            run.group(f"{op}:build:{q}")
            t0 = time.perf_counter()
            try:
                with run.span("plans.build", op):
                    df = self.fns[q](run.spark, sf_dir)
                if run.trace:
                    run.group(f"{op}:catalyst:{q}")
                    with run.span("plans.catalyst", op):
                        df._jdf.queryExecution().executedPlan()
                run.group(f"{op}:exec:{q}")
                with run.span("exec", op):
                    rows = df.collect()
                out[q] = rows_digest(df.columns, rows)
            finally:
                release_caches()
            run.add(f"query.{q}_s", time.perf_counter() - t0)
        return out

    def op(self, run, i: int) -> bool:
        run.attempted += len(QUERIES)
        t0 = time.perf_counter()
        try:
            with run.span("pass", f"op{i}"):
                digests = self._pass(run, f"op{i}", self.data)
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            run.fail(f"pass {i}: {type(e).__name__}: {e}", len(QUERIES))
            return False
        run.add("result_s", time.perf_counter() - t0)
        self.digests.append(digests)
        return True

    def finish(self, run) -> None:
        import duckdb
        from candy_store_etl_spark.plans import oracle_sql_map

        oracles = oracle_sql_map()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q in QUERIES:
            res = con.execute(oracles[q])
            want = rows_digest([d[0] for d in res.description], res.fetchall())
            bad = sum(d[q] != want for d in self.digests)
            if bad:
                run.fail(f"{q}: {bad} of {len(self.digests)} passes differ from the DuckDB oracle", bad)
        con.close()

    def layers(self, run) -> None:
        from .trace import merge

        groups = run.layers_from_event_log("op")
        n = max(1, run.units)
        for q in QUERIES:
            t = merge(groups, lambda g, q=q: g.startswith("op") and g.endswith(f":{q}"))
            run.layer[f"operators.{q}.task_s"] = t["task_s"] / n
