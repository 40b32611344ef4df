"""The zero-job probe evaluation path (r12 optimization).

``tl.inline_probe_rows`` answers probe hashing/coercion on the DRIVER
(inline VALUES folded to a LocalTableScan by ConvertToLocalRelation),
replacing the one-tiny-Spark-job-per-probe form in ``_bloom_hashes``,
``buckets_of_values`` and ``keyset_lookup``'s small-set branch. These
tests pin the three load-bearing properties: (1) zero jobs actually
launch, (2) the hashes are bit-identical to what executors compute
(the whole reason probe hashing goes through Spark), and (3) the
ANSI loud-cast contract survives the fold.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import candy_store_etl_spark.sources.table_log as tl
from candy_store_etl_spark.operators import colocated as co


def _job_count(spark) -> int:
    return len(
        spark.sparkContext.statusTracker().getJobIdsForGroup(None) or []
    )


def test_inline_probe_rows_zero_jobs_and_plan(spark):
    # warm the code path once (first sql() may touch lazy init)
    tl.inline_probe_rows(spark, [1], "bigint", "i, xxhash64(v, 0) AS h")
    before = _job_count(spark)
    rows = tl.inline_probe_rows(
        spark, [577, 33], "bigint", "i, xxhash64(v, 0) AS h0"
    )
    assert _job_count(spark) == before, "probe evaluation launched a job"
    assert [r["i"] for r in rows] == [0, 1]


def test_inline_probe_hashes_match_executor_hashing(spark):
    # the executor-side truth: the same expressions over a real
    # distributed relation
    for vals, dtype in (
        ([577, 33, 901], "bigint"),
        (["src-07", "a b'c", ""], "string"),
        ([3.5, -0.25], "double"),
    ):
        probe = spark.createDataFrame(
            [(str(v),) for v in vals], "v string"
        ).select(F.col("v").cast(dtype).alias("v"))
        expect = [
            (r["h0"], r["h1"])
            for r in probe.select(
                F.xxhash64("v", F.lit(0)).alias("h0"),
                F.xxhash64("v", F.lit(1)).alias("h1"),
            ).collect()
        ]
        got = [
            (r["h0"], r["h1"])
            for r in tl.inline_probe_rows(
                spark,
                [str(v) for v in vals],
                dtype,
                "i, xxhash64(v, 0) AS h0, xxhash64(v, 1) AS h1",
            )
        ]
        assert got == expect, f"hash drift for {dtype}"


def test_inline_probe_loud_cast(spark):
    with pytest.raises(
        Exception, match="INVALID_INLINE_TABLE|CAST_INVALID_INPUT"
    ):
        tl.inline_probe_rows(
            spark, ["not-a-number"], "bigint", "i, xxhash64(v, 0) AS h"
        )


def test_buckets_of_values_zero_jobs(spark, tmp_path):
    d = str(tmp_path / "t")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("x")
    )
    co.write_bucketed(df, d, key_col="k", n_buckets=8)
    co.buckets_of_values(spark, d, [1])  # warm
    before = _job_count(spark)
    buckets = co.buckets_of_values(spark, d, [1, 2, 3, 170])
    assert _job_count(spark) == before, "bucket routing launched a job"
    # and the routing is still CORRECT: each probed key's rows are in
    # the file group its computed bucket names
    for v, b in zip([1, 2, 3, 170], buckets):
        rows = (
            spark.read.parquet(
                *[
                    p
                    for p in tl.snapshot_files(d)
                    if co._group_of_name(p) == b
                ]
            )
            .where(F.col("k") == v)
            .count()
        )
        assert rows == 1, f"key {v} not in its routed bucket {b}"


def _outcome(fn):
    try:
        return ("rows", [tuple(r) for r in fn()])
    except Exception as e:  # noqa: BLE001 — the outcome IS the result
        return ("error", type(e).__name__)


@pytest.mark.parametrize("dtype", ["tinyint", "smallint", "int", "bigint"])
def test_inlined_ints_equal_parameter_markers(spark, dtype):
    # Python ints in the signed 64-bit range are written into the SQL
    # text; everything else binds as a parameter. Both forms must give
    # the same value, hash and loud failure for every integral type.
    cols = "i, v, xxhash64(v) AS h"
    edges = [
        -(1 << 63) - 1, -(1 << 63), -(1 << 63) + 1,
        -(1 << 31) - 1, -(1 << 31), (1 << 31) - 1, 1 << 31,
        -129, -128, 127, 128, -32769, 32767, 32768,
        0, -1, (1 << 63) - 1, 1 << 63,
    ]
    for v in edges:
        inline = _outcome(lambda: tl.inline_probe_rows(spark, [v], dtype, cols))
        marker = _outcome(
            lambda: spark.sql(
                f"SELECT {cols} FROM VALUES (0, CAST(:v0 AS {dtype})) AS t(i, v)",
                args={"v0": v},
            ).collect()
        )
        assert inline[0] == marker[0], (dtype, v, inline, marker)
        if inline[0] == "rows":
            assert inline == marker, (dtype, v)
    # the first value past the type fails loudly in the inlined form
    # (past bigint, the value itself is not inlined)
    over = {"tinyint": 128, "smallint": 32768, "int": 1 << 31}.get(dtype)
    if over is not None:
        assert _outcome(
            lambda: tl.inline_probe_rows(spark, [over], dtype, cols)
        )[0] == "error"
    # a mixed probe set keeps each value's own form
    rows = tl.inline_probe_rows(spark, [5, "7", True], "bigint", "i, v")
    assert [tuple(r) for r in rows] == [(0, 5), (1, 7), (2, 1)]
