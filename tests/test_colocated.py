"""Storage-partitioned join over bucketed table-log tables
(operators/colocated.py): parity with a plain join, alignment across
mismatched layouts, the zero-data-shuffle plan shape, and the loud
failure modes."""

from __future__ import annotations

import os

import pytest

import pyspark.sql.functions as F

from candy_store_etl_spark.operators import colocated as co
from candy_store_etl_spark.sources import table_log as tl
from candy_store_etl_spark.streaming import cdc


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "left"), str(tmp_path / "right")


def _facts(spark, n=500):
    # keys 0..n-1; values derived so any row loss/dup is visible
    return spark.createDataFrame(
        [(i, i * 3, float(i) / 2) for i in range(n)],
        "k long, a long, b double",
    )


def _dims(spark, n=500):
    # only even keys (and some beyond the fact range) -> both sides
    # have unmatched keys, exercising inner-join semantics
    return spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, n + 100, 2)], "k long, d string"
    )


def _expected(spark, n=500):
    return sorted(
        (i, i * 3, float(i) / 2, f"d{i}") for i in range(0, n, 2)
    )


def test_write_bucketed_records_spec_and_roundtrips(spark, dirs):
    left, _ = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    assert co.bucket_spec(left) == {"key": "k", "n": 8}
    got = sorted(
        (r.k, r.a, r.b) for r in tl.read_snapshot(spark, left).collect()
    )
    assert got == sorted((i, i * 3, float(i) / 2) for i in range(500))
    # one file per non-empty bucket, bucket id in the name
    files = tl.snapshot_files(left)
    assert 1 <= len(files) <= 8
    groups = {cdc._group_of_name(p) for p in files}
    assert groups <= set(range(8))


def test_colocated_join_matches_plain_join(spark, dirs):
    left, right = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    co.write_bucketed(_dims(spark), right, key_col="k", n_buckets=8)
    j = co.colocated_bucket_join(spark, left, right)
    assert j.columns == ["k", "a", "b", "d"]
    got = sorted((r.k, r.a, r.b, r.d) for r in j.collect())
    assert got == _expected(spark)


def test_alignment_survives_compaction(spark, dirs):
    """A side coarsened by maintenance (4 buckets/file) still joins
    bit-identically — at the coarser task granularity."""
    left, right = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    co.write_bucketed(_dims(spark), right, key_col="k", n_buckets=8)
    cdc.compact_warehouse(
        spark, right, key_col="k", n_buckets=8, buckets_per_file=4
    )
    plan = co.colocated_plan(left, right)
    assert len(plan) == 2  # 8 buckets / 4 per file
    for _, lf, rf in plan:
        assert len(lf) == 4 and len(rf) == 1
    got = sorted(
        (r.k, r.a, r.b, r.d)
        for r in co.colocated_bucket_join(spark, left, right).collect()
    )
    assert got == _expected(spark)


def test_plan_moves_no_table_data(spark, dirs):
    """The executed plan's only exchange carries the metadata rows
    (one per bucket group); neither table's parquet is scanned
    JVM-side at all — the SPJ property."""
    left, right = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    co.write_bucketed(_dims(spark), right, key_col="k", n_buckets=8)
    j = co.colocated_bucket_join(spark, left, right)
    j.collect()  # AQE: final plan only after execution
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "FileScan" not in plan
    assert plan.count("Exchange") <= 2  # metadata range-repartition only


def test_mismatched_bucket_counts_refused(spark, dirs):
    left, right = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    co.write_bucketed(_dims(spark), right, key_col="k", n_buckets=16)
    with pytest.raises(ValueError, match="bucket counts differ"):
        co.colocated_plan(left, right)


def test_unbucketed_table_refused(spark, dirs):
    left, right = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    tl.append(_dims(spark), right)  # plain append: no spec
    with pytest.raises(ValueError, match="bucket spec"):
        co.colocated_plan(left, right)


def test_overlapping_nonkey_columns_refused(spark, dirs):
    left, right = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    clash = spark.createDataFrame(
        [(0, 1)], "k long, a long"  # 'a' clashes with the fact column
    )
    co.write_bucketed(clash, right, key_col="k", n_buckets=8)
    with pytest.raises(ValueError, match="overlap"):
        co.colocated_bucket_join(spark, left, right)


def test_different_key_names_join_and_drop_right_key(spark, dirs):
    left, right = dirs
    co.write_bucketed(_facts(spark, 100), left, key_col="k", n_buckets=4)
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 100, 2)], "ck long, d string"
    )
    co.write_bucketed(dim, right, key_col="ck", n_buckets=4)
    j = co.colocated_bucket_join(spark, left, right)
    assert j.columns == ["k", "a", "b", "d"]
    got = sorted((r.k, r.d) for r in j.collect())
    assert got == [(i, f"d{i}") for i in range(0, 100, 2)]


def test_point_lookup_opens_one_file_per_key(spark, dirs):
    left, _ = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    got = co.point_lookup(spark, left, [3, 17, 9999]).collect()
    # key 9999 is absent but its bucket is populated: zero rows for
    # it, no error; present keys carry probe_files == 1 (the contract)
    assert sorted((r.k, r.a, r.probe_files) for r in got) == [
        (3, 9, 1),
        (17, 51, 1),
    ]


def test_point_lookup_survives_coarse_layout(spark, dirs):
    """After compaction to 4 buckets/file a lookup still opens exactly
    ONE file — the coarser group file."""
    left, _ = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    cdc.compact_warehouse(
        spark, left, key_col="k", n_buckets=8, buckets_per_file=4
    )
    got = co.point_lookup(spark, left, [3]).collect()
    assert [(r.k, r.probe_files) for r in got] == [(3, 1)]


def test_bucketed_aggregate_matches_groupby_without_exchange(spark, dirs):
    left, _ = dirs
    rows = [(i % 37, i) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, v long")
    co.write_bucketed(df, left, key_col="k", n_buckets=8)
    agg = co.bucketed_aggregate(
        spark, left, [("v", "sum", "v_sum"), ("v", "count", "n")]
    )
    got = sorted((r.k, r.v_sum, r.n) for r in agg.collect())
    want = sorted(
        (r.k, r.v_sum, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("v_sum"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want
    # plan shape: no JVM aggregate, no parquet scan, only the
    # metadata exchange — the aggregation is final inside the tasks
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "Scan parquet" not in plan and "FileScan" not in plan
    assert plan.count("Exchange") <= 2


def test_multi_join_three_tables_matches_chained_join(spark, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    fa = spark.createDataFrame(
        [(i % 50, i) for i in range(600)], "k long, x long"
    )
    fb = spark.createDataFrame(
        [(i, i * 2) for i in range(0, 50)], "k long, y long"
    )
    fc = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(0, 50, 2)], "ck long, s string"
    )
    co.write_bucketed(fa, a, key_col="k", n_buckets=8)
    co.write_bucketed(fb, b, key_col="k", n_buckets=8)
    co.write_bucketed(fc, c, key_col="ck", n_buckets=8)
    j = co.colocated_multi_join(spark, [a, b, c])
    assert j.columns == ["k", "x", "y", "s"]
    got = sorted((r.k, r.x, r.y, r.s) for r in j.collect())
    want = sorted(
        (r.k, r.x, r.y, r.s)
        for r in fa.join(fb, "k")
        .join(fc, fa["k"] == fc["ck"])
        .select("k", "x", "y", "s")
        .collect()
    )
    assert got == want and got  # even anchor keys only
    # still zero table-data exchange, zero parquet scans, ONE wave
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "FileScan" not in plan
    assert plan.count("Exchange") <= 2


def test_multi_join_mixed_layout_and_guards(spark, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    fa = spark.createDataFrame(
        [(i, i) for i in range(100)], "k long, x long"
    )
    co.write_bucketed(fa, a, key_col="k", n_buckets=8)
    co.write_bucketed(
        fa.select("k", F.col("x").alias("y")), b, key_col="k", n_buckets=8
    )
    co.write_bucketed(
        fa.select("k", F.col("x").alias("z")), c, key_col="k", n_buckets=8
    )
    # coarsen the MIDDLE table: alignment still holds
    cdc.compact_warehouse(
        spark, b, key_col="k", n_buckets=8, buckets_per_file=4
    )
    got = sorted(
        (r.k, r.x, r.y, r.z)
        for r in co.colocated_multi_join(spark, [a, b, c]).collect()
    )
    assert got == [(i, i, i, i) for i in range(100)]
    with pytest.raises(ValueError, match=">= 2"):
        co.colocated_multi_join(spark, [a])
    d = str(tmp_path / "d")
    co.write_bucketed(
        fa.select("k", F.col("x").alias("w")), d, key_col="k", n_buckets=16
    )
    with pytest.raises(ValueError, match="bucket counts differ"):
        co.colocated_multi_join(spark, [a, d])


def test_routing_relation_stripes_over_cap(spark):
    """Past the 2x-defaultParallelism task cap, consecutive routing
    rows (a split group's chunks are enumerated consecutively) must
    land in DIFFERENT slices — round-robin striping (r13; the r12
    contiguous slicing could re-serialize several chunks of one heavy
    group into a single task). Under the cap: one row per partition,
    nothing shared. Contents are order-independent by contract, so
    only the placement is asserted."""
    from pyspark.sql import functions as F

    from candy_store_etl_spark.operators.colocated import _routing_relation

    dp = spark.sparkContext.defaultParallelism
    cap = 2 * dp
    m = cap * 3 + 1  # well past the cap, non-divisible
    rows = [(i,) for i in range(m)]
    df = _routing_relation(spark, rows, "idx int").withColumn(
        "part", F.spark_partition_id()
    )
    got = {r["idx"]: r["part"] for r in df.collect()}
    assert sorted(got) == list(range(m))  # nothing lost or duplicated
    assert len(set(got.values())) == cap  # capped task count
    # striping: consecutive original indices never share a slice
    # (stripe stride is ~n; contiguous-run slicing would violate this
    # for every in-run pair)
    shared = sum(1 for i in range(m - 1) if got[i] == got[i + 1])
    assert shared == 0, f"{shared} consecutive pairs share a slice"
    # under the cap: exactly one row per partition
    small = _routing_relation(spark, [(i,) for i in range(dp)], "idx int")
    parts = small.withColumn("p", F.spark_partition_id()).collect()
    assert len({r["p"] for r in parts}) == dp


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_every_operator_reads_pre_evolution_files_like_a_snapshot_read(spark, tmp_path):
    """A bucket group holding files from before an added column: each
    co-located operator returns the rows the same computation over a
    (filtered) snapshot read returns, the evolved column null for old
    rows."""
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    co.write_bucketed(
        spark.createDataFrame([(i % 60, i) for i in range(120)], "k long, a long"),
        left, key_col="k", n_buckets=4,
    )
    co.write_bucketed(
        spark.createDataFrame(
            [(i % 90, i, f"s{i % 7}") for i in range(120, 300)],
            "k long, a long, src string",
        ),
        left, key_col="k", n_buckets=4, mode="append",
    )
    co.write_bucketed(_dims(spark, 80), right, key_col="k", n_buckets=4)
    snap_l, snap_r = tl.read_snapshot(spark, left), tl.read_snapshot(spark, right)
    assert snap_l.filter(F.col("src").isNull()).count() == 120
    for how in ("inner", "left"):
        want = snap_l.join(snap_r, "k", how).select("k", "a", "src", "d")
        assert _rows(co.colocated_bucket_join(spark, left, right, how)) == _rows(want), how
        assert _rows(co.colocated_multi_join(spark, [left, right], how)) == _rows(want), how
    ranged = co.colocated_bucket_join(spark, left, right, left_range=("a", 50, 200))
    want = snap_l.filter(F.col("a").between(50, 200)).join(snap_r, "k")
    assert _rows(ranged) == _rows(want.select("k", "a", "src", "d"))
    aggs = [("a", "sum", "a_sum"), ("src", "count", "n_src")]
    rolled = snap_l.groupBy("k").agg(
        F.sum("a").alias("a_sum"), F.count("src").alias("n_src")
    )
    assert _rows(co.bucketed_aggregate(spark, left, aggs)) == _rows(rolled)
    for how in ("inner", "left"):
        want = rolled.join(snap_r, "k", how)
        got = co.colocated_aggregate_join(spark, left, right, aggs, how)
        assert _rows(got) == _rows(want), how


def test_pair_join_equals_two_table_multi_join(spark, dirs):
    """The planner's two-side face and its N-side use agree: the pair
    join and the two-table star join give the same columns and rows."""
    left, right = dirs
    co.write_bucketed(_facts(spark), left, key_col="k", n_buckets=8)
    co.write_bucketed(_dims(spark), right, key_col="k", n_buckets=8)
    for how in ("inner", "left"):
        pair = co.colocated_bucket_join(spark, left, right, how)
        star = co.colocated_multi_join(spark, [left, right], how)
        assert pair.schema == star.schema, how
        assert _rows(pair) == _rows(star), how


def test_skew_split_anchor_with_empty_satellite_group(spark, tmp_path):
    """A skew-split anchor whose satellite is empty in most bucket
    groups, under ``how="left"``: every chunk of such a group reads the
    satellite as an empty table and null-fills, so the split join equals
    the unsplit one."""
    anchor, sat = str(tmp_path / "a"), str(tmp_path / "s")
    co.write_bucketed(_facts(spark, 200), anchor, key_col="k", n_buckets=4)
    for lo in (200, 400):
        co.write_bucketed(
            spark.createDataFrame(
                [(i, i * 3, float(i) / 2) for i in range(lo, lo + 200)],
                "k long, a long, b double",
            ),
            anchor, key_col="k", n_buckets=4, mode="append",
        )
    co.write_bucketed(
        spark.createDataFrame([(7, "only")], "k long, d string"),
        sat, key_col="k", n_buckets=4,
    )
    tasks = co._split_skewed_groups(co.colocated_plan(anchor, sat, "left"), 60)
    assert any("#" in s for _, lf, rf in tasks if not rf for s in lf)
    want = sorted((i, i * 3, float(i) / 2, "only" if i == 7 else None) for i in range(600))
    for join in (
        lambda **kw: co.colocated_bucket_join(spark, anchor, sat, "left", **kw),
        lambda **kw: co.colocated_multi_join(spark, [anchor, sat], "left", **kw),
    ):
        assert sorted(map(tuple, join(max_task_rows=60).collect())) == want
        assert sorted(map(tuple, join().collect())) == want
