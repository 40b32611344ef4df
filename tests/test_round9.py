"""Round-9 surface: the engine-native bucketed write path
(df.write.format("table_log") + bucketBy/nBuckets) and the
streamed-CDC-warehouse co-located join fixture."""

from __future__ import annotations

import os

import pytest

import pyspark.sql.functions as F

from candy_store_etl_spark.operators import colocated as co
from candy_store_etl_spark.sources import table_log as tl
from candy_store_etl_spark.sources import table_log_source
from candy_store_etl_spark.streaming import cdc


def _facts(spark, n=400):
    return spark.createDataFrame(
        [(i, i * 3, float(i) / 2) for i in range(n)],
        "k long, a long, b double",
    )


def _dims(spark, n=400):
    return spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, n + 100, 2)], "k long, d string"
    )


def test_native_write_layout_spec_and_roundtrip(spark, tmp_path):
    """One file per populated bucket, bucket id in the name, spec +
    schema in the commit; contents round-trip; the carrier column is
    NOT stored in the data."""
    d = str(tmp_path / "t")
    co.write_bucketed_native(_facts(spark), d, key_col="k", n_buckets=8)
    assert co.bucket_spec(d) == {"key": "k", "n": 8}
    schema = tl.snapshot_schema(d)
    assert [f.name for f in schema.fields] == ["k", "a", "b"]
    files = tl.snapshot_files(d)
    groups = [cdc._group_of_name(p) for p in files]
    assert len(groups) == len(set(groups))  # one file per bucket
    assert set(groups) <= set(range(8))
    got = sorted((r.k, r.a, r.b) for r in tl.read_snapshot(spark, d).collect())
    assert got == sorted((i, i * 3, float(i) / 2) for i in range(400))


def test_native_written_pair_joins_colocated(spark, tmp_path):
    """Both sides written through the engine writer plan and execute
    the SPJ exactly like library-written tables: identical results to
    the plain join, zero JVM parquet scans."""
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    co.write_bucketed_native(_facts(spark), left, key_col="k", n_buckets=8)
    co.write_bucketed_native(_dims(spark), right, key_col="k", n_buckets=8)
    j = co.colocated_bucket_join(spark, left, right)
    got = sorted((r.k, r.a, r.b, r.d) for r in j.collect())
    assert got == sorted(
        (i, i * 3, float(i) / 2, f"d{i}") for i in range(0, 400, 2)
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "FileScan" not in plan


def test_native_append_widens_groups_not_breaks_them(spark, tmp_path):
    """A matching-spec append adds files to existing groups; the
    planner reads file LISTS per group, so the join result stays
    exact over the widened layout."""
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    co.write_bucketed_native(
        _facts(spark, 200), left, key_col="k", n_buckets=8
    )
    extra = spark.createDataFrame(
        [(i, i * 3, float(i) / 2) for i in range(200, 400)],
        "k long, a long, b double",
    )
    co.write_bucketed_native(
        extra, left, key_col="k", n_buckets=8, mode="append"
    )
    co.write_bucketed_native(_dims(spark), right, key_col="k", n_buckets=8)
    assert tl.current_version(left) == 1
    j = co.colocated_bucket_join(spark, left, right)
    got = sorted((r.k, r.a, r.b, r.d) for r in j.collect())
    assert got == sorted(
        (i, i * 3, float(i) / 2, f"d{i}") for i in range(0, 400, 2)
    )


def test_native_append_mismatched_spec_refused(spark, tmp_path):
    d = str(tmp_path / "t")
    co.write_bucketed_native(_facts(spark), d, key_col="k", n_buckets=8)
    with pytest.raises(Exception, match="layouts must match"):
        co.write_bucketed_native(
            _facts(spark), d, key_col="k", n_buckets=4, mode="append"
        )


def test_native_write_without_carrier_column_refused(spark, tmp_path):
    """Writing with bucketBy but no engine-computed carrier column
    must fail loudly, pointing at the helper — a caller-supplied
    bucket id could disagree with the JVM hash silently."""
    table_log_source.register(spark)
    with pytest.raises(Exception, match="write_bucketed_native"):
        (
            _facts(spark)
            .write.format("table_log")
            .option("path", str(tmp_path / "t"))
            .option("bucketBy", "k")
            .option("nBuckets", "8")
            .mode("overwrite")
            .save()
        )


def test_native_write_out_of_range_bucket_refused(spark, tmp_path):
    table_log_source.register(spark)
    bad = _facts(spark).withColumn(
        table_log_source.BUCKET_COL, F.lit(99).cast("int")
    )
    with pytest.raises(Exception, match="outside"):
        (
            bad.write.format("table_log")
            .option("path", str(tmp_path / "t"))
            .option("bucketBy", "k")
            .option("nBuckets", "8")
            .mode("overwrite")
            .save()
        )


def test_plain_overwrite_resets_committed_spec(spark, tmp_path):
    """An overwrite that carries no spec replaced the layout: the old
    spec must NOT survive it (a stale spec would mis-plan joins and
    point lookups over non-bucketed files)."""
    d = str(tmp_path / "t")
    co.write_bucketed_native(_facts(spark), d, key_col="k", n_buckets=8)
    assert co.bucket_spec(d) is not None
    tl.overwrite(_facts(spark), d)
    assert co.bucket_spec(d) is None
    # and a fresh bucketed overwrite re-establishes it
    co.write_bucketed_native(_facts(spark), d, key_col="k", n_buckets=4)
    assert co.bucket_spec(d) == {"key": "k", "n": 4}


def _written_pair(spark, tmp_path, n_buckets=8):
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    co.write_bucketed_native(
        _facts(spark), left, key_col="k", n_buckets=n_buckets
    )
    co.write_bucketed_native(
        _dims(spark), right, key_col="k", n_buckets=n_buckets
    )
    return left, right


def test_colocated_left_outer_join(spark, tmp_path):
    """Odd fact keys have no dim row: they must survive with the dim
    column null-filled (Arrow type fidelity through the cast)."""
    left, right = _written_pair(spark, tmp_path)
    j = co.colocated_bucket_join(spark, left, right, how="left")
    got = sorted((r.k, r.a, r.b, r.d) for r in j.collect())
    want = sorted(
        (i, i * 3, float(i) / 2, f"d{i}" if i % 2 == 0 else None)
        for i in range(400)
    )
    assert got == want


def test_colocated_full_outer_join(spark, tmp_path):
    """Dim-only keys (400..498 even) appear with fact columns null
    and their key under the coalesced left name."""
    left, right = _written_pair(spark, tmp_path)
    j = co.colocated_bucket_join(spark, left, right, how="full")
    got = sorted(
        (r.k, r.a, r.b, r.d) for r in j.collect()
    )
    want = sorted(
        [
            (i, i * 3, float(i) / 2, f"d{i}" if i % 2 == 0 else None)
            for i in range(400)
        ]
        + [(i, None, None, f"d{i}") for i in range(400, 500, 2)]
    )
    assert got == want


def test_colocated_semi_and_anti_join(spark, tmp_path):
    """Semi emits matched left rows verbatim (left columns only);
    anti emits the complement; together they partition the left."""
    left, right = _written_pair(spark, tmp_path)
    semi = co.colocated_bucket_join(spark, left, right, how="left_semi")
    anti = co.colocated_bucket_join(spark, left, right, how="left_anti")
    assert semi.columns == ["k", "a", "b"] == anti.columns
    got_semi = sorted((r.k, r.a, r.b) for r in semi.collect())
    got_anti = sorted((r.k, r.a, r.b) for r in anti.collect())
    assert got_semi == sorted(
        (i, i * 3, float(i) / 2) for i in range(0, 400, 2)
    )
    assert got_anti == sorted(
        (i, i * 3, float(i) / 2) for i in range(1, 400, 2)
    )


def test_colocated_plan_prunes_by_join_type(spark, tmp_path):
    """Inner/semi against a SPARSE probe side plans only the probed
    buckets (bucket-level pruning); left/anti plan every
    left-populated group even where the right side is empty."""
    left = str(tmp_path / "l")
    probe = str(tmp_path / "p")
    co.write_bucketed_native(_facts(spark), left, key_col="k", n_buckets=8)
    sparse = spark.createDataFrame([(7, "x")], "k long, p string")
    co.write_bucketed_native(sparse, probe, key_col="k", n_buckets=8)
    inner = co.colocated_plan(left, probe, "inner")
    semi = co.colocated_plan(left, probe, "left_semi")
    assert len(inner) == len(semi) == 1  # one populated probe bucket
    outer = co.colocated_plan(left, probe, "left")
    anti = co.colocated_plan(left, probe, "left_anti")
    n_left_groups = len({cdc._group_of_name(p) for p in tl.snapshot_files(left)})
    assert len(outer) == len(anti) == n_left_groups
    empty_right = [g for g, _, rf in anti if not rf]
    assert len(empty_right) == n_left_groups - 1
    # and the anti join over that plan is the exact complement
    got = sorted(
        r.k
        for r in co.colocated_bucket_join(
            spark, left, probe, how="left_anti"
        ).collect()
    )
    assert got == [i for i in range(400) if i != 7]


def _skewed_pair(spark, tmp_path):
    """Left: 800 rows over 4 buckets (~200/bucket) laid out as FOUR
    files per bucket (three appends), so each group has several
    splittable units; right: dims for even keys."""
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    co.write_bucketed_native(
        _facts(spark, 200), left, key_col="k", n_buckets=4
    )
    for lo in (200, 400, 600):
        extra = spark.createDataFrame(
            [(i, i * 3, float(i) / 2) for i in range(lo, lo + 200)],
            "k long, a long, b double",
        )
        co.write_bucketed_native(
            extra, left, key_col="k", n_buckets=4, mode="append"
        )
    dims = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 900, 2)], "k long, d string"
    )
    co.write_bucketed_native(dims, right, key_col="k", n_buckets=4)
    return left, right


def test_colocated_skew_split_matches_unsplit(spark, tmp_path):
    """Splitting a hot group into row-group-ranged chunks must not
    change ANY join type's result (each left row still meets the
    full right side exactly once)."""
    left, right = _skewed_pair(spark, tmp_path)
    for how in ("inner", "left", "left_semi", "left_anti"):
        plain = sorted(
            map(tuple, co.colocated_bucket_join(
                spark, left, right, how=how
            ).collect())
        )
        split = sorted(
            map(tuple, co.colocated_bucket_join(
                spark, left, right, how=how, max_task_rows=120
            ).collect())
        )
        assert split == plain, how
    # and the plan really did split: more tasks than bucket groups
    tasks = co._split_skewed_groups(
        co.colocated_plan(left, right, "inner"), 120
    )
    groups = {g for g, _, _ in tasks}
    assert len(tasks) > len(groups)
    assert any("#" in s for _, lf, _ in tasks for s in lf)
    # every chunk carries the group's FULL right side
    by_group_rf = {}
    for g, _, rf in tasks:
        assert by_group_rf.setdefault(g, rf) == rf


def test_colocated_skew_split_refused_for_full_outer(spark, tmp_path):
    left, right = _written_pair(spark, tmp_path)
    with pytest.raises(ValueError, match="full outer"):
        co.colocated_bucket_join(
            spark, left, right, how="full", max_task_rows=10
        )


def test_bucketed_aggregate_mean_and_count_distinct(spark, tmp_path):
    """Acero result dtypes surface correctly: counts are int64
    whatever the input, mean promotes to float64 (the old mapping
    declared the SOURCE type for every non-count agg, which would
    have truncated or refused a mean over integers)."""
    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i % 10, i, i % 3) for i in range(100)],
        "k long, x long, y long",
    )
    co.write_bucketed(df, d, key_col="k", n_buckets=4)
    got = co.bucketed_aggregate(
        spark,
        d,
        [
            ("x", "mean", "x_mean"),
            ("y", "count_distinct", "y_nd"),
            ("x", "sum", "x_sum"),
        ],
    )
    assert got.schema["x_mean"].dataType.simpleString() == "double"
    assert got.schema["y_nd"].dataType.simpleString() == "bigint"
    rows = {r.k: (r.x_mean, r.y_nd, r.x_sum) for r in got.collect()}
    for k in range(10):
        xs = list(range(k, 100, 10))
        assert rows[k] == (sum(xs) / 10.0, 3, sum(xs))


def test_buckets_of_values_one_job_matches_layout(spark, tmp_path):
    """The batched bucket computation agrees with where the writer
    actually placed each key (probe_files==1 layout)."""
    d = str(tmp_path / "t")
    co.write_bucketed_native(_facts(spark), d, key_col="k", n_buckets=8)
    vals = [0, 7, 123, 399]
    buckets = co.buckets_of_values(spark, d, vals)
    assert len(buckets) == len(vals)
    looked = co.point_lookup(spark, d, vals)
    got = {r.k: r.probe_files for r in looked.collect()}
    assert set(got) == set(vals) and set(got.values()) == {1}


def _sliced_stats_pair(spark, tmp_path):
    """Left appended in two value slices with committed sd stats plus
    one stats-LESS slice; right dims under the same spec."""
    left, right = str(tmp_path / "l"), str(tmp_path / "r")

    def _slice(lo, hi):
        return spark.createDataFrame(
            [(i, i * 2, lo + (i % (hi - lo))) for i in range(200)],
            "k long, a long, sd long",
        )

    co.write_bucketed(
        _slice(0, 100), left, key_col="k", n_buckets=4,
        stats_cols=["sd"],
    )
    co.write_bucketed(
        _slice(100, 200), left, key_col="k", n_buckets=4,
        stats_cols=["sd"], mode="append",
    )
    co.write_bucketed(  # no stats: pruning must KEEP these files
        _slice(200, 300), left, key_col="k", n_buckets=4, mode="append",
    )
    dims = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 200, 2)], "k long, d string"
    )
    co.write_bucketed(dims, right, key_col="k", n_buckets=4)
    return left, right


def test_colocated_pruned_range_join_lossless_and_prunes(spark, tmp_path):
    """left_range never changes the result vs exact-filter-after-join
    (stats-less files kept, exact residual applied), and it really
    drops the non-overlapping statsful slice's files from the plan."""
    left, right = _sliced_stats_pair(spark, tmp_path)
    pruned = co.colocated_bucket_join(
        spark, left, right, left_range=("sd", 0, 99)
    )
    plain = co.colocated_bucket_join(spark, left, right)
    got = sorted(map(tuple, pruned.collect()))
    want = sorted(
        tuple(r)
        for r in plain.collect()
        if 0 <= r.sd <= 99
    )
    assert got == want and len(got) > 0
    tasks, kept, total = co.prune_tasks_by_stats(
        co.colocated_plan(left, right, "inner"), 0, left, "sd", 0, 99
    )
    # slice 1 statsful+overlapping (kept), slice 2 statsful non-
    # overlapping (dropped), slice 3 stats-less (kept): 8 of 12
    assert (kept, total) == (8, 12)


def test_colocated_pruned_range_join_gate_fixture_prunes(spark, sf_smoke):
    """The registered query's fixture really gives pruning sub-bucket
    granularity: only the 1994-1995 slice survives the plan."""
    from candy_store_etl_spark.plans.round9 import (
        _PRUNE_HI,
        _PRUNE_LO,
        _ensure_pruned_spj_tables,
    )

    root = _ensure_pruned_spj_tables(spark, sf_smoke)
    left = os.path.join(root, "lines")
    right = os.path.join(root, "order_dim")
    tasks, kept, total = co.prune_tasks_by_stats(
        co.colocated_plan(left, right, "inner"),
        0,
        left,
        "sd",
        _PRUNE_LO,
        _PRUNE_HI,
    )
    # one of four year slices overlaps 1996; thin slices may leave a
    # bucket empty, so pin the fraction band rather than an exact 4x
    assert 0 < kept <= total / 3
    stats = tl.snapshot_file_stats(left)
    for _, lf, _ in tasks:
        for p in lf:
            st = stats[os.path.basename(p)]["cols"]["sd"]
            assert st["min"] <= _PRUNE_HI and st["max"] >= _PRUNE_LO


def test_write_bucketed_append_mismatched_spec_refused(spark, tmp_path):
    d = str(tmp_path / "t")
    co.write_bucketed(_facts(spark), d, key_col="k", n_buckets=8)
    with pytest.raises(ValueError, match="layouts must match"):
        co.write_bucketed(
            _facts(spark), d, key_col="k", n_buckets=4, mode="append"
        )


def test_colocated_multi_join_left_star(spark, tmp_path):
    """Anchor rows survive missing satellites (null-filled), a
    satellite empty in a whole bucket group reads as schema-true
    empty, and the chain equals pairwise left joins."""
    anchor = str(tmp_path / "a")
    s1, s2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    co.write_bucketed(
        spark.createDataFrame(
            [(i, f"seg{i % 3}") for i in range(120)], "k long, seg string"
        ),
        anchor, key_col="k", n_buckets=4,
    )
    co.write_bucketed(
        spark.createDataFrame(
            [(i, i * 10) for i in range(0, 120, 2)], "k long, x long"
        ),
        s1, key_col="k", n_buckets=4,
    )
    co.write_bucketed(  # sparse: ONE key — most bucket groups empty
        spark.createDataFrame([(7, "only")], "k long, y string"),
        s2, key_col="k", n_buckets=4,
    )
    j = co.colocated_multi_join(spark, [anchor, s1, s2], how="left")
    got = {r.k: (r.seg, r.x, r.y) for r in j.collect()}
    assert len(got) == 120
    for i in range(120):
        assert got[i] == (
            f"seg{i % 3}",
            i * 10 if i % 2 == 0 else None,
            "only" if i == 7 else None,
        )
    # inner over the same tables keeps only the fully-matched key
    inner = co.colocated_multi_join(spark, [anchor, s1, s2], how="inner")
    assert [(r.k, r.y) for r in inner.collect()] == []  # 7 is odd: no s1 row
    with pytest.raises(ValueError, match="how="):
        co.colocated_multi_join(spark, [anchor, s1], how="full")


def test_colocated_join_survives_schema_evolution(spark, tmp_path):
    """An additive-evolution append leaves a bucket group holding
    files with DIFFERENT schemas: every reader (pair join, star
    join, bucketed aggregate) must pad old files to the committed
    schema instead of crashing in concat (the evolved column
    null-fills for pre-evolution rows)."""
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    co.write_bucketed(
        spark.createDataFrame(
            [(i, i * 2) for i in range(100)], "k long, a long"
        ),
        left, key_col="k", n_buckets=4,
    )
    co.write_bucketed(
        spark.createDataFrame(
            [(i, i * 2, f"s{i}") for i in range(100, 200)],
            "k long, a long, src string",
        ),
        left, key_col="k", n_buckets=4, mode="append",
    )
    co.write_bucketed(_dims(spark), right, key_col="k", n_buckets=4)
    j = co.colocated_bucket_join(spark, left, right)
    got = {r.k: (r.a, r.src, r.d) for r in j.collect()}
    assert len(got) == 100  # even keys 0..198
    assert got[4] == (8, None, "d4")  # pre-evolution row null-fills
    assert got[104] == (208, "s104", "d104")
    star = co.colocated_multi_join(spark, [right, left], how="left")
    assert {r.k for r in star.collect()} == set(range(0, 500, 2))
    agg = co.bucketed_aggregate(spark, left, [("a", "sum", "a_sum")])
    assert sum(r.a_sum for r in agg.collect()) == sum(
        i * 2 for i in range(200)
    )


def test_bucketed_append_onto_unbucketed_refused(spark, tmp_path):
    """Publishing a bucket spec over resident files written without
    one would crash every later co-located plan — refused up front,
    in both the library and the native writer face."""
    d = str(tmp_path / "t")
    tl.overwrite(_facts(spark), d)
    with pytest.raises(Exception, match="unbucketed"):
        co.write_bucketed(
            _facts(spark), d, key_col="k", n_buckets=4, mode="append"
        )
    table_log_source.register(spark)
    with pytest.raises(Exception, match="unbucketed"):
        co.write_bucketed_native(
            _facts(spark), d, key_col="k", n_buckets=4, mode="append"
        )


def test_plain_append_resets_committed_spec(spark, tmp_path):
    """A plain tl.append onto a bucketed table adds non-bucket-named
    files: the spec no longer describes the table and must read as
    None (a stale spec would crash _group_of_name at plan time)."""
    d = str(tmp_path / "t")
    co.write_bucketed(_facts(spark), d, key_col="k", n_buckets=4)
    assert co.bucket_spec(d) is not None
    tl.append(_facts(spark, 10), d)
    assert co.bucket_spec(d) is None


def test_buckets_of_values_coerces_probe_types(spark, tmp_path):
    """Integer probes against a double-typed key must coerce through
    lit().cast() like the writer's bucket_expr did — not raise in
    createDataFrame type verification."""
    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(float(i), i) for i in range(50)], "k double, a long"
    )
    co.write_bucketed(df, d, key_col="k", n_buckets=4)
    got = co.point_lookup(spark, d, [7, 11.0]).collect()
    assert {r.k for r in got} == {7.0, 11.0}


def test_bucketed_aggregate_sum_promotes_int32(spark, tmp_path):
    """Acero promotes integer sums to int64: declaring the 32-bit
    source type would make the safe cast raise on the first
    overflowing group."""
    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i % 2, 2_000_000_000) for i in range(4)], "k long, x int"
    )
    co.write_bucketed(df, d, key_col="k", n_buckets=2)
    got = co.bucketed_aggregate(spark, d, [("x", "sum", "s")])
    assert got.schema["s"].dataType.simpleString() == "bigint"
    assert sorted(r.s for r in got.collect()) == [
        4_000_000_000, 4_000_000_000,
    ]


def test_point_lookup_time_travel(spark, tmp_path):
    """A version-pinned point lookup resolves EVERYTHING — spec, file
    grouping, schema, file list — as of that snapshot: after a
    re-bucketed overwrite changed both the layout (8 -> 4 buckets)
    and the data, version 0 still serves its original rows."""
    d = str(tmp_path / "t")
    co.write_bucketed(_facts(spark, 100), d, key_col="k", n_buckets=8)
    co.write_bucketed(
        spark.createDataFrame(
            [(i, -i, 0.0) for i in range(100)], "k long, a long, b double"
        ),
        d, key_col="k", n_buckets=4,
    )
    assert co.bucket_spec(d) == {"key": "k", "n": 4}
    assert co.bucket_spec(d, version=0) == {"key": "k", "n": 8}
    now = co.point_lookup(spark, d, [7]).collect()
    then = co.point_lookup(spark, d, [7], version=0).collect()
    assert [(r.k, r.a) for r in now] == [(7, -7)]
    assert [(r.k, r.a) for r in then] == [(7, 21)]
    assert {r.probe_files for r in then} == {1}


def test_keyset_lookup_matches_filter_and_prunes(spark, tmp_path):
    """keyset_lookup == plain isin filter; only touched bucket groups
    plan tasks; probes coerce to the stored key type (int probes
    against a double key); absent keys are simply absent."""
    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(float(i), i * 3) for i in range(300)], "k double, a long"
    )
    co.write_bucketed(df, d, key_col="k", n_buckets=8)
    keys = [0, 7, 11.0, 250, 9999]  # mixed int/float probes; one absent
    got = sorted((r.k, r.a) for r in co.keyset_lookup(spark, d, keys).collect())
    want = sorted(
        (float(i), i * 3) for i in (0, 7, 11, 250)
    )
    assert got == want
    # pruning: 2 keys in one bucket would mean < len(keys) tasks; at
    # minimum the task count never exceeds the touched buckets
    buckets = set(co.buckets_of_values(spark, d, [0, 7, 11.0, 250]))
    assert co.keyset_lookup(spark, d, keys).rdd.getNumPartitions() >= 1
    assert len(buckets) <= 4


def test_multi_join_skew_split_matches_unsplit(spark, tmp_path):
    """Anchor-side row-group splitting never changes the star's
    result — each chunk joins the group's full satellite lists, and
    every output row is anchor-row-local for both join types."""
    anchor, s1 = _skewed_pair(spark, tmp_path)
    s2 = str(tmp_path / "s2")
    co.write_bucketed(
        spark.createDataFrame(
            [(i, i % 5) for i in range(0, 800, 3)], "k long, m long"
        ),
        s2, key_col="k", n_buckets=4,
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, co.colocated_multi_join(
                spark, [anchor, s1, s2], how=how
            ).collect())
        )
        split = sorted(
            map(tuple, co.colocated_multi_join(
                spark, [anchor, s1, s2], how=how, max_task_rows=120
            ).collect())
        )
        assert split == plain, how
        assert len(plain) > 0


def test_colocated_right_range_prune_lossless(spark, tmp_path):
    """right_range == filter-the-right-table-first for inner AND
    left outer (left rows whose matches were filtered out
    null-fill); the non-overlapping statsful slice's files drop."""
    dims, lines = str(tmp_path / "d"), str(tmp_path / "l")

    def _slice(lo, hi):
        return spark.createDataFrame(
            [(i, lo + (i % (hi - lo))) for i in range(200)],
            "k long, sd long",
        )

    co.write_bucketed(
        _slice(0, 100), lines, key_col="k", n_buckets=4,
        stats_cols=["sd"],
    )
    co.write_bucketed(
        _slice(100, 200), lines, key_col="k", n_buckets=4,
        stats_cols=["sd"], mode="append",
    )
    co.write_bucketed(
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(250)], "k long, d string"
        ),
        dims, key_col="k", n_buckets=4,
    )
    for how in ("inner", "left"):
        pruned = co.colocated_bucket_join(
            spark, dims, lines, how=how, right_range=("sd", 0, 99)
        )
        plain = co.colocated_bucket_join(spark, dims, lines, how=how)
        got = sorted(map(tuple, pruned.collect()))
        want = sorted(
            tuple(r) for r in plain.collect()
            if (r.sd is not None and 0 <= r.sd <= 99)
            or (how == "left" and r.sd is None)
        )
        # left outer: rows whose ONLY matches were out-of-range now
        # null-fill instead — recompute expectation from raw slices
        if how == "left":
            in_range = {i for i in range(200)}  # slice 1 rows match
            want = sorted(
                [(i, f"d{i}", i % 100) for i in range(200)]
                + [(i, f"d{i}", None) for i in range(200, 250)]
            )
        assert got == want, how
    tasks, kept, total = co.prune_tasks_by_stats(
        co.colocated_plan(dims, lines, "inner"), 1, lines, "sd", 0, 99
    )
    assert (kept, total) == (4, 8)  # one of two statsful slices


def test_colocated_full_outer_differing_key_names(spark, tmp_path):
    """Full outer across tables whose committed keys have DIFFERENT
    names: right-only rows carry their key under the left name (the
    Acero-coalesced key)."""
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    co.write_bucketed(
        spark.createDataFrame(
            [(i, i * 2) for i in range(10)], "k long, a long"
        ),
        left, key_col="k", n_buckets=4,
    )
    co.write_bucketed(
        spark.createDataFrame(
            [(i, f"d{i}") for i in range(5, 15)], "kk long, d string"
        ),
        right, key_col="kk", n_buckets=4,
    )
    j = co.colocated_bucket_join(spark, left, right, how="full")
    got = sorted((r.k, r.a, r.d) for r in j.collect())
    want = sorted(
        [(i, i * 2, f"d{i}" if i >= 5 else None) for i in range(10)]
        + [(i, None, f"d{i}") for i in range(10, 15)]
    )
    assert got == want


def test_cdf_matview_nets_to_zero_and_tracks_overwrite(spark, tmp_path):
    """The CDF-driven materialized view subtracts removes: after an
    overwrite drops a source entirely, its row nets to n_docs == 0
    (and the query face filters it out); surviving sources equal the
    final snapshot's direct aggregate."""
    from candy_store_etl_spark.sources import table_log_source
    from candy_store_etl_spark.streaming.cdc import (
        make_partitioned_cdc_sink,
    )
    from candy_store_etl_spark.streaming.events import (
        run_stream_foreach_batch,
    )

    table_log_source.register(spark)
    base, view = str(tmp_path / "b"), str(tmp_path / "v")
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", 10 + i) for i in range(30)],
        "doc_id long, source string, n_chars long",
    )
    tl.append(docs, base)
    # overwrite keeps only source s0 — s1/s2 must net to zero
    tl.overwrite(docs.filter(F.col("source") == "s0"), base)

    def increments(batch_df):
        sign = F.when(
            F.col("_change_type") == "insert", F.lit(1)
        ).otherwise(F.lit(-1))
        return batch_df.groupBy("source").agg(
            F.sum(sign).alias("n_docs"),
            F.sum(sign * F.col("n_chars")).alias("chars"),
        )

    feed = (
        spark.readStream.format("table_log")
        .option("path", base)
        .option("changeFeed", "true")
        .load()
    )
    run_stream_foreach_batch(
        feed,
        make_partitioned_cdc_sink(
            view, increments, key_col="source",
            add_cols=("n_docs", "chars"), n_buckets=4,
        ),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r.source: (r.n_docs, r.chars)
        for r in tl.read_snapshot(spark, view).collect()
    }
    s0 = [(i, 10 + i) for i in range(0, 30, 3)]
    assert got["s0"] == (len(s0), sum(c for _, c in s0))
    assert got["s1"] == (0, 0) and got["s2"] == (0, 0)


def test_cdc_warehouse_fixture_shape(spark, sf_smoke):
    """The streamed fixture really is micro-batched: exactly
    _FEED_FILES data-carrying merge commits, sink-published spec +
    schema, and an idempotent rebuild (intact -> no-op)."""
    from candy_store_etl_spark.plans.round9 import (
        _CDC_BUCKETS,
        _FEED_FILES,
        _ensure_cdc_warehouse,
    )

    root = _ensure_cdc_warehouse(spark, sf_smoke)
    wh = os.path.join(root, "warehouse")
    data_batches = [
        e
        for e in tl.log_entries(wh)
        if e["op"].startswith("cdc-batch-") and e["add"]
    ]
    assert len(data_batches) == _FEED_FILES
    assert co.bucket_spec(wh) == {"key": "user_id", "n": _CDC_BUCKETS}
    assert tl.snapshot_schema(wh) is not None
    mtimes = {p: os.path.getmtime(p) for p in tl.snapshot_files(wh)}
    _ensure_cdc_warehouse(spark, sf_smoke)  # intact -> untouched
    assert mtimes == {p: os.path.getmtime(p) for p in tl.snapshot_files(wh)}
