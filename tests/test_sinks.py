"""Sinks (reference op-4): the single-file CSV report sink must
produce exactly one named file, in the bytes of Spark's CSV writer
whichever route writes it. The parquet-staged pipeline form (§3.3) is
pinned against the in-memory one in tests/test_candy_nightly.py."""

from __future__ import annotations

import csv
import datetime as dt
import math
import os
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from candy_store_etl_spark.sources import sinks
from candy_store_etl_spark.sources.sinks import save_single_csv

SPARK_CSV = sinks._spark_csv  # the reference bytes, never spied on
LARGEST_PLAIN = math.nextafter(1e7, 0.0)  # the largest double below 1e7


def test_save_single_csv_one_named_file(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("double_id")
    )
    out = save_single_csv(df.orderBy("id"), str(tmp_path / "reports"), "r.csv")
    assert out == str(tmp_path / "reports" / "r.csv")
    assert os.listdir(tmp_path / "reports") == ["r.csv"]
    with open(out) as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["id", "double_id"]
    assert len(rows) == 101
    assert rows[1] == ["0", "0"] and rows[100] == ["99", "198"]


def test_save_single_csv_overwrites(spark, tmp_path):
    d = str(tmp_path / "reports")
    save_single_csv(spark.range(5), d, "r.csv")
    save_single_csv(spark.range(3), d, "r.csv")
    with open(os.path.join(d, "r.csv")) as f:
        assert len(list(csv.reader(f))) == 4  # header + 3


@pytest.fixture
def spark_route(monkeypatch):
    """The file names ``save_single_csv`` hands to Spark's writer."""
    calls = []

    def spy(df, output_path, filename):
        calls.append(filename)
        return SPARK_CSV(df, output_path, filename)

    monkeypatch.setattr(sinks, "_spark_csv", spy)
    return calls


def _both_routes(df, tmp_path) -> tuple[bytes, bytes]:
    """(``save_single_csv`` bytes, Spark's writer's bytes) of ``df``."""
    fast = save_single_csv(df, str(tmp_path / "fast"), "r.csv")
    ref = SPARK_CSV(df, str(tmp_path / "spark"), "r.csv")
    with open(fast, "rb") as f, open(ref, "rb") as g:
        return f.read(), g.read()


ACCEPTED_SCHEMA = (
    "l long, i int, sh short, b byte, d double, s string, day date"
)
ACCEPTED_ROWS = [
    (1, 2, 3, 4, 0.0, "plain", dt.date(2024, 2, 1)),
    (-9_007_199_254_740_993, -2_147_483_648, -32768, -128, -0.0, "ünï©ødé 日本", dt.date(1, 1, 1)),
    (None, None, None, None, None, None, None),
    (0, 7, 0, 0, 1e-3, "a b", dt.date(9999, 12, 31)),
    (5, 8, 1, 1, LARGEST_PLAIN, "x#y", dt.date(1970, 1, 1)),
    (6, 9, 2, 2, -LARGEST_PLAIN, "it's", None),
    (7, None, 3, 3, 1234.56, "p'q;r|s", dt.date(1582, 10, 4)),
    (8, 10, 4, 5, 0.30000000000000004, "a~b", dt.date(2000, 2, 29)),
    (9, 11, 5, 6, -1e-3, "z", dt.date(1999, 12, 31)),
    (10, 12, 6, 7, 100.0, "Ω", dt.date(2024, 12, 31)),
]


def test_driver_route_writes_spark_bytes(spark, tmp_path, spark_route):
    """Every accepted type, with nulls and the double boundaries, over
    several partitions: the driver route writes it, byte for byte as
    Spark's writer does."""
    df = spark.createDataFrame(ACCEPTED_ROWS, ACCEPTED_SCHEMA).repartition(3, "l")
    df = df.sortWithinPartitions("l")
    fast, ref = _both_routes(df, tmp_path)
    assert spark_route == []
    assert fast == ref
    assert fast.splitlines()[0] == b"l,i,sh,b,d,s,day"
    assert b"\n,,,,,,\n" in fast


def test_driver_route_writes_header_of_empty_report(spark, tmp_path, spark_route):
    empty = spark.createDataFrame([], ACCEPTED_SCHEMA)
    fast, ref = _both_routes(empty, tmp_path)
    assert spark_route == []
    assert fast == ref == b"l,i,sh,b,d,s,day\n"


REJECTED = {
    # doubles Java writes in scientific notation, or not as a number
    "1e7": ("x double", [(1e7,)]),
    "-1e7": ("x double", [(-1e7,)]),
    "1e300": ("x double", [(1e300,)]),
    "below 1e-3": ("x double", [(math.nextafter(1e-3, 0.0),)]),
    "-1e-5": ("x double", [(-1e-5,)]),
    "subnormal": ("x double", [(5e-324,)]),
    "nan": ("x double", [(float("nan"),)]),
    "inf": ("x double", [(float("inf"),)]),
    "-inf": ("x double", [(float("-inf"),)]),
    # strings Spark quotes, escapes, trims or writes as ""
    "comma": ("s string", [("a,b",)]),
    "quote": ("s string", [('a"b',)]),
    "backslash": ("s string", [("a\\b",)]),
    "cr": ("s string", [("a\rb",)]),
    "lf": ("s string", [("a\nb",)]),
    "leading space": ("s string", [(" a",)]),
    "trailing space": ("s string", [("a ",)]),
    "leading tab": ("s string", [("\ta",)]),
    "nul": ("s string", [("\x00a",)]),
    "leading nbsp": ("s string", [("\xa0a",)]),
    "comment char": ("s string", [("#a",)]),
    "empty": ("s string", [("",)]),
    # a lone null field: Spark writes no line for it
    "one-column null": ("x long", [(1,), (None,), (2,)]),
    # names Spark quotes or trims in the header
    "name with comma": ("`a,b` long", [(1,)]),
    "name with space first": ("` a` long", [(1,)]),
}


@pytest.mark.parametrize("case", sorted(REJECTED))
def test_rejected_values_take_spark_route(spark, tmp_path, spark_route, case):
    schema, rows = REJECTED[case]
    df = spark.createDataFrame([(7, "ok", *r) for r in rows], "k long, t string, " + schema)
    if case == "one-column null":
        df = df.select(df.columns[-1])
    fast, ref = _both_routes(df, tmp_path)
    assert spark_route == ["r.csv"]
    assert fast == ref


@pytest.mark.parametrize(
    "expr",
    [
        "timestamp_seconds(id * 86399) AS x",
        "CAST(id / 3 AS DECIMAL(10, 4)) AS x",
        "CAST(id / 3 AS FLOAT) AS x",
        "id % 2 = 0 AS x",
        "CAST(CAST(id AS STRING) AS BINARY) AS x",
    ],
)
def test_other_types_take_spark_route(spark, tmp_path, spark_route, expr):
    df = spark.range(4).selectExpr("id", expr)
    fast, ref = _both_routes(df, tmp_path)
    assert spark_route == ["r.csv"]
    assert fast == ref


@pytest.mark.parametrize(
    "expr",
    ["array(id) AS x", "named_struct('v', id) AS x", "map(id, id) AS x"],
)
def test_types_spark_cannot_write_raise_on_spark_route(spark, tmp_path, spark_route, expr):
    df = spark.range(2).selectExpr("id", expr)
    with pytest.raises(Exception, match="CSV") as fast:
        save_single_csv(df, str(tmp_path / "fast"), "r.csv")
    with pytest.raises(Exception, match="CSV") as ref:
        SPARK_CSV(df, str(tmp_path / "spark"), "r.csv")
    assert spark_route == ["r.csv"]
    assert type(fast.value) is type(ref.value)


def test_collect_over_max_result_size_falls_back(spark, tmp_path, spark_route, monkeypatch):
    """A report bigger than ``spark.driver.maxResultSize`` is written by
    Spark's writer; any other collect failure is raised."""
    df = spark.range(5).selectExpr("id", "id / 2 AS half")

    def too_big(self):
        raise RuntimeError(
            "Job aborted due to stage failure: Total size of serialized results "
            "of 1 tasks (3.1 MiB) is bigger than spark.driver.maxResultSize (1024.0 KiB)"
        )

    monkeypatch.setattr(type(df), "toArrow", too_big)
    fast, ref = _both_routes(df, tmp_path)
    assert spark_route == ["r.csv"]
    assert fast == ref
    assert os.listdir(tmp_path / "fast") == ["r.csv"]

    def broken(self):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(type(df), "toArrow", broken)
    with pytest.raises(RuntimeError, match="executor lost"):
        save_single_csv(df, str(tmp_path / "fast"), "r.csv")
    assert spark_route == ["r.csv"]


def test_failed_write_leaves_output_path_unchanged(spark, tmp_path, spark_route, monkeypatch):
    out = tmp_path / "reports"
    out.mkdir()
    (out / "r.csv").write_bytes(b"old\n")
    (out / "other.csv").write_bytes(b"x\n")
    before = sorted(os.listdir(out))

    def half_then_fail(table, sink, options):
        sink.write(b"0,0\n1,")
        raise OSError("disk full")

    monkeypatch.setattr(sinks.pa_csv, "write_csv", half_then_fail)
    with pytest.raises(OSError, match="disk full"):
        save_single_csv(spark.range(3).selectExpr("id", "id AS j"), str(out), "r.csv")
    assert sorted(os.listdir(out)) == before
    assert (out / "r.csv").read_bytes() == b"old\n"
    assert spark_route == []


def test_double_text_is_java_double_tostring(spark):
    """The driver route's double rule against the session JVM's
    ``Double.toString`` over 2-dp money values, integral doubles,
    random doubles in [1e-3, 1e7) and both ends of that range, each
    value once (formatted in place) and three times over (each
    distinct value formatted once)."""
    rng = random.Random(20240201)
    values = [k / 100 for k in rng.sample(range(10**9), 5000)]
    values += [float(rng.randrange(10**7)) for _ in range(5000)]
    values += [rng.uniform(1e-3, 1e7) for _ in range(10000)]
    values += [10 ** rng.uniform(-2.99, 6.99) for _ in range(2000)]
    values += [1e-3, LARGEST_PLAIN, 0.0, -0.0]
    values += [-v for v in values[::11]]
    assert len(values) >= 20000
    arr = pa.array(values, pa.float64())
    assert sinks._plain_doubles(arr)
    java = spark._jvm.java.lang.Double.toString
    want = [java(v) for v in values]
    text = sinks._double_text(arr).to_pylist()
    assert [(v, t, j) for v, t, j in zip(values, text, want) if t != j] == []
    tripled = pa.array([v for v in values for _ in range(3)], pa.float64())
    assert sinks._double_text(tripled).to_pylist() == [j for j in want for _ in range(3)]


def test_jsonl_roundtrip_sharded(spark, sf_correctness, tmp_path):
    """JSONL export: sharded by a stable hash shard column, gzipped,
    byte-faithful on read-back (including non-ASCII text)."""
    from candy_store_etl_spark.sources.sinks import write_jsonl
    from candy_store_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_correctness, "documents").select(
        "doc_id",
        "text",
        (F.crc32(F.col("doc_id").cast("string")) % 4).alias("shard"),
    )
    out = str(tmp_path / "jsonl")
    write_jsonl(docs, out, partition_by=["shard"])
    # one directory per shard, files gzipped
    shard_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("shard=")
    )
    assert shard_dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    assert any(
        f.endswith(".gz")
        for f in os.listdir(os.path.join(out, shard_dirs[0]))
        if f.startswith("part-")
    )
    back = spark.read.json(out)
    assert back.count() == docs.count()
    orig = {(r.doc_id, r.text) for r in docs.collect()}
    rt = {(r.doc_id, r.text) for r in back.collect()}
    assert rt == orig
    # partition pruning: a shard filter must prune to one directory
    pruned = spark.read.json(out).filter(F.col("shard") == 2)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(shard" in plan, plan[:2000]


def test_orc_roundtrip_partitioned(spark, sf_correctness, tmp_path):
    from candy_store_etl_spark.sources.sinks import write_orc
    from candy_store_etl_spark.sources.tpch import load_table

    part = load_table(spark, sf_correctness, "part")
    out = str(tmp_path / "orc")
    write_orc(part, out, partition_by=["p_brand"])
    back = spark.read.orc(out)
    assert back.count() == part.count()
    # predicate pushdown reaches the ORC scan
    q = back.filter(F.col("p_size") > 40).select("p_partkey", "p_size")
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,40)]" in plan, (
        plan[:2000]
    )


def test_compact_files_merges_small_files(spark, sf_correctness, tmp_path):
    """64 kilobyte-scale fragments must compact to the size-derived
    file count with content unchanged; with a sort key, output files
    carry disjoint key ranges (zone-map-prunable layout)."""
    from candy_store_etl_spark.sources.sinks import compact_files
    from candy_store_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_correctness, "documents")
    frag = str(tmp_path / "frag")
    docs.repartition(64).write.parquet(frag)
    assert len(list((tmp_path / "frag").glob("part-*.parquet"))) == 64

    out = str(tmp_path / "compact")
    n = compact_files(spark, frag, out, target_mb=128)
    assert n == 1  # well under one target file of input bytes
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }

    # layout-sorted compaction: disjoint doc_id ranges per file
    out2 = str(tmp_path / "compact_sorted")
    n2 = compact_files(spark, frag, out2, target_mb=1, sort_by=["doc_id"])
    assert n2 >= 1
    import pyarrow.parquet as pq

    ranges = []
    for p in sorted((tmp_path / "compact_sorted").glob("part-*.parquet")):
        t = pq.read_table(p, columns=["doc_id"])
        ids = t.column("doc_id").to_pylist()
        if ids:
            ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint key ranges


def test_compaction_layout_enables_scan_skipping(spark, sf_correctness, tmp_path):
    """Read-side proof for layout-keyed compaction (round-4 verdict
    item): a doc_id range predicate over the FRAGMENTED table touches
    every file (each fragment spans the full id range), while the
    range-compacted table confines the predicate to the 1-2 files whose
    footer min/max overlap — counted two ways:

    1. file-level: parquet footer [min,max] vs the predicate range —
       the pruning decision any stats-aware scan planner (Delta/
       Iceberg manifests, zone maps) makes from metadata alone;
    2. executed-engine: Spark's parquet reader row-group skipping —
       the scan operator's numOutputRows collapses to ~the matching
       rows on the compacted layout but stays at ~full-table on the
       fragmented one (pushed row-group stats can never skip when
       every row group overlaps).
    """
    import glob as _glob

    import pyarrow.parquet as pq

    from candy_store_etl_spark.metrics import executed_plan_metrics
    from candy_store_etl_spark.sources.sinks import compact_files
    from candy_store_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_correctness, "documents")
    frag = str(tmp_path / "frag")
    # round-robin fragmentation: every fragment spans the id range
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    out = str(tmp_path / "compacted")
    n_out = compact_files(spark, frag, out, target_mb=0.03, sort_by=["doc_id"])
    assert n_out >= 2  # several files, so skipping is non-trivial

    lo, hi = 10, 40  # tight id band ⇒ one compacted stripe

    def overlapping_files(path: str) -> tuple[int, int]:
        hit, total = 0, 0
        for f in sorted(_glob.glob(os.path.join(path, "part-*.parquet"))):
            md = pq.read_metadata(f)
            names = md.schema.to_arrow_schema().names
            ci = names.index("doc_id")
            fmin = min(
                md.row_group(g).column(ci).statistics.min
                for g in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(g).column(ci).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if not (fmax < lo or fmin > hi):
                hit += 1
        return hit, total

    frag_hit, frag_total = overlapping_files(frag)
    comp_hit, comp_total = overlapping_files(out)
    # small random fragments: a third-or-more of the files overlap the
    # band; the range layout confines it to at most 2 stripes
    assert frag_hit >= frag_total // 3, (frag_hit, frag_total)
    assert comp_hit <= 2 < comp_total, f"{comp_hit}/{comp_total} files overlap"

    def scan_rows(path: str) -> int:
        df = spark.read.parquet(path).filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
        )
        df.collect()
        return sum(
            nm.metrics.get("numOutputRows", 0)
            for nm in executed_plan_metrics(df)
            if "Scan parquet" in nm.node or nm.node == "FileSourceScan"
        )

    frag_scan = scan_rows(frag)
    comp_scan = scan_rows(out)
    n_match = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)).count()
    # the executed scans mirror the metadata counts: the fragmented
    # read decompresses every overlapping fragment (~frag_hit/total of
    # the table), the compacted read only the matching stripe
    assert n_match <= comp_scan <= frag_scan // 3, (
        comp_scan,
        frag_scan,
        n_match,
    )


def test_materialize_overlapped_runs_all_and_raises(spark):
    """§2.6 overlap helper: every output is computed exactly as the
    sequential loop would, and a failing output propagates instead of
    being swallowed by the pool."""
    import pyspark.sql.functions as F
    import pytest

    from candy_store_etl_spark.sources.sinks import materialize_overlapped

    seen = []
    outs = {
        "a": spark.range(100).select(F.sum("id").alias("s")),
        "b": spark.range(50).select(F.count("*").alias("c")),
        "c": spark.range(10),
    }
    materialize_overlapped(outs, sink=lambda df: seen.append(df.count()))
    assert sorted(seen) == [1, 1, 10]

    bad = spark.range(5).select(
        F.assert_true(F.col("id") < 3).alias("x")
    )
    with pytest.raises(Exception):
        materialize_overlapped([bad, spark.range(3)])
