"""Sinks (reference op-4): the single-file CSV report sink must
produce exactly one named file. The parquet-staged pipeline form
(§3.3) is pinned against the in-memory one in
tests/test_candy_nightly.py."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F

from candy_store_etl_spark.sources.sinks import save_single_csv


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
