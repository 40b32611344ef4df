"""File-level pruning via the stats manifest (sources/file_index) and
the planner-level pruning proofs: dynamic partition pruning and AQE
partition coalescing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from candy_store_etl_spark.sources.file_index import (
    MANIFEST_NAME,
    read_pruned,
    write_manifest,
)
from candy_store_etl_spark.sources.sinks import compact_files
from candy_store_etl_spark.sources.tpch import load_table


def test_manifest_pruned_read_skips_files(spark, sf_correctness, tmp_path):
    """After layout-keyed compaction, a manifest-pruned read must open
    a strict subset of files while returning exactly the full-scan
    filter result."""
    docs = load_table(spark, sf_correctness, "documents")
    frag = str(tmp_path / "frag")
    docs.repartition(32).write.mode("overwrite").parquet(frag)
    table = str(tmp_path / "table")
    n_files = compact_files(spark, frag, table, target_mb=0.03, sort_by=["doc_id"])
    assert n_files >= 3

    mpath = write_manifest(table, "doc_id")
    assert os.path.basename(mpath) == MANIFEST_NAME

    lo, hi = 100, 160
    pruned = read_pruned(spark, table, "doc_id", lo, hi)
    full = spark.read.parquet(table).filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
    )
    assert len(pruned.inputFiles()) < n_files  # files actually skipped
    assert sorted(r["doc_id"] for r in pruned.collect()) == sorted(
        r["doc_id"] for r in full.collect()
    )

    # empty-range probe: no file overlaps, result is empty with schema
    none = read_pruned(spark, table, "doc_id", 10**9, 10**9 + 1)
    assert none.count() == 0
    assert none.schema == spark.read.parquet(table).schema


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_correctness, tmp_path):
    """Hive-partitioned fact + filtered dim join must plan a
    dynamicpruning subquery on the fact scan and READ fewer partitions
    than exist — the mechanism that keeps a date-partitioned 100 TB
    fact from full-scanning on every dim-filtered query."""
    from candy_store_etl_spark.metrics import executed_plan_metrics

    orders = load_table(spark, sf_correctness, "orders").withColumn(
        "omonth", F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
    )
    fact = str(tmp_path / "orders_part")
    orders.write.mode("overwrite").partitionBy("omonth").parquet(fact)
    n_months = len(orders.select("omonth").distinct().collect())
    assert n_months > 6

    # a REAL dim table with a genuinely selective predicate: DPP only
    # plans when the build side carries a non-constant-foldable filter
    dim_path = str(tmp_path / "month_dim")
    (
        orders.select("omonth")
        .distinct()
        .withColumn(
            "quarter", F.substring("omonth", 6, 2).cast("int")
        )
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    months = spark.read.parquet(dim_path)
    saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true"
        )
        joined = (
            spark.read.parquet(fact)
            .join(months.filter(F.col("quarter") <= 3), "omonth")
            .select("omonth", "o_orderkey", "o_totalprice")
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "dynamicpruning" in plan, plan[:3000]
        joined.collect()
        # executed evidence: the fact scan read only the 3 matching
        # month partitions' files, not all of them
        scan_files = sum(
            nm.metrics.get("numFiles", 0)
            for nm in executed_plan_metrics(joined)
            if "Scan parquet" in nm.node
        )
        total_files = len(spark.read.parquet(fact).inputFiles())
        assert 0 < scan_files < total_files, (scan_files, total_files)
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", saved
        )


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_correctness):
    """With 200 shuffle partitions configured over a tiny aggregate,
    AQE must coalesce the post-shuffle read to far fewer partitions
    (AQEShuffleRead coalesced) — the runtime right-sizing that makes a
    fixed shuffle.partitions setting survivable across 5 orders of
    magnitude of data volume."""
    saved = {
        c: spark.conf.get(c, None)
        for c in [
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled",
        ]
    }
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        agg = (
            load_table(spark, sf_correctness, "orders")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        agg.collect()
        plan = agg._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "AQEShuffleRead coalesced" in plan, plan[:2000]
        assert agg.rdd.getNumPartitions() < 200 // 4
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_manifest_staleness_repair_and_nested_rejection(spark, sf_correctness, tmp_path):
    """Files appended AFTER write_manifest must still be scanned (a
    stale manifest may prune, never lose), and indexing a nested
    column must be rejected loudly — parquet stats address leaves, and
    leaf positions shift under nested schemas."""
    import pyarrow.parquet as pq
    import pytest as _pytest

    docs = load_table(spark, sf_correctness, "documents")
    table = str(tmp_path / "t")
    docs.filter(F.col("doc_id") < 250).repartition(1).write.mode(
        "overwrite"
    ).parquet(table)
    write_manifest(table, "doc_id")
    # append a file the manifest has never seen, holding ids 250+
    docs.filter(F.col("doc_id") >= 250).repartition(1).write.mode(
        "append"
    ).parquet(table)

    # a part not named part-*: pyarrow's own writers name files
    # <uuid>-<n>.parquet, and spark.read.parquet(dir) reads every
    # *.parquet member — pruning must list parts the same way
    import pyarrow as pa

    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({"k": list(range(0, 50))}), mixed / "part-00000.parquet")
    pq.write_table(pa.table({"k": list(range(50, 100))}), mixed / "3f2a-0.parquet")

    for path, col, lo, hi, manifest in [
        (table, "doc_id", 240, 260, False),  # the stale manifest above
        (str(mixed), "k", 40, 60, False),
        (str(mixed), "k", 40, 60, True),
    ]:
        if manifest:
            write_manifest(path, col)
        got = read_pruned(spark, path, col, lo, hi)
        want = spark.read.parquet(path).filter(
            (F.col(col) >= lo) & (F.col(col) <= hi)
        )
        assert sorted(r[col] for r in got.collect()) == sorted(
            r[col] for r in want.collect()
        ), (path, manifest)

    # nested columns: stats are per-leaf; reject instead of misindexing
    emb = load_table(spark, sf_correctness, "embeddings")
    etable = str(tmp_path / "e")
    emb.repartition(1).write.mode("overwrite").parquet(etable)
    with _pytest.raises(ValueError, match="top-level primitive"):
        write_manifest(etable, "embedding")
    # but a primitive AFTER the nested column resolves correctly: the
    # label leaf sits at a different leaf index than its arrow position
    write_manifest(etable, "label")
    f = sorted(__import__("glob").glob(etable + "/part-*.parquet"))[0]
    md = pq.read_metadata(f)
    from candy_store_etl_spark.sources.footer_stats import leaf_index

    assert leaf_index(md, "label") == 2  # vec_id, embedding.element, label


def test_content_fingerprint_handles_files_and_directories(tmp_path):
    """The scratch fingerprint accepts both source shapes: testdata's
    single parquet file and .scale's parquet DIRECTORY of part files
    (post-curve fix: a directory source crashed with IsADirectoryError).
    Any part-file change re-fingerprints; extra separates consumers."""
    from candy_store_etl_spark.sources.scratch import content_fingerprint

    f = tmp_path / "t.parquet"
    f.write_bytes(b"x" * 100)
    assert content_fingerprint(str(f)) != content_fingerprint(
        str(f), extra="other"
    )

    d = tmp_path / "dir.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a" * 10)
    (d / "part-1.parquet").write_bytes(b"b" * 10)
    (d / "_SUCCESS").write_bytes(b"")  # marker files are ignored
    fp1 = content_fingerprint(str(d))
    (d / "_SUCCESS").write_bytes(b"ignored")
    assert content_fingerprint(str(d)) == fp1
    (d / "part-1.parquet").write_bytes(b"c" * 11)
    assert content_fingerprint(str(d)) != fp1

    # hive-partitioned (nested) layout: leaf files fingerprint, the
    # subdirectory entry itself is never opened
    hv = tmp_path / "hive.parquet"
    (hv / "lang=en").mkdir(parents=True)
    (hv / "lang=en" / "part-0.parquet").write_bytes(b"e" * 20)
    fp_hv = content_fingerprint(str(hv))
    (hv / "lang=en" / "part-0.parquet").write_bytes(b"f" * 21)
    assert content_fingerprint(str(hv)) != fp_hv
