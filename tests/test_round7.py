"""Round-7 queries: the pretraining-pipeline funnel's structural
invariants and the checkpoint-native-read query's replay evidence.
(Value-level correctness is the driver oracle's job — gate-checked —
these pin the properties the oracle cannot see.)"""

from __future__ import annotations

import pytest

from candy_store_etl_spark.plans.registry import QUERIES, _ensure_loaded

_ensure_loaded()


@pytest.fixture(scope="module")
def funnel_rows(spark, sf_correctness):
    df = QUERIES["pretraining_pipeline_funnel"].fn(spark, sf_correctness)
    return [tuple(r) for r in df.collect()]


def test_funnel_shape_and_chain(funnel_rows):
    assert [r[0] for r in funnel_rows] == list(range(1, 11))
    assert [r[1] for r in funnel_rows] == [
        "ingest", "quality_filter", "domain_cap", "exact_dedup",
        "neardup_bow", "decontaminate", "mixture_sample", "chunk",
        "pack", "shard_plan",
    ]
    # the funnel chains: stage k's rows_in == stage k-1's rows_out
    for prev, cur in zip(funnel_rows, funnel_rows[1:]):
        assert cur[2] == prev[3], f"{cur[1]} rows_in != {prev[1]} rows_out"


def test_funnel_stage_semantics(funnel_rows):
    by = {r[1]: (r[2], r[3]) for r in funnel_rows}
    # doc-level stages only ever drop rows
    for s in (
        "quality_filter", "domain_cap", "exact_dedup", "neardup_bow",
        "decontaminate", "mixture_sample",
    ):
        assert by[s][1] <= by[s][0], f"{s} grew the corpus"
    # every filter stage that CAN bind on this corpus actually binds
    # (a stage that filters nothing is untested code wearing a green
    # badge). exact_dedup is exempt: the synthetic corpus contains
    # ZERO byte-identical texts at the test SFs (measured; 8 appear at
    # sf0.1) — its window mechanism is the same shape as neardup_bow,
    # which binds, and its pass-through count is still oracle-hashed.
    for s in ("quality_filter", "domain_cap", "neardup_bow",
              "decontaminate", "mixture_sample"):
        assert by[s][1] < by[s][0], f"{s} did not filter anything"
    # chunking fans out; packing compresses; shard plan = ceil(P/16)
    assert by["chunk"][1] >= by["chunk"][0]
    assert by["pack"][1] <= by["pack"][0]
    assert by["shard_plan"][1] == (by["pack"][1] + 15) // 16
    assert by["ingest"][0] == by["ingest"][1]
    assert by["mixture_sample"][1] > 0, "pipeline filtered everything"


def test_funnel_deterministic_across_runs(spark, sf_correctness, funnel_rows):
    again = [
        tuple(r)
        for r in QUERIES["pretraining_pipeline_funnel"]
        .fn(spark, sf_correctness)
        .collect()
    ]
    assert again == funnel_rows


def test_funnel_pack_pid_path_equivalence(
    spark, sf_correctness, funnel_rows, monkeypatch
):
    """The pack stage's deterministic footer-stats pid (equal-width
    doc_id buckets, zero sampling job) must bin identically to the
    sampled repartitionByRange fallback — any monotone split yields
    the same global cumsum. Forcing the fallback by blanking the
    footer stats must reproduce the funnel byte-for-byte."""
    from candy_store_etl_spark.sources import footer_stats

    monkeypatch.setattr(footer_stats, "column_minmax", lambda *a, **k: None)
    fallback = [
        tuple(r)
        for r in QUERIES["pretraining_pipeline_funnel"]
        .fn(spark, sf_correctness)
        .collect()
    ]
    assert fallback == funnel_rows


@pytest.fixture(scope="module")
def refresh_rows(spark, sf_correctness):
    df = QUERIES["incremental_corpus_refresh"].fn(spark, sf_correctness)
    return [tuple(r) for r in df.collect()]


def test_refresh_shape_and_chain(refresh_rows):
    assert [r[0] for r in refresh_rows] == list(range(1, 7))
    assert [r[1] for r in refresh_rows] == [
        "ingest_increment", "quality_filter", "exact_dedup_self",
        "exact_vs_base", "neardup_vs_base", "append_commit",
    ]
    for prev, cur in zip(refresh_rows, refresh_rows[1:]):
        assert cur[2] == prev[3], f"{cur[1]} rows_in != {prev[1]} rows_out"


def test_refresh_stage_semantics(spark, sf_correctness, refresh_rows):
    import pyspark.sql.functions as F

    from candy_store_etl_spark.sources.tpch import load_table

    by = {r[1]: (r[2], r[3]) for r in refresh_rows}
    for s in (
        "quality_filter", "exact_dedup_self", "exact_vs_base",
        "neardup_vs_base",
    ):
        assert by[s][1] <= by[s][0], f"{s} grew the increment"
    # the stages that CAN bind on this corpus actually bind (the
    # exact stages are exempt like the capstone's: zero byte-identical
    # texts at the test SFs, pass-through counts still oracle-hashed)
    assert by["quality_filter"][1] < by["quality_filter"][0]
    assert by["neardup_vs_base"][1] < by["neardup_vs_base"][0]
    assert by["neardup_vs_base"][1] > 0, "refresh filtered everything"
    # the append landed: post-commit snapshot == base corpus + survivors
    docs = load_table(spark, sf_correctness, "documents")
    base_n = docs.filter(F.col("doc_id") % 4 != 3).count()
    assert by["append_commit"][1] == base_n + by["append_commit"][0]


def test_refresh_deterministic_across_runs(spark, sf_correctness, refresh_rows):
    again = [
        tuple(r)
        for r in QUERIES["incremental_corpus_refresh"]
        .fn(spark, sf_correctness)
        .collect()
    ]
    assert again == refresh_rows


def test_funnel_stage_primitives_shared_semantics(spark):
    """The extracted primitives behave as the composites assume:
    bow_fp is word-order- and multiplicity-invariant, content_fp is
    case-insensitive but word-order-sensitive."""
    import pyspark.sql.functions as F

    from candy_store_etl_spark.functions.text import tokens
    from candy_store_etl_spark.operators.funnel import (
        bow_fp,
        content_fp,
    )

    df = spark.createDataFrame(
        [
            ("quick brown fox",),
            ("fox brown quick quick",),  # same token SET, reordered
            ("Quick Brown fox",),  # same text modulo case
        ],
        "text string",
    )
    out = df.select(
        bow_fp(tokens(F.col("text"))).alias("b"),
        content_fp(F.col("text")).alias("c"),
    ).collect()
    assert out[0].b == out[1].b  # bag-of-words ignores order/counts
    assert out[0].c != out[1].c  # exact fp does not
    assert out[0].c == out[2].c  # exact fp lowercases
    assert out[0].b != out[2].b  # bow tokens stay case-sensitive


def test_ivf_index_log_matches_in_memory_portable(spark, sf_smoke, tmp_path):
    """A table-log-published IVF index answers EXACTLY like the
    in-memory portable twin over the same corpus (same training, same
    probes, same rerank), and the scan prunes files from committed
    stats."""
    import pyspark.sql.functions as F

    from candy_store_etl_spark.operators.similarity import (
        _quantized,
        cosine_topk_ivf_portable,
        ivf_build_index_log,
        ivf_query_index_log,
    )
    from candy_store_etl_spark.sources.tpch import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    table = str(tmp_path / "ivf")
    ivf_build_index_log(emb.filter(F.col("vec_id") != 0), table)
    q_ints = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(_quantized(F.col("embedding")).alias("q"))
        .first()
        .q
    ]
    got_df, kept, total = ivf_query_index_log(spark, table, q_ints)
    got = [tuple(r) for r in got_df.collect()]
    want = [tuple(r) for r in cosine_topk_ivf_portable(emb).collect()]
    assert got == want
    assert 0 < kept < total, "committed-stats pruning did not engage"


def test_ivf_index_versions_pin_results(spark, sf_smoke, tmp_path):
    """A rebuild is a new VERSION: queries pinned to version 0 return
    the pre-rebuild answer unchanged, and the rebuilt index can serve
    vectors the old one had never seen."""
    import pyspark.sql.functions as F

    from candy_store_etl_spark.operators.similarity import (
        _quantized,
        ivf_build_index_log,
        ivf_query_index_log,
    )
    from candy_store_etl_spark.sources.tpch import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    table = str(tmp_path / "ivf")
    old_corpus = emb.filter(
        (F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 4)
    )
    v0 = ivf_build_index_log(old_corpus, table)
    q_ints = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(_quantized(F.col("embedding")).alias("q"))
        .first()
        .q
    ]
    before_df, _, _ = ivf_query_index_log(spark, table, q_ints)
    before = [tuple(r) for r in before_df.collect()]
    v1 = ivf_build_index_log(emb.filter(F.col("vec_id") != 0), table)
    assert (v0, v1) == (0, 1)
    # the pinned version is immune to the rebuild
    pinned_df, _, _ = ivf_query_index_log(spark, table, q_ints, version=0)
    assert [tuple(r) for r in pinned_df.collect()] == before
    # version 0 can never return a vec_id its corpus excluded
    assert all(r[0] % 5 != 4 for r in before)
    latest_df, _, _ = ivf_query_index_log(spark, table, q_ints)
    latest = [tuple(r) for r in latest_df.collect()]
    assert latest != before  # the new fifth changes the answer set


def test_ivf_append_refresh_is_o_increment(spark, sf_smoke, tmp_path):
    """ivf_append_to_index_log assigns ONLY the increment against the
    committed codebook: every version-0 file (inverted lists AND
    codebook) survives into version 1 with its inode, queries pinned
    to version 0 are untouched, and the increment becomes servable."""
    import os

    import pyspark.sql.functions as F

    from candy_store_etl_spark.operators.similarity import (
        _quantized,
        ivf_append_to_index_log,
        ivf_build_index_log,
        ivf_query_index_log,
    )
    from candy_store_etl_spark.sources import table_log as tl
    from candy_store_etl_spark.sources.tpch import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    table = str(tmp_path / "ivf")
    ivf_build_index_log(
        emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 4)),
        table,
    )
    q_ints = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(_quantized(F.col("embedding")).alias("q"))
        .first()
        .q
    ]
    before_df, _, _ = ivf_query_index_log(spark, table, q_ints)
    before = [tuple(r) for r in before_df.collect()]
    inodes0 = {p: os.stat(p).st_ino for p in tl.snapshot_files(table)}

    v1 = ivf_append_to_index_log(
        emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 == 4)),
        table,
    )
    assert v1 == 1
    v0_files = set(tl.snapshot_files(table, version=0))
    v1_files = set(tl.snapshot_files(table, version=1))
    assert v0_files < v1_files  # append only ever ADDS files
    for p in v0_files:
        assert os.stat(p).st_ino == inodes0[p]  # never rewritten
    pinned_df, _, _ = ivf_query_index_log(spark, table, q_ints, version=0)
    assert [tuple(r) for r in pinned_df.collect()] == before
    # the appended vectors are candidates at the latest version: the
    # grown index must rank at least as many rows as the old one did
    latest_df, kept, total = ivf_query_index_log(spark, table, q_ints)
    latest = [tuple(r) for r in latest_df.collect()]
    assert len(latest) >= len(before)
    assert 0 < kept < total


def test_batched_index_query_matches_single(spark, sf_smoke, tmp_path):
    """Batched serving equals N single-query passes: for each query
    id, the batch result's rows are exactly the single-query top-k
    over the same pinned index."""
    import pyspark.sql.functions as F

    from candy_store_etl_spark.operators.similarity import (
        _quantized,
        ivf_build_index_log,
        ivf_query_index_log,
        ivf_query_index_log_batch,
    )
    from candy_store_etl_spark.sources.tpch import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    table = str(tmp_path / "ivf")
    ivf_build_index_log(emb.filter(F.col("vec_id") != 0), table)
    qrows = (
        emb.filter(F.col("vec_id").isin([0, 5]))
        .select("vec_id", _quantized(F.col("embedding")).alias("q"))
        .collect()
    )
    queries = {int(r.vec_id): [int(x) for x in r.q] for r in qrows}
    batch_df, kept, total = ivf_query_index_log_batch(spark, table, queries)
    batch = {
        qid: sorted(
            (r.vec_id, r.rnk, r.cosine_sim)
            for r in batch_df.filter(F.col("qid") == qid).collect()
        )
        for qid in queries
    }
    for qid, qints in queries.items():
        single_df, _, _ = ivf_query_index_log(spark, table, qints)
        single = sorted(tuple(r) for r in single_df.collect())
        assert batch[qid] == single, f"qid {qid} diverged"
    assert 0 < kept < total
    # query 5 is IN the index: its self-match must lead its ranking
    assert (5, 1, 1.0) in batch[5]


def test_zorder_compact_prunes_both_dims_sorted_only(spark, sf_smoke, tmp_path):
    """The unsorted landing's committed stats prune NOTHING on either
    dimension; after one atomic z-order compact the SAME range reads
    keep a strict subset of files on BOTH dimensions, with results
    equal to the unpruned truth, and version 0 still time-travels."""
    import pyspark.sql.functions as F

    from candy_store_etl_spark.plans.warehouse import _interleave_expr
    from candy_store_etl_spark.sources import table_log as tl
    from candy_store_etl_spark.sources.tpch import load_table

    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        F.expr("((l_partkey * 2654435761) % 4294967296) % 1024")
        .cast("long")
        .alias("pk10"),
        (F.col("l_orderkey") % 1024).cast("long").alias("ok10"),
    )
    table = str(tmp_path / "z")
    tl.append(li.repartition(8), table, stats_cols=["pk10", "ok10"])
    ranges = (("pk10", 0, 255), ("ok10", 512, 767))
    for dim, lo, hi in ranges:
        _, kept, total = tl.read_snapshot_pruned(
            spark, table, dim, lo, hi, version=0
        )
        assert kept == total, f"random layout should not prune {dim}"
    tl.compact(
        spark,
        table,
        target_files=16,
        sort_by=F.expr(_interleave_expr("pk10", "ok10", bits=10)),
        stats_cols=["pk10", "ok10"],
    )
    for dim, lo, hi in ranges:
        df, kept, total = tl.read_snapshot_pruned(spark, table, dim, lo, hi)
        assert kept < total, f"z-order layout failed to prune {dim}"
        want = li.filter(F.col(dim).between(lo, hi)).count()
        assert df.count() == want  # pruning is lossless
    # the pre-compact version still serves the unsorted layout
    assert tl.read_snapshot(spark, table, version=0).count() == li.count()


def test_checkpoint_native_read_reports_tail_replay(spark, sf_correctness):
    from candy_store_etl_spark.plans.round7 import _TL_COMMITS

    rows = (
        QUERIES["table_log_checkpoint_native_read"]
        .fn(spark, sf_correctness)
        .collect()
    )
    assert rows
    for r in rows:
        assert r.checkpoint_version == 10
        assert r.entries_replayed == _TL_COMMITS - 1 - 10


def test_column_minmax_degrades_to_none(tmp_path):
    """Footer-stats probe: exact bounds from a real file; None (never a
    raise) for a directory dataset — the at-scale layout — or a
    missing/garbage path, so the funnel's sampled-range fallback takes
    over instead of the query erroring."""
    from candy_store_etl_spark.sources.footer_stats import column_minmax

    real = "/root/testdata/sf0.001/documents.parquet"
    lo, hi = column_minmax(real, "doc_id")
    assert lo == 0 and hi > 0
    assert column_minmax(real, "no_such_column") is None
    assert column_minmax(str(tmp_path), "doc_id") is None  # EMPTY directory
    assert column_minmax(str(tmp_path / "nope.parquet"), "doc_id") is None
    junk = tmp_path / "junk.parquet"
    junk.write_bytes(b"not a parquet file")
    assert column_minmax(str(junk), "doc_id") is None


def test_footer_stats_cover_directory_datasets(tmp_path):
    """r13: the at-scale layout is a DIRECTORY of part files — footer
    min/max and size stats must aggregate across parts (previously a
    directory degraded every footer-stats consumer to its sampled
    fallback on exactly the layout scale runs use), and any part
    rewrite must invalidate the cached entry."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from candy_store_etl_spark.sources.footer_stats import (
        column_minmax,
        column_size_stats,
    )
    from candy_store_etl_spark.sources.tpch import funnel_pid_bounds

    d = tmp_path / "documents.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"doc_id": list(range(0, 50)), "text": ["a b"] * 50}),
        d / "part-0.parquet",
    )
    pq.write_table(
        pa.table({"doc_id": list(range(50, 100)), "text": ["c d"] * 50}),
        d / "part-1.parquet",
    )
    assert column_minmax(str(d), "doc_id") == (0, 99)
    n_rows, n_bytes = column_size_stats(str(d), "text")
    assert n_rows == 100 and n_bytes > 0
    # dense ids across parts: the funnel's footer pid engages
    assert funnel_pid_bounds(str(tmp_path), 8) == (0, (100 + 7) // 8)
    # rewriting one part invalidates: range shrinks
    pq.write_table(
        pa.table({"doc_id": list(range(50, 60)), "text": ["e"] * 10}),
        d / "part-1.parquet",
    )
    os.utime(d / "part-1.parquet", ns=(1, 1))
    assert column_minmax(str(d), "doc_id") == (0, 59)
    assert column_size_stats(str(d), "text")[0] == 60
    # a junk member poisons the whole dataset to None (never a raise)
    (d / "part-2.parquet").write_bytes(b"junk")
    assert column_minmax(str(d), "doc_id") is None
    assert column_size_stats(str(d), "text") is None


def test_meta_cache_bounded_and_invalidated_on_rewrite(tmp_path):
    """The footer-metadata caches are BOUNDED (r13: a resident engine
    over a churning warehouse must not accumulate dead entries
    forever): rewriting a file replaces its entry in place, and entries
    past the LRU cap evict oldest-first."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from candy_store_etl_spark.sources import footer_stats

    # replace-on-rewrite: same path, new content -> new value, ONE entry
    cache = footer_stats.FileMetaCache(cap=4)
    p = tmp_path / "t.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), p)
    before = len(footer_stats._MINMAX_CACHE)
    assert footer_stats.column_minmax(str(p), "doc_id") == (1, 3)
    assert len(footer_stats._MINMAX_CACHE) == before + 1
    pq.write_table(pa.table({"doc_id": [10, 20]}), p)
    # ensure the stamp moves even on coarse-mtime filesystems
    os.utime(p, ns=(1, 1))
    assert footer_stats.column_minmax(str(p), "doc_id") == (10, 20)
    assert len(footer_stats._MINMAX_CACHE) == before + 1

    # LRU eviction: cap 4, insert 6 -> oldest two gone, newest kept
    for i in range(6):
        cache.store((f"k{i}",), (0, 0), i)
    assert len(cache) == 4
    assert cache.lookup(("k0",), (0, 0)) == (False, None)
    assert cache.lookup(("k1",), (0, 0)) == (False, None)
    assert cache.lookup(("k5",), (0, 0)) == (True, 5)
    # a lookup refreshes recency: touch k2, insert one more -> k3 evicts
    cache.lookup(("k2",), (0, 0))
    cache.store(("k6",), (0, 0), 6)
    assert cache.lookup(("k2",), (0, 0)) == (True, 2)
    assert cache.lookup(("k3",), (0, 0)) == (False, None)


def test_funnel_pid_bounds_density_guard(tmp_path):
    """r13 verdict item 8: equal-width doc_id buckets assume DENSE
    ids. A sparse id space (footer num_rows far below the id span)
    must return None so the funnel degrades to the sampled range
    split instead of silently skewing the pack stage; dense ids keep
    the zero-job footer bounds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from candy_store_etl_spark.sources.tpch import funnel_pid_bounds

    # the real testdata is dense: bounds present
    assert funnel_pid_bounds("/root/testdata/sf0.001", 8) is not None

    # sparse ids: 100 rows over a ~10^6 span -> density ~1e-4 -> None
    d = tmp_path / "sparse"
    d.mkdir()
    pq.write_table(
        pa.table({"doc_id": [i * 10_000 for i in range(100)]}),
        d / "documents.parquet",
    )
    assert funnel_pid_bounds(str(d), 8) is None

    # dense ids in a scratch file: bounds usable and correctly sized
    d2 = tmp_path / "dense"
    d2.mkdir()
    pq.write_table(
        pa.table({"doc_id": list(range(100))}), d2 / "documents.parquet"
    )
    lo, width = funnel_pid_bounds(str(d2), 8)
    assert lo == 0 and width == (100 + 7) // 8


def test_column_size_stats_matches_footer(tmp_path):
    """num_rows exact from the footer; byte totals positive for a real
    column; None for junk paths and absent columns (callers keep their
    counting fallback)."""
    import pyarrow.parquet as pq

    from candy_store_etl_spark.sources.footer_stats import column_size_stats

    real = "/root/testdata/sf0.001/documents.parquet"
    n_rows, n_bytes = column_size_stats(real, "text")
    assert n_rows == pq.ParquetFile(real).metadata.num_rows
    assert n_bytes > 0
    assert column_size_stats(real, "no_such_column") is None
    assert column_size_stats(str(tmp_path), "text") is None
    junk = tmp_path / "junk.parquet"
    junk.write_bytes(b"not a parquet file")
    assert column_size_stats(str(junk), "text") is None
