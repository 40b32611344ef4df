"""Round-7 additions.

The round-6 verdict's maturity directives as driver-checkable rows:

- ``table_log_checkpoint_native_read`` — the table-log's checkpoint
  path (O(interval) tail replay after thousands of commits) read
  through the ENGINE-NATIVE ``spark.read.format("table_log")``
  DataSource, with the replay cost IN the result so the oracle
  distinguishes checkpoint-replay from full-replay instead of
  trusting a docstring.
- ``pretraining_pipeline_funnel`` — the capstone: one end-to-end
  pretraining-data pipeline (scrub -> dedup -> decontaminate ->
  quality bucket -> chunk -> pack) emitting a per-stage row funnel,
  every stage oracled.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import SQL_TOKENS
from ..operators.funnel import (
    bow_fp,
    content_fp,
    quality_ok,
    sql_bow_fp,
    sql_content_fp,
    sql_quality_select,
)
from ..sources.tpch import load_table
from .registry import register

# 13 appends cross one auto-checkpoint (CHECKPOINT_INTERVAL = 10):
# versions 0..12, checkpoint rides v10, latest replays v11+v12 = 2
# tail entries. The oracle hardcodes these as integers, so a reader
# that silently regressed to full replay (13 entries) hash-mismatches.
_TL_COMMITS = 13


@register(
    "table_log_checkpoint_native_read",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST({_TL_COMMITS - 1 - 10} AS BIGINT) AS entries_replayed,
           CAST(10 AS BIGINT) AS checkpoint_version
    FROM documents GROUP BY source
    """,
    doc="Table-log maturity, both halves the round-6 verdict named: "
    "(1) CHECKPOINTING — the scratch table takes 13 appends, so the "
    "auto-checkpoint at version 10 (the publicly documented Delta "
    "_last_checkpoint pattern) makes latest-snapshot resolution "
    "replay 2 tail commits instead of 13; the replayed-entry count "
    "and checkpoint version are columns in the RESULT, so the DuckDB "
    "oracle distinguishes checkpoint-replay from full-replay by hash "
    "(a regression to O(versions) replay flips entries_replayed to "
    "13 and fails the gate). (2) ENGINE-NATIVE READS — the data rows "
    "come through spark.read.format('table_log') "
    "(sources/table_log_source.py, a Spark-4 Python DataSource): one "
    "input partition per live data file, Arrow record batches into "
    "the JVM, committed [min,max] stats consulted for planning-time "
    "file pruning under pushFilters. At 100 TB the checkpoint is what "
    "keeps snapshot resolution metadata-bound after thousands of "
    "commits — the failure mode the format exists to avoid.",
    tags=("warehouse", "table-format", "checkpoint", "datasource"),
)
def table_log_checkpoint_native_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import tempfile

    from ..sources import table_log as tl
    from ..sources import table_log_source
    from ..sources.scratch import content_fingerprint, ensure_scratch

    src = os.path.join(sf_dir, "documents.parquet")
    key = content_fingerprint(src, extra="ckpt")
    table = os.path.join(tempfile.gettempdir(), f"csetl_tlog_ckpt_{key}")

    def _intact(d: str) -> bool:
        if tl.current_version(d) != _TL_COMMITS - 1:
            return False
        info = tl.snapshot_replay_info(d)
        if info["checkpoint_version"] != 10:
            return False  # checkpoint must exist for the claim to hold
        return all(os.path.exists(p) for p in tl.snapshot_files(d))

    def _build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        for i in range(_TL_COMMITS):
            tl.append(
                docs.filter(F.col("doc_id") % _TL_COMMITS == i),
                stage,
                stats_cols=["doc_id"],
            )

    ensure_scratch(table, _build, _intact)
    info = tl.snapshot_replay_info(table)
    table_log_source.register(spark)
    snap = (
        spark.read.format("table_log").option("path", table).load()
    )
    return snap.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.lit(info["entries_replayed"]).cast("long").alias("entries_replayed"),
        F.lit(info["checkpoint_version"]).cast("long").alias(
            "checkpoint_version"
        ),
    )


# ---------------------------------------------------------------------------
# Capstone: the pretraining-data pipeline as ONE driver-checkable funnel
# ---------------------------------------------------------------------------

_F_CAP = 18  # max docs per source (domain cap)
_F_QMIN = 0.6  # quality threshold (same composite formula as
# corpus_curation, identically associated on both engines; 0.6 binds
# on the synthetic corpus where corpus_curation's 0.5 does not)
_F_MIX_NUM, _F_MIX_DEN = 7, 10  # per-source mixture sampling rate 7/10
_F_PROBE_MOD = 97  # doc_id % MOD == 0 defines the benchmark set
_F_PROBE_LEN = 40  # chars of each benchmark probe
_F_WIN = 32  # tokens per training chunk
_F_BUDGET = 512  # tokens per packed bin
_F_SHARD = 16  # bins per output shard
_F_MAX_CHUNKS = 4096  # per-doc chunk cap, shared with the oracle
# the gap-free max(bin)+1 bin count in the funnel depends on it
if not _F_WIN < _F_BUDGET:
    raise ValueError(f"_F_WIN ({_F_WIN}) must be below _F_BUDGET ({_F_BUDGET})")


@register(
    "pretraining_pipeline_funnel",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, text, {SQL_TOKENS} AS toks FROM documents
    ),
    q AS (
      {sql_quality_select("base", _F_QMIN)}
    ),
    cap AS (
      SELECT * FROM q
      QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id)
              <= {_F_CAP}
    ),
    ded AS (
      SELECT * FROM cap
      QUALIFY row_number() OVER (
        PARTITION BY {sql_content_fp()} ORDER BY doc_id) = 1
    ),
    bow AS (
      SELECT * FROM ded
      QUALIFY row_number() OVER (
        PARTITION BY {sql_bow_fp()}
        ORDER BY doc_id) = 1
    ),
    probes AS (
      SELECT list(DISTINCT substr(text, 1, {_F_PROBE_LEN})) AS ps
      FROM documents WHERE doc_id % {_F_PROBE_MOD} = 0
    ),
    clean AS (
      SELECT b.* FROM bow b CROSS JOIN probes
      WHERE len(list_filter(ps, p -> contains(b.text, p))) = 0
    ),
    mix AS (
      SELECT * FROM (
        SELECT *,
               row_number() OVER (PARTITION BY source ORDER BY doc_id)
                 AS mrk,
               COUNT(*) OVER (PARTITION BY source) AS mn
        FROM clean
      ) WHERE mrk * {_F_MIX_DEN} <= mn * {_F_MIX_NUM}
    ),
    chunks AS (
      SELECT doc_id, g.k AS chunk_idx,
             LEAST({_F_WIN}, len(toks) - {_F_WIN} * g.k) AS chunk_toks
      FROM mix CROSS JOIN generate_series(0, {_F_MAX_CHUNKS} - 1) AS g(k)
      WHERE {_F_WIN} * g.k < len(toks)
    ),
    binned AS (
      SELECT COALESCE(SUM(chunk_toks) OVER (
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_F_BUDGET} AS bin
      FROM chunks
    ),
    c AS (
      SELECT (SELECT COUNT(*) FROM base) AS n0,
             (SELECT COUNT(*) FROM q) AS n1,
             (SELECT COUNT(*) FROM cap) AS n2,
             (SELECT COUNT(*) FROM ded) AS n3,
             (SELECT COUNT(*) FROM bow) AS n4,
             (SELECT COUNT(*) FROM clean) AS n5,
             (SELECT COUNT(*) FROM mix) AS n6,
             (SELECT COUNT(*) FROM chunks) AS n7,
             (SELECT COUNT(DISTINCT bin) FROM binned) AS n8
    )
    SELECT stage_idx, stage,
           CAST(rows_in AS BIGINT) AS rows_in,
           CAST(rows_out AS BIGINT) AS rows_out
    FROM c, (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9), (10))
           AS v(stage_idx),
    LATERAL (SELECT CASE stage_idx
               WHEN 1 THEN 'ingest' WHEN 2 THEN 'quality_filter'
               WHEN 3 THEN 'domain_cap' WHEN 4 THEN 'exact_dedup'
               WHEN 5 THEN 'neardup_bow' WHEN 6 THEN 'decontaminate'
               WHEN 7 THEN 'mixture_sample' WHEN 8 THEN 'chunk'
               WHEN 9 THEN 'pack' ELSE 'shard_plan' END AS stage,
             CASE stage_idx
               WHEN 1 THEN n0 WHEN 2 THEN n0 WHEN 3 THEN n1
               WHEN 4 THEN n2 WHEN 5 THEN n3 WHEN 6 THEN n4
               WHEN 7 THEN n5 WHEN 8 THEN n6 WHEN 9 THEN n7
               ELSE n8 END AS rows_in,
             CASE stage_idx
               WHEN 1 THEN n0 WHEN 2 THEN n1 WHEN 3 THEN n2
               WHEN 4 THEN n3 WHEN 5 THEN n4 WHEN 6 THEN n5
               WHEN 7 THEN n6 WHEN 8 THEN n7 WHEN 9 THEN n8
               ELSE (n8 + {_F_SHARD - 1}) // {_F_SHARD} END AS rows_out
          ) s
    ORDER BY stage_idx
    """,
    doc="THE capstone composite: one end-to-end pretraining-data "
    "pipeline — quality filter (corpus_curation's exact formula) -> "
    "domain cap -> exact dedup (content fingerprint) -> bag-of-words "
    "near-dup (md5 of sorted distinct tokens: word-order-invariant "
    "dedup, the portable tier of the near-dup family) -> benchmark "
    "decontamination (drop docs containing any probe prefix from the "
    f"doc_id%{_F_PROBE_MOD}==0 benchmark set) -> per-source mixture sample "
    "(head 7/10, integer-exact rank*10<=n*7) -> context-window "
    "chunking -> token-budget bin packing -> shard plan — emitted as "
    "a 10-row funnel (stage, rows_in, rows_out), every stage count "
    "oracled. Plan shape: stages 1-7 are SURVIVAL FLAGS computed in "
    "ONE scan of the corpus (conditional running sums over the "
    "source/fingerprint windows — no per-stage materialization, no "
    "driver loop); the chunk/pack fan-out runs on the survivors with "
    "the DISTRIBUTED prefix-sum (range partitions + per-partition "
    "sums + p-row offset window, never a single-task global window); "
    "the funnel assembles from two 1-row aggregates. At 100 TB this "
    "is one corpus pass plus bounded-size window shuffles — the "
    "whole pipeline's cost profile in one driver-checkable row set. "
    "Cf. reference src/data_processor.py:136-210 (per-stage driver "
    "loop over collections).",
    tags=("pipeline", "capstone", "dedup", "curation", "packing"),
)
def pretraining_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", tokens(F.col("text")).alias("toks")
    )
    t = F.col("toks")
    n_tok = F.size(t)

    probes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _F_PROBE_MOD == 0)
        .select(F.substring("text", 1, _F_PROBE_LEN).alias("p"))
        .agg(F.collect_set("p").alias("ps"))
    )

    # the SHARED stage primitives (operators/funnel.py): the docstring's
    # "corpus_curation's exact formula" claim holds only because both
    # composites and the oracle use literally the same definitions
    flagged = (
        docs.withColumn("q_ok", quality_ok(t, _F_QMIN))
        .withColumn("__fp", content_fp(F.col("text")))
        .withColumn("__bowfp", bow_fp(t))
        .withColumn("n_toks", n_tok.cast("long"))
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fp = (
        Window.partitionBy("__fp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bow = (
        Window.partitionBy("__bowfp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_src_all = Window.partitionBy("source")

    def flag(c):
        return F.when(c, F.lit(1)).otherwise(F.lit(0))

    flagged = (
        flagged.withColumn(
            "cap_ok",
            F.col("q_ok") & (F.sum(flag(F.col("q_ok"))).over(w_src) <= _F_CAP),
        )
        .withColumn(
            "ded_ok",
            F.col("cap_ok")
            & (F.sum(flag(F.col("cap_ok"))).over(w_fp) == 1),
        )
        .withColumn(
            "bow_ok",
            F.col("ded_ok")
            & (F.sum(flag(F.col("ded_ok"))).over(w_bow) == 1),
        )
        .crossJoin(F.broadcast(probes))
        .withColumn(
            "clean_ok",
            F.col("bow_ok")
            & (
                F.size(
                    F.filter(
                        F.col("ps"), lambda p: F.col("text").contains(p)
                    )
                )
                == 0
            ),
        )
        .withColumn(
            "mix_ok",
            F.col("clean_ok")
            & (
                F.sum(flag(F.col("clean_ok"))).over(w_src) * _F_MIX_DEN
                <= F.sum(flag(F.col("clean_ok"))).over(w_src_all)
                * _F_MIX_NUM
            ),
        )
    )
    from ..caching import tracked_cache

    flagged = tracked_cache(
        flagged.select(
            "doc_id", "n_toks", "q_ok", "cap_ok", "ded_ok", "bow_ok",
            "clean_ok", "mix_ok",
        )
    )
    doc_counts = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(flag(F.col("q_ok"))).alias("n1"),
        F.sum(flag(F.col("cap_ok"))).alias("n2"),
        F.sum(flag(F.col("ded_ok"))).alias("n3"),
        F.sum(flag(F.col("bow_ok"))).alias("n4"),
        F.sum(flag(F.col("clean_ok"))).alias("n5"),
        F.sum(flag(F.col("mix_ok"))).alias("n6"),
    )

    # chunk + pack over the survivors: distributed prefix sum (range
    # partitions + per-partition totals + p-row offset window), never
    # a single-task global cumsum
    chunks = (
        flagged.filter("mix_ok")
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.least(
                        F.ceil(F.col("n_toks") / F.lit(_F_WIN)) - 1,
                        F.lit(_F_MAX_CHUNKS - 1),
                    ),
                )
            ).alias("chunk_idx"),
            "n_toks",
        )
        .withColumn(
            "chunk_toks",
            F.least(
                F.lit(_F_WIN), F.col("n_toks") - _F_WIN * F.col("chunk_idx")
            ).cast("long"),
        )
    )
    from ..sources.tpch import funnel_pid_bounds, prefix_sum_partitions

    n_part = prefix_sum_partitions(spark)
    # the prefix sum needs pid monotone in the global order key
    # (doc_id, chunk_idx) — NOT a physical range exchange. Deriving pid
    # from the data (equal-width doc_id buckets; all chunks of a doc
    # share one) lets the local-cumsum window's own hash exchange do
    # the ONLY shuffle, where repartitionByRange + spark_partition_id
    # paid a sampling job + range exchange + a second hash exchange
    # (Catalyst can't see that physical pids align). Bucket bounds come
    # from parquet footer min/max (zero jobs) GUARDED by a footer
    # row-count density check (r13): sparse/clustered id spaces where
    # equal-width would skew fall back to the sampled split, like
    # stats-less files. Any monotone split yields identical bins (the
    # offset window corrects the cut points), pinned by
    # tests/test_partition_invariance.py.
    bounds = funnel_pid_bounds(sf_dir, n_part)
    if bounds is not None:
        lo, width = bounds
        with_pid = chunks.withColumn(
            "pid",
            F.least(
                F.lit(n_part - 1),
                F.expr(f"(doc_id - {lo}) div {width}").cast("int"),
            ),
        )
        # pid is a PURE FUNCTION of doc_id here, so the offsets branch
        # and the rank branch agree by construction — no pinned layout
        # needed, the r12 cache of the windowed relation and its
        # materialization pass go (the r12 corruption class was
        # independently-SAMPLED boundary sets, impossible for a
        # deterministic pid). Offsets aggregate the pre-window relation
        # map-side: one p-row exchange.
    else:  # stats-less files: sampled range split (row-balanced).
        # spark_partition_id makes pid LAYOUT-dependent: caching the
        # exchange output pins ONE materialized layout, and both
        # consumers stamp pid over the SAME cached partitions — else
        # ranks and offsets land on independently-sampled boundary
        # sets and the global cumsum silently corrupts (reproduced
        # r12; same discipline as round6._global_row_number).
        ranged = tracked_cache(
            chunks.repartitionByRange(n_part, "doc_id", "chunk_idx")
        )
        with_pid = ranged.withColumn("pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("pid")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = with_pid.withColumn("local_cum", F.sum("chunk_toks").over(w_local))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        with_pid.groupBy("pid")
        .agg(F.sum("chunk_toks").alias("pt"))
        .select(
            "pid",
            F.coalesce(F.sum("pt").over(w_off), F.lit(0).cast("long")).alias(
                "__off"
            ),
        )
    )
    binned = (
        local.join(F.broadcast(offsets), "pid")
        .withColumn(
            "bin",
            F.expr(
                f"(local_cum + __off - chunk_toks) div {_F_BUDGET}"
            ).cast("long"),
        )
    )
    # COUNT(DISTINCT bin) == max(bin)+1: bins are GAP-FREE, because the
    # exclusive prefix sum steps by chunk_toks in [1, _F_WIN] and
    # _F_WIN < _F_BUDGET, so consecutive bins differ by at most 1 and
    # bin 0 is always hit — floor((E+c)/B) <= floor(E/B)+1 whenever
    # c < B. The max-aggregate drops the distinct's extra expand pass
    # and exchange (r13; equality verified against the countDistinct
    # form and the oracle at all three SFs). Empty chunk relations
    # degrade via the coalesce: max is NULL, n8 must be 0.
    pack_counts = binned.agg(
        F.count(F.lit(1)).alias("n7"),
        F.coalesce(
            F.max("bin") + F.lit(1), F.lit(0).cast("long")
        ).alias("n8"),
    )

    names = [
        "ingest", "quality_filter", "domain_cap", "exact_dedup",
        "neardup_bow", "decontaminate", "mixture_sample", "chunk",
        "pack", "shard_plan",
    ]
    ins = ["n0", "n0", "n1", "n2", "n3", "n4", "n5", "n6", "n7", "n8"]
    outs = [
        "n0", "n1", "n2", "n3", "n4", "n5", "n6", "n7", "n8",
        f"(n8 + {_F_SHARD - 1}) div {_F_SHARD}",
    ]
    stack_args = ", ".join(
        f"{i + 1}, '{nm}', CAST({a} AS BIGINT), CAST({b} AS BIGINT)"
        for i, (nm, a, b) in enumerate(zip(names, ins, outs))
    )
    return (
        doc_counts.crossJoin(F.broadcast(pack_counts))
        .selectExpr(
            f"stack({len(names)}, {stack_args}) AS "
            "(stage_idx, stage, rows_in, rows_out)"
        )
        .orderBy("stage_idx")
    )


@register(
    "table_log_writer_roundtrip",
    oracle="""
    SELECT 0 AS version,
           CAST(COUNT(*) FILTER (doc_id % 2 = 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n_chars) FILTER (doc_id % 2 = 0), 0)
                AS BIGINT) AS total_chars
    FROM documents
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
    FROM documents WHERE doc_id < 250
    """,
    doc="The ENGINE-NATIVE WRITE path, driver-checked: the scratch "
    "table is built entirely through df.write.format('table_log') — "
    "v0 appends the even doc_ids, v1 appends the odds, v2 OVERWRITES "
    "with doc_id < 250 — then every version is read back through the "
    "native reader with time travel. Each task stages one parquet "
    "file (named by stage/partition/attempt) and the DRIVER commits "
    "the batch as one atomic log version (DataSourceArrowWriter "
    "two-phase commit); an overwrite removes the prior snapshot and "
    "adds its files in the SAME version, so readers never see a mix. "
    "The oracle recomputes each version's contents from the source "
    "relation: a writer that dropped a task file, double-committed a "
    "retry, or tore the overwrite hash-mismatches. Completes the "
    "table-format surface: native reader (checkpointed, "
    "stats-pruned), native writer, library API, and CDC sink all "
    "commit through one log.",
    tags=("warehouse", "table-format", "datasource", "writer"),
)
def table_log_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources import table_log as tl
    from ..sources import table_log_source
    from ..sources.scratch import content_fingerprint, ensure_scratch

    table_log_source.register(spark)
    src = os.path.join(sf_dir, "documents.parquet")
    key = content_fingerprint(src, extra="writer")
    table = os.path.join(tempfile.gettempdir(), f"csetl_tlog_writer_{key}")

    def _intact(d: str) -> bool:
        if tl.current_version(d) != 2:
            return False
        return all(
            os.path.exists(p)
            for v in range(3)
            for p in tl.snapshot_files(d, version=v)
        )

    def _build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")

        def w(df, mode):
            df.write.format("table_log").option("path", stage).mode(
                mode
            ).save()

        w(docs.filter(F.col("doc_id") % 2 == 0), "append")
        w(docs.filter(F.col("doc_id") % 2 == 1), "append")
        w(docs.filter(F.col("doc_id") < 250), "overwrite")

    ensure_scratch(table, _build, _intact)
    parts = []
    for v in range(3):
        snap = (
            spark.read.format("table_log")
            .option("path", table)
            .option("version", v)
            .load()
        )
        parts.append(
            snap.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("n_chars"), F.lit(0)).alias("total_chars"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("total_chars").cast("long").alias("total_chars"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "table_log_change_feed",
    oracle="""
    SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 'insert', 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_chars) AS BIGINT)
    FROM documents WHERE doc_id % 3 = 1
    UNION ALL
    SELECT 'insert', 2, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_chars) AS BIGINT)
    FROM documents WHERE doc_id < 300
    UNION ALL
    SELECT 'remove', 2, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_chars) AS BIGINT)
    FROM documents WHERE doc_id % 3 IN (0, 1)
    UNION ALL
    SELECT 'insert', 4, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_chars) AS BIGINT)
    FROM documents WHERE doc_id % 5 = 0
    """,
    doc="The table log as a STREAMING CHANGE FEED — "
    "spark.readStream.format('table_log').option('changeFeed','true') "
    "(sources/table_log_source.py TableLogChangeFeedReader): offsets "
    "ARE committed versions, each micro-batch reads exactly the "
    "commits that landed since the last trigger, added files stream "
    "as insert rows and removed files as remove rows (immutable until "
    "vacuum — the Delta-CDF retention contract), and compact commits "
    "are layout-only so the feed SKIPS them. The scratch table takes "
    "append/append/overwrite/COMPACT/append; the result aggregates "
    "the feed per (change_type, commit_version), so the oracle pins "
    "all four semantics at once: the overwrite emits BOTH its inserts "
    "and the prior snapshot's removes under one version, the compact "
    "version is absent, and every count/chars sum is recomputed by "
    "DuckDB from the source relation. At 100 TB this is the "
    "incremental-consumption face of the lakehouse: downstream jobs "
    "follow the log at commit granularity and read only each "
    "commit's delta, never rescanning the table. Completes the "
    "format surface: batch reader (checkpointed, stats-pruned), "
    "native writer, CDC sink, and now a streaming source, all over "
    "one log.",
    tags=("warehouse", "table-format", "streaming", "datasource"),
)
def table_log_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources import table_log as tl
    from ..sources import table_log_source
    from ..sources.scratch import content_fingerprint, ensure_scratch
    from ..streaming.events import run_stream_to_memory

    table_log_source.register(spark)
    src = os.path.join(sf_dir, "documents.parquet")
    key = content_fingerprint(src, extra="cdf")
    table = os.path.join(tempfile.gettempdir(), f"csetl_tlog_cdf_{key}")

    def _intact(d: str) -> bool:
        if tl.current_version(d) != 4:
            return False
        # the feed reads REMOVED files too (v2's removes = v0/v1's
        # adds), so every ever-added file must still exist
        return all(
            os.path.exists(os.path.join(d, n))
            for e in tl.log_entries(d)
            for n in e["add"]
        )

    def _build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        tl.append(docs.filter(F.col("doc_id") % 3 == 0), stage)
        tl.append(docs.filter(F.col("doc_id") % 3 == 1), stage)
        tl.overwrite(docs.filter(F.col("doc_id") < 300), stage)
        tl.compact(spark, stage)
        tl.append(docs.filter(F.col("doc_id") % 5 == 0), stage)

    ensure_scratch(table, _build, _intact)
    feed = (
        spark.readStream.format("table_log")
        .option("path", table)
        .option("changeFeed", "true")
        .load()
    )
    agg = feed.groupBy(
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    run_stream_to_memory(agg, "csetl_tlog_cdf", output_mode="complete")
    return spark.table("csetl_tlog_cdf")


@register(
    "table_log_schema_evolution",
    oracle="""
    SELECT CASE WHEN doc_id % 2 = 0 THEN '<pre-evolution>'
                ELSE source END AS src,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(3 AS BIGINT) AS n_schema_cols
    FROM documents GROUP BY 1
    """,
    doc="ADDITIVE SCHEMA EVOLUTION through the table log: v0 appends "
    "(doc_id, n_chars) for the even doc_ids, v1 appends the odds "
    "WITH a new nullable source column — the commit records the "
    "writer's schema, so the table schema is resolved from the LOG "
    "(newest wins; per-version for time travel) and the v0 files "
    "null-fill source on every read face (library scan plans under "
    "the committed schema; the native DataSource reader pads Arrow "
    "batches; the change feed pads too). Dropping or retyping a "
    "column fails the WRITE (SchemaEvolutionError), never the "
    "eventual read — pinned in tests/test_table_log.py. The result "
    "groups the LATEST snapshot by source with pre-evolution rows "
    "surfacing under a sentinel (exactly the null-fill the oracle "
    "recomputes from the doc_id parity), and n_schema_cols pins the "
    "log-resolved schema width. At 100 TB schema changes are "
    "metadata-only commits — no table rewrite, old files never "
    "touched — which is the entire point of keeping schema in the "
    "log instead of the files.",
    tags=("warehouse", "table-format", "schema-evolution"),
)
def table_log_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources import table_log as tl
    from ..sources import table_log_source
    from ..sources.scratch import content_fingerprint, ensure_scratch

    table_log_source.register(spark)
    src = os.path.join(sf_dir, "documents.parquet")
    key = content_fingerprint(src, extra="schemaevo")
    table = os.path.join(tempfile.gettempdir(), f"csetl_tlog_evo_{key}")

    def _intact(d: str) -> bool:
        if tl.current_version(d) != 1:
            return False
        schema = tl.snapshot_schema(d)
        if schema is None or len(schema.fields) != 3:
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(d))

    def _build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        tl.append(
            docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars"),
            stage,
        )
        tl.append(
            docs.filter(F.col("doc_id") % 2 == 1).select(
                "doc_id", "n_chars", "source"
            ),
            stage,
        )

    ensure_scratch(table, _build, _intact)
    n_cols = len(tl.snapshot_schema(table).fields)
    snap = spark.read.format("table_log").option("path", table).load()
    return snap.groupBy(
        F.coalesce(F.col("source"), F.lit("<pre-evolution>")).alias("src")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.lit(n_cols).cast("long").alias("n_schema_cols"),
    )


# ---------------------------------------------------------------------------
# Second composite: incremental corpus refresh through the table log
# ---------------------------------------------------------------------------

_R_MOD = 4  # doc_id % 4 == 3 is the newly-arrived increment (25%)
_R_QMIN = 0.6  # same binding threshold as the capstone


@register(
    "incremental_corpus_refresh",
    oracle=f"""
    WITH inc0 AS (
      SELECT doc_id, source, text, {SQL_TOKENS} AS toks
      FROM documents WHERE doc_id % {_R_MOD} = {_R_MOD - 1}
    ),
    basefp AS (
      SELECT DISTINCT {sql_content_fp()} AS fp
      FROM documents WHERE doc_id % {_R_MOD} <> {_R_MOD - 1}
    ),
    basebow AS (
      SELECT DISTINCT {sql_bow_fp(f"{SQL_TOKENS}")} AS bowfp
      FROM documents WHERE doc_id % {_R_MOD} <> {_R_MOD - 1}
    ),
    q AS (
      {sql_quality_select("inc0", _R_QMIN)}
    ),
    ded AS (
      SELECT * FROM q
      QUALIFY row_number() OVER (
        PARTITION BY {sql_content_fp()} ORDER BY doc_id) = 1
    ),
    exb AS (
      SELECT d.* FROM ded d
      WHERE NOT EXISTS (
        SELECT 1 FROM basefp b WHERE b.fp = {sql_content_fp("d.text")})
    ),
    bowb AS (
      SELECT e.* FROM exb e
      WHERE NOT EXISTS (
        SELECT 1 FROM basebow b
        WHERE b.bowfp = {sql_bow_fp("e.toks")})
    ),
    c AS (
      SELECT (SELECT COUNT(*) FROM inc0) AS n0,
             (SELECT COUNT(*) FROM q) AS n1,
             (SELECT COUNT(*) FROM ded) AS n2,
             (SELECT COUNT(*) FROM exb) AS n3,
             (SELECT COUNT(*) FROM bowb) AS n4,
             (SELECT COUNT(*) FROM documents
              WHERE doc_id % {_R_MOD} <> {_R_MOD - 1}) AS nb
    )
    SELECT stage_idx, stage,
           CAST(rows_in AS BIGINT) AS rows_in,
           CAST(rows_out AS BIGINT) AS rows_out
    FROM c, (VALUES (1), (2), (3), (4), (5), (6)) AS v(stage_idx),
    LATERAL (SELECT CASE stage_idx
               WHEN 1 THEN 'ingest_increment' WHEN 2 THEN 'quality_filter'
               WHEN 3 THEN 'exact_dedup_self' WHEN 4 THEN 'exact_vs_base'
               WHEN 5 THEN 'neardup_vs_base' ELSE 'append_commit'
             END AS stage,
             CASE stage_idx
               WHEN 1 THEN n0 WHEN 2 THEN n0 WHEN 3 THEN n1
               WHEN 4 THEN n2 WHEN 5 THEN n3 ELSE n4 END AS rows_in,
             CASE stage_idx
               WHEN 1 THEN n0 WHEN 2 THEN n1 WHEN 3 THEN n2
               WHEN 4 THEN n3 WHEN 5 THEN n4 ELSE nb + n4 END AS rows_out
          ) s
    ORDER BY stage_idx
    """,
    doc="The SECOND funnel composite, proving the stage primitives are "
    "reusable (operators/funnel.py, shared with the capstone): a 25% "
    "increment of newly-arrived documents is refreshed INTO an "
    "existing corpus — quality filter -> exact dedup within the "
    "increment -> exact-fingerprint anti-join against the base corpus "
    "-> bag-of-words near-dup anti-join against the base -> survivors "
    "APPENDED through the table log as one atomic commit (v0 = base, "
    "v1 = base + survivors). The final stage's rows_out is the "
    "POST-COMMIT snapshot row count read back from the log, so the "
    "oracle verifies the append actually landed, not just the plan "
    "arithmetic. Scale shape: the increment is scanned once with "
    "survival flags; the base side joins project FINGERPRINTS ONLY "
    "(16-byte md5s, never documents), so the anti-joins shuffle "
    "hashes — at 100 TB this is the standing dedup-index pattern "
    "(probe new data against a fingerprint index, append survivors), "
    "with the log giving readers an atomic before/after. "
    "Cf. plans/curation.py incremental_neardup_probe (LSH-banded "
    "probe tier of the same shape).",
    tags=("pipeline", "capstone", "dedup", "curation", "table-format"),
)
def incremental_corpus_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark.sql.window import Window

    from ..caching import tracked_cache
    from ..functions.text import tokens
    from ..sources import table_log as tl
    from ..sources.scratch import content_fingerprint, ensure_scratch

    docs = load_table(spark, sf_dir, "documents")
    is_inc = F.col("doc_id") % _R_MOD == _R_MOD - 1
    base = docs.filter(~is_inc)
    inc = docs.filter(is_inc).select(
        "doc_id", "text", "lang", "source", "n_chars",
        tokens(F.col("text")).alias("toks"),
    )
    t = F.col("toks")

    # base side: fingerprints ONLY ever leave the base scan
    base_fps = (
        base.select(content_fp(F.col("text")).alias("fp"))
        .distinct()
        .withColumn("__in_base", F.lit(1))
    )
    base_bows = (
        base.select(bow_fp(tokens(F.col("text"))).alias("bowfp"))
        .distinct()
        .withColumn("__in_base_bow", F.lit(1))
    )

    w_fp = (
        Window.partitionBy("fp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def flag(c):
        return F.when(c, F.lit(1)).otherwise(F.lit(0))

    flagged = (
        inc.withColumn("q_ok", quality_ok(t, _R_QMIN))
        .withColumn("fp", content_fp(F.col("text")))
        .withColumn("bowfp", bow_fp(t))
        .withColumn(
            "self_ok",
            F.col("q_ok") & (F.sum(flag(F.col("q_ok"))).over(w_fp) == 1),
        )
        .join(base_fps, "fp", "left")
        .withColumn(
            "exb_ok", F.col("self_ok") & F.col("__in_base").isNull()
        )
        .join(base_bows, "bowfp", "left")
        .withColumn(
            "bow_ok", F.col("exb_ok") & F.col("__in_base_bow").isNull()
        )
    )
    flagged = tracked_cache(
        flagged.select(
            "doc_id", "text", "lang", "source", "n_chars",
            "q_ok", "self_ok", "exb_ok", "bow_ok",
        )
    )

    src = os.path.join(sf_dir, "documents.parquet")
    # the extra string carries the LOGIC VERSION: anything that
    # changes what the scratch table should contain must change it
    # (the z-order query's "zorder-fibhash-pk10" discipline)
    key = content_fingerprint(src, extra=f"refresh-m{_R_MOD}-q{_R_QMIN}")
    table = os.path.join(tempfile.gettempdir(), f"csetl_tlog_refresh_{key}")

    def _intact(d: str) -> bool:
        if tl.current_version(d) != 1:
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(d))

    def _build(stage: str) -> None:
        tl.append(
            base.select("doc_id", "text", "lang", "source", "n_chars"),
            stage,
        )
        tl.append(
            flagged.filter("bow_ok").select(
                "doc_id", "text", "lang", "source", "n_chars"
            ),
            stage,
        )

    ensure_scratch(table, _build, _intact)
    # the post-commit truth, read back from the log — verifies the
    # append landed, not just the funnel arithmetic
    total_after = tl.read_snapshot(spark, table).count()

    counts = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(flag(F.col("q_ok"))).alias("n1"),
        F.sum(flag(F.col("self_ok"))).alias("n2"),
        F.sum(flag(F.col("exb_ok"))).alias("n3"),
        F.sum(flag(F.col("bow_ok"))).alias("n4"),
    )
    names = [
        "ingest_increment", "quality_filter", "exact_dedup_self",
        "exact_vs_base", "neardup_vs_base", "append_commit",
    ]
    ins = ["n0", "n0", "n1", "n2", "n3", "n4"]
    outs = ["n0", "n1", "n2", "n3", "n4", str(total_after)]
    stack_args = ", ".join(
        f"{i + 1}, '{nm}', CAST({a} AS BIGINT), CAST({b} AS BIGINT)"
        for i, (nm, a, b) in enumerate(zip(names, ins, outs))
    )
    return counts.selectExpr(
        f"stack({len(names)}, {stack_args}) AS "
        "(stage_idx, stage, rows_in, rows_out)"
    ).orderBy("stage_idx")


# ---------------------------------------------------------------------------
# Versioned IVF index served through the table log
# ---------------------------------------------------------------------------

_IVF_V_MOD = 5  # version-0 index excludes vec_id % 5 == 4 (the
# "not yet arrived" fifth); version 1 rebuilds over the full corpus


def _ivf_training_ctes(corpus_where: str) -> str:
    """Quantize, stride-seed, two integer Lloyd iterations — reusing
    the portable-IVF SQL builders from plans/vectors.py verbatim.
    Ends at the trained codebook ``c2``; callers add their own
    query/probe/rerank tail."""
    from .vectors import _ivf_sql_assign, _ivf_sql_update

    return f"""base AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x*1000000.0 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    corpus AS (SELECT vec_id AS vid, q FROM base WHERE {corpus_where}),
    seeds AS (
      SELECT vid, q FROM corpus
      WHERE vid % (SELECT GREATEST(1, COUNT(*) // 16) FROM corpus) = 0
      ORDER BY vid LIMIT 16
    ),
    c0 AS (SELECT row_number() OVER (ORDER BY vid) - 1 AS list_id, q AS c
           FROM seeds),
    {_ivf_sql_assign("a1", "c0")},
    {_ivf_sql_update("a1", "m1", "c1")},
    {_ivf_sql_assign("a2", "c1")},
    {_ivf_sql_update("a2", "m2", "c2")}"""


def _ivf_common_ctes(corpus_where: str) -> str:
    """The single-query replay prefix: training CTEs plus the vec_id=0
    query vector and its top-4 probe lists."""
    from .vectors import _ivf_sql_score

    return f"""{_ivf_training_ctes(corpus_where)},
    qv AS (SELECT q AS qq FROM base WHERE vec_id = 0),
    probe AS (
      SELECT list_id FROM (
        SELECT s.list_id,
               row_number() OVER (ORDER BY {_ivf_sql_score("qq", "s.c")} DESC,
                                  s.list_id) AS rn
        FROM c2 s CROSS JOIN qv) WHERE rn <= 4
    )"""


def _ivf_sql_rerank(candidates: str) -> str:
    from .vectors import _ivf_sql_dot

    return f"""rer AS (
      SELECT vid,
             {_ivf_sql_dot("q", "qq")}
               / (sqrt({_ivf_sql_dot("q", "q")}) * sqrt({_ivf_sql_dot("qq", "qq")}))
               AS cos
      FROM {candidates} JOIN probe USING (list_id) CROSS JOIN qv
    )"""


def _ivf_versioned_sql_block(idx_version: int, corpus_where: str) -> str:
    """One index version's full DuckDB replay as a derived subquery
    (its own WITH scope, so the two versions' CTE names do not
    collide)."""
    from .vectors import _ivf_sql_assign

    return f"""(
    WITH {_ivf_common_ctes(corpus_where)},
    {_ivf_sql_assign("a3", "c2")},
    {_ivf_sql_rerank("a3")}
    SELECT CAST({idx_version} AS INTEGER) AS idx_version,
           vid AS vec_id,
           CAST(row_number() OVER (ORDER BY cos DESC, vid) AS INTEGER) AS rnk,
           FLOOR(cos*1000000.0 + 0.5)/1000000.0 AS cosine_sim,
           TRUE AS pruned
    FROM rer QUALIFY rnk <= 10
    )"""


def _ensure_ivf_versioned_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, content-keyed) the two-version IVF index scratch
    table shared by the versioned and batch serving queries: v0
    trained without the newest fifth of vectors, v1 rebuilt over the
    full corpus (query vector 0 always excluded)."""
    import os
    import tempfile

    from ..operators.similarity import ivf_build_index_log
    from ..sources import table_log as tl
    from ..sources.scratch import content_fingerprint, ensure_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    key = content_fingerprint(
        src, extra=f"ivflog-k16p4-m{_IVF_V_MOD}"  # logic version
    )
    table = os.path.join(tempfile.gettempdir(), f"csetl_ivf_log_{key}")

    def _intact(d: str) -> bool:
        if tl.current_version(d) != 1:
            return False
        return all(
            os.path.exists(p)
            for v in (0, 1)
            for p in tl.snapshot_files(d, version=v)
        )

    def _build(stage: str) -> None:
        ivf_build_index_log(
            emb.filter(
                (F.col("vec_id") != 0)
                & (F.col("vec_id") % _IVF_V_MOD != _IVF_V_MOD - 1)
            ),
            stage,
        )
        ivf_build_index_log(emb.filter(F.col("vec_id") != 0), stage)

    ensure_scratch(table, _build, _intact)
    return table


@register(
    "ann_ivf_index_versioned",
    oracle=f"""
    SELECT * FROM {_ivf_versioned_sql_block(0, f"vec_id <> 0 AND vec_id % {_IVF_V_MOD} <> {_IVF_V_MOD - 1}")}
    UNION ALL
    SELECT * FROM {_ivf_versioned_sql_block(1, "vec_id <> 0")}
    ORDER BY idx_version, rnk
    """,
    doc="The ANN index as a VERSIONED TABLE: two portable-IVF builds "
    "are published through the table log (ivf_build_index_log) — "
    "version 0 trained before the newest fifth of vectors arrived, "
    "version 1 rebuilt over the full corpus — each an ATOMIC commit "
    "carrying the range-sorted inverted lists AND the codebook, so "
    "readers never see new centroids over old lists (the race the "
    "plain two-directory ivf_build_index cannot exclude). The query "
    "then serves top-10 at BOTH pinned versions: probe selection "
    "replays the integer affinity over the committed codebook, and "
    "the scan opens only files whose committed list_id [min,max] can "
    "hold a probed list (ivf_query_index_log; the pruned column "
    "asserts files_kept < files_total, planned from the log with "
    "zero read-time footer I/O). The DuckDB oracle replays BOTH "
    "builds bit-identically — quantization, stride seeding, two "
    "integer Lloyd iterations, probing, exact rerank — so the "
    "version-0 result proves the old index still answers from its "
    "snapshot after the rebuild. At 100 TB this is the index-refresh "
    "story: rebuild into version N+1 while queries pin N, swap "
    "atomically, vacuum on retention.",
    tags=("vectors", "ann", "ivf", "table-format", "portable"),
)
def ann_ivf_index_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _quantized, ivf_query_index_log

    emb = load_table(spark, sf_dir, "embeddings")
    table = _ensure_ivf_versioned_table(spark, sf_dir)
    # the query vector, quantized EXACTLY like the index build
    qrow = (
        emb.filter(F.col("vec_id") == 0)
        .select(_quantized(F.col("embedding")).alias("q"))
        .first()
    )
    q_ints = [int(x) for x in qrow.q]
    parts = []
    for v in (0, 1):
        topk, kept, total = ivf_query_index_log(spark, table, q_ints, version=v)
        parts.append(
            topk.select(
                F.lit(v).cast("int").alias("idx_version"),
                "vec_id",
                "rnk",
                "cosine_sim",
                F.lit(kept < total).alias("pruned"),
            )
        )
    return parts[0].unionByName(parts[1]).orderBy("idx_version", "rnk")


def _ivf_incremental_oracle() -> str:
    from .vectors import _ivf_sql_assign

    old_where = f"vec_id <> 0 AND vec_id % {_IVF_V_MOD} <> {_IVF_V_MOD - 1}"
    inc_where = f"vec_id <> 0 AND vec_id % {_IVF_V_MOD} = {_IVF_V_MOD - 1}"
    return f"""
    WITH {_ivf_common_ctes(old_where)},
    {_ivf_sql_assign("a3", "c2")},
    inc AS (SELECT vec_id AS vid, q FROM base WHERE {inc_where}),
    {_ivf_sql_assign("a4", "c2", corpus="inc")},
    allv AS (SELECT * FROM a3 UNION ALL SELECT * FROM a4),
    {_ivf_sql_rerank("allv")}
    SELECT vid AS vec_id,
           CAST(row_number() OVER (ORDER BY cos DESC, vid) AS INTEGER) AS rnk,
           FLOOR(cos*1000000.0 + 0.5)/1000000.0 AS cosine_sim,
           (vid % {_IVF_V_MOD} = {_IVF_V_MOD - 1}) AS from_increment,
           TRUE AS pruned
    FROM rer QUALIFY rnk <= 10
    ORDER BY rnk
    """


@register(
    "ann_ivf_index_incremental",
    oracle=_ivf_incremental_oracle(),
    doc="The OTHER half of the index-refresh story next to the atomic "
    "rebuild (ann_ivf_index_versioned): the newly-arrived fifth of "
    "vectors is assigned against the COMMITTED codebook and APPENDED "
    "to the table-log index as one O(increment) commit "
    "(ivf_append_to_index_log) — no retraining, no rewrite; the "
    "existing inverted-list files and the codebook file keep their "
    "inodes (pinned in tests). The trade is explicit and the oracle "
    "proves it: DuckDB replays the ORIGINAL training, assigns the "
    "increment with the SAME (now stale) codebook, and reranks over "
    "the union — recall drifts with the distribution until the next "
    "rebuild, exactly the production add-vs-train split every "
    "serving-time ANN system makes. from_increment marks which top-10 "
    "rows the refresh made visible; pruned re-asserts committed-stats "
    "file pruning over the grown file set. At 100 TB the daily "
    "embedding trickle costs O(new vectors) and rebuilds are "
    "scheduled, not forced.",
    tags=("vectors", "ann", "ivf", "table-format", "portable"),
)
def ann_ivf_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..operators.similarity import (
        _quantized,
        ivf_append_to_index_log,
        ivf_build_index_log,
        ivf_query_index_log,
    )
    from ..sources import table_log as tl
    from ..sources.scratch import content_fingerprint, ensure_scratch

    emb = load_table(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    key = content_fingerprint(
        src, extra=f"ivfinc-k16p4-m{_IVF_V_MOD}"  # logic version
    )
    table = os.path.join(tempfile.gettempdir(), f"csetl_ivf_inc_{key}")

    def _intact(d: str) -> bool:
        if tl.current_version(d) != 1:
            return False
        return all(
            os.path.exists(p)
            for v in (0, 1)
            for p in tl.snapshot_files(d, version=v)
        )

    def _build(stage: str) -> None:
        ivf_build_index_log(
            emb.filter(
                (F.col("vec_id") != 0)
                & (F.col("vec_id") % _IVF_V_MOD != _IVF_V_MOD - 1)
            ),
            stage,
        )
        ivf_append_to_index_log(
            emb.filter(
                (F.col("vec_id") != 0)
                & (F.col("vec_id") % _IVF_V_MOD == _IVF_V_MOD - 1)
            ),
            stage,
        )

    ensure_scratch(table, _build, _intact)
    qrow = (
        emb.filter(F.col("vec_id") == 0)
        .select(_quantized(F.col("embedding")).alias("q"))
        .first()
    )
    q_ints = [int(x) for x in qrow.q]
    topk, kept, total = ivf_query_index_log(spark, table, q_ints)
    return topk.select(
        "vec_id",
        "rnk",
        "cosine_sim",
        (F.col("vec_id") % _IVF_V_MOD == _IVF_V_MOD - 1).alias(
            "from_increment"
        ),
        F.lit(kept < total).alias("pruned"),
    ).orderBy("rnk")


# ---------------------------------------------------------------------------
# Z-order compaction committed through the table log
# ---------------------------------------------------------------------------


# Fibonacci-hash projection of l_partkey to a uniform 10-bit key —
# raw l_partkey % 1024 is NOT uniform at small SFs (sf0.001 partkeys
# only span [1,200], so a [0,255] filter matches everything and
# pruning trivially cannot engage). Pure integer arithmetic, parsed
# identically by Spark SQL and DuckDB.
_Z_PK10 = "((l_partkey * 2654435761) % 4294967296) % 1024"


@register(
    "table_log_zorder_compact",
    oracle=f"""
    SELECT 'ok10' AS dim,
           CAST(COUNT(*) AS BIGINT) AS rows_matched,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
           TRUE AS pruned
    FROM lineitem WHERE l_orderkey % 1024 BETWEEN 512 AND 767
    UNION ALL
    SELECT 'pk10', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT), TRUE
    FROM lineitem WHERE {_Z_PK10} BETWEEN 0 AND 255
    ORDER BY dim
    """,
    doc="OPTIMIZE ZORDER as one atomic table-log commit: the scratch "
    "table lands as 8 randomly-partitioned files (stats committed but "
    "USELESS — every file spans the full range of both keys), then "
    "tl.compact rewrites it range-partitioned + sorted on the 10+10-"
    "bit Z-interleave of (fibonacci-hashed l_partkey, l_orderkey%1024) "
    "with committed stats on BOTH underlying dimensions. Because a "
    "contiguous Z range fixes the high bits of EVERY interleaved "
    "dimension, each compacted file's [min,max] narrows on both keys "
    "at once, so read_snapshot_pruned serves a range filter on EITHER "
    "dimension from a fraction of the files, planned from the log "
    "with zero read-time footer I/O (the pruned columns assert "
    "files_kept < files_total for both). Prior versions still "
    "time-travel over the unsorted layout; the unsorted-vs-zordered "
    "pruning contrast is pinned in tests/test_round7.py. At 100 TB "
    "this is the layout-maintenance pass a lakehouse schedules: one "
    "commit, no reader disruption, multi-dimensional pruning after. "
    "Composes zorder_layout_key (plans/warehouse.py) with the log's "
    "compact + stats machinery.",
    tags=("warehouse", "table-format", "layout", "zorder"),
)
def table_log_zorder_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources import table_log as tl
    from ..sources.scratch import content_fingerprint, ensure_scratch
    from .warehouse import _interleave_expr

    src = os.path.join(sf_dir, "lineitem.parquet")
    key = content_fingerprint(src, extra="zorder-fibhash-pk10")
    table = os.path.join(tempfile.gettempdir(), f"csetl_tlog_zorder_{key}")

    def _intact(d: str) -> bool:
        if tl.current_version(d) != 1:
            return False
        stats = tl.snapshot_file_stats(d)
        if not stats or any(
            "pk10" not in e.get("cols", {}) for e in stats.values()
        ):
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(d))

    def _build(stage: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.expr(_Z_PK10).cast("long").alias("pk10"),
            (F.col("l_orderkey") % 1024).cast("long").alias("ok10"),
        )
        # unsorted landing: 8 hash-random files whose per-file stats
        # span the whole key space (committed, but prune nothing)
        tl.append(li.repartition(8), stage, stats_cols=["pk10", "ok10"])
        tl.compact(
            spark,
            stage,
            target_files=16,
            sort_by=F.expr(_interleave_expr("pk10", "ok10", bits=10)),
            stats_cols=["pk10", "ok10"],
        )

    ensure_scratch(table, _build, _intact)
    parts = []
    for dim, lo, hi in (("ok10", 512, 767), ("pk10", 0, 255)):
        df, kept, total = tl.read_snapshot_pruned(spark, table, dim, lo, hi)
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("rows_matched"),
                F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
            ).select(
                F.lit(dim).alias("dim"),
                F.col("rows_matched").cast("long"),
                F.col("qty_sum").cast("long"),
                F.lit(kept < total).alias("pruned"),
            )
        )
    return parts[0].unionByName(parts[1]).orderBy("dim")


@register(
    "table_log_string_pruned_scan",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           TRUE AS pruned
    FROM documents
    WHERE source BETWEEN 'src12' AND 'src14'
    GROUP BY source ORDER BY source
    """,
    doc="STRING-column stats pruning through the table log: the commit "
    "entries' per-file [min, max] are not numeric-only — the scratch "
    "table compacts sorted by the source STRING (10 files, disjoint "
    "lexicographic ranges committed in the log), and a BETWEEN "
    "'src12' AND 'src14' read keeps only the files whose committed "
    "string range intersects, planned with zero read-time footer I/O "
    "(pruned asserts files_kept < files_total). String bounds compare "
    "byte-wise identically in Spark, DuckDB, and Python over this "
    "ASCII domain, so the pruning decision is engine-portable. At "
    "100 TB this is partition-pruning-without-partitions for "
    "high-cardinality string keys (tenant, domain, URL prefix) where "
    "directory partitioning would explode the namespace.",
    tags=("warehouse", "table-format", "pruning"),
)
def table_log_string_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources import table_log as tl
    from ..sources.scratch import content_fingerprint, ensure_scratch

    src = os.path.join(sf_dir, "documents.parquet")
    key = content_fingerprint(src, extra="strprune-source-10f")
    table = os.path.join(tempfile.gettempdir(), f"csetl_tlog_str_{key}")

    def _intact(d: str) -> bool:
        if tl.current_version(d) != 1:
            return False
        stats = tl.snapshot_file_stats(d)
        if not stats or any(
            "source" not in e.get("cols", {}) for e in stats.values()
        ):
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(d))

    def _build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
        tl.append(docs.repartition(4), stage, stats_cols=["source"])
        tl.compact(
            spark, stage, target_files=10, sort_by="source",
            stats_cols=["source"],
        )

    ensure_scratch(table, _build, _intact)
    df, kept, total = tl.read_snapshot_pruned(
        spark, table, "source", "src12", "src14"
    )
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long"),
            F.col("total_chars").cast("long"),
            F.lit(kept < total).alias("pruned"),
        )
        .orderBy("source")
    )


def _ivf_batch_oracle() -> str:
    from .vectors import _ivf_sql_assign, _ivf_sql_dot, _ivf_sql_score

    return f"""
    WITH {_ivf_training_ctes("vec_id <> 0")},
    qs AS (SELECT vec_id AS qid, q AS qq FROM base WHERE vec_id IN (0, 5)),
    probes AS (
      SELECT qid, list_id FROM (
        SELECT qs.qid, s.list_id,
               row_number() OVER (PARTITION BY qs.qid ORDER BY
                 {_ivf_sql_score("qq", "s.c")} DESC, s.list_id) AS rn
        FROM c2 s CROSS JOIN qs) WHERE rn <= 4
    ),
    {_ivf_sql_assign("a3", "c2")},
    rer AS (
      SELECT p.qid, a.vid,
             {_ivf_sql_dot("a.q", "qs.qq")}
               / (sqrt({_ivf_sql_dot("a.q", "a.q")})
                  * sqrt({_ivf_sql_dot("qs.qq", "qs.qq")})) AS cos
      FROM a3 a
      JOIN probes p ON a.list_id = p.list_id
      JOIN qs ON qs.qid = p.qid
    )
    SELECT CAST(qid AS INTEGER) AS qid,
           vid AS vec_id,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
                AS INTEGER) AS rnk,
           FLOOR(cos*1000000.0 + 0.5)/1000000.0 AS cosine_sim,
           TRUE AS pruned
    FROM rer QUALIFY rnk <= 10
    ORDER BY qid, rnk
    """


@register(
    "ann_ivf_index_batch",
    oracle=_ivf_batch_oracle(),
    doc="BATCHED serving over the table-log IVF index — the real "
    "serving shape, where N queries amortize ONE pruned scan: "
    "per-query probes replay the portable affinity over the committed "
    "codebook (codebook-sized driver work), the scan opens only files "
    "whose committed list_id stats can hold the UNION of probed "
    "lists, and the rerank equi-joins candidates to the exploded "
    "(qid, list_id) probe relation (never a non-equi/nested-loop "
    "join) with a per-query top-k window. Reuses the SAME "
    "content-keyed index table as ann_ivf_index_versioned at its "
    "latest version — query 0 is a held-out vector, query 5 sits IN "
    "the index (its self-match leads its list). The DuckDB oracle "
    "replays training once and both queries' probes/reranks "
    "bit-identically. At 100 TB this is the amortization that makes "
    "an index worth serving: per-batch cost is one pruned scan plus "
    "codebook x N driver arithmetic, not N corpus passes.",
    tags=("vectors", "ann", "ivf", "table-format", "portable", "batch"),
)
def ann_ivf_index_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        _quantized,
        ivf_query_index_log_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    table = _ensure_ivf_versioned_table(spark, sf_dir)
    qrows = (
        emb.filter(F.col("vec_id").isin([0, 5]))
        .select("vec_id", _quantized(F.col("embedding")).alias("q"))
        .collect()
    )
    queries = {int(r.vec_id): [int(x) for x in r.q] for r in qrows}
    df, kept, total = ivf_query_index_log_batch(spark, table, queries)
    return df.withColumn("pruned", F.lit(kept < total)).orderBy(
        "qid", "rnk"
    )


def _ann_recall_oracle() -> str:
    from .vectors import _ivf_sql_assign, _ivf_sql_dot

    cosq = (
        f"{_ivf_sql_dot('co.q', 'qq')} / (sqrt({_ivf_sql_dot('co.q', 'co.q')})"
        f" * sqrt({_ivf_sql_dot('qq', 'qq')}))"
    )
    return f"""
    WITH {_ivf_common_ctes("vec_id <> 0")},
    {_ivf_sql_assign("a3", "c2")},
    {_ivf_sql_rerank("a3")},
    ivf10 AS (
      SELECT vid FROM (
        SELECT vid, row_number() OVER (ORDER BY cos DESC, vid) AS rn
        FROM rer) WHERE rn <= 10
    ),
    rex AS (SELECT co.vid, {cosq} AS cos FROM corpus co CROSS JOIN qv),
    exact10 AS (
      SELECT vid FROM (
        SELECT vid, row_number() OVER (ORDER BY cos DESC, vid) AS rn
        FROM rex) WHERE rn <= 10
    )
    SELECT 'exact' AS tier, CAST(10 AS BIGINT) AS hits,
           CAST(100 AS BIGINT) AS recall_pct
    UNION ALL
    SELECT 'ivf_portable', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) * 10 AS BIGINT)
    FROM ivf10 JOIN exact10 USING (vid)
    ORDER BY tier
    """


@register(
    "ann_recall_at_k",
    oracle=_ann_recall_oracle(),
    doc="SERVING QUALITY as a measured, oracled number: recall@10 of "
    "the portable IVF tier against the exact brute-force top-10 over "
    "the same quantized space (hits = |approx ∩ exact|, recall_pct = "
    "hits*10 — exact integers, no float thresholds). The brief's "
    "standard is that a correct-but-useless approximation is not "
    "done: an ANN tier must know its recall, and here the DuckDB "
    "oracle replays BOTH sides (training + probe + rerank for the "
    "approximate tier, full-corpus exact rerank for the truth) so "
    "the recall number itself is hash-checked, not self-reported. "
    "At 100 TB this is the offline evaluation loop every serving "
    "index runs before a parameter change ships (n_probe/n_lists "
    "trade recall for scan fraction; this row is where that trade "
    "becomes visible).",
    tags=("vectors", "ann", "ivf", "portable", "evaluation"),
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import tracked_cache
    from ..operators.similarity import (
        _quantized,
        _rerank_portable,
        cosine_topk_ivf_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("vid"), _quantized(F.col("embedding")).alias("q")
    )
    qrow = base.filter(F.col("vid") == 0).select("q").first()
    qlit = F.array(*[F.lit(int(v)).cast("long") for v in qrow.q])
    corpus = base.filter(F.col("vid") != 0).transform(tracked_cache)
    exact10 = _rerank_portable(corpus, qlit, 10).select("vec_id")
    approx10 = cosine_topk_ivf_portable(emb).select("vec_id")
    hits = approx10.join(exact10, "vec_id").count()
    return spark.createDataFrame(
        [("exact", 10, 100), ("ivf_portable", int(hits), int(hits) * 10)],
        "tier string, hits long, recall_pct long",
    ).orderBy("tier")


_SWEEP_PROBES = (1, 2, 4, 8, 16)


def _ann_sweep_oracle() -> str:
    from .vectors import _ivf_sql_assign, _ivf_sql_dot, _ivf_sql_score

    cosq = (
        f"{_ivf_sql_dot('a.q', 'qq')} / (sqrt({_ivf_sql_dot('a.q', 'a.q')})"
        f" * sqrt({_ivf_sql_dot('qq', 'qq')}))"
    )
    blocks = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({p} AS BIGINT) AS n_probe,
           CAST((SELECT COUNT(*) FROM (
                   SELECT vid FROM (
                     SELECT vid, row_number() OVER (ORDER BY cos DESC, vid)
                            AS rn2
                     FROM cand WHERE prank <= {p}) t
                   WHERE rn2 <= 10) tt
                 JOIN exact10 USING (vid)) AS BIGINT) AS hits,
           CAST({p * 100 // 16} AS BIGINT) AS lists_scanned_pct"""
        for p in _SWEEP_PROBES
    )
    return f"""
    WITH {_ivf_training_ctes("vec_id <> 0")},
    qv AS (SELECT q AS qq FROM base WHERE vec_id = 0),
    scored AS (
      SELECT s.list_id,
             row_number() OVER (ORDER BY {_ivf_sql_score("qq", "s.c")} DESC,
                                s.list_id) AS rn
      FROM c2 s CROSS JOIN qv
    ),
    {_ivf_sql_assign("a3", "c2")},
    cand AS (
      SELECT a.vid, sc.rn AS prank, {cosq} AS cos
      FROM a3 a JOIN scored sc ON a.list_id = sc.list_id CROSS JOIN qv
    ),
    exact10 AS (
      SELECT vid FROM (
        SELECT vid, row_number() OVER (ORDER BY cos DESC, vid) AS rn2
        FROM cand) WHERE rn2 <= 10
    )
    SELECT n_probe, hits, hits * 10 AS recall_pct, lists_scanned_pct
    FROM (
{blocks}
    )
    ORDER BY n_probe
    """


@register(
    "ann_recall_probe_sweep",
    oracle=_ann_sweep_oracle(),
    doc="The recall/scan-fraction FRONTIER, not just one point: top-10 "
    "recall of the committed IVF index at n_probe = 1, 2, 4, 8, 16 "
    "(16 = exhaustive, recall 100% by construction), next to the "
    "fraction of inverted lists each setting scans. Training is NOT "
    "re-run per point — the sweep serves every setting from the ONE "
    "committed index (ivf_query_index_log at the shared versioned "
    "scratch table), which is how a real parameter sweep runs: probe "
    "counts are a query-time knob, the codebook is fixed. Every "
    "number is an exact integer and the DuckDB oracle replays the "
    "whole frontier bit-identically (candidates carry their list's "
    "probe rank, so each sweep point is a filter over ONE scored "
    "relation). At 100 TB this table is the capacity-planning input: "
    "pick the n_probe where marginal recall stops paying for scan "
    "fraction.",
    tags=("vectors", "ann", "ivf", "portable", "evaluation"),
)
def ann_recall_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import tracked_cache
    from ..operators.similarity import (
        _quantized,
        _rerank_portable,
        ivf_query_index_log,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    table = _ensure_ivf_versioned_table(spark, sf_dir)
    base = emb.select(
        F.col("vec_id").alias("vid"), _quantized(F.col("embedding")).alias("q")
    )
    qrow = base.filter(F.col("vid") == 0).select("q").first()
    q_ints = [int(x) for x in qrow.q]
    qlit = F.array(*[F.lit(v).cast("long") for v in q_ints])
    corpus = base.filter(F.col("vid") != 0).transform(tracked_cache)
    exact_ids = {
        r.vec_id for r in _rerank_portable(corpus, qlit, 10).collect()
    }
    rows = []
    for p in _SWEEP_PROBES:
        topk, _, _ = ivf_query_index_log(spark, table, q_ints, n_probe=p)
        hits = sum(1 for r in topk.collect() if r.vec_id in exact_ids)
        rows.append((p, hits, hits * 10, p * 100 // 16))
    return spark.createDataFrame(
        rows, "n_probe long, hits long, recall_pct long, "
        "lists_scanned_pct long"
    ).orderBy("n_probe")
