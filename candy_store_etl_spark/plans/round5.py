"""Round-5 additions: performance-tier and visibility queries.

The round-5 focus is forensics and at-scale constants rather than new
surface area (the reference's operator inventory has been at full
parity since round 2); the queries here are fast tiers and coverage
reporters for existing operators, each carrying its twin's oracle so
the driver gate value-checks them."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import SQL_TOKENS, tokens
from ..sources.tpch import load_table
from .registry import register


_HH_T = 200  # heavy-hitter threshold divisor: report tokens > n/200
_HH_K = 256  # Misra-Gries counters per partition (t <= k required)


@register(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKENS}) AS tok FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    c AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
    SELECT tok, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * CAST(1000000 AS BIGINT) // n AS BIGINT) AS share_ppm
    FROM c, tot WHERE cnt * {_HH_T} > n
    """,
    doc="ε-heavy-hitters over document tokens — the frequent-items "
    "sketch family (completing HLL / quantile / Bloom / MinHash / "
    "SimHash): per-partition Misra-Gries summaries (k=256 counters, "
    "mergeable-summaries fold at Arrow-batch granularity, C-speed "
    "value_counts — no per-row Python) generate ≤ k candidates per "
    "partition; the broadcast candidate union is verified EXACTLY and "
    f"filtered at count*{_HH_T} > n. The MG retention guarantee "
    "(any item over n/(k+1) survives some partition's summary) makes "
    "the output the exact true heavy-hitter set, deterministic across "
    "partitionings — so the sketch carries a plain exact-SQL oracle. "
    "At 100 TB the point is SHUFFLE VOLUME: the naive groupBy(token) "
    "shuffles every distinct token per map partition; this plan "
    "shuffles k rows per partition plus the candidate-only exact "
    "pass. Guarantee + Zipf stress pinned in tests/test_sketches.py.",
    tags=("text", "sketch", "heavy-hitters", "mapInPandas"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import explode_nonempty
    from ..operators.sketches import heavy_hitters_exact
    from ..sources.tpch import repartition_for_compute

    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    toks = explode_nonempty(
        docs.select(tokens(F.col("text")).alias("tk")), "tok", F.col("tk")
    )
    return heavy_hitters_exact(toks, "tok", t=_HH_T, k=_HH_K)


# md5 of doc_id -> integer in [0, 1e6): the acceptance lottery shared
# with the DuckDB oracle (cf. round4._SQL_MD5_BUCKET, which mods 100)
_SQL_MD5_MICRO = """
  list_sum(list_transform(generate_series(1, 6),
    i -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
         * CAST(16 AS BIGINT) ** (6 - i))) % 1000000
"""


def _md5_micro(col):
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 1_000_000
    )


@register(
    "temperature_mixture_sample",
    oracle=f"""
    WITH per AS (
      SELECT source, COUNT(*) AS n_s,
             CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w_s
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_s) AS n, SUM(w_s) AS big_w FROM per),
    rates AS (
      SELECT source, n_s,
             CAST(LEAST(CAST(1000000 AS BIGINT),
                        (((n // 2) * w_s // big_w) * 1000000) // n_s)
                  AS BIGINT) AS p_micro
      FROM per, tot
    )
    SELECT d.doc_id, d.source, r.p_micro
    FROM documents d JOIN rates r USING (source)
    WHERE {_SQL_MD5_MICRO} < r.p_micro
    """,
    doc="Temperature-based mixture sampling (the DoReMi/data-mixing "
    "shape): the target mixture is the alpha=0.5 temperature "
    "renormalization of the observed source distribution — per-source "
    "weight isqrt(n_s), budget n/2 documents — and each source's keep "
    "probability is derived FROM THE CORPUS (unlike "
    "importance_sampled_docs, whose rates are fixed per source id). "
    "Every quantity is integer (isqrt = floor of one correctly-"
    "rounded IEEE sqrt, then integer div throughout), acceptance is "
    "the shared md5 micro-lottery — bit-identical across engines and "
    "partitionings. Plan: one tiny source aggregate, a broadcast "
    "1-row totals join, then a map-side filter over the corpus — no "
    "fact-table shuffle at any scale.",
    tags=("text", "sampling", "curation", "mixture"),
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    per = per.withColumn(
        "w_s", F.floor(F.sqrt(F.col("n_s").cast("double"))).cast("long")
    )
    tot = per.agg(
        F.sum("n_s").alias("n"), F.sum("w_s").alias("big_w")
    )
    rates = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.expr("(((n div 2) * w_s div big_w) * 1000000) div n_s"),
            ).alias("p_micro"),
        )
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(_md5_micro(F.col("doc_id")) < F.col("p_micro"))
        .select("doc_id", "source", "p_micro")
    )


_MIX_MAX_EPOCHS_MICRO = 4_000_000  # repeat any source at most 4 epochs


@register(
    "source_mixture_plan",
    # every product of two "big" quantities is split as
    # x*y div d == y*(x div d) + (y*(x mod d)) div d so no intermediate
    # exceeds int64 until total tokens ~1e15 (petabyte-scale text) —
    # the naive target*1e6 spelling overflowed ANSI BIGINT at ~2e13
    # total tokens, inside the 100 TB envelope this plan claims
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS a,
             CAST(FLOOR(SQRT(CAST(SUM(len({SQL_TOKENS})) AS DOUBLE)))
                  AS BIGINT) AS w
      FROM documents GROUP BY source
    ),
    tot AS (
      -- GREATEST(..., 1) mirrors the ad guard below: bw = 0 only when
      -- every source has zero tokens, in which case every w is 0 and
      -- all targets are 0 regardless of the divisor — the guard turns
      -- an ANSI DIVIDE_BY_ZERO into the correct all-zero plan
      SELECT CAST(SUM(a) AS BIGINT) // 2 AS b,
             GREATEST(CAST(SUM(w) AS BIGINT), 1) AS bw
      FROM per
    ),
    s1 AS (
      SELECT source, a, GREATEST(a, 1) AS ad, w, b, bw FROM per, tot
    ),
    s2 AS (
      SELECT *, w * (b // bw) + (w * (b % bw)) // bw AS target FROM s1
    ),
    s3 AS (
      SELECT *, (target % ad) * 1000 AS r1k FROM s2
    ),
    s4 AS (
      SELECT *,
             (target // ad) * 1000000
               + (r1k // ad) * 1000
               + ((r1k % ad) * 1000) // ad AS em
      FROM s3
    ),
    s5 AS (
      SELECT *, LEAST(em, {_MIX_MAX_EPOCHS_MICRO}) AS ec FROM s4
    )
    SELECT source,
           CAST(a AS BIGINT) AS tokens_available,
           CAST(target AS BIGINT) AS target_tokens,
           CAST(em AS BIGINT) AS epochs_micro,
           CAST(ec AS BIGINT) AS epochs_capped_micro,
           CAST(a * (ec // 1000000)
                + (a // 1000000) * (ec % 1000000)
                + ((a % 1000000) * (ec % 1000000)) // 1000000
                AS BIGINT) AS realized_tokens
    FROM s5
    """,
    doc="Mixture EPOCH planning — the per-source repeat table a "
    "training run publishes (source X repeated 1.37 epochs): targets "
    "are the alpha=0.5 temperature mixture over AVAILABLE TOKENS with "
    "a half-total token budget, per-source epochs = target/available "
    "in integer micro-epochs, capped at 4 epochs (the repeat-harms "
    "threshold), realized tokens floored back from the cap. All "
    "arithmetic is overflow-split integer (x*y div d computed as "
    "y*(x div d) + y*(x mod d) div d), safe to ~1e15 total tokens "
    "under ANSI; empty-text sources divide by GREATEST(a,1) so a "
    "zero-token source plans zero epochs instead of erroring. The "
    "planning layer above dataset_card_stats and the sampling ops: "
    "output is source-cardinality-sized, computed from one grouped "
    "aggregate + a broadcast 1-row total — nothing data-sized moves.",
    tags=("text", "curation", "mixture", "planning"),
)
def source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens(F.col("text"))).cast("long").alias("n_toks")
    )
    per = docs.groupBy("source").agg(F.sum("n_toks").alias("a")).withColumn(
        "w", F.floor(F.sqrt(F.col("a").cast("double"))).cast("long")
    )
    # GREATEST(bw, 1): all-empty-text corpus has every w = 0, so the
    # guard yields the correct all-zero targets instead of ANSI
    # DIVIDE_BY_ZERO (mirrors the per-source ad guard)
    tot = per.agg(
        F.expr("sum(a) div 2").alias("b"),
        F.greatest(F.sum("w"), F.lit(1).cast("long")).alias("bw"),
    )
    j = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("ad", F.greatest(F.col("a"), F.lit(1).cast("long")))
        .withColumn(
            "target", F.expr("w * (b div bw) + (w * (b % bw)) div bw")
        )
        .withColumn("r1k", F.expr("(target % ad) * 1000"))
        .withColumn(
            "em",
            F.expr(
                "(target div ad) * 1000000 + (r1k div ad) * 1000"
                " + ((r1k % ad) * 1000) div ad"
            ),
        )
        .withColumn(
            "ec",
            F.least(F.col("em"), F.lit(_MIX_MAX_EPOCHS_MICRO).cast("long")),
        )
    )
    return j.select(
        F.col("source"),
        F.col("a").cast("long").alias("tokens_available"),
        F.col("target").cast("long").alias("target_tokens"),
        F.col("em").cast("long").alias("epochs_micro"),
        F.col("ec").cast("long").alias("epochs_capped_micro"),
        F.expr(
            "a * (ec div 1000000) + (a div 1000000) * (ec % 1000000)"
            " + ((a % 1000000) * (ec % 1000000)) div 1000000"
        )
        .cast("long")
        .alias("realized_tokens"),
    )
