"""Round-3 scale-shaped operators.

Five queries that each demonstrate a 100-TB join/shuffle pattern the
rest of the catalog doesn't already pin, registered inside the driver
window (see ``registry._WINDOW_PRIORITY``):

- ``bloom_decontaminate_docs`` — explicit Bloom-filter semi-join
  pre-filter for benchmark decontamination.  The broadcast relation is
  the Bloom *position set* (bounded by the filter size ``m`` no matter
  how large the benchmark grows), not the benchmark n-grams themselves;
  false positives are removed by an exact join over the tiny surviving
  candidate set, so the result is exactly the naive join's — which is
  why the DuckDB oracle is the plain exact SQL.  This is the manual
  form of Spark's runtime row-level bloom pruning
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``), pinned
  elsewhere; here the filter construction/probing is explicit and
  engine-independent.
- ``salted_skew_join_revenue`` — skew-aware salted equi-join: the fact
  side gets a deterministic salt in ``[0, R)``, the dimension side is
  exploded ``R``-fold, and the join key becomes ``(key, salt)`` so a
  pathological hot key spreads over ``R`` reducers.  Forced to a
  shuffle join (``hint("shuffle_hash")``) because the pattern targets
  dimensions too big to broadcast; result is salt-invariant, so the
  oracle is the plain join.
- ``range_bucket_join_events`` — pure range (interval) join with *no*
  equi key, decomposed into an equi-join on coarse time buckets plus an
  exact residual predicate.  Naive form is a cartesian (15k × 60k at
  sf0.01, ~10^17 at 100 TB); bucketing with width ≥ the window span
  bounds each probe to ≤ 2 buckets.
- ``sessionize_events_gap`` — batch gaps-and-islands sessionization
  (the batch twin of ``streaming_session_windows``): one shuffle on
  ``user_id``, two window passes, no state store.
- ``top_terms_per_lang`` — per-group top-k by document frequency with
  a total-order tie-break ``(df DESC, term ASC)`` so ranks are
  engine-stable.

Reference parity: the reference has no bloom/salt/range operators —
these are the beyond-reference additions the brief asks for; the
sessionizer generalizes the reference's per-day event grouping
(``src/data_processor.py`` daily rollups) to gap-based sessions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import tracked_cache

from ..functions.rounding import SQL_MONEY_SUM, money_sum
from ..functions.text import SQL_TOKENS, tokens, word_shingles
from ..operators.dedup import explode_nonempty
from ..sources.tpch import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Bloom-filter semi-join decontamination
# ---------------------------------------------------------------------------

_BLOOM_N = 8  # n-gram width (typical benchmark-decontamination width)
_BLOOM_MIN_M = 1 << 16  # floor on filter size
_BLOOM_BITS_PER_ELEMENT = 16  # sizing rule: m >= 16n keeps fpp ~1e-3
_BLOOM_K = 3  # hash functions per gram


def bloom_m_for(n_elements: int) -> int:
    """Power-of-two filter size for ``n_elements``: a FIXED m saturates
    once the benchmark outgrows it (measured: the sf0.1 benchmark set
    drove fpp to ~0.97 at m=2^16, making the prefilter a no-op and the
    query 10x slower), so m scales at ~16 bits/element. The broadcast
    position set is then O(n_bench) ints — still ~10x smaller than
    broadcasting the n-gram strings themselves, which is the point."""
    m = _BLOOM_MIN_M
    while m < _BLOOM_BITS_PER_ELEMENT * n_elements:
        m <<= 1
    return m


# benchmark slice: first md5 hex char == 'a' (deterministic 1/16 slice,
# disjoint in expectation from benchmark_decontamination's '00'..'0f')
_BLOOM_BENCH_CHAR = "a"
_BLOOM_BENCH_FRACTION = 16  # one hex char value of sixteen

# tokens() splits on whitespace, so every token consumes at least its
# text plus a separator; 4 bytes/token deliberately OVERESTIMATES the
# token count of real text (~5.5-6 bytes/token measured on the
# corpus), which overestimates the gram count — the SAFE direction for
# Bloom sizing: m one power of two too big costs nothing (the
# broadcast position relation is bounded by 3n distinct positions
# regardless of m), while an undersized m raises fpp. Measured r13:
# estimate/actual = 1.4-1.9x across sf0.001-0.1.
_BLOOM_BYTES_PER_TOKEN = 4


def _bench_gram_estimate(spark, sf_dir: str, bench_grams) -> int:
    """Upper-bound estimate of the benchmark slice's distinct gram
    count, from parquet footer metadata only (zero Spark jobs): the
    text column's uncompressed bytes bound the token count, token
    positions bound the {_BLOOM_N}-gram count, and the md5 slice takes
    1/16 of documents in expectation. Sizing only ever affects the
    PRUNING rate, never results (the exact verification join removes
    all false positives), so an estimate is safe wherever it lands —
    but the fallback stays exact: stats-less layouts (directory
    datasets) fall back to counting the gram relation, which doubles
    as the cache-filling pass the r12 form always ran."""
    from ..sources.footer_stats import column_size_stats
    from ..sources.tpch import table_path

    stats = column_size_stats(table_path(sf_dir, "documents"), "text")
    if stats is None:
        return bench_grams.count()
    _n_rows, text_bytes = stats
    return max(
        1, text_bytes // _BLOOM_BYTES_PER_TOKEN // _BLOOM_BENCH_FRACTION
    )

_SQL_SHINGLES8 = f"""CASE WHEN len(toks) <= {_BLOOM_N}
      THEN [array_to_string(toks, ' ')]
      ELSE list_transform(generate_series(0, len(toks) - {_BLOOM_N}),
                          i -> array_to_string(toks[i+1:i+{_BLOOM_N}], ' '))
      END"""


@register(
    "bloom_decontaminate_docs",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    g AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLES8}) AS grams,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '{_BLOOM_BENCH_CHAR}'
               AS is_bench
      FROM tok
    ),
    bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE is_bench),
    cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT is_bench)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM cg JOIN bg USING (gram) GROUP BY doc_id
    """,
    doc=f"Bloom-prefiltered {_BLOOM_N}-gram decontamination. The corpus "
    "side probes a broadcast Bloom position set (~16 bits per benchmark "
    "gram — an order smaller than broadcasting the gram strings) before "
    "the exact verification join; false positives are eliminated by the "
    "exact join, so the oracle is the naive exact SQL. The Bloom hashes "
    "use xxhash64 freely — they never reach the output. Broadcast "
    "bound: ~16 bits/element holds to benchmarks of ~1e8 grams "
    "(hundreds of MB); past that, drop the broadcast hint and the same "
    "plan degrades to a shuffled semi-join on pos, or shard the "
    "position set by pmod(pos, S) into S co-partitioned filters.",
    tags=("text", "decontamination", "bloom"),
)
def bloom_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import repartition_for_compute

    # one 600 KB file feeds ~10^5 8-gram shingles — spread the
    # derivation before it starts (measured 7 s single-core at sf0.1).
    # tokens STAGED into a column before the shingle lambda (r13):
    # window_join reads the token array once per window token, and an
    # interpreted lambda re-evaluates any non-column subtree per
    # reference (plans/text.py _with_tokens discipline).
    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id", tokens(F.col("text")).alias("__tk")
    ).select(
        "doc_id",
        F.array_distinct(
            word_shingles(F.col("__tk"), _BLOOM_N)
        ).alias("grams"),
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
            == _BLOOM_BENCH_CHAR
        ).alias("is_bench"),
    )
    # consumed twice (bloom construction + exact verification) — cache
    # so the benchmark tokenization/distinct runs once
    bench_grams = (
        explode_nonempty(staged.filter("is_bench"), "gram", F.col("grams"))
        .distinct()
        .transform(tracked_cache)
    )

    m_bits = bloom_m_for(_bench_gram_estimate(spark, sf_dir, bench_grams))

    def positions(gram: F.Column) -> list[F.Column]:
        return [
            F.pmod(F.xxhash64(gram, F.lit(s)), F.lit(m_bits))
            for s in range(_BLOOM_K)
        ]

    # The "bits" of the filter, as a distinct position relation bounded
    # by m rows — broadcastable even when bench_grams is not.
    # cached: consumed by k semi-joins — without the cache each join
    # replans and re-executes the position-set construction
    bloom = (
        bench_grams.select(
            F.explode(F.array(*positions(F.col("gram")))).alias("pos")
        )
        .distinct()
        .transform(tracked_cache)
    )

    # explode_nonempty blocks InferFiltersFromGenerate from
    # re-evaluating the whole shingle chain in a pushed-down filter
    # (measured 5x on this query)
    corpus = explode_nonempty(
        staged.filter(~F.col("is_bench")), "gram", F.col("grams"), "doc_id"
    )
    # A gram might-be-contained iff ALL k of its positions are set:
    # k chained broadcast SEMI-joins against the one position relation
    # — entirely map-side, so the membership test shuffles nothing
    # (the first form of this query exploded k probe rows and counted
    # hits==k through a (doc_id, gram) shuffle; measured 4x slower at
    # sf0.1 and needlessly exchanges the full corpus-gram relation).
    candidates = corpus
    for s, pos in enumerate(positions(F.col("gram"))):
        candidates = candidates.withColumn(f"p{s}", pos).join(
            F.broadcast(bloom),
            F.col(f"p{s}") == bloom["pos"],
            "left_semi",
        )
    candidates = candidates.select("doc_id", "gram")
    # Exact verification join removes Bloom false positives; only the
    # tiny candidate set reaches it.
    return (
        candidates.join(bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


# ---------------------------------------------------------------------------
# Salted skew join
# ---------------------------------------------------------------------------

_SALT_R = 8


@register(
    "salted_skew_join_revenue",
    oracle=f"""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {SQL_MONEY_SUM("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    doc=f"Salted shuffle join: fact rows carry salt = "
    f"pmod(hash(linenumber, partkey), {_SALT_R}); the orders side is "
    f"exploded ×{_SALT_R} so the composite key (orderkey, salt) spreads "
    "any hot orderkey across reducers. Unlike salted_nation_sales_join "
    "(which Catalyst broadcasts at gate SF, so the salted shuffle never "
    "executes), the shuffle_hash hint forces the real salted exchange — "
    "the plan test pins ShuffledHashJoin. Result is salt-invariant, so "
    "the oracle is the unsalted join.",
    tags=("join", "skew"),
)
def salted_skew_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt",
        F.pmod(F.hash(F.col("l_linenumber"), F.col("l_partkey")), F.lit(_SALT_R)),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.explode(
                F.sequence(F.lit(0), F.lit(_SALT_R - 1))
            ).alias("salt"),
        )
        .hint("shuffle_hash")
    )
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey) & (li.salt == orders.salt),
    )
    return joined.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
    )


# ---------------------------------------------------------------------------
# Range (interval) join via bucketing
# ---------------------------------------------------------------------------

_RANGE_DAYS = 3  # |shipdate - orderdate| <= 3 days
_BUCKET_DAYS = 7  # bucket width >= window span → each probe hits <= 2 buckets


@register(
    "range_bucket_join_events",
    oracle=f"""
    WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date
               FROM orders)
    SELECT d.order_date,
           CAST(COUNT(*) AS BIGINT) AS n_nearby_items,
           {SQL_MONEY_SUM("l.l_extendedprice", "nearby_revenue")}
    FROM d JOIN lineitem l
      ON CAST(l.l_shipdate AS DATE)
           BETWEEN d.order_date - INTERVAL {_RANGE_DAYS} DAY
               AND d.order_date + INTERVAL {_RANGE_DAYS} DAY
    GROUP BY 1
    """,
    doc="Pure range join (no equi key): every distinct order date pulls "
    f"lineitems shipped within ±{_RANGE_DAYS} days. Decomposed into an "
    f"equi-join on {_BUCKET_DAYS}-day epoch buckets (probe side explodes "
    "to the ≤2 buckets its window overlaps) plus the exact residual "
    "|diff| predicate — the naive form is a cartesian product.",
    tags=("join", "range"),
)
def range_bucket_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = lambda c: F.datediff(F.col(c).cast("date"), F.lit("1970-01-01"))
    dates = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("order_date"))
        .distinct()
        .withColumn("d_day", day("order_date"))
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor((F.col("d_day") - _RANGE_DAYS) / _BUCKET_DAYS),
                    F.floor((F.col("d_day") + _RANGE_DAYS) / _BUCKET_DAYS),
                )
            ),
        )
    )
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_extendedprice", day("l_shipdate").alias("s_day"))
        .withColumn("bucket", F.floor(F.col("s_day") / _BUCKET_DAYS))
    )
    joined = dates.join(items, "bucket").filter(
        F.abs(F.col("s_day") - F.col("d_day")) <= _RANGE_DAYS
    )
    return joined.groupBy("order_date").agg(
        F.count(F.lit(1)).alias("n_nearby_items"),
        money_sum(F.col("l_extendedprice"), "nearby_revenue"),
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (batch gaps-and-islands)
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 6 * 3600  # 6-hour inactivity gap


@register(
    "sessionize_events_gap",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(
                    lag(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id))
                  <= CAST({_SESSION_GAP_S * 1_000_000} AS BIGINT)
                  THEN 0 ELSE 1 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM e
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start,
           CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS BIGINT)
             AS duration_s
    FROM s GROUP BY 1, 2
    """,
    doc=f"Batch sessionization: a session breaks after "
    f"{_SESSION_GAP_S // 3600}h of inactivity. Gaps-and-islands via two "
    "window passes over one user_id shuffle; duration in exact integer "
    "seconds from microsecond arithmetic. Batch twin of "
    "streaming_session_windows.",
    tags=("window", "sessionization"),
)
def sessionize_events_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(order))
            <= _SESSION_GAP_S * 1_000_000,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        (
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("duration_s"),
    )


# ---------------------------------------------------------------------------
# Per-group top-k terms
# ---------------------------------------------------------------------------

_TOP_TERMS_K = 5


@register(
    "top_terms_per_lang",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {SQL_TOKENS} AS toks FROM documents),
    dt AS (SELECT DISTINCT lang, doc_id, unnest(toks) AS term FROM tok),
    df AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS doc_freq
      FROM dt GROUP BY 1, 2
    ),
    ranked AS (
      SELECT lang, term, doc_freq,
             row_number() OVER (PARTITION BY lang
                                ORDER BY doc_freq DESC, term ASC) AS rnk
      FROM df
    )
    SELECT lang, CAST(rnk AS INTEGER) AS rnk, term, doc_freq
    FROM ranked WHERE rnk <= {_TOP_TERMS_K}
    """,
    doc=f"Top-{_TOP_TERMS_K} terms per language by document frequency. "
    "Ranked by the total order (doc_freq DESC, term ASC) so ties cannot "
    "produce engine-dependent ranks; one shuffle to (lang, term), one "
    "window on lang.",
    tags=("text", "topk"),
)
def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "lang",
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("term"),
    )
    df_counts = terms.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("doc_freq").desc(), F.col("term").asc()
    )
    return (
        df_counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_TERMS_K)
        .select("lang", F.col("rnk").cast("int").alias("rnk"), "term", "doc_freq")
    )
