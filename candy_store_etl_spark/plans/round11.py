"""Round-11 queries: regime oracles for the two write/join routers
the round-9 verdict asked for — the coverage-routed CDC sink (the
serve() treatment applied to the WRITE path) and the join face of the
serving planner — plus the incrementally-maintained candy pipeline.

Router-oracle design rule (established by the serve() regime rows,
``plans/round10.py``): the fixture pins each regime so far inside its
region that the route is DETERMINISTIC — trickle batches touch
provably fewer files than the crossover fraction at every SF, the
saturating batch touches every live file by construction (its key set
is a superset of every prior batch's) — and the chosen route is
emitted as a hash-checked output column next to exact merged values
the oracle recomputes from the raw relations. A router that picks the
wrong strategy, or a strategy that merges wrong values, fails the
same gate.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import table_log as tl
from ..sources.tpch import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Coverage-routed CDC sink: trickle -> partitioned, saturated -> full-rewrite
# ---------------------------------------------------------------------------

_CDC_ROUTER_ORACLE = """
WITH all_rows AS (
  SELECT user_id, value FROM events WHERE event_id % 3 = 0
  UNION ALL SELECT user_id, value FROM events
    WHERE user_id = (SELECT MIN(user_id) FROM events)
  UNION ALL SELECT user_id, value FROM events
),
tot AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
         CAST(COUNT(*) AS BIGINT) AS total_events,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM all_rows
)
SELECT b.batch_id, b.route, TRUE AS coarsened,
       t.n_keys, t.total_events, t.total_cents
FROM (VALUES (CAST(0 AS BIGINT), 'partitioned'),
             (CAST(1 AS BIGINT), 'partitioned'),
             (CAST(2 AS BIGINT), 'full-rewrite')) b(batch_id, route)
CROSS JOIN tot t
ORDER BY b.batch_id
"""


@register(
    "cdc_routed_sink_regimes",
    oracle=_CDC_ROUTER_ORACLE,
    doc="The coverage-routed CDC sink's regime contract, one row per "
    "applied batch: a seed and a 1-key trickle batch merge "
    "PARTITIONED (rewrite proportional to touched keys — the trickle "
    "touches 1 of 13+ live group files, far under the 0.3 crossover "
    "at every SF), while a saturating batch (every key — its touched "
    "set provably covers all live files, fraction 1.0) FULL-REWRITES "
    "at bulk grouping, coarsening the layout in the same atomic "
    "commit. The route is read back from the COMMITTED log (a "
    "full-rewrite commit records its new grouping in meta), not from "
    "in-memory sink state, and the merged warehouse totals are "
    "recomputed by the oracle from the three raw input slices — a "
    "mis-routed batch or a wrong merge both fail the hash. This "
    "closes SCALING.md's documented manual gap: the saturated-input "
    "measurement showed the partitioned layout LOSING 20x at ~71% "
    "files rewritten; the router now picks the winner per batch from "
    "the exact touched-file count it already collects.",
    tags=("streaming", "cdc", "warehouse", "router", "table-format"),
)
def cdc_routed_sink_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.scratch import content_fingerprint, ensure_scratch
    from ..streaming.cdc import make_routed_cdc_sink, read_warehouse

    src = os.path.join(sf_dir, "events.parquet")
    key = content_fingerprint(src, extra="cdc-router-v2")
    root = os.path.join(tempfile.gettempdir(), f"csetl_cdcrt_{key}")
    w = os.path.join(root, "warehouse")

    def _intact(d: str) -> bool:
        t = os.path.join(d, "warehouse")
        if tl.current_version(t) != 2:
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(t))

    def _build(stage: str) -> None:
        events = load_table(spark, sf_dir, "events")

        def inc(batch_df: DataFrame) -> DataFrame:
            return batch_df.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).alias("cents"),
            )

        sink = make_routed_cdc_sink(
            os.path.join(stage, "warehouse"),
            inc,
            key_col="user_id",
            add_cols=("n_events", "cents"),
            n_buckets=64,
            bulk_files=8,
        )
        sink(events.filter(F.col("event_id") % 3 == 0), 0)  # seed
        # trickle = exactly ONE key at every SF (a modulus predicate
        # here would grow its key count with scale and flip the route
        # past the 0.3 crossover around sf1 — the fixture must pin the
        # regime, not sample it); the 1-row min() collect is probe-key
        # sized
        min_uid = events.agg(F.min("user_id")).first()[0]
        sink(events.filter(F.col("user_id") == min_uid), 1)  # trickle
        sink(events, 2)  # saturating: every key

    ensure_scratch(root, _build, _intact)
    # the route evidence is COMMITTED state: a full-rewrite batch
    # records its new grouping in the commit's meta, so the routes are
    # readable from the log by any later session (and survive the
    # scratch cache, where the sink's in-memory metrics would not)
    routes = []
    for e in tl.log_entries(w):
        if e["op"].startswith("cdc-batch-"):
            bid = int(e["op"].rsplit("-", 1)[1])
            full = "buckets_per_file" in (e.get("meta") or {})
            routes.append((bid, "full-rewrite" if full else "partitioned"))
    route_df = spark.createDataFrame(
        sorted(routes), "batch_id long, route string"
    )
    totals = read_warehouse(spark, w).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_events").alias("total_events"),
        F.sum("cents").alias("total_cents"),
    )
    coarsened = tl.layout_buckets_per_file(w) > 1
    return (
        route_df.crossJoin(totals)
        .withColumn("coarsened", F.lit(coarsened))
        .select(
            "batch_id",
            "route",
            "coarsened",
            "n_keys",
            "total_events",
            "total_cents",
        )
        .orderBy("batch_id")
    )


# ---------------------------------------------------------------------------
# serve_join: the JOIN face of the serving front door, three regimes
# ---------------------------------------------------------------------------

_SQL_STATS_CTE = """
stats AS (
  SELECT o_custkey AS cust_key,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS spend_cents
  FROM orders GROUP BY o_custkey
)
"""


def _join_rollup(df, info, *extra) -> DataFrame:
    """Roll a serve_join result up with the route as a literal column
    — the regime-query shape shared with the serve() rows."""
    return df.agg(
        F.lit(info["route"]).alias("route"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("spend_cents").alias("spend_cents"),
        *extra,
    )


@register(
    "serve_join_broadcast",
    oracle=f"""
    WITH {_SQL_STATS_CTE}
    SELECT 'broadcast' AS route,
           'right' AS broadcast_side,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(spend_cents) AS BIGINT) AS spend_cents,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM stats JOIN customer ON cust_key = c_custkey
    """,
    doc="serve_join() with a dimension-sized right side (the customer "
    "dim, kilobytes of committed snapshot bytes): the router must "
    "pick the BROADCAST shape — one JVM stage, no Python workers, the "
    "fact side never exchanged — even though both sides share a "
    "bucket layout the colocated route could use (ab_fused_rollup's "
    "fixed SPJ task cost is pure loss when the dim broadcasts for "
    "free). Route is a hash-checked output column; the joined rollup "
    "is recomputed by the oracle from the raw relations.",
    tags=("table_log", "bucketed", "serving", "router", "join"),
)
def serve_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import serve_join
    from .round8 import _ensure_colocated_tables

    root = _ensure_colocated_tables(spark, sf_dir)
    df, info = serve_join(
        spark,
        os.path.join(root, "order_stats"),
        os.path.join(root, "cust_dim"),
    )
    # WHICH side broadcasts is part of the contract (broadcasting the
    # fact side would be route='broadcast' with the wrong plan), so it
    # is a hash-checked output column, not an assert
    return _join_rollup(
        df,
        info,
        F.lit(info["broadcast_side"]).alias("broadcast_side"),
        F.countDistinct("mktsegment").alias("n_segments"),
    )


@register(
    "serve_join_colocated",
    oracle=f"""
    WITH {_SQL_STATS_CTE}
    SELECT 'colocated' AS route,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(spend_cents) AS BIGINT) AS spend_cents,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM stats JOIN customer ON cust_key = c_custkey
    """,
    doc="serve_join() with broadcasting ruled out (threshold 0 — the "
    "stand-in for two sides that are BOTH big at 100 TB): the sides "
    "share a committed layout (same bucket count, same key type), so "
    "the router must pick the zero-exchange CO-LOCATED shape rather "
    "than fall through to a shuffle — and the answer must equal the "
    "broadcast regime's row for row (route-is-invisible, checked "
    "against the same oracle rollup).",
    tags=("table_log", "bucketed", "serving", "router", "join"),
)
def serve_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import serve_join
    from .round8 import _ensure_colocated_tables

    root = _ensure_colocated_tables(spark, sf_dir)
    df, info = serve_join(
        spark,
        os.path.join(root, "order_stats"),
        os.path.join(root, "cust_dim"),
        broadcast_bytes=0,
    )
    return _join_rollup(
        df, info, F.countDistinct("mktsegment").alias("n_segments")
    )


@register(
    "serve_join_shuffle",
    oracle=f"""
    WITH {_SQL_STATS_CTE}
    SELECT 'shuffle' AS route,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(spend_cents) AS BIGINT) AS spend_cents,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS acct_cents
    FROM stats JOIN customer ON cust_key = c_custkey
    """,
    doc="serve_join() with broadcasting ruled out AND no shared "
    "layout (the right side is a plain spec-less table-log table, "
    "keys named via on=): neither fast shape is provable from "
    "committed metadata, so the router's only correct choice is the "
    "declarative Catalyst join (route 'shuffle' — AQE may still "
    "upgrade it at runtime; the router forces only what metadata "
    "proves). Same oracle discipline as the other two regimes.",
    tags=("table_log", "serving", "router", "join"),
)
def serve_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import serve_join
    from ..sources.scratch import content_fingerprint, ensure_scratch
    from .round8 import _ensure_colocated_tables

    root = _ensure_colocated_tables(spark, sf_dir)
    ckey = content_fingerprint(
        os.path.join(sf_dir, "customer.parquet"), extra="servejoin-plain"
    )
    proot = os.path.join(tempfile.gettempdir(), f"csetl_sjpl_{ckey}")
    plain = os.path.join(proot, "acct")

    def _intact(d: str) -> bool:
        t = os.path.join(d, "acct")
        if tl.current_version(t) != 0:
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(t))

    def _build(stage: str) -> None:
        tl.append(
            load_table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("ckey"),
                F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
                .cast("long")
                .alias("acct_cents"),
            ),
            os.path.join(stage, "acct"),
        )

    ensure_scratch(proot, _build, _intact)
    df, info = serve_join(
        spark,
        os.path.join(root, "order_stats"),
        plain,
        on=("cust_key", "ckey"),
        broadcast_bytes=0,
    )
    return df.agg(
        F.lit(info["route"]).alias("route"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("spend_cents").alias("spend_cents"),
        F.sum("acct_cents").alias("acct_cents"),
    )


# ---------------------------------------------------------------------------
# Incremental pipeline (IVM capstone): appends -> rollup feed -> monthly view
# ---------------------------------------------------------------------------


@register(
    "incremental_daily_sales_ivm",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ),
    o AS (
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month
      FROM orders
    )
    SELECT month,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sales_cents
    FROM li JOIN o ON l_orderkey = o_orderkey
    GROUP BY month ORDER BY month
    """,
    doc="Incremental view maintenance over TPC-H: line items arrive as "
    "FOUR bucketed appends to a stage table; its change feed "
    "maintains a per-order rollup through the routed CDC sink (the "
    "order's month rides carry_cols, so no join back to the dim in "
    "the maintenance path); the ROLLUP'S own change feed maintains "
    "a per-month view by signed folding (an updated order's old row "
    "nets out — order counts stay exact even when an order's lines "
    "straddle batches). The final monthly view must equal the "
    "oracle's zero-hop recomputation over the raw relations. This "
    "is the GENERAL merge-based chain — correct under key updates, "
    "with per-batch rewrite cost governed by the coverage router "
    "(these saturating quarter-batches full-rewrite the rollup by "
    "design). The candy pipeline itself has no incremental form: a "
    "candy-schema chain of this shape lost to a full run_pipeline "
    "recompute at every measured history size and was deleted "
    "(SCALING.md).",
    tags=("warehouse", "table-format", "streaming", "cdc", "ivm"),
)
def incremental_daily_sales_ivm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.colocated import write_bucketed
    from ..sources import table_log_source
    from ..sources.scratch import content_fingerprint, ensure_scratch
    from ..streaming.cdc import make_routed_cdc_sink
    from ..streaming.events import run_stream_foreach_batch

    table_log_source.register(spark)
    key = content_fingerprint(
        os.path.join(sf_dir, "lineitem.parquet"), extra="ivm-pipe-v1"
    )
    root = os.path.join(tempfile.gettempdir(), f"csetl_ivmp_{key}")
    monthly_dir = os.path.join(root, "monthly")

    def _intact(d: str) -> bool:
        if tl.current_version(os.path.join(d, "li")) != 3:
            return False
        for name in ("rollup", "monthly"):
            t = os.path.join(d, name)
            if tl.current_version(t) is None:
                return False
            if not all(os.path.exists(p) for p in tl.snapshot_files(t)):
                return False
        return True

    def _build(stage: str) -> None:
        li_dir = os.path.join(stage, "li")
        rollup_dir = os.path.join(stage, "rollup")
        months = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"),
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias(
                "month"
            ),
        )
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").alias("okey"),
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            )
            .join(F.broadcast(months), "okey")
        )

        from ..streaming.cdc import change_sign as _sign

        def inc_rollup(batch_df: DataFrame) -> DataFrame:
            s = _sign()
            return batch_df.groupBy("okey").agg(
                F.sum(s * F.col("cents")).alias("cents"),
                F.sum(s).alias("n_lines"),
                F.max("month").alias("month"),
            )

        def inc_monthly(batch_df: DataFrame) -> DataFrame:
            s = _sign()
            return batch_df.groupBy("month").agg(
                F.sum(s).alias("n_orders"),
                F.sum(s * F.col("cents")).alias("sales_cents"),
            )

        sink_rollup = make_routed_cdc_sink(
            rollup_dir,
            inc_rollup,
            key_col="okey",
            add_cols=("cents", "n_lines"),
            carry_cols=("month",),
            n_buckets=32,
        )
        sink_monthly = make_routed_cdc_sink(
            os.path.join(stage, "monthly"),
            inc_monthly,
            key_col="month",
            add_cols=("n_orders", "sales_cents"),
            n_buckets=8,
        )

        def _feed(path: str):
            return (
                spark.readStream.format("table_log")
                .option("path", path)
                .option("changeFeed", "true")
                .load()
            )

        for day in range(4):
            write_bucketed(
                li.filter(F.col("okey") % 4 == day),
                li_dir,
                key_col="okey",
                n_buckets=32,
                mode="overwrite" if day == 0 else "append",
            )
            run_stream_foreach_batch(
                _feed(li_dir),
                sink_rollup,
                checkpoint_dir=os.path.join(stage, "ck1"),
            )
            run_stream_foreach_batch(
                _feed(rollup_dir),
                sink_monthly,
                checkpoint_dir=os.path.join(stage, "ck2"),
            )

    ensure_scratch(root, _build, _intact)
    return (
        tl.read_snapshot(spark, monthly_dir)
        .filter(F.col("n_orders") > 0)
        .select("month", "n_orders", "sales_cents")
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Maintained near-dup index: signatures computed once per doc EVER
# ---------------------------------------------------------------------------

#: The increment-assignment rule, ONCE, in both languages: documents
#: arrive in three md5-nibble increments, and the Spark expression and
#: the oracle's SQL CASE must stay in lockstep or pair provenance
#: mismatches masquerade as maintenance bugs.
_NDSPLIT_SQL = """CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       BETWEEN '0' AND '4' THEN 0
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       BETWEEN '5' AND '9' THEN 1
                  ELSE 2 END"""


def _increment_of():
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (
        F.when(nib.between("0", "4"), 0)
        .when(nib.between("5", "9"), 1)
        .otherwise(2)
    )


def _maintained_neardup_oracle() -> str:
    from .vectors import minhash_portable_ctes

    # GREATEST(batch(id_a), batch(id_b)) replays the maintained
    # index's discovery rule: a pair lands in the increment its LATER
    # member arrives — so the oracle checks not just the final pair
    # set but that every pair was discovered in the RIGHT increment
    return f"""
    WITH {minhash_portable_ctes(64, 16)},
    bat AS (
      SELECT doc_id, {_NDSPLIT_SQL} AS b FROM documents
    )
    SELECT e.id_a, e.id_b, e.est_jaccard,
           CAST(GREATEST(ba.b, bb.b) AS BIGINT) AS found_in_batch
    FROM est e
    JOIN bat ba ON e.id_a = ba.doc_id
    JOIN bat bb ON e.id_b = bb.doc_id
    WHERE e.est_jaccard >= 0.4
    """


@register(
    "incremental_neardup_index_maintained",
    oracle=_maintained_neardup_oracle(),
    doc="MAINTAINED MinHash-LSH near-dup index "
    "(operators/dedup.maintain_neardup_index): the corpus arrives in "
    "three increments (md5-nibble split of doc_id), each paying only "
    "its own signature pass + bucket-collision joins against the "
    "persisted (signatures, buckets, pairs) table-log tables — "
    "history is never re-shingled or re-banded (the probe query "
    "incremental_neardup_probe_lsh recomputes BOTH sides per call; "
    "the reference recomputes everything per run). The oracle replays "
    "the full from-scratch portable pipeline AND the discovery rule: "
    "each pair must carry the increment of its later-arriving member, "
    "so a maintenance path that dropped, duplicated, or mis-timed a "
    "pair fails the hash. Pair set provably equals from-scratch "
    "because banding is static per document: every qualifying pair's "
    "bucket collision exists the moment its second member's buckets "
    "are probed against the union index.",
    tags=("text", "dedup", "minhash", "incremental", "table_log",
          "portable"),
)
def incremental_neardup_index_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import maintain_neardup_index
    from ..sources.scratch import content_fingerprint, ensure_scratch

    docs = load_table(spark, sf_dir, "documents")
    batch_of = _increment_of()

    src = os.path.join(sf_dir, "documents.parquet")
    key = content_fingerprint(src, extra="neardup-maintained-v5")
    root = os.path.join(tempfile.gettempdir(), f"csetl_ndix_{key}")
    index = os.path.join(root, "index")

    def _intact(d: str) -> bool:
        ix = os.path.join(d, "index")
        # manifest = init commit + three published batches
        if tl.current_version(os.path.join(ix, "manifest")) != 3:
            return False
        pub = tl.manifest_published(os.path.join(ix, "manifest"))
        for t in ("signatures", "buckets", "pairs"):
            td = os.path.join(ix, t)
            if tl.current_version(td) is None:
                return False  # a /tmp cleaner removed the member log
            if sorted(pub.get(t, [])) != [0, 1, 2]:
                return False
            files = tl.snapshot_files(td)
            # non-vacuous: every batch appends rows to every member
            if not files or not all(os.path.exists(p) for p in files):
                return False
        return True

    def _build(stage: str) -> None:
        for b in range(3):
            maintain_neardup_index(
                spark,
                docs.filter(batch_of == b),
                os.path.join(stage, "index"),
                batch_tag=str(b),
            )

    ensure_scratch(root, _build, _intact)
    # the chain's read path: resolve pairs through the MANIFEST, so a
    # version a crashed/racing ingest appended but never published
    # could never leak into the result
    from ..operators.dedup import read_neardup_index

    return (
        read_neardup_index(spark, index, "pairs")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.col("found_in_batch").cast("long").alias("found_in_batch"),
        )
        .orderBy("id_a", "id_b")
    )


def _maintained_clusters_oracle() -> str:
    from .vectors import minhash_portable_ctes

    # reachability restricted to EDGE-TOUCHED nodes: the maintained
    # table assigns labels only to documents that appear in some pair
    # (singletons are the reader's coalesce, as in component_labels)
    return f"""
    WITH RECURSIVE {minhash_portable_ctes(64, 16)},
    p AS (
      SELECT id_a AS src, id_b AS dst FROM est WHERE est_jaccard >= 0.4
    ),
    alledges AS (
      SELECT src AS a, dst AS b FROM p
      UNION ALL SELECT dst, src FROM p
    ),
    en AS (SELECT DISTINCT a AS node FROM alledges),
    reach(node, comp) AS (
      SELECT node, node FROM en
      UNION
      SELECT e.b, r.comp FROM reach r JOIN alledges e ON e.a = r.node
    )
    SELECT node, CAST(MIN(comp) AS BIGINT) AS label
    FROM reach GROUP BY node
    """


@register(
    "neardup_clusters_maintained",
    oracle=_maintained_clusters_oracle(),
    doc="Incrementally MAINTAINED near-dup clusters "
    "(operators/graph.maintain_components) over the maintained pairs "
    "table: each pairs version drains as one edge batch, component "
    "merges run over the REP graph (one node per touched component — "
    "propagation cost scales with the increment's merges, never the "
    "edge history), and only CHANGED assignments are upserted through "
    "the coverage-routed CDC sink. The corpus arrives in three "
    "increments, so cross-increment merges actually happen (a batch-2 "
    "doc can join two batch-0 components into one); the oracle closes "
    "the full from-scratch portable edge set with recursive-CTE "
    "reachability — a wrong rep-graph merge, a missed member update, "
    "or a dropped first-seen node all fail the hash.",
    tags=("text", "dedup", "graph", "incremental", "table_log",
          "portable"),
)
def neardup_clusters_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import maintain_neardup_index
    from ..operators.graph import maintain_components
    from ..sources.scratch import content_fingerprint, ensure_scratch

    docs = load_table(spark, sf_dir, "documents")
    batch_of = _increment_of()

    src = os.path.join(sf_dir, "documents.parquet")
    key = content_fingerprint(src, extra="neardup-clusters-v5")
    root = os.path.join(tempfile.gettempdir(), f"csetl_ndcl_{key}")

    def _intact(d: str) -> bool:
        for t, v in (("index/manifest", 3), ("clusters", 2)):
            td = os.path.join(d, t)
            if tl.current_version(td) != v:
                return False
        for t in ("index/pairs", "clusters"):
            td = os.path.join(d, t)
            if tl.current_version(td) is None:
                return False  # a /tmp cleaner removed the member log
            files = tl.snapshot_files(td)
            if not files or not all(os.path.exists(p) for p in files):
                return False
        return True

    def _build(stage: str) -> None:
        ix = os.path.join(stage, "index")
        cl = os.path.join(stage, "clusters")
        for b in range(3):
            maintain_neardup_index(
                spark, docs.filter(batch_of == b), ix, batch_tag=str(b)
            )
            # drain the new pairs version(s) into the assignment —
            # maintenance interleaves with ingestion, as a real
            # pipeline's would; only MANIFEST-published versions drain
            # (an unpublished dangler must never reach the assignment)
            maintain_components(
                spark,
                os.path.join(ix, "pairs"),
                cl,
                versions=tl.manifest_published(
                    os.path.join(ix, "manifest")
                ).get("pairs", []),
            )

    ensure_scratch(root, _build, _intact)
    return (
        tl.read_snapshot(spark, os.path.join(root, "clusters"))
        .select("node", "label")
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# serve_range: the RANGE face of the serving front door (round-10
# verdict item 4) — routed on committed per-file column stats
# ---------------------------------------------------------------------------

_RANGE_AGG_SQL = """
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM documents WHERE doc_id BETWEEN 10 AND 40
"""


def _range_rollup(df, info) -> DataFrame:
    """serve_range regime rollup: route AND the pruning outcome
    (files_scanned < files_total) are hash-checked columns next to
    exact aggregates the oracle recomputes from the raw relation."""
    return df.agg(
        F.lit(info["route"]).alias("route"),
        F.lit(info["files_scanned"] < info["files_total"]).alias("pruned"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "serve_range_pruned",
    oracle=f"""
    SELECT 'stats-pruned' AS route, TRUE AS pruned,{_RANGE_AGG_SQL}
    """,
    doc="serve_range() over a range-clustered table-log table "
    "(compact(sort_by=doc_id, stats_cols=[doc_id]) — the OPTIMIZE-"
    "ZORDER maintenance pass): every live file carries committed "
    "[min, max] for the probe column, so the router must take the "
    "STATS-PRUNED route, planning the scan from the log alone — files "
    "whose range cannot intersect [10, 40] are never opened (the "
    "probe shape a hash-bucket layout cannot serve). Both the route "
    "and the pruning OUTCOME (strictly fewer files scanned than live "
    "— 1 of 6 here, the ids sit in one sorted file) are hash-checked "
    "columns; the aggregates are recomputed by the oracle from the "
    "raw table, so a lossy prune fails the same gate.",
    tags=("table_log", "serving", "router", "pruning", "file-index"),
)
def serve_range_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import serve_range
    from ..sources.scratch import content_fingerprint, ensure_scratch

    src = os.path.join(sf_dir, "documents.parquet")
    key = content_fingerprint(src, extra="serverange-sorted")
    root = os.path.join(tempfile.gettempdir(), f"csetl_srvrng_{key}")
    t = os.path.join(root, "docs")

    def _intact(d: str) -> bool:
        td = os.path.join(d, "docs")
        if tl.current_version(td) != 1:  # v0 append + v1 compact
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(td))

    def _build(stage: str) -> None:
        td = os.path.join(stage, "docs")
        tl.append(load_table(spark, sf_dir, "documents"), td)
        # the maintenance pass a 100 TB table runs continuously:
        # range-cluster on the serving column and commit its stats
        tl.compact(
            spark, td, target_files=6, sort_by="doc_id",
            stats_cols=["doc_id"],
        )

    ensure_scratch(root, _build, _intact)
    # record_routes=False: regime fixtures are SHARED scratch and must
    # stay byte-stable across runs — the ledger belongs to real serving
    # tables, not to a route-decision oracle
    df, info = serve_range(spark, t, "doc_id", 10, 40, record_routes=False)
    return _range_rollup(df, info)


@register(
    "serve_range_fullscan",
    oracle=f"""
    SELECT 'full-scan' AS route, FALSE AS pruned,{_RANGE_AGG_SQL}
    """,
    doc="serve_range() where pruning CANNOT engage: the same rows "
    "appended with no stats_cols — zero committed-stats coverage for "
    "the probe column, so planning from the log cannot exclude any "
    "file and the router's only correct choice is the one pushdown "
    "full scan (parquet row-group stats still prune INSIDE it; the "
    "route records that the table log could not help, which is the "
    "signal to schedule the compact(sort_by) maintenance the other "
    "regime ran). Identical aggregates to the pruned regime — the "
    "route must be invisible in the values.",
    tags=("table_log", "serving", "router", "pruning"),
)
def serve_range_fullscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import serve_range
    from ..sources.scratch import content_fingerprint, ensure_scratch

    src = os.path.join(sf_dir, "documents.parquet")
    key = content_fingerprint(src, extra="serverange-plain")
    root = os.path.join(tempfile.gettempdir(), f"csetl_srvrng0_{key}")
    t = os.path.join(root, "docs")

    def _intact(d: str) -> bool:
        td = os.path.join(d, "docs")
        if tl.current_version(td) != 0:
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(td))

    def _build(stage: str) -> None:
        tl.append(
            load_table(spark, sf_dir, "documents"),
            os.path.join(stage, "docs"),
        )

    ensure_scratch(root, _build, _intact)
    # record_routes=False: regime fixtures are SHARED scratch and must
    # stay byte-stable across runs — the ledger belongs to real serving
    # tables, not to a route-decision oracle
    df, info = serve_range(spark, t, "doc_id", 10, 40, record_routes=False)
    return _range_rollup(df, info)


# ---------------------------------------------------------------------------
# Hysteresis re-fine: the routed CDC sink's coarsening is a round trip
# ---------------------------------------------------------------------------

_CDC_REFINE_ORACLE = """
WITH all_rows AS (
  SELECT user_id, value FROM events WHERE event_id % 3 = 0
  UNION ALL SELECT user_id, value FROM events
  UNION ALL SELECT user_id, value FROM events
    WHERE user_id = (SELECT MIN(user_id) FROM events)
  UNION ALL SELECT user_id, value FROM events
    WHERE user_id = (SELECT MAX(user_id) FROM events)
),
tot AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
         CAST(COUNT(*) AS BIGINT) AS total_events,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM all_rows
)
SELECT b.batch_id, b.route, TRUE AS refined,
       t.n_keys, t.total_events, t.total_cents
FROM (VALUES (CAST(0 AS BIGINT), 'partitioned'),
             (CAST(1 AS BIGINT), 'full-rewrite'),
             (CAST(2 AS BIGINT), 'partitioned'),
             (CAST(3 AS BIGINT), 'refine')) b(batch_id, route)
CROSS JOIN tot t
ORDER BY b.batch_id
"""


@register(
    "cdc_refine_roundtrip",
    oracle=_CDC_REFINE_ORACLE,
    doc="The routed CDC sink's coarsening round trip (hysteresis "
    "re-fine): a saturating batch FULL-REWRITES at bulk grouping, and "
    "after refine_after=2 consecutive trickle-shaped (partitioned-"
    "routed) batches over that coarsened layout, the second one "
    "executes as route REFINE — the same whole-snapshot merge laid "
    "back out at 1 bucket/file in the same atomic commit, the sink "
    "running its own compact_warehouse(bpf=1) exactly when its route "
    "history proves the regime shifted back (closing round-10 "
    "SCALING.md's documented residual: a permanent return to trickle "
    "paid ~1/bulk_files of the table per touched group until MANUAL "
    "maintenance). All four routes are read back from the COMMITTED "
    "log (a whole-table rewrite records its new grouping in meta — "
    "bulk for full-rewrite, 1 for refine), the restored fine layout "
    "is the hash-checked refined column, and the merged totals are "
    "recomputed by the oracle from the four raw input slices.",
    tags=("streaming", "cdc", "warehouse", "router", "table-format"),
)
def cdc_refine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.scratch import content_fingerprint, ensure_scratch
    from ..streaming.cdc import make_routed_cdc_sink, read_warehouse

    src = os.path.join(sf_dir, "events.parquet")
    key = content_fingerprint(src, extra="cdc-refine-v1")
    root = os.path.join(tempfile.gettempdir(), f"csetl_cdcrf_{key}")
    w = os.path.join(root, "warehouse")

    def _intact(d: str) -> bool:
        t = os.path.join(d, "warehouse")
        if tl.current_version(t) != 3:
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(t))

    def _build(stage: str) -> None:
        events = load_table(spark, sf_dir, "events")

        def inc(batch_df: DataFrame) -> DataFrame:
            return batch_df.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).alias("cents"),
            )

        sink = make_routed_cdc_sink(
            os.path.join(stage, "warehouse"),
            inc,
            key_col="user_id",
            add_cols=("n_events", "cents"),
            n_buckets=64,
            bulk_files=8,
            refine_after=2,
        )
        sink(events.filter(F.col("event_id") % 3 == 0), 0)  # seed
        sink(events, 1)  # saturating: coarsens to bulk grouping
        # two single-key trickles: 1 of 8 bulk files is far under the
        # crossover at every SF, so both route partitioned — and the
        # second one trips the refine_after=2 hysteresis
        lo, hi = events.agg(
            F.min("user_id"), F.max("user_id")
        ).first()
        sink(events.filter(F.col("user_id") == lo), 2)
        sink(events.filter(F.col("user_id") == hi), 3)

    ensure_scratch(root, _build, _intact)
    routes = []
    for e in tl.log_entries(w):
        if e["op"].startswith("cdc-batch-"):
            bid = int(e["op"].rsplit("-", 1)[1])
            bpf = (e.get("meta") or {}).get("buckets_per_file")
            routes.append(
                (
                    bid,
                    "partitioned"
                    if bpf is None
                    else ("refine" if bpf == 1 else "full-rewrite"),
                )
            )
    route_df = spark.createDataFrame(
        sorted(routes), "batch_id long, route string"
    )
    totals = read_warehouse(spark, w).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_events").alias("total_events"),
        F.sum("cents").alias("total_cents"),
    )
    refined = tl.layout_buckets_per_file(w) == 1
    return (
        route_df.crossJoin(totals)
        .withColumn("refined", F.lit(refined))
        .select(
            "batch_id",
            "route",
            "refined",
            "n_keys",
            "total_events",
            "total_cents",
        )
        .orderBy("batch_id")
    )
