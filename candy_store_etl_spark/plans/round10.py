"""Round-10 queries: property-flag oracles for the engine-specific
approximate tiers, the density-routed serving planner, and the
co-located candy-pipeline capstone.

The 7 rows-only catalog entries (xxhash64 MinHash/SimHash, float-
trained IVF/PQ) cannot carry value oracles — DuckDB cannot reproduce
the hashes or the training — and each already sits next to a
driver-green ``_portable`` twin that CAN. What the twins do not check
is the PRODUCTION tier itself. These queries close that gap with the
HLL/approx_percentile pattern (``plans/round4.py::hll_sketch_users``):
the output carries exact, portable truth values plus BOOLEAN property
flags computed over the engine-specific result, and the oracle emits
the same truth values with literal TRUE — so a broken production tier
flips a flag and fails the hash match, while the engine-specific
internals never need to be reproduced.

Flag design rule: every flag is either deterministic by construction
(the ANN rerank recomputation, SimHash's pigeonhole recall on exact
duplicates) or holds with failure probability < 1e-7 per pair under
the tier's own concentration bounds (MinHash recall at exact
Jaccard >= 0.9 with 64 permutations: miss probability
(1 - 0.9^4)^16 ~ 4e-8; precision floors sit 25+ sigma below the
operating threshold) — safe against testdata regeneration, unlike a
recall-percentage band would be.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import SQL_TOKENS, tokens, word_shingles
from ..functions.vectors import cosine_similarity, to_double_array
from ..operators.dedup import minhash_dedup_pairs, simhash_neardup_pairs
from ..sources.tpch import load_table
from .registry import register

# ---------------------------------------------------------------------------
# ANN quality: the float-trained tiers' exact-rerank contract
# ---------------------------------------------------------------------------

_SQL_ANN_QUALITY = """
SELECT CAST(10 AS BIGINT) AS k,
       TRUE AS neighbors_valid,
       TRUE AS scores_within_tol,
       TRUE AS scores_bounded
"""


def _ann_quality(spark: SparkSession, sf_dir: str, tier) -> DataFrame:
    """Shared checker: run an engine-specific ANN tier and verify the
    properties that hold REGARDLESS of training: k results, valid
    distinct non-query neighbors, and reported scores equal to an
    independent exact-cosine recomputation (the tiers rerank their
    candidate buffer exactly, so a drifted score means a broken rerank
    — caught here, not trusted). Tolerance 1e-9 absolute: the tiers
    rerank in numpy float64 while the recomputation is the JVM
    aggregate fold, so last-ulp summation-order differences are
    expected and anything larger is a bug."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    res = tier(emb.filter(F.col("vec_id") != 0), query)
    q = emb.filter(F.col("vec_id") == 0).select(
        to_double_array(F.col("embedding")).alias("qe")
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", to_double_array(F.col("embedding")).alias("ve"))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine_similarity(F.col("ve"), F.col("qe")).alias("exact_sim"),
        )
    )
    joined = res.select("vec_id", "cosine_sim").join(exact, "vec_id", "left")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        (
            (F.count_distinct("vec_id") == F.count(F.lit(1)))
            & F.bool_and(F.col("vec_id") != 0)
            & F.bool_and(F.col("exact_sim").isNotNull())
        ).alias("neighbors_valid"),
        F.bool_and(
            F.coalesce(
                F.abs(F.col("cosine_sim") - F.col("exact_sim")) <= 1e-9,
                F.lit(False),
            )
        ).alias("scores_within_tol"),
        F.bool_and(F.abs(F.col("cosine_sim")) <= 1.0 + 1e-9).alias(
            "scores_bounded"
        ),
    )


@register(
    "ann_topk_ivf_quality",
    oracle=_SQL_ANN_QUALITY,
    doc="Property-flag oracle for the float-trained IVF tier "
    "(ann_topk_ivf is rows-only because the trained centroids are "
    "data-dependent float aggregates): k=10 valid distinct neighbors "
    "whose reported scores match an independent exact-cosine "
    "recomputation within 1e-9 — the exact-rerank contract checked "
    "end-to-end, deterministic by construction. Recall lives in the "
    "oracled ann_recall_at_k over the portable-quantized index.",
    tags=("vectors", "ann", "ivf", "property-oracle"),
)
def ann_topk_ivf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_ivf

    return _ann_quality(
        spark,
        sf_dir,
        lambda emb, q: cosine_topk_ivf(
            emb, q, k=10, n_centroids=16, n_probe=4
        ),
    )


@register(
    "ann_topk_pq_quality",
    oracle=_SQL_ANN_QUALITY,
    doc="Property-flag oracle for the float-trained PQ tier "
    "(ann_topk_pq is rows-only: data-dependent codebooks): the ADC "
    "shortlist's exact rerank must report true cosines for k=10 valid "
    "neighbors — same contract and tolerance as the IVF check.",
    tags=("vectors", "ann", "pq", "property-oracle"),
)
def ann_topk_pq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_pq

    return _ann_quality(
        spark,
        sf_dir,
        lambda emb, q: cosine_topk_pq(emb, q, k=10, candidates=100),
    )


# ---------------------------------------------------------------------------
# MinHash quality: exact-Jaccard truth + concentration-bound flags
# ---------------------------------------------------------------------------

# Portable 3-word shingles (the same rule as functions.text.
# word_shingles: docs of <= 3 tokens contribute their whole text as
# one shingle), deduplicated per document.
_SQL_SHINGLES = f"""
    tok AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) <= 3
                         THEN [array_to_string(toks, ' ')]
                         ELSE list_transform(
                                generate_series(1, len(toks) - 2),
                                i -> array_to_string(toks[i:i+2], ' '))
                    END) AS s
      FROM tok
    )
"""


def _exact_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, i, u) for every document pair sharing at least one
    3-word string shingle: exact intersection and union sizes over the
    DISTINCT shingle sets — the portable ground truth both engines
    compute identically (pairs sharing nothing have Jaccard 0 and
    cannot appear in either flag's premise)."""
    sh = (
        docs.select("doc_id", tokens(F.col("text")).alias("__tk"))
        .select("doc_id", F.explode(word_shingles(F.col("__tk"))).alias("s"))
        .distinct()
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sz.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("n", "na")
        .join(sz.withColumnRenamed("doc_id", "id_b"), "id_b")
        .withColumnRenamed("n", "nb")
        .select(
            "id_a",
            "id_b",
            "i",
            (F.col("na") + F.col("nb") - F.col("i")).alias("u"),
        )
    )


@register(
    "minhash_neardup_quality",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) FILTER (WHERE i * 10 >= 9 * (sa.n + sb.n - i))
                AS BIGINT) AS high_sim_pairs,
           TRUE AS recall_high_ok,
           TRUE AS precision_floor_ok
    FROM inter
    JOIN sz sa ON inter.id_a = sa.doc_id
    JOIN sz sb ON inter.id_b = sb.doc_id
    """,
    doc="Property-flag oracle for the PRODUCTION xxhash64 MinHash tier "
    "(minhash_neardup_pairs is rows-only; its _portable twin oracles "
    "the md5 pipeline, not this one). Truth: exact string-shingle "
    "Jaccard, integer cross-multiplied (i*10 >= 9*u means J >= 0.9 "
    "with no float boundary). Flags: every truth pair at J >= 0.9 is "
    "found (64-perm miss probability (1-0.9^4)^16 ~ 4e-8 per pair) "
    "and every found pair has exact J >= 0.15 (a pair at J < 0.15 "
    "passing the est >= 0.4 filter needs Binom(64, 0.15) >= 26 — "
    "~1e-9). The truth COUNT itself hash-matches, so the shingle "
    "machinery is value-checked too.",
    tags=("text", "dedup", "minhash", "property-oracle"),
)
def minhash_neardup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    found = minhash_dedup_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.4
    ).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    pairs = _exact_jaccard_pairs(docs)
    high = pairs.filter(F.col("i") * 10 >= 9 * F.col("u"))
    high_cnt = high.agg(
        F.count(F.lit(1)).cast("long").alias("high_sim_pairs")
    )
    recall = (
        high.join(
            found.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .agg(F.coalesce(F.bool_and(F.col("hit").isNotNull()), F.lit(True)))
        .toDF("recall_high_ok")
    )
    precision = (
        found.join(pairs, ["id_a", "id_b"], "left")
        .agg(
            F.coalesce(
                F.bool_and(
                    F.coalesce(
                        F.col("i") * 20 >= 3 * F.col("u"), F.lit(False)
                    )
                ),
                F.lit(True),
            )
        )
        .toDF("precision_floor_ok")
    )
    return high_cnt.crossJoin(recall).crossJoin(precision)


# ---------------------------------------------------------------------------
# SimHash quality: pigeonhole recall + multiset-cosine precision floor
# ---------------------------------------------------------------------------


@register(
    "simhash_neardup_quality",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    fp AS (
      SELECT doc_id, md5(array_to_string(toks, ' ')) AS f
      FROM tok WHERE len(toks) > 0
    ),
    g AS (SELECT f, COUNT(*) AS c FROM fp GROUP BY f)
    SELECT CAST(COALESCE(SUM((c * (c - 1)) // 2), 0) AS BIGINT)
             AS exact_dup_pairs,
           TRUE AS all_exact_dups_found,
           TRUE AS precision_cosine_floor_ok
    FROM g
    """,
    doc="Property-flag oracle for the PRODUCTION xxhash64 SimHash tier "
    "(simhash_neardup_pairs is rows-only; its _portable twin oracles "
    "the md5 fingerprint). Truth: exact-duplicate pairs (identical "
    "token sequence, md5-fingerprinted portably). Flags: every exact "
    "dup is found — DETERMINISTIC, identical token multisets give "
    "identical fingerprints and the 4x12-bit chunk banding finds all "
    "Hamming<=3 pairs by pigeonhole — and every found pair has exact "
    "token-multiset cosine >= 0.5, integer cross-multiplied "
    "(4*dot^2 >= |a|^2*|b|^2; SimHash estimates exactly this angle, "
    "and P(Hamming <= 3 of 48 | cos < 0.5) < 1e-8 per pair).",
    tags=("text", "dedup", "simhash", "property-oracle"),
)
def simhash_neardup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    found = simhash_neardup_pairs(
        docs, "doc_id", "text", max_hamming=3
    ).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).filter(F.size("t") > 0)
    fp = toked.select(
        "doc_id", F.md5(F.concat_ws(" ", F.col("t"))).alias("f")
    )
    dup_cnt = (
        fp.groupBy("f")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum(
                    (F.col("c") * (F.col("c") - 1) / 2).cast("long")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("exact_dup_pairs")
        )
    )
    fa = fp.select(F.col("doc_id").alias("id_a"), "f")
    fb = fp.select(F.col("doc_id").alias("id_b"), "f")
    dup_pairs = fa.join(fb, "f").filter(F.col("id_a") < F.col("id_b"))
    recall = (
        dup_pairs.join(
            found.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .agg(F.coalesce(F.bool_and(F.col("hit").isNotNull()), F.lit(True)))
        .toDF("all_exact_dups_found")
    )
    # exact token-multiset cosine >= 0.5 via integer cross-multiply
    tc = (
        toked.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n2 = tc.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    tca = tc.select(
        F.col("doc_id").alias("id_a"), "tok", F.col("c").alias("ca")
    )
    tcb = tc.select(
        F.col("doc_id").alias("id_b"), "tok", F.col("c").alias("cb")
    )
    dots = (
        found.join(tca, "id_a")
        .join(tcb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    precision = (
        found.join(dots, ["id_a", "id_b"], "left")
        .join(n2.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("n2", "na2")
        .join(n2.withColumnRenamed("doc_id", "id_b"), "id_b")
        .withColumnRenamed("n2", "nb2")
        .agg(
            F.coalesce(
                F.bool_and(
                    F.coalesce(
                        4 * F.col("dot") * F.col("dot")
                        >= F.col("na2") * F.col("nb2"),
                        F.lit(False),
                    )
                ),
                F.lit(True),
            )
        )
        .toDF("precision_cosine_floor_ok")
    )
    return dup_cnt.crossJoin(recall).crossJoin(precision)


# ---------------------------------------------------------------------------
# serve(): the density-routed front door over the bucketed layout
# ---------------------------------------------------------------------------
#
# point_lookup / keyset_lookup / the pushdown scan are three execution
# shapes over one committed layout, and the point-lookup serving A/B
# (NOTES.md, Round-9 progress) measured where each wins (file count is
# the lookup's variable; the keyset shape wins at every probe density
# once files are many). serve()
# encodes those crossovers; the queries below pin one oracled row per
# regime — the ROUTE itself is a hash-checked output column, so a
# routing regression fails the driver gate, not just a benchmark.

_WIDE_BUCKETS = 128  # > SERVE_SCAN_FILE_THRESHOLD files when populated


def _ensure_serve_lines_table(spark: SparkSession, sf_dir: str) -> str:
    """lineitem bucketed by order key at a WIDE layout (128 buckets,
    one file each) — enough files that the router's measured
    crossover puts every probed lookup on the keyset path."""
    from ..operators.colocated import write_bucketed
    from ..sources import table_log as tl
    from ..sources.scratch import content_fingerprint, ensure_scratch

    key = content_fingerprint(
        os.path.join(sf_dir, "lineitem.parquet"), extra="serve128"
    )
    root = os.path.join(tempfile.gettempdir(), f"csetl_serve_{key}")

    def _intact(d: str) -> bool:
        t = os.path.join(d, "lines")
        if tl.current_version(t) != 0:
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(t))

    def _build(stage: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("okey"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        write_bucketed(
            li,
            os.path.join(stage, "lines"),
            key_col="okey",
            n_buckets=_WIDE_BUCKETS,
        )

    ensure_scratch(root, _build, _intact)
    return os.path.join(root, "lines")


def _serve_rollup(spark, table_dir, keys, **kw) -> DataFrame:
    """Run serve() and roll the hits up with the route decision and
    pruning evidence as literal columns — the shape all the regime
    queries share."""
    from ..operators.colocated import serve

    # record_routes=False: shared regime fixtures stay byte-stable
    # (same rule as serve_range's regime rows)
    hit, info = serve(
        spark, table_dir, list(keys), record_routes=False, **kw
    )
    return hit.agg(
        F.lit(info["route"]).alias("route"),
        F.lit(info["files_scanned"] < info["files_total"]).alias("pruned"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("cents"),
        F.countDistinct("okey").alias("n_keys_found"),
    )


def _sql_serve_rollup(route: str, pruned: str, where: str) -> str:
    return f"""
    SELECT '{route}' AS route,
           {pruned} AS pruned,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys_found
    FROM lineitem {where}
    """


_SERVE_SMALL_KEYS = (1, 33, 577)
_SERVE_LARGE_KEYS = tuple(range(1, 1200, 8))  # 150 probes


@register(
    "serve_probe_small",
    oracle=_sql_serve_rollup(
        "keyset",
        "TRUE",
        "WHERE l_orderkey IN (1, 33, 577)",
    ),
    doc="serve() with a 3-key probe on the 128-file table: the router "
    "must pick the KEYSET shape (the measured 8.8x-at-5-keys regime) "
    "and prune — 3 keys touch at most 3 of 128 bucket groups, so "
    "pruned=TRUE deterministically. The route and the pruning flag "
    "are output columns, hash-checked against the oracle's literals.",
    tags=("table_log", "bucketed", "serving", "router"),
)
def serve_probe_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _serve_rollup(
        spark, _ensure_serve_lines_table(spark, sf_dir), _SERVE_SMALL_KEYS
    )


@register(
    "serve_probe_large",
    oracle=_sql_serve_rollup(
        "keyset",
        "TRUE",
        f"WHERE l_orderkey IN ({', '.join(str(k) for k in _SERVE_LARGE_KEYS)})",
    ),
    doc="serve() with 150 probe keys: still the keyset route (it wins "
    "at every density once files are many), exercising the LARGE-set "
    "internals — string-transport probe relation (a 150-literal array "
    "would cost Catalyst O(K) analysis) and the broadcast semi-join "
    "residual. 150 fixed keys over 128 buckets leave some buckets "
    "untouched (the touch pattern is a pure function of the key "
    "values and the engine hash, not of the data), so pruned=TRUE.",
    tags=("table_log", "bucketed", "serving", "router"),
)
def serve_probe_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _serve_rollup(
        spark, _ensure_serve_lines_table(spark, sf_dir), _SERVE_LARGE_KEYS
    )


@register(
    "serve_probe_saturated",
    oracle=_sql_serve_rollup("keyset", "FALSE", ""),
    doc="serve() probed with EVERY distinct order key in the table: "
    "the keyset route saturates — all populated bucket groups are "
    "touched, pruned=FALSE — and must DEGRADE to the full pruned scan "
    "(the A/B's 1.3x-at-2000-probes point) instead of losing to it. "
    "The rollup equals the whole-table aggregate, which is what the "
    "oracle computes. The probe list is collected driver-side — it is "
    "probe-key-sized by definition (the query's own input).",
    tags=("table_log", "bucketed", "serving", "router"),
)
def serve_probe_saturated(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = [
        r[0]
        for r in load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .distinct()
        .collect()
    ]
    return _serve_rollup(
        spark, _ensure_serve_lines_table(spark, sf_dir), sorted(keys)
    )


_SERVE_SCAN_KEYS = tuple(range(1, 3200, 64))  # 50 probes, isin path


@register(
    "serve_small_table_scan",
    oracle=_sql_serve_rollup(
        "scan-small-table",
        "FALSE",
        f"WHERE l_orderkey IN ({', '.join(str(k) for k in _SERVE_SCAN_KEYS)})",
    ),
    doc="serve() on the 64-file fixture (16 buckets x 4 slices): BELOW "
    "the measured file-count crossover the bucket lookup LOSES to a "
    "columnar pushdown scan (0.7-0.9x at 64 files in the A/B), so the "
    "router must pick the scan — route='scan-small-table', no "
    "pruning, the probe served as an isin pushdown predicate. The "
    "regime boundary itself is the thing this row checks.",
    tags=("table_log", "bucketed", "serving", "router"),
)
def serve_small_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .round9 import _ensure_skewed_lines_tables

    root = _ensure_skewed_lines_tables(spark, sf_dir)
    return _serve_rollup(
        spark, os.path.join(root, "lines"), _SERVE_SCAN_KEYS
    )


@register(
    "serve_unbucketed_scan",
    oracle="""
    SELECT 'scan-unbucketed' AS route,
           FALSE AS pruned,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_keys_found
    FROM documents WHERE doc_id % 7 = 0 AND doc_id < 500
    """,
    doc="serve() on a table with NO committed bucket spec (plain "
    "table-log appends): the layout cannot prune, so the router's "
    "only safe shape is the pushdown scan over the snapshot with the "
    "probe as a residual (key_col= names the probe column). The probe "
    "set is 72 keys, so this row also pins the large-set semi-join "
    "residual on the scan path.",
    tags=("table_log", "serving", "router"),
)
def serve_unbucketed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import serve
    from ..sources import table_log as tl
    from ..sources.scratch import content_fingerprint, ensure_scratch

    key = content_fingerprint(
        os.path.join(sf_dir, "documents.parquet"), extra="serveplain"
    )
    root = os.path.join(tempfile.gettempdir(), f"csetl_srvdoc_{key}")

    def _intact(d: str) -> bool:
        t = os.path.join(d, "docs")
        if tl.current_version(t) != 0:
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(t))

    def _build(stage: str) -> None:
        tl.append(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "n_chars"
            ),
            os.path.join(stage, "docs"),
        )

    ensure_scratch(root, _build, _intact)
    keys = [k for k in range(0, 500, 7)]
    hit, info = serve(
        spark, os.path.join(root, "docs"), keys, key_col="doc_id",
        record_routes=False,
    )
    return hit.agg(
        F.lit(info["route"]).alias("route"),
        F.lit(info["files_scanned"] < info["files_total"]).alias("pruned"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("chars"),
        F.countDistinct("doc_id").alias("n_keys_found"),
    )


# ---------------------------------------------------------------------------
# The fused rollup+join SPJ (the candy capstone's stage-2 shape)
# ---------------------------------------------------------------------------


@register(
    "colocated_rollup_join",
    oracle="""
    WITH r AS (
      SELECT l_orderkey AS okey,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(r.cents) AS BIGINT) AS cents,
           CAST(SUM(r.n_lines) AS BIGINT) AS n_lines
    FROM r JOIN orders o ON o.o_orderkey = r.okey
    GROUP BY status ORDER BY status
    """,
    doc="FUSED per-key rollup + dimension join in one task wave "
    "(colocated_aggregate_join): lineitem bucketed by order key is "
    "aggregated to completion inside each bucket task (the bucket "
    "holds every row of each key) and the per-order rollup joins the "
    "co-located order dim in the SAME task — zero exchange of line "
    "items, rollups, or headers; composing bucketed_aggregate + "
    "colocated_bucket_join would still exchange the intermediate. "
    "It is the storage-partitioned form of an orders-rollup-joins-"
    "headers pass (reference data_processor.py:310-326); the candy "
    "pipeline itself carries each order's header on its line items "
    "and needs no join. The final per-status fold is an ordinary "
    "exchange over rollup-sized rows.",
    tags=("table_log", "bucketed", "colocated", "join", "agg"),
)
def colocated_rollup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import colocated_aggregate_join
    from .round9 import _ensure_skewed_lines_tables

    root = _ensure_skewed_lines_tables(spark, sf_dir)
    per_order = colocated_aggregate_join(
        spark,
        os.path.join(root, "lines"),
        os.path.join(root, "order_dim"),
        aggs=[
            ("cents", "sum", "cents"),
            ("okey", "count", "n_lines"),
        ],
    )
    return (
        per_order.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
            F.sum("n_lines").alias("n_lines"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# serve_aggregate(): the AGGREGATE face of the serving front door
# ---------------------------------------------------------------------------


@register(
    "serve_aggregate_bucketed",
    oracle="""
    SELECT 'bucketed-local' AS route,
           l_orderkey AS okey,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY okey
    ORDER BY cents DESC, okey LIMIT 10
    """,
    doc="serve_aggregate grouping BY the committed bucket key: the "
    "router must pick the exchange-free bucketed-local shape (every "
    "key's rows live in one bucket group, so per-key aggregates "
    "finalize inside their task — no partial/final split, no shuffle "
    "of fact rows). The route is a hash-checked output column; the "
    "agg vocabulary is route-invariant by construction, so the values "
    "equal the plain SQL rollup.",
    tags=("table_log", "bucketed", "serving", "router", "agg"),
)
def serve_aggregate_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import serve_aggregate

    d = _ensure_serve_lines_table(spark, sf_dir)
    got, info = serve_aggregate(
        spark,
        d,
        "okey",
        [("cents", "sum", "cents"), ("okey", "count", "n_lines")],
    )
    return (
        got.select(
            F.lit(info["route"]).alias("route"), "okey", "cents", "n_lines"
        )
        .orderBy(F.col("cents").desc(), "okey")
        .limit(10)
    )


@register(
    "serve_aggregate_shuffle",
    oracle="""
    SELECT 'shuffle-agg' AS route,
           (l_orderkey % 10) AS okey_band,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY okey_band ORDER BY okey_band
    """,
    doc="serve_aggregate grouping OFF the bucket key (a derived band "
    "column): rows of a group span bucket files, so the only correct "
    "shape is the ordinary partial/final shuffle aggregate over the "
    "snapshot scan — the router must say so (route='shuffle-agg') "
    "rather than pretend the layout helps. Same route-invariant "
    "values as the plain SQL rollup.",
    tags=("table_log", "serving", "router", "agg"),
)
def serve_aggregate_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.colocated import serve_aggregate
    from ..sources import table_log as tl

    from ..sources.scratch import content_fingerprint, ensure_scratch

    # grouping by a non-key column needs it STORED: a banded copy of
    # the lineitem rollup columns, built once (ensure_scratch guards
    # the check-then-act race two concurrent gate runs would have)
    key = content_fingerprint(
        os.path.join(sf_dir, "lineitem.parquet"), extra="servband"
    )
    root = os.path.join(tempfile.gettempdir(), f"csetl_srvband_{key}")

    def _intact(dd: str) -> bool:
        t = os.path.join(dd, "banded")
        if tl.current_version(t) != 0:
            return False
        return all(os.path.exists(p) for p in tl.snapshot_files(t))

    def _build(stage: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("okey"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            (F.col("l_orderkey") % 10).cast("long").alias("okey_band"),
        )
        tl.append(li, os.path.join(stage, "banded"))

    ensure_scratch(root, _build, _intact)
    band_dir = os.path.join(root, "banded")
    got, info = serve_aggregate(
        spark,
        band_dir,
        "okey_band",
        [("cents", "sum", "cents"), ("okey", "count", "n_lines")],
    )
    return got.select(
        F.lit(info["route"]).alias("route"), "okey_band", "cents", "n_lines"
    ).orderBy("okey_band")


# ---------------------------------------------------------------------------
# Matview-of-matview: the change feed of a maintained view drives the
# next downstream view — a two-hop incremental-maintenance chain
# ---------------------------------------------------------------------------


@register(
    "cdf_matview_chain",
    oracle="""
    WITH final_rows AS (
      SELECT source, n_chars FROM documents WHERE doc_id < 300
      UNION ALL
      SELECT source, n_chars FROM documents WHERE doc_id % 5 = 0
    )
    SELECT substr(source, -1, 1) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM final_rows GROUP BY band ORDER BY band
    """,
    doc="TWO-HOP incremental view maintenance: the base table's "
    "change feed maintains a per-source view (hop 1 — "
    "cdf_materialized_view_maintenance's shape), and that VIEW'S OWN "
    "change feed maintains a coarser per-band rollup (hop 2) — the "
    "maintained view is a first-class table-log table, so its "
    "versioned commits feed downstream consumers exactly like any "
    "base table's. Hop-2 correctness telescopes: the CDC sink "
    "replaces a key's row per batch (remove old + insert new in one "
    "commit), so folding SIGNED contributions of the view's CDF rows "
    "nets to the sum over the view's CURRENT rows. The oracle "
    "recomputes the final per-band aggregate directly from the "
    "source relation after the base's append/append/overwrite/"
    "compact/append history — two hops of deltas equal zero hops of "
    "recomputation. At 100 TB this is a DAG of rollups following a "
    "mutating lakehouse table at commit granularity, each hop's cost "
    "proportional to its delta.",
    tags=("warehouse", "table-format", "streaming", "cdc", "ivm"),
)
def cdf_matview_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import table_log as tl
    from ..sources import table_log_source
    from ..sources.scratch import content_fingerprint, ensure_scratch
    from ..streaming.cdc import make_partitioned_cdc_sink
    from ..streaming.events import run_stream_foreach_batch

    table_log_source.register(spark)
    src = os.path.join(sf_dir, "documents.parquet")
    # the extra salt VERSIONS the fixture logic (band definition):
    # bump it when _build changes, or the content-keyed scratch would
    # serve a stale build
    key = content_fingerprint(src, extra="ivm-chain-v2")
    root = os.path.join(tempfile.gettempdir(), f"csetl_ivm2_{key}")
    view2 = os.path.join(root, "view2")

    def _intact(d: str) -> bool:
        for name, want_v in (("base", 4), ("view1", None), ("view2", None)):
            t = os.path.join(d, name)
            v = tl.current_version(t)
            if v is None or (want_v is not None and v != want_v):
                return False
        for name in ("view1", "view2"):
            t = os.path.join(d, name)
            if not any(
                e["op"].startswith("cdc-batch-")
                for e in tl.log_entries(t)
            ):
                return False
            if not all(os.path.exists(p) for p in tl.snapshot_files(t)):
                return False
        return True

    def _build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        b = os.path.join(stage, "base")
        tl.append(docs.filter(F.col("doc_id") % 3 == 0), b)
        tl.append(docs.filter(F.col("doc_id") % 3 == 1), b)
        tl.overwrite(docs.filter(F.col("doc_id") < 300), b)
        tl.compact(spark, b)
        tl.append(docs.filter(F.col("doc_id") % 5 == 0), b)

        from ..streaming.cdc import change_sign as sign

        def inc1(batch_df: DataFrame) -> DataFrame:
            return batch_df.groupBy("source").agg(
                F.sum(sign()).alias("n_docs"),
                F.sum(sign() * F.col("n_chars")).alias("chars"),
            )

        def _feed(path: str):
            return (
                spark.readStream.format("table_log")
                .option("path", path)
                .option("changeFeed", "true")
                .load()
            )

        v1 = os.path.join(stage, "view1")
        run_stream_foreach_batch(
            _feed(b),
            make_partitioned_cdc_sink(
                v1,
                inc1,
                key_col="source",
                add_cols=("n_docs", "chars"),
                n_buckets=8,
            ),
            checkpoint_dir=os.path.join(stage, "ckpt1"),
        )

        # hop 2: the VIEW's change feed — each CDC batch removed a
        # key's old row and inserted its new one, so signed folding
        # of (n_docs, chars) telescopes to the view's current values
        def inc2(batch_df: DataFrame) -> DataFrame:
            return (
                batch_df.withColumn(
                    # LAST char: the fixture's sources share a prefix,
                    # so a first-char band would collapse to one group
                    "band", F.substring("source", -1, 1)
                )
                .groupBy("band")
                .agg(
                    F.sum(sign() * F.col("n_docs")).alias("n_docs"),
                    F.sum(sign() * F.col("chars")).alias("chars"),
                )
            )

        run_stream_foreach_batch(
            _feed(v1),
            make_partitioned_cdc_sink(
                os.path.join(stage, "view2"),
                inc2,
                key_col="band",
                add_cols=("n_docs", "chars"),
                n_buckets=4,
            ),
            checkpoint_dir=os.path.join(stage, "ckpt2"),
        )

    ensure_scratch(root, _build, _intact)
    return (
        tl.read_snapshot(spark, view2)
        .filter(F.col("n_docs") > 0)
        .select("band", "n_docs", "chars")
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Leakage-safe dataset split: near-dup CLUSTERS stay on one side
# ---------------------------------------------------------------------------

_SQL_MD5_INT6_CLUSTER = """
  list_sum(list_transform(generate_series(1, 6),
    i -> (strpos('0123456789abcdef',
                 substr(md5(CAST(cluster_id AS VARCHAR)), i, 1)) - 1)
         * CAST(16 AS BIGINT) ** (6 - i)))
"""


def _leakage_split_oracle() -> str:
    from .vectors import minhash_portable_ctes

    return f"""
    WITH RECURSIVE {minhash_portable_ctes()},
    pairs AS (
      SELECT id_a AS src, id_b AS dst FROM est WHERE est_jaccard >= 0.5
    ),
    alledges AS (
      SELECT src AS a, dst AS b FROM pairs
      UNION ALL SELECT dst, src FROM pairs
    ),
    reach(node, comp) AS (
      SELECT doc_id, doc_id FROM tok
      UNION
      SELECT e.b, r.comp FROM reach r JOIN alledges e ON e.a = r.node
    ),
    labels AS (
      SELECT node AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY node
    ),
    sp AS (
      SELECT cluster_id,
             CASE WHEN m < 80 THEN 'train'
                  WHEN m < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, cluster_id,
               ({_SQL_MD5_INT6_CLUSTER}) % 100 AS m
        FROM labels
      )
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           TRUE AS no_leakage
    FROM sp GROUP BY split ORDER BY split
    """


@register(
    "leakage_safe_split",
    oracle=_leakage_split_oracle(),
    doc="LEAKAGE-SAFE train/val/test split: hashing documents "
    "independently (dataset_split_assignment) puts near-duplicates of "
    "a training document into the test set — the classic eval-leakage "
    "failure. This splits by the md5 of each document's NEAR-DUP "
    "CLUSTER representative (portable MinHash pairs closed into "
    "connected components by distributed min-label propagation), so "
    "every near-dup cluster lands wholly on one side by construction "
    "— and the no_leakage flag VERIFIES it over the actual edge set "
    "rather than trusting the construction (a wrong cluster label "
    "flips it). The oracle replays the portable pipeline end-to-end: "
    "signatures, banding, candidate pairs, recursive-CTE "
    "reachability, the same md5-mod-100 rule on the cluster id, and "
    "the per-split doc/cluster counts. At 100 TB the split stays one "
    "hash of a precomputed label — no RNG state, stable under "
    "re-runs and repartitioning, and the cluster labels are the same "
    "relation the dedup survivorship pass already maintains.",
    tags=("prep", "dedup", "graph", "minhash", "portable", "sampling"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import component_labels

    docs = load_table(spark, sf_dir, "documents")
    edges = minhash_dedup_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.5,
        method="portable",
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels = component_labels(docs.select("doc_id"), edges, "doc_id")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("component").cast("string")), 1, 6),
            16,
            10,
        ).cast("long")
        % 100
    )
    sp = labels.select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    # verify, don't trust: no near-dup edge may straddle splits
    sa = sp.select(F.col("doc_id").alias("src"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("dst"), F.col("split").alias("split_b"))
    leak = (
        edges.join(sa, "src")
        .join(sb, "dst")
        .agg(
            F.coalesce(
                F.bool_and(F.col("split_a") == F.col("split_b")),
                F.lit(True),
            )
        )
        .toDF("no_leakage")
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .crossJoin(leak)
        .select("split", "n_docs", "n_clusters", "no_leakage")
        .orderBy("split")
    )
