"""Scalable document deduplication operators.

Four tiers, all shuffle-architected for 100 TB:

- **exact**: hash-groupBy on a content fingerprint (one shuffle on the
  hash — perfectly balanced keys).
- **MinHash + LSH**: shingle → per-permutation min-hash → band → bucket
  join. Candidate generation never compares all pairs; the only
  shuffle is on (band, bucket-hash), and true near-dups collide with
  probability 1-(1-s^r)^b.
- **SimHash**: 64-bit fingerprint whose Hamming distance tracks cosine
  similarity of the token multiset; chunk-band join finds all pairs
  within Hamming ≤ 3 (pigeonhole over 4 chunks).
- **embedding cosine**: see operators/similarity.py.

Everything below is built-in Spark expressions (xxhash64, higher-order
array functions) — no Python in the per-row hot path.

Reference context: the candy-store pipeline's only dedup is
``dropDuplicates`` on order headers (`data_processor.py:320`); these
operators are the north-star extension (BASELINE.json).
"""

from __future__ import annotations

import functools

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_cache

from ..functions.text import tokens, word_shingles
from ..sources.tpch import repartition_for_compute


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Survivor table: one row per distinct normalized content."""
    fp = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.select(fp.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _token_hashes(toks: Column) -> Column:
    """32-bit xxhash64 per token. MUST be staged as its own projection
    (aliased column) before windowing — ``_shingle_hashes`` references
    its input once per window position, and Catalyst does not CSE a
    duplicated ``transform`` subtree, so inlining this expression makes
    shingling O(len²) (measured 2.5x slower end-to-end at sf0.1)."""
    mask = F.lit(0xFFFFFFFF)
    return F.transform(toks, lambda t: F.xxhash64(t).bitwiseAND(mask))


def _shingle_hashes(th: Column, n: int = 3) -> Column:
    """32-bit hash per n-token shingle, built by hash-combining the
    per-token hashes from ``_token_hashes`` — no per-window string
    materialization (the ``concat_ws`` form was the dominant signature
    cost at sf0.1). ``th`` must be a bound column (see above). Each
    combine step re-masks to 32 bits so ANSI long arithmetic cannot
    overflow. Documents shorter than ``n`` tokens hash their whole
    token list so they still participate in dedup.
    """
    mask = F.lit(0xFFFFFFFF)

    def combine(acc: Column, nxt: Column) -> Column:
        return (acc * 131 + nxt).bitwiseAND(mask)

    def window_hash(i: Column) -> Column:
        h = F.element_at(th, i + 1)
        for k in range(1, n):
            h = combine(h, F.element_at(th, i + 1 + k))
        return h

    whole = F.aggregate(th, F.lit(0).cast("long"), combine)
    shingled = F.transform(F.sequence(F.lit(0), F.size(th) - n), window_hash)
    return F.when(F.size(th) <= n, F.array(whole)).otherwise(shingled)


def explode_nonempty(df, alias: str, expr: Column, *keep: str):
    """``explode`` WITHOUT the optimizer's inferred generate filter.

    ``InferFiltersFromGenerate`` rewrites ``explode(e)`` into
    ``Filter(size(e) > 0) + Generate`` with the FULL generator
    expression inlined into the filter; the filter then pushes below
    the compute-repartition to the (often single-split) scan, where the
    whole tokenize/shingle/hash chain evaluates a second time —
    serially (measured 5x end-to-end on the bloom decontamination
    query, and a double evaluation everywhere else). ``explode_outer``
    infers no filter; the equivalent null-row drop afterwards touches
    only the exploded OUTPUT column. Empty and null arrays contribute
    no rows either way. ONE deliberate difference from plain
    ``explode``: a NULL *element* inside a non-empty array would emit a
    null row under ``explode`` but is dropped here by the
    ``isNotNull`` post-filter. Every in-repo call site feeds arrays of
    non-null elements (token/shingle hashes, split grams); do not use
    this helper where null elements are meaningful rows.
    """
    out = df.select(*keep, F.explode_outer(expr).alias(alias))
    return out.filter(F.col(alias).isNotNull())


def minhash_perm_arrays(num_perm: int):
    """The seeded multiply-shift permutation family (A_j odd < 2^30,
    B_j < 2^32). One definition shared by the signature operators AND
    the oracle-SQL builder (plans/vectors.py inlines these as literals
    for the portable tier), so they can only drift together."""
    rng = np.random.default_rng(42)
    a_mult = rng.integers(0, 1 << 29, size=num_perm) * 2 + 1
    b_add = rng.integers(0, 1 << 32, size=num_perm)
    return a_mult, b_add


def _minhash_min_agg(flat: DataFrame, num_perm: int) -> DataFrame:
    """groupBy(id) → signature array: min over the ``num_perm``
    multiply-shift permutations of the 32-bit hash column ``h``.

    Built as ONE parsed SQL expression: the Column-API listcomp form
    costs ~6 py4j round trips per permutation (~0.7 s of driver time
    per plan build at num_perm=64 — profiled r12, dominated by socket
    recv), while a single F.expr string parses JVM-side in one call.
    Catalyst collapses the array-over-aggregates projection into the
    Aggregate node either way, so the physical plan is unchanged; the
    ``& 4294967295`` literal folds to the same LongType mask as the
    old ``F.lit(0xFFFFFFFF)``.
    """
    a_mult, b_add = minhash_perm_arrays(num_perm)
    sig = F.expr(
        "array("
        + ", ".join(
            f"min(({int(a_mult[j])}L * h + {int(b_add[j])}L) & 4294967295)"
            for j in range(num_perm)
        )
        + ")"
    ).alias("signature")
    return flat.groupBy("id").agg(sig)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """id + minhash signature (array<long>, one element per permutation).

    Permutation j is the keyed hash ``xxhash64(shingle, j)``; the
    signature element is the min over the document's distinct shingles.

    Shape: explode shingles once, then ONE hash aggregation with
    ``num_perm`` min() columns (partial/final, map-side combined). The
    tempting single-expression form — ``array(array_min(transform(sh,
    h_0)), ..., array_min(transform(sh, h_63)))`` — re-evaluates the
    shingling ``num_perm`` times per row (Catalyst does not CSE across
    array elements) and measured ~50x slower at sf0.1. Even with the
    shingle-hash array STAGED in its own projection (so it cannot be
    re-evaluated), the zero-shuffle per-row form still measured ~35%
    slower: higher-order ``transform``/``array_min`` lambdas are
    interpreted per element, while the explode+min-agg path runs
    entirely inside whole-stage codegen — the shuffle it pays is on
    pre-aggregated per-id rows and is the cheaper half of the trade.

    Permutations use the multiply-shift family: ONE base hash
    ``h = xxhash64(s) & 0xFFFFFFFF`` per shingle, then
    ``perm_j = (A_j·h + B_j) mod 2^32`` with seeded odd multipliers —
    each perm_j is a genuine permutation of the 32-bit key space, and
    the permutations are independent across j (a sequential-j scheme
    like ``a + j·b`` correlates positions and was measured to inflate
    est_jaccard false positives 5x). ``A_j < 2^30`` keeps ``A_j·h <
    2^62``, so ANSI-mode long arithmetic cannot overflow.
    """
    # tiny-input, heavy-derivation: spread the shingle/hash chain
    # across cores before it starts (see repartition_for_compute)
    df = repartition_for_compute(df)
    hashed = df.select(
        F.col(id_col).alias("id"),
        _token_hashes(tokens(F.col(text_col))).alias("th"),
    )
    flat = explode_nonempty(
        hashed, "h", F.array_distinct(_shingle_hashes(F.col("th"), shingle_n)), "id"
    )
    return _minhash_min_agg(flat, num_perm)


def minhash_signatures_oph(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """One-Permutation Hashing signatures — the O(shingles) scale tier.

    Classic MinHash (``minhash_signatures``) evaluates ``num_perm``
    multiply-shift permutations per shingle, so the signature pass does
    O(shingles × num_perm) hash work — measured as the dominant cost of
    the whole dedup at sf0.1, and 64× the arithmetic it needs to be at
    100 TB. OPH (Li, Owen & Zhang, NIPS 2012) hashes each shingle ONCE
    and bins it by its top bits; the signature element for bin j is the
    minimum hash that landed in j. Empty bins borrow the value of the
    next non-empty bin to the right, circularly (densification,
    Shrivastava & Li, ICML 2014), keeping the position-match estimator
    E[matches]/num_perm ≈ J unbiased for docs with fewer shingles than
    bins.

    Same output contract as ``minhash_signatures`` (id + array<long>
    of ``num_perm`` elements), so banding and similarity estimation
    compose unchanged. ``num_perm`` must be a power of two (the bin is
    a bit-shift, keeping the per-row path to one hash + one shift).

    Measured honestly: at sf0.1 (5k docs, ~1M shingles) the two forms
    are within noise — the shared tokenize/shingle/explode stage
    dominates and this form pays one extra (tiny) stage. The win is
    the per-shingle cost model: O(1) arithmetic and ≤``num_perm``
    shuffled rows per doc regardless of document length, which is what
    matters when shingle volume per core is 1000× larger.
    """
    if num_perm & (num_perm - 1):
        raise ValueError(f"num_perm={num_perm} must be a power of two")
    bin_bits = num_perm.bit_length() - 1
    shift = 32 - bin_bits
    df = repartition_for_compute(df)
    if portable:
        # md5-derived shingle hash (see minhash_signatures_portable) —
        # same binning/densification on an engine-reproducible hash, so
        # the WHOLE OPH construction (including circular borrowing) is
        # value-checked by the DuckDB oracle of
        # minhash_neardup_pairs_oph_portable
        # tokens STAGED into a column before the shingle lambda (r13):
        # window_join references the token array once per window token,
        # and an interpreted lambda re-evaluates any non-column subtree
        # per reference — staging makes each reference a bound-array
        # read (plans/text.py _with_tokens discipline)
        flat = explode_nonempty(
            df.select(
                F.col(id_col).alias("id"),
                tokens(F.col(text_col)).alias("__tk"),
            ),
            "s",
            F.array_distinct(word_shingles(F.col("__tk"), shingle_n)),
            "id",
        ).select(
            "id",
            F.conv(F.substring(F.md5("s"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
    else:
        hashed = df.select(
            F.col(id_col).alias("id"),
            _token_hashes(tokens(F.col(text_col))).alias("th"),
        )
        flat = explode_nonempty(
            hashed,
            "h",
            F.array_distinct(_shingle_hashes(F.col("th"), shingle_n)),
            "id",
        )
    # per-shingle work is ONE shift — the min per (doc, bin) reduces
    # map-side in the first aggregate, so at most num_perm rows per doc
    # ever shuffle; the second aggregate (sparse bins -> dense array
    # via map lookup) runs on that tiny relation. The tempting
    # single-groupBy form with num_perm conditional mins keeps O(num_
    # perm) expression work per shingle row — measured SLOWER than the
    # classic permutations it was meant to beat.
    mins = (
        flat.select(
            "id",
            F.shiftrightunsigned(F.col("h"), shift).alias("bin"),
            "h",
        )
        .groupBy("id", "bin")
        .agg(F.min("h").alias("m"))
    )
    sparse = mins.groupBy("id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bin"), F.col("m")))
        ).alias("bins")
    )
    # collect_list order is nondeterministic but the map lookup by bin
    # index makes the dense array deterministic (absent bins -> null)
    arr = F.expr(
        f"transform(sequence(0, {num_perm - 1}), "
        "j -> bins[CAST(j AS BIGINT)])"
    )
    staged = sparse.select("id", arr.alias("raw")).select(
        "id", "raw", F.concat("raw", "raw").alias("doubled")
    )
    # one parsed expression for the 64-way densification (the Column
    # API form costs ~10 py4j round trips per bin — same rationale as
    # _minhash_min_agg; element_at keeps the exact ANSI semantics of
    # the original expression tree)
    densified = F.expr(
        "array("
        + ", ".join(
            f"coalesce(element_at(raw, {j + 1}), "
            f"element_at(filter(slice(doubled, {j + 2}, {num_perm - 1}), "
            "x -> x IS NOT NULL), 1))"
            for j in range(num_perm)
        )
        + ")"
    )
    return staged.select("id", densified.alias("signature"))


def minhash_signatures_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-engine-reproducible signatures: md5-derived 32-bit shingle
    hashes instead of xxhash64.

    The classic and OPH tiers hash with ``xxhash64``, which no other
    engine reproduces — that is the ONLY reason the MinHash queries are
    rows-only at the correctness gate. This tier hashes the shingle
    STRING as ``conv(substr(md5(s),1,8),16,10)`` (md5 is bit-identical
    everywhere), so the full pipeline — signatures, banding, estimator,
    threshold — is value-checkable against a DuckDB oracle
    (``minhash_neardup_pairs_portable``). Same seeded permutation
    family as the classic tier (``minhash_perm_arrays``).

    Cost model: md5 is a cryptographic hash and the shingle string is
    materialized per window — measured ~2-3x the classic tier's
    signature pass. The scale tier stays on xxhash64 hash-combining;
    this tier is for cross-engine verification and for pipelines that
    need hash-stable signatures across heterogeneous engines.
    """
    df = repartition_for_compute(df)
    # tokens staged before the shingle lambda — see the OPH tier note
    flat = explode_nonempty(
        df.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__tk")
        ),
        "s",
        F.array_distinct(word_shingles(F.col("__tk"), shingle_n)),
        "id",
    ).select(
        "id",
        F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    return _minhash_min_agg(flat, num_perm)


def _band_buckets(
    signatures: DataFrame, *, num_perm: int, bands: int
) -> DataFrame:
    """(id, band, bucket) relation: one row per document per LSH band.

    The per-band expression batch is ONE parsed selectExpr string —
    same py4j round-trip rationale as ``_minhash_min_agg`` (the
    Column-API form costs ~8 calls per band; profiled r12)."""
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    rows_per_band = num_perm // bands
    band_hashes = ", ".join(
        "xxhash64(concat_ws(',', transform("
        f"slice(signature, {b * rows_per_band + 1}, {rows_per_band}), "
        f"x -> cast(x as string))), {b})"
        for b in range(bands)
    )
    return signatures.selectExpr(
        "id", f"posexplode(array({band_hashes})) as (band, bucket)"
    )


def _band_buckets_portable(
    signatures: DataFrame, *, num_perm: int, bands: int
) -> DataFrame:
    """String-keyed band buckets: the bucket IS the comma-joined band
    slice — zero hash collisions and reproducible in any engine (the
    xxhash64 bucket of ``_band_buckets`` is Spark-only). Slightly wider
    shuffle rows; candidate sets are identical up to xxhash collisions
    (which only ever ADD spurious candidates there)."""
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    rows_per_band = num_perm // bands
    band_keys = ", ".join(
        "concat_ws(',', transform("
        f"slice(signature, {b * rows_per_band + 1}, {rows_per_band}), "
        "x -> cast(x as string)))"
        for b in range(bands)
    )
    return signatures.selectExpr(
        "id", f"posexplode(array({band_keys})) as (band, bucket)"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs: ids sharing ≥1 LSH band bucket.

    Shuffle key is (band_index, band_hash) — a document lands in
    ``bands`` buckets, and only bucket-mates are ever paired.
    """
    bucket_fn = _band_buckets_portable if portable else _band_buckets
    buckets = bucket_fn(signatures, num_perm=num_perm, bands=bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_probe_pairs(
    query_sigs: DataFrame,
    index_sigs: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    portable: bool = False,
) -> DataFrame:
    """ASYMMETRIC candidate generation: for each query document, the
    index documents sharing ≥1 band bucket — the incremental-ingest
    shape ("is this incoming doc a near-dup of anything already in the
    corpus?"). The index bucket relation depends only on the corpus, so
    a real deployment computes it once, persists it partitioned by
    (band, bucket), and each incoming batch probes it with a small
    equi-join instead of re-running the self-join over history.
    Returns (id_a = query id, id_b = index id).
    """
    bucket_fn = _band_buckets_portable if portable else _band_buckets
    q = bucket_fn(query_sigs, num_perm=num_perm, bands=bands).alias("q")
    ix = bucket_fn(index_sigs, num_perm=num_perm, bands=bands).alias("ix")
    return (
        q.join(
            ix,
            (F.col("q.band") == F.col("ix.band"))
            & (F.col("q.bucket") == F.col("ix.bucket")),
        )
        .select(F.col("q.id").alias("id_a"), F.col("ix.id").alias("id_b"))
        .distinct()
    )


def minhash_similarity(pairs: DataFrame, signatures: DataFrame) -> DataFrame:
    """Estimated Jaccard = fraction of matching signature positions."""
    sa = signatures.select(
        F.col("id").alias("id_a"), F.col("signature").alias("sig_a")
    )
    sb = signatures.select(
        F.col("id").alias("id_b"), F.col("signature").alias("sig_b")
    )
    match_frac = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.size("sig_a")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", match_frac.alias("est_jaccard"))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    method: str = "perm",
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs above ``threshold``.

    ``method="perm"`` uses the classic multi-permutation signatures;
    ``method="oph"`` swaps in one-permutation hashing (64× less hash
    arithmetic in the dominant pass — see ``minhash_signatures_oph``).
    Banding and the similarity estimator are identical either way.

    The signature relation feeds three consumers (band buckets + both
    sides of the similarity join); cached, the shingle+min-agg pass runs
    once instead of three times (~40% of end-to-end time at sf0.1).
    """
    if method == "perm":
        sig_fn = minhash_signatures
    elif method == "oph":
        sig_fn = minhash_signatures_oph
    elif method == "portable":
        sig_fn = minhash_signatures_portable
    elif method == "oph_portable":
        sig_fn = functools.partial(minhash_signatures_oph, portable=True)
    else:
        raise ValueError(
            f"unknown method {method!r} (use 'perm', 'oph', 'portable' "
            "or 'oph_portable')"
        )
    portable = method in ("portable", "oph_portable")
    sigs = sig_fn(
        df, id_col, text_col, num_perm=num_perm, shingle_n=shingle_n
    ).transform(tracked_cache)
    cands = lsh_candidate_pairs(
        sigs, num_perm=num_perm, bands=bands, portable=portable
    )
    return minhash_similarity(cands, sigs).filter(
        F.col("est_jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
_SIMHASH_BITS = 48  # signed-long-safe; 4 chunks of 12 bits for banding


def simhash(
    df: DataFrame, id_col: str, text_col: str, *, portable: bool = False
) -> DataFrame:
    """Per-document SimHash fingerprint (token-level, 48-bit).

    bit b of the fingerprint = sign of Σ_tokens (±1 depending on bit b
    of hash(token)). Computed as one explode + one groupBy with 48
    conditional sums — all JVM-side.

    ``portable=True`` swaps xxhash64 for the md5-derived 48-bit hash
    (``conv(substr(md5(tok),1,12),16,10)``) — slower, but reproducible
    in any engine, which is what lets ``simhash_neardup_pairs_portable``
    carry a full DuckDB oracle (same rationale as
    ``minhash_signatures_portable``).
    """
    tok_hash = (
        F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long")
        if portable
        else F.xxhash64("tok")
    )
    df = repartition_for_compute(df)
    toked = explode_nonempty(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        "tok",
        tokens(F.col(text_col)),
        "id",
    ).withColumn("h", tok_hash)
    # the 48 conditional bit sums + fingerprint fold as ONE parsed
    # aggregate expression (the Column-API listcomp + when-chain costs
    # ~13 py4j round trips per bit — same rationale as
    # _minhash_min_agg); arithmetic is identical, so fingerprints are
    # bit-equal to the old form
    fp = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"(CASE WHEN sum((shiftright(h, {b}) & 1) * 2 - 1) > 0 "
            f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
            for b in range(_SIMHASH_BITS)
        )
    ).alias("simhash")
    return toked.groupBy("id").agg(fp)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """All pairs within Hamming ≤ max_hamming of each other.

    Banding: 4 chunks of 12 bits — any pair with ≤3 differing bits
    shares at least one identical chunk (pigeonhole), so the chunk
    join finds every such pair without comparing all pairs.
    """
    fps = simhash(df, id_col, text_col, portable=portable)
    chunks = fps.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 12 * i).bitwiseAND(
                        F.lit(0xFFF)
                    )
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


#: (table_dir) -> (incarnation identity, newest version folded, op
#: tags seen). Repeated ledger asks read only the commits SINCE the
#: last ask — O(delta) per ingest where a per-call log_entries walk
#: would go quadratic over the index's lifetime. Validity is keyed on
#: the v0 INCARNATION identity (table_log.incarnation_identity): a
#: same-path rebuild — at ANY version, even replaying entries
#: byte-identical to the old ones (a manifest entry is file-less, so
#: entry content cannot distinguish incarnations) — must not serve the
#: dead incarnation's ledger and silently skip a real ingest.
_OP_LEDGER_CACHE: dict[str, tuple[tuple, int, set]] = {}

#: maintained-index probe prunes collect the batch's distinct probe
#: keys (bucket values; candidate-pair ids) to plan the published
#: read from the commits' per-file stats. Above this many values the
#: collect is skipped and the read stays unpruned — the saturated
#: regime, where the probe would touch most files anyway. 100k short
#: strings ≈ a few MB on the driver: probe-key-sized by the same
#: standard as the IVF centroids and serve() keysets.
_PROBE_VALUES_CAP = 100_000


def _op_ledger(table_dir: str) -> set:
    from ..sources import table_log as tl

    latest = tl.current_version(table_dir)
    if latest is None:
        # table gone (or rebuilt and not yet at v0): any cached ledger
        # describes a dead incarnation
        _OP_LEDGER_CACHE.pop(table_dir, None)
        return set()
    ident = tl.incarnation_identity(table_dir)
    seen_ident, seen_v, ops = _OP_LEDGER_CACHE.get(
        table_dir, (None, -1, set())
    )
    if seen_ident != ident or seen_v > latest:
        seen_v, ops = -1, set()
    for v in range(seen_v + 1, latest + 1):
        ops.add(tl._read_entry(table_dir, v).get("op"))
    _OP_LEDGER_CACHE[table_dir] = (ident, latest, ops)
    return ops


def maintain_neardup_index(
    spark,
    batch_docs: DataFrame,
    index_dir: str,
    *,
    batch_tag: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.4,
    info: dict | None = None,
) -> bool:
    """Append-only MAINTAINED MinHash-LSH index over a growing corpus
    — the incremental form of ``minhash_dedup_pairs``: signatures are
    computed once per document EVER, and each increment pays only its
    own signature pass plus bucket-collision joins, never a re-shingle
    or re-band of history (the reference recomputes everything per
    run; ``lsh_probe_pairs`` probes but persists nothing).

    Three versioned table-log tables under ``index_dir``, published
    through ONE cross-table MANIFEST (``index_dir/manifest`` — a
    data-file-less table log whose commits pin the member tables'
    versions; ``sources/table_log.manifest_publish``):

    - ``signatures`` — (id, signature): one row per document ever
    - ``buckets`` — (id, band, bucket): the persisted LSH index; at
      scale this is the relation a deployment partitions by
      (band, bucket) so increments prune to colliding buckets
    - ``pairs`` — (id_a, id_b, est_jaccard, found_in_batch):
      ``id_a < id_b``; each qualifying pair appended exactly once, in
      the increment its manifest-LATER member arrives (new-vs-history
      and new-vs-new candidates both come from the batch's buckets
      probing the published index ∪ the batch, so the union over
      increments equals the from-scratch pair set — banding is static
      per document).

    Uses the PORTABLE (md5) tier so the maintained result is
    value-checkable against the same DuckDB oracle as the from-scratch
    query.

    Atomicity, idempotence, concurrency — all carried by the manifest
    (this replaces round 10's per-table op ledgers, the sigs→buckets→
    pairs-last append ordering rule, and the pair-level anti-join,
    whose crash-interleave reasoning took three review passes to get
    right):

    - the batch's three appends create UNPUBLISHED versions; chain
      readers (``read_neardup_index``) resolve through the manifest's
      published version lists, so a crash anywhere before the publish
      leaves danglers no reader ever sees, and the batch simply
      reruns whole (its op tag never reached the manifest — the ONE
      idempotence ledger). Returns False when the manifest already
      carries the tag.
    - the publish is PINNED to the manifest version the derivation
      read: two LIVE concurrent batches race on the manifest, the
      loser gets ``ConcurrentCommitError`` and re-derives against the
      refreshed corpus (which now includes the winner's docs) — every
      cross pair is discovered by exactly one publisher, no loss, no
      duplicates, by construction rather than by anti-join.
    - re-ingesting an already-published document id under a NEW
      ``batch_tag`` raises ``ValueError`` before anything lands
      (duplicate signature rows would multiply pair rows through the
      similarity join); a crash rerun must reuse the original tag —
      and a batch carrying the same id TWICE fails the same way
      before its first append, independent of history.

    Published-read pruning: each batch's member files are range-
    clustered (signatures on id, buckets on bucket) with [min, max]
    committed per file, so the increment's probes plan from the log —
    the clash guard opens only signature files intersecting the
    batch's id range, the bucket-collision probe only files whose
    bucket range meets the batch's bucket set, and the similarity
    join only signature files holding candidate-pair ids (candidate-
    sized, never corpus-sized). Pass ``info={}`` to get the pruning
    evidence back (``*_files_scanned`` / ``*_files_total``; -1 =
    prune skipped above ``_PROBE_VALUES_CAP``). Pre-pruning chains
    (no committed stats) stay correct: stats-less files are always
    kept.

    Danglers (a crashed batch's partial appends, a publish-race
    loser's stale pairs) are invisible but accrete on disk;
    ``table_log.manifest_vacuum`` is the reclamation path.
    """
    import os

    from ..sources import table_log as tl

    op = f"neardup-batch-{batch_tag}"
    man_dir = os.path.join(index_dir, "manifest")
    sig_dir = os.path.join(index_dir, "signatures")
    bkt_dir = os.path.join(index_dir, "buckets")
    pairs_dir = os.path.join(index_dir, "pairs")

    if op in _op_ledger(man_dir):
        return False

    if tl.current_version(man_dir) is None:
        # The manifest is born BEFORE the chain's first appends (an
        # empty 'manifest-init' commit), so its absence over populated
        # member tables is unambiguous: a PRE-MANIFEST (or foreign)
        # index, whose history this protocol cannot see. Proceeding
        # would treat the corpus as empty — cross pairs against all
        # existing documents silently never discovered, the clash
        # guard blind. Fail loudly instead. (A crash between init and
        # the first publish leaves the manifest present and the rerun
        # repairs normally; only a truly manifest-less populated chain
        # lands here.)
        for d in (sig_dir, bkt_dir, pairs_dir):
            if tl.current_version(d) is not None:
                raise ValueError(
                    f"maintain_neardup_index: {d} is populated but "
                    f"{man_dir} has no manifest — this index predates "
                    "(or was built outside) the manifest protocol, and "
                    "its history would be silently ignored. Rebuild "
                    "the index from the raw documents, or drop the "
                    "member tables."
                )
        # manifest_init embeds a fresh incarnation token in v0 so the
        # O(delta) caches keyed on incarnation_identity can tell two
        # same-path rebuilds apart by CONTENT (the stat triple alone
        # can collide: byte-identical v0s never differ in size, and
        # inode+mtime reuse is possible on a rapid rebuild)
        tl.manifest_init(man_dir)

    # a batch carrying the SAME doc id twice must fail BEFORE anything
    # lands: the signature pass groupBy(id)-collapses the duplicates,
    # silently MERGING two documents' shingle sets into one bogus
    # signature — corrupted similarity estimates rather than a loud
    # error. The published-history clash guard cannot see it (and is
    # skipped entirely on the chain's first batch), so validate the
    # batch against ITSELF, on the raw rows, independent of history
    dup = (
        batch_docs.groupBy(F.col(id_col))
        .count()
        .filter(F.col("count") > 1)
        .take(1)
    )
    if dup:
        raise ValueError(
            f"maintain_neardup_index: batch '{batch_tag}' contains "
            f"document id {dup[0][0]!r} more than once — the signature "
            "pass would silently merge the duplicates' shingles into "
            "one corrupted signature. Deduplicate the batch "
            "(exact_dedup) before ingesting."
        )
    sigs_b = minhash_signatures_portable(
        batch_docs, id_col, text_col, num_perm=num_perm
    ).transform(tracked_cache)
    n_docs = sigs_b.count()
    buckets_b = _band_buckets_portable(
        sigs_b, num_perm=num_perm, bands=bands
    ).transform(tracked_cache)
    # probe keys for the published-index prune: the batch's distinct
    # bucket values (and, for the clash guard, its id range). Driver-
    # sized by design ONLY for trickle-to-moderate batches — above the
    # cap the collect is skipped and the probe reads stay unpruned
    # (the saturated regime, where the probe touches most files
    # anyway). Memoized, computed only when published history exists —
    # a chain's SEED batch (no history, often its largest) must not
    # pay a probe-key collect it can never use.
    _probe_memo: dict = {}

    def _bkt_probe() -> list | None:
        if "bkt" not in _probe_memo:
            rows = (
                buckets_b.select("bucket")
                .distinct()
                .limit(_PROBE_VALUES_CAP + 1)
                .collect()
            )
            _probe_memo["bkt"] = (
                [r[0] for r in rows]
                if len(rows) <= _PROBE_VALUES_CAP
                else None
            )
        return _probe_memo["bkt"]

    def _id_range() -> tuple:
        if "ids" not in _probe_memo:
            _probe_memo["ids"] = tuple(
                sigs_b.agg(F.min("id"), F.max("id")).first()
            )
        return _probe_memo["ids"]
    # each version's files are range-clustered on the probe column at
    # write time (and their [min, max] committed via stats_cols) so
    # read_published_pruned has ranges narrow enough to have teeth —
    # hash-distributed values sprayed across every file prune nothing
    sig_files = max(1, min(16, n_docs // 20_000 + 1))
    bkt_files = max(1, min(32, n_docs * bands // 100_000 + 1))
    sigs_w = sigs_b.repartitionByRange(sig_files, "id")
    buckets_w = buckets_b.repartitionByRange(bkt_files, "bucket")

    appended: dict[str, int] | None = None  # sigs/buckets land once
    for attempt in range(5):
        base = tl.current_version(man_dir)
        # re-check the ledger against the refreshed manifest: two
        # concurrent ingests of the SAME tag (a crashed batch racing
        # its own retry) both pass the pre-loop check, but the loser
        # of the publish race must see the winner's tag here and
        # no-op rather than publish the batch twice
        if op in _op_ledger(man_dir):
            return False
        pub = tl.manifest_published(man_dir, upto=base)
        sig_vs = pub.get("signatures", [])
        if sig_vs and n_docs:
            # fail LOUDLY on re-ingest of already-published ids under
            # a new batch_tag — a crash rerun of THIS batch never gets
            # here with published duplicates (its tag short-circuits
            # above), so any overlap is a genuinely foreign re-ingest.
            # The history read is PRUNED to the batch's id range from
            # the commits' per-file stats: any clash id lies inside
            # [id_lo, id_hi] by definition, so files outside it can
            # never witness one — with monotonic-ish ingest ids this
            # opens O(1) files instead of the corpus
            id_lo, id_hi = _id_range()
            clash_hist, ck, ct = tl.read_published_pruned(
                spark, sig_dir, sig_vs, "id", lo=id_lo, hi=id_hi
            )
            if info is not None:
                info["clash_sig_files_scanned"] = ck
                info["sig_files_total"] = ct
            clash = (
                clash_hist.select("id")
                .join(F.broadcast(sigs_b.select("id")), "id", "semi")
                .take(1)
            )
            if clash:
                raise ValueError(
                    f"maintain_neardup_index: batch '{batch_tag}' "
                    f"contains document id {clash[0][0]!r} already "
                    f"published in {sig_dir} — re-ingesting an indexed "
                    "document would duplicate its signature and "
                    "multiply pair rows. Ingest only new documents (a "
                    "crash rerun must reuse the original batch_tag)."
                )
            # the bucket-collision probe only needs history rows whose
            # bucket VALUE appears in the batch — prune the published
            # read to the batch's bucket set (superset per kept file;
            # the equi-join is the residual). Unpruned above the
            # probe-cap (saturated batches touch most files anyway).
            bkt_vs = pub.get("buckets", [])
            bkt_probe = _bkt_probe()
            if bkt_probe is not None:
                hist_bkts, bk, bt = tl.read_published_pruned(
                    spark, bkt_dir, bkt_vs, "bucket", values=bkt_probe
                )
            else:
                hist_bkts = tl.read_published(spark, bkt_dir, bkt_vs)
                bk = bt = -1
            if info is not None:
                info["bkt_files_scanned"] = bk
                info["bkt_files_total"] = bt
            all_bkts = hist_bkts.unionByName(buckets_b)
            have_hist = True
        else:
            have_hist = False
            all_bkts = buckets_b
        # probe side = the BATCH's buckets; build side = the PUBLISHED
        # index plus the batch itself (new-vs-history and new-vs-new
        # in one join); at scale the build side partitions by
        # (band, bucket) so the probe prunes to colliding buckets
        a, b = buckets_b.alias("a"), all_bkts.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least("a.id", "b.id").alias("id_a"),
                F.greatest("a.id", "b.id").alias("id_b"),
            )
            .distinct()
            .transform(tracked_cache)  # reused: id collect + similarity
        )
        if have_hist:
            # the similarity join needs history signatures ONLY for
            # ids that appear in a candidate pair (bucket-mates of the
            # batch) — a candidate-sized set, NOT the corpus. Prune
            # the published signatures read to those ids; above the
            # cap fall back to the full published read
            cand_ids = (
                cands.select(F.col("id_a").alias("id"))
                .unionByName(cands.select(F.col("id_b").alias("id")))
                .distinct()
                .limit(_PROBE_VALUES_CAP + 1)
                .collect()
            )
            if len(cand_ids) <= _PROBE_VALUES_CAP:
                sigs_hist, sk, st = tl.read_published_pruned(
                    spark, sig_dir, sig_vs, "id",
                    values=[r[0] for r in cand_ids],
                )
            else:
                sigs_hist, sk = tl.read_published(spark, sig_dir, sig_vs), -1
            if info is not None:
                info["sim_sig_files_scanned"] = sk
            sigs_all = sigs_hist.select("id", "signature").unionByName(
                sigs_b.select("id", "signature")
            )
        else:
            sigs_all = sigs_b
        pairs_b = (
            minhash_similarity(cands, sigs_all)
            .filter(F.col("est_jaccard") >= threshold)
            .withColumn("found_in_batch", F.lit(batch_tag))
        )
        if appended is None:
            # signatures and buckets are derivation-INDEPENDENT (pure
            # functions of the batch), so they append exactly once —
            # only the pairs relation depends on the manifest snapshot
            # and must re-derive per publish attempt
            appended = {
                "signatures": tl.append(
                    sigs_w, sig_dir, op=op, stats_cols=["id"]
                ),
                "buckets": tl.append(
                    buckets_w, bkt_dir, op=op, stats_cols=["bucket"]
                ),
            }
        versions = {
            **appended,
            "pairs": tl.append(pairs_b, pairs_dir, op=op),
        }
        try:
            tl.manifest_publish(man_dir, versions, op=op, base_version=base)
            return True
        except tl.ConcurrentCommitError:
            # another batch published while this one derived: its docs
            # are now corpus — re-derive so the cross pairs land here
            # (this attempt's pairs append dangles, unreferenced by
            # any manifest entry and invisible to chain readers)
            if attempt == 4:
                raise
    raise AssertionError("unreachable")


def read_neardup_index(spark, index_dir: str, table: str):
    """The PUBLISHED rows of one maintained-index member table — the
    chain's read path: resolves ``table`` ('signatures' | 'buckets' |
    'pairs') through the manifest, so versions a crashed or racing
    batch appended but never published are invisible. Returns None
    when the manifest has published nothing for the table (an
    unseeded chain)."""
    import os

    from ..sources import table_log as tl

    pub = tl.manifest_published(os.path.join(index_dir, "manifest"))
    versions = pub.get(table, [])
    if not versions:
        return None
    return tl.read_published(
        spark, os.path.join(index_dir, table), versions
    )


def chain_maintenance_due(
    index_dir: str,
    *,
    grace_seconds: float | None = None,
    min_bytes: int = 0,
) -> dict:
    """The POLLABLE maintenance signal for the maintained chain — the
    exact role ``operators.colocated.maintenance_due`` plays for
    ``compact``: orchestration polls this between ingests and runs
    ``chain_maintenance`` only when it says so, instead of sweeping
    blind on a timer. Due when ANY member table holds danglers
    (unpublished data-adding versions — crashed batches, losing sides
    of publish races) aged past the vacuum grace window (younger
    danglers are presumed in-flight; sweeping them is exactly what
    the grace window exists to prevent) whose SWEEP-ELIGIBLE bytes —
    only the past-grace subset, never an in-flight batch's — clear
    ``min_bytes`` (0 = any). Returns
    ``{"due", "eligible", "tables"}`` with the full per-member
    ``dangling_report`` so the caller can log WHY."""
    import os

    from ..sources import table_log as tl

    grace = (
        tl.VACUUM_GRACE_SECONDS if grace_seconds is None else grace_seconds
    )
    man = os.path.join(index_dir, "manifest")
    tables = {
        t: os.path.join(index_dir, t)
        for t in ("signatures", "buckets", "pairs")
    }
    report = tl.dangling_report(man, tables, grace_seconds=grace)
    eligible = sorted(
        name
        for name, r in report.items()
        # ELIGIBLE files/bytes, not totals: the totals include young
        # in-flight batches the sweep will (correctly) refuse to
        # touch — gating min_bytes on them would fire a sweep that
        # reclaims ~nothing, every tick, until the batch publishes;
        # and a previously swept dangler's log entry (tombstone)
        # holds nothing reclaimable, so it contributes neither
        if r.get("eligible_files", 0) > 0
        and r.get("eligible_bytes", 0) >= min_bytes
    )
    return {"due": bool(eligible), "eligible": eligible, "tables": report}


def chain_maintenance(
    index_dir: str,
    *,
    grace_seconds: float | None = None,
    min_bytes: int = 0,
) -> dict:
    """Poll-then-sweep for the maintained chain: run
    ``manifest_vacuum`` over the index's member tables iff
    ``chain_maintenance_due`` says it pays. The sweep is safe against
    live ingests by the same grace window the due check used, so
    orchestration can schedule this exactly like the serving layer's
    ``maintenance_due -> compact`` loop — periodically, or after a
    burst of ConcurrentCommitError retries. Returns ``{"ran",
    "deleted"}`` (member name -> physically deleted file names when it
    ran).

    Cost note: the due poll and the sweep each walk the member logs
    (two metadata passes per acting tick) — deliberate, not an
    oversight: the sweeper must decide from its OWN fresh view (a
    publish landing between poll and sweep must be seen), and both
    walks are metadata-sized with checkpoint-accelerated manifest
    resolution. Collapsing them would trade crash-safety reasoning
    for one small metadata read."""
    import os

    from ..sources import table_log as tl

    due = chain_maintenance_due(
        index_dir, grace_seconds=grace_seconds, min_bytes=min_bytes
    )
    if not due["due"]:
        return {"ran": False, "deleted": {}}
    grace = (
        tl.VACUUM_GRACE_SECONDS if grace_seconds is None else grace_seconds
    )
    man = os.path.join(index_dir, "manifest")
    tables = {
        t: os.path.join(index_dir, t) for t in due["eligible"]
    }
    deleted = tl.manifest_vacuum(man, tables, grace_seconds=grace)
    return {"ran": True, "deleted": deleted}
