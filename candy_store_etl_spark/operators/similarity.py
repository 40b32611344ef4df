"""Similarity search over embedding columns (array<float>).

Two execution tiers:

- **blockwise brute force** (the exact baseline): ``mapInPandas``
  computes cosine against the query for each Arrow batch with one
  numpy matmul, keeps a per-batch top-k, and a final tiny
  ``orderBy().limit(k)`` merges partials. At 100 TB this is a single
  scan + a k-row-per-partition reduction — no shuffle of the vectors
  themselves.
- **random-hyperplane LSH** (the approximate scale path): a seeded
  hyperplane matrix assigns every vector a bucket id; the query probes
  its own bucket plus all Hamming-1 neighbors and reranks candidates
  exactly. Candidate generation is a bucket equi-join — the classic
  sublinear ANN layout.

Expression-based cosine (functions/vectors.py) stays available for
oracle-checkable plans; the numpy paths here are the throughput tier.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_cache
from ..sources.footer_stats import keep_file
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def _as_unit(vec: Sequence[float]) -> np.ndarray:
    q = np.asarray(vec, dtype=np.float64)
    n = np.linalg.norm(q)
    if n == 0:
        raise ValueError("query vector has zero norm")
    return q / n


def cosine_topk_blockwise(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity, vectorized per Arrow batch."""
    from ..sources.tpch import repartition_for_compute

    # a single-split scan would run the matmul on one core (see
    # repartition_for_compute); partial top-k per partition keeps the
    # result partition-count-invariant
    emb = repartition_for_compute(emb)
    q = _as_unit(query)
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("cosine_sim", DoubleType(), False),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sims = (mat @ q) / norms
            top = np.argsort(-sims, kind="stable")[:k]
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[top], "cosine_sim": sims[top]}
            )

    partials = emb.select(id_col, vec_col).mapInPandas(scan, out_schema)
    return partials.orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    ).limit(k)


def cosine_topk_arrow(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via ``mapInArrow`` — the zero-copy tier below
    mapInPandas: RecordBatches go straight from the JVM to numpy with
    no pandas Series materialization, which matters when the batch is
    dominated by a wide array column. Results are identical to
    ``cosine_topk_blockwise`` (pinned in tests)."""
    import pyarrow as pa

    from ..sources.tpch import repartition_for_compute

    emb = repartition_for_compute(emb)  # see cosine_topk_blockwise
    q = _as_unit(query)
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("cosine_sim", DoubleType(), False),
        ]
    )

    def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            arr = batch.column(1)
            # ListArray → (n, dim) without per-row python objects
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            mat = flat.reshape(len(ids), -1).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sims = (mat @ q) / norms
            top = np.argsort(-sims, kind="stable")[:k]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[top]), pa.array(sims[top])],
                names=[id_col, "cosine_sim"],
            )

    partials = emb.select(id_col, vec_col).mapInArrow(scan, out_schema)
    return partials.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def hyperplane_planes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (unit rows)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    return planes / np.linalg.norm(planes, axis=1, keepdims=True)


def lsh_bucket_ids(
    emb: DataFrame,
    planes: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its hyperplane-sign bucket id."""
    p = planes.astype(np.float64)
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("bucket", LongType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(p.shape[0], dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (mat @ p.T) > 0
            buckets = (bits.astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "bucket": buckets})

    return emb.select(id_col, vec_col).mapInPandas(assign, out_schema)


def lsh_signature_chunks(
    emb: DataFrame,
    planes: np.ndarray,
    *,
    n_chunks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, chunk_idx, chunk_val) — the hyperplane sign signature split
    into ``n_chunks`` bands for SimHash-style banding. One Arrow batch
    pass; ``n_chunks`` output rows per vector."""
    p = planes.astype(np.float64)
    n_planes = p.shape[0]
    if n_planes % n_chunks:
        raise ValueError(f"n_chunks={n_chunks} must divide n_planes={n_planes}")
    bits_per = n_planes // n_chunks
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("chunk_idx", IntegerType(), False),
            StructField("chunk_val", LongType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(bits_per, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = ((mat @ p.T) > 0).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            frames = []
            for c in range(n_chunks):
                vals = (
                    bits[:, c * bits_per : (c + 1) * bits_per] * weights
                ).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {id_col: ids, "chunk_idx": c, "chunk_val": vals}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return emb.select(id_col, vec_col).mapInPandas(assign, out_schema)


def embedding_neardup_pairs_lsh(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_planes: int = 16,
    n_chunks: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """All-pairs embedding near-dup WITHOUT the quadratic join — the
    scale path behind the exact ``embedding_neardup_pairs`` query.

    Band the hyperplane sign signature (``n_planes`` bits split into
    ``n_chunks`` bands); vectors sharing any band become candidates via
    an equi-join on (band, value) — the only shuffle, keyed evenly by
    signature bits. Candidates are rescored with the exact JVM-side
    cosine and filtered, so every emitted pair truly clears
    ``threshold`` (precision is exact by construction); recall is the
    banding collision probability ``1-(1-(1-θ/π)^(planes/chunks))^chunks``
    — ≥95% for cosine ≥0.9 at the defaults, pinned against the exact
    all-pairs ground truth in tests/test_similarity.
    """
    from ..functions.vectors import cosine_similarity, to_double_array

    if dim is None:
        first = emb.select(vec_col).first()
        if first is None:
            return emb.sparkSession.createDataFrame(
                [], f"id_a long, id_b long, cosine_sim double"
            )
        dim = len(first[0])
    planes = hyperplane_planes(dim, n_planes, seed)
    sig = lsh_signature_chunks(
        emb, planes, n_chunks=n_chunks, id_col=id_col, vec_col=vec_col
    )
    a = sig.select(F.col(id_col).alias("id_a"), "chunk_idx", "chunk_val")
    b = sig.select(F.col(id_col).alias("id_b"), "chunk_idx", "chunk_val")
    cand = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = emb.select(
        F.col(id_col).alias("__vid"), to_double_array(F.col(vec_col)).alias("__v")
    )
    sim = cosine_similarity(F.col("va"), F.col("vb"))
    from ..functions.rounding import fround

    return (
        cand.join(vecs.withColumnsRenamed({"__vid": "id_a", "__v": "va"}), "id_a")
        .join(vecs.withColumnsRenamed({"__vid": "id_b", "__v": "vb"}), "id_b")
        .filter(sim >= threshold)
        # shared floor-based round-half-up, not engine-native round:
        # bit-identical to the DuckDB oracle at representation
        # boundaries
        .select("id_a", "id_b", fround(sim, 6).alias("cosine_sim"))
    )


def query_probe_buckets(query: Sequence[float], planes: np.ndarray) -> list[int]:
    """Query bucket + all Hamming-1 neighbors (multi-probe)."""
    return query_probe_buckets_radius(query, planes, 1)


def query_probe_buckets_radius(
    query: Sequence[float], planes: np.ndarray, radius: int
) -> list[int]:
    """All buckets within Hamming distance <= ``radius`` of the
    query's bucket — the multi-probe LSH probe set (Lv et al.,
    "Multi-Probe LSH", VLDB 2007: probing near-miss buckets of ONE
    table substitutes for building more tables). radius 0 = the exact
    bucket; 1 adds the n single-bit flips; 2 adds the n(n-1)/2
    double flips. Distinct masks give distinct bucket ids, so the
    probe count is exactly sum of binomials C(n, 0..radius)."""
    if not 0 <= radius <= 2:
        raise ValueError(f"radius must be 0, 1, or 2 (got {radius})")
    q = np.asarray(query, dtype=np.float64)
    bits = (planes.astype(np.float64) @ q) > 0
    weights = 1 << np.arange(planes.shape[0], dtype=np.int64)
    base = int((bits.astype(np.int64) * weights).sum())
    n = planes.shape[0]
    probes = [base]
    if radius >= 1:
        probes += [base ^ (1 << i) for i in range(n)]
    if radius >= 2:
        probes += [
            base ^ (1 << i) ^ (1 << j)
            for i in range(n)
            for j in range(i + 1, n)
        ]
    return probes


def query_probe_sequence(
    margins: Sequence[int], n_planes: int, n_probes: int, base: int
) -> list[int]:
    """QUERY-DIRECTED multi-probe order (the actual Lv et al. VLDB'07
    refinement over the plain Hamming ball): flipping plane ``i``
    costs the query's quantized |margin| against that hyperplane — a
    bit the query barely cleared is cheap to flip (the true neighbors
    plausibly sit just across it), a bit cleared by a wide margin is
    expensive. Probe buckets in increasing total flip cost over the
    masks of popcount <= 2, tie-broken by mask value (a total order
    both engines replay exactly — ``margins`` are integers). Returns
    the ``n_probes`` cheapest buckets; cost 0 is always the base
    bucket, so the sequence extends the exact lookup."""
    masks: list[tuple[int, int]] = [(0, 0)]
    masks += [(margins[i], 1 << i) for i in range(n_planes)]
    masks += [
        (margins[i] + margins[j], (1 << i) | (1 << j))
        for i in range(n_planes)
        for j in range(i + 1, n_planes)
    ]
    masks.sort()
    return [base ^ m for _, m in masks[:n_probes]]


def cosine_topk_lsh_multiprobe(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    radius: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k with a RADIUS knob: LSH bucket prefilter over
    the Hamming-<=radius probe set + exact rerank. The radius is the
    query-time recall/scan trade (index untouched): radius 0 scans
    ~1/2^n of the corpus, radius 2 scans ~(1+n+C(n,2))/2^n — the
    serving knob `ann_recall_lsh_sweep` makes measurable."""
    first = emb.select(vec_col).first()
    if first is None:
        return cosine_topk_blockwise(
            emb, query, k, id_col=id_col, vec_col=vec_col
        )
    dim = len(first[0])
    planes = hyperplane_planes(dim, n_planes=n_planes, seed=seed)
    buckets = lsh_bucket_ids(emb, planes, id_col=id_col, vec_col=vec_col)
    probes = query_probe_buckets_radius(query, planes, radius)
    candidate_ids = buckets.filter(F.col("bucket").isin(probes)).select(id_col)
    candidates = emb.join(candidate_ids, on=id_col, how="left_semi")
    return cosine_topk_blockwise(
        candidates, query, k, id_col=id_col, vec_col=vec_col
    )


def _centroid_seeds(
    emb: DataFrame, n_centroids: int, *, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic seed centroids: the n lowest-id vectors spaced by
    a modulus — no RNG, stable across runs and engines.

    The modulus filter assumes a reasonably dense id space; with sparse
    or offset ids it can select too few rows, so it falls back to the
    n lowest-id vectors (a TakeOrderedAndProject, still cheap and
    deterministic) whenever the spaced selection comes up short.
    """
    n_rows = emb.count()
    stride = max(1, n_rows // n_centroids)
    seeds = (
        emb.filter(F.col(id_col) % stride == 0)
        .orderBy(id_col)
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    if len(seeds) < n_centroids:
        seeds = (
            emb.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
        )
    if not seeds:
        raise ValueError("cannot seed IVF centroids from an empty table")
    mat = np.asarray([r[0] for r in seeds], dtype=np.float64)
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def ivf_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid (by cosine) list id per vector — one numpy
    matmul per Arrow batch, no shuffle."""
    c = centroids.astype(np.float64)
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("list_id", LongType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            lists = np.argmax(mat @ c.T, axis=1).astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "list_id": lists})

    return emb.select(id_col, vec_col).mapInPandas(assign, out_schema)


def ivf_train(
    emb: DataFrame,
    n_centroids: int = 16,
    *,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Distributed Lloyd refinement of the deterministic seeds.

    Each iteration: assign (mapInPandas matmul) → mean per (list, dim)
    via posexplode + groupBy — the only driver-sized materialization is
    the k×dim centroid matrix itself.
    """
    cents = _centroid_seeds(emb, n_centroids, id_col=id_col, vec_col=vec_col)
    for _ in range(iterations):
        assigned = ivf_assign(emb, cents, id_col=id_col, vec_col=vec_col)
        sums = (
            emb.join(assigned, id_col)
            .select("list_id", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("list_id", "pos")
            .agg(F.sum(F.col("v").cast("double")).alias("s"), F.count("v").alias("n"))
            .collect()
        )
        new = cents.copy()
        acc: dict[int, np.ndarray] = {}
        cnt: dict[int, int] = {}
        for r in sums:
            acc.setdefault(r.list_id, np.zeros(cents.shape[1]))[r.pos] = r.s
            cnt[r.list_id] = r.n
        for lid, vec in acc.items():
            if cnt.get(lid, 0) > 0:
                new[lid] = vec / cnt[lid]
        norms = np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        cents = new / norms
    return cents


def cosine_topk_ivf(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """IVF ANN: partition vectors into coarse centroid lists, search
    only the query's ``n_probe`` nearest lists, rerank exactly.

    The scale shape: centroid training touches each vector twice,
    assignment is an embarrassingly parallel matmul, and every query
    after that scans ~``n_probe/n_centroids`` of the data. The inverted
    lists would be persisted (partitioned by ``list_id``) in a real
    deployment so queries prune partitions instead of re-assigning.
    """
    first = emb.select(vec_col).first()
    if first is None:
        return cosine_topk_blockwise(emb, query, k, id_col=id_col, vec_col=vec_col)
    cents = ivf_train(
        emb,
        n_centroids,
        iterations=iterations,
        id_col=id_col,
        vec_col=vec_col,
    )
    q = _as_unit(query)
    probes = np.argsort(-(cents @ q), kind="stable")[:n_probe].tolist()
    assigned = ivf_assign(emb, cents, id_col=id_col, vec_col=vec_col)
    candidate_ids = assigned.filter(
        F.col("list_id").isin([int(p) for p in probes])
    ).select(id_col)
    candidates = emb.join(candidate_ids, on=id_col, how="left_semi")
    return cosine_topk_blockwise(candidates, query, k, id_col=id_col, vec_col=vec_col)


def ivf_build_index(
    emb: DataFrame,
    path: str,
    *,
    n_centroids: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Persist an IVF index: vectors partitioned by inverted list.

    This is the deployment shape the in-memory ``cosine_topk_ivf``
    docstring promises: train the coarse quantizer once, then write the
    vectors PARTITIONED BY ``list_id`` so that every query afterwards
    scans only its probed lists via partition PRUNING — the scan never
    touches the other ``(n_centroids - n_probe)/n_centroids`` of the
    data (pinned by a PartitionFilters plan assertion in tests).
    Centroids ride along as a tiny parquet relation (k×dim rows).
    """
    import os

    cents = ivf_train(
        emb,
        n_centroids,
        iterations=iterations,
        id_col=id_col,
        vec_col=vec_col,
    )
    assigned = ivf_assign(emb, cents, id_col=id_col, vec_col=vec_col)
    (
        emb.join(assigned, id_col)
        .write.partitionBy("list_id")
        .mode("overwrite")
        .parquet(os.path.join(path, "vectors"))
    )
    spark = emb.sparkSession
    cent_rows = [
        (int(i), [float(x) for x in cents[i]]) for i in range(len(cents))
    ]
    (
        spark.createDataFrame(cent_rows, "list_id long, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(path, "centroids"))
    )
    return cents


def ivf_query_index(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    *,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a persisted IVF index — reads ONLY the probed lists.

    The ``list_id IN (...)`` filter is a partition predicate, so Spark
    prunes unprobed list directories at planning time; the exact rerank
    then runs ``cosine_topk_blockwise`` over the surviving fraction.
    """
    import os

    cent_rows = (
        spark.read.parquet(os.path.join(path, "centroids"))
        .orderBy("list_id")
        .collect()
    )
    cents = np.asarray([r.centroid for r in cent_rows], dtype=np.float64)
    q = _as_unit(query)
    probes = np.argsort(-(cents @ q), kind="stable")[:n_probe].tolist()
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    candidates = vectors.filter(
        F.col("list_id").isin([int(p) for p in probes])
    )
    return cosine_topk_blockwise(
        candidates, query, k, id_col=id_col, vec_col=vec_col
    )


def cosine_topk_lsh(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: LSH bucket prefilter + exact rerank.

    The filter keeps only vectors in the query's probe buckets, so the
    exact cosine runs over a small candidate set; recall grows with
    multi-probing and shrinks with n_planes.
    """
    first = emb.select(vec_col).first()
    if first is None:
        return cosine_topk_blockwise(emb, query, k, id_col=id_col, vec_col=vec_col)
    dim = len(first[0])
    planes = hyperplane_planes(dim, n_planes=n_planes, seed=seed)
    buckets = lsh_bucket_ids(emb, planes, id_col=id_col, vec_col=vec_col)
    probes = query_probe_buckets(query, planes)
    candidate_ids = buckets.filter(F.col("bucket").isin(probes)).select(id_col)
    candidates = emb.join(candidate_ids, on=id_col, how="left_semi")
    return cosine_topk_blockwise(
        candidates, query, k, id_col=id_col, vec_col=vec_col
    )


def cosine_topk_lsh_directed(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_probes: int = 8,
    seed: int = 42,
    probes: list[int] | None = None,
) -> DataFrame:
    """Approximate top-k with a PROBE BUDGET instead of a radius: the
    ``n_probes`` cheapest buckets in the query's margin-directed
    sequence are scanned, then exact-rerank — the serving shape where
    scan cost is fixed per query and recall is whatever the margins
    buy (measured by `ann_recall_lsh_directed`). ``probes`` overrides
    the probe set when the caller computed margins elsewhere (e.g.
    the fold-exact path the oracled queries use); the default derives
    them with numpy, fine for serving."""
    first = emb.select(vec_col).first()
    if first is None:
        return cosine_topk_blockwise(
            emb, query, k, id_col=id_col, vec_col=vec_col
        )
    dim = len(first[0])
    planes = hyperplane_planes(dim, n_planes=n_planes, seed=seed)
    if probes is None:
        q = np.asarray(query, dtype=np.float64)
        ms = planes.astype(np.float64) @ q
        base = int(
            ((ms > 0).astype(np.int64) << np.arange(n_planes)).sum()
        )
        margins = [int(np.floor(abs(m) * 1_000_000.0 + 0.5)) for m in ms]
        probes = query_probe_sequence(margins, n_planes, n_probes, base)
    buckets = lsh_bucket_ids(emb, planes, id_col=id_col, vec_col=vec_col)
    candidate_ids = buckets.filter(F.col("bucket").isin(probes)).select(id_col)
    candidates = emb.join(candidate_ids, on=id_col, how="left_semi")
    return cosine_topk_blockwise(
        candidates, query, k, id_col=id_col, vec_col=vec_col
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ)
# ---------------------------------------------------------------------------
#
# Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011): split the D-dim space into M subspaces, k-means
# each independently, and represent every vector by its M codeword ids
# — D floats become M small ints (32x compression at D=64, M=8,
# float32). Queries score candidates with an Asymmetric Distance
# Computation: a tiny M x K lookup table of query-subvector -- codeword
# dot products, summed per vector over its codes. At 100 TB the scan
# that matters touches ONLY the code column (M bytes/vector) plus a
# literal LUT inside codegen; raw vectors are read again just for the
# exact rerank of the top candidate buffer.


def _normalized(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, unit-norm double vector) — staged so every consumer shares
    one normalization pass (cosine == dot on unit vectors)."""
    from ..functions.vectors import l2_norm, to_double_array

    staged = emb.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    ).withColumn("n", l2_norm(F.col("v")))
    return staged.select(
        "id",
        F.transform(
            "v", lambda x: x / F.greatest(F.col("n"), F.lit(1e-12))
        ).alias("v"),
    )


def pq_encode(
    emb_n: DataFrame, codebooks: np.ndarray
) -> DataFrame:
    """(id, codes array<int>): nearest codeword per subspace (L2).

    One numpy pass per Arrow batch — reshape to (n, M, d_sub), one
    distance matrix per subspace against K codewords. No shuffle.
    """
    books = codebooks.astype(np.float64)  # (M, K, d_sub)
    m_sub, _, d_sub = books.shape
    sq_norms = (books**2).sum(axis=2)  # (M, K)
    out_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("codes", ArrayType(IntegerType(), False), False),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            sub = mat.reshape(len(pdf), m_sub, d_sub)
            codes = np.empty((len(pdf), m_sub), dtype=np.int32)
            for m in range(m_sub):
                # argmin ||x - c||^2 == argmin (|c|^2 - 2 x.c)
                scores = sq_norms[m] - 2.0 * (sub[:, m, :] @ books[m].T)
                codes[:, m] = np.argmin(scores, axis=1)
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    return emb_n.mapInPandas(encode, out_schema)


def pq_train(
    emb: DataFrame,
    *,
    m_subspaces: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic PQ codebooks (M, K, d_sub).

    Seeds are the spaced lowest-id unit vectors (same deterministic
    policy as IVF — no RNG); each Lloyd iteration refines ALL M
    subspaces in one distributed pass: encode (mapInPandas), then a
    single posexplode + groupBy computing the (m, code, pos) means.
    Only the M*K*d_sub codebook floats ever reach the driver.
    """
    seeds = _centroid_seeds(emb, n_codes, id_col=id_col, vec_col=vec_col)
    dim = seeds.shape[1]
    if dim % m_subspaces:
        raise ValueError(
            f"m_subspaces={m_subspaces} must divide dim={dim}"
        )
    d_sub = dim // m_subspaces
    books = np.ascontiguousarray(
        seeds.reshape(n_codes, m_subspaces, d_sub).transpose(1, 0, 2)
    )
    emb_n = _normalized(emb, id_col, vec_col).transform(tracked_cache)
    try:
        for _ in range(iterations):
            codes = pq_encode(emb_n, books)
            sums = (
                emb_n.join(codes, "id")
                .select("codes", F.posexplode("v").alias("pos", "x"))
                .select(
                    (F.col("pos") / d_sub).cast("int").alias("m"),
                    F.element_at(
                        "codes", (F.col("pos") / d_sub).cast("int") + 1
                    ).alias("code"),
                    "pos",
                    "x",
                )
                .groupBy("m", "code", "pos")
                .agg(F.sum("x").alias("s"), F.count("x").alias("cnt"))
                .collect()
            )
            new = books.copy()
            counts = np.zeros((m_subspaces, n_codes), dtype=np.int64)
            accum = np.zeros_like(books)
            for r in sums:
                accum[r.m, r.code, r.pos % d_sub] = r.s
                counts[r.m, r.code] = r.cnt
            refined = counts > 0
            new[refined] = accum[refined] / counts[refined, None]
            books = new
    finally:
        emb_n.unpersist()
    return books


def cosine_topk_pq(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    m_subspaces: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
    candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via PQ codes + exact rerank.

    The ADC score is a SUM of M ``element_at`` probes into a literal
    LUT array — plain codegen expressions over the M-int code column;
    the raw vectors are only touched by the final exact rerank of the
    ``candidates``-row buffer. Returns (vec_id, cosine_sim) raw
    doubles, exact for every emitted row.
    """
    from ..functions.vectors import cosine_similarity, to_double_array

    books = pq_train(
        emb,
        m_subspaces=m_subspaces,
        n_codes=n_codes,
        iterations=iterations,
        id_col=id_col,
        vec_col=vec_col,
    )
    qn = _as_unit(query)
    d_sub = books.shape[2]
    lut = np.einsum(
        "mkd,md->mk", books, qn.reshape(m_subspaces, d_sub)
    )  # (M, K) query-subvector . codeword
    lut_lit = F.array(*[F.lit(float(x)) for x in lut.ravel()])
    codes = pq_encode(_normalized(emb, id_col, vec_col), books)
    score = None
    for m in range(m_subspaces):
        term = F.element_at(
            lut_lit, F.lit(m * n_codes) + F.element_at("codes", m + 1) + 1
        )
        score = term if score is None else score + term
    shortlist = (
        codes.select("id", score.alias("adc"))
        .orderBy(F.col("adc").desc(), F.col("id"))
        .limit(candidates)
        .select("id")
    )
    qlit = F.array(*[F.lit(float(x)) for x in np.asarray(query, dtype=np.float64)])
    return (
        emb.join(shortlist, F.col(id_col) == F.col("id"))
        .select(
            F.col(id_col).alias("vec_id"),
            cosine_similarity(to_double_array(vec_col), qlit).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Portable IVF twin: integer-quantized k-means, fully oracle-able
# ---------------------------------------------------------------------------


def _quantized(col: F.Column, scale: float = 1_000_000.0) -> F.Column:
    """array<float> -> array<long> via floor(x*scale + 0.5).

    float->double widening is exact and the floor formula is a single
    sequence of correctly-rounded IEEE ops, so both engines (and a
    driver-side ``math.floor(float(x)*scale + 0.5)``) produce identical
    integers. With |x| <= ~0.53 and 64 dims, dot products stay under
    2^53 — exact in long AND double.
    """
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"),
    )


def _ldot(a: F.Column, b: F.Column) -> F.Column:
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _list_score(q: F.Column, c: F.Column) -> F.Column:
    """Centroid affinity dot(q,c)/|c| — every input integer-exact, the
    division/sqrt single correctly-rounded IEEE ops, so the double is
    bit-identical across engines and partitionings."""
    return _ldot(q, c).cast("double") / F.sqrt(_ldot(c, c).cast("double"))


def _ivf_assign_portable(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-list id per vector: broadcast the k centroids, argmax by
    (score DESC, list_id) — the tie-break makes the argmax total."""
    from pyspark.sql import Window

    scored = corpus.join(F.broadcast(cents)).select(
        "vid",
        "q",
        "list_id",
        _list_score(F.col("q"), F.col("c")).alias("score"),
    )
    w = Window.partitionBy("vid").orderBy(
        F.col("score").desc(), F.col("list_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", "list_id", "q")
    )


def _ivf_train_portable(
    corpus: DataFrame, n_centroids: int, iterations: int
) -> DataFrame:
    """The cross-engine-exact Lloyd loop over a quantized (vid, q)
    corpus: stride-seeded centroids, per-(list, dim) integer means
    with the portable floor-division, argmax assignment with a
    list_id tie-break. Returns (list_id, c). The caller should cache
    ``corpus`` — the loop consumes it ``iterations + 1`` times."""
    from pyspark.sql import Window

    n_rows = corpus.count()
    stride = max(1, n_rows // n_centroids)
    seeds = (
        corpus.filter(F.col("vid") % stride == 0)
        .orderBy("vid")
        .limit(n_centroids)
    )
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("vid")) - 1)
        .cast("long")
        .alias("list_id"),
        F.col("q").alias("c"),
    )
    for _ in range(iterations):
        assigned = _ivf_assign_portable(corpus, cents)
        per_dim = assigned.select(
            "list_id", F.posexplode("q").alias("d", "val")
        )
        means = per_dim.groupBy("list_id", "d").agg(
            # portable floor-division: exact integer sum/count widened to
            # double (both < 2^53), one correctly-rounded divide, floor —
            # identical in Spark and DuckDB regardless of sign (Spark's
            # `div` truncates toward zero, DuckDB's `//` floors, so
            # neither native operator is usable here)
            F.floor(F.sum("val").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cv")
        )
        cents = means.groupBy("list_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "cv"))),
                lambda s: s["cv"],
            ).alias("c")
        )
    return cents


def _rerank_portable(cand: DataFrame, qlit: F.Column, k: int) -> DataFrame:
    """Exact cosine rerank of a (vid, q) candidate relation against
    the quantized query literal, with the (cos DESC, vid) total order
    and the cross-engine floor rounding — the shared tail of every
    portable ANN tier."""
    from pyspark.sql import Window

    cos = _ldot(F.col("q"), qlit).cast("double") / (
        F.sqrt(_ldot(F.col("q"), F.col("q")).cast("double"))
        * F.sqrt(_ldot(qlit, qlit).cast("double"))
    )
    ranked = cand.select("vid", cos.alias("cos")).withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("cos").desc(), F.col("vid").asc())
        ),
    )
    return ranked.filter(F.col("rnk") <= k).select(
        F.col("vid").alias("vec_id"),
        F.col("rnk").cast("int").alias("rnk"),
        (F.floor(F.col("cos") * 1_000_000.0 + F.lit(0.5)) / 1_000_000.0).alias(
            "cosine_sim"
        ),
    )


def cosine_topk_ivf_portable(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """IVF top-k whose ENTIRE training loop is cross-engine exact.

    The throughput tier (``cosine_topk_ivf``) trains float k-means in
    numpy — data-dependent float means are order-sensitive, so that
    tier is rows-only at the gate. This twin quantizes embeddings to
    integer micro-units first: Lloyd means become exact integer sums
    with a portable floor-division, centroid affinities divide
    integer-exact dots by one IEEE sqrt, and every argmax carries a
    list_id tie-break — so DuckDB can replay training, probing, and
    rerank bit-identically (the same fast-tier/portable-twin split as
    minhash xxhash64 vs md5). Same deterministic stride seeding as
    ``_centroid_seeds``.

    Scale shape: per-iteration cost is one broadcast(k×dim) join + one
    (list,dim) grouped sum; vectors shuffle only for the per-vid argmax
    window. The numpy tier + persisted partition-pruned index remain
    the production path; this twin is the correctness anchor.
    """
    from pyspark.sql import Window

    base = emb.select(
        F.col(id_col).alias("vid"), _quantized(F.col(vec_col)).alias("q")
    )
    corpus = base.filter(F.col("vid") != query_id).transform(tracked_cache)
    qrow = base.filter(F.col("vid") == query_id).select("q").first()
    if qrow is None:
        raise ValueError(f"query id {query_id} not found")
    qlit = F.array(*[F.lit(int(v)).cast("long") for v in qrow["q"]])

    cents = _ivf_train_portable(corpus, n_centroids, iterations)

    # the trained 16-row centroid relation feeds probe scoring AND the
    # final assignment — cache it so the unrolled Lloyd training plan
    # executes once, not once per consumer
    cents = cents.transform(tracked_cache)
    probed = (
        cents.select(
            "list_id", _list_score(qlit, F.col("c")).alias("score")
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col("list_id").asc())
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select("list_id")
    )
    final_assign = _ivf_assign_portable(corpus, cents)
    cand = final_assign.join(F.broadcast(probed), "list_id")
    return _rerank_portable(cand, qlit, k)


def ivf_build_index_log(
    emb: DataFrame,
    table_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iterations: int = 2,
    n_files: int = 16,
) -> int:
    """Publish a PORTABLE IVF index as ONE atomic table-log version.

    ``ivf_build_index`` (the numpy/float tier) writes its vectors and
    centroids with two independent ``mode("overwrite")`` calls — a
    reader arriving mid-rebuild can see new centroids over old lists.
    This form makes the index a TABLE: quantized vectors (trained with
    the cross-engine-exact integer Lloyd loop, so a DuckDB oracle can
    replay the build) land range-partitioned and sorted by ``list_id``
    — disjoint per-file list ranges, the layout that makes the
    committed [min, max] stats decisive — in the SAME commit as the
    16-row codebook (``is_cent = 1`` rows in their own file), via
    ``table_log.overwrite``. Readers therefore see the old index or
    the new one, never a mix; a rebuild is a VERSION, so index
    refreshes time-travel, and a query pinned to version N is immune
    to concurrent rebuilds. At 100 TB this is how an embedding index
    follows a growing corpus: rebuild (or incrementally re-assign)
    into the next version, swap atomically, vacuum old versions on
    retention. Cf. ``ivf_query_index_log`` for the probe-pruned read.
    """
    from ..sources import table_log as tl

    corpus = (
        emb.select(
            F.col(id_col).alias("vid"), _quantized(F.col(vec_col)).alias("q")
        )
        .transform(tracked_cache)
    )
    cents = _ivf_train_portable(corpus, n_centroids, iterations).transform(
        tracked_cache
    )
    assigned = _ivf_assign_portable(corpus, cents)
    vectors = (
        assigned.select(
            F.lit(0).alias("is_cent"),
            "list_id",
            "vid",
            "q",
            F.lit(None).cast("array<long>").alias("c"),
        )
        .repartitionByRange(n_files, "list_id")
        .sortWithinPartitions("list_id")
    )
    cent_rows = cents.select(
        F.lit(1).alias("is_cent"),
        "list_id",
        F.lit(None).cast("long").alias("vid"),
        F.lit(None).cast("array<long>").alias("q"),
        "c",
    ).coalesce(1)
    return tl.overwrite(
        vectors.unionByName(cent_rows),
        table_dir,
        stats_cols=["list_id", "is_cent"],
    )


def ivf_append_to_index_log(
    emb_new: DataFrame,
    table_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_files: int = 4,
) -> int:
    """Incrementally refresh a table-log IVF index: assign ONLY the
    newly-arrived vectors against the COMMITTED codebook and APPEND
    them as one new commit — no retraining, no rewrite, the existing
    inverted-list files (and the codebook file) keep their inodes.

    This is the other half of the refresh story next to the atomic
    full rebuild (``ivf_build_index_log``): at 100 TB a trickle of new
    embeddings should cost O(increment), and the price is explicit —
    the codebook goes stale as the distribution drifts (recall decays
    until the next rebuild), which is exactly the production trade
    (FAISS's add-vs-train split). Appended files carry the same
    committed ``list_id`` stats, so query-time pruning is unchanged;
    queries pinned to the pre-append version are untouched.
    """
    from ..sources import table_log as tl

    v = tl.current_version(table_dir)
    if v is None:
        raise ValueError(f"{table_dir} has no committed index to append to")
    spark = emb_new.sparkSession
    files = tl.snapshot_files(table_dir, version=v)
    stats = tl.snapshot_file_stats(table_dir, version=v)
    cent_files = [p for p in files if keep_file(stats, p, "is_cent", 1, 1)]
    cents = (
        spark.read.parquet(*cent_files)
        .filter(F.col("is_cent") == 1)
        .select("list_id", "c")
    )
    corpus_new = emb_new.select(
        F.col(id_col).alias("vid"), _quantized(F.col(vec_col)).alias("q")
    )
    assigned = _ivf_assign_portable(corpus_new, cents)
    vectors = (
        assigned.select(
            F.lit(0).alias("is_cent"),
            "list_id",
            "vid",
            "q",
            F.lit(None).cast("array<long>").alias("c"),
        )
        .repartitionByRange(n_files, "list_id")
        .sortWithinPartitions("list_id")
    )
    return tl.append(vectors, table_dir, stats_cols=["list_id", "is_cent"])


def ivf_query_index_log(
    spark,
    table_dir: str,
    query_ints: Sequence[int],
    *,
    version: int | None = None,
    k: int = 10,
    n_probe: int = 4,
) -> tuple[DataFrame, int, int]:
    """Top-k over a table-log IVF index at a PINNED version — the scan
    opens only files whose committed ``list_id`` [min, max] can hold a
    probed list (zero read-time footer I/O; lossless — files without
    stats are kept). Probe selection replays the portable affinity
    exactly (integer dots widened to double, one IEEE sqrt, list_id
    tie-break) over the codebook rows, a codebook-sized collect.
    Returns ``(topk_df, files_kept, files_total)``.
    """
    import math

    from ..sources import table_log as tl

    # ONE checkpoint-load + tail-replay for files, stats AND the
    # committed schema (the chained snapshot_files+snapshot_file_stats
    # form resolved the log twice per probe); planning reads under the
    # committed schema also skips the per-read parquet schema-inference
    # job — measured r12: 3 Spark jobs -> 1 per served version.
    files, stats, schema = tl.snapshot_resolved(table_dir, version=version)

    def _reader():
        return spark.read.schema(schema) if schema is not None else spark.read

    cent_files = [p for p in files if keep_file(stats, p, "is_cent", 1, 1)]
    cents = (
        _reader().parquet(*cent_files)
        .filter(F.col("is_cent") == 1)
        .select("list_id", "c")
        .collect()
    )
    q = [int(x) for x in query_ints]
    scored = []
    for r in cents:
        c = [int(x) for x in r.c]
        dot_qc = sum(a * b for a, b in zip(q, c))
        dot_cc = sum(a * a for a in c)
        # exactly the SQL/Spark probe affinity: exact integer dots
        # widened to double (< 2^53), one correctly-rounded sqrt and
        # divide; (score DESC, list_id ASC) total order
        scored.append((-(float(dot_qc) / math.sqrt(float(dot_cc))), r.list_id))
    scored.sort()
    probes = sorted(int(lid) for _, lid in scored[:n_probe])
    kept = [
        p
        for p in files
        if keep_file(stats, p, "is_cent", 0, 0)
        and any(keep_file(stats, p, "list_id", lid, lid) for lid in probes)
    ]
    qlit = F.array(*[F.lit(x).cast("long") for x in q])
    if not kept:
        # every vector file pruned (all probed lists empty in the
        # final assignment): ONE file supplies the schema, the
        # always-false filter yields an empty top-k instead of a
        # zero-path read error (read_snapshot_pruned's rule)
        cand = (
            _reader().parquet(files[0])
            .filter(F.lit(False))
            .select("vid", "q")
        )
    else:
        cand = (
            _reader().parquet(*kept)
            .filter((F.col("is_cent") == 0) & F.col("list_id").isin(probes))
            .select("vid", "q")
        )
    return _rerank_portable(cand, qlit, k), len(kept), len(files)


def ivf_query_index_log_batch(
    spark,
    table_dir: str,
    queries: dict[int, Sequence[int]],
    *,
    version: int | None = None,
    k: int = 10,
    n_probe: int = 4,
) -> tuple[DataFrame, int, int]:
    """Batched top-k over a table-log IVF index at a PINNED version:
    N queries amortize ONE pruned scan. Per-query probes replay the
    portable affinity over the codebook (driver-side, codebook x N —
    still codebook-sized); the scan opens only files whose committed
    ``list_id`` stats can hold the UNION of probed lists; the rerank
    equi-joins candidates to the exploded (qid, list_id) probe
    relation and windows per query — no per-query corpus pass, no
    non-equi join. Returns ``(df(qid, vec_id, rnk, cosine_sim),
    files_kept, files_total)``.
    """
    import math

    from pyspark.sql import Window

    from ..sources import table_log as tl

    # one resolve + committed-schema reads (see ivf_query_index_log)
    files, stats, schema = tl.snapshot_resolved(table_dir, version=version)

    def _reader():
        return spark.read.schema(schema) if schema is not None else spark.read

    cent_files = [p for p in files if keep_file(stats, p, "is_cent", 1, 1)]
    cents = (
        _reader().parquet(*cent_files)
        .filter(F.col("is_cent") == 1)
        .select("list_id", "c")
        .collect()
    )
    probe_rows: list[tuple[int, int]] = []  # (qid, list_id)
    for qid, qints in queries.items():
        q = [int(x) for x in qints]
        scored = []
        for r in cents:
            c = [int(x) for x in r.c]
            dot_qc = sum(a * b for a, b in zip(q, c))
            dot_cc = sum(a * a for a in c)
            scored.append(
                (-(float(dot_qc) / math.sqrt(float(dot_cc))), r.list_id)
            )
        scored.sort()
        probe_rows.extend(
            (int(qid), int(lid)) for _, lid in scored[:n_probe]
        )
    union_probes = sorted({lid for _, lid in probe_rows})
    kept = [
        p
        for p in files
        if keep_file(stats, p, "is_cent", 0, 0)
        and any(keep_file(stats, p, "list_id", lid, lid) for lid in union_probes)
    ]
    probes_df = spark.createDataFrame(
        probe_rows, "qid int, list_id long"
    )
    qs_df = spark.createDataFrame(
        [(int(qid), [int(x) for x in qq]) for qid, qq in queries.items()],
        "qid int, qq array<long>",
    )
    if not kept:
        cand = (
            _reader().parquet(files[0])
            .filter(F.lit(False))
            .select("vid", "q", "list_id")
        )
    else:
        cand = (
            _reader().parquet(*kept)
            .filter(
                (F.col("is_cent") == 0)
                & F.col("list_id").isin(union_probes)
            )
            .select("vid", "q", "list_id")
        )
    paired = cand.join(F.broadcast(probes_df), "list_id").join(
        F.broadcast(qs_df), "qid"
    )
    cos = _ldot(F.col("q"), F.col("qq")).cast("double") / (
        F.sqrt(_ldot(F.col("q"), F.col("q")).cast("double"))
        * F.sqrt(_ldot(F.col("qq"), F.col("qq")).cast("double"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vid").asc()
    )
    out = (
        paired.select("qid", "vid", cos.alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "qid",
            F.col("vid").alias("vec_id"),
            F.col("rnk").cast("int").alias("rnk"),
            (
                F.floor(F.col("cos") * 1_000_000.0 + F.lit(0.5)) / 1_000_000.0
            ).alias("cosine_sim"),
        )
    )
    return out, len(kept), len(files)


def _pq_books_from_rows(rows: DataFrame, m_sub: int, d_sub: int) -> DataFrame:
    """(m, code, c8) codeword relation from whole-vector rows: subspace
    m of seed r is the r-th codeword of book m."""
    return rows.select(
        "code",
        F.explode(
            F.array(*[F.lit(m) for m in range(m_sub)])
        ).alias("m"),
        "q",
    ).select(
        "m", "code", F.expr(f"slice(q, m * {d_sub} + 1, {d_sub})").alias("c8")
    )


def _pq_encode_portable(
    corpus: DataFrame, books: DataFrame, m_sub: int, d_sub: int
) -> DataFrame:
    """(vid, m, code): per-subspace argmin_code |c|^2 - 2 x.c — every
    term an exact long, so the argmin (with code tie-break) is a pure
    integer total order, no floats anywhere."""
    from pyspark.sql import Window

    sub = corpus.select(
        "vid",
        F.explode(F.array(*[F.lit(m) for m in range(m_sub)])).alias("m"),
        "q",
    ).select(
        "vid", "m", F.expr(f"slice(q, m * {d_sub} + 1, {d_sub})").alias("qm")
    )
    scored = sub.join(F.broadcast(books), "m").select(
        "vid",
        "m",
        "code",
        (_ldot(F.col("c8"), F.col("c8")) - 2 * _ldot(F.col("qm"), F.col("c8")))
        .alias("dist2"),
    )
    w = Window.partitionBy("vid", "m").orderBy(
        F.col("dist2").asc(), F.col("code").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", "m", "code")
    )


def cosine_topk_pq_portable(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
    k: int = 10,
    m_subspaces: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
    candidates: int = 100,
) -> DataFrame:
    """PQ top-k whose codebook TRAINING and ADC scan are cross-engine
    exact — the PQ analog of ``cosine_topk_ivf_portable``.

    Integer-quantized vectors make per-subspace encoding a pure integer
    argmin (|c|^2 - 2 x.c with a code tie-break), Lloyd means the same
    portable floor-division as the IVF twin, and the asymmetric-distance
    score an exact integer SUM of M lookup-table probes — floats appear
    only in the final exact-cosine rerank of the ``candidates`` buffer,
    as single correctly-rounded IEEE ops. The numpy tier
    (``cosine_topk_pq``) keeps the throughput and stays rows-only.
    """
    from pyspark.sql import Window

    d_sub = 64 // m_subspaces
    base = emb.select(
        F.col(id_col).alias("vid"), _quantized(F.col(vec_col)).alias("q")
    )
    corpus = base.filter(F.col("vid") != query_id).transform(tracked_cache)
    qrow = base.filter(F.col("vid") == query_id).select("q").first()
    if qrow is None:
        raise ValueError(f"query id {query_id} not found")
    qints = [int(v) for v in qrow["q"]]
    qlit = F.array(*[F.lit(v).cast("long") for v in qints])

    n_rows = corpus.count()
    stride = max(1, n_rows // n_codes)
    seeds = (
        corpus.filter(F.col("vid") % stride == 0)
        .orderBy("vid")
        .limit(n_codes)
        .select(
            (F.row_number().over(Window.orderBy("vid")) - 1)
            .cast("long")
            .alias("code"),
            "q",
        )
    )
    books = _pq_books_from_rows(seeds, m_subspaces, d_sub)

    for _ in range(iterations):
        enc = _pq_encode_portable(corpus, books, m_subspaces, d_sub)
        per_dim = (
            enc.join(corpus, "vid")
            .select(
                "m",
                "code",
                F.posexplode(
                    F.expr(f"slice(q, m * {d_sub} + 1, {d_sub})")
                ).alias("j", "val"),
            )
        )
        books = (
            per_dim.groupBy("m", "code", "j")
            .agg(
                F.floor(F.sum("val").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("cv")
            )
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "cv"))),
                    lambda s: s["cv"],
                ).alias("c8")
            )
        )

    # trained codebooks feed the final encode AND the LUT — cache so
    # the unrolled training plan executes once (same as the IVF twin)
    books = books.transform(tracked_cache)
    enc = _pq_encode_portable(corpus, books, m_subspaces, d_sub)
    # integer LUT: dot of the query's m-th subvector with each codeword
    qarr = "array(" + ", ".join(f"{v}L" for v in qints) + ")"
    lut = books.select(
        "m",
        "code",
        _ldot(
            F.expr(f"slice({qarr}, m * {d_sub} + 1, {d_sub})"), F.col("c8")
        ).alias("l"),
    )
    shortlist = (
        enc.join(F.broadcast(lut), ["m", "code"])
        .groupBy("vid")
        .agg(F.sum("l").alias("adc"))
        .orderBy(F.col("adc").desc(), F.col("vid").asc())
        .limit(candidates)
        .select("vid")
    )

    cos = _ldot(F.col("q"), qlit).cast("double") / (
        F.sqrt(_ldot(F.col("q"), F.col("q")).cast("double"))
        * F.sqrt(_ldot(qlit, qlit).cast("double"))
    )
    ranked = (
        corpus.join(F.broadcast(shortlist), "vid")
        .select("vid", cos.alias("cos"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cos").desc(), F.col("vid").asc())
            ),
        )
    )
    return ranked.filter(F.col("rnk") <= k).select(
        F.col("vid").alias("vec_id"),
        F.col("rnk").cast("int").alias("rnk"),
        (F.floor(F.col("cos") * 1_000_000.0 + F.lit(0.5)) / 1_000_000.0).alias(
            "cosine_sim"
        ),
    )
