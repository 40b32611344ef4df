"""Storage-partitioned (co-located) join of two bucketed table-log
tables — a fact-fact join with ZERO shuffle of table data.

Reference parity hook: every join in the reference pipeline
(`/root/reference/src/data_processor.py` — items x products, order
summaries x headers) re-shuffles both inputs on every run. The repo's
broadcast joins already remove the shuffle when one side is
dimension-sized; this module removes it when BOTH sides are facts:
write each table hash-bucketed on its join key with the bucket spec
committed INTO the table log (the role Iceberg's partition spec
plays), and the join becomes one task per aligned bucket range that
reads both sides' files for exactly that key range and merges
locally. Neither table's data ever crosses an exchange — the
storage-partitioned join (SPJ) Spark ships for Iceberg/DSv2 scans.

Relation to ``sources/bucketing.py``: that module is the CATALOG
path — ``bucketBy(n, key).saveAsTable`` tables whose equi-join plans
as a zero-Exchange sort-merge join, the right tool when a Hive
metastore owns the table. This module is the TABLE-LOG-native twin
for tables that need snapshot/commit semantics: versioned, vacuum-
able, compactable, streamable (the CDC warehouse), where no catalog
bucket metadata exists for the planner to see. Spark's SQL bucketing
cannot cover these, and a Python DataSource cannot report
``outputPartitioning`` to the planner, so a bucket-aligned table_log
scan pair would still be exchanged. The
brief's operator ladder applies — the built-in operators genuinely
cannot express "these two scans are already co-partitioned", so the
join itself runs as an Arrow-batched grouped merge (ladder rung (b)),
while all planning stays metadata-sized on the driver.

Every co-located operator — the pair join (``colocated_bucket_join``),
the N-table star join (``colocated_multi_join``), the fused rollup join
(``colocated_aggregate_join``) and the exchange-free aggregate
(``bucketed_aggregate``) — is the same two pieces plus a kernel:

- ONE group planner (``_plan_groups``; ``colocated_plan`` is its
  two-side public face) validates every side's spec, schema, bucket
  count, key type and file-grouping nesting, aligns the files at the
  coarsest grouping, and selects groups by join type;
- ONE task-wave runner (``_run_wave``) routes one task per planned
  group with zero exchange, reads each side's files padded to its
  committed schema, calls the operator's Arrow kernel (an Acero join
  chain, a ``group_by`` then a join, or a ``group_by``) and casts the
  result to the output schema, whose join columns follow ONE rule
  (``_join_schema``, shared with ``serve_join``'s Spark routes).

Scale shape at 100 TB: the ONLY exchange in the plan moves one
metadata row per aligned bucket group (task routing, bytes ~ file
names); each task streams its bucket-local parquet reads through one
Acero kernel. Layouts need not match file-for-file — a side
coarsened by compaction (``buckets_per_file`` > 1) aligns at the
coarser granularity, so maintenance never breaks join locality.
"""

from __future__ import annotations

import os
import re
import uuid
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import driver_read
from ..sources import table_log as tl
from ..sources.footer_stats import file_stats, keep_file
from ..streaming.cdc import (
    _group_of_name,
    _stage_groups_into_table,
    bucket_expr,
    layout_buckets_per_file,
)


def write_bucketed(
    df: DataFrame,
    table_dir: str,
    *,
    key_col: str,
    n_buckets: int,
    stats_cols: list[str] = (),
    mode: str = "overwrite",
) -> int:
    """Materialize ``df`` as a hash-bucketed table-log table: one data
    file per bucket (``pmod(xxhash64(key), n)`` — the one shared
    key->bucket definition), bucket id in the FILE NAME, and the
    bucket spec as the commit's only ``meta`` (``{"bucket": spec}``)
    so readers can plan co-located joins against it. Atomic;
    ``mode="append"`` widens each bucket's file group instead of
    replacing the table (the declared spec must match the committed
    one — appending under a different layout would silently break
    co-location), and with ``stats_cols`` each slice's files carry
    their own [min, max], so range-sliced appends give stats pruning
    sub-bucket file granularity to cut at."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode={mode!r}")
    os.makedirs(table_dir, exist_ok=True)
    latest = tl.current_version(table_dir)
    declared = {"key": key_col, "n": int(n_buckets)}
    new_schema = df.schema.json()

    def _check_spec() -> int:
        """Validate the layout and return the bucket->file GROUPING
        to write under. Appends are GROUP-AWARE: on a compaction-
        coarsened table (buckets_per_file > 1) the new files must be
        named by GROUP id exactly like the resident ones — the CDC
        sink's rule — or the grouped readers would misread per-bucket
        names as group ids. Maintenance therefore never turns an
        append away; the commit-time re-check refuses only if the
        grouping CHANGED between staging and commit (the staged names
        would then describe the wrong layout)."""
        spec = tl.committed_bucket_spec(table_dir)
        if spec is not None and spec != declared:
            raise ValueError(
                f"table is bucketed as {spec}, append declares "
                f"{declared} — layouts must match"
            )
        if (
            mode == "append"
            and spec is None
            and tl.current_version(table_dir) is not None
            and tl.snapshot_files(table_dir)
        ):
            # resident files were written WITHOUT a bucket layout
            # (plain write, or an overwrite reset the spec): a
            # bucketed append would publish a spec that does not
            # describe them, and every later co-located plan would
            # crash on the non-bucket-named files
            raise ValueError(
                f"{table_dir} holds unbucketed data — overwrite "
                "bucketed instead of appending a bucket layout"
            )
        if mode == "append" and spec is not None:
            return tl.layout_buckets_per_file(table_dir)
        return 1

    write_bpf = 1
    if mode == "append" and latest is not None:
        # fail fast BEFORE the data write; the commit re-checks both
        # at the version it actually lands on (library-append
        # discipline: a concurrent commit may have evolved the schema
        # or reset the layout in between)
        write_bpf = _check_spec()
        tl._validate_evolution(
            tl._resolve_snapshot(table_dir, latest)[2], new_schema
        )
    bucket = bucket_expr(key_col, n_buckets)
    grouped = df.withColumn(
        "grp",
        bucket
        if write_bpf == 1
        else (bucket / F.lit(write_bpf)).cast("int"),
    )
    # the tag must be unique PER WRITER, not per version hint: two
    # concurrent appends both starting from version N would otherwise
    # stage identical final names and silently clobber each other's
    # data files even though the commit race itself is detected
    names = _stage_groups_into_table(
        grouped,
        table_dir,
        f"w{0 if latest is None else latest + 1}"
        f"p{os.getpid()}u{uuid.uuid4().hex[:6]}",
    )
    stats = file_stats(table_dir, names, stats_cols) if stats_cols else None
    meta = {"bucket": declared}
    if mode == "overwrite":
        return tl.commit(
            table_dir,
            add=names,
            remove=[
                os.path.basename(p) for p in tl.snapshot_files(table_dir)
            ]
            if latest is not None
            else [],
            op="bucketed-write",
            stats=stats,
            # grp is folded into file names, not stored in the data
            schema=new_schema,
            base_version=latest,
            meta=meta,
        )

    def derive(base: int | None) -> dict:
        if _check_spec() != write_bpf:
            raise ValueError(
                f"{table_dir} file grouping changed between staging "
                "and commit (concurrent compaction) — retry the append"
            )
        tl._validate_evolution(
            None
            if base is None
            else tl._resolve_snapshot(table_dir, base)[2],
            new_schema,
        )
        return {
            "add": names,
            "op": "bucketed-append",
            "stats": stats,
            "schema": new_schema,
            "meta": meta,
        }

    return tl.commit_with_retry(table_dir, derive)


_RANGE_SPEC = re.compile(r"^(.*)#(\d+):(\d+)$")


def _read_table_spec(spec: str):
    """Read one task file spec: a bare parquet path, or a skew-split
    row-group range ``path#start:end`` (anchored suffix match, so a
    '#' elsewhere in a real path never misparses as a range)."""
    import pyarrow.parquet as pq

    m = _RANGE_SPEC.match(spec)
    if m:
        return pq.ParquetFile(m.group(1)).read_row_groups(
            list(range(int(m.group(2)), int(m.group(3))))
        )
    return pq.read_table(spec)


def _pad_table(tbl, schema):
    """Conform one file's Arrow table to the committed snapshot
    schema: pre-evolution files lack later columns (additive-only
    evolution), so missing columns null-fill and present ones cast —
    without this, ``pa.concat_tables`` over a mixed-schema bucket
    group raises, and the committed-schema ``select(out_cols)``
    would fail for old files. Same contract as the native reader's
    ``_pad_batch`` and ``read_snapshot``'s explicit-schema scan."""
    import pyarrow as pa

    cols = []
    for f in schema:
        if f.name in tbl.column_names:
            cols.append(tbl.column(f.name).cast(f.type))
        else:
            cols.append(pa.nulls(tbl.num_rows, f.type))
    return pa.Table.from_arrays(cols, schema=schema)


def _routing_relation(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """The co-located planners' task-routing relation with EXACTLY one
    row per partition and ZERO exchange: ``parallelize(rows,
    len(rows))`` slices the driver-built list one row per partition, so
    the downstream ``mapInArrow`` runs one task per routing row with no
    shuffle at all. The previous ``createDataFrame(...).
    repartitionByRange(n, ...)`` form achieved the same spread but paid
    a range-boundary SAMPLING JOB plus a (tiny) exchange on EVERY
    execution — pure fixed overhead on the serving path, measured r12
    at ~100-200 ms per co-located query at sf0.1. Row order is
    preserved (slice i = row i), which is all the skew-split planner
    needs; the relation's contents are identical either way.

    Task count is capped at 2x defaultParallelism: past that, extra
    tasks buy no concurrency and each one pays a Python-worker round
    trip (~20 ms measured) — a 112-chunk skew-split wave on 32 cores
    ran 112 tasks for ~4 waves of real work. On a cluster
    defaultParallelism is total executor cores and the cap scales with
    it. Rows beyond the cap share tasks ROUND-ROBIN (r12 advice):
    callers enumerate a split group's chunks consecutively, so a
    contiguous slicing would re-serialize several chunks of the same
    heavy group into one task, partially defeating the split; striping
    by index puts consecutive rows ~n slices apart. Results are
    order-independent — every row is processed as its own unit and the
    output is their union."""
    n = max(1, min(len(rows), 2 * spark.sparkContext.defaultParallelism))
    if len(rows) > n:
        m = len(rows)
        # parallelize slices contiguously with sizes (k+1)m//n - km//n;
        # matching each round-robin residue class to a slice of ITS
        # size (both multisets hold exactly m%n ceil-sized members)
        # aligns the boundaries exactly, so slice k holds indices
        # {p, p+n, p+2n, ...} verbatim and consecutive rows can never
        # share a task.
        ceil_sz = -(-m // n)
        big = [list(range(p, m, n)) for p in range(m % n)]
        small = [list(range(p, m, n)) for p in range(m % n, n)]
        order: list[int] = []
        for k in range(n):
            size_k = (k + 1) * m // n - k * m // n
            order.extend((big if size_k == ceil_sz and big else small).pop(0))
        rows = [rows[i] for i in order]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema
    )


def bucket_spec(
    table_dir: str, *, version: int | None = None
) -> dict | None:
    """The table's committed bucket spec ``{"key": col, "n": buckets}``
    (newest ``meta.bucket`` entry wins; an overwrite/compact without a
    spec RESETS it — the layout those commits produce is not
    bucketed), or None for tables never written bucketed. ``version``
    pins the spec as of that snapshot."""
    return tl.committed_bucket_spec(table_dir, version=version)


def write_bucketed_native(
    df: DataFrame,
    table_dir: str,
    *,
    key_col: str,
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    """``write_bucketed`` through the ENGINE's DataSource writer
    (``df.write.format("table_log")`` + ``bucketBy``/``nBuckets``
    options): tasks write their buckets' files directly into the table
    (two-phase: durable task files, then ONE atomic driver commit —
    no staging-directory rename pass), the bucket id rides each file
    name, and the spec + schema land in the commit, so the written
    table is immediately a storage-partitioned-join side. The bucket
    id is computed HERE with the engine's own ``xxhash64``
    (``bucket_expr``) and shipped to tasks as the ``_bucket`` carrier
    column — a Python-side hash reimplementation could silently
    disagree with the JVM's and break co-location. The repartition on
    the carrier puts each bucket wholly in one task, so the layout
    comes out one file per populated bucket (append mode may add more
    files per bucket; the co-located planner reads file LISTS per
    group, so that only widens a group, never breaks it)."""
    from ..sources import table_log_source

    table_log_source.register(df.sparkSession)
    (
        df.withColumn(
            table_log_source.BUCKET_COL, bucket_expr(key_col, n_buckets)
        )
        .repartition(n_buckets, F.col(table_log_source.BUCKET_COL))
        .write.format("table_log")
        .option("path", table_dir)
        .option("bucketBy", key_col)
        .option("nBuckets", str(n_buckets))
        .mode(mode)
        .save()
    )


#: public join-type name -> Acero join_type. Keys double as the
#: ``how=`` vocabulary of ``colocated_bucket_join``.
_ACERO_JOIN = {
    "inner": "inner",
    "left": "left outer",
    "full": "full outer",
    "left_semi": "left semi",
    "left_anti": "left anti",
}


def _side_meta(table_dir: str, version: int | None) -> dict:
    """Everything a colocated planner needs from one side, resolved
    with ONE checkpoint-load + tail-replay (``snapshot_resolved``)
    plus the two O(distance-to-layout-commit) walks: ``{"version",
    "spec", "bpf", "files", "stats", "schema"}``. The per-field
    accessors (``snapshot_schema`` + ``snapshot_files`` +
    ``snapshot_file_stats``) each replayed the log again — a pair
    join paid the resolve 4-6x per call, a serve_join route decision
    another 2x. At warehouse scale the checkpoint is O(live files) of
    JSON; paying it once per side per plan is the whole point of
    checkpointing."""
    if version is None:
        version = tl.current_version(table_dir)
    files, stats, schema = tl.snapshot_resolved(table_dir, version=version)
    return {
        "version": version,
        "spec": bucket_spec(table_dir, version=version),
        "bpf": layout_buckets_per_file(table_dir, version=version),
        "files": files,
        "stats": stats,
        "schema": schema,
    }


def _needs(how: str, side: int) -> bool:
    """Whether a task must have ``side`` (0 = the anchor) populated to
    emit anything under ``how``: inner and left-semi output only
    matched anchor rows (every side), left-outer and left-anti emit
    unmatched anchor rows (the anchor only), full outer emits either
    side's unmatched rows (no side). The ONE rule behind the group
    planner's selection and the stats pruner's empty-side drop."""
    return how in ("inner", "left_semi") or (
        how in ("left", "left_anti") and side == 0
    )


def _plan_groups(
    dirs: list[str], metas: list[dict], how: str
) -> list[tuple]:
    """The ONE co-located group planner, over N sides (``dirs[0]``
    anchors): one task ``(coarse_group, files_0, ..., files_{N-1})``
    per aligned bucket group, selected by ``how`` (``_needs``: inner/
    semi plan groups populated on every side, left/anti every
    anchor-populated group, full the union), with a side's list empty
    where that side has no files in the group.

    Validates that every side commits a bucket spec and a schema, the
    SAME bucket count and the SAME key type as the anchor (xxhash64 is
    type-sensitive: equal values of different types hash to different
    buckets, so the join would be silently incomplete), and file
    groupings that nest; mismatched groupings (a side coarsened by
    compaction) align at the coarsest one."""
    if how not in _ACERO_JOIN:
        raise ValueError(f"how={how!r} not in {sorted(_ACERO_JOIN)}")
    for d, m in zip(dirs, metas):
        if m["spec"] is None:
            raise ValueError(
                f"{d} has no committed bucket spec — write it with "
                "write_bucketed (or repartition and use a plain join)"
            )
        if m["schema"] is None:
            raise ValueError(
                f"{d} has a bucket spec but no committed schema — "
                "rewrite it with write_bucketed"
            )
    ns = [m["spec"]["n"] for m in metas]
    if len(set(ns)) != 1:
        raise ValueError(
            f"bucket counts differ ({' vs '.join(map(str, ns))}): keys "
            "hash to different buckets, co-location does not hold"
        )
    key0 = metas[0]["spec"]["key"]
    t0 = metas[0]["schema"][key0].dataType
    for m in metas[1:]:
        key = m["spec"]["key"]
        t = m["schema"][key].dataType
        if t != t0:
            raise ValueError(
                f"bucket key types differ ({key0}: {t0.simpleString()} vs "
                f"{key}: {t.simpleString()}): xxhash64 is type-sensitive, "
                "equal values hash to different buckets — cast one "
                "table's key and rewrite it"
            )
    bpfs = [m["bpf"] for m in metas]
    coarse = max(bpfs)
    if any(coarse % b for b in bpfs):
        raise ValueError(
            f"file groupings {bpfs} do not nest — compact to multiples "
            "of one another"
        )
    sides: list[dict[int, list[str]]] = []
    for m, bpf in zip(metas, bpfs):
        per: dict[int, list[str]] = defaultdict(list)
        for p in m["files"]:
            per[_group_of_name(p) * bpf // coarse].append(p)
        sides.append(per)
    groups = {
        g
        for per in sides
        for g in per
        if all(g in s for i, s in enumerate(sides) if _needs(how, i))
    }
    return [
        (g, *(sorted(s.get(g, ())) for s in sides)) for g in sorted(groups)
    ]


def colocated_plan(
    left_dir: str,
    right_dir: str,
    how: str = "inner",
    *,
    left_version: int | None = None,
    right_version: int | None = None,
    _sides: tuple[dict, dict] | None = None,
) -> list[tuple[int, list[str], list[str]]]:
    """Driver-side task plan for the co-located pair join — the
    two-side face of ``_plan_groups``: one ``(coarse_group,
    left_files, right_files)`` entry per aligned bucket group, selected
    by the join type. This is bucket-level pruning falling out of join
    semantics — an anti join against a sparse blocklist still skips
    nothing on the left, but an inner join with a sparse probe side
    reads only the probed buckets.

    Each side's spec, file grouping, and file list resolve at ONE
    pinned version (``left_version``/``right_version``, default the
    current version read ONCE here): a concurrent commit — e.g. a
    compaction coarsening the live CDC warehouse mid-plan — can no
    longer land between the bpf read and the file listing and pair
    post-compaction files with a pre-compaction grouping."""
    metas = _sides or (
        _side_meta(left_dir, left_version),
        _side_meta(right_dir, right_version),
    )
    return _plan_groups([left_dir, right_dir], list(metas), how)


def buckets_of_values(
    spark: SparkSession,
    table_dir: str,
    values: list,
    *,
    version: int | None = None,
) -> list[int]:
    """The bucket each key value lives in, computed with the SAME
    xxhash64 the writer used (evaluated through Spark so the hash is
    the engine's own, with the values cast to the stored key type —
    xxhash64 is type-sensitive). ZERO jobs for the whole batch
    (``tl.inline_probe_rows``: the probe relation is an inline VALUES
    table the optimizer folds to a driver-answered LocalTableScan) —
    probe planning costs no cluster round trip; no table I/O either
    way."""
    if version is None:
        version = tl.current_version(table_dir)
    spec = bucket_spec(table_dir, version=version)
    if spec is None:
        raise ValueError(f"{table_dir} has no committed bucket spec")
    schema = tl.snapshot_schema(table_dir, version=version)
    if schema is None:
        # no committed schema means no stored key TYPE — and guessing
        # one (the old 'bigint' fallback) is worse than failing: for a
        # string key, lit(v).cast('bigint') yields null, xxhash64(null)
        # returns the seed, and the probe deterministically targets
        # the WRONG bucket — a silent miss on resident rows
        raise ValueError(
            f"{table_dir} has a bucket spec but no committed schema — "
            "the stored key type is unknown, so probe hashing cannot "
            "be trusted; rewrite the table with write_bucketed"
        )
    dtype = schema[spec["key"]].dataType.simpleString()
    # parameter-bound CAST per value (not createDataFrame, whose type
    # verification REJECTS e.g. an int probe against a double key —
    # the cast coerces exactly as the writer's bucket_expr did)
    rows = tl.inline_probe_rows(
        spark,
        values,
        dtype,
        f"i, CAST(pmod(xxhash64(v), {int(spec['n'])}) AS INT) AS b",
    )
    out = [0] * len(values)
    for r in rows:
        out[r.i] = r.b
    return out


def keyset_lookup(
    spark: SparkSession,
    table_dir: str,
    values: list,
    *,
    version: int | None = None,
    info: dict | None = None,
    _resolved: dict | None = None,
) -> DataFrame:
    """The SCALABLE form of ``point_lookup``: all probe keys in ONE
    task wave. ``point_lookup`` builds one plan branch per key (the
    right shape for a handful of keys, where per-key ``probe_files``
    is the contract being served); for a large key set that plan
    explodes, and the right shape is this one — hash every key in
    one job, resolve the bucket groups they live in, and scan ONLY
    those groups' files. Buckets no key hashes into are never read
    (bucket pruning by probe set), keys are compared under the
    stored key type (coerced exactly as the writer's hash was), and
    the scan plans under the committed snapshot schema. ``version``
    pins the whole lookup to one snapshot.

    Execution reads JUST the touched groups' files, on one of two
    routes, recorded in ``info["exec"]`` (``"driver"`` or
    ``"spark"``) with ``info["exec_reason"]``:

    - ``driver`` — a few small local files (``driver_read``'s gates:
      at most ``MAX_FILES`` files and ``MAX_BYTES`` bytes, an
      integral, string or date key, at most 64 coerced keys, file
      schemas equal to the snapshot's, no legacy rebase metadata):
      each file is read with pyarrow and filtered with ``is_in`` on
      the driver, and the rows come back as a ``LocalRelation``, so
      collecting them launches no Spark job (SCALING.md, "Serving
      probes: driver read vs Spark scan").
    - ``spark`` — everything else: a JVM parquet scan with an
      ``isin`` residual (a broadcast semi-join past 64 keys). After
      file pruning the vectorized JVM reader beats an Arrow-Python
      task wave at every probe density (point-lookup serving A/B,
      NOTES.md Round-9 progress: the Python form lost 3x to a plain
      scan once probes saturated the buckets; this form degrades to
      exactly that scan instead).

    Both routes return the same rows under the same schema.

    ``_resolved`` (internal, passed by ``serve()``) carries the
    already-pinned ``{"spec", "schema", "bpf", "by_group"}`` so the
    front door's routing reads are not paid a second time here —
    without it every keyset-routed serve() call walked the log twice
    per metadata fact."""
    if _resolved is not None:
        spec = _resolved["spec"]
        schema = _resolved["schema"]
        bpf = _resolved["bpf"]
        by_group = _resolved["by_group"]
    else:
        if version is None:
            version = tl.current_version(table_dir)
        spec = bucket_spec(table_dir, version=version)
        if spec is None:
            raise ValueError(f"{table_dir} has no committed bucket spec")
        # ONE checkpoint-load + tail-replay for files + schema (the
        # separate accessors paid it twice); the two layout walks
        # (spec above, bpf here) stay O(distance to layout commit)
        files, _, schema = tl.snapshot_resolved(
            table_dir, version=version
        )
        if schema is None:
            raise ValueError("keyset_lookup needs a committed schema")
        bpf = layout_buckets_per_file(table_dir, version=version)
        by_group = defaultdict(list)
        for p in files:
            by_group[_group_of_name(p)].append(p)
    key = spec["key"]
    dtype = schema[key].dataType.simpleString()
    # probe relation, size-routed: a LITERAL array is exact cast
    # semantics but costs Catalyst O(K) analysis (measured ~3.3 s at
    # K=2000 — more than the scan it was planning); large sets
    # transport values as strings and cast data-side instead, which
    # plans in constant time
    hash_sql = (
        f"v, CAST(pmod(xxhash64(v), {int(spec['n'])}) AS INT) AS b"
    )
    if len(values) <= 64:
        # zero-job probe hashing (tl.inline_probe_rows: inline VALUES
        # folded to a driver-answered LocalTableScan) — coerces every
        # probe to the stored key type exactly as lit().cast() did
        rows = tl.inline_probe_rows(spark, values, dtype, hash_sql)
    else:
        # large sets transport values as strings and cast data-side
        # (an inline table costs Catalyst O(K) row analysis, the same
        # plan-size trap as a K-literal isin) — ONE tiny job hashes
        # AND coerces every probe
        probe = spark.createDataFrame(
            [(str(v),) for v in values], "v string"
        ).select(F.col("v").cast(dtype).alias("v"))
        rows = probe.select(
            "v",
            F.pmod(F.xxhash64(F.col("v")), F.lit(spec["n"]))
            .cast("int")
            .alias("b"),
        ).collect()
    coerced: list = []
    touched: set[int] = set()
    for r in rows:
        g = r.b // bpf
        if g in by_group:  # empty bucket: provably absent
            coerced.append(r.v)
            touched.add(g)
    files = [p for g in sorted(touched) for p in by_group[g]]
    if info is not None:
        # pruning evidence for the caller (serve()'s regime queries
        # oracle the route; tests pin the fractions)
        info.update(
            files_scanned=len(files),
            files_total=sum(len(fs) for fs in by_group.values()),
            groups_touched=len(touched),
            groups_total=len(by_group),
        )
    if not files:
        # every probe key hashed into an empty bucket: for a SERVING
        # lookup that is a legitimate all-miss, not a caller error —
        # an empty result under the committed schema, so callers never
        # wrap probes in try/except to handle absence
        if info is not None:
            info.update(exec="driver", exec_reason="no files")
        return spark.createDataFrame([], schema)
    df, reason = driver_read.read_keys(spark, files, schema, key, coerced)
    if info is not None:
        info.update(
            exec="spark" if df is None else "driver", exec_reason=reason
        )
    if df is not None:
        return df
    return _keyset_scan(spark, files, schema, key, dtype, coerced)


def _keyset_scan(
    spark: SparkSession,
    files: list[str],
    schema,
    key: str,
    dtype: str,
    coerced: list,
) -> DataFrame:
    """``keyset_lookup``'s Spark route: one parquet scan of ``files``
    under ``schema`` with the probe residual on ``key``."""
    scan = spark.read.schema(schema).parquet(*files)
    if len(coerced) <= 64:
        return scan.filter(F.col(key).isin(coerced))
    # large residual: broadcast semi-join against the probe relation
    # instead of a K-literal isin predicate (same plan-size trap)
    probe_rel = spark.createDataFrame(
        [(v,) for v in sorted(set(coerced))], f"v {dtype}"
    )
    return scan.join(
        F.broadcast(probe_rel), scan[key] == probe_rel["v"], "left_semi"
    )


def point_lookup(
    spark: SparkSession,
    table_dir: str,
    values: list,
    *,
    version: int | None = None,
) -> DataFrame:
    """Key-sharded point lookup: each value's bucket names its file
    group directly (hash + file-name test — no stats, no footers, no
    scan of any other file), so a lookup touches O(values) files out
    of the whole table. Returns the matching rows plus ``probe_files``
    — how many data files THAT key's probe opened — which pins the
    serving contract (1 at fine layout) instead of documenting it.
    At 100 TB this is the difference between a point read costing one
    file and costing a table scan; it falls out of the same committed
    bucket spec the co-located join plans with. ``version`` pins the
    whole lookup — spec, file grouping, schema, file list — to one
    snapshot, so a time-travel point read is exactly the point read
    that snapshot served when it was current."""
    if version is None:
        version = tl.current_version(table_dir)
    spec = bucket_spec(table_dir, version=version)
    if spec is None:
        raise ValueError(f"{table_dir} has no committed bucket spec")
    bpf = layout_buckets_per_file(table_dir, version=version)
    # ONE checkpoint-load + tail-replay for files + schema
    files, _, schema = tl.snapshot_resolved(table_dir, version=version)
    reader = spark.read if schema is None else spark.read.schema(schema)
    by_group: dict[int, list[str]] = defaultdict(list)
    for p in files:
        by_group[_group_of_name(p)].append(p)
    buckets = buckets_of_values(spark, table_dir, values, version=version)
    parts = []
    for v, b in zip(values, buckets):
        files = by_group.get(b // bpf, [])
        if not files:
            continue  # provably absent: its bucket holds no rows at all
        parts.append(
            reader.parquet(*files)
            .filter(F.col(spec["key"]) == F.lit(v))
            .withColumn("probe_files", F.lit(len(files)).cast("long"))
        )
    if not parts:
        # all probes hashed into empty buckets: a legitimate all-miss
        # for a serving read — empty result under the committed schema
        # (+ the probe_files contract column), never an exception
        # (buckets_of_values already guaranteed schema is not None)
        from pyspark.sql.types import LongType, StructField, StructType

        return spark.createDataFrame(
            [],
            StructType(
                list(schema.fields)
                + [StructField("probe_files", LongType(), False)]
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: measured crossover (point-lookup serving A/B, NOTES.md Round-9
#: progress): at 64 files the min/max-skipping pushdown SCAN beat the
#: bucket lookup 0.7-0.9x (fixed per-probe driver overhead vs a
#: columnar scan); at 512 files
#: the lookup won 3-9x with a flat cost curve. File COUNT, not row
#: count, is the lookup's variable, so the router switches on it.
SERVE_SCAN_FILE_THRESHOLD = 96


def _stats_coverage(
    files: list[str], stats: dict, column: str, kind: str
) -> tuple[float, int]:
    """Fraction of the snapshot's NON-EMPTY files whose commit-entry
    stats carry ``column`` under ``kind`` ("cols" = [min, max] range
    stats, "bloom" = membership sketches) — the ONE coverage rule
    every router and maintenance poll shares (an empty snapshot
    counts as fully covered: there is nothing to prune). Also returns
    the non-empty file count so callers can report it."""
    nonempty = [
        p
        for p in files
        if stats.get(os.path.basename(p), {}).get("rows") != 0
    ]
    covered = [
        p
        for p in nonempty
        if column in stats.get(os.path.basename(p), {}).get(kind, {})
    ]
    coverage = (len(covered) / len(nonempty)) if nonempty else 1.0
    return coverage, len(nonempty)


def serve(
    spark: SparkSession,
    table_dir: str,
    keys: list,
    *,
    version: int | None = None,
    key_col: str | None = None,
    scan_file_threshold: int = SERVE_SCAN_FILE_THRESHOLD,
    bloom_coverage_threshold: float = 0.5,
    record_routes: bool = True,
) -> tuple[DataFrame, dict]:
    """ONE front door over the bucketed-layout serving surface: give
    it a table and a key set, it picks the execution shape the A/B
    measurements say wins there and returns ``(rows, info)`` where
    ``info`` carries the decision (``route``) and the pruning evidence
    (``files_scanned``/``files_total``). Routes:

    - ``scan-unbucketed`` — no committed bucket spec: one pushdown
      scan of the snapshot with the size-routed probe residual.
      Requires ``key_col`` naming the probe column.
    - ``scan-off-key`` — the table IS bucketed but ``key_col`` probes
      a different column, so the layout cannot prune: same one-scan
      shape, distinct label (route is a hash-checked contract column;
      an off-key probe must not masquerade as an unbucketed table).
    - ``bloom-pruned`` — the layout can't prune (unbucketed, or
      off-key), but at least ``bloom_coverage_threshold`` of the
      snapshot's non-empty files carry a committed bloom sketch for
      the probe column (``append``/``compact`` with ``bloom_cols``):
      plan the probe from the log via
      ``read_snapshot_membership_pruned`` — files whose bitmap rules
      out every probe value are never opened. Coverage-routed exactly
      like ``serve_range``'s stats decision (no file-count gate: the
      route is about file I/O at scale, where opening every file of a
      hash-scattered column is THE cost), and lossless, so the rows
      are identical whichever route runs. ``info`` carries
      ``bloom_coverage`` whenever the layout couldn't prune.
    - ``scan-small-table`` — bucketed, but the snapshot holds at most
      ``scan_file_threshold`` files: the measured regime where a
      columnar pushdown scan beats per-probe planning (64-file A/B:
      lookup 0.7-0.9x of the scan), so routing to the lookup here
      would LOSE 10-40%. Same one-scan shape.
    - ``keyset`` — bucketed and many files: ``keyset_lookup``'s
      zero-job probe hashing + bucket-group pruning, the shape that won
      at EVERY probe density at 512 files (8.8x at 5 keys, 1.3x at
      saturation, where it degrades to slightly better than the scan
      instead of losing).

    ``info["exec"]`` says how the rows are read: ``"driver"`` when
    the keyset route's few small files are read on the driver through
    Arrow (``keyset_lookup``; no Spark job), ``"spark"`` for a Spark
    scan — every other route, and the keyset route past the driver
    read's gates. ``info["exec_reason"]`` says why. ``route`` is the
    same either way.

    ``point_lookup`` stays the separate per-key CONTRACT api (its
    ``probe_files`` column pins the one-file point read); as an
    execution shape it is dominated by ``keyset_lookup``, so the
    router never picks it. All resolution is pinned to one
    ``version`` (default: current, read once here).

    Every routed probe is recorded in the serving ledger (kind
    ``point``, ``record_routes=False`` to opt out — e.g. shared
    fixtures); a streak of unprunable scan routes plus low bloom
    coverage trips ``membership_maintenance_due`` and surfaces the
    ``bloom_cols`` prescription in the probe's own ``info``."""
    # a None probe matches nothing under SQL equality on EVERY route
    # (the scan residual's isin(NULL), the keyset hash, the bloom
    # bitmap) — drop it here so the routes stay interchangeable (the
    # membership reader rejects None loudly at its own layer, and a
    # bloom-covered table must not turn a previously-tolerated None
    # into an exception)
    keys = [k for k in keys if k is not None]
    if version is None:
        version = tl.current_version(table_dir)
    spec = bucket_spec(table_dir, version=version)
    # one resolve for the (files, stats, schema) triple (stats feed
    # the bloom-coverage decision when the layout can't prune);
    # bucket_spec/layout_buckets_per_file walk only layout entries
    files, stats, schema = tl.snapshot_resolved(table_dir, version=version)
    if schema is None:
        raise ValueError(
            f"{table_dir} has no committed schema — the stored probe "
            "type is unknown (same contract as keyset_lookup)"
        )
    off_key = (
        spec is not None and key_col is not None and key_col != spec["key"]
    )
    if off_key:
        spec = None  # probing off the bucket key: layout cannot prune
    # route is a hash-checked contract column in the registered regime
    # queries — a bucketed table probed off its key gets its OWN label
    # ('scan-off-key') so the info never mislabels it as unbucketed
    scan_route = (
        "scan-off-key"
        if off_key
        else ("scan-unbucketed" if spec is None else "scan-small-table")
    )
    # only the keyset route has a driver read; it overwrites these
    info: dict = {
        "files_total": len(files),
        "exec": "spark",
        "exec_reason": "no driver route",
    }
    if not files:
        # an empty snapshot is a legitimate all-miss for a serving
        # read — same no-try/except contract as the lookups
        info.update(
            route=scan_route, files_scanned=0,
            exec="driver", exec_reason="no files",
        )
        return spark.createDataFrame([], schema), info
    key = spec["key"] if spec is not None else key_col
    if key is None:
        raise ValueError("unbucketed table: pass key_col=")
    dtype = schema[key].dataType.simpleString()
    if spec is None:
        # the layout can't prune this probe — but committed bloom
        # sketches might. Coverage-routed like serve_range's stats
        # decision: enough non-empty files carry a sketch for the
        # probe column, plan from the log; otherwise fall through to
        # the one-scan routes (and record WHY in bloom_coverage).
        coverage, _ = _stats_coverage(files, stats, key, "bloom")
        info["bloom_coverage"] = round(coverage, 3)
        # `keys and`: an empty probe set must stay a well-formed empty
        # RESULT on every route (the scan's isin([]) contract), never
        # the membership reader's empty-probe ValueError
        if keys and coverage >= bloom_coverage_threshold:
            df, kept, total = tl.read_snapshot_membership_pruned(
                spark, table_dir, key, keys, version=version,
                _resolved=(files, stats, schema),
            )
            info["route"] = "bloom-pruned"
            info["files_scanned"] = kept
            if record_routes:
                _record_range_route(
                    table_dir, key, "bloom-pruned", version,
                    kind="point",
                )
            return df, info
    if spec is None or len(files) <= scan_file_threshold:
        info["route"] = scan_route
        info["files_scanned"] = len(files)
        if record_routes:
            _record_range_route(
                table_dir, key, scan_route, version, kind="point"
            )
            if scan_route in _POINT_MISS_ROUTES:
                # the ledger+coverage hysteresis, serve_range's shape:
                # a streak of unprunable point probes surfaces the
                # bloom prescription in the probe's own serving info
                # _resolved: the due poll reuses THIS probe's pinned
                # snapshot triple instead of paying a second
                # checkpoint-load + tail-replay per probe
                hint = membership_maintenance_due(
                    table_dir, key,
                    coverage_threshold=bloom_coverage_threshold,
                    _resolved=(files, stats),
                )
                if hint["due"]:
                    info["maintenance_hint"] = hint["fix"]
        scan = spark.read.schema(schema).parquet(*files)
        return tl.probe_residual(spark, scan, key, dtype, keys), info
    info["route"] = "keyset"
    if record_routes:
        _record_range_route(table_dir, key, "keyset", version, kind="point")
    bpf = layout_buckets_per_file(table_dir, version=version)
    by_group: dict[int, list[str]] = defaultdict(list)
    for p in files:
        by_group[_group_of_name(p)].append(p)
    out = keyset_lookup(
        spark,
        table_dir,
        keys,
        version=version,
        info=info,
        _resolved={
            "spec": spec,
            "schema": schema,
            "bpf": bpf,
            "by_group": by_group,
        },
    )
    return out, info


def serve_range(
    spark: SparkSession,
    table_dir: str,
    column: str,
    lo,
    hi,
    *,
    version: int | None = None,
    coverage_threshold: float = 0.5,
    record_routes: bool = True,
) -> tuple[DataFrame, dict]:
    """The RANGE face of the serving front door — the probe shape the
    bucket layout CANNOT serve (hash bucketing scatters ranges), so
    the decision input is per-file column STATS committed in the log,
    not the bucket spec. Same contract as ``serve()``: returns
    ``(rows, info)`` with the decision (``route``) and the pruning
    evidence (``files_scanned``/``files_total``/``stats_coverage``)
    in ``info``; the rows are identical whichever route runs.

    Routes, decided from log metadata alone (no data or footer I/O):

    - ``stats-pruned`` — at least ``coverage_threshold`` of the
      snapshot's non-empty files carry committed [min, max] for
      ``column`` (append/compact with ``stats_cols`` record them):
      plan the scan from the log via ``read_snapshot_pruned`` — files
      whose range cannot intersect [lo, hi] are never opened. On a
      range-clustered layout (``compact(sort_by=column)``, the
      OPTIMIZE-ZORDER pass) this reads O(matching files), the shape
      that stays flat at 100 TB.
    - ``full-scan`` — stats absent or too sparse to prune: the pruned
      planner would keep (nearly) every file anyway, so take the one
      pushdown snapshot scan. Parquet row-group stats still prune
      INSIDE the scan; the route records that the table log could not
      help. Low coverage is the layout's signal to run
      ``compact(sort_by=column, stats_cols=[column])`` maintenance.

    ``info["exec"]`` is ``"driver"`` when the stats-pruned route's
    kept files pass ``driver_read``'s gates (few, small, local files
    of the snapshot schema; an integral column with ``int`` bounds)
    and are read on the driver through Arrow with no Spark job, and
    ``"spark"`` otherwise; ``info["exec_reason"]`` says why.

    All resolution is pinned to one ``version`` (default: current,
    read once here), like every other serving face."""
    if version is None:
        version = tl.current_version(table_dir)
    # ONE metadata resolve for the whole call (snapshot_resolved: a
    # single checkpoint-load + tail-replay): the same (files, stats,
    # schema) triple drives the coverage decision here AND (passed
    # through) the pruned reader — chaining the three per-field
    # accessors would pay the resolve three times per probe
    files, stats, schema = tl.snapshot_resolved(table_dir, version=version)
    coverage, _ = _stats_coverage(files, stats, column, "cols")
    # only the stats-pruned route has a driver read; it overwrites these
    info: dict = {
        "files_total": len(files),
        "stats_coverage": round(coverage, 3),
        "exec": "spark",
        "exec_reason": "no driver route",
    }
    if not files:
        # an empty snapshot is a legitimate all-miss, same as serve()
        if schema is None:
            raise ValueError(
                f"{table_dir} is empty with no committed schema — "
                "nothing to shape the result"
            )
        info.update(
            route="full-scan", files_scanned=0,
            exec="driver", exec_reason="no files",
        )
        return spark.createDataFrame([], schema), info
    if coverage >= coverage_threshold:
        kept = [p for p in files if keep_file(stats, p, column, lo, hi)]
        df, reason = driver_read.read_range(
            spark, kept, schema, column, lo, hi
        )
        info.update(
            route="stats-pruned",
            files_scanned=len(kept),
            exec="spark" if df is None else "driver",
            exec_reason=reason,
        )
        if df is None:
            df, _, _ = tl.read_snapshot_pruned(
                spark, table_dir, column, lo, hi, version=version,
                _resolved=(files, stats, schema),
            )
        if record_routes:
            _record_range_route(
                table_dir, column, "stats-pruned", version
            )
        return df, info
    info["route"] = "full-scan"
    info["files_scanned"] = len(files)
    # the committed route ledger + hysteresis: low coverage stops
    # being a docstring aside ("the signal to run compact") and
    # becomes an actionable, polled hint once the workload has paid
    # the full scan MAINTENANCE_FULL_SCAN_STREAK probes in a row
    if record_routes:
        _record_range_route(table_dir, column, "full-scan", version)
        hint = maintenance_due(
            table_dir, column, coverage_threshold=coverage_threshold
        )
        if hint["due"]:
            info["maintenance_hint"] = hint["fix"]
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(*files).filter(
        (F.col(column) >= lo) & (F.col(column) <= hi)
    )
    return df, info


#: consecutive full-scan-routed range probes on one column before the
#: serving layer flags the layout for maintenance — the same
#: hysteresis shape as the CDC sink's refine_after: one cold probe is
#: noise, a STREAK is the workload telling us the layout is wrong
MAINTENANCE_FULL_SCAN_STREAK = 3

#: bound on the ledger walk when computing a streak: the walk stops
#: as soon as it has seen enough MATCHING entries (column + kind) to
#: decide, and this hard cap on total entries examined keeps it O(1)
#: in serving history even when the other probe family dominates the
#: shared ledger. A ledger where matching entries are rarer than
#: 1-in-(cap/target) can under-count the streak — the documented
#: trade for never walking unbounded history.
_LEDGER_WALK_WINDOW = 512


def _serving_ledger_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_serving_log")


def _record_range_route(
    table_dir: str,
    column: str,
    route: str,
    version: int | None,
    kind: str = "range",
) -> None:
    """Append one meta-only entry to the table's SERVING LEDGER — a
    side table-log (``_serving_log/`` inside the table dir, no data
    files) recording which route each probe took, the hysteresis
    evidence the maintenance polls fold. ``kind`` separates the two
    probe families sharing the ledger (``range`` probes, whose fix is
    ``compact(sort_by, stats_cols)``; ``point`` probes, whose fix is
    ``bloom_cols``) so one family's misses never trip the other's
    streak. A separate log so serving reads never contend with the
    table's own writers on the main log's optimistic concurrency.

    BEST-EFFORT by design: the ledger is advisory telemetry for the
    maintenance hysteresis, and a serve() call is a READ — it must
    never fail because the ledger could not be written (a read-only
    mount/snapshot raises OSError from the commit path; a probe burst
    can exhaust the optimistic retries). A dropped entry at worst
    delays a maintenance hint by one probe."""
    ledger = _serving_ledger_dir(table_dir)

    def derive(base: int | None) -> dict:
        return {
            "add": [],
            "op": "serve-route",
            "meta": {
                "column": column,
                "route": route,
                "kind": kind,
                "layout_version": version,
            },
        }

    try:
        tl.commit_with_retry(ledger, derive)
    except (OSError, tl.ConcurrentCommitError):
        pass


def _route_streak(
    table_dir: str,
    column: str,
    *,
    misses: tuple[str, ...] = ("full-scan",),
    kind: str = "range",
    target: int = MAINTENANCE_FULL_SCAN_STREAK,
) -> int:
    """Trailing consecutive miss-routed probes for ``column`` of the
    given ``kind`` in the serving ledger (a pruned-route entry for the
    SAME column+kind resets it; other columns' and the other kind's
    probes are transparent). Entries written before the ledger carried
    a ``kind`` are all range probes. Walks newest-first and stops as
    soon as it can decide — at the CALLER'S ``target`` (a custom
    ``streak=`` threshold above the default must be reachable, so the
    saturation point is the caller's, not the module constant's) or
    the hard walk cap — O(1) in serving history."""
    ledger = _serving_ledger_dir(table_dir)
    latest = tl.current_version(ledger)
    if latest is None:
        return 0
    streak = 0
    lo = max(0, latest - _LEDGER_WALK_WINDOW)
    for v in range(latest, lo - 1, -1):
        entry = tl._read_entry(ledger, v)
        if entry.get("op") != "serve-route":
            continue
        meta = entry.get("meta") or {}
        if meta.get("column") != column:
            continue
        if meta.get("kind", "range") != kind:
            continue
        if meta.get("route") not in misses:
            break
        streak += 1
        if streak >= target:
            break
    return streak


def maintenance_due(
    table_dir: str,
    column: str,
    *,
    coverage_threshold: float = 0.5,
    streak: int = MAINTENANCE_FULL_SCAN_STREAK,
) -> dict:
    """The ACTIONABLE side of serve_range's ``full-scan`` route: True
    when the serving ledger shows ``streak`` consecutive full-scan-
    routed range probes on ``column`` AND the current snapshot's
    committed-stats coverage for it is still below
    ``coverage_threshold`` — i.e. the workload keeps paying for a
    layout the log cannot prune, and nobody has fixed it yet. Running
    ``compact(table_dir, sort_by=column, stats_cols=[column])``
    raises the coverage, which clears the hint IMMEDIATELY (no need
    to wait for the next probe to re-route). Poll this from the
    orchestration layer the way deployments schedule OPTIMIZE."""
    files, stats, _ = tl.snapshot_resolved(table_dir)
    coverage, _ = _stats_coverage(files, stats, column, "cols")
    got = _route_streak(table_dir, column, target=streak)
    due = got >= streak and coverage < coverage_threshold
    return {
        "due": due,
        "full_scan_streak": got,
        "stats_coverage": round(coverage, 3),
        "fix": (
            f"compact(table_dir, sort_by={column!r}, "
            f"stats_cols=[{column!r}])"
        ),
    }


#: point-probe routes that mean "the layout could not prune and no
#: committed sketch stepped in" — the membership analog of the range
#: face's full-scan
_POINT_MISS_ROUTES = ("scan-unbucketed", "scan-off-key")


def membership_maintenance_due(
    table_dir: str,
    column: str,
    *,
    coverage_threshold: float = 0.5,
    streak: int = MAINTENANCE_FULL_SCAN_STREAK,
    _resolved: tuple | None = None,
) -> dict:
    """The ACTIONABLE side of serve()'s scan fallbacks for point
    probes — the membership twin of ``maintenance_due``: True when
    the serving ledger shows ``streak`` consecutive scan-routed point
    probes on ``column`` (``scan-unbucketed``/``scan-off-key``, the
    routes where neither the bucket layout nor a committed bloom could
    prune) AND the snapshot's bloom-sketch coverage for it is still
    below ``coverage_threshold``. The prescription is
    ``add_bloom_index`` — a stats-only commit sketching the EXISTING
    files in place (one read pass, zero write amplification, and the
    only fix a bucketed layout can take: a compact would destroy its
    b#####-file grouping); ``compact(..., bloom_cols=[column])``
    clears the same signal when a rewrite is happening anyway, as do
    future appends with ``bloom_cols``. Either way the hint clears
    IMMEDIATELY. Range misses on the same column never trip this (the
    ledger records probe kind): their fix is sort+stats, not a
    sketch.

    ``_resolved`` — an already-resolved (files, stats, ...) tuple
    from the caller's own routing (serve() passes its pinned triple),
    so a hot serving path never pays the checkpoint-load +
    tail-replay twice per probe just to compute the due signal."""
    if _resolved is not None:
        files, stats = _resolved[0], _resolved[1]
    else:
        files, stats, _ = tl.snapshot_resolved(table_dir)
    coverage, _ = _stats_coverage(files, stats, column, "bloom")
    got = _route_streak(
        table_dir, column, misses=_POINT_MISS_ROUTES, kind="point",
        target=streak,
    )
    due = got >= streak and coverage < coverage_threshold
    return {
        "due": due,
        "scan_streak": got,
        "bloom_coverage": round(coverage, 3),
        "fix": f"add_bloom_index(table_dir, [{column!r}])",
    }


def serve_range_batch(
    spark: SparkSession,
    table_dir: str,
    column: str,
    ranges: list[tuple],
    *,
    version: int | None = None,
    coverage_threshold: float = 0.5,
    record_routes: bool = True,
) -> tuple[DataFrame, dict]:
    """N range probes amortized over ONE metadata resolve and ONE
    scan — the batch face of ``serve_range``, the same amortization
    ``ann_ivf_index_batch`` applies to IVF probes: per-probe planning
    cost is what kills a serving tier at high QPS, so a batch of
    probes must pay the checkpoint-load + tail-replay once, union the
    per-range kept-file lists from that single resolved stats triple,
    scan the union once, and tag rows by range id.

    ``ranges`` is a list of (lo, hi); the result carries every base
    column plus ``range_id`` (the 0-based position in ``ranges``) —
    a row matching k ranges appears k times, once per matching id
    (exactly the union of the per-range ``serve_range`` results).
    Tagging is an EXPLODE of the literal (range_id, lo, hi) struct
    array followed by the containment filter — no join operator at
    all, so the whole scan+tag stays inside one WholeStageCodegen
    span (a broadcast join here would plan as BroadcastNestedLoopJoin,
    which the plan audit bans for good reason; the explode has the
    same rows x N cost with none of the exchange).

    ``info`` carries the route, ``files_scanned`` (the union's size),
    ``files_total``, ``stats_coverage``, and
    ``files_scanned_per_probe_sum`` — what N independent
    ``serve_range`` calls would have opened in total; the gap between
    the two is the amortization evidence the regime query
    hash-checks. Routes mirror ``serve_range``: ``stats-pruned`` when
    coverage clears the threshold (each range prunes independently,
    union of survivors scanned once), else ``full-scan``. Each batch
    records ONE ledger entry per route decision (not N), so the
    maintenance hysteresis sees batch probes as one workload event."""
    if not ranges:
        raise ValueError("serve_range_batch: empty ranges list")
    if version is None:
        version = tl.current_version(table_dir)
    files, stats, schema = tl.snapshot_resolved(table_dir, version=version)
    coverage, _ = _stats_coverage(files, stats, column, "cols")
    info: dict = {
        "files_total": len(files),
        "stats_coverage": round(coverage, 3),
        "n_ranges": len(ranges),
    }
    range_rows = [
        (i, lo, hi) for i, (lo, hi) in enumerate(ranges)
    ]

    def _tag(scan: DataFrame) -> DataFrame:
        rng = F.array(*[
            F.struct(
                F.lit(i).cast("long").alias("range_id"),
                F.lit(lo).alias("_lo"),
                F.lit(hi).alias("_hi"),
            )
            for i, lo, hi in range_rows
        ])
        return (
            scan.select("*", F.explode(rng).alias("_r"))
            .filter(
                (F.col(column) >= F.col("_r._lo"))
                & (F.col(column) <= F.col("_r._hi"))
            )
            .withColumn("range_id", F.col("_r.range_id"))
            .drop("_r")
        )

    if not files:
        if schema is None:
            raise ValueError(
                f"{table_dir} is empty with no committed schema — "
                "nothing to shape the result"
            )
        info["route"] = "full-scan"
        info["files_scanned"] = 0
        info["files_scanned_per_probe_sum"] = 0
        from pyspark.sql.types import LongType

        empty = spark.createDataFrame([], schema).withColumn(
            "range_id", F.lit(None).cast(LongType())
        )
        return empty, info
    reader = spark.read if schema is None else spark.read.schema(schema)
    if coverage >= coverage_threshold:
        union: dict[str, None] = {}
        per_probe_sum = 0
        for _, lo, hi in range_rows:
            for p in files:
                if keep_file(stats, p, column, lo, hi):
                    union[p] = None
                    per_probe_sum += 1
        info["route"] = "stats-pruned"
        info["files_scanned"] = len(union)
        info["files_scanned_per_probe_sum"] = per_probe_sum
        if record_routes:
            _record_range_route(
                table_dir, column, "stats-pruned", version
            )
        if not union:
            scan = reader.parquet(files[0]).filter(F.lit(False))
        else:
            scan = reader.parquet(*union)
        return _tag(scan), info
    info["route"] = "full-scan"
    info["files_scanned"] = len(files)
    info["files_scanned_per_probe_sum"] = len(files) * len(ranges)
    if record_routes:
        _record_range_route(table_dir, column, "full-scan", version)
        hint = maintenance_due(
            table_dir, column, coverage_threshold=coverage_threshold
        )
        if hint["due"]:
            info["maintenance_hint"] = hint["fix"]
    return _tag(reader.parquet(*files)), info


def _agg_out_fields(
    schema, key: str, aggs: list[tuple[str, str, str]]
) -> list:
    """[key field] + one field per aggregate under Acero's result
    dtypes — the ONE output-schema builder shared by
    ``bucketed_aggregate``, ``colocated_aggregate_join``, and
    ``serve_aggregate``'s empty branch, so the 'route is invisible in
    the output schema' guarantee cannot drift apart across them."""
    from pyspark.sql.types import StructField

    spark_types = {f.name: f for f in schema.fields}
    return [spark_types[key]] + [
        StructField(out, _acero_out_type(fn, spark_types[col].dataType), True)
        for col, fn, out in aggs
    ]


def _acero_out_type(fn: str, src):
    """Acero result dtypes: counts are int64 whatever the input;
    mean/stddev/variance promote to float64; sum/product promote to
    the 64-bit family (int->int64, float32->double — probed, not
    assumed: declaring the source type would make the safe cast raise
    on the first overflowing group); min/max keep the source type."""
    from pyspark.sql.types import DoubleType, LongType

    if fn in ("count", "count_distinct"):
        return LongType()
    if fn in ("mean", "stddev", "variance", "approximate_median"):
        return DoubleType()
    if fn in ("sum", "product"):
        s = src.simpleString()
        if s in ("tinyint", "smallint", "int", "bigint"):
            return LongType()
        if s in ("float", "double"):
            return DoubleType()
        return src
    return src


def _group_agg(tbl, key: str, aggs: list[tuple[str, str, str]]):
    """Acero ``group_by(key)`` of one bucket group's rows, aggregate
    columns renamed from Acero's ``{col}_{fn}`` to their out names."""
    got = tbl.group_by(key).aggregate([(col, fn) for col, fn, _ in aggs])
    rename = {f"{col}_{fn}": out for col, fn, out in aggs}
    return got.rename_columns([rename.get(n, n) for n in got.column_names])


def _join_schema(left: list, lkey: str, rights: list[tuple], how: str):
    """The ONE output-column rule of every co-located join, and of
    ``serve_join``'s Spark routes: the left fields, then each right
    side's ``(schema, key)`` non-key fields in order. Semi/anti output
    the left rows verbatim. Right fields are nullable where ``how``
    can leave them unmatched (left, full); for ``full`` the key is the
    coalesced key, first, and every other field is nullable. A right
    non-key name that collides with an earlier output column is
    refused rather than silently suffixed."""
    from pyspark.sql.types import StructField, StructType

    def nullable(fields):
        return [StructField(f.name, f.dataType, True) for f in fields]

    out = list(left)
    for schema, key in rights:
        extra = [f for f in schema.fields if f.name != key]
        overlap = {f.name for f in extra} & {f.name for f in out}
        if overlap:
            raise ValueError(
                f"non-key column name overlap {sorted(overlap)}: rename "
                "before joining"
            )
        if how not in ("left_semi", "left_anti"):
            out += nullable(extra) if how in ("left", "full") else extra
    if how == "full":
        out = [f for f in out if f.name == lkey] + nullable(
            f for f in out if f.name != lkey
        )
    return StructType(out)


def _run_wave(
    spark: SparkSession, tasks: list[tuple], schemas: list, out_schema, kernel
) -> DataFrame:
    """The ONE co-located task runner. ``tasks`` are the planner's
    ``(group, files_0, ..., files_{N-1})`` rows; each becomes one
    routing row (``_routing_relation``: one task per row, zero
    exchange), and its task reads every side's files (bare paths or
    skew-split row-group ranges, ``_read_table_spec``) padded to that
    side's committed ``schemas[i]`` (``_pad_table``; a side with no
    files in the group reads as a schema-true empty table), calls
    ``kernel(tables) -> pa.Table`` — the operator's whole per-group
    work, Arrow end to end — and ships the result selected and cast to
    ``out_schema``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(out_schema)
    reads = [to_arrow_schema(s) for s in schemas]

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            for row in batch.to_pylist():
                tables = [
                    pa.concat_tables(
                        [_pad_table(_read_table_spec(p), s) for p in paths]
                    )
                    if paths
                    else s.empty_table()
                    for paths, s in zip(row["files"], reads)
                ]
                got = kernel(tables)
                if got.num_rows:
                    yield from got.select(target.names).cast(
                        target
                    ).to_batches()

    return _routing_relation(
        spark,
        [(t[0], list(t[1:])) for t in tasks],
        "grp int, files array<array<string>>",
    ).mapInArrow(run, out_schema)


def bucketed_aggregate(
    spark: SparkSession,
    table_dir: str,
    aggs: list[tuple[str, str, str]],
    *,
    version: int | None = None,
    _side: dict | None = None,
) -> DataFrame:
    """Per-key aggregation WITHOUT an exchange: the table is bucketed
    on the key, so every row of a key lives in one file group — each
    task aggregates its group to completion locally (Acero group_by)
    and emits final results. No partial/final split, no shuffle: the
    map-side-complete aggregation Spark's catalog bucketing enables,
    derived here from the table log's committed spec. ``aggs`` is
    ``[(col, arrow_fn, out_name), ...]`` (e.g. ``("cents", "sum",
    "spend_cents")``). Spec, schema, and file list all resolve at ONE
    version (``version``, default the current version read once here)
    — a concurrent commit cannot mix snapshots mid-plan.

    ``_side`` (internal, passed by ``serve_aggregate``) carries the
    table's already-resolved ``_side_meta`` for the same version so
    the routing caller pays the checkpoint-load + tail-replay once."""
    meta = _side or _side_meta(table_dir, version)
    tasks = _plan_groups([table_dir], [meta], "inner")
    key = meta["spec"]["key"]
    from pyspark.sql.types import StructType

    out_schema = StructType(_agg_out_fields(meta["schema"], key, aggs))
    return _run_wave(
        spark, tasks, [meta["schema"]], out_schema,
        lambda t: _group_agg(t[0], key, aggs),
    )


def colocated_multi_join(
    spark: SparkSession,
    dirs: list[str],
    how: str = "inner",
    *,
    max_task_rows: int | None = None,
) -> DataFrame:
    """Join N bucketed table-log tables on their committed bucket
    keys in ONE task wave — the star-on-one-key case (fact +
    satellites all bucketed by the same entity): each aligned bucket
    group is read from every table and chained through Acero hash
    joins locally, so however many tables participate, no table data
    crosses an exchange and no extra join stages appear. The first
    table anchors: every other table joins its own committed key
    against the anchor's key column. ``how``: ``inner`` plans only
    groups populated in EVERY table; ``left`` keeps every anchor row
    (the fact-with-optional-satellites star), plans every
    anchor-populated group, reads missing satellite sides as
    schema-true empty tables, and null-fills their columns. Output:
    anchor columns, then each table's non-key columns in argument
    order.

    ``max_task_rows`` is the same skew relief as the pair join's: a
    hot bucket group splits into row-group-ranged ANCHOR chunks,
    each chunk joining the group's full satellite file lists — every
    output row is anchor-row-local for both join types, so the union
    of chunk joins is the join."""
    if how not in ("inner", "left"):
        raise ValueError(f"how={how!r} not in ['inner', 'left']")
    if len(dirs) < 2:
        raise ValueError("colocated_multi_join needs >= 2 tables")
    # one pinned version per table for the whole plan (spec, grouping,
    # files, schema), resolved with ONE checkpoint-load + tail-replay
    # per table (_side_meta)
    metas = [_side_meta(d, None) for d in dirs]
    tasks = _plan_groups(dirs, metas, how)
    if max_task_rows is not None:
        tasks = _split_skewed_groups(tasks, max_task_rows)
    keys = [m["spec"]["key"] for m in metas]
    schemas = [m["schema"] for m in metas]
    out_schema = _join_schema(
        schemas[0].fields, keys[0], list(zip(schemas[1:], keys[1:])), how
    )
    join_type = _ACERO_JOIN[how]

    def kernel(tables):
        joined = tables[0]
        for t, key in zip(tables[1:], keys[1:]):
            if not joined.num_rows:
                break
            joined = joined.join(
                t, keys=keys[0], right_keys=key, join_type=join_type
            )
        return joined

    return _run_wave(spark, tasks, schemas, out_schema, kernel)


def _split_skewed_groups(tasks: list[tuple], max_rows: int) -> list[tuple]:
    """Skew relief for the SPJ: a bucket group whose ANCHOR side (the
    task's first file list) exceeds ``max_rows`` splits into several
    tasks at ROW-GROUP granularity — each chunk of anchor row groups
    pairs with the group's FULL other-side file lists, so every anchor
    row still meets the complete other sides exactly once and the
    union of chunk joins equals the unsplit join (valid for inner/
    left/semi/anti, where output rows are anchor-row-local; full outer
    would duplicate right-unmatched rows and is refused upstream).
    Chunk specs encode as ``path#start:end`` (half-open row-group
    range); whole files stay bare paths. Row counts come from parquet
    footers, read driver-side only when splitting is requested — at
    warehouse scale the same numbers would ride the commit's per-file
    stats."""
    import pyarrow.parquet as pq

    def _encode(chunk: list[tuple[str, int]]) -> list[str]:
        specs: list[str] = []
        cur, s, e = None, 0, 0
        for p, i in chunk:
            if p == cur and i == e:
                e += 1
            else:
                if cur is not None:
                    specs.append(f"{cur}#{s}:{e}")
                cur, s, e = p, i, i + 1
        specs.append(f"{cur}#{s}:{e}")
        return specs

    out: list[tuple] = []
    for g, lf, *rest in tasks:
        units: list[tuple[str, int, int]] = []
        total = 0
        for p in lf:
            md = pq.ParquetFile(p).metadata
            for i in range(md.num_row_groups):
                n = md.row_group(i).num_rows
                units.append((p, i, n))
                total += n
        if total <= max_rows or len(units) <= 1:
            out.append((g, list(lf), *rest))
            continue
        chunk: list[tuple[str, int]] = []
        rows = 0
        for p, i, n in units:
            if chunk and rows + n > max_rows:
                out.append((g, _encode(chunk), *rest))
                chunk, rows = [], 0
            chunk.append((p, i))
            rows += n
        if chunk:
            out.append((g, _encode(chunk), *rest))
    return out


def prune_tasks_by_stats(
    tasks: list[tuple],
    side: int,
    table_dir: str,
    column: str,
    lo,
    hi,
    *,
    keep_empty: bool = False,
    version: int | None = None,
    _stats: dict | None = None,
) -> tuple[list[tuple], int, int]:
    """Drop side ``side``'s files (0 = left, 1 = right, in the
    ``colocated_plan`` task rows; ``table_dir`` is that side's table)
    whose committed [min, max] for ``column`` cannot intersect
    [lo, hi] — zone-map pruning INSIDE bucket groups, planned from the
    log with zero read-time footer I/O (the same losslessness rules as
    ``read_snapshot_pruned``: stats-less files are kept, committed-
    empty files are dropped, and the caller still applies the exact
    row filter, so it is filter-then-join on that input). A group
    whose side prunes to nothing plans no task unless ``keep_empty``
    (the join type still emits the other side's rows there).
    ``version`` pins the stats to the snapshot the task plan was built
    from; ``_stats`` carries an already-resolved stats map for that
    version. Returns ``(tasks, files_kept, files_total)``."""
    stats = (
        _stats
        if _stats is not None
        else tl.snapshot_file_stats(table_dir, version=version)
    )
    out: list[tuple] = []
    kept_n = total = 0
    for task in tasks:
        files = task[1 + side]
        kept = [p for p in files if keep_file(stats, p, column, lo, hi)]
        total += len(files)
        kept_n += len(kept)
        if kept or keep_empty:
            out.append(task[: 1 + side] + (kept,) + task[2 + side :])
    return out, kept_n, total


def colocated_bucket_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    how: str = "inner",
    *,
    max_task_rows: int | None = None,
    left_range: tuple[str, object, object] | None = None,
    right_range: tuple[str, object, object] | None = None,
    left_version: int | None = None,
    right_version: int | None = None,
    _sides: tuple[dict, dict] | None = None,
) -> DataFrame:
    """Join two bucketed table-log tables on their committed bucket
    keys with zero shuffle of table data. ``how`` covers the full
    bucketed-join surface: ``inner``, ``left`` (outer), ``full``
    (outer), ``left_semi``, and ``left_anti`` — the last being the
    100 TB decontamination serving shape (corpus anti-joined against
    a blocklist, both bucketed, no exchange of corpus bytes).

    The plan is ``colocated_plan``'s task rows run by the one task
    runner (``_run_wave``): each task reads its group's files from
    BOTH tables and hash-joins them with Acero. Equal keys share a
    bucket by construction (same hash, same n), so the union of
    per-group joins IS the join: an unmatched left row is unmatched
    in its OWN bucket or nowhere. Output columns (``_join_schema``):
    all left columns, then (except semi/anti, whose output is left
    rows verbatim) the right columns minus its key, null-filled where
    the join type leaves them unmatched; for ``full`` the key column
    is the Acero-coalesced key, so right-only rows carry their key
    under the left name. The committed snapshot schemas are the
    source of truth; overlapping non-key names are refused rather
    than silently suffixed.

    ``max_task_rows`` opts into SKEW RELIEF: a hot bucket whose left
    side exceeds it splits into several row-group-ranged tasks, each
    joining against the group's full right side (see
    ``_split_skewed_groups``) — the SPJ analogue of AQE's skew-join
    split, planned from layout metadata instead of runtime shuffle
    sizes. Refused for ``full`` (right-unmatched rows would
    duplicate per chunk).

    ``left_range=(column, lo, hi)`` composes ZONE-MAP pruning with
    the layout: left files whose committed stats cannot intersect
    the range are never read (``prune_tasks_by_stats``), and the
    exact inclusive-range filter is applied to the left input
    Arrow-side before the join, so the result equals filtering the
    left table first — layout locates the KEY, stats locate the
    RANGE, one planner uses both. ``right_range`` is the symmetric
    twin on the right input (filter-then-join semantics: for a left
    outer join, left rows whose matches were filtered out null-fill
    — exactly as if the right table had been filtered first)."""
    # the ENTIRE plan — specs, groupings, file lists, stats, schemas —
    # resolves at these two versions, read once here (or PASSED in by
    # a router like serve_join that already resolved them, so its
    # decision and the executed join can never straddle a commit)
    metas = _sides or (
        _side_meta(left_dir, left_version),
        _side_meta(right_dir, right_version),
    )
    tasks = colocated_plan(left_dir, right_dir, how, _sides=metas)
    ranges = (left_range, right_range)
    for side, (d, rng) in enumerate(zip((left_dir, right_dir), ranges)):
        if rng is not None:
            tasks, _, _ = prune_tasks_by_stats(
                tasks, side, d, *rng,
                keep_empty=not _needs(how, side),
                _stats=metas[side]["stats"],
            )
    if max_task_rows is not None:
        if how == "full":
            raise ValueError(
                "max_task_rows cannot split a full outer join — "
                "right-unmatched rows would emit once per chunk"
            )
        tasks = _split_skewed_groups(tasks, max_task_rows)
    (lkey, lschema), (rkey, rschema) = (
        (m["spec"]["key"], m["schema"]) for m in metas
    )
    out_schema = _join_schema(lschema.fields, lkey, [(rschema, rkey)], how)
    join_type = _ACERO_JOIN[how]

    def kernel(tables):
        import pyarrow.compute as pc

        left, right = (
            t
            if rng is None
            else t.filter(
                (pc.field(rng[0]) >= rng[1]) & (pc.field(rng[0]) <= rng[2])
            )
            for t, rng in zip(tables, ranges)
        )
        return left.join(
            right, keys=lkey, right_keys=rkey, join_type=join_type
        )

    return _run_wave(spark, tasks, [lschema, rschema], out_schema, kernel)


def colocated_aggregate_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    aggs: list[tuple[str, str, str]],
    how: str = "inner",
) -> DataFrame:
    """FUSED per-key rollup + dimension join in ONE task wave: the
    left table is aggregated to completion inside each bucket task
    (the bucket holds every row of each of its keys, so per-key
    aggregates finalize locally — ``bucketed_aggregate``'s argument)
    and the result hash-joins the right table's same bucket group in
    the same task (``colocated_bucket_join``'s argument): a
    fact-rollup-joins-dimension pass (the registered
    ``colocated_rollup_join`` query) with ZERO exchange of the fact
    rows, rollups, or dimension rows: composing the two existing
    operators would still exchange the intermediate rollup (or
    re-write it as a third bucketed table); fusing them moves nothing
    but the per-group metadata row.

    ``aggs`` is ``[(left_col, arrow_fn, out_name), ...]`` (Acero's agg
    vocabulary, as in ``bucketed_aggregate``). ``how``: ``inner``
    (right rows without left keys vanish)
    or ``left`` (every aggregated left key survives, right columns
    null-filled). Output columns: key, the aggregates, then the right
    table's non-key columns. At 100 TB this is the fact-rollup-join
    with one metadata-sized exchange in the whole plan."""
    if how not in ("inner", "left"):
        raise ValueError(f"how={how!r} not in ['inner', 'left']")
    metas = (_side_meta(left_dir, None), _side_meta(right_dir, None))
    tasks = colocated_plan(left_dir, right_dir, how, _sides=metas)
    (lkey, lschema), (rkey, rschema) = (
        (m["spec"]["key"], m["schema"]) for m in metas
    )
    out_schema = _join_schema(
        _agg_out_fields(lschema, lkey, aggs), lkey, [(rschema, rkey)], how
    )
    join_type = _ACERO_JOIN[how]
    return _run_wave(
        spark, tasks, [lschema, rschema], out_schema,
        lambda t: _group_agg(t[0], lkey, aggs).join(
            t[1], keys=lkey, right_keys=rkey, join_type=join_type
        ),
    )


#: router vocabulary -> (Acero fn, Spark fn) for serve_aggregate: only
#: names whose semantics MATCH across the two routes are admitted
#: (count/count_distinct are non-null counts on both; mean promotes to
#: float64 on both; stddev/variance are excluded — ddof conventions
#: differ and a route change must never change the answer).
_SERVE_AGGS = {
    "sum": "sum",
    "count": "count",
    "min": "min",
    "max": "max",
    "mean": "avg",
    "count_distinct": "count_distinct",
}


def serve_aggregate(
    spark: SparkSession,
    table_dir: str,
    group_col: str,
    aggs: list[tuple[str, str, str]],
    *,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """The AGGREGATE face of the serving front door: grouped
    aggregation over a table-log table, routed by whether the layout
    can carry it exchange-free. Grouping BY the committed bucket key
    routes to ``bucketed_aggregate`` (every key's rows live in one
    bucket group, so per-key aggregates finalize inside their task —
    route ``bucketed-local``, zero exchange of fact rows); grouping by
    any other column — or an unbucketed table — routes to an ordinary
    partial/final shuffle aggregate over the snapshot scan (route
    ``shuffle-agg``, the only correct shape when rows of a group span
    files). ``aggs`` is ``[(col, fn, out)]`` with ``fn`` from the
    route-invariant vocabulary (sum/count/min/max/mean/
    count_distinct): a route change can never change the answer, and
    the regime queries hash-check the route itself."""
    bad = [fn for _, fn, _ in aggs if fn not in _SERVE_AGGS]
    if bad:
        raise ValueError(
            f"unsupported agg fns {sorted(set(bad))} — route-invariant "
            f"vocabulary is {sorted(_SERVE_AGGS)}"
        )
    # ONE checkpoint-load + tail-replay feeds BOTH routes
    # (serve()/serve_range's single-resolve discipline)
    meta = _side_meta(table_dir, version)
    spec, files, schema = meta["spec"], meta["files"], meta["schema"]
    if schema is None:
        raise ValueError(f"{table_dir} needs a committed schema")
    info: dict = {}
    if spec is not None and spec["key"] == group_col:
        info["route"] = "bucketed-local"
        return bucketed_aggregate(spark, table_dir, aggs, _side=meta), info
    info["route"] = "shuffle-agg"
    if not files:
        from pyspark.sql.types import StructType

        return (
            spark.createDataFrame(
                [], StructType(_agg_out_fields(schema, group_col, aggs))
            ),
            info,
        )
    scan = spark.read.schema(schema).parquet(*files)
    exprs = []
    for col, fn, out in aggs:
        e = getattr(F, _SERVE_AGGS[fn])(col)
        # match bucketed_aggregate's (Acero's) result dtypes so the
        # route is invisible in the output schema too
        target = _acero_out_type(
            fn, scan.schema[col].dataType
        ).simpleString()
        exprs.append(e.cast(target).alias(out))
    return scan.groupBy(group_col).agg(*exprs), info


#: the join router's broadcast cutoff, in COMPRESSED snapshot bytes
#: (the same estimator Spark's own autoBroadcastJoinThreshold applies
#: to file relations). 32 MB is deliberately conservative: at the
#: measured A/B scales (the SPJ vs shuffle and fused rollup+join
#: A/Bs, NOTES.md Round-8 and driver round 9 progress)
#: a dimension side this small broadcasts in one stage with no
#: Python workers and beats BOTH alternatives at every SF, while a
#: side past it stops being "dimension-sized" and the choice falls
#: to layout alignment.
SERVE_JOIN_BROADCAST_BYTES = 32 << 20


def serve_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    how: str = "inner",
    *,
    on: tuple[str, str] | None = None,
    broadcast_bytes: int = SERVE_JOIN_BROADCAST_BYTES,
) -> tuple[DataFrame, dict]:
    """The JOIN face of the serving front door: join two table-log
    tables, routed by layout + side sizes to the execution shape the
    measurements say wins there. Returns ``(rows, info)`` with the
    decision in ``info["route"]``:

    - ``broadcast`` — one side is dimension-sized (committed snapshot
      bytes <= ``broadcast_bytes``): scan both snapshots and
      ``broadcast()`` the small side — ONE JVM stage, no Python
      workers, and the big side is never exchanged (the candy pricing
      join's own shape). Precedence over colocated even when layouts
      align: the co-located plan would pay per-group Arrow-task
      overhead to avoid an exchange the broadcast plan doesn't do
      either (the fixed cost the fused rollup+join A/B measured
      pricing every SPJ form below its crossover; NOTES.md, driver
      round 9). Sides: the right side broadcasts for
      inner/left/left_semi/left_anti, the left only for inner (Spark
      cannot broadcast the preserved side); full outer never
      broadcasts.
    - ``colocated`` — both sides are big but share the layout (same
      bucket count, same key type, both committed): the zero-exchange
      ``colocated_bucket_join``, the shape whose advantage GROWS with
      scale (crossover a decade earlier fused, sf1 in the A/B).
    - ``shuffle`` — no dimension-sized side and no shared layout: the
      plain Catalyst join over both snapshot scans (shuffle on the
      keys), the only correct general shape. This route is
      DECLARATIVE — serve_join forces nothing, so Catalyst/AQE may
      still upgrade it to a broadcast at runtime if a side's own
      statistics prove it tiny (the router only forces what committed
      metadata already proves). Routing never changes the answer: all
      three routes produce colocated_bucket_join's output-column
      contract (left columns, then right columns minus its key;
      coalesced key for full outer).

    ``on=(left_col, right_col)`` names the join keys when a side has
    no committed bucket spec (the colocated route additionally
    requires the keys to BE the bucket keys). All metadata — specs,
    schemas, file lists, byte sizes — resolves once, at each side's
    current version."""
    if how not in ("inner", "left", "full", "left_semi", "left_anti"):
        raise ValueError(
            f"how={how!r}: the serving join surface is inner/left/full/"
            "left_semi/left_anti (colocated_bucket_join's contract)"
        )
    # ONE checkpoint-load + tail-replay per side (_side_meta) feeds
    # the route decision AND — passed through — the colocated join's
    # plan, so the decision and the executed join can never straddle
    # a commit (the separate per-fact accessors paid the resolve 2-4x
    # per side; serve()/serve_range's single-resolve discipline,
    # applied to the join face)
    lmeta = _side_meta(left_dir, None)
    rmeta = _side_meta(right_dir, None)
    ls, rs = lmeta["spec"], rmeta["spec"]
    lfiles, lschema = lmeta["files"], lmeta["schema"]
    rfiles, rschema = rmeta["files"], rmeta["schema"]
    if lschema is None or rschema is None:
        raise ValueError("both tables must carry committed schemas")
    if on is not None:
        lkey, rkey = on
    elif ls is not None and rs is not None:
        lkey, rkey = ls["key"], rs["key"]
    else:
        raise ValueError(
            "a side has no committed bucket spec: pass on=(left_col, "
            "right_col)"
        )
    out_schema = _join_schema(lschema.fields, lkey, [(rschema, rkey)], how)
    lbytes = sum(os.path.getsize(p) for p in lfiles)
    rbytes = sum(os.path.getsize(p) for p in rfiles)
    info: dict = {
        "left_bytes": lbytes,
        "right_bytes": rbytes,
        "left_files": len(lfiles),
        "right_files": len(rfiles),
    }
    bcast = None
    if how in ("inner", "left", "left_semi", "left_anti") and (
        rbytes <= broadcast_bytes
    ):
        bcast = "right"
    elif how == "inner" and lbytes <= broadcast_bytes:
        bcast = "left"
    colocatable = (
        ls is not None
        and rs is not None
        and ls["n"] == rs["n"]
        and lkey == ls["key"]
        and rkey == rs["key"]
        and lschema[lkey].dataType == rschema[rkey].dataType
    )
    if bcast is not None:
        info["route"] = "broadcast"
        info["broadcast_side"] = bcast
    elif colocatable:
        info["route"] = "colocated"
        # pass the resolved sides through: the route decision and the
        # executed join describe the SAME snapshots, and the join pays
        # no second resolve
        return (
            colocated_bucket_join(
                spark,
                left_dir,
                right_dir,
                how,
                _sides=(lmeta, rmeta),
            ),
            info,
        )
    else:
        info["route"] = "shuffle"

    def _scan(files, schema):
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*files)

    left = _scan(lfiles, lschema)
    right = _scan(rfiles, rschema)
    lside = F.broadcast(left) if bcast == "left" else left
    rside = F.broadcast(right) if bcast == "right" else right
    joined = lside.join(rside, left[lkey] == right[rkey], how)
    # the co-located route's output columns, by name (_join_schema)
    cols = {f.name: right[f.name] for f in rschema.fields}
    cols.update({f.name: left[f.name] for f in lschema.fields})
    if how == "full":
        cols[lkey] = F.coalesce(left[lkey], right[rkey]).alias(lkey)
    return joined.select(*(cols[n] for n in out_schema.names)), info
