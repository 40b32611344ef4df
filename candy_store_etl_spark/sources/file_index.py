"""Metadata-driven file pruning — a minimal Delta/Iceberg-style file
index over plain parquet directories.

Spark's parquet reader skips ROW GROUPS via pushed footer statistics,
but the file LISTING itself is not pruned for non-hive-partitioned
data: every file is opened for its footer even when its [min, max]
range cannot match. Table formats fix this with a stats manifest
consulted at planning time; this module is that consultation for a
directory of parquet files whose layout was produced by
``compact_files(sort_by=[key])`` or the Z-order pass — disjoint
per-file key ranges make file-level stats decisive.

At 100 TB the stats come from a persisted manifest (one row per file,
written at commit time), not a footer sweep; ``write_manifest`` /
``read_pruned`` model both halves. The footer sweep itself reads ~8 KB
per file of metadata — still far cheaper than scheduling a task per
file — and is driver-side metadata work, the same place Delta reads
its transaction log.

Footer reading, the per-file [min, max] fold and the lossless
keep-file rule live in ``footer_stats``; this module owns only the
manifest format and the pruned read. Only TOP-LEVEL PRIMITIVE columns
can be indexed (``footer_stats.leaf_index`` rejects nested paths).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from . import footer_stats

MANIFEST_NAME = "_stats_manifest.json"


def _part_names(path: str) -> list[str]:
    """Data file names of the directory dataset — the same listing
    ``spark.read.parquet(path)`` scans, so pruning never loses a file
    by its name."""
    return [os.path.basename(p) for p in footer_stats.dataset_parts(path) or []]


def write_manifest(path: str, column: str) -> str:
    """Persist the per-file stats as the table's manifest (the
    commit-time step a real table format performs)."""
    stats = footer_stats.file_stats(path, _part_names(path), [column])
    manifest = {
        "column": column,
        "files": [
            {"file": n, "rows": e["rows"], **e["cols"].get(column, {})}
            for n, e in stats.items()
        ],
    }
    out = os.path.join(path, MANIFEST_NAME)
    with open(out, "w") as f:
        json.dump(manifest, f, indent=1)
    return out


def read_pruned(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
) -> DataFrame:
    """Scan only the files whose [min, max] intersects [lo, hi].

    Consults the persisted manifest when present (planning-time, no
    footer I/O), else sweeps footers. Pruning is NEVER lossy: files
    without stats are kept, and files present in the directory but
    absent from the manifest (appended after ``write_manifest``) get a
    fresh footer probe instead of being silently dropped. The residual
    filter is still applied, so results equal
    ``spark.read.parquet(path).filter(...)`` exactly; only the file
    list shrinks.
    """
    names = _part_names(path)
    stats: dict = {}
    mpath = os.path.join(path, MANIFEST_NAME)
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest["column"] != column:
            raise ValueError(
                f"manifest indexes {manifest['column']!r}, not {column!r}"
            )
        stats = {
            e["file"]: {
                "rows": e["rows"],
                "cols": {column: {"min": e["min"], "max": e["max"]}}
                if "min" in e
                else {},
            }
            for e in manifest["files"]
        }
    # staleness repair: footer-probe any file the manifest missed
    stats.update(
        footer_stats.file_stats(
            path, [n for n in names if n not in stats], [column]
        )
    )
    keep = [
        os.path.join(path, n)
        for n in names
        if footer_stats.keep_file(stats, n, column, lo, hi)
    ]
    from pyspark.sql import functions as F

    schema = spark.read.parquet(path).schema
    if not keep:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .parquet(*keep)
        .filter((F.col(column) >= lo) & (F.col(column) <= hi))
    )
