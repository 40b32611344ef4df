"""Parquet footer statistics — the only code that reads them.

Planning in this package never opens a data file to learn what it
holds: row counts, per-column [min, max] and column byte sizes are
file METADATA, read driver-side from parquet footers with zero Spark
jobs (the Dremel decade paper's planning-from-file-statistics). Every
consumer goes through this module:

- ``file_stats`` folds footers into the per-file commit-entry shape
  ``{rows, cols: {col: {min, max}}}`` that table-log commits and the
  stats manifest persist; it raises on an unreadable file, because a
  commit must not record stats it could not read;
- ``column_minmax`` / ``column_size_stats`` aggregate a whole dataset
  for planning helpers, degrade to ``None`` instead of raising, and
  memoize in a ``FileMetaCache`` stamped on the whole dataset;
- ``keep_file`` is the one lossless keep-file rule every stats-pruned
  read applies.

Only TOP-LEVEL PRIMITIVE columns have usable stats: parquet row-group
statistics address LEAF columns, and mapping an arrow field position
onto leaves is wrong the moment a nested column precedes the target —
columns therefore resolve by their leaf ``path_in_schema`` and nested
paths are rejected outright.
"""

from __future__ import annotations

import os
from collections import OrderedDict

# One (stamp, value) tuple per live path; a small LRU cap bounds the
# entries of paths that are DELETED rather than rewritten (ephemeral
# scratch tables), oldest-used evicted past the cap.
_META_CACHE_CAP = 4096


class FileMetaCache:
    """path-keyed LRU of (stamp, value): replace-on-rewrite (the stamp
    is stored IN the entry, so a rewrite replaces the entry in place
    instead of stranding the old one), evict-least-recently-used past
    ``cap``. This is metadata caching (the same class as Spark's own
    file-index cache), never result caching. Not thread-safe by
    design — all callers run on the driver's plan-construction thread,
    and a raced duplicate compute is harmless (same metadata)."""

    def __init__(self, cap: int = _META_CACHE_CAP) -> None:
        self.cap = cap
        self._d: OrderedDict[tuple, tuple] = OrderedDict()

    def lookup(self, key: tuple, stamp: tuple):
        """(hit, value): hit False when absent or the stamp changed."""
        ent = self._d.get(key)
        if ent is None or ent[0] != stamp:
            return False, None
        self._d.move_to_end(key)
        return True, ent[1]

    def store(self, key: tuple, stamp: tuple, value) -> None:
        self._d[key] = (stamp, value)
        self._d.move_to_end(key)
        while len(self._d) > self.cap:
            self._d.popitem(last=False)

    def memo(self, key: tuple, stamp: tuple | None, compute):
        """``compute()``, cached under ``key`` while ``stamp`` holds; a
        None stamp (the dataset could not be listed) is never cached."""
        if stamp is None:
            return compute()
        hit, value = self.lookup(key, stamp)
        if not hit:
            value = compute()
            self.store(key, stamp, value)
        return value

    def __len__(self) -> int:
        return len(self._d)


def dataset_parts(path: str) -> list[str] | None:
    """The parquet part files of ``path``: [path] for a single file,
    the sorted ``*.parquet`` members for a DIRECTORY dataset (the
    at-scale layout; ``_``/``.``-prefixed names are skipped exactly as
    Spark's file index skips them), or None when the path is
    missing/empty. Driver-side listing only."""
    if os.path.isdir(path):
        try:
            parts = sorted(
                os.path.join(path, n)
                for n in os.listdir(path)
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            )
        except OSError:
            return None
        return parts or None
    return [path] if os.path.exists(path) else None


def dataset_stamp(parts: list[str] | None) -> tuple | None:
    """Invalidation stamp over every part file: any rewrite, addition
    or removal changes it — a directory's own mtime does not move when
    a part is rewritten under the same name. None when ``parts`` is
    None or a part vanished."""
    if not parts:
        return None
    out = []
    for p in parts:
        try:
            st = os.stat(p)
        except OSError:
            return None
        out.append((os.path.basename(p), st.st_mtime_ns, st.st_size))
    return tuple(out)


def _read_footer(path: str):
    """The parquet file's footer metadata, or None for anything that
    is not a single readable parquet file — a non-parquet or corrupt
    file, a missing path. Only the expected error classes are
    swallowed; genuine bugs raise."""
    import pyarrow.lib
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata
    except (OSError, pyarrow.lib.ArrowException, ValueError):
        # missing path / directory / permission -> OSError;
        # non-parquet or truncated footer -> ArrowInvalid (an
        # ArrowException); empty-path edge cases -> ValueError
        return None


def leaf_index(md, column: str) -> int:
    """Parquet LEAF index of a top-level primitive column, resolved by
    path_in_schema (never by arrow field position — a struct or list
    earlier in the schema has multiple/offset leaves)."""
    hits = [
        i
        for i in range(len(md.schema))
        if md.schema.column(i).path.split(".")[0] == column
    ]
    if len(hits) != 1 or md.schema.column(hits[0]).path != column:
        raise ValueError(
            f"{column!r} is not a top-level primitive column "
            f"(leaf paths: {[md.schema.column(i).path for i in hits]})"
        )
    return hits[0]


def _coerce(v):
    """Keep stats JSON-native and ORDER-comparable: ints/floats/bools/
    strings pass through; anything else (Decimal, date, bytes) becomes
    None and the file is treated as stats-less rather than risking a
    lexicographic comparison of numerics."""
    return v if isinstance(v, (int, float, bool, str)) else None


def _column_range(md, column: str) -> dict | None:
    """``{min, max}`` of ``column`` over one footer's row groups, or
    None when there are none or any lacks usable stats (pruning on the
    column then stays lossless). A non-top-level column raises
    ValueError."""
    ci = leaf_index(md, column)
    mins, maxs = [], []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(ci).statistics
        if st is None or not st.has_min_max:
            return None
        mn, mx = _coerce(st.min), _coerce(st.max)
        if mn is None or mx is None or isinstance(mn, str) != isinstance(mx, str):
            return None
        mins.append(mn)
        maxs.append(mx)
    return {"min": min(mins), "max": max(maxs)} if mins else None


def _fold(md, cols: list[str]) -> dict:
    """``{rows, cols: {col: {min, max}}}`` of one footer; a column
    without a usable range is omitted."""
    ranges = {col: _column_range(md, col) for col in cols}
    return {
        "rows": md.num_rows,
        "cols": {col: r for col, r in ranges.items() if r is not None},
    }


def file_stats(directory: str, names: list[str], cols: list[str]) -> dict:
    """file name -> ``{rows, cols: {col: {min, max}}}`` for the data
    files ``names`` under ``directory`` — the commit-entry shape, the
    ONE footer sweep a table format pays at commit time so readers
    never do. Raises on an unreadable file or a non-top-level column."""
    import pyarrow.parquet as pq

    return {
        n: _fold(pq.read_metadata(os.path.join(directory, n)), list(cols))
        for n in names
    }


def keep_file(stats: dict, path: str, column: str, lo, hi) -> bool:
    """May the file at ``path`` hold a ``column`` value in [lo, hi]?
    ``stats`` maps file names to commit-entry stats. Lossless: a file
    without stats for the column is kept, and only a committed-empty
    file (rows == 0) is dropped on its stats alone."""
    entry = stats.get(os.path.basename(path), {})
    if entry.get("rows") == 0:
        return False
    st = entry.get("cols", {}).get(column)
    return st is None or (st["min"] <= hi and st["max"] >= lo)


_MINMAX_CACHE = FileMetaCache()
_SIZESTATS_CACHE = FileMetaCache()


def column_minmax(path: str, column: str) -> tuple | None:
    """(min, max) of ``column`` across the dataset's row groups — a
    single parquet file or a directory of part files — from footer
    statistics only: no Spark job, no data read. None when the path
    is unreadable, the column is not a top-level primitive, or any
    non-empty part lacks usable stats (callers keep a sampled-range
    fallback)."""
    parts = dataset_parts(path)

    def compute():
        lo = hi = None
        for part in parts:
            md = _read_footer(part)
            if md is None:
                return None
            if md.num_rows == 0:
                continue
            try:
                st = _column_range(md, column)
            except ValueError:
                return None
            if st is None:
                return None
            lo = st["min"] if lo is None else min(lo, st["min"])
            hi = st["max"] if hi is None else max(hi, st["max"])
        return None if lo is None else (lo, hi)

    if parts is None:
        return None
    key = (os.path.abspath(path), column)
    return _MINMAX_CACHE.memo(key, dataset_stamp(parts), compute)


def column_size_stats(path: str, column: str) -> tuple | None:
    """(num_rows, total_uncompressed_bytes_of_column) across the
    dataset's row groups — a single parquet file or a directory of
    part files — from footer metadata only: no Spark job, no data
    read. None when the path is unreadable or the column is absent
    from any non-empty part (callers keep a counting fallback)."""
    parts = dataset_parts(path)

    def compute():
        n_rows = n_bytes = 0
        for part in parts:
            md = _read_footer(part)
            if md is None:
                return None
            if md.num_row_groups:
                try:
                    ci = leaf_index(md, column)
                except ValueError:
                    return None
                n_bytes += sum(
                    md.row_group(g).column(ci).total_uncompressed_size
                    for g in range(md.num_row_groups)
                )
            n_rows += md.num_rows
        return n_rows, n_bytes

    if parts is None:
        return None
    key = (os.path.abspath(path), column)
    return _SIZESTATS_CACHE.memo(key, dataset_stamp(parts), compute)
