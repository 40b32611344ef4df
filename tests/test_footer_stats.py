"""The single owner of parquet footer statistics
(sources/footer_stats): no second footer fold anywhere in the package,
and every footer-derived cache stamped on the whole dataset."""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

import candy_store_etl_spark
from candy_store_etl_spark.sources import tpch

_FOOTER_STATS_READ = re.compile(r"has_min_max|\.statistics\b")


def test_only_footer_stats_reads_footer_statistics():
    pkg = os.path.dirname(candy_store_etl_spark.__file__)
    owner = os.path.join(pkg, "sources", "footer_stats.py")
    hits = []
    for root, _, names in os.walk(pkg):
        for n in names:
            path = os.path.join(root, n)
            if not n.endswith(".py") or path == owner:
                continue
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if _FOOTER_STATS_READ.search(line):
                        hits.append(f"{os.path.relpath(path, pkg)}:{i}")
    assert hits == []


def _rewrite_keeping_dir_mtime(d, part, table):
    """Rewrite ``part`` under the same name, then put the directory's
    own mtime back: a stamp taken on the directory alone cannot see
    this rewrite."""
    st = os.stat(d)
    pq.write_table(table, d / part)
    os.utime(d / part, ns=(1, 1))
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(d).st_mtime_ns == st.st_mtime_ns


def test_directory_caches_recompute_after_a_part_rewrite(spark, tmp_path):
    d = tmp_path / "ds.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [float(i) for i in range(100)]}), d / "part-0.parquet")

    def bounds():
        return tpch.equal_height_bounds(
            spark.read.parquet(str(d)), "x", 2, memo_path=str(d), memo_tag="t"
        )

    assert bounds()[0] < 100
    assert tpch._parquet_file_schema(spark, str(d)).names == ["x"]

    _rewrite_keeping_dir_mtime(
        d, "part-0.parquet", pa.table({"y": [float(i) for i in range(1000, 1100)]})
    )
    assert tpch._parquet_file_schema(spark, str(d)).names == ["y"]

    _rewrite_keeping_dir_mtime(
        d, "part-0.parquet", pa.table({"x": [float(i) for i in range(1000, 1100)]})
    )
    assert bounds()[0] >= 1000
