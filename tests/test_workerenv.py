"""The worker-side path hygiene shipped via spark.executorEnv
(r13): pyspark's per-task importlib.invalidate_caches() re-reads
every archive importer's central directory eagerly on Python 3.11, so
build_session's workers must (a) resolve pyspark from the unpacked
install when an identical version exists and (b) hold ZERO cached
archive importers — otherwise every Python task pays ~156 ms of zip
directory parsing (measured r13; 60% of worker main)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

from pyspark.sql.types import StructField, StringType, StructType

_SITECUSTOMIZE = (
    Path(__file__).resolve().parents[1]
    / "candy_store_etl_spark"
    / "workerenv"
    / "sitecustomize.py"
)


def _load_sitecustomize():
    """The worker module as a fresh module object. Importing it RUNS the
    prune against this process's path — harmless (no spark zips here),
    and gives us the functions."""
    spec = importlib.util.spec_from_file_location(
        "wkr_sitecustomize", _SITECUSTOMIZE
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_workers_resolve_pyspark_unpacked_with_no_archive_importers(spark):
    import pyspark as driver_pyspark

    # precondition for the prune: the driver env has an unpacked
    # pyspark (pip install); if this ever becomes zip-only the prune
    # must no-op, which the version-guard test below covers
    assert ".zip" not in driver_pyspark.__file__

    sch = StructType([StructField("v", StringType())])

    def probe(it):
        import sys

        import pandas as pd
        import pyspark

        # count LIVE archive finders only: the stdlib pythonXY.zip
        # placeholder caches a None entry (costless — importlib's
        # invalidate pass deletes Nones instead of re-reading them)
        n_arch = sum(
            1
            for k, f in sys.path_importer_cache.items()
            if k.endswith((".zip", ".jar")) and f is not None
        )
        yield pd.DataFrame(
            {"v": [pyspark.__file__, str(n_arch), pyspark.__version__]}
        )

    vals = [
        r["v"]
        for r in spark.range(1, numPartitions=1)
        .mapInPandas(probe, sch)
        .collect()
    ]
    worker_file, n_archive_importers, worker_version = vals
    assert ".zip" not in worker_file, worker_file
    assert n_archive_importers == "0", n_archive_importers
    assert worker_version == driver_pyspark.__version__


def test_prune_guards(tmp_path, monkeypatch):
    """The prune must refuse when versions differ or resolution without
    the zips fails — sys.path is restored untouched."""
    import sys

    mod = _load_sitecustomize()

    # version reader: zip + dir forms, single- and double-quoted
    import zipfile

    z = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("pyspark/version.py", "__version__: str = '9.9.9'\n")
    assert mod._zip_version(str(z)) == "9.9.9"
    d = tmp_path / "pyspark"
    d.mkdir()
    (d / "version.py").write_text('__version__ = "1.2.3"\n')
    assert mod._dir_version(str(d / "__init__.py")) == "1.2.3"
    assert mod._zip_version(str(tmp_path / "nope.zip")) is None

    # env kill-switch: path untouched even with a matching zip present
    monkeypatch.setenv("SPARK_GRAFT_KEEP_ZIP_IMPORTS", "1")
    before = sys.path[:]
    mod._prune_spark_zip_paths()
    assert sys.path == before


def test_prune_keeps_zips_when_py4j_version_differs(tmp_path, monkeypatch):
    """A pyspark zip matching the unpacked install is not enough: a py4j
    zip whose version differs from the unpacked py4j keeps every zip on
    the path. With matching py4j versions the same path is pruned."""
    import sys
    import zipfile

    import py4j.version
    import pyspark

    mod = _load_sitecustomize()
    monkeypatch.delenv("SPARK_GRAFT_KEEP_ZIP_IMPORTS", raising=False)

    ps_zip = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(ps_zip, "w") as f:
        f.writestr(
            "pyspark/version.py", f"__version__ = '{pyspark.__version__}'\n"
        )

    def path_with_py4j_zip(version: str) -> list[str]:
        z = tmp_path / f"py4j-{version}-src.zip"
        with zipfile.ZipFile(z, "w") as f:
            f.writestr("py4j/version.py", f"__version__ = '{version}'\n")
        return [p for p in sys.path if not p.endswith((".zip", ".jar"))] + [
            str(ps_zip),
            str(z),
        ]

    mismatched = path_with_py4j_zip("0.0.1")
    monkeypatch.setattr(sys, "path", mismatched[:])
    mod._prune_spark_zip_paths()
    assert sys.path == mismatched

    matched = path_with_py4j_zip(py4j.version.__version__)
    monkeypatch.setattr(sys, "path", matched[:])
    mod._prune_spark_zip_paths()
    assert sys.path == matched[:-2]


def test_next_sitecustomize_on_the_path_still_runs(tmp_path):
    """``site`` imports only the first ``sitecustomize`` on the path:
    the worker module must run the one it shadows, here a second hook
    that sets a marker."""
    import os
    import subprocess
    import sys

    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text(
        "import sys\nsys.chained_sitecustomize_marker = 'set'\n"
    )
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join([str(_SITECUSTOMIZE.parent), str(other)]),
    }
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, sitecustomize; "
            "print(sitecustomize.__file__); "
            "print(getattr(sys, 'chained_sitecustomize_marker', None))",
        ],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert out == [str(_SITECUSTOMIZE), "set"]
