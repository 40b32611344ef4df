"""Python-worker path hygiene: drop pyspark/py4j ZIP imports when an
identical unpacked install exists.

Why this exists (r13, measured): pyspark's worker runs
``importlib.invalidate_caches()`` on EVERY task (worker_util.
setup_spark_files — unconditional, even with zero python includes).
On Python 3.11 a ``zipimporter.invalidate_caches()`` eagerly re-reads
the zip's whole central directory, and the worker factory prepends
``$SPARK_HOME/python/lib/pyspark.zip`` + the py4j zip to every
worker's path — so each task re-parsed both archives' directories:
profiled at ~60% of worker main() (0.63 s of 1.03 s per task under
cProfile; ~156 ms/task uninstrumented), on a box where the SAME
pyspark version is pip-installed as a plain directory whose
FileFinder invalidation is lazy and cheap.

This module is imported automatically by ``site`` at worker startup
(the engine's session builder appends its directory to
``spark.executorEnv.PYTHONPATH``). It prunes the spark zips from
``sys.path`` ONLY when pyspark and py4j still resolve without them
AND each unpacked package carries the exact same version string as its
zip — otherwise the path is left untouched. Disable with
``SPARK_GRAFT_KEEP_ZIP_IMPORTS=1``. No pyspark code is modified; this
is environment hygiene, valid on any deployment where workers carry
both a zip and an unpacked install of the same pyspark.

``site`` imports only the first ``sitecustomize`` on the path, so this
one then runs the next ``sitecustomize`` on the path after its own
directory (a deployment's own worker hook is not shadowed).
"""

import os
import re
import sys

_VERSION_RE = re.compile(
    r"__version__(?:\s*:\s*str)?\s*=\s*['\"]([^'\"]+)['\"]"
)


def _zip_version(zip_path: str, package: str = "pyspark"):
    import zipfile

    try:
        with zipfile.ZipFile(zip_path) as z:
            src = z.read(f"{package}/version.py").decode("utf-8")
    except Exception:
        return None
    m = _VERSION_RE.search(src)
    return m.group(1) if m else None


def _dir_version(spec_origin: str):
    try:
        path = os.path.join(os.path.dirname(spec_origin), "version.py")
        with open(path, encoding="utf-8") as f:
            src = f.read()
    except OSError:
        return None
    m = _VERSION_RE.search(src)
    return m.group(1) if m else None


def _same_version(zip_path: str, package: str, spec_origin: str) -> bool:
    zv = _zip_version(zip_path, package)
    return zv is not None and zv == _dir_version(spec_origin)


def _prune_spark_zip_paths() -> None:
    if os.environ.get("SPARK_GRAFT_KEEP_ZIP_IMPORTS"):
        return
    zips = [
        p
        for p in sys.path
        if p.endswith(".zip")
        and os.path.basename(p).startswith(("pyspark", "py4j"))
    ]
    # spark-submit also puts spark jars on PYTHONPATH (a py4j classpath
    # convenience); python never imports from them, but the archive
    # importer created while site searched for THIS module gets its
    # central directory re-read by every per-task invalidate_caches —
    # prune them alongside the zips
    jars = [p for p in sys.path if p.endswith(".jar")]
    pyspark_zips = [p for p in zips if "pyspark" in os.path.basename(p)]
    py4j_zips = [p for p in zips if "py4j" in os.path.basename(p)]
    if not zips or not pyspark_zips:
        return
    pruned = set(zips) | set(jars)
    kept = [p for p in sys.path if p not in pruned]
    old = sys.path[:]
    sys.path[:] = kept
    try:
        import importlib.util

        ps = importlib.util.find_spec("pyspark")
        p4 = importlib.util.find_spec("py4j")
        if ps is None or p4 is None or ps.origin is None or p4.origin is None:
            sys.path[:] = old
            return
        checks = [(pyspark_zips[0], "pyspark", ps.origin)]
        checks += [(z, "py4j", p4.origin) for z in py4j_zips]
        if not all(_same_version(*c) for c in checks):
            sys.path[:] = old
            return
        # keep the pruned path — and evict the archive importers that
        # were already instantiated while resolving this module:
        # importlib.invalidate_caches() iterates
        # sys.path_importer_cache regardless of sys.path, so a stale
        # zipimporter would keep paying the per-task directory re-read
        # the prune exists to remove
        for p in pruned:
            sys.path_importer_cache.pop(p, None)
    except Exception:
        sys.path[:] = old


def _chain_next_sitecustomize() -> None:
    """Run the ``sitecustomize`` that follows this module's directory
    on ``sys.path``: the one ``site`` would have imported without it.
    Searching only past this directory keeps two copies of this module
    on one path from running each other in a loop."""
    import importlib.machinery
    import importlib.util

    here = os.path.dirname(os.path.realpath(__file__))
    dirs = [os.path.realpath(p or os.curdir) for p in sys.path]
    if here not in dirs:
        return  # not imported from the path: nothing is shadowed
    i = dirs.index(here)
    rest = [p for p, d in zip(sys.path[i:], dirs[i:]) if d != here]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", rest)
    if spec is None or spec.loader is None:
        return
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


_prune_spark_zip_paths()
_chain_next_sitecustomize()
