"""Full simulation of the external correctness gate over EVERY
registered query (the real driver truncates at 50): vanilla
SparkSession, DuckDB oracle views at sf0.01, pandas row
canonicalization + stringified value compare — the same shape the
driver uses (its canonicalizer sorts rows via pandas, which is why
registered plans must never emit raw list cells).

Usage:  python scripts/gate_sim.py [--changed-since] [sf_dir] [query ...]

``--changed-since`` makes the run INCREMENTAL: each query is
fingerprinted by the content of its source-file closure (the module
defining it plus every candy_store_etl_spark module it transitively
imports, plus __spark_entry__.py and the oracle SQL text), and queries
whose fingerprint matches a previously-green run recorded in
``.gate_cache.json`` are skipped. A 169-query full run costs ~10 min;
the incremental mode keeps full-fidelity checking cheap enough to run
per commit (round-4 verdict item 8). Any schema/row/value/exception
failure is never cached, and the cache is keyed on the sf_dir so
correctness runs at different SFs don't mask each other.

Prints one line per query and a final summary; exit code 1 on any bad.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from candy_store_etl_spark.caching import release_caches  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "candy_store_etl_spark"
_CACHE_PATH = os.path.join(_REPO, ".gate_cache.json")


def _package_modules() -> dict[str, str]:
    """module name → file path, for every module in the package."""
    out = {}
    root = os.path.join(_REPO, _PKG)
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, _REPO)[:-3].replace(os.sep, ".")
            if rel.endswith(".__init__"):
                rel = rel[: -len(".__init__")]
            out[rel] = path
    return out


def _module_deps(mods: dict[str, str]) -> dict[str, set[str]]:
    """Static import graph within the package, built from the AST
    (round-5 advisory: a line regex missed parenthesized multi-line
    ``from pkg import (mod_a, mod_b)`` forms — ast.Import /
    ast.ImportFrom handle every spelling and carry the relative level
    exactly). The registry module's imports of plan modules are
    EXCLUDED: _ensure_loaded imports every plan module as loader
    wiring, which would make the closure total and defeat
    incrementality — a registry.py change itself still invalidates
    everything (it is in every closure). Two subtleties (round-5
    review findings): relative imports inside a package __init__
    resolve against the package ITSELF, not its parent; and importing
    any module executes its ancestor packages' __init__ files first,
    so those are dependencies of every descendant."""
    import ast

    deps: dict[str, set[str]] = {}
    for mod, path in mods.items():
        is_pkg = os.path.basename(path) == "__init__.py"
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        found: set[str] = set()
        targets: list[tuple[str, list[str]]] = []  # (module, names)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    targets.append((alias.name, []))
            elif isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
                if node.level == 0:
                    targets.append((node.module or "", names))
                else:
                    # level=1 anchors at the current package: the
                    # module's parent, or the module itself when it
                    # IS a package; each extra level climbs one more
                    anchor = mod if is_pkg else mod.rsplit(".", 1)[0]
                    parts = anchor.split(".")
                    if node.level > 1:
                        parts = parts[: -(node.level - 1) or None]
                    stem = node.module or ""
                    target = ".".join(parts + ([stem] if stem else []))
                    targets.append((target, names))
        for target, names in targets:
            if not target or not target.startswith(_PKG):
                continue
            cands = [target] + [
                f"{target}.{n}" for n in names if n.isidentifier()
            ]
            for c in cands:
                if c in mods:
                    found.add(c)
        # ancestor packages run at import time — always in the closure
        parts = mod.split(".")
        for i in range(1, len(parts)):
            anc = ".".join(parts[:i])
            if anc in mods and anc != mod:
                found.add(anc)
        if mod == f"{_PKG}.plans.registry":
            found = {d for d in found if not d.startswith(f"{_PKG}.plans.")}
        # plans.window holds ONLY ordering state (the driver-window
        # priority list and the loader import list) — it changes which
        # queries the driver LOOKS AT, never what any query returns, so
        # it is excluded from every closure (round-6 split; otherwise a
        # window rotation would invalidate all ~173 fingerprints via
        # registry -> window -> every plan module)
        found.discard(f"{_PKG}.plans.window")
        deps[mod] = found
    return deps


def _fingerprints() -> dict[str, str]:
    """query name → md5 over (closure file contents, entry module,
    oracle SQL)."""
    from candy_store_etl_spark.plans import QUERIES, query_map

    query_map()  # triggers registry._ensure_loaded
    mods = _package_modules()
    deps = _module_deps(mods)
    file_md5: dict[str, str] = {}

    def fmd5(path: str) -> str:
        if path not in file_md5:
            with open(path, "rb") as f:
                file_md5[path] = hashlib.md5(f.read()).hexdigest()
        return file_md5[path]

    closure_cache: dict[str, tuple[str, ...]] = {}

    def closure(mod: str) -> tuple[str, ...]:
        if mod not in closure_cache:
            seen: set[str] = set()
            stack = [mod]
            while stack:
                m = stack.pop()
                if m in seen or m not in mods:
                    continue
                seen.add(m)
                stack.extend(deps.get(m, ()))
            closure_cache[mod] = tuple(sorted(seen))
        return closure_cache[mod]

    entry_path = os.path.join(_REPO, "__spark_entry__.py")
    out = {}
    for name, spec in QUERIES.items():
        h = hashlib.md5()
        for m in closure(spec.fn.__module__):
            h.update(m.encode())
            h.update(fmd5(mods[m]).encode())
        h.update(fmd5(entry_path).encode())
        h.update((spec.oracle or "<rows-only>").encode())
        out[name] = h.hexdigest()
    return out


def _load_cache() -> dict:
    try:
        with open(_CACHE_PATH) as f:
            return json.load(f)
    except Exception:
        return {}


def _save_cache(cache: dict) -> None:
    tmp = f"{_CACHE_PATH}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(cache, f, indent=0, sort_keys=True)
    os.replace(tmp, _CACHE_PATH)


def _canon(df):
    import pandas as pd  # noqa: F401

    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(list(df.columns))
    return df.reset_index(drop=True).astype(str)


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    argv = [a for a in sys.argv[1:] if a != "--changed-since"]
    incremental = len(argv) != len(sys.argv) - 1
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    fps = _fingerprints() if incremental else {}
    cache = _load_cache() if incremental else {}
    # the cache key fingerprints the DATA and this script's own
    # compare logic, not just query code: regenerated testdata at the
    # same path (a real event in this repo — see
    # pruned_range_scan_stats) or an edited canonicalizer must
    # invalidate every cached green row
    env_h = hashlib.md5()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            env_h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            env_h.update(f"{t}:missing".encode())
    with open(os.path.abspath(__file__), "rb") as f:
        env_h.update(f.read())
    cache_key = f"sf:{os.path.abspath(sf_dir)}:{env_h.hexdigest()[:12]}"
    green: dict[str, str] = dict(cache.get(cache_key, {}))
    if incremental:
        n_skip = sum(
            1 for n, fp in fps.items()
            if green.get(n) == fp and (not only or n in only)
        )
        print(f"incremental: {n_skip} unchanged-green queries will be skipped")

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    con = duckdb.connect()
    # scale dirs (scripts/gen_scale_data.py) hold directory datasets
    suffix = "/*.parquet" if os.path.isdir(os.path.join(sf_dir, "region.parquet")) else ""
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet{suffix}')"
        )

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    bad: list[str] = []
    for i, (name, fn) in enumerate(queries.items(), 1):
        if only and name not in only:
            continue
        if incremental and green.get(name) == fps.get(name):
            continue
        ok = False
        try:
            sdf = fn(spark, sf_dir).toPandas()
            if name not in oracles:
                ok = True
                print(f"{i:3d} {name}: rows_only rows={len(sdf)}")
                continue
            ddf = con.execute(oracles[name]).df()
            s, d = _canon(sdf), _canon(ddf)
            if list(s.columns) != list(d.columns):
                bad.append(name)
                print(f"{i:3d} {name}: SCHEMA {list(s.columns)} != {list(d.columns)}")
            elif len(s) != len(d):
                bad.append(name)
                print(f"{i:3d} {name}: ROWS {len(s)} != {len(d)}")
            elif not s.equals(d):
                bad.append(name)
                neq = (s != d).any(axis=1)
                print(f"{i:3d} {name}: VALUES ({int(neq.sum())} rows differ)")
                print(s[neq].head(3).to_string())
                print(d[neq].head(3).to_string())
            else:
                ok = True
                print(f"{i:3d} {name}: ok rows={len(s)}")
        except Exception as exc:  # noqa: BLE001 — report and continue
            bad.append(name)
            print(f"{i:3d} {name}: ERROR {type(exc).__name__}: {exc}")
        finally:
            if incremental and name in fps:
                if ok:
                    green[name] = fps[name]
                else:
                    green.pop(name, None)
            # queries cache/persist intra-plan relations through the
            # tracked-caching layer; release them (and clearCache as a
            # backstop) so a full catalog run doesn't accumulate cache
            release_caches()
            spark.catalog.clearCache()
    if incremental:
        cache[cache_key] = green
        _save_cache(cache)
    print(f"BAD={len(bad)} {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
