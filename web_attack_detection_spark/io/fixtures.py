"""Declared query setup: content-keyed input fixtures.

Some queries read input a deployment keeps on disk instead of deriving
it per query: the UNSW-NB15 CSVs, stream replay files, WARC archives,
bucketed change-data tables, stored dedup/IVF indexes. Each is keyed by
the CONTENT it derives from: ``sf_dir`` plus an ``os.stat`` fingerprint
(relative path, size, ``mtime_ns``) of every source table file. A lookup
costs a few stat calls and no Spark job, and a rewritten source gets a
new key, so no query replays stale input. Directory fixtures are built
in a temporary sibling and published by one atomic ``os.rename`` (a
concurrent builder that loses discards its copy); they are durable
input, never removed at exit, so their key also covers the code that
writes them (see :func:`code_key`). Catalog fixtures live in the
session catalog, which no later process sees; they are built only when
it lacks one of their tables. Queries declare theirs as ``setup``
(plans/registry.QuerySpec) and also call it themselves.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable

from pyspark.sql import SparkSession

_PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs)


def _stat(p: str, base: str) -> str:
    st = os.stat(p)
    return f"{os.path.relpath(p, base)}:{st.st_size}:{st.st_mtime_ns}"


def content_key(sf_dir: str, tables: Iterable[str]) -> str:
    """``sf_dir`` plus (relative path, size, mtime_ns) of every file of
    the named fixture tables."""
    parts = [os.path.abspath(sf_dir)]
    for t in tables:
        parts += [_stat(p, sf_dir) for p in _files(os.path.join(sf_dir, f"{t}.parquet"))]
    return "|".join(parts)


def code_key(build: Callable) -> str:
    """The builder's qualified name and source file plus (relative path,
    size, mtime_ns) of every module of this package, since a builder
    may call into any of them: an edited builder never finds the
    output of its previous version."""
    parts = [build.__qualname__, _stat(build.__code__.co_filename, "/")]
    parts += [_stat(p, _PKG) for p in _files(_PKG) if p.endswith(".py")]
    return "|".join(parts)


def stable_name(base: str, key: str) -> str:
    """``{base}_{md5(key)[:8]}``: one catalog name per input."""
    return f"{base}_{hashlib.md5(key.encode()).hexdigest()[:8]}"


def fixture_root() -> str:
    return os.path.join(tempfile.gettempdir(), "spark_graft_fixtures")


def fixture_path(
    kind: str, sf_dir: str, tables: Iterable[str], build: Callable[[str], None]
) -> str:
    """``<tmp>/spark_graft_fixtures/<kind>_<md5(input key + code key)>``."""
    key = content_key(sf_dir, tables) + "||" + code_key(build)
    return os.path.join(fixture_root(), f"{kind}_{hashlib.md5(key.encode()).hexdigest()}")


def fixture_dir(
    kind: str, sf_dir: str, tables: Iterable[str], build: Callable[[str], None]
) -> str:
    """Return :func:`fixture_path`, running ``build(dir)`` into a fresh
    sibling first if it does not exist."""
    target = fixture_path(kind, sf_dir, tables, build)
    if os.path.isdir(target):
        return target
    root = fixture_root()
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=os.path.basename(target) + "_building_", dir=root)
    try:
        build(tmp)
        os.rename(tmp, target)
    except OSError:
        if not os.path.isdir(target):  # not a lost publish race
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return target


def fixture_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: Iterable[str],
    bases: tuple[str, ...],
    build: Callable[..., None],
) -> tuple[str, ...]:
    """The catalog tables ``{base}_{md5(key)[:8]}`` for the content key
    of ``tables``; unless all of them exist, ``build(*names)`` writes
    them (via io/sinks.stable_*_table)."""
    key = content_key(sf_dir, tables)
    names = tuple(stable_name(b, key) for b in bases)
    if not all(spark.catalog.tableExists(n) for n in names):
        build(*names)
    return names
