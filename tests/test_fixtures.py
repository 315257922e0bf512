"""Declared setup (io/fixtures.py): input fixtures are keyed by the
content of the tables they derive from, and no query keeps state in a
module-level dict between calls."""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil
import sys
import tempfile

import pyarrow.parquet as pq
import pytest

import web_attack_detection_spark
from web_attack_detection_spark.io import fixtures
from web_attack_detection_spark.io.sources import TABLES
from web_attack_detection_spark.plans import all_plans  # noqa: F401
from web_attack_detection_spark.plans.registry import QUERIES

from .conftest import SF_SMOKE
from .oracle_harness import compare

PKG = web_attack_detection_spark.__name__
TOKENIZER_QUERIES = [
    f"text_{kind}_{step}"
    for kind in ("bpe", "wordpiece", "unigram")
    for step in ("train", "encode")
]
SETUP_QUERIES = sorted(n for n, s in QUERIES.items() if s.setup is not None)


@pytest.fixture
def fixture_tmp(tmp_path, monkeypatch):
    """A private temp dir (so fixture directories land under tmp_path)
    and a writable copy of the sf0.001 tables."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, sf, copy_function=shutil.copyfile)
    return str(sf)


def _rows(df) -> list:
    # ref_unsw_battery reports wall-clock train_seconds (rows-only query)
    df = df.drop("train_seconds")
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _module_dicts() -> dict:
    return {
        (m, attr): len(v)
        for m, mod in list(sys.modules.items())
        if m.startswith(PKG) and mod is not None
        for attr, v in vars(mod).items()
        if isinstance(v, dict) and not attr.startswith("__")
    }


def _drop_fixtures(spark, sf: str) -> None:
    shutil.rmtree(fixtures.fixture_root(), ignore_errors=True)
    suffixes = tuple(
        fixtures.stable_name("", fixtures.content_key(sf, [t])) for t in TABLES
    )
    for t in spark.catalog.listTables():
        if t.name.endswith(suffixes):
            spark.sql(f"DROP TABLE {t.name}")


def test_content_key_tracks_rewrites(fixture_tmp):
    before = fixtures.content_key(fixture_tmp, ["events"])
    assert fixtures.content_key(fixture_tmp, ["events"]) == before
    assert fixtures.content_key(fixture_tmp, ["orders"]) != before
    t = pq.read_table(f"{fixture_tmp}/events.parquet")
    pq.write_table(t.slice(0, t.num_rows // 2), f"{fixture_tmp}/events.parquet")
    assert fixtures.content_key(fixture_tmp, ["events"]) != before


def test_fixture_dir_builds_once_and_yields_to_a_published_copy(fixture_tmp):
    calls = []

    def build(d: str) -> None:
        calls.append(d)
        with open(os.path.join(d, "mine"), "w") as f:
            f.write("x")

    d = fixtures.fixture_dir("probe", fixture_tmp, ["orders"], build)
    assert d == fixtures.fixture_path("probe", fixture_tmp, ["orders"], build)
    assert os.listdir(d) == ["mine"]
    assert fixtures.fixture_dir("probe", fixture_tmp, ["orders"], build) == d
    assert len(calls) == 1

    # a concurrent builder published first: our copy is discarded
    def racing(tmp: str) -> None:
        os.makedirs(os.path.join(target, "theirs"))

    target = fixtures.fixture_path("race", fixture_tmp, ["orders"], racing)
    assert fixtures.fixture_dir("race", fixture_tmp, ["orders"], racing) == target
    assert os.listdir(target) == ["theirs"]
    leftovers = [p for p in os.listdir(fixtures.fixture_root()) if "_building_" in p]
    assert leftovers == []


def test_edited_builder_code_gets_a_new_fixture(fixture_tmp, tmp_path, monkeypatch):
    """Directory fixtures outlive the process, so a builder that changed
    (another function, an edited defining module, or an edited module
    of the package it may call into) must not find the old output."""

    def build(d: str) -> None:
        open(os.path.join(d, "v1"), "w").close()

    def other(d: str) -> None:
        open(os.path.join(d, "v2"), "w").close()

    d1 = fixtures.fixture_dir("probe", fixture_tmp, ["orders"], build)
    d2 = fixtures.fixture_dir("probe", fixture_tmp, ["orders"], other)
    assert d1 != d2 and os.listdir(d2) == ["v2"]

    src = tmp_path / "fixture_builder_probe.py"
    body = "import os\ndef build(d):\n    open(os.path.join(d, {!r}), 'w').close()\n"
    src.write_text(body.format("a"))
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.delitem(sys.modules, "fixture_builder_probe", raising=False)
    mod = importlib.import_module("fixture_builder_probe")
    first = fixtures.fixture_dir("probe", fixture_tmp, ["orders"], mod.build)
    src.write_text(body.format("bb"))
    mod = importlib.reload(mod)
    second = fixtures.fixture_dir("probe", fixture_tmp, ["orders"], mod.build)
    assert first != second and os.listdir(second) == ["bb"]

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "helper.py").write_text("X = 1\n")
    monkeypatch.setattr(fixtures, "_PKG", str(pkg))
    before = fixtures.fixture_path("probe", fixture_tmp, ["orders"], build)
    (pkg / "helper.py").write_text("X = 22\n")
    assert fixtures.fixture_path("probe", fixture_tmp, ["orders"], build) != before


@pytest.mark.parametrize(
    "table, names",
    [
        ("events", ["stream_windowed_counts", "stream_json_value_decode"]),
        ("documents", ["warc_ingest_stats"]),
    ],
)
def test_rewritten_input_is_not_replayed(spark, fixture_tmp, table, names):
    """Rewriting a source table in place (same path) must reach every
    fixture-backed query: each result equals the DuckDB oracle on the
    NEW data, not a replay of the old files."""
    for name in names:
        spec = QUERIES[name]
        compare(spark, fixture_tmp, spec.fn, spec.oracle, exact=True)
    path = f"{fixture_tmp}/{table}.parquet"
    t = pq.read_table(path)
    pq.write_table(t.take(list(range(0, t.num_rows, 2))), path)
    for name in names:
        spec = QUERIES[name]
        compare(spark, fixture_tmp, spec.fn, spec.oracle, exact=True)


@pytest.mark.parametrize("name", SETUP_QUERIES + TOKENIZER_QUERIES)
def test_no_state_between_calls(spark, fixture_tmp, name):
    """A second call returns the same rows without growing any
    module-level dict; a warm fixture lookup runs no Spark job; and
    a cold run (fixture directory / table dropped) matches too."""
    for info in pkgutil.walk_packages(web_attack_detection_spark.__path__, PKG + "."):
        importlib.import_module(info.name)
    spec = QUERIES[name]
    sizes = _module_dicts()
    first = _rows(spec.fn(spark, fixture_tmp))
    assert _rows(spec.fn(spark, fixture_tmp)) == first
    grown = {k: (v, _module_dicts().get(k)) for k, v in sizes.items()}
    assert {k: v for k, v in grown.items() if v[0] != v[1]} == {}
    if spec.setup is None:
        return
    sc = spark.sparkContext
    sc.setJobGroup("fixture_lookup", "warm fixture lookup")
    try:
        spec.setup(spark, fixture_tmp)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("fixture_lookup") == []
    _drop_fixtures(spark, fixture_tmp)
    assert _rows(spec.fn(spark, fixture_tmp)) == first
