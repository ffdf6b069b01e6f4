"""Harness contracts that live in the test suite itself."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

import pytest

from .conftest import _SLOW_NODE_IDS, _stale_slow_ids

_ROOT = pathlib.Path(__file__).resolve().parents[1]
_FORGET = "test_forget.py"
# a default-tier test that comes after some of the file's slow ones
_FAILED = "test_compaction_heals_torn_forget_first_no_duplicates"


def test_stale_slow_id_is_reported_only_for_fully_collected_files():
    listed = "test_forget.py::test_chunked_broad_delete_matches_unchunked"
    assert listed in _SLOW_NODE_IDS
    renamed = ["test_forget.py::test_chunked_broad_delete_renamed"]
    assert listed in _stale_slow_ids(renamed)
    # a file collected by node id only lists the named tests
    assert _stale_slow_ids(renamed, partial_files={"test_forget.py"}) == []
    # files that were not collected at all are not checked
    assert _stale_slow_ids(["test_graph.py::test_x"]) == []


@pytest.mark.parametrize(
    "option, cache_key, value",
    [
        # last run failed one default-tier test of a file that also lists
        # slow tests: --lf collects only that test from the file
        ("--lf", "lastfailed", {f"tests/{_FORGET}::{_FAILED}": True}),
        # --sw drops every test before the one that failed last
        ("--sw", "stepwise", f"tests/{_FORGET}::{_FAILED}"),
    ],
)
def test_stale_slow_id_check_allows_pytest_collection_filters(
    tmp_path, option, cache_key, value
):
    assert f"{_FORGET}::{_FAILED}" not in _SLOW_NODE_IDS
    cache = tmp_path / "v" / "cache"
    cache.mkdir(parents=True)
    (cache / cache_key).write_text(json.dumps(value))
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--co", "-q", option,
         "-o", f"cache_dir={tmp_path}"],
        cwd=_ROOT, capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert f"tests/{_FORGET}::{_FAILED}" in out.stdout


def test_driver_contract_entry_and_registry(spark):
    """``__spark_entry__``: the smoke query returns rows, every oracle
    names a registered query, and the registry keeps its 180 queries."""
    import __spark_entry__ as entry

    assert entry.entry(spark).count() > 0
    assert set(entry.oracle_sql()) <= set(entry.queries())
    assert len(entry.queries()) == 180
