"""Driver-window rotation invariants — the rules every round's rotation
must satisfy, encoded so a future rotation can't silently break them:
the window is exactly the registry's first 50 entries, every query the
driver has never stamped is inside it, and every RED stamp (hash failed)
re-enters for a re-stamp.  The registry-table invariants that keep the
driver-facing set whole sit beside them."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from __spark_entry__ import oracle_sql, queries
from qcfractal_spark.queries import REGISTRY, Query, _DRIVER_WINDOW, build_registry
from tools.stale_stamps import stamps

SKETCH_ARMS = {"a19_approx_distinct", "a22_approx_quantiles", "a24_heavy_hitters"}


def test_window_is_registry_head():
    assert len(_DRIVER_WINDOW) == 50
    assert list(REGISTRY)[:50] == _DRIVER_WINDOW
    assert len(set(_DRIVER_WINDOW)) == 50  # no duplicates


def test_never_stamped_queries_are_in_window():
    seen = stamps()
    never = [q for q in queries() if q not in seen]
    outside = [q for q in never if q not in set(_DRIVER_WINDOW)]
    assert not outside, (
        f"queries with no driver stamp must be in the window: {outside}"
    )


def test_red_stamps_reenter_the_window():
    seen = stamps()
    reds = [q for q, (_, kind) in seen.items() if kind == "RED" and q in queries()]
    outside = [q for q in reds if q not in set(_DRIVER_WINDOW)]
    assert not outside, f"hash-red queries must re-enter for a re-stamp: {outside}"


def test_window_queries_all_runnable_contract():
    """Every window entry resolves to a callable and (unless declared
    rows-only with a None oracle) carries oracle SQL — the driver's
    minimum contract."""
    for name in _DRIVER_WINDOW:
        fn, sql = REGISTRY[name].fn, REGISTRY[name].sql
        assert callable(fn), name
        assert sql is None or (isinstance(sql, str) and "SELECT" in sql.upper()), name


def test_every_driver_query_has_an_oracle():
    """The r15 ``no_oracle`` class: a queries() entry the driver samples
    must have an oracle_sql() twin."""
    missing = [n for n in queries() if n not in oracle_sql()]
    assert not missing, f"queries() entries without oracle_sql(): {missing}"
    assert list(queries())[:50] == _DRIVER_WINDOW


def test_oracle_less_rows_are_the_sketch_arms():
    no_oracle = {n for n, q in REGISTRY.items() if q.sql is None}
    assert no_oracle == SKETCH_ARMS
    assert not no_oracle & set(queries())


def test_repeated_name_fails_the_build():
    row = Query(lambda spark, sf_dir: None, "SELECT 1")
    with pytest.raises(ValueError, match="declared twice"):
        build_registry([("q", row), ("q", row)], head=[])


def test_bench_rows_resolve_to_callables():
    bench = [n for n, q in REGISTRY.items() if q.bench]
    assert bench
    assert all(callable(REGISTRY[n].fn) for n in bench)
