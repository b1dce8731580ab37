"""The oracle gate, in-repo: every REGISTRY query with an oracle must match
DuckDB exactly at sf0.001 (the driver re-runs the same at sf0.01).

This mirrors the reference's combinatorial exact-count test style
(qcfractal/qcfractal/components/test_record_client_query.py) with DuckDB as
the count/value authority.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from __spark_entry__ import queries
from qcfractal_spark.queries import REGISTRY

from conftest import SF_SMOKE


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            try:
                df[c] = pd.to_numeric(s)
            except (ValueError, TypeError):
                df[c] = s.astype(str)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", [n for n, q in REGISTRY.items() if q.sql])
def test_oracle_parity(spark, duck, name):
    fn, sql = REGISTRY[name].fn, REGISTRY[name].sql
    got = _normalize(fn(spark, SF_SMOKE).toPandas())
    exp = _normalize(duck.execute(sql).fetchdf())
    assert list(got.columns) == list(exp.columns)
    assert len(got) == len(exp), f"rows: spark={len(got)} duck={len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        # driver-hash rule (r7 lesson): int-vs-float dtype divergence fails
        # the typed value hash even when values are numerically equal —
        # DuckDB SUM(BIGINT) → HUGEINT → float64 is the known vector.
        a_int, b_int = (pd.api.types.is_integer_dtype(x) for x in (a, b))
        a_flt, b_flt = (pd.api.types.is_float_dtype(x) for x in (a, b))
        assert not ((a_int and b_flt) or (a_flt and b_int)), (
            f"{name}.{c}: dtype divergence spark={a.dtype} duck={b.dtype} "
            "(CAST the oracle aggregate)"
        )
        same = (a == b) | (a.isna() & b.isna())
        assert same.all(), f"{name}.{c}: first diff at {list(got.index[~same])[:3]}"


# The oracle-less sketch arms stay out of queries() but are smoked here.
@pytest.mark.parametrize("name", [n for n, q in REGISTRY.items() if q.sql is None])
def test_rows_only_queries_run(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_registry_entries_all_oracle_backed():
    """The r15 regression class: a queries() entry with no oracle fails
    the driver with no_oracle whenever its window samples it.  Pin the
    invariant that caused it to zero."""
    missing = [n for n in queries() if REGISTRY[n].sql is None]
    assert not missing, f"REGISTRY entries without oracle SQL: {missing}"


def test_cluster_label_index_matches_inline(spark, tmp_path):
    """The persisted cluster-label artifact must equal the inline
    pipeline's labels exactly (determinism of min-id components), and a
    touched source must invalidate the marker and rebuild."""
    import os

    from qcfractal_spark.queries import (
        _cluster_labeled,
        _cluster_labels,
        _cluster_labels_dir,
    )

    sf = SF_SMOKE
    inline = {r["id"]: r["cluster_id"] for r in _cluster_labeled(spark, sf).collect()}
    indexed = {r["id"]: r["cluster_id"] for r in _cluster_labels(spark, sf).collect()}
    assert inline == indexed
    # marker invalidation: fake a marker mismatch and confirm rebuild
    path = _cluster_labels_dir(spark, sf)
    marker_path = os.path.join(path, "source_marker")
    with open(marker_path, "w") as fh:
        fh.write("stale")
    path2 = _cluster_labels_dir(spark, sf)  # must rebuild (marker rewrites)
    with open(marker_path) as fh:
        assert fh.read() != "stale"
    assert path2 == path
