"""Every registry query must execute without raising (tools/preflight.py
wired into pytest so `pytest tests/` alone catches an
AnalysisException-class breakage — the failure mode that went unnoticed
for two rounds when only j14 was broken and nothing in the default loop
forced it).

r16 (VERDICT r15 item 2): the full 197-query sweep was the single most
expensive test (334 s of a 38-minute suite) and the driver's verify
budget truncated the run.  The default suite now smokes a deterministic
stride-of-8 subset of the oracle-backed queries (~25, spanning every
family) plus the oracle-less sketch arms; the FULL sweep runs under
``SPARK_GRAFT_DEEP_TESTS=1`` — and remains a standing pre-commit gate via
``python tools/preflight.py``, which is unchanged and run before every
round close."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from preflight import run_preflight  # noqa: E402

DEEP = bool(os.environ.get("SPARK_GRAFT_DEEP_TESTS"))


def _smoke_names():
    from qcfractal_spark.queries import REGISTRY

    ordered = sorted(n for n, q in REGISTRY.items() if q.sql is not None)
    sketches = sorted(n for n, q in REGISTRY.items() if q.sql is None)
    return ordered[::8] + sketches


def test_registry_queries_execute_smoke(spark):
    errors = run_preflight(spark, "/root/testdata/sf0.001", names=_smoke_names())
    assert not errors, f"queries failed preflight: {sorted(errors)}"


@pytest.mark.skipif(
    not DEEP, reason="full 197-query sweep: SPARK_GRAFT_DEEP_TESTS=1 "
    "(tools/preflight.py covers it as the standing pre-commit gate)"
)
def test_every_registry_query_executes(spark):
    errors = run_preflight(spark, "/root/testdata/sf0.001")
    assert not errors, f"queries failed preflight: {sorted(errors)}"
