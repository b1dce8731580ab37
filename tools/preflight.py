"""CI-style pre-flight: every registry query must RUN (VERDICT r3 item 4).

The DuckDB-oracle gate (tools/check.py, tests/test_queries_oracle.py)
verifies values but a broken query used to be able to hide for a whole
round if nothing executed it (the j14 TIMESTAMP_NTZ breakage sat unnoticed
across rounds 2-3 and crashed the bench both times).  This harness runs
every registry query at sf0.001 with per-query error capture and exits
non-zero if ANY raises — fast (no oracle, no value compare, just force
execution through the noop sink), loud, and safe to run before every
commit.

Usage: python tools/preflight.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qcfractal_spark.queries import REGISTRY
from qcfractal_spark.session import build_session


def run_preflight(spark, sf_dir: str, names=None) -> dict[str, str]:
    """Force-execute every registry query (or the ``names`` subset); return
    {name: error}."""
    errors: dict[str, str] = {}
    for name in REGISTRY if names is None else names:
        try:
            REGISTRY[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        except Exception:  # noqa: BLE001 — capture everything, keep going
            errors[name] = traceback.format_exc(limit=5)
    return errors


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session("qcfractal-spark-preflight")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    errors = run_preflight(spark, sf_dir)
    n = len(REGISTRY)
    if errors:
        for name, tb in errors.items():
            print(f"PREFLIGHT FAIL {name}\n{tb}", file=sys.stderr)
        print(f"preflight: {n - len(errors)}/{n} ran, "
              f"{len(errors)} FAILED in {time.time() - t0:.1f}s: {sorted(errors)}")
        return 1
    print(f"preflight: {n}/{n} queries ran clean in {time.time() - t0:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
