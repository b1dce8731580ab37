"""Dump ``explain("formatted")`` for registry queries to files.

Usage: python tools/plan_dump.py <outdir> <suffix> [sf_dir] <query> [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` for each query.  The variant being
captured is controlled by the environment the tool runs under (e.g.
``SPARK_GRAFT_SCAN_FANOUT=0`` for the pre-fan-out "before" plans of the r15
optimization round).  Queries whose construction is eager (checkpointed
signatures, scratch-table builds) run those jobs as a side effect; the dump
captures the plan of the RETURNED DataFrame, which is what the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qcfractal_spark.queries import REGISTRY
from qcfractal_spark.session import build_session


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = "/root/testdata/sf0.1"
    if rest and os.path.isdir(rest[0]):
        sf_dir, rest = rest[0], rest[1:]
    names = rest or list(REGISTRY)
    os.makedirs(outdir, exist_ok=True)
    spark = build_session("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — record, keep dumping
            plan = f"ERROR building {name}: {type(exc).__name__}: {exc}\n"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"dumped {name}_{suffix}", flush=True)


if __name__ == "__main__":
    main()
