"""Dump ``explain("formatted")`` for registry queries to files.

Usage: python tools/plan_dump.py <outdir> <suffix> [sf_dir] <query> [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` for each query.  The variant being
captured is controlled by the environment the tool runs under (e.g.
``SPARK_GRAFT_SCAN_FANOUT=0`` for the pre-fan-out "before" plans of the r15
optimization round).  Queries whose construction is eager (checkpointed
signatures, scratch-table builds) run those jobs as a side effect; the dump
captures the plan of the RETURNED DataFrame, which is what the bench times.

Every plan is normalized before it is written (:func:`normalize`), so two
dumps of the same code compare with a plain ``diff -r``: expression ids
(``#123``), ``plan_id=NNN``, lambda variable counters (``x_12``) and the
pid suffix of per-process scratch paths all become fixed tokens.  Two plans
stay nondeterministic even then: ``tx_domain_stats`` orders the two COUNT
DISTINCT groups of its ``Expand`` by expression-id hash, and
``s11_schema_evolution`` embeds a random parquet file name.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (pattern, replacement), applied in order: lambda variables first, while
# their ``#id`` still marks them as attribute names.
_NORMALIZE = [
    (re.compile(r"\b([A-Za-z]+)_\d+(?=#\d)"), r"\1_N"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"(qcfractal_spark_\w+?_[0-9a-f]{12})_\d+"), r"\1_PID"),
]


def normalize(plan: str) -> str:
    """``plan`` with its per-build counters and per-process paths replaced
    by fixed tokens."""
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    from qcfractal_spark.queries import REGISTRY
    from qcfractal_spark.session import build_session

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
            f.write(normalize(plan))
        print(f"dumped {name}_{suffix}", flush=True)


if __name__ == "__main__":
    main()
