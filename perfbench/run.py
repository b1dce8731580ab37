"""Benchmark entry point.

    python3 perfbench/run.py --workload <records_api|corpus_prep>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One workload per process: a fresh Spark
session on local[N], scratch inside the checkout, an untimed warm-up, a
timed closed loop of ``--seconds``, the correctness checks, and the result
as the last line of standard output.  ``--trace 1`` is the traced run: it
prints the per-layer metrics instead of the end-to-end ones and writes the
spans to ``.perfbench_work/trace-<workload>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

from common import ROOT, WORK, Run  # noqa: E402

WORKLOADS = ("records_api", "corpus_prep")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "qcfractal_spark" / "__init__.py").is_file():
        print(f"no qcfractal_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.prepare_dirs()
    try:
        run.start_session()
        out = importlib.import_module(args.workload).run_workload(run)
        e2e = {"setup_s": (run.setup_s, "s"), **out["metrics"]}
        if run.trace:
            from layers import layer_metrics

            run.tracer.attribute_jobs()
            metrics = layer_metrics(run)
            run.tracer.write(WORK / f"trace-{args.workload}.json")
            # the same run's end-to-end figures give the tracing overhead
            out["extra"]["end_to_end_traced"] = {k: v for k, (v, _) in e2e.items()}
        else:
            metrics = e2e
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
        run.mark("stopped")
    print(run.result(metrics, out["extra"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
