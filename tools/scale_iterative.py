"""Decade-scaling measurements for the iterative/stateful newcomers
(VERDICT r7 item 5) — extends the r7 sf0.1→sf1 table (SCALE.md §5) to the
query shapes whose cost model is NOT one scan:

- ``g1_pagerank`` — 10 serial damped rounds over the hierarchy edges; the
  sf1 dataset holds 10 DISJOINT copies of the graph (tools/gen_sf1.py),
  so the question is whether the per-round join+sum scales linearly in
  edges with round count constant (same diameter).
- ``t11_scd2`` / ``t12_islands`` — per-entity rank-only windows; sf1 has
  10× users with identical per-user history, so per-key work is constant
  and the windows should scale linearly with no straggler.
- ``j8_closure`` — BFS fixpoint; disjoint copies keep depth constant.
- Incremental label assignment (the ``dd_incremental_labels`` /
  ``stream_label_assign`` ingest loop): CONSTANT batch (the 500
  sf0.1 ``doc_id % 10 == 0`` docs) probed against a GROWING corpus index
  (sf0.1's 4.5k vs sf1's 49.5k corpus docs).  The contract is work ∝
  batch, never corpus: the probe+assembly time must stay ~flat while the
  index behind it grows 10×.  (The streaming arm's per-micro-batch body
  calls these batch functions verbatim — pinned by the stream≡batch
  parity test — so this measurement covers both arms' physics.)

Usage: python tools/scale_iterative.py            # full table
       python tools/scale_iterative.py g1_pagerank t11_scd2   # subset
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qcfractal_spark.queries import REGISTRY
from qcfractal_spark.session import build_session

SF01 = "/root/testdata/sf0.1"
SF1 = "/root/repo/scratch/sf1"

REGISTRY_TARGETS = ["g1_pagerank", "t11_scd2", "t12_islands", "j8_closure"]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def best_of(n, fn) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def probe_setup(spark, sf_dir: str, tag: str):
    """Build the corpus band index for ``sf_dir`` (ingest cost, reported
    separately) and return (index_path, batch_sigs) where the batch is
    ALWAYS the fixed 500-doc sf0.1 arrival set."""
    from pyspark.sql import functions as F

    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions.dedup import (
        minhash_signatures,
        write_lsh_band_index,
    )

    corpus = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 != 0
    )
    path = os.path.join("/tmp", f"scale_iter_index_{tag}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    csigs = minhash_signatures(corpus).localCheckpoint(eager=True)
    write_lsh_band_index(csigs, path)
    build_s = time.time() - t0
    batch = load_table(spark, SF01, "documents").where(F.col("doc_id") % 10 == 0)
    bsigs = minhash_signatures(batch).localCheckpoint(eager=True)
    return path, bsigs, build_s


def probe_once(spark, path, bsigs) -> None:
    """The steady-state ingest step: probe + batch CC + label assembly
    (the q_dd_incremental_labels body from the candidates on)."""
    from pyspark.sql import functions as F

    from qcfractal_spark.functions.dedup import incremental_lsh_candidates
    from qcfractal_spark.operators.graph import connected_components

    cand = incremental_lsh_candidates(spark, path, bsigs).localCheckpoint(eager=True)
    bb = cand.where(F.col("id_a") % 10 == 0)
    bcomp = connected_components(bb, "id_a", "id_b", approx_edges=bb.count())
    ids = bsigs.select(F.col("id"))
    force(
        ids.join(bcomp, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("bcomp")
        )
    )


def main() -> None:
    only = set(sys.argv[1:])
    spark = build_session("qcfractal-spark-scale-iter")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    rows = []
    for name in REGISTRY_TARGETS:
        if only and name not in only:
            continue
        fn = REGISTRY[name].fn
        t01 = best_of(2, lambda: force(fn(spark, SF01)))
        t1 = best_of(2, lambda: force(fn(spark, SF1)))
        rows.append((name, t01, t1))
        print(f"{name:24s} sf0.1={t01:6.2f}s sf1={t1:6.2f}s "
              f"ratio={t1 / t01:5.1f}x exp={math.log10(t1 / t01):5.2f}")

    if not only or "labels_probe" in only:
        for sf_dir, tag in ((SF01, "sf01"), (SF1, "sf1")):
            path, bsigs, build_s = probe_setup(spark, sf_dir, tag)
            t = best_of(2, lambda: probe_once(spark, path, bsigs))
            rows.append((f"labels_probe@{tag}", build_s, t))
            print(f"labels_probe@{tag:5s}      index_build={build_s:6.2f}s "
                  f"probe+assemble={t:6.2f}s (batch fixed at 500 docs)")
            shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    main()
