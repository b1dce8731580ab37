"""Decade-scaling measurements for the MUTATION family (r15, VERDICT r14
item 6): the s13/s14-class ops are gate-only (never benched), so their
CoW commit costs at corpus scale were unmeasured.  This tool times the
actual table ops at sf1 → sf10 (scratch decade dirs) and pins the
partition-scoped-commit contract with a file-count assertion:

- ``cancel_stripe`` / ``uncancel_stripe`` — RecordStatusTable
  (n_buckets=64) over the orders-derived record fixture; a 10%% stripe
  id list (o_orderkey %% 10 == 3) scatters across every bucket, so this
  measures the WORST case: all buckets rewritten + the driver-side
  id-list/backup materialization the reference's client contract
  implies.  Expect exponent ~1.0 (linear CoW rewrite).
- ``cancel_bucket_local`` — cancel over ids of ONE bucket
  (o_orderkey %% 64 == 7, capped at 5000 ids): the partition-scoped
  commit rewrites exactly one bucket directory and hardlinks the other
  63 (asserted by inode diff).  The touched bucket grows with the
  corpus (1/64 of it), so the expected exponent is ≤1.0 with a ~64×
  smaller constant than the stripe — THE 100 TB argument: commit IO ∝
  touched buckets, not table size.
- ``dataset_clone`` — DatasetStore.clone of a dataset whose entries /
  items derive from documents (one entry per doc): full metadata +
  entries + specs + items copy through the conflict gates.

Usage: python tools/scale_mutations.py [sf1|sf10 ...]   # default both
Writes scratch/scale_mutations_r15.json and prints a markdown table.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from qcfractal_spark.catalog import load_table
from qcfractal_spark.operators.record_status import RecordStatusTable
from qcfractal_spark.session import build_session
from qcfractal_spark.sources.dataset_store import DATASET_SCHEMA, DatasetStore

SF_DIRS = {
    "sf1": "/root/repo/scratch/sf1",
    "sf10": "/root/repo/scratch/sf10",
}
SCRATCH = "/root/repo/scratch/mutscale"
N_BUCKETS = 64

STATUS = {"O": "waiting", "F": "complete", "P": "running"}


def _records_df(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    status = (
        F.when(F.col("o_orderstatus") == "O", "waiting")
        .when(F.col("o_orderstatus") == "P", "running")
        .otherwise("complete")
    )
    return o.select(
        F.col("o_orderkey").alias("record_id"),
        status.alias("status"),
        F.lit(False).alias("is_service"),
        F.when(status == "running", F.lit("mgr")).alias("manager_name"),
        F.lit("tag").alias("compute_tag"),
        F.lit(1).alias("compute_priority"),
        (status == "waiting").alias("task_available"),
    )


def _bucket_inodes(table):
    base = table._version_dir(table.current_version())
    out = {}
    for e in os.listdir(base):
        if e.startswith("_bucket="):
            d = os.path.join(base, e)
            out[e] = sorted(
                os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
    return out


def measure_status(spark, sf, sf_dir) -> dict:
    path = os.path.join(SCRATCH, f"status_{sf}")
    shutil.rmtree(path, ignore_errors=True)
    t = RecordStatusTable(spark, path, n_buckets=N_BUCKETS)
    t.init(_records_df(spark, sf_dir))
    o = load_table(spark, sf_dir, "orders")
    stripe = [
        r["record_id"]
        for r in o.where(F.pmod(F.col("o_orderkey"), F.lit(10)) == 3)
        .select(F.col("o_orderkey").alias("record_id"))
        .collect()
    ]
    local = [
        r["record_id"]
        for r in o.where(F.pmod(F.col("o_orderkey"), F.lit(N_BUCKETS)) == 7)
        .select(F.col("o_orderkey").alias("record_id"))
        .limit(5000)
        .collect()
    ]
    out = {"n_records": o.count(), "stripe_ids": len(stripe)}

    t0 = time.time()
    meta = t.cancel(stripe)
    out["cancel_stripe_sec"] = round(time.time() - t0, 2)
    out["cancel_stripe_updated"] = meta["n_updated"]

    t0 = time.time()
    meta = t.uncancel(stripe)
    out["uncancel_stripe_sec"] = round(time.time() - t0, 2)
    out["uncancel_stripe_updated"] = meta["n_updated"]

    before = _bucket_inodes(t.records)
    t0 = time.time()
    meta = t.cancel(local)
    out["cancel_bucket_local_sec"] = round(time.time() - t0, 2)
    out["cancel_bucket_local_updated"] = meta["n_updated"]
    after = _bucket_inodes(t.records)
    changed = sorted(e for e in before if after.get(e) != before[e])
    assert changed == ["_bucket=7"], (
        f"partition-scoped contract violated: buckets rewritten = {changed}"
    )
    out["bucket_local_dirs_rewritten"] = len(changed)
    shutil.rmtree(path, ignore_errors=True)
    return out


def measure_clone(spark, sf, sf_dir) -> dict:
    path = os.path.join(SCRATCH, f"clone_{sf}")
    shutil.rmtree(path, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    store = DatasetStore(spark, path)
    datasets = spark.createDataFrame(
        [(1, "singlepoint", "big", "the big set", "t0", 1)], DATASET_SCHEMA
    )
    entries = docs.select(
        F.lit(1).cast("long").alias("dataset_id"),
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("entry_name"),
        F.col("lang").alias("payload"),
    )
    specs = spark.createDataFrame(
        [(1, "s1", "spec 1", 100), (1, "s2", "spec 2", 200)],
        "dataset_id long, name string, description string, specification_id long",
    )
    items = docs.crossJoin(
        spark.createDataFrame([("s1",), ("s2",)], "specification_name string")
    ).select(
        F.lit(1).cast("long").alias("dataset_id"),
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("entry_name"),
        "specification_name",
        F.col("doc_id").alias("record_id"),
    )
    store.init(datasets, entries, specs, items)
    n = entries.count()

    t0 = time.time()
    new_id = store.clone(1, "big_clone")
    sec = round(time.time() - t0, 2)
    cloned = store.entries.read().where(F.col("dataset_id") == new_id).count()
    assert cloned == n, (cloned, n)
    shutil.rmtree(path, ignore_errors=True)
    return {"n_entries": n, "clone_sec": sec}


def main() -> None:
    targets = sys.argv[1:] or list(SF_DIRS)
    spark = build_session("scale-mutations")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(SCRATCH, exist_ok=True)
    results: dict[str, dict] = {}
    for sf in targets:
        sf_dir = SF_DIRS[sf]
        print(f"== {sf} ==", flush=True)
        results[sf] = {
            **measure_status(spark, sf, sf_dir),
            **measure_clone(spark, sf, sf_dir),
        }
        print(json.dumps(results[sf]), flush=True)
    if {"sf1", "sf10"} <= set(results):
        exp = {}
        for k in (
            "cancel_stripe_sec",
            "uncancel_stripe_sec",
            "cancel_bucket_local_sec",
            "clone_sec",
        ):
            a, b = results["sf1"][k], results["sf10"][k]
            exp[k] = round(math.log10(max(b, 1e-3) / max(a, 1e-3)), 2)
        results["exponents_sf1_to_sf10"] = exp
        print("| op | sf1 (s) | sf10 (s) | exponent |")
        print("|---|---|---|---|")
        for k, e in exp.items():
            print(f"| {k[:-4]} | {results['sf1'][k]} | {results['sf10'][k]} | {e} |")
    with open(os.path.join(SCRATCH, "scale_mutations_r15.json"), "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
