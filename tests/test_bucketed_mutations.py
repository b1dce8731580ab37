"""Partition-scoped mutation commits (r15, VERDICT r14 item 6):
MutableTable.transform_partitions + the bucketed RecordStatusTable arm.
The contract under test: an id-targeted mutation rewrites ONLY the
buckets the id list touches — every other partition directory is
hardlinked from the base version (inode-identical, no data copy)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qcfractal_spark.operators.record_status import RecordStatusTable
from qcfractal_spark.sources.table import MutableTable

ROWS = [(i, f"v{i}", i % 4) for i in range(40)]  # (id, val, b)


def _ptable(spark, tmp_path):
    t = MutableTable(spark, str(tmp_path / "pt"), partition_by=["b"])
    t.overwrite(spark.createDataFrame(ROWS, "id long, val string, b int"))
    return t


def _part_inodes(t, version):
    base = t._version_dir(version)
    out = {}
    for entry in sorted(os.listdir(base)):
        if entry.startswith("b="):
            out[entry] = sorted(
                os.stat(os.path.join(base, entry, f)).st_ino
                for f in os.listdir(os.path.join(base, entry))
                if f.endswith(".parquet")
            )
    return out


def test_transform_partitions_rewrites_only_touched(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    v0 = t.current_version()
    before = _part_inodes(t, v0)
    t.transform_partitions(
        lambda df: df.withColumn(
            "val", F.when(F.col("id") == 5, F.lit("X")).otherwise(F.col("val"))
        ),
        [1],
    )
    v1 = t.current_version()
    after = _part_inodes(t, v1)
    # untouched buckets are hardlinks of the base files (no data copy)
    for part in ("b=0", "b=2", "b=3"):
        assert after[part] == before[part], part
    assert after["b=1"] != before["b=1"]
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[5] == "X" and got[4] == "v4" and len(got) == 40


def test_transform_partitions_requires_one_partition_col(spark, tmp_path):
    flat = MutableTable(spark, str(tmp_path / "flat"))
    flat.overwrite(spark.createDataFrame([(1,)], "id long"))
    with pytest.raises(ValueError):
        flat.transform_partitions(lambda df: df, [0])


def test_transform_partitions_empty_touched_is_hardlink_commit(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    before = _part_inodes(t, t.current_version())
    t.transform_partitions(lambda df: df, [])
    after = _part_inodes(t, t.current_version())
    assert after == before
    assert t.read().count() == 40


def test_upsert_scopes_to_key_partitions(spark, tmp_path):
    """When the partition column is a key column, upsert must rewrite
    only the batch's partitions (Delta MERGE dynamic pruning analog)."""
    t = MutableTable(spark, str(tmp_path / "up"), partition_by=["b"])
    t.overwrite(spark.createDataFrame(ROWS, "id long, val string, b int"))
    before = _part_inodes(t, t.current_version())
    meta = t.upsert(
        spark.createDataFrame(
            [(5, "X", 1), (100, "new", 1)], "id long, val string, b int"
        ),
        ["id", "b"],
    )
    assert meta == {"updated": 1, "inserted": 1}
    after = _part_inodes(t, t.current_version())
    for part in ("b=0", "b=2", "b=3"):
        assert after[part] == before[part], part
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[5] == "X" and got[100] == "new" and len(got) == 41


def _records(spark, n=60):
    # waiting/running/error/complete mix over ids 0..n-1
    sts = ["waiting", "running", "error", "complete"]
    return spark.createDataFrame(
        [
            (i, sts[i % 4], False, "mgr" if i % 4 == 1 else None,
             "tag", 1, i % 4 == 0)
            for i in range(n)
        ],
        "record_id long, status string, is_service boolean, "
        "manager_name string, compute_tag string, compute_priority int, "
        "task_available boolean",
    )


def test_bucketed_status_table_matches_unbucketed(spark, tmp_path):
    flat = RecordStatusTable(spark, str(tmp_path / "flat"))
    bkt = RecordStatusTable(spark, str(tmp_path / "bkt"), n_buckets=8)
    flat.init(_records(spark))
    bkt.init(_records(spark))
    script = [
        ("cancel", [1, 2, 5, 6, 9]),
        ("uncancel", [1, 2, 5]),
        ("delete", [10, 11]),
        ("undelete", [10]),
        ("reset", [14]),
    ]
    for op, ids in script:
        ma = getattr(flat, op)(ids)
        mb = getattr(bkt, op)(ids)
        assert ma == mb, (op, ma, mb)
    key = lambda r: r["record_id"]  # noqa: E731
    a = sorted([r.asDict() for r in flat.read().collect()], key=key)
    b = sorted([r.asDict() for r in bkt.read().collect()], key=key)
    assert a == b
    ab = sorted([tuple(r) for r in flat.read_backup().collect()])
    bb = sorted([tuple(r) for r in bkt.read_backup().collect()])
    assert ab == bb


def test_bucketed_cancel_touches_only_id_buckets(spark, tmp_path):
    bkt = RecordStatusTable(spark, str(tmp_path / "b2"), n_buckets=8)
    bkt.init(_records(spark))
    v0 = bkt.records.current_version()
    base = bkt.records._version_dir(v0)
    inodes0 = {
        e: sorted(
            os.stat(os.path.join(base, e, f)).st_ino
            for f in os.listdir(os.path.join(base, e))
            if f.endswith(".parquet")
        )
        for e in os.listdir(base)
        if e.startswith("_bucket=")
    }
    # ids 8 and 16 both live in bucket 0: exactly one bucket rewritten
    bkt.cancel([8, 16])
    v1 = bkt.records.current_version()
    cur = bkt.records._version_dir(v1)
    inodes1 = {
        e: sorted(
            os.stat(os.path.join(cur, e, f)).st_ino
            for f in os.listdir(os.path.join(cur, e))
            if f.endswith(".parquet")
        )
        for e in os.listdir(cur)
        if e.startswith("_bucket=")
    }
    changed = [e for e in inodes0 if inodes1.get(e) != inodes0[e]]
    assert changed == ["_bucket=0"], changed
    got = {r["record_id"]: r["status"] for r in bkt.read().collect()}
    assert got[8] == "cancelled" and got[16] == "cancelled"
