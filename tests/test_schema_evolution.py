"""MutableTable schema evolution (VERDICT r10 item 3) — the alembic
analog: add/rename are metadata-only commits (hardlinked data, O(1) IO),
widen rewrites; reads reconcile mixed-schema files; change_feed and
time-travel stay green across an evolution."""

from __future__ import annotations

import glob
import os

import pytest

from qcfractal_spark.sources.table import MutableTable


def _seed(spark, tmp_path, name="evo"):
    t = MutableTable(spark, str(tmp_path / name))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, v string, n int"
        )
    )
    return t


def test_add_column_is_metadata_only_and_defaults_old_rows(spark, tmp_path):
    t = _seed(spark, tmp_path)
    v0_files = {
        os.stat(p).st_ino
        for p in glob.glob(os.path.join(t._version_dir(0), "*.parquet"))
    }
    t.evolve([{"op": "add", "name": "tier", "dtype": "string", "default": "std"}])
    # metadata-only: the new version's data files are HARDLINKS (same inode)
    v1_files = {
        os.stat(p).st_ino
        for p in glob.glob(os.path.join(t._version_dir(1), "*.parquet"))
    }
    assert v1_files == v0_files
    rows = {r["id"]: r["tier"] for r in t.read().collect()}
    assert rows == {1: "std", 2: "std"}


def test_append_after_add_mixes_schemas_and_reconciles(spark, tmp_path):
    t = _seed(spark, tmp_path)
    t.evolve([{"op": "add", "name": "tier", "dtype": "string", "default": "std"}])
    t.insert_dedup(
        spark.createDataFrame([(3, "c", 30, "gold")], "id long, v string, n int, tier string"),
        ["id"],
    )
    rows = {r["id"]: r["tier"] for r in t.read().collect()}
    assert rows == {1: "std", 2: "std", 3: "gold"}


def test_rename_reconciles_old_files(spark, tmp_path):
    t = _seed(spark, tmp_path)
    t.evolve([{"op": "rename", "old": "v", "new": "name"}])
    assert set(t.read().columns) == {"id", "name", "n"}
    assert {r["id"]: r["name"] for r in t.read().collect()} == {1: "a", 2: "b"}
    # appends under the new name coexist with hardlinked old-name files
    t.insert_dedup(
        spark.createDataFrame([(3, "c", 30)], "id long, name string, n int"), ["id"]
    )
    assert {r["id"]: r["name"] for r in t.read().collect()} == {1: "a", 2: "b", 3: "c"}


def test_widen_rewrites_and_time_travel_reconciles(spark, tmp_path):
    t = _seed(spark, tmp_path)
    v0 = t.current_version()
    t.evolve([{"op": "widen", "name": "n", "dtype": "bigint"}])
    assert dict(t.read().dtypes)["n"] == "bigint"
    big = 2**40
    t.insert_dedup(
        spark.createDataFrame([(4, "d", big)], "id long, v string, n long"), ["id"]
    )
    assert {r["id"]: r["n"] for r in t.read().collect()} == {1: 10, 2: 20, 4: big}
    # time-travel to the pre-widen version still reads (its own ops apply)
    assert {r["id"] for r in t.read(version=v0 + 1).collect()} == {1, 2}


def test_change_feed_across_evolution(spark, tmp_path):
    """v_N -> evolve(add) -> v_N+1 is a no-row-change diff (same keys,
    values equal once both sides reconcile under the current schema);
    the following append diffs as a plain insert carrying the new
    column."""
    t = _seed(spark, tmp_path)
    t.evolve([{"op": "add", "name": "tier", "dtype": "string", "default": "std"}])
    feed = t.change_feed(["id"]).collect()
    assert feed == []  # evolution alone changes no row
    t.insert_dedup(
        spark.createDataFrame([(3, "c", 30, "gold")], "id long, v string, n int, tier string"),
        ["id"],
    )
    feed2 = {(r["id"], r["_change"], r["tier"]) for r in t.change_feed(["id"]).collect()}
    assert feed2 == {(3, "insert", "gold")}


def test_combined_ops_and_validation(spark, tmp_path):
    t = _seed(spark, tmp_path)
    t.evolve(
        [
            {"op": "add", "name": "tier", "dtype": "string", "default": "std"},
            {"op": "rename", "old": "v", "new": "name"},
        ]
    )
    assert set(t.read().columns) == {"id", "name", "n", "tier"}
    with pytest.raises(ValueError, match="already exists"):
        t.evolve([{"op": "add", "name": "tier", "dtype": "string"}])
    with pytest.raises(ValueError, match="does not exist"):
        t.evolve([{"op": "rename", "old": "nope", "new": "x"}])
    with pytest.raises(ValueError, match="unknown schema op"):
        t.evolve([{"op": "retype", "name": "n"}])


def test_partition_scoped_mutation_after_evolution(spark, tmp_path):
    """Retention on a partitioned, evolved table: untouched partitions
    stay hardlinked with the OLD physical schema, touched ones rewrite
    with the new — the read must reconcile the mix."""
    from datetime import datetime

    t = MutableTable(spark, str(tmp_path / "part"), partition_by=["day"])
    t.overwrite(
        spark.createDataFrame(
            [
                (1, "2024-01-01", datetime(2024, 1, 1)),
                (2, "2024-01-02", datetime(2024, 1, 2)),
                (3, "2024-01-03", datetime(2024, 1, 3)),
            ],
            "id long, day string, ts timestamp",
        )
    )
    t.evolve([{"op": "add", "name": "flag", "dtype": "int", "default": 0}])
    n = t.retention_delete("ts", datetime(2024, 1, 2))
    assert n == 1
    rows = {r["id"]: r["flag"] for r in t.read().collect()}
    assert rows == {2: 0, 3: 0}


def test_drop_column_is_metadata_only(spark, tmp_path):
    t = _seed(spark, tmp_path, "drop")
    v_files = {
        os.stat(p).st_ino
        for p in glob.glob(os.path.join(t._version_dir(0), "*.parquet"))
    }
    t.evolve([{"op": "drop", "name": "n"}])
    v1_files = {
        os.stat(p).st_ino
        for p in glob.glob(os.path.join(t._version_dir(1), "*.parquet"))
    }
    assert v1_files == v_files  # hardlinked — bytes linger, reads project away
    assert set(t.read().columns) == {"id", "v"}
    # appends without the column coexist; a later add may reuse the name
    t.insert_dedup(spark.createDataFrame([(3, "c")], "id long, v string"), ["id"])
    assert {r["id"] for r in t.read().collect()} == {1, 2, 3}
    with pytest.raises(ValueError, match="does not exist"):
        t.evolve([{"op": "drop", "name": "n"}])  # already dropped


def test_metadata_only_evolve_links_every_partition_file(spark, tmp_path):
    """A metadata-only evolve on a partitioned table hardlinks every data
    file of every partition directory: the recursive inode sets of the
    base and the new version are equal (no file copied, none dropped)."""

    def inodes(vdir):
        return {
            os.stat(p).st_ino
            for p in glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True)
        }

    t = MutableTable(spark, str(tmp_path / "pevo"), partition_by=["b"])
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}", i % 3) for i in range(12)], "id long, v string, b int"
        )
    )
    before = inodes(t._version_dir(0))
    assert len(before) >= 3  # one file per partition at least
    t.evolve([{"op": "add", "name": "tier", "dtype": "string", "default": "std"}])
    assert inodes(t._version_dir(1)) == before
    assert {r["tier"] for r in t.read().collect()} == {"std"}
    assert t.read().count() == 12


def test_history_reports_versions_and_ops(spark, tmp_path):
    t = _seed(spark, tmp_path, "hist")
    t.evolve([{"op": "add", "name": "tier", "dtype": "string", "default": "std"}])
    t.insert_dedup(
        spark.createDataFrame([(9, "z", 1, "gold")], "id long, v string, n int, tier string"),
        ["id"],
    )
    h = t.history()
    # every version stays listed (pruned ones tombstone in place keeping
    # their meta); data retention is still depth 1: v0 is pruned.
    assert [e["version"] for e in h] == [2, 1, 0]
    assert [e["pruned"] for e in h] == [False, False, True]
    assert all(e["ts"] is not None for e in h)
    assert h[0]["schema_ops"] == h[1]["schema_ops"]  # ops carried forward
    assert h[0]["schema_ops"][0]["op"] == "add"
    with pytest.raises(FileNotFoundError):
        t.read(version=0)


def test_tombstoned_names_cannot_be_reused(spark, tmp_path):
    """Metadata-only drop/rename leaves old files physically carrying the
    column; re-adding the same name would let mergeSchema resurrect those
    stale bytes into the new column — evolve must refuse."""
    t = _seed(spark, tmp_path, "tomb")
    t.evolve([{"op": "drop", "name": "n"}])
    with pytest.raises(ValueError, match="retired"):
        t.evolve([{"op": "add", "name": "n", "dtype": "int", "default": 0}])
    t.evolve([{"op": "rename", "old": "v", "new": "label"}])
    with pytest.raises(ValueError, match="retired"):
        t.evolve([{"op": "add", "name": "v", "dtype": "string"}])
    with pytest.raises(ValueError, match="retired"):
        t.evolve([{"op": "rename", "old": "label", "new": "v"}])
    # renaming onto a LIVE column is rejected too
    t.evolve([{"op": "add", "name": "extra", "dtype": "int", "default": 1}])
    with pytest.raises(ValueError, match="already exists"):
        t.evolve([{"op": "rename", "old": "label", "new": "extra"}])


def test_add_default_is_existence_default_not_null_rewrite(spark, tmp_path):
    """r11 ADVICE: the declared default fills only files that physically
    predate the add — a row written with an EXPLICIT NULL after the
    evolution must read back NULL, not the default."""
    t = _seed(spark, tmp_path, "exdef")
    t.evolve([{"op": "add", "name": "tier", "dtype": "string", "default": "std"}])
    t.insert_dedup(
        spark.createDataFrame(
            [(3, "c", 30, None)], "id long, v string, n int, tier string"
        ),
        ["id"],
    )
    rows = {r["id"]: r["tier"] for r in t.read().collect()}
    assert rows == {1: "std", 2: "std", 3: None}
    # and the recorded op carries the pre-add file manifest
    ops = t._schema_ops(t.current_version())
    add = [o for o in ops if o["op"] == "add"][0]
    assert add.get("pre_files"), "add-with-default must record pre_files"
