"""True append commits (r15): MutableTable.append hardlinks the base
version's data files and writes only the batch — commit IO must be
O(batch), pinned here by inode identity of the pre-existing files."""

from __future__ import annotations

import os

import pytest

from qcfractal_spark.sources.table import MutableTable


def _data_inodes(t, version):
    base = t._version_dir(version)
    out = {}
    for root, _, files in os.walk(base):
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, f), base)
                out[rel] = os.stat(os.path.join(root, f)).st_ino
    return out


def test_append_links_base_files_and_adds_batch(spark, tmp_path):
    t = MutableTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    v0 = t.current_version()
    before = _data_inodes(t, v0)
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    v1 = t.current_version()
    after = _data_inodes(t, v1)
    # every base file survives as a hardlink (same inode, no data copy)
    for rel, ino in before.items():
        assert after.get(rel) == ino, rel
    assert len(after) > len(before)  # the batch's new files
    got = sorted((r["id"], r["v"]) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # time travel: the base version is untouched
    assert t.read(v0).count() == 2


def test_append_partitioned_touches_no_base_inode(spark, tmp_path):
    t = MutableTable(spark, str(tmp_path / "p"), partition_by=["b"])
    t.overwrite(spark.createDataFrame([(1, 0), (2, 1)], "id long, b int"))
    before = _data_inodes(t, t.current_version())
    t.append(spark.createDataFrame([(3, 1)], "id long, b int"))
    after = _data_inodes(t, t.current_version())
    for rel, ino in before.items():
        assert after.get(rel) == ino, rel
    assert t.read().where("b = 1").count() == 2


def test_append_schema_mismatch_raises(spark, tmp_path):
    t = MutableTable(spark, str(tmp_path / "s"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.append(spark.createDataFrame([(2,)], "id long"))


def test_append_to_empty_table(spark, tmp_path):
    t = MutableTable(spark, str(tmp_path / "e"))
    t.overwrite(spark.createDataFrame([], "id long, v string"))
    t.append(spark.createDataFrame([(1, "x")], "id long, v string"))
    assert t.read().count() == 1


def test_concurrent_appends_lose_no_batch(spark, tmp_path):
    """Two threads appending disjoint batches under the CAS loop: the
    loser must retry against the winner's version and BOTH batches
    survive (the no-lost-update contract the threaded insert_dedup
    tests pin, here for raw append)."""
    import threading

    t = MutableTable(spark, str(tmp_path / "c"))
    t.overwrite(spark.createDataFrame([(0, "seed")], "id long, v string"))
    errs = []

    def appender(lo):
        try:
            t.append(
                spark.createDataFrame(
                    [(lo + i, f"w{lo}") for i in range(3)], "id long, v string"
                )
            )
        except Exception as exc:  # noqa: BLE001 — surfaced via errs
            errs.append(exc)

    threads = [threading.Thread(target=appender, args=(lo,)) for lo in (10, 20)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    got = sorted(r["id"] for r in t.read().collect())
    assert got == [0, 10, 11, 12, 20, 21, 22]


def test_append_composes_with_transform_history(spark, tmp_path):
    t = MutableTable(spark, str(tmp_path / "h"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    t.transform(lambda df: df.where("id <> 1"))
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    got = sorted(r["id"] for r in t.read().collect())
    assert got == [2, 3]
