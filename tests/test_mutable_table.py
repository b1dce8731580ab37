"""Copy-on-write MutableTable tests — the S3-S7 mutation semantics
(insert-dedup metadata, upsert, referential delete errors, retention,
version swap atomicity)."""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

import pytest

from qcfractal_spark.sources.table import MutableTable


@pytest.fixture()
def tmp_table(spark):
    with tempfile.TemporaryDirectory() as d:
        t = MutableTable(spark, d + "/tbl")
        t.overwrite(
            spark.createDataFrame(
                [(1, "a", datetime(2024, 1, 1)), (2, "b", datetime(2024, 1, 5))],
                "id long, v string, ts timestamp",
            )
        )
        yield t, spark


def test_insert_dedup_metadata(tmp_table):
    t, spark = tmp_table
    batch = spark.createDataFrame(
        [(2, "b2", datetime(2024, 1, 6)), (3, "c", datetime(2024, 1, 7))],
        "id long, v string, ts timestamp",
    )
    meta = t.insert_dedup(batch, ["id"])
    assert meta == {"inserted": 1, "existing": 1}
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}  # existing row untouched (DO NOTHING)


def test_upsert_replaces_and_appends(tmp_table):
    t, spark = tmp_table
    batch = spark.createDataFrame(
        [(2, "B", datetime(2024, 1, 6)), (4, "d", datetime(2024, 1, 8))],
        "id long, v string, ts timestamp",
    )
    meta = t.upsert(batch, ["id"])
    assert meta == {"updated": 1, "inserted": 1}
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows == {1: "a", 2: "B", 4: "d"}


def test_delete_with_referential_errors(tmp_table):
    t, spark = tmp_table
    refs = spark.createDataFrame([(1,)], "record_id long")
    out = t.delete_ids([1, 2, 99], id_col="id", referencing=refs, ref_col="record_id")
    assert out == {"deleted": 1, "errors": [1]}  # id=1 blocked, id=2 deleted, 99 absent
    assert {r["id"] for r in t.read().collect()} == {1}


def test_retention_and_time_travel(tmp_table):
    t, _ = tmp_table
    v_before = t.current_version()
    n = t.retention_delete("ts", datetime(2024, 1, 3))
    assert n == 1
    assert {r["id"] for r in t.read().collect()} == {2}
    # previous version still readable (time-travel depth 1)
    assert {r["id"] for r in t.read(version=v_before).collect()} == {1, 2}


def test_upsert_null_key_replaces_not_duplicates(spark):
    """A NULL-key batch row must REPLACE the table's NULL-key row (the
    null-safe conflict rule upsert_classify already applies), not append a
    second survivor."""
    with tempfile.TemporaryDirectory() as d:
        t = MutableTable(spark, d + "/tbl")
        t.overwrite(
            spark.createDataFrame(
                [(1, "a"), (None, "old-null")], "id long, v string"
            )
        )
        meta = t.upsert(
            spark.createDataFrame([(None, "new-null"), (2, "b")], "id long, v string"),
            ["id"],
        )
        assert meta == {"updated": 1, "inserted": 1}
        rows = {r["id"]: r["v"] for r in t.read().collect()}
        assert rows == {1: "a", None: "new-null", 2: "b"}


def test_retention_never_expires_null_ts(spark):
    """A NULL timestamp cannot satisfy `ts < cutoff`, so retention keeps it
    — in BOTH arms (the unpartitioned arm used to delete NULL-ts rows while
    the partitioned arm kept those in untouched partitions)."""
    rows = [
        (1, "old", datetime(2024, 1, 1), "2024-01"),
        (2, "new", datetime(2024, 2, 5), "2024-02"),
        (3, "nots", None, "2024-01"),   # NULL ts in a TOUCHED partition
        (4, "nots2", None, "2024-02"),  # NULL ts in an untouched partition
    ]
    schema = "id long, v string, ts timestamp, month string"
    with tempfile.TemporaryDirectory() as d:
        flat = MutableTable(spark, d + "/flat")
        flat.overwrite(spark.createDataFrame(rows, schema))
        assert flat.retention_delete("ts", datetime(2024, 2, 1)) == 1
        assert {r["id"] for r in flat.read().collect()} == {2, 3, 4}

        part = MutableTable(spark, d + "/part", partition_by=["month"])
        part.overwrite(spark.createDataFrame(rows, schema))
        assert part.retention_delete("ts", datetime(2024, 2, 1)) == 1
        assert {r["id"] for r in part.read().collect()} == {2, 3, 4}


def test_snapshot_export_roundtrip(spark):
    """S8: dataset-view snapshot = one parquet dataset per table, readable
    back with identical schema and contents (views.py:26-186 analog — one
    distributed write per table, no 20-row driver batching)."""
    import os

    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.sources.parquet import snapshot_export

    sf = "/root/testdata/sf0.001"
    tables = {
        "region": load_table(spark, sf, "region"),
        "nation": load_table(spark, sf, "nation"),
        "events": load_table(spark, sf, "events"),
    }
    with tempfile.TemporaryDirectory() as d:
        paths = snapshot_export(tables, os.path.join(d, "snap"))
        assert set(paths) == set(tables)
        for name, path in paths.items():
            back = spark.read.parquet(path)
            src = tables[name]
            assert back.schema == src.schema, name
            assert back.count() == src.count(), name
            # value-level: symmetric difference is empty
            assert back.exceptAll(src).count() == 0
            assert src.exceptAll(back).count() == 0


def test_partition_scoped_delete_links_untouched_partitions(spark):
    """Partition-scoped DELETE: IO is proportional to touched partitions —
    untouched partition files are hardlinks to the previous version's files
    (same inode), expired partitions drop, straddling ones rewrite."""
    import os

    with tempfile.TemporaryDirectory() as d:
        t = MutableTable(spark, d + "/tbl", partition_by=["p_day"])
        rows = [
            (i, f"v{i}", datetime(2024, 1, 1 + (i % 3)), 1 + (i % 3))
            for i in range(30)
        ]
        t.overwrite(
            spark.createDataFrame(rows, "id long, v string, ts timestamp, p_day int")
        )
        v0 = t._version_dir(t.current_version())
        inodes_before = {
            e: os.stat(os.path.join(v0, e, f)).st_ino
            for e in os.listdir(v0)
            if e.startswith("p_day=")
            for f in os.listdir(os.path.join(v0, e))
            if f.endswith(".parquet")
        }

        # delete two ids, both in partition p_day=1 → only that partition rewrites
        res = t.delete_ids([0, 3], "id")
        assert res == {"deleted": 2, "errors": []}
        v1 = t._version_dir(t.current_version())
        assert t.read().count() == 28
        assert t.read().where("p_day = 1").count() == 8
        for e in ["p_day=2", "p_day=3"]:
            files = [f for f in os.listdir(os.path.join(v1, e)) if f.endswith(".parquet")]
            assert any(
                os.stat(os.path.join(v1, e, f)).st_ino in inodes_before.values()
                for f in files
            ), f"{e} was rewritten, expected hardlink"

        # retention: cutoff drops p_day=1 (all ts 2024-01-01) entirely, keeps others
        n = t.retention_delete("ts", datetime(2024, 1, 2))
        assert n == 8
        v2 = t._version_dir(t.current_version())
        assert not os.path.isdir(os.path.join(v2, "p_day=1"))
        assert t.read().count() == 20


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    from qcfractal_spark.sources.table import MutableTable
    import glob

    t = MutableTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS grp", "id * 1.5 AS x")
    t.overwrite(df.repartition(32))  # fragmented: 32 small files
    v0 = t.current_version()
    n_before = len(glob.glob(str(tmp_path / "t" / f"v{v0:06d}" / "*.parquet")))
    assert n_before >= 16

    before = sorted(r["id"] for r in t.read().collect())
    v1 = t.compact(target_files=2)
    n_after = len(glob.glob(str(tmp_path / "t" / f"v{v1:06d}" / "*.parquet")))
    assert n_after <= 2
    after = sorted(r["id"] for r in t.read().collect())
    assert after == before  # same rows, fewer files


def test_compact_zorder_clusters_dimensions(spark, tmp_path):
    from qcfractal_spark.sources.table import MutableTable
    from qcfractal_spark.sources.layout import pruned_files
    from pyspark.sql import functions as F

    t = MutableTable(spark, str(tmp_path / "tz"))
    df = spark.range(0, 50_000).select(
        "id",
        (F.col("id") * 48271 % 65536).alias("a"),
        (F.col("id") * 16807 % 65536).alias("b"),
    )
    t.overwrite(df.repartition(16))
    t.compact(target_files=8, zorder_by=["a", "b"])
    z = t.read()
    total = pruned_files(z)
    assert total == 8
    assert pruned_files(z.where(F.col("a") < 4096)) < total
    assert pruned_files(z.where(F.col("b") < 4096)) < total


def test_change_feed_classifies_insert_delete_update(spark, tmp_path):
    from qcfractal_spark.sources.table import MutableTable

    t = MutableTable(spark, str(tmp_path / "cdc"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id long, name string, score double",
        )
    )
    t.overwrite(
        spark.createDataFrame(
            [(2, "b", 20.0), (3, "c", 99.0), (4, "d", 40.0)],
            "id long, name string, score double",
        )
    )
    feed = {r["id"]: r["_change"] for r in t.change_feed(["id"]).collect()}
    assert feed == {1: "delete", 3: "update", 4: "insert"}  # 2 unchanged


def test_compact_zorder_on_partitioned_table_one_file_per_partition(spark, tmp_path):
    """zorder_by + partition_by must still compact each Hive partition
    directory to one file (Z-clustering happens WITHIN the partition), not
    scatter Z-ranges across directories."""
    import glob

    from pyspark.sql import functions as F

    from qcfractal_spark.sources.table import MutableTable

    t = MutableTable(spark, str(tmp_path / "tpz"), partition_by=["grp"])
    df = spark.range(0, 20_000).select(
        "id",
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 48271 % 65536).alias("a"),
        (F.col("id") * 16807 % 65536).alias("b"),
    )
    t.overwrite(df.repartition(16))
    before = sorted(r["id"] for r in t.read().collect())
    v = t.compact(target_files=8, zorder_by=["a", "b"])
    for g in range(4):
        files = glob.glob(
            str(tmp_path / "tpz" / f"v{v:06d}" / f"grp={g}" / "*.parquet")
        )
        assert len(files) == 1, f"grp={g} has {len(files)} files"
    assert sorted(r["id"] for r in t.read().collect()) == before


def test_change_feed_all_key_columns_and_map_rejection(spark, tmp_path):
    from pyspark.sql import functions as F

    from qcfractal_spark.sources.table import MutableTable

    t = MutableTable(spark, str(tmp_path / "cdc2"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    t.overwrite(spark.createDataFrame([(2, "b"), (3, "c")], "id long, name string"))
    # every column a key: only insert/delete arms exist
    feed = {
        (r["id"], r["name"]): r["_change"]
        for r in t.change_feed(["id", "name"]).collect()
    }
    assert feed == {(1, "a"): "delete", (3, "c"): "insert"}

    tm = MutableTable(spark, str(tmp_path / "cdc3"))
    mdf = spark.createDataFrame([(1, {"k": "v"})], "id long, props map<string,string>")
    tm.overwrite(mdf)
    tm.overwrite(mdf)
    import pytest

    with pytest.raises(ValueError, match="map-typed"):
        tm.change_feed(["id"])


def test_cdf_style_emits_pre_and_postimages(spark, tmp_path):
    from qcfractal_spark.sources.table import MutableTable

    t = MutableTable(spark, str(tmp_path / "cdf4"))
    t.overwrite(spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double"))
    t.overwrite(spark.createDataFrame([(2, 99.0), (3, 30.0)], "id long, v double"))
    rows = {(r["id"], r["_change"]): r["v"] for r in t.change_feed(["id"], cdf_style=True).collect()}
    assert rows == {
        (1, "delete"): 10.0,
        (2, "update_preimage"): 20.0,
        (2, "update_postimage"): 99.0,
        (3, "insert"): 30.0,
    }


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    """apply_rollup_delta(old_rollup, rollup_delta(cdf)) must equal the
    full recompute over the new version — including group birth (new key),
    group death (count hits zero), and value updates."""
    from qcfractal_spark.sources.rollup import (
        apply_rollup_delta,
        full_rollup,
        rollup_delta,
    )
    from qcfractal_spark.sources.table import MutableTable

    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0)], "id long, g string, v double"
    )
    v1 = spark.createDataFrame(
        # group b dies (3 deleted), group c born (4), 2's value updates
        [(1, "a", 10.0), (2, "a", 6.5), (4, "c", 1.0)], "id long, g string, v double"
    )
    t = MutableTable(spark, str(tmp_path / "ivm"))
    t.overwrite(v0)
    old = full_rollup(t.read(), ["g"], ["v"])
    t.overwrite(v1)
    cdf = t.change_feed(["id"], cdf_style=True)
    refreshed = apply_rollup_delta(old, rollup_delta(cdf, ["g"], ["v"]), ["g"], ["v"])
    want = {
        (r["g"]): (r["n"], float(r["sum_v"]))
        for r in full_rollup(t.read(), ["g"], ["v"]).collect()
    }
    got = {(r["g"]): (r["n"], float(r["sum_v"])) for r in refreshed.collect()}
    assert got == want == {"a": (2, 16.5), "c": (1, 1.0)}


def test_rollup_delta_rejects_non_cdf_feed(spark, tmp_path):
    """A collapsed 'update' feed (cdf_style=False) carries only postimages;
    rollup_delta must fail loudly rather than corrupt the rollup."""
    import pytest

    from qcfractal_spark.sources.rollup import rollup_delta
    from qcfractal_spark.sources.table import MutableTable

    t = MutableTable(spark, str(tmp_path / "strict"))
    t.overwrite(spark.createDataFrame([(1, "a", 1.0)], "id long, g string, v double"))
    t.overwrite(spark.createDataFrame([(1, "a", 2.0)], "id long, g string, v double"))
    bad = t.change_feed(["id"], cdf_style=False)
    with pytest.raises(Exception, match="cdf_style"):
        rollup_delta(bad, ["g"], ["v"]).collect()


# -- optimistic-CAS concurrent-writer semantics (VERDICT r10 item 2) ---------


def test_stale_publish_is_rejected(spark, tmp_path):
    """A writer that staged against version N must NOT be able to publish
    after another writer committed N+1: the CAS raises and the winner's
    data survives (no lost update)."""
    from qcfractal_spark.sources.table import CommitConflictError

    a = MutableTable(spark, str(tmp_path / "cas"))
    a.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    b = MutableTable(spark, str(tmp_path / "cas"))

    base = a.current_version()
    stale = a._stage_df(spark.createDataFrame([(9, "stale")], "id long, v string"))
    b.overwrite(spark.createDataFrame([(2, "winner")], "id long, v string"))
    with pytest.raises(CommitConflictError):
        a._publish(stale, base)
    assert {r["v"] for r in a.read().collect()} == {"winner"}
    # the loser's stage dir was cleaned up
    import os

    assert not any(e.startswith(".stage_") for e in os.listdir(a.path))


def test_conflict_retry_merges_both_writers(spark, tmp_path):
    """Deterministic interleave: writer A's insert_dedup is interrupted
    after staging by writer B committing an insert.  A's publish conflicts,
    A retries against the fresh version, and the final table contains BOTH
    writers' rows — the reference's ON CONFLICT retry, no lost update."""
    a = MutableTable(spark, str(tmp_path / "ilv"))
    a.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    b = MutableTable(spark, str(tmp_path / "ilv"))

    fired = {"done": False}
    orig_publish = a._publish

    def racing_publish(stage, base, meta=None, **kw):
        if not fired["done"]:
            fired["done"] = True
            b.insert_dedup(
                spark.createDataFrame([(2, "from_b")], "id long, v string"), ["id"]
            )
        return orig_publish(stage, base, meta, **kw)

    a._publish = racing_publish
    out = a.insert_dedup(
        spark.createDataFrame([(3, "from_a")], "id long, v string"), ["id"]
    )
    a._publish = orig_publish
    assert out == {"inserted": 1, "existing": 0}
    rows = {r["id"]: r["v"] for r in a.read().collect()}
    assert rows == {1: "a", 2: "from_b", 3: "from_a"}
    # change_feed stays consistent: the LAST commit (A's retry) inserted
    # exactly id=3 relative to the previous version
    feed = {(r["id"], r["_change"]) for r in a.change_feed(["id"]).collect()}
    assert feed == {(3, "insert")}


def test_concurrent_same_key_serializes_like_on_conflict(spark, tmp_path):
    """Two writers inserting the SAME natural key: the loser's retry
    re-classifies against the winner's commit and reports it as existing
    (ON CONFLICT DO NOTHING semantics) — one surviving row, counts agree."""
    a = MutableTable(spark, str(tmp_path / "samekey"))
    a.overwrite(spark.createDataFrame([(1, "seed")], "id long, v string"))
    b = MutableTable(spark, str(tmp_path / "samekey"))

    fired = {"done": False}
    orig_publish = a._publish

    def racing_publish(stage, base, meta=None, **kw):
        if not fired["done"]:
            fired["done"] = True
            b.insert_dedup(
                spark.createDataFrame([(7, "winner")], "id long, v string"), ["id"]
            )
        return orig_publish(stage, base, meta, **kw)

    a._publish = racing_publish
    out = a.insert_dedup(
        spark.createDataFrame([(7, "loser")], "id long, v string"), ["id"]
    )
    a._publish = orig_publish
    assert out == {"inserted": 0, "existing": 1}
    rows = [r for r in a.read().collect() if r["id"] == 7]
    assert len(rows) == 1 and rows[0]["v"] == "winner"


def test_threaded_writers_no_lost_update(spark, tmp_path):
    """True concurrency smoke: 4 threads insert disjoint batches through
    separate table handles; every row lands exactly once regardless of
    which writers had to retry."""
    import threading

    root = str(tmp_path / "threads")
    seed = MutableTable(spark, root)
    seed.overwrite(spark.createDataFrame([(0, "seed")], "id long, v string"))

    errors = []

    def writer(k: int):
        try:
            t = MutableTable(spark, root)
            t.insert_dedup(
                spark.createDataFrame([(k, f"w{k}")], "id long, v string"), ["id"]
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    rows = {r["id"]: r["v"] for r in seed.read().collect()}
    assert rows == {0: "seed", 1: "w1", 2: "w2", 3: "w3", 4: "w4"}
    assert seed.current_version() == 4  # dense serial order, no lost update


def test_vacuum_stages_sweeps_only_old(spark, tmp_path):
    import os
    import time as _time

    t = MutableTable(spark, str(tmp_path / "vac"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    crashed = t._stage_df(spark.createDataFrame([(2, "x")], "id long, v string"))
    fresh = t._stage_df(spark.createDataFrame([(3, "y")], "id long, v string"))
    old_time = _time.time() - 7200
    os.utime(crashed, (old_time, old_time))
    assert t.vacuum_stages(min_age_sec=3600) == 1
    assert not os.path.exists(crashed)
    assert os.path.exists(fresh)


def test_pruned_version_tombstone_blocks_stale_reclaim(spark, tmp_path):
    """r11 ADVICE (medium): pruned versions tombstone in place (dir kept
    non-empty), so a very stale writer's claim-by-rename onto a pruned
    version number fails at the syscall — the ABA that previously made
    _publish rmtree a just-committed version cannot arise, and no
    post-rename delete exists anymore."""
    import os

    t = MutableTable(spark, str(tmp_path / "aba"))
    for i in range(4):  # v0..v3; v0, v1 pruned by the depth-1 sweep
        t.overwrite(spark.createDataFrame([(i,)], "id long"))
    v1 = t._version_dir(1)
    assert os.path.exists(os.path.join(v1, "_pruned"))
    assert os.path.exists(os.path.join(v1, "_meta.json"))
    # a stale claim targeting the pruned slot fails atomically
    stale = t._stage_df(spark.createDataFrame([(99,)], "id long"))
    with pytest.raises(OSError):
        os.rename(stale, v1)
    # pruned data is really gone, meta/history are not
    with pytest.raises(FileNotFoundError):
        t.read(version=1)
    hist = t.history()
    assert [e["version"] for e in hist] == [3, 2, 1, 0]
    assert [e["pruned"] for e in hist] == [False, False, True, True]
    assert {r["id"] for r in t.read(version=2).collect()} == {2}


def test_seven_digit_versions_are_visible(spark, tmp_path):
    """r11 ADVICE: v1000000 renders as 7 digits; current_version() and
    history() must parse it (a {6} regex anchor livelocked every commit
    after the millionth on a permanently re-claimed v1000000)."""
    import json
    import os

    p = tmp_path / "bigv"
    p.mkdir()
    for v in (999999, 1000000):
        d = p / f"v{v:06d}"
        d.mkdir()
        (d / "_meta.json").write_text(
            json.dumps({"version": v, "ts": 1.0, "meta": {}, "schema_ops": []})
        )
    t = MutableTable(spark, str(p))
    assert t.current_version() == 1000000
    assert [e["version"] for e in t.history()] == [1000000, 999999]


def test_prune_crash_window_keeps_documented_error(spark, tmp_path):
    """_prune writes the tombstone marker BEFORE deleting data, so a
    crash mid-delete presents the documented 'has been pruned'
    FileNotFoundError to readers (never an opaque empty-dir scan error),
    and the next sweep cleans the leftovers while preserving the stop
    signal."""
    t = MutableTable(spark, str(tmp_path / "mpc"))
    for i in range(2):
        t.overwrite(spark.createDataFrame([(i,)], "id long"))
    # simulate a prune that crashed after the marker, before the delete:
    vdir = t._version_dir(0)
    with open(os.path.join(vdir, "_pruned"), "w"):
        pass
    assert any(e not in ("_meta.json", "_pruned") for e in os.listdir(vdir))
    with pytest.raises(FileNotFoundError, match="pruned"):
        t.read(version=0)
    # the next sweep call: returns False (stop signal) but sweeps leftovers
    assert t._prune(0) is False
    assert sorted(os.listdir(vdir)) == ["_meta.json", "_pruned"]
    assert [e["pruned"] for e in t.history()] == [False, True]
