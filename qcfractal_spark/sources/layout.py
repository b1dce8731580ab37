"""Partitioned table layouts — the engine's answer to the reference's
B-tree/GIN indexes (SURVEY §4: "partition + cluster by (record_type,
status, id); different physics").

At 100 TB the fact tables are written date-partitioned (telemetry,
lineitem-like facts) or key-partitioned (records by record_type/status);
every time-range or type filter then prunes whole directories before any IO.
``write_partitioned``/``read_partitioned`` wrap the layout convention;
``pruned_files`` exposes how many files a filtered plan actually touches so
tests (and operators) can assert pruning instead of hoping for it.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    derive_date_from: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a partitioned parquet layout; optionally derive a ``p_date``
    partition column from a timestamp column (the standard telemetry
    layout: access_log partitioned by day, serverinfo retention = partition
    drop)."""
    cols = list(partition_cols)
    if derive_date_from is not None:
        df = df.withColumn("p_date", F.to_date(F.col(derive_date_from)))
        cols = ["p_date", *cols]
    df.write.mode(mode).partitionBy(*cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def pruned_files(df: DataFrame) -> int:
    """Number of distinct parquet files a (filtered) plan actually reads at
    execution — partition pruning makes this a strict subset of the table's
    files.  (``DataFrame.inputFiles()`` reports the unpruned relation, so we
    observe the executed scan via ``input_file_name()``.)"""
    return df.select(F.input_file_name().alias("f")).distinct().count()


def zorder_column(
    df: DataFrame, cols: Sequence[str], bits: int = 12, out_col: str = "_z"
) -> DataFrame:
    """Morton/Z-order interleave of ``cols`` into one long sort key.

    Numeric and timestamp/date columns are min-max scaled to ``bits`` bits
    (global min/max is one tiny aggregate whose single row is inlined as
    plan literals — control plane, not a data collect); string columns are
    hash-bucketed into the same range (equality locality: equal values
    share a bucket so equality predicates prune, but string ranges don't).
    The bit patterns are then interleaved with shift/mask expressions —
    pure whole-stage codegen, no UDF.  Sorting by
    the interleaved key gives every participating column locality within
    each file, so parquet min/max stats prune files for predicates on ANY
    of the columns — the Delta ``OPTIMIZE ZORDER BY`` physics, without the
    single-column limitation of a plain sort.  At 100 TB this is the
    layout move for fact tables filtered on more than one dimension
    (e.g. records by (created_on, record_type)): one re-cluster pays for
    every subsequent multi-dimension scan."""
    names = list(cols)
    # The interleaved key must fit a signed 64-bit long: shiftleft wraps
    # mod 64 past bit 63 (distinct columns would OR into the SAME bit
    # positions) and bit 63 flips the sign (high-Z rows sorting first) —
    # both silently destroy clustering.  Clamp per-column resolution so
    # len(cols) * bits <= 63; 6 columns still get 10 bits (1024 buckets).
    bits = min(bits, 63 // max(len(names), 1))
    if bits < 1:
        raise ValueError(f"zorder over {len(names)} columns cannot fit a 64-bit key")
    top = (1 << bits) - 1
    types = dict(df.dtypes)
    # Column → double expression per type family: numerics and
    # timestamps/dates keep RANGE locality (min-max scaled); strings get
    # EQUALITY locality only (hash-bucketed — equal values share a bucket,
    # so equality predicates prune; range predicates on strings don't).
    numeric: dict[str, F.Column] = {}
    hashed: dict[str, F.Column] = {}
    for c in names:
        t = types[c]
        if t.startswith("timestamp") or t == "date":
            numeric[c] = F.col(c).cast("timestamp_ltz").cast("double")
        elif t == "string":
            hashed[c] = F.xxhash64(F.col(c)).bitwiseAND(F.lit(top))
        else:
            numeric[c] = F.col(c).cast("double")
    row = None
    if numeric:
        row = df.agg(
            *[F.min(numeric[c]).alias(f"mn_{c}") for c in numeric],
            *[F.max(numeric[c]).alias(f"mx_{c}") for c in numeric],
        ).first()
    scaled = []
    for c in names:
        if c in hashed:
            scaled.append(hashed[c])
            continue
        mn_v, mx_v = (row[f"mn_{c}"], row[f"mx_{c}"]) if row is not None else (None, None)
        if mn_v is None or mx_v is None:  # empty input or all-null column
            scaled.append(F.lit(0).cast("long"))
            continue
        mn = float(mn_v)
        span = float(mx_v) - mn or 1.0
        s = F.floor((numeric[c] - mn) / span * top).cast("long")
        scaled.append(F.greatest(F.lit(0).cast("long"), F.least(F.lit(top).cast("long"), s)))
    k = len(scaled)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return df.withColumn(out_col, z)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int,
    bits: int = 12,
    mode: str = "overwrite",
) -> None:
    """Re-cluster ``df`` by the Z-order of ``cols`` into ``n_files``
    range-partitioned parquet files (each file owns a contiguous Z range,
    so its per-column min/max footer stats are tight on every Z-order
    dimension).  One range shuffle + per-partition sort — the standard
    one-time layout job."""
    zdf = zorder_column(df, cols, bits=bits)
    (
        zdf.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
) -> dict:
    """Compact a parquet directory's small files into ~``target_bytes``
    outputs — the table-maintenance op every streaming sink needs (each
    micro-batch appends a file; a day of 1-minute triggers is 1 440 tiny
    files whose per-file open/footer cost eventually dominates scans).
    The Delta OPTIMIZE / Iceberg rewrite_data_files analog, expressed on
    plain parquet directories.

    Sizing comes from the actual on-disk bytes (never a row-count guess):
    ``n_out = ceil(total_bytes / target_bytes)``.  A directory already at
    or below ``n_out`` files is left untouched (idempotent: a second
    compaction is a no-op).  The rewrite goes to a sibling temp dir, then
    swaps in via two renames — the local stand-in for the metastore
    pointer swap a table format does (the same copy-on-write commit
    contract as MutableTable; readers holding the old file list keep a
    consistent snapshot, exactly like postgres MVCC readers in the
    reference).

    100 TB story: run per PARTITION directory (compaction work is
    embarrassingly parallel across partitions and only rewrites
    partitions whose file count drifted), and ``repartition(n_out)`` is
    one round-robin exchange of just that partition's data — no keys, no
    skew, no sort.  Returns {files_before, files_after, bytes, n_out}.

    All listing/rename/delete goes through the Hadoop FileSystem API
    (VERDICT r8 item 3), so the op runs unchanged on ``file://``,
    ``hdfs://`` and ``s3a://`` URIs — the object stores the maintenance
    op was written for.  A missing directory or an unregistered scheme
    raises (never the silent 0-file no-op the glob version had).
    """
    import math

    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(f"compact_small_files: no such directory: {path}")

    def _data_files(p):
        return [
            st
            for st in fs.listStatus(p)
            if st.isFile() and not st.getPath().getName().startswith((".", "_"))
        ]

    files = _data_files(hpath)
    total = sum(st.getLen() for st in files)
    n_out = max(1, math.ceil(total / target_bytes))
    if len(files) <= n_out:
        return {
            "files_before": len(files),
            "files_after": len(files),
            "bytes": total,
            "n_out": n_out,
        }
    df = spark.read.parquet(path)
    swap_publish(
        spark,
        path,
        "compact",
        lambda tmp: df.repartition(n_out).write.mode("overwrite").parquet(tmp),
    )
    after = _data_files(hpath)
    return {
        "files_before": len(files),
        "files_after": len(after),
        "bytes": total,
        "n_out": n_out,
    }


def swap_publish(
    spark: SparkSession, path: str, prefix: str, write: Callable[[str], None]
) -> None:
    """Publish a rewrite of the directory ``path`` by a two-rename swap —
    the local stand-in for a table format's metastore pointer swap, shared
    by :func:`compact_small_files` and ``export.export_training_shards``.

    ``write(tmp)`` fills the sibling ``.<prefix>_tmp_<leaf>``; the current
    ``path`` (if any) renames aside to ``.<prefix>_old_<leaf>``, tmp
    renames in, and a rename-in that returns false rolls the old back so
    readers keep the original.  The old sibling is deleted last.

    Scratch dirs live as DOT-prefixed siblings (inside the same parent),
    so hive partition discovery never sees them.  The old naming
    (``root/k=v.compact_tmp``) was hive-parseable and a full-table reader
    racing the rewrite window would double-count the leaf with a spoofed
    partition value (ADVICE r9).  Dot, not underscore: Spark's
    hidden-path rule (HadoopFSUtils.shouldFilterOutPathName) exempts
    "_"-prefixed names that contain "=", so ``_compact_tmp_k=1`` would
    still be discovered — "." prefixes are excluded unconditionally.  The
    prefixes are what the crash-leftover sweeps look for
    (:func:`_sweep_compact_scratch`, ``export.recover_export``)."""
    fs, hpath = _hadoop_fs(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    parent = hpath.getParent()
    if parent is None:
        raise IOError(f"swap_publish: cannot publish to a filesystem root: {path}")
    leaf = hpath.getName()
    tmp = jpath(parent, f".{prefix}_tmp_{leaf}")
    old = jpath(parent, f".{prefix}_old_{leaf}")
    fs.delete(tmp, True)
    write(tmp.toString())
    fs.delete(old, True)
    had_prev = fs.exists(hpath)
    if had_prev and not fs.rename(hpath, old):
        raise IOError(f"swap_publish: rename {path} -> {old} failed")
    if not fs.rename(tmp, hpath):
        if had_prev:
            fs.rename(old, hpath)  # roll back: readers keep the original
        raise IOError(f"swap_publish: rename {tmp} -> {path} failed")
    fs.delete(old, True)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop FS API — the
    scheme-agnostic route (LocalFileSystem for bare/file:// paths, HDFS /
    S3A / ABFS for their URIs, resolved from the session's Hadoop conf).
    An unregistered scheme raises here, visibly."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def compact_partitioned(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 << 20,
    min_files: int = 2,
) -> dict:
    """Run :func:`compact_small_files` over every PARTITION directory of a
    hive-partitioned table (``root/k=v[/k2=v2...]``) — the 100 TB shape:
    compaction work is embarrassingly parallel across partitions and only
    partitions whose file count drifted get rewritten, so a nightly run
    touches exactly the partitions a day of streaming appends fragmented.

    Leaf discovery walks the directory tree through the Hadoop FS API
    (any scheme); a leaf is a directory containing data files.  Each leaf
    is compacted independently — the rewrite-then-rename pointer swap in
    compact_small_files keeps concurrent readers of OTHER partitions
    untouched and readers of the rewritten partition on a consistent
    snapshot.  ``min_files`` skips leaves already compact enough to not
    be worth a rewrite job.

    Returns {partitions, rewritten, files_before, files_after, bytes}.
    """
    fs, hroot = _hadoop_fs(spark, root)
    if not fs.exists(hroot):
        raise FileNotFoundError(f"compact_partitioned: no such directory: {root}")

    leaves: list[str] = []
    jpath = spark._jvm.org.apache.hadoop.fs.Path

    def _walk(p) -> None:
        _sweep_compact_scratch(fs, jpath, p)
        kids = list(fs.listStatus(p))
        dirs = [
            k
            for k in kids
            if k.isDirectory() and not k.getPath().getName().startswith((".", "_"))
        ]
        files = [
            k
            for k in kids
            if k.isFile() and not k.getPath().getName().startswith((".", "_"))
        ]
        if files:
            leaves.append(p.toString())
        for d in dirs:
            _walk(d.getPath())

    _walk(hroot)

    out = {"partitions": len(leaves), "rewritten": 0,
           "files_before": 0, "files_after": 0, "bytes": 0}
    for leaf in leaves:
        before = _data_file_count(fs, spark, leaf)
        if before < min_files:
            out["files_before"] += before
            out["files_after"] += before
            continue
        stats = compact_small_files(spark, leaf, target_bytes=target_bytes)
        out["files_before"] += stats["files_before"]
        out["files_after"] += stats["files_after"]
        out["bytes"] += stats["bytes"]
        if stats["files_after"] < stats["files_before"]:
            out["rewritten"] += 1
    return out


def _sweep_compact_scratch(fs, jpath, p) -> None:
    """Recover crash leftovers from :func:`compact_small_files` under the
    directory ``p`` before treating its children as partitions.

    * ``.compact_tmp_X``  — an incomplete rewrite; the source leaf still
      holds the data, so the tmp dir is always safe to delete.
    * ``.compact_old_X``  — if leaf ``X`` exists, the pointer swap
      completed and only cleanup crashed: delete the old copy.  If ``X``
      is missing, the crash hit between the two renames: rename the old
      copy back so no data is lost.
    """
    for st in fs.listStatus(p):
        if not st.isDirectory():
            continue
        hp = st.getPath()
        name = hp.getName()
        if name.startswith(".compact_tmp_"):
            fs.delete(hp, True)
        elif name.startswith(".compact_old_"):
            leaf = jpath(p, name[len(".compact_old_"):])
            if fs.exists(leaf):
                fs.delete(hp, True)
            else:
                fs.rename(hp, leaf)


def _data_file_count(fs, spark: SparkSession, path: str) -> int:
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return sum(
        1
        for st in fs.listStatus(p)
        if st.isFile() and not st.getPath().getName().startswith((".", "_"))
    )
