"""functions/text.py:write_text_index / phrase_hits_indexed — the
persisted inverted-index arm of the phrase audit: probe parity with the
inline corpus-scan algebra, bucket partition pruning in the executed
plan, and FAST_HASH-mode bucket derivation consistency."""

from __future__ import annotations

from pyspark.sql import functions as F

from qcfractal_spark.functions import text as tx
from qcfractal_spark.queries import REGISTRY, _t

from conftest import SF_SMOKE

PHRASE = ["group", "slow", "spark"]


def _inline_hits(spark, phrase):
    docs = _t(spark, SF_SMOKE, "documents").where(F.col("text").isNotNull())
    posting = docs.select(
        "doc_id", F.posexplode(tx.tokens(F.col("text"))).alias("pos", "term")
    ).where(F.col("term").isin(phrase))
    hits = posting.where(F.col("term") == phrase[0]).select("doc_id", "pos")
    for i, term in enumerate(phrase[1:], start=1):
        side = posting.where(F.col("term") == term).select(
            "doc_id", (F.col("pos") - i).alias("pos")
        )
        hits = hits.join(side, ["doc_id", "pos"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits"), F.min("pos").alias("first_pos")
    )


def _rows(df):
    return sorted(
        (r["doc_id"], r["n_hits"], r["first_pos"]) for r in df.collect()
    )


def test_probe_matches_inline_scan(spark, tmp_path):
    docs = _t(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "tix")
    tx.write_text_index(docs, path)
    got = _rows(tx.phrase_hits_indexed(spark, path, PHRASE))
    want = _rows(_inline_hits(spark, PHRASE))
    assert got == want and len(got) > 0


def test_probe_prunes_bucket_partitions(spark, tmp_path):
    """The probe must read only the phrase terms' bucket DIRECTORIES:
    the scan's partition filter carries the bucket IN list and the term
    filter reaches PushedFilters — the sim_ivf_topk prune contract for
    text."""
    docs = _t(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "tix2")
    tx.write_text_index(docs, path)
    probe = tx.phrase_hits_indexed(spark, path, PHRASE)
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "bucket" in pf and pf.strip() != ""
    assert "PushedFilters" in plan and "In(term" in plan


def test_fast_hash_mode_roundtrip(spark, tmp_path, monkeypatch):
    """FAST_HASH builds different buckets (xxhash64), and the probe must
    derive the SAME buckets it was built with — parity holds within the
    mode even though md5-mode artifacts differ by construction."""
    monkeypatch.setenv("SPARK_GRAFT_FAST_HASH", "1")
    docs = _t(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "tix3")
    tx.write_text_index(docs, path)
    got = _rows(tx.phrase_hits_indexed(spark, path, PHRASE))
    monkeypatch.delenv("SPARK_GRAFT_FAST_HASH")
    want = _rows(_inline_hits(spark, PHRASE))
    assert got == want


def test_mode_flip_forces_rebuild(spark, monkeypatch):
    """ADVICE r9: the cached index's staleness marker must record the
    hash mode — build via _text_index_dir under md5 mode, flip
    SPARK_GRAFT_FAST_HASH, and the probe must REBUILD (marker mismatch)
    instead of silently probing mismatched buckets."""
    import os

    from qcfractal_spark.queries import _text_index_dir

    monkeypatch.delenv("SPARK_GRAFT_FAST_HASH", raising=False)
    path = _text_index_dir(spark, SF_SMOKE)
    with open(os.path.join(path, "source_marker")) as fh:
        marker_md5 = fh.read()
    assert ":h0:" in marker_md5

    monkeypatch.setenv("SPARK_GRAFT_FAST_HASH", "1")
    path2 = _text_index_dir(spark, SF_SMOKE)
    with open(os.path.join(path2, "source_marker")) as fh:
        marker_fast = fh.read()
    assert ":h1:" in marker_fast and marker_fast != marker_md5
    # the rebuilt index probes correctly under the new mode
    got = _rows(tx.phrase_hits_indexed(spark, path2, PHRASE))
    monkeypatch.delenv("SPARK_GRAFT_FAST_HASH")
    assert got == _rows(_inline_hits(spark, PHRASE))
    # flipping back rebuilds again (marker round-trips)
    path3 = _text_index_dir(spark, SF_SMOKE)
    with open(os.path.join(path3, "source_marker")) as fh:
        assert ":h0:" in fh.read()


def test_registry_query_runs(spark):
    fn = REGISTRY["tx_phrase_idx"].fn
    out = _rows(fn(spark, SF_SMOKE))
    assert len(out) > 0 and all(n >= 1 for _, n, _ in out)


def test_quality_sweep_monotone(spark):
    """Cumulative semantics: kept counts/shares are non-increasing as the
    threshold rises, and the lowest threshold keeps everything."""
    fn = REGISTRY["tx_quality_sweep"].fn
    rows = sorted(
        ((r["threshold"], r["docs_kept"], r["tokens_kept"], r["doc_share"])
         for r in fn(spark, SF_SMOKE).collect())
    )
    assert len(rows) > 5
    for a, b in zip(rows, rows[1:]):
        assert a[1] >= b[1] and a[2] >= b[2] and a[3] >= b[3]
    assert rows[0][3] == 1.0  # lowest threshold keeps the whole corpus
