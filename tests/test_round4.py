"""Round-4 operator units: C4-style span dedup and SemDeDup cluster-local
semantic dedup (the two new first-class pipeline operators; their exact
oracle parity is covered by tests/test_queries_oracle.py — these pin the
semantics on hand-built fixtures)."""

from __future__ import annotations

from pyspark.sql import functions as F

from qcfractal_spark.functions.dedup import span_dedup_stats
from qcfractal_spark.functions.similarity import semdedup


def test_span_dedup_marks_later_occurrences(spark):
    words = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    # doc 0: two distinct 5-token spans; doc 1 repeats doc 0 verbatim;
    # doc 2 is fresh.
    t0 = words("a", 5) + " " + words("b", 5)
    rows = [(0, t0), (1, t0), (2, words("c", 10))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in span_dedup_stats(df, span_tokens=5).collect()
    }
    assert out[0]["n_spans"] == 2 and out[0]["n_dup_spans"] == 0
    assert out[1]["n_spans"] == 2 and out[1]["n_dup_spans"] == 2
    assert out[1]["dup_frac"] == 1.0
    assert out[2]["n_dup_spans"] == 0


def test_span_dedup_intra_document_duplicates(spark):
    span = " ".join(f"w{i}" for i in range(4))
    df = spark.createDataFrame(
        [(7, span + " " + span + " " + span)], "doc_id long, text string"
    )
    row = span_dedup_stats(df, span_tokens=4).first()
    # first occurrence kept, the two later in-document repeats are dups
    assert row["n_spans"] == 3 and row["n_dup_spans"] == 2


def test_approx_distinct_within_rsd_bound(spark):
    """a19 gate arm (r14 invariant-oracle form; r15: split to its own
    key): the emitted exact_users must match an independent
    COUNT(DISTINCT), and the sketch's accuracy verdict (within 5x the
    configured 1% rsd) must be TRUE for every group — the envelope check
    itself lives inside the gated query."""
    from qcfractal_spark.queries import REGISTRY

    fn = REGISTRY["a19_distinct_gate"].fn
    got = {r["event_type"]: r.asDict() for r in fn(spark, "/root/testdata/sf0.001").collect()}
    from qcfractal_spark.catalog import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, n in exact.items():
        assert got[et]["exact_users"] == n
        assert got[et]["within_envelope"] is True, (et, got[et])


def test_semdedup_drops_higher_id_near_duplicate(spark):
    import random

    rng = random.Random(7)
    dim = 8
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = []
    for i in range(20):
        if i in (5, 11):  # exact duplicates of vector 1's direction
            v = [x * (2.0 if i == 11 else 1.0) for x in base]
        elif i == 1:
            v = list(base)
        else:
            v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["id"]: r for r in semdedup(df, threshold=0.999, n_centroids=4).collect()}
    assert len(out) == 20
    # 1, 5, 11 are colinear -> same cluster (cosine-direction k-means);
    # the lowest id survives, the later ids are dropped.
    assert out[1]["keep"] == 1
    assert out[5]["keep"] == 0 and out[11]["keep"] == 0
    assert out[5]["cluster"] == out[1]["cluster"] == out[11]["cluster"]
    # everything else is random noise at threshold 0.999: kept
    dropped = [i for i, r in out.items() if r["keep"] == 0]
    assert sorted(dropped) == [5, 11]


def test_bm25_ranks_denser_term_matches_higher(spark):
    """BM25 sanity on a hand-built corpus: with equal doc length, more
    query-term occurrences -> higher score; docs without query terms never
    appear."""
    from qcfractal_spark.queries import REGISTRY
    import os
    import tempfile

    filler = ["x" + str(i) for i in range(10)]
    rows = [
        (0, " ".join(["spark"] * 4 + filler[:6])),   # densest
        (1, " ".join(["spark"] * 2 + filler[:8])),
        (2, " ".join(["spark"] * 1 + filler[:9])),
        (3, " ".join(filler)),                        # no query terms
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        fn = REGISTRY["tx_bm25"].fn
        out = fn(spark, d).collect()
    ids = [r["doc_id"] for r in out]
    assert ids[:3] == [0, 1, 2]  # score-descending by term density
    assert 3 not in ids
    scores = [r["bm25"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_stream_span_dedup_matches_batch_first_occurrence(spark):
    """The streaming span dedup keeps exactly one row per distinct span
    fingerprint (parity with the batch global-first-occurrence rule when
    all data fits one micro-batch)."""
    import os
    import tempfile
    from datetime import datetime

    from qcfractal_spark.streaming.ingest import stream_span_dedup

    words = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    t0 = datetime(2024, 1, 1)
    rows = [
        (0, t0, words("a", 4)),
        (1, t0, words("a", 4)),   # duplicate span of doc 0
        (2, t0, words("b", 4)),
    ]
    schema = "doc_id long, ts timestamp, text string"
    batch = spark.createDataFrame(rows, schema)
    got_batch = stream_span_dedup(batch, span_tokens=4).collect()
    assert len(got_batch) == 2  # one survivor per distinct span

    src = spark.createDataFrame(rows, schema)
    with tempfile.TemporaryDirectory() as d:
        land = os.path.join(d, "landing")
        src.coalesce(1).write.parquet(land)
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        out = stream_span_dedup(stream, span_tokens=4)
        qh = (
            out.writeStream.format("memory")
            .queryName("span_stream")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qh.awaitTermination(120)
        survivors = spark.sql("SELECT fingerprint FROM span_stream").collect()
    assert len(survivors) == 2
    assert len({r["fingerprint"] for r in survivors}) == 2


def test_semdedup_handles_fewer_vectors_than_centroids(spark):
    from qcfractal_spark.functions.similarity import semdedup

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["id"]: r for r in semdedup(df, threshold=0.999, n_centroids=16).collect()}
    assert len(out) == 3
    assert out[0]["keep"] == 1 and out[2]["keep"] == 0  # colinear, higher id drops
    assert out[1]["keep"] == 1


def test_span_dedup_single_token_docs(spark):
    from qcfractal_spark.functions.dedup import span_dedup_stats

    df = spark.createDataFrame(
        [(0, "solo"), (1, "solo"), (2, "other")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_dup_spans"] for r in span_dedup_stats(df, span_tokens=20).collect()}
    assert got == {0: 0, 1: 1, 2: 0}


def test_percentile_disc_all_null_group_returns_null(spark):
    """An all-NULL metric group must yield NULL, not an ANSI
    element_at-on-empty-array crash."""
    from qcfractal_spark.operators.aggregates import percentile_disc

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None)], "grp string, v double"
    )
    got = {
        r["grp"]: r["p50"]
        for r in df.groupBy("grp").agg(percentile_disc(F.col("v"), 0.5).alias("p50")).collect()
    }
    assert got["a"] == 1.0 and got["b"] is None


def test_asof_join_ignores_null_timestamp_rights(spark):
    """A right row with NULL event time can never satisfy ts <= left.ts;
    it must not sort first and leak its payload into early left rows."""
    from datetime import datetime

    from qcfractal_spark.operators.joins import asof_join_backward

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12))], "user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, None, 99), (1, datetime(2024, 1, 2), 7)],  # NULL ts + later-only
        "user_id long, ts timestamp, rid long",
    )
    out = asof_join_backward(
        left, right, key_col="user_id", ts_col="ts", right_id_col="rid"
    ).first()
    assert out["ref_rid"] is None  # no valid backward match exists


def test_insert_mixed_present_row_with_null_column_is_existing(spark):
    from qcfractal_spark.operators.keyed import insert_mixed_classify

    table = spark.createDataFrame([(7, None)], "id long, name string")
    inserted, existing, errors = insert_mixed_classify(
        spark, table, [7], id_col="id", search_cols=("name",)
    )
    assert existing == [0]  # input index 0 is an existing row, not an error
    assert errors == []


def test_insert_mixed_objects_with_all_null_search_values(spark, monkeypatch):
    """Objects whose search column is None in every item: the batch takes
    the table's schema (no type inference from all-None values), lands as
    an Arrow LocalTableScan, and NULL keys match NULL-safely."""
    from qcfractal_spark.operators import keyed

    batches = []
    classify = keyed.insert_dedup_classify

    def spy(table, batch, keys):
        batches.append(batch)
        return classify(table, batch, keys)

    monkeypatch.setattr(keyed, "insert_dedup_classify", spy)
    items = [{"id": 10, "name": None}, {"id": 11, "name": None}]

    with_null = spark.createDataFrame([(1, "a"), (2, None)], "id long, name string")
    got = keyed.insert_mixed_classify(spark, with_null, items, search_cols=("name",))
    assert got == ([], [0, 1], [])  # both match the table's NULL-named row
    plan = batches[0]._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    no_null = spark.createDataFrame([(1, "a")], "id long, name string")
    got = keyed.insert_mixed_classify(spark, no_null, items, search_cols=("name",))
    assert got == ([0], [1], [])  # the second is an in-batch duplicate


def test_salted_join_rejects_outer_how(spark):
    import pytest

    from qcfractal_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, "x")], "k long, a string")
    dim = spark.createDataFrame([(1, "y")], "k long, b string")
    with pytest.raises(ValueError, match="inner"):
        salted_join(df, dim, "k", how="full")


def test_insert_dedup_classify_reports_dup_of(spark):
    from qcfractal_spark.operators.keyed import insert_dedup_classify

    table = spark.createDataFrame([("a",)], "name string")
    batch = spark.createDataFrame([("a",), ("b",), ("b",)], "name string")
    _, classified = insert_dedup_classify(table, batch, ["name"])
    got = {(r["name"], r["_existing"], r["_dup_of"]) for r in classified.collect()}
    assert got == {("a", True, 0), ("b", False, 1)}


def test_approx_quantiles_within_rank_error(spark):
    """a22 gate arm (r14 invariant-oracle form; r15: split to its own
    key): the emitted exact percentiles must match an independently
    computed percentile_disc (smallest value with cumulative fraction
    >= p), and every per-quantile rank-bound verdict must be TRUE — the
    GK-vs-exact band check lives inside the gated query."""
    import math

    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.queries import REGISTRY

    fn = REGISTRY["a22_quantiles_gate"].fn
    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r.asDict() for r in fn(spark, sf).collect()}
    events = load_table(spark, sf, "events")
    vals = {}
    for r in events.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    assert set(got) == set(vals)
    for et, row in got.items():
        xs = sorted(vals[et])
        n = len(xs)
        assert row["n_values"] == n
        for p, col in ((0.5, "p50_exact"), (0.95, "p95_exact"), (0.99, "p99_exact")):
            assert row[col] == xs[max(math.ceil(p * n), 1) - 1], (et, p, row[col])
        assert row["p50_ok"] and row["p95_ok"] and row["p99_ok"], (et, row)


def test_rowwise_signature_matches_groupby_signature(spark):
    """dedup.rowwise_minhash_signature (streaming-safe projection) must be
    value-identical to minhash_signatures (codegen groupBy form)."""
    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions import dedup as dd

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    agg = {r["id"]: r["signature"] for r in dd.minhash_signatures(docs).collect()}
    row = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", dd.rowwise_minhash_signature(F.col("text")).alias("sig")
        ).collect()
    }
    assert agg == row


def test_stream_incremental_dedup_matches_batch_probe(spark):
    """The streaming index probe must emit exactly the batch probe's
    corpus-vs-batch candidate pairs (within-batch pairs are out of scope
    by contract) when all arrivals fit one micro-batch."""
    import os
    import tempfile

    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions import dedup as dd
    from qcfractal_spark.streaming.ingest import stream_incremental_dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    with tempfile.TemporaryDirectory() as d:
        idx_path = os.path.join(d, "index")
        dd.write_lsh_band_index(dd.minhash_signatures(corpus), idx_path)
        want = {
            (r["id_a"], r["id_b"])
            for r in dd.incremental_lsh_candidates(
                spark, idx_path, dd.minhash_signatures(batch)
            ).collect()
            if r["id_a"] not in batch_ids  # cross pairs only
        }
        land = os.path.join(d, "landing")
        batch.select("doc_id", "text").coalesce(1).write.parquet(land)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        out = stream_incremental_dedup(stream, spark.read.parquet(idx_path))
        qh = (
            out.writeStream.format("memory")
            .queryName("inc_stream")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qh.awaitTermination(120)
        got = {
            (r["id_a"], r["id_b"])
            for r in spark.sql("SELECT DISTINCT id_a, id_b FROM inc_stream").collect()
        }
    assert got == want and got


def test_maintain_rollup_stream_matches_full_recompute(spark):
    """Streaming rollup maintenance (foreachBatch delta-merge per
    micro-batch) must equal the full groupBy over everything ingested,
    across MULTIPLE micro-batches (maxFilesPerTrigger=1 over 3 files)."""
    import os
    import tempfile

    from qcfractal_spark.sources.rollup import full_rollup
    from qcfractal_spark.sources.table import MutableTable
    from qcfractal_spark.streaming.ingest import maintain_rollup_stream

    rows = [(i, f"g{i % 3}", float(i)) for i in range(30)]
    schema = "id long, g string, v double"
    with tempfile.TemporaryDirectory() as d:
        land = os.path.join(d, "landing")
        src = spark.createDataFrame(rows, schema)
        src.repartition(3).write.parquet(land)
        rollup = MutableTable(spark, os.path.join(d, "rollup"))  # unseeded
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        qh = maintain_rollup_stream(
            stream, rollup, ["g"], ["v"], os.path.join(d, "ckpt")
        )
        qh.awaitTermination(120)
        got = {
            r["g"]: (r["n"], r["cnt_v"], float(r["sum_v"]))
            for r in rollup.read().collect()
        }
    want = {
        r["g"]: (r["n"], r["cnt_v"], float(r["sum_v"]))
        for r in full_rollup(src, ["g"], ["v"]).collect()
    }
    assert got == want and len(got) == 3


def test_merge_rollup_batch_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay: re-delivering an epoch already recorded in the
    table's commit meta must be a no-op (counts not doubled); short payloads
    and a fresh (unseeded) table are handled."""
    from qcfractal_spark.sources.table import MutableTable
    from qcfractal_spark.streaming.ingest import merge_rollup_batch

    t = MutableTable(spark, str(tmp_path / "r"))
    b0 = spark.createDataFrame([(1, "a", 2.0), (2, "a", 3.0)], "id long, g string, v double")
    assert merge_rollup_batch(t, b0, 0, ["g"], ["v"]) is True      # seeds
    assert merge_rollup_batch(t, b0, 0, ["g"], ["v"]) is False     # replay
    b1 = spark.createDataFrame([(3, "a", 5.0)], "id long, g string, v double")
    assert merge_rollup_batch(t, b1, 1, ["g"], ["v"]) is True
    assert merge_rollup_batch(t, b1, 1, ["g"], ["v"]) is False     # replay
    row = t.read().collect()[0]
    assert (row["g"], row["n"], float(row["sum_v"])) == ("a", 3, 10.0)


def test_phash_short_and_empty_payloads_hash_null(spark):
    from qcfractal_spark.functions.multimodal import _phash_fake, perceptual_hash

    assert _phash_fake(b"") is None and _phash_fake(b"abc") is None
    assert _phash_fake(bytes(range(16))) is not None
    media = spark.createDataFrame(
        [(1, b"abc"), (2, None), (3, bytes(range(64)))],
        "media_id long, content binary",
    )
    got = {r["media_id"]: r["phash"] for r in perceptual_hash(media).collect()}
    assert got[1] is None and got[2] is None and got[3] is not None


def test_cc_null_endpoint_edges_dropped_on_both_arms(spark):
    from qcfractal_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, None), (None, 2), (3, 4), (None, None)], "src long, dst long"
    )
    fast = {(r["id"], r["component"])
            for r in connected_components(edges, approx_edges=4).collect()}
    dist = {(r["id"], r["component"])
            for r in connected_components(edges).collect()}
    assert fast == dist == {(3, 3), (4, 3)}


def test_rowwise_cdc_chunks_parity_with_batch(spark):
    """The streaming arm's rowwise CDC projection must be byte-identical to
    the batch explode+groupBy chunker on the same frame — the guarantee
    that lets stream and batch dedup share fingerprints."""
    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions.dedup import cdc_chunks, rowwise_cdc_chunks

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    a = sorted(map(tuple, cdc_chunks(docs).collect()))
    b = sorted(map(tuple, rowwise_cdc_chunks(docs).collect()))
    assert a == b and a


def test_stream_substring_dedup_matches_first_occurrence(spark):
    """Streaming CDC dedup keeps exactly one chunk per distinct fingerprint
    (parity with the batch first-occurrence rule in one micro-batch), and
    an offset-shifted duplicated passage still collides — the any-offset
    property surviving into the streaming arm."""
    import os
    import tempfile
    from datetime import datetime

    from qcfractal_spark.streaming.ingest import stream_substring_dedup

    passage = (
        "the training corpus contains a verbatim duplicated passage that is "
        "long enough to span several content defined chunks so the rolling "
        "hash anchors inside it line up in every copy regardless of where "
        "the passage begins in the surrounding document and that is exactly "
        "the property a fixed grid lacks"
    )
    t0 = datetime(2024, 1, 1)
    rows = [
        (0, t0, "prefix one " + passage),
        (1, t0, "a different much longer prefix shifting " + passage),
        (2, t0, "completely unrelated content about catalyst and shuffles ok"),
    ]
    schema = "doc_id long, ts timestamp, text string"
    batch_out = stream_substring_dedup(spark.createDataFrame(rows, schema)).collect()
    fps = [r["chunk_fp"] for r in batch_out]
    assert len(fps) == len(set(fps))  # one survivor per fingerprint
    by_doc = {}
    for r in batch_out:
        by_doc.setdefault(r["id"], []).append(r["chunk_fp"])
    # doc 1's interior passage chunks collided with doc 0's and were dropped:
    # doc 1 keeps fewer chunks than doc 0 shares with it
    assert 2 in by_doc  # unrelated doc survives untouched

    with tempfile.TemporaryDirectory() as d:
        land = os.path.join(d, "landing")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(land)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        qh = (
            stream_substring_dedup(stream)
            .writeStream.format("memory")
            .queryName("cdc_stream")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qh.awaitTermination(120)
        survivors = spark.sql("SELECT chunk_fp FROM cdc_stream").collect()
    got = sorted(r["chunk_fp"] for r in survivors)
    assert got == sorted(fps)  # stream == batch arm on one micro-batch
