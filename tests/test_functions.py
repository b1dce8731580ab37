"""Function-layer tests: portable hashing, dedup signatures, text stats,
similarity math — including cross-engine parity spot-checks vs DuckDB."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from qcfractal_spark.functions import dedup as dd
from qcfractal_spark.functions import similarity as sim
from qcfractal_spark.functions import text as tx


def test_portable_hash64_matches_duckdb(spark):
    words = ["hello", "spark", "qcfractal", "ünïcode", ""]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: r["h"] for r in df.select("w", tx.portable_hash64(F.col("w")).alias("h")).collect()}
    con = duckdb.connect()
    for w in words:
        expected = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 8))::BIGINT", [w]
        ).fetchone()[0]
        assert got[w] == expected, w


def test_minhash_params_deterministic_and_bounded():
    p1 = dd._minhash_params(16)
    p2 = dd._minhash_params(16)
    assert p1 == p2
    for a, b in p1:
        assert a % 2 == 1 and 0 < a < 2**31
        assert 0 <= b < dd._P


def test_minhash_similar_docs_share_bands(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog!"),  # near-dup
            (3, "completely different content about spark engines"),
        ],
        "doc_id long, text string",
    )
    sigs = dd.minhash_signatures(docs)
    cands = {
        (r["id_a"], r["id_b"]) for r in dd.minhash_lsh_candidates(sigs).collect()
    }
    assert (1, 2) in cands
    assert (1, 3) not in cands and (2, 3) not in cands


def test_banding_guard_messages(spark):
    """_banded's in-plan guard must name the actual problem: a NULL
    signature row (caller forgot the documented NULL-text filter) gets the
    dedicated NULL message, not a misleading size(NULL)=-1 width failure;
    a real width mismatch still reports the width (ADVICE r5)."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    ok = spark.createDataFrame([(1, [1, 2, 3, 4])], "id long, signature array<bigint>")
    assert dd._banded(ok, bands=2, rows_per_band=2).count() == 2
    null_sig = spark.createDataFrame([(1, None)], "id long, signature array<bigint>")
    with pytest.raises(SparkRuntimeException, match="NULL signature row"):
        dd._banded(null_sig, bands=2, rows_per_band=2).collect()
    short = spark.createDataFrame([(1, [1, 2, 3])], "id long, signature array<bigint>")
    with pytest.raises(SparkRuntimeException, match="must equal the signature width"):
        dd._banded(short, bands=2, rows_per_band=2).collect()


def test_star_edges_same_components_as_clique_pairs(spark):
    # Star contraction (doc -> bucket-rep) must yield exactly the connected
    # components of the bucket-clique pair graph — near-dup chains included.
    from qcfractal_spark.operators.graph import connected_components

    docs = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "the quick brown fox jumps over the lazy dog!"),
            (12, "the quick brown fox jumps over the lazy dog!!"),
            (20, "completely different content about spark engines"),
            (21, "completely different content about spark engines."),
        ],
        "doc_id long, text string",
    )
    sigs = dd.minhash_signatures(docs).localCheckpoint(eager=True)

    def comps(edges):
        return {
            r["id"]: r["component"]
            for r in connected_components(edges, "id_a", "id_b").collect()
        }

    clique = comps(dd.minhash_lsh_candidates(sigs))
    star = comps(dd.minhash_lsh_star_edges(sigs))
    assert clique == star
    # star edge count never exceeds clique pair count
    assert (
        dd.minhash_lsh_star_edges(sigs).count()
        <= dd.minhash_lsh_candidates(sigs).count()
    )


def test_exact_dedup_whitespace_insensitive(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r["keep_id"]: r["dup_count"] for r in dd.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_ngram_jaccard_identical_docs(spark):
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, "zzzzzzzzzz")],
        "doc_id long, text string",
    )
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_simhash_close_for_similar_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    h = {r["id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(h[1], h[2]) < hamming(h[1], h[3])
    for v in h.values():
        assert 0 <= v < 2**32


def test_lang_id_and_quality(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der Hund ist nicht auf der Straße und das ist gut"),
            (3, "xyzzy plugh qwerty"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["lang"], r["q"])
        for r in docs.select(
            "doc_id",
            tx.lang_id(F.col("text")).alias("lang"),
            tx.quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert out[1][0] == "en"
    assert out[2][0] == "de"
    assert out[3][0] == "und"
    for lang, q in out.values():
        assert 0.0 <= q <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], "id long, text string")
    row = df.select(
        tx.token_count(F.col("text")).alias("ws"),
        tx.bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).first()
    assert row["ws"] == 4
    # hello , world ! 42 times → 6 units
    assert row["bpe"] == 6


def test_cosine_matches_numpy(spark):
    import numpy as np

    a = [1.0, 2.0, 3.0, 4.0]
    b = [-4.0, 3.0, -2.0, 1.0]
    df = spark.createDataFrame([(a, b)], "x array<double>, y array<double>")
    got = df.select(sim.cosine(F.col("x"), F.col("y")).alias("c")).first()["c"]
    exp = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert math.isclose(got, exp, rel_tol=1e-12)


def test_brute_force_topk_self_first(spark):
    from qcfractal_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") == 3).first()["embedding"]
    top = sim.brute_force_topk(emb, q, k=5).collect()
    assert top[0]["vec_id"] == 3 and top[0]["score"] == 1.0
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_knn_join_bucketed_shapes(spark):
    from qcfractal_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(200)
    out = sim.knn_join_bucketed(emb, emb, k=3)
    rows = out.collect()
    assert len(rows) > 0
    per_left: dict[int, int] = {}
    for r in rows:
        assert r["left_id"] != r["right_id"]
        per_left[r["left_id"]] = per_left.get(r["left_id"], 0) + 1
    assert max(per_left.values()) <= 3


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with all lists probed is exact; with 4/16 probed, recall@10 vs
    the brute-force baseline stays useful (deterministic index, so the
    bound is stable run-to-run)."""
    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    exact = {r["vec_id"] for r in sim.brute_force_topk(emb, qvec, k=10).collect()}

    assigned, centroids = sim.ivf_assignments(emb, n_centroids=16)
    assigned = assigned.localCheckpoint(eager=True)  # index built once, reused

    full = sim.ivf_topk(
        emb, qvec, k=10, n_probe=16, assigned=assigned, centroids=centroids
    )
    assert {r["vec_id"] for r in full.collect()} == exact  # all-probe == exact

    approx = sim.ivf_topk(
        emb, qvec, k=10, n_probe=4, assigned=assigned, centroids=centroids
    )
    got = {r["vec_id"] for r in approx.collect()}
    assert len(got) == 10
    assert len(got & exact) >= 5, f"recall collapsed: {got & exact}"


def test_ivf_recall_by_probe_monotone_exact_and_matches_serving(spark):
    """The one-pass probe-budget sweep (ivf_recall_by_probe) must be
    monotone in n_probe, hit exactly 1.0 once every list is probed, and
    agree with the DIRECT serving path: hits at budget p == the measured
    |ivf_topk_batch(p) ∩ brute truth| — the cumulative-count identity is
    an optimization, not a different metric."""
    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assigned, centroids = sim.ivf_assignments(emb, n_centroids=16)
    assigned = assigned.localCheckpoint(eager=True)
    qs = emb.where(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = {
        r["n_probe"]: r
        for r in sim.ivf_recall_by_probe(qs, assigned, centroids, k=10).collect()
    }
    assert sorted(rows) == [1, 2, 4, 8, 16]
    recalls = [rows[p]["recall"] for p in (1, 2, 4, 8, 16)]
    assert recalls == sorted(recalls), f"not monotone: {recalls}"
    assert recalls[-1] == 1.0
    assert recalls[0] > 0.0  # the nearest list alone finds something
    nq = rows[1]["n_queries"]
    assert nq == 10 and all(r["n_queries"] == nq for r in rows.values())
    # serving-path agreement at a mid budget: n_probe=16 probes every
    # list, so its batch top-k IS the brute-force truth.
    ivf4 = {
        (r["query_id"], r["vec_id"])
        for r in sim.ivf_topk_batch(
            qs, assigned, centroids, k=10, n_probe=4
        ).collect()
    }
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim.ivf_topk_batch(
            qs, assigned, centroids, k=10, n_probe=16
        ).collect()
    }
    assert rows[4]["n_hits"] == len(ivf4 & exact)


def test_ivf_recall_small_corpus_denominator(spark):
    """Recall divides by the ACTUAL truth-set size: a corpus smaller
    than k still reaches exactly 1.0 at all-probes (a k·n_queries
    denominator would cap recall at |corpus|/k and read as an index
    that never achieves full recall)."""
    from qcfractal_spark.functions import similarity as sim

    rows = [(i, [float(i + 1), float((i * 3) % 7), 1.0, 0.5]) for i in range(7)]
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, centroids = sim.ivf_assignments(tiny, n_centroids=4)
    qs = tiny.select(F.col("vec_id").alias("query_id"), "embedding")
    out = {
        r["n_probe"]: r
        for r in sim.ivf_recall_by_probe(
            qs, assigned, centroids, k=10, probe_levels=(1, 2, 4)
        ).collect()
    }
    assert out[4]["recall"] == 1.0  # all probes == exact, even with 7 < k
    assert out[4]["n_hits"] == 7 * 7  # every truth row (7 per query) hits
    recalls = [out[p]["recall"] for p in (1, 2, 4)]
    assert recalls == sorted(recalls)


def test_pq_distortion_report_populations_and_zero_mse(spark):
    """The PQ health report's populations must equal the encoder's
    per-(subspace, code) counts, and a corpus that IS its own codebook
    (every vector a duplicate of a centroid) reconstructs with exactly
    zero MSE."""
    from qcfractal_spark.functions import similarity as sim

    # real corpus: populations agree with pq_codes
    from qcfractal_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = sim.pq_train(emb, m=2, ksub=8, n_iter=1)
    codes = sim.pq_codes(emb, books).localCheckpoint(eager=True)
    coded = emb.join(codes, "vec_id")
    rep = sim.pq_distortion_report(coded, books).collect()
    n_total = emb.count()
    for j in (0, 1):
        assert sum(r["n"] for r in rep if r["subspace"] == j) == n_total
    pops = {(r["subspace"], r["code"]): r["n"] for r in rep}
    for j in (0, 1):
        got = {
            (j, r["c"]): r["cnt"]
            for r in codes.selectExpr(f"codes[{j}] AS c")
            .groupBy("c")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        assert got == {k: v for k, v in pops.items() if k[0] == j}
    assert all(r["mse"] >= 0.0 for r in rep)

    # self-codebook corpus: exact reconstruction
    base = [[1.0, 2.0, 3.0, 4.0], [5.0, 6.0, 7.0, 8.0]]
    rows = [(i, base[i % 2]) for i in range(20)]
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b2 = sim.pq_train(tiny, m=2, ksub=2, n_iter=1)
    coded2 = tiny.join(sim.pq_codes(tiny, b2), "vec_id")
    rep2 = sim.pq_distortion_report(coded2, b2).collect()
    assert all(r["mse"] == 0.0 for r in rep2)
    assert sum(r["n"] for r in rep2) == 40  # 20 vectors x 2 subspaces


def test_cdc_unicode_parity_with_duckdb_replay(spark, duck):
    """The CDC oracle must agree with the operator beyond ASCII: Spark
    length/substr and DuckDB length/substring both count CHARACTERS, and
    md5 hashes the UTF-8 bytes of the same string — pinned here so a
    future non-ASCII testdata refresh cannot silently diverge the pair."""
    import duckdb as _duckdb

    from qcfractal_spark.queries import _CDC_KEPT_CTE

    text = ("héllo wörld — größe straße ünïcode çhärs, 東京 data ünd mörę "
            "text ") * 8
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted(
        (r["start"], r["length"], r["chunk_fp"])
        for r in dd.cdc_chunks(df, min_len=1).collect()
    )
    con = _duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 1::BIGINT AS doc_id, ? AS text", [text])
    oracle = con.execute(
        _CDC_KEPT_CTE.replace("chunk_len >= 24", "chunk_len >= 1")
        + "\nSELECT id, chunk_start, chunk_len, chunk_fp FROM kept"
    ).fetchall()
    want = sorted((r[1], r[2], r[3]) for r in oracle)
    assert got == want and len(got) > 10


def test_cdc_catches_offset_straddling_duplicate(spark):
    """VERDICT r5 item 5 fixture: a ~300-char passage duplicated at
    DIFFERENT offsets (so its copies straddle the fixed 20-token grid)
    must be caught by the CDC substring operator and missed by
    span_dedup_stats — the offset-invariance the suffix-array family has
    and a fixed grid lacks."""
    passage = (
        "the training corpus contains a verbatim duplicated passage that is "
        "long enough to span several content defined chunks so the rolling "
        "hash anchors inside it line up in every copy regardless of where "
        "the passage begins in the surrounding document and that is exactly "
        "the property a fixed grid lacks"
    )
    assert len(passage) >= 290
    df = spark.createDataFrame(
        [
            (1, "unique preamble alpha beta gamma " + passage + " trailing words one"),
            # different (non-grid-multiple) offset for the second copy
            (2, "a different and much longer introduction with extra words "
                "shifting offsets " + passage + " closing remark"),
            (3, "completely unrelated content about spark catalyst optimizer "
                "plans and shuffles"),
        ],
        "doc_id long, text string",
    )
    dup = dd.cdc_duplicate_spans(df).collect()
    by_doc = {}
    for r in dup:
        by_doc.setdefault(r["id"], set()).add((r["chunk_fp"], r["length"]))
    # both copies carry the SAME interior chunks (fp+len), at different starts
    assert set(by_doc) == {1, 2}
    assert by_doc[1] == by_doc[2] and len(by_doc[1]) >= 2
    starts = {r["id"]: sorted(x["start"] for x in dup if x["id"] == r["id"]) for r in dup}
    assert starts[1] != starts[2]
    # the fixed-grid span dedup sees ZERO duplicated spans on the same docs
    st = {r["doc_id"]: r["n_dup_spans"] for r in dd.span_dedup_stats(df).collect()}
    assert st == {1: 0, 2: 0, 3: 0}
    # chunk boundaries are content-defined: chunks tile [1, len+1) per doc
    chunks = dd.cdc_chunks(df, min_len=1).collect()
    for doc in (1, 2, 3):
        spans = sorted((r["start"], r["length"]) for r in chunks if r["id"] == doc)
        assert spans[0][0] == 1
        for (s1, l1), (s2, _) in zip(spans, spans[1:]):
            assert s1 + l1 == s2


def test_ivf_index_dir_cache_validity(spark):
    """The shared per-dataset IVF index must (a) NOT rebuild while its
    source marker matches, and (b) rebuild when the marker mismatches —
    the staleness contract that lets sim_ivf_topk/sim_ivfpq_topk/
    dd_semdedup trust one another's cache."""
    import os

    from qcfractal_spark.queries import _ivf_index_dir

    p = _ivf_index_dir(spark, "/root/testdata/sf0.001")
    success = os.path.join(p, "vectors", "_SUCCESS")
    marker_path = os.path.join(p, "source_marker")
    good_marker = open(marker_path).read()
    m1 = os.path.getmtime(success)
    _ivf_index_dir(spark, "/root/testdata/sf0.001")
    assert os.path.getmtime(success) == m1  # warm cache: no rebuild
    with open(marker_path, "w") as fh:
        fh.write("stale")
    _ivf_index_dir(spark, "/root/testdata/sf0.001")
    assert open(marker_path).read() == good_marker  # marker restored
    assert os.path.getmtime(success) != m1  # index actually rebuilt


def test_incremental_cdc_matches_first_occurrence_rule(spark, tmp_path):
    """incremental_cdc_duplicates reports exactly the batch chunks with a
    PRIOR occurrence (corpus, or lower-id batch doc): a passage shared
    with the corpus flags every batch copy; a batch-only duplicate flags
    only the later copy; a batch-unique passage flags nothing.  Corpus
    text is never re-chunked — only the persisted index is read."""
    passage = (
        "the training corpus contains a verbatim duplicated passage that is "
        "long enough to span several content defined chunks so the rolling "
        "hash anchors inside it line up in every copy regardless of where "
        "the passage begins in the surrounding document and that is exactly "
        "the property a fixed grid lacks"
    )
    batch_only = (
        "an entirely distinct but equally long duplicated segment appearing "
        "twice within the ingest batch and never in the corpus so the first "
        "occurrence rule keeps the earlier copy and flags only the later one "
        "which is precisely what incremental deduplication must decide here"
    )
    corpus = spark.createDataFrame(
        [(3, "corpus doc holds " + passage + " verbatim"),
         (7, "another corpus document with unrelated content entirely")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "first batch copy " + passage + " plus " + batch_only),
         (20, "second batch doc shifted " + passage + " and also " + batch_only),
         (30, "a batch document with nothing duplicated anywhere at all")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "cdc_index")
    dd.write_cdc_chunk_index(corpus, path)
    out = dd.incremental_cdc_duplicates(spark, path, batch).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], set()).add(r["chunk_fp"])
    assert 30 not in by_doc  # nothing duplicated
    # passage chunks (shared with corpus) flag BOTH batch copies
    chunks3 = {r["chunk_fp"] for r in dd.cdc_chunks(corpus).collect() if r["id"] == 3}
    assert by_doc[10] & chunks3 and by_doc[20] & chunks3
    # batch_only chunks flag doc 20 (later copy) but NOT doc 10 (first)
    only_fps = (by_doc[20] - chunks3)
    assert only_fps, "batch-only duplicate produced no flagged chunk"
    assert not (by_doc.get(10, set()) & only_fps)

    # ingest loop: append this batch's chunks to the index, and the NEXT
    # batch (a fresh copy of the batch-only passage) now collides with it
    dd.write_cdc_chunk_index(batch, path, mode="append")
    nxt = spark.createDataFrame(
        [(40, "third ingest repeating " + batch_only + " once more")],
        "doc_id long, text string",
    )
    out2 = dd.incremental_cdc_duplicates(spark, path, nxt).collect()
    assert out2 and all(r["id"] == 40 for r in out2)
    assert {r["chunk_fp"] for r in out2} & only_fps


def test_semdedup_consumes_persisted_index(spark, tmp_path):
    """semdedup(index_path=...) must (a) return exactly the inline-quantizer
    result and (b) run with ZERO Python stages — the k-means assign
    pandas_udf is gone because the persisted ``_cid`` is reused (VERDICT r5
    item 2: dedup and retrieval share one ingest-time index)."""
    from qcfractal_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf")
    sim.write_ivf_index(emb, path, n_centroids=16)

    indexed = sim.semdedup(None, threshold=0.25, index_path=path)
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    inline = sim.semdedup(emb, threshold=0.25, n_centroids=16)
    key = lambda df: sorted((r["id"], r["cluster"], r["keep"]) for r in df.collect())
    assert key(indexed) == key(inline)

    # precomputed-assignment arm hits the same path
    assigned = sim.read_ivf_vectors(spark, path)
    via_df = sim.semdedup(None, threshold=0.25, assigned=assigned)
    assert key(via_df) == key(inline)

    import pytest

    with pytest.raises(ValueError, match="not both"):
        sim.semdedup(None, assigned=assigned, index_path=path)
    with pytest.raises(ValueError, match="_cid"):
        sim.semdedup(None, assigned=assigned.drop("_cid"))


def test_ivf_persisted_index_prunes_partitions_and_matches(spark, tmp_path):
    """The persisted IVF index probes only its n_probe _cid= partitions
    (asserted on actual files read, not plan text) and returns exactly the
    in-memory ivf_topk results for the same index."""
    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.sources.layout import pruned_files

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    path = str(tmp_path / "ivf")
    sim.write_ivf_index(emb, path, n_centroids=16)

    got = [
        (r["vec_id"], r["score"])
        for r in sim.ivf_topk_indexed(spark, path, qvec, k=10, n_probe=4).collect()
    ]
    expected = [
        (r["vec_id"], r["score"])
        for r in sim.ivf_topk(emb, qvec, k=10, n_probe=4).collect()
    ]
    assert got == expected

    vectors = sim.read_ivf_vectors(spark, path)
    total = pruned_files(vectors)
    # recompute the probe list the same way the indexed probe does
    cent = sim.read_ivf_centroids(spark, path)
    probe = sorted(
        range(len(cent)),
        key=lambda i: -sum(a * b for a, b in zip(cent[i], qvec))
        / math.sqrt(sum(x * x for x in cent[i])),
    )[:4]
    touched = pruned_files(vectors.where(F.col("_cid").isin(probe)))
    assert touched < total, "probe scan did not prune inverted-list partitions"


def test_simhash_pairs_pigeonhole_exhaustive(spark):
    """The banded join finds every pair with Hamming <= bands-1 — verified
    against brute force on hand-built signatures, including a pair that
    agrees on NO full band boundary alignment beyond the guaranteed one."""
    sigs = [
        (1, 0b0000_0000_0000_0000_0000_0000_0000_0000),
        (2, 0b0000_0000_0000_0000_0000_0000_0000_0111),  # ham 3 vs 1
        (3, 0b1000_0000_1000_0000_1000_0000_1000_0000),  # ham 4 vs 1: dropped
        (4, 0b0000_0000_0000_0001_0000_0001_0000_0001),  # ham 3 vs 1, spread
    ]
    df = spark.createDataFrame(sigs, "id long, simhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_candidate_pairs(df).collect()
    }
    import itertools
    expected = {
        (a, b): bin(sa ^ sb).count("1")
        for (a, sa), (b, sb) in itertools.combinations(sigs, 2)
        if bin(sa ^ sb).count("1") <= 3
    }
    assert got == expected

    with pytest.raises(ValueError):
        dd.simhash_candidate_pairs(df, bands=4, max_hamming=4)


def test_scaled_band_bits_bounds_bucket_population():
    """r13 VERDICT item 3: the corpus-scaled band width must hold the
    EXPECTED bucket population (n / 2^w) at or under the target inside
    the unclamped range, so hash-collision candidate volume stays linear
    in the corpus instead of birthday-quadratic."""
    # unclamped region: expected population <= target
    for n in (10_000, 50_000, 123_456, 200_000):
        w = dd.scaled_band_bits(n, target_bucket_docs=8)
        assert 8 <= w <= 15
        assert n / (1 << w) <= 8, f"n={n}: 2^{w} buckets leaves load > 8"
    # monotone in corpus size
    widths = [dd.scaled_band_bits(n) for n in (10, 1_000, 100_000, 10**7)]
    assert widths == sorted(widths)
    # clamps: tiny corpora stay at the floor; the 60-bit hash caps at 15
    assert dd.scaled_band_bits(1) == 8
    assert dd.scaled_band_bits(500) == 8
    assert dd.scaled_band_bits(10**9) == 15
    # the sf10-decade failure point: ~10^6 docs needs 2^17 buckets by the
    # formula, and w=15 (the cap) gives 32k buckets -> load ~31, still
    # f-squared-bounded per bucket rather than the fixed width's ~3900
    assert dd.scaled_band_bits(10**6) == 15


def test_simhash_wide_hash_signature_matches_scaled_oracle_construction(spark):
    """The wide-hash simhash signature is bit-for-bit the oracle's
    construction: base = first 15 hex chars of md5 (60-bit), vote bits
    j in [0, bits)."""
    import hashlib

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta epsilon")],
        "doc_id long, text string",
    )
    got = {r["id"]: r["simhash"] for r in dd.simhash(docs, bits=40, wide_hash=True).collect()}

    def py_sim(text, bits=40):
        toks = sorted(set(text.split()))
        votes = [0] * bits
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for j in range(bits):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(bits) if votes[j] > 0)

    assert got == {1: py_sim("alpha beta gamma"), 2: py_sim("alpha beta delta epsilon")}


def test_contamination_report_counts_and_zero_hit(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "zzzzzzzzzzzzzzzzzz unique")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox")], "doc_id long, text string"
    )
    out = {
        r["id"]: (r["n_hit"], r["n_shingles"])
        for r in dd.contamination_report(corpus, bench, k=13).collect()
    }
    # doc 1 contains "quick brown fox" => its 13-grams overlap the bench set
    assert out[1][0] > 0
    assert out[2][0] == 0  # zero-hit doc still reported (left join)
    assert all(n_sh > 0 for _, n_sh in out.values())


def test_jaccard_doc_freq_cap_is_conservative(spark):
    """With a df-cap, surviving pair scores never exceed the uncapped exact
    score (similarity only under-estimated), and pairs built purely from
    ubiquitous shingles disappear."""
    from qcfractal_spark.functions import dedup as dd

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the the the the the the the the the the the"),
        (4, "the the the the the the the the the the the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, threshold=0.0, max_doc_freq=2).collect()
    }
    assert (3, 4) in exact and exact[(3, 4)] == 1.0
    for pair, score in capped.items():
        assert score <= exact[pair] + 1e-9, pair


def test_redact_pii_and_counts(spark):
    from qcfractal_spark.functions import text as tx2

    df = spark.createDataFrame(
        [(1, "mail a@b.io and c.d+x@e-f.org call +1-555-0100 host 10.0.0.1 end")],
        "doc_id long, text string",
    )
    t = F.col("text")
    row = df.select(
        tx2.pii_count(t, tx2.PII_EMAIL_RE).alias("e"),
        tx2.pii_count(t, tx2.PII_PHONE_RE).alias("p"),
        tx2.pii_count(t, tx2.PII_IPV4_RE).alias("i"),
        tx2.redact_pii(t).alias("red"),
    ).first()
    assert (row["e"], row["p"], row["i"]) == (2, 1, 1)
    assert row["red"] == "mail <EMAIL> and <EMAIL> call <PHONE> host <IP> end"


def test_concat_chunk_layout_spans_and_offsets(spark):
    from qcfractal_spark.functions.packing import concat_chunk_layout

    # stream s: 3 docs of 6, 3, 8 tokens; budget 8 =>
    #   doc 1: tokens [0,6)  -> chunk 0 only
    #   doc 2: tokens [6,9)  -> straddles chunks 0-1
    #   doc 3: tokens [9,17) -> chunks 1-2
    # plus a zero-token doc pinned at its offset; a second stream restarts at 0.
    df = spark.createDataFrame(
        [("s", 1, 6), ("s", 2, 3), ("s", 3, 8), ("s", 4, 0), ("t", 9, 5)],
        "source string, doc_id long, n_tok long",
    )
    out = {
        r["doc_id"]: (r["start_offset"], r["first_chunk"], r["last_chunk"], r["n_chunks"])
        for r in concat_chunk_layout(df, "n_tok", budget=8).collect()
    }
    assert out[1] == (0, 0, 0, 1)
    assert out[2] == (6, 0, 1, 2)
    assert out[3] == (9, 1, 2, 2)
    assert out[4] == (17, 2, 2, 1)  # zero-token doc: no span growth
    assert out[9] == (0, 0, 0, 1)  # independent stream restarts at offset 0


def test_pq_exact_when_codebook_saturates(spark):
    """With ksub >= N and init = all vectors, every vector is its own
    centroid, so the ADC distance equals the exact squared L2 distance to
    the query (up to the 6-dp table rounding)."""
    import numpy as np
    from qcfractal_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").where(
        F.col("vec_id") < 8
    )
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    books = sim.pq_train(emb, m=2, ksub=8, n_iter=1)
    codes = sim.pq_codes(emb, books)
    q = rows[0]
    out = {r["vec_id"]: r["adist"]
           for r in sim.pq_adc_topk(codes, books, list(q), k=8).collect()}
    for vid, vec in rows.items():
        exact = float(np.sum((q - vec) ** 2))
        assert abs(out[vid] - exact) < 2e-4, (vid, out[vid], exact)
    # codes are valid indices
    for r in codes.collect():
        assert all(0 <= c < 8 for c in r["codes"])


def test_ngram_features_unigrams_plus_bigrams(spark):
    df = spark.createDataFrame(
        [("a b c",), ("solo",), ("",)], "text string"
    )
    out = [r[0] for r in df.select(tx.ngram_features(F.col("text"))).collect()]
    assert out[0] == ["a", "b", "c", "a b", "b c"]
    assert out[1] == ["solo"]  # <2 tokens: unigrams only
    assert out[2] == []


def test_containment_catches_subdocument_quote(spark):
    # B embeds A verbatim: C(A->B) ~ 1 while Jaccard(A,B) is far below
    # threshold -- the case the directed operator exists for.
    a_text = "the quick brown fox jumps over the lazy dog near the river"
    b_text = (
        "unrelated preamble sentence with plenty of extra filler words here "
        + a_text
        + " and a long unrelated tail that keeps adding novel shingles all "
        "the way to the end of this much longer document body"
    )
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.containment_pairs(docs, threshold=0.9).collect()
    }
    assert cont[(1, 2)] >= 0.9  # A contained in B
    assert (2, 1) not in cont  # B not contained in A
    jac = dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []  # symmetric Jaccard misses the quote


def test_dsir_prefers_target_distribution(spark):
    # Target slice = lang 'en'.  English docs must average a higher log
    # importance weight than the rest -- the defining DSIR property.
    from qcfractal_spark.queries import REGISTRY, _t

    q_fn = REGISTRY["tx_dsir"][0]
    sf = "/root/testdata/sf0.001"
    out = q_fn(spark, sf)
    docs = _t(spark, sf, "documents").select("doc_id", "lang")
    by_lang = (
        out.join(docs, "doc_id")
        .groupBy(F.col("lang") == "en")
        .agg(F.avg("logw").alias("m"))
        .collect()
    )
    means = {r[0]: r["m"] for r in by_lang}
    assert means[True] > means[False]
    assert means[True] > 0 > means[False]


def test_incremental_lsh_matches_full_candidates(spark, tmp_path):
    """Incremental (index-probe) candidates must equal the full-corpus LSH
    candidate set restricted to pairs touching the batch — no pair lost,
    no corpus-only pair invented — and the index must be a banded parquet
    partitioned by band_idx (no corpus text/signature in the artifact)."""
    import os

    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions import dedup as dd

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    path = str(tmp_path / "lsh_index")
    dd.write_lsh_band_index(dd.minhash_signatures(corpus), path)
    assert any(e.startswith("band_idx=") for e in os.listdir(path))
    inc = dd.incremental_lsh_candidates(spark, path, dd.minhash_signatures(batch))
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in inc.collect()
    }
    full = dd.minhash_lsh_candidates(dd.minhash_signatures(docs))
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    want = {
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_a"] in batch_ids or r["id_b"] in batch_ids
    }
    assert got == want and got  # non-trivial on this corpus
    # orientation: id_b is always the new (batch) id
    assert all(r["id_b"] % 10 == 0 for r in inc.collect())

    # ingest loop: append the batch's band rows, and a fresh ingest that
    # near-dups a BATCH doc (not a corpus doc) now finds it in the index
    dd.write_lsh_band_index(dd.minhash_signatures(batch), path, mode="append")
    some_batch_doc = batch.orderBy("doc_id").limit(1)
    nxt = some_batch_doc.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    inc2 = dd.incremental_lsh_candidates(spark, path, dd.minhash_signatures(nxt))
    hit_ids = {r["id_a"] for r in inc2.collect()}
    assert some_batch_doc.first()["doc_id"] in hit_ids


def test_cross_corpus_lsh_pairs_cross_only_and_catches_edits(spark):
    """The near-dup decontamination arm: a lightly edited copy of a
    benchmark doc collides (paraphrase leak the exact 13-gram scan would
    miss on the edited span), unrelated corpus docs don't, and NO
    within-corpus pair is ever emitted."""
    base = ("the quick brown fox jumps over the lazy dog while the "
            "benchmark sentence keeps flowing with enough shingles to "
            "fill every minhash band consistently across the whole text")
    corpus = spark.createDataFrame(
        [
            (1, base + " plus one small edit at the very end"),  # leak
            (2, base.replace("quick", "rapid") + " slightly reworded"),  # leak
            (3, "completely unrelated corpus document about spark shuffles"),
            (4, "completely unrelated corpus document about spark shuffles"),  # dup of 3, but corpus-side
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, base)], "doc_id long, text string")
    from qcfractal_spark.functions.dedup import cross_corpus_lsh_pairs, minhash_signatures

    pairs = cross_corpus_lsh_pairs(
        minhash_signatures(corpus), minhash_signatures(bench)
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 100) in got and (2, 100) in got
    assert all(b == 100 for _, b in got)  # right side only from benchmark
    assert not any(a in (3, 4) for a, _ in got)  # unrelated docs clean
    # the corpus-side duplicate pair (3,4) must NOT appear — cross-only
    assert (3, 4) not in got and (4, 3) not in got


def test_cosine_zero_vector_scores_zero_not_null(spark):
    from qcfractal_spark.functions.similarity import brute_force_topk, cosine

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    scores = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", cosine(F.col("embedding"), F.lit(None).cast("array<double>").alias("x")).alias("_"),
        ).select("vec_id", F.lit(0).alias("s")).collect()
    }  # smoke shape only
    out = {r["vec_id"]: r["score"] for r in brute_force_topk(df, [1.0, 0.0], k=3).collect()}
    assert out[1] == 0.0  # zero vector present with score 0, not dropped
    assert len(out) == 3


def test_pq_train_rejects_indivisible_dim(spark):
    import pytest

    from qcfractal_spark.functions.similarity import pq_train

    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1), float(i + 2)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="divisible"):
        pq_train(df, m=2, ksub=4)


def test_cdc_chunks_duplicate_ids_chunk_per_row(spark):
    """ADVICE r6: duplicate doc_id rows carrying DIFFERENT text must each be
    chunked against their OWN cut list (the anchor aggregation keys on
    (id, md5(text)), not id alone) — previously the combined cut list was
    applied to both copies, breaking byte parity with the per-row streaming
    chunker.  Duplicate (id, SAME text) pairs chunk identically per copy."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliett "
            "kilo lima mike november oscar papa quebec romeo sierra tango ") * 4
    other = ("zulu yankee xray whiskey victor uniform tango sierra romeo "
             "quebec papa oscar november mike lima kilo juliett india ") * 5
    rows = [(1, base), (1, other), (2, base), (2, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["id"], r["start"], r["length"], r["chunk_fp"])
        for r in dd.cdc_chunks(df, min_len=1).collect()
    )
    # parity oracle: the shuffle-free streaming chunker computes cuts per ROW
    want = sorted(
        (r["id"], r["start"], r["length"], r["chunk_fp"])
        for r in dd.rowwise_cdc_chunks(df, min_len=1).collect()
    )
    assert got == want and len(got) > 4
    # id=1's two texts produced DIFFERENT chunk sets; id=2's two identical
    # copies produced the same chunk rows twice
    one = [(s, l, f) for (i, s, l, f) in got if i == 1]
    two = [(s, l, f) for (i, s, l, f) in got if i == 2]
    assert len(set(one)) == len(one)          # distinct texts: no repeats
    assert len(two) == 2 * len(set(two))      # same text twice: exact pairs


def test_semdedup_requires_some_input():
    """ADVICE r6: df=None with neither assigned nor index_path must raise a
    clear ValueError, not an AttributeError from inside ivf_assignments."""
    import pytest

    from qcfractal_spark.functions import similarity as sim

    with pytest.raises(ValueError, match="df is required"):
        sim.semdedup(None, threshold=0.9)


def test_variant_properties_preserve_types(spark):
    """SURVEY §7 hard-part 5 closure: VARIANT keeps each property's native
    JSON type through extraction (long stays long, double stays double,
    bool stays bool) where the MapType(String,String) model would have
    stringified all three; missing keys and NULL payloads extract NULL
    per-row."""
    from pyspark.sql.types import BooleanType, DoubleType, LongType

    from qcfractal_spark.functions.variantprops import (
        parse_properties,
        prop,
        properties_df_variant,
    )

    df = spark.createDataFrame(
        [
            (1, '{"energy": -76.42, "iters": 12, "converged": true}'),
            (2, '{"energy": -75.0, "iters": 3, "converged": false}'),
            (3, '{"iters": 9}'),
            (4, None),
        ],
        "id long, props string",
    )
    v = df.withColumn("_v", parse_properties(F.col("props")))
    out = v.select(
        "id",
        prop(F.col("_v"), "energy", "double").alias("energy"),
        prop(F.col("_v"), "iters", "long").alias("iters"),
        prop(F.col("_v"), "converged", "boolean").alias("converged"),
    )
    types = dict(zip(out.columns, [f.dataType for f in out.schema.fields]))
    assert isinstance(types["energy"], DoubleType)
    assert isinstance(types["iters"], LongType)
    assert isinstance(types["converged"], BooleanType)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["energy"] == -76.42 and rows[1]["iters"] == 12
    assert rows[1]["converged"] is True and rows[2]["converged"] is False
    assert rows[3]["energy"] is None and rows[3]["iters"] == 9
    assert rows[4]["energy"] is None and rows[4]["iters"] is None

    # the wide matrix twin: same single-shuffle pivot as the map version,
    # per-key native types
    recs = spark.createDataFrame(
        [
            ("e1", "hf", '{"energy": -1.5, "iters": 4}'),
            ("e1", "mp2", '{"energy": -1.7}'),
            ("e2", "hf", '{"energy": -2.5, "iters": 8}'),
        ],
        "entry string, spec string, props string",
    ).withColumn("_v", parse_properties(F.col("props")))
    wide = properties_df_variant(
        recs, "entry", "spec", "_v", {"energy": "double", "iters": "long"}
    )
    w = {r["entry"]: r for r in wide.collect()}
    assert w["e1"]["hf_energy"] == -1.5 and w["e1"]["hf_iters"] == 4
    assert w["e1"]["mp2_energy"] == -1.7 and w["e1"]["mp2_iters"] is None
    assert w["e2"]["hf_energy"] == -2.5
    wtypes = dict(zip(wide.columns, [f.dataType for f in wide.schema.fields]))
    assert isinstance(wtypes["hf_energy"], DoubleType)
    assert isinstance(wtypes["hf_iters"], LongType)


def test_ivf_index_append_without_retrain(spark, tmp_path):
    """append_to_ivf_index: new vectors are assigned with the index's
    STORED centroids (no retrain) and land in their _cid partitions;
    probes over the updated index see them.  The ANN ingest loop: index
    build once, append per batch, retrain offline."""
    import numpy as np

    from qcfractal_spark.functions import similarity as sim

    rng = np.random.RandomState(7)
    base = [(i, rng.randn(8).round(3).tolist()) for i in range(40)]
    newb = [(100 + i, rng.randn(8).round(3).tolist()) for i in range(10)]
    schema = "vec_id long, embedding array<double>"
    path = str(tmp_path / "ivf")
    sim.write_ivf_index(spark.createDataFrame(base, schema), path, n_centroids=4)
    sim.append_to_ivf_index(spark, spark.createDataFrame(newb, schema), path)

    vectors = sim.read_ivf_vectors(spark, path)
    got = {r["vec_id"]: r["_cid"] for r in vectors.collect()}
    assert set(got) == {i for i, _ in base} | {i for i, _ in newb}

    # appended assignments == argmax cosine against the STORED centroids
    cmat = np.array(sim.read_ivf_centroids(spark, path))
    cn = cmat / np.linalg.norm(cmat, axis=1)[:, None]
    for vid, vec in newb:
        assert got[vid] == int(np.argmax(cn @ np.array(vec)))

    # a probe with an appended vector finds it (all-probe => exhaustive)
    top = sim.ivf_topk_indexed(spark, path, newb[0][1], k=1, n_probe=4).collect()
    assert top[0]["vec_id"] == newb[0][0]

    # base assignments are untouched by the append (append-only partitions)
    rebuilt = {r["vec_id"]: r["_cid"] for r in vectors.where("vec_id < 100").collect()}
    fresh, _ = sim.ivf_assignments(
        spark.createDataFrame(base, schema), n_centroids=4
    )
    assert rebuilt == {r["vec_id"]: r["_cid"] for r in fresh.collect()}


def test_epoch_shuffle_properties(spark):
    """epoch_shuffle: (a) each shard's positions are a contiguous 1..n
    ranking, (b) the same epoch reproduces the identical permutation,
    (c) different epochs produce different within-shard orders, (d) shard
    assignment is epoch-dependent too (the whole permutation reseeds)."""
    from qcfractal_spark.functions.packing import epoch_shuffle

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    e1 = epoch_shuffle(docs, epoch=1, n_shards=4).collect()
    e1b = epoch_shuffle(docs, epoch=1, n_shards=4).collect()
    e2 = epoch_shuffle(docs, epoch=2, n_shards=4).collect()
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["pos"]) for r in rows)
    assert key(e1) == key(e1b)          # (b) deterministic
    assert key(e1) != key(e2)           # (c)/(d) epochs differ
    by_shard = {}
    for r in e1:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # (a)
    assert {r["doc_id"] for r in e1} == set(range(200))


def test_sample_k_per_group_exact_counts(spark):
    """sample_k_per_group: exactly min(k, group size) rows per group,
    deterministic across runs, a different deterministic subset per seed,
    and sample_rank is contiguous 1..n within each group."""
    from qcfractal_spark.functions.packing import sample_k_per_group

    rows = [(i, f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = sample_k_per_group(df, "source", "doc_id", k=10).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append((r["sample_rank"], r["doc_id"]))
    assert set(by_src) == {"s0", "s1", "s2"}
    for src, pairs in by_src.items():
        assert sorted(p[0] for p in pairs) == list(range(1, 11))
    again = sample_k_per_group(df, "source", "doc_id", k=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    other = sample_k_per_group(df, "source", "doc_id", k=10, seed=1).collect()
    assert {r["doc_id"] for r in other} != {r["doc_id"] for r in got}
    # k >= group size: the whole group survives
    small = sample_k_per_group(df, "source", "doc_id", k=99).collect()
    assert len(small) == 100


def test_source_overlap_matrix_counts(spark):
    """source_overlap_matrix: shared_fps counts distinct shared
    fingerprints (not doc pairs), zero-overlap pairs appear with
    shared_fps=0, and Jaccard uses distinct-fingerprint set sizes."""
    rows = [
        (1, "a", "dup one"), (2, "a", "dup two"), (3, "a", "only in a"),
        (4, "b", "dup one"), (5, "b", "dup two"), (6, "b", "dup one"),
        (7, "c", "only in c"), (8, "c", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["source_a"], r["source_b"]): r
        for r in dd.source_overlap_matrix(df).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = got[("a", "b")]
    # 'dup one' counted once despite two copies in b; sizes are distinct fps
    assert ab["shared_fps"] == 2 and ab["n_a"] == 3 and ab["n_b"] == 2
    assert ab["jaccard"] == round(2 / (3 + 2 - 2), 6)
    assert got[("a", "c")]["shared_fps"] == 0 and got[("a", "c")]["jaccard"] == 0.0
    assert got[("b", "c")]["n_b"] == 1  # NULL text excluded from c's size


def test_minhash_estimate_pairs_semantics(spark):
    """minhash_estimate_pairs: exact duplicates estimate 1.0, the estimate
    is the agreeing-component fraction in [0, 1] with 1/16 granularity,
    and the pair set is exactly the LSH candidate set."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "a completely different document about spark catalyst plans"),
        (4, "the quick brown fox jumps over the lazy dog again and AGAIN"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in dd.minhash_estimate_pairs(df).collect()}
    assert got[(1, 2)] == 1.0
    cand = {(r["id_a"], r["id_b"]) for r in
            dd.minhash_lsh_candidates(dd.minhash_signatures(df)).collect()}
    assert set(got) == cand
    for est in got.values():
        assert 0.0 <= est <= 1.0
        assert round(est * 16) / 16 == round(est, 6) or abs(est * 16 - round(est * 16)) < 1e-6


def test_cluster_representatives_argmax_and_ties(spark):
    from qcfractal_spark.functions.dedup import cluster_representatives

    labeled = spark.createDataFrame(
        [
            # cluster 1: clear quality winner (id 3)
            (1, 1, 0.2), (2, 1, 0.9), (3, 1, 0.95),
            # cluster 10: exact tie -> smallest id wins
            (10, 10, 0.5), (11, 10, 0.5), (12, 10, 0.5),
            # singleton
            (20, 20, 0.1),
        ],
        "id long, cluster_id long, score double",
    )
    out = {
        r["cluster_id"]: r
        for r in cluster_representatives(
            labeled, id_col="id", cluster_col="cluster_id", score_col="score"
        ).collect()
    }
    assert out[1]["rep_id"] == 3 and out[1]["rep_score"] == 0.95
    assert out[1]["n_members"] == 3
    assert out[10]["rep_id"] == 10  # tie broken toward the smallest id
    assert out[20]["rep_id"] == 20 and out[20]["n_members"] == 1


def test_leakproof_split_co_assigns_clusters(spark):
    from qcfractal_spark.functions.dedup import leakproof_split

    # 200 docs in 100 clusters of 2 — every pair must share a split.
    rows = [(i, i // 2) for i in range(200)]
    labeled = spark.createDataFrame(rows, "id long, cluster_id long")
    out = leakproof_split(labeled, id_col="id", cluster_col="cluster_id")
    pdf = out.toPandas()
    assert set(pdf["split"].unique()) <= {"train", "valid", "test"}
    per_cluster = pdf.groupby("cluster_id")["split"].nunique()
    assert (per_cluster == 1).all(), "a cluster straddles splits"
    # deterministic across invocations
    pdf2 = leakproof_split(labeled, id_col="id", cluster_col="cluster_id").toPandas()
    assert pdf.sort_values("id").reset_index(drop=True).equals(
        pdf2.sort_values("id").reset_index(drop=True)
    )
    # a different seed redraws at least one cluster's assignment
    pdf3 = leakproof_split(
        labeled, id_col="id", cluster_col="cluster_id", seed=1
    ).toPandas()
    merged = pdf.merge(pdf3, on="id", suffixes=("_a", "_b"))
    assert (merged["split_a"] != merged["split_b"]).any()
    # nominal proportions hold loosely over 100 uniform-hashed clusters
    shares = pdf["split"].value_counts(normalize=True)
    assert shares.get("train", 0) > 0.6


def test_label_centroid_outliers_flags_flipped_vector(spark):
    from qcfractal_spark.functions.similarity import label_centroid_outliers

    dim = 64
    base = [1.0] + [0.0] * (dim - 1)
    flipped = [-1.0] + [0.0] * (dim - 1)
    rows = [(i, base, 7) for i in range(5)] + [(99, flipped, 7)]
    rows += [(200, base, None)]  # NULL label drops out
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = label_centroid_outliers(emb, k=2).collect()
    assert all(r["label"] == 7 for r in out)
    assert out[0]["vec_id"] != 200 and len(out) == 2
    top = min(out, key=lambda r: r["outlier_rank"])
    assert top["vec_id"] == 99  # the flipped vector is the #1 outlier
    assert top["cos_centroid"] < 0


def test_length_bucket_stats_exact_arithmetic(spark):
    from qcfractal_spark.functions.packing import length_bucket_stats

    df = spark.createDataFrame(
        [("a", 10), ("a", 63), ("a", 64), ("b", 100)],
        "source string, n long",
    )
    out = {
        (r["source"], r["bucket"]): r
        for r in length_bucket_stats(
            df, token_col="n", group_col="source", bucket_width=64
        ).collect()
    }
    r = out[("a", 0)]  # 10 and 63 -> bucket 0, cap 64
    assert r["n_docs"] == 2 and r["sum_tokens"] == 73 and r["max_tokens"] == 63
    assert r["padding_waste"] == 2 * 64 - 73
    # 73/128 = 0.5703125 exactly; Spark ROUND is HALF_UP -> 0.570313
    assert abs(r["fill_efficiency"] - 0.570313) < 1e-9
    assert out[("a", 1)]["bucket_cap"] == 128  # 64 -> bucket 1
    assert out[("b", 1)]["padding_waste"] == 128 - 100


def test_doc_frequency_counts_docs_not_occurrences(spark):
    from qcfractal_spark.functions.text import doc_frequency_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark unique"),
            (2, "spark flink"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r["token"]: r["doc_freq"] for r in doc_frequency_topk(docs).collect()}
    assert out["spark"] == 2  # two docs, not four occurrences
    assert out["flink"] == 1 and out["unique"] == 1
    # k cut is honored with the (df desc, token asc) total order
    top1 = doc_frequency_topk(docs, k=1).collect()
    assert len(top1) == 1 and top1[0]["token"] == "spark"


def test_weighted_sample_topk_prefers_heavy_rows(spark):
    from qcfractal_spark.functions.packing import weighted_sample_topk

    # 10 heavy rows (w=50) among 500 light rows (w=0.01): with k=10 the
    # expected heavy share is overwhelming (key ~ Exp(rate=w)).
    rows = [(i, 50.0 if i < 10 else 0.01) for i in range(510)]
    df = spark.createDataFrame(rows, "id long, w double")
    out = weighted_sample_topk(df, weight_col="w", id_col="id", k=10)
    got = out.collect()
    assert len(got) == 10
    heavy = sum(1 for r in got if r["id"] < 10)
    assert heavy >= 8, f"heavy rows underrepresented: {heavy}/10"
    # exact-k, no replacement, deterministic
    ids = [r["id"] for r in got]
    assert len(set(ids)) == 10
    again = [r["id"] for r in weighted_sample_topk(
        df, weight_col="w", id_col="id", k=10).collect()]
    assert ids == again
    # reseeding redraws (at least the light tail changes)
    reseed = [r["id"] for r in weighted_sample_topk(
        df, weight_col="w", id_col="id", k=10, seed=7).collect()]
    assert set(ids) != set(reseed) or ids != reseed
    # zero weight never divides by zero and still competes (floored)
    z = spark.createDataFrame([(1, 0.0), (2, 1.0)], "id long, w double")
    zz = weighted_sample_topk(z, weight_col="w", id_col="id", k=2).collect()
    assert {r["id"] for r in zz} == {1, 2}


def test_prefix_filter_returns_exactly_the_threshold_pairs(spark):
    """Prefix filtering must be EXACT (the AllPairs guarantee): compare
    against brute-force token-set Jaccard over all pairs."""
    import itertools

    from qcfractal_spark.functions.dedup import prefix_filter_jaccard_pairs

    corpus = {
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma delta zeta",       # J(1,2)=4/6
        3: "alpha beta gamma delta epsilon",    # J(1,3)=1.0
        4: "one two three four five six",
        5: "one two three four five seven",     # J(4,5)=5/7
        6: "totally unrelated words here now",
        7: "alpha beta",                        # small vs 1: 2/5
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    for t in (0.5, 0.7, 0.9):
        got = {
            (r["id_a"], r["id_b"])
            for r in prefix_filter_jaccard_pairs(docs, threshold=t).collect()
        }
        want = set()
        for a, b in itertools.combinations(sorted(corpus), 2):
            sa, sb = set(corpus[a].split()), set(corpus[b].split())
            j = len(sa & sb) / len(sa | sb)
            if round(j, 6) >= t:
                want.add((a, b))
        assert got == want, f"threshold {t}: {got ^ want}"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        prefix_filter_jaccard_pairs(docs, threshold=0.0)


def test_source_kl_zero_for_identical_slices_positive_for_shifted(spark):
    from qcfractal_spark.functions.text import source_kl_divergence

    # Two groups with IDENTICAL token distributions -> the corpus equals
    # each slice -> KL exactly 0 for both.  A third, shifted group gets a
    # strictly positive divergence (and shifts the others' too).
    same = [(1, "a b c d", "x"), (2, "a b c d", "y")]
    out = {
        r["source"]: r["kl_divergence"]
        for r in source_kl_divergence(
            spark.createDataFrame(same, "doc_id long, text string, source string")
        ).collect()
    }
    assert out == {"x": 0.0, "y": 0.0}
    shifted = same + [(3, "zz zz zz zz", "z")]
    out2 = source_kl_divergence(
        spark.createDataFrame(shifted, "doc_id long, text string, source string")
    ).collect()
    vals = {r["source"]: r for r in out2}
    assert vals["z"]["kl_divergence"] > 0
    assert vals["x"]["kl_divergence"] > 0  # corpus moved away from x too
    assert vals["z"]["n_tokens"] == 4


def test_heavy_hitters_mg_error_bound(spark):
    """The Misra–Gries guarantee vs the exact counts: every token with
    true frequency > N/(k+1) is present, and every estimate is a lower
    bound within N/(k+1) of truth — on the real corpus AND on an
    adversarial skewed stream."""
    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions.text import heavy_hitters_mg, tokens

    for df, k in [
        (load_table(spark, "/root/testdata/sf0.001", "documents"), 50),
        (
            spark.createDataFrame(
                [(i, ("hot " * 60 if i % 3 == 0 else f"w{i} x{i} y{i} z{i}"))
                 for i in range(300)],
                "doc_id long, text string",
            ),
            8,
        ),
    ]:
        exact = {
            r["token"]: r["cnt"]
            for r in df.where(F.col("text").isNotNull())
            .select(F.explode(tokens(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        n = sum(exact.values())
        bound = n / (k + 1)
        est = {
            r["token"]: r["est_count"]
            for r in heavy_hitters_mg(df, k=k).collect()
        }
        for t, c in exact.items():
            if c > bound:
                assert t in est, f"guaranteed heavy hitter {t!r} missing"
        for t, e in est.items():
            assert 0 < e <= exact[t], f"{t}: est {e} > true {exact[t]}"
            assert exact[t] - e <= bound + 1e-9, f"{t}: undercount too large"


def test_multiprobe_recall_superset_of_single_probe(spark):
    """Multi-probe candidates strictly contain the single-probe bucket, so
    its top-k scores dominate; both agree with brute force on any vector
    the single probe already found."""
    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions.similarity import (
        brute_force_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    single = {r["vec_id"]: r["score"] for r in lsh_topk(emb, qvec, k=10).collect()}
    multi = {r["vec_id"]: r["score"] for r in lsh_multiprobe_topk(emb, qvec, k=10).collect()}
    brute = {r["vec_id"]: r["score"] for r in brute_force_topk(emb, qvec, k=10).collect()}
    # recall vs the exact answer can only improve with more probes
    assert len(set(multi) & set(brute)) >= len(set(single) & set(brute))
    # more probes never return fewer results (candidate superset)
    assert len(multi) >= len(single)
    # when both fill k, the k-th multi-probe score dominates
    if len(single) == 10 and len(multi) == 10:
        assert min(multi.values()) >= min(single.values())
    # scores are consistent where ids overlap
    for vid in set(single) & set(multi):
        assert single[vid] == multi[vid]


def test_filtered_topk_honors_predicate(spark):
    from qcfractal_spark.catalog import load_table
    from qcfractal_spark.functions.similarity import filtered_brute_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    out = filtered_brute_topk(emb, qvec, F.col("label") == 3, k=10).collect()
    assert 0 < len(out) <= 10
    allowed = {r["vec_id"] for r in emb.where(F.col("label") == 3).collect()}
    assert all(r["vec_id"] in allowed for r in out)
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_gopher_rules_each_rule_fires(spark):
    """Gopher A1.1 rules (functions/text.py:gopher_rules): each rule
    flips on its own pathological doc while a healthy doc keeps."""
    from qcfractal_spark.functions.text import gopher_rules

    healthy = " ".join(
        ["the quick brown fox jumps over lazy dogs and cats that have fun with it"] * 5
    )
    docs = spark.createDataFrame(
        [
            (1, healthy),                                     # keeps
            (2, "too short to have fifty words"),             # word count
            (3, " ".join(["a"] * 60) + " the of"),            # mean len < 3
            (4, healthy + " " + " ".join(["#"] * 20)),        # symbols
            (5, "\n".join(["- " + healthy] * 10)),            # bullets > 90%
            (6, "\n".join([healthy + "..."] * 10)),           # ellipsis > 30%
            (7, healthy + " " + " ".join(["123"] * 40)),      # alpha < 80%
            (8, " ".join(["zz yy xx ww vv"] * 15)),           # no stop words
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(docs).collect()}
    assert got[1]["keep"] is True
    assert got[2]["word_count_ok"] is False
    assert got[3]["mean_word_len_ok"] is False
    assert got[4]["symbol_ratio_ok"] is False and got[4]["word_count_ok"] is True
    assert got[5]["bullet_ok"] is False and got[5]["n_lines"] == 10
    assert got[6]["ellipsis_lines_ok"] is False
    assert got[7]["alpha_words_ok"] is False
    assert got[8]["stopwords_ok"] is False
    for i in range(2, 9):
        assert got[i]["keep"] is False, i


def test_c4_clean_line_and_page_rules(spark):
    """C4 cleaning (functions/text.py:c4_clean): line survival needs
    terminal punctuation + >=5 words + no 'javascript'; the page verdict
    needs >=3 sentences and no lorem-ipsum/brace anywhere."""
    from qcfractal_spark.functions.text import c4_clean

    good = "this line has enough words here."
    docs = spark.createDataFrame(
        [
            (1, f"{good}\nanother full line with words too!\nand a third good line right here?"),
            (2, f"{good}\nno terminal punctuation on this line\nshort line."),
            (3, f"{good}\nplease enable your javascript support now.\n{good}"),
            (4, f"{good}\n{good}\nlorem ipsum dolor sit amet friend.\n{good}"),
            (5, "code ahead function() { return; }\n" + good),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in c4_clean(docs).collect()}
    assert got[1]["n_lines_kept"] == 3 and got[1]["page_keep"] is True
    assert got[1]["cleaned_text"].count("\n") == 2
    # no-terminal and <5-words lines dropped
    assert got[2]["n_lines_kept"] == 1 and got[2]["n_lines_dropped"] == 2
    assert got[2]["page_keep"] is False  # only 1 sentence survives
    # javascript line dropped but page may still keep if >=3 sentences
    assert got[3]["n_lines_kept"] == 2
    assert "javascript" not in got[3]["cleaned_text"]
    # lorem ipsum: lines keep but the PAGE is rejected
    assert got[4]["has_lorem"] is True and got[4]["page_keep"] is False
    assert got[4]["n_lines_kept"] == 4
    # brace: page rejected even though the brace line itself was dropped
    assert got[5]["has_brace"] is True and got[5]["page_keep"] is False
