"""Embedding similarity search over ``array<float>`` columns.

One score-and-rank core, many candidate generators.  Every single-query
arm — exact, filtered (:func:`filtered_brute_topk`), hyperplane LSH
(:func:`lsh_topk`, :func:`lsh_multiprobe_topk`) and IVF (:func:`ivf_topk`,
:func:`ivf_topk_indexed`) — only narrows the vector frame and hands it to
:func:`brute_force_topk`, which scores the rounded cosine and ranks score
desc / id asc.  Per-query and per-label top-k (batch IVF, hard negatives,
kNN join, label outliers) rank through ``operators.topk.per_group_topk``,
and the two batch IVF arms share one probe-rank frame (:func:`_probe_ranks`).

The persisted IVF index layout — ``vectors/`` partitioned by ``_cid`` plus
a ``centroids/`` table — is owned here: :func:`write_ivf_index` and
:func:`append_to_ivf_index` write it, and :func:`read_ivf_vectors`,
:func:`read_ivf_centroids` and :func:`ivf_index_written` are the only
readers.  A caller that needs only the vectors never pays the centroid
collect.

All arithmetic is in double precision via built-in higher-order functions
(``zip_with`` + ``aggregate``) — JVM-side, sequential left-fold, so results
are deterministic and reproducible by an oracle that sums in index order.
"""

from __future__ import annotations

import os
from typing import Sequence

import numpy as np
import pandas as pd  # noqa: F401  (pandas_udf annotation resolution)
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..operators.topk import group_rank, per_group_topk
from ..session import local_df


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as an index-ordered left fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lit_array(vals: Sequence[float]) -> Column:
    """Literal double array as ONE parsed SQL expression.

    Building a 64-dim literal vector from per-element ``F.lit`` calls costs
    hundreds of py4j round-trips *per vector* — ~1.9 s of driver time for an
    8-plane bucket expression (measured sf0.1).  A single ``F.expr`` string
    parses JVM-side in microseconds.  ``repr(float)`` is shortest-round-trip
    and both parsers bind it to the identical IEEE double (bit-checked in
    tests), so numeric semantics are unchanged."""
    return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")")


def dot_py(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side mirror of :func:`dot`: same left fold from 0.0 in index
    order — Python floats are IEEE doubles, so the result is bit-identical
    to the JVM fold (and to DuckDB's sequential list_dot_product)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; zero vectors score 0.0, not NULL — each norm is
    guarded to 1 when zero (the dot is then 0 anyway), matching the IVF
    probe's ``or 1.0`` and exact_cosine_pairs_topk's phase-1 convention.
    Unguarded, Spark's non-ANSI divide returns NULL and a zero embedding
    (padding / failed-embed row) silently vanishes from every top-k and
    threshold result."""
    na, nb = norm(a), norm(b)
    return dot(a, b) / (
        F.when(na > F.lit(0.0), na).otherwise(F.lit(1.0))
        * F.when(nb > F.lit(0.0), nb).otherwise(F.lit(1.0))
    )


def nearest_centroid_ids(
    query_vec: Sequence[float], centroids: Sequence[Sequence[float]], n_probe: int
) -> list[int]:
    """Driver-side probe selection shared by the in-memory and persisted
    IVF paths: the ``n_probe`` centroid ids nearest the query by cosine
    (zero-norm centroids guarded to 1) — one definition, no drift."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec))
    return sorted(
        range(len(centroids)),
        key=lambda i: -(
            sum(a * b for a, b in zip(centroids[i], query_vec))
            / ((qn or 1.0) * (math.sqrt(sum(x * x for x in centroids[i])) or 1.0))
        ),
    )[:n_probe]


def brute_force_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k against one query vector — the score-and-rank
    core every single-query arm ends in: ``df`` is the candidate frame,
    already narrowed by the caller's predicate, bucket or probe filter.

    One scan + TakeOrderedAndProject (per-partition heap, no full sort).
    Scores rounded so cross-engine float summation agrees; ties break by id
    for determinism.
    """
    q = lit_array(query_vec)
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), round_to).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def hard_negatives_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dup_threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the ``k`` highest-cosine corpus vectors whose score stays BELOW
    ``dup_threshold`` — the closest NON-duplicates.  SemDeDup's
    complement: what semantic dedup would keep as distinct but an
    embedding model finds maximally confusable, exactly the negatives a
    contrastive/embedding trainer wants next to each anchor.  Self-pairs
    are excluded by id.

    Plan: the query set broadcasts (it is batch-sized, never
    corpus-sized), scoring is scan-side arithmetic over ONE corpus pass,
    and the per-query top-k is a rank-only window that compiles to a
    map-side WindowGroupLimit — the sim_ivf_batch_topk serving shape with
    a score band instead of a cell probe.  At 100 TB the same call takes
    the IVF-pruned candidate frame as ``corpus`` to skip the full scan;
    the band/top-k algebra is unchanged.
    """
    q = F.broadcast(
        queries.select(F.col(qid_col), F.col(vec_col).alias("_qv"))
    )
    scored = corpus.crossJoin(q).select(
        F.col(qid_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qv")), round_to).alias("score"),
    )
    banded = scored.where(
        (F.col("score") < dup_threshold) & (F.col(id_col) != F.col(qid_col))
    )
    return per_group_topk(
        banded,
        [qid_col],
        [F.col("score").desc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG over [-1,1]); no numpy
    RNG state so plans are reproducible across submissions."""
    planes = []
    x = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (1_103_515_245 * x + 12_345) % (2**31)
            row.append((x / (2**31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(vec · plane_i)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        bucket = bucket + F.when(dot(vec, lit_array(p)) > 0, F.lit(2**i)).otherwise(
            F.lit(0)
        )
    return bucket


def lsh_bucket_py(vec: Sequence[float], planes: Sequence[Sequence[float]]) -> int:
    """Driver-side bucket of a driver-side vector — bit-identical to
    :func:`lsh_bucket` (same fold order; see :func:`dot_py`), without
    building any Spark expression for the query side."""
    bucket = 0
    for i, p in enumerate(planes):
        if dot_py(vec, p) > 0:
            bucket += 2**i
    return bucket


def lsh_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    The bucket column would be precomputed/persisted at ingest in a real
    deployment (scan-side, no shuffle); candidates shrink ~2^n_planes-fold.
    Recall is probabilistic — the point is the plan shape: partition-prunable
    candidate filter, then the same top-k.
    """
    planes = _hyperplanes(len(query_vec), n_planes)
    # Query-side bucket computed driver-side (the vector is already on the
    # driver): no per-row interpreted re-fold of a constant expression.
    q_bucket = lsh_bucket_py(query_vec, planes)
    candidates = df.withColumn("_bucket", lsh_bucket(F.col(vec_col), planes)).where(
        F.col("_bucket") == F.lit(q_bucket)
    )
    return brute_force_topk(candidates, query_vec, k, vec_col, id_col, round_to)


def exact_cosine_pairs_topk(
    df: DataFrame,
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
    candidate_pool: int = 200,
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact global top-k most-similar pairs, two-phase:

    1. *Candidate scan* — Arrow-batched numpy kernel (`mapInPandas`): each
       batch computes one (batch × N) BLAS matmul against the broadcast
       normalized matrix and keeps its top ``candidate_pool`` pairs.  A
       per-batch pool ≥ k is lossless for the global top-k (any global
       winner ranks ≤ k within its own batch); the pool is 10×k to also
       absorb float divergence between BLAS and fold summation (~1e-13,
       vs rounding at 1e-6).  Caveat: losslessness assumes fewer than
       ``candidate_pool`` pairs TIE at the pool boundary score — a corpus
       of hundreds of identical vectors (score exactly 1.0) overflows the
       pool and the kept subset of the tied pairs is arbitrary; raise
       ``candidate_pool`` above the expected duplicate-pair count there,
       or dedup exact duplicates first (``dedup.exact_dedup``).
    2. *Exact rescore* — the surviving ≤pool pairs re-score with the same
       index-ordered JVM left-fold the single-phase version used, so the
       emitted scores are bit-identical to an oracle's sequential
       ``list_dot_product`` — phase 1 only selects, never scores.

    Memory envelope: the broadcast matrix is N×dim doubles — the exact
    all-pairs baseline presumes N fits one executor (it's quadratic work
    regardless); beyond that, the scale path is the LSH/IVF variants.
    """
    from pyspark.sql.functions import broadcast

    # Exact all-pairs is a verification baseline: it collects every vector to
    # the driver and broadcasts the N x dim matrix, which only works when N
    # fits one node.  Refuse to run past max_rows so this can never be
    # pointed at a real table by accident — the scale paths are
    # lsh_bucket_topk / IVF (build_ivf_index + ivf_topk) / knn_join_bucketed.
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"exact_cosine_pairs_topk is the driver-side verification baseline "
            f"(collects all vectors); got {n} rows > max_rows={max_rows}. "
            f"Use the LSH (lsh_bucket_topk) or IVF (build_ivf_index/ivf_topk) "
            f"scale paths, or raise max_rows explicitly."
        )
    data = df.select(
        F.col(id_col).cast("long"), F.col(vec_col).cast("array<double>")
    ).collect()
    ids = np.array([r[0] for r in data], dtype=np.int64)
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in data])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    bn = mat / norms[:, None]
    bc = df.sparkSession.sparkContext.broadcast((ids, bn))
    pool = max(candidate_pool, 10 * k)

    def gen(batches):
        bids, B = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["v"].to_numpy())
            mn = np.linalg.norm(M, axis=1)
            mn[mn == 0.0] = 1.0
            S = (M / mn[:, None]) @ B.T
            rid = pdf["id"].to_numpy()
            S[bids[None, :] <= rid[:, None]] = -np.inf  # a < b pairs only
            flat = S.ravel()
            kk = min(pool, flat.size)
            idx = np.argpartition(flat, -kk)[-kk:]
            keep = np.isfinite(flat[idx])
            idx = idx[keep]
            bi, bj = np.unravel_index(idx, S.shape)
            yield pd.DataFrame(
                {"id_a": rid[bi], "id_b": bids[bj], "approx": flat[idx]}
            )

    cand = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .mapInPandas(gen, "id_a long, id_b long, approx double")
        .orderBy(F.col("approx").desc())
        .limit(pool)
    )
    vecs = df.select(
        F.col(id_col).cast("long").alias("_vid"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(vec_col).cast("array<double>"), lambda x: x * x
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("_nrm"),
    )
    a = vecs.select(
        F.col("_vid").alias("id_a"), F.col("_v").alias("_va"), F.col("_nrm").alias("_na")
    )
    b = vecs.select(
        F.col("_vid").alias("id_b"), F.col("_v").alias("_vb"), F.col("_nrm").alias("_nb")
    )
    rescored = (
        broadcast(broadcast(cand).join(a, on="id_a"))
        .join(b, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                round_to,
            ).alias("score"),
        )
    )
    return rescored.orderBy(F.col("score").desc(), "id_a", "id_b").limit(k)


def assign_to_centroids(centers: Sequence[Sequence[float]], vec_col: str) -> Column:
    """Nearest-centroid assignment (cosine) against a FIXED centroid table:
    one (batch × dim) @ (dim × C) BLAS matmul per Arrow batch instead of
    C×dim interpreted lambda evaluations per row — the only Python in the
    IVF path.  Shared by the quantizer's Lloyd iterations and by
    :func:`append_to_ivf_index` (which must assign with the index's stored
    centroids, never a retrain)."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray([list(c) for c in centers], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0.0] = 1.0
    cn = (cmat / cnorm[:, None]).T  # dim × C

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # batch × dim
        return pd.Series(np.argmax(m @ cn, axis=1).astype("int32"))

    return _assign(F.col(vec_col).cast("array<double>"))


def ivf_assignments(
    df: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: deterministic k-means over cosine direction.

    Init = the ``n_centroids`` lowest-id vectors (a top-k, not a sample — no
    RNG, so resubmissions build the identical index).  Each Lloyd iteration
    is one scan (assign: argmax centroid·v/|v|, fully JVM-side via an
    array-of-structs max) plus one centroid update (posexplode → per-(cid,
    dim) mean — a groupBy on n_centroids×dim keys, tiny shuffle).  Centroids
    live on the driver (n_centroids ≪ N) and are inlined as literals, so
    assignment never joins.  At 100 TB the assignment column is written at
    ingest and the table is partitioned/bucketed by ``_cid`` — probing then
    prunes (n_probe/n_centroids) of the data before any distance math.

    Returns (df + ``_cid`` column, centroids).
    """
    init = (
        df.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    centroids = [list(r[0]) for r in init]

    def assign(centers: list[list[float]]) -> Column:
        return assign_to_centroids(centers, vec_col)

    for _ in range(n_iter):
        assigned = df.withColumn("_cid", assign(centroids))
        means = (
            assigned.select("_cid", F.posexplode(F.col(vec_col).cast("array<double>")).alias("_p", "_x"))
            .groupBy("_cid", "_p")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["_cid"], {})[r["_p"]] = r["_m"]
        dim = len(centroids[0])
        centroids = [
            [by_cid[c].get(p, centroids[c][p]) for p in range(dim)] if c in by_cid else centroids[c]
            for c in range(len(centroids))
        ]
    return df.withColumn("_cid", assign(centroids)), centroids


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
    assigned: DataFrame | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` inverted lists whose
    centroids are nearest the query.  Pass a prebuilt (assigned, centroids)
    index to skip the build — the deployment shape, where the index is
    computed once at ingest."""
    if assigned is None or centroids is None:
        assigned, centroids = ivf_assignments(df, n_centroids, vec_col=vec_col, id_col=id_col)
    probe = nearest_centroid_ids(query_vec, centroids, n_probe)
    return brute_force_topk(
        assigned.where(F.col("_cid").isin(probe)), query_vec, k, vec_col, id_col, round_to
    )


def _centroid_df(spark: SparkSession, centroids: Sequence[Sequence[float]]) -> DataFrame:
    """The centroid table ``(cid, centroid)``, cid = list position — the
    persisted ``centroids/`` layout and the batch arms' broadcast side."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    return local_df(spark, rows, "cid int, centroid array<double>")


def _probe_ranks(
    queries: DataFrame,
    centroids: Sequence[Sequence[float]],
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Every inverted list ranked per query: ``(query_id, _qv, _cid,
    _prank)``, by the cosine and cid tie-break of
    :func:`nearest_centroid_ids`, so the batch and single-query arms probe
    the same lists.  Queries × the broadcast centroid table, unfiltered:
    :func:`ivf_topk_batch` keeps ``_prank <= n_probe`` and
    :func:`ivf_recall_by_probe` reads every probe budget off the one rank."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
    )
    scored = q.join(F.broadcast(_centroid_df(queries.sparkSession, centroids))).select(
        "query_id",
        "_qv",
        "cid",
        cosine(F.col("_qv"), F.col("centroid")).alias("_cs"),
    )
    return group_rank(
        scored, ["query_id"], [F.col("_cs").desc(), F.col("cid").asc()], "_prank"
    ).select("query_id", "_qv", F.col("cid").alias("_cid"), "_prank")


def ivf_topk_batch(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF top-k for a whole BATCH of queries in one plan — the serving
    shape: per-query probe selection and scoring as joins, never a
    driver-side loop of single-query jobs.

    Plan: queries × the (tiny, broadcast) centroid table → per-query
    top-``n_probe`` probe lists via a window (same cosine + tie-break as
    :func:`nearest_centroid_ids`, so single-query and batch paths agree);
    the probe table (|queries| × n_probe rows, each carrying its query
    vector) broadcasts into ONE equi-join with the assigned vectors on
    ``_cid`` — the fact side never shuffles, and against a persisted index
    partitioned by ``_cid`` the scan prunes to the union of probed lists.
    Final per-query top-k is a window with map-side WindowGroupLimit.

    ``assigned`` is the quantizer output (``vec_col``, ``id_col``,
    ``_cid``) — pass the persisted index's vectors table to skip any
    build."""
    probes = (
        _probe_ranks(queries, centroids, query_id_col, query_vec_col)
        .where(F.col("_prank") <= n_probe)
        .drop("_prank")
    )
    scored = assigned.join(F.broadcast(probes), on="_cid").select(
        "query_id",
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qv")), round_to).alias("score"),
    )
    return per_group_topk(
        scored, ["query_id"], [F.col("score").desc(), F.col(id_col).asc()], k, rank_col="_rk"
    )


def ivf_recall_by_probe(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    probe_levels: Sequence[int] = (1, 2, 4, 8, 16),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Measured recall@k of the IVF probe at EVERY probe budget in one
    pass — the tuning report a deployment runs before fixing ``n_probe``
    corpus-wide (the :func:`~..queries.q_dd_lsh_recall_eval` methodology
    on the vector side).

    Identity that makes one scan suffice: restricting candidates to a
    subset can only IMPROVE a surviving row's rank, so a row of the exact
    (brute-force) top-k is in the IVF top-k at probe budget ``p`` iff its
    inverted list ranks ≤ ``p`` for that query — no per-budget top-k
    reruns, hits(p) is a cumulative count over the truth rows.  Recall is
    therefore monotone in ``p`` by construction and exactly 1.0 once
    ``p`` ≥ n_centroids (every list rank qualifies).

    Plan: queries × broadcast centroid table → per-query list rank (same
    cosine + tie-break as :func:`ivf_topk_batch`, so the measured curve
    describes exactly what serving does); ONE equi-join of the (tiny,
    broadcast) ranked-probe table with the assigned vectors on ``_cid``
    — the fact side never shuffles and, against a persisted index, the
    truth pass is the only full-list scan, bounded by the query SAMPLE
    size, not the corpus.  Truth = per-query window top-k; the report
    folds truth × probe-budget literals (|sample|·k·|levels| rows).
    """
    ranked = _probe_ranks(queries, centroids, query_id_col, query_vec_col)
    scored = assigned.join(F.broadcast(ranked), on="_cid").select(
        "query_id",
        F.col(id_col),
        "_prank",
        F.round(cosine(F.col(vec_col), F.col("_qv")), round_to).alias("score"),
    )
    truth = per_group_topk(
        scored, ["query_id"], [F.col("score").desc(), F.col(id_col).asc()], k, rank_col="_rk"
    ).select("query_id", "_prank")
    levels = F.explode(
        F.array(*[F.lit(int(p)) for p in probe_levels])
    ).alias("n_probe")
    return (
        truth.select("query_id", "_prank", levels)
        .groupBy("n_probe")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.sum(
                F.when(F.col("_prank") <= F.col("n_probe"), 1).otherwise(0)
            ).alias("n_hits"),
            # denominator = the ACTUAL truth-set size, not k·n_queries:
            # a corpus (or filtered candidate set) smaller than k has
            # fewer than k truth rows per query, and dividing by k would
            # understate recall and break the =1.0-at-all-probes
            # invariant exactly when the index is fine
            F.count(F.lit(1)).alias("_n_truth"),
        )
        .select(
            "n_probe",
            "n_queries",
            "n_hits",
            F.round(F.col("n_hits") / F.col("_n_truth"), round_to).alias(
                "recall"
            ),
        )
        .orderBy("n_probe")
    )


def knn_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    dim: int | None = None,
    broadcast_left: bool = False,
) -> DataFrame:
    """Approximate kNN join: bucket both sides by hyperplane LSH, join on
    bucket, per-left top-k by cosine.  The join is bucket-local (equi-join on
    the bucket key) — the only shape that survives a 100 TB × 100 TB kNN.

    Strategy (r13 spot-decade lesson): ``right`` is the corpus and must
    NEVER be the broadcast build side — the planner's scan-sized estimate
    picked exactly that here (BuildRight over the full vector table, the
    dd_winnow OOM class), so the corpus side carries a MERGE hint.  When
    ``left`` is a bounded probe batch (the serving shape), pass
    ``broadcast_left=True`` to build the small side instead — a
    batch-sized broadcast equi-join, no corpus shuffle at all."""
    if dim is None:
        dim = len(left.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes)
    lb = left.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("_lvec"),
        lsh_bucket(F.col(vec_col), planes).alias("_bucket"),
    )
    rb = right.select(
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("_rvec"),
        lsh_bucket(F.col(vec_col), planes).alias("_bucket"),
    )
    scored = (
        (F.broadcast(lb).join(rb, on="_bucket")
         if broadcast_left
         else lb.join(rb.hint("merge"), on="_bucket"))
        .where(F.col("left_id") != F.col("right_id"))
        .withColumn("score", F.round(cosine(F.col("_lvec"), F.col("_rvec")), 6))
    )
    return per_group_topk(
        scored, ["left_id"], [F.col("score").desc(), F.col("right_id")], k, rank_col="_rn"
    ).select("left_id", "right_id", "score")


def embed_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket by hyperplane LSH,
    self-join on the bucket, keep pairs with cosine ≥ ``threshold``.

    The semantic-dedup step of a training pipeline (near-identical passages
    with different surface forms that n-gram dedup misses).  Candidate
    generation is bucket-local — at a cosine threshold of 0.9 the collision
    probability per plane is 1 - θ/π ≈ 0.856, so a true near-dup pair lands
    in the same 6-plane bucket ~39% of the time per table; in deployment the
    bucket column is written at ingest and the join repeats over several
    independent plane sets for recall (same plan shape, unioned).
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes)
    sides = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_v"),
        lsh_bucket(F.col(vec_col), planes).alias("_bucket"),
    )
    a, b = sides.alias("a"), sides.alias("b")
    # MERGE hint (r13 spot-decade lesson, the dd_winnow OOM class): both
    # sides of this self-join are the full vector corpus, so the strategy
    # must be shuffle-on-bucket at any size — without the hint the
    # planner's scan-sized estimate broadcast one corpus side (fine at
    # sf1, an OOM waiting at 10×).
    return (
        a.join(b.hint("merge"), on="_bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .withColumn(
            "score", F.round(cosine(F.col("a._v"), F.col("b._v")), 6)
        )
        .where(F.col("score") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "score")
        .dropDuplicates(["id_a", "id_b"])
    )


def semdedup(
    df: DataFrame | None,
    threshold: float = 0.9,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assigned: DataFrame | None = None,
    index_path: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): k-means-cluster the embeddings, then within each cluster
    drop every vector that has a lower-id near-duplicate at cosine ≥
    ``threshold``; the lowest id in each near-dup group survives.

    Cluster-local pair generation is the scale contract: the pairwise
    cosine never crosses clusters, so the join is an equi-join on the
    cluster id and per-task work is bounded by the largest cluster (at
    100 TB, ``n_centroids`` scales with corpus size — SemDeDup uses
    ~0.1–1 clusters per 1k docs — keeping cluster populations roughly
    constant; the assignment column is written at ingest by the same
    ``ivf_assignments`` quantizer the ANN path uses, so dedup and
    retrieval share one index).  The threshold compares the 6-dp-rounded
    cosine so the decision is reproducible across engines.

    Sharing the index (VERDICT r5 item 2): pass ``index_path`` (a
    :func:`write_ivf_index` directory — its ``vectors`` table already
    carries ``_cid``) or a precomputed ``assigned`` DataFrame
    (``id_col``, ``vec_col``, ``_cid``), and the per-call k-means retrain
    (2 extra full scans + driver centroid collects) disappears — the plan
    is then pure JVM join/aggregate with no Python stages.  When the index
    is supplied it IS the data: ``df`` is ignored (may be None).  The
    inline quantizer remains the no-index fallback.

    Returns one row per vector: (id, cluster, keep 0/1).
    """
    if index_path is not None:
        if assigned is not None:
            raise ValueError("pass either assigned or index_path, not both")
        spark = df.sparkSession if df is not None else SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("index_path without df needs an active SparkSession")
        assigned = read_ivf_vectors(spark, index_path)
    if assigned is None:
        if df is None:
            raise ValueError(
                "df is required when neither assigned nor index_path is given"
            )
        assigned, _ = ivf_assignments(df, n_centroids, vec_col=vec_col, id_col=id_col)
    elif "_cid" not in assigned.columns:
        raise ValueError("assigned must carry the quantizer's _cid column")
    sides = assigned.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v"), "_cid"
    )
    a, b = sides.alias("a"), sides.alias("b")
    dropped = (
        a.join(b, on="_cid")
        .where(F.col("a.id") < F.col("b.id"))
        .where(F.round(cosine(F.col("a._v"), F.col("b._v")), 6) >= threshold)
        .select(F.col("b.id").alias("id"))
        .dropDuplicates(["id"])
        .withColumn("_drop", F.lit(1))
    )
    return (
        sides.join(dropped, on="id", how="left")
        .select(
            "id",
            F.col("_cid").alias("cluster"),
            F.when(F.col("_drop").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
        )
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist an IVF index: vectors partitioned by inverted-list id
    (``_cid=<k>/`` directories) plus a tiny centroids table.

    This is the deployment shape of IVF at 100 TB: the quantizer runs once
    at ingest, vectors land clustered on disk, and every probe query then
    *partition-prunes* to ``n_probe/n_centroids`` of the data before any
    distance math — the scan never touches the other inverted lists (the
    pruning test asserts file counts, not hope).  Centroids are a
    driver-size artifact (n_centroids × dim), stored alongside."""
    assigned, centroids = ivf_assignments(df, n_centroids, vec_col=vec_col, id_col=id_col)
    assigned.write.mode("overwrite").partitionBy("_cid").parquet(f"{path}/vectors")
    _centroid_df(df.sparkSession, centroids).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )


def read_ivf_vectors(spark: SparkSession, path: str) -> DataFrame:
    """The index's vectors table (``id_col``, ``vec_col``, ``_cid``): a lazy
    read, partition-prunable on ``_cid``."""
    return spark.read.parquet(f"{path}/vectors")


def read_ivf_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    """The index's centroids, ordered by cid — one collect of the
    n_centroids-row table."""
    by_cid = {
        r["cid"]: list(r["centroid"])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    return [by_cid[i] for i in range(len(by_cid))]


def ivf_index_written(path: str) -> bool:
    """True once a :func:`write_ivf_index` vectors write has committed
    (its ``_SUCCESS`` marker) — a filesystem check, no Spark job."""
    return os.path.exists(os.path.join(path, "vectors", "_SUCCESS"))


def append_to_ivf_index(
    spark,
    new_df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Append new vectors to a persisted IVF index WITHOUT retraining —
    the ANN ingest loop at 100 TB: a daily arrival batch costs one
    assignment scan (BLAS kernel against the index's stored centroids, a
    driver-size read) plus an append write into only the affected
    ``_cid=`` partitions.  The quantizer is never touched per batch —
    probes over the updated index see old and new vectors identically,
    and periodic offline retrain (:func:`write_ivf_index`, full rebuild)
    remains the recentering mechanism when drift accumulates, exactly the
    FAISS ``add`` vs ``train`` split.

    ``new_df`` must carry the same columns the index was built from
    (``id_col``, ``vec_col``); uniqueness of ids across batches is the
    caller's contract, as with any append-only ingest."""
    centroids = read_ivf_centroids(spark, path)
    new_df.withColumn("_cid", assign_to_centroids(centroids, vec_col)).write.mode(
        "append"
    ).partitionBy("_cid").parquet(f"{path}/vectors")


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Probe a persisted IVF index (see :func:`write_ivf_index`): pick the
    ``n_probe`` nearest centroids driver-side (tiny read), then scan only
    those ``_cid=`` partitions.  Identical results to the in-memory
    :func:`ivf_topk` on the same index."""
    centroids = read_ivf_centroids(spark, path)
    return ivf_topk(
        None,
        query_vec,
        k,
        n_probe=n_probe,
        vec_col=vec_col,
        id_col=id_col,
        round_to=round_to,
        assigned=read_ivf_vectors(spark, path),
        centroids=centroids,
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN
# --------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    m: int = 2,
    ksub: int = 8,
    n_iter: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train PQ codebooks: the vector is split into ``m`` contiguous
    subspaces; each gets its own deterministic k-means (``ksub`` centroids,
    L2 metric — PQ quantizes residual geometry, not direction).

    Determinism mirrors :func:`ivf_assignments`: init = subvectors of the
    ``ksub`` lowest-id vectors (no RNG), assignment ties break to the lowest
    code, empty clusters carry their previous centroid, and the FINAL
    codebooks are rounded to 6 dp — the discretization that lets a replaying
    engine agree bit-for-bit on every downstream code and ADC table.

    One Lloyd iteration = one scan (all m argmins in a single Arrow-batched
    BLAS kernel) + one posexplode mean (shuffle keyed on m·ksub·dsub cells —
    tiny).  Codebooks are a driver-size artifact (m × ksub × dsub), exactly
    like IVF centroids.  At 100 TB: train on a deterministic slice, encode
    the full corpus scan-side, store codes (m bytes/vector vs 4·dim) — the
    memory-bound regime where PQ is the standard play.

    Returns ``codebooks[j][c]`` = centroid ``c`` of subspace ``j``.
    """
    first = df.orderBy(F.col(id_col).asc()).limit(ksub).select(
        F.col(vec_col).cast("array<double>")
    ).collect()
    dim = len(first[0][0])
    if dim % m != 0:
        raise ValueError(
            f"PQ needs dim divisible by m: dim={dim}, m={m} — the trailing "
            f"{dim % m} dimensions would be silently dropped from codes and "
            "ADC distances (pad the vectors or pick a divisor m)"
        )
    dsub = dim // m
    books = [
        [list(r[0])[j * dsub : (j + 1) * dsub] for r in first] for j in range(m)
    ]

    for it in range(n_iter):
        coded = pq_codes(df, books, vec_col=vec_col, id_col=id_col)
        joined = df.select(
            F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
        ).join(coded.withColumnRenamed(id_col, "_id"), on="_id")
        means = (
            joined.select(
                F.posexplode("_v").alias("_p", "_x"), "codes"
            )
            .select(
                (F.col("_p") / dsub).cast("int").alias("_sub"),
                (F.col("_p") % dsub).alias("_sp"),
                F.element_at("codes", (F.col("_p") / dsub).cast("int") + 1).alias("_code"),
                "_x",
            )
            .groupBy("_sub", "_code", "_sp")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["_sub"], r["_code"]), {})[r["_sp"]] = r["_m"]
        books = [
            [
                [
                    got.get((j, c), {}).get(p, books[j][c][p])
                    for p in range(dsub)
                ]
                for c in range(ksub)
            ]
            for j in range(m)
        ]
    # discretize: both engines agree exactly on 6-dp codebooks
    return [[[round(x, 6) for x in c] for c in book] for book in books]


def pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector: per subspace, the index of the L2-nearest
    codebook centroid (ties to the lowest code — np.argmin order).  One
    Arrow-batched kernel computes all m argmins per batch via
    ``|s|² − 2·s@C + |C|²`` matmuls — the only Python in the PQ path, and
    it is BLAS.  Returns (id, codes array<int>)."""
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    mats = [np.asarray(book, dtype=np.float64) for book in codebooks]  # ksub × dsub
    cn = [np.sum(mat * mat, axis=1) for mat in mats]

    @pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # batch × dim
        out = np.empty((mat.shape[0], m), dtype=np.int32)
        for j in range(m):
            s = mat[:, j * dsub : (j + 1) * dsub]
            d = -2.0 * (s @ mats[j].T) + cn[j]  # |s|² constant per row: argmin-safe
            out[:, j] = np.argmin(d, axis=1)
        return pd.Series(list(out))

    return df.select(
        F.col(id_col), _encode(F.col(vec_col).cast("array<double>")).alias("codes")
    )


def pq_distortion_report(
    coded: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Per-(subspace, code) quantization health: population and mean
    squared reconstruction error — the report that decides whether the
    PQ geometry (m, ksub) is adequate before committing a corpus-wide
    encode, and the drift alarm afterwards (rising MSE on fresh arrivals
    = codebooks trained on stale data; the FAISS index-health readout on
    the compressed domain, sibling of the IVF list report).

    ``coded`` carries BOTH the raw vector and its ``codes`` array — the
    ingest-artifact shape (codes are stored alongside vectors exactly
    like the IVF ``_cid`` column, so at scale no join precedes this).
    Plan: one scan explodes each vector into its m (subspace, code,
    subvector) cells; the m·ksub codebook-cell table broadcasts; the
    per-cell squared error rounds then sums as DECIMAL (engine-order-
    independent), one map-combinable groupBy on m·ksub keys.
    """
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    spark = coded.sparkSession
    cb = local_df(
        spark,
        [
            (j, c, [float(x) for x in codebooks[j][c]])
            for j in range(m)
            for c in range(ksub)
        ],
        "subspace int, code int, _cent array<double>",
    )
    cells = coded.select(
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col("codes").alias("_codes"),
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.slice("_v", j * dsub + 1, dsub).alias("_s"),
                        F.element_at("_codes", j + 1).alias("code"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("_c")
    ).select("_c.subspace", "_c.code", "_c._s")
    sqd = (
        dot(F.col("_s"), F.col("_s"))
        - 2 * dot(F.col("_s"), F.col("_cent"))
        + dot(F.col("_cent"), F.col("_cent"))
    )
    return (
        cells.join(F.broadcast(cb), ["subspace", "code"])
        .select(
            "subspace",
            "code",
            F.round(sqd, round_to).cast("decimal(28,6)").alias("_d"),
        )
        .groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("_d").cast("double") / F.count(F.lit(1)), round_to
            ).alias("mse"),
        )
    )


def pq_adc_table(
    codebooks: list[list[list[float]]], query_vec: Sequence[float]
) -> list[list[float]]:
    """Asymmetric-distance tables: ``table[j][c]`` = squared L2 distance from
    the query's subvector j to centroid c, decomposed as
    ``|q|² − 2·q·c + |c|²`` with :func:`dot_py` sequential folds and rounded
    to 6 dp — the exact recipe a SQL oracle replays term-for-term."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = []
    for j in range(m):
        qj = [float(x) for x in query_vec[j * dsub : (j + 1) * dsub]]
        qq = dot_py(qj, qj)
        out.append(
            [
                round(qq - 2.0 * dot_py(qj, c) + dot_py(c, c), 6)
                for c in codebooks[j]
            ]
        )
    return out


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance: per row, sum the m table
    lookups (in subspace order — deterministic float addition) and take the
    k smallest.  Entirely JVM codegen over the (id, codes) table: the
    original vectors are never touched — the compressed-domain scan that
    makes PQ the memory-bandwidth win at 100 TB.  TakeOrdered, no global
    sort."""
    tables = pq_adc_table(codebooks, query_vec)
    t = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{v!r}D" for v in row) + ")" for row in tables
        )
        + ")"
    )
    m = len(tables)
    dist = F.lit(0.0)
    for j in range(m):
        dist = dist + F.element_at(
            F.element_at(t, j + 1), F.element_at("codes", j + 1) + 1
        )
    scored = codes.select(F.col(id_col), F.round(dist, 6).alias("adist"))
    return scored.orderBy(F.col("adist").asc(), F.col(id_col).asc()).limit(k)


def label_centroid_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 20,
) -> DataFrame:
    """Embedding-space outlier detection, per class: the ``k`` vectors of
    each label FARTHEST (lowest cosine) from their label's mean vector —
    the mislabeled-example / noisy-cluster triage op a curation pipeline
    runs before training a filter model.

    Float discipline (the ``a17_group_centroid`` contract): components are
    rounded to 6 dp and decimal-cast before every sum, so centroids, dot
    products, and norms are exact under any aggregation order and an
    engine summing in index order reproduces them bit-for-bit.  Centroid
    components are re-rounded to 6 dp before the distance pass so both
    engines score against the identical centroid.

    100 TB story: three map-combinable aggregates and zero wide joins —
    (1) centroid sum keyed by (label, dim): exchange carries one partial
    per key per partition; (2) the tiny centroid table (labels × dim
    rows) broadcast-joins back onto the exploded scan; (3) per-vector
    dot/norm sums keyed by the vector id (64 rows in, 1 out, combined
    map-side).  The final per-label bottom-k is a rank-only window that
    compiles to a map-side WindowGroupLimit, so the last exchange carries
    at most k rows per label per partition.
    """
    base = emb.where(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("_vid"),
        F.col(label_col).alias("_lbl"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("_j", "_x"),
    )
    xdec = F.round(F.col("_x"), 6).cast("decimal(20,10)")
    cent = (
        base.groupBy("_lbl", "_j")
        .agg(
            F.round(
                F.sum(xdec).cast("double") / F.count(F.lit(1)), 6
            ).alias("_c")
        )
    )
    joined = base.join(F.broadcast(cent), on=["_lbl", "_j"])
    xr = F.round(F.col("_x"), 6)
    prod = F.round(xr * F.col("_c"), 12).cast("decimal(30,15)")
    xx = F.round(xr * xr, 12).cast("decimal(30,15)")
    cc = F.round(F.col("_c") * F.col("_c"), 12).cast("decimal(30,15)")
    per_vec = joined.groupBy("_vid", "_lbl").agg(
        F.sum(prod).cast("double").alias("_sxc"),
        F.sum(xx).cast("double").alias("_sxx"),
        F.sum(cc).cast("double").alias("_scc"),
    )
    cos = F.round(
        F.col("_sxc") / (F.sqrt(F.col("_sxx")) * F.sqrt(F.col("_scc"))), 6
    )
    return per_group_topk(
        per_vec.select(
            F.col("_lbl").alias(label_col),
            F.col("_vid").alias(id_col),
            cos.alias("cos_centroid"),
        ),
        [label_col],
        [F.col("cos_centroid").asc(), F.col(id_col).asc()],
        k,
        rank_col="outlier_rank",
        keep_rank=True,
    )


def lsh_multiprobe_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al. 2007): probe the query's own
    bucket PLUS every bucket at Hamming distance 1 — the vectors a single
    flipped hyperplane sign would have hidden.  Recall rises from "same
    side of all 8 planes" to "differs on at most one plane" for the cost
    of scanning n_planes+1 of the 2^n_planes buckets (~3.5% of the corpus
    at 8 planes vs 0.4% single-probe) — the standard recall/cost knob
    that avoids building more tables.

    The probe set is computed DRIVER-side (the query vector is already
    there: bucket ^ (1<<i) bit flips) and lands in the plan as an IN
    filter over the bucket column — at ingest the bucket is persisted and
    the IN list partition-prunes, exactly like the IVF ``_cid`` probes.
    """
    planes = _hyperplanes(len(query_vec), n_planes)
    q_bucket = lsh_bucket_py(query_vec, planes)
    probes = [q_bucket] + [q_bucket ^ (1 << i) for i in range(n_planes)]
    candidates = df.withColumn("_bucket", lsh_bucket(F.col(vec_col), planes)).where(
        F.col("_bucket").isin(probes)
    )
    return brute_force_topk(candidates, query_vec, k, vec_col, id_col, round_to)


def filtered_brute_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    predicate: Column,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Filtered vector search — top-k by cosine AMONG rows matching a
    relational predicate (label, tenant, date...), the workload shape
    real retrieval serves ("nearest docs WHERE lang='en'").  The exact
    arm: predicate pushes to the scan (PushedFilters — asserted by the
    plan audit), distance math runs only over survivors, and the top-k is
    TakeOrderedAndProject.  The IVF-probed arm composes the same
    predicate into the pruned-list scan; this baseline is what it
    verifies against."""
    return brute_force_topk(df.where(predicate), query_vec, k, vec_col, id_col, round_to)


def _sq_dist_expr(center: list, vec_col: str = "v") -> str:
    """Decimal-exact squared euclidean distance from the 6-dp-rounded
    vector column to one FIXED center, as a dialect-shared SQL shape:
    per-component products rounded to 12 dp and decimal(30,15)-cast
    before the fold, so the sum is order-free exact and both engines
    reproduce it bit-for-bit (the a17/sim_outliers float contract);
    the result is rounded to 9 dp for cross-engine comparability."""
    arr = "array(" + ", ".join(repr(round(float(x), 6)) for x in center) + ")"
    return (
        f"round(cast(aggregate(zip_with({vec_col}, {arr}, "
        "(x, c) -> cast(round((x - c) * (x - c), 12) as decimal(30,15))), "
        "cast(0 as decimal(30,15)), "
        "(acc, e) -> cast(acc + e as decimal(30,15))) as double), 9)"
    )


def kcenter_coreset(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection — the
    diverse-subset curation op (Sener & Savarese's k-Center-Greedy,
    public method): pick the point farthest from every already-selected
    center, k times.  The selection radius (each pick's distance to the
    nearest prior center) is the standard 2-approximation coverage
    certificate: every corpus point lies within the LAST radius of some
    center.

    Seeding is deterministic (smallest id), ties break on id, and every
    distance follows the decimal-exact contract in :func:`_sq_dist_expr`
    — so the oracle's unrolled k-step CTE chain reproduces the selection
    bit-for-bit (the g1_pagerank iterative pattern applied to
    embeddings).

    100 TB story: the running state is ONE column (min distance to the
    selected set) maintained incrementally — each of the k-1 steps is a
    1-row argmax (TakeOrdered, map-side partial top-1) plus a row-local
    ``least(mind, dist-to-the-one-new-center)`` projection against a
    center BAKED INTO the expression (no join at all); lineage is cut
    per step.  Work per step is one linear scan; k is the knob, never
    the corpus.

    Returns (rank, vec_id, radius) — radius is the selection distance
    (0.0 for the seed).
    """
    spark = emb.sparkSession
    pts = emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> round(cast(x as double), 6))").alias("v"),
    )
    seed = pts.orderBy("vec_id").limit(1).collect()[0]
    centers = [(1, seed["vec_id"], 0.0)]
    cur = pts.withColumn(
        "mind", F.expr(_sq_dist_expr(seed["v"]))
    ).localCheckpoint(eager=False)
    cur.count()
    for rank in range(2, k + 1):
        far = cur.orderBy(
            F.col("mind").desc(), F.col("vec_id").asc()
        ).limit(1).collect()
        # Early-stop when the farthest remaining point is AT a center
        # (mind == 0): every corpus point is already covered exactly, so
        # further picks would re-select duplicate centers with radius 0
        # (r10 ADVICE — the oracle mirrors this with a WHERE mind > 0 on
        # each argmax CTE, so both arms stop at the same rank).
        if not far or float(far[0]["mind"]) == 0.0:
            break
        row = far[0]
        centers.append((rank, row["vec_id"], float(row["mind"])))
        cur = cur.withColumn(
            "mind", F.least(F.col("mind"), F.expr(_sq_dist_expr(row["v"])))
        ).localCheckpoint(eager=False)
        cur.count()  # materialize + cut lineage, one job per step
    return local_df(spark, centers, "rank int, vec_id long, radius double")


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "id",
    k: int = 60,
    top_n: int = 15,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009, the standard hybrid-
    retrieval combiner): given two ranked lists ``(id, rank)`` — e.g. a
    BM25 text arm and a cosine vector arm — score every id by
    Σ 1/(k + rank) over the lists it appears in and return the fused
    top ``top_n``.

    Fusion is a FULL OUTER join on the id (an id ranked by only one arm
    still scores — RRF's defining property), the reciprocal terms are
    written in the identical shape on both engines (COALESCE(text) +
    COALESCE(vector), 9-dp round), ties break on id ascending.

    100 TB story: the arms are top-k lists — constant-size by contract —
    so the fusion join is trivially small no matter the corpus; all the
    scale lives in the arms themselves (the persisted inverted text
    index and the partition-pruned IVF index), which is exactly how a
    production hybrid retriever is layered.

    Returns (rank, id, rrf, rank_a, rank_b).
    """
    a = ranked_a.select(F.col(id_col).alias("id"), F.col("rank").alias("rank_a"))
    b = ranked_b.select(F.col(id_col).alias("id"), F.col("rank").alias("rank_b"))
    fused = a.join(b, "id", "full_outer").select(
        "id",
        "rank_a",
        "rank_b",
        F.round(
            F.coalesce(1.0 / (F.lit(k) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col("rank_b")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_n)
        .select("rank", "id", "rrf", "rank_a", "rank_b")
    )
