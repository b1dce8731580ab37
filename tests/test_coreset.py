"""functions/similarity.py:kcenter_coreset — greedy k-center coreset
selection: the farthest-point-first invariants (monotone radii, coverage
certificate, determinism) and a planted-cluster recovery check.
Registry parity vs the unrolled-CTE DuckDB oracle is covered by
test_queries_oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from qcfractal_spark.functions.similarity import kcenter_coreset
from qcfractal_spark.queries import REGISTRY, _t

from conftest import SF_SMOKE


def _clusters_df(spark):
    """4 planted clusters far apart (corners of a hypercube scaled by
    10), 25 jittered points each — 100 rows, 8 dims."""
    corners = [
        [0, 0, 0, 0, 0, 0, 0, 0],
        [10, 10, 0, 0, 0, 0, 0, 0],
        [0, 0, 10, 10, 0, 0, 0, 0],
        [0, 0, 0, 0, 10, 10, 10, 10],
    ]
    rows = []
    for i in range(100):
        c = corners[i % 4]
        jitter = [((i * 7 + j * 13) % 10) / 100.0 for j in range(8)]
        rows.append((i, [c[j] + jitter[j] for j in range(8)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_selection_invariants_and_cluster_recovery(spark):
    df = _clusters_df(spark)
    out = sorted(
        (r["rank"], r["vec_id"], r["radius"])
        for r in kcenter_coreset(df, k=4).collect()
    )
    assert [r for r, _, _ in out] == [1, 2, 3, 4]
    # radii are non-increasing after the seed (farthest-first property)
    radii = [rad for _, _, rad in out]
    assert radii[0] == 0.0
    assert all(radii[i] >= radii[i + 1] for i in range(1, 3)), radii
    # the 4 picks land in 4 DIFFERENT planted clusters
    assert sorted(v % 4 for _, v, _ in out) == [0, 1, 2, 3]


def test_coverage_certificate(spark):
    """k-center guarantee: after selecting k centers, every point's
    distance to its nearest center is <= the NEXT pick's radius; verify
    directly with k=4 -> the 5th pick's selection radius bounds the
    residual coverage of the first 4."""
    df = _clusters_df(spark)
    five = {r["rank"]: r for r in kcenter_coreset(df, k=5).collect()}
    centers = [five[i]["vec_id"] for i in range(1, 5)]
    cvecs = {
        r["vec_id"]: r["embedding"]
        for r in df.where(F.col("vec_id").isin(centers)).collect()
    }
    worst = 0.0
    for r in df.collect():
        d = min(
            sum((a - b) ** 2 for a, b in zip(r["embedding"], cv))
            for cv in cvecs.values()
        )
        worst = max(worst, d)
    assert abs(worst - five[5]["radius"]) < 1e-6


def test_deterministic_and_k_exhaustion(spark):
    df = _clusters_df(spark)
    a = [(r["rank"], r["vec_id"]) for r in kcenter_coreset(df, k=6).collect()]
    b = [(r["rank"], r["vec_id"]) for r in kcenter_coreset(df, k=6).collect()]
    assert a == b
    tiny = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    # PINNED (r10 ADVICE): k > #distinct points stops early at mind == 0
    # rather than re-selecting duplicate centers with radius 0.
    out = kcenter_coreset(tiny, k=5).collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    # duplicate vectors exhaust the same way: 3 points, 2 distinct
    dup = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out2 = kcenter_coreset(dup, k=3).collect()
    assert [r["vec_id"] for r in out2] == [1, 2]


def test_registry_query_shape(spark):
    fn = REGISTRY["u13_coreset"].fn
    out = fn(spark, SF_SMOKE).collect()
    assert len(out) == 8
    assert len(set(r["vec_id"] for r in out)) == 8  # centers are distinct
