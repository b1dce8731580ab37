"""pipe_funnel — the stage-retention report must agree with the pipeline
it reports on: monotone non-increasing counts, stage 3 equal to
pipe_prepare's output cardinality, 100% retention at stage 0."""

from __future__ import annotations

from qcfractal_spark.queries import REGISTRY

from conftest import SF_SMOKE


def test_funnel_is_monotone_and_consistent(spark):
    fn = REGISTRY["pipe_funnel"].fn
    rows = sorted(fn(spark, SF_SMOKE).collect(), key=lambda r: r["stage"])
    assert [r["stage"] for r in rows] == [0, 1, 2, 3]
    counts = [r["n_docs"] for r in rows]
    toks = [r["sum_tokens"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert toks == sorted(toks, reverse=True)
    assert abs(rows[0]["retained_pct"] - 100.0) < 1e-9
    prep_fn = REGISTRY["pipe_prepare"].fn
    assert rows[3]["n_docs"] == prep_fn(spark, SF_SMOKE).count()


def test_funnel_reuses_pipeline_stage_relations(spark):
    """The "relations the pipeline materializes anyway" claim,
    executable: handing a pipeline run's MATERIALIZED stage frames to
    the funnel yields the identical report, and the reuse arm touches
    no pipeline stage — its plan is four aggregates over the
    checkpointed frames (no minhash/closure recompute)."""
    from qcfractal_spark.queries import pipe_stage_relations, q_pipe_funnel

    stages = pipe_stage_relations(spark, SF_SMOKE)
    # a real pipeline run holds these materialized; make that explicit
    stages = {k: df.localCheckpoint(eager=True) for k, df in stages.items()}
    reuse = sorted(
        tuple(r) for r in q_pipe_funnel(spark, SF_SMOKE, stages=stages).collect()
    )
    fresh = sorted(
        tuple(r) for r in q_pipe_funnel(spark, SF_SMOKE).collect()
    )
    assert reuse == fresh
    # the reuse arm never re-derives a pipeline stage: every scan in its
    # plan reads an existing RDD, not the documents parquet
    plan = q_pipe_funnel(spark, SF_SMOKE, stages=stages)._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower()
