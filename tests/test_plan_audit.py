"""Physical-plan regression gate: every registry query keeps the plan
properties that make it viable at 100 TB (see tools/plan_audit.py — join
strategy, pushdown, column pruning, codegen, map-side group-top-k).

Plan-only (no execution), so auditing the whole registry is cheap."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from qcfractal_spark.queries import REGISTRY
from tools.plan_audit import SKIP, audit_one

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def static_plan_spark(spark):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.mark.parametrize("name", [n for n in REGISTRY if n not in SKIP])
def test_plan_properties(static_plan_spark, name):
    fn = REGISTRY[name].fn
    df = fn(static_plan_spark, SF)
    problems = audit_one(name, df)
    assert not problems, f"{name}: {problems}"


def test_audit_detects_set_materializing_window(static_plan_spark):
    """Negative control for the round-7 rule: a collect_set over a window
    (the cdc_duplicate_spans OOM shape, VERDICT r6 item 1) must be flagged
    by audit_one, and the map-combinable groupBy+count replacement must
    not be."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = static_plan_spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, k string"
    )
    bad = df.withColumn(
        "n", F.size(F.collect_set("id").over(Window.partitionBy("k")))
    )
    problems = audit_one("negative_control", bad)
    assert any("set-materializing window" in p for p in problems), problems

    good = df.join(
        df.groupBy("k").agg(F.count(F.lit(1)).alias("n")), on="k"
    )
    assert not any(
        "set-materializing" in p for p in audit_one("negative_control_ok", good)
    )
