"""queries.py:q_pk_site_cap — per-registrable-domain token capping,
and the property that makes the r10 PSL private section load-bearing:
github.io TENANTS must be capped as separate sites, not pooled into one
mega-domain budget.  Registry parity vs the DuckDB oracle is covered by
test_queries_oracle."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from qcfractal_spark.functions import psl
from qcfractal_spark.queries import REGISTRY, _t

from conftest import SF_SMOKE


def _cap(df, rules, budget):
    staged = psl.with_registrable_domain(df, "host", rules=rules)
    w = (
        Window.partitionBy("domain")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        staged.withColumn("cum", F.sum("n_tokens").over(w))
        .where(F.col("cum") <= budget)
    )


def test_private_section_is_load_bearing(spark):
    """Two github.io tenants, 3 docs x 100 tokens each, budget 300:
    with the private section each tenant keeps all 3 docs; under
    ICANN-only rules they pool into one 'github.io' domain and the
    second tenant is starved to a single doc."""
    rows = [
        (i, f"tenant{i % 2}.github.io", 100) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, n_tokens long")

    full = _cap(df, psl.load_psl_rules(), 300)
    assert full.count() == 6  # each tenant: 3 docs x 100 <= 300
    assert set(
        r["domain"] for r in full.select("domain").distinct().collect()
    ) == {"tenant0.github.io", "tenant1.github.io"}

    icann = _cap(df, psl.load_psl_rules(private=False), 300)
    got = sorted(r["doc_id"] for r in icann.collect())
    assert got == [0, 1, 2]  # one pooled github.io budget: first 3 doc_ids
    assert set(
        r["domain"] for r in icann.select("domain").distinct().collect()
    ) == {"github.io"}


def test_registry_cap_bites_and_is_prefix_consistent(spark):
    """On the real table the cap must actually DROP documents, and the
    kept set per domain must be a doc_id-prefix (greedy in-order cap,
    never cherry-picking)."""
    fn = REGISTRY["pk_site_cap"].fn
    out = fn(spark, SF_SMOKE).collect()
    total = _t(spark, SF_SMOKE, "documents").where(
        F.col("text").isNotNull()
    ).count()
    assert 0 < len(out) < total
    by_dom: dict[str, list] = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append((r["doc_id"], r["cum_tokens"]))
    assert len(by_dom) > 10
    for dom, rows in by_dom.items():
        rows.sort()
        cum = 0
        for _id, c in rows:
            assert c <= 300
            assert c > cum  # strictly increasing running total
            cum = c
