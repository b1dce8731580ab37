"""tools/plan_dump.normalize — two builds of the same plan must write the
same text (no Spark)."""

from __future__ import annotations

from tools.plan_dump import normalize


def _plan(expr_base: int, lam: int, plan_id: int, pid: int) -> str:
    e = expr_base
    return (
        f"(1) Scan parquet\n"
        f"Output [2]: [vec_id#{e}L, embedding#{e + 1}]\n"
        f"Location: InMemoryFileIndex [file:/tmp/qcfractal_spark_ivf_index_a1e8d12c19f2_{pid}/vectors]\n"
        f"(2) Project\n"
        f"Input [2]: [vec_id#{e}L, embedding#{e + 1}]\n"
        f"Arguments: aggregate(zip_with(embedding#{e + 1}, q, lambdafunction("
        f"(lambda x_{lam}#{e + 2} * lambda y_{lam + 1}#{e + 3}), "
        f"lambda x_{lam}#{e + 2}, lambda y_{lam + 1}#{e + 3}, false))) AS score#{e + 4}, "
        f"plan_id={plan_id}\n"
    )


def test_two_builds_of_one_plan_normalize_identically():
    a = normalize(_plan(12, 7, 338, 358))
    b = normalize(_plan(5269, 27, 2110, 40411))
    assert a == b
    assert "vec_id#NL" in a and "lambda x_N#N" in a and "plan_id=N" in a
    assert "qcfractal_spark_ivf_index_a1e8d12c19f2_PID/vectors" in a


def test_normalize_keeps_what_distinguishes_plans():
    # column names, literals and the scratch tag/hash are not counters
    a = normalize(_plan(12, 7, 338, 358))
    assert normalize(a.replace("vec_id", "doc_id")) != a
    assert normalize(a.replace("ivf_index", "s11")) != a
    assert normalize("LIMIT 10") != normalize("LIMIT 11")
