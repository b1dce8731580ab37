"""pr_curve — the distributed precision/recall/F1 curve must match a
hand-computed confusion matrix on a fixture, and obey the curve
invariants (cumulative counts, monotone recall, terminal recall 1.0)."""

from __future__ import annotations

from qcfractal_spark.functions.text import pr_curve


def test_pr_curve_matches_hand_confusion_matrix(spark):
    # scores on a 0.1 grid; gold: 1 for the three high scorers + one
    # low-score straggler (the recall cost of any high threshold)
    rows = [
        (0.9, 1), (0.8, 1), (0.8, 0), (0.7, 1),
        (0.3, 0), (0.2, 0), (0.1, 1), (0.1, 0),
    ]
    df = spark.createDataFrame(rows, "score double, y int")
    out = {r["threshold"]: r for r in pr_curve(df, "score", "y", 1).collect()}
    assert set(out) == {0.9, 0.8, 0.7, 0.3, 0.2, 0.1}

    # threshold 0.8 keeps {0.9, 0.8, 0.8}: tp=2 fp=1; tot_pos=4
    r = out[0.8]
    assert (r["tp"], r["fp"]) == (2, 1)
    assert r["precision"] == round(2 / 3, 6)
    assert r["recall"] == 0.5
    assert r["f1"] == round(2 * 2 / (2 * 2 + 1 + 2), 6)

    # threshold 0.7 keeps one more pos: tp=3 fp=1 -> precision 0.75
    assert (out[0.7]["tp"], out[0.7]["fp"]) == (3, 1)
    assert out[0.7]["precision"] == 0.75

    # bottom threshold keeps everything: recall 1.0, precision = base rate
    bot = out[0.1]
    assert (bot["tp"], bot["fp"]) == (4, 4)
    assert bot["recall"] == 1.0
    assert bot["precision"] == 0.5


def test_pr_curve_invariants_on_corpus(spark):
    """On the real documents table: tp/fp cumulative (strictly
    non-decreasing as the threshold drops), recall monotone ending at
    1.0, precision always in [0, 1] (the en-stopword density is a
    deliberately WEAK classifier — 'in'/'was' are German words too, so
    top buckets can be all-negative; the curve exists to measure
    exactly that)."""
    from qcfractal_spark.queries import REGISTRY

    fn = REGISTRY["tx_pr_curve"].fn
    rows = sorted(
        fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: -r["threshold"],
    )
    assert len(rows) > 5
    for a, b in zip(rows, rows[1:]):
        assert b["tp"] >= a["tp"] and b["fp"] >= a["fp"]
        assert b["recall"] >= a["recall"]
    assert rows[-1]["recall"] == 1.0
    assert all(0.0 <= r["precision"] <= 1.0 for r in rows)
