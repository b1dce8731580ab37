"""Tests of the benchmark's own pieces: each correctness check must fail on
a corrupted output, and the percentile must agree with NumPy.

    python3 -m pytest perfbench/test_checks.py -q

No Spark session is started.
"""

from __future__ import annotations

import sys
from datetime import datetime
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import corpus_prep  # noqa: E402
import records_api  # noqa: E402
from common import percentile  # noqa: E402


@pytest.mark.parametrize("n", [1, 2, 7, 40, 101])
def test_percentile_agrees_with_numpy(n):
    xs = list(np.random.default_rng(n).exponential(size=n))
    for q in (0, 10, 25, 50, 75, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q), rel=1e-12)


# -- records_api ---------------------------------------------------------------


def test_page_check_fails_on_dropped_row_and_swapped_pages():
    page1, page2 = [30, 29, 28], [27, 26, 25]
    rows = lambda ids: [{"id": i} for i in ids]  # noqa: E731
    assert records_api.check_read(("ids", page1), rows(page1))
    assert not records_api.check_read(("ids", page1), rows(page1[:-1]))
    # a walk whose pages come back in swapped order
    assert not records_api.check_read(("ids", page1), rows(page2))
    assert not records_api.check_read(("ids", page2), rows(page1))


def test_bulk_get_check_fails_on_order_and_gaps():
    want = [(5, "complete"), (99, None), (3, "error")]
    rows = [{"id": i, "status": s} for i, s in want]
    assert records_api.check_read(("get", want), rows)
    assert not records_api.check_read(("get", want), rows[::-1])
    assert not records_api.check_read(("get", want), [rows[0], rows[2]])


def test_counts_and_closure_checks_fail_on_a_dropped_row():
    counts = {"complete": 3, "error": 1}
    rows = [{"status": "complete", "count": 3}, {"status": "error", "count": 1}]
    assert records_api.check_read(("counts", counts), rows)
    assert not records_api.check_read(("counts", counts), rows[:1])
    ids = {4, 5, 6}
    assert records_api.check_read(("idset", ids), [{"id": i} for i in ids])
    assert not records_api.check_read(("idset", ids), [{"id": 4}, {"id": 5}])
    assert not records_api.check_read(("idset", ids), [{"id": i} for i in (4, 5, 6, 6)])


def _task(i, prio, minute, tag="tag1"):
    return {"id": i, "compute_priority": prio, "compute_tag": tag,
            "sort_date": datetime(2024, 1, 1, 0, minute)}


def test_claim_check_fails_on_double_claim_and_misorder():
    got = [_task(3, 2, 5), _task(1, 1, 0), _task(2, 1, 0)]
    assert records_api.claim_ok([3, 1, 2], got, seen=set())
    assert not records_api.claim_ok([3, 1, 2], got, seen={1})  # claimed twice
    misordered = [got[1], got[0], got[2]]
    assert not records_api.claim_ok([1, 3, 2], misordered, seen=set())


def test_model_revert_restores_prior_status():
    store = records_api.generate(np.random.default_rng(0))
    m = records_api.Model(store)
    ids = sorted(m.status)[:50]
    before = {i: m.status[i] for i in ids}
    # roots of families: a cancel reaches every relative, an uncancel the
    # children, so the whole family is restored
    hit = m.forward(ids, {"waiting", "running", "error"}, "cancelled", "relatives")
    assert hit and all(m.status[i] == "cancelled" for i in hit)
    assert hit - set(ids), "the cancel should reach relatives of the requested ids"
    m.revert(ids, "cancelled")
    assert all(m.status[i] == ("waiting" if before[i] == "running" else before[i]) for i in ids)
    assert len(m.status) == len(store["records"])


def _family_model():
    # 1 -> 2 -> 4, 1 -> 3; 5 stands alone
    store = {
        "records": pd.DataFrame({
            "id": [1, 2, 3, 4, 5], "status": ["waiting"] * 5, "manager_name": [None] * 5,
            "record_type": ["torsiondrive", "optimization", "optimization", "singlepoint", "singlepoint"],
        }),
        "specs": pd.DataFrame(), "items": pd.DataFrame(),
        "tasks": pd.DataFrame({"id": []}),
        "edges": pd.DataFrame({"parent_id": [1, 1, 2], "child_id": [2, 3, 4]}),
    }
    return records_api.Model(store)


def test_model_propagates_as_the_verbs_do():
    m = _family_model()
    assert m.expand([4], "parents") == {4, 2, 1}
    assert m.expand([2], "children") == {2, 4}
    assert m.expand([4], "relatives") == {1, 2, 3, 4}
    assert m.expand([5], "relatives") == {5}
    # cancel reaches all relatives; uncancel only the children
    assert m.forward([4], {"waiting"}, "cancelled", "relatives") == {1, 2, 3, 4}
    assert m.revert([2], "cancelled") == {2, 4}
    assert (m.status[1], m.status[3]) == ("cancelled", "cancelled")


def test_verb_check_fails_on_a_dropped_propagated_id():
    m = _family_model()
    ids = [4]
    hit = m.forward(ids, {"waiting"}, "cancelled", "relatives")
    want = {i: m.status[i] for i in m.expand(ids, "relatives")}
    meta = {"updated_idx": [0]}
    assert records_api.verb_ok(ids, hit, meta, want, dict(want))
    # the table left the parent 2 unchanged: the cancel did not propagate
    assert not records_api.verb_ok(ids, hit, meta, want, {**want, 2: "waiting"})
    # a propagated id missing from the table altogether
    assert not records_api.verb_ok(ids, hit, meta, want, {i: s for i, s in want.items() if i != 1})
    # the requested id reported as not updated
    assert not records_api.verb_ok(ids, hit, {"updated_idx": []}, want, dict(want))


# -- corpus_prep -----------------------------------------------------------------


def test_oracle_compare_fails_on_dropped_row_and_perturbed_score():
    from tools.check import compare

    want = pd.DataFrame({"vec_id": [1, 2, 3], "score": [0.912345, 0.81, 0.5]})
    assert not compare(want.copy(), want)
    assert compare(want.iloc[:2].copy(), want)
    perturbed = want.assign(score=[0.912346, 0.81, 0.5])
    assert compare(perturbed, want)


def test_stored_result_refused_on_a_changed_key(tmp_path, monkeypatch):
    monkeypatch.setattr(corpus_prep, "STORED_DIR", tmp_path)
    table = pa.table({"x": [1, 2]})
    ident = {"documents": "abc"}
    corpus_prep.write_stored("q", "SELECT 1", ident, table)
    assert corpus_prep.stored_result("q", "SELECT 1", ident)["x"].tolist() == [1, 2]
    with pytest.raises(LookupError):
        corpus_prep.stored_result("q", "SELECT 2", ident)
    with pytest.raises(LookupError):
        corpus_prep.stored_result("q", "SELECT 1", {"documents": "abd"})


def test_benchmark_json_lists_every_per_layer_metric_a_traced_run_prints():
    import json

    import layers

    doc = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == layers.metric_units()
