"""records_api: the QCFractal client surface against a generated store.

The store follows the FIXTURES.md shapes: records in all 7 statuses and 7
record types over a 32-cell spec grid, parent/child chains three levels
deep (torsiondrive -> optimization -> singlepoint), a dataset entry x spec
matrix with holes, and a task queue with priority and sort-date ties.

A timed round sends, in a fixed order, the operations listed in
``ROUND``: 15 reads through ``qcfractal_spark.api`` and 6 writes -- a status
verb and its revert on the bucketed ``RecordStatusTable`` (which propagates
them over the parent/child edges), a ``SingleWriterQueue`` claim and
return, and two appends of newly submitted records.  The mix is a design
choice, not measured client traffic (see README).  Every read is answered
from the latest commit and checked, after the timed phase, against a pandas
model of the store that every write of the benchmark updates.
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import median, percentile, timed, wall_s

STATUSES = ["complete", "invalid", "running", "error", "waiting", "cancelled", "deleted"]
STATUS_P = [0.40, 0.05, 0.08, 0.10, 0.22, 0.10, 0.05]
SERVICES = ["torsiondrive", "gridoptimization", "reaction", "manybody", "neb"]
BASE_TIME = datetime(2024, 1, 1)
N_FAMILIES = 150
N_SINGLE = 2000
N_BUCKETS = 8
TAGS = ["tag1", "tag2", "tag3"]
PROGRAMS = ["prog1", "prog2", "qcengine"]
MANAGERS = {
    "m1": (["prog1", "qcengine"], ["tag1", "tag2"]),
    "m2": (["prog1", "prog2", "qcengine"], ["*"]),
}
# verb, its revert, the statuses the verb applies to, the status it sets,
# and the relatives it reaches over the edges (RecordStatusTable's defaults:
# cancel and soft delete reach all relatives, invalidate only parents;
# every revert reaches children only)
VERBS = [
    ("cancel", "uncancel", {"waiting", "running", "error"}, "cancelled", "relatives"),
    ("invalidate", "uninvalidate", {"complete"}, "invalid", "parents"),
    ("delete", "undelete", set(STATUSES) - {"deleted"}, "deleted", "relatives"),
]
READS = ["qr_spec", "qr_parent", "page", "get", "get_bulk", "status_counts",
         "status_matrix", "compile_values", "children"]
WRITES = ["verb", "revert", "claim", "return", "append"]
# the timed round, in the order it is sent: the same order in every run, so
# no operation's latency depends on where a seed happened to put it while
# the JIT is still warming.  Reads outnumber writes 15:6; single-record gets
# are the commonest read, appends of new records the commonest write.  The
# three record_children calls sit at the start, the middle and the end, so
# the figures taken from them span the whole round; with three of fifteen
# reads, the read 90th percentile falls among them.  Not measured client
# traffic: no record of a QCFractal server's call mix was at hand.
ROUND = [
    "get", "qr_spec", "children", "append", "status_counts", "claim", "get",
    "verb", "qr_parent", "get_bulk", "children", "get", "revert", "status_matrix",
    "return", "page", "append", "get_bulk", "compile_values", "children", "get",
]
# the untimed warm-up round sends every kind once, in the same order
WARM_ROUND = list(dict.fromkeys(ROUND))
BULK_IDS, BULK_MISSING = 200, 10


# -- the generated store ------------------------------------------------------


def generate(rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    specs = [
        (len_ + 1, prog, drv, meth, basis)
        for len_, (prog, drv, meth, basis, _kw) in enumerate(
            (p, d, m, b, k)
            for p in ("prog1", "prog2")
            for d in ("energy", "properties")
            for m in ("hf", "b3lyp")
            for b in ("sto-3g", "")
            for k in (0, 1)
        )
    ]
    specs = pd.DataFrame(specs, columns=["spec_id", "program", "driver", "method", "basis"])

    rows, edges = [], []

    def add(rtype):
        rows.append(rtype)
        return len(rows)  # ids start at 1

    for f in range(N_FAMILIES):
        svc = add(SERVICES[f % len(SERVICES)])
        for _ in range(int(rng.integers(2, 4))):
            opt = add("optimization")
            edges.append((svc, opt))
            for _ in range(int(rng.integers(2, 5))):
                edges.append((opt, add("singlepoint")))
    for _ in range(N_SINGLE):
        add("singlepoint" if rng.random() < 0.85 else "optimization")
    n = len(rows)
    ids = np.arange(1, n + 1)
    status = rng.choice(STATUSES, size=n, p=STATUS_P)
    status[:7] = STATUSES  # at least one of each
    rtype = np.array(rows, dtype=object)
    is_service = np.isin(rtype, SERVICES)
    complete_like = np.isin(status, ["running", "complete", "error"])
    manager = np.where(complete_like, [f"manager_{i % 4}" for i in ids], None)
    energies = -rng.random((n, 3)).round(6) * 100
    records = pd.DataFrame({
        "id": ids,
        "record_type": rtype,
        "is_service": is_service,
        "status": status,
        "manager_name": manager,
        "created_on": [BASE_TIME + timedelta(minutes=int(i)) for i in ids],
        "modified_on": [BASE_TIME + timedelta(minutes=int(i), hours=int(i % 7)) for i in ids],
        "creator_user_id": pd.Series([None if i % 11 == 0 else int(i % 5) for i in ids], dtype=object),
        "properties": [
            {"return_energy": e[0], "scf_total_energy": e[1], "nuclear_repulsion": -e[2]}
            if s == "complete" else None
            for s, e in zip(status, energies)
        ],
        "spec_id": rng.integers(1, 33, size=n),
    })

    # dataset matrix: 3 datasets x 40 entries x 4 specs, ~90% filled, over
    # singlepoints of every status
    sp_ids = ids[rtype == "singlepoint"]
    items = []
    for d in (1, 2, 3):
        for j in range(40):
            for k in range(4):
                if rng.random() < 0.9:
                    items.append((d, f"entry_{j}", f"spec_{k}", int(rng.choice(sp_ids))))
    items = pd.DataFrame(items, columns=["dataset_id", "entry_name", "specification_name", "record_id"])
    items = items.drop_duplicates(["dataset_id", "record_id"]).reset_index(drop=True)

    # task queue over waiting non-service records, with priority and
    # sort-date ties
    waiting = ids[(status == "waiting") & ~is_service]
    tasks = pd.DataFrame({
        "id": np.arange(1, len(waiting) + 1),
        "record_id": waiting,
        "compute_tag": rng.choice(TAGS, size=len(waiting)),
        "compute_priority": rng.integers(0, 3, size=len(waiting)).astype("int32"),
        "sort_date": [BASE_TIME + timedelta(minutes=int(m)) for m in rng.integers(0, 60, size=len(waiting))],
        "available": rng.random(len(waiting)) < 0.95,
        "required_programs": [
            list(rng.choice(PROGRAMS, size=int(rng.integers(1, 3)), replace=False))
            for _ in waiting
        ],
    })
    return {
        "records": records,
        "specs": specs,
        "edges": pd.DataFrame(edges, columns=["parent_id", "child_id"]),
        "items": items,
        "tasks": tasks,
    }


ATTR_SCHEMA = pa.schema([
    ("id", pa.int64()), ("record_type", pa.string()), ("is_service", pa.bool_()),
    ("created_on", pa.timestamp("us")), ("modified_on", pa.timestamp("us")),
    ("creator_user_id", pa.int64()), ("properties", pa.map_(pa.string(), pa.float64())),
    ("spec_id", pa.int64()),
])


def attrs_table(records: pd.DataFrame) -> pa.Table:
    cols = {}
    for f in ATTR_SCHEMA:
        vals = records[f.name].tolist()
        if f.name == "properties":
            vals = [None if v is None else list(v.items()) for v in vals]
        cols[f.name] = pa.array(vals, type=f.type)
    return pa.table(cols, schema=ATTR_SCHEMA)


# -- the model ---------------------------------------------------------------


class Model:
    """The store as the benchmark believes it to be: record attributes,
    each record's status and backup stack, the parent/child edges, the
    dataset items, and the queue's claimed and finished tasks.  A verb
    reaches the relatives its mode names and a revert the children, as
    ``RecordStatusTable`` with edges does.  A read is checked against a
    copy of the statuses taken when it ran."""

    def __init__(self, store: dict[str, pd.DataFrame]):
        r = store["records"]
        self.attrs = r.drop(columns=["status", "manager_name"]).set_index("id", drop=False).rename_axis(None)
        self.status = dict(zip(r["id"], r["status"]))
        self.backup: dict[int, list[str]] = {}
        self.specs = store["specs"]
        self.items = store["items"]
        self.tasks = store["tasks"].set_index("id", drop=False).rename_axis(None)
        self.children: dict[int, list[int]] = {}
        self.parents: dict[int, list[int]] = {}
        for p, c in zip(store["edges"]["parent_id"], store["edges"]["child_id"]):
            self.children.setdefault(int(p), []).append(int(c))
            self.parents.setdefault(int(c), []).append(int(p))
        self.claimed: dict[int, str] = {}
        self.finished: set[int] = set()
        self.next_id = int(r["id"].max()) + 1

    def snapshot(self) -> dict:
        return dict(self.status)

    def expand(self, ids, mode: str) -> set:
        """The ids a verb or revert reaches: the requested ids and their
        ``children`` (descendants), ``parents`` (ancestors) or
        ``relatives`` (everything connected by edges either way)."""
        links = {"children": [self.children], "parents": [self.parents],
                 "relatives": [self.children, self.parents]}[mode]
        out, frontier = set(ids), list(ids)
        while frontier:
            frontier = [n for i in frontier for g in links for n in g.get(i, []) if n not in out]
            out.update(frontier)
        return out

    def forward(self, ids, applicable, new_status, mode) -> set:
        hit = {i for i in self.expand(ids, mode) if self.status.get(i) in applicable}
        for i in hit:
            old = self.status[i]
            self.backup.setdefault(i, []).append("waiting" if old == "running" else old)
            self.status[i] = new_status
        return hit

    def revert(self, ids, from_status) -> set:
        hit = {i for i in self.expand(ids, "children")
               if self.status.get(i) == from_status and self.backup.get(i)}
        for i in hit:
            self.status[i] = self.backup[i].pop()
        return hit

    def expected_claim(self, manager: str, limit: int) -> list[int]:
        programs, tags = MANAGERS[manager]
        t = self.tasks
        ok = t["available"] & ~t["id"].isin(set(self.claimed) | self.finished)
        ok &= t["required_programs"].map(lambda rp: set(rp) <= set(programs))
        out: list[int] = []
        for tag in (["*"] if "*" in tags else tags):
            if len(out) >= limit:
                break
            cand = t[ok & (True if tag == "*" else t["compute_tag"] == tag)]
            cand = cand.assign(_p=-cand["compute_priority"]).sort_values(["_p", "sort_date", "id"])
            out += [int(i) for i in cand["id"].head(limit - len(out)) if i not in out]
        return out

    # expected read results against a status snapshot
    def view(self, status: dict) -> pd.DataFrame:
        v = self.attrs[self.attrs["id"].isin(status.keys())].copy()
        v["status"] = v["id"].map(status)
        return v

    def descendants(self, seeds) -> set:
        """Every record reachable from ``seeds`` by one or more edges."""
        out, frontier = set(), list(seeds)
        while frontier:
            frontier = [c for p in frontier for c in self.children.get(p, []) if c not in out]
            out.update(frontier)
        return out


# -- the workload ------------------------------------------------------------


class RecordsApi:
    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.tr = run.tracer

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from qcfractal_spark.operators.record_status import RecordStatusTable
        from qcfractal_spark.sources.table import MutableTable
        from qcfractal_spark.streaming.queue import SingleWriterQueue

        spark = self.spark
        rng = np.random.default_rng(self.run.seed)
        store = generate(rng)
        self.model = Model(store)
        data = self.run.work / "data"
        pq.write_table(attrs_table(store["records"]), data / "attrs.parquet")
        for name in ("specs", "edges", "items", "tasks"):
            pq.write_table(pa.Table.from_pandas(store[name], preserve_index=False), data / f"{name}.parquet")
        self.specs = spark.read.parquet(str(data / "specs.parquet")).cache()
        self.edges = spark.read.parquet(str(data / "edges.parquet")).cache()
        self.items = spark.read.parquet(str(data / "items.parquet")).cache()
        self.attrs = MutableTable(spark, str(data / "store" / "attrs"))
        self.attrs.overwrite(spark.read.parquet(str(data / "attrs.parquet")))
        r = store["records"]
        status_rows = pd.DataFrame({
            "record_id": r["id"], "status": r["status"], "is_service": r["is_service"],
            "manager_name": r["manager_name"],
        })
        t = store["tasks"].set_index("record_id")
        status_rows["compute_tag"] = status_rows["record_id"].map(t["compute_tag"])
        status_rows["compute_priority"] = status_rows["record_id"].map(t["compute_priority"]).astype("Int32")
        status_rows["task_available"] = status_rows["record_id"].map(t["available"]).astype("boolean")
        self.status = RecordStatusTable(
            spark, str(data / "store" / "status"), edges=self.edges, n_buckets=N_BUCKETS)
        self.status.init(spark.createDataFrame(status_rows, schema=(
            "record_id long, status string, is_service boolean, manager_name string, "
            "compute_tag string, compute_priority int, task_available boolean")))
        tasks = spark.read.parquet(str(data / "tasks.parquet")).withColumn(
            "compute_priority", F.col("compute_priority").cast("int"))
        self.queue = SingleWriterQueue(tasks.cache())
        for name, (progs, tags) in MANAGERS.items():
            self.queue.register_manager(name, progs, tags)
        self.samples: dict[str, list[float]] = {}
        self.checks: list[tuple] = []
        self.last_claim: tuple[str, list[dict]] = ("m1", [])
        self.n_claims = 0
        self.round_ms: dict[str, float] = {}  # the timed round's ms per group

    # -- the store as the API sees it ------------------------------------

    def records(self):
        from pyspark.sql import functions as F

        st = self.status.read().select(
            F.col("record_id").alias("id"), "status", "manager_name")
        return self.attrs.read().join(st, on="id")

    # -- one round -------------------------------------------------------

    def do_round(self, rnd: int, ops: list[str], record: bool) -> None:
        """Send ``ops`` in order; their parameters are drawn from the seed."""
        rng = np.random.default_rng([self.run.seed, rnd])
        times: dict[str, float] = {}
        verb = VERBS[int(rng.integers(len(VERBS)))]
        verb_ids: list[int] = []
        for kind in ops:
            if kind == "verb":
                verb_ids, ms = self.write_verb(rng, verb, record)
            elif kind == "revert":
                ms = self.write_revert(verb, verb_ids, record)
            elif kind in WRITES:
                ms = getattr(self, f"write_{kind}")(rng, record)
            else:
                ms = self.read(kind, rng, record)
            if record:
                self.run.speed_probe()
            group = "iterative" if kind == "children" else ("single_plan" if kind in READS else "write")
            times[group] = times.get(group, 0.0) + ms
        if record:
            self.round_ms = times

    def _sample(self, cls: str, ms: float, record: bool) -> None:
        if record:
            self.samples.setdefault(cls, []).append(ms)
            self.run.attempted += 1

    # -- reads -----------------------------------------------------------

    def read(self, kind: str, rng, record: bool) -> float:
        """One read: draw its parameters, time the call and the collect,
        then work out the expected answer from the model (untimed).
        Returns the read's milliseconds."""
        call, expect = self._plan_read(kind, rng)
        snap = self.model.snapshot()
        tr = self.tr
        with tr.op(kind):
            t0 = time.perf_counter()
            with tr.span("build"):
                df = call(self.records())
            with tr.span("exec"):
                rows = df.collect()
            ms = (time.perf_counter() - t0) * 1000.0
        want = expect(snap)
        cls = {"qr_spec": "query_records", "qr_parent": "query_records",
               "page": "query_records"}.get(kind, kind)
        self._sample("read", ms, record)
        self._sample_only(f"read.{cls}", ms, record)
        if record:
            self.checks.append((kind, want, [r.asDict() for r in rows]))
        return ms

    def _plan_read(self, kind: str, rng):
        """(call, expect): ``call`` maps the records frame to the API's
        answer, ``expect`` maps a status snapshot to the model's."""
        from pyspark.sql import functions as F

        from qcfractal_spark import api

        m = self.model
        if kind == "qr_spec":
            prog, meth = str(rng.choice(["prog1", "prog2"])), str(rng.choice(["hf", "b3lyp"]))
            basis = ["", "sto-3g"][int(rng.integers(0, 2))]
            f = api.RecordQueryFilters(program=[prog], method=[meth.upper()], basis=[basis or None], limit=50)
            s = m.specs
            sids = set(s[(s.program == prog) & (s.method == meth) & (s.basis == basis)].spec_id)
            return (lambda recs: api.query_records(recs, f, specs=self.specs),
                    lambda snap: ("ids", self._page(snap, lambda v: v["spec_id"].isin(sids), None, 50)))
        if kind == "qr_parent":
            parents = [int(p) for p in rng.choice(list(m.children), size=3, replace=False)]
            f = api.RecordQueryFilters(parent_id=parents, limit=100)
            kids = {c for p in parents for c in m.children[p]}
            return (lambda recs: api.query_records(recs, f, edges=self.edges),
                    lambda snap: ("ids", self._page(snap, lambda v: v["id"].isin(kids), None, 100)))
        if kind == "page":
            return self._page_walk(rng)
        if kind in ("get", "get_bulk"):
            # one record, or a bulk get of distinct ids with some missing
            n, missing = (1, 0) if kind == "get" else (BULK_IDS - BULK_MISSING, BULK_MISSING)
            ids = [int(i) for i in rng.choice(np.arange(1, m.next_id), size=n, replace=False)]
            ids += [m.next_id + 1000 + i for i in range(missing)]
            ids = [ids[i] for i in rng.permutation(len(ids))]
            return (lambda recs: api.get_records(self.spark, recs, ids),
                    lambda snap: ("get", [(i, snap.get(i)) for i in ids]))
        if kind == "status_counts":
            return (api.record_status_counts,
                    lambda snap: ("counts", pd.Series(list(snap.values())).value_counts().to_dict()))
        if kind == "status_matrix":
            def matrix(snap):
                it = m.items.assign(status=m.items["record_id"].map(snap))
                return ("matrix", it.groupby(["specification_name", "status"]).size().to_dict())
            return (lambda recs: api.dataset_status_matrix(self.items, recs), matrix)
        if kind == "compile_values":
            d = int(rng.integers(1, 4))
            return (lambda recs: api.compile_values(
                        self.items.where(F.col("dataset_id") == d), recs,
                        F.col("properties")["return_energy"], spec_values=[f"spec_{k}" for k in range(4)]),
                    lambda snap: ("values", self._values(snap, d)))
        if kind == "children":
            # family roots, so every call walks the same three levels
            roots = [p for p in m.children if p not in m.parents]
            seeds = [int(p) for p in rng.choice(roots, size=2, replace=False)]
            return (lambda recs: api.record_children(
                        self.spark.createDataFrame([(x,) for x in seeds], "id long"), self.edges),
                    lambda snap: ("idset", m.descendants(seeds)))
        raise ValueError(kind)

    def _sample_only(self, cls: str, v: float, record: bool) -> None:
        if record:
            self.samples.setdefault(cls, []).append(v)

    def _page(self, snap, pred, cursor, limit) -> list[int]:
        v = self.model.view(snap)
        v = v[pred(v)]
        if cursor is not None:
            v = v[v["id"] < cursor]
        return [int(i) for i in v["id"].sort_values(ascending=False).head(limit)]

    def _page_walk(self, rng):
        """One page of a keyset walk under status and creation-time
        filters: the cursor is the last id of the walk's previous page,
        which may have been read in an earlier round."""
        from qcfractal_spark import api

        m = self.model
        if not getattr(self, "_walk", None) or self._walk["pages"] == 3:
            self._walk = {
                "status": [str(x) for x in rng.choice(STATUSES, size=2, replace=False)],
                "after": BASE_TIME + timedelta(minutes=int(rng.integers(0, m.next_id // 2))),
                "cursor": None, "pages": 0,
            }
        w = self._walk
        f = api.RecordQueryFilters(status=w["status"], created_after=w["after"], cursor=w["cursor"], limit=40)

        def expect(snap):
            page = self._page(snap, lambda v: v["status"].isin(w["status"]) & (v["created_on"] >= w["after"]),
                              w["cursor"], 40)
            w["pages"] += 1
            w["cursor"] = page[-1] if page else 0
            return ("ids", page)

        return (lambda recs: api.query_records(recs, f), expect)

    def _values(self, snap, d) -> dict:
        m = self.model
        it = m.items[m.items["dataset_id"] == d]
        out: dict = {}
        for e, s, rid in zip(it["entry_name"], it["specification_name"], it["record_id"]):
            props = m.attrs.at[rid, "properties"] if rid in m.attrs.index else None
            if snap.get(rid) != "complete" or props is None:
                continue
            out[(e, s)] = props["return_energy"]
        return out

    # -- writes ----------------------------------------------------------

    def _pick(self, rng, n) -> list[int]:
        return sorted({int(i) for i in rng.integers(1, self.model.next_id, size=n)})

    def write_verb(self, rng, verb, record) -> tuple[list[int], float]:
        name, _, applicable, new, mode = verb
        ids = self._pick(rng, 6)
        with self.tr.op(f"verb.{name}") as op, timed(ms := []):
            meta = getattr(self.status, name)(ids)
        self._commit_stats(op)
        hit = self.model.forward(ids, applicable, new, mode)
        self._write_done(f"verb.{name}", ms[0], record, self._verb_check(ids, hit, meta, mode, record))
        return ids, ms[0]

    def write_revert(self, verb, ids, record) -> float:
        name, revert, _, new, _ = verb
        with self.tr.op(f"verb.{revert}") as op, timed(ms := []):
            meta = getattr(self.status, revert)(ids)
        self._commit_stats(op)
        hit = self.model.revert(ids, new)
        self._write_done(f"verb.{revert}", ms[0], record, self._verb_check(ids, hit, meta, "children", record))
        return ms[0]

    def _verb_check(self, ids, hit, meta, mode, record):
        """Untimed, right after a verb or revert: the statuses of every
        record it could reach -- the requested ids and their relatives --
        as the table holds them now and as the model does."""
        if not record:
            return None
        from pyspark.sql import functions as F

        reach = sorted(self.model.expand(ids, mode))
        got = {r["record_id"]: r["status"] for r in self.status.read()
               .where(F.col("record_id").isin(reach)).select("record_id", "status").collect()}
        want = {i: self.model.status[i] for i in reach}
        return ("verb", ids, hit, meta, want, got)

    def write_claim(self, rng, record) -> float:
        mgr = "m1" if self.n_claims % 2 == 0 else "m2"
        self.n_claims += 1
        expect = self.model.expected_claim(mgr, 4)
        seen = set(self.model.claimed) | self.model.finished
        with self.tr.op("queue.claim"), timed(ms := []):
            got = self.queue.claim(mgr, 4)
        for t in got:
            self.model.claimed[int(t["id"])] = mgr
        self.last_claim = (mgr, got)
        self._write_done("queue.claim", ms[0], record, ("claim", expect, got, seen))
        return ms[0]

    def write_return(self, rng, record) -> float:
        mgr, got = self.last_claim
        ok = bool(rng.random() < 0.8)
        with self.tr.op("queue.return"), timed(ms := []):
            for t in got:
                self.queue.return_task(mgr, t["id"], t["record_id"], ok)
        for t in got:
            del self.model.claimed[int(t["id"])]
            self.model.finished.add(int(t["id"]))
        self._write_done("queue.return", ms[0], record, None)
        return ms[0]

    def write_append(self, rng, record) -> float:
        from pyspark.sql import functions as F

        m = self.model
        new_ids = list(range(m.next_id, m.next_id + 5))
        m.next_id += 5
        new = pd.DataFrame({
            "id": new_ids,
            "record_type": "singlepoint",
            "is_service": False,
            "created_on": [BASE_TIME + timedelta(minutes=i) for i in new_ids],
            "modified_on": [BASE_TIME + timedelta(minutes=i) for i in new_ids],
            "creator_user_id": [int(i % 5) for i in new_ids],
            "properties": [None] * 5,
            "spec_id": [int(s) for s in rng.integers(1, 33, size=5)],
        })
        attrs = self.spark.createDataFrame(attrs_table(new).to_pandas(), schema=self.attrs.read().schema)
        st = self.spark.createDataFrame(
            [(i, "waiting", False, None, "tag1", 1, True) for i in new_ids],
            "record_id long, status string, is_service boolean, manager_name string, "
            "compute_tag string, compute_priority int, task_available boolean",
        ).withColumn("_bucket", F.pmod(F.col("record_id"), F.lit(N_BUCKETS)).cast("int"))
        with self.tr.op("table.append") as op, timed(ms := []):
            self.attrs.append(attrs)
            self.status.records.append(st)
        self._commit_stats(op)
        m.attrs = pd.concat([m.attrs, new.set_index("id", drop=False).rename_axis(None)])
        for i in new_ids:
            m.status[i] = "waiting"
        self._write_done("table.append", ms[0], record, None)
        return ms[0]

    def _commit_stats(self, op) -> None:
        """Traced runs: files and bytes the operation's commits wrote."""
        if op is not None:
            from tracing import written_since

            op["commit_files"], op["commit_bytes"] = written_since(self.run.work / "data" / "store", op["start"])

    def _write_done(self, cls, ms, record, check) -> None:
        self._sample("write", ms, record)
        self._sample_only(cls, ms, record)
        if record and check is not None:
            self.checks.append((check[0], check[1:], None))
        elif record:
            self.checks.append(("none", None, None))

    # -- checks ------------------------------------------------------------

    def check_all(self) -> None:
        run = self.run
        for kind, expect, rows in self.checks:
            ok = True
            if kind == "verb":
                ok = verb_ok(*expect)
            elif kind == "claim":
                ok = claim_ok(*expect)
            elif kind != "none":
                ok = check_read(expect, rows)
            run.check(ok, f"{kind}: {str(expect)[:200]}")
        # verbs conserve the row count and leave the table as the model says
        final = {r["record_id"]: r["status"] for r in self.status.read().select("record_id", "status").collect()}
        if final != self.model.status:
            run.check(False, "status table differs from the model after the run")

    # -- metrics -------------------------------------------------------------

    def metrics(self) -> dict:
        s = self.samples
        # seconds spent inside operations; the untimed checks between
        # them are left out
        busy_s = (sum(s["read"]) + sum(s["write"])) / 1000.0
        return {
            "read_p50_ms": (median(s["read"]), "ms"),
            "read_p90_ms": (percentile(s["read"], 90), "ms"),
            "write_p50_ms": (median(s["write"]), "ms"),
            "ops_per_s": (self.run.attempted / busy_s, "ops/s"),
            "iterative_pass_s": (self.round_ms["iterative"] / 1000.0, "s"),
            "single_plan_pass_s": (self.round_ms["single_plan"] / 1000.0, "s"),
            "probe_p50_ms": (median(s["read.get"]), "ms"),
            "batch_queries_per_s": (BULK_IDS / (median(s["read.get_bulk"]) / 1000.0), "queries/s"),
        }


def verb_ok(ids: list[int], hit: set, meta: dict, want: dict, got: dict) -> bool:
    """A verb or revert reports as updated exactly the requested ids the
    model says it changed, and every record it could reach -- propagated
    relatives too -- holds the status the model holds."""
    updated = sorted(ids[i] for i in meta["updated_idx"])
    return updated == sorted(hit & set(ids)) and got == want


def claim_ok(want: list[int], got: list[dict], seen: set) -> bool:
    """A claim batch holds the tasks the model expects, claims no task
    claimed before in the run, and within each tag is ordered by
    (priority desc, sort_date, id)."""
    ids = [int(t["id"]) for t in got]
    by_tag: dict[str, list] = {}
    for t in got:
        by_tag.setdefault(t["compute_tag"], []).append(
            (-t["compute_priority"], t["sort_date"], t["id"]))
    return (ids == want and not seen.intersection(ids) and len(set(ids)) == len(ids)
            and all(v == sorted(v) for v in by_tag.values()))


def check_read(expect, rows) -> bool:
    kind, want = expect
    if kind == "ids":
        return [r["id"] for r in rows] == want
    if kind == "get":
        return [(r["id"], r["status"]) for r in rows] == want
    if kind == "counts":
        return {r["status"]: r["count"] for r in rows} == want
    if kind == "matrix":
        return {(r["specification_name"], r["status"]): r["count"] for r in rows} == want
    if kind == "values":
        got = {(r["entry_name"], c): v for r in rows for c, v in r.items()
               if c != "entry_name" and v is not None}
        return got == want
    if kind == "idset":
        return sorted(r["id"] for r in rows) == sorted(want) and len(rows) == len(set(want))
    raise ValueError(kind)


def run_workload(run) -> dict:
    w = RecordsApi(run)
    w.setup()
    run.mark("inputs")
    warm_s = wall_s(lambda: w.do_round(10_000, WARM_ROUND, record=False))
    run.setup_done()
    timed_s = wall_s(lambda: w.do_round(0, ROUND, record=True))
    run.mark("timed")
    w.check_all()
    run.mark("checks")
    return {"metrics": w.metrics(), "extra": {
        "warmup_s": warm_s, "timed_s": timed_s,
        "class_median_ms": {k: round(median(v), 1) for k, v in w.samples.items()},
        "samples": {k: len(v) for k, v in w.samples.items()}}}
