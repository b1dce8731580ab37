"""The traced run: spans around each call into a layer, one Spark job group
per operation, and counters read through the session.

Timed runs construct the tracer disabled: ``op`` and ``span`` then do
nothing but yield.  Enabled, the tracer keeps everything in memory and
writes the spans to ``.perfbench_work/trace-<workload>.json`` at the end.

Counters come from the running session, which works with the UI off:
Spark's status store (jobs, stages, task metrics per job group), the
``CodegenMetrics`` histograms, the JVM's management beans (JIT and GC
time), and /proc for the CPU time and peak RSS of the JVM and of the
Python workers it forks.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


def _proc_cpu_s(pid: int, with_children: bool) -> float:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if with_children:
        ticks += int(f[13]) + int(f[14])  # cutime, cstime of reaped children
    return ticks / os.sysconf("SC_CLK_TCK")


def child_pids(ppid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[1]) == ppid:
            out.append(int(name))
    return out


def descendant_pids(pid: int) -> list[int]:
    out, frontier = [], [pid]
    while frontier:
        frontier = [c for p in frontier for c in child_pids(p)]
        out += frontier
    return out


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _seq(jvm, scala_seq):
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self.timed = False  # set when the timed phase starts
        if not enabled:
            return
        from pyspark import SparkContext

        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jvm_pid = SparkContext._gateway.proc.pid
        mf = self.jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics

    # -- counters ----------------------------------------------------------

    def _worker_cpu_s(self) -> float:
        """CPU of the Python daemon and workers under the JVM, reaped ones
        included."""
        return sum(_proc_cpu_s(p, with_children=True) for p in descendant_pids(self.jvm_pid))

    def _counters(self) -> dict:
        hist = self._codegen.METRIC_COMPILATION_TIME()
        return {
            "codegen_compiles": hist.getCount(),
            "codegen_mean_ms": hist.getSnapshot().getMean(),
            "jit_ms": self._jit.getTotalCompilationTime(),
            "gc_ms": sum(g.getCollectionTime() for g in self._gcs),
            "jvm_cpu_s": _proc_cpu_s(self.jvm_pid, with_children=False),
            "driver_cpu_s": sum(os.times()[:2]),
            "worker_cpu_s": self._worker_cpu_s(),
        }

    # -- spans -------------------------------------------------------------

    @contextmanager
    def op(self, cls: str, **attrs):
        """One client operation: a job group and a root span."""
        if not self.enabled:
            yield
            return
        op_id = f"{cls}#{len(self.ops)}"
        self.sc.setJobGroup(op_id, cls)
        before = self._counters()
        rec = {"op": op_id, "cls": cls, "timed": self.timed, **attrs}
        with self._span(cls, op_id) as span:
            yield rec
        after = self._counters()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        n_new = after["codegen_compiles"] - before["codegen_compiles"]
        rec["codegen_compiles"] = n_new
        # the histogram keeps no sum: mean x count before and after estimates
        # the time of the new compiles (the mean is over a sampled reservoir)
        rec["codegen_ms"] = max(
            0.0,
            after["codegen_mean_ms"] * after["codegen_compiles"]
            - before["codegen_mean_ms"] * before["codegen_compiles"],
        )
        for k in ("jit_ms", "gc_ms", "jvm_cpu_s", "driver_cpu_s", "worker_cpu_s"):
            rec[k] = after[k] - before[k]
        rec["start"], rec["end"] = span["start"], span["end"]
        rec["wall_ms"] = (span["end"] - span["start"]) * 1000.0
        self.ops.append(rec)

    @contextmanager
    def span(self, name: str):
        """A child span inside the current operation (a call into a layer)."""
        if not self.enabled or not self._stack:
            yield
            return
        with self._span(name, self._stack[-1]["op"]):
            yield

    @contextmanager
    def _span(self, name: str, op_id: str):
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": len(self.spans), "name": name, "op": op_id, "parent": parent,
             "start": time.time()}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def span_ms(self, op_rec: dict, name: str) -> float:
        return sum(
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["op"] == op_rec["op"] and s["name"] == name
        )

    # -- status store ------------------------------------------------------

    def attribute_jobs(self) -> None:
        """Add jobs, stages, tasks, task metrics and the driver gap (op
        wall time with no job running) to every operation record."""
        if not self.enabled:
            return
        self.peak_rss_mb = peak_rss_mb(self.jvm_pid)
        store = self.sc._jsc.sc().statusStore()
        by_op = {r["op"]: r for r in self.ops}
        for r in self.ops:
            r.update(jobs=0, stages=0, tasks=0, executor_run_ms=0, executor_cpu_ms=0.0,
                     input_bytes=0, input_records=0, shuffle_read_bytes=0,
                     shuffle_write_bytes=0, spill_bytes=0, _intervals=[], _stages=set())
        for jd in _seq(self.jvm, store.jobsList(None)):
            group = jd.jobGroup()
            if not group.isDefined() or group.get() not in by_op:
                continue
            r = by_op[group.get()]
            r["jobs"] += 1
            r["_stages"].update(_seq(self.jvm, jd.stageIds()))
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                r["_intervals"].append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        stage_of = {}
        for r in self.ops:
            for sid in r["_stages"]:
                stage_of[sid] = r
        stages = store.stageList(None, False, False, getattr(store, "stageList$default$4")(),
                                 getattr(store, "stageList$default$5")())
        for sd in _seq(self.jvm, stages):
            r = stage_of.get(sd.stageId())
            if r is None or sd.numCompleteTasks() == 0:  # skipped stages ran nothing
                continue
            r["stages"] += 1
            r["tasks"] += sd.numCompleteTasks()
            r["executor_run_ms"] += sd.executorRunTime()
            r["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            r["input_bytes"] += sd.inputBytes()
            r["input_records"] += sd.inputRecords()
            r["shuffle_read_bytes"] += sd.shuffleReadBytes()
            r["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            r["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        self._scan_metrics(by_op)
        for r in self.ops:
            covered = _union_length(r.pop("_intervals"), r["start"], r["end"])
            r["driver_gap_ms"] = max(0.0, (r["end"] - r["start"] - covered) * 1000.0)
            r.pop("_stages")

    def _scan_metrics(self, by_op: dict) -> None:
        """Files, bytes and rows read by the file scans of each operation,
        from the SQL status store's per-node metrics, and the scans the
        catalog fanned out, from the executed plans."""
        job_op = {}
        for r in self.ops:
            r.update(files_read=0, scan_bytes=0, scan_rows=0, fanout_scans=0)
        for jd in _seq(self.jvm, self.sc._jsc.sc().statusStore().jobsList(None)):
            g = jd.jobGroup()
            if g.isDefined() and g.get() in by_op:
                job_op[jd.jobId()] = by_op[g.get()]
        sql = self.spark._jsparkSession.sharedState().statusStore()
        wanted = {"number of files read": "files_read", "size of files read": "scan_bytes",
                  "number of output rows": "scan_rows"}
        for ex in _seq(self.jvm, sql.executionsList()):
            ops = {job_op[j]["op"]: job_op[j] for j in _seq(self.jvm, ex.jobs().keys().toSeq()) if j in job_op}
            if len(ops) != 1:
                continue
            (r,) = ops.values()
            # scans the catalog fanned out: its repartition's exchange
            r["fanout_scans"] += ex.physicalPlanDescription().count("REPARTITION_BY_NUM")
            values = sql.executionMetrics(ex.executionId())
            for node in _seq(self.jvm, sql.planGraph(ex.executionId()).allNodes()):
                if not node.name().startswith("Scan"):
                    continue
                for m in _seq(self.jvm, node.metrics()):
                    key = wanted.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        r[key] += _metric_number(v.get())

    def write(self, path) -> None:
        if not self.enabled:
            return
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh, default=str)


def _metric_number(text: str) -> float:
    """A SQL metric's display value as a number: "12", "1,234" or "3.1 MiB"."""
    units = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
    head = text.split("\n")[0].replace(",", "").split()
    if not head:
        return 0.0
    scale = units.get(head[1], 1) if len(head) > 1 else 1
    try:
        return float(head[0]) * scale
    except ValueError:
        return 0.0


def written_since(path, t0: float) -> tuple[int, int]:
    """Files and bytes under ``path`` written at or after ``t0``: hard links
    to earlier versions keep their old mtime and are not counted."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime >= t0:
                files += 1
                size += st.st_size
    return files, size


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
