"""Per-layer metrics of the traced run, and the end-to-end metric each
should move (see README).

Every traced run prints every metric below.  A layer that a workload does
not call reads 0 on that workload.  Values are medians over the timed
phase's operations of one class, unless the name says ``per_op`` (a mean
over every timed operation) or the metric is a total of the timed phase.
"""

from __future__ import annotations

from common import median

RECORD_READS = {
    "query_records": ("qr_spec", "qr_parent", "page"),
    "get_records": ("get",),
    "status_counts": ("status_counts",),
    "status_matrix": ("status_matrix",),
    "compile_values": ("compile_values",),
    "record_children": ("children",),
}
DRIVER_LOOP_QUERIES = ("tx_bpe_merges",)
ONE_PLAN_QUERIES = ("dd_minhash_lsh", "pk_bfd_pack")
ANN_QUERIES = ("sim_ivf_topk", "sim_ivf_batch_topk")

RUNTIME = {
    "runtime.jobs_per_op": "count",
    "runtime.stages_per_op": "count",
    "runtime.tasks_per_op": "count",
    "runtime.driver_gap_ms_per_op": "ms",
    "runtime.codegen_compiles_per_op": "count",
    "runtime.codegen_ms_per_op": "ms",
    "runtime.jit_ms_per_op": "ms",
    "runtime.gc_ms_per_op": "ms",
    "runtime.executor_run_ms_per_op": "ms",
    "runtime.executor_cpu_ms_per_op": "ms",
    "runtime.jvm_cpu_s": "s",
    "runtime.python_cpu_s": "s",
    "runtime.spill_bytes": "bytes",
    "runtime.jvm_peak_rss_mb": "MB",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in BENCHMARK.json order."""
    out = {"session.start_s": "s", **RUNTIME}
    for op in RECORD_READS:
        out[f"api.{op}.build_ms"] = "ms"
        out[f"api.{op}.exec_ms"] = "ms"
        out[f"api.{op}.jobs"] = "count"
    out.update({
        "record_status.verb_ms": "ms",
        "record_status.revert_ms": "ms",
        "table.append_ms": "ms",
        "table.commit_files": "count",
        "table.commit_bytes": "bytes",
        "queue.claim_ms": "ms",
        "queue.return_ms": "ms",
        "catalog.load_ms": "ms",
        "catalog.fanout_scans_per_op": "count",
    })
    for q in DRIVER_LOOP_QUERIES:
        out[f"queries.{q}.build_s"] = "s"
        out[f"queries.{q}.exec_s"] = "s"
        out[f"queries.{q}.spark_jobs"] = "count"
    for q in ONE_PLAN_QUERIES:
        out[f"queries.{q}.exec_s"] = "s"
        out[f"queries.{q}.scan_bytes"] = "bytes"
        out[f"queries.{q}.shuffle_bytes"] = "bytes"
        out[f"queries.{q}.python_worker_s"] = "s"
    for q in ANN_QUERIES:
        out[f"similarity.{q}.build_ms"] = "ms"
        out[f"similarity.{q}.exec_ms"] = "ms"
        out[f"similarity.{q}.rows_scored"] = "count"
        out[f"similarity.{q}.files_read"] = "count"
    return out


def layer_metrics(run) -> dict[str, tuple[float, str]]:
    tr = run.tracer
    ops = [r for r in tr.ops if r["timed"]]
    units = metric_units()
    values = dict.fromkeys(units, 0.0)

    def of(*classes):
        return [r for r in ops if r["cls"] in classes]

    def med(rs, key, scale=1.0):
        return median([r[key] for r in rs]) * scale if rs else 0.0

    def span(rs, name, scale=1.0):
        return median([tr.span_ms(r, name) for r in rs]) * scale if rs else 0.0

    for key in ("jobs", "stages", "tasks", "driver_gap_ms", "codegen_compiles", "codegen_ms",
                "jit_ms", "gc_ms", "executor_run_ms", "executor_cpu_ms"):
        values[f"runtime.{key}_per_op"] = sum(r[key] for r in ops) / len(ops)
    values["runtime.jvm_cpu_s"] = sum(r["jvm_cpu_s"] for r in ops)
    values["runtime.python_cpu_s"] = sum(r["driver_cpu_s"] + r["worker_cpu_s"] for r in ops)
    values["runtime.spill_bytes"] = sum(r["spill_bytes"] for r in ops)
    values["runtime.jvm_peak_rss_mb"] = tr.peak_rss_mb
    values["session.start_s"] = run.session_start_s

    for op, classes in RECORD_READS.items():
        rs = of(*classes)
        values[f"api.{op}.build_ms"] = span(rs, "build")
        values[f"api.{op}.exec_ms"] = span(rs, "exec")
        values[f"api.{op}.jobs"] = med(rs, "jobs")
    verbs = [r for r in ops if r["cls"].startswith("verb.")]
    values["record_status.verb_ms"] = med([r for r in verbs if not r["cls"].startswith("verb.un")], "wall_ms")
    values["record_status.revert_ms"] = med([r for r in verbs if r["cls"].startswith("verb.un")], "wall_ms")
    values["table.append_ms"] = med(of("table.append"), "wall_ms")
    commits = [r for r in ops if "commit_files" in r]
    values["table.commit_files"] = med(commits, "commit_files")
    values["table.commit_bytes"] = med(commits, "commit_bytes")
    values["queue.claim_ms"] = med(of("queue.claim"), "wall_ms")
    values["queue.return_ms"] = med(of("queue.return"), "wall_ms")

    corpus = [r for r in ops if r.get("kind")]
    if corpus:
        values["catalog.load_ms"] = median([tr.span_ms(r, "catalog.load") for r in corpus])
        values["catalog.fanout_scans_per_op"] = sum(r["fanout_scans"] for r in corpus) / len(corpus)
    for q in DRIVER_LOOP_QUERIES:
        rs = of(q)
        values[f"queries.{q}.build_s"] = span(rs, "build", 1e-3)
        values[f"queries.{q}.exec_s"] = span(rs, "exec", 1e-3)
        values[f"queries.{q}.spark_jobs"] = med(rs, "jobs")
    for q in ONE_PLAN_QUERIES:
        rs = of(q)
        values[f"queries.{q}.exec_s"] = span(rs, "exec", 1e-3)
        values[f"queries.{q}.scan_bytes"] = med(rs, "scan_bytes")
        values[f"queries.{q}.shuffle_bytes"] = med(rs, "shuffle_write_bytes")
        values[f"queries.{q}.python_worker_s"] = med(rs, "worker_cpu_s")
    for q in ANN_QUERIES:
        rs = of(q)
        values[f"similarity.{q}.build_ms"] = span(rs, "build")
        values[f"similarity.{q}.exec_ms"] = span(rs, "exec")
        values[f"similarity.{q}.rows_scored"] = med(rs, "scan_rows")
        values[f"similarity.{q}.files_read"] = med(rs, "files_read")
    return {k: (float(v), units[k]) for k, v in values.items()}
