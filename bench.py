"""Benchmark harness — runs the registry rows flagged ``bench=True`` at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with the no-op sink (df.write.format("noop")) so timing
measures the distributed plan, not driver-side Arrow transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from qcfractal_spark.queries import REGISTRY
from qcfractal_spark.session import build_session


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def is_regressed(now: float, baseline: float) -> bool:
    """Regression rule, factored out for unit testing (tests/test_bench_guard.py):
    flag only when BOTH the ratio (>1.5x) and an absolute floor (>0.5s delta)
    are exceeded — sub-second queries jitter past the ratio on a loaded
    machine (p2_p3_filter_page false-flagged in round 4), and a
    0.3s -> 0.7s blip is measurement noise, not a plan regression.
    r14 (VERDICT r13 item 9): threshold tightened 2.0x -> 1.5x — the old
    gate let v1_variant_rollup drift 1.97x without a confirmation run;
    the existing best-of-3 rerun absorbs the extra false-positive rate."""
    return baseline > 0.05 and now > 1.5 * baseline and (now - baseline) > 0.5


def find_regressions(times: dict, base_queries: dict, rerun=None) -> dict:
    """Candidates get one confirmation run (best-of-3 overall) via ``rerun``
    before being reported, so a single slow sample cannot flag."""
    for q in [q for q, t in times.items() if is_regressed(t, base_queries.get(q, 0.0))]:
        if rerun is None:
            continue
        try:
            times[q] = min(times[q], rerun(q))
        except Exception:  # noqa: BLE001 — keep the 2-run time
            pass
    return {
        q: {"now": t, "baseline": base_queries[q]}
        for q, t in times.items()
        if is_regressed(t, base_queries.get(q, 0.0))
    }


def pick_baseline(repo_dir: str, sf: float | None, cpus: int) -> tuple[str, dict] | None:
    """The newest parseable ``BENCH_r<N>.json`` / ``BENCH_r<N>_c<M>.json``
    in ``repo_dir`` whose ``sf`` and ``cpus`` (the ``local[N]`` width it ran
    at) both match, as ``(file name, record)``; None when no record does.
    A baseline from another core count measures the box, not the code.

    Unreadable or query-less records (a crashed round's tail) are skipped,
    never fatal: tools/bench_ratio.load_bench knows every recorded flavor
    (raw line, tail-wrapped, front-truncated tail)."""
    from tools.bench_ratio import load_bench

    rounds = []
    for f in os.listdir(repo_dir):
        m = re.fullmatch(r"BENCH_r(\d+)(?:_c\d+)?\.json", f)
        if m:
            rounds.append((int(m.group(1)), f))
    for _, name in sorted(rounds, reverse=True):
        cand = load_bench(os.path.join(repo_dir, name))
        if cand and cand.get("queries") and cand.get("sf") == sf and cand.get("cpus") == cpus:
            return name, cand
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    # Optional subset (the sf10 spot-decade protocol, r12 VERDICT item 6):
    # a comma-separated SPARK_GRAFT_BENCH_QUERIES runs only those names —
    # the driver's full-suite contract is unchanged when the var is unset.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    bench_queries = (
        [q.strip() for q in only.split(",") if q.strip()]
        if only
        else [name for name, q in REGISTRY.items() if q.bench]
    )
    # Validate subset names up front (r13 ADVICE): the REGISTRY lookup
    # used to run outside the per-query try block, so one typo'd name
    # raised KeyError and zeroed the whole suite — the exact failure the
    # per-query isolation loop exists to prevent.
    unknown = [q for q in bench_queries if q not in REGISTRY]
    if unknown:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_QUERIES names not in the registry: {unknown}; "
            f"valid names are the keys of qcfractal_spark.queries.REGISTRY"
        )
    # Runs per query (default 2, best-of): the sf10 spot decade uses 1 —
    # at multi-minute per-query durations the first-run JIT/footer costs
    # the best-of-2 rule exists to amortize are sub-percent noise, and a
    # second run would double a ~1 h measurement for nothing.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # Load marker (VERDICT r10 item 1): two consecutive rounds the driver
    # record regressed while quiet same-code runs held ≤1.0×, and the
    # load attribution was narrative.  Recording loadavg at run start
    # (normalized per-CPU) makes the adjudication data: a record with
    # load1/ncpu >> 0 is a loaded-box measurement.
    try:
        load_start = tuple(round(x, 2) for x in os.getloadavg())
    except OSError:
        load_start = None
    spark = build_session("qcfractal-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen path once with a trivial job.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # r16 (VERDICT r15 item 4): per-kernel-family JIT pre-warm.  At 32
    # concurrent task threads the first timed run of the md5/shingle
    # kernels lands on cold interpreted codegen and records 2-3x steady
    # state even under best-of-2 (driver r15: dd_minhash_lsh 5.49 s @32c
    # vs 1.94 s @8c — the 8c run warms across its serial task waves).
    # These jobs exercise the SHARED runtime surfaces (md5 digest, hex
    # conv, UTF8String substring/split, explode, hash-aggregate update
    # loops, the Python/Arrow worker pool) over spark.range-derived rows
    # only: nothing is computed that any timed query reuses, and no input
    # table is touched.  Untimed by design; per-query timing is unchanged.
    def _prewarm() -> None:
        from pyspark.sql import functions as F

        spark.sparkContext.setJobDescription("prewarm: md5/shingle kernels")
        base = spark.range(0, 100_000, 1, 64).selectExpr(
            "cast(id as string) s", "id % 97 k"
        )
        sh = base.select(
            "k",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(4)),
                    lambda i: F.substring(F.concat(F.col("s"), F.lit("qcfw")), i + 1, 8),
                )
            ).alias("g"),
        ).select(
            "k", F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long").alias("h")
        )
        for _ in range(2):
            force(
                sh.groupBy("k").agg(
                    *[F.min((F.col("h") * F.lit(7 + i)) % F.lit(2147483647)).alias(f"m{i}")
                      for i in range(8)],
                    # decimal-sum / double-avg paths (the h1/a6 agg shapes)
                    F.sum((F.col("h") % 1000).cast("decimal(20,6)")).alias("dsum"),
                    F.avg(F.col("h").cast("double")).alias("davg"),
                )
            )
        spark.sparkContext.setJobDescription("prewarm: window/join machinery")
        from pyspark.sql import Window as _W

        w = _W.partitionBy("k").orderBy("h")
        win = sh.select(
            "k", "h",
            F.row_number().over(w).alias("rn"),
            F.lag("h", 1).over(w).alias("lg"),
        ).where(F.col("rn") <= 3)
        dim = spark.range(0, 97).selectExpr("id k2", "id * 2 v2")
        force(
            win.join(F.broadcast(dim), win["k"] == dim["k2"])          # BHJ
            .join(sh.groupBy("k").count().withColumnRenamed("k", "k3"),
                  F.col("k2") == F.col("k3"))                           # SMJ/SHJ
        )
        spark.sparkContext.setJobDescription("prewarm: python/arrow workers")
        pdf = spark.range(0, 3_200, 1, 32).selectExpr("id % 32 g", "id v")

        def _ident(it):
            for b in it:
                yield b

        force(pdf.mapInPandas(_ident, "g bigint, v bigint"))
        spark.sparkContext.setJobDescription(None)

    if os.environ.get("SPARK_GRAFT_PREWARM") != "0":
        _prewarm()

    # Two runs per query, report the min: the first run pays one-time JIT /
    # codegen / parquet-footer costs that a resident service never re-pays.
    # Per-query error isolation: one broken query must never zero the whole
    # suite (it cost two rounds of benchmark data when it did) — record the
    # error, keep going, and still emit the JSON line for what ran.
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    import gc as _gc

    def _release_dead_blocks() -> None:
        """Per-query isolation (r13): several queries localCheckpoint
        corpus-sized intermediates, and the blocks of a RELEASED
        DataFrame are only freed when a GC collects its references —
        with a 48g heap that can be minutes away, so query N+1 would
        contend with query N's orphaned blocks (measured 51 s clean vs
        158 s dirty on the same query).  A resident service reaches the
        same steady state through spark.cleaner.periodicGC; forcing the
        collection between queries measures each plan, not its
        predecessor's garbage."""
        _gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — measurement aid only
            pass

    for name in bench_queries:
        fn = REGISTRY[name].fn
        best = float("inf")
        try:
            for _ in range(n_runs):
                t0 = time.time()
                force(fn(spark, sf_dir))
                best = min(best, time.time() - t0)
                _release_dead_blocks()
            times[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — isolate, report, continue
            msg = f"{type(exc).__name__}: {exc}"
            errors[name] = msg[:500]
            print(f"ERROR in {name}: {msg[:2000]}", file=sys.stderr)

    # Regression guard: compare per-query against the newest recorded
    # baseline at the same sf and core count and surface anything >2x
    # slower — regressions must be visible in the repo's own records.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    cpus = spark.sparkContext.defaultParallelism
    picked = pick_baseline(repo_dir, sf, cpus)
    base_name, base = picked if picked else (None, {})
    regressions: dict[str, dict] = {}
    if not base_name:
        print(
            f"NOTE: no BENCH_r*.json baseline at sf={sf} cpus={cpus}: "
            "regression guard off",
            file=sys.stderr,
        )
    else:
        def rerun(q: str) -> float:
            t0 = time.time()
            force(REGISTRY[q].fn(spark, sf_dir))
            return round(time.time() - t0, 3)

        regressions = find_regressions(times, base["queries"], rerun)
        if regressions:
            print(
                f"WARNING: {len(regressions)} queries >2x slower than "
                f"{base_name}: {sorted(regressions)}",
                file=sys.stderr,
            )

    total = round(sum(times.values()), 3)
    out = {
        "metric": "qcfractal_spark headline suite wall time (steady-state, best of 2)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    if load_start is not None:
        out["loadavg_start"] = list(load_start)
        out["ncpu"] = os.cpu_count()
        try:
            out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        # r16 (VERDICT r15 item 9): self-report a loaded-box measurement so
        # adjudication is mechanical — the r15 driver record started at
        # loadavg 13.28/32 and the contamination had to be argued from
        # narrative.  Threshold 0.25/cpu: the r15 record (0.42/cpu) flags,
        # quiet records (<0.05/cpu) don't.
        ncpu = os.cpu_count() or 1
        if load_start[0] / ncpu > 0.25:
            out["load_warning"] = (
                f"loadavg_start {load_start[0]} on {ncpu} cpus "
                f"(>{0.25}/cpu): timings are load-contaminated"
            )
    if errors:
        # A partial total sums only the surviving queries and would read as
        # an improvement next to a complete round — mark it non-comparable.
        out["errors"] = errors
        out["total_complete"] = False
    out["baseline"] = base_name
    if regressions:
        out["regressions_vs_" + base_name] = regressions
    # Compact separators: the driver records a bounded TAIL of our output,
    # and r07's metric line was long enough to lose its front to that
    # window — every byte saved here is a timing that survives.
    print(json.dumps(out, separators=(",", ":")))
    # Self-record the untruncated result so the ledger never depends on the
    # driver's tail capture again (VERDICT r8 item 4): bench_ratio upgrades
    # a truncated BENCH_r{N}.json from BENCH_SELF_latest.json when the
    # overlapping per-query timings are identical (same run).  Non-ledger
    # scale factors get an sf-suffixed file instead — an sf1 sweep used to
    # clobber the sf0.1 record (the r9 recovery-from-git lesson).
    self_name = (
        "BENCH_SELF_latest.json"
        if abs(out["sf"] - 0.1) < 1e-9
        else f"BENCH_SELF_sf{out['sf']:g}.json"
    )
    try:
        with open(os.path.join(repo_dir, self_name), "w") as f:
            json.dump(out, f, indent=1)
    except OSError as exc:  # never fail the benchmark over the artifact
        print(f"WARNING: could not self-record bench: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
