"""Physical-plan audit — the scale gate that complements the oracle gate.

Correct results at sf0.01 say nothing about the plan that produced them;
this tool inspects the *executed* plan of every registry query and asserts
the properties that decide whether the same query survives 100 TB:

- ``pushdown``: the parquet scan carries PushedFilters when the query
  filters on scan columns (a full scan feeding a selective filter is wrong).
- ``pruned_schema``: the scan's ReadSchema is a strict subset of the table
  schema when the query projects a subset (column pruning reached the scan).
- ``broadcast``: dimension joins use BroadcastHashJoin, not SortMergeJoin
  (a shuffled small-dim join wastes a full fact shuffle).
- ``no_cartesian``: no CartesianProduct anywhere; BroadcastNestedLoopJoin
  is allowed only for queries that *declare* an intentional all-pairs step
  (exact similarity baselines).
- ``codegen``: at least one WholeStageCodegen span (expressions run
  compiled, not interpreted).

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Prints one line per query plus a FAILURES summary; exit 1 on any failure.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qcfractal_spark.queries import REGISTRY
from qcfractal_spark.session import build_session

# Queries whose semantics are intentionally all-pairs (bounded by broadcast
# nested-loop, never CartesianProduct): the exact-similarity baselines and
# the dataset entry×spec submit matrix (the reference's only cross product,
# base_dataset_socket.py:1254-1443).
ALLPAIRS_OK = {"sim_cosine_pairs", "ds_missing_cells"}

# Queries that cross-join a broadcast 1-row aggregate (a global scalar such
# as corpus size or total token count) — the Spark-idiomatic scalar-subquery
# pattern.  The BroadcastNestedLoopJoin is benign: its build side is exactly
# one row, so the "nested loop" is a constant append per stream row.  The
# audit still verifies no CartesianProduct and that every OTHER join keeps
# its strategy.
SCALAR_BROADCAST_OK = {"tx_tfidf", "tx_unigram_lm", "u6_mixture_sample", "tx_dsir",
                       "tx_bm25", "sim_hybrid_rrf", "pipe_funnel",
                       # corpus-total token count (1-row scalar) crossed
                       # onto the per-(group,token) counts relation
                       "tx_source_kl",
                       # queries × centroid-table fan-out: the BNLJ build side
                       # is the n_centroids-row centroid table (16 rows) — the
                       # per-query probe ranking, constant-size by design
                       "sim_ivf_batch_topk",
                       # same centroid fan-out, plus the truth×probe-budget
                       # fold (BNLJ build side = the 5-literal level array
                       # exploded over the |sample|·k truth rows)
                       "sim_ivf_recall_eval",
                       # source-pair skeleton: non-equi (a < b) self-pairing of
                       # the broadcast #sources-row dimension — constant-size
                       "dd_source_overlap",
                       # corpus-total token count (1-row scalar) crossed onto
                       # the #sources-row share relation
                       "a25_diversity",
                       # three 1-row count aggregates folded into the report
                       "dd_lsh_recall_eval",
                       # queries-set fan-out: BNLJ build side is the 8-row
                       # broadcast query batch (batch-sized by contract,
                       # same shape as sim_ivf_batch_topk)
                       "sim_hard_negatives",
                       # corpus token/bigram totals (two 1-row scalars)
                       # crossed onto the vocabulary-sized PMI relation
                       "tx_pmi_bigrams",
                       # 1-row (total, n_lists) scalar crossed onto the
                       # 16-row per-list report
                       "sim_index_stats",
                       # corpus-total token count (1-row scalar) crossed
                       # onto the per-doc bigram tf relation
                       "tx_bigram_lm",
                       # bigram-type total N1+(*,*) (1-row scalar) crossed
                       # onto the per-doc bigram tf relation
                       "tx_kn_lm",
                       # count-of-counts scalar (n1..n4, ntypes) crossed
                       # onto the per-doc bigram tf relation
                       "tx_kn_mod",
                       # 1-row (tot_docs, tot_toks) scalar crossed onto
                       # the ≤1001-row threshold-bucket relation (0.001 grid)
                       "tx_quality_sweep",
                       # 1-row positive-total scalar crossed onto the
                       # ≤10k-row threshold-bucket relation (1e-4 grid)
                       "tx_pr_curve",
                       # 1-row natural-total scalar crossed onto the
                       # |sources|×4 temperature-term relation
                       "u15_temperature_mix",
                       # waiting-reason manager walk: LEFT join on TRUE
                       # against the broadcast 4-row active-manager table
                       # (LEFT so zero-manager classifies; build side is
                       # operator-count-sized by contract — and since r13
                       # further folded into distinct (programs, tags)
                       # classes, so the fan-out is |records| x |classes|)
                       "o8_waiting_reason",
                       # the per-manager detail drill-down: INNER join on
                       # TRUE against the same broadcast 4-row manager
                       # table (details exist only when managers do; the
                       # fan-out IS the output contract, filter-first at
                       # fleet scale per the operator docstring)
                       "o12_waiting_details",
                       # r14 invariant oracle (r15: split to the gate-only
                       # arm): corpus-total token count (1-row scalar)
                       # crossed onto the MG candidate × exact-count join
                       # (<= k·partitions rows)
                       "a24_heavy_hitters_gate"}

# Queries where a SortMergeJoin is legitimate (fact-to-fact joins with no
# small side at scale).
SMJ_OK = {
    "dd_jaccard",  # shingle self-join: both sides are fact-sized
    "dd_lsh_recall_eval",  # sampled shingle + band self-joins: the truth/
                           # candidate pipelines of dd_jaccard/dd_minhash_lsh
                           # over the same sampled relation
    "dd_minhash_lsh",  # band-bucket self-join: both sides fact-sized
    "dd_cluster",  # band join + component-label joins: fact-sized sides
    "pipe_prepare",  # same band/star joins as dd_cluster, over the filtered
                     # (checkpointed) subset whose stats Catalyst can't see
    "pipe_funnel",  # composes the identical pipe_prepare stage chain; its
                    # extra joins are the same band/star shapes
    "t10_incremental_rollup",  # rollup-merge is a FULL OUTER join (group
                               # birth via delta side, death via count=0),
                               # which Spark cannot broadcast by rule; both
                               # sides are group-cardinality-sized
    "j14_interval",  # (key, time-bucket) equi-join: both sides fact-sized
    "dd_winnow",  # fingerprint self-join: both sides fact-sized
    "dd_winnow_capped",  # same self-join (the r14 benched arm) plus the
                         # df-cap keep join: every side fact-sized and
                         # merge-hinted — never a stats-misled broadcast
    "dd_simhash_scaled",  # corpus-scaled banded Hamming self-join: same
                          # merge-hinted shape as dd_simhash_pairs with
                          # the log2(corpus) band width
    "dd_embed",  # LSH bucket self-join: both sides fact-sized
    "dd_semdedup",  # cluster-local self-join: both sides fact-sized
    "dd_substring",  # chunk rows ⋈ duplicated-fingerprint frequencies on
                     # chunk_fp: both sides fact-sized (the map-combinable
                     # replacement for the collect_set window, VERDICT r6)
    "tx_boilerplate_ratio",  # span rows ⋈ duplicated-fingerprint set on the
                             # fingerprint: the same shape at span
                             # granularity (broadcast at sf0.001 stats;
                             # SMJ is the legitimate at-scale plan)
    "dd_minhash_estimate",  # band self-join + two id-keyed signature joins:
                            # every side fact-sized
    "dd_simhash_pairs",  # banded Hamming self-join: both sides fact-sized
                         # (r13: merge-hinted — the checkpointed signature
                         # stats misled the planner into broadcasting one
                         # corpus side, the dd_winnow OOM class)
    "dd_lev_verify",  # candidate ⋈ texts hydration: the candidate list is
                      # corpus-proportional and the text sides are the
                      # corpus — both id-keyed joins shuffle (r13; the old
                      # broadcast-the-pairs form made the planner broadcast
                      # the full TEXT table on the second join)
    "dd_source_overlap",  # (fp, source) self-join: both sides fact-sized;
                          # the matrix-assembly left join's build side is the
                          # post-agg sources²-row pair table whose stats the
                          # static planner can't see — AQE broadcasts it at
                          # runtime (the audit runs AQE-off by design)
    "dd_incremental_labels",  # corpus-label join + batch-component joins:
                              # every side fact/batch-sized (the probe
                              # itself broadcasts the batch; these are the
                              # label-assembly equi-joins around it)
    "dd_cluster_rep",  # label-artifact scan ⋈ id-keyed quality scan:
                       # both sides fact-sized (labels persisted at ingest)
    "dd_prefix_filter",  # prefix-token self-join + verify joins: every
                         # side fact-sized (the AllPairs candidate rule)
    "sim_hybrid_rrf",  # RRF fusion is a FULL OUTER join (an id ranked by
                       # one arm still scores), which Spark cannot
                       # broadcast by rule; both sides are top-k lists
                       # (constant-size by contract).  Its embedded BM25
                       # arm carries tx_bm25's scalar broadcast.
    "s9_snapshot_diff",  # snapshot diff is a FULL OUTER join (added needs
                         # the new side, removed the old), which Spark
                         # cannot broadcast by rule; both sides are
                         # snapshot-sized (key + 32-byte hash rows only)
    "tx_bigram_lm",  # per-doc bigram tf ⋈ corpus bigram/context/unigram
                     # counts on their token keys: every side fact-sized
                     # (vocab² bigram relation) — SMJ is the at-scale plan
    "tx_kn_lm",  # same shape: per-doc bigram tf ⋈ bigram/context/
                 # continuation counts (all cascaded from btf), fact-sized
    "tx_kn_mod",  # identical join inventory + a 1-row count-of-counts
}

# Queries filtering directly on scan columns: at least one parquet scan must
# carry a non-empty PushedFilters list (the predicate reached the reader).
PUSHDOWN_EXPECTED = {
    "p2_p3_filter_page",  # status IN + created-range on records scan
    "p8_int_or_name",  # id/name OR filter
    "j1_dim_join",  # spec filter on the dimension scan
    "h3_top_revenue",  # date + segment predicates
    "h6_forecast_revenue",  # all predicates scan-pushable (TPC-H Q6 shape)
    "s2_bulk_get",  # the id list itself must reach the scan as In(...)
    "tx_phrase_idx",  # the phrase-term IN list must reach the posting scan
                      # (the bucket partition prune is asserted separately
                      # in tests/test_text_index.py)
}

# Queries whose broadcast side must be id-sized: every parquet scan under a
# BroadcastExchange must carry a pushed In(...) filter.  Broadcasting an
# unfiltered fact scan (what a mis-placed hint silently produces) is exactly
# the 100 TB OOM this audit exists to catch.
BROADCAST_MUST_BE_FILTERED = {"s2_bulk_get"}
# (o2_priority_topk / a11_sample_keys have no scan predicates — they are
# whole-table per-group top-k; their scale property is the partial
# WindowGroupLimit below the exchange, asserted separately.)

# Per-group top-k queries must show map-side WindowGroupLimit (rank pushdown:
# each input partition keeps only its own top-k before the shuffle).
GROUP_TOPK = {"o2_priority_topk", "a11_sample_keys", "a9_argmin", "u8_group_sample_k",
              "dd_cap_duplicates", "sim_hard_negatives"}

# Queries whose steady-state plan must contain ZERO Python stages: they
# consume the persisted IVF index, so the k-means assign pandas_udf must
# never reappear (a regression here re-pays two full scans per call —
# VERDICT r5 item 2).
NO_PYTHON = {"dd_semdedup", "sim_ivf_topk"}

# A collect_list/collect_set inside a groupBy AGGREGATE buffers one group's
# values in a single task.  That is only acceptable when the collect is
# provably bounded by something other than data volume; every sanctioned
# site documents its bound here (VERDICT r8 item 2 / r9 task 6).  Any other
# aggregate-collect in a plan is flagged.
BOUNDED_COLLECT_OK = {
    # ≤64 structs/group: collect_list(when(rk<=T13_MAX_TURNS, ...)) skips
    # NULLs past the row_number cap; overflow flag marks truncation.
    "t13_thread_assembly",
    # per-order linestatus array: bounded by lines-per-order (≤7 in the
    # TPC-H-ish schema) — the reference record-status gate semantics.
    "a8_status_gate",
    # jsonb_object_agg twin: one (linenumber, qty) entry per order line,
    # ≤7 per group, pre-deduped by key before the collect.
    "a10_map_agg",
    # percentile_disc collects the group's values — bounded-cardinality
    # telemetry groups (per-spec access buckets), documented in
    # operators/aggregates.py:percentile_disc.
    "a6_access_summary",
    # contributed-values arrays: one (entry, value) struct per dataset
    # entry, pre-deduped per (name, entry) — bounded by |dataset entries|
    # per contribution name, which IS the reference's unit (it stores the
    # same arrays as one JSONB blob per name, dataset_models.py:63-80).
    "s12_contributed_values",
    # r14 invariant oracle (r15: split to the gate-only arm): the
    # exact-percentile arm sorts each event type's values in one task —
    # bounded-cardinality telemetry groups, the same a6/percentile_disc
    # bound; the benched a22_approx_quantiles is the sketch alone.
    "a22_quantiles_gate",
}

# A Window with ORDER BY but NO PARTITION BY funnels its entire input
# through ONE task — fatal on a corpus-sized relation at any real scale.
# Sanctioned only where the window's input is bounded by construction,
# never by data volume; every site documents its bound (VERDICT r13
# item 8 — this pins the previously-implicit invariant).
BOUNDED_GLOBAL_WINDOW_OK = {
    # pr_curve's cumulative TP/FP window runs over the checkpointed
    # threshold-bucket GRID: ≤ 10^bucket_decimals+1 rows (1001 default),
    # functions/text.py:pr_curve.
    "tx_pr_curve",
    # quality sweep: same bucket-grid cumulative window (the retention
    # curve is a suffix sum over score buckets, grid-sized).
    "tx_quality_sweep",
    # RRF fusion ranks each arm's candidate list: both windows run over
    # the top-k-per-arm candidate relations (k·|queries| rows, k=10).
    "sim_hybrid_rrf",
    # recall sweep: ranks within the |sample|·k truth/probe relations
    # (sample=8 queries by contract).
    "sim_ivf_recall_eval",
    # source-index assignment: row_number over the DISTINCT-source
    # relation (#sources rows, <64 by the interleave-key domain); the
    # corpus-sized rank window in the same query is partitioned.
    "u12_interleave",
}

# Iterative/driver-orchestrated queries: the returned DataFrame is the last
# step of a loop (closure levels are checkpointed RDD scans) — plan text is
# not representative, audit is covered by operator tests.
SKIP = {"j8_closure", "g1_pagerank", "tx_bpe_merges",
        "tx_bpe_encode", "u13_coreset", "tx_unigram_tok",
        "tx_unigram_encode", "u14_doremi",
        # service-loop replay: the relation is assembled from per-
        # iteration Spark aggregate results (queue claims + one bucket
        # scan); the bucket aggregate and claim top-k plans are audited
        # via t3/o2's shapes and the queue pytests
        "o9_service_replay"}  # iterative driver
# loops: the returned DataFrame is the last loop step over checkpointed
# scans.  tx_unigram_tok's per-word candidate collect_list is bounded by
# max_word_len × max_piece_len = 48 entries (UNIGRAM_PARAMS) and its two
# 1-row totals crossJoins are scalar broadcasts; the round plan is
# operator-tested in tests/test_unigram_tok.py.


def executed_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def _marker_col(line: str) -> int:
    m = re.search(r"[+:]- ", line)
    return m.start() if m else -1


def operator_subtrees(plan: str, op: str) -> list[list[str]]:
    """Children of each `op` occurrence in a simple-mode plan tree, scoped by
    the tree-marker indentation column."""
    lines = plan.splitlines()
    out: list[list[str]] = []
    for i, ln in enumerate(lines):
        if op not in ln:
            continue
        col = _marker_col(ln)
        sub = []
        for nxt in lines[i + 1 :]:
            if _marker_col(nxt) <= col:
                break
            sub.append(nxt)
        out.append(sub)
    return out


def _top_level_groups(s: str) -> list[str]:
    """Top-level [...] group contents of a plan operator line."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def global_window_lines(splan: str) -> list[str]:
    """Window operator lines with ORDER BY but no PARTITION BY.

    Physical `Window` prints `Window [exprs], [partition], [order]` when
    partitioned and `Window [exprs], [order]` when global — two top-level
    bracket groups WHOSE LAST GROUP IS A SORT ORDER (contains ASC/DESC)
    mean the whole input sorts through one task.  Two groups whose second
    has no sort direction is a partition-only window (per-group totals,
    frame unbounded both ways) — scale-safe, not flagged.
    WindowGroupLimit is a different operator (map-side top-k) and is not
    matched."""
    out = []
    for ln in splan.splitlines():
        stripped = re.sub(r"^[\s+:*()-]*", "", ln)
        if not stripped.startswith("Window "):
            continue
        groups = _top_level_groups(stripped)
        if len(groups) == 2 and re.search(r" (ASC|DESC)\b", groups[1]):
            out.append(ln.strip())
    return out


def audit_one(name: str, df) -> list[str]:
    plan = executed_plan(df)
    problems: list[str] = []

    if "CartesianProduct" in plan:
        problems.append("CartesianProduct in plan")
    if (
        "BroadcastNestedLoopJoin" in plan
        and name not in ALLPAIRS_OK
        and name not in SCALAR_BROADCAST_OK
    ):
        problems.append("unexpected BroadcastNestedLoopJoin")
    if "SortMergeJoin" in plan and name not in SMJ_OK:
        problems.append("SortMergeJoin where a broadcast join was expected")
    # Formatted explain tags codegen'd operators with "[codegen id : N]".
    if "codegen id" not in plan:
        problems.append("no WholeStageCodegen span")

    if name in PUSHDOWN_EXPECTED:
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        if not any(p.strip() for p in pushed):
            problems.append("no predicate reached any parquet scan")

    if name in GROUP_TOPK and "WindowGroupLimit" not in plan:
        problems.append("per-group top-k without map-side WindowGroupLimit")

    # No query may buffer a per-group SET in a window function: a
    # collect_set/collect_list over a window materializes every distinct
    # value of the group inside ONE task — unbounded on exactly the hot
    # keys dedup hunts (VERDICT r6 item 1, the cdc_duplicate_spans OOM).
    # Doc frequencies must be computed map-combinably (groupBy + count).
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln and (
            "collect_set" in ln or "collect_list" in ln
        ):
            problems.append("set-materializing window (collect over window)")
            break

    # Aggregate collects buffer a whole group in one task — sanctioned only
    # where BOUNDED_COLLECT_OK documents the bound (VERDICT r9 task 6).
    if name not in BOUNDED_COLLECT_OK:
        for ln in plan.splitlines():
            if "windowspecdefinition" in ln:
                continue
            if "collect_set" in ln or "collect_list" in ln:
                problems.append(
                    "groupBy collect without a documented bound "
                    "(add to BOUNDED_COLLECT_OK with the bound)"
                )
                break

    if name in NO_PYTHON and ("ArrowEvalPython" in plan or "BatchEvalPython" in plan):
        problems.append("Python stage in an index-backed plan (quantizer retrain?)")

    # Global windows (ORDER BY, no PARTITION BY) single-task their whole
    # input — allowed only on declared bounded relations (grid / vocab /
    # candidate top-k), VERDICT r13 item 8.
    if name not in BOUNDED_GLOBAL_WINDOW_OK:
        gw = global_window_lines(simple_plan(df))
        if gw:
            problems.append(
                "global Window without partitionBy on an undeclared relation "
                "(add to BOUNDED_GLOBAL_WINDOW_OK with the bound): "
                + gw[0][:120]
            )

    if name in BROADCAST_MUST_BE_FILTERED:
        splan = simple_plan(df)
        trees = operator_subtrees(splan, "BroadcastExchange")
        if not trees:
            problems.append("expected a broadcast join of the id-filtered side")
        for sub in trees:
            for ln in sub:
                if "FileScan" in ln and "In(" not in ln:
                    problems.append(
                        "broadcast side contains an unfiltered parquet scan"
                    )

    # Every parquet scan must prune columns: ReadSchema listing >20 fields
    # for these tables means a select didn't reach the scan.
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        n_fields = len([f for f in m.group(1).split(",") if ":" in f])
        if n_fields > 20:
            problems.append(f"scan reads {n_fields} columns (pruning failed)")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or [n for n in REGISTRY if n not in SKIP]
    spark = build_session()
    # AQE wraps static plans in AdaptiveSparkPlan(isFinalPlan=false), hiding
    # codegen ids until execution; the properties audited here (join
    # strategy, pushdown, pruning, codegen eligibility) are planning-time
    # decisions, so audit the non-adaptive plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    failures: dict[str, list[str]] = {}
    for name in names:
        if name in SKIP:
            print(f"SKIP  {name} (iterative; plan audited at operator level)")
            continue
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            problems = audit_one(name, df)
        except Exception as exc:  # noqa: BLE001
            problems = [f"error building plan: {exc}"]
        if problems:
            failures[name] = problems
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"PASS  {name}")
    if failures:
        print(f"{len(failures)} FAILURES")
        return 1
    print("ALL PASS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
