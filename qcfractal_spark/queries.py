"""Operator-inventory query registry: SURVEY.md §2 → (Spark plan, DuckDB oracle).

Each entry is one query shape from the reference's surface (or a
beyond-reference LLM-pipeline operator), implemented Spark-first over the
driver's synthetic tables and paired with an ANSI-SQL oracle that DuckDB
executes on the same parquet files.  Column names/aliases match exactly on
both sides (the correctness gate hashes values under sorted column names).

Float discipline (so value-hashes match bit-for-bit):
- Sums use per-term ``CAST(x AS DECIMAL(20,6))`` → exact decimal sums in
  both engines → cast back to double.  Never hash a raw float sum whose
  value depends on partial-aggregation order.
- Averages derive from the exact decimal sum: round(sum/count, 6).
- Percentiles are *discrete* (actual data values — no interpolated
  arithmetic), matching percentile_disc / quantile_disc.
- Cosine scores round to 6 dp with id tie-breaks.
"""

from __future__ import annotations

from datetime import datetime
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import pandas as pd  # noqa: F401  (pandas_udf annotation resolution)

from .catalog import load_table
from .session import local_df
from .functions import dedup as dd
from .functions import similarity as sim
from .functions import text as tx
from .operators import aggregates as agg
from .operators import dataset as ds
from .operators import graph, joins, keyed, pivot, topk
from .plans import QueryFilters, apply_filters

# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------

_DEC = "decimal(20,6)"


def _dsum(col, alias):
    """Exact cross-engine sum: per-term decimal cast, decimal sum, double out."""
    return F.sum(col.cast(_DEC)).cast("double").alias(alias)


def _t(spark, sf_dir, name, fan=False):
    """Catalog read; ``fan=True`` opts the scan into the scale-adaptive
    fan-out (catalog.load_table) — set on queries whose scan-side compute
    (md5 shingles, regex scoring, decimal products, array math) measured
    faster 32-way than single-task at sf0.1, and a no-op at real scale."""
    return load_table(spark, sf_dir, name, fanout=fan)


def build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized (parent_id, child_id) edges over the TPC-H hierarchy:
    region→nation→customer→orders→lineitem, ids offset per level so the
    graph is one id space — the testdata stand-in for the reference's
    record_direct_children_view (record_db_views.py:30-55)."""
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    e1 = nation.select(
        (F.lit(1_000_000) + F.col("n_regionkey")).cast("long").alias("parent_id"),
        (F.lit(2_000_000) + F.col("n_nationkey")).cast("long").alias("child_id"),
    )
    e2 = customer.select(
        (F.lit(2_000_000) + F.col("c_nationkey")).cast("long").alias("parent_id"),
        (F.lit(3_000_000) + F.col("c_custkey")).cast("long").alias("child_id"),
    )
    e3 = orders.select(
        (F.lit(3_000_000) + F.col("o_custkey")).cast("long").alias("parent_id"),
        (F.lit(4_000_000) + F.col("o_orderkey")).cast("long").alias("child_id"),
    )
    e4 = lineitem.select(
        (F.lit(4_000_000) + F.col("l_orderkey")).cast("long").alias("parent_id"),
        (F.lit(5_000_000) + F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long")
        .alias("child_id"),
    )
    return e1.unionByName(e2).unionByName(e3).unionByName(e4)


_EDGES_SQL = """
    SELECT CAST(1000000 + n_regionkey AS BIGINT) AS parent_id,
           CAST(2000000 + n_nationkey AS BIGINT) AS child_id FROM nation
    UNION ALL
    SELECT CAST(2000000 + c_nationkey AS BIGINT),
           CAST(3000000 + c_custkey AS BIGINT) FROM customer
    UNION ALL
    SELECT CAST(3000000 + o_custkey AS BIGINT),
           CAST(4000000 + o_orderkey AS BIGINT) FROM orders
    UNION ALL
    SELECT CAST(4000000 + l_orderkey AS BIGINT),
           CAST(5000000 + l_orderkey * 10 + l_linenumber AS BIGINT) FROM lineitem
"""

# DuckDB equivalent of functions.text token pipeline (keep in sync).
_TOKS_SQL = (
    "list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), "
    "x -> x <> '')"
)

# Deterministic URL stand-in for the url-less documents table (the same
# derived-field convention as dataset_id = l_suppkey % 20): five
# consecutive doc_ids share one underlying page (host+path from
# ``doc_id div 5``) and differ only in surface decoration (scheme, www.,
# default port, trailing slash, utm query) — exactly the variance
# canonical_url() exists to collapse.  Both engines replay the arithmetic.
_SYNTH_URL_EXPR = (
    "concat("
    "case when doc_id % 2 = 0 then 'https://' else 'http://' end, "
    "case when doc_id % 3 = 0 then 'www.' else '' end, "
    "case when (doc_id div 5) % 3 = 1 then 'blog.' else '' end, "
    "'site', cast((doc_id div 5) % 40 as string), "
    # TLD mix exercises the PSL semantics end-to-end: 2-label ccTLD
    # second-levels (.co.uk/.com.cn/.co.kr/.com.br), a wildcard-rule tail
    # (*.ck makes foo.ck itself a public suffix), PRIVATE-section hosts
    # (each siteN.github.io / siteN.blogspot.com is its own registrable
    # domain — VERDICT r9 item 3), and the .com majority.
    "case (doc_id div 5) % 8 "
    "when 0 then '.co.uk' when 2 then '.com.cn' when 4 then '.co.kr' "
    "when 5 then '.com.br' when 6 then '.foo.ck' "
    "when 1 then '.github.io' when 3 then '.blogspot.com' else '.com' end, "
    "case when doc_id % 7 = 3 then ':443' else '' end, "
    "'/docs/', cast(doc_id div 5 as string), "
    "case when doc_id % 5 = 2 then '/' else '' end, "
    "case when doc_id % 4 = 1 then '?utm_source=feed' else '' end)"
)

_SYNTH_URL_SQL = (
    "concat("
    "CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END, "
    "CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END, "
    "CASE WHEN (doc_id // 5) % 3 = 1 THEN 'blog.' ELSE '' END, "
    "'site', CAST((doc_id // 5) % 40 AS VARCHAR), "
    "CASE (doc_id // 5) % 8 "
    "WHEN 0 THEN '.co.uk' WHEN 2 THEN '.com.cn' WHEN 4 THEN '.co.kr' "
    "WHEN 5 THEN '.com.br' WHEN 6 THEN '.foo.ck' "
    "WHEN 1 THEN '.github.io' WHEN 3 THEN '.blogspot.com' ELSE '.com' END, "
    "CASE WHEN doc_id % 7 = 3 THEN ':443' ELSE '' END, "
    "'/docs/', CAST(doc_id // 5 AS VARCHAR), "
    "CASE WHEN doc_id % 5 = 2 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 4 = 1 THEN '?utm_source=feed' ELSE '' END)"
)


# --------------------------------------------------------------------------
# §2.1/2.2 scans, filters, pagination
# --------------------------------------------------------------------------


def q_s1_scan_project(spark, sf_dir):
    """S1/P1: projected scan with a pushed-down predicate."""
    orders = _t(spark, sf_dir, "orders")
    from .plans import apply_projection

    proj = apply_projection(orders, include=["o_orderkey", "o_totalprice", "o_orderstatus"])
    return proj.where(F.col("o_totalprice") > 100000.0)


SQL_S1 = """
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders WHERE o_totalprice > 100000.0
"""


def q_p2_p3_filter_page(spark, sf_dir):
    """P2+P3+P9+O1 (slice 0): the canonical query_records path — IN-list +
    time-range filters, keyset cursor, newest-first, limit
    (record_socket.py:238-335)."""
    orders = _t(spark, sf_dir, "orders")
    filters = QueryFilters(
        in_lists={"o_orderstatus": ["O", "F"]},
        after={"o_orderdate": datetime(1996, 1, 1)},
        before={"o_orderdate": datetime(1998, 12, 31)},
        cursor=12000,
        limit=200,
        id_col="o_orderkey",
    )
    return apply_filters(orders, filters)


SQL_P2_P3 = """
SELECT * FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <= TIMESTAMP '1998-12-31 00:00:00'
  AND o_orderkey < 12000
ORDER BY o_orderkey DESC LIMIT 200
"""


def q_s2_bulk_get(spark, sf_dir):
    """S2/O5: ordered keyed bulk-get with missing_ok None gaps
    (db_socket/helpers.py:490-573)."""
    orders = _t(spark, sf_dir, "orders")
    ids = [42, 7, 999999999, 128, 3]
    return keyed.bulk_get_ordered(spark, orders, ids, id_col="o_orderkey").select(
        "_input_idx", "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


SQL_S2 = """
WITH ids(_input_idx, o_orderkey) AS (
  VALUES (0, 42), (1, 7), (2, 999999999), (3, 128), (4, 3)
)
SELECT CAST(i._input_idx AS BIGINT) AS _input_idx,
       CAST(i.o_orderkey AS BIGINT) AS o_orderkey,
       o.o_custkey, o.o_orderstatus, o.o_totalprice
FROM ids i LEFT JOIN orders o ON o.o_orderkey = i.o_orderkey
"""


def q_p4_tuple_in(spark, sf_dir):
    """P4: composite tuple-IN via broadcast semi-join (helpers.py:257-293)."""
    li = _t(spark, sf_dir, "lineitem")
    vals = [(1, 1), (1, 2), (2, 1), (5, 3), (42, 2), (100, 1)]
    return joins.semi_join_values(
        spark, li, ["l_orderkey", "l_linenumber"], vals
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


SQL_P4 = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
JOIN (VALUES (1,1),(1,2),(2,1),(5,3),(42,2),(100,1)) v(ok, ln)
  ON l_orderkey = ok AND l_linenumber = ln
"""


def q_p5_json_extract(spark, sf_dir):
    """P5/F4: JSON key extraction + cast + predicate — the JSONB containment
    filter shape (singlepoint/record_socket.py:356-360)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    ).where(F.col("k_val") > 80)


SQL_P5 = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 80
"""


def q_p7_array_overlap(spark, sf_dir):
    """P7: array overlap (compute_tags && tags, managers/socket.py:313-319)
    over the word-set of p_type."""
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_type"), " ")
    return part.select("p_partkey", "p_type").where(
        F.arrays_overlap(words, F.array(F.lit("PROMO"), F.lit("SMALL")))
    )


SQL_P7 = """
SELECT p_partkey, p_type FROM part
WHERE list_has_any(string_split(p_type, ' '), ['PROMO', 'SMALL'])
"""


def q_p8_int_or_name(spark, sf_dir):
    """P8: id-or-name polymorphic filter (record_socket.py:294-300)."""
    cust = _t(spark, sf_dir, "customer")
    return joins.int_or_name_filter(
        cust, "c_custkey", "c_name", [1, 5, "customer_9", "customer_77"]
    ).select("c_custkey", "c_name")


SQL_P8 = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (1, 5) OR c_name IN ('customer_9', 'customer_77')
"""

# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------


def q_j1_dim_join(spark, sf_dir):
    """J1/J2: chained dimension joins with broadcast hints (records ⋈ spec ⋈
    subspec, optimization/record_socket.py:413-457)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .where(F.col("r_name") == "ASIA")
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


SQL_J1 = """
SELECT c_custkey, c_name, n_name, r_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
"""


def q_j4_semi_join(spark, sf_dir):
    """J4: semi-join filter (creator-user subquery, record_socket.py:294-300)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    return orders.join(F.broadcast(building), on="o_custkey", how="left_semi").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


SQL_J4 = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""


def q_o7_serial_claim(spark, sf_dir):
    """O/T4+ (reference parity, internal_jobs/socket.py:453-468): the
    INTERNAL-JOBS claim-eligibility shape — the reference's second task
    queue, whose semantics differ from J7/O2's tag+priority claim:
    waiting jobs are runnable only if their ``serial_group`` is NULL or
    has NO member currently running (the NOT-IN-distinct-running-groups
    exclusion that serializes same-group jobs), taken in
    ``scheduled_date`` order.

    Spark shape: the running-group set is a distinct projection of the
    running slice — group-cardinality-sized, broadcast — and the
    exclusion is a LEFT ANTI join (NULL groups never match an equi-key,
    so NULL-group jobs stay eligible, exactly the reference's
    ``IS NULL OR NOT IN`` disjunction); TakeOrdered tops the result.
    The SKIP LOCKED concurrency half stays adjudicated to the
    single-writer scheduler (SURVEY §2.7); this pins the SELECT.
    Jobs synthesized from orders: status O=waiting / P=running,
    serial_group NULL for every 5th customer else g(o_custkey % 37)."""
    orders = _t(spark, sf_dir, "orders")
    jobs = orders.select(
        F.col("o_orderkey").alias("job_id"),
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_custkey") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("g"), (F.col("o_custkey") % 37).cast("string")))
        .alias("serial_group"),
        F.col("o_orderdate").alias("scheduled_date"),
    )
    running_groups = (
        jobs.where((F.col("status") == "P") & F.col("serial_group").isNotNull())
        .select("serial_group")
        .distinct()
    )
    eligible = jobs.where(F.col("status") == "O").join(
        F.broadcast(running_groups), "serial_group", "left_anti"
    )
    return (
        eligible.orderBy(F.col("scheduled_date").asc(), F.col("job_id").asc())
        .limit(10)
        .select("job_id", "serial_group", "scheduled_date")
    )


SQL_O7 = """
WITH jobs AS (
  SELECT o_orderkey AS job_id, o_orderstatus AS status,
         CASE WHEN o_custkey % 5 = 0 THEN NULL
              ELSE 'g' || CAST(o_custkey % 37 AS VARCHAR) END AS serial_group,
         o_orderdate AS scheduled_date
  FROM orders
),
running AS (
  SELECT DISTINCT serial_group FROM jobs
  WHERE status = 'P' AND serial_group IS NOT NULL
)
SELECT job_id, serial_group, scheduled_date FROM jobs
WHERE status = 'O'
  AND (serial_group IS NULL
       OR serial_group NOT IN (SELECT serial_group FROM running))
ORDER BY scheduled_date ASC, job_id ASC LIMIT 10
"""


def q_o8_waiting_reason(spark, sf_dir):
    """O8 (VERDICT r11 item 3; reference record_socket.py:1574-1629,
    route record_routes.py:72): the "why is my record still waiting"
    diagnostic, set-oriented — the reference classifies ONE record by
    walking the active-manager list; here ALL records classify in one
    plan (operators/diagnostics.py:waiting_reasons): eligible records
    LEFT-join the broadcast manager table, per-pair verdicts are the P7
    program-subset algebra + tag membership, and a groupBy folds them
    into the reference's exact reason strings with per-verdict counts
    (the set fold of its ``details`` dict).

    Records/tasks synthesized from orders: status O→waiting, P→running,
    else complete; every 50th record is a service; every 97th lacks a
    task row (the developer-error arm); tag t{custkey%6}; programs
    psi4 (+dftd3 if custkey%3==0, +mp2 if custkey%7==0).  The manager
    fixture is 5 literal rows, one inactive — operator-count-sized,
    broadcast; the record side never shuffles, so the plan is linear in
    |records| at any scale."""
    from .operators.diagnostics import waiting_reasons

    recs, managers = _waiting_fixture(spark, sf_dir)
    return waiting_reasons(recs, managers)


def _waiting_fixture(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    req = F.array_compact(
        F.array(
            F.lit("psi4"),
            F.when(F.col("o_custkey") % 3 == 0, F.lit("dftd3")),
            F.when(F.col("o_custkey") % 7 == 0, F.lit("mp2")),
        )
    )
    recs = orders.select(
        F.col("o_orderkey").alias("record_id"),
        F.when(F.col("o_orderstatus") == "O", F.lit("waiting"))
        .when(F.col("o_orderstatus") == "P", F.lit("running"))
        .otherwise(F.lit("complete"))
        .alias("status"),
        (F.col("o_orderkey") % 50 == 0).alias("is_service"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("t"), (F.col("o_custkey") % 6).cast("string")))
        .alias("compute_tag"),
        # programs NULL on a DIFFERENT stripe than the tag (%89 vs %97):
        # exercises the reference's OR'd missing-task short-circuit
        # (record_socket.py:1606 — rec_tag IS NULL OR rec_programs IS
        # NULL) on records where only ONE side is NULL (r13 ADVICE)
        F.when(
            (F.col("o_orderkey") % 97 == 0) | (F.col("o_orderkey") % 89 == 0),
            F.lit(None).cast("array<string>"),
        )
        .otherwise(req)
        .alias("required_programs"),
    )
    managers = local_df(
        spark,
        [
            ("m1", ["psi4", "dftd3", "mp2"], ["t0", "t1"], True),
            ("m2", ["psi4"], ["*"], True),
            ("m3", ["psi4", "dftd3"], ["t2", "t3"], True),
            ("m4", ["psi4", "dftd3", "mp2"], ["t4"], True),
            ("m5", ["psi4", "dftd3", "mp2"], ["*"], False),
        ],
        "m_name string, m_programs array<string>, m_tags array<string>, "
        "m_active boolean",
    )
    return recs, managers


SQL_O8 = """
WITH recs AS (
  SELECT o_orderkey AS record_id,
         CASE o_orderstatus WHEN 'O' THEN 'waiting'
                            WHEN 'P' THEN 'running'
                            ELSE 'complete' END AS status,
         (o_orderkey % 50 = 0) AS is_service,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL
              ELSE 't' || CAST(o_custkey % 6 AS VARCHAR) END AS compute_tag,
         CASE WHEN o_orderkey % 97 = 0 OR o_orderkey % 89 = 0 THEN NULL
              ELSE list_filter(
                     ['psi4',
                      CASE WHEN o_custkey % 3 = 0 THEN 'dftd3' END,
                      CASE WHEN o_custkey % 7 = 0 THEN 'mp2' END],
                     x -> x IS NOT NULL) END AS required_programs
  FROM orders
),
managers AS (
  SELECT * FROM (VALUES
    ('m1', ['psi4','dftd3','mp2'], ['t0','t1'], TRUE),
    ('m2', ['psi4'], ['*'], TRUE),
    ('m3', ['psi4','dftd3'], ['t2','t3'], TRUE),
    ('m4', ['psi4','dftd3','mp2'], ['t4'], TRUE),
    ('m5', ['psi4','dftd3','mp2'], ['*'], FALSE)
  ) AS t(m_name, m_programs, m_tags, m_active)
),
early AS (
  SELECT record_id,
         CASE WHEN is_service THEN 'Record is a service'
              WHEN status <> 'waiting' THEN 'Record is not waiting'
              ELSE 'Missing task? This is a developer error' END AS reason,
         CAST(0 AS BIGINT) AS n_missing_programs,
         CAST(0 AS BIGINT) AS n_wrong_tag,
         CAST(0 AS BIGINT) AS n_busy
  FROM recs
  WHERE is_service OR status <> 'waiting'
     OR compute_tag IS NULL OR required_programs IS NULL
),
pairs AS (
  SELECT r.record_id,
         CASE WHEN m.m_name IS NULL THEN NULL
              WHEN len(list_filter(r.required_programs,
                                   x -> NOT list_contains(m.m_programs, x))) > 0
                THEN 'missing_programs'
              WHEN NOT (list_contains(m.m_tags, r.compute_tag)
                        OR list_contains(m.m_tags, '*'))
                THEN 'wrong_tag'
              ELSE 'busy' END AS v
  FROM recs r
  LEFT JOIN (SELECT * FROM managers WHERE m_active) m ON TRUE
  WHERE NOT r.is_service AND r.status = 'waiting'
    AND r.compute_tag IS NOT NULL AND r.required_programs IS NOT NULL
),
agg AS (
  SELECT record_id,
         CAST(COALESCE(SUM(CASE WHEN v = 'missing_programs' THEN 1 END), 0) AS BIGINT)
           AS n_missing_programs,
         CAST(COALESCE(SUM(CASE WHEN v = 'wrong_tag' THEN 1 END), 0) AS BIGINT)
           AS n_wrong_tag,
         CAST(COALESCE(SUM(CASE WHEN v = 'busy' THEN 1 END), 0) AS BIGINT)
           AS n_busy,
         COUNT(v) AS n_mgr
  FROM pairs GROUP BY record_id
)
SELECT record_id, reason, n_missing_programs, n_wrong_tag, n_busy FROM early
UNION ALL
SELECT record_id,
       CASE WHEN n_mgr = 0 THEN 'No active managers'
            WHEN n_busy > 0 THEN 'Waiting for a free manager'
            ELSE 'No manager matches programs & tags' END AS reason,
       n_missing_programs, n_wrong_tag, n_busy
FROM agg
"""


def q_o12_waiting_details(spark, sf_dir):
    """O12 (r12 VERDICT item 3; reference record_socket.py:1617-1626):
    the per-manager ``details`` dict of get_waiting_reason — for every
    eligible waiting record, one row per active manager with the
    reference's exact detail string (missing-programs set rendered
    sorted, the deterministic member of the reference's hash-ordered set
    repr; tag-rejection with the quoted tag; "Manager is busy").  Same
    record/manager fixture as o8_waiting_reason; the drill-down arm
    beside its counts fold (operators/diagnostics.py:
    waiting_reason_details).  Plan: broadcast manager table, record side
    never shuffles; fan-out |waiting| × |active managers| is the
    documented drill-down contract (filter record ids first at fleet
    scale)."""
    from .operators.diagnostics import waiting_reason_details

    recs, managers = _waiting_fixture(spark, sf_dir)
    return waiting_reason_details(recs, managers)


SQL_O12 = """
WITH recs AS (
  SELECT o_orderkey AS record_id,
         CASE o_orderstatus WHEN 'O' THEN 'waiting'
                            WHEN 'P' THEN 'running'
                            ELSE 'complete' END AS status,
         (o_orderkey % 50 = 0) AS is_service,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL
              ELSE 't' || CAST(o_custkey % 6 AS VARCHAR) END AS compute_tag,
         CASE WHEN o_orderkey % 97 = 0 OR o_orderkey % 89 = 0 THEN NULL
              ELSE list_filter(
                     ['psi4',
                      CASE WHEN o_custkey % 3 = 0 THEN 'dftd3' END,
                      CASE WHEN o_custkey % 7 = 0 THEN 'mp2' END],
                     x -> x IS NOT NULL) END AS required_programs
  FROM orders
),
managers AS (
  SELECT * FROM (VALUES
    ('m1', ['psi4','dftd3','mp2'], ['t0','t1'], TRUE),
    ('m2', ['psi4'], ['*'], TRUE),
    ('m3', ['psi4','dftd3'], ['t2','t3'], TRUE),
    ('m4', ['psi4','dftd3','mp2'], ['t4'], TRUE),
    ('m5', ['psi4','dftd3','mp2'], ['*'], FALSE)
  ) AS t(m_name, m_programs, m_tags, m_active)
)
SELECT r.record_id, m.m_name,
       CASE
         WHEN len(list_filter(r.required_programs,
                              x -> NOT list_contains(m.m_programs, x))) > 0
           THEN 'Manager missing programs: {' ||
                array_to_string(
                  list_transform(
                    list_sort(list_filter(r.required_programs,
                                 x -> NOT list_contains(m.m_programs, x))),
                    x -> '''' || x || ''''),
                  ', ') || '}'
         WHEN NOT (list_contains(m.m_tags, r.compute_tag)
                   OR list_contains(m.m_tags, '*'))
           THEN 'Manager does not handle tag "' || r.compute_tag || '"'
         ELSE 'Manager is busy'
       END AS detail
FROM recs r
JOIN (SELECT * FROM managers WHERE m_active) m ON TRUE
WHERE NOT r.is_service AND r.status = 'waiting'
  AND r.compute_tag IS NOT NULL AND r.required_programs IS NOT NULL
"""


def q_o9_service_replay(spark, sf_dir):
    """T5 under the hash gate (VERDICT r11 item 5; reference
    services/socket.py:65-300): an end-to-end ServiceLoop replay — a
    3-level service (fan-out 3/2/1, the many-body shape) driven through
    SingleWriterQueue claim/return cycles, where each dependency's
    "computation" is a decimal-exact aggregate over an events bucket
    (``SUM(value::decimal)`` for ``event_id % 7 == (3·level+i) % 7``).
    The returned relation is the per-iteration state history (consumed
    count, consumed sum, cumulative service total, done flag) plus the
    record-status fold read from the REAL queue statuses — the
    g1_pagerank iterative-oracle pattern applied to queue state.  One
    Spark scan computes all six bucket results (7-row collect); every
    other value is queue/service machinery whose outcome the unrolled
    oracle CTEs recompute independently.  Workers associate results to
    specs via ``ServiceLoop.specs`` (the r11 ADVICE fix)."""
    from decimal import Decimal

    from .streaming.queue import ServiceLoop, SingleWriterQueue

    events = _t(spark, sf_dir, "events")
    buckets = {
        int(r["b"]): r["s"]
        for r in events.groupBy((F.col("event_id") % 7).alias("b"))
        .agg(F.sum(F.col("value").cast("decimal(20,6)")).alias("s"))
        .collect()
    }
    fan = {0: 3, 1: 2, 2: 1}

    def iterate(state, results):
        level = state["level"]
        total = state["total"] + sum(results.values(), Decimal(0))
        if level >= 3:
            return {"level": level, "total": total}, [], True
        specs = [(3 * level + i) % 7 for i in range(fan[level])]
        return {"level": level + 1, "total": total}, specs, False

    queue = SingleWriterQueue(
        tasks=local_df(
            spark,
            [],
            "id long, record_id long, compute_tag string, compute_priority int, "
            "sort_date timestamp, available boolean, required_programs array<string>",
        )
    )
    queue.register_manager("m", programs=["prog"], tags=["*"])
    loop = ServiceLoop(
        queue=queue,
        service_state={"level": 0, "total": Decimal(0)},
        iterate_fn=iterate,
    )
    rows = []
    prev_total = Decimal(0)
    while loop.status == "running":
        if not loop.iterate():
            raise RuntimeError("service gate failed to fire")  # pragma: no cover
        h = loop.history[-1]
        total = h["state"]["total"]
        n_complete = sum(
            1 for s in queue.statuses.values() if s == "complete"
        )
        rows.append(
            (
                len(loop.history) - 1,
                len(h["consumed"]),
                float(total - prev_total),
                float(total),
                bool(h["done"]),
                n_complete,
            )
        )
        prev_total = total
        if h["done"]:
            break
        for t in queue.claim("m", limit=10):
            rid = t["record_id"]
            loop.record_result(rid, buckets.get(loop.specs[rid], Decimal(0)))
            queue.return_task("m", t["id"], rid, ok=True)
    return local_df(
        spark,
        rows,
        "iteration bigint, n_consumed bigint, consumed_sum double, "
        "total double, done boolean, n_complete bigint",
    )


SQL_O9 = """
WITH b AS (
  SELECT CAST(event_id % 7 AS BIGINT) AS bucket,
         SUM(CAST(value AS DECIMAL(20,6))) AS s
  FROM events GROUP BY 1
),
v AS (
  SELECT
    COALESCE(MAX(CASE WHEN bucket = 0 THEN s END), 0) AS s0,
    COALESCE(MAX(CASE WHEN bucket = 1 THEN s END), 0) AS s1,
    COALESCE(MAX(CASE WHEN bucket = 2 THEN s END), 0) AS s2,
    COALESCE(MAX(CASE WHEN bucket = 3 THEN s END), 0) AS s3,
    COALESCE(MAX(CASE WHEN bucket = 4 THEN s END), 0) AS s4,
    COALESCE(MAX(CASE WHEN bucket = 6 THEN s END), 0) AS s6
  FROM b
)
SELECT CAST(0 AS BIGINT) AS iteration, CAST(0 AS BIGINT) AS n_consumed,
       CAST(0 AS DOUBLE) AS consumed_sum, CAST(0 AS DOUBLE) AS total,
       FALSE AS done, CAST(0 AS BIGINT) AS n_complete
UNION ALL
SELECT 1, 3, CAST(s0 + s1 + s2 AS DOUBLE), CAST(s0 + s1 + s2 AS DOUBLE),
       FALSE, 3 FROM v
UNION ALL
SELECT 2, 2, CAST(s3 + s4 AS DOUBLE), CAST(s0 + s1 + s2 + s3 + s4 AS DOUBLE),
       FALSE, 5 FROM v
UNION ALL
SELECT 3, 1, CAST(s6 AS DOUBLE),
       CAST(s0 + s1 + s2 + s3 + s4 + s6 AS DOUBLE), TRUE, 6 FROM v
"""


def q_o10_manager_reap(spark, sf_dir):
    """O10 (reference managers/socket.py:325-350 →
    check_manager_heartbeats → :126-186 deactivate(modified_before,
    'missing heartbeat') → record_socket.py:932-973 reset_assigned):
    the heartbeat reap as ONE set-oriented report
    (operators/diagnostics.py:reap_dead_managers) — per manager:
    post-reap status, deactivation reason, and how many of its RUNNING
    non-service records recycle back to waiting (the reference's
    "Recycling N incomplete tasks" log line, computed instead of
    logged).

    Fixtures synthesized deterministically: managers from supplier
    (every 7th already inactive; m_modified_on = epoch +
    (s_suppkey %% 97)h, cutoff at +48h so staleness varies), records
    from orders (O→waiting/P→running/else complete, every 50th a
    service, managers assigned round-robin by custkey to all
    non-waiting records).  Scale shape: one map-combinable groupBy on
    manager_name over the filter-pruned running slice; the per-manager
    counts broadcast into the operator-count-sized manager dim — the
    record side never joins row-by-row."""
    from .operators.diagnostics import reap_dead_managers

    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nsupp = sup.count()
    managers = sup.select(
        F.concat(F.lit("mgr"), F.col("s_suppkey").cast("string")).alias("m_name"),
        F.when(F.col("s_suppkey") % 7 == 0, F.lit("inactive"))
        .otherwise(F.lit("active"))
        .alias("m_status"),
        (F.lit(1700000000) + (F.col("s_suppkey") % 97) * 3600)
        .cast("bigint")
        .alias("m_modified_on"),
    )
    status = (
        F.when(F.col("o_orderstatus") == "O", F.lit("waiting"))
        .when(F.col("o_orderstatus") == "P", F.lit("running"))
        .otherwise(F.lit("complete"))
    )
    records = orders.select(
        F.col("o_orderkey").alias("record_id"),
        status.alias("status"),
        (F.col("o_orderkey") % 50 == 0).alias("is_service"),
        F.when(F.col("o_orderstatus") == "O", F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.lit("mgr"), (F.col("o_custkey") % nsupp + 1).cast("string")
            )
        )
        .alias("manager_name"),
    )
    return reap_dead_managers(managers, records, 1700000000 + 48 * 3600)


SQL_O10 = """
WITH managers AS (
  SELECT 'mgr' || CAST(s_suppkey AS VARCHAR) AS m_name,
         CASE WHEN s_suppkey % 7 = 0 THEN 'inactive' ELSE 'active' END
           AS m_status,
         1700000000 + (s_suppkey % 97) * 3600 AS m_modified_on
  FROM supplier
),
recs AS (
  SELECT o_orderkey AS record_id,
         CASE o_orderstatus WHEN 'O' THEN 'waiting'
                            WHEN 'P' THEN 'running'
                            ELSE 'complete' END AS status,
         (o_orderkey % 50 = 0) AS is_service,
         CASE WHEN o_orderstatus = 'O' THEN NULL
              ELSE 'mgr' || CAST(o_custkey % (SELECT COUNT(*) FROM supplier)
                                 + 1 AS VARCHAR) END AS manager_name
  FROM orders
),
counts AS (
  SELECT manager_name, COUNT(*) AS n_running
  FROM recs
  WHERE status = 'running' AND NOT is_service AND manager_name IS NOT NULL
  GROUP BY manager_name
)
SELECT m.m_name,
       CASE WHEN (m.m_status = 'active'
                  AND m.m_modified_on < 1700000000 + 48 * 3600)
                 OR m.m_status = 'inactive'
            THEN 'inactive' ELSE 'active' END AS status_after,
       CASE WHEN m.m_status = 'active'
                 AND m.m_modified_on < 1700000000 + 48 * 3600
            THEN 'missing heartbeat' END AS reason,
       CAST(CASE WHEN m.m_status = 'active'
                      AND m.m_modified_on < 1700000000 + 48 * 3600
                 THEN COALESCE(c.n_running, 0) ELSE 0 END AS BIGINT)
         AS n_recycled
FROM managers m LEFT JOIN counts c ON c.manager_name = m.m_name
"""


def q_o11_status_replay(spark, sf_dir):
    """O11 (reference record_socket.py:975-1400 — the reset/cancel/
    invalidate/delete state machine of test_record_status_changes): the
    full transition matrix replayed set-oriented
    (operators/diagnostics.py:status_transition_replay) — every record
    gets a forward op and its matching revert, outcomes folded per
    (op, original status): rejects where the status isn't applicable,
    the running→waiting demotion before backup, and backup-exact
    restore (cancel→uncancel of a RUNNING record ends at waiting —
    the reference's documented behavior, not a simplification).

    Fixture: status = custkey-mod over all 7 reference statuses, op =
    orderkey-mod over the 4 ops.  One scan, pure CASE algebra, one
    map-combinable groupBy on |ops|·|statuses| keys — constant-size
    output at any corpus scale."""
    from .operators.diagnostics import status_transition_replay

    orders = _t(spark, sf_dir, "orders")
    ops = F.array(
        F.lit("delete"), F.lit("cancel"), F.lit("invalidate"), F.lit("reset")
    )
    sts = F.array(
        F.lit("waiting"), F.lit("running"), F.lit("complete"), F.lit("error"),
        F.lit("cancelled"), F.lit("invalid"), F.lit("deleted"),
    )
    recs = orders.select(
        F.element_at(ops, (F.col("o_orderkey") % 4 + 1).cast("int")).alias("op"),
        F.element_at(sts, (F.col("o_custkey") % 7 + 1).cast("int")).alias(
            "status"
        ),
    )
    return status_transition_replay(recs)


SQL_O11 = """
WITH recs AS (
  SELECT CASE o_orderkey % 4 WHEN 0 THEN 'delete' WHEN 1 THEN 'cancel'
              WHEN 2 THEN 'invalidate' ELSE 'reset' END AS op,
         CASE o_custkey % 7 WHEN 0 THEN 'waiting' WHEN 1 THEN 'running'
              WHEN 2 THEN 'complete' WHEN 3 THEN 'error'
              WHEN 4 THEN 'cancelled' WHEN 5 THEN 'invalid'
              ELSE 'deleted' END AS status
  FROM orders
),
ev AS (
  SELECT op, status,
    CASE WHEN op = 'delete' AND status <> 'deleted' THEN TRUE
         WHEN op = 'cancel' AND status IN ('waiting','running','error')
           THEN TRUE
         WHEN op = 'invalidate' AND status = 'complete' THEN TRUE
         WHEN op = 'reset' AND status = 'error' THEN TRUE
         ELSE FALSE END AS accepted,
    CASE op WHEN 'delete' THEN 'deleted' WHEN 'cancel' THEN 'cancelled'
            WHEN 'invalidate' THEN 'invalid' ELSE 'waiting' END AS target,
    CASE WHEN status = 'running' THEN 'waiting' ELSE status END AS demoted
  FROM recs
)
SELECT op, status AS original_status,
       CASE WHEN accepted THEN 'updated' ELSE 'rejected' END AS outcome,
       CASE WHEN accepted THEN target ELSE status END AS after_forward,
       CASE WHEN accepted AND op <> 'reset' THEN demoted END AS backup_status,
       CASE WHEN NOT accepted THEN status
            WHEN op = 'reset' THEN 'waiting'
            ELSE demoted END AS after_revert,
       COUNT(*) AS n
FROM ev
GROUP BY 1, 2, 3, 4, 5, 6
"""


def q_j2_subspec_join(spark, sf_dir):
    """J2 as its OWN gated row (VERDICT r10 item 4): the 2-level spec
    chain record → spec → subspec through the join-ELISION builder
    (operators/joins.py:spec_chain_join; reference
    optimization/record_socket.py:413-457 adds each join lazily only when
    a filter/projection needs that level).  Here BOTH levels carry a
    filter and a projection, so the full chain joins — broadcast at each
    level, the record side never shuffles.  The elision arm (no subspec
    filter ⇒ no subspec join; nothing needed ⇒ bare scan) is pinned by
    tests/test_spec_chain.py plan assertions."""
    from .operators.joins import spec_chain_join

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    out = spec_chain_join(
        cust.select("c_custkey", "c_mktsegment", "c_nationkey"),
        nation,
        region,
        record_spec_key=("c_nationkey", "n_nationkey"),
        spec_subspec_key=("n_regionkey", "r_regionkey"),
        spec_cols=["n_name"],
        subspec_cols=["r_name"],
        spec_filter=F.col("n_name") >= "J",
        subspec_filter=F.col("r_name").isin("ASIA", "EUROPE"),
    )
    return out.select("c_custkey", "c_mktsegment", "n_name", "r_name")


SQL_J2 = """
SELECT c_custkey, c_mktsegment, n_name, r_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE n_name >= 'J' AND r_name IN ('ASIA', 'EUROPE')
"""


def q_j17_spec_chain3(spark, sf_dir):
    """J2's 3-LEVEL analog (VERDICT r11 item 4; the reference's
    torsiondrive/neb/gridoptimization → optimization_spec → qc_spec
    chains, SURVEY §2.3 J2 row) through the N-level elision builder
    (operators/joins.py:spec_chain_join_n).  orders → customer → nation
    → region stands in for record → spec → subspec → subsubspec; every
    level carries a filter and a projection so the full 3-join chain
    materializes — each level broadcast and pre-filtered, the record
    (orders) side never shuffles.  Depth-wise elision (0/1/2/3 joins)
    is pinned by tests/test_spec_chain.py plan assertions."""
    from .operators.joins import spec_chain_join_n

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    out = spec_chain_join_n(
        orders.select("o_orderkey", "o_orderstatus", "o_custkey"),
        [
            {
                "df": cust,
                "key": ("o_custkey", "c_custkey"),
                "cols": ["c_mktsegment"],
                "filter": F.col("c_mktsegment").isin("BUILDING", "MACHINERY"),
            },
            {
                "df": nation,
                "key": ("c_nationkey", "n_nationkey"),
                "cols": ["n_name"],
                "filter": F.col("n_name") >= "J",
            },
            {
                "df": region,
                "key": ("n_regionkey", "r_regionkey"),
                "cols": ["r_name"],
                "filter": F.col("r_name").isin("ASIA", "EUROPE"),
            },
        ],
    )
    return out.select(
        "o_orderkey", "o_orderstatus", "c_mktsegment", "n_name", "r_name"
    )


SQL_J17 = """
SELECT o_orderkey, o_orderstatus, c_mktsegment, n_name, r_name
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
  AND n_name >= 'J' AND r_name IN ('ASIA', 'EUROPE')
"""


def q_j18_project_list(spark, sf_dir):
    """J18 (reference project_socket.py:158-204 ``list()``): the project
    inventory — every project with its record count, dataset count, and
    owner username.  The reference's exact shape is the scale-correct
    one and is kept verbatim: both counts PRE-AGGREGATE in their own
    relation (GROUP BY project_id — map-combinable, never a
    fact × dim row explosion), then LEFT-join into the tiny project
    dimension with COALESCE 0, plus a LEFT join to users (isouter —
    ownerless projects list with a NULL username).

    Fixtures: projects from nation (owner = region user, every 5th
    ownerless), users from region, project-records from orders
    (custkey % 25), project-datasets from supplier (suppkey % 25)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    projects = nation.select(
        F.col("n_nationkey").alias("project_id"),
        F.col("n_name").alias("project_name"),
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("n_regionkey"))
        .alias("owner_user_id"),
    )
    users = region.select(
        F.col("r_regionkey").alias("user_id"),
        F.lower(F.col("r_name")).alias("username"),
    )
    rec_counts = (
        orders.groupBy((F.col("o_custkey") % 25).alias("project_id"))
        .agg(F.count(F.lit(1)).alias("_rc"))
    )
    ds_counts = (
        sup.groupBy((F.col("s_suppkey") % 25).alias("project_id"))
        .agg(F.count(F.lit(1)).alias("_dc"))
    )
    return (
        projects.join(F.broadcast(rec_counts), "project_id", "left")
        .join(F.broadcast(ds_counts), "project_id", "left")
        .join(F.broadcast(users), F.col("owner_user_id") == F.col("user_id"), "left")
        .select(
            "project_id",
            "project_name",
            F.coalesce("_rc", F.lit(0)).cast("bigint").alias("record_count"),
            F.coalesce("_dc", F.lit(0)).cast("bigint").alias("dataset_count"),
            F.col("username").alias("owner_user"),
        )
    )


SQL_J18 = """
WITH rc AS (
  SELECT o_custkey % 25 AS project_id, COUNT(*) AS record_count
  FROM orders GROUP BY 1
),
dc AS (
  SELECT s_suppkey % 25 AS project_id, COUNT(*) AS dataset_count
  FROM supplier GROUP BY 1
)
SELECT n.n_nationkey AS project_id, n.n_name AS project_name,
       CAST(COALESCE(rc.record_count, 0) AS BIGINT) AS record_count,
       CAST(COALESCE(dc.dataset_count, 0) AS BIGINT) AS dataset_count,
       lower(r.r_name) AS owner_user
FROM nation n
LEFT JOIN rc ON rc.project_id = n.n_nationkey
LEFT JOIN dc ON dc.project_id = n.n_nationkey
LEFT JOIN region r
  ON n.n_nationkey % 5 <> 0 AND r.r_regionkey = n.n_regionkey
"""


def q_j9_anti_join(spark, sf_dir):
    """J9/U4: anti-join — keys with no match (insert dedup "missing" set,
    helpers.py:663-694): customers with no high-value order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 400000.0)
    return joins.anti_join_keys(
        cust.withColumn("o_custkey", F.col("c_custkey")), big, ["o_custkey"]
    ).select("c_custkey", "c_name")


SQL_J9 = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
"""


def q_j10_count_join(spark, sf_dir):
    """J10: left join to pre-aggregated counts + COALESCE(count,0)
    (dataset_socket.py:228-257)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("order_count")
    )
    return joins.left_join_coalesce_count(
        cust, counts, on="c_custkey", count_col="order_count"
    ).select("c_custkey", "order_count")


SQL_J10 = """
SELECT c_custkey, COALESCE(cnt, 0) AS order_count
FROM customer
LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) o
  ON c_custkey = o_custkey
"""


def q_j8_closure(spark, sf_dir):
    """J8: recursive closure — all transitive descendants of two region
    roots via the iterative BFS loop (record_socket.py:150-236; oracle uses
    WITH RECURSIVE)."""
    region = _t(spark, sf_dir, "region")
    edges = build_edges(spark, sf_dir)
    seeds = region.where(F.col("r_name").isin("ASIA", "AMERICA")).select(
        (F.lit(1_000_000) + F.col("r_regionkey")).cast("long").alias("id")
    )
    return graph.descendants(seeds, edges).select("id")


SQL_J8 = f"""
WITH RECURSIVE edges AS ({_EDGES_SQL}),
seeds AS (
  SELECT CAST(1000000 + r_regionkey AS BIGINT) AS id FROM region
  WHERE r_name IN ('ASIA', 'AMERICA')
),
rec AS (
  SELECT id FROM seeds
  UNION
  SELECT e.child_id FROM rec r JOIN edges e ON e.parent_id = r.id
)
-- descendants(include_self=False) = everything reachable via >= 1 hop:
-- the hop-targets of closure members (seeds included), which keeps a seed
-- that is itself a descendant of another seed — the operator's semantics
-- (operators/graph.py:_drop_unreached_seeds), not a blanket seed removal.
SELECT DISTINCT e.child_id AS id
FROM rec r JOIN edges e ON e.parent_id = r.id
"""

# --------------------------------------------------------------------------
# §2.4 aggregations
# --------------------------------------------------------------------------


def q_a2_status_counts(spark, sf_dir):
    """A2 (slice 0): status histogram (base_record_socket.py:469-477)."""
    orders = _t(spark, sf_dir, "orders")
    return agg.status_counts(orders, "o_orderstatus")


SQL_A2 = "SELECT o_orderstatus, COUNT(*) AS count FROM orders GROUP BY o_orderstatus"


def q_a5_two_col_counts(spark, sf_dir):
    """A3/A5: two-column count matrix (serverinfo/socket.py:682-689)."""
    orders = _t(spark, sf_dir, "orders")
    return agg.grouped_counts(orders, ["o_orderpriority", "o_orderstatus"])


SQL_A5 = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS count
FROM orders GROUP BY o_orderpriority, o_orderstatus
"""


def q_a6_access_summary(spark, sf_dir):
    """A6/F1/F12: telemetry summary — day bucket × type, count/min/max +
    exact discrete percentiles (serverinfo/socket.py:443-539)."""
    events = _t(spark, sf_dir, "events")
    return agg.access_summary(
        events, "ts", "day", ["event_type"], ["value"]
    )


SQL_A6 = """
SELECT strftime(ts, '%Y-%m-%d') AS bucket, event_type,
       COUNT(*) AS count,
       MIN(value) AS value_min, MAX(value) AS value_max,
       quantile_disc(value, 0.25) AS value_p25,
       quantile_disc(value, 0.50) AS value_p50,
       quantile_disc(value, 0.75) AS value_p75,
       quantile_disc(value, 0.95) AS value_p95
FROM events GROUP BY 1, 2
"""


def q_a7_json_rollup(spark, sf_dir):
    """A7/F2/F4: SUM of a JSON-derived expression grouped by date truncation
    (cpu-hours rollup, serverinfo/socket.py:645-708)."""
    events = _t(spark, sf_dir, "events")
    cpu = F.coalesce(F.get_json_object("props", "$.k").cast("double"), F.lit(0.0)) * F.col(
        "value"
    )
    return events.groupBy(F.to_date("ts").alias("day")).agg(
        _dsum(cpu, "total_cpu"), F.count(F.lit(1)).alias("n")
    )


SQL_A7 = """
SELECT CAST(ts AS DATE) AS day,
       CAST(SUM(CAST(COALESCE(CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.0)
                     * value AS DECIMAL(20,6))) AS DOUBLE) AS total_cpu,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


def q_a8_status_gate(spark, sf_dir):
    """A8: array_agg of per-parent statuses + containment gates
    (services/socket.py:170-227)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws("", F.array_sort(F.collect_list("l_linestatus"))).alias("statuses"),
        F.bool_and(F.col("l_linestatus") == "F").alias("all_finished"),
        F.bool_or(F.col("l_linestatus") == "O").alias("any_open"),
    )


SQL_A8 = """
SELECT l_orderkey,
       string_agg(l_linestatus, '' ORDER BY l_linestatus) AS statuses,
       bool_and(l_linestatus = 'F') AS all_finished,
       bool_or(l_linestatus = 'O') AS any_open
FROM lineitem GROUP BY l_orderkey
"""


def q_a9_argmin(spark, sf_dir):
    """A9: DISTINCT ON argmin-per-group with tie-break ordering
    (torsiondrive/record_db_models.py:120-136)."""
    li = _t(spark, sf_dir, "lineitem", fan=True)
    return agg.argmin_per_group(
        li,
        ["l_orderkey"],
        [F.col("l_extendedprice").asc(), F.col("l_linenumber").asc()],
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


SQL_A9 = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
QUALIFY row_number() OVER (
  PARTITION BY l_orderkey ORDER BY l_extendedprice ASC, l_linenumber ASC) = 1
"""


def q_a10_map_agg(spark, sf_dir):
    """A10: jsonb_object_agg — per-group key→value map as canonical JSON
    (torsiondrive/record_db_models.py:138-146).  Keys deduped by a
    pre-aggregation (sum per linenumber) since the synthetic lineitem can
    repeat linenumbers within an order."""
    li = _t(spark, sf_dir, "lineitem", fan=True)
    per_line = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty")
    )
    entries = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").cast("string").alias("k"),
                F.col("qty").alias("v"),
            )
        )
    )
    return per_line.groupBy("l_orderkey").agg(
        F.to_json(F.map_from_entries(entries)).alias("qty_map")
    )


SQL_A10 = """
WITH per_line AS (
  SELECT l_orderkey, l_linenumber,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY l_orderkey, l_linenumber
)
SELECT l_orderkey,
       to_json(map_from_entries(list_sort(array_agg(
         struct_pack(k := CAST(l_linenumber AS VARCHAR), v := qty))))) AS qty_map
FROM per_line GROUP BY l_orderkey
"""


def q_a12_weighted_sum(spark, sf_dir):
    """A12: Σ coefficient × value per group (reaction energy,
    reaction/record_socket.py:198-275) — revenue as the stand-in."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "weighted_sum")
    )


SQL_A12 = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
         AS weighted_sum
FROM lineitem GROUP BY l_returnflag
"""


def q_a14_pivot(spark, sf_dir):
    """A14: compile_values pivot — long→wide matrix
    (qcportal/dataset_models.py:2168-2265)."""
    orders = _t(spark, sf_dir, "orders")
    mat = pivot.compile_values_pivot(
        orders, "o_orderpriority", "o_orderstatus", F.lit(1), spec_values=["F", "O", "P"],
        agg="count",
    )
    return mat.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["F", "O", "P"]],
    )


SQL_A14 = """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
FROM orders GROUP BY o_orderpriority
"""


def q_a16_dedup_batch(spark, sf_dir):
    """A16/U3: input-batch dedup with duplicate-count report
    (helpers.py:234-254 map_duplicates)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("l_orderkey").alias("first_key"))
    )


SQL_A16 = """
SELECT l_partkey, l_suppkey, COUNT(*) AS dup_count, MIN(l_orderkey) AS first_key
FROM lineitem GROUP BY l_partkey, l_suppkey
"""

# --------------------------------------------------------------------------
# §2.5 sorts / top-k, §2.8 windows
# --------------------------------------------------------------------------


def q_o2_priority_topk(spark, sf_dir):
    """O2/O3: per-group priority top-k — the task-claim selection
    (tasks/socket.py:303-358) over events as the queue stand-in."""
    events = _t(spark, sf_dir, "events")
    return topk.per_group_topk(
        events,
        ["event_type"],
        [F.col("value").desc(), F.col("ts").asc(), F.col("event_id").asc()],
        5,
    ).select("event_id", "event_type", "value")


SQL_O2 = """
SELECT event_id, event_type, value FROM events
QUALIFY row_number() OVER (
  PARTITION BY event_type ORDER BY value DESC, ts ASC, event_id ASC) <= 5
"""


def q_w1_window_lag(spark, sf_dir):
    """§2.8: ranking/lag + running sum windows (the dataset-analytics
    post-processing surface)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
        F.round(F.sum("value").over(wsum), 6).alias("running_sum"),
    )


SQL_W1 = """
SELECT event_id, user_id,
       ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6)
         AS delta,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_sum
FROM events
"""


def q_t3_hourly_rollup(spark, sf_dir):
    """T3: tumbling-window rollup (daily-stats upsert shape,
    serverinfo/socket.py:645-708) — batch form of the streaming aggregation."""
    events = _t(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return events.groupBy(win.alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("count"), _dsum(F.col("value"), "value_sum")
    ).select(F.col("w.start").alias("window_start"), "event_type", "count", "value_sum")


SQL_T3 = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS count,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum
FROM events GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# §2.1/2.6 mutation-classify & dataset matrix
# --------------------------------------------------------------------------


def q_s4_upsert_classify(spark, sf_dir):
    """S3/S4: which input keys are new vs existing (ON CONFLICT ... RETURNING
    classification, helpers.py:728-813)."""
    part = _t(spark, sf_dir, "part")
    batch = spark.range(190, 211).select(F.col("id").alias("p_partkey"))
    return keyed.upsert_classify(part.select("p_partkey"), batch, ["p_partkey"]).select(
        "p_partkey", "_inserted"
    )


SQL_S4 = """
SELECT CAST(i AS BIGINT) AS p_partkey,
       i NOT IN (SELECT p_partkey FROM part) AS _inserted
FROM unnest(generate_series(190, 210)) t(i)
"""


def q_ds_missing_cells(spark, sf_dir):
    """Dataset submit: entry×spec cross product minus existing cells
    (base_dataset_socket.py:1254-1443)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    entries = cust.where(F.col("c_custkey") < 50).select(
        F.col("c_custkey").alias("entry")
    )
    specs = orders.select(F.col("o_orderstatus").alias("spec")).dropDuplicates(["spec"])
    items = orders.where(F.col("o_custkey") < 50).select(
        F.col("o_custkey").alias("entry"), F.col("o_orderstatus").alias("spec")
    )
    return ds.missing_cells(entries, specs, items, entry_col="entry", spec_col="spec")


SQL_DS_MISSING = """
WITH entries AS (SELECT c_custkey AS entry FROM customer WHERE c_custkey < 50),
specs AS (SELECT DISTINCT o_orderstatus AS spec FROM orders),
items AS (SELECT DISTINCT o_custkey AS entry, o_orderstatus AS spec
          FROM orders WHERE o_custkey < 50)
SELECT e.entry, s.spec FROM entries e CROSS JOIN specs s
WHERE NOT EXISTS (SELECT 1 FROM items i WHERE i.entry = e.entry AND i.spec = s.spec)
"""


def q_u3_distinct(spark, sf_dir):
    """U3: DISTINCT over a projection (record_socket.py:332)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").dropDuplicates(
        ["l_returnflag", "l_linestatus"]
    )


SQL_U3 = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"

# --------------------------------------------------------------------------
# headline analytics (bench queries)
# --------------------------------------------------------------------------


def q_h1_pricing_summary(spark, sf_dir):
    """Headline: TPC-H Q1-style pricing summary — full-scan multi-aggregate
    with derived averages (exact decimal sums)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    grouped = li.where(F.col("l_shipdate") <= F.lit(datetime(1998, 9, 2))).groupBy(
        "l_returnflag", "l_linestatus"
    ).agg(
        _dsum(F.col("l_quantity"), "sum_qty"),
        _dsum(F.col("l_extendedprice"), "sum_base_price"),
        _dsum(disc_price, "sum_disc_price"),
        _dsum(charge, "sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return grouped.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_price") / F.col("count_order"), 6).alias("avg_price"),
        "count_order",
    )


SQL_H1 = """
WITH g AS (
  SELECT l_returnflag, l_linestatus,
    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
      AS sum_disc_price,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(20,6)))
      AS DOUBLE) AS sum_charge,
    COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge,
       ROUND(sum_qty / count_order, 6) AS avg_qty,
       ROUND(sum_base_price / count_order, 6) AS avg_price,
       count_order
FROM g
"""


def q_h3_top_revenue(spark, sf_dir):
    """Headline: TPC-H Q3-style — join + agg + deterministic top-k."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    cutoff = datetime(1997, 1, 1)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        orders.where(F.col("o_orderdate") < F.lit(cutoff))
        .join(F.broadcast(building), orders["o_custkey"] == building["c_custkey"])
        .join(
            li.where(F.col("l_shipdate") > F.lit(cutoff)),
            orders["o_orderkey"] == li["l_orderkey"],
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SQL_H3 = """
SELECT o_orderkey, o_orderdate,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
    AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""

# --------------------------------------------------------------------------
# Beyond-reference: text analysis / dedup / similarity (BASELINE.json north star)
# --------------------------------------------------------------------------


def q_tx_text_stats(spark, sf_dir):
    """Text analysis: token counts (whitespace + BPE-ish), language-ID
    heuristic, quality score — all JVM-side expressions."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    t = F.col("text")
    return docs.select(
        "doc_id",
        tx.token_count(t).alias("n_tokens"),
        tx.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        tx.lang_id(t).alias("lang_pred"),
        tx.quality_score(t).alias("quality"),
    )


def _sql_stop_hits(lang_list: str) -> str:
    return (
        f"len(list_filter({_TOKS_SQL}, x -> list_contains({lang_list}, x)))"
    )


_EN = "['the','and','of','to','in','is','that','for','with','was']"
_DE = "['der','die','das','und','ist','von','mit','ein','nicht','auf']"
_FR = "['le','la','les','et','est','des','un','une','dans','que']"
_ES = "['el','la','los','de','y','es','que','un','una','por']"

SQL_TX_STATS = f"""
WITH base AS (
  SELECT doc_id, text,
    CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
      AS n_bpe_tokens,
    {_sql_stop_hits(_EN)} AS en_h,
    {_sql_stop_hits(_DE)} AS de_h,
    {_sql_stop_hits(_FR)} AS fr_h,
    {_sql_stop_hits(_ES)} AS es_h,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct
  FROM documents
),
scored AS (
  SELECT *,
    greatest(en_h, de_h, fr_h, es_h) AS mx,
    alpha / greatest(n_chars, 1.0) AS alpha_ratio,
    punct / greatest(n_chars, 1.0) AS punct_ratio,
    CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END AS mean_tok_len,
    CASE WHEN n_tokens >= 10 AND n_tokens <= 5000 THEN 1.0
         WHEN n_tokens > 0 THEN 0.5 ELSE 0.0 END AS len_band
  FROM base
)
SELECT doc_id, n_tokens, n_bpe_tokens,
  CASE WHEN mx = 0 THEN 'und'
       WHEN de_h = mx THEN 'de'
       WHEN en_h = mx THEN 'en'
       WHEN es_h = mx THEN 'es'
       ELSE 'fr' END AS lang_pred,
  ROUND(alpha_ratio * 0.4
        + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
        + len_band * 0.2
        + (CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 12.0
                THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality
FROM scored
"""


def q_dd_exact(spark, sf_dir):
    """Exact dedup: canonical-text fingerprint groups with keeper id.

    r16: fan=True reverted (VERDICT r15 item 3) — the driver box measured
    the r15 opt-in a regression at BOTH core counts (0.35 s r14 → 2.29 s
    @32c / 0.67 s @8c): one md5-groupBy over a light scan is cheaper than
    the added exchange + 32-task scheduling at bench scale."""
    docs = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs).select("fingerprint", "keep_id", "dup_count")


SQL_DD_EXACT = """
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents WHERE text IS NOT NULL GROUP BY 1
"""


def q_dd_jaccard(spark, sf_dir):
    """Near-dup pairs by exact 5-gram Jaccard ≥ 0.5 (bucket-local pair
    generation — no all-pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(docs, k=5, threshold=0.5)


SQL_DD_JACCARD = """
WITH docs AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, substring(t, i, 5) AS shingle
  FROM docs, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS u(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(common * 1.0 / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(common * 1.0 / (sa.n_sh + sb.n_sh - common), 6) >= 0.5
"""


def q_dd_simhash(spark, sf_dir):
    """SimHash 32-bit signatures over the distinct-token set."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    return dd.simhash(docs)


SQL_DD_SIMHASH = f"""
WITH docs AS (
  SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS tk FROM docs),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tk), 1, 8))::BIGINT AS h FROM tok
),
bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, unnest(generate_series(0, 31)) AS u(j)
  GROUP BY doc_id, j
)
SELECT doc_id AS id,
       CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END) AS BIGINT)
         AS simhash
FROM bits GROUP BY doc_id
"""


def q_dd_minhash_lsh(spark, sf_dir):
    """MinHash(16 perms) + LSH banding (4 bands × 4 rows) candidate pairs.
    Signatures use the portable md5-derived hash, so this is exactly
    reproducible; the oracle (SQL_DD_MINHASH) replays the same permutation
    table and banding in DuckDB."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    # Materialize signatures once: the banding self-join would otherwise
    # evaluate the signature subplan on both sides.
    sigs = dd.minhash_signatures(docs).localCheckpoint(eager=True)
    return dd.minhash_lsh_candidates(sigs)


def _query_vec(emb) -> list[float]:
    """The ``vec_id = 0`` embedding that every single-query ``sim_`` arm
    probes with (the oracles' ``q`` CTE)."""
    return [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]


def q_sim_topk(spark, sf_dir):
    """Brute-force cosine top-10 against the vec_id=0 query vector."""
    emb = _t(spark, sf_dir, "embeddings", fan=True)
    qvec = _query_vec(emb)
    return sim.brute_force_topk(emb, qvec, k=10)


SQL_SIM_TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
    ROUND(
      list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
  FROM embeddings e, q
)
SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_sim_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed approximate top-10 (scale path; exact-hash
    check — recall is probabilistic by design)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb)
    return sim.lsh_topk(emb, qvec, k=10)


def q_sim_ivf_topk(spark, sf_dir):
    """IVF-bucketed approximate top-10 (the second scale path beside LSH:
    deterministic k-means coarse quantizer, probe the 4 nearest of 16
    inverted lists; SQL_SIM_IVF replays the full k-means build in DuckDB
    for an exact-hash check).

    Probes the PERSISTED per-dataset index (shared with q_dd_semdedup via
    _ivf_index_dir) through ivf_topk_indexed — the deployment shape: the
    scan partition-prunes to the 4 probed ``_cid=`` directories and the
    quantizer never re-runs at query time.  Identical results to the
    in-query build (asserted in tests/test_functions.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb)
    return sim.ivf_topk_indexed(
        spark, _ivf_index_dir(spark, sf_dir), qvec, k=10, n_probe=4
    )


def q_sim_knn_join(spark, sf_dir):
    """Bucketed approximate kNN self-join (top-3 neighbors per vector for
    the first 200 vectors; bucket-local pair generation — the only join
    shape that survives kNN at 100 TB; exact-hash check vs SQL_SIM_KNN).
    The 200-vector probe side is the broadcast build (``broadcast_left``,
    the serving shape) — the corpus side never broadcasts (r13)."""
    emb = _t(spark, sf_dir, "embeddings")
    left = emb.where(F.col("vec_id") < 200)
    return sim.knn_join_bucketed(left, emb, k=3, broadcast_left=True)


def q_mm_features(spark, sf_dir):
    """Multimodal plumbing: Arrow-batched decode/feature kernel over binary
    media rows (deterministic fake decoder; exact-hash check vs
    SQL_MM_FEATURES, which re-derives payload bytes and the histogram
    moment in pure SQL)."""
    from .functions import multimodal as mm

    media = mm.make_fake_media(spark, n=64)
    feats = mm.extract_features(media, fake=True)
    return feats.select(
        "media_id",
        F.round(F.element_at("feature", 1), 6).alias("f0"),
        "decode_ok",
    )


# --------------------------------------------------------------------------
# coverage widening: unions, sampling, scalar pack, UDF surface, exact ANN
# --------------------------------------------------------------------------


def q_a4_union_counts(spark, sf_dir):
    """A4/U1: per-source grouped counts concatenated (tasks ∪ services
    status aggregation, base_dataset_socket.py:251-292)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    a = orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("count")
    ).withColumn("source", F.lit("orders"))
    b = li.groupBy(F.col("l_linestatus").alias("status")).agg(
        F.count(F.lit(1)).alias("count")
    ).withColumn("source", F.lit("lineitem"))
    return a.unionByName(b)


SQL_A4 = """
SELECT o_orderstatus AS status, COUNT(*) AS count, 'orders' AS source
FROM orders GROUP BY 1
UNION ALL
SELECT l_linestatus, COUNT(*), 'lineitem' FROM lineitem GROUP BY 1
"""


def q_a11_sample_keys(spark, sf_dir):
    """A11: DISTINCT-ON sampling + JSON key extraction (one complete record
    per spec + jsonb_object_keys, base_dataset_socket.py:323-360)."""
    events = _t(spark, sf_dir, "events")
    sampled = agg.argmin_per_group(events, ["event_type"], [F.col("event_id").asc()])
    return sampled.select(
        "event_type",
        "event_id",
        F.concat_ws(",", F.array_sort(F.json_object_keys("props"))).alias("props_keys"),
    )


SQL_A11 = """
SELECT event_type, event_id,
       array_to_string(list_sort(json_keys(props)), ',') AS props_keys
FROM events
QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY event_id ASC) = 1
"""


def q_f9_content_hash(spark, sf_dir):
    """F9: deterministic content hash over canonicalized fields (molecule
    hash, molecules/db_models.py:83-115)."""
    from .functions.scalars import content_hash

    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        content_hash(
            F.col("p_name"), F.col("p_size").cast("string"), F.col("p_type")
        ).alias("content_hash"),
    )


SQL_F9 = """
SELECT p_partkey,
       md5(concat_ws('|', coalesce(p_name, chr(0)),
                     coalesce(CAST(p_size AS VARCHAR), chr(0)),
                     coalesce(p_type, chr(0)))) AS content_hash
FROM part
"""


def q_j12_element_at(spark, sf_dir):
    """J12/F6: array tail indexing (energies[-1] scalar subquery,
    torsiondrive/record_db_models.py:131)."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(F.element_at("embedding", -1).cast("double"), 6).alias("last_dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_dim"),
    )


SQL_J12 = """
SELECT vec_id,
       ROUND(CAST(embedding[-1] AS DOUBLE), 6) AS last_dim,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_dim
FROM embeddings
"""


def q_d1_value_call(spark, sf_dir):
    """D1: arbitrary per-record Python extraction — compile_values
    ``value_call`` (dataset_models.py:2168-2236) as an Arrow-batched pandas
    UDF (the doubling is exact in IEEE, so the oracle matches bit-for-bit)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def value_call(s: pd.Series) -> pd.Series:
        return s * 2.0

    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey", value_call(F.col("o_totalprice")).alias("extracted")
    )


SQL_D1 = "SELECT o_orderkey, o_totalprice * 2.0 AS extracted FROM orders"


def q_sim_cosine_pairs(spark, sf_dir):
    """Embedding near-dup pairs, exact: top-20 most-similar pairs by cosine.

    Two-phase (similarity.exact_cosine_pairs_topk): a vectorized Arrow/BLAS
    candidate scan selects a per-batch top pool, then only the pool pairs
    are re-scored with the index-ordered JVM left-fold — the same
    deterministic op sequence as DuckDB's ``list_dot_product`` (proven
    bitwise-matching by sim_topk's hash gate), so phase 1 only selects and
    the emitted scores stay oracle-exact.

    r16: fan=True reverted (VERDICT r15 item 3) — the r15 sandbox A/B
    (12.61→1.90 s) did not transfer: the driver box ran the un-fanned plan
    at 0.84 s (r14) and the fanned one at 2.18 s @32c / 2.84 s @8c.
    """
    emb = _t(spark, sf_dir, "embeddings")
    return sim.exact_cosine_pairs_topk(emb, k=20)


SQL_SIM_PAIRS = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS score
FROM v a JOIN v b ON a.vec_id < b.vec_id
ORDER BY score DESC, id_a, id_b LIMIT 20
"""


def _minhash_oracle_sql(
    pair_pred: str = "a.id < b.id",
    source: str = "documents",
    final_select: str | None = None,
) -> str:
    """Generate the DuckDB mirror of minhash_signatures + lsh banding from
    the same deterministic parameter table the Spark plan uses.
    ``pair_pred`` is the pair-orientation predicate over aliases a/b
    (default: the canonical ordered-pair form); ``source`` is the relation
    supplying (doc_id, text) — a table or an outer CTE (outer CTEs stay
    visible inside this statement's nested WITH).  ``final_select``
    replaces the default distinct-pair projection while keeping every CTE
    (``sig`` with mh_0..mh_15 and ``bands`` are in scope) — the signature
    replay has ONE definition however many oracles build on it."""
    from .functions.dedup import _NUM_PERM_DEFAULT, _P, _minhash_params

    params = _minhash_params(_NUM_PERM_DEFAULT)
    mins = ",\n         ".join(
        f"MIN((h * {a} + {b}) % {_P}) AS mh_{i}" for i, (a, b) in enumerate(params)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT id, {bi} AS band_idx, concat_ws(':', "
        + ", ".join(f"mh_{bi * 4 + r}" for r in range(4))
        + ") AS band_key FROM sig"
        for bi in range(4)
    )
    if final_select is None:
        final_select = f"""
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            AND ({pair_pred})"""
    return f"""
WITH docs AS (
  SELECT doc_id AS id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM {source}
),
sh AS (
  SELECT id, substring(t, i, 5) AS sh
  FROM docs, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS u(i)
),
h AS (SELECT id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM sh),
sig AS (
  SELECT id,
         {mins}
  FROM h GROUP BY id
),
bands AS (
{bands}
)
{final_select}
"""


SQL_DD_MINHASH = _minhash_oracle_sql()


def q_dd_lsh_recall_eval(spark, sf_dir):
    """DD+ (beyond-reference): LSH banding-parameter evaluation — the
    tuning report behind every MinHash deployment: on a deterministic
    ~20% document sample, compare the band-collision CANDIDATE set
    against the exact 5-gram-Jaccard ≥ 0.5 TRUTH set and report
    recall/precision (the 4×4 banding S-curve, measured instead of
    assumed).  The op a pipeline runs before committing band/row
    parameters at 100 TB — on the sample, so the exact truth join is
    bounded (sample-sized²  worst case, bucket-local in practice) while
    the conclusion transfers to the banding used corpus-wide.  Plan: one
    sampled scan feeds both pipelines (checkpointed once), the hit set is
    one keyed semi-join, and the report folds three 1-row aggregates
    (scalar broadcasts)."""
    from .functions.text import portable_hash64

    docs = _t(spark, sf_dir, "documents")
    samp = docs.where(
        F.pmod(
            portable_hash64(F.concat(F.lit("ev:"), F.col("doc_id").cast("string"))),
            F.lit(5),
        )
        == 0
    ).localCheckpoint(eager=True)
    truth = dd.ngram_jaccard_pairs(samp, k=5, threshold=0.5).select("id_a", "id_b")
    sigs = dd.minhash_signatures(samp).localCheckpoint(eager=True)
    cand = dd.minhash_lsh_candidates(sigs).select("id_a", "id_b")
    hit = truth.join(cand, ["id_a", "id_b"], "semi")
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            F.when(
                F.col("n_true") > 0,
                F.round(F.col("n_hit") / F.col("n_true"), 6),
            ).alias("recall"),
            F.when(
                F.col("n_candidates") > 0,
                F.round(F.col("n_hit") / F.col("n_candidates"), 6),
            ).alias("precision"),
        )
    )


def _lsh_recall_oracle_sql() -> str:
    cand_sql = _minhash_oracle_sql(source="samp")
    return f"""
WITH samp AS (
  SELECT doc_id, text FROM documents
  WHERE ('0x' || substr(md5('ev:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 = 0
),
sdocs AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM samp
),
ssh AS (
  SELECT DISTINCT doc_id, substring(t, i, 5) AS shingle
  FROM sdocs, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS u(i)
),
ssizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ssh GROUP BY doc_id),
scommon AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT id_a, id_b
  FROM scommon
  JOIN ssizes sa ON sa.doc_id = id_a
  JOIN ssizes sb ON sb.doc_id = id_b
  WHERE ROUND(common * 1.0 / (sa.n_sh + sb.n_sh - common), 6) >= 0.5
),
cand AS (SELECT * FROM ({cand_sql}) t),
hit AS (
  SELECT t.id_a FROM truth t
  JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
),
counts AS (
  SELECT (SELECT COUNT(*) FROM truth) AS n_true,
         (SELECT COUNT(*) FROM cand) AS n_candidates,
         (SELECT COUNT(*) FROM hit) AS n_hit
)
SELECT n_true, n_candidates, n_hit,
       CASE WHEN n_true > 0
            THEN ROUND(n_hit * 1.0 / n_true, 6) END AS recall,
       CASE WHEN n_candidates > 0
            THEN ROUND(n_hit * 1.0 / n_candidates, 6) END AS precision
FROM counts
"""


def q_dd_contamination_neardup(spark, sf_dir):
    """DD+ (beyond-reference): NEAR-DUP benchmark decontamination — the
    MinHash-band arm beside dd_contamination's exact 13-gram scan
    (functions/dedup.py:cross_corpus_lsh_pairs).  Every 100th document
    plays the benchmark (same split); each corpus document reports how
    many distinct benchmark docs it shares >= 1 LSH band with — catching
    paraphrase-level leakage (small edits break every 13-gram but not the
    signature).  The benchmark band table broadcasts (1% of docs), so the
    corpus-side banding never shuffles; cross-only pair generation — no
    corpus x corpus pairs exist anywhere in the plan."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 100 == 0)
    corpus = docs.where(F.col("doc_id") % 100 != 0)
    pairs = dd.cross_corpus_lsh_pairs(
        dd.minhash_signatures(corpus), dd.minhash_signatures(bench)
    )
    return pairs.groupBy(F.col("id_a").alias("doc_id")).agg(
        F.countDistinct("id_b").alias("n_bench_neardups")
    )


SQL_DD_CONTAM_ND = (
    "WITH pairs AS ("
    + _minhash_oracle_sql(pair_pred="a.id % 100 <> 0 AND b.id % 100 = 0")
    + ")\nSELECT id_a AS doc_id, COUNT(DISTINCT id_b) AS n_bench_neardups\n"
    + "FROM pairs GROUP BY 1"
)


def _lsh_topk_oracle_sql() -> str:
    """DuckDB mirror of the hyperplane-LSH bucketed top-k: same
    deterministic hyperplanes, same sequential-order dot products."""
    from .functions.similarity import _hyperplanes

    planes = _hyperplanes(64, 8)
    def arr(p):
        return "[" + ", ".join(repr(v) for v in p) + "]"
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {arr(p)}) > 0 THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(b.v, q.qv)
             / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))),
             6) AS score
FROM b, q
WHERE b.bucket = q.qbucket
ORDER BY score DESC, vec_id ASC LIMIT 10
"""


SQL_SIM_LSH = _lsh_topk_oracle_sql()


def _knn_join_oracle_sql() -> str:
    """DuckDB mirror of the bucketed kNN self-join: same deterministic
    hyperplane buckets (6 planes), bucket-equi pairs, top-3 per left by
    (rounded score desc, right_id) — identical rank tie-break."""
    from .functions.similarity import _hyperplanes

    planes = _hyperplanes(64, 6)

    def arr(p):
        return "[" + ", ".join(repr(v) for v in p) + "]"

    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {arr(p)}) > 0 THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
l AS (SELECT vec_id AS left_id, v AS lv, bucket FROM b WHERE vec_id < 200),
pairs AS (
  SELECT l.left_id, r.vec_id AS right_id,
         ROUND(list_dot_product(l.lv, r.v)
               / (sqrt(list_dot_product(l.lv, l.lv))
                  * sqrt(list_dot_product(r.v, r.v))), 6) AS score
  FROM l JOIN b r ON l.bucket = r.bucket AND l.left_id <> r.vec_id
),
rn AS (
  SELECT left_id, right_id, score,
         row_number() OVER (PARTITION BY left_id
                            ORDER BY score DESC, right_id) AS rn
  FROM pairs
)
SELECT left_id, right_id, score FROM rn WHERE rn <= 3
"""


SQL_SIM_KNN = _knn_join_oracle_sql()


# DuckDB mirror of the multimodal fake-decode kernel: make_fake_media's
# payload is bytes((i*31 + j*7) % 256, j < 128 + (i%5)*64) and _decode_fake's
# feature[0] is the fraction of bytes with b % 8 == 0 — both re-derivable in
# pure SQL, so the Arrow kernel's output is exact-hash checkable.
SQL_MM_FEATURES = """
WITH m AS (SELECT i AS media_id, 128 + (i % 5) * 64 AS plen
           FROM generate_series(0, 63) t(i)),
b AS (SELECT media_id, (media_id * 31 + j * 7) % 256 AS byte
      FROM m, generate_series(0, 383) g(j) WHERE j < plen)
SELECT media_id,
       ROUND(SUM(CASE WHEN byte % 8 = 0 THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS f0,
       'ok' AS decode_ok
FROM b GROUP BY media_id
"""


def _ivf_build_parts(n_centroids: int = 16, n_iter: int = 2, dim: int = 64) -> list[str]:
    """Shared DuckDB replay of the deterministic IVF/k-means build
    (``similarity.ivf_assignments``): WITH-parts from the embedding scan
    through ``afin`` (final per-vector cluster assignment).  Reused by the
    IVF probe oracle and the SemDeDup oracle so both verify against the
    byte-identical quantizer."""
    score = ("list_dot_product(e.v, c.v) / (CASE WHEN list_dot_product(c.v, c.v) = 0 "
             "THEN 1.0 ELSE sqrt(list_dot_product(c.v, c.v)) END)")
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {n_centroids})
)""",
    ]
    for it in range(n_iter):
        parts.append(f"""a{it} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {score} DESC, c.cid ASC) AS rn
    FROM e, c{it} c) WHERE rn = 1
)""")
        parts.append(f"""m{it} AS (
  SELECT cid, j, AVG(v[j]) AS m
  FROM a{it}, generate_series(1, {dim}) t(j)
  GROUP BY cid, j
)""")
        parts.append(f"""c{it + 1} AS (
  SELECT g.cid, list(COALESCE(m.m, g.x) ORDER BY g.j) AS v
  FROM (SELECT cid, j, v[j] AS x
        FROM c{it}, generate_series(1, {dim}) t(j)) g
  LEFT JOIN m{it} m ON m.cid = g.cid AND m.j = g.j
  GROUP BY g.cid
)""")
    cf = f"c{n_iter}"
    parts.append(f"""afin AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {score} DESC, c.cid ASC) AS rn
    FROM e, {cf} c) WHERE rn = 1
)""")
    return parts


def _ivf_oracle_sql(n_centroids: int = 16, n_iter: int = 2, n_probe: int = 4,
                    dim: int = 64, k: int = 10) -> str:
    """DuckDB mirror of the deterministic IVF index build + probe.

    Replays ivf_assignments exactly: init = the ``n_centroids`` lowest-id
    vectors, each Lloyd iteration = argmax over centroid·v/|c| (ties to the
    lowest cid, matching np.argmax) then per-(cid, dim) mean with
    empty-cluster carry-forward, final probe = the ``n_probe`` centroids
    nearest the query.  Centroid means differ from Spark only in float
    summation order, which can flip an assignment solely on an exact
    argmax near-tie — absent ties the candidate sets are identical and the
    final scores are pure functions of (v, q), so the hash matches."""
    parts = _ivf_build_parts(n_centroids, n_iter, dim)
    cf = f"c{n_iter}"
    parts.append("q AS (SELECT v AS qv FROM e WHERE vec_id = 0)")
    parts.append(f"""pr AS (
  SELECT cid FROM {cf} c, q
  ORDER BY list_dot_product(c.v, q.qv)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.v, c.v))) DESC, cid ASC
  LIMIT {n_probe}
)""")
    body = ",\n".join(parts)
    return f"""{body}
SELECT a.vec_id,
       ROUND(list_dot_product(a.v, q.qv)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM afin a, q
WHERE a.cid IN (SELECT cid FROM pr)
ORDER BY score DESC, vec_id ASC LIMIT {k}
"""


SQL_SIM_IVF = _ivf_oracle_sql()


def q_dd_cluster(spark, sf_dir):
    """Near-dup cluster assignment: MinHash-LSH candidate pairs → connected
    components (min-label propagation, operators/graph.py) → every document
    labeled with the smallest doc_id in its near-dup cluster (singletons
    label themselves).  The canonical "which rows survive" step after LSH
    candidate generation in a training-data dedup pipeline: downstream,
    keep rows WHERE id = cluster_id."""
    from .operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents", fan=True)
    sigs = dd.minhash_signatures(docs).localCheckpoint(eager=True)
    # Star-contracted edges (doc -> bucket representative), NOT the bucket
    # cliques: identical components, edge count linear in bucket size
    # instead of quadratic (dedup.minhash_lsh_star_edges docstring) — the
    # shape that survives a hot bucket at 100 TB.  Materialized once: the
    # CC loop derives both directions from it.
    edges = dd.minhash_lsh_star_edges(sigs).localCheckpoint(eager=True)
    comp = connected_components(edges, "id_a", "id_b", approx_edges=edges.count())
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("cluster_id"))
    )


def _cluster_oracle_sql() -> str:
    """DuckDB mirror of dd_cluster: the generated MinHash-LSH pair SQL as a
    derived table, transitive closure via a recursive CTE, component label =
    min reachable id (LEAST with self covers isolated-pair direction)."""
    pairs_sql = _minhash_oracle_sql()
    return f"""
WITH RECURSIVE pairs AS (SELECT * FROM ({pairs_sql}) t),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
lab AS (SELECT src AS id, MIN(dst) AS mn FROM reach GROUP BY src)
SELECT d.doc_id AS id, COALESCE(LEAST(l.id, l.mn), d.doc_id) AS cluster_id
FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
"""


SQL_DD_CLUSTER = _cluster_oracle_sql()


def q_j13_asof(spark, sf_dir):
    """J13 (beyond-reference): as-of join — each click event matched to the
    latest error event at-or-before it for the same user (union + window
    carry-forward in operators/joins.py:asof_join_backward; one shuffle on
    user_id, no row-multiplying join)."""
    from .operators.joins import asof_join_backward

    events = _t(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = events.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join_backward(
        clicks, errors, key_col="user_id", ts_col="ts",
        right_id_col="event_id", payload_cols=("value",),
    )
    return out.select("event_id", "user_id", "ref_event_id", "ref_value")


# Backward inclusive as-of: the matching right row is the max (ts, event_id)
# with ts <= left.ts — the rank mirror of the window carry-forward.  (DuckDB
# has a native ASOF JOIN but leaves exact-ts duplicate ties unspecified;
# the explicit rank pins the same deterministic tie-break as the Spark plan.)
SQL_J13 = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
e AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'error'),
j AS (
  SELECT c.event_id, c.user_id,
         e.event_id AS ref_event_id, e.value AS ref_value,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY e.ts DESC, e.event_id DESC) AS rn
  FROM c LEFT JOIN e ON e.user_id = c.user_id AND e.ts <= c.ts
)
SELECT event_id, user_id, ref_event_id, ref_value FROM j WHERE rn = 1
"""


def q_j14_interval(spark, sf_dir):
    """J14 (beyond-reference): interval/range join — for each error event,
    the click events by the same user strictly after it and within 15
    minutes, aggregated per error (operators/joins.py:interval_join:
    bucketized equi-join, never a per-key cross product).  Aggregates are
    order-independent (count / max / exact min-gap) so the hash is stable
    across engines; the min gap is a difference of micro-precision epoch
    doubles, which are exact in 53-bit mantissa."""
    from .operators.joins import epoch_seconds, interval_join

    events = _t(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("err_ts")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("clk_ts"), F.col("value").alias("clk_value")
    )
    pairs = interval_join(
        errors, clicks, key_col="user_id",
        left_ts="err_ts", right_ts="clk_ts", lower_s=0.0, upper_s=900.0,
    )
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.max("clk_value").alias("max_click_value"),
        F.round(
            F.min(epoch_seconds("clk_ts") - epoch_seconds("err_ts")), 6
        ).alias("min_gap_s"),
    )
    return (
        errors.join(agg, on="event_id", how="left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            "max_click_value",
            "min_gap_s",
        )
    )


SQL_J14 = """
WITH err AS (
  SELECT event_id, user_id, ts AS err_ts FROM events WHERE event_type = 'error'
),
clk AS (
  SELECT user_id, ts AS clk_ts, value AS clk_value FROM events WHERE event_type = 'click'
)
SELECT e.event_id, e.user_id,
       COUNT(c.clk_ts) AS n_clicks,
       MAX(c.clk_value) AS max_click_value,
       ROUND(MIN(epoch(c.clk_ts) - epoch(e.err_ts)), 6) AS min_gap_s
FROM err e LEFT JOIN clk c
  ON c.user_id = e.user_id
 AND c.clk_ts > e.err_ts
 AND epoch(c.clk_ts) <= epoch(e.err_ts) + 900.0
GROUP BY e.event_id, e.user_id
"""

def q_tx_repetition(spark, sf_dir):
    """TX+ (beyond-reference): Gopher-style repetition quality signals per
    document — top-word fraction and distinct-word ratio, the standard
    "drop boilerplate/spam" features of a training-data filter.  Two
    map-side-combinable aggregations keyed by (doc_id, word) then doc_id;
    ratios are IEEE divisions of exact small ints, so the hash is stable."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).where(F.length("w") > 0)
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_word_frac"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("distinct_ratio"),
    )


SQL_TX_REP = r"""
WITH w AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents) t
  WHERE length(w) > 0
),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS top_word_frac,
       ROUND(COUNT(*)::DOUBLE / SUM(c), 6) AS distinct_ratio
FROM wc GROUP BY doc_id
"""


def q_u5_stratified_sample(spark, sf_dir):
    """U5 (beyond-reference): deterministic hash-stratified sampling — the
    data-mixing primitive of a training pipeline.  Per-language keep rates
    applied via the portable md5 hash mod 100, so the sample is (a) exactly
    reproducible across engines and resubmissions and (b) a pure scan-side
    filter: no shuffle, no RNG state, prunes to the sampled subset at the
    reader at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    rates = {"en": 35, "de": 60, "es": 60, "fr": 60, "zh": 60}
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in rates.items()],
        F.lit(10),
    )
    bucket = F.pmod(tx.portable_hash64(F.col("doc_id").cast("string")), F.lit(100))
    return docs.where(bucket < rate).select("doc_id", "lang", "source")


SQL_U5 = """
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
      CASE lang WHEN 'en' THEN 35 WHEN 'de' THEN 60 WHEN 'es' THEN 60
                WHEN 'fr' THEN 60 WHEN 'zh' THEN 60 ELSE 10 END
"""


def q_dd_contamination(spark, sf_dir):
    """DD+ (beyond-reference): benchmark decontamination — every 100th
    document plays the benchmark set; each remaining document reports how
    many of its distinct 13-grams leak from the benchmark
    (functions/dedup.py:contamination_report)."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    bench = docs.where(F.col("doc_id") % 100 == 0)
    corpus = docs.where(F.col("doc_id") % 100 != 0)
    return dd.contamination_report(corpus, bench, k=13)


SQL_DD_CONTAM = r"""
WITH docs AS (
  SELECT doc_id AS id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT id, substring(t, i, 13) AS shingle
  FROM docs, unnest(generate_series(1, greatest(length(t) - 12, 1))) u(i)
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE id % 100 = 0),
corp AS (SELECT id, shingle FROM sh WHERE id % 100 <> 0),
tot AS (SELECT id, COUNT(*) AS n_shingles FROM corp GROUP BY id),
hit AS (
  SELECT c.id, COUNT(*) AS n_hit
  FROM corp c JOIN bench b USING (shingle) GROUP BY c.id
)
SELECT t.id, COALESCE(h.n_hit, 0) AS n_hit, t.n_shingles,
       ROUND(COALESCE(h.n_hit, 0)::DOUBLE / t.n_shingles, 6) AS hit_frac
FROM tot t LEFT JOIN hit h ON t.id = h.id
"""


def q_dd_simhash_pairs(spark, sf_dir):
    """DD+ (beyond-reference): SimHash near-dup pairs at Hamming ≤ 3 via
    4-band pigeonhole join (functions/dedup.py:simhash_candidate_pairs) —
    exhaustive, not probabilistic, so the brute-force oracle matches
    exactly."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dd.simhash(docs).localCheckpoint(eager=True)
    return dd.simhash_candidate_pairs(sigs)


# Brute-force mirror: the banded join is exhaustive for hamming <= bands-1
# (pigeonhole), so all-pairs popcount over the same signatures is the exact
# oracle (fine at sf0.01's 500 docs; the banded plan is the scale path).
SQL_DD_SIMHASH_PAIRS = f"""
WITH s AS ({SQL_DD_SIMHASH})
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dd_simhash_scaled(spark, sf_dir):
    """DD+ (corpus-scaled arm, r14 — VERDICT r13 item 3): SimHash near-dup
    pairs at Hamming ≤ 3 where the band width scales with the corpus:
    ``w = scaled_band_bits(|docs|)`` per band, 4 bands, signature =
    ``4w`` bits over the 60-bit portable base hash
    (functions/dedup.py:scaled_band_bits).  The fixed-width
    `dd_simhash_pairs` (4×8-bit bands) saturates its 2^8-per-band bucket
    space past ~10⁶ docs — the sf10 decade measured exponent 1.31 of pure
    birthday-collision growth; scaling ``2^w`` with the corpus holds the
    expected bucket population at ≤ 8 docs, making collision candidates
    linear while pigeonhole exhaustiveness (band COUNT ≥ hamming+1) keeps
    the answer exact.  The count() that sizes the banding is one
    aggregate-pushdown scan (parquet row-group stats), not a corpus read.
    Oracle recomputes the same width from COUNT(*) and replays the
    signature construction; the pair check is brute-force popcount —
    banding is a plan detail the oracle need not share.

    r16: fan=True reverted (VERDICT r15 item 3) — driver-measured slower
    fanned at both core counts (3.54 s r14 → 4.15 s @32c / 5.17 s @8c)."""
    docs = _t(spark, sf_dir, "documents")
    w = dd.scaled_band_bits(docs.count())
    sigs = dd.simhash(docs, bits=4 * w, wide_hash=True).localCheckpoint(
        eager=True
    )
    return dd.simhash_candidate_pairs(sigs, bands=4, bits=4 * w)


SQL_DD_SIMHASH_SCALED = f"""
WITH params AS (
  SELECT GREATEST(8, LEAST(15,
           CAST(CEIL(LOG2(COUNT(*) / 8.0)) AS INTEGER))) AS w
  FROM documents
),
docs AS (
  SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS tk FROM docs),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok
),
bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, params, unnest(generate_series(0, 4 * w - 1)) AS u(j)
  GROUP BY doc_id, j
),
s AS (
  SELECT doc_id AS id,
         CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_a17_group_centroid(spark, sf_dir):
    """A17 (beyond-reference): group-wise embedding centroids — per-group
    per-dimension mean vector (the cluster-stats / IVF-retrain primitive),
    as (grp, dim) rows.  posexplode keeps the whole computation in one
    map-combinable aggregate on (grp, dim); components follow the float
    discipline: inputs rounded to 6 dp then decimal-cast, so the sum is
    exact under any aggregation order, then one double division."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        (F.col("vec_id") % 8).alias("grp"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "x"),
    )
    dec = F.round(F.col("x"), 6).cast("decimal(20,10)")
    return ex.groupBy("grp", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(dec).cast("double") / F.count(F.lit(1)), 6).alias("centroid"),
    )


SQL_A17 = """
SELECT vec_id % 8 AS grp, j - 1 AS j, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(ROUND(v[j], 6) AS DECIMAL(20,10))) AS DOUBLE)
             / COUNT(*), 6) AS centroid
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e,
     generate_series(1, 64) t(j)
GROUP BY 1, 2
"""


def q_h6_forecast_revenue(spark, sf_dir):
    """H6: the classic single-scan filter-sum (TPC-H Q6 shape) — every
    predicate is scan-pushable and the aggregate is one decimal-exact sum:
    the canonical pushdown + map-side-combine showcase the plan audit
    asserts."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.where(
        (F.col("l_shipdate") >= F.lit("1994-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.sum(
        (F.col("l_extendedprice").cast("decimal(18,2)")
         * F.col("l_discount").cast("decimal(18,2)")).cast("decimal(38,6)")
    )
    return out.agg(rev.cast("double").alias("revenue"))


SQL_H6 = """
SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,6)))
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_f12_hour_percentiles(spark, sf_dir):
    """F1(hour)/F12: hour bucketing + exact continuous percentiles (the
    percentile_cont companion of a6's percentile_disc; Spark's exact
    ``percentile`` interpolates identically to DuckDB quantile_cont)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy(F.date_format("ts", "yyyy-MM-dd HH").alias("bucket")).agg(
        F.count(F.lit(1)).alias("count"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("value_p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("value_p90"),
    )


SQL_F12 = """
SELECT strftime(ts, '%Y-%m-%d %H') AS bucket,
       COUNT(*) AS count,
       ROUND(quantile_cont(value, 0.5), 6) AS value_p50,
       ROUND(quantile_cont(value, 0.9), 6) AS value_p90
FROM events GROUP BY 1
"""


_A15_SPECS = ["click", "error", "purchase", "signup", "view"]
# Fixture-bound probe keys for the properties pivot: the testdata props blob
# carries only "k"; "zz" is deliberately absent from every row to exercise
# the all-NaN column drop.  SQL_A15 mirrors the SURVIVING columns only (the
# zz columns drop), so a fixture-schema change must update both in step.
_A15_KEYS = ["k", "zz"]


def q_a15_properties_df(spark, sf_dir):
    """A15: get_properties_df (qcportal/dataset_models.py:2267-2314) — one
    wide column per (specification × property key), all-null columns
    dropped.

    The entry×spec matrix is first made unique per cell (argmin by id — the
    record_items PK guarantee the reference gets from its association
    table), so the pivot's ``first()`` is deterministic.  The probed key set
    includes a key absent from every row ("zz"), exercising the all-NaN
    column drop."""
    events = _t(spark, sf_dir, "events")
    uniq = agg.argmin_per_group(
        events.select(
            F.col("user_id").alias("entry"),
            F.col("event_type").alias("spec"),
            # per-key extraction + cast, NOT from_json(map<string,double>):
            # the typed-map parse nulls the ENTIRE map when any other key
            # holds a non-double value, while the oracle's
            # json_extract_string + CAST is per-key — mirror it exactly so
            # a mixed-type props blob cannot diverge the two engines.
            F.create_map(
                *[
                    part
                    for key in _A15_KEYS
                    for part in (
                        F.lit(key),
                        F.get_json_object("props", f"$.{key}").cast("double"),
                    )
                ]
            ).alias("properties"),
            "event_id",
        ),
        group_cols=["entry", "spec"],
        order_cols=[F.col("event_id").asc()],
    )
    wide = pivot.properties_df(
        uniq, "entry", "spec", "properties", keys=_A15_KEYS, spec_values=_A15_SPECS
    )
    return pivot.drop_all_null_columns(wide, keep=["entry"])


SQL_A15 = """
WITH uniq AS (
  SELECT entry, spec, props FROM (
    SELECT user_id AS entry, event_type AS spec, props,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY event_id) AS _rn
    FROM events) WHERE _rn = 1
)
SELECT entry,
       MIN(CASE WHEN spec = 'click'
                THEN CAST(json_extract_string(props, 'k') AS DOUBLE) END) AS click_k,
       MIN(CASE WHEN spec = 'error'
                THEN CAST(json_extract_string(props, 'k') AS DOUBLE) END) AS error_k,
       MIN(CASE WHEN spec = 'purchase'
                THEN CAST(json_extract_string(props, 'k') AS DOUBLE) END) AS purchase_k,
       MIN(CASE WHEN spec = 'signup'
                THEN CAST(json_extract_string(props, 'k') AS DOUBLE) END) AS signup_k,
       MIN(CASE WHEN spec = 'view'
                THEN CAST(json_extract_string(props, 'k') AS DOUBLE) END) AS view_k
FROM uniq GROUP BY entry
"""


def q_s12_contributed_values(spark, sf_dir):
    """S12 (r12 VERDICT item 4; reference dataset_socket.py:326-336
    get_contributed_values keyed SELECT, served to the client as
    ``fetch_contributed_values`` / the ``ContributedValues`` model —
    dataset_models.py:2439-2460, 63-80): the last unmapped
    client-analytics surface — a dataset-keyed fetch returning, per
    contribution NAME, the entry-aligned value arrays (``index`` = entry
    names, ``values`` = the numbers, pairwise aligned) plus the
    theory-level/units metadata, which is exactly what compile_values
    (A14) consumes client-side.

    Fixture: contributions synthesized from lineitem — dataset_id =
    l_suppkey % 4 (the query fetches dataset 1, the reference's WHERE
    dataset_id = :id), name energy/gradient_norm by linenumber parity,
    entry 'e{orderkey}_{linenumber}', value = extendedprice in integer
    cents (exact), pre-aggregated per (name, entry) since synthetic
    lineitem repeats linenumbers.  Arrays serialize to canonical JSON
    (the a10 map discipline) so both engines hash the same bytes.

    Plan: dataset filter pushed to the scan, one partial-agg per
    (name, entry), one per-name collect bounded by |entries| — the
    reference returns these arrays as one JSONB blob per name, so the
    per-name row IS the deployment-scale unit."""
    li = _t(spark, sf_dir, "lineitem")
    base = (
        li.where(F.col("l_suppkey") % 4 == 1)
        .select(
            F.when(F.col("l_linenumber") % 2 == 0, F.lit("energy"))
            .otherwise(F.lit("gradient_norm"))
            .alias("name"),
            F.concat(
                F.lit("e"),
                F.col("l_orderkey").cast("string"),
                F.lit("_"),
                F.col("l_linenumber").cast("string"),
            ).alias("entry"),
            # extendedprice is DOUBLE in the testdata: *100 lands an
            # epsilon off the integer, and Spark's double->bigint cast
            # TRUNCATES while DuckDB's ROUNDS - round explicitly on
            # both sides so the cents are the same exact integers
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("name", "entry")
        .agg(F.sum("cents").cast("bigint").alias("val"))
    )
    ents = F.sort_array(
        F.collect_list(F.struct(F.col("entry").alias("e"), F.col("val").alias("v")))
    )
    return (
        base.groupBy("name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_entries"),
            F.to_json(F.transform(ents, lambda s: s["e"])).alias("index_json"),
            F.to_json(F.transform(ents, lambda s: s["v"])).alias("values_json"),
        )
        .select(
            "name",
            F.when(F.col("name") == "energy", F.lit("hf/sto-3g"))
            .otherwise(F.lit("b3lyp/def2-svp"))
            .alias("theory_level"),
            F.lit("cents").alias("units"),
            "n_entries",
            "index_json",
            "values_json",
        )
    )


SQL_S12 = """
WITH base AS (
  SELECT CASE WHEN l_linenumber % 2 = 0 THEN 'energy'
              ELSE 'gradient_norm' END AS name,
         'e' || CAST(l_orderkey AS VARCHAR) || '_'
             || CAST(l_linenumber AS VARCHAR) AS entry,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS val
  FROM lineitem WHERE l_suppkey % 4 = 1
  GROUP BY 1, 2
),
rolled AS (
  SELECT name,
         CAST(COUNT(*) AS BIGINT) AS n_entries,
         list_sort(array_agg(struct_pack(e := entry, v := val))) AS ents
  FROM base GROUP BY 1
)
SELECT name,
       CASE WHEN name = 'energy' THEN 'hf/sto-3g'
            ELSE 'b3lyp/def2-svp' END AS theory_level,
       'cents' AS units,
       n_entries,
       to_json(list_transform(ents, x -> x.e)) AS index_json,
       to_json(list_transform(ents, x -> x.v)) AS values_json
FROM rolled
"""


def q_s13_status_mutations(spark, sf_dir):
    """S13 (r14, VERDICT r13 item 5): record status mutations as ACTUAL
    MutableTable ops — cancel / invalidate / soft-delete / reset plus the
    three reverts (uncancel / undelete / uninvalidate), with backup-row
    semantics (operators/record_status.py; reference
    record_socket.py:1190-1400, backup table record_db_models.py:67-82).

    The o11 gate verified the transition ALGEBRA; this gate drives the
    user-callable table ops end to end: a records fixture derived from
    orders (status = orderkey%7 over all seven states, task columns per
    the task lifecycle) is written to a scratch RecordStatusTable, a
    deterministic 7-op script runs against DISJOINT id stripes
    (orderkey%10: cancel 0-1, invalidate 2, delete 3-4, reset 5, then
    uncancel 0, undelete 3, uninvalidate 2∩even-custkey), and the final
    records relation + per-record backup depth is returned.  The oracle
    replays the script as layered CASE algebra — every landed status,
    cleared manager, deleted/recreated task column and backup count must
    match, so a wrong applicability filter, a backup taken after (not
    before) the running→waiting demotion, a pop that restores the wrong
    stack entry, or task recreation for a service all hash red.

    Scale shape: each op is one broadcast-semi join + CASE transform
    commit (no per-row loop); the id stripes stand in for the
    reference's explicit client id lists (bounded collects, the S2/S6
    contract).  Gate-only: like the other mutation gates it times
    scratch IO, not a query plan."""
    return _s13_script(spark, sf_dir, "s13", n_buckets=None)


def _s13_script(spark, sf_dir, tag, n_buckets):
    import shutil

    from .operators.record_status import RecordStatusTable

    orders = _t(spark, sf_dir, "orders")
    statuses = F.array(
        *[F.lit(s) for s in (
            "waiting", "running", "complete", "error",
            "cancelled", "invalid", "deleted",
        )]
    )
    st = F.element_at(statuses, (F.col("o_orderkey") % 7 + 1).cast("int"))
    svc = F.col("o_orderkey") % 50 == 0
    has_task = (~svc) & st.isin("waiting", "running", "error")
    fix = orders.select(
        F.col("o_orderkey").alias("record_id"),
        st.alias("status"),
        svc.alias("is_service"),
        F.when((st == "running") & ~svc, F.lit("m1")).alias("manager_name"),
        F.when(
            has_task, F.concat(F.lit("t"), (F.col("o_custkey") % 6).cast("string"))
        ).alias("compute_tag"),
        F.when(has_task, (F.col("o_custkey") % 3).cast("int")).alias(
            "compute_priority"
        ),
        F.when(has_task & (st == "waiting"), F.lit(True))
        .when(has_task, F.lit(False))
        .alias("task_available"),
    )
    path = _scratch_dir(sf_dir, tag)
    shutil.rmtree(path, ignore_errors=True)
    table = RecordStatusTable(spark, path, n_buckets=n_buckets)
    table.init(fix)

    def stripe(*mods, extra=None):
        cond = (F.col("o_orderkey") % 10).isin(*mods)
        if extra is not None:
            cond = cond & extra
        return [r[0] for r in orders.where(cond).select("o_orderkey").collect()]

    table.cancel(stripe(0, 1))
    table.invalidate(stripe(2))
    table.delete(stripe(3, 4))
    table.reset(stripe(5))
    table.uncancel(stripe(0))
    table.undelete(stripe(3))
    table.uninvalidate(stripe(2, extra=F.col("o_custkey") % 2 == 0))

    nbk = table.read_backup().groupBy("record_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_backups")
    )
    return (
        table.read()
        .join(nbk, on="record_id", how="left")
        .select(
            "record_id",
            "status",
            "manager_name",
            "compute_tag",
            "compute_priority",
            "task_available",
            F.coalesce(F.col("n_backups"), F.lit(0).cast("bigint")).alias(
                "n_backups"
            ),
        )
    )


SQL_S13 = """
WITH base AS (
  SELECT o_orderkey AS rid, o_custkey AS c,
         o_orderkey % 10 AS stripe,
         (o_orderkey % 50 = 0) AS svc,
         ['waiting','running','complete','error','cancelled','invalid','deleted']
           [CAST(o_orderkey % 7 AS INTEGER) + 1] AS st
  FROM orders
),
b0 AS (
  SELECT rid, c, stripe, svc, st,
         CASE WHEN st = 'running' AND NOT svc THEN 'm1' END AS mgr,
         CASE WHEN NOT svc AND st IN ('waiting','running','error')
              THEN 't' || CAST(c % 6 AS VARCHAR) END AS tag,
         CASE WHEN NOT svc AND st IN ('waiting','running','error')
              THEN CAST(c % 3 AS INTEGER) END AS prio,
         CASE WHEN NOT svc AND st = 'waiting' THEN TRUE
              WHEN NOT svc AND st IN ('running','error') THEN FALSE END AS avail,
         CAST(NULL AS VARCHAR) AS bk_st,
         CAST(NULL AS VARCHAR) AS bk_tag,
         CAST(NULL AS INTEGER) AS bk_prio,
         0 AS nbk
  FROM base
),
-- op1: cancel stripes 0,1 (waiting/running/error -> cancelled)
h1 AS (SELECT *, stripe IN (0,1) AND st IN ('waiting','running','error') AS hit FROM b0),
b1 AS (
  SELECT rid, c, stripe, svc,
         CASE WHEN hit THEN 'cancelled' ELSE st END AS st,
         CASE WHEN hit THEN NULL ELSE mgr END AS mgr,
         CASE WHEN hit THEN NULL ELSE tag END AS tag,
         CASE WHEN hit THEN NULL ELSE prio END AS prio,
         CASE WHEN hit THEN NULL ELSE avail END AS avail,
         CASE WHEN hit THEN (CASE WHEN st = 'running' THEN 'waiting' ELSE st END)
              ELSE bk_st END AS bk_st,
         CASE WHEN hit THEN tag ELSE bk_tag END AS bk_tag,
         CASE WHEN hit THEN prio ELSE bk_prio END AS bk_prio,
         nbk + CASE WHEN hit THEN 1 ELSE 0 END AS nbk
  FROM h1
),
-- op2: invalidate stripe 2 (complete -> invalid)
h2 AS (SELECT *, stripe = 2 AND st = 'complete' AS hit FROM b1),
b2 AS (
  SELECT rid, c, stripe, svc,
         CASE WHEN hit THEN 'invalid' ELSE st END AS st,
         CASE WHEN hit THEN NULL ELSE mgr END AS mgr,
         CASE WHEN hit THEN NULL ELSE tag END AS tag,
         CASE WHEN hit THEN NULL ELSE prio END AS prio,
         CASE WHEN hit THEN NULL ELSE avail END AS avail,
         CASE WHEN hit THEN st ELSE bk_st END AS bk_st,
         CASE WHEN hit THEN tag ELSE bk_tag END AS bk_tag,
         CASE WHEN hit THEN prio ELSE bk_prio END AS bk_prio,
         nbk + CASE WHEN hit THEN 1 ELSE 0 END AS nbk
  FROM h2
),
-- op3: soft delete stripes 3,4 (anything-but-deleted -> deleted)
h3 AS (SELECT *, stripe IN (3,4) AND st <> 'deleted' AS hit FROM b2),
b3 AS (
  SELECT rid, c, stripe, svc,
         CASE WHEN hit THEN 'deleted' ELSE st END AS st,
         CASE WHEN hit THEN NULL ELSE mgr END AS mgr,
         CASE WHEN hit THEN NULL ELSE tag END AS tag,
         CASE WHEN hit THEN NULL ELSE prio END AS prio,
         CASE WHEN hit THEN NULL ELSE avail END AS avail,
         CASE WHEN hit THEN (CASE WHEN st = 'running' THEN 'waiting' ELSE st END)
              ELSE bk_st END AS bk_st,
         CASE WHEN hit THEN tag ELSE bk_tag END AS bk_tag,
         CASE WHEN hit THEN prio ELSE bk_prio END AS bk_prio,
         nbk + CASE WHEN hit THEN 1 ELSE 0 END AS nbk
  FROM h3
),
-- op4: reset stripe 5 (error -> waiting; task kept, made available)
h4 AS (SELECT *, stripe = 5 AND st = 'error' AS hit FROM b3),
b4 AS (
  SELECT rid, c, stripe, svc,
         CASE WHEN hit THEN 'waiting' ELSE st END AS st,
         CASE WHEN hit THEN NULL ELSE mgr END AS mgr,
         tag, prio,
         CASE WHEN hit THEN (CASE WHEN NOT svc THEN TRUE END) ELSE avail END AS avail,
         bk_st, bk_tag, bk_prio, nbk
  FROM h4
),
-- op5: uncancel stripe 0 (cancelled with a backup -> pop)
h5 AS (SELECT *, stripe = 0 AND st = 'cancelled' AND nbk > 0 AS hit FROM b4),
b5 AS (
  SELECT rid, c, stripe, svc,
         CASE WHEN hit THEN bk_st ELSE st END AS st,
         CASE WHEN hit THEN NULL ELSE mgr END AS mgr,
         CASE WHEN hit THEN (CASE WHEN NOT svc AND bk_st IN ('waiting','error')
                                  THEN bk_tag END)
              ELSE tag END AS tag,
         CASE WHEN hit THEN (CASE WHEN NOT svc AND bk_st IN ('waiting','error')
                                  THEN bk_prio END)
              ELSE prio END AS prio,
         CASE WHEN hit THEN (CASE WHEN NOT svc AND bk_st IN ('waiting','error')
                                  THEN bk_st = 'waiting' END)
              ELSE avail END AS avail,
         CASE WHEN hit THEN NULL ELSE bk_st END AS bk_st,
         CASE WHEN hit THEN NULL ELSE bk_tag END AS bk_tag,
         CASE WHEN hit THEN NULL ELSE bk_prio END AS bk_prio,
         nbk - CASE WHEN hit THEN 1 ELSE 0 END AS nbk
  FROM h5
),
-- op6: undelete stripe 3
h6 AS (SELECT *, stripe = 3 AND st = 'deleted' AND nbk > 0 AS hit FROM b5),
b6 AS (
  SELECT rid, c, stripe, svc,
         CASE WHEN hit THEN bk_st ELSE st END AS st,
         CASE WHEN hit THEN NULL ELSE mgr END AS mgr,
         CASE WHEN hit THEN (CASE WHEN NOT svc AND bk_st IN ('waiting','error')
                                  THEN bk_tag END)
              ELSE tag END AS tag,
         CASE WHEN hit THEN (CASE WHEN NOT svc AND bk_st IN ('waiting','error')
                                  THEN bk_prio END)
              ELSE prio END AS prio,
         CASE WHEN hit THEN (CASE WHEN NOT svc AND bk_st IN ('waiting','error')
                                  THEN bk_st = 'waiting' END)
              ELSE avail END AS avail,
         CASE WHEN hit THEN NULL ELSE bk_st END AS bk_st,
         CASE WHEN hit THEN NULL ELSE bk_tag END AS bk_tag,
         CASE WHEN hit THEN NULL ELSE bk_prio END AS bk_prio,
         nbk - CASE WHEN hit THEN 1 ELSE 0 END AS nbk
  FROM h6
),
-- op7: uninvalidate stripe 2, even custkey
h7 AS (SELECT *, stripe = 2 AND c % 2 = 0 AND st = 'invalid' AND nbk > 0 AS hit FROM b6),
b7 AS (
  SELECT rid, c, stripe, svc,
         CASE WHEN hit THEN bk_st ELSE st END AS st,
         CASE WHEN hit THEN NULL ELSE mgr END AS mgr,
         CASE WHEN hit THEN (CASE WHEN NOT svc AND bk_st IN ('waiting','error')
                                  THEN bk_tag END)
              ELSE tag END AS tag,
         CASE WHEN hit THEN (CASE WHEN NOT svc AND bk_st IN ('waiting','error')
                                  THEN bk_prio END)
              ELSE prio END AS prio,
         CASE WHEN hit THEN (CASE WHEN NOT svc AND bk_st IN ('waiting','error')
                                  THEN bk_st = 'waiting' END)
              ELSE avail END AS avail,
         nbk - CASE WHEN hit THEN 1 ELSE 0 END AS nbk
  FROM h7
)
SELECT rid AS record_id, st AS status, mgr AS manager_name,
       tag AS compute_tag, prio AS compute_priority, avail AS task_available,
       CAST(nbk AS BIGINT) AS n_backups
FROM b7
"""


def q_s18_bucketed_mutations(spark, sf_dir):
    """S18 (r15, VERDICT r14 item 6): the BUCKETED arm of the s13 status
    mutations — the IDENTICAL 7-op script over the identical fixture,
    but with ``RecordStatusTable(n_buckets=8)``: records AND backup
    partitioned on ``record_id % 8``, every forward op routed through
    ``MutableTable.transform_partitions`` (touched buckets rewritten,
    the rest hardlinked), backup pushes through the append commit,
    revert pops bucket-scoped.  Shares s13's layered-CASE oracle
    verbatim, so any divergence between the partition-scoped commit
    path and the full-rewrite path — a row lost crossing a bucket
    boundary, a pop that missed a bucket, a bucket column leaking into
    the logical schema — hashes red at the driver.  The inode-level
    only-touched-buckets property is pinned by
    tests/test_bucketed_mutations.py and the scale_mutations assertion;
    this gate pins the VALUES.  Gate-only (scratch IO), like s13."""
    return _s13_script(spark, sf_dir, "s18", n_buckets=8)


def q_s14_dataset_clone(spark, sf_dir):
    """S14 (r14, VERDICT r13 item 6): dataset clone + filtered copy_from
    as actual multi-table ops (sources/dataset_store.py; reference
    base_dataset_socket.py:1668-1945).

    Fixture: two same-type datasets over scratch MutableTables —
    'sp_main' (id 1) with entries e<custkey> for custkey<80 (payload =
    mktsegment), one spec per order status (specification_id =
    ascii(status)), and record items from orders with custkey<80;
    'sp_other' (id 2) pre-seeded with NON-overlapping entries
    x<custkey> (custkey<10) and ONE spec identical to a source spec in
    both name and specification_id — the reference's silent same-name-
    same-id skip arm (:1712-1730).

    Ops: ``clone(1, 'sp_clone')`` (new dataset id 3, metadata copied,
    full entries+specs+items copy — records never duplicated, the links
    re-keyed) then ``copy_from(1→2, entry_names=[e0..e39],
    copy_records=True)`` (the filtered arm: entries and items restricted
    to the name list, the duplicate spec skipped, 'sF'/'sP' inserted).

    Returns the tagged union of all four tables post-mutation; the
    oracle replays both ops as pure SELECT+UNION algebra, so a missed
    filter, a skipped-spec insert, a duplicated record id, or clone
    metadata drift all hash red.  Gate-only (scratch-IO shaped, like
    s13)."""
    import shutil

    from .sources.dataset_store import DATASET_SCHEMA, DatasetStore

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    datasets = local_df(
        spark,
        [
            (1, "singlepoint", "sp_main", "the main set", "t0", 1),
            (2, "singlepoint", "sp_other", "the other set", "t1", 2),
        ],
        DATASET_SCHEMA,
    )
    e_name = F.concat(F.lit("e"), F.col("c_custkey").cast("string"))
    entries = (
        cust.where(F.col("c_custkey") < 80)
        .select(
            F.lit(1).cast("long").alias("dataset_id"),
            e_name.alias("entry_name"),
            F.col("c_mktsegment").alias("payload"),
        )
        .unionByName(
            cust.where(F.col("c_custkey") < 10).select(
                F.lit(2).cast("long").alias("dataset_id"),
                F.concat(F.lit("x"), F.col("c_custkey").cast("string")).alias(
                    "entry_name"
                ),
                F.col("c_mktsegment").alias("payload"),
            )
        )
    )
    s_name = F.concat(F.lit("s"), F.col("o_orderstatus"))
    specs = (
        orders.select("o_orderstatus")
        .dropDuplicates(["o_orderstatus"])
        .select(
            F.lit(1).cast("long").alias("dataset_id"),
            s_name.alias("name"),
            F.concat(F.lit("spec "), F.col("o_orderstatus")).alias("description"),
            F.ascii(F.col("o_orderstatus")).cast("long").alias("specification_id"),
        )
        .unionByName(
            local_df(
                spark,
                [(2, "sO", "spec O", ord("O"))],
                "dataset_id long, name string, description string, "
                "specification_id long",
            )
        )
    )
    items = orders.where(F.col("o_custkey") < 80).select(
        F.lit(1).cast("long").alias("dataset_id"),
        F.concat(F.lit("e"), F.col("o_custkey").cast("string")).alias("entry_name"),
        F.concat(F.lit("s"), F.col("o_orderstatus")).alias("specification_name"),
        F.col("o_orderkey").alias("record_id"),
    )
    path = _scratch_dir(sf_dir, "s14")
    shutil.rmtree(path, ignore_errors=True)
    store = DatasetStore(spark, path)
    store.init(datasets, entries, specs, items)

    new_id = store.clone(1, "sp_clone")
    assert new_id == 3
    store.copy_from(
        1,
        2,
        entry_names=[f"e{k}" for k in range(40)],
        copy_records=True,
    )

    d = store.datasets.read().select(
        F.lit("dataset").alias("kind"),
        "dataset_id",
        F.col("name"),
        F.col("dataset_type").alias("aux"),
        F.lit(None).cast("long").alias("record_id"),
    )
    e = store.entries.read().select(
        F.lit("entry").alias("kind"),
        "dataset_id",
        F.col("entry_name").alias("name"),
        F.col("payload").alias("aux"),
        F.lit(None).cast("long").alias("record_id"),
    )
    s = store.specs.read().select(
        F.lit("spec").alias("kind"),
        "dataset_id",
        "name",
        F.col("specification_id").cast("string").alias("aux"),
        F.lit(None).cast("long").alias("record_id"),
    )
    i = store.record_items.read().select(
        F.lit("item").alias("kind"),
        "dataset_id",
        F.col("entry_name").alias("name"),
        F.col("specification_name").alias("aux"),
        "record_id",
    )
    return d.unionByName(e).unionByName(s).unionByName(i)


SQL_S14 = """
WITH src_entries AS (
  SELECT 'e' || CAST(c_custkey AS VARCHAR) AS entry_name,
         c_mktsegment AS payload, c_custkey AS ck
  FROM customer WHERE c_custkey < 80
),
other_entries AS (
  SELECT 'x' || CAST(c_custkey AS VARCHAR) AS entry_name,
         c_mktsegment AS payload
  FROM customer WHERE c_custkey < 10
),
src_specs AS (
  SELECT DISTINCT 's' || o_orderstatus AS name,
         'spec ' || o_orderstatus AS description,
         CAST(ascii(o_orderstatus) AS BIGINT) AS spec_id
  FROM orders
),
src_items AS (
  SELECT 'e' || CAST(o_custkey AS VARCHAR) AS entry_name,
         's' || o_orderstatus AS specification_name,
         o_orderkey AS record_id, o_custkey AS ck
  FROM orders WHERE o_custkey < 80
)
-- datasets: the two originals plus the clone (metadata copied)
SELECT 'dataset' AS kind, CAST(1 AS BIGINT) AS dataset_id,
       'sp_main' AS name, 'singlepoint' AS aux, CAST(NULL AS BIGINT) AS record_id
UNION ALL
SELECT 'dataset', 2, 'sp_other', 'singlepoint', NULL
UNION ALL
SELECT 'dataset', 3, 'sp_clone', 'singlepoint', NULL
-- entries
UNION ALL
SELECT 'entry', 1, entry_name, payload, NULL FROM src_entries
UNION ALL
SELECT 'entry', 2, entry_name, payload, NULL FROM other_entries
UNION ALL
SELECT 'entry', 2, entry_name, payload, NULL FROM src_entries WHERE ck < 40
UNION ALL
SELECT 'entry', 3, entry_name, payload, NULL FROM src_entries
-- specs (ds2: the pre-seeded sO skips on same name+id; sF/sP copied)
UNION ALL
SELECT 'spec', 1, name, CAST(spec_id AS VARCHAR), NULL FROM src_specs
UNION ALL
SELECT 'spec', 2, 'sO', CAST(ascii('O') AS VARCHAR), NULL
UNION ALL
SELECT 'spec', 2, name, CAST(spec_id AS VARCHAR), NULL
FROM src_specs WHERE name <> 'sO'
UNION ALL
SELECT 'spec', 3, name, CAST(spec_id AS VARCHAR), NULL FROM src_specs
-- record items (links copied, never the records)
UNION ALL
SELECT 'item', 1, entry_name, specification_name, record_id FROM src_items
UNION ALL
SELECT 'item', 2, entry_name, specification_name, record_id
FROM src_items WHERE ck < 40
UNION ALL
SELECT 'item', 3, entry_name, specification_name, record_id FROM src_items
"""


def q_s16_project_links(spark, sf_dir):
    """S16 (r15, VERDICT r14 item 2): project record/dataset link, unlink,
    add and import as actual MutableTable ops
    (sources/project_store.py; reference project_socket.py:483-728).

    Fixture over scratch MutableTables — records from orders with
    o_custkey<100 (record_id=o_orderkey, status=o_orderstatus); two
    projects; project 1 pre-linked to records with o_custkey<50 (name
    ``r<id>``, description=o_orderpriority), project 2 to o_custkey in
    [25,35).

    Op script (every reference arm):
    1. ``link_dataset(1, 10)`` all-None metadata → link inherits the
       dataset's (the COALESCE arm, :496-507);
    2. ``link_dataset(1, 11, name/description overridden)`` — explicit;
    3. ``link_dataset(2, 10, tags=['shared'])``;
    4. duplicate ``link_dataset(1, 10)`` → AlreadyExistsError (gate 1);
    5. ``unlink_datasets(1, [11, 999])`` → RETURNING semantics: only the
       live link 11 removed, 999 ignored;
    6. ``link_record(2, <min record id with custkey≥50>, 'adopted')`` —
       adopt an existing record; a second identical call → gate 2;
    7. ``unlink_records(1, <ids with custkey in [40,50)>,
       delete_records=True)`` — links removed AND records deleted
       (the returned-ids cascade, :710-727);
    8. ``add_record(1, 'new_rec_a', status 'A')`` — serial id =
       max(surviving record id)+1, lname gate checked pre-commit;
       a duplicate-name retry → gate 3;
    9. ``import_record(2, 'imported_b', status 'C')`` — next id.

    Returns the tagged union of all four tables post-mutation plus one
    gate row counting the caught AlreadyExistsError arms (3) — a gate
    that failed to fire either mutates state (hash red in its table's
    rows) or changes the count.  The oracle replays the whole script as
    pure SELECT/UNION algebra.  Gate-only (scratch-IO shaped, like
    s13/s14)."""
    import shutil

    from .sources.project_store import (
        PROJECT_RECORD_SCHEMA,
        PROJECT_SCHEMA,
        AlreadyExistsError,
        ProjectStore,
    )
    from .sources.table import MutableTable

    orders = _t(spark, sf_dir, "orders")
    path = _scratch_dir(sf_dir, "s16")
    shutil.rmtree(path, ignore_errors=True)

    records_df = orders.where(F.col("o_custkey") < 100).select(
        F.col("o_orderkey").alias("record_id"),
        F.lit("sp").alias("record_type"),
        F.col("o_orderstatus").alias("status"),
    )
    records = MutableTable(spark, f"{path}/records")
    records.overwrite(records_df)

    store = ProjectStore(spark, path, records=records)
    projects = local_df(
        spark,
        [
            (1, "proj_main", "the main project", "tag main", []),
            (2, "proj_other", "the other project", "tag other", []),
        ],
        PROJECT_SCHEMA,
    )
    link = orders.where(F.col("o_custkey") < 50).select(
        F.lit(1).cast("long").alias("project_id"),
        F.col("o_orderkey").alias("record_id"),
        F.concat(F.lit("r"), F.col("o_orderkey").cast("string")).alias("name"),
        F.col("o_orderpriority").alias("description"),
        F.array().cast("array<string>").alias("tags"),
    )
    link2 = (
        orders.where((F.col("o_custkey") >= 25) & (F.col("o_custkey") < 35))
        .select(
            F.lit(2).cast("long").alias("project_id"),
            F.col("o_orderkey").alias("record_id"),
            F.concat(F.lit("r"), F.col("o_orderkey").cast("string")).alias("name"),
            F.col("o_orderpriority").alias("description"),
            F.array().cast("array<string>").alias("tags"),
        )
    )
    store.init(projects, project_records=link.unionByName(link2))

    meta_a = {"name": "ds_a", "description": "A desc", "tagline": "tA", "tags": []}
    meta_b = {"name": "ds_b", "description": "B desc", "tagline": "tB", "tags": []}
    gates = 0
    store.link_dataset(1, 10, meta_a)
    store.link_dataset(1, 11, meta_b, name="custom_b", description="overridden")
    store.link_dataset(2, 10, meta_a, tags=["shared"])
    try:
        store.link_dataset(1, 10, meta_a)
    except AlreadyExistsError:
        gates += 1
    removed = store.unlink_datasets(1, [11, 999])
    assert removed == [11], removed

    adopt_id = (
        orders.where((F.col("o_custkey") >= 50) & (F.col("o_custkey") < 100))
        .agg(F.min("o_orderkey").alias("m"))
        .collect()[0]["m"]
    )
    store.link_record(2, adopt_id, "adopted", "adopted from p1")
    try:
        store.link_record(2, adopt_id, "adopted", "adopted from p1")
    except AlreadyExistsError:
        gates += 1

    drop_ids = [
        r["record_id"]
        for r in orders.where(
            (F.col("o_custkey") >= 40) & (F.col("o_custkey") < 50)
        )
        .select(F.col("o_orderkey").alias("record_id"))
        .collect()
    ]
    store.unlink_records(1, drop_ids, delete_records=True)

    new_a = store.add_record(
        1, "new_rec_a", "fresh", [], {"record_type": "sp", "status": "A"}
    )
    try:
        store.add_record(1, "NEW_REC_A", "dupe", [], {"record_type": "sp", "status": "A"})
    except AlreadyExistsError:
        gates += 1
    new_b = store.import_record(
        2, "imported_b", "imported", [], {"record_type": "sp", "status": "C"}
    )
    assert new_b == new_a + 1, (new_a, new_b)

    p = store.projects.read().select(
        F.lit("project").alias("kind"),
        "project_id",
        F.lit(None).cast("long").alias("obj_id"),
        "name",
        F.col("tagline").alias("aux"),
    )
    d = store.project_datasets.read().select(
        F.lit("ds_link").alias("kind"),
        "project_id",
        F.col("dataset_id").alias("obj_id"),
        "name",
        F.col("description").alias("aux"),
    )
    r = store.project_records.read().select(
        F.lit("rec_link").alias("kind"),
        "project_id",
        F.col("record_id").alias("obj_id"),
        "name",
        F.col("description").alias("aux"),
    )
    rec = store.records.read().select(
        F.lit("record").alias("kind"),
        F.lit(None).cast("long").alias("project_id"),
        F.col("record_id").alias("obj_id"),
        F.col("record_type").alias("name"),
        F.col("status").alias("aux"),
    )
    gate = local_df(
        spark,
        [("gate", None, gates, "already_exists_caught", None)],
        "kind string, project_id long, obj_id long, name string, aux string",
    )
    return p.unionByName(d).unionByName(r).unionByName(rec).unionByName(gate)


SQL_S16 = """
WITH recs0 AS (
  SELECT o_orderkey AS rid, o_orderstatus AS st, o_custkey AS ck,
         o_orderpriority AS pri
  FROM orders WHERE o_custkey < 100
),
surv AS (SELECT * FROM recs0 WHERE ck < 40 OR ck >= 50),
mx AS (SELECT MAX(rid) AS m FROM surv),
adopt AS (SELECT MIN(rid) AS rid FROM recs0 WHERE ck >= 50)
-- projects (unchanged)
SELECT 'project' AS kind, CAST(1 AS BIGINT) AS project_id,
       CAST(NULL AS BIGINT) AS obj_id, 'proj_main' AS name, 'tag main' AS aux
UNION ALL
SELECT 'project', 2, NULL, 'proj_other', 'tag other'
-- dataset links: (1,11) unlinked in step 5
UNION ALL
SELECT 'ds_link', 1, 10, 'ds_a', 'A desc'
UNION ALL
SELECT 'ds_link', 2, 10, 'ds_a', 'A desc'
-- record links
UNION ALL
SELECT 'rec_link', 1, rid, 'r' || CAST(rid AS VARCHAR), pri
FROM recs0 WHERE ck < 40
UNION ALL
SELECT 'rec_link', 2, rid, 'r' || CAST(rid AS VARCHAR), pri
FROM recs0 WHERE ck >= 25 AND ck < 35
UNION ALL
SELECT 'rec_link', 2, rid, 'adopted', 'adopted from p1' FROM adopt
UNION ALL
SELECT 'rec_link', 1, m + 1, 'new_rec_a', 'fresh' FROM mx
UNION ALL
SELECT 'rec_link', 2, m + 2, 'imported_b', 'imported' FROM mx
-- records: survivors + the two allocated rows
UNION ALL
SELECT 'record', NULL, rid, 'sp', st FROM surv
UNION ALL
SELECT 'record', NULL, m + 1, 'sp', 'A' FROM mx
UNION ALL
SELECT 'record', NULL, m + 2, 'sp', 'C' FROM mx
-- the caught-gate row
UNION ALL
SELECT 'gate', NULL, 3, 'already_exists_caught', NULL
"""


def q_s17_molecule_modify(spark, sf_dir):
    """S17 (r15, VERDICT r14 item 3): molecule modify as a MutableTable op
    (operators/molecules.py; reference molecules/socket.py:277-340) —
    name/comment field updates plus identifier MERGE-vs-OVERWRITE, with
    ``molecule_hash`` / ``molecular_formula`` immutable whatever the
    caller sends.

    Fixture: molecules from part (p_partkey<200) — name=p_name, NULL
    comment, identifiers {molecule_hash: md5(p_name), molecular_formula:
    C<k%3+1>H<k%5+1>, smiles: S<k>}.

    Op script (each reference arm):
    1. ``modify(5, name='renamed')`` — name-only;
    2. ``modify(7, comment='a comment')`` — comment-only;
    3. ``modify(11, identifiers={smiles:'CCO', inchi:'InChI=1S/x',
       molecule_hash:'evil'})`` — MERGE: smiles shadowed, inchi added,
       the hash-change attempt silently discarded (immutable);
    4. ``modify(13, identifiers={pubchem_cid:'702'},
       overwrite_identifiers=True)`` — OVERWRITE: stored smiles dropped,
       hash+formula forced back in, pubchem added;
    5. ``modify(99999, name='x')`` → MissingMoleculeError, checked
       pre-commit (gate row counts it; a gate that mutated state would
       hash red).

    Returns scalar rows (kind ∈ name/comment/ident) — the identifiers
    map EXPLODED to (key, value) rows so the oracle replays the merge
    algebra as pure CASE/UNION SQL.  Gate-only (scratch-IO shaped, like
    s13/s14/s16)."""
    import shutil

    from .operators.molecules import MissingMoleculeError, modify_molecule
    from .sources.table import MutableTable

    part = _t(spark, sf_dir, "part")
    path = _scratch_dir(sf_dir, "s17")
    shutil.rmtree(path, ignore_errors=True)

    k = F.col("p_partkey")
    formula = F.concat(
        F.lit("C"), (F.pmod(k, F.lit(3)) + 1).cast("string"),
        F.lit("H"), (F.pmod(k, F.lit(5)) + 1).cast("string"),
    )
    mols_df = part.where(k < 200).select(
        k.alias("molecule_id"),
        F.col("p_name").alias("name"),
        F.lit(None).cast("string").alias("comment"),
        F.map_from_arrays(
            F.array(F.lit("molecule_hash"), F.lit("molecular_formula"), F.lit("smiles")),
            F.array(
                F.md5(F.col("p_name")),
                formula,
                F.concat(F.lit("S"), k.cast("string")),
            ),
        ).alias("identifiers"),
    )
    table = MutableTable(spark, f"{path}/molecules")
    table.overwrite(mols_df)

    modify_molecule(table, 5, name="renamed")
    modify_molecule(table, 7, comment="a comment")
    modify_molecule(
        table,
        11,
        identifiers={
            "smiles": "CCO",
            "inchi": "InChI=1S/x",
            "molecule_hash": "evil",
        },
    )
    modify_molecule(
        table, 13, identifiers={"pubchem_cid": "702"}, overwrite_identifiers=True
    )
    gates = 0
    try:
        modify_molecule(table, 99999, name="x")
    except MissingMoleculeError:
        gates += 1

    cur = table.read()
    names = cur.select(
        F.lit("name").alias("kind"),
        "molecule_id",
        F.lit(None).cast("string").alias("k"),
        F.col("name").alias("v"),
    )
    comments = cur.select(
        F.lit("comment").alias("kind"),
        "molecule_id",
        F.lit(None).cast("string").alias("k"),
        F.col("comment").alias("v"),
    )
    idents = cur.select(
        "molecule_id", F.explode(F.col("identifiers")).alias("k", "v")
    ).select(F.lit("ident").alias("kind"), "molecule_id", "k", "v")
    gate = local_df(
        spark,
        [("gate", gates, None, None)],
        "kind string, molecule_id long, k string, v string",
    )
    return names.unionByName(comments).unionByName(idents).unionByName(gate)


SQL_S17 = """
WITH mols AS (
  SELECT p_partkey AS id, p_name AS nm,
         md5(p_name) AS hash,
         'C' || CAST(p_partkey % 3 + 1 AS VARCHAR)
             || 'H' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS formula,
         'S' || CAST(p_partkey AS VARCHAR) AS smiles
  FROM part WHERE p_partkey < 200
)
SELECT 'name' AS kind, CAST(id AS BIGINT) AS molecule_id,
       CAST(NULL AS VARCHAR) AS k,
       CASE WHEN id = 5 THEN 'renamed' ELSE nm END AS v
FROM mols
UNION ALL
SELECT 'comment', id, NULL, CASE WHEN id = 7 THEN 'a comment' END FROM mols
-- identifiers: hash + formula survive EVERY arm (immutable)
UNION ALL
SELECT 'ident', id, 'molecule_hash', hash FROM mols
UNION ALL
SELECT 'ident', id, 'molecular_formula', formula FROM mols
-- smiles: shadowed by the merge on 11, dropped by the overwrite on 13
UNION ALL
SELECT 'ident', id, 'smiles', CASE WHEN id = 11 THEN 'CCO' ELSE smiles END
FROM mols WHERE id <> 13
-- merge-added key on 11, overwrite-added key on 13
UNION ALL
SELECT 'ident', 11, 'inchi', 'InChI=1S/x'
UNION ALL
SELECT 'ident', 13, 'pubchem_cid', '702'
-- the caught missing-id gate
UNION ALL
SELECT 'gate', 1, NULL, NULL
"""


def q_o13_job_lifecycle(spark, sf_dir):
    """O13 (r14, VERDICT r13 "What's missing" item 3): the internal-jobs
    progress/cancel lifecycle as actual table ops (streaming/jobs.py;
    reference internal_jobs/socket.py:65-447, status.py:23-130).  The
    claim SELECT is o7_serial_claim; this gates everything around it.

    Fixture: every order becomes a waiting job (scheduled = 10^6 +
    custkey, repeat_delay 60 on the %4 stripe, serial groups as in o7).
    Script over orderkey%10 stripes: claim 0-1 to runner r1 and 2-4 to
    r2 at t=1000; progress 40/'working' on 0,2 at 1010; cancel 3
    (running→cancelled) and 5 (waiting→cancelled); finish 0 complete at
    1020 — forcing 100/'Complete' and RESPAWNING its repeat-delay
    members (%20 stripe) as fresh waiting rows at 1080 with ids
    max_orderkey + rank; finish 2 as error 'boom' at 1030 (progress
    NOT forced); runner_stop_reset('r2') recycling stripe 4 back to a
    cleared waiting row; delete_old(1025) sweeping the stripe-0
    completions (ended 1020) while keeping the error (1030) and the
    never-ended cancellations.  The oracle replays every cell, so a
    progress write reaching a non-running job, a cancel touching a
    finished one, a respawn id/schedule drift, or a retention sweep of a
    NULL-ended row all hash red.  Gate-only (scratch-IO shaped)."""
    import shutil

    from .streaming.jobs import InternalJobTable

    orders = _t(spark, sf_dir, "orders")
    fix = orders.select(
        F.col("o_orderkey").alias("job_id"),
        F.concat(F.lit("job"), (F.col("o_orderkey") % 20).cast("string")).alias(
            "name"
        ),
        F.lit(None).cast("string").alias("unique_name"),
        F.lit("waiting").alias("status"),
        (F.lit(1_000_000) + F.col("o_custkey")).cast("long").alias(
            "scheduled_date"
        ),
        F.concat(F.lit("f"), (F.col("o_custkey") % 5).cast("string")).alias(
            "function"
        ),
        F.lit("{}").alias("kwargs"),
        F.lit(None).cast("string").alias("after_function"),
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(60).cast("long")).alias(
            "repeat_delay"
        ),
        F.when(F.col("o_custkey") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(F.lit("g"), (F.col("o_custkey") % 37).cast("string"))
        )
        .alias("serial_group"),
        F.col("o_custkey").alias("user_id"),
        F.lit(0).cast("int").alias("progress"),
        F.lit(None).cast("string").alias("progress_description"),
        F.lit(None).cast("long").alias("started_date"),
        F.lit(None).cast("long").alias("last_updated"),
        F.lit(None).cast("long").alias("ended_date"),
        F.lit(None).cast("string").alias("runner_uuid"),
        F.lit(None).cast("string").alias("result"),
    )
    path = _scratch_dir(sf_dir, "o13")
    shutil.rmtree(path, ignore_errors=True)
    t = InternalJobTable(spark, path)
    t.init(fix)

    def stripe(*mods):
        return [
            r[0]
            for r in orders.where((F.col("o_orderkey") % 10).isin(*mods))
            .select("o_orderkey")
            .collect()
        ]

    t.claim(stripe(0, 1), runner_uuid="r1", now=1000)
    t.claim(stripe(2, 3, 4), runner_uuid="r2", now=1000)
    t.update_progress(stripe(0, 2), 40, "working", now=1010)
    t.cancel(stripe(3, 5))
    t.finish(stripe(0), now=1020)
    t.finish(stripe(2), now=1030, result="boom", error=True)
    t.runner_stop_reset("r2")
    t.delete_old(before=1025)
    return t.read().select(
        "job_id", "name", "status", "scheduled_date", "function",
        "repeat_delay", "serial_group", "progress", "progress_description",
        "started_date", "last_updated", "ended_date", "runner_uuid", "result",
    )


SQL_O13 = """
WITH base AS (
  SELECT o_orderkey AS k, o_custkey AS c, o_orderkey % 10 AS stripe
  FROM orders
),
mx AS (SELECT MAX(o_orderkey) AS mx FROM orders),
survivors AS (
  SELECT k AS job_id,
         'job' || CAST(k % 20 AS VARCHAR) AS name,
         CASE stripe WHEN 1 THEN 'running'
                     WHEN 2 THEN 'error'
                     WHEN 3 THEN 'cancelled'
                     WHEN 5 THEN 'cancelled'
                     ELSE 'waiting' END AS status,
         CAST(1000000 + c AS BIGINT) AS scheduled_date,
         'f' || CAST(c % 5 AS VARCHAR) AS function,
         CASE WHEN k % 4 = 0 THEN CAST(60 AS BIGINT) END AS repeat_delay,
         CASE WHEN c % 5 = 0 THEN NULL
              ELSE 'g' || CAST(c % 37 AS VARCHAR) END AS serial_group,
         CASE WHEN stripe = 2 THEN 40 ELSE 0 END AS progress,
         CASE WHEN stripe = 2 THEN 'working' END AS progress_description,
         CASE WHEN stripe IN (1, 2, 3) THEN CAST(1000 AS BIGINT) END
           AS started_date,
         CASE stripe WHEN 1 THEN CAST(1000 AS BIGINT)
                     WHEN 2 THEN CAST(1030 AS BIGINT)
                     WHEN 3 THEN CAST(1000 AS BIGINT) END AS last_updated,
         CASE WHEN stripe = 2 THEN CAST(1030 AS BIGINT) END AS ended_date,
         CASE stripe WHEN 1 THEN 'r1' WHEN 2 THEN 'r2' WHEN 3 THEN 'r2' END
           AS runner_uuid,
         CASE WHEN stripe = 2 THEN 'boom' END AS result
  FROM base
  WHERE stripe <> 0  -- completed at 1020, swept by delete_old(1025)
),
respawn AS (
  SELECT CAST(mx.mx + ROW_NUMBER() OVER (ORDER BY k) AS BIGINT) AS job_id,
         'job' || CAST(k % 20 AS VARCHAR) AS name,
         'waiting' AS status,
         CAST(1080 AS BIGINT) AS scheduled_date,
         'f' || CAST(c % 5 AS VARCHAR) AS function,
         CAST(60 AS BIGINT) AS repeat_delay,
         CASE WHEN c % 5 = 0 THEN NULL
              ELSE 'g' || CAST(c % 37 AS VARCHAR) END AS serial_group,
         0 AS progress,
         CAST(NULL AS VARCHAR) AS progress_description,
         CAST(NULL AS BIGINT) AS started_date,
         CAST(NULL AS BIGINT) AS last_updated,
         CAST(NULL AS BIGINT) AS ended_date,
         CAST(NULL AS VARCHAR) AS runner_uuid,
         CAST(NULL AS VARCHAR) AS result
  FROM base, mx WHERE k % 20 = 0
)
SELECT * FROM survivors UNION ALL SELECT * FROM respawn
"""


def q_s15_attachments(spark, sf_dir):
    """S15 (r14, VERDICT r13 "What's missing" item 4): external-file /
    dataset-attachment metadata as table ops
    (sources/external_files.py; reference external_files/socket.py:31-372,
    dataset attachments dataset_socket.py:374-462).

    The storage PHYSICS (binary side-table) is the S11/mm_* pattern; this
    gates the metadata surface: a bulk attach of one file per customer
    (content = the name|segment bytes, dataset_id = custkey%3, alternating
    attachment types), digests and sizes computed scan-side
    (sha2/length, codegen — never a per-file Python loop), then a
    dataset-scoped bulk delete of the custkey%7 stripe, returning every
    surviving attachment row.  The oracle replays the digest
    (sha256(name|segment)), the byte size, and the delete predicate — a
    digest drift, a blob/metadata key mismatch, or an over-broad delete
    all hash red.  Gate-only (scratch-IO shaped)."""
    import shutil

    from .sources.external_files import ExternalFileStore

    cust = _t(spark, sf_dir, "customer")
    files = cust.where(F.col("c_custkey") < 500).select(
        F.col("c_custkey").alias("file_id"),
        F.concat(F.lit("f"), F.col("c_custkey").cast("string"), F.lit(".txt")).alias(
            "file_name"
        ),
        F.col("c_mktsegment").alias("description"),
        F.lit('{"origin": "bench"}').alias("provenance"),
        F.encode(F.concat(F.col("c_name"), F.lit("|"), F.col("c_mktsegment")), "UTF-8").alias("content"),
        (F.col("c_custkey") % 3).cast("long").alias("dataset_id"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit("view"))
        .otherwise(F.lit("other"))
        .alias("attachment_type"),
    )
    path = _scratch_dir(sf_dir, "s15")
    shutil.rmtree(path, ignore_errors=True)
    store = ExternalFileStore(spark, path)
    store.init()
    store.attach_many(files, now=1234567)
    doomed = [
        r[0]
        for r in cust.where((F.col("c_custkey") < 500) & (F.col("c_custkey") % 7 == 0))
        .select("c_custkey")
        .collect()
    ]
    store.delete(doomed)
    return store.metadata.read().select(
        "file_id", "dataset_id", "attachment_type", "file_type", "status",
        "created_on", "file_name", "description", "sha256sum", "file_size",
    )


SQL_S15 = """
SELECT c_custkey AS file_id,
       CAST(c_custkey % 3 AS BIGINT) AS dataset_id,
       CASE WHEN c_custkey % 2 = 0 THEN 'view' ELSE 'other' END
         AS attachment_type,
       'dataset_attachment' AS file_type,
       'available' AS status,
       CAST(1234567 AS BIGINT) AS created_on,
       'f' || CAST(c_custkey AS VARCHAR) || '.txt' AS file_name,
       c_mktsegment AS description,
       sha256(c_name || '|' || c_mktsegment) AS sha256sum,
       CAST(octet_length(encode(c_name || '|' || c_mktsegment)) AS BIGINT) AS file_size
FROM customer
WHERE c_custkey < 500 AND c_custkey % 7 <> 0
"""


def q_tx_gopher_rules(spark, sf_dir):
    """TX+ (beyond-reference, r14): the Gopher A1.1 document-quality rule
    set (Rae et al. 2021, arXiv 2112.11446) as one scan-side verdict per
    doc — word-count band, mean-word-length band, symbol-to-word ratio,
    bullet-line and ellipsis-line fractions, alpha-word fraction, and
    the 8-word stop-word probe (functions/text.py:gopher_rules).  Every
    ratio rule is integer cross-multiplied (never a float divide), so
    the booleans are engine-exact and the DuckDB oracle replays them
    bit-for-bit with list algebra.  Plan: pure codegen string/array
    work in the scan, one row out per row in — composes as a WHERE
    clause in any prep pipeline (the published-rule sibling of the
    quality_score filter pipe_prepare uses)."""
    docs = _t(spark, sf_dir, "documents", fan=True).where(F.col("text").isNotNull())
    return tx.gopher_rules(docs)


SQL_TX_GOPHER = f"""
WITH d AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks,
         list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
              AS BIGINT) AS sum_len,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           AS n_hash,
         CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
           + CAST(length(text) - length(replace(text, '…', '')) AS BIGINT)
           AS n_ell,
         CAST(len(list_filter(lines,
                l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*')
                     OR starts_with(trim(l), '•'))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines,
                l -> ends_with(trim(l), '...') OR ends_with(trim(l), '…')))
              AS BIGINT) AS n_ell_lines,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS n_alpha,
         CAST(len(list_intersect(list_distinct(toks),
                ['the','be','to','of','and','that','have','with']))
              AS BIGINT) AS n_stop
  FROM d
),
r AS (
  SELECT doc_id, n_words, n_lines,
         (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
         (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
           AS mean_word_len_ok,
         ((n_hash + n_ell) * 10 <= n_words) AS symbol_ratio_ok,
         (n_bullet * 10 <= 9 * n_lines) AS bullet_ok,
         (n_ell_lines * 10 <= 3 * n_lines) AS ellipsis_lines_ok,
         (n_alpha * 5 >= n_words * 4) AS alpha_words_ok,
         (n_stop >= 2) AS stopwords_ok
  FROM c
)
SELECT *,
       (word_count_ok AND mean_word_len_ok AND symbol_ratio_ok AND bullet_ok
        AND ellipsis_lines_ok AND alpha_words_ok AND stopwords_ok) AS keep
FROM r
"""


def q_tx_c4_clean(spark, sf_dir):
    """TX+ (beyond-reference, r14): C4 line-level cleaning (Raffel et al.
    2020 §2.2 public rules) as a REWRITE — kept lines (terminal
    punctuation, ≥5 words, no 'javascript') re-joined into cleaned text
    plus the page verdict (≥3 sentences, no 'lorem ipsum', no '{')
    (functions/text.py:c4_clean).  The transform sibling of
    tx_gopher_rules: one scan, one row out per row in, all rules
    count/containment-based so the oracle replays the REWRITTEN TEXT
    byte-for-byte — a dropped line, a join-separator drift, or a
    verdict flip all hash red.

    The documents fixture is single-line unpunctuated word soup, so the
    gate first synthesizes page structure DETERMINISTICALLY (literal
    replaces both engines execute identically): '.'/'?'-terminated
    lines cut at the 'merge'/'join' tokens, an unterminated line at
    'scan' (dropped by the terminal rule), plus per-stripe injections —
    a javascript line (doc_id%7), a lorem-ipsum line (%11), and a
    curly-brace line (%13) — exercising every rule against real data."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = F.col("text")
    t = F.replace(t, F.lit(" merge "), F.lit(" merge.\n "))
    t = F.replace(t, F.lit(" join "), F.lit(" join?\n "))
    t = F.replace(t, F.lit(" scan "), F.lit(" scan\n "))
    did = F.col("doc_id")
    t = F.concat(
        t,
        F.when(did % 7 == 0, F.lit("\nplease enable javascript support now."))
        .otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit("\nlorem ipsum dolor sit amet friend."))
        .otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit("\ncall function() { now. }")).otherwise(
            F.lit("")
        ),
    )
    return tx.c4_clean(docs.select("doc_id", t.alias("text")))


SQL_TX_C4 = """
WITH raw AS (
  SELECT doc_id,
         replace(replace(replace(text,
                 ' merge ', ' merge.' || chr(10) || ' '),
                 ' join ', ' join?' || chr(10) || ' '),
                 ' scan ', ' scan' || chr(10) || ' ')
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || 'please enable javascript support now.'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet friend.'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN chr(10) || 'call function() { now. }'
                 ELSE '' END AS text
  FROM documents WHERE text IS NOT NULL
),
d AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
  FROM raw
),
k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, l ->
            (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
             OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
            AND len(list_filter(string_split(lower(trim(l)), ' '),
                                w -> w <> '')) >= 5
            AND NOT contains(lower(trim(l)), 'javascript')) AS kept
  FROM d
),
c AS (
  SELECT doc_id, text, lines, kept,
         COALESCE(array_to_string(kept, chr(10)), '') AS cleaned_text
  FROM k
)
SELECT doc_id, cleaned_text,
       CAST(len(kept) AS BIGINT) AS n_lines_kept,
       CAST(len(lines) - len(kept) AS BIGINT) AS n_lines_dropped,
       CAST(length(cleaned_text)
            - length(replace(replace(replace(cleaned_text, '.', ''),
                                     '!', ''), '?', '')) AS BIGINT)
         AS n_sentences,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       contains(text, '{') AS has_brace,
       (length(cleaned_text)
          - length(replace(replace(replace(cleaned_text, '.', ''),
                                   '!', ''), '?', '')) >= 3
        AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{')) AS page_keep
FROM c
"""


def q_st_sessionize(spark, sf_dir):
    """Session-window rollup per user (gap 30 min) — the engine's
    sessionization surface (streaming/state.py; batch plan here, identical
    aggregation streaming-side with a watermark).  Spark merges an event
    into the open session iff ts < last_event + gap; the oracle reproduces
    that with lag + cumulative-sum session ids."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("s"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


SQL_ST_SESSION = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, sid
"""


def q_st_session_custom(spark, sf_dir):
    """T-custom: the ``applyInPandasWithState`` session state machine
    (streaming/state.py:stateful_session_stats) run END-TO-END as an
    availableNow stream over the events table — the custom-state arm of
    the sessionization surface under the driver hash gate (VERDICT r5
    item 7; q_st_sessionize stamps only the built-in session_window arm).

    A far-future sentinel event (user_id -1) pushes the watermark past
    every real session's timeout, so the emitted session set is total and
    deterministic; the stream runs twice against one checkpoint because
    the watermark advances between runs, and EventTimeTimeout fires on the
    second pass.  Scratch state is wiped per call (idempotent, like every
    mutation query).  Output omits the float accumulator (pytest covers
    it) — session boundaries + exact counts fully determine the state
    machine's behavior and hash-match the same lag+cumsum oracle algebra
    as st_sessionize."""
    import os
    import shutil

    from .streaming.state import stateful_session_stats

    base = _scratch_dir(sf_dir, "stc")
    shutil.rmtree(base, ignore_errors=True)
    land, sink, ckpt = (os.path.join(base, p) for p in ("land", "sink", "ckpt"))
    os.makedirs(land, exist_ok=True)
    schema = "ts timestamp, user_id long, value double"
    ev = _t(spark, sf_dir, "events").select(
        "ts", F.col("user_id").cast("long").alias("user_id"), F.col("value").cast("double").alias("value")
    )
    sentinel = local_df(spark, [(datetime(2030, 1, 1), -1, 0.0)], schema)
    ev.unionByName(sentinel).coalesce(4).write.mode("overwrite").parquet(land)
    for _ in range(2):
        q = (
            stateful_session_stats(
                spark.readStream.schema(schema).parquet(land), gap_seconds=1800
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # explicit schema: with zero emitted rows (empty source) the sink has
    # only a _spark_metadata dir and schema inference would fail
    out_schema = (
        "user_id long, session_start timestamp, last_event timestamp, "
        "n_events long, total_value double"
    )
    return (
        spark.read.schema(out_schema).parquet(sink)
        .where(F.col("user_id") >= 0)
        .select("user_id", "session_start", "last_event", "n_events")
    )


SQL_ST_SESSION_CUSTOM = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS last_event,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
"""


def q_t2_enrichment(spark, sf_dir):
    """T2: incremental high-watermark enrichment
    (serverinfo/socket.py:212-285) as a verifiable batch: rows newer than
    the stored watermark are enriched by a broadcast join against a
    distinct-key lookup (here: per-user first-seen date derived from
    history, the analog of the geo table built from distinct IPs)."""
    from .streaming.ingest import incremental_enrichment_batch

    events = _t(spark, sf_dir, "events")
    watermark = datetime(2024, 1, 25)
    lookup = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_seen")
    )
    out = incremental_enrichment_batch(
        events, lookup, watermark, ts_col="ts", key_col="user_id"
    )
    return out.select("event_id", "user_id", "first_seen")


SQL_T2 = """
WITH lookup AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_seen FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, l.first_seen
FROM events e LEFT JOIN lookup l ON e.user_id = l.user_id
WHERE e.ts > TIMESTAMP '2024-01-25 00:00:00'
"""


# --------------------------------------------------------------------------
# F10/P6: molecular-formula canonicalization + identifiers containment
# --------------------------------------------------------------------------

_MOL_POOL = ["H", "C", "N", "O", "S", "P"]


def _mol_raw_py(k: int) -> str:
    """Raw (non-canonical) formula fixture: pure function of the key, so both
    engines re-derive it; element pool rotation guarantees 3 distinct
    elements in arbitrary (non-Hill) order."""
    e = [_MOL_POOL[k % 6], _MOL_POOL[(k + 2) % 6], _MOL_POOL[(k + 4) % 6]]
    c = [k % 3 + 1, (k // 3) % 3 + 1, (k // 9) % 3 + 1]
    return "".join(el + (str(n) if n > 1 else "") for el, n in zip(e, c))


# The user's query formulas, deliberately written element-scrambled; the
# reference canonicalizes these driver-side before the SQL filter
# (molecules/socket.py:237-249) — mirrored here with order_formula_py.
_MOL_QUERY_FORMULAS = [_mol_raw_py(1), _mol_raw_py(5), _mol_raw_py(10)]


def q_mol_identifiers(spark, sf_dir):
    """F10/P6: identifiers containment with molecular-formula
    canonicalization (molecules/socket.py:237-249 + qcelemental
    order_molecular_formula).  Row-side formulas are Hill-canonicalized with
    pure codegen expressions (functions/scalars.py:order_molecular_formula);
    the query input list is canonicalized driver-side (order_formula_py),
    exactly the reference's split.  The IN filter over the canonical column
    is the P6 identifiers-containment shape."""
    from .functions.scalars import order_formula_py, order_molecular_formula

    part = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    pool = F.array(*[F.lit(e) for e in _MOL_POOL])

    def _el(off):
        return F.element_at(pool, (F.pmod(k + F.lit(off), F.lit(6)) + 1).cast("int"))

    def _sfx(c):
        return F.when(c > 1, c.cast("string")).otherwise(F.lit(""))

    c1 = F.pmod(k, F.lit(3)) + 1
    c2 = F.pmod(F.expr("p_partkey div 3"), F.lit(3)) + 1
    c3 = F.pmod(F.expr("p_partkey div 9"), F.lit(3)) + 1
    raw = F.concat(_el(0), _sfx(c1), _el(2), _sfx(c2), _el(4), _sfx(c3))
    targets = sorted({order_formula_py(f) for f in _MOL_QUERY_FORMULAS})
    out = part.select(
        "p_partkey",
        raw.alias("formula_raw"),
        order_molecular_formula(raw).alias("formula_hill"),
    )
    return out.where(F.col("formula_hill").isin(targets))


def _sql_mol_identifiers() -> str:
    from .functions.scalars import order_formula_py

    targets = sorted({order_formula_py(f) for f in _MOL_QUERY_FORMULAS})
    in_list = ", ".join(f"'{t}'" for t in targets)
    return rf"""
WITH pool(i, el) AS (VALUES (0,'H'),(1,'C'),(2,'N'),(3,'O'),(4,'S'),(5,'P')),
raw AS (
  SELECT p_partkey,
         e1.el || CASE WHEN c1 > 1 THEN CAST(c1 AS VARCHAR) ELSE '' END ||
         e2.el || CASE WHEN c2 > 1 THEN CAST(c2 AS VARCHAR) ELSE '' END ||
         e3.el || CASE WHEN c3 > 1 THEN CAST(c3 AS VARCHAR) ELSE '' END AS formula_raw
  FROM (SELECT p_partkey,
               p_partkey % 6 AS i1, (p_partkey + 2) % 6 AS i2, (p_partkey + 4) % 6 AS i3,
               p_partkey % 3 + 1 AS c1, (p_partkey // 3) % 3 + 1 AS c2,
               (p_partkey // 9) % 3 + 1 AS c3
        FROM part) t
  JOIN pool e1 ON e1.i = t.i1
  JOIN pool e2 ON e2.i = t.i2
  JOIN pool e3 ON e3.i = t.i3
),
tok AS (
  SELECT p_partkey, formula_raw,
         list_transform(regexp_extract_all(formula_raw, '[A-Z][a-z]*\d*'),
            x -> struct_pack(el := regexp_extract(x, '^([A-Z][a-z]*)', 1),
                             n := CASE WHEN regexp_extract(x, '(\d+)$', 1) = ''
                                       THEN 1
                                       ELSE CAST(regexp_extract(x, '(\d+)$', 1) AS INT)
                                  END)) AS ps
  FROM raw
),
keyed AS (
  SELECT p_partkey, formula_raw,
         list_sort(list_transform(ps, p -> struct_pack(
            k := CASE WHEN has_c AND p.el = 'C' THEN '0'
                      WHEN has_c AND p.el = 'H' THEN '1'
                      ELSE '2' || p.el END,
            el := p.el, n := p.n))) AS sp
  FROM (SELECT *, len(list_filter(ps, p -> p.el = 'C')) > 0 AS has_c FROM tok)
)
SELECT p_partkey, formula_raw, formula_hill FROM (
  SELECT p_partkey, formula_raw,
         array_to_string(list_transform(sp,
           p -> p.el || CASE WHEN p.n > 1 THEN CAST(p.n AS VARCHAR) ELSE '' END),
           '') AS formula_hill
  FROM keyed
) WHERE formula_hill IN ({in_list})
"""


SQL_MOL_IDENTIFIERS = _sql_mol_identifiers()


# --------------------------------------------------------------------------
# A13: many-body per-level energy rollup
# --------------------------------------------------------------------------


def q_a13_manybody_levels(spark, sf_dir):
    """A13: many-body expansion per-level rollup
    (manybody/record_socket.py:230-300): each component cluster contributes
    coefficient × energy to its mc_level; totals are per-level exact sums.
    Runs over the 320-grid domain fixture (ingest.records — complete rows
    carry properties['return_energy']); mc_level and the CP coefficient are
    pure functions of the record id, so the oracle re-derives the grid with
    generate_series.  One map-combinable groupBy — scales."""
    from . import ingest

    rec = ingest.records(spark)
    coef = (
        F.when(F.pmod(F.col("id"), F.lit(3)) == 0, F.lit(1))
        .when(F.pmod(F.col("id"), F.lit(3)) == 1, F.lit(-1))
        .otherwise(F.lit(2))
    )
    comp = rec.where(F.col("status") == "complete").select(
        (F.pmod(F.col("id"), F.lit(4)) + 1).alias("mc_level"),
        (coef.cast("double") * F.col("properties")["return_energy"]).alias("term"),
    )
    return comp.groupBy("mc_level").agg(
        F.count(F.lit(1)).alias("n_components"),
        _dsum(F.col("term"), "level_energy"),
    )


SQL_A13 = """
SELECT mc_level, COUNT(*) AS n_components,
       CAST(SUM(CAST(term AS DECIMAL(20,6))) AS DOUBLE) AS level_energy
FROM (
  SELECT (i + 1) % 4 + 1 AS mc_level,
         (CASE (i + 1) % 3 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 2 END)::DOUBLE
           * (-1.0 - 0.01 * i) AS term
  FROM unnest(generate_series(0, 319)) t(i)
  WHERE i % 7 = 0
) GROUP BY mc_level
"""


# --------------------------------------------------------------------------
# DD+: winnowing fingerprints and embedding-cosine near-dup
# --------------------------------------------------------------------------


def q_dd_winnow(spark, sf_dir):
    """DD+ (beyond-reference): winnowing-fingerprint near-dup pairs (MOSS
    algorithm, functions/dedup.py:winnow_pairs): per-window minima of rolling
    16-gram hashes are the fingerprint set (~2/(w+1) selectivity with a
    shared-substring guarantee ≥ 23 chars); docs sharing ≥ 2 fingerprints
    pair up via a fingerprint-bucket-local join."""
    docs = _t(spark, sf_dir, "documents")
    return dd.winnow_pairs(docs, k=16, w=8, min_common=2)


SQL_DD_WINNOW = r"""
WITH docs AS (
  SELECT doc_id AS id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents
),
h AS (
  SELECT id, i,
         ('0x' || substr(md5(substring(t, i, 16)), 1, 8))::BIGINT AS h,
         length(t) - 15 AS n
  FROM docs, unnest(generate_series(1, greatest(length(t) - 15, 1))) u(i)
),
wm AS (
  SELECT id, i, n,
         MIN(h) OVER (PARTITION BY id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin
  FROM h
),
fp AS (SELECT DISTINCT id, wmin AS fp FROM wm WHERE i <= greatest(n - 7, 1))
SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
FROM fp a JOIN fp b ON a.fp = b.fp AND a.id < b.id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def q_dd_winnow_capped(spark, sf_dir):
    """DD+ (bounded-bench arm, r14 — VERDICT r13 item 2): winnowing
    fingerprints in the configuration that survives 100 TB — the
    hot-fingerprint document-frequency cap (max_doc_freq=20) bounds every
    bucket's pair fan-out at f², exactly the dd_jaccard→dd_jaccard_capped
    precedent.  The uncapped `dd_winnow` is gate-only: the sf1→sf10 decade
    measured its output growing at exponent 1.37 on this duplicate-rich
    fixture (boilerplate fingerprints shared across O(corpus) docs), which
    is the plan that melts at scale.  A fingerprint selected by >20 docs
    is template text by construction; dropping it loses only pairs whose
    ENTIRE overlap is boilerplate — near-dup pairs with any distinctive
    shared substring keep ≥min_common rare fingerprints.  Oracle replays
    the cap on the identical fingerprint set."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    return dd.winnow_pairs(docs, k=16, w=8, min_common=2, max_doc_freq=20)


SQL_DD_WINNOW_CAPPED = r"""
WITH docs AS (
  SELECT doc_id AS id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents
),
h AS (
  SELECT id, i,
         ('0x' || substr(md5(substring(t, i, 16)), 1, 8))::BIGINT AS h,
         length(t) - 15 AS n
  FROM docs, unnest(generate_series(1, greatest(length(t) - 15, 1))) u(i)
),
wm AS (
  SELECT id, i, n,
         MIN(h) OVER (PARTITION BY id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin
  FROM h
),
fp AS (SELECT DISTINCT id, wmin AS fp FROM wm WHERE i <= greatest(n - 7, 1)),
rare AS (
  SELECT id, fp FROM fp
  WHERE fp IN (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 20)
)
SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
FROM rare a JOIN rare b ON a.fp = b.fp AND a.id < b.id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def q_dd_substring(spark, sf_dir):
    """DD+ (beyond-reference): arbitrary-offset duplicated-substring spans
    via content-defined chunking (functions/dedup.py:cdc_duplicate_spans)
    — the Spark-honest arm of the Lee et al. 2022 exact-substring dedup
    family (VERDICT r5 item 5).  Rolling-hash cut points (16-gram hash %
    64 == 0) are offset-invariant, so a passage duplicated at DIFFERENT
    offsets still yields byte-identical interior chunks; the fixed
    20-token grid of dd_span_dedup misses exactly that case (fixture:
    tests/test_functions.py::test_cdc_catches_offset_straddling_duplicate).
    Output = removal-ready spans: every chunk (≥ 24 chars) whose md5
    appears in ≥ 2 distinct docs, with its per-doc offset."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    return dd.cdc_duplicate_spans(docs, k=16, mod=64, min_len=24).select(
        F.col("id").alias("doc_id"),
        F.col("start").alias("chunk_start"),
        F.col("length").alias("chunk_len"),
        "chunk_fp",
        "n_docs",
    )


# Shared DuckDB replay of the CDC chunking (k=16, mod=64, min_len=24) over
# the documents table — `kept` = every chunk row; both the batch and the
# incremental oracle build their final select on top of it.
_CDC_KEPT_CTE = r"""
WITH docs AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
),
eligible AS (SELECT id, t, length(t) AS n FROM docs WHERE length(t) >= 16),
anchors AS (
  SELECT id, i
  FROM eligible, unnest(generate_series(2, greatest(n - 15, 2))) u(i)
  WHERE i <= n - 15
    AND ('0x' || substr(md5(substring(t, i, 16)), 1, 8))::BIGINT % 64 = 0
  UNION ALL
  SELECT id, 1 FROM eligible
),
cuts AS (
  SELECT id, i AS s, LEAD(i) OVER (PARTITION BY id ORDER BY i) AS nxt
  FROM anchors
),
chunks AS (
  SELECT c.id, c.s AS chunk_start,
         COALESCE(c.nxt, e.n + 1) - c.s AS chunk_len,
         md5(substring(e.t, c.s, COALESCE(c.nxt, e.n + 1) - c.s)) AS chunk_fp
  FROM cuts c JOIN eligible e ON e.id = c.id
),
kept AS (SELECT * FROM chunks WHERE chunk_len >= 24)"""

SQL_DD_SUBSTRING = _CDC_KEPT_CTE + r""",
dup AS (
  SELECT chunk_fp, COUNT(DISTINCT id) AS n_docs
  FROM kept GROUP BY 1 HAVING COUNT(DISTINCT id) >= 2
)
SELECT k.id AS doc_id, k.chunk_start, k.chunk_len, k.chunk_fp, d.n_docs
FROM kept k JOIN dup d USING (chunk_fp)
"""


def q_dd_substring_incremental(spark, sf_dir):
    """DD+ (beyond-reference): the incremental arm of CDC substring dedup
    (functions/dedup.py:incremental_cdc_duplicates) — the corpus
    (doc_id % 10 != 0, same split as dd_incremental) is chunked once into
    a persisted index; the ingest batch (doc_id % 10 == 0) probes it with
    a broadcast join plus a within-batch self-join.  Corpus text is never
    re-chunked at probe time — only the index's fingerprint column is
    read.  Output = removal-ready spans of the batch docs whose content
    already exists in the corpus or in a lower-id batch doc."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    path = _scratch_dir(sf_dir, "cdc_index")
    dd.write_cdc_chunk_index(corpus, path)
    return dd.incremental_cdc_duplicates(spark, path, batch).select(
        F.col("id").alias("doc_id"),
        F.col("start").alias("chunk_start"),
        F.col("length").alias("chunk_len"),
        "chunk_fp",
    )


SQL_DD_SUBSTRING_INCR = _CDC_KEPT_CTE + r"""
SELECT b.id AS doc_id, b.chunk_start, b.chunk_len, b.chunk_fp
FROM kept b
WHERE b.id % 10 = 0 AND EXISTS (
  SELECT 1 FROM kept a
  WHERE a.chunk_fp = b.chunk_fp
    AND (a.id % 10 <> 0 OR a.id < b.id))
"""


def q_dd_embed(spark, sf_dir):
    """DD+ (beyond-reference): embedding-cosine near-dup pairs — the
    semantic-dedup step n-gram methods miss (functions/similarity.py:
    embed_neardup_pairs).  Bucket-local LSH join, threshold on exact cosine.
    The fixture embeddings are random (pair cosines concentrate near 0, max
    ≈ 0.46), so the query thresholds at 0.25 to exercise the operator;
    deployment uses ≥ 0.9 — same plan, different constant."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.embed_neardup_pairs(emb, threshold=0.25)


def _embed_neardup_oracle_sql() -> str:
    from .functions.similarity import _hyperplanes

    planes = _hyperplanes(64, 6)

    def arr(p):
        return "[" + ", ".join(repr(v) for v in p) + "]"

    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {arr(p)}) > 0 THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b2.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b2.v, b2.v))), 6) AS score
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE ROUND(list_dot_product(a.v, b2.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b2.v, b2.v))), 6) >= 0.25
"""


SQL_DD_EMBED = _embed_neardup_oracle_sql()


# --------------------------------------------------------------------------
# round 2: TF-IDF, unigram-LM scoring, PII redaction, sequence packing
# --------------------------------------------------------------------------


def q_tx_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document — the keyword-extraction step of a
    corpus-analysis pipeline.  Plan: codegen token explode → (doc, term)
    counts (one shuffle, map-combinable) → document frequencies (broadcast
    back: the vocabulary is orders smaller than the corpus) → per-doc
    window top-3.  idf = ln((N+1)/(df+1)) with N carried as a broadcast
    1-row aggregate, never a driver-side collect."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"), F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "doc_id", "term", "tf", "df", "tfidf",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


SQL_TX_TFIDF = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
  ) AS rnk FROM scored
)
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


def q_tx_unigram_lm(spark, sf_dir):
    """Unigram language-model scoring (the CCNet-style perplexity proxy for
    quality filtering): train the unigram model on the corpus itself, score
    each document by its mean negative log2 token probability.

    Float discipline: per-term -log2(p) is rounded to 9 dp and cast to
    decimal BEFORE the per-doc sum, so the sum is order-independent and the
    oracle reproduces it bit-for-bit; transcendentals never enter a float
    accumulation."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"), F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = cf.agg(F.sum("cf").alias("total"))
    nll_term = F.round(-F.log2(F.col("cf") / F.col("total")), 9).cast(
        "decimal(28,9)"
    )
    return (
        tf.join(F.broadcast(cf), on="term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            # tf as decimal(8,0) keeps the product at decimal(37,9) — full
            # scale 9 retained in BOTH engines, no precision-loss rescale.
            F.sum(F.col("tf").cast("decimal(8,0)") * nll_term).alias("_nll_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("_nll_sum").cast("double") / F.col("n_tokens"), 6
            ).alias("mean_nll"),
        )
    )


SQL_TX_UNIGRAM = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS total FROM cf)
SELECT tf.doc_id,
       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(tf.tf AS DECIMAL(8,0))
                      * CAST(ROUND(-log2(CAST(cf.cf AS DOUBLE) / tot.total), 9)
                             AS DECIMAL(28,9))) AS DOUBLE)
             / SUM(tf.tf), 6) AS mean_nll
FROM tf JOIN cf USING (term) CROSS JOIN tot
GROUP BY tf.doc_id
"""


def q_u14_doremi(spark, sf_dir):
    """U+ (beyond-reference): DoReMi domain-mixture reweighting
    (functions/packing.py:doremi_weights; Xie et al. 2023's group-DRO
    exponentiated-gradient rule) — the op that turns per-domain loss
    into the training mixture: per-source token-weighted mean nll from
    the corpus unigram LM (tx_unigram_lm's cascade with source carried —
    aggregating tf per (source, term) is exactly the sum of the per-doc
    relation), excess over the corpus-wide reference, then 5 update
    rounds {w ∝ α·exp(η·excess); renormalize with a c/K uniform floor}.

    Plan: ONE LM-scoring scan is the only corpus-scale work; the update
    rounds are K-row projections (K = #domains) with 1-row normalizer
    broadcasts.  The oracle unrolls the 5 rounds as chained CTEs over
    the SAME shared expression strings (doremi_w_sql/doremi_alpha_sql),
    and the 9-dp round + DECIMAL normalizer sum keeps every round
    bit-identical across engines."""
    from .functions.packing import DOREMI_PARAMS, doremi_weights

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = cf.agg(F.sum("cf").alias("total"))
    nll_term = F.round(-F.log2(F.col("cf") / F.col("total")), 9).cast(
        "decimal(28,9)"
    )
    dom_raw = (
        tf.join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum("tf").alias("ntok"),
            F.sum(F.col("tf").cast("decimal(8,0)") * nll_term).alias("nsum"),
        )
    )
    ref = dom_raw.agg(
        F.round(
            F.sum("nsum").cast("double") / F.sum("ntok"), 6
        ).alias("ref_nll")
    )
    dom = (
        dom_raw.crossJoin(F.broadcast(ref))
        .select(
            "source",
            F.round(F.col("nsum").cast("double") / F.col("ntok"), 6).alias(
                "loss"
            ),
            "ref_nll",
        )
        .withColumn(
            "excess",
            F.expr("GREATEST(CAST(0.0 AS DOUBLE), loss - ref_nll)"),
        )
        .drop("ref_nll")
    )
    p = DOREMI_PARAMS
    return doremi_weights(
        dom, rounds=p["rounds"], eta=p["eta"], smooth=p["smooth"]
    )


def _doremi_oracle_sql() -> str:
    from .functions.packing import (
        DOREMI_PARAMS,
        doremi_alpha_sql,
        doremi_init_sql,
        doremi_w_sql,
    )

    p = DOREMI_PARAMS
    ctes = [
        f"toks AS (SELECT source, unnest({_TOKS_SQL}) AS term FROM documents)",
        "tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf"
        " FROM toks GROUP BY 1, 2)",
        "cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1)",
        "tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS total FROM cf)",
        """domr AS MATERIALIZED (
  SELECT source, CAST(SUM(tf.tf) AS BIGINT) AS ntok,
         SUM(CAST(tf.tf AS DECIMAL(8,0))
             * CAST(ROUND(-log2(CAST(cf.cf AS DOUBLE) / tot.total), 9)
                    AS DECIMAL(28,9))) AS nsum
  FROM tf JOIN cf USING (term) CROSS JOIN tot GROUP BY source)""",
        "refm AS (SELECT ROUND(CAST(SUM(nsum) AS DOUBLE) / SUM(ntok), 6)"
        " AS ref_nll FROM domr)",
        """dom AS MATERIALIZED (
  SELECT source, ROUND(CAST(nsum AS DOUBLE) / ntok, 6) AS loss,
         GREATEST(CAST(0.0 AS DOUBLE),
                  ROUND(CAST(nsum AS DOUBLE) / ntok, 6) - ref_nll) AS excess
  FROM domr CROSS JOIN refm)""",
        "kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM dom)",
        f"d0 AS (SELECT source, loss, excess, k, {doremi_init_sql()} AS alpha"
        f" FROM dom CROSS JOIN kk)",
    ]
    for r in range(1, p["rounds"] + 1):
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT source, loss, excess, k, alpha,"
            f" {doremi_w_sql(p['eta'])} AS w FROM d{r - 1})"
        )
        ctes.append(
            f"d{r} AS (SELECT source, loss, excess, k,"
            f" {doremi_alpha_sql(p['smooth'])} AS alpha"
            f" FROM w{r} CROSS JOIN (SELECT SUM(w) AS sw FROM w{r}) t)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT source, loss, excess, alpha AS weight FROM d{p['rounds']}"
        " ORDER BY source"
    )


SQL_U14_DOREMI = _doremi_oracle_sql()


def q_u15_temperature_mix(spark, sf_dir):
    """U+ (beyond-reference): temperature-scaled domain mixture — the
    multilingual-LM sampling baseline (mT5/XLM-R style: w_i ∝ n_i^τ,
    τ < 1 upsamples the tail) reported at every τ in one pass, beside
    u14_doremi's learned mixture.  Per (source, τ): token count, the
    normalized sampling weight, and the boost over the natural (τ=1)
    share — the table a pretraining run reads to pick its τ.

    Float discipline: τ ∈ {0.25, 0.5, 0.75, 1} so every power is a
    composition of IEEE-correctly-rounded sqrt ops (no libm pow, which
    is NOT guaranteed identical across engines); each term rounds to
    6 dp then sums as DECIMAL, so the normalizer is engine-order-
    independent.  Plan: ONE map-combinable token-count scan reduces the
    corpus to |sources| rows; everything after is domain-count-sized."""
    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(tx.token_count(F.col("text"))).alias("n_tokens")
    )
    x = F.col("n_tokens").cast("double")
    powers = {
        "0.25": F.sqrt(F.sqrt(x)),
        "0.5": F.sqrt(x),
        "0.75": F.sqrt(x) * F.sqrt(F.sqrt(x)),
        "1.0": x,
    }
    terms = per_src.select(
        "source",
        "n_tokens",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(t) for t in powers]),
                F.array(
                    *[
                        F.round(p, 6).cast("decimal(28,6)")
                        for p in powers.values()
                    ]
                ),
            )
        ).alias("tau", "_term"),
    )
    tots = terms.groupBy("tau").agg(F.sum("_term").alias("_tot"))
    nat = per_src.agg(F.sum("n_tokens").alias("_nat_tot"))
    return (
        terms.join(F.broadcast(tots), "tau")
        .crossJoin(F.broadcast(nat))
        .select(
            "source",
            F.col("tau").cast("double").alias("tau"),
            "n_tokens",
            F.round(
                F.col("_term").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("weight"),
            F.round(
                (F.col("_term").cast("double") / F.col("_tot").cast("double"))
                / (F.col("n_tokens") / F.col("_nat_tot")),
                6,
            ).alias("boost"),
        )
    )


SQL_U15 = f"""
WITH per_src AS (
  SELECT source, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents d GROUP BY source
),
terms AS (
  SELECT source, n_tokens, t.tau,
         CAST(ROUND(CASE t.tau
             WHEN 0.25 THEN sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
             WHEN 0.5  THEN sqrt(CAST(n_tokens AS DOUBLE))
             WHEN 0.75 THEN sqrt(CAST(n_tokens AS DOUBLE))
                            * sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
             ELSE CAST(n_tokens AS DOUBLE) END, 6) AS DECIMAL(28,6)) AS term
  FROM per_src, (VALUES (0.25), (0.5), (0.75), (1.0)) t(tau)
),
tots AS (SELECT tau, SUM(term) AS tot FROM terms GROUP BY tau),
nat AS (SELECT SUM(n_tokens) AS nat_tot FROM per_src)
SELECT te.source, CAST(te.tau AS DOUBLE) AS tau, te.n_tokens,
       ROUND(CAST(te.term AS DOUBLE) / CAST(tt.tot AS DOUBLE), 6) AS weight,
       ROUND((CAST(te.term AS DOUBLE) / CAST(tt.tot AS DOUBLE))
             / (te.n_tokens * 1.0 / n.nat_tot), 6) AS boost
FROM terms te JOIN tots tt ON tt.tau = te.tau, nat n
"""


# Deterministic PII augmentation: the synthetic corpus contains no PII, so
# both engines append the same derived contact block before scanning — the
# regexes are exercised on real matches while the fixture stays untouched.
_PII_AUG = (
    "text || ' contact user' || doc_id || '@example.com or +1-555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ip 10.' || "
    "(doc_id % 256) || '.0.' || ((doc_id * 7) % 256)"
)


def q_tx_pii(spark, sf_dir):
    """PII detection + redaction over the (deterministically augmented)
    corpus: per-document counts of emails / phone numbers / IPv4s and the
    md5 of the redacted text.  Pure codegen regex scan — zero shuffles; the
    shape every pre-training privacy pass needs at 100 TB."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    return docs.select(
        "doc_id",
        tx.pii_count(aug, tx.PII_EMAIL_RE).alias("n_emails"),
        tx.pii_count(aug, tx.PII_PHONE_RE).alias("n_phones"),
        tx.pii_count(aug, tx.PII_IPV4_RE).alias("n_ips"),
        F.md5(tx.redact_pii(aug)).alias("redacted_md5"),
    )


SQL_TX_PII = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG} AS t FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}'))
       AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}'))
       AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(t, '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}'))
       AS BIGINT) AS n_ips,
  md5(regexp_replace(
        regexp_replace(
          regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}',
                         '<EMAIL>', 'g'),
          '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}', '<PHONE>', 'g'),
        '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}', '<IP>', 'g'
      )) AS redacted_md5
FROM aug
"""


def q_pk_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing (functions/packing.py): per source
    stream, documents are concatenated in doc_id order and split into
    512-token context windows; each document reports its token offset and
    the chunk span it occupies.  Integer-only window math — bit-exact, one
    shuffle on the stream key, never a global sort."""
    from .functions.packing import concat_chunk_layout

    docs = _t(spark, sf_dir, "documents")
    with_tok = docs.select(
        "source", "doc_id", tx.bpe_ish_token_count(F.col("text")).alias("n_tok")
    )
    return concat_chunk_layout(
        with_tok, token_col="n_tok", budget=512, part_col="source", order_col="doc_id"
    )


SQL_PK_PACK = """
WITH base AS (
  SELECT source, doc_id,
    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT source, doc_id, n_tokens,
    SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS c
  FROM base
)
SELECT source, doc_id, n_tokens,
  CAST(c - n_tokens AS BIGINT) AS start_offset,
  CAST(FLOOR((c - n_tokens) / 512) AS BIGINT) AS first_chunk,
  CAST(FLOOR(GREATEST(c - 1, c - n_tokens) / 512) AS BIGINT) AS last_chunk,
  CAST(FLOOR(GREATEST(c - 1, c - n_tokens) / 512)
       - FLOOR((c - n_tokens) / 512) + 1 AS BIGINT) AS n_chunks
FROM cum
"""


def q_dd_common_ngrams(spark, sf_dir):
    """Boilerplate detection: the 20 most document-frequent 8-grams (per-doc
    distinct, so a gram repeated inside one doc counts once).  The corpus
    statistic behind repeated-template removal: grams with df near N are
    boilerplate to strip before dedup.  Shape: codegen shingle explode →
    one map-combinable count agg → TakeOrdered 20 — scan-dominated, the
    exact shape that holds at 100 TB."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    sh = dd.shingle_rows(docs, "text", "doc_id", k=8, distinct=True)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("shingle").asc())
        .limit(20)
    )


SQL_DD_COMMON = r"""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, substring(t, i, 8) AS shingle
  FROM norm, unnest(generate_series(1, greatest(length(t) - 7, 1))) u(i)
)
SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
FROM grams GROUP BY shingle
ORDER BY df DESC, shingle ASC LIMIT 20
"""


def q_u6_mixture_sample(spark, sf_dir):
    """Temperature-based data mixing (the multilingual/multi-source rebalance
    used in LLM pre-training): per-source token shares are re-weighted by
    share^0.5 (temperature T=2 upsampling of small sources), renormalized,
    and converted into a per-source deterministic sampling rate; the rate is
    then applied with the portable-hash filter to count surviving docs —
    sampling stays scan-side with zero RNG state, so any executor re-derives
    the same sample.  sqrt (IEEE-exact) rather than pow keeps the oracle
    bit-identical."""
    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tx.bpe_ish_token_count(F.col("text"))).alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("_tot"),
    )
    shares = (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn("share", F.col("n_tokens") / F.col("_tot"))
        .withColumn("_w", F.sqrt(F.col("share")))
    )
    # round-then-decimal before the sum: order-independent accumulation with
    # identical double->decimal rounding in both engines
    wsum = shares.agg(
        F.sum(F.round(F.col("_w"), 6).cast(_DEC)).cast("double").alias("_wsum")
    )
    rated = (
        shares.crossJoin(F.broadcast(wsum))
        .withColumn("target_share", F.col("_w") / F.col("_wsum"))
        .withColumn(
            "rate",
            F.round(F.least(F.lit(1.0), F.col("target_share") / F.col("share")), 6),
        )
    )
    # deterministic doc-level application: portable hash in [0, 1)
    u = (tx.portable_hash64(F.col("doc_id").cast("string")) % 1_000_000) / 1_000_000.0
    sampled = (
        docs.select("source", "doc_id")
        .join(F.broadcast(rated.select("source", "rate")), on="source")
        .where(u < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        rated.join(F.broadcast(sampled), on="source", how="left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("share", 6).alias("share"),
            F.round("target_share", 6).alias("target_share"),
            "rate",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
    )


SQL_U6_MIXTURE = """
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
             AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS _tot FROM per_src),
shares AS (
  SELECT *, CAST(n_tokens AS DOUBLE) / _tot AS share,
         sqrt(CAST(n_tokens AS DOUBLE) / _tot) AS _w
  FROM per_src CROSS JOIN tot
),
wsum AS (
  SELECT CAST(SUM(CAST(ROUND(_w, 6) AS DECIMAL(20,6))) AS DOUBLE) AS _wsum
  FROM shares
),
rated AS (
  SELECT *, _w / _wsum AS target_share,
         ROUND(LEAST(1.0, (_w / _wsum) / share), 6) AS rate
  FROM shares CROSS JOIN wsum
),
sampled AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_sampled
  FROM documents d JOIN rated r ON d.source = r.source
  WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000)
        / 1000000.0 < r.rate
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.n_tokens,
       ROUND(r.share, 6) AS share,
       ROUND(r.target_share, 6) AS target_share,
       r.rate,
       COALESCE(s.n_sampled, 0) AS n_sampled
FROM rated r LEFT JOIN sampled s ON r.source = s.source
"""


def q_pk_domain_cap(spark, sf_dir):
    """Per-domain token-budget capping: within each source (doc_id order),
    keep documents while the running token total stays under the 100k
    budget — the deterministic "cap each domain's contribution" pass that
    precedes mixture sampling.  One shuffle on the stream key; integer-only
    window math."""
    docs = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = tx.bpe_ish_token_count(F.col("text"))
    return (
        docs.select("source", "doc_id", n_tok.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= 100_000)
    )


SQL_PK_DOMAIN_CAP = """
WITH base AS (
  SELECT source, doc_id,
    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT source, doc_id, n_tokens,
    CAST(SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_tokens
  FROM base
)
SELECT * FROM cum WHERE cum_tokens <= 100000
"""


def q_sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN: train per-subspace codebooks (deterministic
    k-means, functions/similarity.py:pq_train), encode every vector to m
    codes, then answer the query from the COMPRESSED codes alone via
    asymmetric-distance table lookups — the memory-bandwidth ANN plan (codes
    are m bytes vs 4·dim; the raw vectors never enter the scoring scan).
    Small demo geometry (m=2, ksub=8) so the oracle replay stays tractable;
    the operators take m/ksub as parameters."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb)
    books = sim.pq_train(emb, m=2, ksub=8, n_iter=1)
    codes = sim.pq_codes(emb, books).localCheckpoint(eager=True)
    return sim.pq_adc_topk(codes, books, qvec, k=10)


def _pq_build_parts(m: int = 2, ksub: int = 8, dim: int = 64) -> list[str]:
    """WITH-parts of the PQ build replay (codebooks, per-vector codes, ADC
    tables), assuming a CTE ``e(vec_id, v)`` already exists — shared by the
    pure-PQ oracle and the composed IVF-PQ oracle."""
    dsub = dim // m
    parts: list[str] = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        parts.append(f"s{j} AS (SELECT vec_id, v[{lo}:{hi}] AS s FROM e)")
        parts.append(f"""cb0_{j} AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, s AS c
  FROM (SELECT vec_id, s FROM s{j} ORDER BY vec_id LIMIT {ksub})
)""")
        parts.append(f"""a0_{j} AS (
  SELECT vec_id, s, cid FROM (
    SELECT t.vec_id, t.s, c.cid,
           row_number() OVER (PARTITION BY t.vec_id ORDER BY
             -2 * list_dot_product(t.s, c.c) + list_dot_product(c.c, c.c) ASC,
             c.cid ASC) AS rn
    FROM s{j} t, cb0_{j} c) WHERE rn = 1
)""")
        parts.append(f"""m0_{j} AS (
  SELECT cid, p, AVG(s[p]) AS mv
  FROM a0_{j}, unnest(generate_series(1, {dsub})) u(p)
  GROUP BY cid, p
)""")
        parts.append(f"""cb1_{j} AS (
  SELECT g.cid, list(ROUND(COALESCE(m.mv, g.x), 6) ORDER BY g.p) AS c
  FROM (SELECT cid, p, c[p] AS x
        FROM cb0_{j}, unnest(generate_series(1, {dsub})) u(p)) g
  LEFT JOIN m0_{j} m ON m.cid = g.cid AND m.p = g.p
  GROUP BY g.cid
)""")
        parts.append(f"""afin_{j} AS (
  SELECT vec_id, cid FROM (
    SELECT t.vec_id, c.cid,
           row_number() OVER (PARTITION BY t.vec_id ORDER BY
             -2 * list_dot_product(t.s, c.c) + list_dot_product(c.c, c.c) ASC,
             c.cid ASC) AS rn
    FROM s{j} t, cb1_{j} c) WHERE rn = 1
)""")
        parts.append(f"q{j} AS (SELECT s AS qs FROM s{j} WHERE vec_id = 0)")
        parts.append(f"""t_{j} AS (
  SELECT c.cid,
         ROUND(list_dot_product(q.qs, q.qs)
               - 2 * list_dot_product(q.qs, c.c)
               + list_dot_product(c.c, c.c), 6) AS val
  FROM cb1_{j} c, q{j} q
)""")
    return parts


def _pq_final_select(m: int, k: int, where: str = "") -> str:
    """Final ADC top-k select over the _pq_build_parts CTEs; ``where`` adds
    an extra predicate (the IVF-PQ oracle filters to the probed lists)."""
    joins = " ".join(
        f"JOIN afin_{j} p{j} ON p{j}.vec_id = p0.vec_id "
        f"JOIN t_{j} t{j} ON t{j}.cid = p{j}.cid"
        for j in range(1, m)
    )
    adist = " + ".join(f"t{j}.val" for j in range(m))
    return f"""
SELECT p0.vec_id, ROUND({adist}, 6) AS adist
FROM afin_0 p0 JOIN t_0 t0 ON t0.cid = p0.cid {joins} {where}
ORDER BY adist ASC, p0.vec_id ASC LIMIT {k}
"""


def _pq_oracle_sql(m: int = 2, ksub: int = 8, dim: int = 64, k: int = 10) -> str:
    """DuckDB replay of the PQ build + ADC query (mirrors _ivf_oracle_sql's
    strategy): init codebooks = subvectors of the ksub lowest-id vectors,
    one Lloyd step (argmin by -2·s·c + |c|², ties to the lowest code; means
    with empty-cluster carry), final codebooks ROUNDed to 6 dp (the same
    discretization pq_train applies), ADC tables from the identical
    |q|² − 2·q·c + |c|² decomposition, distances as the 2-term rounded sum."""
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    ] + _pq_build_parts(m, ksub, dim)
    return ",\n".join(parts) + _pq_final_select(m, k)


SQL_SIM_PQ = _pq_oracle_sql()


def q_sim_pq_distortion(spark, sf_dir):
    """SIM+ (beyond-reference): PQ quantization-health report — per
    (subspace, code): population and mean squared reconstruction error
    (functions/similarity.py:pq_distortion_report).  The compressed-
    domain sibling of sim_index_stats: the number that decides whether
    (m, ksub) is adequate before a corpus-wide encode, and the drift
    alarm afterwards.  Same demo geometry as sim_pq_topk (m=2, ksub=8)
    so the oracle replay composes the shared _pq_build_parts CTEs;
    codes travel WITH the vectors (the ingest-artifact shape — at scale
    no join precedes the report)."""
    emb = _t(spark, sf_dir, "embeddings")
    books = sim.pq_train(emb, m=2, ksub=8, n_iter=1)
    coded = emb.join(sim.pq_codes(emb, books), "vec_id")
    return sim.pq_distortion_report(coded, books)


def _pq_distortion_oracle_sql(m: int = 2, ksub: int = 8, dim: int = 64) -> str:
    """Per-(subspace, code) reconstruction MSE over the shared PQ build
    replay: round-then-DECIMAL-sum per cell, so the mean is engine-
    order-independent."""
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)"
    ] + _pq_build_parts(m, ksub, dim)
    for j in range(m):
        parts.append(f"""d_{j} AS (
  SELECT {j} AS subspace, a.cid AS code,
         CAST(ROUND(list_dot_product(t.s, t.s)
                    - 2 * list_dot_product(t.s, c.c)
                    + list_dot_product(c.c, c.c), 6) AS DECIMAL(28,6)) AS d
  FROM s{j} t
  JOIN afin_{j} a ON a.vec_id = t.vec_id
  JOIN cb1_{j} c ON c.cid = a.cid
)""")
    union = " UNION ALL ".join(f"SELECT * FROM d_{j}" for j in range(m))
    body = ",\n".join(parts)
    return f"""{body}
SELECT subspace, CAST(code AS INT) AS code,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*), 6) AS mse
FROM ({union}) cells
GROUP BY subspace, code
"""


SQL_SIM_PQ_DISTORTION = _pq_distortion_oracle_sql()


def q_sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed ANN — the FAISS deployment shape at 100 TB: the
    coarse quantizer partition-prunes to the ``n_probe`` nearest inverted
    lists (from the PERSISTED per-dataset index, shared with sim_ivf_topk
    and dd_semdedup), then only the surviving vectors are scored in the
    COMPRESSED domain via PQ asymmetric-distance tables — the scan touches
    n_probe/n_centroids of the data and reads m-byte codes, never raw
    vectors.  Same demo geometry as the component queries (16 lists /
    probe 4; m=2, ksub=8) so the composed oracle replays both builds."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb)
    path = _ivf_index_dir(spark, sf_dir)
    probe = sim.nearest_centroid_ids(qvec, sim.read_ivf_centroids(spark, path), n_probe=4)
    survivors = sim.read_ivf_vectors(spark, path).where(F.col("_cid").isin(probe))
    books = sim.pq_train(emb, m=2, ksub=8, n_iter=1)
    codes = sim.pq_codes(survivors, books)
    return sim.pq_adc_topk(codes, books, qvec, k=10)


def _ivfpq_oracle_sql(n_centroids: int = 16, n_iter: int = 2, n_probe: int = 4,
                      m: int = 2, ksub: int = 8, dim: int = 64, k: int = 10) -> str:
    """Composed replay: the IVF build (shared _ivf_build_parts, byte-
    identical quantizer to the persisted index) selects the probed lists;
    the PQ build (shared _pq_build_parts) supplies codes + ADC tables; the
    final ADC top-k ranks only vectors whose coarse cell is probed."""
    cf = f"c{n_iter}"
    parts = _ivf_build_parts(n_centroids, n_iter, dim)
    parts.append("qv AS (SELECT v FROM e WHERE vec_id = 0)")
    parts.append(f"""pr AS (
  SELECT cid FROM {cf} c, qv q
  ORDER BY list_dot_product(c.v, q.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(c.v, c.v))) DESC, cid ASC
  LIMIT {n_probe}
)""")
    parts += _pq_build_parts(m, ksub, dim)
    where = ("WHERE p0.vec_id IN "
             "(SELECT vec_id FROM afin WHERE cid IN (SELECT cid FROM pr))")
    return ",\n".join(parts) + _pq_final_select(m, k, where)


SQL_SIM_IVFPQ = _ivfpq_oracle_sql()


def q_sim_ivf_batch_topk(spark, sf_dir):
    """Batched ANN serving: top-10 per query for a SET of 8 query vectors
    in ONE plan (functions/similarity.py:ivf_topk_batch) — per-query probe
    lists via a broadcast join against the centroid table, candidate
    scoring via one equi-join on the coarse cell, per-query top-k via a
    map-side-limited window.  The fact side never shuffles and the probe
    table carries |queries| x n_probe rows — the shape that serves a
    million queries the same way it serves eight.  Consumes the shared
    persisted IVF index (same quantizer as sim_ivf_topk / sim_ivfpq_topk /
    dd_semdedup)."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _ivf_index_dir(spark, sf_dir)
    centroids = sim.read_ivf_centroids(spark, path)
    assigned = sim.read_ivf_vectors(spark, path)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivf_topk_batch(queries, assigned, centroids, k=10, n_probe=4)


def q_sim_hard_negatives(spark, sf_dir):
    """SIM+ (beyond-reference): hard-negative mining
    (functions/similarity.py:hard_negatives_topk) — per query vector, the
    5 highest-cosine corpus vectors BELOW the 0.95 near-dup band: the
    closest non-duplicates a contrastive trainer pairs with each anchor
    (SemDeDup's complement).  Broadcast query set, one corpus scan with
    scan-side scoring, rank-only per-query window (map-side
    WindowGroupLimit); at 100 TB the corpus arg takes the IVF-pruned
    candidate frame instead of the full scan, same algebra."""
    emb = _t(spark, sf_dir, "embeddings", fan=True)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.hard_negatives_topk(queries, emb, k=5, dup_threshold=0.95)


def _hard_negatives_oracle_sql() -> str:
    cos = _cos_sql("CAST(e.embedding AS DOUBLE[])", "q.qv")
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT q.query_id, e.vec_id, ROUND({cos}, 6) AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
banded AS (SELECT * FROM scored WHERE score < 0.95),
r AS (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, vec_id ASC
         ) AS INT) AS rank
  FROM banded
)
SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 5
"""


def _cos_sql(a: str, b: str) -> str:
    """DuckDB mirror of similarity.cosine: both norms guarded to 1 when
    zero (the dot is then 0), sequential list_dot_product = the same
    index-ordered fold."""
    na = f"sqrt(list_dot_product({a}, {a}))"
    nb = f"sqrt(list_dot_product({b}, {b}))"
    return (
        f"list_dot_product({a}, {b}) / "
        f"((CASE WHEN {na} > 0 THEN {na} ELSE 1.0 END) * "
        f"(CASE WHEN {nb} > 0 THEN {nb} ELSE 1.0 END))"
    )


def _ivf_batch_oracle_sql(n_centroids: int = 16, n_iter: int = 2, n_probe: int = 4,
                          n_queries: int = 8, dim: int = 64, k: int = 10) -> str:
    parts = _ivf_build_parts(n_centroids, n_iter, dim)
    cf = f"c{n_iter}"
    parts.append(
        f"qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_queries})"
    )
    parts.append(f"""pr AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql('q.qv', 'c.v')} DESC,
                                       c.cid ASC) AS rn
    FROM qs q, {cf} c) WHERE rn <= {n_probe}
)""")
    parts.append(f"""sc AS (
  SELECT p.query_id, a.vec_id,
         ROUND({_cos_sql('a.v', 'p.qv')}, 6) AS score
  FROM afin a JOIN pr p ON a.cid = p.cid
)""")
    body = ",\n".join(parts)
    return f"""{body}
SELECT query_id, vec_id, score FROM (
  SELECT sc.*, row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id ASC) AS rk
  FROM sc) WHERE rk <= {k}
"""


SQL_SIM_IVF_BATCH = _ivf_batch_oracle_sql()


def q_sim_index_stats(spark, sf_dir):
    """SIM+ (beyond-reference): IVF index health report — per inverted
    list: population, corpus share, and the imbalance factor
    (n / ceil(N/k)), the observability query an ANN deployment alerts on
    (a hot list means probe latency spikes and re-training is due; an
    empty one wastes a partition).  Consumes the shared persisted index;
    the plan is ONE metadata-cheap scan of the partitioned vectors table
    (cid + id columns only, list-pruned footers) + a 16-group combinable
    agg + a 1-row total broadcast."""
    path = _ivf_index_dir(spark, sf_dir)
    vecs = sim.read_ivf_vectors(spark, path).select("vec_id", "_cid")
    per = vecs.groupBy(F.col("_cid").cast("int").alias("cid")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    tot = per.agg(
        F.sum("n_vecs").alias("total"), F.count(F.lit(1)).alias("n_lists")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_vecs",
        F.round(F.col("n_vecs") * F.lit(1.0) / F.col("total"), 6).alias("share"),
        F.round(
            F.col("n_vecs")
            * F.lit(1.0)
            / F.ceil(F.col("total") * F.lit(1.0) / F.col("n_lists")).cast("long"),
            6,
        ).alias("imbalance"),
    )


def _index_stats_oracle_sql() -> str:
    parts = _ivf_build_parts()
    joined = ",\n".join(parts)
    return f"""{joined},
per AS (SELECT CAST(cid AS INT) AS cid, COUNT(*) AS n_vecs FROM afin GROUP BY 1),
tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total, COUNT(*) AS n_lists FROM per)
SELECT cid, n_vecs,
       ROUND(n_vecs * 1.0 / total, 6) AS share,
       ROUND(n_vecs * 1.0 / CAST(ceil(total * 1.0 / n_lists) AS BIGINT), 6)
         AS imbalance
FROM per CROSS JOIN tot
"""


# DuckDB mirror of functions.text.ngram_features over a token-list column
# ``tk`` (keep in sync): unigrams ++ space-joined word bigrams.
_FEATS_SQL = (
    "list_concat(tk, CASE WHEN len(tk) >= 2 THEN "
    "list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1]) "
    "ELSE []::VARCHAR[] END)"
)


def q_tx_dsir(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023): per-document log
    importance weight log(p_target/p_raw) under hashed-ngram bag models —
    the importance-resampling score used to select pretraining data that
    matches a target distribution (here: target = the English slice,
    raw = the whole corpus).

    Plan: one codegen feature explode (unigrams+bigrams → 256 hash
    buckets), two map-combinable bucket counts (target is a filtered branch
    of the same scan), a broadcast-sized log-ratio table, then one
    (doc,bucket)-keyed count and one doc-keyed weighted sum — two real
    shuffles total, both map-combinable; the model tables never leave
    broadcast range because the bucket count is fixed, not
    vocabulary-sized.  That fixed-width hashing is what makes DSIR run at
    100 TB where an exact-vocabulary LM would not.

    Float discipline: per-bucket log-ratio rounded to 9 dp and cast to
    decimal BEFORE the per-doc sum (order-independent, oracle-exact);
    transcendentals never enter a float accumulation."""
    B = 256
    docs = _t(spark, sf_dir, "documents", fan=True)
    # tokenize in a projection BELOW the explode: generator expressions are
    # not CSE'd, so inlining tokens(text) would re-tokenize ~8x per row
    fb = (
        docs.select("doc_id", "lang", tx.tokens(F.col("text")).alias("_tk"))
        .select(
            "doc_id",
            "lang",
            F.explode(tx.ngram_features_from_tokens(F.col("_tk"))).alias("feat"),
        )
        .select("doc_id", "lang", (tx.portable_hash64(F.col("feat")) % B).alias("b"))
    )
    raw = fb.groupBy("b").agg(F.count(F.lit(1)).alias("r"))
    tgt = fb.where(F.col("lang") == "en").groupBy("b").agg(F.count(F.lit(1)).alias("t"))
    buckets = raw.join(tgt, "b", "left").select(
        "b", "r", F.coalesce("t", F.lit(0)).alias("t")
    )
    tots = buckets.agg(F.sum("r").alias("r_tot"), F.sum("t").alias("t_tot"))
    lr = buckets.crossJoin(F.broadcast(tots)).select(
        "b",
        F.round(
            F.log((F.col("t") + 1.0) / (F.col("t_tot") + float(B)))
            - F.log((F.col("r") + 1.0) / (F.col("r_tot") + float(B))),
            9,
        )
        .cast("decimal(28,9)")
        .alias("lr"),
    )
    c = fb.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    return (
        c.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c").cast("decimal(8,0)") * F.col("lr")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.round(F.col("_s").cast("double"), 6).alias("logw"),
        )
    )


SQL_TX_DSIR = f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS tk FROM documents),
feats AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(f), 1, 8))::BIGINT % 256 AS b
  FROM (SELECT doc_id, lang, unnest({_FEATS_SQL}) AS f FROM toks)
),
raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM feats GROUP BY b),
tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM feats WHERE lang = 'en' GROUP BY b),
buckets AS (
  SELECT raw.b, raw.r, COALESCE(tgt.t, 0) AS t
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b
),
tots AS (
  SELECT CAST(SUM(r) AS BIGINT) AS r_tot, CAST(SUM(t) AS BIGINT) AS t_tot
  FROM buckets
),
lr AS (
  SELECT b,
         CAST(ROUND(ln((t + 1.0) / (t_tot + 256.0))
                    - ln((r + 1.0) / (r_tot + 256.0)), 9) AS DECIMAL(28,9)) AS lr
  FROM buckets CROSS JOIN tots
),
c AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM feats GROUP BY doc_id, b)
SELECT c.doc_id,
       CAST(SUM(c.c) AS BIGINT) AS n_feats,
       ROUND(CAST(SUM(CAST(c.c AS DECIMAL(8,0)) * lr.lr) AS DOUBLE), 6) AS logw
FROM c JOIN lr USING (b)
GROUP BY c.doc_id
"""


def q_tx_quality_clf(spark, sf_dir):
    """Hashing-trick linear quality classifier (the fastText-shaped filter
    every web-corpus pipeline runs): features = unigrams+bigrams hashed to
    4096 buckets, score = mean bucket weight, p_keep = logistic(score).
    Weights here are a deterministic hash-derived stand-in (the container
    has no trained model) — the SPARK SHAPE is the product: weight lookup
    is inlined arithmetic on the feature hash, so the entire classifier is
    one codegen scan + one map-combinable doc aggregate.  One shuffle, no
    joins, no Python — at 100 TB the classifier runs at scan speed, vs the
    usual Python-UDF inference bottleneck.

    Exactness: per-feature weights are INTEGER milliunits (hash % 2001 −
    1000 ∈ [−1000, 1000]); the doc sum stays in BIGINT and floats appear
    only in the final two rounded expressions."""
    B = 4096
    docs = _t(spark, sf_dir, "documents", fan=True)
    fb = docs.select("doc_id", tx.tokens(F.col("text")).alias("_tk")).select(
        "doc_id", F.explode(tx.ngram_features_from_tokens(F.col("_tk"))).alias("feat")
    )
    bucket = (tx.portable_hash64(F.col("feat")) % B).cast("string")
    wu = tx.portable_hash64(F.concat(F.lit("w:"), bucket)) % 2001 - 1000
    s = (
        fb.select("doc_id", wu.alias("wu"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_feats"), F.sum("wu").alias("units"))
    )
    score = F.round(F.col("units") / (F.col("n_feats") * 1000.0), 6)
    return s.select(
        "doc_id",
        "n_feats",
        score.alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6).alias("p_keep"),
    )


SQL_TX_QCLF = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
feats AS (
  SELECT doc_id, f FROM (SELECT doc_id, unnest({_FEATS_SQL}) AS f FROM toks)
),
wu AS (
  SELECT doc_id,
         ('0x' || substr(md5('w:' ||
            (('0x' || substr(md5(f), 1, 8))::BIGINT % 4096)), 1, 8))::BIGINT
           % 2001 - 1000 AS wu
  FROM feats
),
s AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(wu) AS BIGINT) AS units
  FROM wu GROUP BY doc_id
)
SELECT doc_id, n_feats,
       ROUND(units / (n_feats * 1000.0), 6) AS score,
       ROUND(1.0 / (1.0 + exp(-ROUND(units / (n_feats * 1000.0), 6))), 6) AS p_keep
FROM s
"""


def q_dd_containment(spark, sf_dir):
    """Directed 5-gram containment pairs ≥ 0.5 (functions/dedup.py:
    containment_pairs): the sub-document duplication detector — catches a
    short doc quoted inside a long one, which symmetric Jaccard
    under-scores.  Exact (uncapped) — the verification baseline the oracle
    can mirror.  Scale note: this synthetic corpus is template-generated
    with only ~2k distinct shingles, so shingle df grows linearly with
    corpus size and the exact join is inherently quadratic (measured 1.5e9
    join rows at sf0.1); on such low-entropy corpora the production
    substring-dup path is winnowing fingerprints (`dd_winnow`), while on
    natural zipfian corpora `max_doc_freq` keeps this exact join linear."""
    docs = _t(spark, sf_dir, "documents")
    return dd.containment_pairs(docs, k=5, threshold=0.5)


SQL_DD_CONTAIN = """
WITH docs AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, substring(t, i, 5) AS shingle
  FROM docs, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS u(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(common * 1.0 / sa.n_sh, 6) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = id_a
WHERE ROUND(common * 1.0 / sa.n_sh, 6) >= 0.5
"""


def q_dd_span_dedup(spark, sf_dir):
    """DD+ (beyond-reference): C4-style duplicated-span stats — global
    first occurrence of each 20-token span survives, later occurrences are
    duplicates; per-doc duplicate fraction drives drop/trim decisions
    (functions/dedup.py:span_dedup_stats; one span-fingerprint shuffle +
    one map-combinable doc rollup)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.span_dedup_stats(docs, span_tokens=20)


SQL_DD_SPAN = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
x AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS j
  FROM t
),
s AS (
  SELECT doc_id, CAST(j AS INT) AS span_idx,
         md5(array_to_string(list_slice(toks, j * 20 + 1, j * 20 + 20), ' ')) AS h
  FROM x
),
r AS (
  SELECT doc_id, span_idx, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, span_idx) AS rn
  FROM s
)
SELECT doc_id, COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       ROUND(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS dup_frac
FROM r GROUP BY doc_id
"""


def q_dd_semdedup(spark, sf_dir):
    """DD+ (beyond-reference): SemDeDup cluster-local semantic dedup
    (functions/similarity.py:semdedup) — k-means clusters from the same
    deterministic quantizer as the IVF ANN path, within-cluster cosine ≥
    threshold drops the higher id.  Fixture embeddings are random (pair
    cosines ≈ 0), so the query thresholds at 0.25 to exercise the
    operator; deployment uses ~0.95 — same plan, different constant.  The
    oracle replays the identical k-means build (shared _ivf_build_parts).

    Dedup consumes the PERSISTED quantizer assignment (VERDICT r5 item 2):
    the IVF index is written once per sf_dir (the ingest-time build the
    docstring of semdedup pins) and every subsequent call probes it — the
    steady-state plan has zero k-means stages and zero Python stages.  The
    index is the same one q_sim_ivf_topk probes — dedup and retrieval
    genuinely share it (see _ivf_index_dir for the staleness contract)."""
    return sim.semdedup(None, threshold=0.25, index_path=_ivf_index_dir(spark, sf_dir))


def _ivf_index_dir(spark, sf_dir: str) -> str:
    """The per-sf_dir persisted IVF index (write_ivf_index layout),
    built on first use — the ingest-time artifact that BOTH the ANN probe
    (q_sim_ivf_topk) and semantic dedup (q_dd_semdedup) consume, so the
    quantizer runs once per dataset, not once per query.  A (size, mtime)
    marker of the source parquet is recorded at build time and any
    mismatch rebuilds, so a regenerated testdata dir — even one with
    identical row counts — can never serve stale assignments."""
    import os as _os

    import pyarrow.parquet as _pq

    # k-means k scales with the corpus (the SemDeDup/IVF deployment rule —
    # functions/similarity.py:625): fixed k means clusters grow ∝ N and the
    # within-cluster pair join grows ∝ N² (measured: dd_semdedup exponent
    # +1.64 at the r9 sf1 run under k=16).  k = max(16, N/125) keeps the
    # expected cluster ~125 vectors, so cluster-local work grows ∝ N; at
    # every driver-gated sf (0.001/0.01/0.1 → ≤2k vectors) the formula
    # still yields EXACTLY 16, so gated outputs and the n_centroids=16
    # oracle twins are unchanged.  k joins the rebuild marker so a corpus
    # size change re-clusters.
    n_vecs = _pq.read_metadata(_os.path.join(sf_dir, "embeddings.parquet")).num_rows
    k = max(16, n_vecs // 125)
    return _derived_artifact(
        sf_dir,
        "ivf_index",
        "embeddings",
        [f"k{k}"],
        lambda path: sim.write_ivf_index(
            _t(spark, sf_dir, "embeddings"), path, n_centroids=k
        ),
        complete=sim.ivf_index_written,
    )


def _semdedup_oracle_sql(threshold: float = 0.25, n_centroids: int = 16,
                         n_iter: int = 2, dim: int = 64) -> str:
    parts = _ivf_build_parts(n_centroids, n_iter, dim)
    cos = ("list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
           "* sqrt(list_dot_product(b.v, b.v)))")
    parts.append(f"""d AS (
  SELECT DISTINCT b.vec_id
  FROM afin a JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE ROUND({cos}, 6) >= {threshold}
)""")
    body = ",\n".join(parts)
    return f"""{body}
SELECT e.vec_id AS id, e.cid AS cluster,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM afin e LEFT JOIN d ON d.vec_id = e.vec_id
"""


SQL_DD_SEMDEDUP = _semdedup_oracle_sql()


_BM25_TERMS = ["spark", "table", "hash"]


def q_tx_bm25(spark, sf_dir):
    """TX+ (beyond-reference): BM25 ranked retrieval (Robertson-Spärck
    Jones; k1=1.2, b=0.75) over the documents corpus for a literal query —
    the relevance-ranking companion of tx_tfidf.

    Plan: one tokenize scan feeds both the per-doc length table and the
    term-frequency table; corpus stats (N, avgdl) travel as a 1-row
    broadcast scalar (never a collect), per-term doc frequencies as a
    broadcast dim.  The matched-docs table (docs containing a query term)
    is broadcast into the per-doc-length join: selective query terms make
    it dims-sized — the inverted-index probe shape, where at 100 TB the
    tf/dlen tables are ingest-time materializations and the per-query work
    is only the final small join.  Per-term scores are rounded then
    decimal-summed so the doc score is order-independent; IEEE ops are
    written in the byte-identical shape on both engines."""
    docs = _t(spark, sf_dir, "documents")
    k1, b = 1.2, 0.75
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).where(F.length("w") > 0)
    dlen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.where(F.col("w").isin(_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        dlen.join(F.broadcast(tf.join(F.broadcast(df_t), "w")), "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tfn = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        scored.withColumn("_s", F.round(idf * tfn, 6).cast(_DEC))
        .groupBy("doc_id")
        .agg(F.round(F.sum("_s").cast("double"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


SQL_TX_BM25 = r"""
WITH toks AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents) t
  WHERE length(w) > 0
),
dlen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dlen),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks
       WHERE w IN ('spark', 'table', 'hash') GROUP BY doc_id, w),
dft AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
term AS (
  SELECT t.doc_id,
         CAST(ROUND(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                    * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))),
                    6) AS DECIMAL(20,6)) AS s
  FROM tf t JOIN dft d USING (w) JOIN dlen l USING (doc_id), stats s
)
SELECT doc_id, ROUND(CAST(SUM(s) AS DOUBLE), 6) AS bm25
FROM term GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC LIMIT 20
"""


def q_sim_hybrid_rrf(spark, sf_dir):
    """SIM+ (beyond-reference): HYBRID retrieval via reciprocal-rank
    fusion (functions/similarity.py:rrf_fuse; Cormack et al. 2009) — the
    combiner every modern retrieval/training-data pipeline runs on top
    of its text and vector arms: the BM25 top-20 (tx_bm25's exact
    pipeline) fused with the brute-force cosine top-20 against the
    vec_id=0 query (sim_topk's arm, self excluded), score =
    Σ 1/(60+rank), fused top-15.

    The fusion join is FULL OUTER over two top-k lists — constant-size
    by contract, so at 100 TB all the scale lives in the arms (the
    persisted inverted text index and the partition-pruned IVF index);
    this layering IS the production hybrid-retriever shape."""
    from pyspark.sql import Window

    text20 = q_tx_bm25(spark, sf_dir)
    wt_ = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    ta = (
        text20.withColumn("rank", F.row_number().over(wt_).cast("int"))
        .select(F.col("doc_id").alias("id"), "rank")
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb)
    vec20 = sim.brute_force_topk(emb.where(F.col("vec_id") != 0), qvec, k=20)
    wv = Window.orderBy(F.col("score").desc(), F.col("vec_id").asc())
    va = (
        vec20.withColumn("rank", F.row_number().over(wv).cast("int"))
        .select(F.col("vec_id").alias("id"), "rank")
    )
    return sim.rrf_fuse(ta, va, top_n=15)


SQL_SIM_HYBRID_RRF = f"""
WITH ta AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INTEGER)
           AS rank_a,
         doc_id AS id
  FROM ({SQL_TX_BM25}) t
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
vscored AS (
  SELECT e.vec_id,
    ROUND(
      list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
  FROM embeddings e, q
  WHERE e.vec_id <> 0
),
vb AS (SELECT vec_id, score FROM vscored
       ORDER BY score DESC, vec_id ASC LIMIT 20),
vr AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS INTEGER)
           AS rank_b,
         vec_id AS id
  FROM vb
),
fused AS (
  SELECT COALESCE(a.id, b.id) AS id, a.rank_a, b.rank_b,
         ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + a.rank_a),
                        CAST(0.0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.rank_b),
                        CAST(0.0 AS DOUBLE)), 9) AS rrf
  FROM ta a FULL OUTER JOIN vr b ON a.id = b.id
)
SELECT rank, id, rrf, rank_a, rank_b FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, id ASC) AS INTEGER) AS rank,
         id, rrf, rank_a, rank_b
  FROM fused
) WHERE rank <= 15 ORDER BY rank
"""


def q_a18_cube_counts(spark, sf_dir):
    """A18 (beyond-reference): CUBE rollup over (lang, source) — all four
    grouping-set combinations in ONE pass (the generalization of the
    reference's A3/A5 two-column matrices, which it assembles with
    separate queries; record_socket.py:1190-1232).  Spark's cube() is a
    single shuffle with grouping-set expansion map-side — at 100 TB this
    replaces 4 full scans with 1.  GROUPING indicators disambiguate
    subtotal NULLs from data NULLs."""
    docs = _t(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.grouping("lang").cast("int").alias("g_lang"),
        F.grouping("source").cast("int").alias("g_source"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SQL_A18 = """
SELECT lang, source,
       CAST(GROUPING(lang) AS INT) AS g_lang,
       CAST(GROUPING(source) AS INT) AS g_source,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY CUBE(lang, source)
"""


def q_a19_approx_distinct(spark, sf_dir):
    """A19 (beyond-reference): HyperLogLog++ approximate distinct users per
    event_type (rsd=1%) — the PRODUCTION plan, sketch only.  At 100 TB
    exact COUNT(DISTINCT) is a full shuffle of every distinct value; the
    HLL sketch is a few KB per group, map-side mergeable, and the standard
    cardinality primitive of a telemetry pipeline.

    r15 (VERDICT r14 item 1, the dd_winnow/dd_winnow_capped precedent in
    reverse): this benched arm runs ONLY the sketch aggregate — the plan a
    deployment would run — and is rows/schema-gated (the estimate is
    engine-specific, so no SQL oracle can replay its value).  Its honesty
    gate lives in the hash-green companion ``a19_distinct_gate``, which
    computes the exact COUNT(DISTINCT) beside the sketch on the same scan
    and pins the accuracy envelope; that exact arm is exactly what must
    NOT run at fleet scale, so it is gate-only (not benched)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
    )


def q_a19_distinct_gate(spark, sf_dir):
    """A19 gate arm (r14 invariant oracle, split out r15 — VERDICT r14
    item 1): the sketch estimate itself is engine-specific, so the gated
    output carries only columns the oracle can replay — the exact
    COUNT(DISTINCT), the group size — plus ``within_envelope``, the
    sketch's accuracy VERDICT pinned to TRUE (|approx − exact| ≤
    max(5·rsd·exact, 1); HLL++ at rsd=1% is deterministic for a given
    input, and a 5σ breach means the sketch is broken, not unlucky).  A
    drifted/broken HLL flips the boolean and the driver hash goes red;
    the envelope magnitude itself stays pinned by tests/test_round4.py.
    The exact arm rides the SAME single scan (one groupBy computes both
    aggregates).  Gate-only: the exact COUNT(DISTINCT) beside the sketch
    is precisely the stage a 100 TB deployment must not run — the benched
    production arm is ``a19_approx_distinct`` (sketch alone)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("_approx"),
            F.countDistinct("user_id").cast("bigint").alias("exact_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.greatest(
                    F.ceil(F.col("exact_users") * F.lit(0.05)), F.lit(1)
                )
            ).alias("within_envelope"),
        )
    )


SQL_A19 = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_envelope
FROM events GROUP BY event_type
"""


def q_a22_approx_quantiles(spark, sf_dir):
    """A22 (beyond-reference): sketch-based quantile profile per event type
    — approx_percentile (Greenwald-Khanna, relative error 0.001) for
    p50/p95/p99 of the value distribution — the PRODUCTION plan, sketch
    only.  The sketch companion of f12's exact percentiles:
    percentile_disc needs every group's values on one reducer, while the
    GK sketch is a bounded-size, map-side-mergeable summary — the only
    shape that profiles a 100 TB telemetry column per dashboard refresh.

    r15 (VERDICT r14 item 1): this benched arm runs ONLY the sketch
    aggregate and is rows/schema-gated (the GK value is engine-specific);
    its honesty gate is the hash-green companion ``a22_quantiles_gate``,
    which sorts each group's values beside the sketch and pins the rank
    guarantee — the sorted-array pass a 100 TB deployment must not run,
    so it is gate-only (not benched)."""
    events = _t(spark, sf_dir, "events")
    qs = F.percentile_approx(
        "value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), F.lit(1000)
    )
    return events.groupBy("event_type").agg(
        F.count("value").cast("bigint").alias("n_values"),
        qs.getItem(0).alias("p50_approx"),
        qs.getItem(1).alias("p95_approx"),
        qs.getItem(2).alias("p99_approx"),
    )


def q_a22_quantiles_gate(spark, sf_dir):
    """A22 gate arm (r14 invariant oracle, split out r15 — VERDICT r14
    item 1).  The gated output
    carries the exact discrete percentiles (replayed by DuckDB
    quantile_disc — the proven f12 correspondence), the group size, and
    per-quantile booleans pinning the GK rank guarantee: the sketch value
    must lie between the exact values at ranks ceil((p∓0.005)·n)∓1 — a
    5× envelope over the sketch's 0.001 rank error plus one index of
    discretization slack, so a correct sketch can never flip the boolean
    while a mis-merged one (rank drift > 0.5 %) goes red at the driver.
    The sorted-array pass that produces the exact columns is the gate's
    cost, not the sketch's — the fleet-scale plan is the benched
    ``a22_approx_quantiles`` (sketch aggregate alone)."""
    events = _t(spark, sf_dir, "events")
    qs = F.percentile_approx(
        "value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), F.lit(1000)
    )
    arr = F.array_sort(F.collect_list("value"))
    agg = events.groupBy("event_type").agg(
        qs.alias("_qs"), arr.alias("_arr")
    )
    n = F.size(F.col("_arr"))

    def _at(rank):  # clamped 1-based element_at
        return F.element_at(
            F.col("_arr"), F.greatest(F.least(rank.cast("int"), n), F.lit(1))
        )

    def _exact(p):  # percentile_disc: smallest value with cum-fraction >= p
        return _at(F.ceil(F.lit(p) * n))

    def _ok(i, p):
        lo = _at(F.ceil(F.lit(p - 0.005) * n) - 1)
        hi = _at(F.ceil(F.lit(p + 0.005) * n) + 1)
        a = F.col("_qs").getItem(i)
        return (a >= lo) & (a <= hi)

    return agg.select(
        "event_type",
        n.cast("bigint").alias("n_values"),
        _exact(0.5).alias("p50_exact"),
        _exact(0.95).alias("p95_exact"),
        _exact(0.99).alias("p99_exact"),
        _ok(0, 0.5).alias("p50_ok"),
        _ok(1, 0.95).alias("p95_ok"),
        _ok(2, 0.99).alias("p99_ok"),
    )


SQL_A22 = """
SELECT event_type,
       CAST(COUNT(value) AS BIGINT) AS n_values,
       quantile_disc(value, 0.5) AS p50_exact,
       quantile_disc(value, 0.95) AS p95_exact,
       quantile_disc(value, 0.99) AS p99_exact,
       TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
FROM events GROUP BY event_type
"""


def q_mm_phash_dedup(spark, sf_dir):
    """Multimodal dedup: perceptual-hash (dHash-style gradient bits over
    payload blocks) per media row via Arrow mapInPandas, then exact dedup
    on the hash — the image-dedup pipeline with the codec stubbed
    deterministically (functions/multimodal.py:_phash_fake).  The oracle
    re-derives payload bytes, block means, and the gradient bits in pure
    SQL, so the kernel's arithmetic is hash-gated, not just its shape."""
    from .functions import multimodal as mm

    media = mm.make_fake_media(spark, n=64)
    return mm.phash_dedup(media, fake=True)


SQL_MM_PHASH = """
WITH m AS (SELECT i AS media_id, 128 + (i % 5) * 64 AS plen
           FROM generate_series(0, 63) t(i)),
b AS (SELECT media_id, j, plen, (media_id * 31 + j * 7) % 256 AS byte
      FROM m, generate_series(0, 383) g(j) WHERE j < plen),
blocks AS (
  SELECT media_id, (j * 9) // plen AS k, AVG(byte) AS mean
  FROM b GROUP BY media_id, (j * 9) // plen
),
bits AS (
  SELECT a.media_id, a.k,
         CASE WHEN a.mean > c.mean THEN 1 ELSE 0 END AS bit
  FROM blocks a JOIN blocks c ON c.media_id = a.media_id AND c.k = a.k + 1
),
hashes AS (
  SELECT media_id,
         CAST(SUM(bit * (1::BIGINT << (7 - k))) AS BIGINT) AS phash
  FROM bits GROUP BY media_id
)
SELECT phash, MIN(media_id) AS keep_id, COUNT(*) AS dup_count
FROM hashes GROUP BY phash
"""


def q_t10_incremental_rollup(spark, sf_dir):
    """T10 (beyond-reference): incremental rollup maintenance under the
    hash gate — the reference recomputes its server-stats rollups over a
    trailing window every 24 h (serverinfo/socket.py:645-708); this
    maintains the rollup EXACTLY from the change feed instead, with work
    proportional to the change volume (sources/rollup.py).

    Script: scratch table at version v0 (events with event_id % 4 != 3),
    full rollup of v0, then overwrite to v1 (events with event_id % 4 != 0,
    value bumped by +1 where event_id % 5 == 0 — inserts, deletes, AND
    updates all occur), and return the delta-merged rollup.  The oracle is
    the plain GROUP BY over v1: if any retraction sign, pre/postimage, or
    group birth/death rule were wrong, the hash would differ."""
    import shutil

    from .sources.rollup import apply_rollup_delta, full_rollup, rollup_delta
    from .sources.table import MutableTable

    events = _t(spark, sf_dir, "events")
    v6 = F.round(F.col("value"), 6)
    base = events.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 5 == 0, v6 + 1).otherwise(v6).alias("v1_value"),
        v6.alias("v0_value"),
    )
    v0 = base.where(F.col("event_id") % 4 != 3).select(
        "event_id", "event_type", F.col("v0_value").alias("value")
    )
    v1 = base.where(F.col("event_id") % 4 != 0).select(
        "event_id", "event_type", F.col("v1_value").alias("value")
    )
    path = _scratch_dir(sf_dir, "t10")
    shutil.rmtree(path, ignore_errors=True)
    table = MutableTable(spark, path)
    table.overwrite(v0)
    old = full_rollup(table.read(), ["event_type"], ["value"])
    table.overwrite(v1)
    cdf = table.change_feed(["event_id"], cdf_style=True)
    refreshed = apply_rollup_delta(
        old, rollup_delta(cdf, ["event_type"], ["value"]), ["event_type"], ["value"]
    )
    return refreshed.select(
        "event_type",
        "n",
        F.col("cnt_value").alias("n_values"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


SQL_T10 = """
SELECT event_type, COUNT(*) AS n, COUNT(value) AS n_values,
       CAST(SUM(CAST(CASE WHEN event_id % 5 = 0 THEN ROUND(value, 6) + 1
                          ELSE ROUND(value, 6) END AS DECIMAL(20,6))) AS DOUBLE)
         AS sum_value
FROM events WHERE event_id % 4 <> 0
GROUP BY event_type
"""


def q_pipe_prepare(spark, sf_dir):
    """PIPE (beyond-reference flagship): the end-to-end training-data prep
    pipeline as ONE composed plan — URL dedup → language filter → quality
    filter → near-dup cluster canonicalization → surviving docs with
    token counts.

    Stages (each individually driver-gated elsewhere, here composed):
    0. URL-level exact dedup (the dd_url_dedup stage, r8): canonicalize
       each doc's URL (functions/urls.py over the deterministic stand-in)
       and keep only the minimum doc_id per canonical page — the cheapest
       dedup runs FIRST so every later stage sees one copy per page;
    1. score every surviving doc scan-side (tx.lang_id, tx.quality_score,
       tx.token_count — pure codegen, zero shuffles);
    2. keep lang_pred='en' AND quality ≥ 0.93;
    3. MinHash → star-contracted LSH edges → connected components OVER THE
       KEPT SUBSET ONLY (filters run before signatures, so the expensive
       stage sees the post-filter corpus — the stage ordering that matters
       at 100 TB);
    4. keep each cluster's minimum doc_id (the canonical representative),
       singletons keep themselves.

    The scored/kept relation feeds both the signature pipeline and the
    final join, so it is materialized once (lazy checkpoint, same
    rationale as _capped_shingles).  The oracle replays all five stages —
    URL canonicalization, scoring arithmetic, banding, and a
    recursive-CTE closure — in DuckDB."""
    stages = pipe_stage_relations(spark, sf_dir)
    return stages["final"].select(
        F.col("id").alias("doc_id"), "source", "n_tokens", "quality"
    )


def pipe_stage_relations(spark, sf_dir, checkpoint_keepers: bool = False) -> dict:
    """The prep pipeline's stage relations, built ONCE and shared by the
    pipeline output (q_pipe_prepare consumes ``final``) and the
    stage-retention funnel (q_pipe_funnel folds all four) — the
    executable form of "relations the pipeline materializes anyway": a
    run that already holds these frames hands them to the funnel and
    pays only four map-combinable aggregates, zero recomputed stages
    (equality between the reuse and recompute arms is pytest-pinned).

    ``checkpoint_keepers`` (the funnel's opt-in, r16): the funnel
    consumes ``url_docs`` twice — its stage-1 aggregate and ``kept``'s
    materialization — and Spark shares no subplans across union arms, so
    the URL-canonicalization pass + its groupBy exchange ran twice per
    funnel call.  Lazily checkpointing the keeper-id relation (ids only,
    no text payload — the §2.3 "move keys, not payloads" shape) halves
    that.  It stays OFF for pipe_prepare, which consumes url_docs once:
    the A/B measured the checkpoint there as pure overhead (sf1
    pipe_prepare 14.7 s un-checkpointed vs 15.7 s checkpointed, funnel
    15.4 -> 15.0 s; sf0.1 funnel 3.65 -> 3.33 s, prepare neutral).

    Returns {"raw": all documents, "url_docs": post URL-dedup,
    "kept": post language+quality filter (carries ``n_tokens``),
    "final": near-dup cluster representatives (``doc_id`` renamed
    ``id``)}."""
    from .functions import urls

    docs = _t(spark, sf_dir, "documents")
    canon = urls.canonical_url(F.expr(_SYNTH_URL_EXPR))
    keeper_ids = (
        docs.select("doc_id", canon.alias("_canon"))
        .groupBy("_canon")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    if checkpoint_keepers:  # see docstring — the funnel's double-consume
        keeper_ids = keeper_ids.localCheckpoint(eager=False)
    url_docs = docs.join(keeper_ids.select("doc_id"), "doc_id", "semi")
    t = F.col("text")
    kept = (
        url_docs.select(
            "doc_id",
            "source",
            "text",
            tx.lang_id(t).alias("lang_pred"),
            tx.quality_score(t).alias("quality"),
            tx.token_count(t).alias("n_tokens"),
        )
        .where((F.col("lang_pred") == "en") & (F.col("quality") >= 0.93))
        .localCheckpoint(eager=False)
    )
    sigs = dd.minhash_signatures(kept)
    edges = dd.minhash_lsh_star_edges(sigs).localCheckpoint(eager=False)
    comp = graph.connected_components(edges, "id_a", "id_b", approx_edges=edges.count())
    final = (
        kept.withColumnRenamed("doc_id", "id")
        .join(comp, "id", "left")
        .where(F.coalesce("component", F.col("id")) == F.col("id"))
    )
    return {"raw": docs, "url_docs": url_docs, "kept": kept, "final": final}


def _pipe_oracle_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _pipe_ctes()
        + """
SELECT k.doc_id, k.source, k.n_tokens, k.quality
FROM kept k LEFT JOIN lab l ON l.id = k.doc_id
WHERE COALESCE(LEAST(l.id, l.mn), k.doc_id) = k.doc_id
"""
    )


def _pipe_ctes() -> str:
    """The shared prep-pipeline CTE chain (URL dedup → scoring → filter →
    near-dup closure) — composed by both the pipe_prepare oracle and the
    pipe_funnel stage-retention oracle, so the stages cannot drift."""
    from .functions import urls

    pairs_sql = _minhash_oracle_sql(source="kept")
    canon = urls.canonical_url_sql(_SYNTH_URL_SQL)
    return f"""uu AS (
  SELECT doc_id, {canon} AS c FROM documents
),
ukeep AS (SELECT MIN(doc_id) AS doc_id FROM uu GROUP BY c),
base AS (
  SELECT doc_id, source, text,
    CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
    {_sql_stop_hits(_EN)} AS en_h,
    {_sql_stop_hits(_DE)} AS de_h,
    {_sql_stop_hits(_FR)} AS fr_h,
    {_sql_stop_hits(_ES)} AS es_h,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM ukeep)
),
scored AS (
  SELECT *, greatest(en_h, de_h, fr_h, es_h) AS mx,
    alpha / greatest(n_chars, 1.0) AS ar,
    punct / greatest(n_chars, 1.0) AS pr,
    CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END AS mtl,
    CASE WHEN n_tokens >= 10 AND n_tokens <= 5000 THEN 1.0
         WHEN n_tokens > 0 THEN 0.5 ELSE 0.0 END AS lb
  FROM base
),
labeled AS (
  SELECT doc_id, source, text, n_tokens,
    CASE WHEN mx = 0 THEN 'und'
         WHEN de_h = mx THEN 'de'
         WHEN en_h = mx THEN 'en'
         WHEN es_h = mx THEN 'es'
         ELSE 'fr' END AS lang_pred,
    ROUND(ar * 0.4 + (1.0 - least(pr * 5.0, 1.0)) * 0.2 + lb * 0.2
          + (CASE WHEN mtl >= 3.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2,
          6) AS quality
  FROM scored
),
kept AS (SELECT * FROM labeled WHERE lang_pred = 'en' AND quality >= 0.93),
pairs AS (SELECT * FROM ({pairs_sql}) t),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
lab AS (SELECT src AS id, MIN(dst) AS mn FROM reach GROUP BY src)"""


SQL_PIPE = _pipe_oracle_sql()


def q_pipe_funnel(spark, sf_dir, stages=None):
    """PIPE+ (beyond-reference observability): the stage-RETENTION
    funnel over the prep pipeline — the report every data-curation run
    publishes (the FineWeb/C4 papers lead with exactly this table): one
    row per stage (raw → URL dedup → language+quality filter → near-dup
    canonicalization) with exact surviving doc counts, token volumes,
    and retention percentages.

    The stage relations ARE q_pipe_prepare's stages — both consume ONE
    shared builder (pipe_stage_relations; and the oracle composes the
    same shared CTE chain via _pipe_ctes, so the two queries cannot
    drift); each stage aggregates to one row, unioned.  The expensive
    near-dup stage runs once; the scored/kept relation is
    checkpoint-shared exactly as in pipe_prepare.  A pipeline run that
    already holds the stage frames passes them via ``stages`` and the
    funnel recomputes NOTHING (reuse ≡ recompute, pytest-pinned).
    100 TB story: four map-combinable count/sum aggregates over
    relations the pipeline materializes anyway."""
    if stages is None:
        stages = pipe_stage_relations(spark, sf_dir, checkpoint_keepers=True)
    t = F.col("text")

    def _stage_agg(df, stage, name, tok_col):
        return df.agg(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(name).alias("name"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(tok_col).cast("bigint").alias("sum_tokens"),
        )

    s0 = _stage_agg(stages["raw"], 0, "raw", tx.token_count(t))
    s1 = _stage_agg(stages["url_docs"], 1, "url_dedup", tx.token_count(t))
    s2 = _stage_agg(stages["kept"], 2, "lang_quality", F.col("n_tokens"))
    s3 = _stage_agg(stages["final"], 3, "neardup_canon", F.col("n_tokens"))
    funnel = s0.unionByName(s1).unionByName(s2).unionByName(s3)
    raw = stages["raw"].agg(F.count(F.lit(1)).alias("n_raw"))
    return (
        funnel.crossJoin(F.broadcast(raw))
        .withColumn(
            "retained_pct",
            F.expr("ROUND(CAST(100.0 AS DOUBLE) * n_docs / n_raw, 6)"),
        )
        .select("stage", "name", "n_docs", "sum_tokens", "retained_pct")
        .orderBy("stage")
    )


def _pipe_funnel_oracle_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _pipe_ctes()
        + f""",
final AS (
  SELECT k.doc_id, k.n_tokens
  FROM kept k LEFT JOIN lab l ON l.id = k.doc_id
  WHERE COALESCE(LEAST(l.id, l.mn), k.doc_id) = k.doc_id
),
rawtok AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS sum_tokens
  FROM documents
),
stages AS (
  SELECT CAST(0 AS INTEGER) AS stage, 'raw' AS name, n_docs, sum_tokens
  FROM rawtok
  UNION ALL
  SELECT CAST(1 AS INTEGER), 'url_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT)
  FROM base
  UNION ALL
  SELECT CAST(2 AS INTEGER), 'lang_quality', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT)
  FROM kept
  UNION ALL
  SELECT CAST(3 AS INTEGER), 'neardup_canon', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT)
  FROM final
)
SELECT stage, name, n_docs, sum_tokens,
       ROUND(CAST(100.0 AS DOUBLE) * n_docs
             / (SELECT COUNT(*) FROM documents), 6) AS retained_pct
FROM stages ORDER BY stage
"""
    )


SQL_PIPE_FUNNEL = _pipe_funnel_oracle_sql()


def _train_shards_dir(spark, sf_dir: str) -> str:
    """Per-sf_dir persisted training-shard artifact (sources/export.py
    layout), written on first use — the _text_index_dir staleness-marker
    contract: (size, mtime) of the source table plus the hash mode
    (FAST_HASH flips shard/pos/split derivations), so a regenerated
    table or a mode flip always re-exports."""
    from .sources.export import export_training_shards

    # PSL identity (r10 ADVICE): pipe_prepare's URL-dedup keys depend on
    # the PSL rule source, so a swapped $SPARK_GRAFT_PSL_FILE must
    # invalidate the artifact.  A digest of the loaded rules covers both
    # the env path and the builtin-snapshot revision in one token.
    import hashlib as _hashlib

    from .functions.psl import load_psl_rules

    psl_digest = _hashlib.md5(
        repr(sorted(load_psl_rules())).encode()
    ).hexdigest()[:12]
    return _derived_artifact(
        sf_dir,
        "train_shards",
        "documents",
        [_hash_mode_token(), f"p{psl_digest}"],
        lambda path: export_training_shards(q_pipe_prepare(spark, sf_dir), path),
    )


def q_pipe_export(spark, sf_dir):
    """PIPE+ flagship (beyond-reference, VERDICT r9 item 5): the
    MATERIALIZED training-shard export — pipe_prepare's dedup survivors
    composed through concat-chunk packing offsets, the seeded epoch
    shuffle (shard + pos), the u12 interleave key, and the u9 leak-safe
    split, WRITTEN as shard-partitioned parquet (sources/export.py) and
    then verified by RE-READ: the returned relation is a per-shard
    integer/exact-decimal aggregate of the re-read artifact (counts,
    token/chunk sums, Σ doc_id·pos order checksum, interleave-key sum,
    split counts), which the oracle recomputes from the SOURCE table —
    any dropped row, duplicated file, or permuted pos hash-diverges.
    The artifact is the pipeline's actual deliverable; this query is its
    acceptance test."""
    from .sources.export import shard_verification

    reread = spark.read.parquet(_train_shards_dir(spark, sf_dir))
    return shard_verification(reread)


def _pipe_export_oracle_sql() -> str:
    h = "('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    return f"""
WITH pipe AS (SELECT * FROM ({SQL_PIPE}) t),
pk AS (
  SELECT source, doc_id,
    CAST(FLOOR(GREATEST(c - 1, c - n_tokens) / 2048) AS BIGINT)
      - CAST(FLOOR((c - n_tokens) / 2048) AS BIGINT) + 1 AS n_chunks
  FROM (
    SELECT source, doc_id, n_tokens,
      SUM(n_tokens) OVER (
        PARTITION BY source ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS c
    FROM pipe
  )
),
sh AS (
  SELECT doc_id, {h} % 8 AS shard,
         md5('0:' || CAST(doc_id AS VARCHAR)) AS k
  FROM pipe
),
pos AS (
  SELECT doc_id, shard,
    CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k ASC, doc_id ASC)
         AS BIGINT) AS pos
  FROM sh
),
srcs AS (
  SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS BIGINT)
           AS source_idx
  FROM (SELECT DISTINCT source FROM pipe)
),
rk AS (
  SELECT doc_id, source,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY {h} ASC, doc_id ASC
    ) AS BIGINT) AS epoch_rank
  FROM pipe
),
rows_ AS (
  SELECT p.doc_id, p.source, p.n_tokens, p.quality, pk.n_chunks,
         pos.shard, pos.pos,
         rk.epoch_rank * 64 + s.source_idx AS interleave_key,
         CASE WHEN ('0x' || substr(md5('split:0:' || CAST(p.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
              WHEN ('0x' || substr(md5('split:0:' || CAST(p.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM pipe p
  JOIN pk ON pk.source = p.source AND pk.doc_id = p.doc_id
  JOIN pos ON pos.doc_id = p.doc_id
  JOIN rk ON rk.doc_id = p.doc_id
  JOIN srcs s ON s.source = p.source
)
SELECT shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(SUM(n_chunks) AS BIGINT) AS sum_chunks,
  CAST(MAX(pos) AS BIGINT) AS max_pos,
  CAST(SUM(doc_id * pos) AS BIGINT) AS order_check,
  CAST(SUM(interleave_key) AS BIGINT) AS ilv_check,
  ROUND(CAST(SUM(CAST(quality AS DECIMAL(20,6))) AS DOUBLE), 6) AS sum_quality,
  CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
  CAST(SUM(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
  CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
FROM rows_
GROUP BY shard
"""


SQL_PIPE_EXPORT = _pipe_export_oracle_sql()


def q_t8_funnel(spark, sf_dir):
    """T8 (beyond-reference): ordered funnel analysis — per user, the
    earliest strictly-ordered view → click → purchase chain and the funnel
    depth reached (the canonical product-analytics sequence query).

    Plan: one filtered aggregate per step, each joined to the previous
    step's anchor timestamp and re-minimized — three shuffles keyed on
    user_id, every one map-side combinable, no window over the full event
    stream and no per-user event-array materialization (the collect_list
    formulation explodes memory on power users; this one is bounded by
    one row per user per step).  Step joins use the previous step's
    1-row-per-user output, broadcast when small."""
    events = _t(spark, sf_dir, "events")

    def step(ev_type):
        return events.where(F.col("event_type") == ev_type).select(
            "user_id", F.col("ts")
        )

    v = step("view").groupBy("user_id").agg(F.min("ts").alias("t_view"))
    c = (
        step("click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        step("purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
                + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
            ).alias("funnel_depth"),
        )
    )


SQL_T8 = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id
"""


def q_t9_cohort_retention(spark, sf_dir):
    """T9 (beyond-reference): weekly cohort retention — users grouped by
    the week of their first event; for each (cohort_week, week_offset),
    how many of that cohort were active (the classic retention triangle).

    Plan: one min-agg for the cohort anchor, one distinct (user, week)
    activity table, a user-keyed join, then a count-distinct keyed on
    (cohort, offset) — all combinable shuffles on bounded keys; nothing
    per-user is materialized beyond one row per active week.  Week offsets
    come from epoch differences of week-truncated timestamps (UTC, exact
    multiples of 604800), so both engines derive identical integers."""
    from .operators.joins import epoch_seconds

    events = _t(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    return (
        activity.join(first, "user_id")
        .groupBy(
            "cohort_week",
            ((epoch_seconds("w") - epoch_seconds("cohort_week")) / 604800)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


SQL_T9 = """
WITH f AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
),
a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
  FROM events
)
SELECT f.cohort_week,
       CAST((epoch(a.w) - epoch(f.cohort_week)) / 604800 AS BIGINT) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


def q_a20_salted_agg(spark, sf_dir):
    """A20 (beyond-reference): hot-key aggregation via explicit two-phase
    salting (operators/skew.py:salted_aggregate) — phase 1 groups by
    (key, salt) so one hot key spreads across 16 reducers, phase 2 merges
    partials per real key.  Salting is LOSSLESS for the decomposable ops
    (count/sum/min/max), so the oracle is the plain GROUP BY: identical
    results, different physics — which is exactly the property that makes
    the operator safe to drop into a skewed 100 TB pipeline.  The sum
    input is decimal-cast before phase 1 so the two-phase accumulation is
    order-independent."""
    from .operators.skew import salted_aggregate

    events = _t(spark, sf_dir, "events").withColumn(
        "v_dec", F.round(F.col("value"), 6).cast(_DEC)
    )
    out = salted_aggregate(
        events,
        ["event_type"],
        {
            "n": ("count", "value"),
            "v_min": ("min", "value"),
            "v_max": ("max", "value"),
            "v_sum": ("sum", "v_dec"),
        },
        buckets=16,
    )
    return out.select(
        "event_type", "n", "v_min", "v_max", F.col("v_sum").cast("double").alias("v_sum")
    )


SQL_A20 = """
SELECT event_type, COUNT(value) AS n, MIN(value) AS v_min, MAX(value) AS v_max,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(20,6))) AS DOUBLE) AS v_sum
FROM events GROUP BY event_type
"""


def q_j15_salted_join(spark, sf_dir):
    """J15 (beyond-reference): skewed fact-to-dim join via deterministic
    salting (operators/skew.py:salted_join) — the fact side salts its hot
    keys across 8 buckets, the dim side replicates 8-fold, and the join
    runs on (key, salt) so no single reducer owns a hot key's build.
    Salting is result-invariant, so the oracle is the plain join+rollup:
    identical output, skew-proof physics.  Post-join rollup follows the
    float discipline (decimal-cast sum)."""
    from .operators.skew import salted_join

    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    joined = salted_join(events, customer, on="user_id", buckets=8)
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.round(F.col("value"), 6), "value_sum"),
    )


SQL_J15 = """
SELECT c.c_nationkey,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(e.value, 6) AS DECIMAL(20,6))) AS DOUBLE) AS value_sum
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_nationkey
"""


def q_j16_adaptive_salted(spark, sf_dir):
    """J16 (beyond-reference): skew-adaptive salted join — profile the fact
    table's key distribution first (operators/skew.py:hot_keys, one
    map-combinable count), then salt ONLY the hot keys
    (adaptive_salted_join): cold keys join unsalted, hot-key dim rows
    replicate ×buckets.  Replication cost is O(|hot| × buckets) instead of
    uniform salting's O(|dim| × buckets) — the measured-skew version of
    j15.  Result-invariant, so the oracle is the plain join + rollup."""
    from .operators.skew import adaptive_salted_join, hot_keys

    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    hot = hot_keys(events, ["user_id"], min_count=10)
    joined = adaptive_salted_join(events, customer, on="user_id", hot=hot, buckets=8)
    return joined.groupBy("c_nationkey", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )


SQL_J16 = """
SELECT c.c_nationkey, e.event_type,
       COUNT(*) AS n_events, MIN(e.value) AS v_min, MAX(e.value) AS v_max
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_nationkey, e.event_type
"""


def q_a21_histogram(spark, sf_dir):
    """A21 (beyond-reference): fixed-width value histogram per event type —
    the distribution-profiling aggregate (data-quality dashboards, drift
    detection).  One map-combinable groupBy on (type, bin); the bin id is
    floor(value/width), a pure IEEE op both engines evaluate identically.
    Per-bin share is an exact small-int division rounded at 6 dp."""
    events = _t(spark, sf_dir, "events")
    binned = events.groupBy(
        "event_type", F.floor(F.col("value") / F.lit(50.0)).alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    return binned.select(
        "event_type",
        "bin",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("share"),
    )


SQL_A21 = """
WITH b AS (
  SELECT event_type, CAST(FLOOR(value / 50.0) AS BIGINT) AS bin, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, bin, n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY event_type), 6) AS share
FROM b
"""


def q_dd_lev_verify(spark, sf_dir):
    """DD+ (beyond-reference): candidate-then-verify dedup — MinHash-LSH
    candidate pairs re-scored with exact edit distance and a normalized
    similarity ``1 − lev/max(|a|,|b|)``.

    The composition IS the 100 TB design: the O(n·m) edit-distance DP is
    unaffordable across all pairs, affordable across LSH candidates (a
    vanishing fraction).  Text hydration is two id-keyed SHUFFLE joins of
    the candidate list against the corpus scan — the candidate relation
    is the small side but still corpus-PROPORTIONAL, so nothing here is
    force-broadcast (r13: the earlier broadcast-the-pairs form made the
    planner broadcast the full TEXT table on the second join — the
    dd_winnow OOM class; with accurate shuffle-side stats AQE may still
    demote either join to broadcast when the candidate side is truly
    small, which is the right call made with the right numbers).  Both
    engines implement classical Levenshtein — integer output, exact
    parity."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs).localCheckpoint(eager=True)
    pairs = dd.minhash_lsh_candidates(sigs)
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    lev = F.levenshtein(F.col("_ta"), F.col("_tb"))
    maxlen = F.greatest(F.length("_ta"), F.length("_tb"))
    # Two empty texts collide in every LSH band; 0/0 is NaN on Spark but an
    # error/NULL on DuckDB — guard to NULL on both engines (NULLIF in SQL).
    return (
        pairs.join(ta.hint("merge"), "id_a")
        .join(tb.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            lev.alias("lev"),
            F.when(
                maxlen > 0, F.round(F.lit(1.0) - lev / maxlen, 6)
            ).alias("lev_sim"),
        )
    )


SQL_DD_LEV = f"""
WITH cand AS ({_minhash_oracle_sql()})
SELECT c.id_a, c.id_b,
       levenshtein(a.text, b.text) AS lev,
       ROUND(1.0 - levenshtein(a.text, b.text) * 1.0
             / NULLIF(GREATEST(LENGTH(a.text), LENGTH(b.text)), 0), 6) AS lev_sim
FROM cand c
JOIN documents a ON a.doc_id = c.id_a
JOIN documents b ON b.doc_id = c.id_b
"""


def q_dd_jaccard_capped(spark, sf_dir):
    """DD (bounded-bench arm): rare-shingle candidate pairs — the 5-gram
    Jaccard operator in the configuration it actually runs with at scale:
    stop-shingle document-frequency cap (max_doc_freq=20) + a ≥3
    common-rare-shingle floor, scored with the conservative capped Jaccard.

    The uncapped `dd_jaccard` is gate-only on this template corpus (its
    shared boilerplate shingles make the pair join quadratic by
    construction, and near-dup overlap here IS boilerplate, so a capped
    *threshold* query is structurally empty).  The capped *candidate* form
    is the useful scale primitive: shingles with document frequency > 20
    contribute 0 pairs instead of f², and pairs sharing ≥3 surviving rare
    shingles are the verify-pass input.  Oracle replays cap + floor.

    r16: fan=True reverted (VERDICT r15 item 3) — driver-measured slower
    fanned at both core counts (3.59 s r14 → 5.33 s @32c / 6.07 s @8c)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        docs, k=5, threshold=0.0, max_doc_freq=20, min_common=3
    )


SQL_DD_JACCARD_CAPPED = """
WITH docs AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, substring(t, i, 5) AS shingle
  FROM docs, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS u(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
capped AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20)
),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT id_a, id_b,
       ROUND(common * 1.0 / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
"""


def q_dd_incremental(spark, sf_dir):
    """DD (beyond-reference): incremental dedup of an ingest batch against
    a PERSISTED LSH band index — the daily-ingest pattern at 100 TB.  The
    corpus (doc_id % 10 != 0) is signatured once and written as an
    (id, band_key) index partitioned by band_idx
    (functions/dedup.py:write_lsh_band_index); the batch (doc_id % 10 == 0)
    probes it with a broadcast join plus a within-batch self-join
    (incremental_lsh_candidates).  Corpus text/signatures are never
    recomputed at probe time — only band rows are read.  This is the
    batch-scale analog of the reference's query-first insert dedup
    (db_socket/helpers.py:317-406).  The oracle replays the full banding
    with the batch/corpus pair predicate."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    path = _scratch_dir(sf_dir, "lsh_index")
    dd.write_lsh_band_index(dd.minhash_signatures(corpus), path)
    return dd.incremental_lsh_candidates(spark, path, dd.minhash_signatures(batch))


SQL_DD_INCREMENTAL = _minhash_oracle_sql(
    pair_pred="b.id % 10 = 0 AND a.id <> b.id AND (a.id % 10 <> 0 OR a.id < b.id)"
)


def q_j5_one_hop(spark, sf_dir):
    """J5: direct-children join — records whose parent is in a filtered id
    set, via one hop over the materialized edges table (the reference's
    ``parent_id`` query filter joining record_direct_children_view,
    record_socket.py:305-308; view record_db_views.py:30-43).

    Seeds = customers in EUROPE (dimension semi-join chain, both dims
    broadcast); hop = broadcast-semi-join of the edges table against the
    seed ids — the edges scan never shuffles, and at 100 TB the seed list
    (an explicit id set in the reference API) stays broadcast-sized."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    nkeys = nation.join(
        F.broadcast(region.where(F.col("r_name") == "EUROPE").select("r_regionkey")),
        nation["n_regionkey"] == F.col("r_regionkey"),
        "left_semi",
    ).select("n_nationkey")
    seeds = customer.join(
        F.broadcast(nkeys),
        customer["c_nationkey"] == F.col("n_nationkey"),
        "left_semi",
    ).select((F.lit(3_000_000) + F.col("c_custkey")).cast("long").alias("id"))
    return graph.one_hop_children(seeds, build_edges(spark, sf_dir))


SQL_J5 = f"""
WITH edges AS ({_EDGES_SQL}),
seeds AS (
  SELECT CAST(3000000 + c_custkey AS BIGINT) AS id FROM customer
  WHERE c_nationkey IN (
    SELECT n_nationkey FROM nation JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE')
)
SELECT parent_id, child_id FROM edges
WHERE parent_id IN (SELECT id FROM seeds)
"""


def q_j6_membership(spark, sf_dir):
    """J6: dataset-membership join — all records belonging to one dataset,
    membership cell columns + record columns (the reference's
    ``dataset_id`` filter joining DatasetDirectRecordsView,
    record_socket.py:317-320, dataset_db_views.py:17-44).

    Membership fact stand-in: lineitem cells keyed into 20 synthetic
    datasets; records = orders.  The dataset predicate lands on the fact
    scan before the join (operators/dataset.py:membership_records), so the
    probe side is one dataset's cells, not the association table."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select(
        (F.col("l_suppkey") % 20).alias("dataset_id"),
        F.col("l_partkey").alias("entry_id"),
        F.col("l_linenumber").alias("spec_id"),
        F.col("l_orderkey").alias("record_id"),
    )
    records = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
    )
    return ds.membership_records(items, records, dataset_id=7)


SQL_J6 = """
SELECT l.l_orderkey AS record_id,
       l.l_suppkey % 20 AS dataset_id,
       l.l_partkey AS entry_id,
       l.l_linenumber AS spec_id,
       o.o_orderstatus AS status,
       o.o_totalprice AS total_price
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_suppkey % 20 = 7
"""


def _scratch_dir(sf_dir: str, tag: str) -> str:
    """Deterministic per-(sf_dir, query, PROCESS) scratch path for
    mutation/index queries; rebuilt from the source table on first use per
    process, so the query is idempotent and the files outlive the (lazy)
    returned DataFrame.  The pid suffix keeps the steady-state reuse of
    persisted indexes WITHIN a process (bench/driver see warm indexes)
    while making concurrent processes collision-free — two suites sharing
    a dir race rmtree-vs-read otherwise (observed as a one-off
    st_stream_substring flake when pytest and preflight overlapped)."""
    import hashlib
    import os

    from .session import scratch_base

    _reap_stale_scratch()
    h = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(
        scratch_base(), f"qcfractal_spark_{tag}_{h}_{os.getpid()}"
    )


def _hash_mode_token() -> str:
    """``h1`` under SPARK_GRAFT_FAST_HASH=1, else ``h0``: the hash mode an
    artifact was built under, for the markers of artifacts whose term,
    bucket or shard derivation it changes."""
    import os

    return f"h{1 if os.environ.get('SPARK_GRAFT_FAST_HASH') == '1' else 0}"


def _derived_artifact(
    sf_dir: str,
    tag: str,
    table: str,
    tokens: list[str],
    build: Callable[[str], object],
    complete: Callable[[str], bool] | None = None,
) -> str:
    """Per-sf_dir persisted artifact derived from ``table``, at
    ``_scratch_dir(sf_dir, tag)`` — the one staleness contract of the
    ingest-time artifacts (IVF index, text indexes, training shards,
    cluster labels).  The ``source_marker`` file records
    ``size:mtime_ns[:token...]`` of the source parquet plus the caller's
    build-parameter ``tokens``; the artifact is reused iff ``complete``
    (default: ``path/_SUCCESS`` exists) holds and the marker matches, and
    ``build(path)`` rebuilds it otherwise — so a regenerated testdata
    dir, even one with identical row counts, never serves stale data."""
    import os

    path = _scratch_dir(sf_dir, tag)
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    marker = ":".join([str(st.st_size), str(st.st_mtime_ns), *tokens])
    marker_path = os.path.join(path, "source_marker")
    if complete is None:
        valid = os.path.exists(os.path.join(path, "_SUCCESS"))
    else:
        valid = complete(path)
    if valid:
        try:
            with open(marker_path) as fh:
                valid = fh.read() == marker
        except OSError:
            valid = False
    if not valid:
        build(path)
        os.makedirs(path, exist_ok=True)
        with open(marker_path, "w") as fh:
            fh.write(marker)
    return path


_SCRATCH_REAPED = False


def _reap_stale_scratch(max_age_sec: int = 1800) -> None:
    """Prune sibling qcfractal_spark_* scratch dirs left by DEAD processes
    (ADVICE r7: the pid suffix made every pytest/bench/driver run leave its
    full IVF/LSH/label artifacts behind — unbounded tmp growth on shared
    runners).  Runs once per process, on first scratch use.  A dir is
    reaped when its owning pid is gone AND it is older than max_age_sec
    (age guards against pid reuse); live processes' dirs are never
    touched, so concurrent suites stay collision-free.

    r16 (r15 ADVICE): sweeps EVERY candidate base
    (``scratch_base_candidates``: override, /dev/shm, tempdir), not only
    the base this process chose — dirs stranded by a mid-run threshold
    crossing or an env change between runs were never reaped before."""
    global _SCRATCH_REAPED
    if _SCRATCH_REAPED:
        return
    _SCRATCH_REAPED = True
    import os
    import re
    import shutil
    import time

    from .session import scratch_base_candidates

    now = time.time()
    for tmp in scratch_base_candidates():
        try:
            names = os.listdir(tmp)
        except OSError:
            continue
        for name in names:
            m = re.fullmatch(r"qcfractal_spark_.+_([0-9a-f]{12})_(\d+)", name)
            if not m:
                continue
            pid = int(m.group(2))
            if pid == os.getpid():
                continue
            path = os.path.join(tmp, name)
            try:
                if now - os.path.getmtime(path) < max_age_sec:
                    continue
                os.kill(pid, 0)  # raises if the owner is gone
            except ProcessLookupError:
                shutil.rmtree(path, ignore_errors=True)
            except OSError:
                continue


def q_s6_delete_survivors(spark, sf_dir):
    """S6 under the hash gate: keyed delete with FK error capture on a
    scratch MutableTable copy, returning the surviving rows (reference
    delete-with-per-row-error-capture, db_socket/helpers.py:576-641).

    Delete set = suppliers with s_suppkey % 7 = 0 (the reference API takes
    an explicit id list, so the bounded collect of the id set mirrors its
    contract); referencing set = lineitems of suppliers with
    l_suppkey % 3 = 0 (the active-FK stand-in), so ids divisible by 21 are
    blocked and reported as errors while the rest are deleted.  The oracle
    replays the same predicate logic as a pure SELECT — the mutation path
    (copy-on-write commit + version pointer swap) must land exactly the
    anti-join semantics to hash-match."""
    import shutil

    from .sources.table import MutableTable

    supplier = _t(spark, sf_dir, "supplier")
    lineitem = _t(spark, sf_dir, "lineitem")
    path = _scratch_dir(sf_dir, "s6")
    shutil.rmtree(path, ignore_errors=True)
    table = MutableTable(spark, path)
    table.overwrite(supplier)
    ids = [
        r[0]
        for r in supplier.where(F.col("s_suppkey") % 7 == 0)
        .select("s_suppkey")
        .collect()
    ]
    table.delete_ids(
        ids,
        "s_suppkey",
        referencing=lineitem.where(F.col("l_suppkey") % 3 == 0),
        ref_col="l_suppkey",
    )
    return table.read().select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


SQL_S6 = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
WHERE NOT (s_suppkey % 7 = 0
           AND s_suppkey NOT IN (SELECT l_suppkey FROM lineitem
                                 WHERE l_suppkey % 3 = 0))
"""


def q_s8_snapshot_roundtrip(spark, sf_dir):
    """S8 under the hash gate: snapshot-export a table subset and read the
    exported parquet back — the returned rows come from the EXPORTED files,
    so serialization, type mapping, and the one-job distributed write
    (sources/parquet.py:snapshot_export; reference streams SQLite view
    files in 20-record batches, dataset_processing/views.py:26-186) must
    all round-trip losslessly to hash-match the plain SELECT oracle."""
    import shutil

    from .sources.parquet import snapshot_export

    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    out_dir = _scratch_dir(sf_dir, "s8")
    shutil.rmtree(out_dir, ignore_errors=True)
    paths = snapshot_export({"nation": nation, "orders": orders}, out_dir)
    back = spark.read.parquet(paths["orders"])
    from .catalog import normalize_ntz

    return normalize_ntz(back)


SQL_S8 = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders
"""


def q_s10_compact(spark, sf_dir):
    """S+ (beyond-reference maintenance): small-file compaction under the
    hash gate (sources/layout.py:compact_small_files) — a scratch copy of
    the documents keys is written as 64 tiny files (the streaming-sink
    pathology), compacted to size-targeted outputs via the
    rewrite-then-rename pointer swap, and the RETURNED rows read from the
    post-compaction files — so the rewrite must be lossless to hash-match
    the plain SELECT oracle.  File-count/idempotence/sizing contracts are
    pinned by tests/test_layout_compact.py."""
    import shutil

    from .sources.layout import compact_small_files

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = _scratch_dir(sf_dir, "s10")
    shutil.rmtree(path, ignore_errors=True)
    docs.repartition(64).write.mode("overwrite").parquet(path)
    stats = compact_small_files(spark, path, target_bytes=256 << 10)
    if stats["files_after"] >= stats["files_before"]:
        raise RuntimeError(f"compaction did not shrink the file set: {stats}")
    return spark.read.parquet(path)


SQL_S10 = """
SELECT doc_id, source, n_chars FROM documents
"""


def q_s11_schema_evolution(spark, sf_dir):
    """S+ (beyond-reference maintenance, VERDICT r10 item 3): schema
    evolution under the hash gate — the alembic-migration analog (the
    reference carries 40+ migrations, qcfractal/alembic/versions/).  A
    scratch MutableTable goes through the full migration lifecycle:

      v0 overwrite (s_nationkey deliberately narrowed to INT) →
      evolve[rename s_name→supplier_name, widen s_nationkey→BIGINT]
      (the widen rewrites) → evolve[add tier default 'std']
      (METADATA-ONLY — hardlinked files lack the column) → insert_dedup
      of 'gold'-tier new suppliers (mixed old/new rows) → evolve[add
      region_code default 7] (metadata-only again, so the FINAL read
      reconciles files that physically lack region_code).

    The returned relation is the fully-reconciled table; the oracle is
    the SELECT the migrated table must equal.  Read-time reconciliation
    (mergeSchema + rename-coalesce + default fill + widen cast) must be
    exact to hash-match."""
    import shutil

    from .sources.table import MutableTable

    supplier = _t(spark, sf_dir, "supplier")
    path = _scratch_dir(sf_dir, "s11")
    shutil.rmtree(path, ignore_errors=True)
    table = MutableTable(spark, path)
    table.overwrite(
        supplier.select(
            "s_suppkey",
            "s_name",
            F.col("s_nationkey").cast("int").alias("s_nationkey"),
            "s_acctbal",
        )
    )
    table.evolve(
        [
            {"op": "rename", "old": "s_name", "new": "supplier_name"},
            {"op": "widen", "name": "s_nationkey", "dtype": "bigint"},
        ]
    )
    table.evolve([{"op": "add", "name": "tier", "dtype": "string", "default": "std"}])
    batch = supplier.where(F.col("s_suppkey") % 4 == 0).select(
        (F.col("s_suppkey") + 1_000_000).alias("s_suppkey"),
        F.concat(F.lit("new_"), F.col("s_name")).alias("supplier_name"),
        F.col("s_nationkey").cast("bigint").alias("s_nationkey"),
        "s_acctbal",
        F.lit("gold").alias("tier"),
    )
    table.insert_dedup(batch, search_cols=["s_suppkey"])
    table.evolve([{"op": "add", "name": "region_code", "dtype": "int", "default": 7}])
    return table.read().select(
        "s_suppkey", "supplier_name", "s_nationkey", "s_acctbal", "tier", "region_code"
    )


SQL_S11 = """
SELECT s_suppkey, s_name AS supplier_name,
       CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal,
       'std' AS tier, CAST(7 AS INTEGER) AS region_code
FROM supplier
UNION ALL
SELECT s_suppkey + 1000000, 'new_' || s_name,
       CAST(s_nationkey AS BIGINT), s_acctbal,
       'gold', CAST(7 AS INTEGER)
FROM supplier WHERE s_suppkey % 4 = 0
"""


def q_s3_insert_dedup_table(spark, sf_dir):
    """S3 under the hash gate: query-first bulk insert on a scratch
    MutableTable copy — batch rows whose natural key already exists are
    skipped, new keys append (reference InsertMetadata flow,
    db_socket/helpers.py:317-406).  Batch = existing suppliers with
    s_suppkey % 3 = 0 (must dedup away) plus shifted copies
    (s_suppkey + 1000000 for % 5 = 0, genuinely new).  The oracle is the
    set the table must equal afterward: supplier ∪ the new rows."""
    import shutil

    from .sources.table import MutableTable

    supplier = _t(spark, sf_dir, "supplier")
    path = _scratch_dir(sf_dir, "s3")
    shutil.rmtree(path, ignore_errors=True)
    table = MutableTable(spark, path)
    table.overwrite(supplier)
    dupes = supplier.where(F.col("s_suppkey") % 3 == 0)
    news = supplier.where(F.col("s_suppkey") % 5 == 0).select(
        (F.col("s_suppkey") + 1_000_000).alias("s_suppkey"),
        F.concat(F.lit("copy_"), F.col("s_name")).alias("s_name"),
        "s_nationkey",
        "s_acctbal",
    )
    table.insert_dedup(dupes.unionByName(news), search_cols=["s_suppkey"])
    return table.read().select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


SQL_S3 = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
UNION ALL
SELECT s_suppkey + 1000000, 'copy_' || s_name, s_nationkey, s_acctbal
FROM supplier WHERE s_suppkey % 5 = 0
"""


def q_s7_retention_survivors(spark, sf_dir):
    """S7/T6 under the hash gate: retention sweep on a scratch MutableTable
    copy of events — drop everything before the cutoff, return survivors
    (reference access-log retention delete, serverinfo/socket.py:601-643).

    On a date-partitioned table this commit drops expired partitions
    without rewriting them (pytest covers that arm); here the unpartitioned
    arm proves the predicate + copy-on-write commit land exactly the
    cutoff SELECT the oracle runs."""
    import shutil

    from .sources.table import MutableTable

    events = _t(spark, sf_dir, "events")
    path = _scratch_dir(sf_dir, "s7")
    shutil.rmtree(path, ignore_errors=True)
    table = MutableTable(spark, path)
    table.overwrite(events)
    table.retention_delete("ts", datetime(2024, 1, 20))
    surv = table.read()
    return surv.select(
        "event_id", "ts", "user_id", "event_type", F.round("value", 6).alias("value")
    )


SQL_S7 = """
SELECT event_id, ts, user_id, event_type, ROUND(value, 6) AS value
FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
"""


def _stream_gate_run(spark, land_df, land_schema, build_stream, base,
                     partition_by=None):
    """Shared scaffold for the streaming-arm hash gates (VERDICT r6 item 3,
    same pattern st_session_custom proved): wipe scratch, land the source
    as several parquet files, run the streaming operator availableNow into
    a parquet sink, and return (sink_path, out-schema-less reader helper).
    ``build_stream`` maps the readStream DataFrame to the output stream;
    ``partition_by`` partitions the sink (the shard-layout arm)."""
    import os
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    land, sink, ckpt = (os.path.join(base, p) for p in ("land", "sink", "ckpt"))
    # several files => several micro-batches (maxFilesPerTrigger=1), so the
    # cross-batch state path is actually exercised, not just batch one
    land_df.coalesce(4).write.mode("overwrite").parquet(land)
    stream = (
        spark.readStream.schema(land_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    writer = (
        build_stream(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    q = writer.start()
    q.awaitTermination()
    return sink


def q_st_stream_export(spark, sf_dir):
    """T1+PIPE+: the streaming INGEST arm of the training-shard export
    (streaming/ingest.py:stream_shard_append) under the driver hash gate
    — documents land as 4 parquet files, stream through the hash-derived
    (shard, order_key, split) decoration across 4 micro-batches, and the
    sink is the SHARD-PARTITIONED layout itself (writeStream
    partitionBy), the pipe_export physical layout appended incrementally.
    Every decoration is a pure function of the id, so the result is
    batch-count-invariant; the gated output re-reads the partitioned
    sink and aggregates per shard (doc counts, token sums, the
    order-key hash sum that binds the lazy total order, split counts) —
    a dropped/duplicated micro-batch or a mis-partitioned row
    hash-mismatches.  The oracle replays the derivations from the
    documents table."""
    from .streaming.ingest import stream_shard_append

    docs = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select("doc_id", tx.token_count(F.col("text")).alias("n_tokens"))
    sink = _stream_gate_run(
        spark,
        docs,
        "doc_id long, n_tokens bigint",
        lambda s: stream_shard_append(s),
        _scratch_dir(sf_dir, "stexp"),
        partition_by="shard",
    )
    out_schema = (
        "doc_id long, n_tokens bigint, order_key string, split string, shard int"
    )
    key64 = F.conv(F.substring("order_key", 1, 8), 16, 10).cast("long")
    return (
        spark.read.schema(out_schema).parquet(sink)
        .groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum(key64).cast("bigint").alias("key_check"),
            F.sum((F.col("split") == "train").cast("long")).cast("bigint").alias("n_train"),
            F.sum((F.col("split") == "valid").cast("long")).cast("bigint").alias("n_valid"),
            F.sum((F.col("split") == "test").cast("long")).cast("bigint").alias("n_test"),
        )
    )


def _stream_export_sql() -> str:
    h = "('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    return f"""
WITH base AS (
  SELECT doc_id,
    CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
    {h} % 8 AS shard,
    md5('0:' || CAST(doc_id AS VARCHAR)) AS order_key,
    CASE WHEN ('0x' || substr(md5('split:0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
         WHEN ('0x' || substr(md5('split:0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'valid'
         ELSE 'test' END AS split
  FROM documents WHERE text IS NOT NULL
)
SELECT shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(SUM(('0x' || substr(order_key, 1, 8))::BIGINT) AS BIGINT) AS key_check,
  CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
  CAST(SUM(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
  CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
FROM base
GROUP BY shard
"""


def q_st_stream_span(spark, sf_dir):
    """T1+DD: the streaming C4 span-dedup arm
    (streaming/ingest.py:stream_span_dedup) END-TO-END under the driver
    hash gate — documents land as 4 parquet files, stream through
    ``dropDuplicatesWithinWatermark`` keyed on the span fingerprint across
    4 micro-batches, and the sink is re-aggregated per fingerprint.

    Which document survives per fingerprint depends on arrival order
    (nondeterministic across partitions), so the gated output is the
    order-insensitive invariant: every distinct span fingerprint appears
    EXACTLY once (n_out = 1).  A broken chunker changes the fingerprint
    set; broken dedup state (re-emission within or across batches) makes
    n_out 2 — both hash-mismatch.  The watermark horizon (10 years) spans
    the synthetic event times, so state never expires mid-run and the
    semantics are exact first-occurrence, matching the oracle."""
    from .streaming.ingest import stream_span_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    sink = _stream_gate_run(
        spark,
        docs,
        "doc_id long, text string, ts timestamp",
        lambda s: stream_span_dedup(s, watermark="3650 days"),
        _scratch_dir(sf_dir, "stspan"),
    )
    out_schema = "doc_id long, ts timestamp, span_idx int, fingerprint string"
    return (
        spark.read.schema(out_schema).parquet(sink)
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_out"))
    )


SQL_ST_STREAM_SPAN = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
x AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS j
  FROM t
),
s AS (
  SELECT md5(array_to_string(list_slice(toks, j * 20 + 1, j * 20 + 20), ' ')) AS h
  FROM x
)
SELECT h AS fingerprint, CAST(1 AS BIGINT) AS n_out FROM s GROUP BY h
"""


def q_st_stream_urldedup(spark, sf_dir):
    """T1+DD+: the streaming URL-dedup arm
    (streaming/ingest.py:stream_url_dedup) under the driver hash gate —
    the synthetic URLs land as 4 parquet files, stream through the shared
    canonicalization chain + ``dropDuplicatesWithinWatermark`` keyed on
    the canonical URL across 4 micro-batches, and the sink re-aggregates
    per (canonical_url, domain).  Which arrival survives is
    order-dependent, so the gated output is the order-insensitive
    invariant: every canonical page appears EXACTLY once (n_out = 1) with
    its registrable domain — a broken canonicalizer changes the page set,
    broken dedup state makes n_out 2; both hash-mismatch.  The oracle is
    the batch dd_url_dedup canonicalization replay."""
    from .streaming.ingest import stream_url_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_SYNTH_URL_EXPR).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    sink = _stream_gate_run(
        spark,
        docs,
        "doc_id long, url string, ts timestamp",
        lambda s: stream_url_dedup(s, watermark="3650 days"),
        _scratch_dir(sf_dir, "sturl"),
    )
    out_schema = "doc_id long, url string, ts timestamp, canonical_url string, domain string"
    return (
        spark.read.schema(out_schema).parquet(sink)
        .groupBy("canonical_url", "domain")
        .agg(F.count(F.lit(1)).alias("n_out"))
    )


def _stream_urldedup_sql() -> str:
    from .functions import psl, urls

    c = urls.canonical_url_sql(_SYNTH_URL_SQL)
    h = urls.url_host_sql("c")
    dom = psl.psl_domain_select_sql("hh", "host", keep="canonical_url")
    return f"""
WITH u AS (
  SELECT doc_id, {c} AS c FROM documents
),
hh AS (SELECT doc_id, c AS canonical_url, {h} AS host FROM u),
{psl.psl_rules_values_sql()},
s AS ({dom})
SELECT canonical_url, domain, CAST(1 AS BIGINT) AS n_out
FROM s GROUP BY 1, 2
"""


def q_st_stream_substring(spark, sf_dir):
    """T1+DD+: the streaming CDC substring-dedup arm
    (streaming/ingest.py:stream_substring_dedup) under the driver hash
    gate — the rowwise (shuffle-free) CDC chunker runs inside the stream
    and ``dropDuplicatesWithinWatermark`` keys on the chunk fingerprint.
    Same order-insensitive gate as st_stream_span: each distinct chunk
    fingerprint survives exactly once (n_out = 1) and carries its
    fp-determined chunk length, so chunker parity (vs the DuckDB CDC
    replay) and dedup-state correctness are both hashed."""
    from .streaming.ingest import stream_substring_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    sink = _stream_gate_run(
        spark,
        docs,
        "doc_id long, text string, ts timestamp",
        lambda s: stream_substring_dedup(s, watermark="3650 days"),
        _scratch_dir(sf_dir, "stcdc"),
    )
    out_schema = (
        "doc_id long, ts timestamp, start int, length int, chunk_fp string"
    )
    return (
        spark.read.schema(out_schema).parquet(sink)
        .groupBy("chunk_fp")
        .agg(
            F.min("length").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_out"),
        )
    )


SQL_ST_STREAM_SUBSTRING = _CDC_KEPT_CTE + """
SELECT chunk_fp, MIN(chunk_len) AS chunk_len, CAST(1 AS BIGINT) AS n_out
FROM kept GROUP BY chunk_fp
"""


def q_st_stream_incremental(spark, sf_dir):
    """T1+DD: the streaming incremental-LSH arm
    (streaming/ingest.py:stream_incremental_dedup) under the driver hash
    gate — the corpus (doc_id % 10 != 0) is banded once into the persisted
    index, the ingest batch (doc_id % 10 == 0) lands as 4 files and
    STREAMS against it (stream-static inner join; corpus text never
    rescanned), and the sink's cross-band duplicate pairs collapse to the
    distinct (corpus id_a, new id_b) candidate set — the same output
    contract as the batch probe (dd_incremental), which the oracle replays
    with the corpus-vs-batch pair predicate."""
    from .streaming.ingest import stream_incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    path = _scratch_dir(sf_dir, "sti_index")
    dd.write_lsh_band_index(dd.minhash_signatures(corpus), path)
    index = spark.read.parquet(path)
    sink = _stream_gate_run(
        spark,
        batch,
        "doc_id long, text string",
        lambda s: stream_incremental_dedup(s, index),
        _scratch_dir(sf_dir, "sti"),
    )
    return (
        spark.read.schema("id_a long, id_b long").parquet(sink)
        .dropDuplicates(["id_a", "id_b"])
    )


SQL_ST_STREAM_INCR = _minhash_oracle_sql(
    pair_pred="a.id % 10 <> 0 AND b.id % 10 = 0"
)


def q_st_rollup_stream(spark, sf_dir):
    """T3 streaming: maintain_rollup_stream
    (streaming/ingest.py:104) under the driver hash gate — events land as
    4 files and stream through foreachBatch into a persisted rollup
    MutableTable, one exactly-once epoch-guarded merge per micro-batch
    (work per trigger ∝ batch size + group cardinality, never a window
    recompute).  The returned rollup must equal the plain GROUP BY over
    all events: any wrong delta sign, epoch double-apply, or seed error
    hash-mismatches.  Sums are decimal-exact, so the result is independent
    of how rows split across the 4 batches."""
    import os
    import shutil

    from .sources.table import MutableTable
    from .streaming.ingest import maintain_rollup_stream

    base = _scratch_dir(sf_dir, "strr")
    shutil.rmtree(base, ignore_errors=True)
    events = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 6).alias("value")
    )
    table = MutableTable(spark, os.path.join(base, "rollup"))
    land, ckpt = os.path.join(base, "land"), os.path.join(base, "ckpt")
    events.coalesce(4).write.mode("overwrite").parquet(land)
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = maintain_rollup_stream(stream, table, ["event_type"], ["value"], ckpt)
    q.awaitTermination()
    return table.read().select(
        "event_type",
        "n",
        F.col("cnt_value").alias("n_values"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


SQL_ST_ROLLUP = """
SELECT event_type, COUNT(*) AS n, COUNT(value) AS n_values,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def q_v1_variant_rollup(spark, sf_dir):
    """P5/F4 via Spark 4 VARIANT (SURVEY §7 hard-part 5, VERDICT r6 item
    8): the JSON properties payload is parsed ONCE into a VARIANT column
    (functions/variantprops.py) and every access is a typed binary-path
    extraction — numbers keep their native type end-to-end (BIGINT here),
    no stringly ``get_json_object``+cast detour, and the per-group rollup
    aggregates the extracted long exactly.  Filter + extraction + sum all
    run in one codegen stage over the variant binary; at scale the parquet
    writer shreds ``$.k`` into a typed subcolumn the scan prunes on."""
    from .functions.variantprops import parse_properties, prop

    ev = _t(spark, sf_dir, "events", fan=True).withColumn("_v", parse_properties(F.col("props")))
    k = prop(F.col("_v"), "k", "long")
    return (
        ev.where(k.isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.sum(F.when(k > 80, 1).otherwise(0)).alias("n_high"),
        )
    )


SQL_V1 = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 80
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY event_type
"""


def q_u7_epoch_shuffle(spark, sf_dir):
    """U+ (beyond-reference): deterministic sharded epoch shuffle
    (functions/packing.py:epoch_shuffle) — every epoch a different
    pseudo-random order, every re-run the identical one, and no global
    sort: readers consume shards, so the plan is one hash exchange + an
    in-partition rank-only sort.  The oracle replays the md5 permutation
    key, the 32-bit-prefix shard id, and the within-shard rank."""
    from .functions.packing import epoch_shuffle

    docs = _t(spark, sf_dir, "documents")
    return epoch_shuffle(docs, id_col="doc_id", epoch=1, n_shards=8)


SQL_U7 = """
WITH k AS (
  SELECT doc_id,
         md5('1:' || CAST(doc_id AS VARCHAR)) AS key,
         ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
           AS shard
  FROM documents
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id) AS INT)
         AS pos
FROM k
"""


def q_u8_group_sample_k(spark, sf_dir):
    """U+ (beyond-reference): deterministic exact-k per-group sampling
    (functions/packing.py:sample_k_per_group) — cap every source at k=50
    docs by seeded-hash rank.  The row_number<=k filter compiles to a
    map-side WindowGroupLimit (plan-audited), so the exchange carries
    per-partition top-k, never the corpus; the oracle replays the hash
    rank in SQL."""
    from .functions.packing import sample_k_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_k_per_group(docs, group_col="source", id_col="doc_id", k=50)


SQL_U8 = """
WITH r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                    doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS INT) AS sample_rank FROM r WHERE rk <= 50
"""


def q_dd_source_overlap(spark, sf_dir):
    """DD+ (beyond-reference): cross-source exact-duplicate overlap matrix
    (functions/dedup.py:source_overlap_matrix) — shared content
    fingerprints, per-source distinct counts, and fingerprint-set Jaccard
    for every source pair; per-fingerprint join work is bounded by
    (#sources)², so no hot fingerprint can blow up the plan."""
    docs = _t(spark, sf_dir, "documents")
    return dd.source_overlap_matrix(docs)


SQL_DD_SOURCE_OVERLAP = r"""
WITH fps AS (
  SELECT DISTINCT
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
         source
  FROM documents WHERE text IS NOT NULL
),
sizes AS (SELECT source, COUNT(*) AS n FROM fps GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared_fps
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa.source AS source_a, sb.source AS source_b,
       COALESCE(p.shared_fps, 0) AS shared_fps,
       sa.n AS n_a, sb.n AS n_b,
       ROUND(COALESCE(p.shared_fps, 0) * 1.0
             / (sa.n + sb.n - COALESCE(p.shared_fps, 0)), 6) AS jaccard
FROM sizes sa
JOIN sizes sb ON sa.source < sb.source
LEFT JOIN pairs p ON p.source_a = sa.source AND p.source_b = sb.source
"""


def q_dd_minhash_estimate(spark, sf_dir):
    """DD+ (beyond-reference): signature-agreement Jaccard estimates for
    the LSH candidate pairs (functions/dedup.py:minhash_estimate_pairs) —
    the triage stage between candidate generation and exact verification:
    ranking candidates costs a zip over two 16-int signatures per pair,
    no text hydration, so only estimate-survivors pay the exact pass.
    The oracle replays the shared signature CTE and counts agreeing
    components per pair."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    return dd.minhash_estimate_pairs(docs)


SQL_DD_MINHASH_EST = _minhash_oracle_sql(
    final_select="""
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       ROUND(("""
    + " + ".join(
        f"(CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END)" for i in range(16)
    )
    + """) / 16.0, 6) AS est_jaccard
FROM cand c
JOIN sig x ON x.id = c.id_a
JOIN sig y ON y.id = c.id_b"""
)
# final_select opens with "cand AS (...)": splice it into the generated
# WITH chain by turning the closing "bands AS (...)\n" into a comma'd CTE.
SQL_DD_MINHASH_EST = SQL_DD_MINHASH_EST.replace(")\n\ncand AS (", "),\ncand AS (", 1)


def q_st_ann_serve(spark, sf_dir):
    """T1+SIM: streaming ANN serving under the driver hash gate
    (streaming/ingest.py:stream_ann_serve) — the 8 query vectors of
    sim_ivf_batch_topk land as 4 files and STREAM against the shared
    persisted IVF index via foreachBatch(ivf_topk_batch); the sink must
    hash-equal the one-shot batch plan's output (same oracle SQL), which
    pins stream ≡ batch serving parity at the driver gate.  Micro-batch
    boundaries cannot matter: each query's top-k depends only on its own
    vector and the static index."""
    import os
    import shutil

    from .streaming.ingest import stream_ann_serve

    emb = _t(spark, sf_dir, "embeddings")
    index_path = _ivf_index_dir(spark, sf_dir)
    base = _scratch_dir(sf_dir, "stann")
    shutil.rmtree(base, ignore_errors=True)
    land, sink, ckpt = (os.path.join(base, p) for p in ("land", "sink", "ckpt"))
    emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).coalesce(4).write.mode("overwrite").parquet(land)
    stream = (
        spark.readStream.schema("query_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = stream_ann_serve(stream, index_path, sink, ckpt, k=10, n_probe=4)
    q.awaitTermination()
    return spark.read.schema("query_id long, vec_id long, score double").parquet(sink)


def q_pk_length_buckets(spark, sf_dir):
    """PK+ (beyond-reference): padding-efficiency report for
    length-bucketed batching (functions/packing.py:length_bucket_stats) —
    per (source, 64-token bucket): doc count, token sum/max, absolute
    padded-token waste and fill efficiency.  One map-combinable hash
    aggregate on a low-cardinality key; integer math end to end."""
    from .functions.packing import length_bucket_stats

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", tx.token_count(F.col("text")).alias("_n_tokens"))
    )
    return length_bucket_stats(
        docs, token_col="_n_tokens", group_col="source", bucket_width=64
    )


SQL_PK_BUCKETS = f"""
WITH b AS (
  SELECT source, CAST(len({_TOKS_SQL}) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT source, CAST(floor(n / 64.0) AS BIGINT) AS bucket,
         COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS sum_tokens,
         MAX(n) AS max_tokens
  FROM b GROUP BY 1, 2
)
SELECT source, bucket, (bucket + 1) * 64 AS bucket_cap, n_docs,
       sum_tokens, max_tokens,
       CAST(n_docs * ((bucket + 1) * 64) - sum_tokens AS BIGINT)
         AS padding_waste,
       ROUND(sum_tokens / CAST(n_docs * ((bucket + 1) * 64) AS DOUBLE), 6)
         AS fill_efficiency
FROM g
"""


def q_pk_bin_pack(spark, sf_dir):
    """PK+ (beyond-reference): whole-document bin packing, bucketed
    first-fit-decreasing (functions/packing.py:bin_pack_layout) — pack
    docs UNSPLIT into 1024-token bins, bins drawing from per-(source,
    shard, length-bucket) pools so membership is pure rank arithmetic
    (window-expressible, engine-replayable), 4-way sharded to splinter hot
    buckets.  Emits the per-bin report (docs, tokens, waste, fill) a
    curation pipeline uses to price padding against the concat-and-chunk
    layout (pk_pack), which packs tighter but bleeds attention across doc
    boundaries.  One shuffle on (source, shard, bucket) + one
    map-combinable agg on the bin key; the window is rank-only."""
    from .functions.packing import bin_pack_layout

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", "doc_id", tx.token_count(F.col("text")).alias("_n_tok"))
    )
    per_doc = bin_pack_layout(
        docs, token_col="_n_tok", capacity=1024, bucket_width=64,
        part_col="source", id_col="doc_id", n_shards=4,
    )
    return (
        per_doc.groupBy("source", "shard", "bucket", "local_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .select(
            "source", "shard", "bucket", "local_bin", "n_docs", "sum_tokens",
            "max_tokens",
            (F.lit(1024).cast("long") - F.col("sum_tokens")).alias("bin_waste"),
            F.round(F.col("sum_tokens") / F.lit(1024.0), 6).alias("fill_efficiency"),
        )
    )


SQL_PK_BIN_PACK = f"""
WITH d AS (
  SELECT source, doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT source, doc_id, n,
         CAST(floor(n / 64.0) AS BIGINT) AS bucket,
         ('0x' || substr(md5('pk:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4
           AS shard
  FROM d
),
k AS (
  SELECT *,
         GREATEST(1, CAST(floor(1024.0 / ((bucket + 1) * 64)) AS BIGINT))
           AS bin_docs,
         ROW_NUMBER() OVER (
           PARTITION BY source, shard, bucket ORDER BY n DESC, doc_id
         ) AS rn
  FROM s
)
SELECT source, shard, bucket,
       CAST(floor((rn - 1) / bin_docs) AS BIGINT) AS local_bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS sum_tokens,
       MAX(n) AS max_tokens,
       CAST(1024 - SUM(n) AS BIGINT) AS bin_waste,
       ROUND(SUM(n) / 1024.0, 6) AS fill_efficiency
FROM k
GROUP BY 1, 2, 3, 4
"""


def q_pk_bfd_pack(spark, sf_dir):
    """PK+ (beyond-reference): exact best-fit-decreasing packing
    (functions/packing.py:bfd_pack) — the tighter, sequential arm of
    pk_bin_pack, run per (source, shard) group via applyInPandas with a
    bisect-probed sorted bin table (O(n log n) per group).

    BFD's bin state is inherently order-dependent, so its per-doc
    assignment has no SELECT-only replay — but its CORRECTNESS is fully
    SQL-checkable as invariants (r12 VERDICT item 2, retiring the last
    non-sketch rows-only gate).  This query emits one row per (source,
    shard) where every column is either derivable from the INPUT alone
    (doc/token/oversize counts, the bin-count lower bound, the bucketed
    arm's exact padding — all replayed by the DuckDB oracle) or an
    invariant VERDICT the oracle pins to TRUE:

    * ``capacity_ok`` — every non-oversize bin sums ≤ capacity and every
      oversize doc sits alone in its bin;
    * ``bins_dense`` — per group, local_bin ids are exactly 0..n_bins-1;
    * ``bins_lb_ok`` — n_bins ≥ ceil(fit_tokens/capacity) + n_oversize,
      the information-theoretic floor any valid packing obeys;
    * ``pad_le_singleton`` — BFD padding ≤ the one-doc-per-bin baseline
      (guaranteed: n_fit_bins ≤ n_fit_docs);
    * ``pad_le_ffd`` — BFD padding ≤ the bucketed-FFD arm's on the same
      group (the 11/9·OPT-class tightness claim, checked per group).

    A buggy BFD (capacity overflow, skipped bin id, lost doc, looser
    packing) flips a boolean or shifts an exact count and the driver
    hash goes red; the per-doc bin table itself stays pinned by
    tests/test_packing.py (best-fit rule exactness, determinism).
    100 TB shape: both packing arms are one shuffle each on the group
    key; everything aggregated here is map-combinable."""
    from .functions.packing import bfd_pack, bin_pack_layout

    cap = 1024
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", "doc_id", tx.token_count(F.col("text")).alias("_n_tok"))
    )
    per_doc = bfd_pack(
        docs, token_col="_n_tok", capacity=cap,
        part_col="source", id_col="doc_id", n_shards=4,
    )
    bins = per_doc.groupBy("source", "shard", "local_bin").agg(
        F.count(F.lit(1)).alias("b_docs"),
        F.sum("n_tokens").alias("b_tokens"),
        F.max(F.col("oversize").cast("int")).alias("b_oversize"),
    )
    binstats = bins.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("_n_bins"),
        F.min("local_bin").alias("_min_bin"),
        F.max("local_bin").alias("_max_bin"),
        F.bool_and(
            F.when(F.col("b_oversize") == 1, F.col("b_docs") == 1).otherwise(
                F.col("b_tokens") <= cap
            )
        ).alias("capacity_ok"),
        F.coalesce(
            F.sum(
                F.when(F.col("b_oversize") == 0, F.lit(cap) - F.col("b_tokens"))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("_bfd_pad"),
        F.coalesce(
            F.sum(F.when(F.col("b_oversize") == 0, F.lit(1))), F.lit(0)
        ).alias("_n_fit_bins"),
    )
    docstats = per_doc.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.sum(F.col("oversize").cast("long")).cast("bigint").alias("n_oversize"),
        F.coalesce(
            F.sum(F.when(~F.col("oversize"), F.col("n_tokens"))), F.lit(0)
        )
        .cast("bigint")
        .alias("_fit_tokens"),
        F.coalesce(
            F.sum(F.when(~F.col("oversize"), F.lit(1))), F.lit(0)
        ).alias("_n_fit_docs"),
    )
    # the bucketed-FFD comparison arm: same docs, same shard hash, exact
    # padding per (source, shard) — replayed verbatim by the oracle's
    # window math (the hash-green pk_bin_pack algebra, aggregated up)
    ffd_bins = (
        bin_pack_layout(
            docs, token_col="_n_tok", capacity=cap, bucket_width=64,
            part_col="source", id_col="doc_id", n_shards=4,
        )
        .groupBy("source", "shard", "bucket", "local_bin")
        .agg(F.sum("n_tokens").alias("fb_tokens"))
    )
    ffd = ffd_bins.groupBy("source", "shard").agg(
        F.sum(F.greatest(F.lit(0).cast("long"), F.lit(cap) - F.col("fb_tokens")))
        .cast("bigint")
        .alias("ffd_pad")
    )
    lb = (
        F.ceil(F.col("_fit_tokens").cast("double") / F.lit(float(cap)))
        + F.col("n_oversize")
    ).cast("bigint")
    return (
        docstats.join(binstats, ["source", "shard"])
        .join(ffd, ["source", "shard"])
        .select(
            "source",
            "shard",
            "n_docs",
            "sum_tokens",
            "n_oversize",
            lb.alias("lb_bins"),
            "ffd_pad",
            "capacity_ok",
            (
                (F.col("_min_bin") == 0)
                & (F.col("_max_bin") == F.col("_n_bins") - 1)
            ).alias("bins_dense"),
            (F.col("_n_bins") >= lb).alias("bins_lb_ok"),
            (
                F.col("_bfd_pad")
                <= F.col("_n_fit_docs") * cap - F.col("_fit_tokens")
            ).alias("pad_le_singleton"),
            (F.col("_bfd_pad") <= F.col("ffd_pad")).alias("pad_le_ffd"),
        )
    )


SQL_PK_BFD_PACK = f"""
WITH d AS (
  SELECT source, doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT source, doc_id, n,
         CAST(floor(n / 64.0) AS BIGINT) AS bucket,
         ('0x' || substr(md5('pk:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4
           AS shard
  FROM d
),
k AS (
  SELECT *,
         GREATEST(1, CAST(floor(1024.0 / ((bucket + 1) * 64)) AS BIGINT))
           AS bin_docs,
         ROW_NUMBER() OVER (
           PARTITION BY source, shard, bucket ORDER BY n DESC, doc_id
         ) AS rn
  FROM s
),
ffd_bins AS (
  SELECT source, shard, bucket,
         CAST(floor((rn - 1) / bin_docs) AS BIGINT) AS local_bin,
         CAST(SUM(n) AS BIGINT) AS fb_tokens
  FROM k GROUP BY 1, 2, 3, 4
),
ffd AS (
  SELECT source, shard,
         CAST(SUM(GREATEST(0, 1024 - fb_tokens)) AS BIGINT) AS ffd_pad
  FROM ffd_bins GROUP BY 1, 2
),
docstats AS (
  SELECT source, shard,
         COUNT(*) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS sum_tokens,
         CAST(SUM(CASE WHEN n > 1024 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
         CAST(SUM(CASE WHEN n <= 1024 THEN n ELSE 0 END) AS BIGINT) AS fit_tokens
  FROM s GROUP BY 1, 2
)
SELECT ds.source, ds.shard, ds.n_docs, ds.sum_tokens, ds.n_oversize,
       CAST(CAST(ceil(ds.fit_tokens / 1024.0) AS BIGINT) + ds.n_oversize
            AS BIGINT) AS lb_bins,
       f.ffd_pad,
       TRUE AS capacity_ok,
       TRUE AS bins_dense,
       TRUE AS bins_lb_ok,
       TRUE AS pad_le_singleton,
       TRUE AS pad_le_ffd
FROM docstats ds JOIN ffd f USING (source, shard)
"""


def q_tx_doc_freq(spark, sf_dir):
    """TX+ (beyond-reference): corpus document-frequency head
    (functions/text.py:doc_frequency_topk) — top-100 tokens by distinct-
    document count, the vocabulary/stop-list builder feeding the
    stop-shingle caps of the Jaccard dedup family.  Per-doc distinct
    scan-side, ONE count aggregate, global top-k via
    TakeOrderedAndProject."""
    docs = _t(spark, sf_dir, "documents")
    return tx.doc_frequency_topk(docs, text_col="text", k=100)


SQL_TX_DOC_FREQ = f"""
SELECT token, COUNT(*) AS doc_freq
FROM (
  SELECT unnest(list_distinct({_TOKS_SQL})) AS token
  FROM documents WHERE text IS NOT NULL
)
GROUP BY 1 ORDER BY doc_freq DESC, token ASC LIMIT 100
"""


# Quality replay (doc_id, quality) — the SQL twin of tx.quality_score,
# the same algebra SQL_TX_STATS inlines (kept in sync with both).
_SQL_QUALITY_CTES = f"""
qbase AS (
  SELECT doc_id,
    CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct
  FROM documents
),
quality AS (
  SELECT doc_id,
    ROUND((alpha / greatest(n_chars, 1.0)) * 0.4
      + (1.0 - least((punct / greatest(n_chars, 1.0)) * 5.0, 1.0)) * 0.2
      + (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000 THEN 1.0
              WHEN n_tokens > 0 THEN 0.5 ELSE 0.0 END) * 0.2
      + (CASE WHEN n_tokens > 0 AND n_chars / n_tokens >= 3.0
                   AND n_chars / n_tokens <= 12.0
              THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality
  FROM qbase
)
"""


def q_dd_url_dedup(spark, sf_dir):
    """DD+ (beyond-reference): URL-level exact dedup, the C4/RefinedWeb
    stage that runs BEFORE any content hashing — canonicalize every URL
    (functions/urls.py: scheme/www/default-port/query/fragment/trailing-
    slash stripped, pure regexp codegen), group by the canonical form,
    keep the lowest doc_id as the page's representative.  Emits one row
    per canonical page with its registrable domain and the surface-variant
    count.  ONE shuffle, on the canonical-URL key; the canonicalization
    itself is scan-side whole-stage codegen, no UDF; the registrable
    domain is PSL-true (functions/psl.py, VERDICT r8 item 2) — the
    snapshot rule set compiles to a map literal (pure codegen, zero
    joins); full-PSL files run as K chained broadcast left-joins, still
    map-side (urls.registrable_domain stays as the no-PSL-data regex
    fallback)."""
    from .functions import psl, urls

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SYNTH_URL_EXPR).alias("url")
    )
    canon = urls.canonical_url(F.col("url"))
    staged = docs.select(
        "doc_id",
        canon.alias("canonical_url"),
        urls.url_host(canon).alias("host"),
    )
    staged = psl.with_registrable_domain(staged, "host").drop("host")
    return staged.groupBy("canonical_url", "domain").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _url_dedup_sql() -> str:
    from .functions import psl, urls

    c = urls.canonical_url_sql("url")
    h = urls.url_host_sql("c")
    dom = psl.psl_domain_select_sql("hh", "host", keep="doc_id, canonical_url")
    return f"""
WITH u AS (
  SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents
),
b AS (
  SELECT doc_id, {c} AS c FROM u
),
hh AS (
  SELECT doc_id, c AS canonical_url, {h} AS host FROM b
),
{psl.psl_rules_values_sql()},
s AS ({dom})
SELECT canonical_url, domain,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM s GROUP BY 1, 2
"""


def q_pk_site_cap(spark, sf_dir):
    """PK+ (beyond-reference): per-SITE token-budget capping — the
    registrable-domain-keyed arm of pk_domain_cap (which caps per
    ``source`` stream): within each PSL-true domain (doc_id order), keep
    documents while the running token total stays under the 300-token budget — the
    "no single site dominates the corpus" pass a crawl pipeline runs
    before mixing.  PSL correctness is load-bearing here: with the
    PRIVATE section (r10), every ``siteN.github.io`` tenant is its own
    budget; ICANN-only rules would pool all of github.io into one cap
    and starve every tenant after the first (pytest-pinned).  Plan:
    scan-side canonicalize + host + zero-shuffle map-literal domain
    probes, then ONE shuffle on the domain key for the integer-only
    cumulative window."""
    from .functions import psl, urls

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    canon = urls.canonical_url(F.expr(_SYNTH_URL_EXPR))
    staged = docs.select(
        "doc_id",
        urls.url_host(canon).alias("host"),
        tx.token_count(F.col("text")).alias("n_tokens"),
    )
    staged = psl.with_registrable_domain(staged, "host").drop("host")
    w = (
        Window.partitionBy("domain")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return staged.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w)
    ).where(F.col("cum_tokens") <= 300)


def _site_cap_sql() -> str:
    from .functions import psl, urls

    c = urls.canonical_url_sql(_SYNTH_URL_SQL)
    h = urls.url_host_sql("c")
    dom = psl.psl_domain_select_sql("hh", "host", keep="doc_id, n_tokens")
    return f"""
WITH u AS (
  SELECT doc_id, text, {_SYNTH_URL_SQL} AS url FROM documents
  WHERE text IS NOT NULL
),
b AS (
  SELECT doc_id, text, {c} AS c FROM u
),
hh AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens, {h} AS host
  FROM b
),
{psl.psl_rules_values_sql()},
s AS ({dom}),
cum AS (
  SELECT doc_id, n_tokens, domain,
    CAST(SUM(n_tokens) OVER (
      PARTITION BY domain ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_tokens
  FROM s
)
SELECT * FROM cum WHERE cum_tokens <= 300
"""


def q_tx_domain_stats(spark, sf_dir):
    """TX+ (beyond-reference): per-registrable-domain corpus profile — doc
    and distinct-page counts, token volume, source spread, and the
    decimal-exact quality sum — the rollup that prices each domain for
    pk_domain_cap budgets and blocklist decisions.  Canonicalization is
    scan-side codegen; the rollup is one map-combinable hash aggregate on
    the (low-cardinality) domain key, with the distinct-page count the
    only re-shuffle-free expansion (partial aggregation on (domain,
    canon) first).  Domains are PSL-true (functions/psl.py broadcast
    joins) so per-domain caps/blocklists bucket ``.com.cn``/``.co.kr``
    correctly — the policy-correctness fix of VERDICT r8 item 2."""
    from .functions import psl, urls

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    canon = urls.canonical_url(F.expr(_SYNTH_URL_EXPR))
    staged = docs.select(
        "doc_id",
        "source",
        canon.alias("canon"),
        urls.url_host(canon).alias("host"),
        tx.token_count(F.col("text")).alias("n_tok"),
        tx.quality_score(F.col("text")).alias("quality"),
    )
    staged = psl.with_registrable_domain(staged, "host").drop("host")
    return staged.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("canon").alias("n_pages"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_tok").alias("sum_tokens"),
        F.sum(F.col("quality").cast("decimal(20,6)")).cast("double").alias("sum_quality"),
    )


def _domain_stats_sql() -> str:
    from .functions import psl, urls

    # qualify the synth expr's doc_id: inside st both d and q carry one
    c = urls.canonical_url_sql(_SYNTH_URL_SQL.replace("doc_id", "d.doc_id"))
    h = urls.url_host_sql("canon")
    dom = psl.psl_domain_select_sql(
        "sh", "host", keep="doc_id, source, canon, n_tok, quality"
    )
    return f"""
WITH {_SQL_QUALITY_CTES.strip()},
st AS (
  SELECT d.doc_id AS doc_id, d.source AS source, {c} AS canon,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok,
         q.quality
  FROM documents d JOIN quality q ON q.doc_id = d.doc_id
  WHERE d.text IS NOT NULL
),
sh AS (SELECT *, {h} AS host FROM st),
{psl.psl_rules_values_sql()},
dm AS ({dom})
SELECT domain,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT canon) AS n_pages,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(CAST(quality AS DECIMAL(20,6))) AS DOUBLE) AS sum_quality
FROM dm GROUP BY 1
"""


def q_tx_phrase_hits(spark, sf_dir):
    """TX+ (beyond-reference): exact phrase-occurrence audit — every
    (doc, position) where the token trigram 'big order scan' appears, the
    memorization/attribution probe (Carlini-style extraction checks and
    eval-leak forensics ask exactly this of a corpus).  Plan: ONE
    posexplode to (doc, pos, term), filtered to the three phrase terms
    scan-side (the inverted-index posting-list shape — at 100 TB the
    posting table is the persisted artifact and this filter is its
    partition prune), then two keyed equi-joins on (doc, pos±1) stitch
    adjacent positions; both join sides are posting-list-sized, never
    corpus-sized.  Per-doc rollup is map-combinable."""
    phrase = ["big", "order", "scan"]
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    posting = (
        docs.select(
            "doc_id", F.posexplode(tx.tokens(F.col("text"))).alias("pos", "term")
        )
        .where(F.col("term").isin(phrase))
        .localCheckpoint(eager=False)
    )
    t0 = posting.where(F.col("term") == phrase[0]).select("doc_id", "pos")
    t1 = posting.where(F.col("term") == phrase[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    t2 = posting.where(F.col("term") == phrase[2]).select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    hits = t0.join(t1, ["doc_id", "pos"]).join(t2, ["doc_id", "pos"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("pos").alias("first_pos"),
    )


SQL_TX_PHRASE = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE text IS NOT NULL
),
p AS (
  SELECT doc_id, i - 1 AS pos
  FROM tok, unnest(generate_series(1, greatest(len(toks) - 2, 0))) u(i)
  WHERE toks[i] = 'big' AND toks[i + 1] = 'order' AND toks[i + 2] = 'scan'
)
SELECT doc_id, COUNT(*) AS n_hits, CAST(MIN(pos) AS INT) AS first_pos
FROM p GROUP BY doc_id
"""


def _text_index_dir(spark, sf_dir: str) -> str:
    """Per-sf_dir persisted inverted text index (text.write_text_index
    layout), built on first use — the same (size, mtime) staleness-marker
    contract as _ivf_index_dir, so a regenerated documents table always
    re-indexes.  The marker also records the HASH MODE
    (SPARK_GRAFT_FAST_HASH) and bucket count: both change the
    term→bucket derivation, so an index built under one mode probed
    under the other would silently return empty/partial posting lists
    (ADVICE r9) — a mode or bucket flip now forces a rebuild."""
    from .functions.text import write_text_index

    return _derived_artifact(
        sf_dir,
        "text_index",
        "documents",
        # 64 = write_text_index's default; probes derive buckets the same way
        [_hash_mode_token(), "b64"],
        lambda path: write_text_index(_t(spark, sf_dir, "documents"), path),
    )


def q_tx_phrase_idx(spark, sf_dir):
    """TX+ (beyond-reference): the exact phrase audit as an INDEX PROBE —
    tx_phrase_hits' deployment shape (its docstring's "at 100 TB the
    posting table is the persisted artifact" made real, the IVF-index
    treatment applied to text).  write_text_index persists (term, doc_id,
    pos) posting lists partitioned by portable-hash term bucket at ingest;
    the probe for 'group slow spark' reads ≤3 bucket DIRECTORIES
    (partition prune, plan-tested) with the term IN filter pushed to the
    scan, then the same (doc, pos±i) adjacency joins — probe cost ∝ the
    phrase's posting lists, near-constant in corpus size (the
    sim_ivf_topk contract for text)."""
    from .functions.text import phrase_hits_indexed

    return phrase_hits_indexed(
        spark, _text_index_dir(spark, sf_dir), ["group", "slow", "spark"]
    )


SQL_TX_PHRASE_IDX = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE text IS NOT NULL
),
p AS (
  SELECT doc_id, i - 1 AS pos
  FROM tok, unnest(generate_series(1, greatest(len(toks) - 2, 0))) u(i)
  WHERE toks[i] = 'group' AND toks[i + 1] = 'slow' AND toks[i + 2] = 'spark'
)
SELECT doc_id, COUNT(*) AS n_hits, CAST(MIN(pos) AS INT) AS first_pos
FROM p GROUP BY doc_id
"""


def q_tx_phrase_idx_incr(spark, sf_dir):
    """TX+ (beyond-reference): the INCREMENTAL arm of the persisted text
    index (functions/text.py:append_text_index) — the corpus split
    (doc_id % 10 != 0) is indexed once, the ingest batch (% 10 == 0)
    APPENDS its postings into the same term-bucket partition dirs
    (only touched buckets gain files; the corpus is never re-tokenized),
    and the probe reads old + new postings through the identical
    partition-pruned scan.  The oracle is the FULL-corpus phrase audit —
    incremental build ≡ full build is exactly the equivalence the hash
    gate pins (the dd_substring_incremental / dd_incremental_labels
    contract applied to the text index, completing the ingest-artifact
    triad's maintenance story)."""
    import shutil as _shutil

    from .functions.text import (
        append_text_index,
        phrase_hits_indexed,
        write_text_index,
    )

    def build(path):
        docs = _t(spark, sf_dir, "documents")
        _shutil.rmtree(path, ignore_errors=True)
        write_text_index(docs.where(F.col("doc_id") % 10 != 0), path)
        append_text_index(docs.where(F.col("doc_id") % 10 == 0), path)

    path = _derived_artifact(
        sf_dir, "text_index_incr", "documents", [_hash_mode_token(), "b64"], build
    )
    return phrase_hits_indexed(spark, path, ["group", "slow", "spark"])


def q_a25_diversity(spark, sf_dir):
    """A+ (beyond-reference): corpus diversity report — the source-mix
    monitor a curation pipeline alerts on: per-source token shares rolled
    into Shannon entropy (bits), the Herfindahl concentration index, and
    the top source's share.  ONE map-combinable (source → token sum)
    aggregate over one scan; the 20-row share relation then folds into a
    1-row report (each information term rounded to 6 dp before the
    decimal sum, so the result is aggregation-order-independent — the
    a23_corr float contract)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    per_src = docs.groupBy("source").agg(
        F.sum(tx.token_count(F.col("text"))).alias("toks")
    )
    tot = per_src.agg(F.sum("toks").alias("total"))
    p = F.col("toks").cast("double") / F.col("total").cast("double")
    shares = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        "total",
        F.round(-p * F.log2(p), 6).alias("ent_term"),
        F.round(p * p, 6).alias("hhi_term"),
        F.round(p, 6).alias("share"),
    )
    return shares.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.max("total").alias("total_tokens"),
        F.sum(F.col("ent_term").cast("decimal(20,6)")).cast("double").alias("entropy_bits"),
        F.sum(F.col("hhi_term").cast("decimal(20,6)")).cast("double").alias("hhi"),
        F.max("share").alias("top_share"),
    )


SQL_A25 = f"""
WITH per_src AS (
  SELECT source, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS toks
  FROM documents WHERE text IS NOT NULL GROUP BY source
),
tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM per_src),
sh AS (
  SELECT source, toks, total,
         ROUND(-(CAST(toks AS DOUBLE) / total) * log2(CAST(toks AS DOUBLE) / total), 6)
           AS ent_term,
         ROUND((CAST(toks AS DOUBLE) / total) * (CAST(toks AS DOUBLE) / total), 6)
           AS hhi_term,
         ROUND(CAST(toks AS DOUBLE) / total, 6) AS share
  FROM per_src CROSS JOIN tot
)
SELECT COUNT(*) AS n_sources,
       MAX(total) AS total_tokens,
       CAST(SUM(CAST(ent_term AS DECIMAL(20,6))) AS DOUBLE) AS entropy_bits,
       CAST(SUM(CAST(hhi_term AS DECIMAL(20,6))) AS DOUBLE) AS hhi,
       MAX(share) AS top_share
FROM sh
"""


def q_u12_interleave(spark, sf_dir):
    """U+ (beyond-reference): strict round-robin source interleaving — the
    materialized mixture SCHEDULE (epoch_shuffle randomizes order;
    this guarantees every consecutive run of ≤ n_sources docs touches
    distinct sources, the anti-clumping property curriculum loaders want
    when one source dominates).  Per-source rank r comes from the seeded
    portable hash (re-run-reproducible, reseed-redrawable); the source
    index from a dense_rank over the tiny distinct-source relation; the
    interleave key ``r * 64 + source_idx`` is the lexicographic (r, src)
    order encoded as one long (sources < 64, asserted by the plan's
    domain).  NO global window: the source-index window sorts a
    #sources-row relation, the rank window is per-source rank-only, and
    readers consume shards ordered by the key — the epoch_shuffle scale
    contract."""
    from .functions.text import portable_hash64

    docs = _t(spark, sf_dir, "documents")
    srcs = (
        docs.select("source").distinct()
        .withColumn("source_idx",
                    F.row_number().over(Window.orderBy("source")) - 1)
    )
    key = portable_hash64(
        F.concat_ws(":", F.lit("0"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    ranked = docs.select("doc_id", "source").withColumn(
        "epoch_rank", F.row_number().over(w)
    )
    return (
        ranked.join(F.broadcast(srcs), "source")
        .select(
            "doc_id",
            "source",
            "epoch_rank",
            "source_idx",
            (F.col("epoch_rank").cast("long") * 64 + F.col("source_idx"))
            .alias("interleave_key"),
        )
    )


SQL_U12 = """
WITH srcs AS (
  SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS INT)
           AS source_idx
  FROM (SELECT DISTINCT source FROM documents)
),
ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
                    doc_id ASC
         ) AS INT) AS epoch_rank
  FROM documents
)
SELECT r.doc_id, r.source, r.epoch_rank, s.source_idx,
       CAST(r.epoch_rank AS BIGINT) * 64 + s.source_idx AS interleave_key
FROM ranked r JOIN srcs s ON s.source = r.source
"""


def _cluster_labeled(spark, sf_dir):
    """Shared near-dup cluster labeling (the dd_cluster pipeline): every
    doc → (id, cluster_id), singletons labeling themselves."""
    from .operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs).localCheckpoint(eager=True)
    edges = dd.minhash_lsh_star_edges(sigs).localCheckpoint(eager=True)
    comp = connected_components(edges, "id_a", "id_b", approx_edges=edges.count())
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("cluster_id"))
    )


def _cluster_labels_dir(spark, sf_dir: str) -> str:
    """Per-sf_dir persisted near-dup cluster labels (id, cluster_id) —
    the ingest-time artifact the labels CONSUMERS (dd_cluster_rep,
    u9_leak_split, and any downstream keep/split/report query) read
    instead of re-running signatures + banding + connected components
    per query: the semdedup/IVF index treatment (VERDICT r5 item 2)
    applied to clustering.  Labels are deterministic (min-id per
    component), so index-backed plans hash identically to inline ones;
    a (size, mtime) source marker rebuilds on any testdata change.
    q_dd_cluster itself stays inline — it IS the benched clustering
    physics."""
    import os as _os

    return _derived_artifact(
        sf_dir,
        "cluster_labels",
        "documents",
        [],
        lambda path: _cluster_labeled(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(f"{path}/labels"),
        complete=lambda path: _os.path.exists(
            _os.path.join(path, "labels", "_SUCCESS")
        ),
    )


def _cluster_labels(spark, sf_dir):
    """(id, cluster_id) from the persisted label artifact (built on first
    use per process)."""
    return spark.read.schema("id long, cluster_id long").parquet(
        f"{_cluster_labels_dir(spark, sf_dir)}/labels"
    )


def q_dd_cluster_rep(spark, sf_dir):
    """DD+ (beyond-reference): quality-aware cluster representatives
    (functions/dedup.py:cluster_representatives) — after MinHash-LSH
    clustering, keep the HIGHEST-quality member of each near-dup cluster
    (ties → smallest id) instead of dd_cluster's smallest-id rule.  The
    argmax is a map-combinable max_by aggregate, so a hot boilerplate
    mega-cluster contributes one candidate row per partition, never a
    window sort.  Labels come from the persisted cluster-label artifact
    (_cluster_labels_dir), not a per-query re-clustering."""
    docs = _t(spark, sf_dir, "documents")
    qual = docs.select(
        F.col("doc_id").alias("id"),
        F.coalesce(tx.quality_score(F.col("text")), F.lit(-1.0)).alias("q"),
    )
    labeled = _cluster_labels(spark, sf_dir).join(qual, "id")
    return dd.cluster_representatives(
        labeled, id_col="id", cluster_col="cluster_id", score_col="q"
    )


def _cluster_rep_oracle_sql() -> str:
    cluster_sql = _cluster_oracle_sql()
    return f"""
WITH clusters AS ({cluster_sql}),
{_SQL_QUALITY_CTES.strip()},
lab AS (
  SELECT c.id, c.cluster_id, COALESCE(q.quality, -1.0) AS q
  FROM clusters c JOIN quality q ON q.doc_id = c.id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY q DESC, id ASC) AS rk
  FROM lab
),
n AS (SELECT cluster_id, COUNT(*) AS n_members FROM lab GROUP BY 1)
SELECT r.cluster_id, r.id AS rep_id, r.q AS rep_score, n.n_members
FROM r JOIN n ON n.cluster_id = r.cluster_id
WHERE r.rk = 1
"""


SQL_DD_CLUSTER_REP = _cluster_rep_oracle_sql()


def q_u9_leak_split(spark, sf_dir):
    """U+ (beyond-reference): leakage-safe train/valid/test split
    (functions/dedup.py:leakproof_split) — the split key is the near-dup
    CLUSTER label, not the doc id, so no near-duplicate ever straddles
    train and eval.  After labeling, the split is pure scan-side hash
    arithmetic: zero additional shuffles — labels come from the persisted
    cluster-label artifact, so the whole query is a label-table scan."""
    labeled = _cluster_labels(spark, sf_dir)
    return dd.leakproof_split(
        labeled, id_col="id", cluster_col="cluster_id",
        train_pct=80, valid_pct=10, seed=0,
    )


def _leak_split_oracle_sql() -> str:
    cluster_sql = _cluster_oracle_sql()
    return f"""
WITH clusters AS ({cluster_sql})
SELECT id, cluster_id,
  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
       ELSE 'test' END AS split
FROM (
  SELECT id, cluster_id,
    ('0x' || substr(md5('split:0:' || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
      % 100 AS b
  FROM clusters
)
"""


SQL_U9_LEAK_SPLIT = _leak_split_oracle_sql()


def q_u13_coreset(spark, sf_dir):
    """U+ (beyond-reference): greedy k-center coreset selection
    (functions/similarity.py:kcenter_coreset) — the diverse-subset
    curation op (pick the 8 mutually-farthest embeddings, with each
    pick's selection radius as the coverage certificate); the
    fine-tuning-data "maximize diversity under a budget" pass that
    complements u10's importance weighting.  Deterministic seed +
    decimal-exact distances make the oracle's unrolled 8-step CTE chain
    reproduce the selection bit-for-bit (the g1_pagerank pattern
    applied to embeddings)."""
    return sim.kcenter_coreset(_t(spark, sf_dir, "embeddings", fan=True), k=8)


def _coreset_oracle_sql(k: int = 8, dim: int = 64) -> str:
    def dist(pv: str, cv: str) -> str:
        return (
            f"round(CAST(SUM(CAST(ROUND(({pv}[j] - {cv}[j]) * ({pv}[j] - {cv}[j]), 12)"
            f" AS DECIMAL(30,15))) AS DOUBLE), 9)"
        )

    ctes = [
        "pts AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),"
        " x -> round(x, 6)) AS v FROM embeddings)",
        "c1 AS (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT 1)",
        f"m1 AS (SELECT p.vec_id, p.v, {dist('p.v', 'c.v')} AS mind"
        f" FROM pts p CROSS JOIN c1 c,"
        f" unnest(generate_series(1, {dim})) t(j)"
        f" GROUP BY p.vec_id, p.v)",
    ]
    for i in range(2, k + 1):
        # WHERE mind > 0 mirrors the Spark arm's early-stop: once every
        # point is at distance 0 from a selected center this CTE (and
        # every later one) is empty, so both arms stop at the same rank.
        ctes.append(
            f"f{i} AS (SELECT vec_id, v, mind FROM m{i-1}"
            f" WHERE mind > 0"
            f" ORDER BY mind DESC, vec_id ASC LIMIT 1)"
        )
        if i < k:
            ctes.append(
                f"m{i} AS (SELECT p.vec_id, p.v,"
                f" least(p.mind, {dist('p.v', 'f.v')}) AS mind"
                f" FROM m{i-1} p CROSS JOIN f{i} f,"
                f" unnest(generate_series(1, {dim})) t(j)"
                f" GROUP BY p.vec_id, p.v, p.mind)"
            )
    unions = ["SELECT 1 AS rank, vec_id, CAST(0.0 AS DOUBLE) AS radius FROM c1"]
    unions += [
        f"SELECT {i} AS rank, vec_id, mind AS radius FROM f{i}"
        for i in range(2, k + 1)
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT * FROM (" + " UNION ALL ".join(unions) + ") ORDER BY rank"
    )


SQL_U13_CORESET = _coreset_oracle_sql(8)


def q_sim_outliers(spark, sf_dir):
    """SIM+ (beyond-reference): per-label embedding outliers
    (functions/similarity.py:label_centroid_outliers) — the 20 vectors of
    each label farthest (lowest cosine) from their label centroid, the
    mislabeled-example triage op.  Decimal-exact centroid and distance
    sums (the a17 float contract); bottom-k via map-side
    WindowGroupLimit."""
    emb = _t(spark, sf_dir, "embeddings", fan=True)
    return sim.label_centroid_outliers(emb, k=20)


SQL_SIM_OUTLIERS = """
WITH ex AS (
  SELECT vec_id, label, j - 1 AS j, v[j] AS x
  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE label IS NOT NULL) e,
       generate_series(1, 64) t(j)
),
cent AS (
  SELECT label, j,
    ROUND(CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(20,10))) AS DOUBLE)
          / COUNT(*), 6) AS c
  FROM ex GROUP BY 1, 2
),
pv AS (
  SELECT e.vec_id, e.label,
    CAST(SUM(CAST(ROUND(ROUND(e.x, 6) * c.c, 12) AS DECIMAL(30,15))) AS DOUBLE)
      AS sxc,
    CAST(SUM(CAST(ROUND(ROUND(e.x, 6) * ROUND(e.x, 6), 12) AS DECIMAL(30,15)))
         AS DOUBLE) AS sxx,
    CAST(SUM(CAST(ROUND(c.c * c.c, 12) AS DECIMAL(30,15))) AS DOUBLE) AS scc
  FROM ex e JOIN cent c ON c.label = e.label AND c.j = e.j
  GROUP BY 1, 2
),
r AS (
  SELECT label, vec_id,
    ROUND(sxc / (sqrt(sxx) * sqrt(scc)), 6) AS cos_centroid
  FROM pv
)
SELECT label, vec_id, cos_centroid, CAST(rk AS INT) AS outlier_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY cos_centroid ASC, vec_id ASC) AS rk
  FROM r
)
WHERE rk <= 20
"""


def q_h4_order_priority(spark, sf_dir):
    """H4: TPC-H Q4 shape — the EXISTS-semi-join + priority histogram
    (adapted to the testdata's columns: "orders in a quarter with at
    least one returned line").  The semi join carries only l_orderkey out
    of lineitem (pruned scan), the date predicates push to the orders
    scan, and the aggregate is a tiny map-combinable count."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    window = orders.where(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1996, 4, 1)))
    )
    returned = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        window.join(
            returned, window["o_orderkey"] == returned["l_orderkey"], "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_H4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_u10_weighted_sample(spark, sf_dir):
    """U+ (beyond-reference): quality-proportional sampling without
    replacement (functions/packing.py:weighted_sample_topk, A-Res) —
    keep 100 docs with probability proportional to quality score.
    Scan-side key arithmetic + TakeOrderedAndProject top-k; the oracle
    replays the hash draw and the exponential race in SQL."""
    from .functions.packing import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    weighted = docs.select(
        "doc_id", tx.quality_score(F.col("text")).alias("weight")
    )
    return weighted_sample_topk(
        weighted, weight_col="weight", id_col="doc_id", k=100, seed=0
    )


SQL_U10 = f"""
WITH {_SQL_QUALITY_CTES.strip().lstrip()},
drawn AS (
  SELECT d.doc_id, q.quality AS weight,
    ROUND(
      -ln((('0x' || substr(md5('0:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           + 1) / 4294967297.0)
      / greatest(q.quality, 1e-6), 6) AS sample_key
  FROM documents d JOIN quality q ON q.doc_id = d.doc_id
  WHERE d.text IS NOT NULL
)
SELECT doc_id, weight, sample_key
FROM drawn ORDER BY sample_key ASC, doc_id ASC LIMIT 100
"""


def q_s9_snapshot_diff(spark, sf_dir):
    """S+ (beyond-reference): content-addressed snapshot diff
    (operators/dataset.py:snapshot_diff) — classify every key as added /
    removed / changed / unchanged between two dataset versions.  The two
    versions are carved deterministically from orders (mod-11 vs mod-13
    membership, mod-5 price perturbation) so the oracle can rebuild them;
    the join exchange carries (key, 32-byte hash), never the payload."""
    orders = _t(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_totalprice", "o_orderpriority"]
    old = orders.where(F.col("o_orderkey") % 11 != 0).select("o_orderkey", *cols)
    new = orders.where(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus"),
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.col("o_orderpriority"),
    )
    return ds.snapshot_diff(old, new, key_cols=["o_orderkey"], compare_cols=cols)


# The Spark side compares md5 row-hashes of length-prefixed string casts
# (hash-equal ⟺ value-equal; Double.toString is injective), so the oracle
# may compare raw values directly.
SQL_S9_DIFF = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 11 <> 0
),
n AS (
  SELECT o_orderkey, o_orderstatus,
    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
         ELSE o_totalprice END AS o_totalprice,
    o_orderpriority
  FROM orders WHERE o_orderkey % 13 <> 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
  CASE WHEN o.o_orderkey IS NULL THEN 'added'
       WHEN n.o_orderkey IS NULL THEN 'removed'
       WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
        AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority
       THEN 'unchanged' ELSE 'changed' END AS diff_status
FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
"""


def q_pk_sliding_windows(spark, sf_dir):
    """PK+ (beyond-reference): overlapping sliding-window layout for long
    documents (functions/packing.py:sliding_window_layout) — W=128 tokens,
    stride 64.  Pure integer layout math generated scan-side
    (sequence+explode, zero shuffles); the text never moves."""
    from .functions.packing import sliding_window_layout

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", tx.token_count(F.col("text")).alias("_nt"))
    )
    return sliding_window_layout(
        docs, token_col="_nt", id_col="doc_id", window=128, stride=64
    )


SQL_PK_WINDOWS = f"""
WITH b AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL
),
k AS (
  SELECT doc_id, n,
    unnest(range(0, CAST(floor((n - 1) / 64.0) AS BIGINT) + 1)) AS win_idx
  FROM b WHERE n > 0
)
SELECT doc_id, win_idx, win_idx * 64 AS win_start,
       least(128, n - win_idx * 64) AS win_len
FROM k
"""


def q_dd_prefix_filter(spark, sf_dir):
    """DD+ (beyond-reference): exact set-similarity join via prefix
    filtering (functions/dedup.py:prefix_filter_jaccard_pairs — the
    AllPairs/PPJoin candidate rule).  ALL token-set pairs with Jaccard ≥
    0.8, zero recall loss: df-ordering pushes hot tokens outside every
    prefix, so candidate fan-out concentrates on rare tokens by
    construction instead of by a hand-tuned cap."""
    docs = _t(spark, sf_dir, "documents")
    return dd.prefix_filter_jaccard_pairs(docs, threshold=0.8)


SQL_DD_PREFIX = f"""
WITH tok AS (
  SELECT doc_id AS id, unnest(list_distinct({_TOKS_SQL})) AS token
  FROM documents WHERE text IS NOT NULL
),
sizes AS (SELECT id, COUNT(*) AS n FROM tok GROUP BY 1),
docfreq AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY 1),
ranked AS (
  SELECT t.id, t.token, s.n,
         ROW_NUMBER() OVER (PARTITION BY t.id
                            ORDER BY d.df ASC, t.token ASC) AS rk
  FROM tok t
  JOIN docfreq d ON d.token = t.token
  JOIN sizes s ON s.id = t.id
),
prefix AS (
  SELECT id, token FROM ranked
  WHERE rk <= n - CAST(ceil(0.8 * n) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM prefix a JOIN prefix b ON a.token = b.token AND a.id < b.id
),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS common
  FROM cand c
  JOIN tok ta ON ta.id = c.id_a
  JOIN tok tb ON tb.id = c.id_b AND tb.token = ta.token
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
  ROUND(c.common / CAST(sa.n + sb.n - c.common AS DOUBLE), 6) AS jaccard
FROM common c
JOIN sizes sa ON sa.id = c.id_a
JOIN sizes sb ON sb.id = c.id_b
WHERE ROUND(c.common / CAST(sa.n + sb.n - c.common AS DOUBLE), 6) >= 0.8
"""


def q_t11_scd2(spark, sf_dir):
    """T+ (beyond-reference): SCD-type-2 interval build — turn an append
    event log into versioned validity intervals per entity: valid_from =
    the event's own ts, valid_to = the NEXT event's ts (open for the
    current version), is_current on the open row.  The warehouse op that
    materializes as-of joinable dimension history (j13_asof consumes this
    shape).  One rank-only lead() window per entity — no buffering, no
    global sort."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


SQL_T11 = """
SELECT user_id, event_id, event_type, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id
                      ORDER BY ts ASC, event_id ASC) AS valid_to,
       (LEAD(ts) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) IS NULL) AS is_current
FROM events
"""


def q_a23_corr(spark, sf_dir):
    """A+ (beyond-reference): pairwise Pearson correlation matrix over
    lineitem numerics in ONE scan — the five sufficient statistics per
    pair (Σx, Σy, Σxy, Σx², Σy², n) as decimal-exact sums (order-
    independent), the correlation assembled in double at the very end.
    The profile op feeding feature selection; map-combinable end to
    end."""
    li = _t(spark, sf_dir, "lineitem", fan=True)
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    # Inputs carry <=2 decimal places, so pairwise products are EXACT in
    # double (raw integers < 2^53); round+decimal-cast before the sum keeps
    # the aggregation order-independent in both engines (DuckDB multiplies
    # narrow-decimal raws in int64, which overflows — double is the
    # portable exact path here).
    dec = {c: F.col(c).cast("decimal(12,6)") for c in cols}
    def dprod(x, y):
        return F.round(F.col(x) * F.col(y), 6).cast("decimal(30,10)")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(dec[c]).alias(f"s_{c}"))
        aggs.append(F.sum(dprod(c, c)).alias(f"ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(F.sum(dprod(a, b)).alias(f"sp_{a}_{b}"))
    stats = li.agg(*aggs)
    # ONE aggregation pass for all pairs — explode a struct array off the
    # single stats row.  A per-pair union of selects would recompute the
    # scan+agg once per pair (3 full scans); locally that variant happens
    # to clock FASTER (3.3 vs 4.5 s at sf0.1) because this parquet is one
    # input split, so its single-scan agg runs one-core while the union's
    # branches parallelize — at real scale the scan has thousands of
    # splits and 3× the scan work is strictly worse.  Plan shape wins
    # over a small-file local artifact.
    rows = []
    for a, b in pairs:
        n = F.col("n").cast("double")
        sx, sy = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        sxx, syy = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sxy = F.col(f"sp_{a}_{b}").cast("double")
        corr = (n * sxy - sx * sy) / (
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        )
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(corr, 6).alias("pearson_r"),
            )
        )
    return stats.select(F.explode(F.array(*rows)).alias("_p")).select("_p.*")


def _corr_oracle_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    stats = ["COUNT(*) AS n"]
    for c in cols:
        stats.append(f"SUM(CAST({c} AS DECIMAL(12,6))) AS s_{c}")
        stats.append(
            f"SUM(CAST(ROUND({c} * {c}, 6) AS DECIMAL(30,10))) AS ss_{c}"
        )
    for a, b in pairs:
        stats.append(
            f"SUM(CAST(ROUND({a} * {b}, 6) AS DECIMAL(30,10))) AS sp_{a}_{b}"
        )
    selects = []
    for a, b in pairs:
        expr = (
            f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / (sqrt(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * sqrt(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        selects.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
            f" ROUND({expr}, 6) AS pearson_r FROM stats"
        )
    return "WITH stats AS (SELECT " + ", ".join(stats) + " FROM lineitem)\n" + \
        "\nUNION ALL\n".join(selects)


SQL_A23 = _corr_oracle_sql()


def q_g1_pagerank(spark, sf_dir):
    """G+ (beyond-reference): fixed-iteration PageRank over the record
    hierarchy edges (operators/graph.py:pagerank) — the iterative numeric
    sibling of j8's closure (label → score).  10 damped iterations, one
    join+combinable-sum per iteration, lineage cut per step; per-edge
    contributions rounded to 9 dp and decimal-summed so the oracle's
    unrolled 10-step CTE chain reproduces every rank bit-for-bit."""
    from .operators.graph import pagerank

    edges = build_edges(spark, sf_dir)
    return pagerank(edges, "parent_id", "child_id", iterations=10, damping=0.85)


def _pagerank_oracle_sql(iterations: int = 10) -> str:
    ctes = [
        f"edges0 AS ({_EDGES_SQL})",
        "nodes AS (SELECT DISTINCT id FROM (SELECT parent_id AS id FROM edges0"
        " UNION ALL SELECT child_id FROM edges0))",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT parent_id AS id, COUNT(*) AS deg FROM edges0 GROUP BY 1)",
        "ed AS (SELECT e.parent_id AS id, e.child_id AS dst, d.deg"
        " FROM edges0 e JOIN deg d ON d.id = e.parent_id)",
        "r0 AS (SELECT nodes.id, ROUND(1.0 / nn.n, 9) AS pagerank"
        " FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"c{i} AS (SELECT ed.dst AS id,"
            f" SUM(CAST(ROUND(r.pagerank / ed.deg, 9) AS DECIMAL(28,12))) AS s"
            f" FROM r{i-1} r JOIN ed ON ed.id = r.id GROUP BY 1)"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.id,"
            f" ROUND((1.0 - 0.85) / nn.n"
            f" + 0.85 * COALESCE(CAST(c.s AS DOUBLE), 0.0), 9) AS pagerank"
            f" FROM nodes CROSS JOIN nn LEFT JOIN c{i} c ON c.id = nodes.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, pagerank FROM r{iterations}"
    )


SQL_G1_PAGERANK = _pagerank_oracle_sql(10)


def q_tx_source_kl(spark, sf_dir):
    """TX+ (beyond-reference): per-source distribution drift
    (functions/text.py:source_kl_divergence) — KL(P_source ‖ P_corpus)
    over unigram distributions, the monitoring op behind "which ingest
    slice shifted".  Integer-count ratios, 12-dp-rounded double terms,
    order-independent decimal sums."""
    docs = _t(spark, sf_dir, "documents")
    return tx.source_kl_divergence(docs, text_col="text", group_col="source")


SQL_TX_SOURCE_KL = f"""
WITH tok AS (
  SELECT source AS grp, unnest({_TOKS_SQL}) AS token
  FROM documents WHERE text IS NOT NULL
),
counts AS (SELECT grp, token, COUNT(*) AS c_gt FROM tok GROUP BY 1, 2),
ng AS (SELECT grp, SUM(c_gt) AS n_g FROM counts GROUP BY 1),
ct AS (SELECT token, SUM(c_gt) AS c_t FROM counts GROUP BY 1),
nn AS (SELECT SUM(c_gt) AS n FROM counts)
SELECT c.grp AS source,
  ROUND(CAST(SUM(CAST(ROUND(
      (c.c_gt / CAST(g.n_g AS DOUBLE))
      * ln(CAST(c.c_gt * nn.n AS DOUBLE) / CAST(ct.c_t * g.n_g AS DOUBLE)),
      12) AS DECIMAL(28,14))) AS DOUBLE), 6) AS kl_divergence,
  CAST(MAX(g.n_g) AS BIGINT) AS n_tokens
FROM counts c
JOIN ct ON ct.token = c.token
JOIN ng g ON g.grp = c.grp
CROSS JOIN nn
GROUP BY 1
"""


def q_a24_heavy_hitters(spark, sf_dir):
    """A+ (beyond-reference): Misra–Gries heavy hitters over the token
    stream (functions/text.py:heavy_hitters_mg) — the custom mergeable
    sketch beside the built-in HLL (a19) and GK (a22) — the PRODUCTION
    plan, sketch only.

    r15 (VERDICT r14 item 1): this benched arm runs ONLY the MG sketch
    (per-partition Arrow batches fold to ≤k counters, one merge, final
    decrement prune) — ≤ k rows per partition on the wire, the corpus
    consumed scan-side — and is rows/schema-gated (the surviving
    candidate set and estimates depend on partition merge order, so no
    SQL oracle can replay them; the sketch GUARANTEE is what's
    deterministic, and the hash-green companion ``a24_heavy_hitters_gate``
    pins it by joining the uncut candidates to exact token counts — the
    full-corpus count join a 100 TB monitor must not run, so the gate is
    not benched)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.heavy_hitters_mg(docs, text_col="text", k=50)


def q_a24_heavy_hitters_gate(spark, sf_dir):
    """A+ gate arm (r14 invariant oracle, split out r15 — VERDICT r14
    item 1): invariant-oracle form — "superset of the
    true heavy hitters, with count bounds".  MG's raw candidate set is
    partition-dependent, but its GUARANTEE is deterministic: every token
    with exact count > N/(k+1) survives the sketch.  So the gate joins
    the UNCUT candidate set (candidates=True) to the exact token counts
    and keeps exactly the true heavy hitters — a set the oracle computes
    independently from scratch.  A sketch that LOSES a true heavy hitter
    drops a row (rows-mismatch red); one whose estimate breaks either
    bound (est ≤ exact, exact − est ≤ N/(k+1)) flips ``bounds_ok``.
    Emitted columns are all oracle-replayable: token, exact_count,
    n_total, the boolean.  The exact-count join is the gate's cost; the
    fleet-scale monitor is the benched ``a24_heavy_hitters`` (the sketch
    alone)."""
    docs = _t(spark, sf_dir, "documents")
    k = 50
    cands = tx.heavy_hitters_mg(docs, text_col="text", k=k, candidates=True)
    exact = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(tx.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
    )
    total = exact.agg(F.sum("exact_count").cast("bigint").alias("n_total"))
    return (
        cands.join(exact, on="token")
        .crossJoin(F.broadcast(total))
        # integer-exact threshold: exact > N/(k+1)  ⇔  exact·(k+1) > N
        .where(F.col("exact_count") * F.lit(k + 1) > F.col("n_total"))
        .select(
            "token",
            "exact_count",
            "n_total",
            (
                (F.col("est_count") <= F.col("exact_count"))
                & (
                    (F.col("exact_count") - F.col("est_count"))
                    * F.lit(k + 1)
                    <= F.col("n_total")
                )
            ).alias("bounds_ok"),
        )
    )


SQL_A24 = f"""
WITH tok AS (
  SELECT unnest({_TOKS_SQL}) AS token FROM documents WHERE text IS NOT NULL
),
ex AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count FROM tok GROUP BY token
),
tot AS (SELECT CAST(SUM(exact_count) AS BIGINT) AS n_total FROM ex)
SELECT token, exact_count, n_total, TRUE AS bounds_ok
FROM ex, tot
WHERE exact_count * 51 > n_total
"""


def q_sim_multiprobe_topk(spark, sf_dir):
    """SIM+ (beyond-reference): multi-probe hyperplane LSH (Lv et al.
    2007; functions/similarity.py:lsh_multiprobe_topk) — probe the
    query's bucket plus all Hamming-1 neighbors, the recall/cost knob
    that needs no extra tables.  Probe set computed driver-side, lands as
    an IN filter over the (ingest-persistable) bucket column."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb)
    return sim.lsh_multiprobe_topk(emb, qvec, k=10)


def _lsh_multiprobe_oracle_sql() -> str:
    from .functions.similarity import _hyperplanes

    planes = _hyperplanes(64, 8)

    def arr(p):
        return "[" + ", ".join(repr(v) for v in p) + "]"

    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {arr(p)}) > 0 THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    flips = ", ".join(str(1 << i) for i in range(8))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(b.v, q.qv)
             / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))),
             6) AS score
FROM b, q
WHERE b.bucket = q.qbucket OR xor(b.bucket, q.qbucket) IN ({flips})
ORDER BY score DESC, vec_id ASC LIMIT 10
"""


SQL_SIM_MULTIPROBE = _lsh_multiprobe_oracle_sql()


def q_sim_filtered_topk(spark, sf_dir):
    """SIM+ (beyond-reference): filtered vector search
    (functions/similarity.py:filtered_brute_topk) — top-10 by cosine
    AMONG label=3 rows, the predicate+vector workload real retrieval
    serves.  The label predicate reaches the parquet scan as a pushed
    filter (plan-audited), so distance math runs only over survivors."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb)
    return sim.filtered_brute_topk(emb, qvec, F.col("label") == 3, k=10)


SQL_SIM_FILTERED = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
    ROUND(
      list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
  FROM embeddings e, q
  WHERE e.label = 3
)
SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def q_sim_ivf_recall_eval(spark, sf_dir):
    """SIM+ (beyond-reference): IVF probe-budget evaluation — recall@10
    vs brute-force truth at EVERY probe budget (1/2/4/8/16) over a
    deterministic query panel (vec_id % 50 == 3 AND vec_id < 2000), in
    one pass (functions/similarity.py:ivf_recall_by_probe).  The
    vector-side twin of dd_lsh_recall_eval: the report a deployment
    reads before fixing ``n_probe`` corpus-wide, measured against the
    PERSISTED index (shared _ivf_index_dir artifact — the quantizer
    never re-runs), so the curve describes exactly what serving does.
    The panel is a FIXED budget (≤40 queries at every sf), so the truth
    pass costs budget × corpus — linear in the corpus across any
    scale-up, never sample²; the probe-rank table broadcasts; the
    oracle replays the identical k-means build via the shared
    _ivf_build_parts CTEs."""
    path = _ivf_index_dir(spark, sf_dir)
    centroids = sim.read_ivf_centroids(spark, path)
    vectors = sim.read_ivf_vectors(spark, path)
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(
        (F.col("vec_id") % 50 == 3) & (F.col("vec_id") < 2000)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return sim.ivf_recall_by_probe(qs, vectors, centroids, k=10)


def _ivf_recall_oracle_sql(n_centroids: int = 16, n_iter: int = 2,
                           dim: int = 64, k: int = 10, mod: int = 50,
                           rem: int = 3,
                           levels: tuple = (1, 2, 4, 8, 16)) -> str:
    """DuckDB mirror of q_sim_ivf_recall_eval: the shared k-means build
    (_ivf_build_parts, byte-identical quantizer replay), per-query
    centroid ranks, brute-force truth top-k, and the cumulative
    hits-per-budget fold (a truth row is an IVF hit at budget p iff its
    list ranks <= p — same identity as the Spark plan)."""
    parts = _ivf_build_parts(n_centroids, n_iter, dim)
    cf = f"c{n_iter}"
    parts.append(
        f"qs AS (SELECT vec_id AS query_id, v AS qv FROM e "
        f"WHERE vec_id % {mod} = {rem} AND vec_id < 2000)"
    )
    parts.append(f"""cr AS (
  SELECT query_id, qv, cid, prank FROM (
    SELECT q.query_id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_dot_product(c.v, q.qv)
                                       / (sqrt(list_dot_product(q.qv, q.qv))
                                          * sqrt(list_dot_product(c.v, c.v))) DESC,
                                       c.cid ASC) AS prank
    FROM qs q, {cf} c) t
)""")
    parts.append(f"""sc AS (
  SELECT r.query_id, a.vec_id, r.prank,
         ROUND(list_dot_product(a.v, r.qv)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(r.qv, r.qv))), 6) AS score
  FROM afin a JOIN cr r ON r.cid = a.cid
)""")
    parts.append(f"""truth AS (
  SELECT query_id, prank FROM (
    SELECT query_id, prank,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, vec_id ASC) AS rk
    FROM sc) t WHERE rk <= {k}
)""")
    lv = ", ".join(f"({p})" for p in levels)
    body = ",\n".join(parts)
    return f"""{body},
lv AS (SELECT * FROM (VALUES {lv}) t(n_probe))
SELECT lv.n_probe,
       COUNT(DISTINCT truth.query_id) AS n_queries,
       CAST(SUM(CASE WHEN truth.prank <= lv.n_probe THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       ROUND(CAST(SUM(CASE WHEN truth.prank <= lv.n_probe THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / COUNT(*), 6) AS recall
FROM truth, lv
GROUP BY lv.n_probe
ORDER BY n_probe
"""


SQL_SIM_IVF_RECALL = _ivf_recall_oracle_sql()


def q_dd_cap_duplicates(spark, sf_dir):
    """DD+ (beyond-reference): soft dedup by duplicate capping — keep at
    most 2 members of every near-dup cluster (seeded-hash rank, so the
    kept copies are a stable random draw), the RefinedWeb-style middle
    ground between keep-all and keep-one: some duplication is signal
    (quotes, boilerplate variety), unbounded duplication is memorization
    risk.  Composes the persisted cluster labels with the
    WindowGroupLimit sampler — the whole query is a label-table scan plus
    a map-side-limited rank."""
    from .functions.packing import sample_k_per_group

    labeled = _cluster_labels(spark, sf_dir)
    return sample_k_per_group(
        labeled, group_col="cluster_id", id_col="id", k=2
    ).withColumnRenamed("sample_rank", "keep_rank")


def _cap_duplicates_oracle_sql() -> str:
    cluster_sql = _cluster_oracle_sql()
    return f"""
WITH clusters AS ({cluster_sql}),
r AS (
  SELECT id, cluster_id,
         ROW_NUMBER() OVER (
           PARTITION BY cluster_id
           ORDER BY ('0x' || substr(md5('0:' || CAST(id AS VARCHAR)), 1, 8))::BIGINT,
                    id) AS rk
  FROM clusters
)
SELECT id, cluster_id, CAST(rk AS INT) AS keep_rank FROM r WHERE rk <= 2
"""


SQL_DD_CAP = _cap_duplicates_oracle_sql()


def q_dd_incremental_labels(spark, sf_dir):
    """DD+ (beyond-reference): incremental cluster-label assignment — the
    ingest loop of the persisted label artifact.  An arriving batch
    (doc_id % 10 == 0) gets near-dup cluster labels WITHOUT re-clustering
    the corpus: batch signatures probe the persisted band index
    (corpus text/signatures never recomputed); batch-internal components
    come from a CC over the batch-only collision edges (batch-sized, tiny);
    each batch component takes the MIN corpus label it collides with, or
    its own min batch id when novel.  A component colliding with TWO
    corpus clusters takes the smaller label and the merge is deferred to
    the periodic full rebuild — the add-vs-train split (FAISS language)
    applied to clustering.  Oracle replays all three pair orientations
    from ONE signature-replay CTE plus two recursive closures."""
    from .operators.graph import connected_components

    # NOT fanned (r15): although the corpus arm runs the dd_minhash_lsh
    # shingle+md5 kernel (a 5x fan winner in isolation), fanning was A/B'd
    # here and measured SLOWER (7-run minima 8.78 s fanned vs 7.77 s not)
    # — the query's wall time is the serial index-write + probe + two-CC
    # chain, not the scan stage.
    # r16 (VERDICT r15 item 5): the four localCheckpoints are LAZY — each
    # materializes inside its first consumer's job (cedges.count() for
    # csigs+cedges, cand's count for bsigs+cand) instead of paying a
    # dedicated materialization job per frame (the j8/pipe pattern,
    # eager→lazy precedent tx_pr_curve r13).  Executed-job count drops
    # 12→8 at sf0.1; same relations, same blocks, oracle-identical.
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    csigs = dd.minhash_signatures(corpus).localCheckpoint(eager=False)
    cedges = dd.minhash_lsh_star_edges(csigs).localCheckpoint(eager=False)
    ccomp = connected_components(
        cedges, "id_a", "id_b", approx_edges=cedges.count()
    )
    corpus_labels = (
        corpus.select(F.col("doc_id").alias("cid"))
        .join(ccomp, F.col("cid") == F.col("id"), "left")
        .select("cid", F.coalesce("component", F.col("cid")).alias("corpus_cluster"))
    )
    path = _scratch_dir(sf_dir, "lsh_index")
    dd.write_lsh_band_index(csigs, path)
    bsigs = dd.minhash_signatures(batch).localCheckpoint(eager=False)
    cand = dd.incremental_lsh_candidates(spark, path, bsigs).localCheckpoint(
        eager=False
    )
    bb = cand.where(F.col("id_a") % 10 == 0)
    xb = cand.where(F.col("id_a") % 10 != 0)
    bcomp = connected_components(bb, "id_a", "id_b", approx_edges=bb.count())
    batch_comp = (
        batch.select(F.col("doc_id").alias("id"))
        .join(bcomp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("bcomp"))
    )
    comp_corpus = (
        xb.join(corpus_labels, xb["id_a"] == corpus_labels["cid"])
        .join(batch_comp.withColumnRenamed("id", "bid"), xb["id_b"] == F.col("bid"))
        .groupBy("bcomp")
        .agg(F.min("corpus_cluster").alias("corpus_label"))
    )
    return batch_comp.join(comp_corpus, "bcomp", "left").select(
        "id", F.coalesce("corpus_label", F.col("bcomp")).alias("cluster_id")
    )


def _incremental_labels_oracle_sql() -> str:
    pairs_sql = _minhash_oracle_sql()
    return f"""
WITH RECURSIVE base AS (SELECT * FROM ({pairs_sql}) t),
cpairs AS (SELECT id_a, id_b FROM base
           WHERE id_a % 10 <> 0 AND id_b % 10 <> 0),
cedges AS (SELECT id_a AS src, id_b AS dst FROM cpairs
           UNION SELECT id_b, id_a FROM cpairs),
creach(src, dst) AS (
  SELECT src, dst FROM cedges
  UNION
  SELECT r.src, e.dst FROM creach r JOIN cedges e ON r.dst = e.src
),
clab AS (SELECT src AS id, MIN(dst) AS mn FROM creach GROUP BY src),
corpus_labels AS (
  SELECT d.doc_id AS cid,
         COALESCE(LEAST(l.id, l.mn), d.doc_id) AS corpus_cluster
  FROM documents d LEFT JOIN clab l ON l.id = d.doc_id
  WHERE d.doc_id % 10 <> 0
),
bpairs AS (SELECT id_a, id_b FROM base
           WHERE id_a % 10 = 0 AND id_b % 10 = 0),
bedges AS (SELECT id_a AS src, id_b AS dst FROM bpairs
           UNION SELECT id_b, id_a FROM bpairs),
breach(src, dst) AS (
  SELECT src, dst FROM bedges
  UNION
  SELECT r.src, e.dst FROM breach r JOIN bedges e ON r.dst = e.src
),
blab AS (SELECT src AS id, MIN(dst) AS mn FROM breach GROUP BY src),
batch_comp AS (
  SELECT d.doc_id AS id, COALESCE(LEAST(l.id, l.mn), d.doc_id) AS bcomp
  FROM documents d LEFT JOIN blab l ON l.id = d.doc_id
  WHERE d.doc_id % 10 = 0
),
xpairs AS (
  SELECT CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS cid,
         CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS bid
  FROM base WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
),
comp_corpus AS (
  SELECT bc.bcomp, MIN(cl.corpus_cluster) AS corpus_label
  FROM xpairs x
  JOIN batch_comp bc ON bc.id = x.bid
  JOIN corpus_labels cl ON cl.cid = x.cid
  GROUP BY bc.bcomp
)
SELECT bc.id, COALESCE(cc.corpus_label, bc.bcomp) AS cluster_id
FROM batch_comp bc LEFT JOIN comp_corpus cc ON cc.bcomp = bc.bcomp
"""


SQL_DD_INCR_LABELS = _incremental_labels_oracle_sql()


def q_u11_curriculum(spark, sf_dir):
    """U+ (beyond-reference): curriculum phase assignment — per-source
    quality QUARTILES via ntile(4) (highest quality → phase 1), the
    easy-to-hard schedule a curriculum loader consumes.  The window
    partitions by source, never globally — a global ntile would serialize
    the corpus into one sort task; per-source quartiles keep the sort
    partition-local and are the curriculum you actually want (each
    source's best quarter first, no cross-source quality-scale
    leakage)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    q = tx.quality_score(F.col("text"))
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source", q.alias("quality"))
        .withColumn("phase", F.ntile(4).over(w))
    )


SQL_U11 = f"""
WITH {_SQL_QUALITY_CTES.strip().lstrip()}
SELECT d.doc_id, d.source, q.quality,
       CAST(NTILE(4) OVER (PARTITION BY d.source
                           ORDER BY q.quality DESC, d.doc_id ASC) AS INT)
         AS phase
FROM documents d JOIN quality q ON q.doc_id = d.doc_id
WHERE d.text IS NOT NULL
"""


def q_t12_islands(spark, sf_dir):
    """T+ (beyond-reference): gaps-and-islands — each user's maximal
    streaks of consecutive ACTIVE DAYS (the classic window-algebra shape:
    group key = date − row_number days, constant within a consecutive
    run).  Distinct (user, day) first so duplicate events can't split a
    streak; the window is rank-only per user; the island rollup is one
    map-combinable aggregate on (user, island_key)."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).dropDuplicates(["user_id", "day"])
    w = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    keyed = days.withColumn(
        "_island", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return (
        keyed.groupBy("user_id", "_island")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .select("user_id", "streak_start", "streak_end", "streak_days")
    )


SQL_T12 = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
keyed AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY day ASC) AS INT) AS island
  FROM days
)
SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
       COUNT(*) AS streak_days
FROM keyed GROUP BY user_id, island
"""


def q_t13_thread_assembly(spark, sf_dir):
    """T+ (beyond-reference): per-session event-thread assembly — the
    SFT/conversation-data materialization op: sessionize each user's
    events (30-min gap rule, the st_sessionize boundary algebra), then
    assemble each session's ordered turn sequence into ONE row — turn
    count, first/last timestamps, and the '|'-joined event-type thread
    string a fine-tuning pipeline templates from.  The session index is
    a running sum over a rank-only window (streams, buffers one lag row);
    the assembly is a groupBy collect bounded by MAX_TURNS (never a
    window collect — the plan-audit anti-pattern — and never unbounded:
    a within-session row_number caps the collect at MAX_TURNS structs per
    group even for a gapless bot/firehose user, VERDICT r8 item 2; the
    ``overflow`` flag marks truncated threads and ``n_turns`` still counts
    the full session so downstream filters can drop or re-chunk them)."""
    return assemble_threads(_t(spark, sf_dir, "events"))


def assemble_threads(ev: DataFrame, max_turns: int | None = None) -> DataFrame:
    """t13's assembly over an arbitrary events relation (tests feed a
    synthetic gapless firehose through it to pin the MAX_TURNS bound)."""
    from .operators.joins import epoch_seconds

    cap = T13_MAX_TURNS if max_turns is None else max_turns
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev = F.lag("ts").over(w)
    ns = F.when(
        prev.isNull() | ((epoch_seconds(F.col("ts")) - epoch_seconds(prev)) > 1800),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = ev.withColumn("_ns", ns).withColumn(
        "session_idx",
        F.sum("_ns").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # Rank-only window (streams); collect_list(when(rk<=N, ...)) skips the
    # NULLs past the cap, so no task ever buffers more than MAX_TURNS
    # structs per session regardless of how gapless the user's firehose is.
    w2 = Window.partitionBy("user_id", "session_idx").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ranked = sess.withColumn("_rk", F.row_number().over(w2))
    turns = F.array_sort(
        F.collect_list(
            F.when(
                F.col("_rk") <= cap,
                F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")),
            )
        )
    )
    return ranked.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.array_join(
            F.transform(turns, lambda x: x["event_type"]), "|"
        ).alias("thread"),
        (F.count(F.lit(1)) > cap).alias("overflow"),
    )


T13_MAX_TURNS = 64

SQL_T13 = f"""
WITH o AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                          ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM o
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
                               ORDER BY ts ASC, event_id ASC) AS rk
  FROM s
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_turns, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       string_agg(CASE WHEN rk <= {T13_MAX_TURNS} THEN event_type END,
                  '|' ORDER BY ts ASC, event_id ASC) AS thread,
       COUNT(*) > {T13_MAX_TURNS} AS overflow
FROM r GROUP BY 1, 2
"""


def q_tx_pmi_bigrams(spark, sf_dir):
    """TX+ (beyond-reference): collocation mining — the top-20 adjacent
    bigrams by pointwise mutual information (min pair count 5), the
    phrase-detection pass a tokenizer/vocab pipeline runs before merging
    multi-word units.  PMI = log2(P(ab) / (P(a)P(b))) computed as ONE
    integer-product ratio divided once then rounded (every factor stays
    < 2^53, so both engines see the identical IEEE double).  Plan: one
    tokenize scan feeds unigram and bigram counts (both map-combinable),
    two keyed joins attach the unigram counts, the corpus totals ride as
    1-row broadcasts, and the top-20 compiles to TakeOrderedAndProject —
    no global sort, vocabulary-sized relations only."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = docs.select(tx.tokens(F.col("text")).alias("toks")).localCheckpoint(
        eager=False
    )
    uni = tok.select(F.explode("toks").alias("t"))
    uc = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.count(F.lit(1)).alias("n"))
    bg = tok.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " (x, i) -> struct(x AS a, toks[i + 1] AS b))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    bc = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    m = bg.agg(F.count(F.lit(1)).alias("m"))
    joined = (
        bc.where(F.col("cab") >= 5)
        .join(uc.select(F.col("t").alias("a"), F.col("c").alias("n_a")), "a")
        .join(uc.select(F.col("t").alias("b"), F.col("c").alias("n_b")), "b")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(m))
    )
    pmi = F.round(
        F.log2(
            (F.col("cab") * F.lit(1.0) * F.col("n") * F.col("n"))
            / (F.col("m") * F.lit(1.0) * F.col("n_a") * F.col("n_b"))
        ),
        6,
    )
    return (
        joined.select(
            "a", "b", F.col("cab").alias("n_pair"), "n_a", "n_b", pmi.alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


SQL_TX_PMI = f"""
WITH tok AS (
  SELECT {_TOKS_SQL} AS toks FROM documents WHERE text IS NOT NULL
),
uni AS (SELECT unnest(toks) AS t FROM tok),
uc AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
n AS (SELECT COUNT(*) AS n FROM uni),
bg AS (
  SELECT toks[i] AS a, toks[i + 1] AS b
  FROM tok, unnest(generate_series(1, len(toks) - 1)) u(i)
),
bc AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY 1, 2),
m AS (SELECT COUNT(*) AS m FROM bg),
p AS (
  SELECT bc.a, bc.b, cab AS n_pair, ca.c AS n_a, cb.c AS n_b,
         ROUND(log2((cab * 1.0 * n.n * n.n)
                    / (m.m * 1.0 * ca.c * cb.c)), 6) AS pmi
  FROM bc
  JOIN uc ca ON ca.t = bc.a
  JOIN uc cb ON cb.t = bc.b
  CROSS JOIN n CROSS JOIN m
  WHERE cab >= 5
)
SELECT a, b, n_pair, n_a, n_b, pmi FROM p
ORDER BY pmi DESC, a ASC, b ASC LIMIT 20
"""


def q_tx_boilerplate_ratio(spark, sf_dir):
    """TX+ (beyond-reference): per-document boilerplate ratio — the share
    of a doc's 20-token spans whose fingerprint appears in MORE THAN ONE
    document (nav bars, footers, license blocks), the RefinedWeb-style
    quality feature that feeds removal/downweight filters.  Span identity
    is the SHARED span_fingerprints projection (the dd_span_dedup /
    st_stream_span definition — one fingerprinting, three consumers).
    Plan: one span scan feeds (a) the per-(doc,fp)-distinct →
    map-combinable document-frequency agg and (b) the per-doc rollup via
    ONE keyed join-back on the fingerprint — the dd_substring shape at
    span granularity; no window, no collect."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    spans = dd.span_fingerprints(docs, span_tokens=20).localCheckpoint(
        eager=False
    )
    dup = (
        spans.select("doc_id", "fingerprint").distinct()
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(F.col("_nd") > 1)
        .select("fingerprint", F.lit(1).alias("_dup"))
    )
    marked = spans.join(dup, "fingerprint", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") * F.lit(1.0) / F.col("n_spans"), 6)
            .alias("boilerplate_ratio"),
        )
    )


SQL_TX_BOILERPLATE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
x AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS j
  FROM t
),
s AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, j * 20 + 1, j * 20 + 20), ' ')) AS fp
  FROM x
),
d AS (
  SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM s) GROUP BY fp
  HAVING COUNT(*) > 1
),
agg AS (
  SELECT s.doc_id, COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN s.fp IN (SELECT fp FROM d) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_spans
  FROM s GROUP BY 1
)
SELECT doc_id, n_spans, n_dup_spans,
       ROUND(n_dup_spans * 1.0 / n_spans, 6) AS boilerplate_ratio
FROM agg
"""


# Deterministic HTML stand-in for the markup-less documents table (the
# same derived-field convention as _SYNTH_URL_EXPR): each doc's text is
# wrapped in a page skeleton — head/script/style to strip, a link-dense
# nav, a ≥3-word heading, the text split across two <p> paragraphs (the
# second carrying an inline anchor for every doc_id % 3 == 0, low link
# density → must be KEPT), a link-only "related" list and a link-dense
# footer (both → must be DROPPED), plus an HTML comment and an &amp;
# entity.  Both engines replay the same arithmetic.
_SYNTH_HTML_EXPR = (
    "concat("
    "'<html><head><title>Doc ', cast(doc_id as string), "
    "'</title><script>var x=1;</script><style>.m{color:red}</style></head>', "
    "'<body><div id=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a> "
    "<a href=\"/c\">Contact</a></div>', "
    "'<h1>Document ', cast(doc_id as string), ' overview notes</h1>', "
    "'<!-- tracker beacon -->', "
    "'<p>', substring(text, 1, cast(floor(length(text) / 2) as int)), '</p>', "
    "'<ul><li><a href=\"/r\">Read more related articles</a></li>"
    "<li><a href=\"/s\">More stories &amp; links</a></li></ul>', "
    "'<p>', case when doc_id % 3 = 0 then concat("
    "'<a href=\"/in\">', "
    "substring(text, cast(floor(length(text) / 2) as int) + 1, 24), '</a>', "
    "substring(text, cast(floor(length(text) / 2) as int) + 25, length(text))"
    ") else substring(text, cast(floor(length(text) / 2) as int) + 1, length(text)) end, "
    "'</p>', "
    "'<div class=\"footer\"><a href=\"/t\">Terms of use</a> "
    "<a href=\"/p\">Privacy policy</a> &copy;</div></body></html>')"
)

_SYNTH_HTML_SQL = (
    "concat("
    "'<html><head><title>Doc ', CAST(doc_id AS VARCHAR), "
    "'</title><script>var x=1;</script><style>.m{color:red}</style></head>', "
    "'<body><div id=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a> "
    "<a href=\"/c\">Contact</a></div>', "
    "'<h1>Document ', CAST(doc_id AS VARCHAR), ' overview notes</h1>', "
    "'<!-- tracker beacon -->', "
    "'<p>', substring(text, 1, CAST(floor(length(text) / 2) AS INT)), '</p>', "
    "'<ul><li><a href=\"/r\">Read more related articles</a></li>"
    "<li><a href=\"/s\">More stories &amp; links</a></li></ul>', "
    "'<p>', CASE WHEN doc_id % 3 = 0 THEN concat("
    "'<a href=\"/in\">', "
    "substring(text, CAST(floor(length(text) / 2) AS INT) + 1, 24), '</a>', "
    "substring(text, CAST(floor(length(text) / 2) AS INT) + 25, length(text))"
    ") ELSE substring(text, CAST(floor(length(text) / 2) AS INT) + 1, length(text)) END, "
    "'</p>', "
    "'<div class=\"footer\"><a href=\"/t\">Terms of use</a> "
    "<a href=\"/p\">Privacy policy</a> &copy;</div></body></html>')"
)


def q_tx_html_extract(spark, sf_dir):
    """TX+ (beyond-reference): HTML → main-content extraction (VERDICT r8
    item 4) — the curation stage BEFORE url/span/minhash dedup: strip
    script/style/head/comments, break on block-close tags, keep lines
    with ≥3 words and ≤1/2 link density (functions/html.py, the
    Kohlschütter-style line rules).  Gated per doc on the kept/total line
    counts, the boilerplate share, and the md5 + length of the extracted
    content (so a one-char extraction drift hash-reds).

    Scale shape: ONE row-local projection, staged so the regex/HOF line
    pipeline evaluates exactly once per row (see with_html_extract — the
    naive struct-field form inlined six copies and ran 4× slower); no
    explode, no shuffle, no UDF.  Composes ahead of pipe_prepare as
    "stage -1" for markup corpora (documented option; the registry corpus
    is already plain text, so the flagship keeps its plain-text input)."""
    from .functions import html as H

    docs = _t(spark, sf_dir, "documents", fan=True).where(F.col("text").isNotNull())
    e = H.with_html_extract(
        docs.select("doc_id", "text"), F.expr(_SYNTH_HTML_EXPR)
    )
    return e.select(
        "doc_id",
        "n_lines",
        "n_kept",
        "boilerplate_share",
        F.length("content").alias("content_chars"),
        F.md5("content").alias("content_md5"),
    )


def _html_extract_sql() -> str:
    from .functions import html as H

    inner = H.html_extract_select_sql("h", "html", keep="doc_id")
    return f"""
WITH h AS (
  SELECT doc_id, {_SYNTH_HTML_SQL} AS html
  FROM documents WHERE text IS NOT NULL
),
e AS ({inner})
SELECT doc_id, n_lines, n_kept, boilerplate_share,
       CAST(length(content) AS INT) AS content_chars,
       md5(content) AS content_md5
FROM e
"""


def q_tx_bigram_lm(spark, sf_dir):
    """TX+ (beyond-reference): interpolated-backoff bigram LM perplexity
    (functions/text.py:bigram_lm_scores, VERDICT r8 item 5) — the CCNet
    quality-filter upgrade from tx_unigram_lm's unigram proxy: scores
    each doc's mean -log2 p(b|a) with Jelinek-Mercer interpolation
    (λ=3/4 bigram ML, 1/4 unigram backoff), so shuffled-token junk with a
    natural unigram profile finally scores as junk (pytest-pinned).
    Same decimal round-then-sum order-independence as the unigram arm."""
    return tx.bigram_lm_scores(_t(spark, sf_dir, "documents"))


SQL_TX_BIGRAM_LM = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE text IS NOT NULL
),
uni AS (SELECT unnest(toks) AS t FROM tok),
cf AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
tot AS (SELECT COUNT(*) AS total FROM uni),
bg AS (
  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
  FROM tok, unnest(generate_series(1, len(toks) - 1)) u(i)
),
btf AS (SELECT doc_id, a, b, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
bc AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY 1, 2),
cc AS (SELECT a, COUNT(*) AS ca FROM bg GROUP BY 1)
SELECT btf.doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(tf AS DECIMAL(8,0))
                     * CAST(ROUND(-log2(
                         CAST(0.75 AS DOUBLE) * (CAST(cab AS DOUBLE) / ca)
                       + CAST(0.25 AS DOUBLE) * (CAST(cfb.c AS DOUBLE) / tot.total)
                       ), 9) AS DECIMAL(28,9))) AS DOUBLE)
             / SUM(tf), 6) AS mean_nll
FROM btf
JOIN bc USING (a, b)
JOIN cc USING (a)
JOIN cf cfb ON cfb.t = btf.b
CROSS JOIN tot
GROUP BY 1
"""


def q_tx_kn_lm(spark, sf_dir):
    """TX+ (beyond-reference): interpolated Kneser-Ney bigram LM
    (functions/text.py:kn_lm_scores, VERDICT r9 item 6) — absolute
    discount D=3/4 with CONTINUATION-count backoff instead of
    tx_bigram_lm's raw-unigram Jelinek-Mercer backoff: frequent but
    context-bound tokens (the "francisco" class) stop inflating junk
    transitions' probabilities, which widens the junk/real separation on
    sparse bigrams (pytest-pinned vs the JM arm).  Same decimal
    round-then-sum order-independence contract."""
    return tx.kn_lm_scores(_t(spark, sf_dir, "documents"))


SQL_TX_KN_LM = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE text IS NOT NULL
),
bg AS (
  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
  FROM tok, unnest(generate_series(1, len(toks) - 1)) u(i)
),
btf AS (SELECT doc_id, a, b, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
bc AS (SELECT a, b, CAST(SUM(tf) AS BIGINT) AS cab FROM btf GROUP BY 1, 2),
ctx AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca, COUNT(*) AS n1a
        FROM bc GROUP BY 1),
nb AS (SELECT b, COUNT(*) AS n1b FROM bc GROUP BY 1),
nt AS (SELECT COUNT(*) AS ntypes FROM bc)
SELECT btf.doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(tf AS DECIMAL(8,0))
                     * CAST(ROUND(-log2(
                         (CAST(cab AS DOUBLE) - CAST(0.75 AS DOUBLE)) / ca
                       + (CAST(0.75 AS DOUBLE) / ca) * n1a
                         * (CAST(n1b AS DOUBLE) / nt.ntypes)
                       ), 9) AS DECIMAL(28,9))) AS DOUBLE)
             / SUM(tf), 6) AS mean_nll
FROM btf
JOIN bc USING (a, b)
JOIN ctx USING (a)
JOIN nb ON nb.b = btf.b
CROSS JOIN nt
GROUP BY 1
"""


def q_tx_kn_mod(spark, sf_dir):
    """TX+ (beyond-reference): MODIFIED Kneser-Ney bigram LM
    (functions/text.py:kn_mod_lm_scores) — Chen & Goodman's
    count-of-count-estimated discounts D1/D2/D3+ applied by each
    bigram's own count, the production-grade variant of tx_kn_lm's
    fixed D=3/4.  The probability expression is ONE shared
    dialect-neutral SQL string (text.kn_mod_p_sql) parsed by both
    engines, so the double-op association order cannot drift.  Same
    decimal round-then-sum contract; an extra map-combinable
    count-of-counts rollup is the only added shuffle."""
    return tx.kn_mod_lm_scores(_t(spark, sf_dir, "documents"))


def _kn_mod_oracle_sql() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE text IS NOT NULL
),
bg AS (
  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
  FROM tok, unnest(generate_series(1, len(toks) - 1)) u(i)
),
btf AS (SELECT doc_id, a, b, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
bc AS (SELECT a, b, CAST(SUM(tf) AS BIGINT) AS cab FROM btf GROUP BY 1, 2),
ctx AS (
  SELECT a, CAST(SUM(cab) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN cab = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ka1,
         CAST(SUM(CASE WHEN cab = 2 THEN 1 ELSE 0 END) AS BIGINT) AS ka2,
         CAST(SUM(CASE WHEN cab >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS ka3
  FROM bc GROUP BY 1
),
nb AS (SELECT b, COUNT(*) AS n1b FROM bc GROUP BY 1),
coc AS (
  SELECT COUNT(*) AS ntypes,
         CAST(SUM(CASE WHEN cab = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN cab = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN cab = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN cab = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM bc
)
SELECT btf.doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(tf AS DECIMAL(8,0))
                     * CAST(ROUND(-log2({tx.kn_mod_p_sql()}), 9)
                            AS DECIMAL(28,9))) AS DOUBLE)
             / SUM(tf), 6) AS mean_nll
FROM btf
JOIN bc USING (a, b)
JOIN ctx USING (a)
JOIN nb ON nb.b = btf.b
CROSS JOIN coc
GROUP BY 1
"""


SQL_TX_KN_MOD = _kn_mod_oracle_sql()


def q_tx_bpe_merges(spark, sf_dir):
    """TX+ (beyond-reference): BPE merge-pair vocabulary induction
    (functions/text.py:bpe_merges, VERDICT r9 item 4) — 10 rounds of
    most-frequent-adjacent-pair merging over the letters-only word-type
    table, the tokenizer-prep op tx_pmi_bigrams/tx_doc_freq stop short
    of.  One corpus-wide groupBy reduces to the vocabulary; each round
    is a vocab-sized pair count + a 1-row argmax collect + a row-local
    bracketed-string replace (greedy left-to-right merge semantics for
    free).  The oracle unrolls the same 10 steps as chained CTEs
    (the g1_pagerank template)."""
    return tx.bpe_merges(_t(spark, sf_dir, "documents"), n_merges=10)


def _bpe_ctes(n_merges: int, final_state: bool) -> list[str]:
    """The shared unrolled-CTE chain: word-type table → w0 (bracketed) →
    per-round pair count p{i} / argmax b{i} / merged state w{i}.  The
    merge-table oracle needs states only up to w{n-1}; the encode oracle
    needs the final w{n}."""
    ctes = [
        "wf AS (SELECT word, COUNT(*) AS freq FROM ("
        "SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word"
        " FROM documents WHERE text IS NOT NULL) GROUP BY 1)",
        r"w0 AS (SELECT regexp_replace(word, '(.)', '<\1>', 'g') AS enc,"
        " freq FROM wf)",
    ]
    for i in range(1, n_merges + 1):
        ctes.append(
            f"p{i} AS (SELECT t.s[j] AS a, t.s[j + 1] AS b,"
            f" CAST(SUM(freq) AS BIGINT) AS cnt"
            f" FROM (SELECT string_split(trim(enc, '<>'), '><') AS s, freq"
            f" FROM w{i-1}) t,"
            f" unnest(generate_series(1, len(t.s) - 1)) u(j)"
            f" GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{i} AS (SELECT a, b, cnt FROM p{i}"
            f" ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        if i < n_merges or final_state:
            ctes.append(
                f"w{i} AS (SELECT replace(enc, '<' || a || '><' || b || '>',"
                f" '<' || a || b || '>') AS enc, freq"
                f" FROM w{i-1} CROSS JOIN b{i})"
            )
    return ctes


def _bpe_oracle_sql(n_merges: int = 10) -> str:
    ctes = _bpe_ctes(n_merges, final_state=False)
    unions = " UNION ALL ".join(
        f"SELECT {i} AS rank, a AS lhs, b AS rhs, cnt AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM ({unions}) ORDER BY rank"


SQL_TX_BPE_MERGES = _bpe_oracle_sql(10)


def q_tx_bpe_encode(spark, sf_dir):
    """TX+ (beyond-reference): corpus encode under the learned BPE table
    (functions/text.py:bpe_encode_stats) — the compression report that
    closes the tokenizer loop (tx_bpe_merges learns; this measures what
    the rules buy): per piece count after 10 merges, the word-type
    count, corpus frequency, and total emitted pieces.  Encoding word
    TYPES and weighting by frequency is exact (merges are a function of
    the word alone), so no second corpus pass exists anywhere."""
    return tx.bpe_encode_stats(_t(spark, sf_dir, "documents"), n_merges=10)


def _bpe_encode_oracle_sql(n_merges: int = 10) -> str:
    ctes = _bpe_ctes(n_merges, final_state=True)
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CAST(len(string_split(trim(enc, '<>'), '><')) AS INT) AS n_pieces,
       CAST(COUNT(*) AS BIGINT) AS n_word_types,
       CAST(SUM(freq) AS BIGINT) AS total_freq,
       CAST(SUM(freq * len(string_split(trim(enc, '<>'), '><'))) AS BIGINT)
         AS total_pieces
FROM w{n_merges}
GROUP BY 1
"""
    )


SQL_TX_BPE_ENCODE = _bpe_encode_oracle_sql(10)


def q_tx_unigram_tok(spark, sf_dir):
    """TX+ (beyond-reference, VERDICT r10 item 6): SentencePiece-style
    UNIGRAM-LM tokenizer induction (functions/text.py:unigram_token_stats,
    Kudo 2018's unigram model with hard EM) — the EM-over-word-types
    sibling that completes the tokenizer family next to BPE's merge
    learning: seed pieces scored by count×length, then 3 hard-EM rounds
    of per-word Viterbi best-segmentation (exact-decimal DP costs,
    longest-piece tie-break) and count re-estimation with add-0.5
    smoothing over the fixed piece set.  Returns the learned vocabulary
    head (rank, piece, n, p).

    Plan: ONE corpus scan reduces to the word-TYPE table; each round is
    per-row array-fold DP (no joins — the piece table broadcasts) + one
    vocab-sized map-combinable count + a 1-row totals broadcast, lineage
    cut per round.  The oracle unrolls the identical DP position-by-
    position and round-by-round as chained CTEs (~90, generated) over
    the SAME shared cost expressions (text.unigram_cost0_sql/
    unigram_cost_sql/unigram_prob_sql)."""
    return tx.unigram_token_stats(_t(spark, sf_dir, "documents"))


def _unigram_oracle_sql(encode_report: bool = False) -> str:
    """Unrolled-CTE oracle for the unigram tokenizer.  With
    ``encode_report`` the chain extends by ONE more E-step (segmenting
    under the final round's costs) and aggregates the pieces-per-word
    histogram instead of the vocabulary head — the tx_bpe_encode
    sibling."""
    p = tx.UNIGRAM_PARAMS
    L, MP = p["max_word_len"], p["max_piece_len"]
    R = p["rounds"] + (1 if encode_report else 0)
    cost0, cost, prob = (
        tx.unigram_cost0_sql(), tx.unigram_cost_sql(), tx.unigram_prob_sql()
    )
    ctes = [
        f"""wt AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
    FROM documents WHERE text IS NOT NULL
  ) WHERE length(word) BETWEEN 1 AND {L} GROUP BY word)""",
        f"""grid AS MATERIALIZED (
  SELECT word, freq, e, l, substr(word, e - l + 1, l) AS piece FROM (
    SELECT word, freq, e, unnest(generate_series(1, least({MP}, e))) AS l FROM (
      SELECT word, freq, unnest(generate_series(1, length(word))) AS e FROM wt)))""",
        """c0t AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS c0 FROM grid GROUP BY piece)""",
        f"""pset AS MATERIALIZED (
  SELECT piece, c0 FROM c0t WHERE length(piece) = 1
  UNION ALL
  SELECT piece, c0 FROM (
    SELECT piece, c0 FROM c0t WHERE length(piece) >= 2 AND c0 >= {p["seed_min"]}
    ORDER BY c0 * length(piece) DESC, piece ASC LIMIT {p["seed_cap"]}))""",
        f"""p0 AS MATERIALIZED (
  SELECT piece, {cost0} AS cost
  FROM pset, (SELECT CAST(SUM(c0) AS BIGINT) AS tot0 FROM pset) t)""",
    ]
    for r in range(1, R + 1):
        prev = "p0" if r == 1 else f"p{r - 1}"
        ctes.append(
            f"""cand_{r} AS MATERIALIZED (
  SELECT g.word, g.e AS ei, g.l, pr.cost
  FROM grid g JOIN {prev} pr ON pr.piece = g.piece)"""
        )
        ctes.append(
            f"f_{r}_0 AS (SELECT word, 0 AS i,"
            f" CAST(0 AS DECIMAL(28,9)) AS best, 0 AS bl FROM wt)"
        )
        for i in range(1, L + 1):
            lo = max(0, i - MP)
            prevs = " UNION ALL ".join(
                f"SELECT * FROM f_{r}_{j}" for j in range(lo, i)
            )
            # stored best is re-cast to DECIMAL(28,9) per step, matching
            # the Spark fold (keeps chained decimal widths bounded in
            # both engines; values fit, so the cast is lossless)
            ctes.append(
                f"""f_{r}_{i} AS MATERIALIZED (
  SELECT word, i, best, bl FROM (
    SELECT c.word, {i} AS i,
           CAST(pv.best + c.cost AS DECIMAL(28,9)) AS best, c.l AS bl,
           ROW_NUMBER() OVER (PARTITION BY c.word
             ORDER BY pv.best + c.cost ASC, c.l DESC) AS rn
    FROM cand_{r} c JOIN ({prevs}) pv
      ON pv.word = c.word AND pv.i = {i} - c.l
    WHERE c.ei = {i}) WHERE rn = 1)"""
            )
        st_union = " UNION ALL ".join(
            f"SELECT * FROM f_{r}_{i}" for i in range(1, L + 1)
        )
        ctes.append(f"st_{r} AS MATERIALIZED ({st_union})")
        ctes.append(
            f"bt_{r}_0 AS (SELECT word, freq, CAST(NULL AS VARCHAR) AS piece,"
            f" length(word) AS pos FROM wt)"
        )
        for s in range(1, L + 1):
            ctes.append(
                f"""bt_{r}_{s} AS MATERIALIZED (
  SELECT b.word, b.freq, substr(b.word, b.pos - st.bl + 1, st.bl) AS piece,
         b.pos - st.bl AS pos
  FROM bt_{r}_{s - 1} b JOIN st_{r} st ON st.word = b.word AND st.i = b.pos
  WHERE b.pos > 0)"""
            )
        if encode_report and r == R:
            # the extra E-step: report pieces-per-word, no M-step needed
            sized = " UNION ALL ".join(
                f"SELECT word, freq, piece FROM bt_{r}_{s}"
                for s in range(1, L + 1)
            )
            ctes.append(
                f"""segsz AS (
  SELECT word, freq, COUNT(*) AS n_pieces FROM ({sized})
  WHERE piece IS NOT NULL GROUP BY word, freq)"""
            )
            break
        seg_union = " UNION ALL ".join(
            f"SELECT piece, freq FROM bt_{r}_{s}" for s in range(1, L + 1)
        )
        ctes.append(
            f"""cnt_{r} AS MATERIALIZED (
  SELECT p.piece, CAST(COALESCE(s.n, 0) AS BIGINT) AS n
  FROM (SELECT piece FROM pset) p LEFT JOIN (
    SELECT piece, SUM(freq) AS n FROM ({seg_union})
    WHERE piece IS NOT NULL GROUP BY piece) s USING (piece))"""
        )
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT piece, {cost} AS cost, n, totn, np
  FROM cnt_{r}, (SELECT CAST(SUM(n) AS BIGINT) AS totn,
                        CAST(COUNT(*) AS BIGINT) AS np FROM cnt_{r}) t)"""
        )
    if encode_report:
        final = """SELECT CAST(n_pieces AS INTEGER) AS n_pieces,
       CAST(COUNT(*) AS BIGINT) AS n_word_types,
       CAST(SUM(freq) AS BIGINT) AS total_freq,
       CAST(SUM(freq * n_pieces) AS BIGINT) AS total_pieces
FROM segsz GROUP BY 1"""
    else:
        final = f"""SELECT rank, piece, n, p FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, piece ASC) AS INTEGER) AS rank,
         piece, n, {prob} AS p FROM p{R})
WHERE rank <= {p["top_n"]} ORDER BY rank"""
    return "WITH " + ",\n".join(ctes) + "\n" + final


SQL_TX_UNIGRAM_TOK = _unigram_oracle_sql()


def q_tx_unigram_encode(spark, sf_dir):
    """TX+ (beyond-reference): corpus encode under the learned unigram
    vocabulary (functions/text.py:unigram_encode_report) — the
    compression report that closes the unigram loop the way
    tx_bpe_encode closes BPE's: after 3 hard-EM rounds, one more
    Viterbi E-step segments every word type under the FINAL costs and
    the pieces-per-word histogram (type counts, corpus frequency, total
    emitted pieces) is aggregated once.  Same one-corpus-scan /
    vocabulary-bound contract; the oracle extends the unrolled chain by
    one E-step round."""
    return tx.unigram_encode_report(_t(spark, sf_dir, "documents"))


SQL_TX_UNIGRAM_ENCODE = _unigram_oracle_sql(encode_report=True)


def q_tx_quality_sweep(spark, sf_dir):
    """TX+ (beyond-reference): quality-threshold sweep — for every cutoff
    on a 0.001 grid (``floor(quality·1000)``, ≤1001 distinct buckets),
    how many documents and tokens survive a ``quality ≥ t`` filter: the
    report a curation pipeline reads to pick its threshold under a token
    budget (the C4/CCNet knob, made measurable before committing a full
    filtering pass).

    Plan: ONE scan computes (quality bucket, n_tok) scan-side; a
    map-combinable hash agg reduces the corpus to ≤1001 bucket rows; the
    cumulative-from-above sums are a window over that bucket relation
    (never the corpus) and the shares divide by a 1-row broadcast total.
    Bucket arithmetic is the same IEEE ops in both engines, so boundary
    epsilons bucket identically."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    staged = docs.select(
        F.floor(tx.quality_score(F.col("text")) * 1000).cast("int").alias("b"),
        tx.token_count(F.col("text")).alias("n_tok"),
    )
    per_b = staged.groupBy("b").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_tok").alias("toks")
    )
    w = Window.orderBy(F.col("b").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per_b.agg(
        F.sum("docs").alias("tot_docs"), F.sum("toks").alias("tot_toks")
    )
    return (
        per_b.withColumn("docs_kept", F.sum("docs").over(w))
        .withColumn("tokens_kept", F.sum("toks").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("b").cast("double") / 1000).alias("threshold"),
            "docs_kept",
            "tokens_kept",
            F.round(F.col("docs_kept") / F.col("tot_docs"), 6).alias("doc_share"),
            F.round(F.col("tokens_kept") / F.col("tot_toks"), 6).alias("token_share"),
        )
    )


SQL_TX_QUALITY_SWEEP = f"""
WITH {_SQL_QUALITY_CTES.strip()},
st AS (
  SELECT CAST(floor(q.quality * 1000) AS INT) AS b,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok
  FROM documents d JOIN quality q ON q.doc_id = d.doc_id
  WHERE d.text IS NOT NULL
),
per_b AS (
  SELECT b, COUNT(*) AS docs, CAST(SUM(n_tok) AS BIGINT) AS toks
  FROM st GROUP BY b
),
tot AS (SELECT SUM(docs) AS tot_docs, SUM(toks) AS tot_toks FROM per_b),
cum AS (
  SELECT b,
         CAST(SUM(docs) OVER (ORDER BY b DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS docs_kept,
         CAST(SUM(toks) OVER (ORDER BY b DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS tokens_kept
  FROM per_b
)
SELECT CAST(b AS DOUBLE) / 1000 AS threshold,
       docs_kept, tokens_kept,
       ROUND(CAST(docs_kept AS DOUBLE) / tot_docs, 6) AS doc_share,
       ROUND(CAST(tokens_kept AS DOUBLE) / tot_toks, 6) AS token_share
FROM cum CROSS JOIN tot
"""


def q_tx_pr_curve(spark, sf_dir):
    """TX+ (beyond-reference): classifier calibration curve — precision/
    recall/F1 of the English-stopword-density score against the corpus's
    GOLD ``lang`` labels at every 1e-4 threshold bucket
    (functions/text.py:pr_curve).  The labeled sibling of
    tx_quality_sweep: that one answers "how much survives a cutoff",
    this one answers "how RIGHT is the classifier at each cutoff" — the
    evaluation every langid/quality/PII filter runs on a labeled sample
    before a corpus-wide pass.

    Plan: one scan computes (density bucket, is_en) scan-side; a
    map-combinable hash agg reduces the corpus to ≤10k bucket rows;
    cumulative TP/FP are a window over that bucket relation (never the
    corpus); the positive total broadcasts.  Buckets are integer floors,
    so cross-engine float rounding cannot split one."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = F.col("text")
    scored = docs.select(
        (
            tx.stopword_hits(t, "en")
            / F.greatest(tx.token_count(t), F.lit(1))
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    return tx.pr_curve(scored, "score", "y", bucket_decimals=4)


SQL_TX_PR_CURVE = f"""
WITH base AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(floor({_sql_stop_hits(_EN)} * 1.0
                    / greatest(len({_TOKS_SQL}), 1) * 10000) AS BIGINT) AS b
  FROM documents WHERE text IS NOT NULL
),
per_t AS (
  SELECT b, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM base GROUP BY b
),
tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS tot_pos FROM per_t),
cum AS (
  SELECT b,
         CAST(SUM(pos) OVER (ORDER BY b DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS tp,
         CAST(SUM(neg) OVER (ORDER BY b DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS fp
  FROM per_t
)
SELECT CAST(c.b AS DOUBLE) / 10000 AS threshold, c.tp, c.fp,
       ROUND(c.tp * 1.0 / (c.tp + c.fp), 6) AS precision,
       CASE WHEN t.tot_pos > 0
            THEN ROUND(c.tp * 1.0 / t.tot_pos, 6) END AS recall,
       ROUND(2.0 * c.tp / (2 * c.tp + c.fp + (t.tot_pos - c.tp)), 6) AS f1
FROM cum c, tot t
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


class Query(NamedTuple):
    """One registry row.  ``sql`` is the DuckDB oracle the driver hashes the
    Spark result against; ``None`` marks a sketch arm (sketch values are
    engine-specific, so no SQL replays them), which is benched and smoked
    but never offered to the driver.  ``bench=True`` puts the query in
    bench.py's timed suite."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None
    bench: bool = False


# The driver's correctness gate records only the first 50 ``queries()``
# entries, so these names lead the registry.  Rotate them with the output of
# tools/stale_stamps.py.
_DRIVER_WINDOW = [
    "sim_multiprobe_topk", "st_ann_serve", "st_stream_incremental",
    "st_stream_span", "st_stream_substring", "tx_phrase_idx_incr",
    "tx_unigram_encode", "dd_common_ngrams", "dd_jaccard_capped",
    "f12_hour_percentiles", "j13_asof", "j15_salted_join", "j17_spec_chain3",
    "j18_project_list", "j2_subspec_join", "j5_one_hop", "j6_membership",
    "j9_anti_join", "mol_identifiers", "o10_manager_reap",
    "o11_status_replay", "o9_service_replay", "pipe_export", "pipe_funnel",
    "pk_bin_pack", "pk_domain_cap", "pk_length_buckets",
    "s11_schema_evolution", "s2_bulk_get", "s3_insert_dedup_table",
    "s6_delete_survivors", "s7_retention_survivors", "s8_snapshot_roundtrip",
    "sim_hard_negatives", "sim_index_stats", "sim_ivf_recall_eval",
    "sim_pq_distortion", "st_rollup_stream", "st_stream_export",
    "t10_incremental_rollup", "t2_enrichment", "t8_funnel",
    "t9_cohort_retention", "tx_bm25", "tx_boilerplate_ratio", "tx_dsir",
    "tx_quality_clf", "u12_interleave", "u15_temperature_mix",
    "v1_variant_rollup",
]


def build_registry(rows, head) -> dict[str, Query]:
    """name -> Query from ``(name, Query)`` rows: the ``head`` names first,
    the rest in row order.  A name declared twice raises (a dict literal
    would silently keep the last one), and every head name must be a row
    with an oracle."""
    table: dict[str, Query] = {}
    for name, query in rows:
        if name in table:
            raise ValueError(f"query {name!r} declared twice")
        table[name] = query
    bad = [n for n in head if n not in table or table[n].sql is None]
    if bad or len(set(head)) != len(head):
        raise ValueError(f"head names must be distinct rows with an oracle: {bad}")
    return {**{n: table[n] for n in head}, **table}


# One row per query.  Rows without ``bench=True`` are gate-only: each call
# times scratch IO (a mutation, index, stream-sink or compaction write) ahead
# of its plan, or pays a deliberately quadratic or serial cost (exact-truth
# joins, edit-distance verify, PageRank rounds) whose scaled physics a benched
# sibling carries.
REGISTRY: dict[str, Query] = build_registry(
    [
        ("s1_scan_project", Query(q_s1_scan_project, SQL_S1)),
        ("p2_p3_filter_page", Query(q_p2_p3_filter_page, SQL_P2_P3, bench=True)),
        ("s2_bulk_get", Query(q_s2_bulk_get, SQL_S2)),
        ("p4_tuple_in", Query(q_p4_tuple_in, SQL_P4)),
        ("p5_json_extract", Query(q_p5_json_extract, SQL_P5)),
        ("p7_array_overlap", Query(q_p7_array_overlap, SQL_P7)),
        ("p8_int_or_name", Query(q_p8_int_or_name, SQL_P8)),
        ("j1_dim_join", Query(q_j1_dim_join, SQL_J1)),
        ("j2_subspec_join", Query(q_j2_subspec_join, SQL_J2, bench=True)),
        ("j17_spec_chain3", Query(q_j17_spec_chain3, SQL_J17, bench=True)),
        ("o7_serial_claim", Query(q_o7_serial_claim, SQL_O7, bench=True)),
        ("o8_waiting_reason", Query(q_o8_waiting_reason, SQL_O8, bench=True)),
        ("o9_service_replay", Query(q_o9_service_replay, SQL_O9, bench=True)),
        ("o10_manager_reap", Query(q_o10_manager_reap, SQL_O10, bench=True)),
        ("j18_project_list", Query(q_j18_project_list, SQL_J18, bench=True)),
        ("o11_status_replay", Query(q_o11_status_replay, SQL_O11, bench=True)),
        ("o12_waiting_details", Query(q_o12_waiting_details, SQL_O12, bench=True)),
        ("j4_semi_join", Query(q_j4_semi_join, SQL_J4)),
        ("j9_anti_join", Query(q_j9_anti_join, SQL_J9)),
        ("j10_count_join", Query(q_j10_count_join, SQL_J10, bench=True)),
        ("j8_closure", Query(q_j8_closure, SQL_J8, bench=True)),
        ("a2_status_counts", Query(q_a2_status_counts, SQL_A2)),
        ("a5_two_col_counts", Query(q_a5_two_col_counts, SQL_A5)),
        ("a6_access_summary", Query(q_a6_access_summary, SQL_A6, bench=True)),
        ("a7_json_rollup", Query(q_a7_json_rollup, SQL_A7)),
        ("a8_status_gate", Query(q_a8_status_gate, SQL_A8, bench=True)),
        ("a9_argmin", Query(q_a9_argmin, SQL_A9, bench=True)),
        ("a10_map_agg", Query(q_a10_map_agg, SQL_A10, bench=True)),
        ("a12_weighted_sum", Query(q_a12_weighted_sum, SQL_A12)),
        ("a14_pivot", Query(q_a14_pivot, SQL_A14, bench=True)),
        ("a16_dedup_batch", Query(q_a16_dedup_batch, SQL_A16)),
        ("o2_priority_topk", Query(q_o2_priority_topk, SQL_O2, bench=True)),
        ("w1_window_lag", Query(q_w1_window_lag, SQL_W1, bench=True)),
        ("t3_hourly_rollup", Query(q_t3_hourly_rollup, SQL_T3, bench=True)),
        ("s4_upsert_classify", Query(q_s4_upsert_classify, SQL_S4)),
        ("ds_missing_cells", Query(q_ds_missing_cells, SQL_DS_MISSING)),
        ("u3_distinct", Query(q_u3_distinct, SQL_U3)),
        ("h1_pricing_summary", Query(q_h1_pricing_summary, SQL_H1, bench=True)),
        ("h3_top_revenue", Query(q_h3_top_revenue, SQL_H3, bench=True)),
        ("tx_text_stats", Query(q_tx_text_stats, SQL_TX_STATS, bench=True)),
        ("dd_exact", Query(q_dd_exact, SQL_DD_EXACT, bench=True)),
        ("dd_jaccard", Query(q_dd_jaccard, SQL_DD_JACCARD)),
        ("dd_simhash", Query(q_dd_simhash, SQL_DD_SIMHASH, bench=True)),
        ("dd_minhash_lsh", Query(q_dd_minhash_lsh, SQL_DD_MINHASH, bench=True)),
        ("sim_topk", Query(q_sim_topk, SQL_SIM_TOPK, bench=True)),
        ("sim_lsh_topk", Query(q_sim_lsh_topk, SQL_SIM_LSH, bench=True)),
        ("mm_features", Query(q_mm_features, SQL_MM_FEATURES)),
        ("dd_lsh_recall_eval", Query(q_dd_lsh_recall_eval, _lsh_recall_oracle_sql())),
        ("dd_contamination_neardup", Query(q_dd_contamination_neardup, SQL_DD_CONTAM_ND)),
        ("dd_simhash_scaled", Query(q_dd_simhash_scaled, SQL_DD_SIMHASH_SCALED, bench=True)),
        ("h6_forecast_revenue", Query(q_h6_forecast_revenue, SQL_H6, bench=True)),
        ("a17_group_centroid", Query(q_a17_group_centroid, SQL_A17, bench=True)),
        ("dd_simhash_pairs", Query(q_dd_simhash_pairs, SQL_DD_SIMHASH_PAIRS)),
        ("dd_contamination", Query(q_dd_contamination, SQL_DD_CONTAM, bench=True)),
        ("tx_repetition", Query(q_tx_repetition, SQL_TX_REP)),
        ("u5_stratified_sample", Query(q_u5_stratified_sample, SQL_U5)),
        ("a4_union_counts", Query(q_a4_union_counts, SQL_A4)),
        ("a11_sample_keys", Query(q_a11_sample_keys, SQL_A11)),
        ("f9_content_hash", Query(q_f9_content_hash, SQL_F9)),
        ("j12_element_at", Query(q_j12_element_at, SQL_J12)),
        ("d1_value_call", Query(q_d1_value_call, SQL_D1)),
        ("sim_cosine_pairs", Query(q_sim_cosine_pairs, SQL_SIM_PAIRS, bench=True)),
        ("sim_ivf_topk", Query(q_sim_ivf_topk, SQL_SIM_IVF, bench=True)),
        ("sim_knn_join", Query(q_sim_knn_join, SQL_SIM_KNN)),
        ("dd_cluster", Query(q_dd_cluster, SQL_DD_CLUSTER, bench=True)),
        ("j13_asof", Query(q_j13_asof, SQL_J13, bench=True)),
        ("j14_interval", Query(q_j14_interval, SQL_J14, bench=True)),
        ("f12_hour_percentiles", Query(q_f12_hour_percentiles, SQL_F12, bench=True)),
        ("a15_properties_df", Query(q_a15_properties_df, SQL_A15, bench=True)),
        ("s12_contributed_values", Query(q_s12_contributed_values, SQL_S12, bench=True)),
        ("s13_status_mutations", Query(q_s13_status_mutations, SQL_S13)),
        ("s18_bucketed_mutations", Query(q_s18_bucketed_mutations, SQL_S13)),
        ("s14_dataset_clone", Query(q_s14_dataset_clone, SQL_S14)),
        ("s16_project_links", Query(q_s16_project_links, SQL_S16)),
        ("s17_molecule_modify", Query(q_s17_molecule_modify, SQL_S17)),
        ("o13_job_lifecycle", Query(q_o13_job_lifecycle, SQL_O13)),
        ("s15_attachments", Query(q_s15_attachments, SQL_S15)),
        ("tx_gopher_rules", Query(q_tx_gopher_rules, SQL_TX_GOPHER, bench=True)),
        ("tx_c4_clean", Query(q_tx_c4_clean, SQL_TX_C4, bench=True)),
        ("st_sessionize", Query(q_st_sessionize, SQL_ST_SESSION, bench=True)),
        ("st_session_custom", Query(q_st_session_custom, SQL_ST_SESSION_CUSTOM)),
        ("t2_enrichment", Query(q_t2_enrichment, SQL_T2)),
        ("mol_identifiers", Query(q_mol_identifiers, SQL_MOL_IDENTIFIERS)),
        ("a13_manybody_levels", Query(q_a13_manybody_levels, SQL_A13)),
        ("dd_winnow", Query(q_dd_winnow, SQL_DD_WINNOW)),
        ("dd_winnow_capped", Query(q_dd_winnow_capped, SQL_DD_WINNOW_CAPPED, bench=True)),
        ("dd_substring", Query(q_dd_substring, SQL_DD_SUBSTRING, bench=True)),
        ("dd_substring_incremental", Query(q_dd_substring_incremental, SQL_DD_SUBSTRING_INCR)),
        ("dd_embed", Query(q_dd_embed, SQL_DD_EMBED)),
        ("tx_tfidf", Query(q_tx_tfidf, SQL_TX_TFIDF, bench=True)),
        ("tx_unigram_lm", Query(q_tx_unigram_lm, SQL_TX_UNIGRAM, bench=True)),
        ("u14_doremi", Query(q_u14_doremi, SQL_U14_DOREMI, bench=True)),
        ("u15_temperature_mix", Query(q_u15_temperature_mix, SQL_U15, bench=True)),
        ("tx_pii", Query(q_tx_pii, SQL_TX_PII, bench=True)),
        ("pk_pack", Query(q_pk_pack, SQL_PK_PACK, bench=True)),
        ("dd_common_ngrams", Query(q_dd_common_ngrams, SQL_DD_COMMON, bench=True)),
        ("u6_mixture_sample", Query(q_u6_mixture_sample, SQL_U6_MIXTURE)),
        ("pk_domain_cap", Query(q_pk_domain_cap, SQL_PK_DOMAIN_CAP, bench=True)),
        ("sim_pq_topk", Query(q_sim_pq_topk, SQL_SIM_PQ, bench=True)),
        ("sim_pq_distortion", Query(q_sim_pq_distortion, SQL_SIM_PQ_DISTORTION, bench=True)),
        ("sim_ivfpq_topk", Query(q_sim_ivfpq_topk, SQL_SIM_IVFPQ, bench=True)),
        ("sim_hard_negatives",
         Query(q_sim_hard_negatives, _hard_negatives_oracle_sql(), bench=True)),
        ("sim_index_stats", Query(q_sim_index_stats, _index_stats_oracle_sql(), bench=True)),
        ("sim_ivf_batch_topk", Query(q_sim_ivf_batch_topk, SQL_SIM_IVF_BATCH, bench=True)),
        ("tx_dsir", Query(q_tx_dsir, SQL_TX_DSIR, bench=True)),
        ("tx_quality_clf", Query(q_tx_quality_clf, SQL_TX_QCLF, bench=True)),
        ("dd_containment", Query(q_dd_containment, SQL_DD_CONTAIN)),
        ("dd_span_dedup", Query(q_dd_span_dedup, SQL_DD_SPAN, bench=True)),
        ("dd_semdedup", Query(q_dd_semdedup, SQL_DD_SEMDEDUP, bench=True)),
        ("tx_bm25", Query(q_tx_bm25, SQL_TX_BM25, bench=True)),
        ("sim_hybrid_rrf", Query(q_sim_hybrid_rrf, SQL_SIM_HYBRID_RRF, bench=True)),
        ("a18_cube_counts", Query(q_a18_cube_counts, SQL_A18, bench=True)),
        ("a19_approx_distinct", Query(q_a19_approx_distinct, None, bench=True)),
        ("a19_distinct_gate", Query(q_a19_distinct_gate, SQL_A19)),
        ("a22_approx_quantiles", Query(q_a22_approx_quantiles, None, bench=True)),
        ("a22_quantiles_gate", Query(q_a22_quantiles_gate, SQL_A22)),
        ("mm_phash_dedup", Query(q_mm_phash_dedup, SQL_MM_PHASH)),
        ("t10_incremental_rollup", Query(q_t10_incremental_rollup, SQL_T10)),
        ("pipe_prepare", Query(q_pipe_prepare, SQL_PIPE, bench=True)),
        ("pipe_funnel", Query(q_pipe_funnel, SQL_PIPE_FUNNEL, bench=True)),
        ("pipe_export", Query(q_pipe_export, SQL_PIPE_EXPORT, bench=True)),
        ("t8_funnel", Query(q_t8_funnel, SQL_T8, bench=True)),
        ("t9_cohort_retention", Query(q_t9_cohort_retention, SQL_T9, bench=True)),
        ("a20_salted_agg", Query(q_a20_salted_agg, SQL_A20, bench=True)),
        ("j15_salted_join", Query(q_j15_salted_join, SQL_J15, bench=True)),
        ("j16_adaptive_salted", Query(q_j16_adaptive_salted, SQL_J16, bench=True)),
        ("a21_histogram", Query(q_a21_histogram, SQL_A21, bench=True)),
        ("dd_lev_verify", Query(q_dd_lev_verify, SQL_DD_LEV)),
        ("dd_jaccard_capped", Query(q_dd_jaccard_capped, SQL_DD_JACCARD_CAPPED, bench=True)),
        ("dd_incremental", Query(q_dd_incremental, SQL_DD_INCREMENTAL)),
        ("j5_one_hop", Query(q_j5_one_hop, SQL_J5, bench=True)),
        ("j6_membership", Query(q_j6_membership, SQL_J6, bench=True)),
        ("s6_delete_survivors", Query(q_s6_delete_survivors, SQL_S6)),
        ("s8_snapshot_roundtrip", Query(q_s8_snapshot_roundtrip, SQL_S8)),
        ("s10_compact", Query(q_s10_compact, SQL_S10)),
        ("s11_schema_evolution", Query(q_s11_schema_evolution, SQL_S11)),
        ("s3_insert_dedup_table", Query(q_s3_insert_dedup_table, SQL_S3)),
        ("s7_retention_survivors", Query(q_s7_retention_survivors, SQL_S7)),
        ("st_stream_export", Query(q_st_stream_export, _stream_export_sql())),
        ("st_stream_span", Query(q_st_stream_span, SQL_ST_STREAM_SPAN)),
        ("st_stream_urldedup", Query(q_st_stream_urldedup, _stream_urldedup_sql())),
        ("st_stream_substring", Query(q_st_stream_substring, SQL_ST_STREAM_SUBSTRING)),
        ("st_stream_incremental", Query(q_st_stream_incremental, SQL_ST_STREAM_INCR)),
        ("st_rollup_stream", Query(q_st_rollup_stream, SQL_ST_ROLLUP)),
        ("v1_variant_rollup", Query(q_v1_variant_rollup, SQL_V1, bench=True)),
        ("u7_epoch_shuffle", Query(q_u7_epoch_shuffle, SQL_U7, bench=True)),
        ("u8_group_sample_k", Query(q_u8_group_sample_k, SQL_U8, bench=True)),
        ("dd_source_overlap", Query(q_dd_source_overlap, SQL_DD_SOURCE_OVERLAP, bench=True)),
        ("dd_minhash_estimate", Query(q_dd_minhash_estimate, SQL_DD_MINHASH_EST, bench=True)),
        ("st_ann_serve", Query(q_st_ann_serve, SQL_SIM_IVF_BATCH)),
        ("pk_length_buckets", Query(q_pk_length_buckets, SQL_PK_BUCKETS, bench=True)),
        ("pk_bin_pack", Query(q_pk_bin_pack, SQL_PK_BIN_PACK, bench=True)),
        ("pk_bfd_pack", Query(q_pk_bfd_pack, SQL_PK_BFD_PACK, bench=True)),
        ("tx_doc_freq", Query(q_tx_doc_freq, SQL_TX_DOC_FREQ, bench=True)),
        ("dd_url_dedup", Query(q_dd_url_dedup, _url_dedup_sql(), bench=True)),
        ("pk_site_cap", Query(q_pk_site_cap, _site_cap_sql(), bench=True)),
        ("tx_domain_stats", Query(q_tx_domain_stats, _domain_stats_sql(), bench=True)),
        ("tx_phrase_hits", Query(q_tx_phrase_hits, SQL_TX_PHRASE, bench=True)),
        ("tx_phrase_idx", Query(q_tx_phrase_idx, SQL_TX_PHRASE_IDX, bench=True)),
        ("tx_phrase_idx_incr", Query(q_tx_phrase_idx_incr, SQL_TX_PHRASE_IDX)),
        ("a25_diversity", Query(q_a25_diversity, SQL_A25, bench=True)),
        ("u12_interleave", Query(q_u12_interleave, SQL_U12, bench=True)),
        ("dd_cluster_rep", Query(q_dd_cluster_rep, SQL_DD_CLUSTER_REP, bench=True)),
        ("u9_leak_split", Query(q_u9_leak_split, SQL_U9_LEAK_SPLIT, bench=True)),
        ("u13_coreset", Query(q_u13_coreset, SQL_U13_CORESET, bench=True)),
        ("sim_outliers", Query(q_sim_outliers, SQL_SIM_OUTLIERS, bench=True)),
        ("h4_order_priority", Query(q_h4_order_priority, SQL_H4, bench=True)),
        ("u10_weighted_sample", Query(q_u10_weighted_sample, SQL_U10, bench=True)),
        ("s9_snapshot_diff", Query(q_s9_snapshot_diff, SQL_S9_DIFF, bench=True)),
        ("pk_sliding_windows", Query(q_pk_sliding_windows, SQL_PK_WINDOWS, bench=True)),
        ("dd_prefix_filter", Query(q_dd_prefix_filter, SQL_DD_PREFIX)),
        ("t11_scd2", Query(q_t11_scd2, SQL_T11, bench=True)),
        ("a23_corr", Query(q_a23_corr, SQL_A23, bench=True)),
        ("g1_pagerank", Query(q_g1_pagerank, SQL_G1_PAGERANK)),
        ("tx_source_kl", Query(q_tx_source_kl, SQL_TX_SOURCE_KL, bench=True)),
        ("a24_heavy_hitters", Query(q_a24_heavy_hitters, None, bench=True)),
        ("a24_heavy_hitters_gate", Query(q_a24_heavy_hitters_gate, SQL_A24)),
        ("sim_multiprobe_topk", Query(q_sim_multiprobe_topk, SQL_SIM_MULTIPROBE, bench=True)),
        ("sim_filtered_topk", Query(q_sim_filtered_topk, SQL_SIM_FILTERED, bench=True)),
        ("sim_ivf_recall_eval", Query(q_sim_ivf_recall_eval, SQL_SIM_IVF_RECALL, bench=True)),
        ("dd_cap_duplicates", Query(q_dd_cap_duplicates, SQL_DD_CAP, bench=True)),
        ("dd_incremental_labels", Query(q_dd_incremental_labels, SQL_DD_INCR_LABELS)),
        ("u11_curriculum", Query(q_u11_curriculum, SQL_U11, bench=True)),
        ("t12_islands", Query(q_t12_islands, SQL_T12, bench=True)),
        ("t13_thread_assembly", Query(q_t13_thread_assembly, SQL_T13, bench=True)),
        ("tx_pmi_bigrams", Query(q_tx_pmi_bigrams, SQL_TX_PMI, bench=True)),
        ("tx_boilerplate_ratio", Query(q_tx_boilerplate_ratio, SQL_TX_BOILERPLATE, bench=True)),
        ("tx_html_extract", Query(q_tx_html_extract, _html_extract_sql(), bench=True)),
        ("tx_bigram_lm", Query(q_tx_bigram_lm, SQL_TX_BIGRAM_LM, bench=True)),
        ("tx_kn_lm", Query(q_tx_kn_lm, SQL_TX_KN_LM, bench=True)),
        ("tx_kn_mod", Query(q_tx_kn_mod, SQL_TX_KN_MOD, bench=True)),
        ("tx_bpe_merges", Query(q_tx_bpe_merges, SQL_TX_BPE_MERGES, bench=True)),
        ("tx_bpe_encode", Query(q_tx_bpe_encode, SQL_TX_BPE_ENCODE, bench=True)),
        ("tx_unigram_tok", Query(q_tx_unigram_tok, SQL_TX_UNIGRAM_TOK, bench=True)),
        ("tx_unigram_encode", Query(q_tx_unigram_encode, SQL_TX_UNIGRAM_ENCODE, bench=True)),
        ("tx_quality_sweep", Query(q_tx_quality_sweep, SQL_TX_QUALITY_SWEEP, bench=True)),
        ("tx_pr_curve", Query(q_tx_pr_curve, SQL_TX_PR_CURVE, bench=True)),
    ],
    head=_DRIVER_WINDOW,
)
