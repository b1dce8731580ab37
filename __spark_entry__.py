"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``qcfractal_spark`` (see SURVEY.md §2 for the
operator inventory each registry key maps to).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from qcfractal_spark.queries import (
    REGISTRY,
    q_dd_incremental_labels,
    q_pipe_export,
    q_pipe_prepare,
    q_st_ann_serve,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001; driver checks rows>0.

    Two-part smoke (VERDICT r7 item 8):

    1. **Ingest-then-serve** — the persisted-artifact contract end to end:
       ``q_st_ann_serve`` builds the shared IVF index on first use and
       STREAMS probe queries against it (add-vs-train on the vector
       side); ``q_dd_incremental_labels`` builds the LSH band index and
       assigns cluster labels to an arriving batch WITHOUT re-clustering
       the corpus (the same contract on the dedup side).  Both are forced
       eagerly and must return rows — a broken index build or probe fails
       the smoke even though the returned DataFrame comes from part 2.
    2. **Write path** — ``q_pipe_export`` materializes the training-shard
       artifact (pack + epoch shuffle + interleave + leak-safe split,
       written shard-partitioned, VERDICT r9 item 5) and re-reads it; the
       per-shard verification must return rows.
    3. **Flagship query** — the end-to-end prep pipeline
       (``q_pipe_prepare``): URL dedup → scan-side language+quality
       scoring → filters → MinHash star-edge near-dup clustering over the
       survivors → cluster-canonical docs with token counts, one composed
       plan."""
    sf = "/root/testdata/sf0.001"
    served = q_st_ann_serve(spark, sf).count()
    if served <= 0:
        raise RuntimeError("smoke: streaming ANN probe of the IVF index returned 0 rows")
    labeled = q_dd_incremental_labels(spark, sf).count()
    if labeled <= 0:
        raise RuntimeError("smoke: incremental label assignment returned 0 rows")
    exported = q_pipe_export(spark, sf).count()
    if exported <= 0:
        raise RuntimeError("smoke: training-shard export verification returned 0 rows")
    return q_pipe_prepare(spark, sf)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query with an oracle, driver window first (the
    oracle-less sketch arms are bench-only)."""
    return {name: q.fn for name, q in REGISTRY.items() if q.sql is not None}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirror for each ``queries()`` entry."""
    return {name: q.sql for name, q in REGISTRY.items() if q.sql is not None}
