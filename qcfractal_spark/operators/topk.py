"""Top-k selection — global pages and per-group (queue-claim) top-k.

Reference shapes:
- O1: every query endpoint pages ``ORDER BY id DESC LIMIT n``
  (qcfractal/qcfractal/components/record_socket.py:330-332).
- O2: task claim — per compute-tag ``ORDER BY compute_priority DESC,
  sort_date ASC, id ASC LIMIT remaining`` (components/tasks/socket.py:303-358).
- O3: service start batch (components/services/socket.py:256-278).

Spark-first: a global ``orderBy().limit(k)`` compiles to
TakeOrderedAndProject (per-partition heap + merge, no full sort); per-group
top-k is ``row_number`` over a window, which shuffles once on the group key
— the scale-safe formulation.  The *claim* transactional semantics
(FOR UPDATE SKIP LOCKED) are a scheduler concern handled by a single-writer
loop (streaming/queue.py); this module is the pure selection.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def group_rank(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    rank_col: str = "_rank",
) -> DataFrame:
    """``df`` plus ``rank_col``: each row's 1-based ``row_number`` within its
    group under ``order_cols`` — the unfiltered rank, for callers that read
    several cut-offs off one ranking."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w))


def per_group_topk(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "_rank",
    keep_rank: bool = False,
) -> DataFrame:
    """The first ``k`` rows of each group under ``order_cols``.  A filter
    right over the rank compiles to a map-side WindowGroupLimit, so the
    shuffle carries at most ``k`` rows per group per partition."""
    out = group_rank(df, group_cols, order_cols, rank_col).where(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def priority_claim_topk(
    tasks: DataFrame,
    k: int,
    tags: Sequence[str] | None = None,
    available_programs: Sequence[str] | None = None,
) -> DataFrame:
    """Claim-eligible top-k per tag (tasks/socket.py:303-358).

    Filters: available, tag in the manager's tags (``*`` claims any), and
    ``required_programs <@ manager.programs`` — the array-containment claim
    predicate (tasks/socket.py:332) expressed as ``forall + array_contains``
    (P7).  Ordering: priority DESC, sort_date ASC, id ASC.
    """
    df = tasks.where(F.col("available"))
    if tags is not None and "*" not in tags:
        df = df.where(F.col("compute_tag").isin(list(tags)))
    if available_programs is not None:
        avail = F.array(*[F.lit(p) for p in available_programs])
        df = df.where(
            F.forall(F.col("required_programs"), lambda x: F.array_contains(avail, x))
        )
    return per_group_topk(
        df,
        ["compute_tag"],
        [F.col("compute_priority").desc(), F.col("sort_date").asc(), F.col("id").asc()],
        k,
    )
