"""Keyed bulk access and insert-dedup — the reference's "socket helpers".

Reference shapes (qcfractal/qcfractal/db_socket/helpers.py):
- ``get_general``/``get_general_multi`` (:490-573): fetch rows for an id
  list, returning results **in input order** with None gaps for missing ids
  (missing_ok).  S2/O5 in SURVEY §2.
- ``insert_general`` (:317-406, 644-725): query-first bulk insert with
  dedup — find existing rows by their search columns, insert only the
  missing, and report per-input-row (inserted|existing) indices.  S3/J9/A16.
- ``insert_mixed_general`` (:816-888): ids are validated to exist, full
  objects are inserted.  S5.

Scale notes: the reference chunks id lists into 500-row IN clauses to bound
SQL statement size; in Spark the id list becomes a DataFrame and the lookup
a join, so no chunking is needed — for small lists Catalyst broadcasts the
ids to every executor (verify BroadcastHashJoin in the plan), for huge lists
it shuffles both sides on the key, either of which survives 100 TB.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..session import local_df


def bulk_get_ordered(
    spark: SparkSession,
    table: DataFrame,
    ids: Sequence[Any],
    id_col: str = "id",
    missing_ok: bool = True,
    max_pushdown_ids: int = 10_000,
) -> DataFrame:
    """Fetch rows by id preserving the caller's input order.

    Returns the table columns plus ``_input_idx``; with ``missing_ok`` the
    missing ids survive as all-NULL rows (the reference returns None in that
    slot).  Ordering is carried by an explicit index column (hard part #7 in
    SURVEY §7) because row order is never implicit in Spark.

    Scale shape: for driver-sized id lists (≤ ``max_pushdown_ids``) the id
    set is pushed as an IN filter to the parquet scan — the reader prunes to
    the matching row groups and only id-count rows ever leave the scan; the
    ordered/missing realignment is then a broadcast join between two
    id-sized frames.  (Broadcasting the ids as the build side of a right
    outer join is NOT a plan Spark supports — the hint silently degrades to
    a full-table SortMergeJoin, and broadcasting the fact table is an OOM.)
    Beyond the threshold the id list is fact-sized, so it goes through a
    plain shuffled join on the key — the only strategy that survives there.
    """
    # The id column's type comes from the table (string hashes and UUIDs
    # are keys too — a hardcoded long crashed createDataFrame for them).
    id_type = dict(table.dtypes)[id_col]
    ids_df = local_df(
        spark,
        [(i, v) for i, v in enumerate(ids)],
        schema=f"_input_idx long, {id_col} {id_type}",
    )
    how = "left" if missing_ok else "inner"
    if len(ids) <= max_pushdown_ids:
        filtered = table.where(F.col(id_col).isin(list(ids)))
        joined = ids_df.join(F.broadcast(filtered), on=id_col, how=how)
    else:
        joined = ids_df.join(table, on=id_col, how=how)
    other_cols = [c for c in table.columns if c != id_col]
    return joined.select(id_col, "_input_idx", *other_cols).orderBy("_input_idx")


def insert_dedup_classify(
    table: DataFrame,
    batch: DataFrame,
    search_cols: Sequence[str],
) -> tuple[DataFrame, DataFrame]:
    """Classify an input batch against a table by its natural key.

    Returns ``(to_insert, classified)`` where ``to_insert`` is the
    deduplicated missing rows (left_anti join — J9) and ``classified`` is the
    batch annotated with ``_existing: boolean`` (the reference's
    InsertMetadata inserted_idx/existing_idx split) and ``_dup_of`` count for
    in-batch duplicates (helpers.py:234-254 ``map_duplicates``).

    In-batch duplicate keys whose NON-key columns differ resolve
    arbitrarily (``dropDuplicates`` keeps an unspecified row — a DataFrame
    has no input order for "first" to mean anything, unlike the
    reference's ordered lists).  Callers that care which copy wins should
    pre-deduplicate with an explicit ordering column (the
    ``insert_mixed_classify`` path does exactly that via ``_input_idx``).
    """
    keys = list(search_cols)
    deduped = batch.dropDuplicates(keys)
    # ONE key projection feeds both the anti-join and the flag join, and
    # both joins are NULL-SAFE: dropDuplicates treats NULL keys as equal,
    # so the existence checks must too — with plain equi-joins a NULL-keyed
    # row matching an identical table row classified as new and was
    # re-appended on every insert_dedup call.
    table_keys = table.select(*keys).dropDuplicates(keys)
    to_insert = deduped.alias("b").join(
        table_keys.alias("t"), _null_safe_cond(keys), "left_anti"
    )
    from pyspark.sql import Window

    dup_w = Window.partitionBy(*keys)
    classified = (
        batch.alias("b")
        .join(
            table_keys.withColumn("_existing", F.lit(True)).alias("t"),
            _null_safe_cond(keys),
            "left",
        )
        .select("b.*", "_existing")
        .withColumn("_existing", F.coalesce(F.col("_existing"), F.lit(False)))
        .withColumn("_dup_of", F.count(F.lit(1)).over(dup_w) - F.lit(1))
    )
    return to_insert, classified


def _null_safe_cond(keys: Sequence[str]):
    """AND of null-safe equalities over aliases b (batch) / t (table)."""
    cond = None
    for k in keys:
        c = F.col(f"b.{k}").eqNullSafe(F.col(f"t.{k}"))
        cond = c if cond is None else (cond & c)
    return cond


def insert_mixed_classify(
    spark: SparkSession,
    table: DataFrame,
    items: Sequence[Any],
    id_col: str = "id",
    search_cols: Sequence[str] = ("name",),
) -> tuple[list[int], list[int], list[tuple[int, str]]]:
    """S5 — mixed id-or-object insert (helpers.py:816-888
    ``_insert_mixed_general_batch``): plain ints are ids that must already
    exist (missing ids are per-index errors), dicts are objects that go
    through the S3 query-first dedup insert; returns
    ``(inserted_idx, existing_idx, errors)`` over the *original* input
    indices, exactly the reference's InsertMetadata split.

    Composition of S2 (ordered bulk get for the id side) and S3
    (insert_dedup_classify for the object side); the returned metadata is
    input-sized, so collecting it mirrors the reference's driver-side
    bookkeeping — the heavy lookups are the two Spark joins.
    """
    id_items = [(i, v) for i, v in enumerate(items) if isinstance(v, int)]
    obj_items = [(i, v) for i, v in enumerate(items) if isinstance(v, dict)]
    errors: list[tuple[int, str]] = [
        (i, f"Data type for insert_mixed not understood: {type(v).__name__}")
        for i, v in enumerate(items)
        if not isinstance(v, (int, dict))
    ]
    inserted_idx: list[int] = []
    existing_idx: list[int] = []

    if id_items:
        # Probe a marker literal, not a data column: a present row whose
        # first non-id column is legitimately NULL must not read as
        # missing (and an id-only table has no other column to probe).
        got = bulk_get_ordered(
            spark,
            table.withColumn("_found", F.lit(True)),
            [v for _, v in id_items],
            id_col=id_col,
            missing_ok=True,
        ).collect()
        for (orig_idx, iid), row in zip(id_items, got):
            if row["_found"] is None:
                errors.append((orig_idx, f"id={iid} was not found in the database"))
            else:
                existing_idx.append(orig_idx)

    if obj_items:
        from pyspark.sql.types import LongType, StructField, StructType

        keys = list(search_cols)
        # The batch takes the table's own schema: inferring it from the
        # values fails when a column is None in every object.
        fields = table.schema.fields
        batch = local_df(
            spark,
            [(i, *(v.get(f.name) for f in fields)) for i, v in obj_items],
            StructType(
                [StructField("_input_idx", LongType())]
                + [StructField(f.name, f.dataType) for f in fields]
            ),
        )
        _, classified = insert_dedup_classify(table, batch, keys)
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy("_input_idx")
        marked = classified.withColumn("_first", F.row_number().over(w) == 1).collect()
        for row in sorted(marked, key=lambda r: r["_input_idx"]):
            if not row["_existing"] and row["_first"]:
                inserted_idx.append(row["_input_idx"])
            else:
                existing_idx.append(row["_input_idx"])

    return sorted(inserted_idx), sorted(existing_idx), sorted(errors)


def upsert_classify(
    table: DataFrame, batch: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """``INSERT ... ON CONFLICT DO NOTHING RETURNING`` classification (S4).

    The write itself is a storage concern (Delta MERGE when available); the
    query semantics — which input rows are new — is the anti-join.
    """
    keys = list(key_cols)
    return (
        batch.dropDuplicates(keys)
        .alias("b")
        .join(
            table.select(*keys)
            .dropDuplicates(keys)
            .withColumn("_conflict", F.lit(True))
            .alias("t"),
            _null_safe_cond(keys),  # NULL keys conflict with NULL keys
            "left",
        )
        .select("b.*", "_conflict")
        .withColumn("_inserted", F.col("_conflict").isNull())
        .drop("_conflict")
    )
