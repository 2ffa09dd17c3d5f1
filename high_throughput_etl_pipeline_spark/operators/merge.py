"""MERGE-shaped upsert over a partitioned parquet table.

The generic form of what `state/tracker.py` does for its own tables: an
idempotent, partition-bounded upsert (the reference's conditional-put /
update item pair, lambda_manifest_builder.py:645-705, generalized to any
keyed table).  On plain parquet this is read-modify-overwrite of ONLY the
partitions the updates touch (dynamic partition overwrite); on a
lakehouse the same plan maps 1:1 onto ``MERGE INTO`` — the join shape is
already merge-shaped, which is the point.

Semantics (per key):
- key in updates & in target  → updated row wins (matched-update)
- key in updates only         → inserted (not-matched-insert)
- key in target only          → unchanged

Scale bound: work is O(touched partitions), never O(table).  Updates
must carry the partition column; a cross-partition key move is two
operations (delete+insert) by design, exactly like Hive/Delta dynamic
overwrite semantics.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OPEN_END = "9999-12-31"


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key_col: str,
    attr_cols: list[str],
    as_of: str,
    from_col: str = "effective_from",
    to_col: str = "effective_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: apply one snapshot of
    ``updates`` (one row per key, new attribute values) to an SCD2
    history table ``dim`` as of date ``as_of``.

    Per key:
    - update with ANY attribute changed (null-safe compare) → the open
      row closes (``effective_to = as_of``, ``is_current = false``) and
      a new open row is inserted (``effective_from = as_of``)
    - update with identical attributes → no-op (the open row carries)
    - update for a key absent from ``dim`` → new open row
    - key without an update → carries
    History (non-current) rows always pass through untouched.  Open rows
    use the ``9999-12-31`` sentinel rather than NULL so validity-range
    predicates (``WHERE d BETWEEN effective_from AND effective_to``)
    need no null branch.

    Shape: history rows are a pass-through scan; current rows full-outer
    equi-join the update snapshot (broadcast when the snapshot is small;
    at 100 TB both sides bucket by key and the join is co-located), and
    each joined row emits its 1-or-2 output rows via one conditional
    array + ``inline`` — a single pass, no per-branch re-join, no
    window.  Writing the result is `merge_upsert`'s partition-bounded
    overwrite.  The closed+new pair generalizes the reference's
    conditional-update item pair (lambda_manifest_builder.py:645-705)
    from statuses to full attribute history.
    """
    as_of_d = F.lit(as_of).cast("date")
    open_d = F.lit(OPEN_END).cast("date")
    out_cols = [key_col, *attr_cols, from_col, to_col, current_col]

    history = dim.filter(~F.col(current_col)).select(*out_cols)
    current = dim.filter(F.col(current_col))
    upd = updates.select(
        F.col(key_col).alias("_uk"),
        *[F.col(c).alias(f"_u_{c}") for c in attr_cols],
    )
    j = current.join(upd, current[key_col] == upd["_uk"], "full_outer")

    changed = reduce(
        or_,
        [~F.col(c).eqNullSafe(F.col(f"_u_{c}")) for c in attr_cols],
    )

    def _row(key, attrs, frm, to, cur):
        return F.struct(
            key.alias(key_col),
            *[a.alias(c) for a, c in zip(attrs, attr_cols)],
            frm.alias(from_col),
            to.alias(to_col),
            cur.alias(current_col),
        )

    carry = _row(
        F.col(key_col),
        [F.col(c) for c in attr_cols],
        F.col(from_col),
        F.col(to_col),
        F.lit(True),
    )
    closed = _row(
        F.col(key_col),
        [F.col(c) for c in attr_cols],
        F.col(from_col),
        as_of_d,
        F.lit(False),
    )
    opened = _row(
        F.coalesce(F.col(key_col), F.col("_uk")),
        [F.col(f"_u_{c}") for c in attr_cols],
        as_of_d,
        open_d,
        F.lit(True),
    )
    rows = (
        F.when(F.col("_uk").isNull(), F.array(carry))
        .when(F.col(key_col).isNull(), F.array(opened))
        .when(~changed, F.array(carry))
        .otherwise(F.array(closed, opened))
    )
    return history.unionByName(j.select(F.inline(rows)).select(*out_cols))


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    schema: str | None = None,
) -> int:
    """Upsert ``updates`` into the parquet table at ``target_path``.

    Returns the number of rows written (upserted partitions' new
    contents).  Creates the table if absent.
    """
    import os

    updates = updates.dropDuplicates(key_cols)
    exists = os.path.isdir(target_path) and any(
        not n.startswith((".", "_")) for n in os.listdir(target_path)
    )
    if not exists:
        out = updates.localCheckpoint(eager=True)
        (
            out.repartition(partition_col)
            .write.mode("append")
            .partitionBy(partition_col)
            .parquet(target_path)
        )
        return out.count()

    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    target = reader.parquet(target_path)
    touched = [
        r[0]
        for r in updates.select(partition_col).distinct().collect()
    ]
    # partition-pruned slice of the target; everything else is untouched
    slice_ = target.filter(F.col(partition_col).isin(touched))
    keep = slice_.join(updates.select(key_cols), on=key_cols, how="left_anti")
    merged = keep.unionByName(updates).localCheckpoint(eager=True)
    n = merged.count()
    (
        merged.repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_path)
    )
    return n


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Row-level diff of two snapshots of the same table: per key,
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` plus which
    compared columns changed — the regression audit a pipeline runs
    against yesterday's output before publishing today's.

    One full-outer join on the key, one null-safe inequality per
    compared column (``NOT (a <=> b)``, so NULL→value and value→NULL
    count as changes), no windows.  Returns the key columns, ``status``,
    ``n_cols_changed``, and one boolean ``chg_<col>`` per compared
    column.  Aggregate downstream for the summary (`diff_summary`).
    """
    o = old.select(
        *[F.col(k).alias(f"_ko_{k}") for k in key_cols],
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_kn_{k}") for k in key_cols],
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(1).alias("_in_new"),
    )
    cond = reduce(
        lambda a, b: a & b,
        [
            F.col(f"_ko_{k}").eqNullSafe(F.col(f"_kn_{k}"))
            for k in key_cols
        ],
    )
    j = o.join(n, on=cond, how="full_outer")
    chg = [
        (~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))).alias(f"chg_{c}")
        for c in compare_cols
    ]
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            reduce(or_, [F.col(f"chg_{c}") for c in compare_cols]),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    with_chg = j.select(
        *[
            F.coalesce(F.col(f"_kn_{k}"), F.col(f"_ko_{k}")).alias(k)
            for k in key_cols
        ],
        "_in_old",
        "_in_new",
        *chg,
    )
    n_changed = reduce(
        lambda a, b: a + b,
        [
            F.when(
                F.col("_in_old").isNotNull()
                & F.col("_in_new").isNotNull()
                & F.col(f"chg_{c}"),
                1,
            ).otherwise(0)
            for c in compare_cols
        ],
    )
    return with_chg.select(
        *key_cols,
        status.alias("status"),
        n_changed.cast("int").alias("n_cols_changed"),
        *[
            (
                F.col("_in_old").isNotNull()
                & F.col("_in_new").isNotNull()
                & F.col(f"chg_{c}")
            ).alias(f"chg_{c}")
            for c in compare_cols
        ],
    )


def diff_summary(diff: DataFrame, compare_cols: list[str]) -> DataFrame:
    """One row per metric from a :func:`snapshot_diff` frame: the four
    status counts plus a per-column change count — the verdict table a
    publish gate reads.  One aggregation pass."""
    row = diff.agg(
        *[
            F.sum((F.col("status") == s).cast("long")).alias(f"_s_{s}")
            for s in ("added", "removed", "changed", "unchanged")
        ],
        *[
            F.sum(F.col(f"chg_{c}").cast("long")).alias(f"_c_{c}")
            for c in compare_cols
        ],
    )
    metrics = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("metric"),
                    F.coalesce(F.col(f"_s_{s}"), F.lit(0)).alias("n_rows"),
                )
                for s in ("added", "removed", "changed", "unchanged")
            ],
            *[
                F.struct(
                    F.lit(f"changed:{c}").alias("metric"),
                    F.coalesce(F.col(f"_c_{c}"), F.lit(0)).alias("n_rows"),
                )
                for c in compare_cols
            ],
        )
    )
    return row.select(metrics.alias("_m")).select(
        F.col("_m.metric").alias("metric"),
        F.col("_m.n_rows").cast("bigint").alias("n_rows"),
    )
