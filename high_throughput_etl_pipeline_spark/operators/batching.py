"""Fixed-size batching — manifest chunking as a window op (SURVEY.md O4).

The reference splits the pending file list of one date into groups of
``MAX_FILES_PER_MANIFEST`` driver-side (lambda_manifest_builder.py:1029-1070),
dropping a trailing partial batch unless orphan-flushing.  Here it's a
window function: deterministic, distributed, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MAX_FILES_PER_MANIFEST = 10  # dev default; 100 in prod (terraform vars)
MIN_FILES_FOR_PARTIAL_BATCH = 1


def assign_batches(
    files: DataFrame,
    batch_size: int = MAX_FILES_PER_MANIFEST,
    date_col: str = "date_prefix",
    order_col: str = "file_path",
    allow_partial: bool | Column = False,
    min_partial: int = MIN_FILES_FOR_PARTIAL_BATCH,
) -> DataFrame:
    """Assign `batch_id` per date; filter incomplete trailing batches.

    `batch_id = floor((row_number-1)/batch_size)` within each date —
    ordering by ``order_col`` makes batch assignment deterministic (the
    reference iterated DynamoDB query order).  With ``allow_partial=False``
    only full batches survive (builder.py:1055-1062); the orphan-flush path
    passes ``allow_partial=True`` with threshold ``min_partial``
    (builder.py:737-746).  ``allow_partial`` may also be a boolean Column
    over ``date_col``, deciding per date: that is the pipeline's form, one
    pass that batches today's full batches and flushes stale dates'
    partial ones.  A bool is the same as its literal Column.

    Both windows partition by date, so the batch sizes come out of the
    same shuffle as the numbering.
    """
    w = Window.partitionBy(date_col).orderBy(order_col)
    batched = files.withColumn(
        "batch_id", F.floor((F.row_number().over(w) - 1) / batch_size)
    )
    batched = batched.withColumn(
        "_batch_n", F.count(F.lit(1)).over(Window.partitionBy(date_col, "batch_id"))
    )
    threshold = F.when(F.lit(allow_partial), min_partial).otherwise(batch_size)
    return batched.filter(F.col("_batch_n") >= threshold).drop("_batch_n")
