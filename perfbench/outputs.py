"""Reading what the engine wrote, independently of Spark."""

from __future__ import annotations

import os

import pyarrow.dataset as ds


def dataset(path: str) -> ds.Dataset:
    """A Spark-written parquet directory with Hive partitions.  The
    engine's partition columns start with ``_`` (``_date=``,
    ``_batch=``), which pyarrow would skip by default."""
    return ds.dataset(path, format="parquet", partitioning="hive",
                      ignore_prefixes=[".", "_SUCCESS", "_committed", "_started"])


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )
