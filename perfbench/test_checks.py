"""Tests of the benchmark's own output checks and generators (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.stream_ingest import check_stream_output


def _write_batch(out_dir: str, batch: int, source: str, rows: int) -> None:
    part = os.path.join(out_dir, f"_batch={batch}", "_date=2024-01-01")
    os.makedirs(part, exist_ok=True)
    pq.write_table(
        pa.table({"event_id": [str(i) for i in range(rows)],
                  "_source_file": [f"file:///in/{source}"] * rows}),
        os.path.join(part, f"part-{source}.parquet"),
    )


def test_stream_check_accepts_complete_output(tmp_path):
    out = str(tmp_path / "out")
    _write_batch(out, 0, "a.ndjson", 3)
    _write_batch(out, 1, "b.ndjson", 2)
    committed, problems = check_stream_output(out, {"a.ndjson": 3, "b.ndjson": 2})
    assert problems == []
    assert committed == {"a.ndjson": 0, "b.ndjson": 1}


def test_stream_check_flags_missing_batch_partition(tmp_path):
    # the data-loss defect: a later batch overwrote an earlier _batch= partition
    out = str(tmp_path / "out")
    _write_batch(out, 0, "a.ndjson", 3)
    _write_batch(out, 1, "b.ndjson", 2)
    shutil.rmtree(os.path.join(out, "_batch=0"))
    committed, problems = check_stream_output(out, {"a.ndjson": 3, "b.ndjson": 2})
    assert committed == {"b.ndjson": 1}
    assert problems == ["a.ndjson: 0 rows, expected 3"]


def test_stream_check_flags_file_in_two_batches(tmp_path):
    out = str(tmp_path / "out")
    _write_batch(out, 0, "a.ndjson", 3)
    _write_batch(out, 1, "a.ndjson", 3)
    committed, problems = check_stream_output(out, {"a.ndjson": 3})
    assert committed == {}
    assert problems == ["a.ndjson written by batches [0, 1]"]


def test_generators_are_seeded(tmp_path):
    a = gen.drop_zone(str(tmp_path / "a"), 7, (1, 1, 1), size_mb=0.05)
    b = gen.drop_zone(str(tmp_path / "b"), 7, (1, 1, 1), size_mb=0.05)
    for pa_, pb_ in zip(sorted(a["lines"]), sorted(b["lines"])):
        with open(pa_, "rb") as fa, open(pb_, "rb") as fb:
            assert fa.read() == fb.read()
    assert a["today"] == b["today"]
    assert sum(a["lines"].values()) == sum(b["lines"].values()) > 0
