"""Seeded input generators for the benchmark.

Every generator takes the workload seed and writes plain files; the
engine only ever sees those files.  The same seed gives
byte-identical inputs.

- :func:`drop_zone` — the reference-shaped NDJSON drop zone for
  ``pipeline_batch``: ~3.5 MB files (inside ``validate_files``' ±50%
  window) named ``yyyy-mm-dd-...ndjson`` over three dates, one of them in
  the past (orphan flush), plus one invalid file for quarantine.
- :func:`stream_files` — pre-staged NDJSON files for ``stream_ingest``;
  arrivals are renames of these files into the watched directory.
- :func:`tables` — the parquet tables the registry queries read, in the
  shapes and row counts of the engine's sf0.01 test data.
- :func:`reports` — Lambda- and Glue-style execution report JSON for the
  six report queries, with the values the queries must return.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

FILE_MB = 3.5
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_OS = ["android", "ios", "web", "linux"]

# Explicit schema of the drop-zone records (streaming sources cannot infer).
RECORD_SCHEMA = (
    "event_id STRING, ts STRING, user_id BIGINT, event_type STRING, "
    "amount DOUBLE, device STRUCT<os: STRING, version: STRING>, "
    "tags ARRAY<STRING>, session STRING"
)


def _bodies(rng: np.random.Generator, n: int, day: str) -> list[str]:
    """``n`` record bodies (every field but ``event_id``), ~180 bytes each."""
    users = rng.integers(0, 1_000_000, n)
    kinds = rng.integers(0, len(_EVENT_TYPES), n)
    amounts = np.round(rng.uniform(0.0, 500.0, n), 2)
    secs = rng.integers(0, 86_400_000, n)
    oses = rng.integers(0, len(_OS), n)
    vers = rng.integers(0, 100, n)
    sess = rng.integers(0, 2**62, n)
    return [
        f'"ts":"{day}T{s // 3_600_000:02d}:{s // 60_000 % 60:02d}:'
        f'{s // 1000 % 60:02d}.{s % 1000:03d}Z","user_id":{u},'
        f'"event_type":"{_EVENT_TYPES[k]}","amount":{a},'
        f'"device":{{"os":"{_OS[o]}","version":"{v // 10}.{v % 10}"}},'
        f'"tags":["t{k}","u{u % 7}"],"session":"{x:016x}"}}'
        for u, k, a, s, o, v, x in zip(
            users.tolist(), kinds.tolist(), amounts.tolist(), secs.tolist(),
            oses.tolist(), vers.tolist(), sess.tolist())
    ]


class RecordWriter:
    """Writes NDJSON files of ~200-byte records for one date.

    Record bodies come from a seeded pool of 65536 (large enough that
    parquet dictionary encoding does not collapse them); each line picks
    one at random and gets a unique ``event_id``, which keeps generation
    cheap next to the engine's work.
    """

    POOL = 65536

    def __init__(self, rng: np.random.Generator, day: str):
        self.rng = rng
        self.day = day
        self.bodies = _bodies(rng, self.POOL, day)
        self.body_len = sum(map(len, self.bodies[:1024])) / 1024

    def write(self, path: str, size_mb: float = FILE_MB) -> int:
        """Write one file of about ``size_mb``; returns its line count."""
        prefix = os.path.basename(path).rsplit(".", 1)[0]
        # '{"event_id":"<prefix>-<i>",' + body + newline
        n = int(size_mb * 1024 * 1024 / (self.body_len + len(prefix) + 22))
        bodies = self.bodies
        pick = self.rng.integers(0, self.POOL, n).tolist()
        with open(path, "w") as f:
            f.write("".join(
                f'{{"event_id":"{prefix}-{i}",{bodies[j]}\n'
                for i, j in enumerate(pick)
            ))
        return n


def _day(base: dt.date, offset: int) -> str:
    return (base + dt.timedelta(days=offset)).isoformat()


def base_date(seed: int) -> dt.date:
    return dt.date(2024, 1, 1) + dt.timedelta(days=seed % 300)


def drop_zone(out_dir: str, seed: int, files_per_date: tuple[int, int, int],
              size_mb: float = FILE_MB) -> dict:
    """Write the ``pipeline_batch`` drop zone.

    ``files_per_date`` counts the valid files for yesterday (flushed as
    an orphan batch), today and tomorrow.  Returns ``today``, the valid
    file paths with their line counts, and the invalid file's path.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    today = base_date(seed)
    lines: dict[str, int] = {}
    writers = {}
    for offset, count in zip((-1, 0, 1), files_per_date):
        day = _day(today, offset)
        writers[offset] = RecordWriter(rng, day)
        for i in range(count):
            path = os.path.join(out_dir, f"{day}-events-{i:03d}.ndjson")
            lines[path] = writers[offset].write(path, size_mb)
    bad = os.path.join(out_dir, f"{_day(today, 0)}-events-bad.json")
    writers[0].write(bad, size_mb)
    return {"today": today.isoformat(), "lines": lines, "invalid": bad}


def stream_files(out_dir: str, seed: int, count: int, size_mb: float = FILE_MB) -> dict[str, int]:
    """Pre-stage ``count`` stream files; returns file name → line count."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    today = base_date(seed)
    writers = [RecordWriter(rng, _day(today, k)) for k in (0, 1)]
    out = {}
    for i in range(count):
        name = f"{writers[i % 2].day}-stream-{i:04d}.ndjson"
        out[name] = writers[i % 2].write(os.path.join(out_dir, name), size_mb)
    return out


# -- registry tables --------------------------------------------------------

_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_NOUN = ["bolt", "gear", "ring", "widget", "anvil", "rod", "plate", "gizmo"]


def _ts(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    hi = np.datetime64(end, "D").astype("datetime64[us]").astype(np.int64)
    days = rng.integers(0, (hi - lo) // 86_400_000_000 + 1, n)
    return (lo + days * 86_400_000_000).astype("datetime64[us]")


def tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write the registry tables at ``scale`` × the sf0.01 row counts.

    Distributions follow the engine's test data: uniform keys, the TPC-H
    enumerations and a 30-day event log over 150 users.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(1500 * scale), max(int(100 * scale), 10)
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_ev = int(10000 * scale)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        # whole quarters: sums of these are exact in binary floating
        # point, so Spark and DuckDB round aggregates identically
        return np.round(rng.uniform(lo, hi, n) * 4) / 4

    def ids(n):
        return np.arange(n, dtype=np.int64)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": ids(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    put("supplier", {
        "s_suppkey": ids(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": ids(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 400) / 4,
    })
    put("orders", {
        "o_orderkey": ids(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    put("lineitem", {
        "l_orderkey": np.repeat(ids(n_ord), per_order),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(901.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 4, n_li) / 32,  # 0 .. 0.094
        "l_tax": rng.integers(0, 6, n_li) / 64,  # 0 .. 0.078
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n_li),
    })
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    put("events", {
        "event_id": ids(n_ev),
        "ts": pa.array((start + offsets).astype("datetime64[us]")),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


# -- execution reports --------------------------------------------------------

def reports(out_dir: str, seed: int, n_lambda: int = 40, n_glue: int = 60) -> dict:
    """Write Lambda and Glue report JSON (one document per line) and
    return the directories plus the raw documents the checks replay."""
    rng = np.random.default_rng([seed, 4])
    lam_dir, glue_dir = os.path.join(out_dir, "lambda"), os.path.join(out_dir, "glue")
    os.makedirs(lam_dir, exist_ok=True)
    os.makedirs(glue_dir, exist_ok=True)
    day0 = dt.datetime.combine(base_date(seed), dt.time())

    def stamp(t: dt.datetime) -> str:
        return t.strftime("%Y-%m-%dT%H:%M:%S.%f")

    glue = []
    for i in range(n_glue):
        start = day0 + dt.timedelta(seconds=int(rng.integers(0, 5 * 86400)))
        dur = round(float(rng.uniform(5.0, 300.0)), 3)
        failed = rng.random() < 0.15
        glue.append({
            "report_id": f"g{i:04d}",
            "job_info": {
                "job_name": "etl", "job_run_id": f"jr{i:04d}",
                "start_time": stamp(start),
                "end_time": stamp(start + dt.timedelta(seconds=dur)),
                "duration_seconds": dur,
            },
            "processing_summary": {
                "manifest_processed": f"manifests/m{i:04d}.json",
                "batches_processed": 1,
                "records_processed": 0 if failed else int(rng.integers(1000, 200000)),
                "parquet_files_created": int(rng.integers(1, 20)),
                "errors_count": 1 if failed else 0,
                "status": "failed" if failed else "success",
            },
            "parquet_files": [],
            "error_message": f"boom {i}" if failed else None,
            "report_metadata": {"generated_at": stamp(start), "report_version": "1.0",
                                "environment": "bench"},
        })
    lam = []
    for i in range(n_lambda):
        start = day0 + dt.timedelta(seconds=int(rng.integers(0, 5 * 86400)))
        dur = round(float(rng.uniform(0.5, 60.0)), 3)
        n_err = int(rng.integers(0, 3)) if rng.random() < 0.2 else 0
        owned = [f"manifests/m{j:04d}.json" for j in range(i, n_glue + 5, n_lambda)]
        lam.append({
            "report_id": f"l{i:04d}",
            "execution_info": {"request_id": f"r{i}", "function_name": "manifest-lambda",
                               "function_version": "1", "memory_limit_mb": 512,
                               "log_group": "g", "log_stream": "s"},
            "execution_metrics": {
                "start_time": stamp(start),
                "end_time": stamp(start + dt.timedelta(seconds=dur)),
                "duration_seconds": dur,
                "remaining_time_ms": int(rng.integers(1000, 900000)),
            },
            "processing_summary": {
                "files_processed": int(rng.integers(0, 500)),
                "files_quarantined": int(rng.integers(0, 5)),
                "manifests_created": len(owned),
                "errors_count": n_err,
                "status": "partial" if n_err else "success",
            },
            "manifests": owned,
            "errors": [f"err {i}.{k}" for k in range(n_err)],
            "configuration": {"max_files_per_manifest": 10, "expected_file_size_mb": 3.5,
                              "size_tolerance_percent": 50.0,
                              "min_files_for_partial_batch": 1},
            "report_metadata": {"generated_at": stamp(start), "report_version": "1.0",
                                "environment": "bench"},
        })
    for path, docs in ((lam_dir, lam), (glue_dir, glue)):
        with open(os.path.join(path, "reports.json"), "w") as f:
            f.write("\n".join(json.dumps(d) for d in docs) + "\n")
    return {"lambda_dir": lam_dir, "glue_dir": glue_dir, "lambda": lam, "glue": glue}
