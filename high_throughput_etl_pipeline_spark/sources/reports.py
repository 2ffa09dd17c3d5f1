"""Execution-report tables (SURVEY.md §2.1 S6/S7).

The reference declares Athena external tables over JSON execution reports
(Athena.sql:43-110) written by the Lambda (lambda_manifest_builder.py:254-359)
and the Glue job (glue_batch_job.py:218-299).  Here the same nested DDL
becomes explicit Spark schemas + temp views.  A report is a dict, written
driver-side as one JSON file, as the Glue job writes each report as one S3
object: a one-row report is no reason to launch a Spark job.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

# Athena.sql:43-78 (lambda_execution_reports) re-expressed as Spark DDL.
LAMBDA_REPORT_SCHEMA = """
    report_id STRING,
    execution_info STRUCT<
        request_id: STRING, function_name: STRING, function_version: STRING,
        memory_limit_mb: INT, log_group: STRING, log_stream: STRING>,
    execution_metrics STRUCT<
        start_time: STRING, end_time: STRING,
        duration_seconds: DOUBLE, remaining_time_ms: INT>,
    processing_summary STRUCT<
        files_processed: INT, files_quarantined: INT,
        manifests_created: INT, errors_count: INT, status: STRING>,
    manifests ARRAY<STRING>,
    errors ARRAY<STRING>,
    configuration STRUCT<
        max_files_per_manifest: INT, expected_file_size_mb: DOUBLE,
        size_tolerance_percent: DOUBLE, min_files_for_partial_batch: INT>,
    report_metadata STRUCT<
        generated_at: STRING, report_version: STRING, environment: STRING>
"""

# Athena.sql:81-110 (glue_execution_reports).
GLUE_REPORT_SCHEMA = """
    report_id STRING,
    job_info STRUCT<
        job_name: STRING, job_run_id: STRING, start_time: STRING,
        end_time: STRING, duration_seconds: DOUBLE>,
    processing_summary STRUCT<
        manifest_processed: STRING, batches_processed: INT,
        records_processed: BIGINT, parquet_files_created: INT,
        errors_count: INT, status: STRING>,
    parquet_files ARRAY<STRING>,
    error_message STRING,
    report_metadata STRUCT<
        generated_at: STRING, report_version: STRING, environment: STRING>
"""


def register_report_views(
    spark: SparkSession,
    lambda_reports_path: str | None = None,
    glue_reports_path: str | None = None,
    lambda_df: DataFrame | None = None,
    glue_df: DataFrame | None = None,
) -> None:
    """S7 — report JSON dirs → `lambda_reports` / `glue_reports` temp views.

    Accepts either paths (JSON dirs, like the reference's logs/lambda/,
    logs/glue/ prefixes) or pre-built DataFrames (tests).
    """
    if lambda_df is None and lambda_reports_path:
        lambda_df = spark.read.schema(LAMBDA_REPORT_SCHEMA).json(lambda_reports_path)
    if glue_df is None and glue_reports_path:
        glue_df = spark.read.schema(GLUE_REPORT_SCHEMA).json(glue_reports_path)
    if lambda_df is not None:
        lambda_df.createOrReplaceTempView("lambda_reports")
    if glue_df is not None:
        glue_df.createOrReplaceTempView("glue_reports")


def require_local_path(path: str) -> str:
    """``path`` unchanged if it is a local path; a ``ValueError`` for a URI
    such as ``s3a://bucket/logs``, which local file calls would turn into
    a directory named after the scheme."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:/", path):
        raise ValueError(f"reports must go to a local path, not {path!r}")
    return path


def write_report(report: dict, path: str) -> None:
    """S6 — write one execution report as a one-line JSON file in the
    local directory ``path`` (a URI raises ``ValueError``).

    Atomic: the doc goes to a ``.``-prefixed name, which Spark's file
    listing skips, and is renamed into place, so a reader of the directory
    never sees a partial report."""
    os.makedirs(require_local_path(path), exist_ok=True)
    name = f"report-{uuid.uuid4().hex}.json"
    tmp = os.path.join(path, f".{name}")
    with open(tmp, "w") as f:
        f.write(json.dumps(report) + "\n")
    os.replace(tmp, os.path.join(path, name))


def build_run_report(
    manifest_path: str,
    records_processed: int,
    parquet_files_created: int,
    errors: list[str],
    started_at: str,
    ended_at: str,
    duration_seconds: float,
    environment: str = "dev",
) -> dict:
    """Build a glue-style run report (glue_batch_job.py:253-276 parity),
    shaped as ``GLUE_REPORT_SCHEMA``."""
    status = (
        "success"
        if not errors
        else ("partial_success" if records_processed > 0 else "failed")
    )
    return {
        "report_id": uuid.uuid4().hex[:8],
        "job_info": {
            "job_name": "high-throughput-etl-pipeline-spark",
            "job_run_id": str(uuid.uuid4()),
            "start_time": started_at,
            "end_time": ended_at,
            "duration_seconds": float(duration_seconds),
        },
        "processing_summary": {
            "manifest_processed": manifest_path,
            "batches_processed": 1,
            "records_processed": records_processed,
            "parquet_files_created": parquet_files_created,
            "errors_count": len(errors),
            "status": status,
        },
        "parquet_files": [],
        "error_message": "; ".join(e[-1000:] for e in errors) if errors else None,
        "report_metadata": {
            "generated_at": ended_at,
            "report_version": "1.0",
            "environment": environment,
        },
    }
