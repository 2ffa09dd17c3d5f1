"""Core transform tests: the correctness oracle of SURVEY.md §5 —
row-count conservation, column set = input ∪ metadata, all-string types,
date partitioning, canonical struct rendering."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from high_throughput_etl_pipeline_spark.functions.scalar import (
    cast_all_to_string,
    with_metadata_columns,
)
from high_throughput_etl_pipeline_spark.ingest import process_manifest, transform
from high_throughput_etl_pipeline_spark.sources.ndjson import (
    read_ndjson,
    resolve_manifest,
)


def test_row_count_conservation_and_schema(spark, ndjson_dir, tmp_path):
    _, paths = ndjson_dir
    out = str(tmp_path / "out")
    n = process_manifest(spark, paths, out)
    assert n == 6 * 20
    result = spark.read.parquet(out)
    assert result.count() == n
    # column set = input ∪ {_processing_timestamp, _source_file} (+ _date)
    assert set(result.columns) == {
        "id", "v", "flag", "nested",
        "_processing_timestamp", "_source_file", "_date",
    }
    # all data columns are string (the storage semantic)
    for f in result.schema.fields:
        if f.name != "_date":
            assert f.dataType.simpleString() == "string", f.name


def test_event_time_date_partitioning(spark, ndjson_dir, tmp_path):
    _, paths = ndjson_dir
    out = str(tmp_path / "out")
    process_manifest(spark, paths, out)
    dates = {
        str(r[0])
        for r in spark.read.parquet(out).select("_date").distinct().collect()
    }
    # dates come from the FILE NAME (event time), not processing time
    assert dates == {"2026-08-12", "2026-08-10"}


def test_struct_cast_is_canonical_json(spark):
    df = spark.createDataFrame(
        [(1, {"a": 2, "b": [1, 2]})],
        "id INT, nested STRUCT<a: INT, b: ARRAY<INT>>",
    )
    out = cast_all_to_string(df).collect()[0]
    assert out["id"] == "1"
    assert json.loads(out["nested"]) == {"a": 2, "b": [1, 2]}


def test_metadata_columns(spark, ndjson_dir):
    _, paths = ndjson_dir
    df = with_metadata_columns(read_ndjson(spark, paths))
    row = df.select("_source_file", "_processing_timestamp").first()
    assert row["_source_file"].endswith(".ndjson")
    assert row["_processing_timestamp"] is not None


def test_resolve_manifest_reference_shape():
    doc = {
        "fileLocations": [
            {"URIPrefixes": ["s3://b/a.ndjson", "s3://b/b.ndjson"]},
            {"URIPrefixes": ["s3://b/c.ndjson"]},
        ]
    }
    assert resolve_manifest(doc) == [
        "s3://b/a.ndjson", "s3://b/b.ndjson", "s3://b/c.ndjson",
    ]
    assert resolve_manifest(json.dumps(doc)) == resolve_manifest(doc)


def test_transform_single_pass_plan(spark, ndjson_dir):
    """The shaped plan must not force extra jobs: transform is lazy and
    contains no caches/counts (unlike the reference's double action)."""
    _, paths = ndjson_dir
    shaped = transform(read_ndjson(spark, paths))
    plan = shaped._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan


def test_corrupt_record_routing(spark, tmp_path):
    """Row-level quarantine: malformed lines land in _corrupt_record
    instead of failing the batch (the reference could only quarantine
    whole files)."""
    from high_throughput_etl_pipeline_spark.sources.ndjson import (
        read_ndjson,
        split_corrupt,
    )

    p = tmp_path / "2026-08-12-mixed.ndjson"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "v": "b"}\n'
        '{"id": 3, "v":\n'
    )
    df = read_ndjson(
        spark, [str(p)], schema="id BIGINT, v STRING", keep_corrupt=True
    )
    good, bad = split_corrupt(df)
    assert good.count() == 2
    assert {r["id"] for r in good.collect()} == {1, 2}
    assert bad.count() == 2
    assert all(r["_source_file"].endswith(".ndjson") for r in bad.collect())


def test_schema_drift_column_union(spark, tmp_path):
    """§7.3.4 policy: manifests with different JSON shapes writing to one
    partition → reads union the columns; missing fields surface as NULL.
    All-string canonicalization makes type conflicts impossible."""
    from high_throughput_etl_pipeline_spark.sources.parquet_sink import (
        read_output,
    )

    d = tmp_path / "drift"
    d.mkdir()
    a = str(d / "2026-08-12-a.ndjson")
    b = str(d / "2026-08-12-b.ndjson")
    with open(a, "w") as f:
        for j in range(5):
            f.write(json.dumps({"id": f"a{j}", "old_field": j}) + "\n")
    with open(b, "w") as f:
        for j in range(5):
            # drifted shape: old_field gone, new_field (+ a nested struct,
            # which canonicalizes to a string) appeared
            f.write(
                json.dumps(
                    {"id": f"b{j}", "new_field": str(j), "meta": {"k": j}}
                )
                + "\n"
            )
    out = str(tmp_path / "out")
    assert process_manifest(spark, [a], out, date_prefix="2026-08-12") == 5
    assert process_manifest(spark, [b], out, date_prefix="2026-08-12") == 5

    merged = read_output(spark, out)
    assert {"id", "old_field", "new_field", "meta"} <= set(merged.columns)
    assert merged.count() == 10
    rows = {r["id"]: r for r in merged.collect()}
    assert rows["a0"]["old_field"] == "0" and rows["a0"]["new_field"] is None
    assert rows["b0"]["new_field"] == "0" and rows["b0"]["old_field"] is None
    # a plain (mergeSchema=false) read of the same dir would drop one
    # shape's columns — the policy read is the defined behavior
    for f in merged.schema.fields:
        if f.name != "_date":
            assert f.dataType.simpleString() == "string", f.name


def test_read_ndjson_does_not_mutate_caller_schema(spark, tmp_path):
    """keep_corrupt must not mutate the caller's StructType (a reused
    schema object would grow duplicate _corrupt_record fields)."""
    from pyspark.sql import types as T

    p = str(tmp_path / "x.ndjson")
    open(p, "w").write('{"id": "1"}\nnot-json\n')
    schema = T.StructType([T.StructField("id", T.StringType())])
    for _ in range(2):  # second read re-uses the same object
        df = read_ndjson(spark, [p], schema=schema, keep_corrupt=True)
        assert df.columns.count("_corrupt_record") == 1
    assert len(schema.fields) == 1  # caller's object untouched


def test_compact_partition_reduces_files(spark, tmp_path):
    """Lakehouse maintenance: a fragmented date partition compacts to
    fewer files with identical rows; other partitions untouched."""
    import glob

    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.sources.parquet_sink import (
        compact_partition,
    )

    out = str(tmp_path / "out")
    df = spark.range(4000).select(
        F.col("id").cast("string").alias("id"),
        F.lit("2026-08-12").alias("_date"),
    )
    # fragment: tiny maxRecordsPerFile + high parallelism
    (
        df.repartition(16)
        .write.mode("append")
        .option("maxRecordsPerFile", 100)
        .partitionBy("_date")
        .parquet(out)
    )
    other = spark.range(50).select(
        F.col("id").cast("string").alias("id"),
        F.lit("2026-08-11").alias("_date"),
    )
    other.write.mode("append").partitionBy("_date").parquet(out)

    frag = glob.glob(f"{out}/_date=2026-08-12/*.parquet")
    assert len(frag) >= 16
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(advisory, None)
    n = compact_partition(spark, out, "2026-08-12")
    assert n == 4000
    # the compaction's advisory size must not outlive it in the session
    assert spark.conf.get(advisory, None) == before
    compacted = glob.glob(f"{out}/_date=2026-08-12/*.parquet")
    assert len(compacted) < len(frag)
    back = spark.read.parquet(out)
    assert back.filter(F.col("_date") == "2026-08-12").count() == 4000
    assert back.filter(F.col("_date") == "2026-08-11").count() == 50
    ids = [r["id"] for r in back.filter(F.col("_date") == "2026-08-12").collect()]
    assert len(set(ids)) == 4000


def test_read_csv_quarantine_and_roundtrip(spark, tmp_path):
    """CSV source mirrors the NDJSON contract: explicit schema,
    malformed rows take the row-level quarantine (shared
    split_corrupt), good rows flow into the same sized sink."""
    from high_throughput_etl_pipeline_spark.sources.delimited import read_csv
    from high_throughput_etl_pipeline_spark.sources.ndjson import (
        split_corrupt,
    )

    f = tmp_path / "drop.csv"
    f.write_text(
        "id,kind,value\n"
        "1,a,10.5\n"
        "2,b,20.0\n"
        "not-a-number,c,xx,extra\n"  # malformed: wrong arity + types
        "4,d,40.25\n"
    )
    df = read_csv(
        spark,
        str(f),
        schema="id BIGINT, kind STRING, value DOUBLE",
        keep_corrupt=True,
    )
    good, bad = split_corrupt(df)
    assert sorted(r["id"] for r in good.collect()) == [1, 2, 4]
    assert bad.count() == 1
    assert "not-a-number" in bad.collect()[0]["_corrupt_record"]
    # TSV flavor
    t = tmp_path / "drop.tsv"
    t.write_text("id\tkind\n7\tx\n")
    tsv = read_csv(
        spark, str(t), schema="id BIGINT, kind STRING", delimiter="\t"
    )
    assert tsv.collect()[0]["id"] == 7


def test_orc_sink_parity(spark, tmp_path):
    """The sized/partitioned sink writes ORC with the same discipline
    as parquet: identical rows back, Hive date partitions, snappy."""
    import os

    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.sources.parquet_sink import (
        write_date_partitioned_parquet,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("k"),
        F.when(F.col("id") % 2 == 0, "2026-08-11")
        .otherwise("2026-08-12")
        .alias("_date"),
    )
    out = str(tmp_path / "orc_out")
    write_date_partitioned_parquet(
        df, out, date_col="_date", file_format="orc"
    )
    back = spark.read.orc(out)
    assert back.count() == 1000
    # partition discovery may type the dir values as DATE — compare as str
    assert {
        str(r["_date"]) for r in back.select("_date").distinct().collect()
    } == {"2026-08-11", "2026-08-12"}
    parts = [d for d in os.listdir(out) if d.startswith("_date=")]
    assert len(parts) == 2
    assert any(
        name.endswith(".orc")
        for d in parts
        for name in os.listdir(os.path.join(out, d))
    )


def test_process_manifest_csv_source(spark, tmp_path):
    """CSV manifests flow through the same single-pass pipeline: metadata
    columns, all-string cast, _date-partitioned sized parquet."""
    from high_throughput_etl_pipeline_spark.ingest import process_manifest

    f = tmp_path / "2026-08-12-drop.csv"
    f.write_text("id,kind\n" + "\n".join(f"{i},k" for i in range(50)) + "\n")
    out = str(tmp_path / "out")
    n = process_manifest(
        spark,
        [str(f)],
        out,
        schema="id BIGINT, kind STRING",
        source_format="csv",
    )
    assert n == 50
    df = spark.read.parquet(out)
    assert df.count() == 50
    assert all(
        fld.dataType.simpleString() == "string"
        for fld in df.schema.fields
        if fld.name != "_date"
    )
    assert {str(r["_date"]) for r in df.select("_date").distinct().collect()} == {
        "2026-08-12"
    }
    import pytest

    with pytest.raises(ValueError, match="source_format"):
        process_manifest(spark, [str(f)], out, source_format="xml")
