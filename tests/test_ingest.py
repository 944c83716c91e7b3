"""Pipeline tests (SURVEY.md §5.4): sanitize → ingest → bronze CTAS
round-trip on the Yelp-shape fixtures, schema contract vs registry."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from gmt_dbt_spark.sources.readers import (
    detect_json_layout,
    find_files,
    scan_csv,
    scan_json,
    schema_from_json_file,
)
from gmt_dbt_spark.sources.sinks import StagingTable, sink_ctas, sink_overwrite

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def test_detect_json_layout():
    assert detect_json_layout(f"{FIXTURES}/yelp_tip.ndjson") == "ndjson"
    assert detect_json_layout(f"{FIXTURES}/yelp_business_array.json") == "array"


def test_find_files():
    files = find_files(FIXTURES, ".csv")
    assert {os.path.basename(f) for f in files} == {
        "lv_precipitation.csv",
        "lv_temperature.csv",
        "seed_lookup.csv",  # dbt seed fixture (plans/snapshots.py)
    }


def test_nested_json_inference(spark):
    df = scan_json(spark, f"{FIXTURES}/yelp_business.ndjson")
    assert isinstance(df.schema["attributes"].dataType, T.StructType)
    assert isinstance(df.schema["hours"].dataType, T.StructType)
    assert df.count() == 1000


def test_declared_schema_matches_registry(spark):
    schema, keys = schema_from_json_file(f"{FIXTURES}/registry.json", "yelp_user")
    df = scan_json(spark, f"{FIXTURES}/yelp_user.ndjson", schema=schema)
    assert df.schema == schema
    assert keys == ["user_id"]


def test_csv_jagged_rows_null_filled(spark):
    df = scan_csv(spark, f"{FIXTURES}/lv_precipitation.csv")
    jagged = df.filter(df["`precipitation normal inch`"].isNull())
    assert jagged.count() == 5  # the 5 planted short rows


def test_corrupt_records_quarantined(spark):
    """PERMISSIVE scan: 47 good rows parse, 13 malformed lines land
    in _corrupt_record (none dropped, job never fails)."""
    from pyspark.sql import types as T
    import pyspark.sql.functions as F
    from gmt_dbt_spark.sources.readers import scan_json

    fx = os.path.join(FIXTURES, "corrupt_records.ndjson")
    schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("score", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = scan_json(spark, fx, schema=schema).cache()
    assert df.filter(F.col("_corrupt_record").isNull()).count() == 47
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 13
    df.unpersist()


def test_bronze_roundtrip(spark, tmp_path):
    src = scan_json(spark, f"{FIXTURES}/yelp_tip.ndjson")
    out = str(tmp_path / "bronze_tip")
    bronze = sink_ctas(spark, src, out)
    assert bronze.count() == src.count()
    assert bronze.schema == src.schema  # lossless round-trip


def test_overwrite_truncates(spark, tmp_path):
    src = scan_json(spark, f"{FIXTURES}/yelp_tip.ndjson")
    out = str(tmp_path / "t")
    sink_overwrite(src, out)
    sink_overwrite(src, out)
    assert spark.read.parquet(out).count() == src.count()  # not doubled


def test_staging_drops(spark, tmp_path):
    src = scan_json(spark, f"{FIXTURES}/upsert_batch_a.ndjson")
    p = str(tmp_path / "stage")
    with StagingTable(spark, src, p) as staged:
        assert staged.count() == 600
        assert os.path.exists(p)
    assert not os.path.exists(p)


def test_detect_json_layout_object_and_ndjson(tmp_path):
    """Multi-line single-object JSON (config-style files) must route
    to the multiLine reader; NDJSON stays line-per-record; a
    one-line array is an array."""
    from gmt_dbt_spark.sources.readers import detect_json_layout

    nd = tmp_path / "a.ndjson"
    nd.write_text('{"a": 1}\n{"a": 2}\n')
    obj = tmp_path / "b.json"
    obj.write_text('{\n  "k": "v",\n  "n": 3\n}\n')
    arr = tmp_path / "c.json"
    arr.write_text('[{"a": 1}, {"a": 2}]')
    assert detect_json_layout(str(nd)) == "ndjson"
    assert detect_json_layout(str(obj)) == "object"
    assert detect_json_layout(str(arr)) == "array"


def test_ingest_directory_end_to_end(spark, tmp_path):
    """The reference's whole main.py lifecycle: discover (json +
    ndjson + csv), sanitize, write parquet staging tables — every
    fixture file lands as a readable table with sanitized columns."""
    import os
    import re

    from gmt_dbt_spark.sources.readers import ingest_directory

    out = str(tmp_path / "wh")
    n = ingest_directory(spark, "/root/repo/fixtures", out)
    assert n >= 12
    tables = sorted(os.listdir(out))
    assert "yelp_business" in tables and "lv_temperature" in tables
    biz = spark.read.parquet(os.path.join(out, "yelp_business"))
    assert biz.count() > 0
    for c in biz.columns:
        assert re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c), c


def test_ingest_directory_names_the_failing_file(spark, tmp_path):
    """One file that cannot load (an empty CSV has no columns to
    write) fails the whole ingest, and the error names that file
    even though the files load on parallel threads."""
    import shutil

    import pytest

    from gmt_dbt_spark.sources.readers import ingest_directory

    src = tmp_path / "src"
    src.mkdir()
    for f in ("yelp_tip.ndjson", "yelp_user.ndjson", "lv_temperature.csv"):
        shutil.copy(os.path.join(FIXTURES, f), src / f)
    bad = src / "empty_feed.csv"
    bad.write_text("")
    with pytest.raises(RuntimeError, match=str(bad)):
        ingest_directory(spark, str(src), str(tmp_path / "wh"))


def test_cli_ingest_then_run_compose(spark, tmp_path):
    """The two CLI surfaces must compose like the reference lifecycle
    (main.py ingest -> dbt run over the same dataset): a model whose
    source is a table the `ingest` subcommand just wrote must resolve
    — `run` registers stg_* views from the warehouse dir, not only
    from the built-in sf-dir catalog."""
    import json

    from gmt_dbt_spark.__main__ import main

    wh = str(tmp_path / "wh")
    assert main(["ingest", FIXTURES, wh]) == 0

    mdir = tmp_path / "models"
    mdir.mkdir()
    (mdir / "sources.json").write_text(
        json.dumps({"stg.yelp_tip": "stg_yelp_tip"})
    )
    (mdir / "tip_counts.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "SELECT business_id, COUNT(*) AS n FROM "
        "{{ source('stg', 'yelp_tip') }} GROUP BY business_id"
    )
    assert main(["run", str(mdir), wh]) == 0
    out = spark.read.parquet(str(tmp_path / "wh" / "tip_counts"))
    assert out.count() > 0
