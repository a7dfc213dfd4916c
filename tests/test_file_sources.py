from __future__ import annotations

from pyspark.sql import functions as F

from simple_etl_pipeline_spark.schemas import CLEAN_PRODUCT_SCHEMA
from simple_etl_pipeline_spark.sources.files import (
    read_csv,
    read_json,
    write_json,
    write_parquet,
)

ROWS = [
    ("A", 160000.0, 4.5, 3, "M", "Men", "t1"),
    ("B", 320000.0, 3.0, 2, "L", "Women", "t2"),
]


def test_csv_roundtrip_with_schema(spark, tmp_path):
    df = spark.createDataFrame(ROWS, CLEAN_PRODUCT_SCHEMA)
    path = str(tmp_path / "csv")
    df.write.option("header", True).csv(path)
    back = read_csv(spark, path, CLEAN_PRODUCT_SCHEMA)
    # file sources mark everything nullable; names+types must round-trip
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in CLEAN_PRODUCT_SCHEMA.fields
    ]
    assert sorted((r.title, r.colors) for r in back.collect()) == [("A", 3), ("B", 2)]


def test_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, CLEAN_PRODUCT_SCHEMA)
    path = str(tmp_path / "json")
    write_json(df, path)
    back = read_json(spark, path, CLEAN_PRODUCT_SCHEMA)
    assert back.count() == 2
    assert back.filter(F.col("title") == "A").first().price == 160000.0


def test_partitioned_parquet_prunes(spark, tmp_path):
    df = spark.createDataFrame(ROWS, CLEAN_PRODUCT_SCHEMA)
    path = str(tmp_path / "pq")
    write_parquet(df, path, partition_by=["gender"])
    back = spark.read.parquet(path).filter(F.col("gender") == "Men")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 1
    # partition filter must prune at the source, not post-scan
    assert "PartitionFilters: [isnotnull(gender" in plan or "gender=Men" in plan


def test_orc_roundtrip(spark, tmp_path):
    from simple_etl_pipeline_spark.sources.files import read_orc, write_orc

    df = spark.range(100).selectExpr(
        "id", "CAST(id * 2 AS DOUBLE) AS dbl", "concat('v', id) AS s"
    )
    path = str(tmp_path / "orc")
    write_orc(df, path)
    back = read_orc(spark, path, df.schema)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_orc_predicate_pushdown_in_plan(spark, tmp_path):
    from simple_etl_pipeline_spark.sources.files import read_orc, write_orc

    df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    path = str(tmp_path / "orc_pd")
    write_orc(df, path)
    plan = (
        read_orc(spark, path, df.schema)
        .filter("k = 3")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "k" in plan.split("PushedFilters")[1][:60]


def test_schema_evolution_additive_columns(spark, tmp_path):
    """Old files (pre-column) + new files read under the CURRENT schema:
    missing columns surface as nulls, no mergeSchema footer sweep."""
    from pyspark.sql import types as T

    from simple_etl_pipeline_spark.sources.files import read_parquet_evolved

    path = str(tmp_path / "evolved")
    old = spark.range(3).selectExpr("id", "CAST(id * 10 AS DOUBLE) AS v")
    old.write.parquet(path + "/batch=old")
    new = spark.range(3, 6).selectExpr(
        "id", "CAST(id * 10 AS DOUBLE) AS v", "concat('tag', id) AS tag"
    )
    new.write.parquet(path + "/batch=new")

    current = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    back = read_parquet_evolved(spark, path, current)
    rows = {r.id: (r.v, r.tag) for r in back.collect()}
    assert len(rows) == 6
    assert rows[0] == (0.0, None)      # pre-evolution file: tag is null
    assert rows[5] == (50.0, "tag5")   # post-evolution file: tag present


def test_schema_evolution_recursive_layout(spark, tmp_path):
    """Non-partitioned nested layout reads 0 rows by default (Spark only
    descends into key=value dirs) — recursiveFileLookup is the fix."""
    from pyspark.sql import types as T

    from simple_etl_pipeline_spark.sources.files import read_parquet_evolved

    path = str(tmp_path / "nested")
    spark.range(2).selectExpr("id").write.parquet(path + "/a")
    spark.range(2, 4).selectExpr("id", "concat('t', id) AS tag").write.parquet(
        path + "/b"
    )
    sch = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("tag", T.StringType())]
    )
    assert read_parquet_evolved(spark, path, sch).count() == 0
    back = read_parquet_evolved(spark, path, sch, recursiveFileLookup=True)
    assert back.count() == 4


def test_read_binary_files(spark, tmp_path):
    from simple_etl_pipeline_spark.sources.files import read_binary_files

    blobs = {"a.bin": b"\x00\x01\x02", "b.bin": b"hello", "c.txt": b"x"}
    for name, payload in blobs.items():
        (tmp_path / name).write_bytes(payload)
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in df.collect()}
    assert rows == {"a.bin": b"\x00\x01\x02", "b.bin": b"hello"}
    cols = set(df.columns)
    assert {"path", "modificationTime", "length", "content"} <= cols


def test_events_ts_unit_is_read_from_the_current_file(spark, tmp_path):
    """load_table reads events.ts by the unit the file holds NOW: a
    directory rewritten in place from TIMESTAMP(NANOS) to
    TIMESTAMP(MICROS) must not be read with the old unit (that shifts
    every epoch by 1000x, or fails the read)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.schemas import load_table

    ts = [dt.datetime(2024, 1, 1, 0, 0, 1), dt.datetime(2024, 3, 5, 12, 30)]
    path = tmp_path / "events.parquet"
    for unit in ("ns", "us"):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1, 2], pa.int64()),
                    "ts": pa.array(ts, pa.timestamp(unit)),
                    "user_id": pa.array([7, 8], pa.int64()),
                    "event_type": ["view", "buy"],
                    "value": [1.0, 2.0],
                    "props": ["{}", "{}"],
                }
            ),
            path,
        )
        back = load_table(spark, str(tmp_path), "events", parallelize=False)
        # compared as UTC text, so the driver's local zone cannot shift it
        got = sorted(
            r[0]
            for r in back.select(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
            ).collect()
        )
        assert got == [t.strftime("%Y-%m-%d %H:%M:%S") for t in ts], unit
