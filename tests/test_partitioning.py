"""Partitioned-write + partition-pruning: the events table layout story.

Asserts the three things that matter at 100 TB:
1. the day-filter appears as a PartitionFilter in the scan (directory
   pruning at planning time, not row filtering at runtime),
2. the pruned scan touches strictly fewer files than the full table,
3. results are identical to filtering the unpartitioned source.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from simple_etl_pipeline_spark.operators.partitioning import (
    overwrite_day,
    read_events_day,
    write_events_by_date,
)
from simple_etl_pipeline_spark.operators.planaudit import formatted_plan
from simple_etl_pipeline_spark.schemas import load_table


@pytest.fixture(scope="module")
def events_path(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("part") / "events_by_date")
    write_events_by_date(spark, sf_dir, out)
    return out


def _some_day(spark, sf_dir) -> str:
    row = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .groupBy("d")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    return str(row["d"])


def test_partition_filter_in_plan(spark, sf_dir, events_path):
    day = _some_day(spark, sf_dir)
    plan = formatted_plan(read_events_day(spark, events_path, day))
    assert "PartitionFilters" in plan
    # The predicate must live in PartitionFilters (directory pruning),
    # not only in the data-filter section.
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "event_date" in pf_line and pf_line.count("[]") == 0


def test_pruned_scan_reads_fewer_files(spark, sf_dir, events_path):
    # inputFiles() lists the unpruned file index, so measure at runtime:
    # input_file_name() only surfaces files the executed scan touched.
    day = _some_day(spark, sf_dir)
    all_files = spark.read.parquet(events_path).inputFiles()
    day_files = [
        r["f"]
        for r in read_events_day(spark, events_path, day)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    assert 0 < len(day_files) < len(all_files)
    assert all(f"event_date={day}" in f for f in day_files)


def test_pruned_results_match_unpartitioned(spark, sf_dir, events_path):
    day = _some_day(spark, sf_dir)
    expected = (
        load_table(spark, sf_dir, "events")
        .filter(F.to_date("ts") == F.lit(day))
        .count()
    )
    got = read_events_day(spark, events_path, day).count()
    assert got == expected > 0


def test_dynamic_overwrite_replaces_only_its_day(spark, sf_dir, tmp_path):
    # own copy of the layout: this test mutates it
    path = str(tmp_path / "events_rw")
    write_events_by_date(spark, sf_dir, path)
    day = _some_day(spark, sf_dir)
    total_before = spark.read.parquet(path).count()
    day_before = read_events_day(spark, path, day).count()

    # backfill: re-ingest that one day with a corrected (here: halved)
    # row set; every other day must be untouched
    corrected = (
        load_table(spark, sf_dir, "events")
        .filter(F.to_date("ts") == F.lit(day))
        .filter(F.col("event_id") % 2 == 0)
        .withColumn("event_date", F.to_date("ts"))
    )
    n_corrected = corrected.count()
    assert 0 < n_corrected < day_before
    overwrite_day(spark, path, corrected)

    assert read_events_day(spark, path, day).count() == n_corrected
    assert (
        spark.read.parquet(path).count()
        == total_before - day_before + n_corrected
    )


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from simple_etl_pipeline_spark.operators.partitioning import compact_partitions

    # build a deliberately fragmented layout (micro-batch-style: many
    # small files per day) by spreading each day across 8 write tasks
    src = str(tmp_path / "events_fragmented")
    dst = str(tmp_path / "events_compacted")
    (
        load_table(spark, sf_dir, "events")
        .withColumn("event_date", F.to_date("ts"))
        .repartition(8)
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(src)
    )
    files_before = len(spark.read.parquet(src).inputFiles())
    rows_before = spark.read.parquet(src).count()

    compact_partitions(spark, src, dst, files_per_partition=1)

    compacted = spark.read.parquet(dst)
    files_after = len(compacted.inputFiles())
    n_days = compacted.select("event_date").distinct().count()
    assert compacted.count() == rows_before
    # exactly one file per partition directory
    assert files_after == n_days < files_before
    # layout still prunes: one day reads one file
    day = _some_day(spark, sf_dir)
    day_files = (
        read_events_day(spark, dst, day)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert day_files == 1


def _files_covering(path, col, value):
    """Count parquet files whose footer min/max range covers `value`."""
    import glob

    import pyarrow.parquet as pq

    n = 0
    for f in sorted(glob.glob(path + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        lo = min(md.row_group(r).column(idx).statistics.min for r in range(md.num_row_groups))
        hi = max(md.row_group(r).column(idx).statistics.max for r in range(md.num_row_groups))
        if lo <= value <= hi:
            n += 1
    return n


def test_zorder_balances_file_skipping(spark, tmp_path):
    """On a 64x64 grid split into 16 files: linear sort on x serves x
    perfectly (1 file) but y terribly (all 16); z-order serves BOTH with
    ~4 files — the min/max footer stats actually prune on either column."""
    from simple_etl_pipeline_spark.operators.partitioning import write_zordered

    grid = spark.range(64 * 64).selectExpr("id % 64 AS x", "id DIV 64 AS y")

    linear = str(tmp_path / "linear")
    (
        grid.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(linear)
    )
    zpath = str(tmp_path / "zorder")
    write_zordered(grid, zpath, "x", "y", n_files=16)

    lin_x, lin_y = _files_covering(linear, "x", 10), _files_covering(linear, "y", 10)
    z_x, z_y = _files_covering(zpath, "x", 10), _files_covering(zpath, "y", 10)
    assert lin_x <= 2 and lin_y == 16          # linear: one column unserved
    assert z_x <= 6 and z_y <= 6               # z-order: both columns prune
    assert z_x + z_y < lin_x + lin_y

    # Round-trip: clustering must not change the data.
    back = spark.read.parquet(zpath)
    assert back.count() == 64 * 64
    assert back.selectExpr("sum(x)", "sum(y)").first() == grid.selectExpr(
        "sum(x)", "sum(y)"
    ).first()
