"""Date-partitioned table layout + partition pruning for time-series facts.

At 100 TB the events table is append-only and almost every query is
time-bounded, so the first deployment step is laying it out as
date-partitioned parquet: a day-bounded query then reads only the
matching partition directories (``PartitionFilters`` in the scan node,
files outside the range never opened) instead of scanning the full
table. This is the storage-layout complement to operators/bucketing.py
(which pre-shuffles for the join side); together they are the two
ingest-time layouts a 100 TB cluster relies on.

The reference loads its whole dataset into one pandas frame per run
(/root/reference/utils/extract.py:133) — partition layout has no
equivalent there; this is the scale path the survey's §6 calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import load_table


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Write ``df`` as parquet partitioned by ``partition_cols``.

    Partition columns become directory levels (``col=value/``); pick
    low-cardinality columns (date, region) — a high-cardinality key
    would explode the file count and drown the driver in listing.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_events_by_date(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize events as date-partitioned parquet under ``out_dir``.

    ``event_date`` is derived from ``ts`` (UTC day); the raw ``ts``
    column is kept so intra-day predicates still push down as ordinary
    row-group filters inside each partition.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    write_partitioned(ev, out_dir, "event_date")
    return out_dir


def read_events_day(spark: SparkSession, path: str, day: str) -> DataFrame:
    """One-day slice of the partitioned events table.

    The ``event_date = day`` predicate is a partition filter: Spark
    prunes non-matching directories at planning time, so the scan's
    ``PartitionFilters`` carries the predicate and only that day's
    files appear in ``inputFiles()``.
    """
    return spark.read.parquet(path).filter(F.col("event_date") == F.lit(day))


def overwrite_day(spark: SparkSession, path: str, day_df: DataFrame) -> None:
    """Idempotently replace exactly the partitions present in ``day_df``
    (dynamic partition overwrite) — re-ingesting one day never touches
    the other days' directories.

    This is the append-only table's repair/backfill primitive at 100 TB:
    a failed or corrected daily load is re-run for its date alone,
    atomically per partition, with no read-modify-write of the full
    table. Requires ``partitionOverwriteMode=dynamic`` (static mode —
    the default — would drop ALL partitions first)."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        day_df.write.mode("overwrite").partitionBy("event_date").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def compact_partitions(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    files_per_partition: int = 1,
    partition_col: str = "event_date",
) -> None:
    """Small-files compaction: rewrite a partitioned table so each
    partition directory holds ~``files_per_partition`` files.

    Streaming / micro-batch ingest leaves thousands of tiny files per
    partition; at 100 TB that inflates file listings, footer reads, and
    task counts. Compaction is the standing maintenance job:
    repartition on the partition column (each output task then writes
    whole partitions) and rewrite. Deliberately out-of-place — Spark
    cannot safely overwrite a path it is lazily reading from — the
    caller swaps directories (an atomic rename on HDFS/object-store
    manifests) once the write commits. Run on closed (past-date)
    partitions only in production."""
    (
        spark.read.parquet(src_path)
        .repartition(files_per_partition, F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(dst_path)
    )


def zorder_key(a, b, bits: int = 16):
    """Morton (Z-order) key: bit-interleave two non-negative ints.

    Sorting files by this key clusters BOTH columns at once: each file's
    min/max footer range then covers a small tile of the (a, b) plane,
    so a point/range predicate on EITHER column skips most files.
    Linear sort clusters one column perfectly and leaves the other
    spread across every file. This is the min-max-stats file-skipping
    lever (Delta/Iceberg OPTIMIZE ZORDER) expressed as a plain column —
    a static 2*bits-term expression, fully codegen'd, no UDF.
    """
    a = (F.col(a) if isinstance(a, str) else a).cast("bigint")
    b = (F.col(b) if isinstance(b, str) else b).cast("bigint")
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        key = key + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        key = key + F.shiftleft(
            F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return key


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 16
) -> None:
    """Write parquet clustered on the Z-order curve of (col_a, col_b).

    repartitionByRange on the Morton key gives each output file a
    contiguous curve segment (a 2-D tile); sortWithinPartitions tightens
    row-group stats inside the file. Use for fact tables filtered on two
    independent dimensions (e.g. user_id AND day) where directory
    partitioning can only serve one.
    """
    keyed = df.withColumn("__zkey", zorder_key(col_a, col_b))
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
