"""PostgreSQL/JDBC source with parallel partitioned reads.

The source-side twin of sinks/jdbc.py. A naive JDBC read is ONE
connection pulling the whole table through the driver — at any real
size that is the bottleneck, not Spark. The scalable shape is a
partitioned read: ``partitionColumn`` + ``lowerBound``/``upperBound``
+ ``numPartitions`` makes each executor open its own connection for a
disjoint range slice (WHERE col BETWEEN ...), so ingest parallelism is
bounded by the database, not by a single socket. Builder separated
from ``.load()`` so tests validate configuration without a database
(same device as build_jdbc_writer).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

import simple_etl_pipeline_spark.sinks as sinks
from simple_etl_pipeline_spark.sinks.jdbc import connection_options


def jdbc_reader_options(
    table_name: str,
    connection_params: dict,
    schema: str = "public",
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    fetchsize: int = 10_000,
) -> dict[str, str]:
    """Validated option map for a JDBC read (pure — unit-testable
    without a database or a session)."""
    opts = connection_options(connection_params)
    if partition_column is not None and (lower_bound is None or upper_bound is None):
        raise sinks.LoadError(
            "partition_column requires lower_bound and upper_bound "
            "(e.g. SELECT min(pk), max(pk) beforehand)"
        )
    opts.update(dbtable=f"{schema}.{table_name}", fetchsize=str(fetchsize))
    if partition_column is not None:
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def build_jdbc_reader(spark: SparkSession, *args, **kwargs):
    """Configured DataFrameReader; ``.load()`` triggers the read.

    With ``partition_column`` (a numeric/date column, ideally the
    indexed primary key): parallel range-sliced read, one connection
    per slice. Without it: a single-connection read (fine only for
    dimension-sized tables — pair with ``F.broadcast`` downstream).
    """
    return spark.read.format("jdbc").options(**jdbc_reader_options(*args, **kwargs))
