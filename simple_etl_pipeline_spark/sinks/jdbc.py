"""PostgreSQL sink via Spark's JDBC writer (reference K3,
utils/load.py:162-243).

The reference funnels everything through a single SQLAlchemy connection
with multi-row INSERTs; the JDBC writer opens one connection per
partition (bounded by numPartitions) with batched inserts — the
scalable equivalent. if_exists maps {fail,replace,append} ->
{errorifexists,overwrite,append} like pandas.to_sql.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

import simple_etl_pipeline_spark.sinks as sinks

_MODE_MAP = {"fail": "errorifexists", "replace": "overwrite", "append": "append"}
REQUIRED_PARAMS = ("host", "database", "user", "password")


def connection_options(connection_params: dict) -> dict[str, str]:
    """Validated url/user/password/driver options for a PostgreSQL JDBC
    connection, shared by this sink and the JDBC source."""
    missing = [p for p in REQUIRED_PARAMS if not connection_params.get(p)]
    if missing:
        raise sinks.LoadError(f"missing connection params: {missing}")
    port = connection_params.get("port", 5432)
    return {
        "url": f"jdbc:postgresql://{connection_params['host']}:{port}/"
        f"{connection_params['database']}",
        "user": connection_params["user"],
        "password": connection_params["password"],
        "driver": "org.postgresql.Driver",
    }


def build_jdbc_writer(
    df: DataFrame,
    table_name: str,
    connection_params: dict,
    if_exists: str = "replace",
    schema: str = "public",
    batchsize: int = 10_000,
    num_partitions: int | None = 8,
):
    """Validate params and return the configured writer (separated from
    .save() so tests can check the config without a database)."""
    connection = connection_options(connection_params)
    if if_exists not in _MODE_MAP:
        raise sinks.LoadError(f"if_exists must be one of {sorted(_MODE_MAP)}")
    out = df
    if num_partitions is not None and df.rdd.getNumPartitions() > num_partitions:
        out = df.coalesce(num_partitions)  # bound DB connections
    return (
        out.write.format("jdbc")
        .options(**connection)
        .option("dbtable", f"{schema}.{table_name}")
        .option("batchsize", str(batchsize))
        .mode(_MODE_MAP[if_exists])
    )


def save_to_postgresql(
    df: DataFrame,
    table_name: str,
    connection_params: dict,
    if_exists: str = "replace",
    schema: str = "public",
) -> bool:
    """Write df to PostgreSQL; True on success, LoadError on failure
    (matching the reference's return contract, utils/load.py:230)."""
    writer = build_jdbc_writer(df, table_name, connection_params, if_exists, schema)
    try:
        writer.save()
        return True
    except Exception as exc:
        raise sinks.LoadError(f"failed to save to PostgreSQL: {exc}") from exc
