"""SparkSession factory with scale-oriented defaults.

The reference is a single-threaded eager pandas pipeline with its
configuration fixed in code; here the session is configured for a real
cluster: AQE (runtime re-plan, skew-join splitting, partition
coalescing), Arrow for any pandas interchange, and a shuffle-partition
count sized to the local cores (pass ``shuffle_partitions`` for a
cluster).

The session reads three environment settings, all of them deployment
settings, and nothing else:

- ``SPARK_GRAFT_CPUS``: cores for the ``local[N]`` master and the
  default shuffle-partition count (default 4);
- ``SPARK_DRIVER_MEMORY``: driver heap, also pre-touched at JVM start
  (default ``8g``);
- ``SPARK_WAREHOUSE_DIR``: where bucketed tables are saved (default
  ``/tmp/spark_graft_warehouse``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "simple_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Local defaults come from SPARK_GRAFT_CPUS; on a cluster, pass
    ``master=None`` with an external cluster manager and size
    ``shuffle_partitions`` to ~2-3x total cores.
    """
    # Make the package importable inside Python workers regardless of the
    # driver's cwd (mapInPandas closures reference module functions).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime adaptivity: coalesce tiny shuffle partitions, split skewed
        # ones, convert sort-merge to broadcast when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for toPandas / pandas UDF exchange (vectorized path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # surfaces as timestamp[ns] in arrow footer probes (breaking the
        # nanos-unit detection in schemas.py) and is deprecated in the
        # parquet spec; micros round-trips bit-exact with our readers.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # older testdata events.parquet stores TIMESTAMP(NANOS); Spark has
        # no nanos timestamp type — read as long, converted in
        # schemas.read_events.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory)
        # Fault the whole heap in at JVM start (-Xms == -Xmx +
        # AlwaysPreTouch), so heap pages are not faulted in lazily in
        # the middle of a query. With it removed, perfbench analytics
        # job_s rose from a median of 3.14 s to 3.74 s (4 alternating
        # pairs on 4 vCPUs, worse in every pair) while peak RSS fell
        # from ~3.1 GB to ~2.1 GB. On a real cluster the same flags go
        # in spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_memory} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Keep the engine's generated classes compiled. Spark's default
        # LRU holds 100, fewer than one pass needs, so each pass re-ran
        # Janino on code the pass before had compiled. Measured at
        # sf0.001 on 4 cores: the 145 registered queries generate ~2,290
        # classes, and a second sweep recompiled 3,377 at 100 entries but
        # 83 at 8,192 (Metaspace +17 MB); a perfbench analytics pass
        # needs ~176 and recompiled ~171 of them at 100 entries, 0 at
        # 8,192 once warm (job_s median 4.39 s -> 3.44 s). Static
        # setting: it takes effect only when the session is first
        # created.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # static config — must be set before the session exists (bucketed
        # tables land here; see operators/bucketing.py)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_graft_warehouse"),
        )
    )
    return builder.getOrCreate()
