"""Explicit schemas + table readers.

The reference never declares a schema (pandas-inferred,
/root/reference/utils/extract.py:133); here every table is explicit so
scans prune columns and parquet readers never re-infer. Testdata table
schemas mirror FIXTURES.md §5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Raw scrape output: 7 string columns (reference utils/extract.py:76-84).
RAW_PRODUCT_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("price", T.StringType()),
        T.StructField("rating", T.StringType()),
        T.StructField("colors", T.StringType()),
        T.StructField("size", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("timestamp", T.StringType()),
    ]
)

# Post-transform schema (reference utils/transform.py:145-162; golden
# output /root/reference/products.csv). timestamp stays a string for
# bit-compat with the reference.
CLEAN_PRODUCT_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType(), nullable=False),
        T.StructField("price", T.DoubleType()),
        T.StructField("rating", T.DoubleType()),
        T.StructField("colors", T.LongType()),
        T.StructField("size", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("timestamp", T.StringType()),
    ]
)

# Columns whose nulls drop the row post-clean (utils/transform.py:160).
CLEAN_SUBSET = ["price", "rating", "colors", "size", "gender"]

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _st(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


# Explicit reader schemas for every testdata table: passing these to the
# reader skips parquet footer/schema inference entirely — at 100 TB that
# inference is a per-query driver job over file metadata; with a declared
# schema, building a plan submits ZERO jobs (enforced by
# tests/test_laziness.py). events.ts is TIMESTAMP(MICROS) in current
# testdata generations; older TIMESTAMP(NANOS) files take a fallback
# read path (see load_table below).
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _st(("r_regionkey", T.IntegerType()), ("r_name", T.StringType())),
    "nation": _st(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _st(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _st(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _st(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _st(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _st(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ),
    "events": _st(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
    "documents": _st(
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ),
    "embeddings": _st(
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", T.IntegerType()),
    ),
}

# Small dimensions that should always be broadcast in joins.
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """Whether events.ts is stored as TIMESTAMP(NANOS). Testdata
    generations have flipped between NANOS and MICROS, and misreading
    the unit shifts every epoch by 1000x. One driver-side pyarrow footer
    read per call (no Spark job, ~0.1 ms), never cached: a directory
    can be rewritten in place with the other unit."""
    import pyarrow.dataset as ds

    # dataset() resolves both single-file and Spark directory layouts.
    schema = ds.dataset(f"{sf_dir}/events.parquet", format="parquet").schema
    return getattr(schema.field("ts").type, "unit", None) == "ns"


# --- size-conditional scan parallelization (r15, guide §2.5/§6) ----------
# Every testdata table is ONE parquet file with ONE row group, so every
# scan's map stage — and with it the engine's heaviest per-row compute
# (tokenize/md5/shingle/fold in the text family, array folds in the
# similarity family) — ran as a SINGLE task while the other cores sat
# idle; a split below row-group granularity cannot help (the row group
# lands in one split, the rest read zero rows). The honest fix is the
# guide's input-skew remedy: repartition immediately after the read —
# but ONLY when the table is small enough that its scan cannot feed the
# cluster's map parallelism anyway. The bounds:
#   * below MIN (32 KB) the table's map work is trivial and the
#     exchange would be pure overhead (region/nation/supplier class);
#   * at/above MAX (256 MB) a real deployment's table has
#     enough native splits that the repartition would be a pointless
#     full shuffle — at 100 TB this branch NEVER fires, so the
#     production plan shape is unchanged;
#   * the partition count is the session's defaultParallelism, so the
#     driver's lower-core bench runs scale it down automatically;
#   * only PAYLOAD tables with heavy PER-ROW fold compute qualify —
#     documents (shingling + md5 per token) and embeddings (64-dim
#     decimal folds): there the map work dwarfs the exchange of their
#     raw bytes. The relational tables' scans are column-pruned numeric
#     reads where the measured A/B showed the exchange costs MORE than
#     the map work it parallelizes (q1 0.40 -> 0.52 s, agg_basket_lift
#     ~flat-to-worse), so they keep their plain scans. EVENTS was in
#     the set through most of r15 and is now OUT on the same evidence
#     (interleaved A/B, 3 configs x 13 queries rotated): its per-row
#     work is timestamp/window arithmetic — relational-class, not
#     fold-class — and the repartition exchange lost on EVERY probed
#     events consumer, including the heavy ones (ev_tumbling_hourly
#     0.458 -> 0.311 s, ev_retention_cohorts 0.709 -> 0.468,
#     ev_scd2_users 0.596 -> 0.441, ev_gap_fill 0.426 -> 0.319,
#     ev_quantile_sketch 0.970 -> 0.879, ev_session_windows 0.341 ->
#     0.269 median with events dropped). The embeddings membership was
#     re-confirmed by the same protocol (sim_ivfpq_topk 2.19 vs 3.80,
#     sim_knn_graph 1.32 vs 1.67, sim_knn_brute 0.49 vs 0.64 with vs
#     without), as was documents (txt_dsir_weights 0.80 vs 1.66).
# Round-robin repartition is safe here because nothing in the engine is
# partition-dependent: no rand(), global ranks go through the
# range-shuffle barrier (operators/relational.global_row_number), and
# every collect_list is sort-normalized (the _ordered_vals discipline).
SMALL_SCAN_MIN_BYTES = 32 << 10
SMALL_SCAN_MAX_BYTES = 256 << 20
PARALLELIZE_SCAN_TABLES = frozenset({"documents", "embeddings"})


def _table_disk_bytes(sf_dir: str, name: str) -> int:
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                e.stat().st_size
                for e in os.scandir(path)
                if e.name.endswith(".parquet")
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def _parallelize_small_scan(
    spark: SparkSession, df: DataFrame, sf_dir: str, name: str
) -> DataFrame:
    """See the membership note above. Per-CALL opt-out (r16): the
    membership is per-table, but the cost/benefit is per-CONSUMER —
    metadata-light documents consumers (a size(tokens) count, a
    doc_id-only projection, a single exploded aggregation whose
    shuffle re-spreads the rows anyway) pay the exchange without
    fold work to parallelize. Those call load_table(...,
    parallelize=False); the r16 interleaved cold A/B (5 reps,
    clearCache per rep):
      txt_kl_drift        0.793 -> 0.664 s median without the exchange
      txt_domain_split    0.293 -> 0.261
      txt_doc_features    0.232 -> 0.200
      train_shard_manifest 0.228 -> 0.190
    while the fold-heavy control kept its win WITH the exchange
    (txt_dsir_weights 0.930 vs 2.103 without). txt_winnow_fingerprint
    and sim_quantize_int8 measured flat (0.506/0.498, 0.281/0.266)
    and keep the default."""
    if name not in PARALLELIZE_SCAN_TABLES:
        return df
    size = _table_disk_bytes(sf_dir, name)
    p = spark.sparkContext.defaultParallelism
    if p > 1 and SMALL_SCAN_MIN_BYTES <= size < SMALL_SCAN_MAX_BYTES:
        return df.repartition(p)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = True
) -> DataFrame:
    """Read one testdata parquet table.

    Parquet keeps its embedded schema; Catalyst prunes columns and pushes
    filters into the scan, so callers should select/filter as early as
    possible and let the optimizer do the rest. Small single-file tables
    are repartitioned right after the read so their map-stage compute
    parallelizes (see _parallelize_small_scan above); metadata-light
    consumers pass parallelize=False to skip the exchange (measured
    per-call opt-out, r16 — see _parallelize_small_scan).
    """
    if name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    # Date/window bucketing is session-timezone-dependent; oracles assume
    # UTC. Runtime-settable, so harness-provided sessions built without
    # our factory (session.py sets it too) get the same alignment.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events" and _events_ts_is_nanos(sf_dir):
        # Older testdata generations store events.ts as TIMESTAMP(NANOS),
        # which Spark's reader rejects by default: read it as bigint nanos
        # and convert to microsecond timestamps (truncation, consistent
        # with DuckDB's epoch() floor). Newer generations use plain
        # TIMESTAMP(MICROS) which reads directly via TABLE_SCHEMAS.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = _st(
            ("event_id", T.LongType()),
            ("ts", T.LongType()),
            ("user_id", T.LongType()),
            ("event_type", T.StringType()),
            ("value", T.DoubleType()),
            ("props", T.StringType()),
        )
        df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if not parallelize:
            return df
        return _parallelize_small_scan(spark, df, sf_dir, name)
    # Explicit schema: no footer-inference job at plan-build time.
    df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet"
    )
    if not parallelize:
        return df
    return _parallelize_small_scan(spark, df, sf_dir, name)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
