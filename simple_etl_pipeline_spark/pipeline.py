"""End-to-end E→T→L orchestrator (reference O1, main.py:26-109).

extract (scrape ingest) -> transform -> fan-out load with per-sink
error isolation -> log counts and results, preview, boolean success.
The Spark version differs where it should: extraction parses in
executors, transform is one lazy codegen stage, and the preview is
show()/printSchema() instead of head()/info().

The reference's two "no rows, abort" checks (main.py:32-34, 40-42) are
not separate actions here: each would parse every page again. Row
counters are attached to the raw and the clean frame with
``DataFrame.observe``, so the sink's write is the pipeline's only action
and parses the pages once. The CSV sink writes to a staging directory
and commits only a non-empty result; when it reports that the write
completed with no rows, the observed raw count tells which stage came
up empty. A write that fails is reported as that sink's failure: after a
failed action the observed counters read 0, so they are read only when
the write ran to completion.

Run: python -m simple_etl_pipeline_spark.pipeline <pages_dir> <output_dir>
"""

from __future__ import annotations

import json
import logging
import sys

from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from simple_etl_pipeline_spark.functions.cleaning import (
    DIRTY_PATTERNS,
    dirty_column_predicate,
)
from simple_etl_pipeline_spark.operators.quality import observe_quality
from simple_etl_pipeline_spark.operators.transform import transform_data
from simple_etl_pipeline_spark.sinks.fanout import load_data
from simple_etl_pipeline_spark.sources.scrape import ingest_html_files

logger = logging.getLogger(__name__)


def _metrics(obs: Observation) -> dict:
    """``obs.get``, or {} when Spark reported no metrics row. That happens
    when load_data persisted the frame for several sinks and it came up
    empty: AQE then replaces the cached scan with an empty relation and
    drops the metrics observed inside it."""
    try:
        return obs.get
    except Py4JJavaError:
        return {}


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    output_path: str,
    save_sheets: bool = False,
    save_postgres: bool = False,
    sheets_options: dict | None = None,
    postgres_options: dict | None = None,
    run_timestamp: str = "1970-01-01T00:00:00",
    preview: bool = True,
) -> bool:
    """Returns True iff at least one sink succeeded (reference contract:
    exit code from main(), main.py:112-114)."""
    logger.info("extracting from %s", pages_path)
    raw, raw_obs = observe_quality(
        ingest_html_files(spark, pages_path, run_timestamp=run_timestamp),
        "raw",
        [(c, F.sum(dirty_column_predicate(c).cast("bigint"))) for c in DIRTY_PATTERNS],
    )
    clean, clean_obs = observe_quality(transform_data(raw), "clean", [])

    results = load_data(
        clean,
        save_csv=True,
        save_sheets=save_sheets,
        save_postgres=save_postgres,
        csv_options={"output_path": output_path},
        sheets_options=sheets_options,
        postgres_options=postgres_options,
    )

    # The CSV sink runs first, so its write is the action that filled
    # the observations; they are valid only if that write completed.
    empty = results.get("empty") == "csv"
    if results["csv"] is not None or empty:
        raw_counts = _metrics(raw_obs)
        counts = {  # null: not reported
            "raw_rows": raw_counts.pop("n_rows", None),
            # a row can fail several columns' rules, so these overlap
            "dirty_rows_by_column_overlapping": raw_counts or None,
            "clean_rows": _metrics(clean_obs).get("n_rows"),
        }
        logger.info("pipeline counts %s", json.dumps(counts))
        if empty:
            if counts["raw_rows"] == 0:
                logger.error("extraction produced no rows; aborting (main.py:32-34)")
            elif counts["raw_rows"] is None:
                logger.error("extraction or transform produced no rows; aborting")
            else:
                logger.error("transform produced no rows; aborting (main.py:40-42)")
            return False

    for sink in ("csv", "sheets", "postgres"):
        err = results.get(f"{sink}_error")
        if err:
            logger.error("%s sink failed: %s", sink, err)
        elif results.get(sink) is not None:
            logger.info("%s sink ok: %s", sink, results[sink])

    if preview:
        clean.show(5, truncate=False)
        clean.printSchema()
    return any(
        results.get(s) is not None and f"{s}_error" not in results
        for s in ("csv", "sheets", "postgres")
    )


def main(argv: list[str]) -> int:
    logging.basicConfig(
        level=logging.INFO,
        format="%(asctime)s - %(name)s - %(levelname)s - %(message)s",
    )
    if len(argv) != 2:
        print("usage: python -m simple_etl_pipeline_spark.pipeline <pages_dir> <output_dir>")
        return 2
    from simple_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="etl-pipeline")
    ok = run_pipeline(spark, argv[0], argv[1])
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
