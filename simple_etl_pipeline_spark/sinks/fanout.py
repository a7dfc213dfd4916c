"""Multi-sink fan-out (reference K4, utils/load.py:245-324).

One DataFrame routed to any subset of {csv, sheets, postgres} with
per-sink error isolation: a failing sink logs + records its error and
the rest proceed. With one sink selected, that sink's write is the only
action and runs the lazy plan once, so nothing is cached. With several,
the frame is persisted for the fan-out so each sink reuses the result
of the first one instead of re-running the plan (the reference got this
for free by being eager; in Spark it's explicit), and unpersisted after.

A sink that finds no rows raises ``EmptyOutputError``; the frame is
then known to be empty, so the sinks after it are skipped and nothing
is written anywhere (the reference aborts before loading, main.py:40-42).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

import simple_etl_pipeline_spark.sinks as sinks
from simple_etl_pipeline_spark.sinks.csv import save_to_csv
from simple_etl_pipeline_spark.sinks.jdbc import save_to_postgresql
from simple_etl_pipeline_spark.sinks.sheets import save_to_google_sheets

logger = logging.getLogger(__name__)


def load_data(
    df: DataFrame,
    save_csv: bool = True,
    save_sheets: bool = False,
    save_postgres: bool = False,
    csv_options: dict | None = None,
    sheets_options: dict | None = None,
    postgres_options: dict | None = None,
) -> dict:
    """Returns {'csv': path|None, 'sheets': url|None, 'postgres': bool|None,
    '<sink>_error': str} with per-sink isolation (utils/load.py:282-286),
    plus 'empty': <sink> naming the sink that found no rows, if one did."""
    selected = [
        (name, label, save, options or {})
        for name, label, on, save, options in (
            ("csv", "CSV", save_csv, save_to_csv, csv_options),
            ("sheets", "Sheets", save_sheets, save_to_google_sheets, sheets_options),
            ("postgres", "PostgreSQL", save_postgres, save_to_postgresql, postgres_options),
        )
        if on
    ]
    if not selected:
        raise ValueError("at least one destination must be selected")

    results: dict = {"csv": None, "sheets": None, "postgres": None}
    fan_out = len(selected) > 1
    if fan_out:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for name, label, save, options in selected:
            try:
                results[name] = save(df, **options)
            except sinks.EmptyOutputError as exc:
                logger.error("%s sink found no rows: %s", label, exc)
                results[f"{name}_error"] = str(exc)
                results["empty"] = name
                break
            except Exception as exc:
                logger.error("%s sink failed: %s", label, exc)
                results[f"{name}_error"] = str(exc)
    finally:
        if fan_out:
            df.unpersist()
    return results
