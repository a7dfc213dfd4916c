"""CSV sink (reference K1, utils/load.py:37-73).

The reference writes a single named CSV with pandas. Spark writes a
directory of part files — correct at scale (parallel writers, no driver
bottleneck); use single_file=False on real data, where one file is an
anti-pattern.

The write is the only action: the frame is written once to a staging
directory ``_<file>.spark-tmp`` with a row counter observed by the same
action (``DataFrame.observe``), instead of an ``isEmpty()`` action that
would run the whole upstream plan a second time. A non-empty result is
committed by renaming it into place; an empty one is discarded and
raises ``EmptyOutputError``. The staging directory is removed on every
exit, so an empty or failed call leaves no partial output and never
touches the previous output.

For single-file parity the frame is ``repartition(1)``-ed, not
``coalesce(1)``-ed: coalesce is a narrow dependency, so it would pull
the whole upstream plan (the ``mapInPandas`` HTML parse included) into
one task; the one-partition shuffle keeps the upstream stage parallel
and only the final write single-threaded.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import simple_etl_pipeline_spark.sinks as sinks


def _missing_dirs(path: str) -> list[str]:
    """The directories ``os.makedirs(path)`` would create, deepest first."""
    missing = []
    path = os.path.abspath(path)
    while not os.path.exists(path):
        missing.append(path)
        path = os.path.dirname(path)
    return missing


def save_to_csv(
    df: DataFrame,
    output_path: str,
    filename: str = "products.csv",
    single_file: bool = True,
) -> str:
    """Write df as CSV; returns the written path: ``<output_path>/<filename>``,
    or the part-file directory ``<output_path>/<filename without .csv>``
    when ``single_file`` is False. No rows -> ``EmptyOutputError``
    (reference utils/load.py:52-54); any other failure -> ``LoadError``.
    Either way the previous output is untouched, no staging directory
    is left, and a directory this call created is removed again."""
    created = _missing_dirs(output_path)
    staging = os.path.join(output_path, f"_{filename}.spark-tmp")
    committed = False
    try:
        os.makedirs(output_path, exist_ok=True)
        obs = Observation()
        out = df.repartition(1) if single_file else df
        counted = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        counted.write.mode("overwrite").option("header", True).csv(staging)
        if obs.get["rows"] == 0:
            raise sinks.EmptyOutputError("cannot save empty DataFrame to CSV")
        if single_file:
            parts = glob.glob(os.path.join(staging, "part-*.csv"))
            if len(parts) != 1:
                raise sinks.LoadError(f"expected 1 part file, found {len(parts)}")
            final = os.path.join(output_path, filename)
            os.replace(parts[0], final)
        else:
            final = os.path.join(output_path, filename.removesuffix(".csv"))
            shutil.rmtree(final, ignore_errors=True)
            os.replace(staging, final)
        committed = True
        return final
    except sinks.LoadError:
        raise
    except Exception as exc:  # PermissionError, Py4JJavaError etc. -> LoadError (K1)
        raise sinks.LoadError(f"failed to save CSV: {exc}") from exc
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        if not committed:
            for d in created:
                try:
                    os.rmdir(d)
                except OSError:
                    break
