class LoadError(Exception):
    """Sink failure (reference utils/load.py:33-35); wraps Spark
    AnalysisException / IO errors at the sink boundary."""


class EmptyOutputError(LoadError):
    """The sink's input had no rows, so nothing was written (reference
    utils/load.py:52-54). Raised only once the rows were actually
    counted, so a failed write is never mistaken for an empty one."""


from simple_etl_pipeline_spark.sinks.csv import save_to_csv  # noqa: E402
from simple_etl_pipeline_spark.sinks.jdbc import save_to_postgresql  # noqa: E402
from simple_etl_pipeline_spark.sinks.sheets import save_to_google_sheets  # noqa: E402
from simple_etl_pipeline_spark.sinks.fanout import load_data  # noqa: E402

__all__ = [
    "LoadError",
    "EmptyOutputError",
    "save_to_csv",
    "save_to_postgresql",
    "save_to_google_sheets",
    "load_data",
]
