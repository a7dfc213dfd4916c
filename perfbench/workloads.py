"""The benchmark workloads.

Each workload writes its seeded inputs when it is built, then runs named
jobs through the package's public functions. ``run`` is the timed part
of a job and returns its output (a pandas frame); ``check`` compares an
output with an independent answer (DuckDB over the same files, or the
rows the generator knows it emitted) and raises ``AssertionError`` on a
difference.

``warmup_passes`` is how many checked but untimed passes follow the cold
one: the JIT keeps speeding up the Spark driver's planning and
scheduling code for several passes (more for ``analytics``, whose
``dedup_components`` runs 34 small jobs a pass), and a median taken on
that slope moves with how far each run got down it.
"""

from __future__ import annotations

import csv
import os
import shutil
import time
from dataclasses import dataclass, field

import gen
from measure import Tracer, compare_frames, wrapped

# tables each plan job reads (their rows count towards rows_per_s)
PLAN_TABLES = {
    "q5_region_revenue": ["region", "nation", "customer", "supplier", "orders", "lineitem"],
    "dedup_components": ["documents"],
}
STREAM_JOB = "st_tumbling_hourly"


@dataclass
class JobRun:
    output: object
    groups: list[str] = field(default_factory=list)
    progress: list = field(default_factory=list)


def _plan_modules() -> list:
    from simple_etl_pipeline_spark.plans import events, multimodal, relational, similarity, text

    return [relational, events, text, similarity, multimodal]


def _materialized(sql: str) -> str:
    """The oracle with its shingle and pair CTEs evaluated once. DuckDB
    inlines a plain CTE, so the recursive closure of the
    ``dedup_components`` oracle recomputes the pairs in every step (6 s
    against 0.4 s at this benchmark's size); the result is the same."""
    for cte in ("sh", "sizes", "pairs"):
        sql = sql.replace(f"\n{cte} AS (", f"\n{cte} AS MATERIALIZED (")
    return sql


class EtlPages:
    """The paper's dataflow, ``pipeline.run_pipeline`` from HTML
    pages to one CSV file."""

    jobs = ["run_pipeline"]
    warmup_passes = 3

    def __init__(self, spark, work: str, rng, n_pages: int, cards_per_page: int, seed: int) -> None:
        self.spark = spark
        self.pages_dir = os.path.join(work, "pages")
        self.out_dir = os.path.join(work, "out")
        self.ts = gen.run_timestamp(seed)
        self.cards, self.expected = gen.write_pages(
            rng, self.pages_dir, n_pages, cards_per_page, self.ts
        )
        self.sizes = {"pages": n_pages, "cards": self.cards, "clean_rows": len(self.expected)}
        self.input_rows = self.cards

    def run(self, name: str, tr: Tracer, tag: str) -> JobRun:
        from simple_etl_pipeline_spark.pipeline import run_pipeline

        with tr.span("pipeline.run_pipeline", group=f"{tag}:pipeline"):
            ok = run_pipeline(
                self.spark, self.pages_dir, self.out_dir, run_timestamp=self.ts, preview=False
            )
        if not ok:
            raise RuntimeError("run_pipeline reported that no sink succeeded")
        return JobRun(self.read_csv())

    def read_csv(self):
        import pandas as pd

        with open(os.path.join(self.out_dir, "products.csv"), newline="", encoding="utf-8") as f:
            pdf = pd.DataFrame(list(csv.DictReader(f)))
        return pdf.astype({"price": float, "rating": float, "colors": "int64"})

    def check(self, name: str, output) -> None:
        import pandas as pd

        cols = ["title", "price", "rating", "colors", "size", "gender", "timestamp"]
        compare_frames(output, pd.DataFrame(self.expected, columns=cols))

    def traced(self, tr: Tracer):
        import contextlib

        from simple_etl_pipeline_spark import pipeline

        stack = contextlib.ExitStack()
        stack.enter_context(wrapped([pipeline], "ingest_html_files", tr, "sources.ingest_html_files"))
        stack.enter_context(wrapped([pipeline], "transform_data", tr, "operators.transform_data"))
        stack.enter_context(wrapped([pipeline], "load_data", tr, "sinks.load_data"))
        return stack

    def layer_probe(self) -> dict:
        """Per-layer costs that the lazy pipeline folds into its sink
        action, measured as separate forced steps (traced runs only)."""
        from pyspark.storagelevel import StorageLevel

        from simple_etl_pipeline_spark.operators.transform import transform_data
        from simple_etl_pipeline_spark.sources.scrape import (
            ingest_html_files,
            parse_products_html,
        )

        pages = sorted(os.listdir(self.pages_dir))[:50]
        docs = []
        for p in pages:
            with open(os.path.join(self.pages_dir, p), encoding="utf-8") as f:
                docs.append(f.read())
        t = time.perf_counter()
        parsed = sum(len(parse_products_html(d, self.ts)) for d in docs)
        parse_s = time.perf_counter() - t

        raw = ingest_html_files(self.spark, self.pages_dir, run_timestamp=self.ts)
        t = time.perf_counter()
        raw_pdf = raw.toPandas()
        ingest_s = time.perf_counter() - t
        raw.persist(StorageLevel.MEMORY_ONLY)
        raw.count()
        t = time.perf_counter()
        clean_pdf = transform_data(raw).toPandas()
        transform_s = time.perf_counter() - t
        raw.unpersist()
        return {
            "sources.ingest_s": ingest_s,
            "sources.parse_us_per_card": parse_s / max(parsed, 1) * 1e6,
            "sources.cards_out": len(raw_pdf),
            "operators.transform_s": transform_s,
            "operators.keep_ratio": len(clean_pdf) / max(len(raw_pdf), 1),
            "sinks.bytes_written": os.path.getsize(os.path.join(self.out_dir, "products.csv")),
        }

    def close(self) -> None:
        pass


class Analytics:
    """Plan functions over generated star-schema and corpus tables,
    plus a replay of seeded event files through the streaming layer.

    A plan job is forced by collecting every output column
    (``toPandas``). The stream job drains the event files with
    ``availableNow`` into a memory sink, then collects the sink.
    """

    jobs = [*PLAN_TABLES, STREAM_JOB]
    warmup_passes = 4

    def __init__(self, spark, work: str, rng, tables: dict, stream: dict) -> None:
        self.spark = spark
        self.sf_dir = os.path.join(work, "tables")
        self.stream_dir = os.path.join(work, "stream")
        self.ckpt = os.path.join(work, "checkpoints")
        table_rows = gen.write_star(rng, self.sf_dir, **tables)
        stream_info = gen.write_event_stream(rng, self.stream_dir, **stream)
        self.sizes = {"tables": table_rows, "stream": stream_info}
        read = {t for ts in PLAN_TABLES.values() for t in ts}
        self.input_rows = sum(table_rows[t] for t in read) + stream_info["events"]
        from simple_etl_pipeline_spark.plans import relational, text

        # each plan job with its DuckDB twin from the package
        self.plans = {
            "q5_region_revenue": (relational.q5_region_revenue, relational.ORACLES),
            "dedup_components": (text.dedup_components, text.ORACLES),
        }
        self._duck = None
        self._seq = 0

    def run(self, name: str, tr: Tracer, tag: str) -> JobRun:
        if name == STREAM_JOB:
            return self._run_stream(tr, tag)
        with tr.span("plans.build", group=f"{tag}:build"):
            df = self.plans[name][0](self.spark, self.sf_dir)
        if tr.enabled:
            with tr.span("plans.plan", group=f"{tag}:plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("plans.exec", group=f"{tag}:exec"):
            pdf = df.toPandas()
        return JobRun(pdf)

    def _run_stream(self, tr: Tracer, tag: str) -> JobRun:
        from simple_etl_pipeline_spark.streaming.events import (
            read_events_stream,
            tumbling_hourly_stream,
        )

        self._seq += 1
        qname = f"perfbench_{self._seq}"
        with tr.span("streaming.build"):
            result = tumbling_hourly_stream(read_events_stream(self.spark, self.stream_dir))
        with tr.span("streaming.drain"):
            q = (
                result.writeStream.format("memory")
                .queryName(qname)
                .outputMode("complete")
                .option("checkpointLocation", os.path.join(self.ckpt, qname))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        with tr.span("streaming.collect", group=f"{tag}:collect"):
            pdf = self.spark.table(qname).toPandas()
        self.spark.catalog.dropTempView(qname)
        # micro-batch jobs run in a job group named after the run id
        return JobRun(pdf, groups=[str(q.runId)], progress=q.recentProgress)

    def after_job(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def check(self, name: str, output) -> None:
        if self._duck is None:
            from simple_etl_pipeline_spark.testing import duckdb_connection

            self._duck = duckdb_connection(self.sf_dir)
            files = os.path.join(self.stream_dir, "events.parquet", "*.parquet")
            self._duck.execute(
                f"CREATE VIEW stream_events AS SELECT * FROM read_parquet('{files}')"
            )
        if name == STREAM_JOB:
            from simple_etl_pipeline_spark.streaming.events import ST_TUMBLING_ORACLE

            # complete mode re-aggregates every replayed file, late and
            # duplicate rows included: it equals the batch aggregate
            sql = ST_TUMBLING_ORACLE.replace("FROM events", "FROM stream_events")
        else:
            sql = _materialized(self.plans[name][1][name])
        compare_frames(output, self._duck.execute(sql).fetchdf())

    def traced(self, tr: Tracer):
        return wrapped(_plan_modules(), "load_table", tr, "schemas.load_table")

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# Input sizes are fixed per workload; the seed changes values, not sizes.
SIZES = {
    "etl_pages": {"n_pages": 80, "cards_per_page": 20},
    "analytics": {
        "tables": {"scale": 0.005, "n_docs": 200, "n_vecs": 50},
        "stream": {"n_events": 4000, "n_files": 2, "n_users": 100},
    },
}


def build(name: str, spark, work: str, rng, seed: int):
    if name == "etl_pages":
        return EtlPages(spark, work, rng, seed=seed, **SIZES[name])
    if name == "analytics":
        return Analytics(spark, work, rng, **SIZES[name])
    raise ValueError(f"unknown workload {name!r}")
