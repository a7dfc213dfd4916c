#!/usr/bin/env python3
"""Benchmark of simple_etl_pipeline_spark on seeded workloads.

Run from the repository root:

    python3 perfbench/run.py --workload etl_pages --seed 1 --seconds 10 --trace 0

One run starts Spark, measures set-up, writes the workload's inputs from
the seed, runs one cold pass and checks every output of it against an
independent answer, then runs untimed warm-up passes and steady passes
for ``--seconds`` and checks that each output equals the checked one.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The lines before it give the environment record and a
readable summary. ``perfbench/README.md`` explains every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

from measure import (
    MemorySampler,
    StageReader,
    Tracer,
    add_counts,
    cache_state,
    cpu_ticks,
    digest,
    median,
    percentile,
    seconds_since_process_start,
    spark_metrics,
)

ROOT = os.getcwd()
PACKAGE = "simple_etl_pipeline_spark"
WORKLOADS = ["etl_pages", "analytics"]
MIN_PASSES = 5
MIN_TRACED_PASSES = 2
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "first_job_s": "s",
    "job_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
JOBS = ["run_pipeline", "q5_region_revenue", "dedup_components", "st_tumbling_hourly"]
LAYER_UNITS = {
    "sources.ingest_s": "s",
    "sources.parse_us_per_card": "us",
    "sources.cards_out": "count",
    "operators.transform_s": "s",
    "operators.keep_ratio": "ratio",
    "sinks.load_data_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.write_mb_per_s": "MB/s",
    "pipeline.overhead_s": "s",
    "schemas.load_table_s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    **{f"job.{q}_s": "s" for q in JOBS},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.stage_reuse_ratio": "ratio",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_ratio": "ratio",
    "cache.persisted_rdds": "count",
    "cache.storage_mb": "MB",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.batches": "count",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment_problem() -> str | None:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        return f"{PACKAGE}/ not found under {ROOT}; run from the repository root"
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus is not None and not (cpus.isdigit() and 1 <= int(cpus) <= nproc()):
        return f"SPARK_GRAFT_CPUS={cpus} must be a whole number from 1 to nproc={nproc()}"
    return None


def configure(work: str) -> None:
    """Point every directory Spark, the JVM and Python write to inside
    ``work``, and fix the session settings this benchmark records."""
    env = os.environ
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["SPARK_GRAFT_PRETOUCH"] = "1"
    env.pop("SPARK_SHUFFLE_PARTITIONS", None)
    dirs = {k: os.path.join(work, k) for k in ("local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = dirs["local"]
    env["SPARK_WAREHOUSE_DIR"] = dirs["warehouse"]
    env["TMPDIR"] = dirs["tmp"]
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None


def start_spark():
    """get_spark() plus one trivial action; returns (session, seconds
    since this process started)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from simple_etl_pipeline_spark.session import get_spark

    spark = get_spark()
    spark.range(1).collect()
    return spark, seconds_since_process_start()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit, also
    when stopping fails (a signal can cut a gateway call short)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def environment_record(spark, args, wl) -> dict:
    import duckdb
    import pyspark

    conf = spark.sparkContext.getConf()
    jvm_props = spark.sparkContext._jvm.System
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "pretouch": "AlwaysPreTouch" in (conf.get("spark.driver.extraJavaOptions") or ""),
        "pyspark": pyspark.__version__,
        "java": f"{jvm_props.getProperty('java.vm.name')} {jvm_props.getProperty('java.version')}",
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input_sizes": wl.sizes,
        "input_rows_per_pass": wl.input_rows,
    }


class Runner:
    """Runs passes over one workload and keeps what they measured."""

    def __init__(self, spark, wl, rng) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = wl
        self.rng = rng
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.reader = StageReader(self.sc)
        self.reference: dict[str, str] = {}
        self.wrong: set[str] = set()
        self.attempted = 0
        self.failed = 0
        self.cache_series: list[tuple[int, float]] = []
        self.n = 0

    def one_pass(self, tr, check: bool = False) -> dict:
        """One pass over the job mix, in a seeded order. Its wall time is
        the cache clear plus each job's run; reading counters, digesting
        and checking outputs happen between the timed parts."""
        self.n += 1
        order = list(self.wl.jobs)
        self.rng.shuffle(order)
        t = time.perf_counter()
        self.spark.catalog.clearCache()
        wall = time.perf_counter() - t
        first_span = len(tr.spans)
        res = {"latency": {}, "progress": [], "counts": {}, "eager_jobs": 0}
        for name in order:
            mark = len(tr.spans)
            t = time.perf_counter()
            try:
                with tr.span(f"job.{name}"):
                    jr = self.wl.run(name, tr, f"p{self.n}:{name}")
                err = None
            except Exception:  # noqa: BLE001 - a failed job is counted, the run goes on
                jr, err = None, traceback.format_exc()
            dt = time.perf_counter() - t
            wall += dt
            self.attempted += 1
            res["latency"][name] = dt
            if jr is not None:
                err = self._verify(name, jr.output, check)
                res["progress"].extend(jr.progress)
                if tr.enabled:
                    for g in tr.groups(mark) + jr.groups:
                        c = self.reader.read(g)
                        add_counts(res["counts"], c)
                        if g.endswith(":build"):
                            res["eager_jobs"] += c["jobs"]
            if err is not None:
                self.failed += 1
                log(f"pass {self.n} job {name} FAILED: {err}")
            after = getattr(self.wl, "after_job", None)
            if after is not None:
                after()
        res["wall"] = wall
        res["spans"] = tr.spans[first_span:]
        self.cache_series.append(cache_state(self.sc))
        return res

    def _verify(self, name: str, output, check: bool) -> str | None:
        d = digest(output)
        if check:
            self.reference[name] = d
            try:
                self.wl.check(name, output)
            except AssertionError as exc:
                self.wrong.add(name)
                return f"output differs from the reference answer: {exc}"
            return None
        if name in self.wrong:
            return "output of a job whose checked output was wrong"
        if d != self.reference.get(name):
            return f"digest {d} differs from the checked output's {self.reference.get(name)}"
        return None

    def segment(self, tr, seconds: float, min_passes: int) -> list[dict]:
        passes: list[dict] = []
        end = time.perf_counter() + seconds
        while len(passes) < min_passes or time.perf_counter() < end:
            passes.append(self.one_pass(tr))
        return passes

    def interleaved(self, off, tr, seconds: float, min_each: int) -> tuple[list, list]:
        """Untraced and traced passes in the order U T T U U T ..., so that
        warm-up over the run does not bias the traced-minus-untraced
        difference."""
        plain: list[dict] = []
        traced: list[dict] = []
        end = time.perf_counter() + seconds
        while len(traced) < min_each or time.perf_counter() < end:
            for kind in ("plain", "traced") if len(traced) % 2 == 0 else ("traced", "plain"):
                if kind == "plain":
                    plain.append(self.one_pass(off))
                else:
                    with self.wl.traced(tr):
                        traced.append(self.one_pass(tr))
        return plain, traced


def end_to_end(setup_s, first, steady, wl, peak_bytes) -> dict:
    job_s = median([p["wall"] for p in steady])
    return {
        "setup_s": setup_s,
        "first_job_s": first["wall"],
        "job_s": job_s,
        "rows_per_s": wl.input_rows / job_s,
        "peak_rss_mb": peak_bytes / 1e6,
    }


def per_layer(runner, untraced, traced, probe) -> dict:
    """Per-layer metrics from the traced passes: medians over passes of
    per-pass totals, medians over micro-batches for per-batch times."""
    out = dict.fromkeys(LAYER_UNITS, 0.0)

    def span_total(p, name):
        return sum(s["end"] - s["start"] for s in p["spans"] if s["name"] == name)

    def per_pass(fn):
        return median([fn(p) for p in traced])

    sm = [spark_metrics(p["counts"], p["wall"], runner.cores) for p in traced]
    for k in sm[0]:
        out[k] = median([m[k] for m in sm])
    n_rdd, storage = runner.cache_series[-1]
    out["cache.persisted_rdds"] = n_rdd
    out["cache.storage_mb"] = storage
    out["trace.overhead_s"] = per_pass(lambda p: p["wall"]) - median([p["wall"] for p in untraced])

    for name in runner.wl.jobs:
        if f"job.{name}_s" in out:
            out[f"job.{name}_s"] = per_pass(lambda p: p["latency"][name])
    if any(s["name"] == "plans.build" for p in traced for s in p["spans"]):
        out["schemas.load_table_s"] = per_pass(lambda p: span_total(p, "schemas.load_table"))
        out["plans.build_s"] = per_pass(lambda p: span_total(p, "plans.build"))
        out["plans.plan_s"] = per_pass(lambda p: span_total(p, "plans.plan"))
        out["plans.exec_s"] = per_pass(lambda p: span_total(p, "plans.exec"))
        out["plans.eager_jobs"] = per_pass(lambda p: p["eager_jobs"])
    if probe:
        out.update(probe)
        load = per_pass(lambda p: span_total(p, "sinks.load_data"))
        out["sinks.load_data_s"] = load
        out["sinks.write_mb_per_s"] = probe["sinks.bytes_written"] / 1e6 / load
        out["pipeline.overhead_s"] = per_pass(
            lambda p: span_total(p, "pipeline.run_pipeline")
            - span_total(p, "sources.ingest_html_files")
            - span_total(p, "operators.transform_data")
            - span_total(p, "sinks.load_data")
        )
    batches = [pr for p in traced for pr in p["progress"]]
    if batches:
        durations = [float(pr.batchDuration) for pr in batches]
        out["batch_p50_ms"] = percentile(durations, 50)
        out["batch_p90_ms"] = percentile(durations, 90)

        def dur(key):
            return median([float(pr.durationMs.get(key, 0)) for pr in batches])

        out["streaming.add_batch_ms"] = dur("addBatch")
        out["streaming.query_planning_ms"] = dur("queryPlanning")
        out["streaming.wal_commit_ms"] = dur("walCommit")
        out["streaming.latest_offset_ms"] = dur("latestOffset")
        out["streaming.state_commit_ms"] = median(
            [float(sum(op.commitTimeMs for op in pr.stateOperators)) for pr in batches]
        )

        def final_state(p, attr):
            # the last progress of each query holds its state at the end
            last = {}
            for pr in p["progress"]:
                last[str(pr.runId)] = pr
            return sum(getattr(op, attr) for pr in last.values() for op in pr.stateOperators)

        out["streaming.state_rows"] = per_pass(lambda p: final_state(p, "numRowsTotal"))
        out["streaming.state_mb"] = per_pass(lambda p: final_state(p, "memoryUsedBytes") / 1e6)
        out["streaming.rows_dropped_by_watermark"] = per_pass(
            lambda p: sum(
                op.numRowsDroppedByWatermark for pr in p["progress"] for op in pr.stateOperators
            )
        )
        out["streaming.batches"] = per_pass(lambda p: len(p["progress"]))
    return out


def run(args) -> int:
    import numpy as np

    import workloads

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure(work)
    spark, setup_s = start_spark()
    wl = None
    try:
        rng = np.random.default_rng(args.seed)
        wl = workloads.build(args.workload, spark, work, rng, args.seed)
        env_rec = environment_record(spark, args, wl)
        print(json.dumps({"environment": env_rec}), flush=True)
        runner = Runner(spark, wl, rng)
        off = Tracer(spark.sparkContext, enabled=False)
        steal0, ticks0 = cpu_ticks()
        with MemorySampler() as mem:
            first = runner.one_pass(off, check=True)
            warmup = [runner.one_pass(off) for _ in range(wl.warmup_passes)]
            if args.trace:
                tr = Tracer(spark.sparkContext, enabled=True)
                steady, traced = runner.interleaved(off, tr, args.seconds, MIN_TRACED_PASSES)
                probe = wl.layer_probe() if hasattr(wl, "layer_probe") else None
            else:
                steady = runner.segment(off, args.seconds, MIN_PASSES)
        steal1, ticks1 = cpu_ticks()
        if args.trace:
            values = per_layer(runner, steady, traced, probe)
            units = LAYER_UNITS
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"environment": env_rec, "spans": tr.spans}, f)
        else:
            values = end_to_end(setup_s, first, steady, wl, mem.peak)
            units = E2E_UNITS
        summary = {
            "passes": 1 + len(warmup) + len(steady) + (len(traced) if args.trace else 0),
            "warmup_pass_s": [round(p["wall"], 4) for p in warmup],
            "pass_s": [round(p["wall"], 4) for p in steady],
            "job_s": {
                name: [round(p["latency"][name], 4) for p in steady] for name in wl.jobs
            },
            "first_job_s": round(first["wall"], 4),
            "persisted_rdds_after_each_pass": [n for n, _ in runner.cache_series],
            "error_rate": runner.failed / runner.attempted,
            "host_steal_share": (steal1 - steal0) / max(ticks1 - ticks0, 1),
        }
        print(json.dumps({"summary": summary}), flush=True)
        for k in units:
            print(f"{k:40s} {values[k]:>16.6g} {units[k]}", flush=True)
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        try:
            if wl is not None:
                wl.close()
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str]) -> int:
    # a TERM signal unwinds through run()'s cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    problem = environment_problem()
    if problem is not None:
        log(f"refusing to run: {problem}")
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
