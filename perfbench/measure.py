"""Measurement helpers: spans, Spark status-store counters, process-tree
memory, output digests and output comparison.

Nothing here changes what the package does. Spans are recorded around
calls made from the benchmark, and layer functions are wrapped by
swapping a module attribute for the length of a traced pass.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import statistics
import threading
import time
from typing import Any, Iterator

from py4j.protocol import Py4JJavaError


# --- spans -------------------------------------------------------------------
class Tracer:
    """Keeps spans (name, start, end, parent, job group) in memory.

    ``enabled=False`` gives the untraced path: ``span`` then records
    nothing and sets no job group, so both modes run the same code.
    """

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": group,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if group is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def groups(self, since: int) -> list[str]:
        return [s["group"] for s in self.spans[since:] if s["group"]]


@contextlib.contextmanager
def wrapped(modules: list, attr: str, tracer: Tracer, span_name: str) -> Iterator[None]:
    """Replace ``module.attr`` in each module by a wrapper that records
    a span around every call; restore the originals on exit."""
    saved = []
    for mod in modules:
        fn = getattr(mod, attr)

        def wrapper(*a, _fn=fn, **kw):
            with tracer.span(span_name):
                return _fn(*a, **kw)

        saved.append((mod, fn))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, fn in saved:
            setattr(mod, attr, fn)


# --- Spark status store ----------------------------------------------------------
STAGE_FIELDS = {
    "tasks": "numTasks",
    "tasks_failed": "numFailedTasks",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
}


class StageReader:
    """Reads job and stage counters of finished job groups from Spark's
    status store. Read each group right after its jobs end: a stage a
    later job reuses is re-recorded there as skipped."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.seen: set[int] = set()

    def read(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(["jobs", "stages", "stages_skipped", *STAGE_FIELDS], 0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store
                    continue
                status = st.status().toString()
                if status == "SKIPPED" or sid in self.seen:
                    out["stages_skipped"] += 1
                    continue
                if status not in ("COMPLETE", "FAILED"):
                    continue
                self.seen.add(sid)
                out["stages"] += 1
                for key, getter in STAGE_FIELDS.items():
                    out[key] += getattr(st, getter)()
        return out


def cache_state(sc) -> tuple[int, float]:
    """(persisted RDD count, MB held in memory and on disk)."""
    jsc = sc._jsc.sc()
    n = jsc.getPersistentRDDs().size()
    size = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
    return n, size / 1e6


def add_counts(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


def spark_metrics(c: dict, wall_s: float, cores: int) -> dict:
    """Status-store totals of one pass -> the ``spark.*`` metrics."""
    run_s = c.get("run_ms", 0) / 1e3
    executed = c.get("stages", 0)
    skipped = c.get("stages_skipped", 0)
    return {
        "spark.jobs": c.get("jobs", 0),
        "spark.stages": executed,
        "spark.stages_skipped": skipped,
        "spark.stage_reuse_ratio": skipped / (executed + skipped) if executed + skipped else 0.0,
        "spark.tasks": c.get("tasks", 0),
        "spark.tasks_failed": c.get("tasks_failed", 0),
        "spark.input_mb": c.get("input_bytes", 0) / 1e6,
        "spark.shuffle_read_mb": c.get("shuffle_read_bytes", 0) / 1e6,
        "spark.shuffle_write_mb": c.get("shuffle_write_bytes", 0) / 1e6,
        "spark.spill_mb": (c.get("spill_mem_bytes", 0) + c.get("spill_disk_bytes", 0)) / 1e6,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": c.get("cpu_ns", 0) / 1e9,
        "spark.gc_s": c.get("gc_ms", 0) / 1e3,
        "spark.core_busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }


# --- process tree memory ---------------------------------------------------------
def tree_rss(root: int) -> dict[int, int]:
    """Resident set size in bytes of ``root`` and each of its descendants.
    ``statm`` is read, not ``smaps_rollup``: the latter walks the page
    tables of a multi-GB JVM (tens of ms per read) and would slow the
    process it measures."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm", "rb") as f:
                rss[int(entry)] = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:  # exited while we walked the tree
            continue
        # the command name may hold spaces: fields resume after its ')'
        parent[int(entry)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return out


class MemorySampler:
    """Samples the summed RSS of this process and all its descendants (JVM,
    Python workers) every ``period`` seconds; keeps the peak.

    A process is counted from its second sample on. Helpers the JVM spawns
    live for milliseconds, and one caught between its vfork and its exec
    reports the JVM's whole memory; counting it would add the JVM twice.
    """

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        seen: set[int] = {me}
        while not self._stop.is_set():
            sample = tree_rss(me)
            self.peak = max(self.peak, sum(v for p, v in sample.items() if p in seen))
            seen = set(sample) | {me}
            self._stop.wait(self.period)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat;
    steal is time the hypervisor ran something else on our CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def seconds_since_process_start() -> float:
    """Wall time since this process was created (kernel start time)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --- outputs -----------------------------------------------------------------------
def _norm(v: Any) -> Any:
    """Value -> hashable canonical form. Floats keep 10 significant
    digits so a last-bit difference in a reduction cannot flip a digest."""
    if v is None:
        return None
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
    if isinstance(v, float):
        return None if math.isnan(v) else f"{v:.9e}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v


def digest(pdf) -> str:
    """Order-independent digest over every column of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_norm(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def compare_frames(got, exp, rtol: float = 1e-9) -> None:
    """Raise AssertionError unless ``got`` equals ``exp`` as multisets of
    rows: the rule of ``testing.compare_with_oracle`` (same columns and
    row count, float kind on both sides or neither, sorted rows, floats
    within ``rtol``) applied to two pandas frames."""
    from simple_etl_pipeline_spark.testing import _rows

    exp_cols = sorted(exp.columns.tolist())
    got_cols = sorted(got.columns.tolist())
    if exp_cols != got_cols:
        raise AssertionError(f"columns: got={got_cols} expected={exp_cols}")
    if len(exp) != len(got):
        raise AssertionError(f"row count: got={len(got)} expected={len(exp)}")
    for c in exp_cols:
        if (exp[c].dtype.kind == "f") != (got[c].dtype.kind == "f"):
            raise AssertionError(f"column {c}: dtype {got[c].dtype} vs {exp[c].dtype}")
    exp_rows = _rows(exp.to_dict("records"), exp_cols)
    got_rows = _rows(got.to_dict("records"), exp_cols)
    for i, (e_row, g_row) in enumerate(zip(exp_rows, got_rows)):
        for c, e, g in zip(exp_cols, e_row, g_row):
            if e is None and g is None:
                continue
            if isinstance(e, float) and isinstance(g, float):
                if not math.isclose(e, g, rel_tol=rtol, abs_tol=1e-9):
                    raise AssertionError(f"row {i} col {c}: got={g!r} expected={e!r}")
            elif e != g:
                raise AssertionError(f"row {i} col {c}: got={g!r} expected={e!r}")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: int) -> float:
    """q-th percentile (1-99) by statistics.quantiles' exclusive method."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]
