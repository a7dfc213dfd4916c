"""Plan auditing as a library API — the scale rules this repo enforces
in its test suite (tests/test_plan_shapes.py, tools/plan_dump.py),
packaged so a PIPELINE can assert them in CI before a query ever runs
at 100 TB:

- no CartesianProduct (quadratic execution);
- no non-Cross BroadcastNestedLoopJoin (a join that found no equi keys);
- every Cross BroadcastNestedLoopJoin broadcasts a row-bounded frame
  (:func:`scalar_bnlj_violations`);
- no row-at-a-time Python UDF on the data path (BatchEvalPython —
  Arrow-batched pandas UDFs show as ArrowEvalPython and are allowed);
- optionally: a filter actually pushed to the scan, a bounded number
  of shuffles, a scan pruned to an expected column count.

Every rule reads the JVM SparkPlan tree by node class, through one
walk (:func:`plan_nodes`) that looks through AQE plans, query stages,
cached relations, reused exchanges and subqueries, so a rule holds
the same on a fresh frame and on one whose plan (or a cached frame it
reads) has already run. This runs at plan time (no job is executed)
and costs milliseconds to a few hundred: the cheap pre-flight a
scheduled 100 TB job wants, because the alternative is discovering
the cartesian product three hours in.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (what ``df.explain('formatted')``
    prints) as a string."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def plan_fingerprint(df: DataFrame) -> str:
    """Stable 12-hex fingerprint of the physical plan: expression ids,
    plan ids and statistics are session counters, normalized out. The
    FORMATTED explain is used because ``executedPlan().toString()``
    truncates DataFilters/PushedFilters at
    spark.sql.maxMetadataStringLength — and since expression-id DIGIT
    COUNT shifts the truncation point, the truncated text differs even
    between two identical invocations in one session (round-7 finding:
    43 "moved" PLANS_ALL fingerprints on unchanged code were exactly
    this artifact). Shared by bench.py and tools/plan_dump.py so
    round-over-round fingerprint diffs mean PLAN changes, nothing
    else.

    Round-8 finding: two generated-name families carry the session's
    expression counter in the NAME, which ``#\\d+`` misses — lambda
    variables of higher-order functions (``lambda x_17#``) and
    common-subexpression aliases (``_common_expr_4#``) — so those
    plans' fingerprints depended on how many plans the session had
    built BEFORE them, and a driver-window reorder spuriously "moved"
    39 fingerprints on unchanged code. Both normalized here, as are
    run-scoped checkpoint RDD ids (one-time reset of those values;
    order-invariance is pinned by
    tests/test_plan_shapes.py::test_plan_fingerprint_is_build_order_invariant).

    Known residual (documented, not normalizable by text rules):
    multi-distinct aggregates (agg_approx_distinct,
    agg_distinct_counts, txt_dataset_card, and dq_profile_drift —
    whose FOUR conditional countDistincts yield a different
    fingerprint on three consecutive same-session builds,
    r12-continuation finding; bench.FP_RESIDUAL keeps these from
    defeating the box-noise rebase guard) can flip between equivalent
    Expand orderings depending on expression-id parity — Spark's
    RewriteDistinctAggregates orders distinct groups by an
    id-keyed structure — and a streaming backfill's staged scan
    embeds its per-run temp dir (st_scd2_users). Treat either
    fingerprint value as stable for those; node counts are
    unaffected. Separately, building a query while a frame persisted by
    an EARLIER build is still cached legitimately substitutes
    InMemoryTableScan subtrees (graph/dedup family: the shingle sets
    and pair lists) — that is a real plan change by Spark's cache
    manager, so fingerprints are specified for FRESH builds: bench and
    plan_dump call ``spark.catalog.clearCache()`` before each build
    they fingerprint."""
    import hashlib
    import re

    s = formatted_plan(df)
    s = re.sub(r"#\d+", "#", s)
    s = re.sub(r"(?<=lambda )([A-Za-z]+)_\d+", r"\1_", s)
    s = re.sub(r"_common_expr_\d+", "_common_expr_", s)
    s = re.sub(r"RDD\[\d+\]", "RDD[]", s)  # checkpoint RDD ids are run-scoped
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    return hashlib.md5(s.encode()).hexdigest()[:12]


# Row-count-preserving (or row-count-REDUCING) single-child nodes: if
# every node between a BroadcastExchangeExec and its bounding aggregate
# is in this set, the broadcast frame has at most the aggregate's output
# rows. Joins / Generate / Expand / Union are deliberately absent —
# they can multiply rows, so hitting one is an audit failure. The AQE
# and cache wrappers are here too: :func:`_children` looks through
# each to the one plan it wraps.
_ROW_BOUND_PRESERVING = frozenset({
    "BroadcastExchangeExec",
    "ShuffleExchangeExec",
    "ReusedExchangeExec",
    "AQEShuffleReadExec",
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
    "ProjectExec",
    "FilterExec",
    "SortExec",
    "CoalesceExec",
    "ColumnarToRowExec",
    "RowToColumnarExec",
    "InputAdapter",
    "WholeStageCodegenExec",
    "AdaptiveSparkPlanExec",
    "SubqueryExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "TakeOrderedAndProjectExec",
    "InMemoryTableScanExec",
})

_AGGREGATES = frozenset(
    {"HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec"}
)

# Leaves that are constant-size by construction (driver-side literal
# rows), so a broadcast built purely over them is bounded without an
# aggregate. An RDDScanExec ("Scan ExistingRDD") counts only when it is
# a createDataFrame literal (e.g. the percentile list
# ev_quantile_sketch probes with): see :func:`_is_driver_literal`.
# A checkpointed frame is an RDD scan too, of data-sized rows.
_CONSTANT_LEAVES = frozenset({"LocalTableScanExec", "RDDScanExec"})

# Primary-key columns of the testdata tables (schemas.py), unique by
# construction (pinned by the schema registry and the corpus
# generators; dedup_exact et al. depend on the same fact). Two bounds
# follow:
#   - a Filter conjunct `pk < literal` / `pk <= literal` /
#     `pk IN (literals)` bounds output rows by the literal / list size
#     (the N_QUERIES query-vector broadcasts of the similarity family);
#   - a BroadcastHashJoin whose RIGHT keys are all pks matches at most
#     one right row per left row, so LeftOuter/Inner output is
#     bounded by the (bounded) left side (train_hard_negatives'
#     anchor-source decoration).
UNIQUE_ID_COLUMNS = frozenset({"vec_id", "doc_id"})

# Documented K-row-bounded aggregate keys: a keyed aggregate is only
# accepted as a bounded broadcast when EVERY key is in this set, each
# entry citing why its domain is dimension-sized (constant in the
# corpus row count). Anything else keyed is a violation — that is the
# point of the rule: a new data-dependent-keyed BNLJ cannot ride in
# behind the approved count.
#   c_label / c_id / code — the centroid / cell / codebook ids of the
#     k-means family (plans/similarity.py sim_centroids_by_label,
#     sim_kmeans_lloyd, dedup_semdedup, sim_ivf*/sim_ivfpq_topk):
#     seeded from the label VOCABULARY (a bounded categorical
#     dimension — ~|languages|, never corpus-sized), so the
#     collect_list centroid-array frames they key hold at most
#     |labels| rows at any corpus size — the "deliberate K-row
#     centroid broadcast" test_plan_shapes pins.
#   event_type — the events-table type enum (a bounded vocabulary by
#     the table's data model; the pairwise-overlap ops keyed on it —
#     ev_hll_overlap's |types|^2 sketch join — are only meaningful
#     under that bound, and the sketch rows are ~1 KB each).
K_BOUNDED_KEYS = frozenset({"c_label", "c_id", "code", "event_type"})


def _name(jobj) -> str:
    return jobj.getClass().getSimpleName()


def _seq(seq) -> list:
    """A Scala Seq of JVM objects as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _children(node, name: str) -> list:
    """The plan nodes under a physical plan node. The wrappers hold
    their plan outside ``children()``: an AQE plan its current plan, a
    query stage its stage plan, a cached-relation scan the cache's plan
    and a reused exchange or subquery the one it reuses."""
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    if name in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return [node.child()]
    return _seq(node.children())


def plan_nodes(df: DataFrame) -> Iterator[tuple[str, object]]:
    """Every node of a DataFrame's physical plan (``executedPlan()``)
    as ``(class simple name, JVM node)``, each once. The walk looks
    through AQE plans, query stages, cached relations (the cache's own
    plan, executed or not), reused exchanges and subqueries (the reuse
    source itself) and enters every node's ``subqueries()``, so it
    reads a fresh frame and the same frame after its action alike. A
    node reached by more than one path is yielded once."""
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = _name(node)
        # a query stage's id() is its stage number, not a plan id; the
        # stage plan it wraps is visited (and deduplicated) next
        if not name.endswith("QueryStageExec"):
            if node.id() in seen:
                continue
            seen.add(node.id())
        yield name, node
        stack.extend(reversed(_seq(node.subqueries())))
        stack.extend(reversed(_children(node, name)))


def _attr_name(expr) -> str | None:
    return expr.name() if _name(expr) == "AttributeReference" else None


def _bounds_unique_id(cond) -> bool:
    """True iff a conjunct of a filter condition bounds a
    :data:`UNIQUE_ID_COLUMNS` column by literals."""
    name = _name(cond)
    if name == "And":
        return _bounds_unique_id(cond.left()) or _bounds_unique_id(cond.right())
    if name in ("LessThan", "LessThanOrEqual"):
        return (
            _attr_name(cond.left()) in UNIQUE_ID_COLUMNS
            and _name(cond.right()) == "Literal"
        )
    if name == "InSet":
        return _attr_name(cond.child()) in UNIQUE_ID_COLUMNS
    if name == "In":
        return _attr_name(cond.value()) in UNIQUE_ID_COLUMNS and all(
            _name(e) == "Literal" for e in _seq(cond.list())
        )
    return False


def _is_driver_literal(node) -> bool:
    """True iff every leaf of an RDDScanExec's RDD lineage is a
    ParallelCollectionRDD: rows the driver handed over
    (createDataFrame), not a checkpoint or a scan of data."""
    stack, seen = [node.rdd()], set()
    while stack:
        rdd = stack.pop()
        if rdd.id() in seen:
            continue
        seen.add(rdd.id())
        deps = _seq(rdd.dependencies())
        if not deps and _name(rdd) != "ParallelCollectionRDD":
            return False
        stack.extend(d.rdd() for d in deps)
    return True


def _bound_violation(node) -> str | None:
    """None if the plan under ``node`` outputs provably row-bounded
    rows, else the reason."""
    while True:
        name = _name(node)
        if name in _AGGREGATES:
            keys = {e.name() for e in _seq(node.groupingExpressions())}
            if keys <= K_BOUNDED_KEYS:
                return None
            return (
                f"keyed aggregate ({name} keys {sorted(keys)}) — "
                "data-dependent rows"
            )
        if name in _CONSTANT_LEAVES:
            if name == "RDDScanExec" and not _is_driver_literal(node):
                return "RDD scan over data rows (not a driver literal)"
            return None
        if name == "FilterExec" and _bounds_unique_id(node.condition()):
            # the subtree below is then irrelevant to the bound
            return None
        if name == "BroadcastHashJoinExec":
            jtype = node.joinType().toString()
            left_ok = _bound_violation(node.left())
            if jtype in ("LeftSemi", "LeftAnti"):
                return left_ok  # never exceeds the left side
            rkeys = {_attr_name(k) for k in _seq(node.rightKeys())}
            if jtype in ("LeftOuter", "Inner") and rkeys <= UNIQUE_ID_COLUMNS:
                return left_ok  # at most one right match per left row
            return f"join in build subtree not provably row-bounded: {name} ({jtype})"
        if name == "BroadcastNestedLoopJoinExec":
            # a cross of two bounded frames is bounded
            return _bound_violation(node.left()) or _bound_violation(node.right())
        if name not in _ROW_BOUND_PRESERVING:
            return f"non-row-bounded node in build subtree: {name}"
        (node,) = _children(node, name)


def _bnlj_violation(node) -> str | None:
    """None if a BroadcastNestedLoopJoin broadcasts a provably
    row-bounded frame, else the finding."""
    right = node.buildSide().toString() == "BuildRight"
    why = _bound_violation(node.right() if right else node.left())
    if why is None:
        return None
    return f"BNLJ (plan id {node.id()}) build side not scalar-bounded: {why}"


def scalar_bnlj_violations(df: DataFrame) -> list[str]:
    """Every BroadcastNestedLoopJoin in a DataFrame's physical plan must
    broadcast a provably row-bounded frame, so the repo's approved-BNLJ
    count can never silently absorb a non-scalar nested-loop join. The
    build side passes iff, descending through row-count-preserving
    nodes only, it reaches either

    - an aggregate with no grouping keys (exactly one output row — the
      scalar-statistic broadcast the approved carriers use),
    - an aggregate whose every key is in :data:`K_BOUNDED_KEYS` (a
      documented compile-time-constant domain, at most K rows — the
      k-means centroid-array broadcast),
    - a constant leaf (driver-side literal rows),
    - a filter bounding a :data:`UNIQUE_ID_COLUMNS` column by literals,
      or a join that cannot exceed its bounded left side,
    - or a nested BNLJ BOTH of whose children are bounded (a cross of
      two constant-size frames is constant-size).

    Anything else — a keyed aggregate over a data-dependent domain, a
    Generate/Union/multiplying join inside the build subtree, a bare
    parquet scan — is reported. Returns one message per violating BNLJ
    (empty == every nested-loop broadcast is row-bounded), subquery
    plans included (:func:`plan_nodes`)."""
    return [
        why
        for name, node in plan_nodes(df)
        if name == "BroadcastNestedLoopJoinExec"
        and (why := _bnlj_violation(node)) is not None
    ]


@dataclass
class PlanAudit:
    """Result of :func:`audit_plan`: findings is empty iff the plan
    passed every enabled rule."""

    findings: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.findings


def audit_plan(
    df: DataFrame,
    *,
    forbid_cartesian: bool = True,
    forbid_python_row_udf: bool = True,
    max_shuffles: int | None = None,
    require_pushed_filter: bool = False,
    max_scan_columns: int | None = None,
) -> PlanAudit:
    """Audit a DataFrame's physical plan against the scale rules.

    Raises nothing — returns a :class:`PlanAudit`; callers gate with
    ``assert audit.ok, audit.findings`` (tests) or log the findings
    (scheduled jobs). ``max_shuffles`` counts the distinct shuffle
    exchanges of the plan (a reused exchange counts once); AQE may
    later coalesce them, so treat it as an upper bound on planned
    shuffles, not runtime ones."""
    by_class: dict[str, list] = {}
    for name, node in plan_nodes(df):
        by_class.setdefault(name, []).append(node)
    out = PlanAudit()

    if forbid_cartesian:
        if "CartesianProductExec" in by_class:
            out.findings.append("CartesianProduct in plan")
        bnljs = by_class.get("BroadcastNestedLoopJoinExec", [])
        # a BroadcastNestedLoopJoin that is not an audited Cross join
        # means a join condition failed to produce equi keys
        bad = [j for j in bnljs if j.joinType().toString() != "Cross"]
        if bad:
            out.findings.append(
                "non-Cross BroadcastNestedLoopJoin: "
                f"{bad[0].joinType()} {bad[0].buildSide()} (plan id {bad[0].id()})"
            )
        # every surviving (Cross) BNLJ must broadcast a scalar-bounded
        # frame — the rule that keeps the approved-carrier count from
        # silently absorbing a non-scalar nested-loop join
        out.findings.extend(
            why for why in map(_bnlj_violation, bnljs) if why is not None
        )

    if forbid_python_row_udf and "BatchEvalPythonExec" in by_class:
        out.findings.append(
            "row-at-a-time Python UDF on the data path (BatchEvalPython); "
            "use a pandas_udf (ArrowEvalPython) or a Column expression"
        )

    if max_shuffles is not None:
        n = len(by_class.get("ShuffleExchangeExec", []))
        if n > max_shuffles:
            out.findings.append(f"{n} shuffles > allowed {max_shuffles}")

    scans = by_class.get("FileSourceScanExec", [])
    if require_pushed_filter:
        # a multi-scan plan may push on any of its scans
        if not scans:
            out.findings.append("no PushedFilters section in any scan")
        elif all(s.metadata().apply("PushedFilters") == "[]" for s in scans):
            out.findings.append("no filter pushed to any scan")

    if max_scan_columns is not None:
        for scan in scans:
            schema = scan.requiredSchema()
            if schema.size() > max_scan_columns:
                out.findings.append(
                    f"scan reads {schema.size()} columns > allowed "
                    f"{max_scan_columns}: {schema.catalogString()[:120]}"
                )

    return out
