"""Plan auditing as a library API — the scale rules this repo enforces
in its test suite (tests/test_plan_shapes.py, tools/plan_dump.py),
packaged so a PIPELINE can assert them in CI before a query ever runs
at 100 TB:

- no CartesianProduct (quadratic execution);
- no non-Cross BroadcastNestedLoopJoin (a join that found no equi keys);
- no row-at-a-time Python UDF on the data path (BatchEvalPython —
  Arrow-batched pandas UDFs show as ArrowEvalPython and are allowed);
- optionally: a filter actually pushed to the scan, a bounded number
  of shuffles, a scan pruned to an expected column count.

The audit reads the FORMATTED physical plan string — the same evidence
PLANS.md records — so a finding cites the offending node verbatim.
This runs at plan time (no job is executed) and costs milliseconds:
the cheap pre-flight a scheduled 100 TB job wants, because the
alternative is discovering the cartesian product three hours in.
"""

from __future__ import annotations

from dataclasses import dataclass, field

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
    unaffected. Separately, REBUILDING a persist()/checkpoint-bearing
    query while a previous build's cache is alive legitimately
    substitutes InMemoryTableScan subtrees (graph/dedup family) —
    that is a real plan change by Spark's cache manager, so
    fingerprints are specified for FRESH builds (bench and plan_dump
    both fingerprint the first build, in fixed order)."""
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
# every node between a BroadcastExchange and its bounding aggregate is
# in this set, the broadcast frame has at most the aggregate's output
# rows. Joins / Generate / Expand / Union are deliberately absent —
# they can multiply rows, so hitting one is an audit failure.
_ROW_BOUND_PRESERVING = {
    "BroadcastExchange",
    "Exchange",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "TableCacheQueryStage",
    "ResultQueryStage",
    "Project",
    "Filter",
    "Sort",
    "Coalesce",
    "ColumnarToRow",
    "RowToColumnar",
    "InputAdapter",
    "WholeStageCodegen",
    "AdaptiveSparkPlan",
    "Subquery",
    "GlobalLimit",
    "LocalLimit",
    "TakeOrderedAndProject",
    # cache substitution wrappers (a rebuilt query whose subtree is
    # persisted): both preserve the cached plan's rows and the
    # formatted explain expands the relation beneath them
    "InMemoryTableScan",
    "InMemoryRelation",
}

_AGGREGATES = {"HashAggregate", "SortAggregate", "ObjectHashAggregate"}

# Leaves that are constant-size by construction (driver-side literal
# rows), so a broadcast built purely over them is bounded without an
# aggregate. "Scan ExistingRDD" is a createDataFrame literal in this
# engine: the data path is exclusively parquet + derived frames (the
# no-.rdd/no-.collect rule, pinned by the repo grep audits), so the
# only RDD-backed scans are driver-literal parameter frames (e.g. the
# percentile list ev_quantile_sketch probes with).
_CONSTANT_LEAVES = {"LocalTableScan", "Scan ExistingRDD"}

# Primary-key columns of the testdata tables (schemas.py), unique by
# construction (pinned by the schema registry and the corpus
# generators; dedup_exact et al. depend on the same fact). Two textual
# bounds follow:
#   - a Filter conjunct `pk < literal` / `pk IN (list)` bounds output
#     rows by the literal / list size (the N_QUERIES query-vector
#     broadcasts of the similarity family);
#   - a BroadcastHashJoin whose RIGHT keys are all pks matches at most
#     one build row per probe row, so LeftOuter/Inner output is
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


def _summary_nodes(plan: str) -> list[tuple[int, str, int]]:
    """Parse the formatted plan's summary tree into (col, name, id)
    triples in pre-order. col is the node's column in the tree art
    (direct children sit at col + 3), name has the codegen '* ' marker
    stripped, id is the '(N)' detail-section key."""
    import re

    out: list[tuple[int, str, int]] = []
    for ln in plan.splitlines():
        if ln.startswith("=="):
            continue
        if not ln.strip():
            break  # end of the summary section
        # AQE query-stage nodes carry trailing ", Statistics(...)"
        # after the id — tolerate it, or the stage node drops out of
        # the parsed tree and its child's column no longer reads as
        # parent+3 (the round-15 cached-semdedup find)
        m = re.search(r"\((\d+)\)(?:, Statistics\(.*\))?\s*$", ln)
        if not m:
            continue
        stripped = re.sub(r"^[\s:+\-]*", "", ln)
        col = len(ln) - len(stripped)
        name = stripped[2:] if stripped.startswith("* ") else stripped
        out.append((col, name, int(m.group(1))))
    return out


def _detail_sections(plan: str) -> dict[int, str]:
    """Map node id -> its '(N) NodeName\\n...' detail segment."""
    import re

    out: dict[int, str] = {}
    for seg in re.split(r"\n\n+", plan):
        m = re.match(r"\((\d+)\) ", seg.strip())
        if m:
            out[int(m.group(1))] = seg.strip()
    return out


def scalar_bnlj_violations(plan: str) -> list[str]:
    """VERDICT r14 watch-item #3: every BroadcastNestedLoopJoin in a
    FORMATTED plan must broadcast a provably row-bounded frame, so the
    repo's approved-BNLJ count can never silently absorb a non-scalar
    nested-loop join. The build-side subtree passes iff, descending
    from the join's build child through row-count-preserving nodes
    only, it reaches either

    - an aggregate with ``Keys: []`` (exactly one output row — the
      scalar-statistic broadcast the approved carriers use),
    - an aggregate whose every key is in :data:`K_BOUNDED_KEYS` (a
      documented compile-time-constant domain, at most K rows — the
      k-means centroid-array broadcast),
    - a constant leaf (``LocalTableScan`` — driver-side literal rows),
    - or a nested BNLJ BOTH of whose children are bounded (a cross of
      two constant-size frames is constant-size).

    Anything else — a keyed aggregate over a data-dependent domain, a
    Generate/Union/multiplying join inside the build subtree, a bare
    parquet scan — is reported. Returns one message per violating BNLJ
    node id (a shared subtree printed multiple times by the formatted
    explain is reported once; empty == every nested-loop broadcast is
    row-bounded). Operates on the formatted plan TEXT so tools
    (plan_dump) can audit without rebuilding DataFrames.

    Specified for FRESH builds, the same convention as
    :func:`plan_fingerprint`: when the session's cache manager splices
    an EXECUTED persisted frame into the plan, the InMemoryRelation
    re-prints that cache's AdaptiveSparkPlan with ``== Final Plan ==``
    / ``== Initial Plan ==`` sections (``== Current Plan ==`` while
    that plan is not finalized) whose indentation RESTARTS at an
    unrelated column (and nested splices interleave), so the tree-art
    containment arithmetic below stops meaning parent/child from the
    first such marker on (r16 find: a suite-ordering cache hit turned
    sim_ivfpq_topk's two scalar cross joins into phantom
    "expected 2 children" findings). Nodes printed after the first
    marker are therefore out of audit scope — they are either the
    splice's provenance plan (audited when the fresh build that
    created the cache was audited; a cache hit never re-executes it)
    or outer nodes whose child columns are no longer trustworthy.
    A plan whose every BNLJ lies out of scope gets one "plan out of
    audit scope" message instead of an all-clear. Fresh plans contain
    no such markers and keep full coverage."""
    import re

    nodes = _summary_nodes(plan)
    details = _detail_sections(plan)
    out: list[str] = []

    # Index of the first node rendered at/after an executed-cache
    # section marker; len(nodes) (everything reliable) when none.
    n_reliable = len(nodes)
    _cnt = 0
    for ln in plan.splitlines():
        if ln.startswith("=="):
            continue
        if not ln.strip():
            break
        if re.match(r"^[\s:+\-]*== (?:Final|Initial|Current) Plan ==\s*$", ln):
            n_reliable = _cnt
            break
        if re.search(r"\((\d+)\)(?:, Statistics\(.*\))?\s*$", ln):
            _cnt += 1

    def subtree(i: int) -> list[int]:
        col = nodes[i][0]
        j = i + 1
        idx = []
        while j < len(nodes) and nodes[j][0] > col:
            idx.append(j)
            j += 1
        return idx

    def direct_children(i: int) -> list[int]:
        col = nodes[i][0]
        return [j for j in subtree(i) if nodes[j][0] == col + 3]

    def check_build(i: int) -> str | None:
        """None if bounded, else the reason."""
        import re

        cur = i
        while True:
            col, name, nid = nodes[cur]
            head = name.split(" ")[0].split("(")[0]
            if head in _AGGREGATES:
                det = details.get(nid, "")
                if "Keys: []" in det or "Keys []" in det:
                    return None
                m = re.search(r"Keys \[\d+\]: \[([^\]]*)\]", det)
                if m:
                    keys = {
                        k.strip().split("#")[0]
                        for k in m.group(1).split(",")
                    }
                    if keys and keys <= K_BOUNDED_KEYS:
                        return None
                return f"keyed aggregate ({name}) — data-dependent rows"
            if any(name.startswith(leaf) for leaf in _CONSTANT_LEAVES):
                return None
            if head == "Filter":
                # a conjunct bounding a unique-id column by a literal
                # bounds output rows by that literal — the N_QUERIES
                # query-vector broadcast shape; the subtree below is
                # then irrelevant to the bound
                cond = details.get(nid, "")
                for col_name in re.findall(
                    r"(\w+)#\d+L? (?:<|<=) \d+", cond
                ) + re.findall(r"(\w+)#\d+L? IN \(", cond):
                    if col_name in UNIQUE_ID_COLUMNS:
                        return None
                # not bounding — fall through as a pass-through node
            if head == "BroadcastHashJoin":
                det = details.get(nid, "")
                jt = re.search(r"Join type: (\w+)", det)
                jtype = jt.group(1) if jt else ""
                kids = direct_children(cur)
                if len(kids) != 2:
                    return f"{name} has {len(kids)} children"
                left_ok = check_build(kids[0])
                if jtype in ("LeftSemi", "LeftAnti"):
                    return left_ok  # never exceeds the left side
                rk = re.search(r"Right keys \[\d+\]: \[([^\]]*)\]", det)
                rkeys = (
                    {k.strip().split("#")[0] for k in rk.group(1).split(",")}
                    if rk
                    else set()
                )
                if (
                    jtype in ("LeftOuter", "Inner")
                    and rkeys
                    and rkeys <= UNIQUE_ID_COLUMNS
                ):
                    # unique right key: at most one match per probe row
                    return left_ok
                return (
                    f"join in build subtree not provably row-bounded: "
                    f"{name} ({jtype})"
                )
            if head == "BroadcastNestedLoopJoin":
                kids = direct_children(cur)
                if len(kids) == 2:
                    w1, w2 = check_build(kids[0]), check_build(kids[1])
                    if w1 is None and w2 is None:
                        return None
                    return w1 or w2
                return f"{name} has {len(kids)} children"
            if head == "ReusedExchange":
                # resolve the reuse source by OUTPUT COLUMN NAMES: a
                # candidate exchange counts only when its detail lists
                # the same column-name set (expression ids stripped)
                # AND its own subtree bounds — matching "any bounded
                # exchange anywhere" would let an unbounded reuse hide
                # behind an unrelated scalar broadcast.
                det = details.get(nid, "")
                m = re.search(r"Output \[\d+\]: \[([^\]]*)\]", det)
                want = (
                    {c.strip().split("#")[0] for c in m.group(1).split(",")}
                    if m
                    else None
                )
                # only pre-splice exchanges: a spliced one's subtree
                # columns are meaningless, so it proves no bound
                for j, (_c, n2, id2) in enumerate(nodes[:n_reliable]):
                    if j == cur or n2.split(" ")[0] not in (
                        "BroadcastExchange",
                        "Exchange",
                    ):
                        continue
                    if want is not None:
                        d2 = details.get(id2, "")
                        m2 = re.search(r"Input \[\d+\]: \[([^\]]*)\]", d2)
                        got = (
                            {
                                c.strip().split("#")[0]
                                for c in m2.group(1).split(",")
                            }
                            if m2
                            else None
                        )
                        if got != want:
                            continue
                    if check_build(j) is None:
                        return None
                return "ReusedExchange with no bounded source exchange"
            if head not in _ROW_BOUND_PRESERVING:
                return f"non-row-bounded node in build subtree: {name}"
            kids = direct_children(cur)
            if len(kids) != 1:
                return (
                    f"{name} has {len(kids)} children — cannot bound rows"
                )
            cur = kids[0]

    seen: set[int] = set()
    audited = 0
    for i, (_col, name, nid) in enumerate(nodes):
        if not name.startswith("BroadcastNestedLoopJoin") or nid in seen:
            continue
        seen.add(nid)
        if i >= n_reliable:
            continue  # inside an executed-cache splice — see docstring
        # A subtree that ends exactly at the cut is indistinguishable
        # from one the splice truncated (its indentation restarted at or
        # left of this node's column): treat it as crossing too.
        end = i + len(subtree(i)) + 1
        crosses_cut = end > n_reliable or end == n_reliable < len(nodes)
        kids = direct_children(i)
        if len(kids) != 2:
            if crosses_cut:
                continue  # child columns corrupted by the splice
            out.append(f"BNLJ ({nid}): expected 2 children, saw {len(kids)}")
            audited += 1
            continue
        build = kids[1] if "BuildRight" in name else kids[0]
        why = check_build(build)
        if why is not None and crosses_cut:
            continue  # descent entered the spliced region
        audited += 1
        if why is not None:
            out.append(f"BNLJ ({nid}) build side not scalar-bounded: {why}")
    if seen and not audited:
        return [
            f"plan out of audit scope: all {len(seen)} BNLJ node(s) sit in "
            "executed AQE sections; audit a fresh build"
        ]
    return out


@dataclass
class PlanAudit:
    """Result of :func:`audit_plan`: findings is empty iff the plan
    passed every enabled rule."""

    findings: list[str] = field(default_factory=list)
    plan: str = ""

    @property
    def ok(self) -> bool:
        return not self.findings


def _scan_read_schemas(plan: str) -> list[str]:
    return [seg.splitlines()[0] for seg in plan.split("ReadSchema: ")[1:]]


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
    (scheduled jobs). ``max_shuffles`` counts Exchange nodes in the
    attributed plan tree; AQE may later coalesce them, so treat it as
    an upper bound on planned shuffles, not runtime ones."""
    plan = formatted_plan(df)
    out = PlanAudit(plan=plan)

    if forbid_cartesian:
        if "CartesianProduct" in plan:
            out.findings.append("CartesianProduct in plan")
        # a BroadcastNestedLoopJoin that is not an audited Cross join
        # means a join condition failed to produce equi keys
        bnlj = [
            line
            for line in plan.splitlines()
            if "BroadcastNestedLoopJoin" in line and "Build" in line
        ]
        bad = [line for line in bnlj if "Cross" not in line]
        if bad:
            out.findings.append(
                f"non-Cross BroadcastNestedLoopJoin: {bad[0].strip()}"
            )
        # every surviving (Cross) BNLJ must broadcast a scalar-bounded
        # frame — the rule that keeps the approved-carrier count from
        # silently absorbing a non-scalar nested-loop join
        out.findings.extend(scalar_bnlj_violations(plan))

    if forbid_python_row_udf and "BatchEvalPython" in plan:
        out.findings.append(
            "row-at-a-time Python UDF on the data path (BatchEvalPython); "
            "use a pandas_udf (ArrowEvalPython) or a Column expression"
        )

    if max_shuffles is not None:
        n = sum(
            1
            for line in plan.splitlines()
            if line.lstrip().startswith("Exchange")
            or " Exchange " in f" {line.strip()} "
        )
        # the formatted tree lists each Exchange once in the summary
        # tree and once in the detail section; count detail headers
        n_detail = sum(
            1
            for line in plan.splitlines()
            if line.startswith("(") and ") Exchange" in line
        )
        n = n_detail or n
        if n > max_shuffles:
            out.findings.append(f"{n} shuffles > allowed {max_shuffles}")

    if require_pushed_filter:
        # inspect EVERY scan's PushedFilters section (a multi-scan plan
        # may push on any of them), mirroring _scan_read_schemas
        pushed_lists = [
            seg.split("]", 1)[0]
            for seg in plan.split("PushedFilters: [")[1:]
        ]
        if not pushed_lists:
            out.findings.append("no PushedFilters section in any scan")
        elif not any(p.strip() for p in pushed_lists):
            out.findings.append("no filter pushed to any scan")

    if max_scan_columns is not None:
        for schema in _scan_read_schemas(plan):
            ncols = schema.count(":")
            if ncols > max_scan_columns:
                out.findings.append(
                    f"scan reads {ncols} columns > allowed "
                    f"{max_scan_columns}: {schema[:120]}"
                )

    return out
