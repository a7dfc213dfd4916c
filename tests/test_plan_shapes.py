"""Plan-shape regression: the properties that make queries scale must
survive refactors — pushdown reaching the scan, broadcasts where
intended, top-k without global sort, rank-limit pushdown, no cartesian
products. Each assert here is a claim PLANS.md/SCALING.md makes."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()
# demoted-from-registry queries stay under the same test discipline
from simple_etl_pipeline_spark.testing import demoted_queries as _dq  # noqa: E402
QUERIES.update({k: fn for k, (fn, _) in _dq().items()})


def _plan(spark, sf_dir, name) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def _window_specs(df) -> list:
    """(partition key names, window expressions) of every WindowExec in
    the executed plan, through AQE and cache wrappers."""
    from simple_etl_pipeline_spark.operators.planaudit import (
        _children,
        _name,
        _seq,
    )

    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = _name(node)
        if name == "WindowExec":
            keys = {e.toString().split("#")[0] for e in _seq(node.partitionSpec())}
            out.append((keys, node.windowExpression().toString()))
        stack.extend(_children(node, name))
    return out


def _assert_sequence_ranks(df, range_col: str, bounded=()) -> str:
    """The global_row_number shape: a range exchange on the total
    order's leading column, Spark's distributed sequence numbering the
    sorted partitions, no window keyed by a `bounded` (few-valued)
    column, and no un-keyed window over data rows — the only un-keyed
    window is global_prefix_sum's running sum over the <= N/2^20
    block sums. Returns the plan text."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "ntile" not in plan, plan
    assert f"Exchange rangepartitioning({range_col}" in plan, plan
    assert "AttachDistributedSequence" in plan, plan
    for keys, exprs in _window_specs(df):
        assert not keys & set(bounded), (keys, exprs)
        if not keys:
            assert "sum(_bsum" in exprs, exprs
    return plan


def test_q6_filters_reach_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_revenue_filter")
    # range predicates reach the parquet scan (list may be truncated in
    # toString, so match the head of it)
    assert "PushedFilters: [IsNotNull" in plan
    assert "GreaterThanOrEqual(" in plan
    # column pruning: only the 4 needed columns in ReadSchema
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert read.count(":") == 4, read


def test_star_joins_broadcast_dimensions(spark, sf_dir):
    for name in ("q3_shipping_priority", "q5_region_revenue",
                 "join_broadcast_brand_revenue"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orderby_limit_top_orders")
    assert "TakeOrderedAndProject" in plan


def test_pergroup_topk_pushes_rank_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_topk_orders_per_customer")
    assert "WindowGroupLimit" in plan


def test_reference_transform_is_narrow(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ref_transform_full")
    # the transform is filter+project only: no hash shuffle for compute;
    # the single rangepartitioning exchange is the final presentation sort
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1


def test_retention_scans_are_pruned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ev_retention_cohorts")
    for read in plan.split("ReadSchema: ")[1:]:
        cols = read.splitlines()[0]
        assert cols.count(":") == 2, cols  # ts,user_id only


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "dedup_exact",
        "dedup_minhash_lsh",
        "txt_training_corpus",
        "sim_ann_lsh",
        "ev_funnel",
    ],
)
def test_no_cartesian_anywhere(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


def test_fuzzy_join_is_equi_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_fuzzy_part_names")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidates come from the (brand, length-band) equality keys
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_paragraph_dedup_is_two_keyed_shuffles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_paragraphs")
    # first-occurrence window shuffles on the paragraph text, reassembly
    # on doc_id; chunking itself is narrow — nothing else may shuffle
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan.count(
        "Exchange hashpartitioning"
    )


def test_gopher_quality_is_map_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "txt_gopher_quality")
    # pure per-row signals: no aggregation shuffle at all; the only
    # exchange is the final presentation sort
    assert "Exchange hashpartitioning" not in plan


def test_rare_token_vocab_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "txt_rare_token_ratio")
    # the top-V vocabulary must come back as a broadcast hash probe —
    # a SortMergeJoin keyed on the token column would put the Zipf head
    # ("the") on a single reducer at corpus scale
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # top-V selection without a global sort
    assert "TakeOrderedAndProject" in plan


def test_bloom_probe_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "txt_bloom_contamination")
    assert "CartesianProduct" not in plan
    # the 128-word filter arrives as a 1-row broadcast and the exact
    # audit probes the benchmark shingle table via a broadcast hash
    # join — the corpus never shuffles on the shingle key
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert bnlj and all("BuildRight, Cross" in l for l in bnlj), bnlj
    assert "BroadcastHashJoin" in plan


def test_contamination_probe_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "txt_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # at most ONE shingle-keyed exchange — the benchmark side's
    # distinct (benchmark-sized). The corpus side must reach its hits
    # via the broadcast probe, never via its own shingle-keyed shuffle
    # (the Zipf head would be one reducer at scale).
    sh_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        and line.split("hashpartitioning(")[1][:20].startswith("sh")
    ]
    assert len(sh_exchanges) <= 1, sh_exchanges


def test_scd2_uses_one_keyed_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ev_scd2_users")
    # lag-window, run-sum window, per-run groupBy and the valid_to
    # stitch all share the user_id partitioning: exactly one hash
    # exchange (the rangepartitioning one is the presentation sort)
    assert plan.count("Exchange hashpartitioning") == 1, plan.count(
        "Exchange hashpartitioning"
    )


def test_zorder_dimension_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ev_zorder_layout")
    # the user-rank dictionary joins back as a broadcast; the fact table
    # never shuffles on user_id (its only hash exchange is the file_id
    # aggregation)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pairs_are_cell_keyed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_semdedup")
    assert "CartesianProduct" not in plan
    # every BroadcastNestedLoopJoin must be the deliberate K-row centroid
    # array broadcast (BuildRight, Cross; K = number of cells, tiny at
    # any corpus size — the assignment subtree replays per consumer)...
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert bnlj and all("BuildRight, Cross" in l for l in bnlj), bnlj
    # ...and the within-cell pair scan stays an equi-join on BOTH the
    # cell key and the sign-bit sub-bucket (the round-4 scale fix: cell
    # width stays bounded as the corpus grows, so losing the bucket key
    # would silently reintroduce the quadratic within-cell scan)
    assert any(
        "Join [cell" in l and "bucket" in l and "Inner" in l
        for l in plan.splitlines()
    ), "pair scan lost its (cell, bucket) equi-keys"


def test_zscore_stats_side_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ev_zscore_outliers")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    # the interval join must run as a (user, time-bucket) equi-join —
    # a naive range predicate would plan as a nested loop that explodes
    # at scale
    plan = _plan(spark, sf_dir, "ev_range_join_incidents")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        k in plan
        for k in ["SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"]
    )


def test_ngram_spans_shuffles_only_on_gram_and_doc(spark, sf_dir):
    # The dup-gram set is data-sized, so a FORCED broadcast of it (an
    # F.broadcast hint) is the scale regression this lock catches. At
    # sf0.001 Catalyst auto-broadcasts the tiny aggregate (legitimate —
    # the estimate is size-based and flips to shuffle at scale), so the
    # hint check needs the auto threshold off: with it disabled, only a
    # hard hint could still produce a BroadcastHashJoin.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "dedup_ngram_spans")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_dsir_weight_table_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "txt_dsir_weights")
    assert "CartesianProduct" not in plan
    # the 64-bucket weight table comes back as a broadcast hash probe;
    # a bucket-keyed corpus shuffle (64 reducers) would be the scale
    # bug this lock prevents
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # top-K without a global sort
    assert "TakeOrderedAndProject" in plan


def test_rp_projection_is_mapside_with_broadcast_panel(spark, sf_dir):
    # the JL projection must be a narrow map (16 constant-array folds)
    # and the query panel a broadcast — a shuffle of projected vectors
    # keyed by anything would mean the projection materialized
    plan = _plan(spark, sf_dir, "sim_rp_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# --- constant expressions as SQL text ------------------------------------
# The package builds every compile-time-constant expression as one SQL
# string per output column. Below are the Column-API builders those
# strings replaced, kept as the reference forms: each SQL-text builder
# must analyze sameResult to its reference, alone and inside the
# queries that use it.


def _same_result(a, b) -> bool:
    return (
        a._jdf.queryExecution()
        .analyzed()
        .sameResult(b._jdf.queryExecution().analyzed())
    )


def _ref_mh_agg_cols() -> list:
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.plans.text import _PERM, MINHASH_P

    return [
        F.min((F.lit(a) * F.col("h31") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(_PERM)
    ]


def _ref_mh_stateless_cols() -> list:
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.plans.text import _PERM, MINHASH_P

    return [
        F.expr(
            f"array_min(transform(h31s, h -> ({a} * h + {b}) % {MINHASH_P}))"
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(_PERM)
    ]


def _ref_band_struct_cols(bigint: bool = False) -> list:
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.plans.text import (
        _ROWS_PER_BAND,
        MINHASH_BANDS,
    )

    return [
        F.struct(
            (F.lit(b).cast("bigint") if bigint else F.lit(b)).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh{b * _ROWS_PER_BAND + j}").cast("string")
                    for j in range(_ROWS_PER_BAND)
                ],
            ).alias("bkey"),
        )
        for b in range(MINHASH_BANDS)
    ]


def _ref_rp_project(v):
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.functions.vectors import dot_dec
    from simple_etl_pipeline_spark.plans.similarity import _RP_SIGNS

    return F.array(
        *[dot_dec(v, F.array(*[F.lit(s) for s in row])) for row in _RP_SIGNS]
    )


def _ref_best_code_fold(entries, score_fn, id_field, descending=False):
    import pyspark.sql.functions as F

    ds = F.transform(
        entries,
        lambda c: F.struct(
            score_fn(c).alias("s"), c.getField(id_field).alias("k")
        ),
    )
    if descending:
        take = lambda acc, x: (  # noqa: E731
            acc.isNull()
            | (acc.getField("s").isNull() & x.getField("s").isNotNull())
            | (x.getField("s") > acc.getField("s"))
        )
    else:
        take = lambda acc, x: (  # noqa: E731
            acc.isNull() | (x.getField("s") < acc.getField("s"))
        )
    return F.aggregate(
        ds,
        F.lit(None).cast("struct<s:double,k:int>"),
        lambda acc, x: F.when(take(acc, x), x).otherwise(acc),
    )


def _ref_tokens_col(c):
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.functions.text import _WS_CLASS, _strip_ws

    t = _strip_ws(F.col(c))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _WS_CLASS + "+")
    )


def _ref_shingles_col(c, n=3):
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.functions.text import bind_once

    def _build(tarr):
        return F.when(
            F.size(tarr) < n, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(tarr) - (n - 1)),
                lambda i: F.array_join(F.slice(tarr, i, n), " "),
            )
        )

    return bind_once(_ref_tokens_col(c), _build)


def _ref_dup_variants_col():
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.plans.text import NEAR_DUP_TAIL

    base = F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text"))
    exact = F.struct(
        (F.col("doc_id") + 1000000).alias("doc_id"), F.col("text").alias("text")
    )
    near = F.struct(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEAR_DUP_TAIL)).alias("text"),
    )
    empty = F.array().cast("array<struct<doc_id:bigint,text:string>>")
    return F.concat(
        F.array(base),
        F.when(F.col("doc_id") % 17 == 0, F.array(exact)).otherwise(empty),
        F.when(F.col("doc_id") % 23 == 0, F.array(near)).otherwise(empty),
    )


def _ref_scaled_dup_variants_col():
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.plans.similarity import DUP_INJECT_OFFSET

    base = F.struct(F.col("vec_id").alias("vec_id"), F.col("v").alias("v"))
    dup = F.struct(
        (F.col("vec_id") + DUP_INJECT_OFFSET).alias("vec_id"),
        F.transform("v", lambda x: x * 1.5).alias("v"),
    )
    empty = F.array().cast("array<struct<vec_id:bigint,v:array<double>>>")
    return F.concat(
        F.array(base),
        F.when(F.col("vec_id") % 11 == 0, F.array(dup)).otherwise(empty),
    )


def _ref_fold_sites() -> dict:
    """The similarity fold sites' SQL strings -> their Column-API forms."""
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.functions.vectors import dot_dec
    from simple_etl_pipeline_spark.plans import similarity as simmod

    l2 = simmod._l2_dec

    def cell(id_field):
        return _ref_best_code_fold(
            F.col("cvs"), lambda c: l2(F.col("v"), c.getField("cv")), id_field
        )

    codes = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub"),
                _ref_best_code_fold(
                    F.col("cball").getItem(s).getField("cbs"),
                    lambda c, _s=s: l2(
                        F.slice("v", _s * simmod.PQ_SUBDIM + 1, simmod.PQ_SUBDIM),
                        c.getField("cv"),
                    ),
                    "code",
                )
                .getField("k")
                .alias("code"),
            )
            for s in range(simmod.PQ_SUBSPACES)
        ]
    )
    semdedup = _ref_best_code_fold(
        F.col("cents"),
        lambda c: F.round(
            F.try_divide(
                dot_dec(F.col("v"), c.getField("cv")),
                F.col("vnrm") * c.getField("cnrm"),
            ),
            6,
        ),
        "c_label",
        descending=True,
    )
    return {
        f"{simmod._IVF_CELL_FOLD} AS b": cell("c_label").alias("b"),
        f"{simmod._PQ_CODE_FOLD} AS b": _ref_best_code_fold(
            F.col("cbs"), lambda c: l2(F.col("sv"), c.getField("cv")), "code"
        ).alias("b"),
        f"{simmod._IVFPQ_CELL_FOLD}.k AS cell": cell("code")
        .getField("k")
        .alias("cell"),
        f"{simmod._IVFPQ_CODES_ARRAY} AS codes": codes.alias("codes"),
        f"{simmod._SEMDEDUP_CELL_FOLD} AS b": semdedup.alias("b"),
    }


class _ExprSwap:
    """Stands in for pyspark.sql.functions inside a module: expr()
    serves the given SQL strings as their reference Columns and
    records which it served; everything else is the real module."""

    def __init__(self, refs: dict):
        import pyspark.sql.functions as F

        self._F, self.refs, self.served = F, refs, set()

    def __getattr__(self, name):
        return getattr(self._F, name)

    def expr(self, sql):
        if sql in self.refs:
            self.served.add(sql)
            return self.refs[sql]
        return self._F.expr(sql)


def test_rp_project_sql_text_plan_identical(spark, sf_dir, monkeypatch):
    """_rp_project's one SQL string (16 dot_dec folds over +-1.0D
    literal arrays) analyzes to the Column-API projection, alone and
    inside sim_rp_recall."""
    from simple_etl_pipeline_spark.plans import similarity as simmod

    emb = spark.createDataFrame([([0.5] * 64,)], "v array<double>")
    assert _same_result(
        emb.select(simmod._rp_project("v")),
        emb.select(_ref_rp_project(emb["v"])),
    )
    df_sql = simmod.sim_rp_recall(spark, sf_dir)
    monkeypatch.setattr(
        simmod, "_rp_project", lambda v: _ref_rp_project(simmod.F.col(v))
    )
    assert _same_result(df_sql, simmod.sim_rp_recall(spark, sf_dir))


def test_text_constant_sql_plan_identical(spark, sf_dir, monkeypatch):
    """The min-hash aggregates, the band-key structs and their
    stateless twins, built as SQL text, give the same plans as their
    Column-API forms in dedup_minhash_lsh and the stateless band
    frame."""
    from simple_etl_pipeline_spark.plans import text as txtmod
    from simple_etl_pipeline_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sql_dfs = [
        txtmod.dedup_minhash_lsh(spark, sf_dir),
        txtmod.minhash_band_keys_stateless(docs),
    ]
    monkeypatch.setattr(txtmod, "_mh_agg_cols", _ref_mh_agg_cols)
    monkeypatch.setattr(txtmod, "_mh_stateless_cols", _ref_mh_stateless_cols)
    monkeypatch.setattr(txtmod, "_band_struct_cols", _ref_band_struct_cols)
    monkeypatch.setattr(
        txtmod, "_band_struct_bigint_cols", lambda: _ref_band_struct_cols(True)
    )
    ref_dfs = [
        txtmod.dedup_minhash_lsh(spark, sf_dir),
        txtmod.minhash_band_keys_stateless(docs),
    ]
    for sql_df, ref_df in zip(sql_dfs, ref_dfs):
        assert _same_result(sql_df, ref_df)


def test_similarity_fold_sql_plan_identical(spark, sf_dir, monkeypatch):
    """The five _best_code_fold sites (ivf/ivfpq cell assignment,
    pq/ivfpq code assignment, semdedup cosine argmax) as SQL text give
    the same plans as their Column-API forms in every consumer."""
    from simple_etl_pipeline_spark.plans import similarity as simmod

    consumers = (
        simmod.sim_ivf_topk,
        simmod.sim_pq_adc,
        simmod.sim_ivfpq_topk,
        simmod.dedup_semdedup,
    )
    sql_dfs = [fn(spark, sf_dir) for fn in consumers]
    swap = _ExprSwap(_ref_fold_sites())
    monkeypatch.setattr(simmod, "F", swap)
    ref_dfs = [fn(spark, sf_dir) for fn in consumers]
    assert swap.served == set(swap.refs)  # every site took its reference
    for sql_df, ref_df in zip(sql_dfs, ref_dfs):
        assert _same_result(sql_df, ref_df)


def test_sql_text_builders_plan_identical(spark):
    """tokens_col, shingles_col, both dup-variant builders and the
    dot_dec / _l2_dec templates analyze to their Column-API forms."""
    import pyspark.sql.functions as F

    from simple_etl_pipeline_spark.functions.text import shingles_col, tokens_col
    from simple_etl_pipeline_spark.functions.vectors import dot_dec, dot_dec_sql
    from simple_etl_pipeline_spark.plans import similarity as simmod
    from simple_etl_pipeline_spark.plans import text as txtmod

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    pairs = [
        (tokens_col("text"), _ref_tokens_col("text")),
        (shingles_col("text"), _ref_shingles_col("text")),
        (shingles_col("text", 2), _ref_shingles_col("text", 2)),
        (txtmod._dup_variants_col(), _ref_dup_variants_col()),
    ]
    for sql_col, ref_col in pairs:
        assert _same_result(docs.select(sql_col), docs.select(ref_col))
    emb = spark.createDataFrame(
        [(1, [0.5, -1.25], [2.0, 0.75])], "vec_id bigint, v array<double>, w array<double>"
    )
    pairs = [
        (simmod._scaled_dup_variants_col(), _ref_scaled_dup_variants_col()),
        (F.expr(dot_dec_sql("v", "w")), dot_dec("v", "w")),
        (F.expr(simmod._l2_dec_sql("v", "w")), simmod._l2_dec("v", "w")),
    ]
    for sql_col, ref_col in pairs:
        assert _same_result(emb.select(sql_col), emb.select(ref_col))


def test_dedup_builders_sql_plan_identical(spark, sf_dir, monkeypatch):
    """dedup_ngram_jaccard — dedup_components' pre-clustering pipeline
    — builds the same plan with the SQL-text tokenizers and dup
    variants as with their Column-API forms."""
    from simple_etl_pipeline_spark.plans import text as txtmod

    df_sql = txtmod.dedup_ngram_jaccard(spark, sf_dir)
    monkeypatch.setattr(txtmod, "tokens_col", _ref_tokens_col)
    monkeypatch.setattr(txtmod, "shingles_col", _ref_shingles_col)
    monkeypatch.setattr(txtmod, "_dup_variants_col", _ref_dup_variants_col)
    assert _same_result(df_sql, txtmod.dedup_ngram_jaccard(spark, sf_dir))


def test_sql_tokenizers_rows_equal_on_whitespace_edges(spark):
    """Same rows as the Column-API tokenizers on the whitespace edge
    cases (tab, \\x0b, \\xa0, empty, leading/trailing separators): the
    SQL literal escaping hands the regex the same class."""
    from test_property_cross_engine import WS_EDGE_CASES

    from simple_etl_pipeline_spark.functions.text import shingles_col, tokens_col

    df = spark.createDataFrame([(i, t) for i, t in enumerate(WS_EDGE_CASES)], "i int, s string")
    for sql_col, ref_col in (
        (tokens_col("s"), _ref_tokens_col("s")),
        (shingles_col("s"), _ref_shingles_col("s")),
        (shingles_col("s", 2), _ref_shingles_col("s", 2)),
    ):
        got = df.select("i", sql_col.alias("x")).orderBy("i").collect()
        exp = df.select("i", ref_col.alias("x")).orderBy("i").collect()
        assert got == exp


def test_kl_drift_joins_aggregates_not_tokens(spark, sf_dir):
    # the token-keyed join runs over two PRE-AGGREGATED count tables;
    # totals arrive as broadcasts. A cartesian anywhere (beyond the
    # audited 1-row total) is the regression.
    plan = _plan(spark, sf_dir, "txt_kl_drift")
    assert "CartesianProduct" not in plan
    # the 1-row n_all total joins as a broadcast nested loop (cross)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_char_entropy_prunes_to_text_column(spark, sf_dir):
    plan = _plan(spark, sf_dir, "txt_char_entropy")
    assert "CartesianProduct" not in plan
    for read in plan.split("ReadSchema: ")[1:]:
        cols = read.splitlines()[0]
        assert cols.count(":") == 2, cols  # doc_id, text only


def test_mixture_manifest_draw_side_is_broadcast(spark, sf_dir):
    # the per-stratum thresholds broadcast back onto the scan; the
    # corpus must never shuffle on lang for the draw
    plan = _plan(spark, sf_dir, "txt_mixture_manifest")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


# --- round-6 registrations -------------------------------------------------
def test_cuped_is_two_aggregations_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ev_cuped")
    # single scan -> user-keyed agg -> 1-row moment rollup: exactly one
    # hash exchange (the user groupBy; the global agg is a SinglePartition
    # exchange) and NO join of any kind
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_conversion_windows_joins_preaggregated_frames(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ev_conversion_windows")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the purchase side must NOT fan out through a window/explode —
    # only keyed equi-join + aggs
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_attribution_total_is_broadcast_back(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ev_attribution")
    # the 1-row total joins back as a broadcast (scalar share), never a
    # shuffled join of the per-type frame against a 1-row frame
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_train_shard_manifest_single_keyed_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "train_shard_manifest")
    # narrow md5 map + one shard-keyed agg (+ presentation range sort):
    # exactly one hash exchange and no join
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


# --- round-7 prebuilds -----------------------------------------------------
def _prebuild_plan(spark, sf_dir, qname):
    from simple_etl_pipeline_spark.plans import events as evmod

    fn = getattr(evmod, qname)
    return fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_quantile_sketch_histogram_collapses_before_windows(spark, sf_dir):
    plan = _prebuild_plan(spark, sf_dir, "ev_quantile_sketch")
    assert "CartesianProduct" not in plan
    # the 3-row percentile frame must be broadcast, and the only
    # data-sized shuffle is the (type, bucket) histogram build: the
    # window cumsum then re-keys METADATA-sized buckets by type
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_path_transitions_single_data_shuffle(spark, sf_dir):
    plan = _prebuild_plan(spark, sf_dir, "ev_path_transitions")
    # the ONLY data-sized shuffle is the user-keyed lag window; the
    # pair count partial-aggregates map-side (collapsing to the
    # |types|² universe BEFORE its exchange) and everything after is
    # metadata-sized window math — no join anywhere
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert "partial_count" in plan, plan
    # column pruning reaches the scan: only the 4 needed columns
    assert "ReadSchema: struct<event_id:bigint,ts:timestamp" in plan, plan


def test_attribution_linear_no_cartesian_window_join(spark, sf_dir):
    plan = _prebuild_plan(spark, sf_dir, "ev_attribution_linear")
    assert "CartesianProduct" not in plan
    # the user-keyed window join must be an equi-join on user_id with
    # the time predicate as join filter — not a nested-loop range join
    # (the broadcast NLJ allowed here is only the 1-row total share)
    import re

    nljs = [
        ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
    ]
    for ln in nljs:
        # every NLJ must be the scalar cross (1-row total), i.e. Cross
        assert "Cross" in ln, ln


# --- round-8 prebuilds ------------------------------------------------------
def test_gap_fill_single_data_shuffle_pruned_scan(spark, sf_dir):
    from simple_etl_pipeline_spark.plans import events as evmod

    plan = (
        evmod.ev_gap_fill(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the hourly histogram partial-aggregates map-side BEFORE its
    # exchange (the only data-sized shuffle); the grid join and both
    # interpolation windows run over the (type, hour)-universe frame
    assert "partial_count" in plan, plan
    # column pruning reaches the scan: only event_type, ts, value
    assert "ReadSchema: struct<ts:timestamp" in plan, plan
    assert "props" not in plan.split("ReadSchema")[1][:200], plan


def test_rfm_no_global_window_keyed_shuffles_only(spark, sf_dir):
    """The VERDICT r7 #3 'Done' criterion: no single-partition window
    over an unbounded frame. The quintile ranks come from a RANGE
    shuffle of the melted customer frame numbered by the distributed
    sequence, not a global sort into one partition — no window is keyed
    by the 3-valued metric code and no window NTILE survives."""
    from simple_etl_pipeline_spark.plans import relational as relmod

    plan = _assert_sequence_ranks(
        relmod.agg_rfm_segments(spark, sf_dir), "mc", bounded=("mc",)
    )
    # the as-of date + N are the adjudicated 1-row scalar broadcasts
    nljs = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert nljs and all("Cross" in ln for ln in nljs), plan
    # column pruning still reaches the orders scan
    assert "o_orderstatus" not in plan.split("ReadSchema")[1][:300], plan


def test_domain_split_no_join_pruned_scan(spark, sf_dir):
    from simple_etl_pipeline_spark.plans import text as txtmod

    plan = (
        txtmod.txt_domain_split(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan
    # map-side partials collapse to the domain universe before the
    # split-keyed exchange
    assert "partial_count" in plan, plan
    # pruned scan: only source + text reach the reader
    rs = plan.split("ReadSchema")[1][:200]
    assert "doc_id" not in rs and "lang" not in rs, plan


def test_hll_overlap_bounded_universe_cross_only(spark, sf_dir):
    from simple_etl_pipeline_spark.plans import events as evmod

    plan = (
        evmod.ev_hll_overlap(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the exact-intersection self-join must be a user_id EQUI-join
    assert "hashpartitioning(user_id" in plan or "BroadcastHashJoin" in plan, plan
    # the only NLJ is the documented bounded-universe type-pair cross
    # (build side = the broadcast |types|-row sketch frame)
    nljs = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(nljs) <= 1 and all("Inner" in ln or "Cross" in ln for ln in nljs), plan


def test_dq_expectations_fused_scans_and_anti_joins(spark, sf_dir):
    from simple_etl_pipeline_spark.plans import relational as relmod

    plan = (
        relmod.dq_expectations(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # completeness/range checks fuse into conditional aggs — 8 scans
    # for 7 constraints over 3 tables (orders: agg + anti-probe +
    # count, lineitem likewise, customer + orders as join build
    # sides), vs one scan PER CONSTRAINT unfused
    assert plan.count("FileScan parquet") <= 8, plan
    # referential checks are anti-joins (broadcast at this SF; the
    # strategy is Catalyst's choice at scale), never cartesians
    assert plan.count("LeftAnti") == 2, plan


def test_basket_lift_single_shuffle_pairs_takeordered(spark, sf_dir):
    """Basket pairs come from the collect_list + in-partition
    combination expansion (one orderkey shuffle), never a self-join of
    the exploded frame; the head is a TakeOrdered, not a global sort."""
    from simple_etl_pipeline_spark.plans import relational as relmod

    plan = (
        relmod.agg_basket_lift(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan
    # pair expansion is generator-based (posexplode/slice), not a
    # lineitem-x-lineitem equi-join on orderkey
    assert "Generate" in plan, plan
    joins = [
        ln
        for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
    ]
    # the only shuffled joins are pair-counts x part-counts (keyed)
    assert all("part_a" in ln or "part_b" in ln for ln in joins), joins
    # basket total is the adjudicated 1-row scalar broadcast
    nljs = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert all("Cross" in ln for ln in nljs), plan
    # column pruning: only orderkey+partkey leave the lineitem scan
    rs = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs, rs


def test_curriculum_range_shuffle_keyed_windows_only(spark, sf_dir):
    """The curriculum sequence reuses global_row_number: range
    exchange + distributed sequence; the shard rollup is keyed. No
    single-partition data window, no ntile."""
    from simple_etl_pipeline_spark.plans import text as txtmod

    plan = _assert_sequence_ranks(
        txtmod.train_curriculum_order(spark, sf_dir), "n_tokens"
    )
    rs = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in rs and "lang" not in rs, rs


def test_hybrid_rrf_broadcast_queries_no_corpus_cross(spark, sf_dir):
    """Both retrieval sides keep their scale shapes inside the fusion:
    the dense side is a broadcast of the 5 query vectors (BuildRight
    Cross of a 5-row frame — the bounded class, never corpus x corpus)
    and the sparse side's posting shuffle stays panel-filtered via the
    broadcast panel join; the fused head is a keyed window."""
    from simple_etl_pipeline_spark.plans import text as txtmod

    plan = (
        txtmod.search_hybrid_rrf(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    nljs = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert nljs and all("Cross" in ln for ln in nljs), nljs
    assert "BroadcastHashJoin" in plan  # the panel-term posting filter
    # every window is keyed by q_id (per-query ranks + fused head)
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "q_id" in ln.split("windowspecdefinition")[1][:30], ln


def test_lm_perplexity_single_corpus_pass_keyed_joins(spark, sf_dir):
    """The LM's derived count tables must come from ONE corpus explode:
    the per-doc bigram collapse is the root aggregation and every
    re-aggregation of it reuses the exchange (ReusedExchange present).
    Joins are keyed (no CartesianProduct); the only nested-loop
    broadcast is the 1-row vocab-size scalar cross; no scan reads
    beyond doc_id + text. Exchange reuse is a static planner rule that
    AQE defers to runtime (isFinalPlan=false hides it), so the reuse
    pin is checked with AQE off."""
    from simple_etl_pipeline_spark.plans import text as txtmod

    plan = (
        txtmod.txt_lm_perplexity(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    nljs = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(nljs) == 1 and "Cross" in nljs[0], nljs
    for rs in plan.split("ReadSchema")[1:]:
        head = rs[:200]
        assert "text" in head and "lang" not in head and "source" not in head, head
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        static = (
            txtmod.txt_lm_perplexity(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in static  # one corpus pass feeds all counts


def test_hard_negatives_keyed_lookup_bounded_cross(spark, sf_dir):
    """The source lookup is a keyed join (vec_id = doc_id), the anchor
    side is the bounded |HN_ANCHORS|-row broadcast cross (never corpus
    x corpus), and the HN head is an anchor-keyed window."""
    from simple_etl_pipeline_spark.plans import similarity as simmod

    plan = (
        simmod.train_hard_negatives(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    nljs = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert nljs and all("Cross" in ln for ln in nljs), nljs
    assert any(  # the vec_id = doc_id source lookup stays an equi-join
        "Join" in ln and "vec_id" in ln and "doc_id" in ln
        for ln in plan.splitlines()
        if "BroadcastNestedLoopJoin" not in ln
    ), plan
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "anchor_id" in ln.split("windowspecdefinition")[1][:40], ln
    # the hn_rank <= K head must be PUSHED into the window sort
    # (WindowGroupLimit, Spark 3.5+): each partition keeps a running
    # top-K instead of fully sorting its corpus-sized candidate list —
    # the property that makes the per-anchor window viable before the
    # documented IVF swap at extreme scale. Regression here (a config
    # or upgrade losing the rule) turns the window into a full sort.
    assert "WindowGroupLimit" in plan, plan


def test_srm_check_single_scan_bounded_window(spark, sf_dir):
    """One events scan, one variant-keyed aggregation; the chi-square
    window runs over the <= 2-row aggregated frame (bounded universe —
    the txt_domain_split share-window class), so the un-partitioned
    window is safe at any corpus size; scan reads only user_id/value
    (+ts-free: no other column)."""
    from simple_etl_pipeline_spark.plans import events as evmod

    plan = (
        evmod.ev_srm_check(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FileScan parquet") == 1, plan.count("FileScan parquet")
    rs = plan.split("ReadSchema")[1][:200]
    assert "user_id" in rs and "value" in rs and "event_type" not in rs, rs
    # NULL-user exclusion reaches the scan
    assert "PushedFilters: [IsNotNull(user_id)]" in plan


def test_plan_fingerprint_is_build_order_invariant(spark, sf_dir):
    """A query's fingerprint must not depend on how many plans the
    session built before it (the round-8 finding: two generated-name
    families carry the session counter in the NAME — higher-order
    lambda variables 'lambda x_17#' and CSE aliases '_common_expr_4#'
    — which the '#<digits>' normalization missed, so a driver-window
    reorder spuriously moved 39 PLANS_ALL fingerprints). Exercised on
    both offender classes: lambda-heavy vector plans and the
    CSE-heavy doc-features plan."""
    from simple_etl_pipeline_spark.operators.planaudit import (
        formatted_plan,
        plan_fingerprint,
    )
    from simple_etl_pipeline_spark.plans.similarity import (
        sim_knn_brute,
        sim_pq_adc,
    )
    from simple_etl_pipeline_spark.plans.text import (
        dedup_minhash_lsh,
        txt_doc_features,
    )

    targets = [sim_knn_brute, txt_doc_features, dedup_minhash_lsh, sim_pq_adc]
    before = [plan_fingerprint(f(spark, sf_dir)) for f in targets]
    # advance the session's expression/lambda/CSE counters, out of order
    for _ in range(3):
        for f in reversed(targets):
            f(spark, sf_dir)._jdf.queryExecution().executedPlan()
    after = [plan_fingerprint(f(spark, sf_dir)) for f in targets]
    assert after == before, list(zip([f.__name__ for f in targets], before, after))
    # both offender classes are actually present in the exercised plans
    assert "lambda" in formatted_plan(sim_knn_brute(spark, sf_dir))
    assert "_common_expr_" in formatted_plan(txt_doc_features(spark, sf_dir))


def test_trimmed_mean_range_shuffle_no_variant_window(spark, sf_dir):
    """The trim rank comes from global_row_number (range exchange +
    distributed sequence) with variant LEADING the total order — there
    must be NO window partitioned by variant (2 partitions = 2 reducers
    at any scale) and no ntile; the final variant joins are 2-row
    broadcasts."""
    from simple_etl_pipeline_spark.plans import events as evmod

    plan = _assert_sequence_ranks(
        evmod.ev_trimmed_mean(spark, sf_dir), "variant", bounded=("variant",)
    )
    rs = plan.split("ReadSchema")[1][:200]
    assert "user_id" in rs and "event_type" not in rs, rs


def test_token_budget_prefix_sum_barrier_shape(spark, sf_dir):
    """The token-budget pack runs global_prefix_sum: range exchange on
    the (negq, doc_id) total order numbered by the distributed
    sequence, the running sum keyed by its rank block (_blk), the only
    un-keyed window over the block sums, and no ntile / cartesian /
    un-keyed data window anywhere. No cache carries the ranks."""
    from simple_etl_pipeline_spark.plans import text as txtmod

    plan = _assert_sequence_ranks(
        txtmod.train_token_budget_pack(spark, sf_dir), "negq"
    )
    assert "InMemoryTableScan" not in plan, plan


def test_embargo_and_seasonal_bounded_broadcasts_only(spark, sf_dir):
    """ev_time_embargo_split's cutoffs and ev_seasonal_residuals'
    grid/slot frames are scalar- or metadata-sized broadcasts (the
    adjudicated bounded classes) — never a shuffled data-data join,
    never a cartesian product."""
    from simple_etl_pipeline_spark.plans import events as evmod

    for fn in (evmod.ev_time_embargo_split, evmod.ev_seasonal_residuals):
        plan = (
            fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, fn.__name__
        assert "SortMergeJoin" not in plan, fn.__name__
        assert "BroadcastExchange" in plan, fn.__name__


def test_profile_drift_single_pass_no_join(spark, sf_dir):
    """dq_profile_drift profiles BOTH halves in one conditional
    aggregation over one scan: exactly one FileScan of events, the
    only join is the 1-row bounds broadcast, and the unpivot is a
    generate/expand — no second pass, no data-sized exchange beyond
    the distinct-aggregate expand."""
    from simple_etl_pipeline_spark.plans import relational as relmod

    plan = (
        relmod.dq_profile_drift(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") == 2  # events scan + bounds scan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_k_anonymity_is_two_aggs_no_join_no_window(spark, sf_dir):
    """The privacy audit is two keyed aggregations over one pruned
    customer scan — no window (class counting must never key a window
    by the QI tuple), no join, and the scan reads only the three QI
    source columns."""
    from simple_etl_pipeline_spark.plans import relational as relmod

    plan = (
        relmod.dq_k_anonymity(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    rs = plan.split("ReadSchema")[1][:200]
    assert "c_acctbal" in rs and "c_custkey" not in rs, rs


def test_ols_trend_equi_join_broadcast_nation(spark, sf_dir):
    """OLS moments: one orders->customer equi-join (hash-based, never
    nested-loop), a 25-group aggregation, and the nation name side a
    broadcast; the orders scan is pruned to the three used columns."""
    from simple_etl_pipeline_spark.plans import relational as relmod

    plan = (
        relmod.agg_ols_trend(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, plan
    orders_rs = next(
        seg[:200]
        for seg in plan.split("ReadSchema")[1:]
        if "o_custkey" in seg[:200]
    )
    assert "o_totalprice" in orders_rs and "o_orderkey" not in orders_rs


def test_boilerplate_doc_freq_is_agg_plus_join_never_window(spark, sf_dir):
    """The document-frequency of a line comes from an aggregation
    joined back on line_key — boilerplate lines are BY DEFINITION the
    heavy keys, so a COUNT() OVER (PARTITION BY line_key) would funnel
    exactly the interesting keys through single reducers. The plan
    must carry no window at all, only keyed aggregates and an
    equi-join."""
    from simple_etl_pipeline_spark.plans import text as txtmod

    plan = (
        txtmod.txt_boilerplate_lines(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4, plan


def test_phash_hashing_is_columnar_band_join_is_equi(spark, sf_dir):
    """The perceptual hash is Column arithmetic inside the scan stage
    (no Python evaluation of any kind), and candidate generation is an
    equi-join on (band, value) — never a cross product of the image
    corpus."""
    from simple_etl_pipeline_spark.plans import multimodal as mmmod

    plan = (
        mmmod.mm_phash_dedup(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # hash-based EQUI join keyed on the bands (at test SF the tiny
    # build side broadcasts; at scale stats flip it to sort-merge —
    # either way the keys prove band-bucketed candidates, not a cross)
    join_lines = [
        ln
        for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert join_lines and all("band" in ln for ln in join_lines), plan


def test_attention_pack_prefix_sum_barrier_and_bounded_explode(
    spark, sf_dir
):
    """train_attention_pack is a global_prefix_sum surface: range
    exchange on the doc_id total order numbered by the distributed
    sequence, no un-keyed window over data rows — and exactly ONE
    generator (the span explode, whose output is manifest-sized:
    n_docs + tokens div ctx rows), never a cartesian product."""
    from simple_etl_pipeline_spark.plans import text as txtmod

    plan = _assert_sequence_ranks(
        txtmod.train_attention_pack(spark, sf_dir), "doc_id"
    )
    assert plan.count("Generate explode") == 1, plan


def test_embedding_drift_single_agg_pass_no_join_no_window(
    spark, sf_dir
):
    """dq_embedding_drift (r13 bank) is one posexplode feeding one
    dim-keyed aggregation — no join of any kind, no window (the final
    orderBy is a 64-row sort), and the embeddings scan pruned to
    (vec_id, embedding): the label column must not be read."""
    from simple_etl_pipeline_spark.plans import similarity as simmod

    plan = (
        simmod.dq_embedding_drift(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    # ADVICE r13: assert the literals BEFORE the index() ordering
    # comparison below, with explicit messages — if Spark's plan
    # rendering of the Generate (or of md5) ever changes, the failure
    # says so instead of index() raising a bare ValueError.
    assert "Generate posexplode" in plan, (
        "no 'Generate posexplode' line in the executed plan — Spark "
        "changed the Generate rendering or the explode was rewritten:\n"
        + plan
    )
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    rs = plan.split("ReadSchema")[1][:200]
    assert "embedding" in rs and "label" not in rs, rs
    # the md5 snapshot split must be evaluated BELOW the Generate
    # (once per VECTOR, passed through as a Generate join column) —
    # selecting it alongside posexplode puts it in the Project above
    # Generate, one md5 per exploded row: 64x the evaluations and a
    # measured ~60% of the op's wall at the 512k probe point (the r13
    # drill). Plan text prints parents first, so the Generate line
    # must appear before the md5 expression.
    assert "md5" in plan, (
        "no 'md5' expression in the executed plan — the snapshot "
        "split changed hash function or was constant-folded away:\n"
        + plan
    )
    assert plan.index("Generate posexplode") < plan.index("md5"), (
        "md5 snapshot split evaluated above the Generate — "
        "per-exploded-row, 64x the needed work"
    )


def test_binpack_shelves_row_number_barrier_no_band_window(
    spark, sf_dir
):
    """train_binpack_shelves is a global_row_number surface, ranked
    over the (band_len, doc_id) total order: one range exchange, the
    distributed sequence — NEVER a band-partitioned window, whose
    <= 13-key universe would funnel the corpus through 13 reducers. The
    offsets come back on broadcast joins and there is no generator at
    all (the manifest is an aggregation, not an explode)."""
    from simple_etl_pipeline_spark.plans import text as txtmod

    plan = _assert_sequence_ranks(
        txtmod.train_binpack_shelves(spark, sf_dir),
        "band_len",
        bounded=("band_len",),
    )
    assert "Generate" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_snapshot_diff_full_outer_equi_join_pruned_scans(
    spark, sf_dir
):
    """dq_snapshot_diff (r14 bank) moves only 32-byte digests through
    ONE doc_id-keyed FULL OUTER equi-join (never a cross product, no
    Python evaluation, no window), and both snapshot scans prune to
    (doc_id, text, source) — lang and n_chars must not be read."""
    from simple_etl_pipeline_spark.plans import relational as relmod

    plan = (
        relmod.dq_snapshot_diff(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "windowspecdefinition" not in plan, plan
    join_lines = [
        ln
        for ln in plan.splitlines()
        if ("SortMergeJoin" in ln or "HashJoin" in ln)
    ]
    assert join_lines, plan
    assert all(
        "doc_id" in ln and "FullOuter" in ln for ln in join_lines
    ), plan
    for rs in plan.split("ReadSchema")[1:]:
        head = rs[:160]
        assert "lang" not in head and "n_chars" not in head, head


def test_mad_outliers_gpid_ranks_never_type_keyed_window(spark, sf_dir):
    """ev_mad_outliers ranks both passes through global_row_number: two
    range exchanges, each numbered by the distributed sequence, and NO
    window partitioned by the event type — a |types|-key window would
    funnel the stream through a handful of reducers. The per-type
    offset/median/MAD frames come back as broadcast joins."""
    from simple_etl_pipeline_spark.plans import events as evmod

    plan = _assert_sequence_ranks(
        evmod.ev_mad_outliers(spark, sf_dir), "et", bounded=("et",)
    )
    assert plan.count("Exchange rangepartitioning(et") >= 2, plan
    assert plan.count("AttachDistributedSequence") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_knn_graph_bucket_equi_join_node_keyed_topk(spark, sf_dir):
    """sim_knn_graph (r15 bank): candidate generation is an equi-join
    on the LSH bucket (never a cross product of the corpus, no Python
    nodes), the top-K window is keyed by the CORPUS-sized node id —
    the parallelizable window class, explicitly not a bounded-key
    funnel — and the only nested-loop join is the 1-row auto-scaled
    bucket-bit parameter broadcast (the adjudicated bounds-scalar
    class)."""
    from simple_etl_pipeline_spark.plans import similarity as simmod

    plan = (
        simmod.sim_knn_graph(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # one 1-row param broadcast per alias of the candidate self-join
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    join_lines = [
        ln
        for ln in plan.splitlines()
        if ("SortMergeJoin" in ln or "HashJoin" in ln)
        and "LeftOuter" not in ln
        and "NestedLoop" not in ln
    ]
    assert join_lines, plan
    assert any("bucket" in ln for ln in join_lines), plan
    assert any(
        "row_number() windowspecdefinition(node" in ln
        for ln in plan.splitlines()
    ), plan


def test_bytes_shard_pack_prefix_sum_barrier_no_generate(spark, sf_dir):
    """mm_bytes_shard_pack rides global_prefix_sum: one range exchange
    on doc_id numbered by the distributed sequence, block-keyed running
    sums only — and no generator at all (the manifest is a shard-keyed
    aggregation, not an explode)."""
    from simple_etl_pipeline_spark.plans import multimodal as mmmod

    plan = _assert_sequence_ranks(
        mmmod.mm_bytes_shard_pack(spark, sf_dir), "doc_id"
    )
    assert "Generate" not in plan, plan


def test_knn_components_no_cartesian_no_python(spark, sf_dir):
    """sim_knn_components (r16 bank) composes the bucket-keyed edge
    stage, one edge-keyed LEFT SEMI mutuality join and the star-
    contraction components — no cross product and no Python
    evaluation anywhere in the converged plan; nested-loop joins are
    only the 1-row bucket-bit parameter broadcasts (one per side of
    the mutuality semi-join — the adjudicated bounds-scalar class)."""
    from simple_etl_pipeline_spark.operators.planaudit import (
        scalar_bnlj_violations,
    )
    from simple_etl_pipeline_spark.plans import similarity as simmod

    df = simmod.sim_knn_components(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert scalar_bnlj_violations(df) == []
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_decontam_report_shingle_keyed_joins_no_window(spark, sf_dir):
    """train_eval_decontam_report (r16 bank): the overlap joins key on
    the 60-bit shingle hash (8-byte keys, never gram strings), there
    is no window anywhere, and no cross product — the only tiny
    frames are the literal pair rows and the <= 3-cell stats, which
    ride broadcast joins."""
    from simple_etl_pipeline_spark.plans import text as txtmod

    plan = (
        txtmod.train_eval_decontam_report(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "windowspecdefinition" not in plan, plan
    join_lines = [
        ln
        for ln in plan.splitlines()
        if "SortMergeJoin" in ln
        or ("HashJoin" in ln and "LeftOuter" not in ln)
    ]
    assert join_lines, plan
    assert all("shkey" in ln for ln in join_lines), plan


def test_cusum_grid_window_and_bounded_broadcasts(spark, sf_dir):
    """ev_changepoint_cusum (r16 bank): ONE hour-keyed aggregation
    touches the stream; the running-sum window is un-partitioned over
    the SPAN-sized grid (the ev_gap_fill adjudicated class); the head
    is TakeOrdered, and the only nested-loop joins are the two 1-row
    bounds/peak scalar broadcasts (the adjudicated bounded class)."""
    from simple_etl_pipeline_spark.plans import events as evmod

    plan = (
        evmod.ev_changepoint_cusum(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "Generate explode" in plan, plan  # the grid, bounds-sized


def test_approved_bnlj_carriers_are_row_bounded(spark, sf_dir):
    """The r15 scalar-BNLJ audit (VERDICT r14 watch-item #3) over one
    representative of every approved-carrier SHAPE class: zero-key
    scalar aggregate (agg_basket_lift), K-row centroid collect_list
    (dedup_semdedup, sim_ivfpq_topk), literal-pk-filtered query
    vectors (sim_knn_brute, search_hybrid_rrf), driver-literal
    parameter frame (ev_quantile_sketch), |types|-keyed sketch pairs
    (ev_hll_overlap), unique-right-key decorated anchors
    (train_hard_negatives). The FULL 145-plan sweep is
    tools/plan_dump.py, which records any violation per query in
    PLANS_ALL.json (`bnlj_unbounded` on its stdout line)."""
    from simple_etl_pipeline_spark.operators.planaudit import (
        scalar_bnlj_violations,
    )

    for name in (
        "agg_basket_lift",
        "dedup_semdedup",
        "sim_ivfpq_topk",
        "sim_knn_brute",
        "search_hybrid_rrf",
        "ev_quantile_sketch",
        "ev_hll_overlap",
        "train_hard_negatives",
    ):
        df = QUERIES[name](spark, sf_dir)
        v = scalar_bnlj_violations(df)
        assert not v, (name, v)
