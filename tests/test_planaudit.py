"""operators/planaudit: the plan-audit API must flag exactly the
anti-patterns the repo's own plan-shape suite forbids, and pass the
plans that suite blesses."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_etl_pipeline_spark.operators.planaudit import (
    audit_plan,
    formatted_plan,
    scalar_bnlj_violations,
)
from simple_etl_pipeline_spark.schemas import load_table


def test_clean_star_join_passes(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    df = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_name", "r_name")
    audit = audit_plan(df)
    assert audit.ok, audit.findings


def test_cartesian_is_flagged(spark, sf_dir):
    # with a broadcastable side Spark plans a Cross BNLJ — the audited
    # 1-row-broadcast pattern the audit deliberately allows; disabling
    # auto-broadcast yields the CartesianProduct the audit must flag
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        nation = load_table(spark, sf_dir, "nation")
        region = load_table(spark, sf_dir, "region")
        audit = audit_plan(nation.crossJoin(region))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert not audit.ok
    assert any("Cartesian" in f for f in audit.findings)


def test_row_python_udf_is_flagged_and_pandas_udf_passes(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf, udf

    nation = load_table(spark, sf_dir, "nation")
    row_udf = udf(lambda s: (s or "").upper(), "string")
    flagged = audit_plan(nation.select(row_udf("n_name").alias("u")))
    assert any("BatchEvalPython" in f for f in flagged.findings)

    @pandas_udf("string")
    def vec_upper(s):
        return s.str.upper()

    ok = audit_plan(nation.select(vec_upper("n_name").alias("u")))
    assert ok.ok, ok.findings


def test_shuffle_budget_and_scan_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.filter(F.col("l_quantity") < 10)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    audit = audit_plan(
        agg,
        max_shuffles=1,
        require_pushed_filter=True,
        max_scan_columns=2,  # l_quantity + l_returnflag
    )
    assert audit.ok, audit.findings
    # the same query under a 0-shuffle budget must fail
    assert not audit_plan(agg, max_shuffles=0).ok
    # a select * scan breaks the column budget
    wide = audit_plan(li.limit(5), max_scan_columns=2)
    assert not wide.ok


def test_bench_fp_residual_names_never_read_as_plan_changes():
    """The box-noise rebase guard's integrity (r12-continuation
    finding): dq_profile_drift's four conditional countDistincts make
    its fingerprint flip across equivalent Expand orderings (the
    documented plan_fingerprint residual), and a residual-name
    mismatch read as fp_changed would let a LOUD run overwrite the
    committed quiet epoch in BENCH_DETAIL.json — the guard only
    refuses rebases when every flag is fp-same. Pin the classifier:
    residual names never signal a plan change; every other name
    still does."""
    import bench

    assert bench.fp_changed("dq_profile_drift", "aaa", "bbb") is False
    assert bench.fp_changed("agg_distinct_counts", "aaa", "bbb") is False
    assert bench.fp_changed("q1_pricing_summary", "aaa", "bbb") is True
    assert bench.fp_changed("q1_pricing_summary", "aaa", "aaa") is False
    # every residual name justifies itself: the three documented
    # multi-distinct plans or the r12 finding
    assert bench.FP_RESIDUAL <= {
        "agg_approx_distinct",
        "agg_distinct_counts",
        "txt_dataset_card",
        "dq_profile_drift",
    }


def test_scalar_bnlj_bound_accepts_scalar_rejects_raw(spark, sf_dir):
    """The r15 scalar-BNLJ rule (VERDICT r14 watch-item #3): a
    zero-key scalar-aggregate cross broadcast passes; a raw-scan
    (data-dependent-row) cross broadcast is flagged — so the repo's
    approved-BNLJ count can never silently absorb a non-scalar
    nested-loop join behind the Cross label."""
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")

    scalar = orders.agg(F.count(F.lit(1)).alias("n_orders"))
    ok = audit_plan(nation.crossJoin(F.broadcast(scalar)))
    assert ok.ok, ok.findings

    raw = audit_plan(
        nation.crossJoin(F.broadcast(orders.select("o_orderkey")))
    )
    assert any("not scalar-bounded" in f for f in raw.findings), (
        raw.findings
    )


def test_scalar_bnlj_bound_accepts_literal_pk_filter(spark, sf_dir):
    """The N_QUERIES shape: a broadcast of `embeddings WHERE vec_id <
    literal` is bounded by the literal (vec_id is the table pk), so the
    similarity family's query-vector broadcasts pass the audit."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    corpus = emb.select(F.col("vec_id").alias("c_id2"))
    ok = audit_plan(corpus.crossJoin(F.broadcast(q)))
    assert ok.ok, ok.findings


@pytest.mark.parametrize("eager", [False, True])
def test_scalar_bnlj_bound_flags_checkpointed_data(spark, sf_dir, eager):
    """A checkpointed frame is an RDD scan of data rows, not a driver
    literal: its cross broadcast is flagged whether the checkpoint has
    run (eager) or not."""
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    ckpt = orders.select("o_orderkey").localCheckpoint(eager=eager)
    try:
        audit = audit_plan(nation.crossJoin(F.broadcast(ckpt)))
        assert any("not scalar-bounded" in f for f in audit.findings), (
            audit.findings
        )
    finally:
        ckpt._jdf.queryExecution().analyzed().rdd().unpersist(False)


def test_scalar_bnlj_bound_accepts_create_dataframe_literal(spark, sf_dir):
    """A createDataFrame literal (driver rows, an RDD scan whose
    lineage is a parallelized collection) broadcasts clean."""
    nation = load_table(spark, sf_dir, "nation")
    lit = spark.createDataFrame([(0.5,), (0.9,)], "p double")
    assert "Scan ExistingRDD" in formatted_plan(nation.crossJoin(lit))
    audit = audit_plan(nation.crossJoin(F.broadcast(lit)))
    assert audit.ok, audit.findings


def _rebuilt_after_collect(spark, sf_dir, build):
    """A query rebuilt after its first build ran: the persisted frames
    the first run executed are now cached, and the rebuilt plan reads
    them through InMemoryTableScan nodes over their executed plans."""
    build(spark, sf_dir).toPandas()
    df = build(spark, sf_dir)
    assert "InMemoryTableScan" in formatted_plan(df)
    return df


@pytest.mark.parametrize("name", ["sim_ivfpq_topk", "dedup_semdedup"])
def test_scalar_bnlj_audit_reads_rebuilt_cached_plans(spark, sf_dir, name):
    """The centroid broadcasts of a rebuilt k-means query sit inside
    executed cached plans; the audit walks into them and passes them."""
    from simple_etl_pipeline_spark.plans import similarity

    df = _rebuilt_after_collect(spark, sf_dir, getattr(similarity, name))
    audit = audit_plan(df)
    assert audit.ok, audit.findings


def test_scalar_bnlj_audit_flags_keyed_broadcast_of_executed_persist(
    spark, sf_dir
):
    """A keyed aggregate that was persisted and executed, broadcast
    into a BNLJ beside a scalar broadcast, is flagged — and flagged once
    when two cache scans lead to the same cached BNLJ."""
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    keyed = keyed.persist()
    crossed = nation.crossJoin(F.broadcast(keyed)).persist()
    try:
        keyed.toPandas()
        scalar = orders.agg(F.max("o_totalprice").alias("mx"))
        audit = audit_plan(nation.crossJoin(F.broadcast(keyed)).crossJoin(
            F.broadcast(scalar)
        ))
        assert any("keyed aggregate" in f for f in audit.findings), (
            audit.findings
        )

        crossed.toPandas()
        v = scalar_bnlj_violations(crossed.union(crossed))
        assert len(v) == 1 and "keyed aggregate" in v[0], v
    finally:
        crossed.unpersist()
        keyed.unpersist()


@pytest.mark.parametrize("keyed", [False, True])
def test_scalar_bnlj_audit_follows_reused_exchange_to_its_source(
    spark, sf_dir, keyed
):
    """An executed union of two identical cross joins broadcasts the
    second build side through a ReusedExchange: the audit bounds it by
    the exchange it reuses, passing a scalar and flagging a keyed
    aggregate on both joins."""
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    grouped = orders.groupBy("o_custkey") if keyed else orders.groupBy()
    crossed = nation.crossJoin(
        F.broadcast(grouped.agg(F.count(F.lit(1)).alias("n")))
    )
    df = crossed.union(crossed)
    df.toPandas()
    assert "ReusedExchange" in formatted_plan(df)

    audit = audit_plan(df)
    if keyed:
        v = [f for f in audit.findings if "keyed aggregate" in f]
        assert len(v) == 2, audit.findings
    else:
        assert audit.ok, audit.findings


def test_scalar_bnlj_k_bounded_key_exemption(spark, sf_dir, tmp_path):
    """A broadcast keyed on a column aliased to a documented
    dimension-sized key name passes; the same broadcast keyed on the
    data-dependent name is flagged."""
    nation = load_table(spark, sf_dir, "nation")
    # stored under the alias: a plan-time alias of a grouping column is
    # folded back into the column it renames
    path = str(tmp_path / "ids")
    load_table(spark, sf_dir, "events").select(
        "user_id", F.col("user_id").alias("c_id")
    ).write.parquet(path)

    def audit(key: str):
        build = spark.read.parquet(path).groupBy(key).agg(
            F.count(F.lit(1)).alias("n")
        )
        return audit_plan(nation.crossJoin(F.broadcast(build)))

    assert audit("c_id").ok, audit("c_id").findings
    flagged = audit("user_id").findings
    assert len(flagged) == 1 and "keyed aggregate" in flagged[0], flagged
