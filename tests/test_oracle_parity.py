"""Every queries() entry vs its DuckDB oracle at sf0.001 — the same
comparison the driver makes at sf0.01, run in CI so divergences are
caught immediately."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.testing import compare_with_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


from simple_etl_pipeline_spark.testing import demoted_queries

DEMOTED = demoted_queries()


def test_demoted_queries_left_the_registry():
    assert set(DEMOTED) & set(QUERIES) == set()


@pytest.mark.parametrize("name", sorted(DEMOTED))
def test_demoted_query_matches_oracle(spark, sf_dir, name):
    fn, oracle = DEMOTED[name]
    compare_with_oracle(fn(spark, sf_dir), oracle, sf_dir)


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    compare_with_oracle(df, ORACLES[name], sf_dir)


# The registered queries whose result rests on global_row_number /
# global_prefix_sum ranks.
RANK_QUERIES = [
    "agg_rfm_segments",
    "ev_mad_outliers",
    "ev_trimmed_mean",
    "mm_bytes_shard_pack",
    "train_attention_pack",
    "train_binpack_shelves",
    "train_curriculum_order",
    "train_token_budget_pack",
]
SF001_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", RANK_QUERIES)
def test_rank_query_survives_cache_clear_before_action(spark, name):
    """A rank in a total order is a pure function of the rows, so the
    result may not depend on any cache: clearing the session cache
    between build and action still matches the oracle (at the driver's
    scale, where ranks span several range partitions), and the action
    leaves no RDD persisted behind."""
    if not os.path.isdir(SF001_DIR):
        pytest.skip("sf0.01 testdata not present")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    spark.catalog.clearCache()  # frames persisted by earlier tests
    before = persistent().size()
    df = QUERIES[name](spark, SF001_DIR)
    spark.catalog.clearCache()
    compare_with_oracle(df, ORACLES[name], SF001_DIR)
    assert persistent().size() == before


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
