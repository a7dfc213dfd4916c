"""connected_components: contraction round bound + correctness.

The adversarial case is a long chain: plain hash-min propagation needs
rounds equal to the chain length (diameter), so a 300-link chain under
a 10-round cap MUST fail without distance halving. Large-star/
small-star alternation at least halves path distances per round, so
~log2(300) rounds suffice — the max_iters=10 run below (converges in
9) is the proof the contraction works.
"""

from __future__ import annotations

import pytest

from simple_etl_pipeline_spark.plans.text import CC_MAX_ITERS, connected_components


def _sym_edges(spark, pairs):
    both = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(both, "src long, dst long")


def _labels(df):
    return {r.doc_id: r.component for r in df.collect()}


def test_long_chain_converges_in_log_rounds(spark):
    n = 300
    edges = _sym_edges(spark, [(i, i + 1) for i in range(n - 1)])
    # 10 rounds << diameter 299: only the doubling shortcut makes this.
    labels = _labels(connected_components(edges, max_iters=10))
    assert labels == {i: 0 for i in range(n)}


def test_two_components_and_star(spark):
    # star around 100 + a disjoint triangle, min ids 5 and 200
    pairs = [(100, x) for x in (5, 7, 9, 11)] + [(200, 201), (201, 202), (202, 200)]
    labels = _labels(connected_components(_sym_edges(spark, pairs)))
    assert labels == {5: 5, 7: 5, 9: 5, 11: 5, 100: 5, 200: 200, 201: 200, 202: 200}


def test_ring(spark):
    n = 64
    pairs = [(i, (i + 1) % n) for i in range(n)]
    labels = _labels(connected_components(_sym_edges(spark, pairs)))
    assert labels == {i: 0 for i in range(n)}


def test_nonconvergence_raises(spark):
    # max_iters=1 cannot finish a 12-chain (needs the no-change round too)
    edges = _sym_edges(spark, [(i, i + 1) for i in range(11)])
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(edges, max_iters=1)


def test_default_cap_is_generous():
    assert CC_MAX_ITERS >= 16


def test_call_keeps_only_the_final_checkpoint(spark):
    # each round frees the previous round's localCheckpoint once its own
    # has materialized; the returned frame reads only the last one
    jsc = spark.sparkContext._jsc
    n = 300
    edges = _sym_edges(spark, [(i, i + 1) for i in range(n - 1)])
    before = jsc.getPersistentRDDs().size()
    labels = _labels(connected_components(edges, max_iters=10))
    assert labels == {i: 0 for i in range(n)}
    assert jsc.getPersistentRDDs().size() - before <= 1
