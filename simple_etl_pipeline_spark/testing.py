"""Mini oracle harness mirroring the driver's correctness gate.

Runs a Spark query DataFrame and its DuckDB oracle SQL side by side,
normalizes (columns sorted by name, rows sorted, floats compared with
tight relative tolerance), and reports the first divergence. Used by
tests/test_oracle_parity.py so mismatches are caught before the driver
runs CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame

from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES


def demoted_queries() -> dict:
    """Queries DEMOTED from the driver registry (rounds 6-7 rotation-window
    capacity) but still held to full oracle parity by the test suite.
    Each value is (query_fn, oracle_sql); each entry is a derivative of
    registered, driver-green siblings whose hashes pin its semantics —
    see the demotion comments at each module's TAIL_QUERIES."""
    from simple_etl_pipeline_spark.plans.events import (
        EV_JSON_ORACLE,
        EV_OVERLAP_ORACLE,
        ev_json_extract,
        ev_overlap_incident_sessions,
    )
    from simple_etl_pipeline_spark.plans.multimodal import (
        MM_DEDUP_BLOBS_ORACLE,
        mm_dedup_blobs,
    )
    from simple_etl_pipeline_spark.plans.relational import (
        JOIN_FUZZY_RECALL_ORACLE,
        join_fuzzy_recall,
    )
    from simple_etl_pipeline_spark.plans.similarity import (
        SIM_IVF_RECALL_ORACLE,
        sim_ivf_recall,
    )
    from simple_etl_pipeline_spark.plans.relational import (
        WINDOW_LAG_ORACLE,
        window_lag_events,
    )
    from simple_etl_pipeline_spark.plans.text import (
        TXT_MIXTURE_WEIGHTS_ORACLE,
        txt_mixture_weights,
    )
    from simple_etl_pipeline_spark.plans.events import (
        EV_RANGE_JOIN_ORACLE,
        ev_range_join_nearby,
    )
    from simple_etl_pipeline_spark.plans.reference_parity import (
        REF_CLEAN_COLORS_ORACLE,
        REF_CLEAN_PRICE_ORACLE,
        REF_CLEAN_RATING_ORACLE,
        ref_clean_colors,
        ref_clean_price,
        ref_clean_rating,
    )
    from simple_etl_pipeline_spark.plans.events import (
        EV_TUMBLING_ORACLE,
        ev_tumbling_hourly,
    )
    from simple_etl_pipeline_spark.plans.text import (
        TXT_CHAR_ENTROPY_ORACLE,
        txt_char_entropy,
    )
    from simple_etl_pipeline_spark.plans.similarity import (
        SIM_IVF_ORACLE,
        sim_ivf_topk,
    )
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_ROLLUP_ORACLE,
        AGG_SALTED_ORACLE,
        ORDERBY_LIMIT_ORACLE,
        WINDOW_RUNNING_ORACLE,
        agg_rollup_orders,
        agg_salted_sum,
        orderby_limit_top_orders,
        window_running_total,
    )
    from simple_etl_pipeline_spark.plans.text import (
        _simhash_pairs_oracle,
        dedup_simhash_pairs,
    )
    from simple_etl_pipeline_spark.plans.events import (
        EV_SLIDING_ORACLE,
        ev_sliding_windows,
    )
    from simple_etl_pipeline_spark.plans.reference_parity import (
        REF_CLEAN_SIZE_GENDER_ORACLE,
        ref_clean_size_gender,
    )
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_HISTOGRAM_ORACLE,
        agg_histogram,
    )
    from simple_etl_pipeline_spark.plans.text import (
        TXT_NGRAM_FREQ_ORACLE,
        txt_ngram_freq,
    )
    from simple_etl_pipeline_spark.plans.events import (
        EV_ATTRIBUTION_ORACLE,
        EV_SESSION_ORACLE,
        ev_attribution,
        ev_session_windows,
    )
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_APPROX_PERCENTILE_ORACLE,
        WINDOW_NTILE_ORACLE,
        agg_approx_percentile,
        window_ntile_customer_deciles,
    )
    from simple_etl_pipeline_spark.plans.events import (
        EV_COUNTMIN_ORACLE,
        ev_countmin_users,
    )
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_CUBE_ORACLE,
        agg_cube_lineitem,
    )
    from simple_etl_pipeline_spark.plans.text import (
        TXT_BLOOM_CONTAMINATION_ORACLE,
        txt_bloom_contamination,
    )
    from simple_etl_pipeline_spark.plans.events import (
        EV_DAILY_ORACLE,
        ev_user_daily_activity,
    )
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_APPROX_DISTINCT_ORACLE,
        agg_approx_distinct,
    )
    from simple_etl_pipeline_spark.plans.text import (
        TXT_FINGERPRINT_ORACLE,
        txt_fingerprint,
    )
    from simple_etl_pipeline_spark.plans.events import (
        EV_HLL_ROLLUP_ORACLE,
        ev_hll_user_rollup,
    )
    from simple_etl_pipeline_spark.plans.similarity import (
        SIM_MRL_RECALL_ORACLE,
        sim_mrl_recall,
    )
    from simple_etl_pipeline_spark.plans.text import DEDUP_EXACT_ORACLE
    from simple_etl_pipeline_spark.streaming.events import st_dedup_index

    return {
        "sim_ivf_recall": (sim_ivf_recall, SIM_IVF_RECALL_ORACLE),
        "join_fuzzy_recall": (join_fuzzy_recall, JOIN_FUZZY_RECALL_ORACLE),
        "txt_mixture_weights": (
            txt_mixture_weights,
            TXT_MIXTURE_WEIGHTS_ORACLE,
        ),
        "mm_dedup_blobs": (mm_dedup_blobs, MM_DEDUP_BLOBS_ORACLE),
        # round-7 demotions (one per round-7 registration; rationale at
        # plans/events.py TAIL_QUERIES)
        "ev_json_extract": (ev_json_extract, EV_JSON_ORACLE),
        "ev_overlap_incident_sessions": (
            ev_overlap_incident_sessions,
            EV_OVERLAP_ORACLE,
        ),
        "window_lag_events": (window_lag_events, WINDOW_LAG_ORACLE),
        # round-8 demotions (one per round-8 registration; rationale at
        # each module's QUERIES comment):
        #   - dedup_simhash_pairs: dedup_simhash pins the shared
        #     Hamming-band signature pipeline.
        #   - sim_ivf_topk: its cell-probe stage is a component of the
        #     registered sim_ivfpq_topk.
        #   - ev_range_join_nearby: ev_range_join_incidents keeps the
        #     interval-join surface registered.
        #   - ref_clean_price: pinned by ref_transform_full's pipeline
        #     hash + the clean_price differential suite.
        "dedup_simhash_pairs": (
            dedup_simhash_pairs,
            _simhash_pairs_oracle(),
        ),
        "sim_ivf_topk": (sim_ivf_topk, SIM_IVF_ORACLE),
        "ev_range_join_nearby": (ev_range_join_nearby, EV_RANGE_JOIN_ORACLE),
        "ref_clean_price": (ref_clean_price, REF_CLEAN_PRICE_ORACLE),
        # round-9 demotions (one per round-9 registration; rationale at
        # each module's QUERIES/TAIL_QUERIES comment):
        #   - ref_clean_rating / ref_clean_colors: the ref_clean_price
        #     class — pinned by ref_transform_full's pipeline hash +
        #     the per-cleaner differential suites.
        #   - ev_tumbling_hourly: its streaming twin st_tumbling_hourly
        #     keeps the identical oracle registered.
        #   - txt_char_entropy: a component of the registered
        #     txt_doc_features feature set.
        "ref_clean_rating": (ref_clean_rating, REF_CLEAN_RATING_ORACLE),
        "ref_clean_colors": (ref_clean_colors, REF_CLEAN_COLORS_ORACLE),
        "ev_tumbling_hourly": (ev_tumbling_hourly, EV_TUMBLING_ORACLE),
        "txt_char_entropy": (txt_char_entropy, TXT_CHAR_ENTROPY_ORACLE),
        # round-10 demotions (one per round-10 registration; rationale
        # at plans/relational.py QUERIES):
        #   - orderby_limit_top_orders: TakeOrderedAndProject surface
        #     shared with registered q10/q15/q18 order+limit heads.
        #   - agg_rollup_orders: Expand operator pinned by registered
        #     agg_cube_lineitem + agg_grouping_sets (rollup is a
        #     strict subset of both).
        #   - agg_salted_sum: result equals the plain sums already
        #     hashed; the salting plan shape stays pinned by
        #     test_plan_shapes.
        #   - window_running_total: prefix-sum semantics pinned by the
        #     global_prefix_sum surfaces (the exact shape it exists to
        #     replace at scale).
        "orderby_limit_top_orders": (
            orderby_limit_top_orders,
            ORDERBY_LIMIT_ORACLE,
        ),
        "agg_rollup_orders": (agg_rollup_orders, AGG_ROLLUP_ORACLE),
        "agg_salted_sum": (agg_salted_sum, AGG_SALTED_ORACLE),
        "window_running_total": (
            window_running_total,
            WINDOW_RUNNING_ORACLE,
        ),
        # round-11 demotions (one per round-11 registration; rationale
        # at each module's QUERIES/ORACLES comment):
        #   - agg_histogram: equi-width sibling of the registered
        #     percentile heads; dq_profile_drift registers a
        #     histogram-per-window comparison the same round.
        #   - ev_sliding_windows: streaming twin st_sliding_windows
        #     keeps the identical oracle registered.
        #   - ref_clean_size_gender: the ref_clean_price class —
        #     pinned by ref_transform_full's pipeline hash + the
        #     differential suites.
        #   - txt_ngram_freq: bigram-shingle explode pinned by the
        #     registered dedup_ngram_jaccard/dedup_ngram_spans
        #     pipeline; global top-K head by the registered q15/q18
        #     TakeOrderedAndProject rows.
        "agg_histogram": (agg_histogram, AGG_HISTOGRAM_ORACLE),
        "ev_sliding_windows": (ev_sliding_windows, EV_SLIDING_ORACLE),
        "ref_clean_size_gender": (
            ref_clean_size_gender,
            REF_CLEAN_SIZE_GENDER_ORACLE,
        ),
        "txt_ngram_freq": (txt_ngram_freq, TXT_NGRAM_FREQ_ORACLE),
        # round-12 demotions (one per round-12 registration; rationale
        # at each module's QUERIES/TAIL_QUERIES comment — all four are
        # also IN the r12 mandatory set, freeing the window slots the
        # r12 ledger arithmetic needs):
        #   - ev_session_windows: streaming twin st_session_windows
        #     keeps the IDENTICAL oracle registered (completes the
        #     keep-one-per-surface set with the r9 tumbling and r11
        #     sliding demotions).
        #   - agg_approx_percentile: sketch sibling of the registered
        #     exact-percentile heads; its approx_percentile surface is
        #     also pinned by the registered ev_quantile_sketch.
        #   - window_ntile_customer_deciles: rank-derivative of the
        #     registered window_percent_rank_suppliers — same
        #     customer-keyed rank scan, ntile vs percent_rank head.
        #   - ev_attribution: first/last-touch head; the registered
        #     ev_attribution_linear pins the same sessionized credit
        #     pipeline with the strictly-larger linear-split surface.
        "ev_session_windows": (ev_session_windows, EV_SESSION_ORACLE),
        "agg_approx_percentile": (
            agg_approx_percentile,
            AGG_APPROX_PERCENTILE_ORACLE,
        ),
        "window_ntile_customer_deciles": (
            window_ntile_customer_deciles,
            WINDOW_NTILE_ORACLE,
        ),
        "ev_attribution": (ev_attribution, EV_ATTRIBUTION_ORACLE),
        # round-13 demotions (one per round-13 registration; rationale
        # at each module's QUERIES/TAIL_QUERIES comment — all three are
        # also IN the r13 mandatory set, freeing the window slots the
        # r13 ledger arithmetic needs):
        #   - agg_cube_lineitem: its Expand operator is a strict
        #     special case of the registered agg_grouping_sets (the
        #     agg_rollup_orders r10 rationale).
        #   - ev_countmin_users: count-min sketch sibling of the
        #     registered EXACT ev_heavy_hitters on the same key
        #     universe (the agg_approx_percentile r12 precedent).
        #   - txt_bloom_contamination: its 4096-bit bit_or Bloom build
        #     is pinned by the registered skip_bloom_stats and its
        #     contamination head by the registered txt_contamination.
        "agg_cube_lineitem": (agg_cube_lineitem, AGG_CUBE_ORACLE),
        "ev_countmin_users": (ev_countmin_users, EV_COUNTMIN_ORACLE),
        "txt_bloom_contamination": (
            txt_bloom_contamination,
            TXT_BLOOM_CONTAMINATION_ORACLE,
        ),
        # round-14 demotions (one per round-14 registration; rationale
        # at each module's QUERIES comment — all three are also IN the
        # r14 mandatory set, freeing the window slots the r14 ledger
        # arithmetic needs):
        #   - agg_approx_distinct: HLL-sketch sibling of the
        #     registered EXACT agg_distinct_counts on the same key
        #     universe (the sketch-vs-exact precedent of the r12/r13
        #     approx_percentile / countmin demotions).
        #   - txt_fingerprint: bare per-doc projection of
        #     fingerprint_col; the registered dedup_exact aggregates
        #     the identical column over the identical corpus.
        #   - ev_user_daily_activity: per-(day,user) rollup pinned
        #     surface-by-surface by registered siblings
        #     (st_tumbling_hourly's time truncation, ev_cuped's
        #     per-user exact sums, agg_distinct_counts' distinct
        #     heads).
        "agg_approx_distinct": (
            agg_approx_distinct,
            AGG_APPROX_DISTINCT_ORACLE,
        ),
        "txt_fingerprint": (txt_fingerprint, TXT_FINGERPRINT_ORACLE),
        "ev_user_daily_activity": (
            ev_user_daily_activity,
            EV_DAILY_ORACLE,
        ),
        # round-15 demotions (one per round-15 registration; rationale
        # at each module's QUERIES/TAIL_QUERIES comment — all three
        # are also IN the r15 mandatory set, freeing the window slots
        # the r15 ledger arithmetic needs):
        #   - ev_hll_user_rollup: HLL-sketch sibling of the registered
        #     EXACT per-user rollups (agg_distinct_counts,
        #     ev_rollup_multires) — the sketch-vs-exact precedent of
        #     the r12/r13/r14 approx_percentile / countmin /
        #     approx_distinct demotions.
        #   - sim_mrl_recall: recall-meter rank-derivative — the
        #     registered sim_rp_recall pins the identical
        #     brute-force-vs-projection harness; the Matryoshka
        #     truncation is a two-line prefix slice.
        #   - st_dedup_index: its oracle IS the shared
        #     DEDUP_EXACT_ORACLE; the registered st_dedup_lsh_index is
        #     the strictly-larger streaming dedup surface and the
        #     registered dedup_exact pins the shared oracle batch-side.
        "ev_hll_user_rollup": (
            ev_hll_user_rollup,
            EV_HLL_ROLLUP_ORACLE,
        ),
        "sim_mrl_recall": (sim_mrl_recall, SIM_MRL_RECALL_ORACLE),
        "st_dedup_index": (st_dedup_index, DEDUP_EXACT_ORACLE),
    }


def duckdb_connection(sf_dir: str):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # a Spark-written (or test-constructed multi-file) table is a
        # DIRECTORY of part files under the table name; DuckDB's
        # read_parquet needs the explicit glob there, while Spark's
        # reader handles both layouts natively
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    return v


def _rows(records: list[dict[str, Any]], cols: list[str]) -> list[tuple]:
    out = []
    for r in records:
        out.append(tuple(_norm_cell(r[c]) for c in cols))

    def key(row: tuple) -> tuple:
        return tuple(
            (v is None, str(type(v).__name__), str(v)) for v in row
        )

    return sorted(out, key=key)


def compare_with_oracle(
    spark_df: DataFrame, oracle_sql: str, sf_dir: str, rtol: float = 1e-9
) -> None:
    """Raise AssertionError with a pinpointed diff on any divergence."""
    con = duckdb_connection(sf_dir)
    exp = con.execute(oracle_sql).fetchdf()
    got = spark_df.toPandas()
    exp_cols = sorted(exp.columns.tolist())
    got_cols = sorted(got.columns.tolist())
    # Explicit raises, not bare `assert` (the ADVICE-r10 class): this
    # harness also runs OUTSIDE pytest (banked sf0.1 sweeps, /verify
    # scripts), where `python -O` would strip asserts and let a
    # divergent result read as a silent pass — an evidence-integrity
    # hazard, not just style. The remaining checks below already raise.
    if exp_cols != got_cols:
        raise AssertionError(
            f"column mismatch: spark={got_cols} oracle={exp_cols}"
        )
    if len(exp) != len(got):
        raise AssertionError(
            f"row count: spark={len(got)} oracle={len(exp)}"
        )

    # Type strictness: the driver's check hashes typed values, so an
    # int64 Spark column vs a float64 oracle column (e.g. DuckDB's
    # HUGEINT from an uncast SUM(CASE...)) hash-mismatches even when
    # every value is numerically equal. Mirror that power here: fail
    # when exactly one side of a column is floating-point.
    for c in exp_cols:
        ek, gk = exp[c].dtype.kind, got[c].dtype.kind
        if (ek == "f") != (gk == "f"):
            raise AssertionError(
                f"column {c}: dtype kind mismatch spark={got[c].dtype} "
                f"oracle={exp[c].dtype} (int-vs-float drift breaks the "
                f"driver's value hash; CAST the oracle aggregate)"
            )

    exp_rows = _rows(exp.to_dict("records"), exp_cols)
    got_rows = _rows(got.to_dict("records"), exp_cols)

    for i, (e_row, g_row) in enumerate(zip(exp_rows, got_rows)):
        for c, e, g in zip(exp_cols, e_row, g_row):
            if e is None and g is None:
                continue
            if isinstance(e, float) and isinstance(g, float):
                if not math.isclose(e, g, rel_tol=rtol, abs_tol=1e-9):
                    raise AssertionError(
                        f"row {i} col {c}: spark={g!r} oracle={e!r} (float diff)"
                    )
            elif e != g:
                raise AssertionError(f"row {i} col {c}: spark={g!r} oracle={e!r}")
