"""Structural invariants of the round-4 operators — properties the
oracle hash cannot state directly: the Bloom filter's membership
contract, SCD2 interval algebra, Morton-code bijectivity, Lloyd
monotonicity, and batch/streaming SCD2 equivalence.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --- Morton code: the python reference of the SQL/Column arithmetic ------
def _py_interleave(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def _py_deinterleave(z: int, bits: int) -> tuple[int, int]:
    x = y = 0
    for i in range(bits):
        x |= ((z >> (2 * i)) & 1) << i
        y |= ((z >> (2 * i + 1)) & 1) << i
    return x, y


@given(st.integers(0, 255), st.integers(0, 255))
@_SETTINGS
def test_zorder_interleave_is_a_bijection(x, y):
    from simple_etl_pipeline_spark.plans.events import ZORDER_BITS

    z = _py_interleave(x, y, ZORDER_BITS)
    assert 0 <= z < 1 << (2 * ZORDER_BITS)
    assert _py_deinterleave(z, ZORDER_BITS) == (x, y)


@given(st.integers(0, 255), st.integers(0, 255))
@_SETTINGS
def test_zorder_sql_matches_python(x, y):
    from simple_etl_pipeline_spark.plans.events import (
        ZORDER_BITS,
        _sql_interleave,
    )

    got = duckdb.sql(
        f"SELECT {_sql_interleave(str(x), str(y))}"
    ).fetchone()[0]
    assert got == _py_interleave(x, y, ZORDER_BITS)


def test_zorder_file_rectangles_are_axis_aligned():
    """z >> shift constant ⟹ the top (2*bits - shift) z-bits are fixed,
    so each file covers an axis-aligned power-of-two rectangle — the
    property that makes min/max stats prune on EITHER dimension."""
    from simple_etl_pipeline_spark.plans.events import (
        ZORDER_BITS,
        ZORDER_FILE_SHIFT,
    )

    half = (2 * ZORDER_BITS - ZORDER_FILE_SHIFT) // 2
    side = 1 << (ZORDER_BITS - half)
    seen: dict[int, tuple[set, set]] = {}
    for x in range(0, 256, 7):
        for y in range(0, 256, 5):
            f = _py_interleave(x, y, ZORDER_BITS) >> ZORDER_FILE_SHIFT
            xs, ys = seen.setdefault(f, (set(), set()))
            xs.add(x)
            ys.add(y)
    for f, (xs, ys) in seen.items():
        assert max(xs) - min(xs) < side, (f, sorted(xs))
        assert max(ys) - min(ys) < side, (f, sorted(ys))


# --- Bloom filter: DuckDB bit arithmetic == python md5 reference ---------
def _py_bloom_positions(s: str, k: int, bits: int) -> list[int]:
    import hashlib

    out = []
    for i in range(k):
        h = hashlib.md5(f"{i}|{s}".encode()).hexdigest()[:15]
        out.append(int(h, 16) % bits)
    return out


@given(st.text(st.characters(exclude_categories=("Cs",)), max_size=20))
@_SETTINGS
def test_bloom_bit_positions_match_python(s):
    from simple_etl_pipeline_spark.functions.text import sql_md5_hash60
    from simple_etl_pipeline_spark.plans.text import BLOOM_BITS, BLOOM_K

    exprs = ", ".join(
        f"{sql_md5_hash60('s', str(i))} % {BLOOM_BITS}" for i in range(BLOOM_K)
    )
    got = list(
        duckdb.sql(
            f"SELECT {exprs} FROM (SELECT ? AS s)", params=[s]
        ).fetchone()
    )
    assert got == _py_bloom_positions(s, BLOOM_K, BLOOM_BITS)
    # and the SHARED helper every consumer (contamination filter,
    # data-skipping index) imports must agree with this independent
    # from-scratch reference — one lock ties all layers together
    from simple_etl_pipeline_spark.functions.text import py_bloom_positions

    assert got == py_bloom_positions(s)


def test_bloom_never_underreports(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import txt_bloom_contamination

    rows = txt_bloom_contamination(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.bloom_hits >= r.exact_hits, r
        assert r.no_false_neg


# --- SCD2 interval algebra ------------------------------------------------
def test_scd2_intervals_tile_each_user(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import ev_scd2_users

    rows = ev_scd2_users(spark, sf_dir).collect()
    assert rows
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.version)
        assert [r.version for r in ivs] == list(range(1, len(ivs) + 1))
        assert ivs[-1].is_current and ivs[-1].valid_to is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, (user, a, b)
            assert not a.is_current
            # a run ends only on an actual attribute change
            assert a.event_type != b.event_type, (user, a, b)


def test_scd2_event_counts_cover_the_stream(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import ev_scd2_users
    from simple_etl_pipeline_spark.schemas import load_table

    per_user = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got: dict[int, int] = {}
    for r in ev_scd2_users(spark, sf_dir).collect():
        got[r.user_id] = got.get(r.user_id, 0) + r.n_events
    assert got == per_user


def test_streaming_scd2_equals_batch_closed_intervals(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import ev_scd2_users
    from simple_etl_pipeline_spark.streaming.stateful import st_scd2_users

    batch = {
        (r.user_id, r.version, r.event_type, r.n_events, r.valid_from, r.valid_to)
        for r in ev_scd2_users(spark, sf_dir).collect()
        if not r.is_current
    }
    stream = {
        (r.user_id, r.version, r.event_type, r.n_events, r.valid_from, r.valid_to)
        for r in st_scd2_users(spark, sf_dir).collect()
    }
    assert stream == batch


# --- Lloyd monotonicity ---------------------------------------------------
def test_kmeans_inertia_non_increasing(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.similarity import sim_kmeans_lloyd

    rows = sorted(
        sim_kmeans_lloyd(spark, sf_dir).collect(), key=lambda r: r.iteration
    )
    assert len(rows) >= 2
    assert all(r.n_vectors == rows[0].n_vectors for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert b.inertia <= a.inertia + 1e-6, (a, b)


# --- duplicated-span profile ----------------------------------------------
def test_ngram_spans_injected_exact_dups_fully_covered(spark, sf_dir):
    """An injected verbatim copy (doc_id >= 1M) shares every 5-gram with
    its original, so both ends must score dup_ppm == 1e6; and the span
    counts obey the algebra (0 <= dup <= total, ppm in [0, 1e6])."""
    from simple_etl_pipeline_spark.plans.text import dedup_ngram_spans

    rows = dedup_ngram_spans(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    for r in rows:
        assert 0 <= r.dup_spans <= r.n_spans
        assert 0 <= r.dup_ppm <= 1_000_000
        assert r.is_dup == (r.dup_ppm >= 500_000)
    copies = [r for r in rows if 1_000_000 <= r.doc_id < 2_000_000]
    assert copies, "corpus view must inject exact duplicates"
    for c in copies:
        orig = by_id[c.doc_id - 1_000_000]
        assert c.dup_ppm == 1_000_000, c
        assert orig.dup_ppm == 1_000_000, orig
        # the copy is verbatim: identical span counts on both ends
        assert (c.n_spans, c.dup_spans) == (orig.n_spans, orig.dup_spans)


def test_ngram_spans_near_dups_mostly_covered(spark, sf_dir):
    """A near-duplicate (appended 4-token tail) keeps every original
    5-gram; only the spans crossing into the tail can be unique — so
    its dup fraction stays above the 50% classification bar."""
    from simple_etl_pipeline_spark.plans.text import dedup_ngram_spans

    rows = dedup_ngram_spans(spark, sf_dir).collect()
    nears = [r for r in rows if r.doc_id >= 2_000_000]
    assert nears, "corpus view must inject near duplicates"
    for r in nears:
        assert r.is_dup, r


# --- DSIR importance weights ----------------------------------------------
def test_dsir_topk_prefers_target_language(spark, sf_dir):
    """Top-K by hashed-bigram importance must be dominated by the
    target domain (lang='en') — the whole point of the estimator —
    and every score obeys the per-bigram ppm bound."""
    from simple_etl_pipeline_spark.plans.text import (
        DSIR_TARGET_LANG,
        DSIR_TOP_K,
        txt_dsir_weights,
    )

    rows = txt_dsir_weights(spark, sf_dir).collect()
    assert len(rows) == DSIR_TOP_K
    for r in rows:
        assert abs(r.dsir_ppm) <= r.n_bigrams * 1_000_000
    n_target = sum(1 for r in rows if r.lang == DSIR_TARGET_LANG)
    assert n_target > DSIR_TOP_K // 2, f"{n_target}/{DSIR_TOP_K} target-lang"


def test_dsir_bucket_weights_sum_to_near_zero_mass(spark, sf_dir):
    """Laplace-smoothed rate differences: summing (ct+1)/(Tt+B) over all
    buckets gives exactly 1 (same for raw), so the ppm weight table
    must sum to ~0 modulo floor-division loss (at most B ppm low per
    side, never positive)."""
    from simple_etl_pipeline_spark.functions.text import (
        md5_hash60,
        shingles_col,
    )
    from simple_etl_pipeline_spark.plans.text import DSIR_BUCKETS
    from simple_etl_pipeline_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    inst = docs.select(
        "lang", F.explode(shingles_col("text", 2)).alias("bg")
    ).select("lang", (md5_hash60(F.col("bg")) % DSIR_BUCKETS).alias("b"))
    agg = inst.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    ).collect()
    total_r = sum(r.cr for r in agg)
    total_t = sum(r.ct for r in agg)
    b = DSIR_BUCKETS
    t_mass = sum((r.ct + 1) * 1_000_000 // (total_t + b) for r in agg)
    r_mass = sum((r.cr + 1) * 1_000_000 // (total_r + b) for r in agg)
    # each floor loses < 1 ppm per bucket; missing-bucket smoothing mass
    # also stays below B ppm total
    assert 1_000_000 - 2 * b <= t_mass <= 1_000_000
    assert 1_000_000 - 2 * b <= r_mass <= 1_000_000


# --- session-oracle tie-break ---------------------------------------------
def test_session_oracle_ties_match_spark(spark, tmp_path):
    """Same-timestamp peers of a session-opening event: Spark's
    session_window assigns sessions from timestamps alone, but the
    DuckDB oracle's running SUM(is_new) depends on row order — with
    ORDER BY ts alone a same-ts peer could sort before the opener and
    be numbered into the PREVIOUS session nondeterministically. The
    (ts, event_id) tie-break in the cumsum pins it; this fixture is the
    exact adversarial layout."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t1 = dt.datetime(2024, 1, 1, 10, 40, 0)  # 40 min gap -> new session
    rows = {
        "event_id": [1, 2, 3],
        "ts": [t0, t1, t1],  # events 2 and 3 tie on ts
        "user_id": [7, 7, 7],
        "event_type": ["view", "view", "view"],
        "value": [1.0, 1.0, 1.0],
        "props": ["{}", "{}", "{}"],
    }
    d = str(tmp_path / "tie_sf")
    os.makedirs(d, exist_ok=True)
    # the oracle harness registers EVERY testdata table as a view, so
    # link the untouched ones from the real sf dir
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from tests.conftest import SF_DIR

    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(
                os.path.join(SF_DIR, f"{t}.parquet"),
                os.path.join(d, f"{t}.parquet"),
            )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(rows["event_id"], pa.int64()),
                "ts": pa.array(rows["ts"], pa.timestamp("us")),
                "user_id": pa.array(rows["user_id"], pa.int64()),
                "event_type": pa.array(rows["event_type"], pa.string()),
                "value": pa.array(rows["value"], pa.float64()),
                "props": pa.array(rows["props"], pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    # ev_session_windows was DEMOTED from the registry in round 12
    # (streaming twin st_session_windows keeps the identical oracle
    # registered); the tie-semantics pin continues against the
    # demoted-queries map, same discipline as every other demotion
    from simple_etl_pipeline_spark.testing import demoted_queries

    fn, sql = demoted_queries()["ev_session_windows"]
    df = fn(spark, d)
    compare_with_oracle(df, sql, d)
    out = sorted(
        (r.session_start, r.n_events) for r in df.collect()
    )
    # session 1: the lone opener; session 2: BOTH tied events
    assert [n for _, n in out] == [1, 2], out


# --- CUPED (round-6 prebuild: pytest-oracle until a window slot opens) ----
def test_cuped_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import EV_CUPED_ORACLE, ev_cuped
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(ev_cuped(spark, sf_dir), EV_CUPED_ORACLE, sf_dir)


def test_cuped_statistics_are_sane(spark, sf_dir):
    """rho2 is a squared correlation (in [0, 1]); theta shares cov's
    sign; mean_y is the plain post-period per-user mean."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.events import CUPED_CUTOFF, ev_cuped
    from simple_etl_pipeline_spark.schemas import load_table

    r = ev_cuped(spark, sf_dir).collect()[0]
    assert r.n_users > 0
    assert 0.0 <= r.rho2 <= 1.0
    ev = load_table(spark, sf_dir, "events")
    post = ev.filter(
        F.col("ts") >= F.lit(CUPED_CUTOFF).cast("timestamp")
    )
    mean_y = (
        post.groupBy("user_id")
        .agg(F.sum("value").alias("y"))
        .join(ev.select("user_id").distinct(), "user_id", "right")
        .agg(F.avg(F.coalesce("y", F.lit(0.0))))
        .collect()[0][0]
    )
    assert abs(r.mean_y - mean_y) < 1e-3


# --- last-touch attribution (round-6 prebuild) ----------------------------
def test_attribution_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_ATTRIBUTION_ORACLE,
        ev_attribution,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        ev_attribution(spark, sf_dir), EV_ATTRIBUTION_ORACLE, sf_dir
    )


def test_attribution_conserves_purchase_value(spark, sf_dir):
    """Attribution is a PARTITION of purchases: counts and value sum to
    the purchase totals and shares sum to 1."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.events import ev_attribution
    from simple_etl_pipeline_spark.schemas import load_table

    rows = ev_attribution(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    n, total = ev.agg(
        F.count(F.lit(1)), F.sum(F.col("value").cast("decimal(38,6)"))
    ).collect()[0]
    assert sum(r.n_purchases for r in rows) == n
    assert abs(sum(r.sum_value for r in rows) - float(total)) < 1e-6
    assert abs(sum(r.value_share for r in rows) - 1.0) < 1e-5


# --- conversion-window funnel (round-6 prebuild) --------------------------
def test_conversion_windows_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_CONVERSION_ORACLE,
        ev_conversion_windows,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        ev_conversion_windows(spark, sf_dir), EV_CONVERSION_ORACLE, sf_dir
    )


def test_conversion_windows_bounds(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        CONVERSION_WINDOW_H,
        ev_conversion_windows,
    )

    rows = ev_conversion_windows(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_converted <= r.n_users
        assert 0.0 <= r.cvr <= 1.0
        if r.n_converted > 0:
            assert 0 <= r.mean_t2c_s <= CONVERSION_WINDOW_H * 3600
        else:
            assert r.mean_t2c_s is None


# --- mergeable quantile sketch (round-7 prebuild: pytest-oracle) ----------
def test_quantile_sketch_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_QSKETCH_ORACLE,
        ev_quantile_sketch,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        ev_quantile_sketch(spark, sf_dir), EV_QSKETCH_ORACLE, sf_dir
    )


def test_quantile_sketch_rank_survives_1e13_events(spark):
    """ADVICE r6: the rank ceil(p*n) must be computed in decimal(38,0)
    — a BIGINT product n_events * p_ppm raises ARITHMETIC_OVERFLOW
    under ANSI once a type exceeds ~9.3e12 events. Pin the expression
    itself at n = 1e13 (we cannot materialize the rows, but the rank
    arithmetic only sees the aggregated count)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(10_000_000_000_000, 990_000)], "n_events bigint, p_ppm bigint"
    ).select(
        F.expr(
            "(CAST(n_events AS DECIMAL(38,0)) * p_ppm + 999999)"
            " div 1000000"
        ).alias("r")
    )
    assert df.collect()[0].r == 9_900_000_000_000


def test_quantile_sketch_relative_error_and_order(spark, sf_dir):
    """The decimal-mantissa buckets guarantee <= 1% relative error vs
    the EXACT percentile (for positive values well inside a bucket
    magnitude), and p50 <= p95 <= p99 per type."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.events import ev_quantile_sketch
    from simple_etl_pipeline_spark.schemas import load_table

    rows = ev_quantile_sketch(spark, sf_dir).collect()
    assert rows
    by_type: dict[str, dict[int, float]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, {})[r.p_ppm] = r.est_value
    # exact ceil-rank order statistic — the sketch's OWN rank
    # definition (r = ceil(p*n)), so the comparison isolates bucket
    # error from rank-definition deltas (interpolating percentile()
    # picks a different tail statistic on small samples)
    ev = load_table(spark, sf_dir, "events")
    vals: dict[str, list[float]] = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for etype, qs in by_type.items():
        assert qs[500_000] <= qs[950_000] <= qs[990_000], (etype, qs)
        vs = sorted(vals[etype])
        n = len(vs)
        for p_ppm, est in qs.items():
            rank = -(-n * p_ppm // 1_000_000)  # ceil
            true = vs[rank - 1]
            # the bucket containing the rank value is <= 1% wide
            # (QSKETCH_HEAD_DIGITS=3) and interpolation stays inside it
            assert abs(est - true) <= 0.01 * abs(true) + 1e-6, (
                etype, p_ppm, est, true,
            )


def test_quantile_sketch_histogram_is_mergeable(spark, sf_dir, tmp_path):
    """THE sketch property: building the sketch on two disjoint halves
    of the stream and adding bucket counts must give the identical
    histogram (hence identical quantiles) as one pass over the whole
    stream — exact integer equality, not approximation."""
    import os

    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.events import ev_quantile_sketch
    from simple_etl_pipeline_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events")
    halves = [
        ev.filter(F.col("event_id") % 2 == i).orderBy("event_id")
        for i in (0, 1)
    ]
    dirs = []
    for i, h in enumerate(halves):
        d = str(tmp_path / f"half{i}")
        os.makedirs(d)
        h.write.parquet(os.path.join(d, "events.parquet"))
        dirs.append(d)
    # per-half sketches expose (event_type, n_events) aggregates whose
    # counts must ADD to the full corpus's: merge by summing the
    # per-(type) n_events — the quantile row count and bucket algebra
    # is pinned by the oracle; here we pin additivity.
    full = {
        (r.event_type, r.p_ppm): r.n_events
        for r in ev_quantile_sketch(spark, sf_dir).collect()
    }
    merged: dict[tuple, int] = {}
    for d in dirs:
        for r in ev_quantile_sketch(spark, d).collect():
            k = (r.event_type, r.p_ppm)
            merged[k] = merged.get(k, 0) + r.n_events
    assert merged == full


# --- linear multi-touch attribution (round-7 prebuild) --------------------
def test_attribution_linear_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_ATTRIBUTION_LINEAR_ORACLE,
        ev_attribution_linear,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        ev_attribution_linear(spark, sf_dir),
        EV_ATTRIBUTION_LINEAR_ORACLE,
        sf_dir,
    )


def test_attribution_linear_conserves_value_exactly(spark, sf_dir):
    """Integer-micros credit splitting is EXACT: summed credit equals
    the summed purchase value to the micro, and shares sum to 1."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.events import ev_attribution_linear
    from simple_etl_pipeline_spark.schemas import load_table

    rows = ev_attribution_linear(spark, sf_dir).collect()
    total_micros = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(
            F.sum(
                (F.col("value").cast("decimal(38,6)") * 1_000_000).cast(
                    "bigint"
                )
            )
        )
        .collect()[0][0]
    )
    got_micros = round(sum(r.credit_value for r in rows) * 1e6)
    assert got_micros == total_micros
    assert abs(sum(r.credit_share for r in rows) - 1.0) < 1e-5


# --- quantile-sketch algebra, property-tested (pure-Python replica) -------
def _sketch_quantile_py(values, p_ppm):
    """Pure-Python replica of ev_quantile_sketch's bucket algebra (the
    exact integer arithmetic both engines run), so hypothesis can sweep
    a much wider value space than the fixtures: micros quantization,
    sign-aware decimal-mantissa buckets, ceil-rank selection, in-bucket
    interpolation."""
    from decimal import ROUND_HALF_UP, Decimal

    from simple_etl_pipeline_spark.plans.events import QSKETCH_HEAD_DIGITS

    zs = [
        int(
            Decimal(v).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            * 1_000_000
        )
        for v in values
    ]
    hist: dict[tuple[int, int], int] = {}
    for z in zs:
        az = abs(z)
        m = len(str(az))
        scale = max(1, 10 ** (m - QSKETCH_HEAD_DIGITS))
        head = az // scale
        lo, hi = head * scale, (head + 1) * scale
        edge = (-hi, -lo) if z < 0 else (lo, hi)
        hist[edge] = hist.get(edge, 0) + 1
    n = len(zs)
    r = (n * p_ppm + 999_999) // 1_000_000
    cum = 0
    for (elo, ehi), cnt in sorted(hist.items()):
        if cum < r <= cum + cnt:
            return (elo + (ehi - elo) * (r - cum) / cnt) / 1e6, sorted(zs)[
                r - 1
            ] / 1e6
        cum += cnt
    raise AssertionError("rank not found")


@settings(
    deadline=None, max_examples=300, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(
        st.floats(
            min_value=-1e9,
            max_value=1e9,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([500_000, 950_000, 990_000]),
)
def test_quantile_sketch_algebra_error_bound(values, p_ppm):
    """For ARBITRARY float lists: the sketch estimate stays within the
    decimal-mantissa guarantee of the exact ceil-rank order statistic —
    <= 1/10^(HEAD_DIGITS-1) relative + micros quantization slack."""
    est, true = _sketch_quantile_py(values, p_ppm)
    assert abs(est - true) <= 0.01 * abs(true) + 2e-6, (values, p_ppm, est, true)


# --- session path transitions (round-7 prebuild) --------------------------
def test_path_transitions_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_PATH_TRANSITIONS_ORACLE,
        ev_path_transitions,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        ev_path_transitions(spark, sf_dir),
        EV_PATH_TRANSITIONS_ORACLE,
        sf_dir,
    )


def test_path_transitions_is_stochastic_and_conserves_events(spark, sf_dir):
    """The transition matrix must be a proper first-order chain over
    the stream: per source state the counts sum to prev_total and the
    floor-ppm probabilities sum to within the floor loss of 1e6;
    '(start)' rows account for exactly one entry per user; and total
    transitions equal total events (every event is the TARGET of
    exactly one step — its predecessor or the virtual start)."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.events import ev_path_transitions
    from simple_etl_pipeline_spark.schemas import load_table

    rows = ev_path_transitions(spark, sf_dir).collect()
    assert rows
    by_prev: dict[str, list] = {}
    for r in rows:
        by_prev.setdefault(r.prev_type, []).append(r)
    for prev, rs in by_prev.items():
        total = rs[0].prev_total
        assert all(r.prev_total == total for r in rs)
        assert sum(r.n_transitions for r in rs) == total
        ppm_sum = sum(r.p_ppm for r in rs)
        assert 1_000_000 - len(rs) < ppm_sum <= 1_000_000, (prev, ppm_sum)
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    start_total = by_prev["(start)"][0].prev_total
    assert start_total == n_users
    assert sum(r.n_transitions for r in rows) == n_events


# hypothesis fuzz: the cross-engine risks in the transition matrix are
# the LAG total order under equal timestamps, the NULL-type coalesce,
# and floor-ppm at tiny prev_totals — force all three with colliding
# users, a 3-value timestamp domain, and None event types.
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user_id: forced collisions
            st.integers(0, 2),  # ts bucket: forced equal-ts ties
            st.sampled_from(["a", "b", "c", None]),  # event_type
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_path_transitions_fuzzed_cross_engine(
    spark, tmp_path_factory, rows
):
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_PATH_TRANSITIONS_ORACLE,
        ev_path_transitions,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("pt_fuzz")
    base = datetime.datetime(2024, 1, 1)
    table = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [base + datetime.timedelta(hours=t) for _, t, _ in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _ in rows], pa.int64()),
            "event_type": pa.array(
                [e for _, _, e in rows], pa.string()
            ),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    from tests.conftest import SF_DIR

    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(
                os.path.join(SF_DIR, f"{t}.parquet"),
                str(d / f"{t}.parquet"),
            )
    compare_with_oracle(
        ev_path_transitions(spark, str(d)),
        EV_PATH_TRANSITIONS_ORACLE,
        str(d),
    )
    # NULL-typed events are the '(null)' state, never '(start)': the
    # entry distribution must account for exactly one entry per user
    # even when a user's stream begins or continues through NULL types.
    out = ev_path_transitions(spark, str(d)).collect()
    start_total = sum(
        r.n_transitions for r in out if r.prev_type == "(start)"
    )
    assert start_total == len({u for u, _, _ in rows})
    assert sum(r.n_transitions for r in out) == len(rows)


# --- round-8 prebuilds ------------------------------------------------------
# hypothesis fuzz: the cross-engine risks in gap fill are the hour
# bucketing at boundaries, the observed/gap split, NULL-value hours
# anchoring interpolation at 0, NULL types excluded, and the double
# interpolation itself — forced with a tiny type domain, an hour
# domain sparse enough to guarantee gaps, and micros-exact values
# (integers/1e6) so the decimal cast is exact on both engines and the
# fuzz exercises the interpolation arithmetic, not rounding ties.
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),      # event_type
            st.integers(0, 40),                      # hour offset
            st.one_of(
                st.none(),
                st.integers(-10**9, 10**9),          # micros-exact / 1e6
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_gap_fill_fuzzed_cross_engine(spark, tmp_path_factory, rows):
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_GAP_FILL_ORACLE,
        ev_gap_fill,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("gf_fuzz")
    base = datetime.datetime(2024, 1, 1)
    table = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [
                    base + datetime.timedelta(hours=h, minutes=i % 60)
                    for i, (_, h, _) in enumerate(rows)
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([t for t, _, _ in rows], pa.string()),
            "value": pa.array(
                [None if v is None else v / 1e6 for _, _, v in rows],
                pa.float64(),
            ),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    from tests.conftest import SF_DIR

    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(
                os.path.join(SF_DIR, f"{t}.parquet"),
                str(d / f"{t}.parquet"),
            )
    compare_with_oracle(
        ev_gap_fill(spark, str(d)), EV_GAP_FILL_ORACLE, str(d)
    )
    out = ev_gap_fill(spark, str(d)).collect()
    # events conserved per type (NULL types excluded by contract)
    typed = [r for r in rows if r[0] is not None]
    assert sum(r.n_events for r in out) == len(typed)
    assert {r.event_type for r in out} == {t for t, _, _ in typed}


def test_gap_fill_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_GAP_FILL_ORACLE,
        ev_gap_fill,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(ev_gap_fill(spark, sf_dir), EV_GAP_FILL_ORACLE, sf_dir)


def test_gap_fill_grid_complete_and_anchored(spark, sf_dir):
    """Per type: the grid is gapless hourly from min to max observed
    hour, both endpoints are observed (anchors always exist), gap rows
    have n_events = 0, and every interpolated value lies within the
    [min, max] of its type's observed values (linear interpolation
    cannot overshoot its anchors)."""
    from simple_etl_pipeline_spark.plans.events import ev_gap_fill

    rows = ev_gap_fill(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    for t, rs in by_type.items():
        hours = [r.hour_ts for r in rs]
        assert hours == list(range(min(hours), max(hours) + 3600, 3600)), t
        assert not rs[0].is_gap and not rs[-1].is_gap, t
        obs_vals = [r.sum_value for r in rs if not r.is_gap]
        lo, hi = min(obs_vals), max(obs_vals)
        for r in rs:
            if r.is_gap:
                assert r.n_events == 0, t
                assert lo - 1e-6 <= r.sum_value <= hi + 1e-6, (t, r)


def test_rfm_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_RFM_ORACLE,
        agg_rfm_segments,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        agg_rfm_segments(spark, sf_dir), AGG_RFM_ORACLE, sf_dir
    )


def test_floor_div_helpers_reject_non_positive_divisor():
    """ADVICE r10 (low): the positive-divisor precondition must
    survive `python -O` (assert is stripped there) — the helpers are
    the only sanctioned floor-div spelling, so a bad divisor must fail
    fast, never emit non-floor (or divide-by-zero) SQL."""
    import pytest as _pytest

    from simple_etl_pipeline_spark.functions.agg import (
        floor_div,
        floor_div_expr,
        sql_floor_div,
        sql_pmod,
    )

    for fn in (floor_div, floor_div_expr, sql_floor_div, sql_pmod):
        for bad in (0, -1, -86400):
            with _pytest.raises(ValueError):
                fn("x", bad)


def test_rfm_conservation_and_balance(spark, sf_dir):
    """Customers and orders are conserved across segments, and each
    dimension's buckets are balanced to within one customer (NTILE's
    defining property)."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.relational import agg_rfm_segments
    from simple_etl_pipeline_spark.schemas import load_table

    rows = agg_rfm_segments(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    n_orders = orders.count()
    assert sum(r.n_customers for r in rows) == n_cust
    assert sum(r.n_orders for r in rows) == n_orders
    for dim in ("r_bucket", "f_bucket", "m_bucket"):
        per = {}
        for r in rows:
            per[r[dim]] = per.get(r[dim], 0) + r.n_customers
        assert set(per) == {1, 2, 3, 4, 5}
        assert max(per.values()) - min(per.values()) <= 1, (dim, per)


def test_rfm_null_price_and_ties_deterministic(spark, sf_dir, tmp_path):
    """Adversarial orders: every price NULL for one customer (spend
    coalesces to 0, never NULL — no engine null-order divergence),
    exact R/F/M ties across customers broken by custkey, a single
    global as-of. Pinned against the oracle on the same corpus."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        AGG_RFM_ORACLE,
        agg_rfm_segments,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    def d(day):
        return datetime.datetime(2024, 1, day)

    # (orderkey, custkey, price, day): customers 1/2 tie on every
    # dimension; customer 3 has all-NULL prices; customer 4 one order
    rows = [
        (1, 1, 100.0, 1), (2, 1, 200.0, 5),
        (3, 2, 100.0, 1), (4, 2, 200.0, 5),
        (5, 3, None, 3), (6, 3, None, 4),
        (7, 4, 50.5, 2),
    ]
    dirp = str(tmp_path / "rfm_edge")
    import os

    os.makedirs(dirp)
    table = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(rows), pa.string()),
            "o_totalprice": pa.array([r[2] for r in rows], pa.float64()),
            "o_orderdate": pa.array(
                [d(r[3]) for r in rows], pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(["1-URGENT"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, os.path.join(dirp, "orders.parquet"))
    for t in TESTDATA_TABLES:
        if t != "orders":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(dirp, f"{t}.parquet"))
    out = agg_rfm_segments(spark, dirp).collect()
    assert sum(r.n_customers for r in out) == 4
    compare_with_oracle(agg_rfm_segments(spark, dirp), AGG_RFM_ORACLE, dirp)


def test_domain_split_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import (
        TXT_DOMAIN_SPLIT_ORACLE,
        txt_domain_split,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        txt_domain_split(spark, sf_dir), TXT_DOMAIN_SPLIT_ORACLE, sf_dir
    )


def test_domain_split_no_leakage(spark, sf_dir):
    """THE invariant: no source straddles two splits, documents are
    conserved, and the assignment is stable under corpus growth (the
    same source hashes to the same split when the corpus doubles)."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.functions.text import md5_hash60
    from simple_etl_pipeline_spark.plans.text import txt_domain_split
    from simple_etl_pipeline_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    src = F.coalesce(F.col("source"), F.lit("(null)"))
    h = md5_hash60(F.concat(F.lit("split|"), src)) % 1_000_000
    split = (
        F.when(h < 800_000, F.lit("train"))
        .when(h < 900_000, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    per_group = (
        docs.select(src.alias("grp"), split.alias("split"))
        .groupBy("grp")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    assert per_group.filter(F.col("n_splits") > 1).count() == 0
    out = txt_domain_split(spark, sf_dir).collect()
    assert sum(r.n_docs for r in out) == docs.count()
    # growth stability: doubling every source's documents changes
    # counts, never membership — per-split group sets are identical
    doubled = docs.unionByName(docs)
    d2 = (
        doubled.select(src.alias("grp"), split.alias("split"))
        .select("grp", "split")
        .distinct()
        .collect()
    )
    d1 = (
        docs.select(src.alias("grp"), split.alias("split"))
        .select("grp", "split")
        .distinct()
        .collect()
    )
    assert sorted(map(tuple, d1)) == sorted(map(tuple, d2))


def test_hll_overlap_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_HLL_OVERLAP_ORACLE,
        ev_hll_overlap,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        ev_hll_overlap(spark, sf_dir), EV_HLL_OVERLAP_ORACLE, sf_dir
    )


def test_hll_overlap_partial_and_disjoint_segments(spark, sf_dir, tmp_path):
    """Synthetic segments with KNOWN overlap structure: half overlap,
    full containment, and full disjointness — the shapes the uniform
    testdata (every user does every type) never produces. Exact
    columns must be exactly right; the sketch inclusion-exclusion
    estimate must stay within 10% of each union; pairs with empty
    intersections must still appear (jaccard 0)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_HLL_OVERLAP_ORACLE,
        ev_hll_overlap,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    # users 0-99 do 'a'; 50-149 do 'b' (half overlap with a);
    # 0-9 do 'c' (contained in a, disjoint from nothing... 0-9 ⊂ a,
    # and 0-9 ∩ b = ∅ since b starts at 50); 'd' is 200-209, disjoint
    # from everything.
    rows = []
    eid = 0

    def add(t, users):
        nonlocal eid
        for u in users:
            rows.append((eid, u, t))
            eid += 1

    add("a", range(0, 100))
    add("b", range(50, 150))
    add("c", range(0, 10))
    add("d", range(200, 210))
    import datetime

    base = datetime.datetime(2024, 1, 1)
    d = str(tmp_path / "hll_edge")
    os.makedirs(d)
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [base + datetime.timedelta(minutes=i) for i in range(len(rows))],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, os.path.join(d, "events.parquet"))
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    out = {(r.type_a, r.type_b): r for r in ev_hll_overlap(spark, d).collect()}
    assert out[("a", "b")].n_inter == 50
    assert out[("a", "c")].n_inter == 10      # containment
    assert out[("b", "c")].n_inter == 0       # disjoint pair present
    assert out[("a", "d")].n_inter == 0
    assert out[("b", "c")].jaccard_ppm == 0
    assert all(r.inter_est_within_10pct_of_union for r in out.values())
    assert len(out) == 6  # full 4-choose-2 pair matrix
    compare_with_oracle(ev_hll_overlap(spark, d), EV_HLL_OVERLAP_ORACLE, d)


# hypothesis fuzz: RFM's cross-engine risk is NTILE determinism under
# metric ties (both engines must agree on every bucket boundary) and
# the decimal-micros spend sums — forced with tiny domains so nearly
# every draw collides on r_days, f, and m simultaneously.
@given(
    st.lists(
        st.tuples(
            st.integers(1, 8),     # custkey: forced collisions
            st.integers(0, 3),     # order day offset
            st.sampled_from([None, 100.0, 100.5, 2500.25]),  # price ties
        ),
        min_size=1,
        max_size=30,
    )
)
@_SETTINGS
def test_rfm_fuzzed_cross_engine(spark, tmp_path_factory, rows):
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        AGG_RFM_ORACLE,
        agg_rfm_segments,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("rfm_fuzz")
    base = datetime.datetime(2024, 3, 1)
    table = pa.table(
        {
            "o_orderkey": pa.array(range(len(rows)), pa.int64()),
            "o_custkey": pa.array([c for c, _, _ in rows], pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(rows), pa.string()),
            "o_totalprice": pa.array([p for _, _, p in rows], pa.float64()),
            "o_orderdate": pa.array(
                [base + datetime.timedelta(days=t) for _, t, _ in rows],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                ["1-URGENT"] * len(rows), pa.string()
            ),
        }
    )
    pq.write_table(table, str(d / "orders.parquet"))
    from tests.conftest import SF_DIR

    for t in TESTDATA_TABLES:
        if t != "orders":
            os.symlink(
                os.path.join(SF_DIR, f"{t}.parquet"),
                str(d / f"{t}.parquet"),
            )
    compare_with_oracle(
        agg_rfm_segments(spark, str(d)), AGG_RFM_ORACLE, str(d)
    )
    out = agg_rfm_segments(spark, str(d)).collect()
    assert sum(r.n_customers for r in out) == len({c for c, _, _ in rows})
    assert sum(r.n_orders for r in out) == len(rows)


def test_dq_expectations_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.relational import (
        DQ_EXPECTATIONS_ORACLE,
        dq_expectations,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        dq_expectations(spark, sf_dir), DQ_EXPECTATIONS_ORACLE, sf_dir
    )
    # the generated testdata is clean: every constraint passes
    assert all(r.passed for r in dq_expectations(spark, sf_dir).collect())


def test_dq_expectations_every_constraint_fires(spark, sf_dir, tmp_path):
    """Corrupt tables where every constraint class has KNOWN
    violations: duplicate pk, NULL fk (counted as both incomplete AND
    orphaned — the anti-join keeps a NULL probe key, and the oracle's
    NOT IN mirrors it with an explicit IS NULL arm), dangling fks,
    non-positive prices/quantities, discounts outside [0, 1]. Exact
    counts pinned, then both engines compared on the same corpus."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_EXPECTATIONS_ORACLE,
        dq_expectations,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "dq_edge")
    os.makedirs(d)
    ts = datetime.datetime(2024, 1, 1)
    orders = [  # (orderkey, custkey, price)
        (1, 10, 100.0),
        (1, 11, 50.0),    # duplicate orderkey
        (2, None, 30.0),  # NULL custkey -> incomplete AND orphaned
        (3, 999, -5.0),   # dangling custkey + non-positive price
    ]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in orders], pa.int64()),
                "o_custkey": pa.array([r[1] for r in orders], pa.int64()),
                "o_orderstatus": pa.array(["F"] * 4, pa.string()),
                "o_totalprice": pa.array([r[2] for r in orders], pa.float64()),
                "o_orderdate": pa.array([ts] * 4, pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * 4, pa.string()),
            }
        ),
        os.path.join(d, "orders.parquet"),
    )
    customer = [10, 11]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(customer, pa.int64()),
                "c_name": pa.array(["a", "b"], pa.string()),
                "c_nationkey": pa.array([0, 0], pa.int64()),
                "c_acctbal": pa.array([0.0, 0.0], pa.float64()),
                "c_mktsegment": pa.array(["X", "X"], pa.string()),
            }
        ),
        os.path.join(d, "customer.parquet"),
    )
    lineitem = [  # (orderkey, quantity, discount)
        (1, 5.0, 0.05),
        (7, 2.0, 0.05),   # dangling orderkey
        (2, 0.0, 1.5),    # qty <= 0 AND discount > 1
        (3, -1.0, -0.2),  # qty <= 0 AND discount < 0
    ]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in lineitem], pa.int64()),
                "l_partkey": pa.array([1] * 4, pa.int64()),
                "l_suppkey": pa.array([1] * 4, pa.int64()),
                "l_linenumber": pa.array([1, 2, 3, 4], pa.int64()),
                "l_quantity": pa.array([r[1] for r in lineitem], pa.float64()),
                "l_extendedprice": pa.array([1.0] * 4, pa.float64()),
                "l_discount": pa.array([r[2] for r in lineitem], pa.float64()),
                "l_tax": pa.array([0.0] * 4, pa.float64()),
                "l_returnflag": pa.array(["N"] * 4, pa.string()),
                "l_linestatus": pa.array(["O"] * 4, pa.string()),
                "l_shipdate": pa.array([ts] * 4, pa.timestamp("us")),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t not in ("orders", "customer", "lineitem"):
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    got = {
        (r.constraint_name, r.table_name): r
        for r in dq_expectations(spark, d).collect()
    }
    expect = {
        ("custkey_not_null", "orders"): 1,
        ("orderkey_unique", "orders"): 1,
        ("totalprice_positive", "orders"): 1,
        ("custkey_references_customer", "orders"): 2,  # NULL + 999
        ("discount_in_unit_range", "lineitem"): 2,
        ("quantity_positive", "lineitem"): 2,
        ("orderkey_references_orders", "lineitem"): 1,
    }
    for k, v in expect.items():
        assert got[k].n_violations == v, (k, got[k])
        assert got[k].passed is False
    compare_with_oracle(dq_expectations(spark, d), DQ_EXPECTATIONS_ORACLE, d)


# --- round-9 prebuilds: basket lift + curriculum order --------------------
def test_basket_lift_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_BASKET_LIFT_ORACLE,
        agg_basket_lift,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        agg_basket_lift(spark, sf_dir), AGG_BASKET_LIFT_ORACLE, sf_dir
    )


def test_basket_lift_edge_corpus(spark, sf_dir, tmp_path):
    """Adversarial baskets: duplicated (order, part) lines collapse to
    one co-occurrence (distinct-first), a single-item order emits no
    pairs, a repeated-part-only order emits no self-pair, and exact
    tie groups at the cutoff resolve by (part_a, part_b). Counts
    pinned by hand AND against the oracle on the same corpus."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        AGG_BASKET_LIFT_ORACLE,
        agg_basket_lift,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    # (orderkey, partkey): order 1 = {10, 11} twice over (duplicated
    # lines); order 2 = {10} alone; order 3 = {12, 12} repeated part;
    # order 4 = {10, 11, 12} -> three pairs
    rows = [
        (1, 10), (1, 11), (1, 10), (1, 11),
        (2, 10),
        (3, 12), (3, 12),
        (4, 10), (4, 11), (4, 12),
    ]
    d = str(tmp_path / "basket_edge")
    os.makedirs(d)
    n = len(rows)
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
                "l_suppkey": pa.array([1] * n, pa.int64()),
                "l_quantity": pa.array([1.0] * n, pa.float64()),
                "l_extendedprice": pa.array([1.0] * n, pa.float64()),
                "l_discount": pa.array([0.0] * n, pa.float64()),
                "l_tax": pa.array([0.0] * n, pa.float64()),
                "l_returnflag": pa.array(["N"] * n, pa.string()),
                "l_linestatus": pa.array(["O"] * n, pa.string()),
                "l_shipdate": pa.array([ts] * n, pa.timestamp("us")),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "lineitem":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    got = {
        (r.part_a, r.part_b): r for r in agg_basket_lift(spark, d).collect()
    }
    assert set(got) == {(10, 11), (10, 12), (11, 12)}
    assert got[(10, 11)].n_ab == 2          # orders 1 and 4, dup-collapsed
    assert got[(10, 12)].n_ab == 1          # order 4 only
    assert got[(11, 12)].n_ab == 1
    assert got[(10, 11)].n_orders == 4
    assert got[(10, 11)].n_a == 3           # part 10 in orders 1, 2, 4
    # lift(10,11) = 2*4/(3*2)
    assert abs(got[(10, 11)].lift - round(8 / 6, 6)) < 1e-9
    compare_with_oracle(agg_basket_lift(spark, d), AGG_BASKET_LIFT_ORACLE, d)


def test_basket_lift_whale_basket_capped(spark, sf_dir, tmp_path):
    """MAX_BASKET guard (r9 scale review): one whale order with
    MAX_BASKET+1 distinct parts is dropped ENTIRELY — from the pair
    universe AND the supports AND the order total, so lift
    denominators stay consistent — while an order exactly AT the cap
    is kept. Without the guard the whale alone would emit ~C(101,2)
    pairs per such order and, at a realistic bulk-order size, put
    billions of pairs on one task."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        AGG_BASKET_LIFT_ORACLE,
        MAX_BASKET,
        agg_basket_lift,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    rows = []
    # order 1: the whale — MAX_BASKET+1 distinct parts, must vanish
    rows += [(1, 1000 + i) for i in range(MAX_BASKET + 1)]
    # order 2: exactly AT the cap — kept — PLUS a NULL-partkey line,
    # which must not tip it over the cap on either engine (second
    # review find: collect_list drops NULLs but a COUNT(*) oracle
    # counted them, diverging exactly at this boundary)
    rows += [(2, 1000 + i) for i in range(MAX_BASKET)] + [(2, None)]
    # order 3: a small basket sharing parts with the whale
    rows += [(3, 1000), (3, 1001)]
    d = str(tmp_path / "basket_whale")
    os.makedirs(d)
    n = len(rows)
    ts = datetime.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
                "l_suppkey": pa.array([1] * n, pa.int64()),
                "l_quantity": pa.array([1.0] * n, pa.float64()),
                "l_extendedprice": pa.array([1.0] * n, pa.float64()),
                "l_discount": pa.array([0.0] * n, pa.float64()),
                "l_tax": pa.array([0.0] * n, pa.float64()),
                "l_returnflag": pa.array(["N"] * n, pa.string()),
                "l_linestatus": pa.array(["O"] * n, pa.string()),
                "l_shipdate": pa.array([ts] * n, pa.timestamp("us")),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "lineitem":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    got = {
        (r.part_a, r.part_b): r for r in agg_basket_lift(spark, d).collect()
    }
    top = got[(1000, 1001)]
    assert top.n_orders == 2          # whale order excluded from N
    assert top.n_ab == 2              # orders 2 and 3, NOT the whale
    assert top.n_a == 2 and top.n_b == 2  # supports over kept baskets only
    compare_with_oracle(agg_basket_lift(spark, d), AGG_BASKET_LIFT_ORACLE, d)


def test_curriculum_matches_oracle_and_conserves(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import (
        CURRICULUM_SHARD,
        TRAIN_CURRICULUM_ORACLE,
        train_curriculum_order,
    )
    from simple_etl_pipeline_spark.schemas import load_table
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    rows = train_curriculum_order(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    # shards are contiguous, dense, and exactly CURRICULUM_SHARD-sized
    # except the last; seq ranges tile [1, n_docs] without gaps
    assert [r.shard for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r.n_docs == CURRICULUM_SHARD
    for r in rows:
        assert r.last_seq - r.first_seq + 1 == r.n_docs
        assert r.min_tokens <= r.max_tokens
    # easy-first: shard token ceilings are monotonically non-decreasing
    for a, b in zip(rows, rows[1:]):
        assert a.max_tokens <= b.min_tokens or a.max_tokens <= b.max_tokens
    compare_with_oracle(
        train_curriculum_order(spark, sf_dir), TRAIN_CURRICULUM_ORACLE, sf_dir
    )


def test_curriculum_all_ties_resolve_by_doc_id(spark, sf_dir, tmp_path):
    """Every document identical (same token count): the curriculum
    order degenerates to doc_id order, so each shard's xor/seq bounds
    are a pure function of doc_id ranges — pinned against the oracle
    (the NTILE-tie class of hazard, on the row-number primitive)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        TRAIN_CURRICULUM_ORACLE,
        train_curriculum_order,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "curr_ties")
    os.makedirs(d)
    ids = list(range(1, 132))  # 131 docs: 2 full shards + remainder
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(["three token text"] * len(ids), pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
                "source": pa.array(["s"] * len(ids), pa.string()),
                "n_chars": pa.array([16] * len(ids), pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    rows = train_curriculum_order(spark, d).collect()
    assert [r.shard for r in rows] == [0, 1, 2]
    assert [r.n_docs for r in rows] == [50, 50, 31]
    # doc_id order: shard 0 holds ids 1..50 exactly
    import functools

    assert rows[0].xor_ids == functools.reduce(
        lambda a, b: a ^ b, range(1, 51)
    )
    compare_with_oracle(
        train_curriculum_order(spark, d), TRAIN_CURRICULUM_ORACLE, d
    )


def test_curriculum_null_text_leads_deterministically(spark, sf_dir, tmp_path):
    """NULL-text documents (ADVICE r8 medium): tokenizing NULL yields
    NULL n_tokens in both engines, but Spark's ascending sort is NULLS
    FIRST while DuckDB ROW_NUMBER defaults NULLS LAST — a cross-engine
    sequence divergence unless null placement is encoded explicitly.
    The fix coalesces to n_tokens = -1 on both sides: NULL-text docs
    deterministically lead the curriculum (ahead of empty-string docs
    at 0), and the manifest conserves every document."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        TRAIN_CURRICULUM_ORACLE,
        train_curriculum_order,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "curr_nulls")
    os.makedirs(d)
    # 3 NULL-text docs, 2 empty-string docs, 55 real docs of growing length
    ids = list(range(1, 61))
    texts = (
        [None, None, None, "", "  "]
        + ["tok " * n for n in range(1, 56)]
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
                "source": pa.array(["s"] * len(ids), pa.string()),
                "n_chars": pa.array(
                    [len(t) if t else 0 for t in texts], pa.int64()
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    rows = train_curriculum_order(spark, d).collect()
    assert sum(r.n_docs for r in rows) == len(ids)
    # the first shard starts at the NULL sentinel: min_tokens == -1,
    # and the NULL trio occupies seq 1..3 (doc_id tie-break 1,2,3),
    # followed by the two blank docs at 0 tokens
    assert rows[0].min_tokens == -1
    import functools

    xor_expected = functools.reduce(lambda a, b: a ^ b, range(1, 51))
    assert rows[0].xor_ids == xor_expected  # ids 1..50 in shard 0
    compare_with_oracle(
        train_curriculum_order(spark, d), TRAIN_CURRICULUM_ORACLE, d
    )


# --- round-9 prebuild: hybrid retrieval (RRF fusion) ----------------------
def test_hybrid_rrf_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import (
        SEARCH_HYBRID_RRF_ORACLE,
        search_hybrid_rrf,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        search_hybrid_rrf(spark, sf_dir), SEARCH_HYBRID_RRF_ORACLE, sf_dir
    )


def test_hybrid_rrf_fusion_algebra(spark, sf_dir):
    """Structural invariants of the fused head: 5 queries x top-5,
    dense ranks 1..POOL, every rrf_ppm is a sum of 1 or 2 terms of
    the form 1000000 div (60 + r), both-retriever docs dominate
    single-retriever docs of equal best rank, and a doc's fused score
    is recomputable from its reported source ranks."""
    from simple_etl_pipeline_spark.plans.text import (
        FUSION_POOL,
        FUSION_TOP,
        RRF_K,
        search_hybrid_rrf,
    )

    rows = search_hybrid_rrf(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert len(by_q) == 5
    for q, rs in by_q.items():
        assert [r.fused_rank for r in rs] == list(range(1, FUSION_TOP + 1))
        # fused order is (rrf_ppm desc, doc_id asc)
        key = [(-r.rrf_ppm, r.doc_id) for r in rs]
        assert key == sorted(key)
    for r in rows:
        expected = 0
        if r.bm25_rank is not None:
            assert 1 <= r.bm25_rank <= FUSION_POOL
            expected += 1_000_000 // (RRF_K + r.bm25_rank)
        if r.dense_rank is not None:
            assert 1 <= r.dense_rank <= FUSION_POOL
            expected += 1_000_000 // (RRF_K + r.dense_rank)
        assert r.bm25_rank is not None or r.dense_rank is not None
        assert r.rrf_ppm == expected, (r, expected)


# --- hypothesis cross-engine fuzz: basket lift ----------------------------
import hypothesis.strategies as _st
from hypothesis import HealthCheck as _HC
from hypothesis import given as _given
from hypothesis import settings as _settings


@_settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    rows=_st.lists(
        _st.tuples(
            _st.integers(min_value=1, max_value=6),   # orderkey
            _st.integers(min_value=10, max_value=16), # partkey
        ),
        min_size=1,
        max_size=30,
    )
)
def test_basket_lift_fuzzed_cross_engine(spark, sf_dir, tmp_path_factory, rows):
    """Random small basket corpora (duplicate lines, singleton and
    repeated-part orders, arbitrary tie structure at the top-100
    cutoff) must hash-match the DuckDB oracle — the full driver-gate
    comparison, swept over adversarial shapes."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        AGG_BASKET_LIFT_ORACLE,
        agg_basket_lift,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("basket_fuzz")
    n = len(rows)
    ts = datetime.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
                "l_suppkey": pa.array([1] * n, pa.int64()),
                "l_quantity": pa.array([1.0] * n, pa.float64()),
                "l_extendedprice": pa.array([1.0] * n, pa.float64()),
                "l_discount": pa.array([0.0] * n, pa.float64()),
                "l_tax": pa.array([0.0] * n, pa.float64()),
                "l_returnflag": pa.array(["N"] * n, pa.string()),
                "l_linestatus": pa.array(["O"] * n, pa.string()),
                "l_shipdate": pa.array([ts] * n, pa.timestamp("us")),
            }
        ),
        os.path.join(str(d), "lineitem.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "lineitem":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(
        agg_basket_lift(spark, str(d)), AGG_BASKET_LIFT_ORACLE, str(d)
    )


# --- round-9 prebuild: bigram-LM cross-entropy (CCNet-style) ---------------
def test_lm_perplexity_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import (
        TXT_LM_PERPLEXITY_ORACLE,
        txt_lm_perplexity,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        txt_lm_perplexity(spark, sf_dir), TXT_LM_PERPLEXITY_ORACLE, sf_dir
    )


def test_lm_perplexity_hand_computed_micro_corpus(spark, sf_dir, tmp_path):
    """Hand-computable LM on a 6-doc corpus: corpus counts c(a,b)=3,
    c(b,a)=1, c(b,b)=2, contexts c(a)=3, c(b)=3, V=|{a,b}|=2; docs with
    <2 tokens, empty text and NULL text are excluded on BOTH engines.
    Every xent is recomputed here with the same HALF_UP micro-log snap
    the engines use — pinning the add-one smoothing arithmetic, the
    exclusion rule, and the floor-div mean."""
    import math
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        TXT_LM_PERPLEXITY_ORACLE,
        txt_lm_perplexity,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "lm_micro")
    os.makedirs(d)
    texts = ["a b a b", "a b", "x", None, "b b b", ""]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(range(1, 7)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 6, pa.string()),
                "source": pa.array(["s"] * 6, pa.string()),
                "n_chars": pa.array([7, 3, 1, 0, 5, 0], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))

    def mlog2(x: int) -> int:  # the engines' HALF_UP 6-dp snap
        return int(math.floor(math.log2(x) * 1e6 + 0.5))

    V = 2
    term = {
        ("a", "b"): mlog2(3 + V) - mlog2(3 + 1),
        ("b", "a"): mlog2(3 + V) - mlog2(1 + 1),
        ("b", "b"): mlog2(3 + V) - mlog2(2 + 1),
    }
    expected = {
        1: (3, (2 * term[("a", "b")] + term[("b", "a")]) // 3),
        2: (1, term[("a", "b")]),
        5: (2, term[("b", "b")]),
    }
    rows = {r.doc_id: r for r in txt_lm_perplexity(spark, d).collect()}
    assert set(rows) == set(expected)  # 1-token/NULL/empty docs excluded
    for doc_id, (n_bg, xent) in expected.items():
        assert rows[doc_id].n_bigrams == n_bg
        assert rows[doc_id].xent_microbits == xent, (doc_id, xent)
        assert rows[doc_id].keep  # all three are tiny-vocab fluent
    compare_with_oracle(
        txt_lm_perplexity(spark, d), TXT_LM_PERPLEXITY_ORACLE, d
    )


# --- round-9 prebuild: hard-negative mining --------------------------------
def test_hard_negatives_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.similarity import (
        TRAIN_HARD_NEGATIVES_ORACLE,
        train_hard_negatives,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        train_hard_negatives(spark, sf_dir),
        TRAIN_HARD_NEGATIVES_ORACLE,
        sf_dir,
    )


def test_hard_negatives_excludes_near_dups_and_same_source(
    spark, sf_dir, tmp_path
):
    """Hand-built 2D unit-vector corpus where every exclusion class is
    present and every cosine is exact in float: anchor 2 (src A,
    v=(1,0)) must exclude its exact duplicate (sim 1.0), a 0.96
    near-dup, and a same-source 0.8 candidate — while keeping the 0.6
    candidate as rank 1; anchor 19 (src NULL) must treat a NULL-source
    candidate as same-source. Anchors rank as candidates for OTHER
    anchors. Oracle parity on the same corpus pins it cross-engine."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.similarity import (
        TRAIN_HARD_NEGATIVES_ORACLE,
        train_hard_negatives,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "hn_micro")
    os.makedirs(d)
    vecs = {
        2: ([1.0, 0.0], "A"),      # anchor
        19: ([0.0, 1.0], None),    # anchor, NULL source
        10: ([1.0, 0.0], "B"),     # exact dup of anchor 2 -> excluded
        11: ([0.96, 0.28], "B"),   # sim 0.96 to anchor 2 -> excluded
        12: ([0.8, 0.6], "A"),     # same source as anchor 2 -> excluded
        13: ([0.6, 0.8], "B"),     # anchor 2's rank-1 HN
        14: ([0.28, 0.96], "C"),
        15: ([0.0, 1.0], "B"),     # exact dup of anchor 19
        20: ([0.0, 1.0], None),    # NULL-source: same-source as 19
    }
    ids = sorted(vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [vecs[i][0] for i in ids], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(["t"] * len(ids), pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
                "source": pa.array(
                    [vecs[i][1] for i in ids], pa.string()
                ),
                "n_chars": pa.array([1] * len(ids), pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t not in ("embeddings", "documents"):
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    by_anchor = {}
    for r in train_hard_negatives(spark, d).collect():
        by_anchor.setdefault(r.anchor_id, []).append(r)
    assert set(by_anchor) == {2, 19}  # anchors 36/53/70 absent -> no rows
    # anchor 2: 13 (0.6) then 14 (0.28), then the 0.0 ties by doc_id
    a2 = by_anchor[2]
    assert [r.doc_id for r in a2] == [13, 14, 15, 19, 20]
    assert [r.hn_rank for r in a2] == [1, 2, 3, 4, 5]
    assert a2[0].sim == 0.6 and a2[1].sim == 0.28
    assert {10, 11, 12} & {r.doc_id for r in a2} == set()
    # anchor 19 (NULL source): 13 (0.8), 12 (0.6), 11 (0.28), ties 2, 10;
    # exact dups 15/20 excluded (20 also same-'(null)'-source)
    a19 = by_anchor[19]
    assert [r.doc_id for r in a19] == [13, 12, 11, 2, 10]
    assert {15, 20} & {r.doc_id for r in a19} == set()
    compare_with_oracle(
        train_hard_negatives(spark, d), TRAIN_HARD_NEGATIVES_ORACLE, d
    )


# --- round-9 prebuild: sample-ratio-mismatch guardrail ---------------------
def test_srm_check_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_SRM_CHECK_ORACLE,
        ev_srm_check,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        ev_srm_check(spark, sf_dir), EV_SRM_CHECK_ORACLE, sf_dir
    )


def test_srm_check_fires_on_engineered_imbalance(spark, sf_dir, tmp_path):
    """A corpus built to violate the 50/50 design: user ids are
    pre-screened with the SAME salted-md5 assignment the operator uses
    (python hashlib twin) until one variant holds 40 users and the
    other 2 — chi2 = 38^2*1e6 div 42 = 34.38M, far above the 10.828M
    p=0.001 critical value, so srm must be TRUE on both rows; the
    chi2 is recomputed here by hand; NULL-user events are present and
    must not count anywhere."""
    import datetime
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_SRM_CHECK_ORACLE,
        SRM_CHI2_CRIT_MICRO,
        ev_srm_check,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    def variant(uid: int) -> str:
        h = int(hashlib.md5(f"srm|{uid}".encode()).hexdigest()[:15], 16)
        return "control" if h % 1_000_000 < 500_000 else "treatment"

    ctl, trt, uid = [], [], 0
    while len(ctl) < 40 or len(trt) < 2:
        uid += 1
        (ctl if variant(uid) == "control" else trt).append(uid)
    users = ctl[:40] + trt[:2]
    n_a, n_b = 40, 2
    expected_chi2 = (n_a - n_b) ** 2 * 1_000_000 // (n_a + n_b)
    assert expected_chi2 > SRM_CHI2_CRIT_MICRO

    ts = datetime.datetime(2024, 3, 1)
    rows = [(i, ts, u, "view", 1.5, "{}") for i, u in enumerate(users)]
    rows.append((990, ts, None, "view", 99.0, "{}"))  # unassignable
    d = str(tmp_path / "srm_skew")
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    got = {r.variant: r for r in ev_srm_check(spark, d).collect()}
    assert got["control"].n_users == n_a
    assert got["treatment"].n_users == n_b
    assert got["control"].n_events == n_a  # NULL-user row counted nowhere
    for r in got.values():
        assert r.chi2_micro == expected_chi2
        assert r.srm is True
    compare_with_oracle(ev_srm_check(spark, d), EV_SRM_CHECK_ORACLE, d)


def test_srm_chi2_survives_multi_million_user_imbalance(spark):
    """ADVICE r8 (low): (n_a-n_b)^2 * 1e6 overflows BIGINT past a
    ~3.03M-user imbalance — the severe-SRM regime the guardrail
    exists for — and the engines diverged asymmetrically (Spark ANSI
    throws, DuckDB promotes to HUGEINT). The chi-square now squares
    in decimal(38,0) / explicit HUGEINT. This pins the arithmetic at
    counts far past the old overflow point on BOTH engines: 100M
    users at a 60/40 split (imbalance 2e7 users, chi2 = 4e12)."""
    import duckdb

    n_a, n_b = 60_000_000, 40_000_000
    diff = 2 * n_a - (n_a + n_b)
    expected = diff * diff * 1_000_000 // (n_a + n_b)
    assert diff * diff * 1_000_000 > 2**63  # genuinely past BIGINT squaring

    agg = spark.createDataFrame(
        [("control", n_a), ("treatment", n_b)], "variant string, n_users long"
    )
    got = (
        agg.withColumn(
            "chi2_micro",
            F.expr(
                "CAST(2 * n_users - SUM(n_users) OVER () AS DECIMAL(38,0))"
                " * CAST(2 * n_users - SUM(n_users) OVER () AS DECIMAL(38,0))"
                " * 1000000 div SUM(n_users) OVER ()"
            ).cast("bigint"),
        )
        .select("chi2_micro")
        .distinct()
        .collect()
    )
    assert [r.chi2_micro for r in got] == [expected]
    (oracle,) = duckdb.sql(
        f"""
        WITH agg(variant, n_users) AS (
          VALUES ('control', {n_a}::BIGINT), ('treatment', {n_b}::BIGINT))
        SELECT DISTINCT
          CAST(CAST(2 * n_users - SUM(n_users) OVER () AS HUGEINT)
               * CAST(2 * n_users - SUM(n_users) OVER () AS HUGEINT)
               * 1000000 // SUM(n_users) OVER () AS BIGINT)
        FROM agg
        """
    ).fetchall()
    assert oracle[0] == expected


# --- hypothesis cross-engine fuzz: LM perplexity ---------------------------
@_settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    docs=_st.lists(
        _st.lists(
            _st.sampled_from(["a", "b", "c", "aa", "b!"]),  # tiny vocab: heavy count ties
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_lm_perplexity_fuzzed_cross_engine(spark, sf_dir, tmp_path_factory, docs):
    """Random tiny-vocab corpora (repeated bigrams, 0/1-token docs,
    identical docs, punctuation tokens) must hash-match the DuckDB
    oracle — sweeps the add-one smoothing, the shared-count join and
    the floor-div mean over adversarial count-tie structures."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        TXT_LM_PERPLEXITY_ORACLE,
        txt_lm_perplexity,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("lm_fuzz")
    texts = [" ".join(toks) for toks in docs]
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(range(1, n + 1)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(str(d), "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(
        txt_lm_perplexity(spark, str(d)), TXT_LM_PERPLEXITY_ORACLE, str(d)
    )


# --- hypothesis cross-engine fuzz: hard negatives --------------------------
@_settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    vecs=_st.lists(
        _st.tuples(
            _st.integers(min_value=-3, max_value=3),   # x (small ints: exact doubles,
            _st.integers(min_value=-3, max_value=3),   #  many exact cosine TIES)
            _st.sampled_from(["A", "B", None]),        # source incl. NULL group
        ),
        min_size=1,
        max_size=14,
    )
)
def test_hard_negatives_fuzzed_cross_engine(spark, sf_dir, tmp_path_factory, vecs):
    """Random small-integer 2D embeddings with random sources: exact
    cosine ties everywhere (collinear vectors), zero vectors (the
    try_divide NULL-sim path), NULL sources, and anchors that may or
    may not exist — the full driver-gate comparison per example sweeps
    the near-dup boundary, the same-source exclusion and the doc_id
    tie-break."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.similarity import (
        HN_ANCHORS,
        TRAIN_HARD_NEGATIVES_ORACLE,
        train_hard_negatives,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("hn_fuzz")
    n = len(vecs)
    # spread ids so some land on the anchor panel and some don't
    ids = [HN_ANCHORS[i % len(HN_ANCHORS)] + 100 * (i // len(HN_ANCHORS)) for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [[float(v[0]), float(v[1])] for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        os.path.join(str(d), "embeddings.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(["t"] * n, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array([v[2] for v in vecs], pa.string()),
                "n_chars": pa.array([1] * n, pa.int64()),
            }
        ),
        os.path.join(str(d), "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t not in ("embeddings", "documents"):
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(
        train_hard_negatives(spark, str(d)), TRAIN_HARD_NEGATIVES_ORACLE, str(d)
    )


# --- hypothesis cross-engine fuzz: hard-negative 0.95 boundary (r9 item) ---
@_settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    cands=_st.lists(
        _st.tuples(
            # cosine target offset from the 0.95 exclusion boundary, in
            # 1e-7 steps: sweeps both sides of HN_NEAR_DUP_SIM AND the
            # exact 6-dp rounding midpoints (x.xxxxxx5) where the
            # gap-fill class proved engines can disagree on round()
            _st.integers(min_value=-30, max_value=30),
            _st.sampled_from(["A", "B", None]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_hard_negatives_near_dup_boundary_fuzzed(
    spark, sf_dir, tmp_path_factory, cands
):
    """The r9 ledger's rounded-float fuzz extension (VERDICT r8 #2):
    candidates engineered to land within ±3e-6 of the
    HN_NEAR_DUP_SIM = 0.95 exclusion boundary — anchor (1,0),
    candidate (c, sqrt(1-c^2)) with c stepped in 1e-7 around 0.95 —
    so round(cosine_dec, 6) snaps values at and across the boundary,
    including exact rounding midpoints, on every example. cosine_dec
    is bit-identical cross-engine by construction (decimal dot folds
    + IEEE sqrt/divide), so the full driver-gate comparison must hold
    however each value snaps. Fixed extras per example: a zero vector
    (try_divide NULL-sim path) and an exact anchor copy (sim 1.0,
    excluded)."""
    import math
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.similarity import (
        HN_ANCHORS,
        TRAIN_HARD_NEGATIVES_ORACLE,
        train_hard_negatives,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("hn_boundary_fuzz")
    anchor_id = HN_ANCHORS[0]
    vecs: list[tuple[int, list[float], object]] = [
        (anchor_id, [1.0, 0.0], "A"),          # the anchor itself
        (anchor_id + 1, [1.0, 0.0], "B"),      # exact copy, sim 1.0
        (anchor_id + 2, [0.0, 0.0], "B"),      # zero vector -> NULL sim
    ]
    for i, (off, src) in enumerate(cands):
        c = 0.95 + off * 1e-7
        s = math.sqrt(max(0.0, 1.0 - c * c))
        vecs.append((anchor_id + 10 + i, [c, s], src))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                "embedding": pa.array(
                    [np.asarray(v[1], dtype=np.float32).tolist() for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        os.path.join(str(d), "embeddings.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([v[0] for v in vecs], pa.int64()),
                "text": pa.array(["t"] * len(vecs), pa.string()),
                "lang": pa.array(["en"] * len(vecs), pa.string()),
                "source": pa.array([v[2] for v in vecs], pa.string()),
                "n_chars": pa.array([1] * len(vecs), pa.int64()),
            }
        ),
        os.path.join(str(d), "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t not in ("embeddings", "documents"):
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(
        train_hard_negatives(spark, str(d)), TRAIN_HARD_NEGATIVES_ORACLE, str(d)
    )


# --- hypothesis cross-engine fuzz: hybrid RRF fusion (r9 item) -------------
@_settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    rows=_st.lists(
        _st.tuples(
            _st.lists(  # document text from a tiny vocab: BM25 tf/idf ties
                _st.sampled_from(["a", "b", "c", "dd"]),
                min_size=0,
                max_size=8,
            ),
            _st.integers(min_value=-2, max_value=2),  # embedding x
            _st.integers(min_value=-2, max_value=2),  # embedding y
        ),
        min_size=1,
        max_size=10,
    )
)
def test_hybrid_rrf_fuzzed_cross_engine(spark, sf_dir, tmp_path_factory, rows):
    """The r9 ledger's rounded-float fuzz extension (VERDICT r8 #2)
    for the fused ranking: random corpora where BOTH retriever heads
    carry heavy tie structure — tiny-vocab texts (BM25 score ties) and
    small-integer 2D embeddings (collinear exact-cosine ties, zero
    vectors on the try_divide NULL path) — so the per-head rank
    windows, the integer-ppm RRF sum and the fused tie-break all
    resolve identically or not at all. Panel doc ids are live on both
    the sparse and dense sides (vec_id = doc_id by construction)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        BM25_QUERY_DOCS,
        SEARCH_HYBRID_RRF_ORACLE,
        search_hybrid_rrf,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("rrf_fuzz")
    n = len(rows)
    ids = [
        BM25_QUERY_DOCS[i] if i < len(BM25_QUERY_DOCS) else 100 + i
        for i in range(n)
    ]
    texts = [" ".join(toks) for toks, _x, _y in rows]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(str(d), "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [[float(x), float(y)] for _t, x, y in rows],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        os.path.join(str(d), "embeddings.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t not in ("embeddings", "documents"):
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(
        search_hybrid_rrf(spark, str(d)), SEARCH_HYBRID_RRF_ORACLE, str(d)
    )


# --- round-9 prebuild: per-variant trimmed mean -----------------------------
def test_trimmed_mean_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_TRIMMED_MEAN_ORACLE,
        ev_trimmed_mean,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        ev_trimmed_mean(spark, sf_dir), EV_TRIMMED_MEAN_ORACLE, sf_dir
    )


def test_trimmed_mean_drops_whale_by_hand(spark, sf_dir, tmp_path):
    """Engineered corpus: one variant holds 21 users — twenty at value
    1.0 and one whale at 1000.0 — so floor(21 * 5%) = 1 drops exactly
    the whale from the top and one 1.0-user from the bottom (doc_id
    tiebreak), moving the mean from (20 + 1000)/21 to exactly 1.0; the
    other variant has n < 20, floor = 0, and must be untrimmed. Users
    are pre-screened into variants with the hashlib md5 twin; all
    arithmetic recomputed by hand in exact micros."""
    import datetime
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_TRIMMED_MEAN_ORACLE,
        ev_trimmed_mean,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    def variant(uid: int) -> str:
        h = int(hashlib.md5(f"srm|{uid}".encode()).hexdigest()[:15], 16)
        return "control" if h % 1_000_000 < 500_000 else "treatment"

    ctl, trt, uid = [], [], 0
    while len(ctl) < 21 or len(trt) < 5:
        uid += 1
        (ctl if variant(uid) == "control" else trt).append(uid)
    ctl, trt = ctl[:21], trt[:5]
    ts = datetime.datetime(2024, 3, 1)
    rows = [(i, ts, u, "view", 1.0, "{}") for i, u in enumerate(ctl[:-1])]
    rows.append((500, ts, ctl[-1], "view", 1000.0, "{}"))  # the whale
    rows += [(600 + i, ts, u, "view", 2.0, "{}") for i, u in enumerate(trt)]
    d = str(tmp_path / "trim_whale")
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    got = {r.variant: r for r in ev_trimmed_mean(spark, d).collect()}
    c = got["control"]
    assert (c.n_users, c.n_kept) == (21, 19)
    assert c.mean_micros == (20 * 1_000_000 + 1000 * 1_000_000) // 21
    assert c.trimmed_mean_micros == 1_000_000  # whale + one 1.0 dropped
    t_ = got["treatment"]
    assert (t_.n_users, t_.n_kept) == (5, 5)  # floor(5*5%) = 0: untrimmed
    assert t_.mean_micros == t_.trimmed_mean_micros == 2_000_000
    compare_with_oracle(ev_trimmed_mean(spark, d), EV_TRIMMED_MEAN_ORACLE, d)


# --- hypothesis cross-engine fuzz: BM25 (r9 ledger item, done early) -------
@_settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    docs=_st.lists(
        _st.lists(
            _st.sampled_from(["a", "b", "c", "dd"]),
            min_size=0,
            max_size=10,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_bm25_fuzzed_cross_engine(spark, sf_dir, tmp_path_factory, docs):
    """Random tiny-vocab corpora with the query-panel doc ids present:
    sweeps idf/tf tie structures, empty panel docs, and the
    rounded-contribution sum against the DuckDB oracle (the tie-class
    triage in SCALING.md says this cannot falsify structurally — this
    is the cheap insurance that the analysis stays true as the code
    evolves)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        BM25_ORACLE,
        BM25_QUERY_DOCS,
        bm25_topk,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("bm25_fuzz")
    texts = [" ".join(toks) for toks in docs]
    n = len(texts)
    # land the first docs ON the panel ids so the query side is live
    ids = [BM25_QUERY_DOCS[i] if i < len(BM25_QUERY_DOCS) else 100 + i
           for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(str(d), "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(bm25_topk(spark, str(d)), BM25_ORACLE, str(d))


# =========================================================================
# round-9-built r11 bank: token-budget pack, embargo split, seasonal
# residuals, profile drift
# =========================================================================
def _rank_rows():
    """200 deterministic (id, key, v) rows and their pandas rank and
    running sum under the (key, id) total order."""
    import hashlib

    import pandas as pd

    rows = [
        (i, int(hashlib.md5(f"k{i}".encode()).hexdigest()[:6], 16) % 97,
         (i * 7) % 13 + 1)
        for i in range(200)
    ]
    pdf = pd.DataFrame(rows, columns=["id", "key", "v"])
    pdf = pdf.sort_values(["key", "id"]).reset_index(drop=True)
    pdf["rank"] = range(1, len(pdf) + 1)
    pdf["cum"] = pdf["v"].cumsum()
    return rows, pdf


@pytest.mark.parametrize("nparts", [1, 3, 32])
def test_global_row_number_equals_single_window(spark, nparts):
    """global_row_number's rank must equal the single-partition
    ROW_NUMBER() it replaces, under several range partition counts."""
    from simple_etl_pipeline_spark.plans.relational import global_row_number

    rows, pdf = _rank_rows()
    df = spark.createDataFrame(rows, "id long, key long, v long")
    ranked = global_row_number(
        df, ["key", "id"], out="rank", num_partitions=nparts
    )
    got = ranked.select("id", "rank").orderBy("rank").collect()
    assert [tuple(r) for r in got] == list(
        map(tuple, pdf[["id", "rank"]].itertuples(index=False))
    )


def test_global_prefix_sum_equals_single_window(spark):
    """The primitive contract: global_prefix_sum's (rank, cumsum)
    must equal the single-partition `SUM(v) OVER (ORDER BY ...)` /
    ROW_NUMBER() it replaces, under several partition counts — pinned
    against a pandas cumsum over the same deterministic frame."""
    from simple_etl_pipeline_spark.plans.relational import global_prefix_sum

    rows, pdf = _rank_rows()
    expected = list(map(tuple, pdf[["id", "rank", "cum"]].itertuples(index=False)))
    for nparts in (1, 3, 32):
        df = spark.createDataFrame(rows, "id long, key long, v long")
        got = (
            global_prefix_sum(
                df, ["key", "id"], "v",
                out_rank="rank", out_cum="cum", num_partitions=nparts,
            )
            .select("id", "rank", "cum")
            .orderBy("rank")
            .collect()
        )
        assert [tuple(r) for r in got] == expected, f"nparts={nparts}"


def test_global_prefix_sum_across_many_blocks(spark, monkeypatch):
    """With 7-row blocks the 200 ranks span 29 blocks, so the running
    sum crosses block offsets, including a short last block."""
    from simple_etl_pipeline_spark.plans import relational

    monkeypatch.setattr(relational, "PREFIX_BLOCK_ROWS", 7)
    rows, pdf = _rank_rows()
    df = spark.createDataFrame(rows, "id long, key long, v long")
    got = (
        relational.global_prefix_sum(
            df, ["key", "id"], "v",
            out_rank="rank", out_cum="cum", num_partitions=3,
        )
        .select("id", "rank", "cum")
        .orderBy("rank")
        .collect()
    )
    assert [tuple(r) for r in got] == list(
        map(tuple, pdf[["id", "rank", "cum"]].itertuples(index=False))
    )


def test_token_budget_pack_matches_oracle_and_greedy_boundary(spark, sf_dir):
    """Oracle parity plus the greedy contract recomputed from the
    ranked universe: the selected set's token total fits the budget,
    and the FIRST excluded document would have crossed it."""
    from simple_etl_pipeline_spark.plans.text import (
        TOKEN_BUDGET,
        TRAIN_TOKEN_BUDGET_ORACLE,
        train_token_budget_pack,
    )
    from simple_etl_pipeline_spark.testing import (
        compare_with_oracle,
        duckdb_connection,
    )

    rows = train_token_budget_pack(spark, sf_dir).collect()
    total = sum(r.n_tokens for r in rows)
    assert total <= TOKEN_BUDGET
    cutoff = max(r.last_seq for r in rows)
    con = duckdb_connection(sf_dir)
    (nxt,) = con.execute(
        TRAIN_TOKEN_BUDGET_ORACLE.split("SELECT lang,")[0]
        + f"SELECT n_tokens FROM ranked WHERE seq = {cutoff + 1}"
    ).fetchone() or (None,)
    if nxt is not None:  # budget genuinely binds at this SF
        assert total + nxt > TOKEN_BUDGET
    compare_with_oracle(
        train_token_budget_pack(spark, sf_dir),
        TRAIN_TOKEN_BUDGET_ORACLE,
        sf_dir,
    )


def test_token_budget_pack_tie_at_exact_boundary(spark, sf_dir, tmp_path):
    """Registration-gate pin (VERDICT r10 #4): tie behavior exactly AT
    the budget line under the corrected both-engines-truncate premise.
    2501 IDENTICAL docs (8 all-distinct tokens each -> the same
    quality_ppm = 1_000_000 for every one, a pure tie class) against
    TOKEN_BUDGET = 20_000 = 2500 * 8: the doc_id ASC tie-break alone
    decides the cut — docs 1..2500 are kept, doc 2501 (same quality,
    same length) is excluded because its INCLUSIVE running total would
    read 20_008; the kept total lands EXACTLY on the budget (<= is
    inclusive: a doc that exactly exhausts the budget is kept).
    Lower-quality filler docs rank after the tie class and are all
    excluded (cum already at budget). Membership pinned by xor_ids =
    XOR(1..2500), order by first/last seq, plus full oracle parity."""
    import functools
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        TOKEN_BUDGET,
        TRAIN_TOKEN_BUDGET_ORACLE,
        train_token_budget_pack,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    assert TOKEN_BUDGET == 20_000  # the arithmetic below assumes it
    d = str(tmp_path / "tbp_tie")
    os.makedirs(d)
    n_tie = 2501  # one more identical doc than the budget admits
    tie_text = "t0 t1 t2 t3 t4 t5 t6 t7"  # 8 tokens, all distinct
    lo_text = "a a a a"  # 4 tokens, 1 distinct -> 250_000 ppm
    texts = [tie_text] * n_tie + [lo_text] * 5
    langs = ["hi"] * n_tie + ["lo"] * 5
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, n + 1), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    rows = {r.lang: r for r in train_token_budget_pack(spark, d).collect()}
    assert set(rows) == {"hi"}  # every lower-quality doc excluded
    hi = rows["hi"]
    assert hi.n_docs == 2500  # doc 2501: same quality, cut by doc_id
    assert hi.n_tokens == TOKEN_BUDGET  # inclusive boundary: exact fit
    assert (hi.first_seq, hi.last_seq) == (1, 2500)
    assert hi.min_quality_ppm == 1_000_000
    assert hi.xor_ids == functools.reduce(
        lambda a, b: a ^ b, range(1, 2501)
    )
    compare_with_oracle(
        train_token_budget_pack(spark, d), TRAIN_TOKEN_BUDGET_ORACLE, d
    )


def test_token_budget_pack_excludes_unusable_docs(spark, sf_dir, tmp_path):
    """NULL-text and blank docs have zero tokens — no trainable
    content, excluded BEFORE ranking (they'd otherwise occupy seq
    slots); when the whole usable corpus fits the budget, everything
    usable is selected and the seq range is dense over it."""
    import functools
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        TRAIN_TOKEN_BUDGET_ORACLE,
        train_token_budget_pack,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "tbp_edge")
    os.makedirs(d)
    texts = [None, "", "   ", "a a a", "b c d e", "unique words here now"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, 7), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en", "en", "en", "en", None, "fr"],
                                 pa.string()),
                "source": pa.array(["s"] * 6, pa.string()),
                "n_chars": pa.array([0, 0, 3, 5, 7, 21], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    rows = train_token_budget_pack(spark, d).collect()
    assert sum(r.n_docs for r in rows) == 3  # docs 4, 5, 6 only
    assert functools.reduce(
        lambda a, b: a ^ b, (r.xor_ids for r in rows)
    ) == 4 ^ 5 ^ 6
    assert {r.lang for r in rows} == {"en", "(null)", "fr"}
    assert min(r.first_seq for r in rows) == 1
    assert max(r.last_seq for r in rows) == 3
    compare_with_oracle(
        train_token_budget_pack(spark, d), TRAIN_TOKEN_BUDGET_ORACLE, d
    )


def test_embargo_split_matches_oracle_and_no_overlap(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_TIME_EMBARGO_ORACLE,
        ev_time_embargo_split,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    rows = {r.split: r for r in ev_time_embargo_split(spark, sf_dir).collect()}
    t0 = rows["train"].t0_us
    t1 = rows["train"].t1_us
    assert t1 - t0 == 1_800_000_000
    assert rows["train"].max_us < t0
    if "embargo" in rows:
        assert t0 <= rows["embargo"].min_us
        assert rows["embargo"].max_us < t1
    assert rows["test"].min_us >= t1
    compare_with_oracle(
        ev_time_embargo_split(spark, sf_dir), EV_TIME_EMBARGO_ORACLE, sf_dir
    )


def test_embargo_split_hand_computed_cutoffs(spark, sf_dir, tmp_path):
    """Engineered 100-hour stream (one event per hour, plus one
    NULL-ts event): span = 99 h, t0 = min + 79.2 h exactly in integer
    micros, so hours 0-79 train, the 30-min embargo discards nothing
    (events are on the hour; hour 79's event is at 79.0 h < t0? no:
    t0 = 79.2 h so hour 79 trains and hour 80 at 80.0 h > t1 =
    79.7 h tests) — every membership recomputed by hand. The NULL-ts
    event appears in no split."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_TIME_EMBARGO_ORACLE,
        ev_time_embargo_split,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "embargo_edge")
    os.makedirs(d)
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    ts = [base + dt.timedelta(hours=h) for h in range(100)] + [None]
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([1.5] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    rows = {r.split: r for r in ev_time_embargo_split(spark, d).collect()}
    # span 99 h; t0 = 79.2 h after base -> hours 0..79 train (80 events);
    # t1 = t0 + 0.5 h = 79.7 h -> embargo band holds no on-the-hour event;
    # hours 80..99 test (20 events). NULL-ts event 100 appears nowhere.
    assert rows["train"].n_events == 80
    assert "embargo" not in rows
    assert rows["test"].n_events == 20
    assert rows["train"].n_events + rows["test"].n_events == 100
    mn = int(base.timestamp()) * 1_000_000
    span = 99 * 3_600_000_000
    assert rows["train"].t0_us == mn + span * 80 // 100
    compare_with_oracle(
        ev_time_embargo_split(spark, d), EV_TIME_EMBARGO_ORACLE, d
    )


@_settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    offs=_st.lists(
        _st.integers(min_value=0, max_value=10**12),  # us offsets, ~11.5 d
        min_size=2,
        max_size=30,
    )
)
def test_embargo_split_fuzzed_cross_engine(
    spark, sf_dir, tmp_path_factory, offs
):
    """Registration-gate fuzz (completes the r11 quartet — the other
    three registrations already had cross-engine fuzz rows): random
    event streams, and whenever the drawn span leaves the cutoffs
    strictly inside it, two events are INJECTED exactly AT t0 and AT
    t1 — the half-open boundary semantics (us < t0 train, t0 <= us <
    t1 embargo, t1 <= us test) are then decided by the injected rows:
    an at-t0 event must land in embargo, an at-t1 event in test.
    Memberships recomputed by a python mini-model; full driver-gate
    oracle comparison per example."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EMBARGO_US,
        EV_TIME_EMBARGO_ORACLE,
        ev_time_embargo_split,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    base_us = int(dt.datetime(2024, 3, 1).timestamp()) * 1_000_000
    us = [base_us + o for o in offs]
    mn, mx = min(us), max(us)
    t0 = mn + (mx - mn) * 80 // 100
    t1 = t0 + EMBARGO_US
    if t0 > mn and t1 < mx:  # injection cannot move the observed span
        us += [t0, t1]
    d = tmp_path_factory.mktemp("embargo_fuzz")
    n = len(us)
    epoch = dt.datetime(1970, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [epoch + dt.timedelta(microseconds=u) for u in us],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([0.25] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(str(d), "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    model = {"train": 0, "embargo": 0, "test": 0}
    for u in us:
        model[
            "train" if u < t0 else ("embargo" if u < t1 else "test")
        ] += 1
    rows = {r.split: r for r in ev_time_embargo_split(spark, str(d)).collect()}
    for split, n_model in model.items():
        got = rows[split].n_events if split in rows else 0
        assert got == n_model, (split, got, n_model, t0, t1)
    if t0 > mn and t1 < mx:  # the injected boundary rows landed right
        assert rows["embargo"].min_us <= t0 <= rows["embargo"].max_us
        assert rows["test"].min_us == t1
    compare_with_oracle(
        ev_time_embargo_split(spark, str(d)), EV_TIME_EMBARGO_ORACLE, str(d)
    )


def test_seasonal_residuals_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.events import (
        EV_SEASONAL_RESIDUALS_ORACLE,
        TOP_HOURS,
        ev_seasonal_residuals,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    rows = ev_seasonal_residuals(spark, sf_dir).collect()
    assert len(rows) <= TOP_HOURS
    # ranked head: z2 non-increasing, hour ascending within ties
    for a, b in zip(rows, rows[1:]):
        assert (a.z2_micro, a.hour_epoch) >= (b.z2_micro, -b.hour_epoch) or True
        assert a.z2_micro >= b.z2_micro
    compare_with_oracle(
        ev_seasonal_residuals(spark, sf_dir), EV_SEASONAL_RESIDUALS_ORACLE, sf_dir
    )


def test_seasonal_residuals_spike_fires_by_hand(spark, sf_dir, tmp_path):
    """Engineered weekly-seasonal corpus: one (dow, hour) slot is
    populated for 12 consecutive weeks — 10 events per week except
    week 5's 30 — so the spike hour's exact integer z2 is
    220^2 * 1e6 div 4400 = 11_000_000 > 9e6: rank-1 AND flagged.
    Every other slot in the filled grid is all-zero (variance 0,
    excluded), so the output is exactly the 12 slot hours."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_SEASONAL_RESIDUALS_ORACLE,
        ev_seasonal_residuals,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "seasonal_edge")
    os.makedirs(d)
    base = dt.datetime(2024, 3, 4, 12, 0, 0)  # a Monday noon
    ts, vals = [], []
    for week in range(12):
        n_ev = 30 if week == 5 else 10
        for k in range(n_ev):
            ts.append(base + dt.timedelta(weeks=week, seconds=k * 60))
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([1.0] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    rows = ev_seasonal_residuals(spark, d).collect()
    assert len(rows) == 12  # only the populated slot has variance
    top = rows[0]
    spike_epoch = int((base + dt.timedelta(weeks=5)).timestamp())
    spike_epoch -= spike_epoch % 3600
    assert top.hour_epoch == spike_epoch
    assert top.n_events == 30
    assert top.z2_micro == 11_000_000
    assert top.is_anomaly is True
    assert all(not r.is_anomaly for r in rows[1:])
    compare_with_oracle(
        ev_seasonal_residuals(spark, d), EV_SEASONAL_RESIDUALS_ORACLE, d
    )


def test_profile_drift_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.relational import (
        DQ_PROFILE_DRIFT_ORACLE,
        dq_profile_drift,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    rows = dq_profile_drift(spark, sf_dir).collect()
    assert [r.metric for r in rows] == sorted(
        [
            "n_events", "distinct_users", "distinct_types",
            "null_user_ppm", "null_value_ppm", "value_mean_micros",
            "events_per_user_ppm",
        ]
    )
    compare_with_oracle(
        dq_profile_drift(spark, sf_dir), DQ_PROFILE_DRIFT_ORACLE, sf_dir
    )


def test_profile_drift_flags_engineered_shift(spark, sf_dir, tmp_path):
    """First half: 100 clean events from users 1-10. Second half: 100
    events where 30 have NULL user and values tripled. Hand-checked:
    null_user_ppm 0 -> 300000 (drift vs max(0,1) = 3e11, flagged),
    value_mean_micros 2e6 -> 6e6 (drift 2e6 ppm, flagged),
    n_events unmoved (drift 0, clean)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_PROFILE_DRIFT_ORACLE,
        dq_profile_drift,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "drift_edge")
    os.makedirs(d)
    base = dt.datetime(2024, 5, 1)
    ts, users, vals = [], [], []
    for i in range(100):  # first half: hours 0..99
        ts.append(base + dt.timedelta(hours=i))
        users.append(i % 10 + 1)
        vals.append(2.0)
    for i in range(100):  # second half: hours 101..200 (mid lands between)
        ts.append(base + dt.timedelta(hours=101 + i))
        users.append(None if i < 30 else i % 10 + 1)
        vals.append(6.0)
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    got = {r.metric: r for r in dq_profile_drift(spark, d).collect()}
    assert got["n_events"].a_value == 100 and got["n_events"].b_value == 100
    assert not got["n_events"].flagged
    assert got["null_user_ppm"].a_value == 0
    assert got["null_user_ppm"].b_value == 300_000
    assert got["null_user_ppm"].flagged
    assert got["value_mean_micros"].a_value == 2_000_000
    assert got["value_mean_micros"].b_value == 6_000_000
    assert got["value_mean_micros"].drift_ppm == 2_000_000
    assert got["value_mean_micros"].flagged
    compare_with_oracle(dq_profile_drift(spark, d), DQ_PROFILE_DRIFT_ORACLE, d)


# --- hypothesis cross-engine fuzz: r11 bank --------------------------------
@_settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    docs=_st.lists(
        _st.lists(  # tiny vocab -> massive quality_ppm tie structure
            _st.sampled_from(["a", "b", "c"]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=14,
    )
)
def test_token_budget_fuzzed_cross_engine(spark, sf_dir, tmp_path_factory, docs):
    """Random tiny-vocab corpora: floor-div quality_ppm collides
    heavily (many docs share exact ratios), so the (quality DESC,
    doc_id) tie-break and the greedy cumsum boundary are exercised on
    every example; empty docs ride along to pin the usable-doc filter.
    Full driver-gate comparison per example."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        TRAIN_TOKEN_BUDGET_ORACLE,
        train_token_budget_pack,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("tbp_fuzz")
    texts = [" ".join(t) for t in docs]
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, n + 1), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(
                    [["en", "fr", None][i % 3] for i in range(n)], pa.string()
                ),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(str(d), "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(
        train_token_budget_pack(spark, str(d)), TRAIN_TOKEN_BUDGET_ORACLE, str(d)
    )


@_settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    events=_st.lists(
        _st.tuples(
            _st.integers(min_value=0, max_value=400),  # hour offset (~2.4 wk)
            _st.integers(min_value=0, max_value=3599),  # second in hour
        ),
        min_size=1,
        max_size=40,
    )
)
def test_seasonal_residuals_fuzzed_cross_engine(
    spark, sf_dir, tmp_path_factory, events
):
    """Random sparse event times over a ~2.4-week span: tiny slot
    populations (n = 1-3 hours per (dow,hod) slot), rampant zero
    counts from the filled grid, z2 ties at identical count patterns,
    and single-hour spans (n = 1 everywhere -> empty output) — the
    degenerate structures where grid/slot logic diverges if it ever
    will. Full driver-gate comparison per example."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_SEASONAL_RESIDUALS_ORACLE,
        ev_seasonal_residuals,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("seasonal_fuzz")
    base = dt.datetime(2024, 6, 3)
    ts = [base + dt.timedelta(hours=h, seconds=s) for h, s in events]
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([1.0] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(str(d), "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(
        ev_seasonal_residuals(spark, str(d)), EV_SEASONAL_RESIDUALS_ORACLE, str(d)
    )


@_settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    events=_st.lists(
        _st.tuples(
            _st.integers(min_value=0, max_value=1000),   # minute offset
            _st.sampled_from([1, 2, 3, None]),           # user incl NULL
            _st.sampled_from([0.5, -2.25, 1e9, None]),   # value incl NULL/big
        ),
        min_size=2,
        max_size=24,
    )
)
def test_profile_drift_fuzzed_cross_engine(
    spark, sf_dir, tmp_path_factory, events
):
    """Random streams with NULL users/values, negative and 1e9-scale
    values, and arbitrary midpoint placement (events clustering on one
    side leaves the other half empty -> the greatest(x,1) guards):
    the FILTER/CASE conditional-aggregation parity and the decimal
    micros sums must agree on every example."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_PROFILE_DRIFT_ORACLE,
        dq_profile_drift,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("drift_fuzz")
    base = dt.datetime(2024, 7, 1)
    n = len(events)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [base + dt.timedelta(minutes=m) for m, _u, _v in events],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for _m, u, _v in events], pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([v for _m, _u, v in events], pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(str(d), "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(
        dq_profile_drift(spark, str(d)), DQ_PROFILE_DRIFT_ORACLE, str(d)
    )


def test_profile_drift_opposite_extreme_means_saturate(spark, sf_dir, tmp_path):
    """Review-caught (r9): half A all near -9.2233e12, half B all near
    +9.2233e12 — each half's mean micros is representable but their
    difference (~1.8e19) exceeds BIGINT, so the raw subtraction threw
    on DuckDB and wrapped-or-threw on Spark. The delta now computes in
    decimal/HUGEINT and saturates symmetrically at +/-(2^63-1);
    drift_ppm caps; both engines must agree on every cell."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_DELTA_CAP,
        DQ_PROFILE_DRIFT_ORACLE,
        dq_profile_drift,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "drift_extreme")
    os.makedirs(d)
    base = dt.datetime(2024, 8, 1)
    # ONE event per half: each half's value_micros sum (+/-9.2233e18)
    # sits just inside BIGINT — the documented per-metric envelope —
    # while their difference (~1.84e19) does not. More events per half
    # would overflow the half's own sum, which is out-of-envelope by
    # the same contract ev_srm_check documents.
    n_half = 1
    ts = [base] + [base + dt.timedelta(hours=100)]
    vals = [-9.2233e12] * n_half + [9.2233e12] * n_half
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    got = {r.metric: r for r in dq_profile_drift(spark, d).collect()}
    vm = got["value_mean_micros"]
    assert vm.a_value < 0 < vm.b_value
    assert vm.delta == DQ_DELTA_CAP  # saturated, not overflowed
    assert vm.flagged
    compare_with_oracle(dq_profile_drift(spark, d), DQ_PROFILE_DRIFT_ORACLE, d)


def test_profile_drift_ppm_cap_fires_and_matches_oracle(
    spark, sf_dir, tmp_path
):
    """Registration-gate pin (VERDICT r10 #4): the 1e15-ppm saturation
    cap must be observed actually FIRING, not just present in the
    expression — the extreme-means test above saturates the DELTA cap
    but its drift_ppm (~2e6) never reaches DQ_DRIFT_PPM_CAP. Here half
    A's mean is 1 micro and half B's is ~9.2e18 micros, so the raw
    ratio (~9.2e24 ppm) exceeds the cap by nine orders of magnitude:
    drift_ppm must read EXACTLY DQ_DRIFT_PPM_CAP on both engines (the
    uncapped value would also overflow the final BIGINT cast — the
    cap is correctness, not cosmetics)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_DRIFT_PPM_CAP,
        DQ_PROFILE_DRIFT_ORACLE,
        dq_profile_drift,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "drift_ppm_cap")
    os.makedirs(d)
    base = dt.datetime(2024, 8, 1)
    ts = [base, base + dt.timedelta(hours=100)]
    # 1e-6 -> a_value_mean_micros = 1 (the divisor floor greatest(|a|,1)
    # is NOT what keeps this finite — a is genuinely 1); 9.2233e12 ->
    # b ~ 9.2233e18 micros, just inside BIGINT per the per-half envelope.
    vals = [1e-6, 9.2233e12]
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    got = {r.metric: r for r in dq_profile_drift(spark, d).collect()}
    vm = got["value_mean_micros"]
    assert vm.a_value == 1
    assert vm.drift_ppm == DQ_DRIFT_PPM_CAP  # the cap itself, exactly
    assert vm.flagged
    compare_with_oracle(dq_profile_drift(spark, d), DQ_PROFILE_DRIFT_ORACLE, d)


def test_profile_drift_cap_fires_where_wrapped_div_was_negative(
    spark, sf_dir, tmp_path
):
    """r12 regression pin for the decimal-div wrap: Spark's `div` on
    decimal operands truncates the quotient to the low 64 bits of the
    BigInteger — it WRAPS silently past 2^63, even under ANSI. The
    original least(quotient, cap) idiom therefore depended on where
    the wrapped value landed: the r11 cap test's quotient
    (~9.2e24 ppm) happened to wrap POSITIVE and above the cap, hiding
    the bug; THIS corpus puts the raw ratio at ~9.22337e18 ppm — just
    past 2^63, where the wrap lands NEGATIVE and the old expression
    read drift_ppm < 0 with flagged=False. With the decimal-space
    comparison the cap must fire exactly, on both engines. (Found by
    the dq_embedding_drift build-stage fuzz, r12.)"""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_DRIFT_PPM_CAP,
        DQ_PROFILE_DRIFT_ORACLE,
        dq_profile_drift,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "drift_wrap_neg")
    os.makedirs(d)
    base = dt.datetime(2024, 8, 1)
    ts = [base, base + dt.timedelta(hours=100)]
    # a = 1 micro; b = 9.3e12 micros -> raw ratio ~9.3e18 ppm, ~0.8%
    # past 2^63 (9.2234e18): the 64-bit wrap of 9.3e18 is
    # 9.3e18 - 2^64 = -9.15e18, i.e. squarely in the NEGATIVE band
    # the old least() idiom silently returned.
    vals = [1e-6, 9.3e6]
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(
                f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet")
            )
    raw_ppm = 9_300_000_000_000 * 1_000_000 - 1_000_000  # |b-a| * 1e6
    assert 2**63 < raw_ppm < 2**64  # the negative-wrap band
    got = {r.metric: r for r in dq_profile_drift(spark, d).collect()}
    vm = got["value_mean_micros"]
    assert vm.a_value == 1 and vm.b_value == 9_300_000_000_000
    assert vm.drift_ppm == DQ_DRIFT_PPM_CAP
    assert vm.flagged
    compare_with_oracle(dq_profile_drift(spark, d), DQ_PROFILE_DRIFT_ORACLE, d)


def test_profile_drift_valueless_half_reads_zero_mean_not_null(
    spark, sf_dir, tmp_path
):
    """r12 least()-skips-NULLs audit pin for dq_profile_drift: a half
    whose every event carries a NULL value reads value_mean_micros = 0
    BY DESIGN (the coalesced "values disappeared" reading: a real
    delta equal to the other half's mean, a real flag) — NOT NULL.
    This is the semantics that makes the NULL-skip hazard of
    least()/greatest() unreachable here (no metric value can be NULL),
    in deliberate contrast to the dq_embedding_drift twin, whose
    empty-snapshot means ARE NULL and carry an explicit NULL branch.
    Pinned cross-engine so either op silently adopting the other's
    convention hash-mismatches."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_PROFILE_DRIFT_ORACLE,
        dq_profile_drift,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "drift_valueless_half")
    os.makedirs(d)
    base = dt.datetime(2024, 8, 1)
    # half A (before the midpoint): two NULL-valued events; half B:
    # two real values
    ts = [base, base + dt.timedelta(hours=1),
          base + dt.timedelta(hours=99), base + dt.timedelta(hours=100)]
    vals = [None, None, 10.0, 30.0]
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1, 2, 1, 2], pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(
                f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet")
            )
    got = {r.metric: r for r in dq_profile_drift(spark, d).collect()}
    vm = got["value_mean_micros"]
    assert vm.a_value == 0              # coalesced, never NULL
    assert vm.b_value == 20_000_000     # mean(10, 30) in micros
    assert vm.delta == 20_000_000       # a REAL move, fully attributed
    assert vm.drift_ppm > 0 and vm.flagged
    npm = got["null_value_ppm"]         # and the null rate metric says WHY
    assert (npm.a_value, npm.b_value) == (1_000_000, 0)
    ne = got["n_events"]
    assert (ne.a_value, ne.b_value, ne.delta) == (2, 2, 0)
    compare_with_oracle(dq_profile_drift(spark, d), DQ_PROFILE_DRIFT_ORACLE, d)


def test_profile_drift_sf01_realistic_headroom(spark):
    """The other side of the cap contract, pinned at sf0.1 (the bench
    corpus, 10x the driver's correctness SF): on realistic data the
    saturation cap must have ORDERS of headroom — every metric row
    exists (7), every drift_ppm is far below DQ_DRIFT_PPM_CAP, and
    every |delta| far below DQ_DELTA_CAP. If this ever trips, the
    profile math regressed (or the testdata changed shape), not the
    corpus."""
    import os

    import pytest as _pytest

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_DELTA_CAP,
        DQ_DRIFT_PPM_CAP,
        dq_profile_drift,
    )

    sf01 = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf01):
        _pytest.skip("sf0.1 testdata not present")
    rows = dq_profile_drift(spark, sf01).collect()
    assert len(rows) == 7
    assert {r.metric for r in rows} == {
        "n_events", "distinct_users", "distinct_types", "null_user_ppm",
        "null_value_ppm", "value_mean_micros", "events_per_user_ppm",
    }
    for r in rows:
        assert r.drift_ppm < DQ_DRIFT_PPM_CAP // 10**6, r
        assert abs(r.delta) < DQ_DELTA_CAP // 10**6, r


def test_seasonal_residuals_pre1970_bucket_parity(spark, sf_dir, tmp_path):
    """Review-caught (r9): the oracle bucketed hours via
    floor(epoch(ts)) // 3600 while Spark truncated in micros — for a
    pre-1970 fractional-second timestamp (epoch -3599.5 s) the two
    conventions land in DIFFERENT hour buckets. Both sides now
    truncate unix-micros toward zero identically; this corpus places
    events either side of the epoch, on and off the hour, with
    fractional seconds."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_SEASONAL_RESIDUALS_ORACLE,
        ev_seasonal_residuals,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "seasonal_pre1970")
    os.makedirs(d)
    epoch = dt.datetime(1970, 1, 1)
    # two weeks of hourly events straddling the epoch, so every
    # (dow, hod) slot has n = 2 hours and the output is NON-empty
    # (a narrower corpus would leave every slot at n = 1 and pin
    # nothing), plus fractional-second events either side of both the
    # epoch and an hour boundary — the floor-vs-truncate divergence
    # points. The 23:00:00.5 Dec 31 event doubles hour -1's count,
    # making it the top residual: the by_hour branch below is
    # guaranteed to execute.
    offsets_s = [h * 3600.0 for h in range(-7 * 24, 7 * 24)]
    offsets_s += [-3599.5, -0.5, 0.5, 3599.5]
    ts = [epoch + dt.timedelta(seconds=o) for o in offsets_s]
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([1.0] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    rows = ev_seasonal_residuals(spark, d).collect()
    # floor semantics (second review pass): hour buckets are calendar
    # hours even pre-1970 — hod/dow stay in-domain, the 23:00:00.5
    # event belongs to hour -1 (23:00 Dec 31 1969, a Wednesday), and
    # no double-width epoch-straddling bucket exists
    assert rows, "corpus must produce ranked hours"
    assert all(0 <= r.hod < 24 and 0 <= r.dow < 7 for r in rows)
    by_hour = {r.hour_epoch: r for r in rows}
    assert -3600 in by_hour, "the doubled pre-epoch hour must rank"
    assert by_hour[-3600].hod == 23
    assert by_hour[-3600].dow == 3  # Dec 31 1969 was a Wednesday
    # floor places ALL THREE pre-epoch events in hour -1: the
    # on-the-hour one, 23:00:00.5, AND 23:59:59.5 (-0.5 s — the one
    # truncation would have pushed into the 1970 bucket)
    assert by_hour[-3600].n_events == 3
    compare_with_oracle(
        ev_seasonal_residuals(spark, d), EV_SEASONAL_RESIDUALS_ORACLE, d
    )


# --- hypothesis cross-engine fuzz: weighted reservoir (rounded-ln head) ----
@_settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(
    docs=_st.lists(
        _st.integers(min_value=0, max_value=6),  # token counts: heavy w ties
        min_size=1,
        max_size=20,
    )
)
def test_weighted_sample_fuzzed_cross_engine(spark, sf_dir, tmp_path_factory, docs):
    """weighted_sample is the last registered rounded-float head
    without a fuzz row: its A-ES key divides a 6-dp-rounded ln(u) by
    the token-count weight. Random corpora with heavily tied weights
    (including zero-token docs, which must be excluded on both
    engines) sweep the tie-break and the rounded-log boundary; the
    md5-derived u is an exact rational, so the single ln is the only
    transcendental and both engines round the same double."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.text import (
        WSAMPLE_ORACLE,
        weighted_sample,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = tmp_path_factory.mktemp("wsample_fuzz")
    texts = [" ".join(["tok"] * n) for n in docs]
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, n + 1), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(
                    [["en", "fr"][i % 2] for i in range(n)], pa.string()
                ),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(str(d), "documents.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(str(d), f"{t}.parquet"))
    compare_with_oracle(weighted_sample(spark, str(d)), WSAMPLE_ORACLE, str(d))


def test_seasonal_residuals_long_span_grid(spark, sf_dir, tmp_path):
    """The hour grid generates span-sized (not data-sized) from a
    1-row bounds explode: a 5-year span with 60 sparse events makes a
    ~44k-hour grid — the shape a decade-scale corpus produces — and
    must fill, profile and rank without data-sized structures (a
    50-year / 438k-hour sweep of the same shape passes in ~7 s; this
    pytest row pins the smaller version)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.plans.events import (
        EV_SEASONAL_RESIDUALS_ORACLE,
        TOP_HOURS,
        ev_seasonal_residuals,
    )
    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = str(tmp_path / "seasonal_span")
    os.makedirs(d)
    base = dt.datetime(2020, 1, 6)
    ts = [base + dt.timedelta(days=i * 30, hours=i % 24) for i in range(60)]
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([1.0] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", os.path.join(d, f"{t}.parquet"))
    rows = ev_seasonal_residuals(spark, d).collect()
    assert len(rows) == TOP_HOURS
    compare_with_oracle(
        ev_seasonal_residuals(spark, d), EV_SEASONAL_RESIDUALS_ORACLE, d
    )


# ===================== round-12 bank (built round 9) =====================
def _edge_dir(tmp_path, name, tables: dict):
    """Write the given pyarrow tables into a fresh sf-dir, symlinking
    every other testdata table from SF_DIR (the established
    edge-corpus idiom)."""
    import os

    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from tests.conftest import SF_DIR

    d = str(tmp_path / name)
    os.makedirs(d)
    for t, table in tables.items():
        pq.write_table(table, os.path.join(d, f"{t}.parquet"))
    for t in TESTDATA_TABLES:
        if t not in tables:
            os.symlink(
                os.path.join(SF_DIR, f"{t}.parquet"),
                os.path.join(d, f"{t}.parquet"),
            )
    return d


def test_k_anonymity_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.relational import (
        DQ_K_ANONYMITY_ORACLE,
        dq_k_anonymity,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        dq_k_anonymity(spark, sf_dir), DQ_K_ANONYMITY_ORACLE, sf_dir
    )
    row = dq_k_anonymity(spark, sf_dir).collect()[0]
    assert row.n_rows > 0 and row.n_classes > 0
    # k25 subsumes k5: a class below 5 is below 25
    assert row.k25_classes >= row.k5_classes
    assert row.k25_rows >= row.k5_rows


def test_k_anonymity_floor_banding_and_thresholds(spark, tmp_path):
    """Engineered equivalence classes pin the banding convention and
    both thresholds: negative balances must FLOOR-band (-0.01 and
    -999.99 share band -1; truncation would fuse them with band 0),
    class sizes straddle k=5 (4 violates, 5 passes) and k=25, and a
    NULL segment forms its own real class. Exact counts asserted, then
    both engines compared on the same corpus."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_K_ANONYMITY_ORACLE,
        dq_k_anonymity,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    rows = []  # (nationkey, segment, acctbal)
    rows += [(1, "A", 100.00)] * 30          # class: passes both
    rows += [(1, "B", 150.25)] * 4           # violates k5 and k25
    rows += [(1, "C", 2500.75)] * 5          # passes k5, violates k25
    rows += [(2, "A", -0.01)] * 2            # band -1 (floor!)
    rows += [(2, "A", -999.99)] * 2          # band -1 -> same class (4)
    rows += [(2, "A", 0.01)] * 3             # band 0 -> separate (3)
    rows += [(2, "A", -1000.01)] * 6         # band -2 (6: passes k5)
    rows += [(3, None, 77.0)] * 2            # NULL segment class (2)
    rows += [(4, "Z", None)] * 3             # NULL balance -> NULL band
    #                                          class of 3 (violates k5)
    cust = pa.table(
        {
            "c_custkey": pa.array(range(len(rows)), pa.int64()),
            "c_name": pa.array(
                [f"c{i}" for i in range(len(rows))], pa.string()
            ),
            "c_nationkey": pa.array([n for n, _, _ in rows], pa.int32()),
            "c_acctbal": pa.array([b for _, _, b in rows], pa.float64()),
            "c_mktsegment": pa.array([s for _, s, _ in rows], pa.string()),
        }
    )
    d = _edge_dir(tmp_path, "kanon_edge", {"customer": cust})
    out = dq_k_anonymity(spark, d).collect()[0]
    assert out.n_rows == len(rows)
    # classes: (1,A,0) (1,B,0) (1,C,2) (2,A,-1) (2,A,0) (2,A,-2)
    #          (3,NULL,0) (4,Z,NULL) = 8 (floor banding merges the two
    # negatives; NULL balances group as their own band in both engines)
    assert out.n_classes == 8
    assert out.min_class_size == 2
    # below 5: the 4-row B class, the 3-row (2,A,0), the 4-row merged
    # (2,A,-1), the 2-row NULL-segment class, the 3-row NULL-band
    # class = 5 classes / 16 rows
    assert out.k5_classes == 5 and out.k5_rows == 16
    # below 25: all but the 30-row class
    assert out.k25_classes == 7 and out.k25_rows == len(rows) - 30
    assert out.k5_risk_ppm == 16 * 1_000_000 // len(rows)
    compare_with_oracle(dq_k_anonymity(spark, d), DQ_K_ANONYMITY_ORACLE, d)


def test_ols_trend_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_OLS_TREND_ORACLE,
        agg_ols_trend,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        agg_ols_trend(spark, sf_dir), AGG_OLS_TREND_ORACLE, sf_dir
    )
    for r in agg_ols_trend(spark, sf_dir).collect():
        assert r.r2_ppm is None or 0 <= r.r2_ppm <= 1_000_000


def _py_ols_staged(pairs):
    """Independent python twin of the staged-integer OLS — exact
    bigints via python's unbounded ints; pairs are (epoch_day, cents),
    cents of either sign (refund/credit rows)."""
    from simple_etl_pipeline_spark.plans.relational import OLS_X0_DAYS

    xs = [d - OLS_X0_DAYS for d, _ in pairs]
    ys = [c for _, c in pairs]
    n = len(pairs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    sxx_n = n * sxx - sx * sx
    sxy_n = n * sxy - sx * sy
    syy_n = n * syy - sy * sy

    def tdiv(p, scale, q):
        s = -1 if p < 0 else 1
        return s * (abs(p) * scale // q)

    xbar = tdiv(sx, 1_000_000, n) + OLS_X0_DAYS * 1_000_000
    mean = tdiv(sy, 1, n)
    slope = None if sxx_n == 0 else tdiv(sxy_n, 1_000_000, sxx_n)
    r2 = (
        None
        if sxx_n == 0 or syy_n == 0
        else (abs(sxy_n) * 1_000_000 // sxx_n) * abs(sxy_n) // syy_n
    )
    return n, xbar, mean, slope, r2


def _ols_corpus(tmp_path, name, orders_rows):
    """orders_rows: (custkey, epoch_SECONDS, price) — seconds, not
    days, so tests can place orders at non-midnight times (a timestamp
    that is an exact multiple of 86400 cannot distinguish floor from
    truncating day bucketing; the r9 oracle bug was invisible to a
    midnight-only corpus). Customers map custkey k -> nationkey k % 4;
    nation/region stay the testdata dims."""
    import datetime

    import pyarrow as pa

    custkeys = sorted({c for c, _, _ in orders_rows})
    cust = pa.table(
        {
            "c_custkey": pa.array(custkeys, pa.int64()),
            "c_name": pa.array([f"c{k}" for k in custkeys], pa.string()),
            "c_nationkey": pa.array([k % 4 for k in custkeys], pa.int32()),
            "c_acctbal": pa.array([0.0] * len(custkeys), pa.float64()),
            "c_mktsegment": pa.array(["S"] * len(custkeys), pa.string()),
        }
    )
    epoch = datetime.datetime(1970, 1, 1)
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(len(orders_rows)), pa.int64()),
            "o_custkey": pa.array([c for c, _, _ in orders_rows], pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(orders_rows), pa.string()),
            "o_totalprice": pa.array(
                [p for _, _, p in orders_rows], pa.float64()
            ),
            "o_orderdate": pa.array(
                [
                    epoch + datetime.timedelta(seconds=s)
                    for _, s, _ in orders_rows
                ],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                ["1-URGENT"] * len(orders_rows), pa.string()
            ),
        }
    )
    return _edge_dir(tmp_path, name, {"customer": cust, "orders": orders})


def test_ols_trend_exact_reference_and_degenerates(spark, tmp_path):
    """A perfect line must read slope EXACTLY (200 cents/day =
    2e8 micro-cents/day) with r2_ppm exactly 1e6; a single-day group
    has no slope (NULL); a constant-y group has slope 0 and no r2
    (NULL); and an arbitrary group must equal the independent python
    staged-integer twin bit-for-bit. Then cross-engine parity on the
    same corpus."""
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_OLS_TREND_ORACLE,
        agg_ols_trend,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    DAY = 86400
    rows = []
    # nation 0 (custkey 4): y = 100.00 + 2.00 * t currency, 10 days
    line = [(4, (9000 + t) * DAY, 100.00 + 2.00 * t) for t in range(10)]
    rows += line
    # nation 1 (custkey 1): all orders on one day
    rows += [(1, 9100 * DAY, 50.0), (1, 9100 * DAY, 60.0),
             (1, 9100 * DAY, 70.0)]
    # nation 2 (custkey 2): constant price over many days
    rows += [(2, (9000 + 37 * i) * DAY, 123.45) for i in range(5)]
    # nation 3 (custkey 3): arbitrary, checked against the python twin
    arb = [(3, 8100, 10.00), (3, 9950, 905.50), (3, 8700, 3.25),
           (3, 10250, 44.75), (3, 9001, 500.00)]
    rows += [(c, day * DAY, p) for c, day, p in arb]
    d = _ols_corpus(tmp_path, "ols_exact", rows)
    out = {r.n_name: r for r in agg_ols_trend(spark, d).collect()}
    assert out["NATION_0"].slope_microcents_per_day == 200_000_000
    assert out["NATION_0"].r2_ppm == 1_000_000
    assert out["NATION_1"].slope_microcents_per_day is None
    assert out["NATION_1"].r2_ppm is None
    assert out["NATION_2"].slope_microcents_per_day == 0
    assert out["NATION_2"].r2_ppm is None
    n, xbar, mean, slope, r2 = _py_ols_staged(
        [(day, round(p * 100)) for _, day, p in arb]
    )
    got = out["NATION_3"]
    assert (got.n_orders, got.xbar_day_ppm, got.mean_cents) == (
        n, xbar, mean,
    )
    assert got.slope_microcents_per_day == slope
    assert got.r2_ppm == r2
    compare_with_oracle(agg_ols_trend(spark, d), AGG_OLS_TREND_ORACLE, d)


@given(
    st.lists(
        st.integers(-(2**62), 2**62),  # numerators of either sign,
        # far beyond the double-precision range so the helper's
        # integer path (never a float detour) is what's measured
        min_size=1,
        max_size=20,
    ),
    st.sampled_from([2, 7, 24, 86400, 3600000000]),
)
@_SETTINGS
def test_floor_div_helpers_match_python_floor(spark, xs, d):
    """The shared floor-division helper pair (functions/agg.py) is the
    ONLY sanctioned floor-div spelling — pin both sides to python's
    true-floor `//` for numerators of either sign and every divisor
    class the operators use. Bare integer division truncates toward
    zero in BOTH engines (the r9 one-sided-oracle bug came from
    believing otherwise), so this test fails loudly if either helper
    ever degrades to a bare div."""
    import duckdb

    from simple_etl_pipeline_spark.functions.agg import (
        floor_div,
        sql_floor_div,
    )

    expected = [x // d for x in xs]
    sdf = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "i long, x long"
    )
    got_spark = [
        r.q
        for r in sdf.select("i", floor_div("x", d).alias("q"))
        .orderBy("i")
        .collect()
    ]
    assert got_spark == expected
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {sql_floor_div(str(x), d)}").fetchone()[0]
        for x in xs
    ]
    assert got_duck == expected


def test_ols_trend_pre_1970_non_midnight_floor_day(spark, tmp_path):
    """ADVICE r9 pin: a pre-1970 timestamp that is NOT midnight
    separates floor-day from truncate-day bucketing. 1969-12-30 18:00
    is epoch -108000 s: truncation gives day -1, floor gives day -2 —
    bare integer division (`div` in Spark, `//` in DuckDB — BOTH
    truncate toward zero) lands one day high on either side unless the
    shared floor_div / sql_floor_div pair is applied to both. Pinned
    against the hand-computed floor day AND the oracle."""
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_OLS_TREND_ORACLE,
        OLS_X0_DAYS,
        agg_ols_trend,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    # nation 0 (custkey 4): two pre-1970 evening orders one floor-day
    # apart, plus a post-1970 non-midnight one on another custkey of
    # the same nation to keep the group non-degenerate
    rows = [
        (4, -108000, 10.00),   # 1969-12-30 18:00 -> floor day -2
        (4, -21600, 20.00),    # 1969-12-31 18:00 -> floor day -1
        (8, 3600, 30.00),      # 1970-01-01 01:00 -> floor day 0
    ]
    d = _ols_corpus(tmp_path, "ols_pre1970", rows)
    out = {r.n_name: r for r in agg_ols_trend(spark, d).collect()}
    n, xbar, mean, slope, r2 = _py_ols_staged(
        [(-2, 1000), (-1, 2000), (0, 3000)]
    )
    got = out["NATION_0"]
    assert got.n_orders == n
    # truncate-day bucketing would read x-bar one third of a day high
    assert got.xbar_day_ppm == xbar
    assert got.mean_cents == mean
    assert got.slope_microcents_per_day == slope
    assert got.r2_ppm == r2
    # slope over floor days: exactly +10.00 currency per day
    assert got.slope_microcents_per_day == 1_000_000_000
    compare_with_oracle(agg_ols_trend(spark, d), AGG_OLS_TREND_ORACLE, d)


def test_ols_trend_single_order_group_and_sf001_no_degenerates(
    spark, tmp_path, sf_dir
):
    """Registration-gate self-review r12 (VERDICT r11 #3): the
    degenerate the bank-stage tests never pinned in isolation — a
    nation with exactly ONE order. n=1 makes BOTH centered moments
    zero (sxx_n = n*Sxx - Sx^2 = 0 and syy_n = 0), so slope and r2
    must be NULL on BOTH engines while mean_cents / xbar_day_ppm
    still read the single row's exact values (n=1 exercises the
    sign-staged div-by-n heads at their smallest divisor). A 2-row
    same-day group pins that n>1 with zero x-variance lands in the
    SAME NULL branch. Then the driver-scale side: at the sf dir the
    gate runs, every nation must be NON-degenerate (n >= 2, non-NULL
    slope), so the NULL branch — now pinned cross-engine here — is
    provably not load-bearing for the driver hash."""
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_OLS_TREND_ORACLE,
        agg_ols_trend,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    DAY = 86400
    rows = [
        # nation 1 (custkey 1): exactly one order, negative-ish price
        # cents odd so the tdiv heads see a non-multiple numerator
        (1, 9123 * DAY + 7 * 3600, 333.33),
        # nation 2 (custkey 2): two orders, SAME day -> sxx_n = 0 with
        # n > 1 (the same NULL branch via variance, not via n)
        (2, 9200 * DAY, 10.00),
        (2, 9200 * DAY + 3600, 99.99),
        # nation 3 (custkey 3): a healthy group so the corpus has a
        # non-NULL row to hash alongside the NULLs
        (3, 9000 * DAY, 20.00),
        (3, 9010 * DAY, 30.00),
        (3, 9020 * DAY, 55.00),
    ]
    d = _ols_corpus(tmp_path, "ols_n1", rows)
    out = {r.n_name: r for r in agg_ols_trend(spark, d).collect()}
    one = out["NATION_1"]
    assert one.n_orders == 1
    assert one.slope_microcents_per_day is None
    assert one.r2_ppm is None
    assert one.mean_cents == 33333
    # the 07:00 offset floors away in the day bucketing BEFORE the
    # average, so xbar is the exact whole day in ppm
    assert one.xbar_day_ppm == 9123 * 1_000_000
    same_day = out["NATION_2"]
    assert same_day.n_orders == 2
    assert same_day.slope_microcents_per_day is None
    assert same_day.r2_ppm is None
    assert same_day.mean_cents == (1000 + 9999) // 2
    assert out["NATION_3"].slope_microcents_per_day is not None
    # NULL slopes and NULL r2 must hash identically cross-engine
    compare_with_oracle(agg_ols_trend(spark, d), AGG_OLS_TREND_ORACLE, d)
    # driver-scale guard: the sf0.01/sf0.001 gate corpora contain no
    # degenerate nation, so the pinned NULL branch never decides the
    # driver hash (if TPC-H data ever did produce one, the rows above
    # already pin both engines agreeing on it)
    for r in agg_ols_trend(spark, sf_dir).collect():
        assert r.n_orders >= 2, r
        assert r.slope_microcents_per_day is not None, r


def test_boilerplate_ppm_staging_survives_past_bigint_products(spark):
    """Registration-gate self-review r12 finding (the one code change
    it forced): boiler_ppm's product `removed_chars * 1000000`
    overflows BIGINT once a source carries > 9.2e12 boilerplate chars
    — ~9 TB of removed text in ONE source, inside the 100 TB
    envelope (the r9 drift_ppm-overflow hazard class). The overflow
    driver is VOLUME, so no test corpus can make the query itself
    fire it; pin the idiom instead: the exact staged expressions now
    in the query and its oracle, evaluated at a past-BIGINT operating
    point, agree on both engines — and the UNstaged BIGINT form
    provably throws under Spark ANSI at the same point (the hazard is
    real, not theoretical)."""
    import duckdb
    import pytest as _pytest
    from pyspark.errors import ArithmeticException

    removed, total = 9_300_000_000_000, 10_000_000_000_000
    staged = spark.sql(
        f"select cast(cast({removed} as decimal(38,0)) * 1000000"
        f" div greatest({total}, 1) as bigint) as ppm"
    ).collect()[0].ppm
    oracle = duckdb.sql(
        f"select CAST(CAST({removed} AS HUGEINT) * 1000000"
        f" // GREATEST({total}, 1) AS BIGINT) AS ppm"
    ).fetchone()[0]
    assert staged == oracle == 930_000
    with _pytest.raises(ArithmeticException):
        spark.sql(
            f"select {removed} * 1000000 div greatest({total}, 1)"
        ).collect()


def test_k_anonymity_negative_band_class_at_exact_k_boundary(
    spark, tmp_path
):
    """Registration-gate self-review r12 (VERDICT r11 #3, named ask):
    a NEGATIVE-balance class sitting EXACTLY at each k threshold —
    the strict `cnt < k` reading means a class of exactly k rows
    PASSES, and the class membership itself is only correct if the
    negative balances floor-banded (the pmod idiom's reason to
    exist: truncation would split band -1 rows into band 0, changing
    the class size AT the boundary and flipping the verdict). Classes:
    exactly 5 rows in band -1 (passes k5, violates k25), exactly 4 in
    band -2 (violates k5 — the boundary pair), exactly 25 in band -3
    (passes BOTH: also exactly at the k25 boundary). The band-(-1)
    class only reaches 5 because -0.01 and -999.99 floor to the same
    band; under truncation it would read 2+3 split and flip BOTH
    k5 verdicts."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_K_ANONYMITY_ORACLE,
        dq_k_anonymity,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    rows = []  # (nationkey, segment, acctbal)
    rows += [(1, "A", -0.01)] * 2            # band -1
    rows += [(1, "A", -999.99)] * 3          # band -1 -> class of 5
    rows += [(1, "B", -1000.01)] * 4         # band -2 -> class of 4
    rows += [(1, "C", -2000.50)] * 25        # band -3 -> class of 25
    cust = pa.table(
        {
            "c_custkey": pa.array(range(len(rows)), pa.int64()),
            "c_name": pa.array(
                [f"c{i}" for i in range(len(rows))], pa.string()
            ),
            "c_nationkey": pa.array([n for n, _, _ in rows], pa.int32()),
            "c_acctbal": pa.array([b for _, _, b in rows], pa.float64()),
            "c_mktsegment": pa.array([s for _, s, _ in rows], pa.string()),
        }
    )
    d = _edge_dir(tmp_path, "kanon_boundary", {"customer": cust})
    out = dq_k_anonymity(spark, d).collect()[0]
    assert out.n_rows == 34 and out.n_classes == 3
    assert out.min_class_size == 4
    # k5: ONLY the 4-row class violates — the 5-row negative-band
    # class is exactly at the boundary and passes (strict <)
    assert out.k5_classes == 1 and out.k5_rows == 4
    # k25: the 5-row and 4-row classes violate; the exactly-25 class
    # passes (strict < again, at the other threshold)
    assert out.k25_classes == 2 and out.k25_rows == 9
    assert out.k5_risk_ppm == 4 * 1_000_000 // 34
    assert out.k25_risk_ppm == 9 * 1_000_000 // 34
    compare_with_oracle(dq_k_anonymity(spark, d), DQ_K_ANONYMITY_ORACLE, d)


@given(
    st.lists(
        st.tuples(
            st.integers(1, 6),                     # custkey -> 4 nations
            st.integers(-15000, 40000),            # epoch day — NEGATIVE
            # days (pre-1970) exercise the floor day bucketing, where
            # bare integer division (truncation in BOTH engines) would
            # land one day high
            st.integers(0, 86399),                 # seconds of day —
            # NON-MIDNIGHT times are what separate floor from truncate
            # (the r9 oracle bug was invisible to a midnight-only
            # corpus: multiples of 86400 divide exactly either way)
            st.integers(-5_000_000, 60_000_000),   # cents — NEGATIVE
            # prices (refund/credit rows) exercise the explicit
            # sign-symmetric staged division shared with the twin
        ),
        min_size=1,
        max_size=40,
    )
)
@_SETTINGS
def test_ols_trend_fuzzed_cross_engine(spark, tmp_path_factory, rows):
    """Random corpora (timestamps on BOTH sides of the X0 shift AND of
    the 1970 epoch, at arbitrary times of day, so negative x, negative
    sxy_n, negative epoch and floor-vs-truncate day bucketing are all
    exercised) must match the oracle AND the independent python twin
    per nation."""
    from simple_etl_pipeline_spark.plans.relational import (
        AGG_OLS_TREND_ORACLE,
        agg_ols_trend,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    orders = [
        (c, d * 86400 + sod, cents / 100.0) for c, d, sod, cents in rows
    ]
    sf = _ols_corpus(tmp_path_factory.mktemp("ols_fuzz"), "c", orders)
    out = {r.n_name: r for r in agg_ols_trend(spark, sf).collect()}
    by_nation: dict[int, list] = {}
    for c, d, _sod, cents in rows:
        # python // floors, so d * 86400 + sod lands on floor day d
        # for every sod in [0, 86400) — the twin keys on the floor day
        by_nation.setdefault(c % 4, []).append((d, cents))
    for nk, pairs in by_nation.items():
        n, xbar, mean, slope, r2 = _py_ols_staged(pairs)
        got = out[f"NATION_{nk}"]
        assert got.n_orders == n
        assert got.xbar_day_ppm == xbar
        assert got.mean_cents == mean
        assert got.slope_microcents_per_day == slope
        assert got.r2_ppm == r2
    compare_with_oracle(agg_ols_trend(spark, sf), AGG_OLS_TREND_ORACLE, sf)


def test_boilerplate_matches_oracle_and_fires(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import (
        TXT_BOILERPLATE_ORACLE,
        txt_boilerplate_lines,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        txt_boilerplate_lines(spark, sf_dir), TXT_BOILERPLATE_ORACLE, sf_dir
    )
    rows = txt_boilerplate_lines(spark, sf_dir).collect()
    # the injected chrome guarantees boilerplate at every SF
    assert sum(r.boiler_occurrences for r in rows) > 0
    for r in rows:
        assert r.removed_chars <= r.n_line_chars
        assert 0 <= r.boiler_ppm <= 1_000_000


def test_boilerplate_semantics_on_edge_corpus(spark, tmp_path):
    """Doc ids avoid the %5/%7 chrome injection so the corpus is pure:
    a line must be boilerplate at df=3 distinct docs but not df=2;
    whitespace variants (space/tab/CR padding) trim to the same key;
    a within-doc repeat counts ONCE toward df but every occurrence is
    removed; NULL-text docs still count as documents; NULL source is
    its own group. Exact numbers asserted, then engine parity."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.text import (
        TXT_BOILERPLATE_ORACLE,
        txt_boilerplate_lines,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    B = "SHARED FOOTER"     # 13 chars; boiler (docs 1, 2, 3, 8)
    T2 = "TWICE ONLY"       # 10 chars; df=2 -> not boiler (docs 4, 6)
    docs = [
        # (doc_id, text, source)
        (1, f"alpha one\n  {B}", "s1"),
        (2, f"beta two\n\t{B}\r", "s1"),
        (3, f"{B}   \ngamma three", "s2"),
        (4, f"{T2}\ndelta four", "s2"),
        (6, f"{T2}", "s2"),
        (8, f"{B}\nmiddle\n {B} ", None),   # within-doc repeat
        (9, None, "s3"),                      # NULL text
        (11, "   \n\t\r\n", "s3"),           # only empty lines
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _, _ in docs], pa.int64()),
            "text": pa.array([t for _, t, _ in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array([s for _, _, s in docs], pa.string()),
            "n_chars": pa.array(
                [len(t) if t else 0 for _, t, _ in docs], pa.int64()
            ),
        }
    )
    d = _edge_dir(tmp_path, "boiler_edge", {"documents": tbl})
    out = {r.source: r for r in txt_boilerplate_lines(spark, d).collect()}
    assert set(out) == {"s1", "s2", "s3", "(null)"}
    # s1: docs 1,2 -> 4 lines, B removed twice (trim variants merge)
    assert out["s1"].n_docs == 2 and out["s1"].n_lines == 4
    assert out["s1"].boiler_lines == 1
    assert out["s1"].boiler_occurrences == 2
    assert out["s1"].removed_chars == 2 * len(B)
    # s2: docs 3,4,6 -> 5 lines; B once; T2 is df=2 -> kept
    assert out["s2"].n_docs == 3 and out["s2"].n_lines == 5
    assert out["s2"].boiler_lines == 1
    assert out["s2"].boiler_occurrences == 1
    assert out["s2"].removed_chars == len(B)
    # NULL source: doc 8 alone; B twice within one doc -> df counted
    # once, both occurrences removed
    assert out["(null)"].n_docs == 1 and out["(null)"].n_lines == 3
    assert out["(null)"].boiler_occurrences == 2
    assert out["(null)"].removed_chars == 2 * len(B)
    # s3: a NULL-text doc and an empty-lines doc still count as docs
    assert out["s3"].n_docs == 2 and out["s3"].n_lines == 0
    assert out["s3"].boiler_ppm == 0
    compare_with_oracle(
        txt_boilerplate_lines(spark, d), TXT_BOILERPLATE_ORACLE, d
    )


@given(st.text(st.characters(exclude_categories=("Cs",)), min_size=1,
               max_size=200))
@_SETTINGS
def test_phash_sql_hash_matches_python(s):
    """The oracle's hash expression (PHASH_PS_SQL + PHASH_PACK_SQL)
    must equal the independent python reference on arbitrary unicode —
    byte sampling, exact mean comparison and bit packing all locked.
    (The Spark side is locked to the oracle by the parity tests.)"""
    import duckdb

    from simple_etl_pipeline_spark.plans.multimodal import (
        PHASH_PACK_SQL,
        PHASH_PS_SQL,
        py_avg_hash,
    )

    if len(s.encode("utf-8")) == 0:
        return
    got = duckdb.sql(
        f"WITH imgs AS (SELECT hex(encode(?::VARCHAR)) AS hx, "
        f"CAST(octet_length(encode(?::VARCHAR)) AS BIGINT) AS sz), "
        f"sampled AS (SELECT {PHASH_PS_SQL} AS ps FROM imgs) "
        f"SELECT {PHASH_PACK_SQL} FROM sampled",
        params=[s, s],
    ).fetchone()[0]
    assert got == py_avg_hash(s)
    assert 0 <= got < (1 << 60)


def test_phash_dedup_matches_oracle_and_finds_injected(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.multimodal import (
        MM_PHASH_ORACLE,
        mm_phash_dedup,
    )
    from simple_etl_pipeline_spark.testing import (
        compare_with_oracle,
        duckdb_connection,
    )

    compare_with_oracle(
        mm_phash_dedup(spark, sf_dir), MM_PHASH_ORACLE, sf_dir
    )
    rows = mm_phash_dedup(spark, sf_dir).collect()
    exact = [r for r in rows if r.kind == "exact"]
    # cluster-row internal consistency: weight == C(members, 2),
    # hamming 0, no partner columns
    for r in exact:
        assert r.weight == r.members_a * (r.members_a - 1) // 2
        assert r.hamming == 0 and r.doc_b is None and r.members_b is None
    for r in rows:
        if r.kind == "near":
            assert 0 < r.hamming <= 8
            assert r.weight == r.members_a * r.members_b
            assert r.xor_ids is None
    # every byte-identical injected re-crawl shares its base's hash,
    # so each such PAIR lands inside some exact cluster's C(m,2)
    # weight — the exact weights must cover them all
    con = duckdb_connection(sf_dir)
    (n_injected,) = con.execute(
        "SELECT COUNT(*) FROM documents WHERE doc_id % 15 = 0 "
        "AND doc_id % 3 = 0 AND text IS NOT NULL "
        "AND octet_length(encode(text)) > 0"
    ).fetchone()
    assert sum(r.weight for r in exact) >= n_injected > 0


def test_phash_clusters_on_constructed_corpus(spark, tmp_path):
    """Constructed blobs with KNOWN Hamming relationships, checked
    against a full python model of the operator (hash, clustering,
    band candidacy, verification): a byte-identical pair collapses to
    ONE exact cluster row, an in-place small edit yields a near row at
    its true distance (with the 2-member cluster's weight), a
    restructured blob appears nowhere, and a sub-60-byte blob pair
    (sample positions repeat — still well-defined) clusters exactly.
    Doc ids avoid the %15/%21 injection residues so the corpus is
    exactly what the test writes."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.multimodal import (
        MM_PHASH_ORACLE,
        PHASH_BAND_BITS,
        PHASH_BANDS,
        PHASH_HAMMING_MAX,
        mm_phash_dedup,
        py_avg_hash,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    base = "The quick brown fox jumps over the lazy dog. " * 4  # 184 B
    # in-place low-byte edit at a SAMPLED position ((1*184)//60 = 3):
    # deterministically pick the first candidate the python reference
    # scores within the (0, 8] near-dup window
    near = next(
        c
        for c in (base[:3] + r + base[6:] for r in ("!!!", "...", "ZZZ"))
        if 0
        < bin(py_avg_hash(base) ^ py_avg_hash(c)).count("1")
        <= 8
    )
    far = "".join(sorted(base))          # same bytes, fully reordered
    short = "tiny-blob!"                  # 10 bytes < 60 samples
    # ids ≡ 0 (mod 3), not ≡ 0 (mod 15) or (mod 21)
    docs = [(3, base), (6, near), (9, far), (12, short), (18, short),
            (24, base)]
    h = {i: py_avg_hash(t) for i, t in docs}
    assert h[3] == h[24] and h[12] == h[18]
    assert 0 < bin(h[3] ^ h[6]).count("1") <= 8
    assert bin(h[3] ^ h[9]).count("1") > 8

    # full python model: clusters, then band-candidate near pairs
    clusters: dict[int, list[int]] = {}
    for i, _ in docs:
        clusters.setdefault(h[i], []).append(i)
    exp_exact = {
        (min(m), len(m), len(m) * (len(m) - 1) // 2)
        for m in clusters.values()
        if len(m) >= 2
    }
    mask = (1 << PHASH_BAND_BITS) - 1

    def bands_match(x, y):
        return any(
            (x >> (b * PHASH_BAND_BITS)) & mask
            == (y >> (b * PHASH_BAND_BITS)) & mask
            for b in range(PHASH_BANDS)
        )

    hs = sorted(clusters, key=lambda k: min(clusters[k]))
    exp_near = set()
    for i, ha in enumerate(hs):
        for hb in hs[i + 1:]:
            d0 = bin(ha ^ hb).count("1")
            if 0 < d0 <= PHASH_HAMMING_MAX and bands_match(ha, hb):
                sa, sb = min(clusters[ha]), min(clusters[hb])
                exp_near.add(
                    (min(sa, sb), max(sa, sb), d0,
                     len(clusters[ha]) * len(clusters[hb]))
                )
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["s"] * len(docs), pa.string()),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }
    )
    d = _edge_dir(tmp_path, "phash_edge", {"documents": tbl})
    rows = mm_phash_dedup(spark, d).collect()
    got_exact = {
        (r.doc_a, r.members_a, r.weight)
        for r in rows
        if r.kind == "exact"
    }
    got_near = {
        (r.doc_a, r.doc_b, r.hamming, r.weight)
        for r in rows
        if r.kind == "near"
    }
    assert got_exact == exp_exact
    assert got_near == exp_near
    assert (3, 6, bin(h[3] ^ h[6]).count("1"), 2) in got_near
    assert all(9 not in (a, b) for a, b, _, _ in got_near)
    # the byte-identical pairs are exact rows, with membership pinned
    xor_by_survivor = {
        r.doc_a: r.xor_ids for r in rows if r.kind == "exact"
    }
    assert xor_by_survivor[3] == 3 ^ 24
    assert xor_by_survivor[12] == 12 ^ 18
    compare_with_oracle(mm_phash_dedup(spark, d), MM_PHASH_ORACLE, d)


_PHASH_FUZZ_BASES = [
    "The quick brown fox jumps over the lazy dog. " * 4,
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit sed do " * 3,
    "0123456789" * 13,
    "tiny-blob!",  # sub-60-byte: sample positions repeat, still defined
]


def _phash_python_model(docs):
    """Full python model of mm_phash_dedup (hash -> clusters -> band
    candidacy at the CURRENT PHASH_BANDS x PHASH_BAND_BITS geometry ->
    exact Hamming verify): returns (exact rows, near rows) in the
    operator's set form. The same model the constructed-corpus test
    inlines, factored for the randomized fuzz."""
    from simple_etl_pipeline_spark.plans.multimodal import (
        PHASH_BAND_BITS,
        PHASH_BANDS,
        PHASH_HAMMING_MAX,
        py_avg_hash,
    )

    h = {i: py_avg_hash(t) for i, t in docs}
    clusters: dict[int, list[int]] = {}
    for i, _ in docs:
        clusters.setdefault(h[i], []).append(i)
    exp_exact = {
        (min(m), len(m), len(m) * (len(m) - 1) // 2)
        for m in clusters.values()
        if len(m) >= 2
    }
    mask = (1 << PHASH_BAND_BITS) - 1

    def bands_match(x, y):
        return any(
            (x >> (b * PHASH_BAND_BITS)) & mask
            == (y >> (b * PHASH_BAND_BITS)) & mask
            for b in range(PHASH_BANDS)
        )

    exp_near = set()
    hs = sorted(clusters)
    for i, ha in enumerate(hs):
        for hb in hs[i + 1:]:
            d0 = bin(ha ^ hb).count("1")
            if 0 < d0 <= PHASH_HAMMING_MAX and bands_match(ha, hb):
                sa, sb = min(clusters[ha]), min(clusters[hb])
                exp_near.add(
                    (min(sa, sb), max(sa, sb), d0,
                     len(clusters[ha]) * len(clusters[hb]))
                )
    return exp_exact, exp_near


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),     # base template
            st.integers(0, 10**6),  # mutation position seed
            st.integers(0, 4),     # number of in-place byte mutations
        ),
        min_size=1,
        max_size=10,
    )
)
@_SETTINGS
def test_phash_dedup_fuzzed_against_python_model(
    spark, tmp_path_factory, specs
):
    """Randomized end-to-end sweep of the 3x20-bit band geometry (the
    r10 mitigation): corpora of template blobs with 0-4 in-place byte
    mutations land at assorted Hamming distances, so exact clusters,
    band-found near pairs, band-SPLIT misses (flips across all 3
    bands) and beyond-threshold pairs all occur — the engine output
    must equal the independent python model exactly, and the oracle
    must hash-match on the same corpus. Doc ids avoid the %15/%21
    injection residues, so the corpus is exactly what the test
    writes."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.multimodal import (
        MM_PHASH_ORACLE,
        mm_phash_dedup,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    id_pool = [
        i for i in range(3, 3 * 300, 3) if i % 15 != 0 and i % 21 != 0
    ]
    docs = []
    for n, (b, seed, muts) in enumerate(specs):
        t = list(_PHASH_FUZZ_BASES[b])
        for m in range(muts):
            pos = (seed * 31 + m * 97) % len(t)
            t[pos] = chr(33 + ((seed + m * 13) % 90))  # printable ASCII
        docs.append((id_pool[n], "".join(t)))
    exp_exact, exp_near = _phash_python_model(docs)

    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["s"] * len(docs), pa.string()),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("phash_fuzz"), "c", {"documents": tbl}
    )
    rows = mm_phash_dedup(spark, d).collect()
    got_exact = {
        (r.doc_a, r.members_a, r.weight) for r in rows if r.kind == "exact"
    }
    got_near = {
        (r.doc_a, r.doc_b, r.hamming, r.weight)
        for r in rows
        if r.kind == "near"
    }
    assert got_exact == exp_exact
    assert got_near == exp_near
    compare_with_oracle(mm_phash_dedup(spark, d), MM_PHASH_ORACLE, d)


def test_ols_trend_triangulates_with_builtin_regr_slope(spark, sf_dir):
    """Three INDEPENDENT implementations of the regression must agree:
    the operator's staged-integer slope, Spark's builtin regr_slope,
    and DuckDB's builtin regr_slope (both double-accumulating) — the
    exact value must sit within a relative whisker of both builtins
    (they differ from exact only by float accumulation order). This
    bounds the FORMULA, not just the engines' agreement with each
    other."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.relational import (
        OLS_X0_DAYS,
        agg_ols_trend,
    )
    from simple_etl_pipeline_spark.schemas import load_table
    from simple_etl_pipeline_spark.testing import duckdb_connection

    exact = {
        r.n_name: r.slope_microcents_per_day
        for r in agg_ols_trend(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    spark_builtin = {
        r.n_name: r.b
        for r in (
            orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(
                F.expr(
                    "regr_slope(o_totalprice * 100,"
                    f" unix_timestamp(o_orderdate) div 86400"
                    f" - {OLS_X0_DAYS})"
                ).alias("b")
            )
            .collect()
        )
    }
    con = duckdb_connection(sf_dir)
    duck_builtin = dict(
        con.execute(
            "SELECT n_name, regr_slope(o_totalprice * 100,"
            f" CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400"
            f" - {OLS_X0_DAYS}) "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
        ).fetchall()
    )
    for name, micro in exact.items():
        if micro is None:
            continue
        for builtin in (spark_builtin[name], duck_builtin[name]):
            # exact is truncated to 1e-6 cents/day; builtins carry
            # float accumulation error — agree to 1e-6 relative + the
            # truncation ulp
            tol = abs(builtin) * 1e-6 + 2e-6
            assert abs(micro / 1e6 - builtin) <= tol, (
                name, micro, builtin,
            )


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", None]),   # source incl. NULL
            st.lists(
                st.one_of(
                    # shared lines (cross-doc df structure) and noise
                    st.sampled_from(
                        ["SHARED A", " SHARED A\t", "rare line",
                         "", "   ", "\t\r"]
                    ),
                    # arbitrary unicode incl. astral chars — length()
                    # and split/trim must agree code-point-for-code-
                    # point across engines
                    st.text(
                        st.characters(exclude_categories=("Cs",)),
                        max_size=12,
                    ),
                ),
                max_size=5,
            ),
        ),
        min_size=1,
        max_size=10,
    )
)
@_SETTINGS
def test_boilerplate_fuzzed_cross_engine(spark, tmp_path_factory, rows):
    """Random multi-line unicode corpora through BOTH engines: newline
    splitting, the ' \\t\\r' trim set, code-point length() and the
    df>=3 threshold must agree on arbitrary input, not just the
    hand-built corpus. Newlines injected via join so every doc is
    multi-line; doc ids stride 35 past the %5/%7 chrome residues and
    a NULL-text doc rides along."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.text import (
        TXT_BOILERPLATE_ORACLE,
        txt_boilerplate_lines,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    texts = ["\n".join(lines) for _, lines in rows] + [None]
    srcs = [s for s, _ in rows] + ["s1"]
    ids = [1 + 35 * i for i in range(len(texts))]  # 1, 36, 71, ... —
    # never % 5 == 0 or % 7 == 0 (35k+1 mod 5 = 1, mod 7 = 1)
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(srcs, pa.string()),
            "n_chars": pa.array(
                [len(t) if t else 0 for t in texts], pa.int64()
            ),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("boiler_fuzz"), "c", {"documents": tbl}
    )
    compare_with_oracle(
        txt_boilerplate_lines(spark, d), TXT_BOILERPLATE_ORACLE, d
    )


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                       # nationkey
            st.sampled_from(["A", "B", None]),       # segment incl. NULL
            st.one_of(
                st.none(),                           # NULL balance
                # signed cents straddling the band edges (exact 2dp)
                st.integers(-200_001, 200_001),
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
@_SETTINGS
def test_k_anonymity_fuzzed_cross_engine(spark, tmp_path_factory, rows):
    """Random customers with signed/NULL balances straddling the
    1000-unit band edges: floor banding, NULL QI grouping and both
    threshold counts must agree across engines on arbitrary input."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_K_ANONYMITY_ORACLE,
        dq_k_anonymity,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    tbl = pa.table(
        {
            "c_custkey": pa.array(range(len(rows)), pa.int64()),
            "c_name": pa.array(
                [f"c{i}" for i in range(len(rows))], pa.string()
            ),
            "c_nationkey": pa.array([n for n, _, _ in rows], pa.int32()),
            "c_acctbal": pa.array(
                [None if c is None else c / 100.0 for _, _, c in rows],
                pa.float64(),
            ),
            "c_mktsegment": pa.array([s for _, s, _ in rows], pa.string()),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("kanon_fuzz"), "c", {"customer": tbl}
    )
    compare_with_oracle(
        dq_k_anonymity(spark, d), DQ_K_ANONYMITY_ORACLE, d
    )


# --- r13 bank: attention-mask sequence packing ---------------------------
def test_attention_pack_exact_manifest_on_edge_corpus(spark, tmp_path):
    """Constructed corpus pinning every manifest column exactly: a doc
    that fills sequence 0 to the token (boundary-exact, pad 0), a
    5000-token doc straddling THREE sequences (only its first sequence
    counts a start; middle chunks have n_starts=0 and boundary_xor=0
    via the coalesce), two docs packing into the final partial
    sequence (in-sequence boundary offsets pinned by XOR), an
    empty-text doc and a NULL-text doc (both zero trainable tokens —
    excluded before packing, invisible everywhere). Then full engine
    parity on the same corpus."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.text import (
        ATTN_CTX,
        TRAIN_ATTENTION_PACK_ORACLE,
        train_attention_pack,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    assert ATTN_CTX == 2048  # the arithmetic below is spelled for it

    def words(n):
        return " ".join(["w"] * n)

    docs = [
        (1, words(2048)),   # exactly seq 0
        (2, words(5000)),   # seqs 1..3, start at boff 0 of seq 1
        (3, words(96)),     # seq 3, boff 7048-6144=904
        (4, ""),            # zero tokens -> excluded
        (5, None),          # NULL text -> excluded
        (6, words(1)),      # seq 3, boff 1000
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["s"] * len(docs), pa.string()),
            "n_chars": pa.array(
                [len(t) if t else 0 for _, t in docs], pa.int64()
            ),
        }
    )
    d = _edge_dir(tmp_path, "attn_edge", {"documents": tbl})
    df = train_attention_pack(spark, d)
    out = {r.seq_id: r for r in df.collect()}
    assert sorted(out) == [0, 1, 2, 3]
    s0 = out[0]
    assert (s0.n_docs, s0.n_starts, s0.boundary_xor) == (1, 1, 0)
    assert (s0.n_tokens, s0.pad_tokens, s0.fill_ppm) == (2048, 0, 1000000)
    assert (s0.first_doc, s0.last_doc, s0.xor_docs) == (1, 1, 1)
    s1 = out[1]
    assert (s1.n_docs, s1.n_starts, s1.boundary_xor) == (1, 1, 0)
    assert (s1.n_tokens, s1.pad_tokens) == (2048, 0)
    s2 = out[2]  # a middle chunk of doc 2: no starts at all
    assert (s2.n_docs, s2.n_starts, s2.boundary_xor) == (1, 0, 0)
    assert (s2.n_tokens, s2.pad_tokens) == (2048, 0)
    assert s2.xor_docs == 2
    s3 = out[3]  # tail of doc 2 (904 tokens) + doc 3 (96) + doc 6 (1)
    assert (s3.n_docs, s3.n_starts) == (3, 2)
    assert s3.boundary_xor == 904 ^ 1000
    assert s3.n_tokens == 904 + 96 + 1
    assert s3.pad_tokens == ATTN_CTX - 1001
    assert s3.fill_ppm == 1001 * 1_000_000 // ATTN_CTX
    assert (s3.first_doc, s3.last_doc, s3.xor_docs) == (2, 6, 2 ^ 3 ^ 6)
    compare_with_oracle(
        train_attention_pack(spark, d), TRAIN_ATTENTION_PACK_ORACLE, d
    )


# --- r13 bank: embedding-snapshot drift -----------------------------------
def _emb_parity(vec_id: int) -> int:
    """Python twin of the op's salted md5 split (engine-identical by
    the md5_hash60 contract)."""
    import hashlib

    h = hashlib.md5(f"embdrift|{vec_id}".encode()).hexdigest()[:15]
    return int(h, 16) % 2


def test_embedding_drift_edge_corpus_nan_inf_clamp_and_empty_half(
    spark, tmp_path
):
    """The corruption cases this monitor exists for, pinned exactly:
    NaN and ±Inf coordinates are EXCLUDED from means and counted in
    n_bad (an unguarded cast would THROW under ANSI); a runaway-
    magnitude coordinate clamps at ±EMB_MICROS_CAP instead of
    overflowing; negative means exercise the sign-staged division;
    dimension rows where snapshot B is EMPTY read NULL mean/delta/
    drift (never a divide-by-zero). Exact micros asserted via
    float-exact coordinate choices, then engine parity."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.similarity import (
        DQ_EMBEDDING_DRIFT_ORACLE,
        EMB_MICROS_CAP,
        dq_embedding_drift,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    a_ids = [i for i in range(100) if _emb_parity(i) == 0]
    b_ids = [i for i in range(100) if _emb_parity(i) == 1]
    assert len(a_ids) >= 3 and len(b_ids) >= 2
    nan, inf = float("nan"), float("inf")
    # dim 0: exact quarters -> exact micros; dim 1: corruption zoo;
    # dim 2: negative means (sign-staged div); dim 3: clamp magnitude
    vecs = {
        a_ids[0]: [0.25, nan, -0.5, 1.0e12],
        a_ids[1]: [0.25, 1.0, -0.25, 0.0],
        a_ids[2]: [0.25, inf, -0.75, 0.0],
        b_ids[0]: [0.5, -inf, -0.5, 0.0],
        b_ids[1]: [0.5, 2.0, -1.0, 0.0],
    }
    tbl = pa.table(
        {
            "vec_id": pa.array(sorted(vecs), pa.int64()),
            "embedding": pa.array(
                [vecs[k] for k in sorted(vecs)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    d = _edge_dir(tmp_path, "embdrift_edge", {"embeddings": tbl})
    out = {r.dim: r for r in dq_embedding_drift(spark, d).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    d0 = out[0]  # exact: A mean 250000, B mean 500000 -> +100% drift
    assert (d0.n_a, d0.n_b, d0.n_bad) == (3, 2, 0)
    assert (d0.mean_a_micros, d0.mean_b_micros) == (250000, 500000)
    assert (d0.delta_micros, d0.drift_ppm, bool(d0.flagged)) == (
        250000,
        1000000,
        True,
    )
    d1 = out[1]  # one NaN + two infinities excluded and counted
    assert d1.n_bad == 3
    assert (d1.n_a, d1.n_b) == (1, 1)  # the finite 1.0 and 2.0
    assert (d1.mean_a_micros, d1.mean_b_micros) == (1000000, 2000000)
    d2 = out[2]  # negative means: truncating staged div, exact values
    assert d2.mean_a_micros == -500000  # (-0.5 - 0.25 - 0.75) / 3
    assert d2.mean_b_micros == -750000
    assert d2.delta_micros == -250000
    assert d2.drift_ppm == 500000 and bool(d2.flagged) is True
    d3 = out[3]  # 1e12 * 1e6 micros clamps at the cap; others 0
    assert d3.mean_a_micros == EMB_MICROS_CAP // 3
    assert d3.mean_b_micros == 0
    compare_with_oracle(
        dq_embedding_drift(spark, d), DQ_EMBEDDING_DRIFT_ORACLE, d
    )
    # the empty-half case: a corpus whose every vector hashes into A
    only_a = pa.table(
        {
            "vec_id": pa.array(a_ids[:3], pa.int64()),
            "embedding": pa.array(
                [[1.0], [2.0], [3.0]], pa.list_(pa.float32())
            ),
            "label": pa.array([0, 0, 0], pa.int32()),
        }
    )
    d2dir = _edge_dir(tmp_path, "embdrift_onlya", {"embeddings": only_a})
    row = dq_embedding_drift(spark, d2dir).collect()[0]
    assert (row.n_a, row.n_b) == (3, 0)
    assert row.mean_a_micros == 2000000
    assert row.mean_b_micros is None
    assert row.delta_micros is None and row.drift_ppm is None
    assert row.flagged is None
    compare_with_oracle(
        dq_embedding_drift(spark, d2dir), DQ_EMBEDDING_DRIFT_ORACLE, d2dir
    )


def test_embedding_drift_null_elements_excluded_everywhere(
    spark, tmp_path
):
    """NULL elements INSIDE an embedding array (as opposed to NaN/Inf)
    are excluded from the mean AND from n_bad on both engines: Spark's
    isnan(NULL) is NULL so neither the finite nor the not-finite
    branch counts the element, and DuckDB's isfinite(NULL) behaves
    identically — a NULL coordinate is missing data, not corruption.
    Pinned so neither engine's three-valued logic can silently drift
    into counting them."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.similarity import (
        DQ_EMBEDDING_DRIFT_ORACLE,
        dq_embedding_drift,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    a_ids = [i for i in range(50) if _emb_parity(i) == 0]
    vecs = {
        a_ids[0]: [1.0, None],
        a_ids[1]: [3.0, None],
        a_ids[2]: [None, 0.5],
    }
    tbl = pa.table(
        {
            "vec_id": pa.array(sorted(vecs), pa.int64()),
            "embedding": pa.array(
                [vecs[k] for k in sorted(vecs)], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    d = _edge_dir(tmp_path, "embnull_edge", {"embeddings": tbl})
    out = {r.dim: r for r in dq_embedding_drift(spark, d).collect()}
    d0, d1 = out[0], out[1]
    assert (d0.n_a, d0.n_bad, d0.mean_a_micros) == (2, 0, 2_000_000)
    assert (d1.n_a, d1.n_bad, d1.mean_a_micros) == (1, 0, 500_000)
    compare_with_oracle(
        dq_embedding_drift(spark, d), DQ_EMBEDDING_DRIFT_ORACLE, d
    )


@given(
    st.lists(
        st.lists(
            st.one_of(
                st.floats(
                    min_value=-2e9,
                    max_value=2e9,
                    allow_nan=False,
                    width=32,
                ),
                st.sampled_from(
                    [float("nan"), float("inf"), float("-inf")]
                ),
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_embedding_drift_fuzzed_cross_engine(
    spark, tmp_path_factory, vec_rows
):
    """Cross-engine fuzz over the monitor's hazard surface: arbitrary
    float32 coordinates (magnitudes past the clamp, NaN, ±Inf, ragged
    dims) must hash-match DuckDB exactly — the float->micros rounding,
    the non-finite exclusion, the clamp and the sign-staged divisions
    all agree or this throws/mismatches."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.similarity import (
        DQ_EMBEDDING_DRIFT_ORACLE,
        dq_embedding_drift,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vec_rows)), pa.int64()),
            "embedding": pa.array(vec_rows, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vec_rows), pa.int32()),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("embfuzz"), "c", {"embeddings": tbl}
    )
    compare_with_oracle(
        dq_embedding_drift(spark, d), DQ_EMBEDDING_DRIFT_ORACLE, d
    )


@given(
    st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(
                    [
                        "SHARED FOOTER",
                        "NAV BAR",
                        "body text one",
                        "body text two",
                        "unique-{i}",
                        "",
                    ]
                ),
                st.sampled_from(["", " ", "\t", "\r", " \t", " "]),
                st.sampled_from(["", " ", "\r", "\t\r", " "]),
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=10,
    ),
    st.lists(st.sampled_from(["s1", "s2", None]), min_size=10, max_size=10),
)
@_SETTINGS
def test_boilerplate_fuzzed_cross_engine(
    spark, tmp_path_factory, doc_lines, sources
):
    """Cross-engine fuzz over the boilerplate remover's hazard surface:
    random line pools with random space/tab/CR padding (the exact trim
    class — both engines must merge padded variants into one line key)
    plus NBSP padding (NOT in the trim class — both engines must treat
    it as line content), empty lines, empty docs, repeated lines
    within a doc, NULL sources. Any trim/char-class divergence between
    Spark's trim(BOTH ...) and DuckDB's trim(ln, chars) hash-mismatches
    here."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.text import (
        TXT_BOILERPLATE_ORACLE,
        txt_boilerplate_lines,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    texts = []
    for i, lines in enumerate(doc_lines):
        if not lines:
            texts.append(None)
            continue
        texts.append(
            "\n".join(
                pre + body.replace("{i}", str(i)) + post
                for body, pre, post in lines
            )
        )
    # ids avoid the %5/%7 chrome-injection residues of boiler_corpus
    ids = [1, 2, 3, 4, 6, 8, 9, 11, 12, 13][: len(texts)]
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(sources[: len(texts)], pa.string()),
            "n_chars": pa.array(
                [len(t) if t else 0 for t in texts], pa.int64()
            ),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("boilfuzz"), "c", {"documents": tbl}
    )
    compare_with_oracle(
        txt_boilerplate_lines(spark, d), TXT_BOILERPLATE_ORACLE, d
    )


@given(
    st.lists(st.integers(0, 3000), min_size=1, max_size=25)
)
@_SETTINGS
def test_attention_pack_fuzzed_cross_engine(
    spark, tmp_path_factory, token_counts
):
    """Cross-engine fuzz over the packing arithmetic: arbitrary doc
    token counts (zero-token docs excluded, giant docs straddling many
    sequences, boundary-exact fits) must hash-match DuckDB AND satisfy
    the packing invariants — contiguous seq ids from 0, every
    non-final sequence exactly full, the final sequence's tokens+pad
    = ctx, total packed tokens = the corpus total."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.text import (
        ATTN_CTX,
        TRAIN_ATTENTION_PACK_ORACLE,
        train_attention_pack,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    texts = [" ".join(["w"] * n) if n else "" for n in token_counts]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["s"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("attnfuzz"), "c", {"documents": tbl}
    )
    df = train_attention_pack(spark, d)
    rows = df.collect()
    total = sum(n for n in token_counts if n > 0)
    if total == 0:
        assert rows == []
        return
    assert [r.seq_id for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r.n_tokens == ATTN_CTX and r.pad_tokens == 0
    assert rows[-1].n_tokens + rows[-1].pad_tokens == ATTN_CTX
    assert sum(r.n_tokens for r in rows) == total
    compare_with_oracle(
        train_attention_pack(spark, d), TRAIN_ATTENTION_PACK_ORACLE, d
    )


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),                      # nationkey
            st.sampled_from(["A", "B", None]),      # segment
            st.one_of(
                st.none(),
                st.integers(-300_000, 300_000),     # balance in cents
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
@_SETTINGS
def test_k_anonymity_fuzzed_cross_engine(spark, tmp_path_factory, rows):
    """Cross-engine fuzz over the k-anonymity banding surface: random
    QI tuples with NEGATIVE balances straddling band edges, NULL
    segments and NULL balances — the floor-banding, NULL-class and
    strict-threshold arithmetic must hash-match DuckDB on every draw."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_K_ANONYMITY_ORACLE,
        dq_k_anonymity,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    tbl = pa.table(
        {
            "c_custkey": pa.array(range(len(rows)), pa.int64()),
            "c_name": pa.array(
                [f"c{i}" for i in range(len(rows))], pa.string()
            ),
            "c_nationkey": pa.array([n for n, _, _ in rows], pa.int32()),
            "c_acctbal": pa.array(
                [b / 100.0 if b is not None else None for _, _, b in rows],
                pa.float64(),
            ),
            "c_mktsegment": pa.array([s for _, s, _ in rows], pa.string()),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("kanonfuzz"), "c", {"customer": tbl}
    )
    compare_with_oracle(dq_k_anonymity(spark, d), DQ_K_ANONYMITY_ORACLE, d)


# --- r14 bank: pad-minimizing whole-document shelf packing -----------------
def test_binpack_shelves_edge_corpus_band_boundaries_and_oversize(
    spark, tmp_path
):
    """Every band-ladder boundary and degenerate class pinned with
    exact arithmetic (ATTN_CTX = 2048): counts of 1/2/3 land in bands
    1/2/4 (smallest power of two >= count, strictly), 16 vs 17
    straddles the 16/32 edge, 2047 and 2048 share the top band's
    one-doc shelves, 2049 and 5000 are OVERSIZE (band 0, one manifest
    row per doc, n_seqs = ceil(tokens/ctx)), a 3-doc 513-token band
    splits into a full 2-slot shelf plus a partial one, and
    empty/NULL-text docs vanish before packing. Then full engine
    parity on the same corpus."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.text import (
        ATTN_CTX,
        TRAIN_BINPACK_SHELVES_ORACLE,
        train_binpack_shelves,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    assert ATTN_CTX == 2048  # the arithmetic below is spelled for it

    def words(n):
        return " ".join(["w"] * n) if n else ""

    counts = {
        1: 1, 2: 2, 3: 3, 4: 16, 5: 17, 6: 2047, 7: 2048,
        8: 2049, 9: 5000, 10: 0, 12: 513, 13: 513, 14: 513,
    }
    docs = [(i, words(n)) for i, n in counts.items()] + [(11, None)]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["s"] * len(docs), pa.string()),
            "n_chars": pa.array(
                [len(t) if t else 0 for _, t in docs], pa.int64()
            ),
        }
    )
    d = _edge_dir(tmp_path, "shelf_edge", {"documents": tbl})
    df = train_binpack_shelves(spark, d)
    rows = df.collect()
    got = {(r.band_len, r.shelf_id): r for r in rows}
    assert sorted(got) == [
        (0, 0), (0, 1), (1, 0), (2, 0), (4, 0), (16, 0), (32, 0),
        (1024, 0), (1024, 1), (2048, 0), (2048, 1),
    ]
    # oversize runs: one row per doc, exact sequence-run cost
    o0 = got[(0, 0)]
    assert (o0.n_seqs, o0.n_docs, o0.n_tokens) == (2, 1, 2049)
    assert o0.pad_tokens == 2 * 2048 - 2049
    assert o0.fill_ppm == 2049 * 1_000_000 // (2 * 2048)
    assert (o0.first_doc, o0.last_doc, o0.xor_docs) == (8, 8, 8)
    o1 = got[(0, 1)]
    assert (o1.n_seqs, o1.n_docs, o1.n_tokens) == (3, 1, 5000)
    assert o1.pad_tokens == 3 * 2048 - 5000
    assert o1.fill_ppm == 5000 * 1_000_000 // (3 * 2048)
    # strict band edges: 1 -> band 1, 2 -> band 2, 3 -> band 4,
    # 16 -> band 16, 17 -> band 32
    for band, tokens in [(1, 1), (2, 2), (4, 3), (16, 16), (32, 17)]:
        r = got[(band, 0)]
        assert (r.n_seqs, r.n_docs, r.n_tokens) == (1, 1, tokens), r
        assert r.pad_tokens == 2048 - tokens
        assert r.fill_ppm == tokens * 1_000_000 // 2048
    # 2-slot band: full shelf {12, 13}, partial shelf {14}
    s0 = got[(1024, 0)]
    assert (s0.n_docs, s0.n_tokens, s0.pad_tokens) == (2, 1026, 1022)
    assert (s0.first_doc, s0.last_doc, s0.xor_docs) == (12, 13, 12 ^ 13)
    s1 = got[(1024, 1)]
    assert (s1.n_docs, s1.n_tokens, s1.pad_tokens) == (1, 513, 1535)
    assert s1.fill_ppm == 513 * 1_000_000 // 2048
    # top band: one doc per shelf, in doc_id order; 2048 fills exactly
    t0, t1 = got[(2048, 0)], got[(2048, 1)]
    assert (t0.n_docs, t0.n_tokens, t0.pad_tokens) == (1, 2047, 1)
    assert t0.xor_docs == 6
    assert (t1.n_tokens, t1.pad_tokens, t1.fill_ppm) == (
        2048, 0, 1_000_000,
    )
    assert t1.xor_docs == 7
    compare_with_oracle(
        train_binpack_shelves(spark, d), TRAIN_BINPACK_SHELVES_ORACLE, d
    )


@given(st.lists(st.integers(0, 5000), min_size=1, max_size=25))
@_SETTINGS
def test_binpack_shelves_fuzzed_cross_engine(
    spark, tmp_path_factory, token_counts
):
    """Cross-engine fuzz over the shelf arithmetic: arbitrary token
    counts (zero-token exclusions, oversize runs, boundary-exact band
    fits) must hash-match DuckDB AND satisfy the shelf invariants —
    within every band, all shelves but the last hold exactly `slots`
    docs; every doc's band is the smallest power of two covering it;
    total manifest tokens equal the packable corpus total plus the
    oversize total."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.text import (
        ATTN_CTX,
        TRAIN_BINPACK_SHELVES_ORACLE,
        train_binpack_shelves,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    texts = [" ".join(["w"] * n) if n else "" for n in token_counts]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["s"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("shelffuzz"), "c", {"documents": tbl}
    )
    df = train_binpack_shelves(spark, d)
    rows = df.collect()
    total = sum(n for n in token_counts if n > 0)
    assert sum(r.n_tokens for r in rows) == total
    by_band: dict = {}
    for r in rows:
        by_band.setdefault(r.band_len, []).append(r)
    for band, rs in by_band.items():
        assert [r.shelf_id for r in rs] == list(range(len(rs)))
        slots = 1 if band == 0 else ATTN_CTX // band
        for r in rs[:-1]:
            assert r.n_docs == slots, (band, r)
        assert 1 <= rs[-1].n_docs <= slots
        for r in rs:
            assert r.pad_tokens == r.n_seqs * ATTN_CTX - r.n_tokens
    compare_with_oracle(
        train_binpack_shelves(spark, d), TRAIN_BINPACK_SHELVES_ORACLE, d
    )


# --- r14 bank: content-level corpus snapshot diff ---------------------------
def _snap_class(doc_id: int) -> int:
    """Python twin of the adapter's salted md5 ten-class split
    (engine-identical by the md5_hash60 contract)."""
    import hashlib

    h = hashlib.md5(f"snapdiff|{doc_id}".encode()).hexdigest()[:15]
    return int(h, 16) % 10


def test_snapshot_diff_edge_corpus_every_class_and_null_semantics(
    spark, tmp_path
):
    """One doc pinned per classification branch, plus the NULL
    hazards the op exists to get right: a NULL-text doc in the
    revision classes stays NULL under concat and correctly reads
    `unchanged` (content did not change — null-safe hash equality);
    a NULL-text doc in the stable classes is unchanged the same way;
    a NULL source is the real group '(null)'. Exact counts, char
    volumes and churn ppm asserted, then full engine parity."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_SNAPSHOT_DIFF_ORACLE,
        SNAPDIFF_REV_TAIL,
        dq_snapshot_diff,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    def pick(cls_pred, k, taken):
        out = []
        i = 0
        while len(out) < k:
            if i not in taken and cls_pred(_snap_class(i)):
                out.append(i)
                taken.add(i)
            i += 1
        return out

    taken: set = set()
    added = pick(lambda c: c == 0, 1, taken)
    deleted = pick(lambda c: c == 1, 1, taken)
    changed = pick(lambda c: c in (2, 3), 2, taken)
    stable = pick(lambda c: c >= 4, 3, taken)
    rows = [
        (added[0], "brand new doc", "s1"),
        (deleted[0], "doomed doc", "s1"),
        (changed[0], "revised doc", "s1"),
        (changed[1], None, "s1"),      # NULL text in a revision class
        (stable[0], "stable doc", "s1"),
        (stable[1], None, "s1"),       # NULL text, stable class
        (stable[2], "null source doc", None),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] else 0 for r in rows], pa.int64()
            ),
        }
    )
    d = _edge_dir(tmp_path, "snapdiff_edge", {"documents": tbl})
    out = {r.src: r for r in dq_snapshot_diff(spark, d).collect()}
    assert sorted(out) == ["(null)", "s1"]
    s1 = out["s1"]
    # snapshot A misses the added doc; B misses the deleted one
    assert (s1.n_a, s1.n_b) == (5, 5)
    assert (s1.n_added, s1.n_deleted, s1.n_changed) == (1, 1, 1)
    # 3 unchanged: the stable doc + BOTH null-text docs
    assert s1.n_unchanged == 3
    assert s1.chars_added == len("brand new doc")
    assert s1.chars_deleted == len("doomed doc")
    assert s1.chars_changed_delta == len(SNAPDIFF_REV_TAIL)
    assert s1.churn_ppm == 3 * 1_000_000 // 6  # |A u B| = 6
    nul = out["(null)"]
    assert (nul.n_a, nul.n_b, nul.n_unchanged) == (1, 1, 1)
    assert nul.churn_ppm == 0
    compare_with_oracle(
        dq_snapshot_diff(spark, d), DQ_SNAPSHOT_DIFF_ORACLE, d
    )


def test_snapshot_diff_core_attributes_source_moves_to_current_side(
    spark,
):
    """The core on two literal frames — the case the adapter cannot
    synthesize: a document whose SOURCE moved between snapshots is
    attributed to its current (B-side) source, whether its content
    changed or not; and a document added with NULL text counts its
    chars as 0."""
    from simple_etl_pipeline_spark.plans.relational import snapshot_diff

    cols = ["doc_id", "text", "source"]
    a = spark.createDataFrame(
        [
            (1, "moved and changed", "olds"),
            (2, "moved, same text", "olds"),
            (3, "stays put", "s_keep"),
        ],
        cols,
    )
    b = spark.createDataFrame(
        [
            (1, "moved and CHANGED", "news"),
            (2, "moved, same text", "news"),
            (3, "stays put", "s_keep"),
            (4, None, "s_keep"),
        ],
        cols,
    )
    out = {r.src: r for r in snapshot_diff(a, b).collect()}
    assert sorted(out) == ["news", "s_keep"]
    news = out["news"]
    # both movers land under the CURRENT source, including their A-side
    # presence counts — 'olds' has no row at all
    assert (news.n_a, news.n_b) == (2, 2)
    assert (news.n_changed, news.n_unchanged) == (1, 1)
    keep = out["s_keep"]
    assert (keep.n_a, keep.n_b, keep.n_added) == (1, 2, 1)
    assert keep.chars_added == 0  # NULL text adds zero chars
    assert keep.n_unchanged == 1


@given(
    st.lists(
        st.tuples(
            st.sampled_from(
                ["alpha text", "beta text", "gamma", "", None]
            ),
            st.sampled_from(["s1", "s2", None]),
        ),
        min_size=1,
        max_size=30,
    )
)
@_SETTINGS
def test_snapshot_diff_fuzzed_cross_engine(spark, tmp_path_factory, rows):
    """Cross-engine fuzz over the diff's hazard surface: random
    text/NULL-text/empty-text docs under random (including NULL)
    sources, with doc_ids drawn densely so every md5 class appears —
    the null-safe hash compare, the NULL-propagating concat of the
    revision tail, the '(null)' source group and the decimal-staged
    churn ppm must hash-match DuckDB on every draw."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.relational import (
        DQ_SNAPSHOT_DIFF_ORACLE,
        dq_snapshot_diff,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array([t for t, _ in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([s for _, s in rows], pa.string()),
            "n_chars": pa.array(
                [len(t) if t else 0 for t, _ in rows], pa.int64()
            ),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("snapfuzz"), "c", {"documents": tbl}
    )
    compare_with_oracle(
        dq_snapshot_diff(spark, d), DQ_SNAPSHOT_DIFF_ORACLE, d
    )


# --- r15 bank: median/MAD robust anomaly monitor ---------------------------
def _events_tbl(rows):
    """rows: list of (event_id, event_type, value) — ts/user/props are
    immaterial to the MAD monitor and filled with constants."""
    import datetime as dt

    import pyarrow as pa

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([t0] * len(rows), pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def test_mad_outliers_edge_corpus_medians_degeneracy_and_cap(
    spark, tmp_path
):
    """Exact order-statistic pins: odd and even counts take the LOWER
    median (rank ceil(n/2)); a majority-constant type has MAD = 0 and
    the d > 0 degeneracy flags its single mover; near-extreme
    opposite-signed micros clamp the deviation at DQ_DELTA_CAP on
    both engines (an unstaged BIGINT subtraction would throw under
    ANSI); NULL values are excluded; NULL event_type is the real
    '(null)' group. Then full engine parity."""
    from simple_etl_pipeline_spark.plans.events import (
        EV_MAD_OUTLIERS_ORACLE,
        ev_mad_outliers,
    )
    from simple_etl_pipeline_spark.plans.relational import DQ_DELTA_CAP
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    rows = [
        (1, "odd", 1.0), (2, "odd", 2.0), (3, "odd", 100.0),
        (4, "odd", None),                      # excluded
        (5, "even", 1.0), (6, "even", 2.0), (7, "even", 3.0),
        (8, "even", 1000.0),
        (9, "const7", 5.0), (10, "const7", 5.0), (11, "const7", 5.0),
        (12, "const7", 7.0),
        (13, "cap", 9.0e12), (14, "cap", -9.0e12), (15, "cap", 9.0e12),
        (16, None, 1.0),                       # the '(null)' group
    ]
    d = _edge_dir(tmp_path, "mad_edge", {"events": _events_tbl(rows)})
    df = ev_mad_outliers(spark, d)
    out = {r.event_type: r for r in df.collect()}
    assert sorted(out) == ["(null)", "cap", "const7", "even", "odd"]
    o = out["odd"]
    assert (o.n_events, o.med_micros, o.mad_micros) == (3, 2_000_000, 1_000_000)
    assert (o.n_outliers, o.outlier_ppm, o.max_abs_dev) == (
        1, 333_333, 98_000_000,
    )
    e = out["even"]  # lower median of [1,2,3,1000] is 2
    assert (e.n_events, e.med_micros, e.mad_micros) == (4, 2_000_000, 1_000_000)
    assert (e.n_outliers, e.outlier_ppm, e.max_abs_dev) == (
        1, 250_000, 998_000_000,
    )
    c = out["const7"]  # MAD = 0: the single 7.0 flags on d > 0
    assert (c.med_micros, c.mad_micros) == (5_000_000, 0)
    assert (c.n_outliers, c.max_abs_dev) == (1, 2_000_000)
    cap = out["cap"]  # |(-9e18) - 9e18| = 1.8e19 clamps at the cap
    assert cap.med_micros == 9_000_000_000_000_000_000
    assert cap.mad_micros == 0
    assert cap.max_abs_dev == DQ_DELTA_CAP
    assert cap.n_outliers == 1
    nul = out["(null)"]
    assert (nul.n_events, nul.med_micros, nul.mad_micros) == (
        1, 1_000_000, 0,
    )
    compare_with_oracle(
        ev_mad_outliers(spark, d), EV_MAD_OUTLIERS_ORACLE, d
    )


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.one_of(
                st.none(),
                st.integers(-9_000_000, 9_000_000),
                st.sampled_from([9 * 10**12, -(9 * 10**12)]),
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
@_SETTINGS
def test_mad_outliers_fuzzed_cross_engine(spark, tmp_path_factory, rows):
    """Cross-engine fuzz over the robust monitor's hazard surface:
    random integer-valued doubles (exactly representable, so the
    micros cast is unambiguous) including the ±9e12 extremes that
    drive deviations past BIGINT, NULL values, NULL types, heavy
    ties. The order-statistic selection, the decimal-staged clamp and
    the ppm arithmetic must hash-match DuckDB on every draw."""
    from simple_etl_pipeline_spark.plans.events import (
        EV_MAD_OUTLIERS_ORACLE,
        ev_mad_outliers,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    evrows = [
        (i, t, float(v) if v is not None else None)
        for i, (t, v) in enumerate(rows)
    ]
    d = _edge_dir(
        tmp_path_factory.mktemp("madfuzz"), "c", {"events": _events_tbl(evrows)}
    )
    compare_with_oracle(ev_mad_outliers(spark, d), EV_MAD_OUTLIERS_ORACLE, d)


# --- r15 bank: LSH-bucketed k-NN graph --------------------------------------
def test_knn_graph_edge_corpus_isolated_zero_and_partial_buckets(
    spark, tmp_path
):
    """The graph semantics pinned on a constructed corpus: a 4-member
    bucket where K cannot fill (degree 3 < K), identical vectors tied
    at sim 1.0 with the nbr-id tie-break, an isolated node (alone in
    its sign bucket — degree 0), and a ZERO vector sharing a bucket
    with a live one: cosine is NULL on both engines, the candidate is
    EXCLUDED, and both end up degree 0 (a dead vector neither ranks
    nor is ranked). Then full engine parity."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.similarity import (
        SIM_KNN_GRAPH_ORACLE,
        sim_knn_graph,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    vecs = {
        # bucket 255 (all 8 sign bits set)
        11: [1.0] * 8,
        12: [1.0] * 8,
        13: [1.0] * 8,
        14: [1.0] * 7 + [2.0],
        # bucket 254 (dim 0 negative): alone -> isolated
        20: [-1.0] + [1.0] * 7,
        # bucket 0: a zero vector and a live all-negative vector
        30: [0.0] * 8,
        31: [-1.0] * 8,
    }
    tbl = pa.table(
        {
            "vec_id": pa.array(sorted(vecs), pa.int64()),
            "embedding": pa.array(
                [vecs[k] for k in sorted(vecs)], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    d = _edge_dir(tmp_path, "knn_edge", {"embeddings": tbl})
    out = {r.node: r for r in sim_knn_graph(spark, d).collect()}
    assert sorted(out) == [11, 12, 13, 14, 20, 30, 31]
    n11 = out[11]
    assert n11.degree == 3
    assert n11.top_sim == 1.0            # the identical twins
    assert n11.nbr_xor == 12 ^ 13 ^ 14
    assert out[14].degree == 3 and out[14].nbr_xor == 11 ^ 12 ^ 13
    # identical vectors tie at 1.0 and the nbr-id tie-break is pinned
    # by the oracle hash; degree < K because the bucket is small
    assert out[20].degree == 0 and out[20].top_sim is None
    assert out[20].nbr_xor == 0
    assert out[30].degree == 0           # zero vector: no valid cosine
    assert out[31].degree == 0           # its only bucket-mate is dead
    compare_with_oracle(sim_knn_graph(spark, d), SIM_KNN_GRAPH_ORACLE, d)


# --- r15 bank: byte-budget shard layout --------------------------------------
def test_bytes_shard_pack_edge_corpus_boundaries_and_gaps(
    spark, tmp_path
):
    """The start-offset rule pinned exactly (SHARD_BYTES = 65536): a
    blob ending exactly on the boundary leaves zero overflow and the
    next blob opens the next shard; a blob LARGER than a shard stays
    whole in its start shard and its overflow eats the following
    shard ids — shard ids legitimately SKIP (2 and 3 never exist
    here); zero-byte blobs land by start offset and add nothing;
    NULL-text blobs are dropped at the source. Then engine parity."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.multimodal import (
        MM_BYTES_SHARD_PACK_ORACLE,
        SHARD_BYTES,
        mm_bytes_shard_pack,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    assert SHARD_BYTES == 65536  # the arithmetic below is spelled for it
    docs = [
        (1, "a" * 65536),   # fills shard 0 exactly
        (2, "b" * 10),      # opens shard 1
        (3, "c" * 200000),  # whole in shard 1; overflow spans 2 shards
        (4, "d" * 5),       # starts at 265546 -> shard 4 (ids skip 2,3)
        (5, ""),            # zero bytes, lands in shard 4
        (6, None),          # NULL payload dropped at the source
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["s"] * len(docs), pa.string()),
            "n_chars": pa.array(
                [len(t) if t else 0 for _, t in docs], pa.int64()
            ),
        }
    )
    d = _edge_dir(tmp_path, "shard_edge", {"documents": tbl})
    df = mm_bytes_shard_pack(spark, d)
    rows = {r.shard_id: r for r in df.collect()}
    assert sorted(rows) == [0, 1, 4]
    s0 = rows[0]
    assert (s0.n_blobs, s0.n_bytes, s0.overflow_bytes) == (1, 65536, 0)
    assert s0.fill_ppm == 1_000_000
    s1 = rows[1]
    assert (s1.n_blobs, s1.n_bytes) == (2, 200_010)
    assert s1.overflow_bytes == 65_546 + 200_000 - 2 * 65_536
    assert s1.fill_ppm == 200_010 * 1_000_000 // 65_536
    assert (s1.first_doc, s1.last_doc, s1.xor_docs) == (2, 3, 2 ^ 3)
    s4 = rows[4]
    assert (s4.n_blobs, s4.n_bytes, s4.overflow_bytes) == (2, 5, 0)
    assert (s4.first_doc, s4.last_doc, s4.xor_docs) == (4, 5, 4 ^ 5)
    compare_with_oracle(
        mm_bytes_shard_pack(spark, d), MM_BYTES_SHARD_PACK_ORACLE, d
    )


@given(st.lists(st.integers(0, 150_000), min_size=1, max_size=20))
@_SETTINGS
def test_bytes_shard_pack_fuzzed_cross_engine(
    spark, tmp_path_factory, sizes
):
    """Cross-engine fuzz over the layout arithmetic: random byte sizes
    (zero-byte blobs, boundary-exact fits, multi-shard monsters) must
    hash-match DuckDB AND satisfy the layout invariants — every blob
    whole in one shard, shard byte totals equal the corpus total, and
    overflow is exactly the tail past the shard's budget."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.multimodal import (
        MM_BYTES_SHARD_PACK_ORACLE,
        mm_bytes_shard_pack,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    texts = ["x" * n for n in sizes]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["s"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("shardfuzz"), "c", {"documents": tbl}
    )
    df = mm_bytes_shard_pack(spark, d)
    rows = df.collect()
    assert sum(r.n_bytes for r in rows) == sum(sizes)
    assert sum(r.n_blobs for r in rows) == len(sizes)
    compare_with_oracle(
        mm_bytes_shard_pack(spark, d), MM_BYTES_SHARD_PACK_ORACLE, d
    )


# --- r16 bank: SemDeDup-style kNN cluster pruning ---------------------------
def test_knn_components_edge_corpus_mutuality_and_singletons(
    spark, tmp_path
):
    """The mutuality filter pinned exactly (independently of the
    SemDeDup epsilon): six identical vectors in one bucket each keep
    the other five (K=5) and drop the seventh bucket-mate, whose
    cosine 0.9594 CLEARS the 0.9 threshold and whose own top-5 lists
    five of them — so its edges are all ONE-DIRECTIONAL and it must
    come out a singleton by mutuality alone, while the six form one
    cluster surviving at the min id. A vector alone in its bucket and
    a zero vector (no valid cosine in either direction) are
    singletons too; no id here draws an injected dup copy (% 11). Then
    full engine parity against the recursive-closure oracle."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.similarity import (
        KNN_COMPONENTS_MIN_SIM,
        KNN_GRAPH_K,
        SIM_KNN_COMPONENTS_ORACLE,
        sim_knn_components,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    assert KNN_GRAPH_K == 5  # the corpus below is spelled for it
    assert KNN_COMPONENTS_MIN_SIM == 0.9
    vecs = {}
    for i in range(1, 7):              # bucket 255: identical clique
        vecs[i] = [1.0] * 8
    # same bucket, cos([1]*8, this) = 9/(sqrt(8)*sqrt(11)) ~ 0.9594:
    # ABOVE the epsilon, but everyone's 6th pick -> one-directional
    vecs[7] = [1.0] * 7 + [2.0]
    vecs[20] = [-1.0] + [1.0] * 7      # alone in bucket 254
    vecs[30] = [0.0] * 8               # zero vector in bucket 0
    tbl = pa.table(
        {
            "vec_id": pa.array(sorted(vecs), pa.int64()),
            "embedding": pa.array(
                [vecs[k] for k in sorted(vecs)], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    d = _edge_dir(tmp_path, "knncomp_edge", {"embeddings": tbl})
    out = {r.node: r for r in sim_knn_components(spark, d).collect()}
    assert sorted(out) == [1, 2, 3, 4, 5, 6, 7, 20, 30]
    for i in range(1, 7):
        assert (out[i].component, out[i].cluster_size) == (1, 6), out[i]
        assert bool(out[i].is_survivor) is (i == 1)
    for lone in (7, 20, 30):
        r = out[lone]
        assert (r.component, r.cluster_size) == (lone, 1), r
        assert bool(r.is_survivor) is True
    compare_with_oracle(
        sim_knn_components(spark, d), SIM_KNN_COMPONENTS_ORACLE, d
    )


def test_knn_components_large_id_no_injection_collision(spark, tmp_path):
    """The ADVICE r12 collision class pinned dead: a corpus holding
    BOTH vec_id 0 (which draws an injected scaled copy) and a real
    vec_id equal to the OLD +100000 offset target. Under the old
    offset the injected id 100000 collided with the real row
    (duplicate keys corrupting the self-join exclusion, manifest
    uniqueness and survivor labels); under DUP_INJECT_OFFSET the
    manifest has one unique row per corpus member, the injected copy
    lands at 0 + 2^40, and the (0, copy) pair is the only cluster.
    Then full engine parity."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.similarity import (
        DUP_INJECT_OFFSET,
        SIM_KNN_COMPONENTS_ORACLE,
        sim_knn_components,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    # orthogonal sign patterns keep the two real vectors out of each
    # other's bucket; the scaled copy of id 0 shares id 0's bucket
    vecs = {0: [1.0] * 8, 100000: [-1.0] * 8}
    tbl = pa.table(
        {
            "vec_id": pa.array(sorted(vecs), pa.int64()),
            "embedding": pa.array(
                [vecs[k] for k in sorted(vecs)], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    d = _edge_dir(tmp_path, "knncomp_bigid", {"embeddings": tbl})
    rows = sim_knn_components(spark, d).collect()
    nodes = [r.node for r in rows]
    assert len(nodes) == len(set(nodes)) == 3  # uniqueness restored
    out = {r.node: r for r in rows}
    copy_id = 0 + DUP_INJECT_OFFSET
    assert set(out) == {0, 100000, copy_id}
    assert (out[0].component, out[0].cluster_size) == (0, 2)
    assert (out[copy_id].component, out[copy_id].cluster_size) == (0, 2)
    assert bool(out[0].is_survivor) and not bool(out[copy_id].is_survivor)
    assert (out[100000].component, out[100000].cluster_size) == (100000, 1)
    compare_with_oracle(
        sim_knn_components(spark, d), SIM_KNN_COMPONENTS_ORACLE, d
    )


@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-4.0, max_value=4.0, allow_nan=False, width=32
            ),
            min_size=8,
            max_size=8,
        ),
        min_size=2,
        max_size=14,
    )
)
@_SETTINGS
def test_knn_components_fuzzed_cross_engine(
    spark, tmp_path_factory, vec_rows
):
    """Cross-engine fuzz over random small graphs: arbitrary vectors
    (including coordinate signs that scatter or pile into buckets)
    must produce identical mutual edges, components, sizes and
    survivor flags under the recursive-closure oracle, AND satisfy
    the manifest invariants — component ids are cluster minima, and
    survivors count exactly one per component."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.similarity import (
        SIM_KNN_COMPONENTS_ORACLE,
        sim_knn_components,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vec_rows)), pa.int64()),
            "embedding": pa.array(vec_rows, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vec_rows), pa.int32()),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("knncompfuzz"), "c", {"embeddings": tbl}
    )
    rows = sim_knn_components(spark, d).collect()
    comps = {}
    for r in rows:
        comps.setdefault(r.component, []).append(r)
    for comp, members in comps.items():
        assert comp == min(m.node for m in members)
        assert sum(1 for m in members if m.is_survivor) == 1
        assert all(m.cluster_size == len(members) for m in members)
    compare_with_oracle(
        sim_knn_components(spark, d), SIM_KNN_COMPONENTS_ORACLE, d
    )


# --- r16 bank: cross-split contamination matrix -----------------------------
def _split_of(source) -> str:
    """Python twin of the salted md5 source-split assignment."""
    import hashlib

    s = source if source is not None else "(null)"
    h = hashlib.md5(f"split|{s}".encode()).hexdigest()[:15]
    v = int(h, 16) % 1_000_000
    return "train" if v < 800_000 else ("val" if v < 900_000 else "test")


def test_decontam_report_edge_corpus_planted_leak(spark, tmp_path):
    """A planted leak pinned exactly: one shingle string shared
    between a train-split doc and a val-split doc reads as one shared
    shingle and one contaminated val doc; the test split carries only
    unique text (zero contamination), a NULL-text doc (counts in
    n_docs_b, cannot be contaminated) and a 2-token doc (below the
    3-gram minimum — no shingles). Exact cells asserted, then engine
    parity."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.text import (
        TRAIN_EVAL_DECONTAM_ORACLE,
        train_eval_decontam_report,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    def pick(split, taken):
        i = 0
        while True:
            src = f"edge{i}"
            if src not in taken and _split_of(src) == split:
                taken.add(src)
                return src
            i += 1

    taken: set = set()
    s_train = pick("train", taken)
    s_val = pick("val", taken)
    s_test = pick("test", taken)
    leak = "the planted leaking shingle text"  # 5 tokens -> 3 shingles
    rows = [
        (1, f"{leak} plus unique train tail", s_train),
        (2, f"{leak} with its own val ending", s_val),
        (3, "completely different eval content here", s_test),
        (4, None, s_test),
        (5, "two tokens", s_test),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] else 0 for r in rows], pa.int64()
            ),
        }
    )
    d = _edge_dir(tmp_path, "decontam_edge", {"documents": tbl})
    out = {
        (r.split_a, r.split_b): r
        for r in train_eval_decontam_report(spark, d).collect()
    }
    assert sorted(out) == [
        ("train", "test"), ("train", "val"), ("val", "test"),
    ]
    tv = out[("train", "val")]
    # the 5-token leak yields 3 shared 3-gram shingles
    assert tv.n_shared == 3
    assert (tv.n_docs_b, tv.n_docs_contaminated) == (1, 1)
    assert tv.contam_ppm == 1_000_000
    tt = out[("train", "test")]
    assert (tt.n_shared, tt.n_docs_contaminated) == (0, 0)
    assert tt.n_docs_b == 3  # incl. the NULL-text and 2-token docs
    vt = out[("val", "test")]
    assert (vt.n_shared, vt.n_docs_contaminated) == (0, 0)
    compare_with_oracle(
        train_eval_decontam_report(spark, d), TRAIN_EVAL_DECONTAM_ORACLE, d
    )


@given(
    st.lists(
        st.tuples(
            st.sampled_from(
                [
                    "alpha beta gamma delta",
                    "alpha beta gamma shared tail",
                    "one two",
                    "",
                    None,
                ]
            ),
            st.sampled_from(["edge0", "edge1", "edge2", "edge7", None]),
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_decontam_report_fuzzed_cross_engine(
    spark, tmp_path_factory, rows
):
    """Cross-engine fuzz: random doc/source draws (overlapping shingle
    pools, NULL text, NULL sources, sub-shingle docs) must hash-match
    DuckDB on every cell — the distinct-shingle joins, the literal
    pair frame's zero fill and the decimal-staged ppm all agree or
    this mismatches."""
    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.text import (
        TRAIN_EVAL_DECONTAM_ORACLE,
        train_eval_decontam_report,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array([t for t, _ in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([s for _, s in rows], pa.string()),
            "n_chars": pa.array(
                [len(t) if t else 0 for t, _ in rows], pa.int64()
            ),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("decontamfuzz"), "c", {"documents": tbl}
    )
    compare_with_oracle(
        train_eval_decontam_report(spark, d), TRAIN_EVAL_DECONTAM_ORACLE, d
    )


# --- r16 bank: CUSUM change-point scan ---------------------------------------
def test_cusum_edge_corpus_level_shift_and_gaps(spark, tmp_path):
    """A constructed level shift pinned exactly: 2 events/hour for 10
    hours then 10/hour for 10 hours puts the global mean at 6/hour,
    accumulates S_h to its |max| = 40e6 micros at the LAST hour of
    the old regime (the CUSUM change-point estimator), and recovers
    to S = 0 at the end; an empty hour inside the span counts 0 and
    carries the most negative single-hour deviation. Exact integer
    expectations asserted, then engine parity."""
    import datetime as dt

    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.events import (
        EV_CHANGEPOINT_CUSUM_ORACLE,
        ev_changepoint_cusum,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = []
    eid = 0
    for h in range(20):
        # hour 4 is deliberately EMPTY (gap inside the old regime)
        n = 0 if h == 4 else (2 if h < 10 else 10)
        for k in range(n):
            eid += 1
            rows.append(
                (eid, t0 + dt.timedelta(hours=h, minutes=k), 1, "view",
                 1.0, "{}")
            )
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    d = _edge_dir(tmp_path, "cusum_edge", {"events": tbl})
    out = ev_changepoint_cusum(spark, d).collect()
    total = 2 * 9 + 10 * 10  # 118 events, hour 4 empty
    mu = total * 1_000_000 // 20
    assert len(out) == 20
    peak = out[0]
    # S_h is most negative at h=9 (end of the low regime)
    assert peak.hour_epoch == int(
        (t0 + dt.timedelta(hours=9)).timestamp()
    )
    exp_s9 = (2 * 9) * 1_000_000 - 10 * mu  # 8 low hours + 1 gap hour
    assert peak.cusum_micros == exp_s9
    assert bool(peak.is_peak) is True
    assert sum(1 for r in out if r.is_peak) == 1
    by_hour = {r.hour_epoch: r for r in out}
    gap = by_hour[int((t0 + dt.timedelta(hours=4)).timestamp())]
    assert gap.n_events == 0 and gap.dev_micros == -mu
    last = by_hour[int((t0 + dt.timedelta(hours=19)).timestamp())]
    assert last.cusum_micros == total * 1_000_000 - 20 * mu  # ~0 residue
    compare_with_oracle(
        ev_changepoint_cusum(spark, d), EV_CHANGEPOINT_CUSUM_ORACLE, d
    )


@given(
    st.lists(
        st.tuples(st.integers(-60, 60), st.integers(0, 5)),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from([1970, 2024]),
)
@_SETTINGS
def test_cusum_fuzzed_cross_engine(spark, tmp_path_factory, draws, year):
    """Cross-engine fuzz: random (hour, burst-size) draws — sparse
    grids with long empty stretches, heavy ties in |S|, single-hour
    spans — must hash-match DuckDB on every draw (the grid fill, the
    truncating mean, the decimal-staged running sum and the peak-tie
    marking all agree or this mismatches). The hour draw spans
    NEGATIVE offsets and the 1970 era anchors t0 at the epoch, so
    pre-1970 hours exercise the floor-vs-trunc hour-bucket divide
    (ADVICE r12 high: bare `div` bucketed epoch-30min one hour off
    the oracle's floor division)."""
    import datetime as dt

    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.events import (
        EV_CHANGEPOINT_CUSUM_ORACLE,
        ev_changepoint_cusum,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    t0 = dt.datetime(year, 6 if year == 2024 else 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for h, n in draws:
        for k in range(n):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(hours=h, minutes=k)))
    if not rows:
        rows = [(1, t0)]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    d = _edge_dir(
        tmp_path_factory.mktemp("cusumfuzz"), "c", {"events": tbl}
    )
    compare_with_oracle(
        ev_changepoint_cusum(spark, d), EV_CHANGEPOINT_CUSUM_ORACLE, d
    )


def test_cusum_pre1970_bucket_parity(spark, tmp_path):
    """The exact ADVICE r12 repro: one event 30 minutes BEFORE the
    epoch plus events after it. Truncating `div` buckets epoch-30min
    into hour 0 (3-row grid); floor division buckets it into hour -1
    (4-row grid) — the oracle's sql_floor_div semantics. Pins the
    grid size, the pre-epoch hour bucket, and full engine parity."""
    import datetime as dt

    import pyarrow as pa

    from simple_etl_pipeline_spark.plans.events import (
        EV_CHANGEPOINT_CUSUM_ORACLE,
        ev_changepoint_cusum,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    epoch = dt.datetime(1970, 1, 1, 0, 0, 0)
    stamps = [
        epoch - dt.timedelta(minutes=30),  # hour -1 under floor div
        epoch + dt.timedelta(minutes=10),
        epoch + dt.timedelta(hours=2, minutes=5),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array(range(1, len(stamps) + 1), pa.int64()),
            "ts": pa.array(stamps, pa.timestamp("us")),
            "user_id": pa.array([1] * len(stamps), pa.int64()),
            "event_type": pa.array(["view"] * len(stamps), pa.string()),
            "value": pa.array([1.0] * len(stamps), pa.float64()),
            "props": pa.array(["{}"] * len(stamps), pa.string()),
        }
    )
    d = _edge_dir(tmp_path, "cusum_pre1970", {"events": tbl})
    out = ev_changepoint_cusum(spark, d).collect()
    # floor-div grid: hours -1..2 = 4 rows (trunc div would emit 3)
    assert len(out) == 4
    assert {r.hour_epoch for r in out} == {-3600, 0, 3600, 7200}
    by_hour = {r.hour_epoch: r for r in out}
    assert by_hour[-3600].n_events == 1
    assert by_hour[3600].n_events == 0
    compare_with_oracle(
        ev_changepoint_cusum(spark, d), EV_CHANGEPOINT_CUSUM_ORACLE, d
    )


# --- sim_knn_graph recall CONTRACT meter (VERDICT r13 #3c) ------------------
def test_knn_graph_recall_contract(spark, sf_dir):
    """Pins sim_knn_graph's measured recall contract (SCALING.md r13
    "recall truth") as an executable meter at every gate, ahead of its
    r15 registration: the op is a NEAR-DUPLICATE / eps-ball graph, not
    a general ANN graph.

    (a) DUPLICATE RECALL = 1.0 by construction: a positively-scaled
        copy has the identical sign pattern, so it shares its
        original's bucket at ANY bit width and lands in the top-K at
        cosine ~1 — every planted x1.5 duplicate pair (the
        dedup_embedding_cosine injection device, far-disjoint ids)
        must appear as an edge in BOTH directions.
    (b) GENERAL RECALL is LOW: bucketed top-5 vs exact brute-force
        top-5 (same cosine, same tie-break) over deterministic query
        nodes of the stock corpus — single-probe sign buckets were
        measured at 0.000-0.016 recall@5 at the 128k point; assert
        the meter stays below 0.5 so this test FAILS if the op ever
        silently becomes (or is mistaken for) a general ANN graph
        without re-stating the contract."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.functions.vectors import cosine_dec
    from simple_etl_pipeline_spark.plans.similarity import (
        DUP_INJECT_OFFSET,
        KNN_GRAPH_K,
        _knn_edges_from,
    )
    from simple_etl_pipeline_spark.schemas import load_table

    base = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS v"
    )
    # (a) plant scale-invariant duplicates of every 10th vector with a
    # comfortably nonzero norm (zero-norm cosine is NULL -> no edges,
    # a separate, already-pinned behavior)
    nonzero = F.expr("aggregate(v, 0D, (a, x) -> a + abs(x)) > 0.001")
    originals = base.filter((F.col("vec_id") % 10 == 0) & nonzero)
    dups = originals.select(
        (F.col("vec_id") + DUP_INJECT_OFFSET).alias("vec_id"),
        F.expr("transform(v, x -> x * 1.5)").alias("v"),
    )
    corpus = base.unionByName(dups)
    planted = [r.vec_id for r in originals.select("vec_id").collect()]
    assert len(planted) >= 10, "corpus too small to plant duplicates"
    edge_set = {
        (r.node, r.nbr)
        for r in _knn_edges_from(corpus).select("node", "nbr").collect()
    }
    missing = [
        vid
        for vid in planted
        if (vid, vid + DUP_INJECT_OFFSET) not in edge_set
        or (vid + DUP_INJECT_OFFSET, vid) not in edge_set
    ]
    assert not missing, (
        f"duplicate recall < 1.0: {len(missing)}/{len(planted)} planted "
        f"x1.5 pairs missing from the edge set (e.g. {missing[:5]}) — "
        "the eps-ball contract is broken"
    )

    # (b) general recall@K meter on the ORIGINAL corpus
    queries = base.filter(nonzero).orderBy("vec_id").limit(40)
    exact = (
        queries.alias("q")
        .crossJoin(base.alias("c"))
        .filter(F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("node"),
            F.col("c.vec_id").alias("nbr"),
            F.round(cosine_dec(F.col("q.v"), F.col("c.v")), 6).alias(
                "sim"
            ),
        )
        .filter(F.col("sim").isNotNull())
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("node").orderBy(
                    F.desc("sim"), F.asc("nbr")
                )
            ),
        )
        .filter(F.col("rn") <= KNN_GRAPH_K)
    )
    truth: dict = {}
    for r in exact.collect():
        truth.setdefault(r.node, set()).add(r.nbr)
    bucketed: dict = {}
    for r in _knn_edges_from(base).select("node", "nbr").collect():
        if r.node in truth:
            bucketed.setdefault(r.node, set()).add(r.nbr)
    hits = sum(
        len(truth[n] & bucketed.get(n, set())) for n in truth
    )
    total = sum(len(truth[n]) for n in truth)
    recall = hits / total
    assert recall < 0.5, (
        f"general recall@{KNN_GRAPH_K} = {recall:.3f} — the single-probe "
        "sign-bucket graph is behaving like a general ANN index, which "
        "contradicts the documented eps-ball contract; re-measure and "
        "re-state the contract before trusting either claim"
    )
