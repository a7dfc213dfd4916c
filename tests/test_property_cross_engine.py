"""Cross-engine property tests (hypothesis): the text primitives that
every dedup/text oracle is built on — whitespace tokenization, word
shingles, and the 60-bit md5 hash — must produce IDENTICAL values in
Spark and DuckDB for arbitrary unicode input, not just the testdata
domain. A dialect drift here (Java vs RE2 regex classes, md5 of UTF-8
bytes, array slicing) would silently skew every downstream hash check.

Each hypothesis example writes the strings to a parquet file both
engines read — the same substrate the driver's gate uses.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from simple_etl_pipeline_spark.functions.text import (
    md5_hash60,
    shingles_col,
    sql_md5_hash60,
    sql_shingles,
    sql_tokens,
    tokens_col,
)

# surrogates can't encode to UTF-8 (parquet rejects them); everything
# else — control chars, unicode whitespace, CJK, emoji — is in scope
text_soup = st.text(
    alphabet=st.characters(exclude_categories=("Cs",)), min_size=0, max_size=40
)

# Whitespace edge cases the tokenizers must agree on in both engines:
# tab, \x0b (in Java's \s but not RE2's), \xa0 (stripped by DuckDB's
# trim but not Spark's), the empty string, and leading / trailing /
# repeated separators.
WS_EDGE_CASES = [
    "",
    " ",
    "a\tb",
    "a\x0bb",
    "a\xa0b",
    "\xa0",
    "  lead",
    "trail  ",
    "\t\n mid \r\f sep \n",
    "one two three four",
    "x\x0b y\xa0 z\t\tw",
]

_SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _both_engines(spark, tmp_path_factory, values, spark_expr, duck_expr):
    d = tmp_path_factory.mktemp("xengine")
    path = os.path.join(str(d), "vals.parquet")
    pq.write_table(pa.table({"s": pa.array(values, pa.string())}), path)
    got = [
        r[0]
        for r in spark.read.parquet(path)
        .select(spark_expr("s"))
        .collect()
    ]
    exp = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {duck_expr('s')} FROM read_parquet('{path}')"
        ).fetchall()
    ]
    return got, exp


@_SETTINGS
@given(st.lists(text_soup, min_size=1, max_size=30))
@example(WS_EDGE_CASES)
def test_tokens_identical(spark, tmp_path_factory, values):
    got, exp = _both_engines(
        spark, tmp_path_factory, values, tokens_col, sql_tokens
    )
    for v, g, x in zip(values, got, exp):
        assert list(g) == list(x), (repr(v), g, x)


@_SETTINGS
@given(st.lists(text_soup, min_size=1, max_size=30))
@example(WS_EDGE_CASES)
def test_shingles_identical(spark, tmp_path_factory, values):
    got, exp = _both_engines(
        spark,
        tmp_path_factory,
        values,
        shingles_col,
        lambda c: sql_shingles(sql_tokens(c)),
    )
    for v, g, x in zip(values, got, exp):
        assert list(g) == list(x), (repr(v), g, x)


@_SETTINGS
@given(st.lists(text_soup, min_size=1, max_size=30))
def test_md5_hash60_identical(spark, tmp_path_factory, values):
    got, exp = _both_engines(
        spark, tmp_path_factory, values, md5_hash60, sql_md5_hash60
    )
    for v, g, x in zip(values, got, exp):
        assert g == x, (repr(v), g, x)


@_SETTINGS
@given(st.lists(text_soup, min_size=1, max_size=30))
def test_fingerprint_identical(spark, tmp_path_factory, values):
    # sql_fingerprint is the oracles' shared twin — since round 5 it
    # ASCII-folds via translate instead of lower(): hypothesis found
    # U+10570, whose lowercase mapping exists in Java's Unicode tables
    # but not DuckDB's, making a Unicode lower() engine-dependent.
    from simple_etl_pipeline_spark.functions.text import (
        fingerprint_col,
        sql_fingerprint,
    )

    got, exp = _both_engines(
        spark,
        tmp_path_factory,
        values,
        fingerprint_col,
        sql_fingerprint,
    )
    for v, g, x in zip(values, got, exp):
        assert g == x, (repr(v), g, x)


# one ulp at the 6-decimal rounding grid: queries round cosine to 6dp
# precisely because the two engines may factor the norm product with
# different association; this test pins the drift to that bound for
# arbitrary vectors (incl. tiny/huge magnitudes), so a real formula
# divergence (wrong norm, wrong fold order) cannot hide behind it.
_COS_TOL = 1e-6

finite_f32 = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, width=32
).filter(lambda x: abs(x) > 1e-3 or x == 0.0)
vec8 = st.lists(finite_f32, min_size=8, max_size=8).filter(
    lambda v: any(x != 0.0 for x in v)
)


@_SETTINGS
@given(st.lists(st.tuples(vec8, vec8), min_size=1, max_size=20))
def test_cosine_within_rounding_ulp(spark, tmp_path_factory, pairs):
    from simple_etl_pipeline_spark.functions.vectors import (
        as_double_array,
        cosine_col,
    )

    d = tmp_path_factory.mktemp("xcos")
    path = os.path.join(str(d), "vecs.parquet")
    pq.write_table(
        pa.table(
            {
                "a": pa.array([p[0] for p in pairs], pa.list_(pa.float32())),
                "b": pa.array([p[1] for p in pairs], pa.list_(pa.float32())),
            }
        ),
        path,
    )
    got = [
        r[0]
        for r in spark.read.parquet(path)
        .select(
            F.round(
                cosine_col(as_double_array("a"), as_double_array("b")), 6
            )
        )
        .collect()
    ]
    exp = [
        r[0]
        for r in duckdb.sql(
            "SELECT round(list_cosine_similarity("
            "CAST(a AS DOUBLE[]), CAST(b AS DOUBLE[])), 6) "
            f"FROM read_parquet('{path}')"
        ).fetchall()
    ]
    for (va, vb), g, x in zip(pairs, got, exp):
        assert g is not None and x is not None, (va, vb, g, x)
        assert abs(g - x) <= _COS_TOL, (va, vb, g, x)


# cosine_dec eliminates even that 1-ulp drift: decimal-folded dot and
# norms are bit-identical across engines (no double is an exact tie at
# decimal scale 12 — dyadic rationals can't have 5^12 denominators — so
# the per-element cast is unambiguous), and sqrt/division are correctly
# rounded IEEE ops on identical inputs. Precondition: |x*y| < 1e8 per
# element (embedding-scale data; the strategy respects it).
finite_small = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, width=32
)
vec8_small = st.lists(finite_small, min_size=8, max_size=8).filter(
    lambda v: any(abs(x) > 1e-3 for x in v)
)


@_SETTINGS
@given(st.lists(st.tuples(vec8_small, vec8_small), min_size=1, max_size=20))
def test_cosine_dec_bit_identical(spark, tmp_path_factory, pairs):
    from simple_etl_pipeline_spark.functions.vectors import (
        as_double_array,
        cosine_dec,
        sql_cosine_dec,
    )

    d = tmp_path_factory.mktemp("xcosdec")
    path = os.path.join(str(d), "vecs.parquet")
    pq.write_table(
        pa.table(
            {
                "a": pa.array([p[0] for p in pairs], pa.list_(pa.float32())),
                "b": pa.array([p[1] for p in pairs], pa.list_(pa.float32())),
            }
        ),
        path,
    )
    got = [
        r[0]
        for r in spark.read.parquet(path)
        .select(cosine_dec(as_double_array("a"), as_double_array("b")))
        .collect()
    ]
    exp = [
        r[0]
        for r in duckdb.sql(
            "SELECT "
            + sql_cosine_dec("CAST(a AS DOUBLE[])", "CAST(b AS DOUBLE[])")
            + f" FROM read_parquet('{path}')"
        ).fetchall()
    ]
    import struct as _struct

    for (va, vb), g, x in zip(pairs, got, exp):
        assert (g is None) == (x is None), (va, vb, g, x)
        if g is not None:
            # bit-for-bit, not approximate
            assert _struct.pack("d", g) == _struct.pack("d", x), (va, vb, g, x)


@_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2**62), st.integers(1, 2**31)
        ),
        min_size=1,
        max_size=20,
    )
)
def test_integer_div_identical(spark, tmp_path_factory, pairs):
    """Spark's `div` and DuckDB's `//` must agree on every positive
    bigint pair — the ppm disciplines (dedup_ngram_spans dup_ppm,
    txt_dsir_weights bucket rates) rest on this instead of on double
    division + rounding, so it gets the same property lock as the
    tokenizer and the fixed-point cosine."""
    d = tmp_path_factory.mktemp("xdiv")
    path = os.path.join(str(d), "pairs.parquet")
    pq.write_table(
        pa.table(
            {
                "n": pa.array([p[0] for p in pairs], pa.int64()),
                "m": pa.array([p[1] for p in pairs], pa.int64()),
            }
        ),
        path,
    )
    got = [
        r[0]
        for r in spark.read.parquet(path).select(F.expr("n div m")).collect()
    ]
    exp = [
        r[0]
        for r in duckdb.sql(
            f"SELECT n // m FROM read_parquet('{path}')"
        ).fetchall()
    ]
    assert got == exp
    assert got == [p[0] // p[1] for p in pairs]


@_SETTINGS
@given(st.lists(text_soup, min_size=1, max_size=20))
def test_char_extraction_identical(spark, tmp_path_factory, values):
    """txt_char_entropy's primitive: per-position substring(s, i, 1)
    over sequence(1, length) must enumerate the SAME characters in
    both engines for arbitrary unicode (both are code-point-based).
    The empty-string guard mirrors the operator's length > 0 filter:
    Spark's sequence(1, 0) is a DESCENDING [1, 0] while DuckDB's
    generate_series(1, 0) is empty — every sequence-over-length use in
    the repo must carry such a guard (char entropy filters length > 0;
    the gram builders gate on size < n)."""
    got, exp = _both_engines(
        spark,
        tmp_path_factory,
        values,
        lambda c: F.when(F.length(c) == 0, F.lit("")).otherwise(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length(c)),
                    lambda i: F.substring(c, i, F.lit(1)),
                ),
                "|",
            )
        ),
        lambda c: (
            f"CASE WHEN length({c}) = 0 THEN '' ELSE "
            f"array_to_string(list_transform(generate_series(1, length({c})),"
            f" i -> substr({c}, CAST(i AS INT), 1)), '|') END"
        ),
    )
    for v, g, x in zip(values, got, exp):
        assert g == x, (repr(v), g, x)


@_SETTINGS
@given(st.lists(text_soup, min_size=1, max_size=20))
def test_rot60_gram_keys_identical(spark, tmp_path_factory, values):
    """The span-dedup/repetition gram keys (rot60 XOR composition of
    per-token hashes) must match across engines for arbitrary unicode
    tokens, not just the fixed list the three-way unit test pins."""
    from simple_etl_pipeline_spark.functions.text import (
        GRAM_ROT_STEP,
        bind_once,
        rot60,
        sql_rot60,
    )

    n = 2

    def spark_keys(c):
        toks = tokens_col(c)
        return bind_once(
            F.transform(toks, lambda t: md5_hash60(t)),
            lambda TH: F.when(
                F.size(TH) < n, F.array().cast("array<bigint>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size(TH) - (n - 1)),
                    lambda i: F.element_at(TH, i).bitwiseXOR(
                        rot60(F.element_at(TH, i + 1), GRAM_ROT_STEP)
                    ),
                )
            ),
        )

    def duck_keys(c):
        th = f"list_transform({sql_tokens(c)}, x -> {sql_md5_hash60('x')})"
        return (
            f"list_transform(generate_series(1, greatest(len({th}) - 1, 0)),"
            f" i -> xor(({th})[i], {sql_rot60(f'({th})[i+1]', GRAM_ROT_STEP)}))"
        )

    got, exp = _both_engines(
        spark, tmp_path_factory, values, spark_keys, duck_keys
    )
    for v, g, x in zip(values, got, exp):
        assert list(g) == list(x), (repr(v), g, x)


