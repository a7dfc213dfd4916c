"""Vector math over array<float> embedding columns — native Column
expressions (zip_with/aggregate fold in array order inside codegen; no
Python). Cosine outputs are rounded to 6 decimals in queries: IEEE
double +,*,/ and sqrt are exactly rounded and engine-identical, but
different engines may factor the norm product differently, so the last
couple of bits can differ — rounding absorbs that.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def dot_col(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double (array order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


# Fixed-point scale for the deterministic dot product: 2^40. A power
# of two, so scaling a double by it is EXACT (pure exponent shift) —
# unlike a decimal cast, whose half-way tie-breaking differs between
# engines (Java BigDecimal rounds the shortest decimal repr HALF_UP;
# DuckDB rounds the same ties half-even — measured 19% disagreement on
# tie-adjacent adversarial values).
_DOT_SCALE = float(2**40)


def dot_dec(a: Column | str, b: Column | str) -> Column:
    """BIT-IDENTICAL cross-engine dot product via fixed-point folding.

    Per element: fl(x*y) is the correctly-rounded IEEE product —
    identical in any IEEE-754 engine; multiplying by 2^40 is exact
    (power-of-two exponent shift); floor() is exact. The resulting
    integers are summed exactly (associative, order-independent), so
    Spark's array fold equals the oracle's list_sum regardless of
    order, and the final int->double conversion and /2^40 are again
    correctly-rounded/exact IEEE ops on identical inputs. No decimal
    cast anywhere — the one primitive whose tie-breaking differs
    between engines.

    Precondition: sum(|x*y|) * 2^40 < 2^63 (bigint), i.e.
    sum(|x*y|) < ~8.4e6 — embedding dots here are O(100). Each element
    loses at most 2^-40 ~ 9e-13 to the floor — the same granularity
    the previous decimal(…,12) discipline had, but deterministic."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return (
        F.aggregate(
            F.zip_with(
                a, b, lambda x, y: F.floor(x * y * F.lit(_DOT_SCALE)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        ).cast("double")
        / F.lit(_DOT_SCALE)
    )


def dot_dec_sql(a: str, b: str) -> str:
    """Spark-SQL text of :func:`dot_dec` over two array expressions —
    the same analyzed tree for an F.expr, at one py4j call instead of
    one per node. The scale is written as a double literal (`D`
    suffix): a bare `1099511627776.0` parses as DECIMAL."""
    scale = f"{_DOT_SCALE!r}D"
    return (
        f"(CAST(aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(floor(x * y * {scale}) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, d) -> acc + d) AS DOUBLE) / {scale})"
    )


def cosine_dec(a: Column | str, b: Column | str) -> Column:
    """Cosine from fixed-point-folded dot/norms: the three sums are
    bit-identical across engines (dot_dec), and sqrt/division are
    correctly-rounded IEEE ops on identical inputs — so the cosine is
    bit-identical too, and a 6-dp round can never flip between
    engines. Use for argmax cell assignment and threshold comparisons
    where a 1-ulp boundary flip would change the result set.

    Zero-norm guard (try_divide): a zero vector (failed encoder output
    — real at 100 TB) would otherwise give NaN/Inf in Spark but NULL
    in DuckDB (which nulls on division by zero), and Spark ORDERS NaN
    ABOVE every double while NULL sorts last — so a dead vector would
    silently win every top-k on one engine only. try_divide yields
    NULL on both sides, ranking it last everywhere
    (adversarial-embeddings finding, r5). try_divide, NOT
    nullif(denominator, 0): nullif expands to a CASE that repeats its
    first argument, re-running both norm folds per pair — measured 3x
    on sim_knn_brute."""
    return F.try_divide(
        dot_dec(a, b), F.sqrt(dot_dec(a, a)) * F.sqrt(dot_dec(b, b))
    )


def sql_dot_dec(a: str, b: str) -> str:
    """DuckDB twin of dot_dec — same fixed-point fold, bit-identical.

    The integer sum is converted to double via a high/low 2^32 split
    instead of a direct CAST: DuckDB's HUGEINT->DOUBLE cast goes
    through two roundings (upper*2^64 + lower, each rounded) and is
    off by 1 ulp for |sum| > 2^53, while the JVM's long->double is a
    single correctly-rounded conversion. quotient*2^32 is an exact
    exponent shift, quotient (< 2^53 for any |sum| < 2^85) and
    remainder (< 2^32) are exact as doubles, and the one final add is
    the single correctly-rounded step — matching the JVM bit-for-bit
    for every bigint-range sum, not just |sum| < 2^53."""
    fold = (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(floor(p[1]*p[2]*{_DOT_SCALE!r}) AS BIGINT)))"
    )
    exact_double = (
        f"(CAST(({fold}) // 4294967296 AS DOUBLE) * 4294967296.0"
        f" + CAST(({fold}) % 4294967296 AS DOUBLE))"
    )
    return f"({exact_double} / {_DOT_SCALE!r})"


def sql_cosine_dec(a: str, b: str) -> str:
    """DuckDB twin of cosine_dec — bit-identical to the Spark value."""
    return (
        f"({sql_dot_dec(a, b)} / "
        f"(sqrt({sql_dot_dec(a, a)}) * sqrt({sql_dot_dec(b, b)})))"
    )
