"""The reference's five column cleaners as native Spark Column expressions.

The reference applies these row-at-a-time via ``Series.apply``
(/root/reference/utils/transform.py:145-157). Here each is a pure
Column expression: Catalyst fuses all five plus the surrounding filters
into one whole-stage-codegen'd stage with zero Python involvement — the
difference between ~1e5 rows/s (row-at-a-time Python) and ~1e8 rows/s
(JVM codegen) per core, which is the whole game at 100 TB.

Cross-engine determinism: every expression here has an exact DuckDB
translation (see __spark_entry__.oracle_sql) — regex dialect-safe
patterns, try_cast for None-on-garbage semantics, explicit nullif
because regexp_extract returns '' (not NULL) on no-match in both
engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# USD -> IDR constant (reference utils/transform.py:25).
CURRENCY_CONVERSION = 16000.0

# Per-column dirty sentinels (reference utils/transform.py:19-23).
DIRTY_PATTERNS: dict[str, list[str]] = {
    "title": ["Unknown Product", "N/A", ""],
    "rating": ["Invalid Rating / 5", "Not Rated", "N/A", ""],
    "price": ["Price Unavailable", "N/A", ""],
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def clean_price_col(c: Column | str) -> Column:
    """USD price string -> IDR float (reference utils/transform.py:27-44).

    Semantics: strip every char outside [0-9.,]; if the remainder has a
    comma but no dot, the comma is a decimal point ("100,50" -> 100.50);
    otherwise commas are thousand separators ("1,000.50" -> 1000.50);
    float-cast (garbage like "1.2.3" -> NULL via try_cast); x16000.
    """
    c = _col(c)
    stripped = F.regexp_replace(c, r"[^0-9.,]", "")
    normalized = F.when(
        stripped.contains(",") & ~stripped.contains("."),
        F.regexp_replace(stripped, ",", "."),
    ).otherwise(F.regexp_replace(stripped, ",", ""))
    return normalized.try_cast("double") * F.lit(CURRENCY_CONVERSION)


def clean_rating_col(c: Column | str) -> Column:
    """First number anywhere in the string -> double; no match -> NULL
    (reference utils/transform.py:46-57): "4.8 / 5" -> 4.8, "⭐4.5" -> 4.5.
    """
    c = _col(c)
    return F.nullif(
        F.regexp_extract(c, r"([0-9]+(?:\.[0-9]+)?)", 1), F.lit("")
    ).try_cast("double")


def clean_colors_col(c: Column | str) -> Column:
    """First integer -> long; 'Unknown Colors'/empty/no-digits -> NULL
    (reference utils/transform.py:59-76): "3 Colors" -> 3.
    """
    c = _col(c)
    return (
        F.when(c.isNull() | (c == "") | (c == "Unknown Colors"), F.lit(None))
        .otherwise(F.nullif(F.regexp_extract(c, r"([0-9]+)", 1), F.lit("")))
        .try_cast("long")
    )


def _strip_prefix(c: Column, prefix: str) -> Column:
    # Case-insensitive leading "<prefix>:" + whitespace removal, strip,
    # empty-after-strip -> NULL (reference utils/transform.py:78-106).
    # The strip is a (?U)[\s\x1c-\x1f] regex, NOT F.trim: Spark's trim
    # removes spaces only, while the reference's Python str.strip()
    # removes every char where isspace() is true — found by the
    # hypothesis property tests on "\t" and "\x1f"
    # (tests/test_property_cleaning.py). (?U)\s is Unicode White_Space
    # (covers \x85, \xa0, U+2000..U+200A, ...); Python additionally
    # treats the ASCII separators \x1c-\x1f as space, hence the class.
    stripped = F.regexp_replace(
        F.regexp_replace(c, rf"(?i)^{prefix}:\s*", ""),
        r"(?U)^[\s\x1c-\x1f]+|(?U)[\s\x1c-\x1f]+$",
        "",
    )
    return F.nullif(stripped, F.lit(""))


def clean_size_col(c: Column | str) -> Column:
    """'Size: M' -> 'M' (reference utils/transform.py:78-91)."""
    return _strip_prefix(_col(c), "Size")


def clean_gender_col(c: Column | str) -> Column:
    """'Gender: Unisex' -> 'Unisex' (reference utils/transform.py:93-106)."""
    return _strip_prefix(_col(c), "Gender")


def dirty_column_predicate(name: str) -> Column:
    """True where column ``name`` fails its F1 rule: NULL or one of its
    DIRTY_PATTERNS sentinels. dirty_row_predicate keeps a row iff this
    is false for every listed column."""
    col = F.col(name)
    return col.isNull() | col.isin(DIRTY_PATTERNS[name])


def dirty_row_predicate(columns: list[str] | None = None) -> Column:
    """Conjunctive keep-predicate for F1 dirty-row removal
    (reference utils/transform.py:108-121): keep a row iff every listed
    column is non-null and not a known dirty sentinel. One predicate ->
    one codegen'd filter; Catalyst pushes it toward the scan.
    """
    pred = F.lit(True)
    for name, pats in DIRTY_PATTERNS.items():
        if columns is not None and name not in columns:
            continue
        col = F.col(name)
        pred = pred & col.isNotNull() & ~col.isin(pats)
    return pred
