"""Text-analysis building blocks: tokenization, shingles, deterministic
hashing, fingerprints.

Everything is a native Column expression (JVM codegen; no Python UDFs on
the hot path). The hash primitive is md5-based so the exact same 60-bit
values are computable in DuckDB (`CAST(concat('0x', substr(md5(s),1,15))
AS BIGINT)`), which keeps MinHash/SimHash oracle-checkable — a plain
xxhash/murmur would be engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Explicit separator class instead of \s, and an explicit edge-strip
# instead of trim(): Java's \s includes \x0b (vertical tab) while
# RE2's (DuckDB) does not, and DuckDB's trim() removes unicode spaces
# (\xa0) while Spark's removes ASCII space only — both found by the
# cross-engine property tests (tests/test_property_cross_engine.py).
# With the explicit class the SAME bytes separate/strip in both
# engines, which every downstream shingle/minhash/fingerprint oracle
# depends on.
_WS_CLASS = "[\\t\\n\\f\\r ]"
_WS_STRIP = "^" + _WS_CLASS + "+|" + _WS_CLASS + "+$"


def _strip_ws(c: Column) -> Column:
    return F.regexp_replace(c, _WS_STRIP, "")


def tokens_col(c: Column | str) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array (split of
    '' yields [''], which would count as one token)."""
    c = F.col(c) if isinstance(c, str) else c
    t = _strip_ws(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _WS_CLASS + "+")
    )


def token_count_col(c: Column | str) -> Column:
    return F.size(tokens_col(c))


def bind_once(col: Column, build) -> Column:
    """Evaluate `col` ONCE and hand it to `build` as a bound lambda
    variable (array(col) -> transform(build) -> element_at 1).

    A higher-order-function lambda that CAPTURES an expression from the
    enclosing scope re-evaluates that expression on every lambda
    invocation — e.g. a lambda slicing a token array re-runs the
    whitespace regex split once per produced element, O(tokens^2) regex
    work per document (measured 4-7x wall on the corpus shingle stage).
    A lambda VARIABLE, by contrast, is evaluated once when the HOF
    evaluates its input array. Wrapping the expression as the sole
    element of an array and building inside the lambda turns the
    capture into a binding; output is identical and the whole construct
    stays inside whole-stage codegen."""
    return F.element_at(F.transform(F.array(col), build), 1)


def shingles_col(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; fewer than n tokens ->
    empty. DuckDB twin: list_transform(generate_series(1, len-n+1),
    i -> array_to_string(toks[i:i+n-1], ' ')). Token array bound once
    (see bind_once) — not re-split per shingle."""

    def _build(tarr: Column) -> Column:
        return F.when(
            F.size(tarr) < n, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(tarr) - (n - 1)),
                lambda i: F.array_join(F.slice(tarr, i, n), " "),
            )
        )

    return bind_once(tokens_col(c), _build)


def md5_hash60(c: Column | str, salt: Column | str | None = None) -> Column:
    """Deterministic 60-bit hash: first 15 hex chars of md5 -> bigint.

    60 bits keeps the value positive and exactly representable in both
    engines' BIGINT; md5 makes it identical everywhere.
    """
    c = F.col(c) if isinstance(c, str) else c
    if salt is not None:
        salt = F.col(salt) if isinstance(salt, str) else salt
        c = F.concat(salt.cast("string"), F.lit("|"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def sql_md5_hash60(expr: str, salt_expr: str | None = None) -> str:
    """DuckDB twin of :func:`md5_hash60`."""
    if salt_expr is not None:
        expr = f"concat(CAST({salt_expr} AS VARCHAR), '|', {expr})"
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# --- position-rotated gram-key composition --------------------------------
# Word-n-gram identity WITHOUT materializing gram strings: hash each
# token once (md5_hash60), then compose a gram's 60-bit key as the XOR
# of its token hashes rotated GRAM_ROT_STEP bits per position. One md5
# per token instead of one per gram; collisions merge gram counts with
# probability ~n²/2^60 and both engines compose the IDENTICAL key, so
# cross-engine parity is unaffected either way. Shared by
# dedup_ngram_spans and txt_gopher_repetition.
GRAM_ROT_STEP = 7


def rot60(h: Column, s: int) -> Column:
    """Rotate a 60-bit value left by s bits (s < 60), staying positive
    in BIGINT: mask-then-shift so no bit ever crosses 2^63."""
    if s == 0:
        return h
    low = (1 << (60 - s)) - 1
    return F.shiftleft(h.bitwiseAND(F.lit(low)), s).bitwiseOR(
        F.shiftright(h, 60 - s)
    )


def sql_rot60(e: str, s: int) -> str:
    """DuckDB twin of :func:`rot60`."""
    if s == 0:
        return f"({e})"
    low = (1 << (60 - s)) - 1
    return f"(((({e}) & {low}) << {s}) | (({e}) >> {60 - s}))"


# ASCII-only case fold for the fingerprint: a table-driven translate,
# NOT lower() — engines ship different Unicode versions and their case
# tables disagree on newer blocks (hypothesis found U+10570, whose
# lowercase mapping Java applies but DuckDB does not), so a
# Unicode-aware lower() makes the exact-dup key engine-dependent.
# ASCII folding is deterministic everywhere; non-ASCII case is kept,
# which an exact-dup key can afford (aggressive Unicode case-folding
# is locale-fraught anyway).
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def fingerprint_col(c: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized,
    ASCII-case-folded text (the reference has no fingerprinting; this
    is the standard exact-dup key for a 100 TB corpus — cheap,
    shuffle-friendly, and a stable join key across runs and ENGINES;
    see the _ASCII_UPPER note)."""
    c = F.col(c) if isinstance(c, str) else c
    # explicit class + strip, not \s/trim (see _WS_CLASS note)
    return F.md5(
        F.regexp_replace(
            F.translate(_strip_ws(c), _ASCII_UPPER, _ASCII_LOWER),
            _WS_CLASS + "+",
            " ",
        )
    )


def sql_fingerprint(expr: str) -> str:
    """DuckDB twin of :func:`fingerprint_col` — the ONE definition the
    oracles interpolate (five inline copies collapsed here, round 5)."""
    stripped = (
        f"regexp_replace({expr}, '^[\\t\\n\\f\\r ]+|[\\t\\n\\f\\r ]+$', '', 'g')"
    )
    return (
        f"md5(regexp_replace(translate({stripped}, "
        f"'{_ASCII_UPPER}', '{_ASCII_LOWER}'), '[\\t\\n\\f\\r ]+', ' ', 'g'))"
    )


# same explicit class/strip as _WS_CLASS/_WS_STRIP (see note above)
SQL_WS_STRIP = "regexp_replace({expr}, '^[\\t\\n\\f\\r ]+|[\\t\\n\\f\\r ]+$', '', 'g')"
SQL_TOKENS = (
    "CASE WHEN " + SQL_WS_STRIP + " = '' THEN [] "
    "ELSE string_split_regex(" + SQL_WS_STRIP + ", '[\\t\\n\\f\\r ]+') END"
)


def sql_tokens(expr: str) -> str:
    return SQL_TOKENS.format(expr=expr)


def sql_shingles(toks_expr: str, n: int = 3) -> str:
    return (
        f"list_transform(generate_series(1, greatest(len({toks_expr}) - {n - 1}, 0)), "
        f"i -> array_to_string(({toks_expr})[i:i+{n - 1}], ' '))"
    )


# --- shared Bloom-filter bit contract -------------------------------------
# One definition of the salted-md5 bit layout, shared by the broadcast
# contamination filter (plans/text.py), the per-file data-skipping
# index (operators/skipping.py) and their python/DuckDB twins — the
# salt format and word width are a cross-layer contract: a drift in
# any copy silently breaks the membership locks the others assert.
BLOOM_BITS = 4096
BLOOM_WORD_BITS = 32
BLOOM_WORDS = BLOOM_BITS // BLOOM_WORD_BITS
BLOOM_K = 3


def bloom_positions_col(c: Column | str, k: int = BLOOM_K) -> Column:
    """Array of the k salted-md5 bit positions of a string Column."""
    c = F.col(c) if isinstance(c, str) else c
    return F.array(
        *[(md5_hash60(c, F.lit(i)) % BLOOM_BITS) for i in range(k)]
    )


def py_bloom_positions(value: str, k: int = BLOOM_K) -> list[int]:
    """Driver-side twin of :func:`bloom_positions_col` (same salt
    format as md5_hash60 with an integer salt)."""
    import hashlib

    return [
        int(hashlib.md5(f"{i}|{value}".encode()).hexdigest()[:15], 16)
        % BLOOM_BITS
        for i in range(k)
    ]
