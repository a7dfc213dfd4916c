"""The UDF surface — for the rare case built-in Columns can't express
the logic. Rules of the road (SURVEY.md §2f): native Column first;
Arrow-batched pandas_udf when Python is unavoidable; row-at-a-time
Python UDFs never (10-100x slower, breaks codegen).

quality_score_udf deliberately duplicates the native-Column quality
score from plans/text.txt_doc_features, and tests assert equality —
demonstrating the vectorized escape hatch is semantically safe while
keeping the hot path JVM-side.
"""

from __future__ import annotations

import pandas as pd  # module-level: get_type_hints resolves "pd.Series"


def quality_score_udf():
    """Vectorized (Arrow-batched) twin of the Column-expression quality
    score: 0.5*min(tokens/100,1) + 0.3*(1-stop_ratio) + 0.2*min(atl/8,1).
    Built lazily — pandas_udf registration needs an active session.
    """
    from pyspark.sql.functions import pandas_udf

    # No type hints: with `from __future__ import annotations` they
    # become unresolvable strings for pandas_udf's signature inference;
    # the explicit returnType carries the contract.
    @pandas_udf("double")
    def _score(n_tokens, stop_ratio, avg_token_len):
        return (
            (n_tokens / 100.0).clip(upper=1.0) * 0.5
            + (1.0 - stop_ratio) * 0.3
            + (avg_token_len / 8.0).clip(upper=1.0) * 0.2
        )

    return _score


def trimmed_mean_udaf():
    """Arrow-batched grouped aggregation (the UDAF shape): mean after
    dropping one min and one max per group. Each group's values arrive
    as ONE pandas Series per group — fine for bounded groups (this is a
    per-key statistic), but an unbounded 100 TB group must use the
    built-in two-phase aggregates instead; tests assert equality with
    the Column-expression formulation ((sum-min-max)/(n-2))."""
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar type hints mark this GROUPED_AGG (the stringified
    # annotations from `from __future__ import annotations` resolve via
    # the module-level `pd` import).
    @pandas_udf("double")
    def _trimmed_mean(v: pd.Series) -> float:
        if len(v) <= 2:
            return float(v.mean())
        return float((v.sum() - v.min() - v.max()) / (len(v) - 2))

    return _trimmed_mean


def ngrams_udtf():
    """Python UDTF (Spark 4 table function): one input row -> N output
    rows of (pos, ngram). The lateral-join form of row expansion — for
    the hot path prefer the native explode(shingles_col(...)) (tests
    assert both emit identical rows); the UDTF exists for logic a
    Column expression can't state (per-row imperative tokenizers)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, ngram: string")
    class NGrams:
        def eval(self, text: str, n: int):
            if text is None:
                return
            toks = text.split()
            for i in range(max(len(toks) - n + 1, 0)):
                yield i, " ".join(toks[i : i + n])

    return NGrams
