"""Text analysis + deduplication over the `documents` corpus — the
LLM-training-data operators (BASELINE.json north star). None exist in
the reference (SURVEY.md §2f); all are built scale-first:

- exact dedup: fingerprint groupBy — one shuffle on a 32-byte key.
- n-gram Jaccard: shared-shingle candidate join (the exact method; its
  cost grows with shingle-bucket skew — MinHash-LSH below is the 100 TB
  path that bounds candidates per band bucket).
- MinHash + banded LSH: md5-based permutation hashes -> 16-slot
  signature -> 4 bands -> bucket join -> Jaccard verification. Fully
  deterministic, so it is oracle-checkable in DuckDB — unlike
  pyspark.ml's MinHashLSH (also provided, rows-only).
- SimHash: 60-bit signatures from per-token md5 hashes; near-dup pairs
  via 15-bit band buckets + Hamming verification.
- language ID / quality scoring / fingerprinting: pure Column
  arithmetic (no transcendental fns -> bit-identical across engines).

A corpus view with injected exact (doc_id%17) and near (doc_id%23)
duplicates makes the dedup outputs non-trivial at every SF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_etl_pipeline_spark.functions.agg import davg, sql_davg
from simple_etl_pipeline_spark.functions.text import (
    GRAM_ROT_STEP,
    bind_once,
    fingerprint_col,
    md5_hash60,
    rot60,
    shingles_col,
    sql_fingerprint,
    sql_md5_hash60,
    sql_rot60,
    sql_shingles,
    sql_tokens,
    tokens_col,
)
from simple_etl_pipeline_spark.schemas import load_table

NEAR_DUP_TAIL = " nearly duplicated tail token"


def _dup_variants_col() -> Column:
    """array of (doc_id, text) variants per row: itself, plus the +1M
    exact copy when doc_id % 17 == 0 and the +2M near-copy when
    doc_id % 23 == 0 (see inject_dup_variants)."""
    empty = "CAST(array() AS ARRAY<STRUCT<doc_id: BIGINT, text: STRING>>)"
    return F.expr(
        "concat(array(struct(doc_id AS doc_id, text AS text)), "
        "CASE WHEN doc_id % 17 = 0 THEN array(struct("
        f"doc_id + 1000000 AS doc_id, text AS text)) ELSE {empty} END, "
        "CASE WHEN doc_id % 23 = 0 THEN array(struct("
        f"doc_id + 2000000 AS doc_id, concat(text, '{NEAR_DUP_TAIL}') AS text))"
        f" ELSE {empty} END)"
    )


def inject_dup_variants(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> the corpus with injected duplicates, in ONE
    scan: each row explodes into its 1-3 variants (itself; the +1M
    exact copy when doc_id % 17 == 0; the +2M near-copy with
    NEAR_DUP_TAIL when doc_id % 23 == 0) via a conditional array.
    Replaces the 3-branch union that read the documents source once
    PER BRANCH — measured directly on the streaming twin
    (numInputRows = 3x the file rows per micro-batch); in batch the
    three differently-filtered branch scans cannot share an exchange,
    so at 100 TB the union costs two extra corpus reads per pipeline.
    The row MULTISET is identical to the union (same variant
    conditions, same transforms; a NULL doc_id fails both branch
    filters there and both WHEN conditions here), only row ORDER
    differs — which nothing in the engine depends on (the
    partition-invariance discipline). Shared by the batch
    corpus_with_dups and both streaming dup-injection adapters, so
    batch and stream keep replaying the same corpus by construction."""
    return docs.select(F.explode(_dup_variants_col()).alias("r")).select(
        F.col("r.doc_id").alias("doc_id"), F.col("r.text").alias("text")
    )


def corpus_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return inject_dup_variants(docs)


CORPUS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0
UNION ALL SELECT doc_id + 2000000, concat(text, '{NEAR_DUP_TAIL}')
          FROM documents WHERE doc_id % 23 = 0
"""


# --- text statistics ------------------------------------------------------
def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens_col("text"))).cast("bigint").alias("sum_tokens"),
            davg("n_chars").alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


TXT_TOKEN_STATS_ORACLE = f"""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS sum_tokens,
  {sql_davg('n_chars')} AS avg_chars,
  COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY lang ORDER BY lang
"""


def txt_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features. The quality score uses only
    rational arithmetic (+,-,*,/) — transcendental functions are not
    bit-identical across engines and would break the value hash."""
    docs = load_table(spark, sf_dir, "documents", parallelize=False)
    toks = tokens_col("text")
    n_tokens = F.size(toks)
    nonspace = F.length(F.regexp_replace("text", "[\\t\\n\\f\\r ]", ""))
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    avg_token_len = nonspace.cast("double") / F.nullif(n_tokens, F.lit(0))
    stop_ratio = n_stop.cast("double") / F.nullif(n_tokens, F.lit(0))
    quality = (
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - stop_ratio) * 0.3
        + F.least(avg_token_len / 8.0, F.lit(1.0)) * 0.2
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
        avg_token_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    ).orderBy("doc_id")


TXT_DOC_FEATURES_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {sql_tokens('text')} AS toks,
         length(regexp_replace(text, '[\\t\\n\\f\\r ]', '', 'g')) AS nonspace
  FROM documents
), f AS (
  SELECT doc_id, length(text) AS n_chars_text, len(toks) AS n_tokens,
         CAST(nonspace AS DOUBLE) / NULLIF(len(toks), 0) AS avg_token_len,
         CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
           / NULLIF(len(toks), 0) AS stopword_ratio
  FROM t
)
SELECT doc_id, n_tokens, n_chars_text, avg_token_len, stopword_ratio,
  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
  + (1.0 - stopword_ratio) * 0.3
  + least(avg_token_len / 8.0, 1.0) * 0.2 AS quality_score
FROM f ORDER BY doc_id
"""


# --- language identification ---------------------------------------------
_LANG_MARKERS = [("en", "the"), ("de", "der"), ("es", "el"), ("fr", "le"), ("zh", "的")]


def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID over a synthesized multilingual view: each
    doc gets a language-specific marker (by doc_id%5) appended ~20x, then
    the classifier counts space-delimited marker occurrences and argmaxes
    with a fixed tie-break order. Occurrence counting is the
    (len - len(replace))/len(marker) trick — pure integer math."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    marker = F.element_at(
        F.array(*[F.lit(m) for _, m in _LANG_MARKERS]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    # coalesce: Spark's concat is null-propagating while DuckDB's
    # concat skips NULLs — a null text would null the whole augmented
    # string here but not in the oracle (edge-corpus finding, round 5)
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" "),
        F.repeat(F.concat(marker, F.lit(" ")), (F.col("doc_id") % 4 + 20).cast("int")),
    )
    padded = F.concat(F.lit(" "), aug, F.lit(" "))
    occs = {
        lang: (
            (F.length(padded) - F.length(F.replace(padded, F.lit(f" {m} "), F.lit(""))))
            / F.length(F.lit(f" {m} "))
        ).cast("bigint").alias(f"occ_{lang}")
        for lang, m in _LANG_MARKERS
    }
    scored = docs.select("doc_id", "lang", *occs.values())
    pred = F.lit(None).cast("string")
    cond_chain = None
    for lang, _ in _LANG_MARKERS:
        cond = F.lit(True)
        for other, _ in _LANG_MARKERS:
            if other != lang:
                cond = cond & (F.col(f"occ_{lang}") >= F.col(f"occ_{other}"))
        cond_chain = (
            F.when(cond, F.lit(lang)) if cond_chain is None else cond_chain.when(cond, F.lit(lang))
        )
    return scored.select(
        "doc_id", "lang", cond_chain.alias("predicted_lang"),
        *[F.col(f"occ_{lang}") for lang, _ in _LANG_MARKERS],
    ).orderBy("doc_id")


def _langid_oracle() -> str:
    markers_list = ", ".join(f"'{m}'" for _, m in _LANG_MARKERS)
    occ_cols = ",\n  ".join(
        f"CAST((length(padded) - length(replace(padded, ' {m} ', ''))) // length(' {m} ') AS BIGINT) AS occ_{lang}"
        for lang, m in _LANG_MARKERS
    )
    whens = []
    for lang, _ in _LANG_MARKERS:
        conds = " AND ".join(
            f"occ_{lang} >= occ_{other}" for other, _ in _LANG_MARKERS if other != lang
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " END"
    return f"""
WITH aug AS (
  SELECT doc_id, lang,
    concat(' ', text, ' ',
      repeat(concat(([{markers_list}])[(doc_id % 5) + 1], ' '), doc_id % 4 + 20), ' ') AS padded
  FROM documents
), scored AS (
  SELECT doc_id, lang,
  {occ_cols}
  FROM aug
)
SELECT doc_id, lang, {case} AS predicted_lang, occ_en, occ_de, occ_es, occ_fr, occ_zh
FROM scored ORDER BY doc_id
"""


def txt_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 bigrams: explode 2-gram shingles, count, global
    top-k (TakeOrderedAndProject) — the vocabulary-profiling pass of a
    training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    bigrams = docs.select(F.explode(shingles_col("text", n=2)).alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("bigram"))
        .limit(50)
    )


TXT_NGRAM_FREQ_ORACLE = f"""
SELECT bigram, COUNT(*) AS n_occurrences FROM (
  SELECT unnest({sql_shingles(sql_tokens('text'), 2)}) AS bigram FROM documents
) GROUP BY bigram ORDER BY n_occurrences DESC, bigram ASC LIMIT 50
"""


def txt_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top term by tf-idf. The idf is the rational BM25
    form (N - df + 0.5)/(df + 0.5) — no logarithm, so scores are
    bit-identical across engines. Two keyed shuffles: term-frequency
    groupBy and document-frequency groupBy (broadcast back)."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Corpus size as a broadcast 1-row aggregate (the oracle's CROSS
    # JOIN n) — NOT docs.count(): that would run a full-scan job at
    # plan-build time and break laziness.
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5),
        )
        .drop("n_docs")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", "tf", "df", "tfidf")
        .orderBy("doc_id")
    )


TXT_TFIDF_ORACLE = f"""
WITH terms AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         tf * (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
) WHERE rn = 1 ORDER BY doc_id
"""


# --- fingerprint + exact dedup --------------------------------------------
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_with_dups(spark, sf_dir)
    return corpus.select(
        "doc_id", fingerprint_col("text").alias("fingerprint")
    ).orderBy("doc_id")


TXT_FINGERPRINT_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL})
SELECT doc_id,
  {sql_fingerprint('text')} AS fingerprint
FROM corpus ORDER BY doc_id
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at scale: one groupBy on the fingerprint; keeps the
    lowest doc_id per group (deterministic survivor policy)."""
    corpus = corpus_with_dups(spark, sf_dir)
    return (
        corpus.select("doc_id", fingerprint_col("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("kept_doc_id")
    )


DEDUP_EXACT_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL})
SELECT {sql_fingerprint('text')} AS fingerprint,
       MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
FROM corpus GROUP BY 1 ORDER BY kept_doc_id
"""


# --- n-gram Jaccard near-dup ----------------------------------------------
JACCARD_THRESHOLD = 0.7
# Shingles appearing in more than this many documents are dropped before
# the candidate join: a stop-word-ish shingle with document frequency d
# contributes O(d^2) candidate pairs, so one hot shingle dominates the
# whole self-join at scale. Ultra-common shingles carry no near-dup
# signal anyway (standard df-cap trick); mirrored exactly in the oracle
# so the exact path stays hash-checkable.
SHINGLE_DF_CAP = 200


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) pairs, PERSISTED: every consumer
    (Jaccard's hot-shingle df, both self-join sides, doc sizes, MinHash
    signatures) re-reads this subtree, and Spark's cache manager dedupes
    by canonicalized plan — so the tokenize+shingle explode runs once
    per corpus even ACROSS queries (jaccard, minhash, components share
    the one entry; measured 12s -> ~4s for dedup_ngram_jaccard at
    sf0.1). MEMORY_AND_DISK spills instead of OOMing; sessions cycling
    distinct corpora should clearCache() between them
    (tools/scale_probe.py does)."""
    from pyspark import StorageLevel

    corpus = corpus_with_dups(spark, sf_dir)
    # 60-bit md5 hash of the shingle, not the string: every downstream
    # shuffle (hot-df, self-join, MinHash) then moves 8-byte bigints
    # instead of ~20-byte strings, and MinHash's per-shingle md5 is
    # already paid here. The oracle hashes with the identical md5
    # formula, so even the ~1e-8 collision case is bit-identical across
    # engines. (Two selects: a generator cannot nest inside the hash
    # expression.)
    return (
        corpus.select(
            "doc_id",
            F.explode(F.array_distinct(shingles_col("text"))).alias("sh0"),
        )
        .select("doc_id", md5_hash60(F.col("sh0")).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


SHINGLES_SQL = f"""
SELECT doc_id, {sql_md5_hash60('sh0')} AS sh FROM (
  SELECT doc_id,
         unnest(list_distinct({sql_shingles(sql_tokens('text'))})) AS sh0
  FROM corpus
)
"""


def _pairs_from_sorted_list(lists: DataFrame) -> DataFrame:
    """Expand each row's sorted `ds` id array into its ordered
    2-combinations — (doc_a, doc_b) with doc_a before doc_b in the
    list, multiplicity identical to the classic keyed self-join
    `a.key = b.key AND a.doc_id < b.doc_id` it replaces (one shuffle
    of the list frame instead of two of the exploded one). posexplode
    fixes doc_a at 0-based position i; slice(i+2, ...) (1-based)
    yields the strictly-later elements. Equal ids inside one group
    (possible only when two distinct shingles of a doc collide under
    the 60-bit md5) would form (A, A) self-pairs the `<` join never
    emits, so they are filtered; the duplicates still contribute full
    cross-multiplicity to later elements, keeping pair counts equal
    to the join's.

    PRECONDITION (ADVICE r6): the upstream groupBy key must be
    NON-NULL. groupBy retains a NULL-key group whose members would be
    paired with each other here, whereas the equi-join's equality
    predicate drops NULL keys entirely — so the join-equivalence claim
    above holds only for non-null keys. Every current call site
    satisfies this by construction: the keys are md5-derived
    (md5_hash60 of a non-null shingle / band signature is never NULL),
    pinned by tests/test_adversarial_text.py::
    test_pair_keys_are_nonnull_at_every_call_site. A future call site
    with a nullable key must `.filter(key.isNotNull())` before its
    groupBy/collect_list."""
    return (
        lists.select(F.posexplode("ds").alias("i", "doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(
                F.slice("ds", F.col("i") + 2, F.size("ds"))
            ).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs via shared-shingle candidate join,
    over the df-capped shingle universe (see SHINGLE_DF_CAP): dropping
    hot shingles bounds per-bucket candidate blowup, making the exact
    path skew-safe. dedup_minhash_lsh (banded) is still the preferred
    100 TB path; this is the oracle of record for it."""
    raw = _shingle_sets(spark, sf_dir)
    hot = (
        raw.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("sh")
    )
    sh = raw.join(hot, "sh", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Candidate-pair generation as ONE shingle-keyed shuffle: collect
    # each shingle's sorted doc list and expand the
    # 2-combinations in-partition — identical pairs to the classic
    # sh-keyed self-join but without shuffling the shingle frame a
    # second time for the join's other side (the largest frame in the
    # query; at 100 TB, halving its shuffle volume is the win). List
    # width — and therefore the d^2 expansion per shingle — is bounded
    # by SHINGLE_DF_CAP, the same cap that makes the self-join
    # skew-safe.
    lists = sh.groupBy("sh").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    inter = (
        _pairs_from_sorted_list(lists)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # The VERIFIED pair list is PERSISTED (r15, the _shingle_sets
    # device one stage later): its consumers replay this subtree many
    # times — dedup_components / txt_pagerank build the symmetric edge
    # set as pairs UNION pairs.swap (the pair pipeline appears in BOTH
    # union branches), txt_triangle_count feeds three join sides, and
    # all of them plus this query's own output share ONE session. The
    # cache manager dedupes by canonicalized plan, so the candidate
    # join + Jaccard verification run once per corpus instead of once
    # per consumer branch (guide §2.4/§5: a reused intermediate whose
    # recompute is a full shuffle pipeline is exactly what persist is
    # for; at cluster scale the verified pair list is checkpointed
    # storage — the txt_triangle_count rationale, now hoisted to the
    # producer so every graph consumer shares it).
    from pyspark import StorageLevel

    verified = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return verified.orderBy("doc_a", "doc_b")


# CTE chain producing the exact-Jaccard near-dup pairs; shared by the
# pairs oracle and the connected-components oracle below.
_JACCARD_PAIRS_CTES = f"""corpus AS ({CORPUS_SQL}),
raw_sh AS ({SHINGLES_SQL}),
hot AS (SELECT sh FROM raw_sh GROUP BY sh HAVING COUNT(*) > {SHINGLE_DF_CAP}),
sh AS (SELECT * FROM raw_sh WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b,
    CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_THRESHOLD}
)"""

DEDUP_JACCARD_ORACLE = f"""
WITH {_JACCARD_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b
"""


# --- MinHash + banded LSH (deterministic, oracle-checkable) ----------------
MINHASH_K = 16
MINHASH_BANDS = 4
_ROWS_PER_BAND = MINHASH_K // MINHASH_BANDS
# One md5 per shingle, then K universal-hash "permutations"
# h_i = (a_i*h + b_i) mod (2^31-1) — pure bigint arithmetic (products stay
# under 2^62), identical in any engine, 16x cheaper than K md5 calls.
MINHASH_P = 2147483647
_PERM = [
    ((1103515245 * (i + 1)) % MINHASH_P or 1, (12345 + 2654435761 * i) % MINHASH_P)
    for i in range(MINHASH_K)
]

# The min-hash aggregates and band-key structs are compile-time
# constants over fixed column names, so each is ONE SQL string (alias
# inside): the Column API built the same analyzed trees at one py4j
# round trip per node (74 ms for the 16 aggregates, 45 ms for the band
# structs, on every build). sameResult to the Column-API forms is
# pinned by tests/test_plan_shapes.py.


def _mh_agg_cols() -> list:
    """min((a_i*h31 + b_i) % P) AS mh_i for the K permutations —
    dedup_minhash_lsh's signature aggregates."""
    return [
        F.expr(f"min(({a} * h31 + {b}) % {MINHASH_P}) AS mh{i}")
        for i, (a, b) in enumerate(_PERM)
    ]


def _mh_stateless_cols() -> list:
    """array_min over the affine rehash of the in-row h31s array — the
    stateless (streaming-safe) twin of _mh_agg_cols."""
    return [
        F.expr(
            f"array_min(transform(h31s, h -> ({a} * h + {b})"
            f" % {MINHASH_P})) AS mh{i}"
        )
        for i, (a, b) in enumerate(_PERM)
    ]


def _bkey_sql(band: int) -> str:
    """The comma-joined min-hash slots of one band."""
    slots = ", ".join(
        f"CAST(mh{band * _ROWS_PER_BAND + j} AS STRING)"
        for j in range(_ROWS_PER_BAND)
    )
    return f"concat_ws(',', {slots})"


def _band_struct_cols() -> list:
    """struct(band, bkey) per band over mh0..mhK-1 — the batch band
    explode payload."""
    return [
        F.expr(f"struct({b} AS band, {_bkey_sql(b)} AS bkey)")
        for b in range(MINHASH_BANDS)
    ]


def _band_struct_bigint_cols() -> list:
    """The stateless band structs (band typed bigint, matching the
    streaming output schema)."""
    return [
        F.expr(f"struct(CAST({b} AS BIGINT) AS band, {_bkey_sql(b)} AS bkey)")
        for b in range(MINHASH_BANDS)
    ]


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MinHash-LSH: shingles x K md5 'permutations' -> min per
    (doc, perm) -> 4-slot band keys -> bucket self-join -> Jaccard
    verification. Every shuffle is keyed (shingle, doc/perm, band key);
    candidates per bucket are bounded by band selectivity — this is the
    100 TB near-dup path."""
    # The shingle set feeds three passes (signature + both sides of the
    # Jaccard verification); _shingle_sets persists internally
    # (MEMORY_AND_DISK, shared across the dedup family), so the frame is
    # used directly here. At cluster scale this becomes a checkpoint of
    # the signature stage.
    sh = _shingle_sets(spark, sf_dir)
    # All K min-hashes in ONE aggregation pass: each permutation is a
    # min() over an arithmetic rehash of the shingle's single md5 value,
    # so map-side partial aggregation collapses to one row per doc
    # *before* the shuffle (vs. exploding K x shingles rows).
    # sh is already the 60-bit md5 hash (see _shingle_sets)
    h31 = (F.col("sh") % MINHASH_P).alias("h31")
    hashed = sh.select("doc_id", h31)
    sig = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"), *_mh_agg_cols()
    )
    bands = sig.select(
        "doc_id", F.explode(F.array(*_band_struct_cols())).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    # Bucket-candidate generation as ONE (band, bkey)-keyed shuffle:
    # collect each bucket's sorted doc list and expand 2-combinations
    # in-partition — the round-6 device dedup_ngram_jaccard's pair
    # stage uses, applied to the band buckets (the self-join shuffled
    # the bands frame twice for identical pairs). Per-bucket width is
    # bounded by band selectivity exactly as the join was.
    blists = bands.groupBy("band", "bkey").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    cand = _pairs_from_sorted_list(blists).distinct()
    # Verify candidates with exact Jaccard (semi-joined to candidates only).
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_val"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_val"))
    sizes = sig.select("doc_id", "n_sh")
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh_val"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # Verified pair list persisted — same rationale as
    # dedup_ngram_jaccard's persist above: dedup_components_lsh replays
    # this subtree in both branches of its symmetric-edge union, and
    # the banded candidate join + verification is the expensive stage.
    from pyspark import StorageLevel

    verified = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return verified.orderBy("doc_a", "doc_b")


def minhash_band_keys_stateless(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, band, bkey): dedup_minhash_lsh's band
    frame computed with STATELESS per-row array expressions — no
    explode, no groupBy — so it can run inside a streaming query
    BEFORE a stateful operator (Structured Streaming forbids chaining
    a streaming aggregation ahead of applyInPandasWithState; the batch
    pipeline's shingle-explode + per-doc min IS such an aggregation).

    Provably identical to the batch band frame: the same distinct
    shingle set (array_distinct vs explode-distinct), the same
    per-shingle 60-bit md5 -> h31, the same K affine rehashes with
    min folded by array_min instead of F.min over rows (min over the
    same SET — order-free), the same 4-slot comma-joined band keys.
    Docs with no shingles (< 3 tokens) produce no signature in the
    batch groupBy and are filtered identically here. The equivalence
    is pinned row-for-row by
    tests/test_streaming.py::test_lsh_band_keys_stateless_equals_batch.
    Per-row cost is K x |shingles| arithmetic on in-row arrays —
    whole-stage-codegen Column work, no Python."""
    sh_arr = F.array_distinct(shingles_col("text"))
    t = (
        docs.select("doc_id", sh_arr.alias("sh_arr"))
        .filter(F.size("sh_arr") > 0)
        .withColumn(
            "h31s",
            F.expr(
                "transform(sh_arr, s -> cast(conv(substr(md5(s), 1, 15),"
                f" 16, 10) as bigint) % {MINHASH_P})"
            ),
        )
    )
    sig = t.select("doc_id", *_mh_stateless_cols())
    return sig.select(
        "doc_id", F.explode(F.array(*_band_struct_bigint_cols())).alias("bb")
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bkey").alias("bkey"),
    )


# CTE chain producing the MinHash-LSH verified near-dup pairs (mpairs);
# shared by the minhash oracle and the LSH connected-components oracle.
_MINHASH_PAIRS_CTES = f"""corpus AS ({CORPUS_SQL}),
sh AS ({SHINGLES_SQL}),
h31s AS (
  SELECT doc_id, sh % {MINHASH_P} AS h31 FROM sh
),
hashed AS (
  SELECT doc_id, i,
         (([{", ".join(str(a) for a, _ in _PERM)}])[i + 1] * h31
          + ([{", ".join(str(b) for _, b in _PERM)}])[i + 1]) % {MINHASH_P} AS h
  FROM h31s CROSS JOIN (SELECT unnest(generate_series(0, {MINHASH_K - 1})) AS i)
),
minh AS (SELECT doc_id, i, MIN(h) AS mh FROM hashed GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, i // {_ROWS_PER_BAND} AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
  FROM minh GROUP BY doc_id, i // {_ROWS_PER_BAND}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
  GROUP BY 1, 2
),
mpairs AS (
  SELECT doc_a, doc_b,
    CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
        >= {JACCARD_THRESHOLD}
)"""

DEDUP_MINHASH_ORACLE = f"""
WITH {_MINHASH_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM mpairs ORDER BY doc_a, doc_b
"""


def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml MinHashLSH variant (HashingTF -> MinHashLSH ->
    approxSimilarityJoin). Hash seeds are Spark-internal, so this is a
    rows-only check; dedup_minhash_lsh above is the oracle-checked twin.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    corpus = corpus_with_dups(spark, sf_dir)
    toks = corpus.select("doc_id", tokens_col("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(toks)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.3, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.col("jaccard_dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- SimHash ---------------------------------------------------------------
SIMHASH_BITS = 60
_SIMHASH_BANDS = 4
_BITS_PER_BAND = SIMHASH_BITS // _SIMHASH_BANDS  # 15


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_with_dups(spark, sf_dir)
    tok = corpus.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    ).withColumn("h", md5_hash60("tok", salt=F.lit("sim")))
    bit_sums = [
        F.sum(
            F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    assemble = " + ".join(
        f"IF(s{b} > 0, CAST({1 << b} AS BIGINT), CAST(0 AS BIGINT))"
        for b in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", F.expr(assemble).alias("simhash"))


def _simhash_sql_core() -> str:
    h = sql_md5_hash60("tok", "'sim'")
    terms = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
tok AS (
  SELECT doc_id, {h} AS h FROM (
    SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM corpus
  )
),
sums AS (SELECT doc_id, {terms} FROM tok GROUP BY doc_id),
simhashes AS (SELECT doc_id, {assemble} AS simhash FROM sums)
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signature per document."""
    return _simhash_df(spark, sf_dir).orderBy("doc_id")


DEDUP_SIMHASH_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
{_simhash_sql_core()}
SELECT doc_id, simhash FROM simhashes ORDER BY doc_id
"""

HAMMING_MAX = 6


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: 15-bit band bucketing (a pair within Hamming
    distance 3 must agree on >=1 of 4 bands; we verify <= HAMMING_MAX
    among candidates) — bucket join, no quadratic scan."""
    sim = _simhash_df(spark, sf_dir)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * _BITS_PER_BAND)
                    .bitwiseAND(F.lit((1 << _BITS_PER_BAND) - 1))
                    for i in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("band", "bval"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def _simhash_pairs_oracle() -> str:
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band, (simhash >> {i * _BITS_PER_BAND}) & {(1 << _BITS_PER_BAND) - 1} AS bval FROM simhashes"
        for i in range(_SIMHASH_BANDS)
    )
    return f"""
WITH corpus AS ({CORPUS_SQL}),
{_simhash_sql_core()},
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


# --- BPE-style pre-tokenization ------------------------------------------
# GPT-2-ish pre-tokenizer simplified to an engine-portable character
# class split: letter runs, digit runs, and single non-space symbols
# each become one pre-token (real BPE then merges within these; the
# pre-token count is the standard fast token-budget estimator).
BPE_PRETOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\t\\n\\f\\r ]"


def txt_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace tokens vs BPE-style
    pre-tokens, rolled up per language. The regex runs JVM-side
    (regexp_extract_all, codegen) — at 100 TB this is a narrow
    scan-speed pass, the cheap budget estimate before any real
    tokenizer."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(tokens_col("text"))
    bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws).cast("bigint").alias("sum_ws_tokens"),
            F.sum(bpe).cast("bigint").alias("sum_bpe_tokens"),
        )
        .orderBy("lang")
    )


TXT_BPE_TOKENS_ORACLE = f"""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS sum_ws_tokens,
  CAST(SUM(len(regexp_extract_all(text, '{BPE_PRETOKEN_RE}'))) AS BIGINT)
    AS sum_bpe_tokens
FROM documents GROUP BY lang ORDER BY lang
"""


# --- winnowing fingerprints (rolling-hash document sketch) ----------------
WINNOW_WINDOW = 4


def shingle_hashes_col(text: str) -> F.Column:
    """md5 60-bit hash per word-3-gram shingle. Project this to a named
    column BEFORE passing it to winnow_fps_col — the fps expression
    references the hash array W+1 times, and each reference would
    otherwise duplicate (and re-evaluate) the whole md5-transform tree."""
    return F.transform(shingles_col(text), lambda s: md5_hash60(s))


def winnow_fps_col(h: str | F.Column, window: int = WINNOW_WINDOW) -> F.Column:
    """Distinct winnowing fingerprints from a PROJECTED hash-array
    column `h` (see shingle_hashes_col): sliding-window minima of
    `window` consecutive hashes as W-1 zip_with(least) folds over
    shifted slices. Caller should pre-filter to >= window+2 tokens so
    the slice length stays positive (empty docs yield empty arrays via
    greatest(...,0) regardless).

    MOSS guarantee (tested in tests/test_winnowing.py): two documents
    sharing a run of >= window+2 tokens share at least one fingerprint —
    the full hash window inside the shared run has the same minimum in
    both documents."""
    h = F.col(h) if isinstance(h, str) else h
    length = F.greatest(F.size(h) - window + 1, F.lit(0))
    mins = F.slice(h, 1, length)
    for j in range(1, window):
        mins = F.zip_with(
            mins, F.slice(h, F.lit(1 + j), length), lambda a, b: F.least(a, b)
        )
    return F.array_distinct(mins)


def txt_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS scheme): hash every word 3-gram,
    slide a window of WINNOW_WINDOW consecutive hashes, keep each
    window's minimum, emit the distinct minima as the document's
    fingerprint set. Guarantees any shared run of >= window+2 tokens
    between two documents shares a fingerprint — the rolling-hash
    sketch for partial-overlap detection (plagiarism / quote / mirror
    detection), complementary to whole-doc fingerprints and MinHash.

    All Column algebra: shingle hashes via md5 (engine-portable), the
    window minima via W-1 zip_with(least) folds over shifted slices of
    the hash array (elementwise min of W shifted copies — O(n*W) with
    ~2W array allocations per doc, vs one slice allocation PER POSITION
    for the naive transform(sequence)+slice form), reduced per doc to
    (count, min, max, xor-checksum) — the xor pins every fingerprint
    value, so the whole sketch is verified without emitting it. ZERO
    shuffles: the entire query is a narrow scan-speed pass (plus the
    output sort); a 10M-row explode of the raw fingerprints would cost
    a sort/exchange and is exactly what a sketch exists to avoid.

    The short-doc guard is a CHEAP pre-filter on token count (>= W+2
    tokens <=> >= W shingles <=> non-empty fingerprint set) pushed to
    the scan. Filtering on size(fps) > 0 AFTER the fact re-evaluates
    the whole HOF chain inside an interpreted Filter per row — measured
    16x slower (45.7 s -> 2.8 s for the full query at sf0.01) — and the
    pre-filter also keeps size(h)-W+1 strictly positive, so no
    greatest()/empty-sequence edge cases."""
    corpus = corpus_with_dups(spark, sf_dir)
    pre = corpus.filter(F.size(tokens_col("text")) >= WINNOW_WINDOW + 2)
    hashed = pre.select("doc_id", shingle_hashes_col("text").alias("h"))
    wins = hashed.select("doc_id", winnow_fps_col("h").alias("fps"))
    return (
        wins.select(
            "doc_id",
            F.size("fps").cast("bigint").alias("n_fp"),
            F.array_min("fps").alias("min_fp"),
            F.array_max("fps").alias("max_fp"),
            F.aggregate(
                "fps", F.lit(0).cast("bigint"), lambda a, x: a.bitwiseXOR(x)
            ).alias("fp_xor"),
        )
        .orderBy("doc_id")
    )


TXT_WINNOW_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
sh AS (
  SELECT doc_id,
    list_transform({sql_shingles(sql_tokens('text'))},
                   s -> {sql_md5_hash60('s')}) AS h
  FROM corpus
),
wins AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(h) - {WINNOW_WINDOW} + 1, 0)),
      i -> list_min(list_slice(h, i, i + {WINNOW_WINDOW} - 1)))) AS fps
  FROM sh
)
SELECT doc_id,
  CAST(len(fps) AS BIGINT) AS n_fp,
  list_min(fps) AS min_fp,
  list_max(fps) AS max_fp,
  list_reduce(fps, (a, x) -> xor(a, x)) AS fp_xor
FROM wins WHERE len(fps) > 0 ORDER BY doc_id
"""


# --- near-dup clustering: connected components ----------------------------
# Large-star/small-star alternation halves path distances per round, so
# 16 rounds cover components of diameter ~2^15 -- far past anything a
# near-dup graph produces (test_long_chain drives a 300-link chain
# through in <=10 rounds; dup cliques collapse in 1).
CC_MAX_ITERS = 16


def _drop_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint`` frame nothing reads any
    more. Not ``DataFrame.unpersist``: that re-caches the frames that
    depend on it, which replays their lineage."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(edges: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Connected components by large-star/small-star edge contraction
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond" — the 100 TB algorithm SCALING.md earmarked to replace
    hash-min label propagation): (doc_id, component = min doc_id in its
    component).

    Edges are kept ORIENTED (src > dst) and each round rewrites the
    edge set itself rather than carrying labels beside it:
      large-star: every node connects its LARGER neighbors to the
        minimum of its closed neighborhood;
      small-star: every node connects its smaller neighbors (and
        itself) to its minimum neighbor.
    Both are one keyed aggregation + one keyed join; each operation is
    a contraction, so the edge set shrinks toward one star per
    component (a near-dup CLIQUE collapses in a single large-star,
    where label propagation still pays rounds x full-edge shuffles) and
    path distances at least halve per round — O(log diameter) rounds
    with a monotonically shrinking shuffle, vs the old hash-min whose
    every round shuffled the full original edge list.

    Convergence is structural, not label-diffing: the edge set is a
    star forest iff no src carries two edges and no node is both a src
    and a dst. Both checks fold into ONE aggregation job per round
    (r15 — tag each endpoint side, count per-node src/dst edges, flag
    violations of either condition; the old shape ran an eager
    checkpoint job plus up to two separate count jobs per round, i.e.
    3 driver barriers where 1 suffices — guide §1.2: the driver
    round-trips are pure overhead at any scale). The checkpoint is
    LAZY: the round's single convergence count materializes it as a
    side effect. Lineage is still truncated per round with
    localCheckpoint so round N does not replay rounds 1..N-1, and once
    round N's count has materialized its checkpoint, round N-1's is
    freed: a call leaves one checkpoint behind, the final one the
    returned frame reads. Raises instead of returning
    silently-unconverged labels if max_iters is hit.

    `edges` must be symmetric (both (a,b) and (b,a) present) with
    columns (src, dst).
    """
    e0 = edges.toDF("src", "dst").filter(F.col("src") != F.col("dst"))
    cur = (
        e0.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iters):
        sym = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # large-star: m = min(closed neighborhood); larger neighbors
        # re-point to m. Output (v, m) keeps v > u >= m, so orientation
        # src > dst is preserved without re-sorting.
        mins_l = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.col("src")).alias("m")
        )
        large = (
            sym.filter(F.col("dst") > F.col("src"))
            .join(mins_l, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on the oriented edges: m = min neighbor; the other
        # smaller neighbors and the node itself re-point to m.
        mins_s = large.groupBy("src").agg(F.min("dst").alias("m"))
        nxt = (
            large.join(mins_s, "src")
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(
                mins_s.select(F.col("src").alias("a"), F.col("m").alias("b"))
            )
            .distinct()
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .localCheckpoint(eager=False)
        )
        # star forest iff every src has exactly one edge AND no node is
        # on both sides; ONE combined count job over the (lazily)
        # checkpointed edges — the count also materializes the round's
        # checkpoint, so each round is a single driver barrier
        violations = (
            nxt.select(
                F.col("src").alias("n"),
                F.lit(1).alias("s"),
                F.lit(0).alias("d"),
            )
            .unionByName(
                nxt.select(
                    F.col("dst").alias("n"),
                    F.lit(0).alias("s"),
                    F.lit(1).alias("d"),
                )
            )
            .groupBy("n")
            .agg(F.sum("s").alias("ns"), F.sum("d").alias("nd"))
            .filter(
                (F.col("ns") > 1) | ((F.col("ns") >= 1) & (F.col("nd") >= 1))
            )
            .count()
        )
        # nxt is materialized and reads nothing upstream: the previous
        # round's checkpoint is dead
        _drop_checkpoint(cur)
        cur = nxt
        if violations == 0:
            leaves = cur.select(
                F.col("src").alias("doc_id"),
                F.col("dst").alias("component"),
            )
            roots = (
                cur.select(F.col("dst").alias("doc_id"))
                .distinct()
                .withColumn("component", F.col("doc_id"))
            )
            return leaves.unionByName(roots)
    _drop_checkpoint(cur)
    raise RuntimeError(
        f"connected_components: no convergence in {max_iters} rounds -- "
        "component diameter exceeds the halving bound; raise max_iters"
    )


def _components_over_pairs(pairs: DataFrame) -> DataFrame:
    """(doc_id, component, cluster_size) from an undirected pair list —
    the shared clustering tail of both components queries."""
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = connected_components(edges)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, "component")
        .select("doc_id", "component", "cluster_size")
        .orderBy("doc_id")
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the exact-Jaccard
    pair graph -- each vertex's label converges to the minimum doc_id in
    its component, giving a deterministic cluster id (and survivor: the
    doc equal to its component id). See connected_components for the
    O(log diameter) round bound."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return _components_over_pairs(pairs)


def dedup_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the MinHash-LSH verified pairs — the pair
    source a 100 TB corpus actually uses (banded signatures bound the
    candidate count; dedup_components' exact-Jaccard source is the
    oracle-of-record shape whose shared-shingle join costs more as
    shingle buckets deepen). Same hash-min clustering; clusters can
    differ from the exact variant only where a true pair's bands all
    missed (the documented LSH recall trade)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return _components_over_pairs(pairs)


DEDUP_COMPONENTS_LSH_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mpairs
  UNION SELECT doc_b, doc_a FROM mpairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
  FROM reach GROUP BY src
)
SELECT doc_id, component, cluster_size
FROM comp
JOIN (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
  USING (component)
ORDER BY doc_id
"""

DEDUP_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
  FROM reach GROUP BY src
)
SELECT doc_id, component, cluster_size
FROM comp
JOIN (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
  USING (component)
ORDER BY doc_id
"""


# --- end-to-end training-corpus preparation -------------------------------
MIN_TOKENS = 10


def txt_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data prep pipeline as ONE lazy plan:
    corpus (with injected dups) -> token-count quality filter -> exact
    dedup (min-doc_id survivor per fingerprint) -> per-language corpus
    stats.

    r15 shape: the survivor ROW is selected in the fingerprint
    aggregation itself — min(struct(doc_id, lang, n_tokens)) orders by
    doc_id first, so the struct min IS the min-doc_id survivor's row
    (doc_id is unique in the corpus: base ids plus +1M clones; the
    isNotNull guard mirrors MIN's null-skipping in the oracle). The
    old shape re-tokenized the corpus on a second `quality` branch and
    semi-joined corpus-scale sides on doc_id (at 100 TB the survivor
    list does not broadcast, so that was two more corpus exchanges +
    a sort-merge join). Now ONE tokenize+fingerprint pass feeds ONE
    fp-keyed exchange whose map-side partial aggregation collapses
    rows to distinct-fingerprints-per-task before the shuffle
    (guide §2.3/§2.4, the same aggregation-over-join device as the
    round's argmin folds); the lang rollup re-aggregates the
    survivor-sized result."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # single-scan dup injection (r16, the inject_dup_variants device —
    # this query's spec: exact copies only, lang carried)
    _tc_base = F.struct(
        F.col("doc_id").alias("doc_id"),
        F.col("text").alias("text"),
        F.col("lang").alias("lang"),
    )
    _tc_dup = F.struct(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("text").alias("text"),
        F.col("lang").alias("lang"),
    )
    _tc_empty = F.array().cast(
        "array<struct<doc_id:bigint,text:string,lang:string>>"
    )
    corpus = docs.select(
        F.explode(
            F.concat(
                F.array(_tc_base),
                F.when(
                    F.col("doc_id") % 17 == 0, F.array(_tc_dup)
                ).otherwise(_tc_empty),
            )
        ).alias("r")
    ).select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.text").alias("text"),
        F.col("r.lang").alias("lang"),
    )
    quality = corpus.withColumn("n_tokens", F.size(tokens_col("text"))).filter(
        F.col("n_tokens") >= MIN_TOKENS
    )
    survivors = (
        quality.filter(F.col("doc_id").isNotNull())
        .select(
            fingerprint_col("text").alias("fp"),
            F.struct("doc_id", "lang", "n_tokens").alias("r"),
        )
        .groupBy("fp")
        .agg(F.min("r").alias("r"))
        .select("r.lang", "r.n_tokens")
    )
    return (
        survivors.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            davg("n_tokens").alias("avg_tokens"),
        )
        .orderBy("lang")
    )


TXT_TRAINING_CORPUS_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 17 = 0
),
quality AS (
  SELECT doc_id, text, lang, len({sql_tokens('text')}) AS n_tokens
  FROM corpus WHERE len({sql_tokens('text')}) >= {MIN_TOKENS}
),
survivors AS (
  SELECT MIN(doc_id) AS doc_id
  FROM quality
  GROUP BY {sql_fingerprint('text')}
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  {sql_davg('n_tokens')} AS avg_tokens
FROM quality
WHERE doc_id IN (SELECT doc_id FROM survivors)
GROUP BY lang ORDER BY lang
"""


QUERIES = {
    "txt_token_stats": txt_token_stats,
    "txt_doc_features": txt_doc_features,
    "txt_langid": txt_langid,
    # txt_ngram_freq DEMOTED round 11 (capacity rule, one per r11
    # registration — matching train_token_budget_pack): its
    # bigram-shingle explode is pinned by the registered
    # dedup_ngram_jaccard / dedup_ngram_spans shingle pipeline, and
    # its global top-K head by the registered q15/q18
    # TakeOrderedAndProject rows; full pytest parity continues via
    # testing.demoted_queries() (never a bench HEADLINE member;
    # note corrected r14).
    "txt_tfidf_top_term": txt_tfidf_top_term,
    # txt_fingerprint DEMOTED round 14 (capacity rule, one per r14
    # registration — matching train_binpack_shelves at TAIL_QUERIES):
    # a bare per-doc projection of fingerprint_col over
    # corpus_with_dups — the registered dedup_exact aggregates the
    # IDENTICAL fingerprint column over the IDENTICAL corpus, pinning
    # the fingerprint multiset and the survivor pairing; full pytest
    # parity continues via testing.demoted_queries() (not a bench
    # HEADLINE member — no perf trend ends with this demotion).
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    # dedup_minhash_ml: pytest-only (Spark-internal hash seeds can never
    # hash-match DuckDB) — see tests/test_retrieval.py.
    "dedup_simhash": dedup_simhash,
    # dedup_simhash_pairs DEMOTED round 8 (capacity rule, one per r8
    # registration): dedup_simhash (registered, same Hamming-band
    # signature pipeline) pins the shared semantics; the pair
    # expansion keeps full pytest parity via testing.demoted_queries().
    "dedup_components": dedup_components,
    "txt_training_corpus": txt_training_corpus,
    "txt_bpe_tokens": txt_bpe_tokens,
    "txt_winnow_fingerprint": txt_winnow_fingerprint,
}

ORACLES = {
    "txt_token_stats": TXT_TOKEN_STATS_ORACLE,
    "txt_doc_features": TXT_DOC_FEATURES_ORACLE,
    "txt_langid": _langid_oracle(),
    # txt_ngram_freq demoted r11 — see QUERIES comment
    "txt_tfidf_top_term": TXT_TFIDF_ORACLE,
    # txt_fingerprint demoted r14 — see QUERIES comment
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "dedup_ngram_jaccard": DEDUP_JACCARD_ORACLE,
    "dedup_minhash_lsh": DEDUP_MINHASH_ORACLE,
    # dedup_minhash_ml: Spark-internal hash seeds — rows-only by design
    "dedup_simhash": DEDUP_SIMHASH_ORACLE,
    "dedup_components": DEDUP_COMPONENTS_ORACLE,
    "txt_training_corpus": TXT_TRAINING_CORPUS_ORACLE,
    "txt_bpe_tokens": TXT_BPE_TOKENS_ORACLE,
    "txt_winnow_fingerprint": TXT_WINNOW_ORACLE,
}


# ==========================================================================
# TAIL queries — registered after every module's main dict so they never
# consume a driver check-window slot (see __spark_entry__.queries()).
# ==========================================================================

# --- PII detection / redaction --------------------------------------------
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{4}-\d{4}\b"


def pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` with deterministic synthetic PII appended (the testdata
    corpus is PII-free word soup): every 7th doc gains an email, every
    11th a phone number — so detection/redaction counts are non-trivial
    at every SF, and the injection itself is pure Column arithmetic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    email = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") * 7 % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id", "lang", F.concat("text", email, phone).alias("text")
    )


PII_CORPUS_SQL = """
SELECT doc_id, lang,
  text
  || CASE WHEN doc_id % 7 = 0
       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       ELSE '' END
  || CASE WHEN doc_id % 11 = 0
       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            || '-' || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0')
       ELSE '' END
  AS text
FROM documents
"""


def txt_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass for a training corpus: count email/phone matches
    per document (JVM-side regexp_extract_all — scan-speed, no UDF),
    redact them with placeholder tokens, and roll detection + redaction
    stats up per language. At 100 TB this is a narrow map-only pass; the
    only shuffle is the final tiny per-lang aggregate. The reference has
    no PII handling (SURVEY.md §2f extension)."""
    docs = pii_corpus(spark, sf_dir)
    emails = F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL_RE), 0))
    phones = F.size(F.regexp_extract_all("text", F.lit(PII_PHONE_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace("text", PII_EMAIL_RE, "[EMAIL]"),
        PII_PHONE_RE,
        "[PHONE]",
    )
    per_doc = docs.select(
        "lang",
        emails.alias("n_em"),
        phones.alias("n_ph"),
        F.length(redacted).alias("red_len"),
        F.length("text").alias("raw_len"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_em") > 0).cast("bigint")).alias("docs_with_email"),
            F.sum((F.col("n_ph") > 0).cast("bigint")).alias("docs_with_phone"),
            F.sum("n_em").cast("bigint").alias("n_emails"),
            F.sum("n_ph").cast("bigint").alias("n_phones"),
            F.sum(F.col("raw_len") - F.col("red_len")).cast("bigint").alias(
                "chars_removed"
            ),
        )
        .orderBy("lang")
    )


TXT_PII_REDACT_ORACLE = f"""
WITH corpus AS ({PII_CORPUS_SQL}),
per_doc AS (
  SELECT lang,
    len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_em,
    len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS n_ph,
    length(regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{PII_PHONE_RE}', '[PHONE]', 'g')) AS red_len,
    length(text) AS raw_len
  FROM corpus
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN n_em > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
  CAST(SUM(CASE WHEN n_ph > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
  CAST(SUM(n_em) AS BIGINT) AS n_emails,
  CAST(SUM(n_ph) AS BIGINT) AS n_phones,
  CAST(SUM(raw_len - red_len) AS BIGINT) AS chars_removed
FROM per_doc GROUP BY lang ORDER BY lang
"""


# --- benchmark-contamination check ----------------------------------------
CONTAM_BENCH_MOD = 50


def txt_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: treat every CONTAM_BENCH_MOD-th doc
    as a held-out eval set, build its distinct word-3-gram set, and
    score every other document by the fraction of its distinct shingles
    that appear in the benchmark set.

    Scale shape: the benchmark shingle table (a few eval suites —
    KBs-to-MBs at any corpus size) is BROADCAST and the corpus's
    exploded distinct shingles hash-probe it map-side; the only
    shuffles are doc_id-keyed counts of narrow (bigint, bigint) rows.
    The earlier one-row collect_list + per-row array_intersect
    formulation was quadratic in practice: Spark rebuilds the
    |bench|-sized hash set for EVERY corpus row (it cannot see the
    joined array is constant) — measured 12 s -> ~1 s at sf0.1 from
    this rewrite, and the per-row set build would grow with the
    benchmark while the broadcast-join probe stays O(1) per shingle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench_tbl = (
        docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select(F.explode(shingles_col("text")).alias("sh"))
        .distinct()
    )
    ev = docs.filter(
        (F.col("doc_id") % CONTAM_BENCH_MOD != 0)
        & (F.size(tokens_col("text")) >= 3)
    ).select(
        "doc_id", F.explode(F.array_distinct(shingles_col("text"))).alias("sh")
    )
    # ONE corpus pass: a LEFT broadcast probe marks each distinct
    # shingle, and a single doc_id aggregation derives both the total
    # and the hit count — the earlier n_sh/hits twin-consumer shape
    # replayed tokenize+shingle+explode twice and needed a third
    # doc_id-keyed join to recombine.
    # PRECONDITION: both sides must stay set-valued — bench_tbl via its
    # .distinct(), ev via array_distinct — because n_shingles is counted
    # AFTER this join: a duplicate bench shingle would fan out matching
    # rows and silently inflate both the denominator and the hit count
    # (tests/test_adversarial_text.py pins n_shingles == the pre-join
    # distinct count).
    marked = ev.join(
        F.broadcast(bench_tbl.withColumn("m", F.lit(1))), "sh", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce(F.col("m"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_shingles"),
                6,
            ).alias("contamination"),
        )
        .orderBy("doc_id")
    )


TXT_CONTAMINATION_ORACLE = f"""
WITH bench AS (
  SELECT DISTINCT unnest({sql_shingles(sql_tokens('text'))}) AS s
  FROM documents WHERE doc_id % {CONTAM_BENCH_MOD} = 0
),
b AS (SELECT list(s) AS bench_sh FROM bench),
ev AS (
  SELECT doc_id, list_distinct({sql_shingles(sql_tokens('text'))}) AS sh
  FROM documents
  WHERE doc_id % {CONTAM_BENCH_MOD} <> 0 AND len({sql_tokens('text')}) >= 3
)
SELECT doc_id,
  CAST(len(sh) AS BIGINT) AS n_shingles,
  CAST(len(list_filter(sh, t -> list_contains(bench_sh, t))) AS BIGINT)
    AS n_contaminated,
  round(CAST(len(list_filter(sh, t -> list_contains(bench_sh, t))) AS DOUBLE)
        / len(sh), 6) AS contamination
FROM ev, b ORDER BY doc_id
"""


# --- deterministic stratified sampling ------------------------------------
SAMPLE_PCT = 20


def txt_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling: hash-bucket each doc_id with the
    engine-portable md5 hash and keep bucket < SAMPLE_PCT within each
    language stratum. Unlike rand()-based sampling this is deterministic
    across runs, engines, and partitionings — the property a training
    pipeline needs for auditable subsets. Narrow scan + tiny per-lang
    aggregate; the sample predicate pushes to the scan at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_hash60(F.col("doc_id").cast("string")) % 100
    in_sample = bucket < SAMPLE_PCT
    n_tokens = F.size(tokens_col("text"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(in_sample.cast("bigint")).cast("bigint").alias("n_sampled"),
            F.sum(F.when(in_sample, n_tokens).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("sampled_tokens"),
        )
        .withColumn(
            "sample_rate",
            F.round(F.col("n_sampled").cast("double") / F.col("n_total"), 6),
        )
        .orderBy("lang")
    )


TXT_SAMPLE_STRATIFIED_ORACLE = f"""
WITH t AS (
  SELECT lang,
    ({sql_md5_hash60("CAST(doc_id AS VARCHAR)")}) % 100 < {SAMPLE_PCT} AS in_sample,
    len({sql_tokens('text')}) AS n_tokens
  FROM documents
)
SELECT lang, COUNT(*) AS n_total,
  CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
  CAST(SUM(CASE WHEN in_sample THEN n_tokens ELSE 0 END) AS BIGINT)
    AS sampled_tokens,
  round(CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS sample_rate
FROM t GROUP BY lang ORDER BY lang
"""


# --- greedy sequence packing ----------------------------------------------
PACK_CTX = 256


def txt_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-batch assembly: within each language
    stratum, docs are laid out in doc_id order and cut into packs of
    PACK_CTX tokens by running token count (contiguous greedy packing —
    the streaming-friendly scheme; docs longer than the context simply
    overflow their pack). Emits per-pack document count, token sum and
    fill ratio.

    Scale shape: ONE window shuffle partitioned by the stratum (lang at
    this SF; at 100 TB the partition key would be lang x shard so no
    single stratum serializes), then a tiny groupBy that reuses the same
    partitioning."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(tokens_col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before"),
    ).select(
        "lang",
        "doc_id",
        "n_tokens",
        F.expr(f"cum_before div {PACK_CTX}").alias("pack_id"),
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .withColumn(
            "fill_ratio",
            F.round(F.col("pack_tokens").cast("double") / PACK_CTX, 6),
        )
        .orderBy("lang", "pack_id")
    )


TXT_PACK_SEQUENCES_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, len({sql_tokens('text')}) AS n_tokens FROM documents
),
packed AS (
  SELECT lang, doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {PACK_CTX}
      AS BIGINT) AS pack_id
  FROM t
)
SELECT lang, pack_id, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
  MIN(doc_id) AS first_doc,
  round(CAST(SUM(n_tokens) AS DOUBLE) / {PACK_CTX}, 6) AS fill_ratio
FROM packed GROUP BY lang, pack_id ORDER BY lang, pack_id
"""


# --- incremental dedup: new batch vs corpus fingerprint index -------------
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest dedup path: an incoming batch (the injected
    +1M/+2M docs of corpus_with_dups) is checked against the existing
    corpus's fingerprint index. Exact copies are flagged with the doc
    they collide with; near-dups (changed text) pass — catching those is
    MinHash's job (dedup_minhash_lsh).

    Scale shape: this is a keyed equi-join on the 32-byte fingerprint.
    At 100 TB the index side is huge and the batch small — the join
    shuffles only the BATCH if the index is bucketed by fingerprint
    (operators/bucketing.py pattern); nothing rescans old text, only
    the fingerprint column. matched_doc uses -1, not NULL, for absent
    matches: nullable bigints decay to float64 in Arrow/pandas and
    would break the driver's exact value hash."""
    corpus = corpus_with_dups(spark, sf_dir)
    fp = corpus.select("doc_id", fingerprint_col("text").alias("fingerprint"))
    index = (
        fp.filter(F.col("doc_id") < 1000000)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    batch = fp.filter(F.col("doc_id") >= 1000000)
    return (
        batch.join(index, "fingerprint", "left")
        .select(
            "doc_id",
            F.col("first_doc").isNotNull().cast("bigint").alias("is_duplicate"),
            F.coalesce("first_doc", F.lit(-1)).alias("matched_doc"),
        )
        .orderBy("doc_id")
    )


DEDUP_INCREMENTAL_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
fp AS (
  SELECT doc_id,
    {sql_fingerprint('text')} AS fingerprint
  FROM corpus
),
index_side AS (
  SELECT fingerprint, MIN(doc_id) AS first_doc
  FROM fp WHERE doc_id < 1000000 GROUP BY fingerprint
)
SELECT b.doc_id,
  CAST(CASE WHEN i.first_doc IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
    AS is_duplicate,
  COALESCE(i.first_doc, -1) AS matched_doc
FROM fp b LEFT JOIN index_side i USING (fingerprint)
WHERE b.doc_id >= 1000000
ORDER BY b.doc_id
"""


# --- quality-ranked survivor per near-dup cluster -------------------------
def dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator composition: connected components (dedup_components) x
    quality scoring (txt_doc_features formula) -> keep the HIGHEST
    quality doc per near-dup cluster instead of the naive min-doc_id
    survivor. This is the policy real training pipelines want: dedup
    should keep the best copy, not the first one.

    Ranking uses round(quality, 6): the 6-dp values are the ones the
    oracle hash already proves identical cross-engine, so the argmax is
    deterministic; ties break on doc_id. One extra window shuffle on
    the component key on top of the components cost."""
    from pyspark.sql import Window

    comp = dedup_components(spark, sf_dir)
    corpus = corpus_with_dups(spark, sf_dir)
    toks = tokens_col("text")
    n_tokens = F.size(toks)
    nonspace = F.length(F.regexp_replace("text", "[\\t\\n\\f\\r ]", ""))
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    avg_token_len = nonspace.cast("double") / F.nullif(n_tokens, F.lit(0))
    stop_ratio = n_stop.cast("double") / F.nullif(n_tokens, F.lit(0))
    quality = (
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - stop_ratio) * 0.3
        + F.least(avg_token_len / 8.0, F.lit(1.0)) * 0.2
    )
    scored = comp.join(
        corpus.select("doc_id", F.round(quality, 6).alias("q")), "doc_id"
    )
    w = Window.partitionBy("component").orderBy(F.desc("q"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            "cluster_size",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("q").alias("kept_quality"),
        )
        .orderBy("component")
    )


DEDUP_SURVIVORS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
  FROM reach GROUP BY src
),
csize AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1),
t AS (
  SELECT doc_id, {sql_tokens('text')} AS toks,
         length(regexp_replace(text, '[\\t\\n\\f\\r ]', '', 'g')) AS nonspace
  FROM corpus
),
f AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CAST(nonspace AS DOUBLE) / NULLIF(len(toks), 0) AS avg_token_len,
         CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
           / NULLIF(len(toks), 0) AS stopword_ratio
  FROM t
),
quality AS (
  SELECT doc_id,
    round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
      + (1.0 - stopword_ratio) * 0.3
      + least(avg_token_len / 8.0, 1.0) * 0.2, 6) AS q
  FROM f
),
ranked AS (
  SELECT comp.component, csize.cluster_size, comp.doc_id, quality.q,
    row_number() OVER (PARTITION BY comp.component
                       ORDER BY quality.q DESC, comp.doc_id ASC) AS rn
  FROM comp JOIN csize USING (component) JOIN quality USING (doc_id)
)
SELECT component, cluster_size, doc_id AS kept_doc_id, q AS kept_quality
FROM ranked WHERE rn = 1 ORDER BY component
"""


# --- corpus mixture weights ------------------------------------------------
def txt_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing table for training: per-language token shares and the
    resampling weight that would equalize the mixture (weight =
    uniform_share / actual_share). The output IS the sampling policy a
    trainer feeds back into txt_sample_stratified-style selection.

    Scale shape: one per-stratum aggregate plus a ONE-row global total
    broadcast — shares and weights are per-stratum arithmetic, nothing
    document-sized moves."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("lang", F.size(tokens_col("text")).alias("n"))
    per = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("sum_tokens"),
    )
    tot = t.agg(
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").alias("n_strata"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "sum_tokens",
            F.round(
                F.col("sum_tokens").cast("double") / F.col("total_tokens"), 6
            ).alias("token_share"),
            F.round(
                F.col("total_tokens").cast("double")
                / (F.col("n_strata") * F.col("sum_tokens")),
                6,
            ).alias("resample_weight"),
        )
        .orderBy("lang")
    )


TXT_MIXTURE_WEIGHTS_ORACLE = f"""
WITH t AS (SELECT lang, len({sql_tokens('text')}) AS n FROM documents),
per AS (
  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS sum_tokens
  FROM t GROUP BY lang
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
         COUNT(DISTINCT lang) AS n_strata
  FROM t
)
SELECT lang, n_docs, sum_tokens,
  round(CAST(sum_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
  round(CAST(total_tokens AS DOUBLE) / (n_strata * sum_tokens), 6)
    AS resample_weight
FROM per, tot ORDER BY lang
"""


# --- sampling manifest: scoring -> an executable training mixture ---------
MANIFEST_BUDGET_PCT = 25  # total token budget as % of the corpus
MANIFEST_BUCKETS = 1_000_000  # md5 buckets => thresholds are exact ppm


def txt_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain resampling MANIFEST — the missing step
    between scoring (txt_mixture_weights / txt_dsir_weights) and
    actually drawing a training mixture (DoReMi/DSIR practice: the
    mixture is shipped as per-domain acceptance thresholds, not as a
    materialized sample). Policy here: a uniform-over-strata token
    budget of MANIFEST_BUDGET_PCT% of the corpus; each stratum's
    acceptance threshold is min(1, target/actual) expressed as an exact
    ppm cut on md5-bucketed doc_ids. The output carries BOTH the policy
    (target_tokens, threshold_ppm — what a trainer replays on any
    engine) and the realized draw at this corpus (n_sampled,
    sampled_tokens, realized_ppm) so drift between policy and draw is
    visible in one row.

    Everything is exact integer arithmetic (div, no floats), so the
    manifest replays bit-identically anywhere; the bigint ppm products
    cap a stratum at ~9.2e12 tokens (bigint/1e6) — beyond that the same
    expressions move to decimal(38,0).

    Scale shape: one narrow scan -> per-stratum agg, a 1-row total and
    a strata-count-sized broadcast back onto the scan for the realized
    draw — no document-sized shuffle; the threshold predicate is a
    scan-side filter at 100 TB, exactly like txt_sample_stratified."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(tokens_col("text")).cast("bigint").alias("n")
    )
    per = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("sum_tokens"),
    )
    tot = per.agg(
        F.sum("sum_tokens").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
    )
    manifest = (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "target_tokens",
            F.expr(
                f"(total_tokens * {MANIFEST_BUDGET_PCT}) div (100 * n_strata)"
            ),
        )
        .withColumn(
            "threshold_ppm",
            # zero-token stratum: accepting everything costs no budget,
            # and the guard keeps ANSI mode from raising on div-by-zero
            F.when(
                F.col("sum_tokens") == 0,
                F.lit(MANIFEST_BUCKETS).cast("bigint"),
            ).otherwise(
                F.least(
                    F.lit(MANIFEST_BUCKETS).cast("bigint"),
                    F.expr(
                        f"(target_tokens * {MANIFEST_BUCKETS}) div sum_tokens"
                    ),
                )
            ),
        )
        .select(
            "lang", "n_docs", "sum_tokens", "target_tokens", "threshold_ppm"
        )
    )
    bucket = md5_hash60(
        F.col("doc_id").cast("string"), salt=F.lit("mix")
    ) % MANIFEST_BUCKETS
    drawn = (
        t.withColumn("bucket", bucket)
        .join(
            F.broadcast(manifest.select("lang", "threshold_ppm")), "lang"
        )
        .filter(F.col("bucket") < F.col("threshold_ppm"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("n").cast("bigint").alias("sampled_tokens"),
        )
    )
    return (
        manifest.join(drawn, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "sum_tokens",
            "target_tokens",
            "threshold_ppm",
            F.coalesce("n_sampled", F.lit(0).cast("bigint")).alias(
                "n_sampled"
            ),
            F.coalesce("sampled_tokens", F.lit(0).cast("bigint")).alias(
                "sampled_tokens"
            ),
        )
        .withColumn(
            "realized_ppm",
            F.when(F.col("sum_tokens") == 0, F.lit(0).cast("bigint")).otherwise(
                F.expr(f"(sampled_tokens * {MANIFEST_BUCKETS}) div sum_tokens")
            ),
        )
        .orderBy("lang")
    )


TXT_MIXTURE_MANIFEST_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
    CAST(len({sql_tokens('text')}) AS BIGINT) AS n
  FROM documents
), per AS (
  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS sum_tokens
  FROM t GROUP BY lang
), tot AS (
  SELECT CAST(SUM(sum_tokens) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_strata
  FROM per
), manifest AS (
  SELECT lang, n_docs, sum_tokens,
    (total_tokens * {MANIFEST_BUDGET_PCT}) // (100 * n_strata)
      AS target_tokens,
    CASE WHEN sum_tokens = 0 THEN CAST({MANIFEST_BUCKETS} AS BIGINT)
    ELSE least(CAST({MANIFEST_BUCKETS} AS BIGINT),
          ((total_tokens * {MANIFEST_BUDGET_PCT}) // (100 * n_strata))
            * {MANIFEST_BUCKETS} // sum_tokens) END AS threshold_ppm
  FROM per, tot
), drawn AS (
  SELECT t.lang,
    CAST(COUNT(*) AS BIGINT) AS n_sampled,
    CAST(SUM(t.n) AS BIGINT) AS sampled_tokens
  FROM t JOIN manifest m ON t.lang = m.lang
  WHERE {sql_md5_hash60("CAST(doc_id AS VARCHAR)", "'mix'")}
          % {MANIFEST_BUCKETS} < m.threshold_ppm
  GROUP BY t.lang
)
SELECT m.lang, m.n_docs, m.sum_tokens, m.target_tokens, m.threshold_ppm,
  COALESCE(d.n_sampled, 0) AS n_sampled,
  COALESCE(d.sampled_tokens, 0) AS sampled_tokens,
  CASE WHEN m.sum_tokens = 0 THEN CAST(0 AS BIGINT)
  ELSE COALESCE(d.sampled_tokens, 0) * {MANIFEST_BUCKETS} // m.sum_tokens
  END AS realized_ppm
FROM manifest m LEFT JOIN drawn d ON m.lang = d.lang
ORDER BY m.lang
"""


# --- repetition quality rule (TAIL: no driver-window slot) ----------------
REP_NGRAM = 2
REP_MAX_RATIO = 0.2


def txt_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition rule: a document whose single most
    frequent word bigram accounts for more than REP_MAX_RATIO of all its
    bigrams is boilerplate/spam-shaped and dropped from training data.

    Scale shape: explode bigrams, two per-doc keyed aggregations
    (doc×bigram counts, then per-doc sum/max/distinct) — the same
    one-key shuffle family as every dedup op; short docs (no bigrams)
    never enter the explode and are re-attached with a left join as
    keep=true."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(shingles_col("text", REP_NGRAM)).alias("sh")
    )
    per = sh.groupBy("doc_id", "sh").agg(F.count(F.lit(1)).alias("c"))
    stats = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_ngrams"),
        F.countDistinct("sh").alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    return (
        docs.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.coalesce("top_count", F.lit(0)).alias("top_count"),
            F.round(
                F.coalesce(
                    F.col("top_count").cast("double") / F.col("n_ngrams"),
                    F.lit(0.0),
                ),
                6,
            ).alias("rep_ratio"),
        )
        .withColumn("keep", F.col("rep_ratio") <= REP_MAX_RATIO)
        .orderBy("doc_id")
    )


TXT_REPETITION_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest(shingles) AS sh
  FROM (SELECT doc_id, {sql_shingles(sql_tokens('text'), REP_NGRAM)} AS shingles
        FROM documents)
), per AS (
  SELECT doc_id, sh, COUNT(*) AS c FROM sh GROUP BY doc_id, sh
), stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
    COUNT(DISTINCT sh) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(n_ngrams, 0) AS n_ngrams,
  COALESCE(n_distinct, 0) AS n_distinct,
  COALESCE(top_count, 0) AS top_count,
  round(COALESCE(CAST(top_count AS DOUBLE) / n_ngrams, 0.0), 6) AS rep_ratio,
  round(COALESCE(CAST(top_count AS DOUBLE) / n_ngrams, 0.0), 6) <= {REP_MAX_RATIO}
    AS keep
FROM documents d LEFT JOIN stats ON d.doc_id = stats.doc_id
ORDER BY d.doc_id
"""


# --- context-window chunking (TAIL: no driver-window slot) ----------------
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def txt_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunker: split each document into
    CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens (RAG/embedding
    prep — the step between a cleaned corpus and an embedding table).

    All array expressions: one sequence of chunk starts per doc, a
    slice+join per start, posexplode to one row per chunk. Narrow until
    the explode, no shuffle at all, no UDF — at 100 TB this runs as a
    map-only stage writing straight back to parquet. Chunk text is
    emitted as md5 (value-hash-friendly); length and token counts carry
    the verifiable structure."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    # token array bound once (functions/text.bind_once): a captured
    # toks would re-run the regex split once per chunk
    chunks = bind_once(
        toks,
        lambda tarr: F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.size(tarr) - (CHUNK_TOKENS - CHUNK_STRIDE), F.lit(1)
                ),
                F.lit(CHUNK_STRIDE),
            ),
            lambda s: F.slice(tarr, s, CHUNK_TOKENS),
        ),
    )
    return (
        docs.filter(F.size(toks) > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "ctoks"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.size("ctoks").cast("bigint").alias("n_chunk_tokens"),
            F.md5(F.array_join("ctoks", " ")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


TXT_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
), s AS (
  SELECT doc_id, toks,
    unnest(generate_series(1, greatest(len(toks) - {CHUNK_TOKENS - CHUNK_STRIDE}, 1),
                           {CHUNK_STRIDE})) AS start
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, (start - 1) // {CHUNK_STRIDE} AS chunk_idx,
  len(toks[start:start + {CHUNK_TOKENS - 1}]) AS n_chunk_tokens,
  md5(array_to_string(toks[start:start + {CHUNK_TOKENS - 1}], ' ')) AS chunk_md5
FROM s ORDER BY doc_id, chunk_idx
"""


# --- dataset card (TAIL: no driver-window slot) ---------------------------
def txt_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet in ONE pass: per-language rows plus an overall
    rollup row, each with doc/token/source counts and the exact-dup rate
    (1 - distinct fingerprints / docs). This is the summary table a
    dataset release ships ("dataset card"), and the first sanity check
    before any 100 TB training run.

    Scale shape: rollup(lang) computes lang-level and grand-total rows
    in one aggregation; countDistinct over the md5 fingerprint expands
    to a two-level aggregate (distinct-expand then count) — still one
    keyed shuffle family, no second scan of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(tokens_col("text")).alias("n_toks"),
        fingerprint_col("text").alias("fp"),
    )
    return (
        base.rollup("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("sum_tokens"),
            davg("n_chars").alias("avg_chars"),
            F.countDistinct("fp").alias("n_unique_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .select(
            F.coalesce("lang", F.lit("__all__")).alias("lang"),
            "n_docs",
            "sum_tokens",
            "avg_chars",
            "n_unique_docs",
            F.round(
                F.lit(1.0)
                - F.col("n_unique_docs").cast("double") / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
            "n_sources",
        )
        .orderBy("lang")
    )


TXT_DATASET_CARD_ORACLE = f"""
WITH base AS (
  SELECT lang, source, n_chars,
    len({sql_tokens('text')}) AS n_toks,
    {sql_fingerprint('text')} AS fp
  FROM documents
)
SELECT COALESCE(lang, '__all__') AS lang, COUNT(*) AS n_docs,
  CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
  {sql_davg('n_chars')} AS avg_chars,
  COUNT(DISTINCT fp) AS n_unique_docs,
  round(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6) AS dup_rate,
  COUNT(DISTINCT source) AS n_sources
FROM base GROUP BY ROLLUP(lang) ORDER BY lang
"""


# --- PageRank over the near-dup pair graph --------------------------------
PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def txt_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the verified near-dup pair graph:
    centrality identifies template/boilerplate hubs (documents that are
    near-dups of MANY others score high and are prime removal targets —
    the dedup-graph triage step after pair generation).

    Unlike connected_components (converge-until-stable, driver-stepped),
    this is a FIXED number of unrolled iterations in one lazy plan — no
    driver actions at all; each iteration is one keyed join + one keyed
    aggregation, the textbook Pregel-as-SQL shape. Neighbor sums reduce
    in decimal, so every iteration's ranks — not just the output — are
    bit-identical across engines (a raw double sum would let engine
    partition order leak into the ranks and flip the hash).

    Symmetric edges mean no dangling vertices (every vertex has
    out-degree >= 1), so no dangling-mass redistribution term is needed.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # One materialization of the DEGREE-ANNOTATED pair graph (same
    # discipline as connected_components): the candidate-join pipeline
    # and the degree aggregation run once; every iteration then reads
    # the checkpoint (measured 25s -> ~3s at sf0.01 for the plain edge
    # checkpoint; annotating degrees before checkpointing removes a
    # further SortMergeJoin per iteration).
    # Checkpoint BEFORE the degree join: deg derives from edges, so
    # joining unmaterialized edges to it would run the candidate
    # pipeline twice (measured: 9.5s vs 4.7s at sf0.1). The second
    # checkpoint is a cheap re-materialization of already-local rows.
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .toDF("src", "dst")
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(deg, "src").localCheckpoint()
    _drop_checkpoint(edges)  # edges_deg is materialized: nothing reads it
    verts = edges_deg.select(F.col("src").alias("doc_id")).distinct()
    nn = F.broadcast(verts.agg(F.count(F.lit(1)).alias("n")))
    r = verts.crossJoin(nn).select(
        "doc_id", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    # Symmetric edges mean every vertex has in-degree >= 1, so the
    # contribution aggregate already covers ALL vertices — no apply-back
    # LeftOuter join against the vertex list is needed (the oracle keeps
    # its LEFT JOIN formulation; its NULL branch is provably dead).
    for _ in range(PAGERANK_ITERS):
        r = (
            edges_deg.join(r, edges_deg.src == r.doc_id)
            .groupBy("dst")
            .agg(
                F.sum((F.col("pr") / F.col("deg")).cast("decimal(38,12)"))
                .cast("double")
                .alias("acc")
            )
            .crossJoin(nn)
            .select(
                F.col("dst").alias("doc_id"),
                (
                    (F.lit(1.0) - PAGERANK_DAMPING) / F.col("n")
                    + F.lit(PAGERANK_DAMPING) * F.col("acc")
                ).alias("pr"),
            )
        )
    return r.select("doc_id", F.round("pr", 6).alias("pr")).orderBy("doc_id")


def _pagerank_oracle() -> str:
    d = PAGERANK_DAMPING
    prev = "r0"
    its = []
    for k in range(1, PAGERANK_ITERS + 1):
        its.append(f"""it{k} AS (
  SELECT v.doc_id,
    (CAST({1.0 - d} AS DOUBLE) / (SELECT n FROM nn))
      + CAST({d} AS DOUBLE) * COALESCE(s.acc, CAST(0 AS DOUBLE)) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.dst AS doc_id,
      CAST(SUM(CAST(r.pr / d.deg AS DECIMAL(38,12))) AS DOUBLE) AS acc
    FROM edges e JOIN {prev} r ON e.src = r.doc_id JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s USING (doc_id)
)""")
        prev = f"it{k}"
    return f"""
WITH {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
verts AS (SELECT DISTINCT src AS doc_id FROM edges),
nn AS (SELECT COUNT(*) AS n FROM verts),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM verts),
{",".join(its)}
SELECT doc_id, round(pr, 6) AS pr FROM {prev} ORDER BY doc_id
"""


TXT_PAGERANK_ORACLE = _pagerank_oracle()


def txt_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle membership over the near-dup pair graph —
    the clustering-coefficient signal that separates template/boiler-
    plate families (dense, triangle-rich) from chance pairwise overlaps
    (triangle-free). Complements txt_pagerank's centrality triage on
    the same graph.

    Scale shape (Suri & Vassilvitskii's MapReduce triangle count):
    every edge is ORIENTED from its lower-(degree, id) endpoint to the
    higher one, so each triangle is generated exactly once and the
    wedge join fans out only over out-neighbors — max out-degree under
    degree ordering is O(sqrt(|E|)) regardless of how skewed the raw
    degree distribution is, which is what keeps the wedge count
    bounded on a hub-heavy dup graph. Three keyed equi-joins total
    (wedge build + closure probe), no cartesian anywhere.

    The pair list is persisted INSIDE dedup_ngram_jaccard (r15 — the
    persist this query carried since round 3, hoisted to the producer
    so dedup_components and txt_pagerank share it too): the oriented
    edge set has three consumers (both wedge sides + the closure
    probe) and each would otherwise replay the full shingle-join pair
    generation — measured 35 s -> ~2 s at sf0.1 from that persist
    alone. Same device as _shingle_sets / sim_pq_adc's codebook; at
    cluster scale the verified pair list is checkpointed storage, not
    a recomputation."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    deg = edges.groupBy(F.col("doc_a").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ranked = (
        pairs.join(deg.select(F.col("v").alias("doc_a"), F.col("deg").alias("deg_a")), "doc_a")
        .join(deg.select(F.col("v").alias("doc_b"), F.col("deg").alias("deg_b")), "doc_b")
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("u"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("w"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_w"),
        # oriented has three consumers (both wedge sides + the closure
        # probe) and each reference inlines the whole pairs->deg->
        # ranked subtree; persist dedupes that execution so the
        # orientation join runs once per corpus (guide §2.4/§5). NOT
        # localCheckpoint: even eager=False calls queryExecution.toRdd
        # at build time, and under AQE that materializes every shuffle
        # stage of the subtree — 29 driver-visible jobs during plan
        # CONSTRUCTION, breaking the zero-job build contract
        # (tests/test_laziness.py; the r15 inherited-state fix).
    ).persist()
    e1 = oriented.select(
        "u", F.col("w").alias("w1"), F.col("deg_w").alias("dw1")
    )
    e2 = oriented.select(
        "u", F.col("w").alias("w2"), F.col("deg_w").alias("dw2")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("dw1") < F.col("dw2"))
        | ((F.col("dw1") == F.col("dw2")) & (F.col("w1") < F.col("w2")))
    )
    closing = oriented.select(
        F.col("u").alias("w1"), F.col("w").alias("w2")
    )
    tris = wedges.join(closing, ["w1", "w2"]).select("u", "w1", "w2")
    # explode, not a 3-way self-union: one consumer of the triangle
    # subtree instead of three replays
    members = tris.select(
        F.explode(F.array("u", "w1", "w2")).alias("doc_id")
    )
    return (
        members.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("doc_id")
    )


TXT_TRIANGLES_ORACLE = f"""
WITH {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT doc_a AS v, COUNT(*) AS deg FROM edges GROUP BY doc_a),
oriented AS (
  SELECT
    CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
         THEN p.doc_a ELSE p.doc_b END AS u,
    CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
         THEN p.doc_b ELSE p.doc_a END AS w,
    CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
         THEN db.deg ELSE da.deg END AS deg_w
  FROM pairs p
  JOIN deg da ON da.v = p.doc_a
  JOIN deg db ON db.v = p.doc_b
),
wedges AS (
  SELECT e1.u, e1.w AS w1, e2.w AS w2
  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u
  WHERE (e1.deg_w, e1.w) < (e2.deg_w, e2.w)
),
tris AS (
  SELECT wd.u, wd.w1, wd.w2
  FROM wedges wd JOIN oriented c ON c.u = wd.w1 AND c.w = wd.w2
),
members AS (
  SELECT u AS doc_id FROM tris
  UNION ALL SELECT w1 FROM tris
  UNION ALL SELECT w2 FROM tris
)
SELECT doc_id, COUNT(*) AS n_triangles
FROM members GROUP BY doc_id ORDER BY doc_id
"""


# --- Gopher-style quality rules ------------------------------------------
# Document-level quality gate after Rae et al. 2021 (Gopher, §A1.1): word
# count bounds, mean-word-length band, and a minimum number of distinct
# stopwords. The reference has no notion of document quality (SURVEY.md
# §2f); at 100 TB this is the first pass over a crawled corpus — a pure
# map-side filter, no shuffle, no UDF.
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 400
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
# Gopher requires >=2 of a fixed stopword list; the synthetic corpus
# vocabulary contains 'the'/'a'/'data', so the rule discriminates.
GOPHER_STOPWORDS = ["the", "a", "and", "of", "data"]
GOPHER_MIN_STOP_HITS = 2


def txt_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher quality signals + keep decision.

    mean_word_len divides two exact integers in double — identical in
    any IEEE engine, so the band comparison (and the hash) is
    engine-stable without rounding tricks. stop_hits counts DISTINCT
    stopwords present (array_contains per word), mirroring Gopher's
    "contains at least 2 of ..." rule.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    n_words = F.size(toks).cast("bigint")
    sum_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mean_len = sum_chars.cast("double") / n_words
    stop_hits = None
    for w in GOPHER_STOPWORDS:
        hit = F.array_contains(toks, w).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return (
        docs.filter(F.size(toks) > 0)
        .select(
            "doc_id",
            n_words.alias("n_words"),
            F.round(mean_len, 6).alias("mean_word_len"),
            stop_hits.cast("bigint").alias("stop_hits"),
            keep.alias("keep"),
        )
        .orderBy("doc_id")
    )


_SQL_STOP_HITS = " + ".join(
    f"CAST(list_contains(t, '{w}') AS INT)" for w in GOPHER_STOPWORDS
)

TXT_GOPHER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS t FROM documents
), sig AS (
  SELECT doc_id,
    CAST(len(t) AS BIGINT) AS n_words,
    CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT))) AS DOUBLE)
      / len(t) AS mean_len,
    CAST({_SQL_STOP_HITS} AS BIGINT) AS stop_hits
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, n_words, round(mean_len, 6) AS mean_word_len, stop_hits,
  (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
   AND mean_len >= {GOPHER_MIN_MEAN_WORD_LEN}
   AND mean_len <= {GOPHER_MAX_MEAN_WORD_LEN}
   AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
FROM sig ORDER BY doc_id
"""


# --- Gopher repetition rules (the other half of Table A1) -----------------
# Rae et al. 2021 thresholds: top-2-gram char fraction <= 0.20,
# top-3-gram <= 0.18, duplicate-5-gram <= 0.15. The corpus has no line
# structure (single-space word streams), so the duplicate-LINE rules of
# Table A1 have no substrate here; the n-gram family is the content-
# repetition signal. All fractions are exact integer ppm.
GOPHER_REP_TOP2_MAX_PPM = 200_000
GOPHER_REP_TOP3_MAX_PPM = 180_000
GOPHER_REP_DUP5_MAX_PPM = 150_000


def txt_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document intra-document repetition profile, completing
    txt_gopher_quality: characters covered by the most frequent 2-gram
    and 3-gram, and by all duplicated 5-grams, as exact-ppm fractions
    of the normalized text length (sum of token lengths + single
    separators — overlap-unaware coverage, the standard implementation
    of the rule).

    Engine determinism: "most frequent n-gram" ties are broken by max
    char cover, so the reported cover is unique even when several grams
    share the top count; everything else is integer arithmetic.

    Scale shape: ONE explode emits (n, gram) tagged rows for all three
    n in a single pass, one (doc, n, gram) count aggregation (map-side
    partials collapse the Zipf head), then ONE doc-keyed conditional
    aggregation computes all three profile columns (struct-max argmax
    for n=2/3, dup-cover sum for n=5) and joins back to the doc frame
    once — linear in corpus tokens, never gram x gram, and the gram
    table is consumed exactly once (r15; the previous three-branch
    shape re-ran the corpus explode per branch)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    n_words = F.size(toks).cast("bigint")
    sum_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        (sum_chars + n_words - 1).alias("total_chars"),
    ).filter(F.col("n_words") > 0)

    # Gram identity WITHOUT building gram strings (rot60 composition,
    # see functions/text.py): one md5 per token, gram char length as a
    # sum of token lengths. Both hash/length arrays are bound as
    # lambda VARIABLES (bind_once) — captured expressions re-evaluate
    # per element (the round-4 HOF finding), which here would re-hash
    # the whole document per gram.
    _GRAM_STRUCT = "array<struct<n:int,gh:bigint,glen:bigint>>"

    def _grams(TH, TL, n: int):
        def _one(i):
            gh = F.element_at(TH, i)
            glen = F.element_at(TL, i)
            for j in range(1, n):
                gh = gh.bitwiseXOR(
                    rot60(F.element_at(TH, i + j), (GRAM_ROT_STEP * j) % 60)
                )
                glen = glen + F.element_at(TL, i + j)
            return F.struct(
                F.lit(n).alias("n"),
                gh.alias("gh"),
                (glen + (n - 1)).alias("glen"),
            )

        return F.when(
            F.size(TH) < n, F.array().cast(_GRAM_STRUCT)
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(TH) - (n - 1)),
                lambda i: _one(i),
            )
        )

    arrs = F.struct(
        F.transform(toks, lambda t: md5_hash60(t)).alias("th"),
        F.transform(toks, lambda t: F.length(t).cast("bigint")).alias("tl"),
    )
    tagged = bind_once(
        arrs,
        lambda b: F.concat(
            *[_grams(b.getField("th"), b.getField("tl"), n) for n in (2, 3, 5)]
        ),
    )
    pc = (
        docs.select("doc_id", F.explode(tagged).alias("t"))
        .select(
            "doc_id",
            F.col("t.n").alias("n"),
            F.col("t.gh").alias("gh"),
            F.col("t.glen").alias("glen"),
        )
        .groupBy("doc_id", "n", "gh")
        .agg(F.count(F.lit(1)).alias("c"), F.max("glen").alias("glen"))
        .withColumn("cover", F.col("c") * F.col("glen"))
    )
    # argmax-by-(count, cover) as ONE lexicographic struct max (both
    # engines order structs field-by-field, so the count-then-cover
    # tie-break is engine-identical). All three per-doc profiles fold
    # into ONE conditional aggregation over pc (r15): the previous
    # shape consumed pc in three branches (top2/top3 filters + dup5),
    # and because the n-filters push BELOW pc's gram aggregation the
    # exchanges are not plan-identical, so nothing reuses — the corpus
    # explode+hash ran once PER BRANCH (4 FileScans in the plan).
    # max(when(n=2, ...)) / sum(when(n=5 & c>=2, ...)) give the same
    # values with pc consumed exactly once (guide §2.4: one exchange,
    # shared; §1.2: don't compute things twice), and the three
    # doc-keyed joins collapse to one.
    prof = (
        pc.groupBy("doc_id")
        .agg(
            F.max(
                F.when(F.col("n") == 2, F.struct("c", "cover"))
            ).alias("m2"),
            F.max(
                F.when(F.col("n") == 3, F.struct("c", "cover"))
            ).alias("m3"),
            F.sum(
                F.when(
                    (F.col("n") == 5) & (F.col("c") >= 2), F.col("cover")
                )
            )
            .cast("bigint")
            .alias("dup5_cover"),
        )
        .select(
            "doc_id",
            F.col("m2.cover").alias("top2_cover"),
            F.col("m3.cover").alias("top3_cover"),
            "dup5_cover",
        )
    )
    return (
        base.join(prof, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "total_chars",
            F.expr("(coalesce(top2_cover, 0) * 1000000) div total_chars")
            .cast("bigint")
            .alias("top2_ppm"),
            F.expr("(coalesce(top3_cover, 0) * 1000000) div total_chars")
            .cast("bigint")
            .alias("top3_ppm"),
            F.expr("(coalesce(dup5_cover, 0) * 1000000) div total_chars")
            .cast("bigint")
            .alias("dup5_ppm"),
        )
        .withColumn(
            "keep",
            (F.col("top2_ppm") <= GOPHER_REP_TOP2_MAX_PPM)
            & (F.col("top3_ppm") <= GOPHER_REP_TOP3_MAX_PPM)
            & (F.col("dup5_ppm") <= GOPHER_REP_DUP5_MAX_PPM),
        )
        .orderBy("doc_id")
    )


def _gopher_rep_oracle() -> str:
    def gram_select(n: int) -> str:
        gh = "(th[i])"
        for j in range(1, n):
            gh = f"xor({gh}, {sql_rot60(f'th[i+{j}]', (GRAM_ROT_STEP * j) % 60)})"
        glen = " + ".join(f"tl[i+{j}]" for j in range(n))
        return (
            f"SELECT doc_id, {n} AS n, {gh} AS gh,"
            f" {glen} + {n - 1} AS glen\n"
            f"  FROM arrs, unnest(generate_series(1,"
            f" greatest(len(th) - {n - 1}, 0))) AS u(i)"
        )

    grams = "\n    UNION ALL ".join(gram_select(n) for n in (2, 3, 5))
    return f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS t FROM documents
), base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
    CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
         AS BIGINT) + len(t) - 1 AS total_chars
  FROM toks WHERE len(t) > 0
), arrs AS (
  SELECT doc_id,
    list_transform(t, x -> {sql_md5_hash60('x')}) AS th,
    list_transform(t, x -> CAST(length(x) AS BIGINT)) AS tl
  FROM toks
), pc AS (
  SELECT doc_id, n, gh, COUNT(*) AS c,
         COUNT(*) * CAST(MAX(glen) AS BIGINT) AS cover
  FROM ({grams})
  GROUP BY doc_id, n, gh
), tops AS (
  SELECT doc_id, n,
    CAST((MAX(struct_pack(c := c, cover := cover))).cover AS BIGINT)
      AS top_cover
  FROM pc WHERE n != 5 GROUP BY doc_id, n
), dup5 AS (
  SELECT doc_id, CAST(SUM(cover) AS BIGINT) AS dup5_cover
  FROM pc WHERE n = 5 AND c >= 2 GROUP BY doc_id
), ppm AS (
  SELECT b.doc_id, b.n_words, b.total_chars,
    COALESCE(t2.top_cover, 0) * 1000000 // b.total_chars AS top2_ppm,
    COALESCE(t3.top_cover, 0) * 1000000 // b.total_chars AS top3_ppm,
    COALESCE(d5.dup5_cover, 0) * 1000000 // b.total_chars AS dup5_ppm
  FROM base b
  LEFT JOIN (SELECT doc_id, top_cover FROM tops WHERE n = 2) t2
    ON b.doc_id = t2.doc_id
  LEFT JOIN (SELECT doc_id, top_cover FROM tops WHERE n = 3) t3
    ON b.doc_id = t3.doc_id
  LEFT JOIN dup5 d5 ON b.doc_id = d5.doc_id
)
SELECT doc_id, n_words, total_chars, top2_ppm, top3_ppm, dup5_ppm,
  (top2_ppm <= {GOPHER_REP_TOP2_MAX_PPM}
   AND top3_ppm <= {GOPHER_REP_TOP3_MAX_PPM}
   AND dup5_ppm <= {GOPHER_REP_DUP5_MAX_PPM}) AS keep
FROM ppm ORDER BY doc_id
"""


TXT_GOPHER_REPETITION_ORACLE = _gopher_rep_oracle()


# --- character-entropy quality signal -------------------------------------
# Shannon entropy of the non-whitespace character distribution, in
# exact integer MICROBITS per char: the gibberish/boilerplate detector
# (binary junk, base64 blobs and aaaa... runs sit far from natural
# text's ~4 bits/char). Threshold: keep >= 2.5 bits/char.
ENTROPY_MIN_MICROBITS = 2_500_000


def txt_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution entropy.

    Engine-exactness: the only transcendental, log2(c), is snapped to
    an integer micro-log (round(log2(c)*1e6)) BEFORE any arithmetic —
    after that everything is exact bigint: H_microbits =
    mlog2(n) - floor(sum_ch c*mlog2(c) / n). The floor-div replaces
    the float division so the sum order can never matter (the same
    discipline as the ppm operators; the 6-dp snap carries the usual
    1-ulp libm caveat, deterministic on frozen data).

    Scale shape: one explode to character positions (rows = corpus
    chars — the same linear family as token explodes), one
    (doc, char) count whose partial aggregation collapses each doc's
    alphabet map-side to <=|alphabet| rows, then a doc-keyed rollup.
    Nothing is ever alphabet x alphabet or doc x doc."""
    docs = load_table(spark, sf_dir, "documents")
    txt = F.array_join(tokens_col("text"), "")
    base = docs.select("doc_id", txt.alias("txt")).filter(
        F.length("txt") > 0
    )
    # explode positions: sequence(1, length) keeps both engines on the
    # identical substring(txt, i, 1) extraction
    chars = (
        base.select(
            "doc_id",
            "txt",
            F.explode(F.sequence(F.lit(1), F.length("txt"))).alias("i"),
        )
        .select("doc_id", F.expr("substring(txt, CAST(i AS INT), 1)").alias("ch"))
    )
    mlog2 = lambda c: F.round(F.log2(c) * 1e6, 0).cast("bigint")  # noqa: E731
    per_char = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_char.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_chars"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
            F.sum(F.col("c") * mlog2(F.col("c"))).cast("bigint").alias("sc"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_distinct_chars",
            (
                mlog2(F.col("n_chars"))
                - F.expr("sc div n_chars")
            ).alias("entropy_microbits"),
        )
        .withColumn(
            "keep", F.col("entropy_microbits") >= ENTROPY_MIN_MICROBITS
        )
        .orderBy("doc_id")
    )


# --- distribution drift: per-stratum KL vs the corpus ---------------------
def txt_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-distribution drift: KL(P_lang || P_corpus) in
    exact integer microbits — the mixture-monitoring statistic a
    training pipeline tracks per ingest batch (a stratum whose KL
    jumps has changed character, not just size). Every token in a
    stratum is also in the corpus, so Q is never zero and no smoothing
    is needed.

    Exactness: log2(p/q) = log2(c_l * N_all) - log2(c_all * N_l);
    both micro-log2-snapped (round(log2(x)*1e6) — bigint), weighted by
    the exact count c_l, then ONE floor-div by N_l: order-free integer
    arithmetic end to end, the txt_char_entropy discipline. Products
    c*N stay < 2^53 up to ~9e7 tokens per side at this snap; at 100 TB
    the same identity runs on log2 of the two factors summed
    (log2(c)+log2(N)), trading one snap for two.

    Scale shape: one (lang, token) count — partial agg collapses the
    Zipf head map-side — a token-keyed join of stratum counts against
    corpus counts (both already aggregated, far below corpus size), a
    lang-sized rollup, and two 1-row/L-row broadcasts. Nothing is ever
    token x token."""
    docs = load_table(spark, sf_dir, "documents", parallelize=False)
    toks = docs.select(
        "lang", F.explode(tokens_col("text")).alias("t")
    )
    per_lang = toks.groupBy("lang", "t").agg(
        F.count(F.lit(1)).alias("c_l")
    )
    per_all = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c_all"))
    n_l = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    n_all = toks.agg(F.count(F.lit(1)).alias("n_all"))
    mlog2 = lambda c: F.round(F.log2(c) * 1e6, 0).cast("bigint")  # noqa: E731
    contrib = (
        per_lang.join(per_all, "t")
        .join(F.broadcast(n_l), "lang")
        .crossJoin(F.broadcast(n_all))
        .select(
            "lang",
            "n_l",
            (
                F.col("c_l")
                * (
                    mlog2(F.col("c_l") * F.col("n_all"))
                    - mlog2(F.col("c_all") * F.col("n_l"))
                )
            ).alias("w"),
        )
    )
    # greatest(sw, 0): true KL >= 0, but the micro-log snap can leave a
    # few negative microbits; clamping keeps the division on the
    # non-negative range, where truncation (what BOTH engines' integer
    # division does) coincides with floor.
    return (
        contrib.groupBy("lang")
        .agg(
            F.max("n_l").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.sum("w").cast("bigint").alias("sw"),
        )
        .select(
            "lang",
            "n_tokens",
            "vocab",
            F.expr("greatest(sw, 0L) div n_tokens").alias("kl_microbits"),
        )
        .orderBy("lang")
    )


TXT_KL_DRIFT_ORACLE = f"""
WITH toks AS (
  SELECT lang, unnest({sql_tokens('text')}) AS t FROM documents
), per_lang AS (
  SELECT lang, t, COUNT(*) AS c_l FROM toks GROUP BY lang, t
), per_all AS (
  SELECT t, COUNT(*) AS c_all FROM toks GROUP BY t
), n_l AS (
  SELECT lang, COUNT(*) AS n_l FROM toks GROUP BY lang
), n_all AS (
  SELECT COUNT(*) AS n_all FROM toks
), contrib AS (
  SELECT pl.lang, nl.n_l,
    pl.c_l * (CAST(round(log2(pl.c_l * na.n_all) * 1000000, 0) AS BIGINT)
              - CAST(round(log2(pa.c_all * nl.n_l) * 1000000, 0) AS BIGINT))
      AS w
  FROM per_lang pl
  JOIN per_all pa ON pl.t = pa.t
  JOIN n_l nl ON pl.lang = nl.lang, n_all na
)
SELECT lang, MAX(n_l) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS vocab,
  greatest(CAST(SUM(w) AS BIGINT), 0) // MAX(n_l) AS kl_microbits
FROM contrib GROUP BY lang ORDER BY lang
"""


TXT_CHAR_ENTROPY_ORACLE = f"""
WITH base AS (
  SELECT doc_id, array_to_string({sql_tokens('text')}, '') AS txt
  FROM documents
), chars AS (
  SELECT doc_id, substr(txt, CAST(i AS INT), 1) AS ch
  FROM base, unnest(generate_series(1, length(txt))) AS t(i)
  WHERE length(txt) > 0
), per_char AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
), rolled AS (
  SELECT doc_id,
    CAST(SUM(c) AS BIGINT) AS n_chars,
    CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
    CAST(SUM(c * CAST(round(log2(c) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sc
  FROM per_char GROUP BY doc_id
)
SELECT doc_id, n_chars, n_distinct_chars,
  CAST(round(log2(n_chars) * 1000000, 0) AS BIGINT) - sc // n_chars
    AS entropy_microbits,
  (CAST(round(log2(n_chars) * 1000000, 0) AS BIGINT) - sc // n_chars)
    >= {ENTROPY_MIN_MICROBITS} AS keep
FROM rolled ORDER BY doc_id
"""


# --- paragraph-level dedup (RefinedWeb/Dolma-style) -----------------------
PAR_TOKENS = 20


def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document paragraph dedup: split each document into
    PAR_TOKENS-token paragraphs, keep only the FIRST occurrence of each
    distinct paragraph corpus-wide (first = lowest (doc_id, chunk_idx)),
    and reassemble what survives of each document.

    This is the line/paragraph-level pass production corpora run before
    document-level near-dup (boilerplate headers/footers repeat across
    millions of pages that are not document-level duplicates). The
    corpus here is corpus_with_dups, whose injected exact and near
    duplicates share all (or all-but-last) paragraphs — so survivors are
    non-trivial at every SF.

    Shape at 100 TB: chunking is narrow (sequence+slice per doc, then
    one explode); first-occurrence selection is ONE shuffle keyed by the
    paragraph text (row_number over its partition — at production scale
    key on fingerprint_col(chunk_text) to shrink the shuffle); reassembly is one
    shuffle back on doc_id with an order-independent sort_array — no
    collect_list ordering assumptions, no UDFs, no all-pairs anything.
    Reassembled text is emitted as md5 (value-hash-friendly).
    """
    from pyspark.sql import Window

    docs = corpus_with_dups(spark, sf_dir)
    toks = tokens_col("text")
    # token array bound once (functions/text.bind_once): a captured
    # toks would re-run the regex split once per paragraph
    paragraphs = bind_once(
        toks,
        lambda tarr: F.transform(
            F.sequence(F.lit(1), F.size(tarr), F.lit(PAR_TOKENS)),
            lambda s: F.array_join(F.slice(tarr, s, PAR_TOKENS), " "),
        ),
    )
    chunks = docs.filter(F.size(toks) > 0).select(
        "doc_id", F.posexplode(paragraphs).alias("chunk_idx", "chunk_text")
    )
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn(
        "is_first", F.row_number().over(w) == 1
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.sum(F.col("is_first").cast("bigint")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.when(
                                    F.col("is_first"),
                                    F.struct("chunk_idx", "chunk_text"),
                                )
                            )
                        ),
                        lambda x: x.chunk_text,
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


DEDUP_PARAGRAPHS_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
toks AS (
  SELECT doc_id, {sql_tokens('text')} AS t FROM corpus
), s AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t), {PAR_TOKENS})) AS start
  FROM toks WHERE len(t) > 0
), chunks AS (
  SELECT doc_id, (start - 1) // {PAR_TOKENS} AS chunk_idx,
         array_to_string(t[start:start + {PAR_TOKENS - 1}], ' ') AS chunk_text
  FROM s
), ranked AS (
  SELECT doc_id, chunk_idx, chunk_text,
    ROW_NUMBER() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) = 1
      AS is_first
  FROM chunks
)
SELECT doc_id, COUNT(*) AS n_paragraphs,
  CAST(SUM(CAST(is_first AS BIGINT)) AS BIGINT) AS n_kept,
  md5(COALESCE(
    string_agg(CASE WHEN is_first THEN chunk_text END, ' ' ORDER BY chunk_idx),
    '')) AS kept_md5
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""


# --- unigram-LM quality proxy: OOV / rare-token profile -------------------
# Top-V vocabulary size. Real pipelines (e.g. CCNet-style LM filtering)
# prune the unigram table to a fixed vocabulary and BROADCAST it; any
# token outside the table is out-of-vocabulary. That keeps the per-doc
# scoring a broadcast-hash-join map stage — no corpus-sized shuffle on
# the token column, whose Zipf head would otherwise be the worst skew
# key in the whole pipeline (the word "the" alone would be one reducer).
# V is a tuning knob: production corpora use 10^5-10^6; the synthetic
# documents table has only ~31 distinct tokens, so V=16 keeps the OOV
# tail non-degenerate (V >= vocab would make every token in-vocabulary
# and the score constant-zero).
VOCAB_TOP_V = 16


def txt_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy: score every document by how much of it
    falls outside the corpus's top-V vocabulary, plus the summed corpus
    frequency of its in-vocabulary tokens (the rational-arithmetic stand-
    in for a unigram log-prob — monotone in it, but engine-exact).

    Scale shape: one explode+groupBy builds the unigram table (partial
    aggregation absorbs the Zipf head map-side), TakeOrdered keeps the
    top VOCAB_TOP_V (freq desc, token asc — deterministic at ties), and the
    pruned table is broadcast back against the exploded corpus: the
    scoring join is a map-stage hash probe, never a shuffle keyed by
    token. At 100 TB the vocabulary table is a few MB regardless of
    corpus size — the same broadcast-dimension contract as
    txt_contamination's benchmark set.

    V=16 here (see VOCAB_TOP_V note); with the synthetic corpus's ~31
    distinct tokens that puts roughly half the vocabulary out-of-table,
    so oov_ratio varies per document instead of collapsing to zero."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inst = docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
    vocab = (
        inst.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(VOCAB_TOP_V)
    )
    return (
        inst.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("freq").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.coalesce(F.sum("freq"), F.lit(0)).cast("bigint").alias("sum_freq"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            "sum_freq",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_ratio"),
        )
        .orderBy("doc_id")
    )


TXT_RARE_TOKEN_ORACLE = f"""
WITH inst AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS freq FROM inst GROUP BY tok
  ORDER BY freq DESC, tok ASC LIMIT {VOCAB_TOP_V}
)
SELECT i.doc_id, COUNT(*) AS n_tokens,
  CAST(SUM(CASE WHEN v.freq IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(COALESCE(SUM(v.freq), 0) AS BIGINT) AS sum_freq,
  round(CAST(SUM(CASE WHEN v.freq IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS oov_ratio
FROM inst i LEFT JOIN vocab v ON i.tok = v.tok
GROUP BY i.doc_id ORDER BY i.doc_id
"""


# --- broadcast Bloom-filter contamination ---------------------------------
# 4096 bits as 128 x 32-bit words (32-bit words keep every mask and
# shift strictly positive — BIGINT sign-bit semantics never enter the
# cross-engine comparison), 3 salted md5 hashes per shingle. The bit
# layout is the SHARED contract in functions/text.py, also used by the
# per-file data-skipping index (operators/skipping.py).
from simple_etl_pipeline_spark.functions.text import (  # noqa: E402
    BLOOM_BITS,
    BLOOM_K,
    BLOOM_WORD_BITS,
)


def txt_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination via a broadcast BLOOM FILTER instead of
    the broadcast shingle list (txt_contamination): the benchmark's
    distinct 3-gram shingles are folded into a 4096-bit filter (128
    32-bit words, bit_or aggregation, 3 salted md5 hashes), and every
    document probes the filter with per-shingle bit tests — a pure map
    stage against a KB-sized broadcast.

    This is the membership structure that still works when the
    reference set is too large to broadcast verbatim: the filter is
    CONSTANT-sized however many shingles went in (false-positive rate,
    not memory, degrades). The audit columns prove the Bloom contract
    on real data: exact_hits recomputed against the true set (as
    txt_contamination does), n_false_pos = bloom_hits - exact_hits >= 0,
    and no_false_neg TRUE on every row (a Bloom filter can only
    over-report).

    The probe runs over EXPLODED distinct shingles (3 md5s + an O(1)
    map lookup per shingle, map-side) with doc_id-keyed counts — the
    same shuffle discipline as txt_contamination, whose docstring
    explains why the per-row array formulation was quadratic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    bench_sh = (
        bench.select(F.explode(shingles_col("text")).alias("s")).distinct()
    )
    idxs = F.array(
        *[
            (md5_hash60(F.col("s"), F.lit(i)) % BLOOM_BITS).alias(f"h{i}")
            for i in range(BLOOM_K)
        ]
    )
    words = (
        bench_sh.select(F.explode(idxs).alias("idx"))
        .groupBy(F.expr(f"idx div {BLOOM_WORD_BITS}").alias("word"))
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(1L, CAST(idx % {BLOOM_WORD_BITS} AS INT))")
            ).alias("mask")
        )
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("bloom")
    )
    ev = docs.filter(
        (F.col("doc_id") % CONTAM_BENCH_MOD != 0)
        & (F.size(tokens_col("text")) >= 3)
    ).select(
        "doc_id", F.explode(F.array_distinct(shingles_col("text"))).alias("sh")
    )

    def _bit_set(s, i: int):
        # One salted hash -> (word, bit) -> mask & 2^bit test. The bit
        # mask is built as pow(2, bit) cast to long — exact for bit<32
        # in both engines — because shiftleft by a COLUMN amount isn't
        # in the PySpark function API and 32-bit words make every
        # intermediate positive.
        idx = md5_hash60(s, F.lit(i)) % BLOOM_BITS
        word_key = F.floor(idx / BLOOM_WORD_BITS).cast("long")
        bit = idx % BLOOM_WORD_BITS
        mask = F.coalesce(
            F.element_at(F.col("bloom"), word_key), F.lit(0).cast("long")
        )
        bitmask = F.pow(F.lit(2.0), bit.cast("double")).cast("long")
        return mask.bitwiseAND(bitmask) != 0

    def _in_bloom(s):
        cond = _bit_set(s, 0)
        for i in range(1, BLOOM_K):
            cond = cond & _bit_set(s, i)
        return cond

    # ONE corpus pass: the Bloom probe (1-row broadcast) and the exact
    # audit (LEFT broadcast probe of the true shingle set) mark the
    # same exploded frame, and a single doc_id aggregation derives all
    # three counts — the earlier counted/exact twin-consumer shape
    # replayed tokenize+shingle+explode twice and recombined with a
    # third doc_id-keyed join.
    per_shingle = (
        ev.crossJoin(F.broadcast(bloom))
        .join(
            F.broadcast(
                bench_sh.withColumnRenamed("s", "sh").withColumn(
                    "m", F.lit(1)
                )
            ),
            "sh",
            "left",
        )
        .select(
            "doc_id",
            _in_bloom(F.col("sh")).cast("int").alias("in_bloom"),
            F.coalesce(F.col("m"), F.lit(0)).alias("in_bench"),
        )
    )
    return (
        per_shingle.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("in_bloom").cast("bigint").alias("bloom_hits"),
            F.sum("in_bench").cast("bigint").alias("exact_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "bloom_hits",
            "exact_hits",
            (F.col("bloom_hits") - F.col("exact_hits"))
            .cast("bigint")
            .alias("n_false_pos"),
            (F.col("bloom_hits") >= F.col("exact_hits")).alias("no_false_neg"),
        )
        .orderBy("doc_id")
    )


def _sql_bloom_bit(s_expr: str, i: int) -> str:
    idx = f"({sql_md5_hash60(s_expr, str(i))} % {BLOOM_BITS})"
    return (
        f"(COALESCE(bloom[CAST({idx} // {BLOOM_WORD_BITS} AS INT) + 1], 0)"
        f" & CAST(pow(2, {idx} % {BLOOM_WORD_BITS}) AS BIGINT)) <> 0"
    )


TXT_BLOOM_CONTAMINATION_ORACLE = f"""
WITH bench AS (
  SELECT DISTINCT unnest({sql_shingles(sql_tokens('text'))}) AS s
  FROM documents WHERE doc_id % {CONTAM_BENCH_MOD} = 0
), bits AS (
  {" UNION ALL ".join(
      f"SELECT ({sql_md5_hash60('s', str(i))} % {BLOOM_BITS}) AS idx FROM bench"
      for i in range(BLOOM_K)
  )}
), words AS (
  SELECT idx // {BLOOM_WORD_BITS} AS word,
         bit_or(CAST(pow(2, idx % {BLOOM_WORD_BITS}) AS BIGINT)) AS mask
  FROM bits GROUP BY 1
), dense AS (
  SELECT g.w AS word, COALESCE(words.mask, 0) AS mask
  FROM (SELECT unnest(generate_series(0, {BLOOM_BITS // BLOOM_WORD_BITS - 1})) AS w) g
  LEFT JOIN words ON words.word = g.w
), barr AS (
  SELECT list(mask ORDER BY word) AS bloom FROM dense
), bl AS (
  SELECT list(s) AS bench_sh FROM bench
), ev AS (
  SELECT doc_id, list_distinct({sql_shingles(sql_tokens('text'))}) AS sh
  FROM documents
  WHERE doc_id % {CONTAM_BENCH_MOD} <> 0 AND len({sql_tokens('text')}) >= 3
)
SELECT doc_id,
  CAST(len(sh) AS BIGINT) AS n_shingles,
  CAST(len(list_filter(sh, s -> {" AND ".join(_sql_bloom_bit("s", i) for i in range(BLOOM_K))}))
    AS BIGINT) AS bloom_hits,
  CAST(len(list_filter(sh, t -> list_contains(bench_sh, t))) AS BIGINT)
    AS exact_hits,
  CAST(len(list_filter(sh, s -> {" AND ".join(_sql_bloom_bit("s", i) for i in range(BLOOM_K))}))
    - len(list_filter(sh, t -> list_contains(bench_sh, t))) AS BIGINT)
    AS n_false_pos,
  len(list_filter(sh, s -> {" AND ".join(_sql_bloom_bit("s", i) for i in range(BLOOM_K))}))
    >= len(list_filter(sh, t -> list_contains(bench_sh, t))) AS no_false_neg
FROM ev, barr, bl ORDER BY doc_id
"""


# --- substring-level duplicated-span profile ------------------------------
# Word n-gram window length for the duplicated-span scan. 5 tokens is
# long enough that organic cross-document collisions are rare but the
# injected exact/near duplicates light up end-to-end.
SPAN_N = 5
SPAN_DUP_PPM = 500000  # >= half the spans duplicated -> substring-dup doc


def _span_gram_key(TH, i):
    """rot60-composed 60-bit key of the SPAN_N-gram starting at i
    (1-based) over the bound token-hash array TH."""
    gh = F.element_at(TH, i)
    for j in range(1, SPAN_N):
        gh = gh.bitwiseXOR(
            rot60(F.element_at(TH, i + j), (GRAM_ROT_STEP * j) % 60)
        )
    return gh


def _sql_span_gram_key() -> str:
    gh = "(th[i])"
    for j in range(1, SPAN_N):
        gh = f"xor({gh}, {sql_rot60(f'th[i+{j}]', (GRAM_ROT_STEP * j) % 60)})"
    return gh


def dedup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact-duplication profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the fraction of its word 5-gram start positions
    whose 5-gram also occurs in at least one OTHER document. Doc-level
    dedup (dedup_exact) misses partially-copied text; paragraph dedup
    (dedup_paragraphs) needs paragraph boundaries; this is the
    boundary-free form — the distributed n-gram approximation of the
    paper's suffix-array scan (a suffix array is single-machine; the
    positional n-gram table is its shuffle-friendly equivalent).

    Scale shape: one explode builds the positional gram table (rows =
    corpus token count — linear), one gram-keyed count-distinct finds
    grams seen in >1 document (partial aggregation absorbs repeats
    map-side), and one gram-keyed left join marks each start position.
    Both shuffles key on a 60-bit gram hash, NOT the gram string: at
    100 TB the positional table is ~10^13 rows, and an 8-byte key
    shuffles ~2.5x less than the ~45-byte 5-gram text. The key is
    composed from per-TOKEN md5 hashes via position rotation (rot60,
    functions/text.py) — one digest per token instead of one per gram,
    and no gram strings are ever built (Lee et al. likewise dedup on
    64-bit hashes; a collision marks a unique gram as duplicated with
    probability ~n^2/2^60 — and because the oracle computes the
    IDENTICAL composition, cross-engine parity is unaffected either
    way). Never all-pairs, never a driver-side
    structure, so the plan is the same at 100 TB. The
    duplicated-fraction is reported in exact integer parts-per-million
    (floor DIV — no double division, so the 6-dp rounding boundary
    risk the cosine operators document cannot arise at all). Documents
    with fewer than 5 tokens have no spans and are not scored.

    Reference has no dedup at all (SURVEY.md §2f); the corpus view
    injects exact (+1M doc_id) and near (+2M) duplicates so the
    profile is non-trivial at every SF."""
    corpus = corpus_with_dups(spark, sf_dir)
    # gram keys via rot60 composition (functions/text.py): one md5 per
    # TOKEN, no gram strings materialized — the token-hash array is
    # bound as a lambda variable so HOFs don't re-hash the document
    # per gram (round-4 finding)
    gram_keys = bind_once(
        F.transform(tokens_col("text"), lambda t: md5_hash60(t)),
        lambda TH: F.when(
            F.size(TH) < SPAN_N, F.array().cast("array<bigint>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(TH) - (SPAN_N - 1)),
                lambda i: _span_gram_key(TH, i),
            )
        ),
    )
    occ = corpus.select("doc_id", F.explode(gram_keys).alias("gh"))
    dup_grams = (
        occ.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh", F.lit(1).alias("dup"))
    )
    return (
        occ.join(dup_grams, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0)))
            .cast("bigint")
            .alias("dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_spans",
            F.expr("dup_spans * 1000000L div n_spans").alias("dup_ppm"),
            (F.expr("dup_spans * 1000000L div n_spans") >= SPAN_DUP_PPM).alias(
                "is_dup"
            ),
        )
        .orderBy("doc_id")
    )


DEDUP_NGRAM_SPANS_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
arrs AS (
  SELECT doc_id,
    list_transform({sql_tokens('text')}, x -> {sql_md5_hash60('x')}) AS th
  FROM corpus
), occ AS (
  SELECT doc_id, {_sql_span_gram_key()} AS gh
  FROM arrs, unnest(generate_series(1, greatest(len(th) - {SPAN_N - 1}, 0)))
       AS u(i)
), dup_grams AS (
  SELECT gh FROM occ GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1
), per_doc AS (
  SELECT o.doc_id, COUNT(*) AS n_spans,
    CAST(SUM(CASE WHEN d.gh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS dup_spans
  FROM occ o LEFT JOIN dup_grams d ON o.gh = d.gh
  GROUP BY o.doc_id
)
SELECT doc_id, n_spans, dup_spans,
  (dup_spans * 1000000) // n_spans AS dup_ppm,
  (dup_spans * 1000000) // n_spans >= {SPAN_DUP_PPM} AS is_dup
FROM per_doc ORDER BY doc_id
"""


# --- DSIR hashed-n-gram importance weights --------------------------------
DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"
DSIR_TOP_K = 60


def txt_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    NeurIPS): score every document by how target-like its hashed
    bigram distribution is, and keep the top-K. Target = the
    DSIR_TARGET_LANG ('en') slice of the corpus; raw = the whole
    corpus. Word bigrams are hashed into DSIR_BUCKETS=64 buckets (the
    paper's hashed n-gram feature space); each bucket gets a
    Laplace-smoothed target rate and raw rate, and a document's score
    sums the per-bucket rate differences over its bigram occurrences.

    Engine-exactness: the paper's log-ratio sum is replaced by the
    exact-rational rate DIFFERENCE in integer parts-per-million —
    (ct+1)*1e6 DIV (total_t+B) minus (cr+1)*1e6 DIV (total_r+B) —
    pure bigint arithmetic, bit-identical in both engines (top-K
    selection needs only a deterministic ranking, not the calibrated
    likelihood; ln() is libm-dependent and would risk 1-ulp rank
    flips). Precondition: corpus bigram count < 2^63/1e6 ~ 9.2e12
    (~60 TB of text); beyond that, shift to a power-of-two scale with
    the high/low-word split sql_dot_dec documents.

    Scale shape: the bucket table is DSIR_BUCKETS rows REGARDLESS of
    corpus size — two explode+groupBy passes build it (partial agg
    map-side), an unpartitioned window over those 64 rows derives the
    totals, and scoring is a broadcast hash probe of the 64-row weight
    table against the exploded corpus followed by one doc_id-keyed
    aggregation. No token-keyed corpus shuffle, no driver collect;
    TakeOrdered keeps the top DSIR_TOP_K."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    inst = docs.select(
        "doc_id", "lang", F.explode(shingles_col("text", 2)).alias("bg")
    ).select(
        "doc_id", "lang", (md5_hash60(F.col("bg")) % DSIR_BUCKETS).alias("b")
    )
    buckets = (
        inst.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            ).alias("ct"),
        )
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    weights = (
        buckets.withColumn("total_r", F.sum("cr").over(w_all))
        .withColumn("total_t", F.sum("ct").over(w_all))
        .select(
            "b",
            F.expr(
                f"(ct + 1) * 1000000L div (total_t + {DSIR_BUCKETS}) "
                f"- (cr + 1) * 1000000L div (total_r + {DSIR_BUCKETS})"
            ).alias("w_ppm"),
        )
    )
    return (
        inst.join(F.broadcast(weights), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("w_ppm").cast("bigint").alias("dsir_ppm"),
        )
        .orderBy(F.desc("dsir_ppm"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
    )


TXT_DSIR_ORACLE = f"""
WITH inst AS (
  SELECT doc_id, lang,
    {sql_md5_hash60('bg')} % {DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, lang,
      unnest({sql_shingles(sql_tokens('text'), 2)}) AS bg
    FROM documents
  )
), buckets AS (
  SELECT b, COUNT(*) AS cr,
    SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct
  FROM inst GROUP BY b
), weights AS (
  SELECT b,
    (ct + 1) * 1000000 // (SUM(ct) OVER () + {DSIR_BUCKETS})
    - (cr + 1) * 1000000 // (SUM(cr) OVER () + {DSIR_BUCKETS}) AS w_ppm
  FROM buckets
)
SELECT i.doc_id, i.lang, COUNT(*) AS n_bigrams,
  CAST(SUM(w.w_ppm) AS BIGINT) AS dsir_ppm
FROM inst i JOIN weights w ON i.b = w.b
GROUP BY i.doc_id, i.lang
ORDER BY dsir_ppm DESC, doc_id ASC LIMIT {DSIR_TOP_K}
"""


# --- lexical retrieval --------------------------------------------------
# Built round 4 with pytest oracles (tests/test_retrieval.py); registered
# in queries()/oracle_sql() round 5 with window slots, per the round-4
# rotation ledger.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 5
BM25_QUERY_DOCS = (0, 17, 34, 51, 68)  # panel: first 3 tokens of each


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 scoring pipeline: per-(query, doc) summed
    contributions for the 5-query panel — the body of bm25_topk,
    extracted so search_hybrid_rrf can rank the same scores without
    duplicating the pipeline (plans are built identically; bm25_topk's
    fingerprint is unchanged by the extraction)."""
    return _bm25_per_doc_impl(spark, sf_dir)


def _bm25_per_doc_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-K retrieval (Robertson & Walker 1994; the SPARSE
    complement of the dense sim_* family): a 5-query panel (the first 3
    distinct tokens of 5 fixed documents) scores every document by
    sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).

    Engine-exactness: every input to the score is either an integer
    (tf, dl, df, N) or an exact 1-row aggregate double (avgdl), and
    products/quotients of identical doubles are correctly-rounded IEEE
    ops — bit-identical across engines, the cosine_dec argument. The
    ONE transcendental is ln((N - df + 0.5)/(df + 0.5) + 1); it is
    rounded to 6 dp BEFORE entering any arithmetic, and the paired
    test asserts the rounded idf values match across engines outright,
    isolating the only libm-dependent value (same probabilistic 1-ulp
    boundary caveat the cosine operators document — on the frozen
    testdata the comparison is deterministic).

    Scale shape: df is computed ONLY for the <=15 panel terms (the
    exploded corpus is broadcast-semi-filtered by the panel before any
    aggregation), doc lengths are a doc_id-keyed count, avgdl and N
    are 1-row broadcasts, and the per-(query, doc) tf aggregation
    shuffles only panel-matching rows — at 100 TB the shuffle volume
    is the posting lists of 15 terms, not the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    # first 3 RAW tokens, set-deduped AFTER the explode: array_distinct
    # preserves first-occurrence order in Spark while DuckDB's
    # list_distinct does not, so any slice-of-distinct would pick
    # different terms per engine — the row-level DISTINCT makes the
    # panel an order-free SET in both
    panel = (
        docs.filter(F.col("doc_id").isin(*BM25_QUERY_DOCS))
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.slice(tokens_col("text"), 1, 3)).alias("term"),
        )
        .distinct()
    )
    # dl and tf_td are persisted: both are metadata-sized (one row per
    # doc / per panel posting) yet each feeds two consumers (dl: the
    # avgdl stats and the scored join; tf_td: the df aggregation and
    # the scored join), and every unshared consumer replays the corpus
    # tokenize+explode behind it — measured 4 corpus passes per query
    # without the barriers, 2 with (guide §5; at ingest scale dl is a
    # stored column, making this the honest production shape).
    #
    # dl itself is a map-side size() over the tokenized text, NOT an
    # explode+groupBy-count: identical by construction, because
    # tokens_col yields [] for blank text (size 0) and NULL for null
    # text (size NULL) — exactly the rows the explode would drop, which
    # the dl > 0 filter removes here (NULL > 0 is NULL -> dropped). The
    # int-vs-bigint dl promotes identically into the exact bigint
    # sum/double division below. Removes the only doc_id-keyed corpus
    # exchange in the pipeline; the token explode now runs once (the
    # panel probe), not twice.
    dl = (
        docs.select("doc_id", F.size(tokens_col("text")).alias("dl"))
        .filter(F.col("dl") > 0)
        .persist()
    )
    # exact bigint sum / count, one correctly-rounded division — NOT
    # avg(): the engines' internal avg accumulation orders can differ
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    # tf/df in ONE aggregated pass over the panel-probe explode
    # (VERDICT r15 #4): tf(q, t, d) never depends on q — it is the
    # occurrence count of t in d — so aggregate per (term, doc_id)
    # FIRST (the corpus-volume shuffle no longer fans each matching
    # token row out per panel query sharing the term) and attach q_id
    # AFTER aggregation via the broadcast panel (posting-list-sized,
    # no exchange). df then needs NO distinct pass: tf_td already has
    # exactly one row per (term, doc_id), so df(t) is a plain count
    # rollup of the persisted frame. Identical keys and values by
    # construction: hits(q,t,d) multiplicity = occurrences(t in d)
    # for every q whose panel holds t — the same (q,t,d) universe the
    # old q-keyed aggregation produced.
    panel_terms = panel.select("term").distinct()
    tf_td = (
        toks.join(F.broadcast(panel_terms), "term")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    df_ = tf_td.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tf = tf_td.join(F.broadcast(panel), "term")
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf6",
            F.round(
                F.log(
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                ),
                6,
            ),
        )
        .withColumn(
            "contrib",
            F.round(
                F.col("idf6")
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    return scored.groupBy("q_id", "doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("score")
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-K head over the shared _bm25_per_doc scores (see
    its docstring for the engine-exactness and 100 TB shape notes)."""
    from pyspark.sql import Window

    per_doc = _bm25_per_doc(spark, sf_dir)
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("q_id", "rank", "doc_id", "score")
        .orderBy("q_id", "rank")
    )


_BM25_CTE = f"""
WITH toks AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents
), panel AS (
  SELECT DISTINCT doc_id AS q_id, unnest(({sql_tokens('text')})[1:3]) AS term
  FROM documents WHERE doc_id IN {BM25_QUERY_DOCS}
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         CAST(COUNT(*) AS DOUBLE) AS n FROM dl
), tf AS (
  SELECT p.q_id, t.term, t.doc_id, COUNT(*) AS tf
  FROM toks t JOIN panel p ON t.term = p.term
  GROUP BY p.q_id, t.term, t.doc_id
), df AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term
), scored AS (
  -- k1 casts to DOUBLE before any arithmetic: DuckDB would otherwise
  -- evaluate (1.2 + 1) in exact DECIMAL, a verified ~1-ulp deviation
  -- from Spark's all-double path (b = 0.75 and the 0.5 smoothers are
  -- powers of two, exact in both representations, so only k1 needs it)
  SELECT tf.q_id, tf.doc_id,
    round(
      round(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0), 6)
      * (tf.tf * (CAST({BM25_K1} AS DOUBLE) + 1))
      / (tf.tf + CAST({BM25_K1} AS DOUBLE)
                 * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)),
      6) AS contrib
  FROM tf JOIN df ON tf.term = df.term
          JOIN dl ON tf.doc_id = dl.doc_id, stats s
), per_doc AS (
  SELECT q_id, doc_id, round(SUM(contrib), 6) AS score
  FROM scored GROUP BY q_id, doc_id
)"""

# BM25_ORACLE is composed from the shared CTE prefix so the fusion
# oracle below scores with BYTE-IDENTICAL SQL (one source of truth
# for the BM25 arithmetic on the DuckDB side too).
BM25_ORACLE = _BM25_CTE + f"""
SELECT q_id, rank, doc_id, score FROM (
  SELECT q_id, doc_id, score,
    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC)
      AS rank
  FROM per_doc
) WHERE rank <= {BM25_TOP_K} ORDER BY q_id, rank
"""


RRF_K = 60
FUSION_POOL = 10
FUSION_TOP = 5


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (round-9 prebuild;
    Cormack/Clarke/Buettcher 2009): for each of the 5 BM25 panel
    queries, fuse the SPARSE BM25 ranking (shared _bm25_per_doc
    pipeline — zero duplicated scoring code) with the DENSE cosine
    ranking of the same document's embedding (vec_id and doc_id share
    the 0..N universe in the testdata: embeddings are document
    embeddings, so BM25_QUERY_DOCS anchor both sides). Each retriever
    contributes its top-FUSION_POOL; fused score is the exact-integer
    sum of 1000000 div (RRF_K + rank) over the lists a doc appears in
    (ppm space — no float accumulation, engine-identical), and the
    top-FUSION_TOP per query is emitted with both source ranks (NULL
    where a retriever missed the doc) — the modern hybrid-search head
    every RAG pipeline fronts retrieval with.

    Scale shape: the BM25 side shuffles only the 15-term posting lists
    (see _bm25_per_doc); the dense side is the broadcast-queries x
    corpus scan pattern (5 query vectors broadcast — never a corpus
    cross); both heads are bounded per-query windows over
    candidate-sized frames; the fusion groupBy is over <= 2x5xPOOL
    rows of metadata. At 100 TB the dense side would swap in the IVF
    candidate join (sim_ivf*) — the fusion algebra is unchanged."""
    from pyspark.sql import Window

    from simple_etl_pipeline_spark.functions.vectors import dot_dec
    from simple_etl_pipeline_spark.plans.similarity import _emb

    sparse_w = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    sparse = (
        _bm25_per_doc(spark, sf_dir)
        .withColumn("rank", F.row_number().over(sparse_w))
        .filter(F.col("rank") <= FUSION_POOL)
        .select("q_id", "doc_id", "rank", F.lit("bm25").alias("src"))
    )
    # per-vector norm precompute (r15, the sim_knn_brute device): one
    # fold per corpus vector instead of one per (query, vector) pair;
    # bit-identical — same sqrt(dot_dec(v, v)) doubles through
    # cosine_dec's exact try_divide(dot, qnrm * nrm) operation order
    emb = _emb(spark, sf_dir).withColumn(
        "nrm", F.sqrt(dot_dec(F.col("v"), F.col("v")))
    )
    q = emb.filter(F.col("vec_id").isin(*BM25_QUERY_DOCS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    dense_w = Window.partitionBy("q_id").orderBy(
        F.desc("sim"), F.asc("doc_id")
    )
    dense = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("doc_id"),
            F.round(
                F.try_divide(
                    dot_dec(F.col("qv"), F.col("v")),
                    F.col("qnrm") * F.col("nrm"),
                ),
                6,
            ).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(dense_w))
        .filter(F.col("rank") <= FUSION_POOL)
        .select("q_id", "doc_id", "rank", F.lit("dense").alias("src"))
    )
    fused_w = Window.partitionBy("q_id").orderBy(
        F.desc("rrf_ppm"), F.asc("doc_id")
    )
    return (
        sparse.unionByName(dense)
        .groupBy("q_id", "doc_id")
        .agg(
            F.sum(
                F.expr(f"1000000 div ({RRF_K} + rank)")
            ).cast("bigint").alias("rrf_ppm"),
            F.max(
                F.when(F.col("src") == "bm25", F.col("rank"))
            ).cast("int").alias("bm25_rank"),
            F.max(
                F.when(F.col("src") == "dense", F.col("rank"))
            ).cast("int").alias("dense_rank"),
        )
        .withColumn("fused_rank", F.row_number().over(fused_w))
        .filter(F.col("fused_rank") <= FUSION_TOP)
        .select(
            "q_id", "fused_rank", "doc_id", "rrf_ppm",
            "bm25_rank", "dense_rank",
        )
        .orderBy("q_id", "fused_rank")
    )


from simple_etl_pipeline_spark.functions.vectors import sql_cosine_dec as _sql_cos

SEARCH_HYBRID_RRF_ORACLE = _BM25_CTE + f""", sparse AS (
  SELECT q_id, doc_id, rank FROM (
    SELECT q_id, doc_id,
      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC)
        AS rank
    FROM per_doc
  ) WHERE rank <= {FUSION_POOL}
), qv AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN {BM25_QUERY_DOCS}
), cv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), dsims AS (
  SELECT q_id, vec_id AS doc_id, round({_sql_cos('qv', 'cv')}, 6) AS sim
  FROM qv CROSS JOIN cv WHERE vec_id != q_id
), dense AS (
  SELECT q_id, doc_id, rank FROM (
    SELECT q_id, doc_id,
      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, doc_id ASC)
        AS rank
    FROM dsims
  ) WHERE rank <= {FUSION_POOL}
), unioned AS (
  SELECT q_id, doc_id, rank, 'bm25' AS src FROM sparse
  UNION ALL
  SELECT q_id, doc_id, rank, 'dense' AS src FROM dense
), fused AS (
  SELECT q_id, doc_id,
    CAST(SUM(1000000 // ({RRF_K} + rank)) AS BIGINT) AS rrf_ppm,
    CAST(MAX(CASE WHEN src = 'bm25' THEN rank END) AS INT) AS bm25_rank,
    CAST(MAX(CASE WHEN src = 'dense' THEN rank END) AS INT) AS dense_rank
  FROM unioned GROUP BY q_id, doc_id
)
SELECT q_id, fused_rank, doc_id, rrf_ppm, bm25_rank, dense_rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY rrf_ppm DESC, doc_id ASC) AS fused_rank
  FROM fused
) WHERE fused_rank <= {FUSION_TOP} ORDER BY q_id, fused_rank
"""


WSAMPLE_K = 40


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling without replacement (Efraimidis &
    Spirakis 2006, A-ES): keep the top-K documents by key u^(1/w) —
    here ranked by the equivalent ln(u)/w (monotone transform; larger
    is better as ln(u) < 0) — with weight w = token count, so sampling
    probability is proportional to document SIZE. The weighted
    complement of txt_sample_stratified's uniform hash buckets: token
    budgets, not doc counts, are what a training mixture actually
    allocates.

    Determinism: u = (md5_hash60(doc_id) + 1) / 2^60 — an exact
    rational in (0, 1], identical in any engine, replacing A-ES's
    rand() so the sample is auditable and replayable (the same reason
    txt_sample_stratified shuns rand()). The single transcendental
    ln(u) is rounded to 6 dp before the division (the BM25 discipline:
    everything else is correctly-rounded IEEE on identical inputs;
    frozen testdata makes the comparison deterministic, and a 1-ulp
    boundary flip could only reorder two keys within 1e-6 of each
    other).

    Scale shape: a narrow map computes the key, TakeOrderedAndProject
    keeps K rows — no shuffle of the corpus at all, the same plan at
    any size. Docs with zero tokens carry no weight and are excluded
    (w = 0 has no u^(1/w))."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    w = F.size(tokens_col("text"))
    u = (md5_hash60(F.col("doc_id").cast("string")) + 1) / F.lit(
        float(2**60)
    )
    return (
        docs.withColumn("n_tokens", w.cast("bigint"))
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(F.round(F.log(u), 6) / F.col("n_tokens"), 9).alias(
                "es_key"
            ),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
    )


WSAMPLE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
    CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens,
    round(round(ln(({sql_md5_hash60("CAST(doc_id AS VARCHAR)")} + 1)
                   / {float(2**60)!r}), 6)
          / len({sql_tokens('text')}), 9) AS es_key
  FROM documents
  WHERE len({sql_tokens('text')}) > 0
)
SELECT doc_id, lang, n_tokens, es_key FROM scored
ORDER BY es_key DESC, doc_id ASC LIMIT {WSAMPLE_K}
"""


INVIDX_TOP_TERMS = 50


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the batch layout a lexical search engine
    (or the BM25 scorer above) reads: per term, document frequency,
    collection frequency and the md5 of the ordered (doc_id, tf)
    posting list (emitting the hash keeps the row narrow and
    hash-comparable; production would write the list itself). Top
    INVIDX_TOP_TERMS terms by df (term asc at ties).

    Pure exact integer/string arithmetic — no floats anywhere. Two
    keyed shuffles: (term, doc) tf counts, then per-term assembly with
    an order-independent sort_array before the hash (the same
    collect_list discipline as dedup_paragraphs). At 100 TB, posting
    assembly is the classic index-build shuffle: keyed by term, sized
    by the corpus token count, no skew beyond the Zipf head that the
    partial tf aggregation already collapsed map-side."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("cf"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("doc_id", "tf"))
                        ),
                        lambda s: F.concat_ws(
                            ":",
                            s.doc_id.cast("string"),
                            s.tf.cast("string"),
                        ),
                    ),
                    ",",
                )
            ).alias("postings_md5"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(INVIDX_TOP_TERMS)
    )


INVIDX_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents
), tf AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY term, doc_id
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
  md5(string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id)) AS postings_md5
FROM tf GROUP BY term ORDER BY df DESC, term ASC LIMIT {INVIDX_TOP_TERMS}
"""


# --- epoch-shuffle shard manifest (oracle surface of operators/training) --
# Fixed (seed, epoch, n_shards) so the permutation — and therefore every
# column below — is a pure deterministic function of the corpus.
TRAIN_SEED = 17
TRAIN_EPOCH = 3
TRAIN_SHARDS = 8


def train_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest of one training epoch's shuffle layout
    (operators/training.py epoch_order): for each shard, the row count,
    the XOR of all epoch_ord hash values, and the min/max order keys.
    Together these pin the full (seed, epoch)-keyed permutation — which
    rows land in which shard AND the intra-shard order bounds — without
    materializing it, so a trainer (or this oracle) can audit that a
    resumed run replays the identical byte layout write_epoch_shards
    would produce.

    Scale shape: one narrow map over the scan (two md5-derived columns)
    and one groupBy on the n_shards-sized key — the output is
    metadata-sized (TRAIN_SHARDS rows) regardless of corpus size, and
    the shuffle moves only (shard, 3×bigint) partial aggregates."""
    from simple_etl_pipeline_spark.operators.training import epoch_order

    docs = load_table(spark, sf_dir, "documents", parallelize=False).select("doc_id")
    ordered = epoch_order(
        docs, "doc_id", seed=TRAIN_SEED, epoch=TRAIN_EPOCH,
        n_shards=TRAIN_SHARDS,
    )
    return (
        ordered.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(epoch_ord)").alias("xor_ord"),
            F.min("epoch_ord").alias("min_ord"),
            F.max("epoch_ord").alias("max_ord"),
        )
        .orderBy("shard")
    )


TRAIN_SHARD_ORACLE = f"""
WITH ordered AS (
  SELECT {sql_md5_hash60(
      f"concat('{TRAIN_SEED}|{TRAIN_EPOCH}|', CAST(doc_id AS VARCHAR))"
  )} AS epoch_ord
  FROM documents
)
SELECT CAST(epoch_ord % {TRAIN_SHARDS} AS INT) AS shard,
  COUNT(*) AS n_rows,
  bit_xor(epoch_ord) AS xor_ord,
  MIN(epoch_ord) AS min_ord,
  MAX(epoch_ord) AS max_ord
FROM ordered GROUP BY 1 ORDER BY shard
"""


CURRICULUM_SHARD = 50


def train_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered training manifest (round-9 prebuild):
    documents sequenced easy-first by (token count, doc_id) — the
    classic length-curriculum — with each document's exact global
    position assigned by the distributed `global_row_number` pattern
    (plans/relational.py: range shuffle + distributed sequence, no
    single-partition sort ANYWHERE — the same primitive the RFM
    rewrite introduced, exercised here on a second surface). The
    manifest rolls the sequence into CURRICULUM_SHARD-sized shards:
    (shard, n_docs, first_seq, last_seq, min_tokens, max_tokens,
    xor_ids) — xor_ids pins the exact membership of every shard, and
    the seq bounds pin the order, without materializing the
    permutation (the train_shard_manifest device, applied to a SORTED
    curriculum instead of a hash shuffle).

    Scale shape: one narrow map (token count), one range shuffle +
    keyed window for the global sequence, one shard-keyed rollup
    (map-side combined, output N/CURRICULUM_SHARD rows). Oracle:
    ROW_NUMBER() over the same total order.

    NULL text: tokenizing NULL yields NULL in both engines, but their
    default sort placement differs (Spark ascending = NULLS FIRST,
    DuckDB ROW_NUMBER = NULLS LAST) — global_row_number's documented
    precondition is that null placement be encoded explicitly. NULL
    text is coalesced to n_tokens = -1 on BOTH sides: NULL-text
    documents deterministically lead the curriculum (they carry zero
    trainable content; ahead even of empty-string docs at 0), and
    every document keeps a manifest row (count parity with the
    documents table)."""
    from simple_etl_pipeline_spark.plans.relational import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.coalesce(
            F.size(tokens_col("text")), F.lit(-1)
        ).alias("n_tokens"),
    )
    seqd = global_row_number(scored, ["n_tokens", "doc_id"], out="seq")
    return (
        seqd.withColumn(
            "shard",
            F.expr(f"(seq - 1) div {CURRICULUM_SHARD}").cast("int"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("seq").alias("first_seq"),
            F.max("seq").alias("last_seq"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.expr("bit_xor(doc_id)").alias("xor_ids"),
        )
        .orderBy("shard")
    )


TRAIN_CURRICULUM_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
    COALESCE(len({sql_tokens('text')}), -1) AS n_tokens
  FROM documents
), seqd AS (
  SELECT doc_id, n_tokens,
    ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS seq
  FROM scored
)
SELECT CAST((seq - 1) // {CURRICULUM_SHARD} AS INT) AS shard,
  COUNT(*) AS n_docs,
  MIN(seq) AS first_seq,
  MAX(seq) AS last_seq,
  MIN(n_tokens) AS min_tokens,
  MAX(n_tokens) AS max_tokens,
  bit_xor(doc_id) AS xor_ids
FROM seqd GROUP BY 1 ORDER BY shard
"""


TOKEN_BUDGET = 20_000


def train_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (round-11 prebuild bank): greedily
    keep the highest-quality documents until a fixed token budget is
    exhausted — the op every data-constrained training run performs
    ("give me the best N-billion tokens", not "the best M docs").
    Quality here is the type-token ratio in exact integer ppm
    (distinct tokens x 1e6 div tokens — a real, cheap quality signal
    that punishes boilerplate/repetition; engine-identical integer
    arithmetic). Selection order is (quality DESC, doc_id ASC); a
    document is kept iff its INCLUSIVE running token total stays
    within TOKEN_BUDGET (greedy whole-doc packing — the doc that
    would cross the line is excluded, as are its successors).
    Zero-token docs carry no trainable content and are excluded
    before ranking. NULL lang is its own real group '(null)'.

    The running total is the `global_prefix_sum` primitive
    (plans/relational.py) — the prefix-sum sibling of the RFM/
    curriculum rank pattern and its FOURTH surface: an un-partitioned
    `SUM(tokens) OVER (ORDER BY quality DESC)` would serialize the
    corpus through ONE reducer at 100 TB; the rank-block form
    computes the identical value with every data window keyed.

    Output: per-lang rollup of the SELECTED set — (lang, n_docs,
    n_tokens, min_quality_ppm, first_seq, last_seq, xor_ids) — which
    pins exact membership (xor), order (seq bounds) and the quality
    cutoff without materializing the selection. Bounded by |langs|.

    Scale shape: one narrow map (tokenize once, two size() folds),
    one range shuffle + keyed windows (the primitive), one
    lang-keyed rollup over the budget-bounded selection. Oracle:
    the same greedy under SUM() OVER (ORDER BY) in DuckDB."""
    from simple_etl_pipeline_spark.plans.relational import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    scored = (
        docs.select(
            "doc_id",
            F.coalesce("lang", F.lit("(null)")).alias("lang"),
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "quality_ppm",
            F.expr("n_distinct * 1000000 div n_tokens").cast("bigint"),
        )
        .withColumn("negq", -F.col("quality_ppm"))
    )
    packed = global_prefix_sum(
        scored,
        ["negq", "doc_id"],
        "n_tokens",
        out_rank="seq",
        out_cum="cum_tokens",
    )
    return (
        packed.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("quality_ppm").alias("min_quality_ppm"),
            F.min("seq").alias("first_seq"),
            F.max("seq").alias("last_seq"),
            F.expr("bit_xor(doc_id)").alias("xor_ids"),
        )
        .orderBy("lang")
    )


TRAIN_TOKEN_BUDGET_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, COALESCE(lang, '(null)') AS lang,
    CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct({sql_tokens('text')})) AS BIGINT) AS n_distinct
  FROM documents
), q AS (
  SELECT *, CAST(n_distinct * 1000000 // n_tokens AS BIGINT) AS quality_ppm
  FROM scored WHERE n_tokens > 0
), ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (ORDER BY quality_ppm DESC, doc_id ASC) AS seq,
    SUM(n_tokens) OVER (ORDER BY quality_ppm DESC, doc_id ASC
      ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM q
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  MIN(quality_ppm) AS min_quality_ppm,
  MIN(seq) AS first_seq,
  MAX(seq) AS last_seq,
  bit_xor(doc_id) AS xor_ids
FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
GROUP BY lang ORDER BY lang
"""


# --- attention-mask sequence packing (round-13 prebuild bank) -----------
# Fixed training context length in tokens. 2048 is the classic GPT-2/3
# block size; the packing arithmetic below is independent of the value.
ATTN_CTX = 2048


def train_attention_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware sequence packing with attention-mask manifests
    (round-13 prebuild bank) — train_token_budget_pack's successor per
    the SCALING.md r11 roadmap: budget selection says WHICH documents
    to train on, this says HOW they pack into fixed-length training
    sequences. The packer is the standard causal-LM concatenation:
    documents in deterministic corpus order (doc_id ASC), token
    streams concatenated end-to-end and cut into ATTN_CTX-token
    sequences; a document may straddle sequence boundaries (no token
    is wasted — padding exists only in the final partial sequence).
    The ATTENTION-MASK manifest is what the trainer actually consumes:
    within a packed sequence, attention must not flow across document
    boundaries, so each sequence's mask is fully described by the
    ordered in-sequence offsets where a new document begins. The
    manifest emits those as exact scalars per sequence: how many
    documents overlap it, how many BEGIN in it (each one an attention
    reset), the XOR of the in-sequence boundary offsets (pins the
    offset set without materializing arrays), doc-id bounds and
    membership XOR, real-token and pad counts, and the fill rate in
    exact ppm. Tokenization is the shared whitespace tokens_col — the
    'tokenizer-aware' seam: swapping tokenizers swaps ONE column
    expression (txt_bpe_tokens is the registered BPE-ish twin), the
    packing arithmetic is tokenizer-agnostic. Zero-token docs carry no
    trainable content and are excluded before packing.

    Exactness: every quantity is integer arithmetic on non-negative
    token offsets — start = cum - n_tokens, first_seq = start div
    ATTN_CTX, last_seq = (cum - 1) div ATTN_CTX; all operands are
    >= 0 by construction, where truncating `div`/`//` IS floor on
    both engines (the r11 token_budget precedent — no helper needed,
    none used). fill_ppm = n_tokens * 1e6 div ATTN_CTX with
    n_tokens <= ATTN_CTX, so the product is bounded at ~2e9: no
    headroom staging required, ever.

    Scale shape: one narrow map (tokenize once, one size() fold);
    the `global_prefix_sum` primitive (plans/relational.py) assigns
    exact token offsets — its FIFTH surface, and the reason this op
    scales: an un-partitioned SUM(tokens) OVER (ORDER BY doc_id)
    would serialize the corpus through one reducer at 100 TB; one
    bounded explode of per-document span rows (total rows = n_docs +
    total_tokens div ATTN_CTX — each extra row is a crossed sequence
    boundary, so the explode is the OUTPUT size, never quadratic);
    one seq-keyed aggregation (map-side combined) builds the
    manifest. Output rows = ceil(total_tokens / ATTN_CTX) — the
    manifest IS the product, like train_shard_manifest's shard rows.
    Oracle: the identical arithmetic under SUM() OVER in DuckDB."""
    from simple_etl_pipeline_spark.plans.relational import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(tokens_col("text")).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    packed = global_prefix_sum(
        scored, ["doc_id"], "n_tokens", out_rank="pos", out_cum="cum"
    )
    spans = (
        packed.select(
            "doc_id",
            "n_tokens",
            (F.col("cum") - F.col("n_tokens")).alias("tok_start"),
            (F.col("cum") - 1).alias("tok_end"),
        )
        .select(
            "doc_id",
            "tok_start",
            "tok_end",
            F.expr(
                f"explode(sequence(tok_start div {ATTN_CTX},"
                f" tok_end div {ATTN_CTX}))"
            ).alias("seq_id"),
        )
        .select(
            "doc_id",
            "seq_id",
            (
                F.greatest(F.col("tok_start"), F.col("seq_id") * ATTN_CTX)
            ).alias("seg_start"),
            (
                F.least(
                    F.col("tok_end"),
                    (F.col("seq_id") + 1) * ATTN_CTX - 1,
                )
            ).alias("seg_end"),
            (F.col("tok_start") >= F.col("seq_id") * ATTN_CTX).alias(
                "is_start"
            ),
            (F.col("tok_start") - F.col("seq_id") * ATTN_CTX).alias(
                "boff"
            ),
        )
    )
    return (
        spans.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("is_start"), F.lit(1))).alias("n_starts"),
            F.coalesce(
                F.expr("bit_xor(case when is_start then boff end)"),
                F.lit(0),
            )
            .cast("bigint")
            .alias("boundary_xor"),
            F.sum(F.col("seg_end") - F.col("seg_start") + 1)
            .cast("bigint")
            .alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.expr("bit_xor(doc_id)").alias("xor_docs"),
        )
        .select(
            "seq_id",
            "n_docs",
            "n_starts",
            "boundary_xor",
            "n_tokens",
            (F.lit(ATTN_CTX) - F.col("n_tokens"))
            .cast("bigint")
            .alias("pad_tokens"),
            F.expr(f"n_tokens * 1000000 div {ATTN_CTX}")
            .cast("bigint")
            .alias("fill_ppm"),
            "first_doc",
            "last_doc",
            "xor_docs",
        )
        .orderBy("seq_id")
    )


TRAIN_ATTENTION_PACK_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
), q AS (
  SELECT * FROM scored WHERE n_tokens > 0
), ranked AS (
  SELECT doc_id, n_tokens,
    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ASC
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM q
), spans AS (
  SELECT doc_id, n_tokens, cum - n_tokens AS tok_start,
    cum - 1 AS tok_end
  FROM ranked
), per AS (
  SELECT doc_id, tok_start, tok_end,
    UNNEST(generate_series(tok_start // {ATTN_CTX},
                           tok_end // {ATTN_CTX})) AS seq_id
  FROM spans
), segs AS (
  SELECT doc_id, seq_id,
    GREATEST(tok_start, seq_id * {ATTN_CTX}) AS seg_start,
    LEAST(tok_end, (seq_id + 1) * {ATTN_CTX} - 1) AS seg_end,
    tok_start >= seq_id * {ATTN_CTX} AS is_start,
    tok_start - seq_id * {ATTN_CTX} AS boff
  FROM per
)
SELECT seq_id, COUNT(*) AS n_docs,
  COUNT(CASE WHEN is_start THEN 1 END) AS n_starts,
  CAST(COALESCE(bit_xor(CASE WHEN is_start THEN boff END), 0)
       AS BIGINT) AS boundary_xor,
  CAST(SUM(seg_end - seg_start + 1) AS BIGINT) AS n_tokens,
  CAST({ATTN_CTX} - SUM(seg_end - seg_start + 1) AS BIGINT)
    AS pad_tokens,
  CAST(SUM(seg_end - seg_start + 1) * 1000000 // {ATTN_CTX} AS BIGINT)
    AS fill_ppm,
  MIN(doc_id) AS first_doc,
  MAX(doc_id) AS last_doc,
  bit_xor(doc_id) AS xor_docs
FROM segs
GROUP BY seq_id ORDER BY seq_id
"""


# --- pad-minimizing whole-document shelf packing (round-14 prebuild bank) --
SHELF_BANDS = [2**k for k in range(0, 12)]  # 1, 2, 4, ..., ATTN_CTX
if SHELF_BANDS[-1] != ATTN_CTX:  # not a bare assert: -O-safe (ADVICE r10)
    raise ValueError("shelf band ladder must top out at ATTN_CTX")


def _shelf_band_sql(col: str) -> str:
    """Smallest power-of-two band >= token count, as a portable CASE
    ladder (12 branches — exact integer comparison on both engines; a
    float log2 would risk the exact-power boundaries). Token counts
    above ATTN_CTX map to band 0: oversize, cannot shelf-pack."""
    branches = " ".join(
        f"WHEN {col} <= {b} THEN {b}" for b in SHELF_BANDS
    )
    return f"CASE WHEN {col} > {ATTN_CTX} THEN 0 {branches} END"


def train_binpack_shelves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-minimizing WHOLE-document shelf packing (round-14 prebuild
    bank) — train_attention_pack's complement per the SCALING.md r12
    roadmap: the straddling packer wastes zero tokens but lets a
    document span sequence boundaries; instruction-tuning and eval
    batches need the opposite guarantee (no document straddles a
    sequence), which makes padding unavoidable — the job is to MINIMIZE
    it. True first-fit-decreasing is inherently sequential; the SHELF
    variant is exactly distributable: each document rounds up to the
    smallest power-of-two band >= its token count, and within a band of
    length B a shelf holds exactly ATTN_CTX div B documents at stride B
    (exact for every band because ATTN_CTX is itself a power of two —
    zero tail waste by construction). Shelf membership is then a
    CLOSED-FORM function of the document's rank within its band:
    shelf_id = (rank - 1) div slots — no iteration, no bin state.
    The pad-vs-FFD gap is bounded: a shelf's internal fragmentation is
    < 50% of its real tokens (each doc wastes < its own length, since
    band < 2 x tokens), and FFD itself cannot beat the lower bound
    ceil(total/CTX), so the manifest's exact pad_tokens column IS the
    audit of what the no-straddle guarantee costs on this corpus.

    Degenerate classes, all surfaced rather than dropped: zero-token /
    NULL-text documents carry no trainable content and are excluded
    (the train_attention_pack rule); documents LONGER than ATTN_CTX
    cannot be whole-packed — they emit as band 0 rows, one manifest
    row per document, with n_seqs = ceil(tokens/CTX) (the sequence
    run the doc would occupy alone) so the router that sends them to
    the straddling packer sees their exact cost. For every row,
    shelf or oversize run alike: pad_tokens = n_seqs * CTX - n_tokens
    and fill_ppm = n_tokens * 1e6 div (n_seqs * CTX), the product
    staged in decimal(38,0) (an oversize doc's token count is
    unbounded; the quotient is <= 1e6 so the BIGINT cast can never
    wrap — the dq_profile_drift decimal-div lesson applied at build
    time).

    Ranking within a band NEVER uses a band-partitioned window (a
    <= 13-key partition would funnel the corpus through 13 reducers):
    `global_row_number` over the total order (band_len, doc_id) — its
    SIXTH surface — gives contiguous global ranks per band after ONE
    range shuffle, and the in-band rank is grank minus the band's
    start offset, a <= 13-row aggregate over the ranked frame,
    broadcast back (ranks are a pure function of the total order, so
    the two readers of the ranked frame agree). Shelf manifest rows
    then come from one (band, shelf)-keyed aggregation with map-side
    combine; output rows = n_shelves ~ docs/slots (the manifest IS the
    product).
    Oracle: identical arithmetic under ROW_NUMBER() OVER
    (PARTITION BY band ORDER BY doc_id) in DuckDB — the per-band rank
    equivalence is exactly what the subtract-offset trick guarantees.
    """
    from simple_etl_pipeline_spark.plans.relational import (
        global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(tokens_col("text")).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    banded = scored.withColumn(
        "band_len", F.expr(_shelf_band_sql("n_tokens")).cast("bigint")
    )
    ranked = global_row_number(banded, ["band_len", "doc_id"], out="grank")
    # per-band start offsets: <= 13 rows, broadcast back
    starts = ranked.groupBy("band_len").agg(
        (F.min("grank") - 1).alias("_start")
    )
    placed = (
        ranked.join(F.broadcast(starts), "band_len")
        .select(
            "doc_id",
            "n_tokens",
            "band_len",
            (F.col("grank") - F.col("_start")).alias("in_rank"),
        )
        .withColumn(
            "shelf_id",
            F.expr(
                "(in_rank - 1) div (CASE WHEN band_len = 0 THEN 1"
                f" ELSE {ATTN_CTX} div band_len END)"
            ),
        )
    )
    g = placed.groupBy("band_len", "shelf_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.expr("bit_xor(doc_id)").alias("xor_docs"),
    )
    return (
        g.withColumn(
            "n_seqs",
            F.expr(
                f"CASE WHEN band_len = 0 THEN"
                f" (n_tokens + {ATTN_CTX - 1}) div {ATTN_CTX}"
                " ELSE 1 END"
            ).cast("bigint"),
        )
        .withColumn(
            "pad_tokens",
            (F.col("n_seqs") * ATTN_CTX - F.col("n_tokens")).cast(
                "bigint"
            ),
        )
        .withColumn(
            "fill_ppm",
            F.expr(
                "cast(n_tokens as decimal(38,0)) * 1000000"
                f" div (n_seqs * {ATTN_CTX})"
            ).cast("bigint"),
        )
        .select(
            "band_len",
            "shelf_id",
            "n_seqs",
            "n_docs",
            "n_tokens",
            "pad_tokens",
            "fill_ppm",
            "first_doc",
            "last_doc",
            "xor_docs",
        )
        .orderBy("band_len", "shelf_id")
    )


TRAIN_BINPACK_SHELVES_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
), q AS (
  SELECT * FROM scored WHERE n_tokens > 0
), banded AS (
  SELECT doc_id, n_tokens,
    CAST({_shelf_band_sql('n_tokens')} AS BIGINT) AS band_len
  FROM q
), ranked AS (
  SELECT doc_id, n_tokens, band_len,
    ROW_NUMBER() OVER (PARTITION BY band_len ORDER BY doc_id)
      AS in_rank
  FROM banded
), placed AS (
  SELECT doc_id, n_tokens, band_len,
    (in_rank - 1) // (CASE WHEN band_len = 0 THEN 1
                      ELSE {ATTN_CTX} // band_len END) AS shelf_id
  FROM ranked
), g AS (
  SELECT band_len, shelf_id, COUNT(*) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
    MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
    bit_xor(doc_id) AS xor_docs
  FROM placed GROUP BY band_len, shelf_id
), m AS (
  SELECT *,
    CAST(CASE WHEN band_len = 0
         THEN (n_tokens + {ATTN_CTX - 1}) // {ATTN_CTX}
         ELSE 1 END AS BIGINT) AS n_seqs
  FROM g
)
SELECT band_len, shelf_id, n_seqs, n_docs, n_tokens,
  CAST(n_seqs * {ATTN_CTX} - n_tokens AS BIGINT) AS pad_tokens,
  CAST(CAST(n_tokens AS HUGEINT) * 1000000
       // (n_seqs * {ATTN_CTX}) AS BIGINT) AS fill_ppm,
  first_doc, last_doc, xor_docs
FROM m ORDER BY band_len, shelf_id
"""


# --- leakage-safe domain split assignment (ONE shared definition) ----------
# The salted-md5 source-level split expression, defined once on each
# engine and consumed by BOTH txt_domain_split (the production split
# manifest) and train_eval_decontam_report (the audit that certifies
# it): if the salt or thresholds are ever retuned, the audit moves with
# the split by construction and can never silently certify a different
# assignment than the one production uses (ADVICE r12 — the audit
# previously re-implemented the expression inline).
SPLIT_SALT = "split|"
SPLIT_TRAIN_PPM = 800_000
SPLIT_VAL_PPM = 900_000


def domain_split_cols() -> tuple[Column, Column]:
    """(split, grp) Spark Column pair of the domain split assignment:
    grp = COALESCE(source, '(null)') — NULL mapped BEFORE hashing so it
    draws one stable split — and split = salted 60-bit md5 of grp in
    ppm space (< SPLIT_TRAIN_PPM train, < SPLIT_VAL_PPM val, else
    test; 80/10/10 in expectation)."""
    src = F.coalesce(F.col("source"), F.lit("(null)"))
    h = md5_hash60(F.concat(F.lit(SPLIT_SALT), src)) % 1_000_000
    split = (
        F.when(h < SPLIT_TRAIN_PPM, F.lit("train"))
        .when(h < SPLIT_VAL_PPM, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return split, src


def sql_domain_split_case() -> str:
    """DuckDB twin of ``domain_split_cols()[0]`` — the same salt and
    ppm thresholds interpolated from the shared constants."""
    h = sql_md5_hash60(
        f"concat('{SPLIT_SALT}', COALESCE(source, '(null)'))"
    )
    return (
        f"CASE WHEN {h} % 1000000 < {SPLIT_TRAIN_PPM} THEN 'train'"
        f" WHEN {h} % 1000000 < {SPLIT_VAL_PPM} THEN 'val'"
        " ELSE 'test' END"
    )


def txt_domain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split manifest: the split unit is
    the SOURCE (domain), not the document — every document of a
    source lands in the same split by construction, so near-duplicate
    and template-shared text within a domain can never straddle the
    train/eval boundary (the leakage every dedup-aware pipeline
    guards against; splitting i.i.d. by document would leak). The
    assignment is a salted 60-bit md5 of the source mapped into ppm
    space: < 800000 train, < 900000 val, else test (80/10/10 in
    expectation) — deterministic, engine-identical, and stable under
    ANY growth of the corpus (a new document of a known source joins
    its existing split; only genuinely new sources draw new
    assignments). NULL source is its own real group '(null)', mapped
    BEFORE hashing so it draws one stable split.

    Output: per-split group/document/token counts plus the exact
    integer-ppm document share. The no-straddle invariant (each
    source appears in exactly one split) is pinned by
    tests/test_new_ops_invariants.py::test_domain_split_no_leakage.

    Scale shape: one narrow map (hash + token count — no shuffle),
    one split-keyed aggregation whose map-side partials collapse to
    <= 3 x sources rows (the distinct-source count shuffles source
    keys, bounded by |domains|, not documents), and a window over the
    <= 3-row result for the ppm share. At 100 TB nothing after the
    scan exceeds the domain universe."""
    docs = load_table(spark, sf_dir, "documents", parallelize=False)
    split, src = domain_split_cols()
    tagged = docs.select(
        split.alias("split"),
        src.alias("grp"),
        F.size(tokens_col("text")).cast("bigint").alias("n_toks"),
    )
    agg = tagged.groupBy("split").agg(
        F.countDistinct("grp").alias("n_groups"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )
    return (
        agg.withColumn(
            "docs_ppm",
            F.expr(
                "CAST(n_docs AS BIGINT) * 1000000"
                " div CAST(SUM(n_docs) OVER () AS BIGINT)"
            ),
        )
        .orderBy("split")
    )


TXT_DOMAIN_SPLIT_ORACLE = f"""
WITH tagged AS (
  SELECT {sql_domain_split_case()} AS split,
    COALESCE(source, '(null)') AS grp,
    CAST(len({sql_tokens('text')}) AS BIGINT) AS n_toks
  FROM documents
), agg AS (
  SELECT split, COUNT(DISTINCT grp) AS n_groups, COUNT(*) AS n_docs,
    CAST(SUM(n_toks) AS BIGINT) AS n_tokens
  FROM tagged GROUP BY split
)
SELECT split, n_groups, n_docs, n_tokens,
  CAST(n_docs AS BIGINT) * 1000000
    // CAST(SUM(n_docs) OVER () AS BIGINT) AS docs_ppm
FROM agg ORDER BY split
"""


# --- cross-split contamination matrix (round-16 prebuild bank) -------------
_SPLIT_PAIRS = [("train", "val"), ("train", "test"), ("val", "test")]


def train_eval_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination matrix (round-16 prebuild bank) — the
    audit row that certifies a split manifest before training: for
    each ordered split pair (A leaks INTO B: train→val, train→test,
    val→test — the pipeline direction), exact counts of 3-gram
    shingles the two splits share and of B-side documents carrying at
    least one A-side shingle, plus exact-ppm rates. Pure composition
    of verified primitives: the split is txt_domain_split's salted
    md5 assignment (source-level, leakage-safe — this op is the
    *verification* that the no-straddle split actually decontaminated
    the eval sets down at the SHINGLE level, which domain grouping
    makes likely but cross-domain template text can still violate);
    the unit is the shared shingles_col 3-gram, keyed by its 60-bit
    md5 (8-byte join keys, the dedup-family convention — never gram
    strings through a shuffle).

    Output is ALWAYS exactly three rows (the literal pair frame left-
    joins the measured stats, so an empty split reads zeros instead
    of vanishing): split_a, split_b, per-split distinct-shingle
    vocabularies, n_shared, shared_ppm (share of B's vocabulary seen
    in A — the eval-contamination direction), n_docs_b,
    n_docs_contaminated, contam_ppm. NULL-text and sub-3-token docs
    produce no shingles and cannot be contaminated but still count in
    n_docs_b; ppm products are decimal-staged (quotient <= 1e6 by
    construction).

    Scale shape: one shingle explode (token-proportional, the
    contamination family's volume) collapsing to DISTINCT (split,
    doc, key) and (split, key) tables map-side; shingle-keyed
    equi-joins for overlap (8-byte keys, Zipf heads collapsed by the
    distinct); everything after the joins is <= 3 cells. No window,
    no cross join; the 3-row pair frame is a literal broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    split, _ = domain_split_cols()
    tagged = docs.select(split.alias("split"), "doc_id", "text")
    d_sh = (
        tagged.select(
            "split",
            "doc_id",
            F.explode(shingles_col("text")).alias("sh"),
        )
        .select("split", "doc_id", md5_hash60("sh").alias("shkey"))
        .distinct()
    )
    s_sh = d_sh.select("split", "shkey").distinct()
    vocab = s_sh.groupBy("split").agg(F.count(F.lit(1)).alias("n_sh"))
    ndocs = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    pairs = spark.createDataFrame(
        _SPLIT_PAIRS, "split_a string, split_b string"
    )
    shared = (
        s_sh.alias("a")
        .join(
            s_sh.alias("b"),
            (F.col("a.shkey") == F.col("b.shkey"))
            & (F.col("a.split") != F.col("b.split")),
        )
        .groupBy(
            F.col("a.split").alias("split_a"),
            F.col("b.split").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    contam = (
        d_sh.alias("d")
        .join(
            s_sh.alias("s"),
            (F.col("d.shkey") == F.col("s.shkey"))
            & (F.col("d.split") != F.col("s.split")),
        )
        .groupBy(
            F.col("s.split").alias("split_a"),
            F.col("d.split").alias("split_b"),
        )
        .agg(F.countDistinct("d.doc_id").alias("n_docs_contaminated"))
    )
    return (
        pairs.join(F.broadcast(shared), ["split_a", "split_b"], "left")
        .join(F.broadcast(contam), ["split_a", "split_b"], "left")
        .join(
            F.broadcast(
                vocab.select(
                    F.col("split").alias("split_a"),
                    F.col("n_sh").alias("n_shingles_a"),
                )
            ),
            "split_a",
            "left",
        )
        .join(
            F.broadcast(
                vocab.select(
                    F.col("split").alias("split_b"),
                    F.col("n_sh").alias("n_shingles_b"),
                )
            ),
            "split_b",
            "left",
        )
        .join(
            F.broadcast(
                ndocs.select(
                    F.col("split").alias("split_b"),
                    F.col("n_docs").alias("n_docs_b"),
                )
            ),
            "split_b",
            "left",
        )
        .select(
            "split_a",
            "split_b",
            F.coalesce("n_shingles_a", F.lit(0))
            .cast("bigint")
            .alias("n_shingles_a"),
            F.coalesce("n_shingles_b", F.lit(0))
            .cast("bigint")
            .alias("n_shingles_b"),
            F.coalesce("n_shared", F.lit(0))
            .cast("bigint")
            .alias("n_shared"),
            F.expr(
                "CAST(CAST(coalesce(n_shared, 0) AS decimal(38,0))"
                " * 1000000 div greatest(coalesce(n_shingles_b, 0), 1)"
                " AS BIGINT)"
            ).alias("shared_ppm"),
            F.coalesce("n_docs_b", F.lit(0))
            .cast("bigint")
            .alias("n_docs_b"),
            F.coalesce("n_docs_contaminated", F.lit(0))
            .cast("bigint")
            .alias("n_docs_contaminated"),
            F.expr(
                "CAST(CAST(coalesce(n_docs_contaminated, 0)"
                " AS decimal(38,0)) * 1000000"
                " div greatest(coalesce(n_docs_b, 0), 1) AS BIGINT)"
            ).alias("contam_ppm"),
        )
        .orderBy("split_a", "split_b")
    )


def _decontam_oracle() -> str:
    return f"""
WITH tagged AS (
  SELECT {sql_domain_split_case()} AS split, doc_id, text FROM documents
), d_sh AS (
  SELECT DISTINCT split, doc_id, {sql_md5_hash60('sh')} AS shkey
  FROM (SELECT split, doc_id,
          unnest({sql_shingles(sql_tokens('text'))}) AS sh
        FROM tagged)
), s_sh AS (
  SELECT DISTINCT split, shkey FROM d_sh
), vocab AS (
  SELECT split, COUNT(*) AS n_sh FROM s_sh GROUP BY split
), ndocs AS (
  SELECT split, COUNT(*) AS n_docs FROM tagged GROUP BY split
), pairs(split_a, split_b) AS (
  VALUES ('train', 'val'), ('train', 'test'), ('val', 'test')
), shared AS (
  SELECT a.split AS split_a, b.split AS split_b, COUNT(*) AS n_shared
  FROM s_sh a JOIN s_sh b
    ON a.shkey = b.shkey AND a.split <> b.split
  GROUP BY 1, 2
), contam AS (
  SELECT s.split AS split_a, d.split AS split_b,
    COUNT(DISTINCT d.doc_id) AS n_docs_contaminated
  FROM d_sh d JOIN s_sh s
    ON d.shkey = s.shkey AND d.split <> s.split
  GROUP BY 1, 2
)
SELECT p.split_a, p.split_b,
  CAST(COALESCE(va.n_sh, 0) AS BIGINT) AS n_shingles_a,
  CAST(COALESCE(vb.n_sh, 0) AS BIGINT) AS n_shingles_b,
  CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
  CAST(CAST(COALESCE(sh.n_shared, 0) AS HUGEINT) * 1000000
       // GREATEST(COALESCE(vb.n_sh, 0), 1) AS BIGINT) AS shared_ppm,
  CAST(COALESCE(nb.n_docs, 0) AS BIGINT) AS n_docs_b,
  CAST(COALESCE(c.n_docs_contaminated, 0) AS BIGINT)
    AS n_docs_contaminated,
  CAST(CAST(COALESCE(c.n_docs_contaminated, 0) AS HUGEINT) * 1000000
       // GREATEST(COALESCE(nb.n_docs, 0), 1) AS BIGINT)
    AS contam_ppm
FROM pairs p
LEFT JOIN shared sh USING (split_a, split_b)
LEFT JOIN contam c USING (split_a, split_b)
LEFT JOIN vocab va ON va.split = p.split_a
LEFT JOIN vocab vb ON vb.split = p.split_b
LEFT JOIN ndocs nb ON nb.split = p.split_b
ORDER BY split_a, split_b
"""


TRAIN_EVAL_DECONTAM_ORACLE = _decontam_oracle()


# --- bigram-LM cross-entropy quality filter (CCNet-style) -----------------
# CCNet (Wenzek et al. 2020) ranks web documents by the perplexity of a
# language model trained on a trusted corpus and keeps the low-perplexity
# head. Here the LM is an add-one-smoothed bigram model trained on the
# corpus itself (self-scoring, the same shape as the DSIR/KL operators);
# the score is cross-entropy in integer micro-bits per bigram
# (perplexity = 2^(xent/1e6)).
# keep docs under ~30-perplexity (2^4.9): the CCNet "head" cut analog —
# splits the synthetic corpus ~70/30 rather than degenerately keeping all
LM_XENT_KEEP_MICROBITS = 4_900_000


def txt_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM cross-entropy (CCNet-style quality
    score): train add-one-smoothed bigram counts over the whole
    corpus, then score every document (>= 2 tokens) by the mean
    negative log2 probability of its bigrams:

        p(w2 | w1) = (c12 + 1) / (c1 + V)
        xent_microbits = floor( sum_bg c * (mlog2(c1 + V)
                                          - mlog2(c12 + 1)) / n_bigrams )

    where c12/c1 are corpus bigram/context counts, V = |distinct
    successor tokens| (the model's outcome space), and mlog2 is the
    repo's micro-log snap (round(log2(x) * 1e6) -> bigint) — the same
    engine-exactness discipline as txt_char_entropy/txt_kl_drift: the
    ONE transcendental is snapped to an integer before any
    accumulation, so summation order can never matter, and the final
    mean is an exact integer floor-div.

    Scale shape: ONE corpus pass explodes the bigram stream (linear in
    corpus tokens, same family as the token explodes); everything else
    derives from its (doc, w1, w2) -> c collapse — corpus bigram counts
    are a re-aggregation of that table (map-side partials collapse to
    the bigram-type universe), context counts and V re-aggregate the
    bigram-type table in turn (Spark's ReuseExchange dedups the
    identical subtrees, pinned by the plan-shape row). The scoring
    join is keyed by (w1, w2) / (w1) — hash-partitioned, AQE-skew
    eligible — and V is a 1-row broadcast (the adjudicated scalar
    class). Nothing is ever doc x doc or vocab x vocab."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens_col("text").alias("toks")
    ).filter(F.size("toks") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    per_doc = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    bg_counts = per_doc.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    ctx_counts = bg_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = bg_counts.select("w2").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    mlog2 = lambda c: F.round(F.log2(c) * 1e6, 0).cast("bigint")  # noqa: E731
    term = mlog2(F.col("c1") + F.col("v")) - mlog2(F.col("c12") + 1)
    return (
        per_doc.join(bg_counts, ["w1", "w2"])
        .join(ctx_counts, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("c") * term).cast("bigint").alias("sw"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("sw div n_bigrams").alias("xent_microbits"),
        )
        .withColumn(
            "keep", F.col("xent_microbits") <= LM_XENT_KEEP_MICROBITS
        )
        .orderBy("doc_id")
    )


TXT_LM_PERPLEXITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
), big AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
), per_doc AS (
  SELECT doc_id, w1, w2, COUNT(*) AS c FROM big GROUP BY doc_id, w1, w2
), bg_counts AS (
  SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS c12 FROM per_doc GROUP BY w1, w2
), ctx_counts AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg_counts GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT w2) AS v FROM bg_counts
), rolled AS (
  SELECT d.doc_id,
    CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
    CAST(SUM(d.c * (
      CAST(round(log2(cc.c1 + vv.v) * 1000000, 0) AS BIGINT)
      - CAST(round(log2(bc.c12 + 1) * 1000000, 0) AS BIGINT)
    )) AS BIGINT) AS sw
  FROM per_doc d
  JOIN bg_counts bc ON d.w1 = bc.w1 AND d.w2 = bc.w2
  JOIN ctx_counts cc ON d.w1 = cc.w1, vocab vv
  GROUP BY d.doc_id
)
SELECT doc_id, n_bigrams, sw // n_bigrams AS xent_microbits,
  sw // n_bigrams <= {LM_XENT_KEEP_MICROBITS} AS keep
FROM rolled ORDER BY doc_id
"""


# --- cross-document boilerplate line removal (round-12 prebuild bank) ---
# A line is boilerplate when it appears in at least this many DISTINCT
# documents (the C4/RefinedWeb device: navigation chrome, cookie
# banners, footers and licence blurbs repeat across pages; prose does
# not). 3 is the C4 paper's own cross-document threshold.
BOILER_MIN_DOCS = 3
# Injected page chrome (the corpus_with_dups device: the synthetic
# corpus is single-line and repeat-free, so deterministic banner/footer
# lines keep the operator non-trivial at every SF; the padding
# exercises the trim). Every doc_id % 5 == 0 page gets the cookie
# banner above its body, every doc_id % 7 == 0 page the footer below.
BOILER_BANNER = "   Accept cookies to continue   "
BOILER_FOOTER = " (c) Example Corp - all rights reserved "


def boiler_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus with injected page chrome (see constants);
    NULL-text docs stay NULL (concat with NULL is NULL in both
    engines, by design — they still count as documents)."""
    docs = load_table(spark, sf_dir, "documents")
    with_banner = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit(BOILER_BANNER + "\n"), F.col("text")),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(with_banner, F.lit("\n" + BOILER_FOOTER)),
        )
        .otherwise(with_banner)
        .alias("text"),
    )


BOILER_CORPUS_SQL = f"""
SELECT doc_id, source,
  CASE WHEN doc_id % 7 = 0 THEN wb || chr(10) || '{BOILER_FOOTER}'
       ELSE wb END AS text
FROM (
  SELECT doc_id, source,
    CASE WHEN doc_id % 5 = 0 THEN '{BOILER_BANNER}' || chr(10) || text
         ELSE text END AS wb
  FROM documents
)
"""


def txt_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-line (boilerplate) removal manifest —
    the C4-style corpus-cleaning stage that no per-document filter can
    express: a LINE is boilerplate iff it occurs in >= BOILER_MIN_DOCS
    distinct documents, and every occurrence (in every document) is
    then removed. Lines are newline-split, trimmed of spaces/tabs/CRs,
    and keyed by their 60-bit md5; empty lines are not lines. The
    output is the per-source removal manifest a pipeline operator
    reads before committing the cleanup: total docs, line and char
    volumes, how many distinct boilerplate lines the source carries,
    their occurrence count, the chars they remove, and the removal
    rate in exact integer ppm. NULL source is its own real group
    '(null)'; docs with NULL text still count toward n_docs (they have
    zero lines). Input is the `boiler_corpus` view (injected
    banner/footer chrome — the corpus_with_dups device), so the
    removal manifest is non-trivial at every SF.

    Scale shape — the standard two-aggregation form, NOT a window:
    (1) one narrow map explodes lines (no shuffle); (2) one keyed
    aggregation to (line_key, doc_id) collapses within-doc repeats
    map-side; (3) the document-frequency frame aggregates per
    line_key — crucially an AGG, never COUNT() OVER (PARTITION BY
    line_key): boilerplate lines are BY DEFINITION the heavy keys (a
    footer in every page = |docs| rows under one window key), so the
    window form would funnel exactly the interesting keys through
    single reducers, while the agg's map-side partials collapse them;
    (4) one line_key-equi-join back (both sides shuffle-keyed alike,
    linear, AQE skew-join handles a pathological key); (5) a
    source-bounded rollup. Nothing downstream exceeds |sources|."""
    docs = boiler_corpus(spark, sf_dir)
    src = F.coalesce(F.col("source"), F.lit("(null)"))
    lines = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            src.alias("src"),
            F.explode(F.split(F.col("text"), "\n")).alias("ln"),
        )
        .select(
            "doc_id",
            "src",
            F.expr("trim(BOTH ' \\t\\r' FROM ln)").alias("lt"),
        )
        .filter(F.col("lt") != "")
    )
    per_doc = (
        lines.select(
            md5_hash60(F.col("lt")).alias("line_key"),
            "doc_id",
            "src",
            F.length("lt").cast("bigint").alias("lchars"),
        )
        .groupBy("line_key", "doc_id", "src")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.sum("lchars").alias("chars"),
        )
    )
    doc_freq = per_doc.groupBy("line_key").agg(
        F.count(F.lit(1)).alias("df")
    )
    j = per_doc.join(doc_freq, "line_key")
    boiler = F.col("df") >= BOILER_MIN_DOCS
    per_src = j.groupBy("src").agg(
        F.sum("occ").cast("bigint").alias("n_lines"),
        F.sum("chars").cast("bigint").alias("n_line_chars"),
        F.countDistinct(F.when(boiler, F.col("line_key")))
        .alias("boiler_lines"),
        F.coalesce(F.sum(F.when(boiler, F.col("occ"))), F.lit(0))
        .cast("bigint")
        .alias("boiler_occurrences"),
        F.coalesce(F.sum(F.when(boiler, F.col("chars"))), F.lit(0))
        .cast("bigint")
        .alias("removed_chars"),
    )
    src_docs = docs.groupBy(src.alias("src")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        src_docs.join(per_src, "src", "left")
        .select(
            F.col("src").alias("source"),
            "n_docs",
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce("n_line_chars", F.lit(0))
            .cast("bigint")
            .alias("n_line_chars"),
            F.coalesce("boiler_lines", F.lit(0))
            .cast("bigint")
            .alias("boiler_lines"),
            F.coalesce("boiler_occurrences", F.lit(0))
            .cast("bigint")
            .alias("boiler_occurrences"),
            F.coalesce("removed_chars", F.lit(0))
            .cast("bigint")
            .alias("removed_chars"),
        )
        .withColumn(
            "boiler_ppm",
            # decimal(38,0) staging for the ppm product (r12
            # registration-gate self-review): removed_chars * 1e6
            # overflows BIGINT once one source carries > 9.2e12
            # boilerplate chars — ~9 TB of removed text in a single
            # source, INSIDE the 100 TB envelope (the r9
            # drift_ppm-overflow hazard class). Numerator and divisor
            # are non-negative/positive, so div is floor on both
            # engines; the quotient is a true ppm <= 1e6 and the final
            # BIGINT cast can never overflow.
            F.expr(
                "cast(cast(removed_chars as decimal(38,0)) * 1000000"
                " div greatest(n_line_chars, 1) as bigint)"
            ),
        )
        .orderBy("source")
    )


TXT_BOILERPLATE_ORACLE = f"""
WITH corpus AS ({BOILER_CORPUS_SQL}
), rawlines AS (
  SELECT doc_id, COALESCE(source, '(null)') AS src,
    trim(ln, ' ' || chr(9) || chr(13)) AS lt
  FROM (
    SELECT doc_id, source,
      UNNEST(string_split(text, chr(10))) AS ln
    FROM corpus WHERE text IS NOT NULL
  )
), lines AS (
  SELECT * FROM rawlines WHERE lt <> ''
), per_doc AS (
  SELECT {sql_md5_hash60('lt')} AS line_key, doc_id, src,
    COUNT(*) AS occ, CAST(SUM(length(lt)) AS BIGINT) AS chars
  FROM lines GROUP BY 1, 2, 3
), doc_freq AS (
  SELECT line_key, COUNT(*) AS df FROM per_doc GROUP BY 1
), j AS (
  SELECT per_doc.*, doc_freq.df
  FROM per_doc JOIN doc_freq USING (line_key)
), per_src AS (
  SELECT src,
    CAST(SUM(occ) AS BIGINT) AS n_lines,
    CAST(SUM(chars) AS BIGINT) AS n_line_chars,
    COUNT(DISTINCT CASE WHEN df >= {BOILER_MIN_DOCS}
                        THEN line_key END) AS boiler_lines,
    CAST(COALESCE(SUM(CASE WHEN df >= {BOILER_MIN_DOCS} THEN occ END),
                  0) AS BIGINT) AS boiler_occurrences,
    CAST(COALESCE(SUM(CASE WHEN df >= {BOILER_MIN_DOCS} THEN chars END),
                  0) AS BIGINT) AS removed_chars
  FROM j GROUP BY 1
), src_docs AS (
  SELECT COALESCE(source, '(null)') AS src, COUNT(*) AS n_docs
  FROM documents GROUP BY 1
)
SELECT d.src AS source, d.n_docs,
  CAST(COALESCE(l.n_lines, 0) AS BIGINT) AS n_lines,
  CAST(COALESCE(l.n_line_chars, 0) AS BIGINT) AS n_line_chars,
  CAST(COALESCE(l.boiler_lines, 0) AS BIGINT) AS boiler_lines,
  CAST(COALESCE(l.boiler_occurrences, 0) AS BIGINT) AS boiler_occurrences,
  CAST(COALESCE(l.removed_chars, 0) AS BIGINT) AS removed_chars,
  CAST(CAST(COALESCE(l.removed_chars, 0) AS HUGEINT) * 1000000
       // GREATEST(COALESCE(l.n_line_chars, 0), 1) AS BIGINT) AS boiler_ppm
FROM src_docs d LEFT JOIN per_src l ON d.src = l.src
ORDER BY source
"""


# dedup_minhash_ml is pytest-only (tests/test_retrieval.py): its
# Spark-internal MinHashLSH seeds can never hash-match a DuckDB oracle,
# so it would be a permanently oracle-dark registry entry. The
# hash-checked dedup_minhash_lsh twin covers the semantics in the
# driver gate; the library comparison lives in the test suite.
TAIL_QUERIES = {
    "txt_dataset_card": txt_dataset_card,
    "txt_repetition_filter": txt_repetition_filter,
    "txt_chunk_windows": txt_chunk_windows,
    "txt_pii_redact": txt_pii_redact,
    "txt_contamination": txt_contamination,
    "txt_sample_stratified": txt_sample_stratified,
    "txt_pack_sequences": txt_pack_sequences,
    "dedup_incremental": dedup_incremental,
    "dedup_survivors_quality": dedup_survivors_quality,
    # txt_mixture_weights was DEMOTED to pytest-only parity in round 6
    # (tests/test_oracle_parity.py DEMOTED map): txt_mixture_manifest
    # (driver-green r5) computes the identical per-stratum
    # (n_docs, sum_tokens) aggregate as its first stage, so the weights
    # query's only unpinned content was two ratios of those columns.
    "txt_gopher_quality": txt_gopher_quality,
    "dedup_paragraphs": dedup_paragraphs,
    "txt_pagerank": txt_pagerank,
    "dedup_components_lsh": dedup_components_lsh,
    "txt_rare_token_ratio": txt_rare_token_ratio,
    # txt_bloom_contamination DEMOTED round 13 (capacity rule, one per
    # r13 registration — matching train_attention_pack below): its
    # 4096-bit bit_or Bloom construction stays pinned by the registered
    # skip_bloom_stats (the same shared word fold) and its
    # contamination-decision head by the registered txt_contamination,
    # the exact-shingle oracle of record; full pytest parity continues
    # via testing.demoted_queries().
    "txt_triangle_count": txt_triangle_count,
    "dedup_ngram_spans": dedup_ngram_spans,
    "txt_dsir_weights": txt_dsir_weights,
    "bm25_topk": bm25_topk,
    "inverted_index": inverted_index,
    "weighted_sample": weighted_sample,
    "txt_mixture_manifest": txt_mixture_manifest,
    "txt_gopher_repetition": txt_gopher_repetition,
    # txt_char_entropy DEMOTED round 9 (capacity rule, one per r9
    # registration — matching train_curriculum_order): it is a
    # component of the registered txt_doc_features feature set, whose
    # driver hash pins the shared char-distribution explode; full
    # pytest parity continues via testing.demoted_queries(), and its
    # bench row survives (bench resolves demoted queries).
    "txt_kl_drift": txt_kl_drift,
    "train_shard_manifest": train_shard_manifest,
    # round-8 registration (prebuilt + pytest-oracle-green in round 7;
    # matching demotion: dedup_simhash_pairs, see QUERIES above)
    "txt_domain_split": txt_domain_split,
    # round-9 registrations (prebuilt r8; matching demotions:
    # txt_char_entropy above and ev_tumbling_hourly at
    # plans/events.py — search_hybrid_rrf reuses the registered
    # bm25_topk's _bm25_per_doc pipeline UNCHANGED, so the bm25_topk
    # fp-bit-identical evidence from r8 still stands; the shared-code
    # canary rule fires only if the fusion work edits that pipeline)
    "train_curriculum_order": train_curriculum_order,
    "search_hybrid_rrf": search_hybrid_rrf,
    # round-10 registration (prebuilt + pytest-oracle-green since r8;
    # matching demotion: window_running_total et al. at
    # plans/relational.py QUERIES — capacity rule, net registry
    # growth zero)
    "txt_lm_perplexity": txt_lm_perplexity,
    # round-11 registration (r11 bank, prebuilt + pytest-oracle-green
    # since r9, sf0.1 hash-swept on final r10 code; matching demotion:
    # txt_ngram_freq at QUERIES above — capacity rule, net registry
    # growth zero). global_prefix_sum's first driver surface.
    "train_token_budget_pack": train_token_budget_pack,
    # round-12 registration (r12 bank, prebuilt + pytest-oracle-green
    # since the r9 continuation session, sf0.1 hash-swept on final r11
    # code; matching demotion: ev_session_windows at plans/events.py
    # QUERIES — capacity rule, net registry growth zero). C4-style
    # cross-document boilerplate-line removal: line-hash agg +
    # join-back, never a window on heavy line keys.
    "txt_boilerplate_lines": txt_boilerplate_lines,
    # round-13 registration (r13 bank, built round 12 with its full
    # evidence kit — pytest-oracle at 3 SFs, boundary-exact/straddler
    # edge corpus, barrier plan-shape row, probe 0.16/0.29@256 under
    # the fixed instrument; matching demotion:
    # txt_bloom_contamination above — capacity rule, net registry
    # growth zero). Attention-mask sequence packing:
    # global_prefix_sum's fifth driver surface.
    "train_attention_pack": train_attention_pack,
    # round-14 registration (r14 bank, built in the round-12
    # continuation session with its full evidence kit — pytest-oracle
    # at 3 SFs, boundary/degenerate edge corpus, barrier plan-shape
    # row forbidding any band-partitioned window, sf0.1 judge-swept
    # every round since; matching demotion: txt_fingerprint at
    # QUERIES above — capacity rule, net registry growth zero).
    # Pad-minimizing whole-document shelf packing:
    # global_row_number's sixth driver surface, ranked over the
    # (band_len, doc_id) total order with the <= 13-row band-offsets
    # frame coming back on broadcast joins.
    "train_binpack_shelves": train_binpack_shelves,
}

TAIL_ORACLES = {
    "txt_dataset_card": TXT_DATASET_CARD_ORACLE,
    "txt_repetition_filter": TXT_REPETITION_ORACLE,
    "txt_chunk_windows": TXT_CHUNK_ORACLE,
    "txt_pii_redact": TXT_PII_REDACT_ORACLE,
    "txt_contamination": TXT_CONTAMINATION_ORACLE,
    "txt_sample_stratified": TXT_SAMPLE_STRATIFIED_ORACLE,
    "txt_pack_sequences": TXT_PACK_SEQUENCES_ORACLE,
    "dedup_incremental": DEDUP_INCREMENTAL_ORACLE,
    "dedup_survivors_quality": DEDUP_SURVIVORS_ORACLE,
    "txt_gopher_quality": TXT_GOPHER_ORACLE,
    "dedup_paragraphs": DEDUP_PARAGRAPHS_ORACLE,
    "txt_pagerank": TXT_PAGERANK_ORACLE,
    "dedup_components_lsh": DEDUP_COMPONENTS_LSH_ORACLE,
    "txt_rare_token_ratio": TXT_RARE_TOKEN_ORACLE,
    "txt_triangle_count": TXT_TRIANGLES_ORACLE,
    "dedup_ngram_spans": DEDUP_NGRAM_SPANS_ORACLE,
    "txt_dsir_weights": TXT_DSIR_ORACLE,
    "bm25_topk": BM25_ORACLE,
    "inverted_index": INVIDX_ORACLE,
    "weighted_sample": WSAMPLE_ORACLE,
    "txt_mixture_manifest": TXT_MIXTURE_MANIFEST_ORACLE,
    "txt_gopher_repetition": TXT_GOPHER_REPETITION_ORACLE,
    "txt_kl_drift": TXT_KL_DRIFT_ORACLE,
    "train_shard_manifest": TRAIN_SHARD_ORACLE,
    "txt_domain_split": TXT_DOMAIN_SPLIT_ORACLE,
    "train_curriculum_order": TRAIN_CURRICULUM_ORACLE,
    "search_hybrid_rrf": SEARCH_HYBRID_RRF_ORACLE,
    "txt_lm_perplexity": TXT_LM_PERPLEXITY_ORACLE,
    "train_token_budget_pack": TRAIN_TOKEN_BUDGET_ORACLE,
    "txt_boilerplate_lines": TXT_BOILERPLATE_ORACLE,
    "train_attention_pack": TRAIN_ATTENTION_PACK_ORACLE,
    "train_binpack_shelves": TRAIN_BINPACK_SHELVES_ORACLE,
}
