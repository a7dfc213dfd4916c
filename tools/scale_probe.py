"""Scaling probe: run the dedup/sketch operators on K×-multiplied
corpora and measure how wall time grows with input size.

The multiplier crossJoins `documents` with range(K) and rewrites every
token with a per-copy suffix, so copies are NOT near-duplicates of each
other — the duplicate rate stays constant as the corpus grows, like a
real corpus at 100× (naive row duplication would instead create K-sized
near-dup families and quadratic candidate blowup, which no real corpus
has). doc_ids shift by 10M per copy so corpus_with_dups' +1M/+2M
injected-duplicate bands stay disjoint per copy.

Prints one JSON line per (K, query) and a scaling-exponent summary:
exponent = log(t_Kmax / t_1) / log(Kmax); ~1.0 is linear. Results are
recorded in SCALING.md ("Measured scaling probe").

Usage: python tools/scale_probe.py [K ...]   (default 1 16 64)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.functions.text import tokens_col
from simple_etl_pipeline_spark.schemas import load_table
from simple_etl_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _force(df) -> int:
    """Timing action that cannot be optimized into measuring nothing.

    A bare count() is PRUNABLE: Catalyst eliminates row-preserving
    left joins (unique-keyed build side) and every unreferenced
    column under count — sim_knn_graph's probe numbers measured a
    plan whose ENTIRE edge stage had been optimized away, and
    train_eval_decontam_report's measured three literal rows
    (r12-continuation finding; both re-earned under this action).
    Hashing every output column of every row forces full
    materialization of exactly what a consumer of the query would
    read; returns the row count like count() did."""
    row = (
        df.select(
            F.xxhash64(*[F.col(c) for c in df.columns]).alias("_h")
        )
        # bit_xor, not sum: a BIGINT sum of 64-bit hashes overflows
        # under ANSI; XOR is overflow-free and order-independent
        .agg(F.count(F.lit(1)).alias("_n"), F.expr("bit_xor(_h)"))
        .collect()[0]
    )
    return row["_n"]
PROBE_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "txt_winnow_fingerprint",
    "txt_training_corpus",
    "txt_repetition_filter",
    "txt_chunk_windows",
    "txt_dataset_card",
    # iterative connected components: rounds must stay ~constant as the
    # corpus grows (near-dup clusters keep their diameter), so wall
    # should track the per-round shuffle size, i.e. ~linear.
    "dedup_components",
    # components over the banded LSH pairs — the 100 TB pair source.
    "dedup_components_lsh",
    # paragraph dedup: two keyed shuffles, both ∝ chunk count — linear.
    "dedup_paragraphs",
    # map-only quality rules: should be the flattest line in the probe.
    "txt_gopher_quality",
    # broadcast top-V vocab probe: explode+groupBy for the table, then
    # map-only scoring — should track the token count ~linearly.
    "txt_rare_token_ratio",
    # 1-row Bloom broadcast probe: map-only like contamination.
    "txt_bloom_contamination",
    # fixed-iteration pagerank over the dup-pair graph: edges ∝ pairs,
    # 3 unrolled iterations -> wall should track the edge count.
    "txt_pagerank",
    # streaming fingerprint index over the scaled documents (complete-
    # mode state ∝ distinct fingerprints): the documents-fed streaming
    # member lives in the TEXT probe because its table scales here.
    "st_dedup_index",
    # positional 5-gram table + gram-keyed dup marking: rows ∝ corpus
    # tokens, so wall should be ~linear; super-linearity here would
    # mean a hot-gram reducer (the skew this probe exists to catch).
    "dedup_ngram_spans",
    # DSIR: two linear corpus passes + a 64-row broadcast probe.
    "txt_dsir_weights",
    # BM25: shuffle volume is the posting lists of <=15 panel terms, so
    # wall should track the corpus SCAN, staying near-flat per token.
    "bm25_topk",
    # index build: the classic (term, doc) shuffle — linear in tokens,
    # with the Zipf head collapsed map-side by partial aggregation.
    "inverted_index",
    # A-ES reservoir: narrow map + TakeOrdered — the flattest possible
    # shape; super-linearity here means the sort stopped being top-K.
    "weighted_sample",
    # per-file Bloom fold: explode to K positions + two keyed aggs —
    # linear in rows, output metadata-sized.
    "skip_bloom_stats",
    # mixture manifest: per-stratum agg + broadcast-back draw — linear.
    "txt_mixture_manifest",
    # tagged 2/3/5-gram explode + per-(doc,n,gram) count: rows ∝ 3x
    # corpus tokens; the per-(doc,n) max window rides the same key.
    "txt_gopher_repetition",
    # char-position explode + (doc, char) count: rows ∝ corpus CHARS,
    # alphabet collapses map-side — linear, scan-dominated.
    "txt_char_entropy",
    # (lang, token) count + token-keyed join of two aggregates — both
    # sides Zipf-collapsed map-side before any shuffle.
    "txt_kl_drift",
    # round 6: epoch-shuffle manifest — narrow md5 map + one
    # n_shards-keyed agg; the flattest shape after weighted_sample.
    "train_shard_manifest",
    # round 6: the single-shuffle exact-pair expansion (collect_list +
    # in-partition combinations) feeding the star contraction — the
    # rewrite's probe row vs the old double-shuffle self-join.
    "dedup_ngram_jaccard",
    # multimodal members (blobs synthesized from documents): the
    # Arrow-batched mapInPandas feature pass should track corpus BYTES,
    # and the content-hash dedup is one keyed shuffle of 32-byte rows.
    "mm_blob_features",
    "mm_dedup_blobs",
    # round-8 prebuild: narrow hash+token map, split-keyed agg bounded
    # by the domain universe -> flat.
    "txt_domain_split",
    # round-9 prebuild: range-shuffle global sequence + shard rollup.
    "train_curriculum_order",
    # round-9 prebuild: panel-bounded BM25 postings + broadcast-query
    # dense scan fused in ppm space.
    "search_hybrid_rrf",
    # round-9 prebuild: one bigram explode, reused-exchange count
    # tables, (w1,w2)-keyed scoring join.
    "txt_lm_perplexity",
    # r11 bank: tokenize-once narrow map + global_prefix_sum range
    # shuffle + lang rollup; the budget bounds the SELECTED set, so
    # past the cutoff only the rank/cumsum pass grows.
    "train_token_budget_pack",
    # r12 bank: line explode + two keyed aggs + line_key join-back;
    # the scaler's per-copy token suffix keeps body lines distinct
    # across copies (only the query-injected chrome repeats), so the
    # doc-frequency frame grows linearly like a real corpus.
    "txt_boilerplate_lines",
    # r12 bank: scan-stage Column hashing + 3x20-bit band join (4x15
    # widened in r10 — the VERDICT r9 #4 tail mitigation); the
    # per-copy text perturbation keeps copies out of each other's
    # hash buckets, so candidate pairs grow with the within-copy
    # injections (~linear), not quadratically.
    "mm_phash_dedup",
    # r13 bank: tokenize-once narrow map + global_prefix_sum range
    # shuffle + the bounded span explode (output-sized: n_docs +
    # tokens/ctx rows) + seq rollup — wall should track tokens.
    "train_attention_pack",
    # r13 bank (streaming): stateless per-row signature arithmetic +
    # one (band,bkey)-keyed stateful shuffle; per-copy token suffixes
    # keep copies out of each other's buckets, so state entries and
    # emitted rows grow linearly with docs.
    "st_dedup_lsh_index",
    # r14 bank: band ladder is a narrow map; ONE range shuffle (the
    # global_row_number primitive) + a <=13-row offsets broadcast +
    # shelf-keyed agg — wall should track docs, the attention-pack
    # shape minus its span explode.
    "train_binpack_shelves",
    # r14 bank: two narrow hash reductions + one doc_id-keyed
    # full-outer join + source rollup; copies add disjoint doc_id
    # ranges, so join fan-out stays 1:1 and wall should track docs.
    "dq_snapshot_diff",
    # r15 bank: byte prefix sum (one range shuffle) + shard-keyed
    # agg; manifest rows grow with total bytes / SHARD_BYTES — the
    # train_shard_manifest shape on the binary table.
    "mm_bytes_shard_pack",
    # r16 bank: shingle explode collapsing to distinct (split, key)
    # tables map-side + shingle-keyed overlap joins; per-copy token
    # suffixes keep cross-copy shingles distinct, so overlap work
    # grows with the within-copy shared pool (~linear), not K^2.
    "train_eval_decontam_report",
]
# Embedding-side probe (SPARK_GRAFT_PROBE=sim): vectors are perturbed
# per copy (direction-dependent per-dim scaling), so LSH/sign buckets
# don't fill with K identical vectors — candidate growth stays linear
# like a real corpus, not quadratic like naive duplication.
SIM_PROBE_QUERIES = [
    "sim_knn_brute",
    "sim_ann_lsh",
    "dedup_embedding_cosine",
    "sim_quantize_int8",
    "sim_pq_adc",
    "sim_mrl_recall",
    # Since round 4 the cell count auto-scales: sign-bit sub-buckets
    # with B = ceil(log2(N / (labels * target_width))) bits, so cell
    # width — and therefore the within-cell pair scan — stays bounded
    # as the corpus grows. The probe logs max (cell, bucket) width per
    # K to evidence exactly that.
    "dedup_semdedup",
    # JL ±1 projection: narrow map-side folds against 16 constant
    # arrays + the brute-force panel scan — sim_knn_brute's shape.
    "sim_rp_recall",
    # round-9 prebuild: keyed source-lookup join + 5-anchor broadcast
    # scan with near-dup/same-source exclusion (documents co-written).
    "train_hard_negatives",
    # r13 bank: one posexplode (constant 64x) + one dim-keyed agg —
    # should be among the flattest lines in the sim probe.
    "dq_embedding_drift",
    # r14 bank (streaming): the same coords arithmetic replayed
    # through availableNow micro-batches into 64-key complete-mode
    # state — lives in the SIM probe because its table scales here
    # (the st_dedup_index convention); wall tracks the replay scan.
    "st_embedding_drift",
    # r15 bank: bucket-keyed candidate self-join + node-keyed top-K —
    # the probe's per-copy vector perturbation keeps buckets from
    # filling with identical vectors, so candidate pairs (and the
    # max bucket width the probe logs) grow like a real corpus.
    "sim_knn_graph",
    # r16 bank: the graph op's edge stage + one edge-keyed semi-join
    # + star-contraction components over the mutual subset (edges
    # <= K x corpus) — wall should track the edge stage.
    "sim_knn_components",
]
# Events-side probe (SPARK_GRAFT_PROBE=ev): each copy shifts user_id and
# event_id, so the per-user event structure (cohorts, funnels, as-of
# pairs) is preserved while user count grows K× — outputs grow in
# GROUPS, wall should track rows, not groups².
EV_PROBE_QUERIES = [
    # round-9 prebuild: single scan + 2-variant agg + bounded window.
    "ev_srm_check",
    # round-9 prebuild: user rollup + global_row_number trim rank.
    "ev_trimmed_mean",
    "ev_retention_cohorts",
    "ev_user_daily_activity",
    "ev_heavy_hitters",
    "ev_funnel",
    "ev_asof_purchase_click",
    "ev_zscore_outliers",
    # SCD2 compaction: one keyed shuffle -> wall should track rows.
    "ev_scd2_users",
    # z-order stats: dim-sized dictionary + one agg shuffle -> linear.
    "ev_zorder_layout",
    # bucketed point-in-range join: candidates ∝ events x avg windows
    # per bucket — linear as long as the bucket grain tracks the data.
    "ev_range_join_incidents",
    # range-vs-range overlap: both sides bucket-exploded; quadratic
    # only within a bucket, so wall should track total bucket rows.
    "ev_overlap_incident_sessions",
    # count-min: d x w counter table is constant-size; one groupBy over
    # d copies of the stream -> linear in events.
    "ev_countmin_users",
    # round 6: CUPED = user-keyed conditional-sum agg + 1-row moment
    # rollup -> linear; attribution = one as-of window shuffle + type
    # rollup; conversion funnel = two user-keyed aggs + day rollup.
    "ev_cuped",
    "ev_attribution",
    "ev_conversion_windows",
    # round-7 prebuilds (unregistered; resolved from plans.events):
    # quantile sketch = one (type, bucket) count collapsing map-side
    # to the bucket universe; linear attribution = one user-keyed
    # window join; path transitions = one user-keyed lag window + a
    # pair count collapsing to the |types|² universe.
    "ev_quantile_sketch",
    "ev_attribution_linear",
    "ev_path_transitions",
    # round-8 prebuild: hourly agg collapses map-side to the (type,
    # hour) universe; the grid/interpolation windows run over
    # metadata-sized frames -> wall should track the scan, near-flat.
    "ev_gap_fill",
    # round-8 prebuild: per-type sketch + distinct-frame build are the
    # only data passes; the pair matrix is |types|^2 register blobs.
    "ev_hll_overlap",
    # r15 bank: two range shuffles (exact order statistics via
    # global_row_number) + a scoring agg — wall should track rows;
    # super-linearity would mean a type-keyed funnel leaked back in.
    "ev_mad_outliers",
    # r16 bank: one hour-keyed count agg touches the stream; the grid
    # windows are span-sized — wall should track the scan, near-flat
    # (the coherent event-id shift keeps the hour span fixed).
    "ev_changepoint_cusum",
    # r11 bank: 1-row bounds broadcast + <=3-group agg -> linear scan.
    "ev_time_embargo_split",
    # r11 bank: hour-keyed count agg (span-sized), 168-slot broadcast,
    # TakeOrdered head -> wall should track the scan.
    "ev_seasonal_residuals",
    # r11 bank: one conditional-agg pass + 7-row unpivot -> linear.
    "dq_profile_drift",
]
# Relational probe (SPARK_GRAFT_PROBE=rel): the banded fuzzy self-join.
# Each copy gets its own brand namespace (brand#copy), so cross-copy
# rows never meet in the (brand, length-band) equi-join — candidate
# structure per copy is identical and total work should grow ~linearly,
# the way a K× bigger catalog with K× more brands behaves. Naive
# partkey-shifted copies sharing brands would instead make every
# band bucket K× deeper -> quadratic candidates, which no real catalog
# growth produces.
REL_PROBE_QUERIES = [
    "join_fuzzy_part_names",
    "join_fuzzy_recall",
]
# Orders probe (SPARK_GRAFT_PROBE=ord): each copy shifts custkey and
# orderkey, so per-customer order structure (recency, frequency,
# spend) is preserved while the customer universe grows K× — the
# global NTILE sort over the aggregated customer frame is exactly
# what grows, which is the cost RFM plans around at scale.
ORD_PROBE_QUERIES = [
    "agg_rfm_segments",
    # data-quality gate: one conditional-agg scan per table + two
    # anti-joins; FK structure is preserved per copy, so violation
    # counts stay 0 while the checked volume grows K×.
    "dq_expectations",
    # round-9 prebuild: basket pair expansion is bounded per order, so
    # the pair stream grows K× while the co-occurring pair universe
    # (and the top-100 head) stays fixed — map-side collapse territory.
    "agg_basket_lift",
    # r12 bank: orders->customer equi-join + 25-group moment agg; the
    # coherent custkey shift keeps the join linear while both sides
    # grow K×.
    "agg_ols_trend",
    # r12 bank: customer scales K× with UNCHANGED QI values per copy,
    # so the class universe stays fixed while class counts grow K× —
    # the bounded-agg shape the audit claims.
    "dq_k_anonymity",
]
# Streaming probe (SPARK_GRAFT_PROBE=st): availableNow replay of the
# scaled events — wall includes the full micro-batch drain, so the
# exponent measures state-store + watermark cost growth, the number a
# 100 TB/day deployment actually plans around. (st_dedup_index reads
# the documents table, so it lives in the TEXT probe list above.)
ST_PROBE_QUERIES = [
    # windowed aggregation state: keys ∝ (hour, type) — sub-data-sized
    "st_tumbling_hourly",
    # session-window state: merges ∝ per-user activity
    "st_session_windows",
    # applyInPandasWithState: per-user open-interval state (~40 B/key)
    "st_scd2_users",
    # watermarked dropDuplicates: state ∝ distinct keys in the
    # watermark horizon, not the stream
    "st_dedup_events",
    # stream-stream interval join: both state stores watermark-bounded
    "st_stream_stream_join",
    # stream-static: the batch moments side is a broadcast, state-free
    "st_static_zscore",
    # applyInPandasWithState running totals: per-user counter state
    "st_user_totals_stateful",
]


def write_scaled(spark, sf_dir: str, k: int, out_dir: str) -> None:
    docs = load_table(spark, sf_dir, "documents")
    copies = spark.range(k).withColumnRenamed("id", "copy")
    scaled = docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy") * 10_000_000).alias("doc_id"),
        F.array_join(
            F.transform(
                tokens_col("text"),
                lambda x: F.concat(x, F.lit("_"), F.col("copy").cast("string")),
            ),
            " ",
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    scaled.repartition(max(1, k // 8)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def write_scaled_embeddings(spark, sf_dir: str, k: int, out_dir: str) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    copies = spark.range(k).withColumnRenamed("id", "copy")
    # Per-(copy, dim) magnitude perturbation AND sign flips: a fresh
    # corpus at K× has independent directions, so copies must not share
    # sign patterns with their originals — sign-correlated copies would
    # adversarially stack into the same sign-bit buckets (semdedup
    # sub-buckets, LSH buckets) in a way no real corpus growth does.
    # Flips are per-copy-deterministic, so within-copy near-dup
    # injections (x0.5 / x1.5 scaled pairs) stay cosine-invariant.
    scaled = emb.crossJoin(copies).select(
        (F.col("vec_id") + F.col("copy") * 10_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (
                x
                * (
                    1.0
                    + ((F.col("copy") * 31 + i) % 7 - F.lit(3)).cast("double")
                    * 0.15
                )
                # NOT a linear-mod-2 mixer: (copy*a + i*b) % 2 collapses
                # to (copy + i) % 2 for odd a,b — only two sign patterns
                # across all copies, which stacks same-parity copies
                # into identical sign buckets. hash() gives every copy
                # its own pattern (probe-only, so engine-specific
                # hashing is fine here).
                * F.when(
                    F.pmod(F.hash(F.col("copy") * 64 + i), 2) == 0,
                    F.lit(1.0),
                )
                .otherwise(F.lit(-1.0))
            ).cast("float"),
        ).alias("embedding"),
        "label",
    )
    scaled.repartition(max(1, k // 8)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def write_scaled_events(spark, sf_dir: str, k: int, out_dir: str) -> None:
    # load_table normalizes ts to a micros timestamp regardless of the
    # source generation's unit; the rewrite lands as TIMESTAMP_MICROS,
    # which load_table on out_dir reads directly.
    from simple_etl_pipeline_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events")
    copies = spark.range(k).withColumnRenamed("id", "copy")
    scaled = ev.crossJoin(copies).select(
        (F.col("event_id") + F.col("copy") * 1_000_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("copy") * 1_000_000).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    scaled.repartition(max(1, k // 8)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )


def write_scaled_part(spark, sf_dir: str, k: int, out_dir: str) -> None:
    part = load_table(spark, sf_dir, "part")
    copies = spark.range(k).withColumnRenamed("id", "copy")
    scaled = part.crossJoin(copies).select(
        (F.col("p_partkey") + F.col("copy") * 10_000_000).alias("p_partkey"),
        "p_name",
        F.concat("p_brand", F.lit("#"), F.col("copy").cast("string")).alias(
            "p_brand"
        ),
        "p_type",
        "p_size",
        "p_retailprice",
    )
    scaled.repartition(max(1, k // 8)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "part.parquet")
    )


def write_scaled_orders(spark, sf_dir: str, k: int, out_dir: str) -> None:
    """Scales the orders/customer/lineitem trio COHERENTLY: each copy
    shifts custkey and orderkey by the same offsets on every table,
    so per-customer order structure AND referential integrity are
    preserved while the volume grows K× (a dangling-FK explosion
    would make the dq anti-joins' output grow, which no real growth
    does)."""
    copies = spark.range(k).withColumnRenamed("id", "copy")
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.crossJoin(copies)
        .select(
            (F.col("o_orderkey") + F.col("copy") * 1_000_000_000).alias(
                "o_orderkey"
            ),
            (F.col("o_custkey") + F.col("copy") * 10_000_000).alias(
                "o_custkey"
            ),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        .repartition(max(1, k // 8))
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "orders.parquet"))
    )
    customer = load_table(spark, sf_dir, "customer")
    (
        customer.crossJoin(copies)
        .select(
            (F.col("c_custkey") + F.col("copy") * 10_000_000).alias(
                "c_custkey"
            ),
            "c_name",
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )
        .repartition(max(1, k // 8))
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "customer.parquet"))
    )
    # fixed dimensions ride along UNSCALED (nations don't grow with
    # order volume; agg_ols_trend broadcasts this 25-row side)
    load_table(spark, sf_dir, "nation").write.mode("overwrite").parquet(
        os.path.join(out_dir, "nation.parquet")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    (
        lineitem.crossJoin(copies)
        .select(
            (F.col("l_orderkey") + F.col("copy") * 1_000_000_000).alias(
                "l_orderkey"
            ),
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        )
        .repartition(max(1, k // 8))
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "lineitem.parquet"))
    )


# Text-mode queries that ALSO scan embeddings (hybrid retrieval): the
# text writer is wrapped to co-write the scaled embeddings corpus so
# the dense side grows in step with the documents side (vec_id and
# doc_id share the copy*10M universe shift).
_TEXT_NEEDS_EMBEDDINGS = {"search_hybrid_rrf"}

# Sim-mode queries that ALSO scan documents (the hard-negative miner's
# same-source exclusion): co-write the scaled documents corpus so every
# scaled vec_id keeps its source row (same copy*10M shift).
_SIM_NEEDS_DOCUMENTS = {"train_hard_negatives"}

_MODES = {
    "text": (PROBE_QUERIES, "documents"),
    "sim": (SIM_PROBE_QUERIES, "embeddings"),
    "ev": (EV_PROBE_QUERIES, "events"),
    "rel": (REL_PROBE_QUERIES, "part"),
    "st": (ST_PROBE_QUERIES, "events"),
    "ord": (ORD_PROBE_QUERIES, "orders"),
}


def main() -> None:
    mode = os.environ.get("SPARK_GRAFT_PROBE", "text")
    probe = _MODES[mode][0]
    only = os.environ.get("SPARK_GRAFT_PROBE_ONLY")
    if only:
        wanted = {s.strip() for s in only.split(",") if s.strip()}
        probe = [q for q in probe if q in wanted]
    writer = {
        "text": write_scaled,
        "sim": write_scaled_embeddings,
        "ev": write_scaled_events,
        "rel": write_scaled_part,
        "st": write_scaled_events,
        "ord": write_scaled_orders,
    }[mode]
    if mode == "text" and any(q in _TEXT_NEEDS_EMBEDDINGS for q in probe):
        _docs_writer = writer

        def writer(spark, sf_dir, k, out_dir, _w=_docs_writer):
            _w(spark, sf_dir, k, out_dir)
            write_scaled_embeddings(spark, sf_dir, k, out_dir)
    if mode == "sim" and any(q in _SIM_NEEDS_DOCUMENTS for q in probe):
        _emb_writer = writer

        def writer(spark, sf_dir, k, out_dir, _w=_emb_writer):
            _w(spark, sf_dir, k, out_dir)
            write_scaled(spark, sf_dir, k, out_dir)
    ks = [int(a) for a in sys.argv[1:]] or [1, 16, 64]
    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    # unregistered prebuilds keep the same probe discipline
    from simple_etl_pipeline_spark.plans import events as _evmod

    for _n in (
        "ev_quantile_sketch",
        "ev_attribution_linear",
        "ev_path_transitions",
        "ev_gap_fill",
        "ev_hll_overlap",
        "ev_srm_check",
        "ev_trimmed_mean",
    ):
        queries.setdefault(_n, getattr(_evmod, _n))
    from simple_etl_pipeline_spark.plans import relational as _relmod
    from simple_etl_pipeline_spark.plans import text as _txtmod

    queries.setdefault("agg_rfm_segments", _relmod.agg_rfm_segments)
    queries.setdefault("dq_expectations", _relmod.dq_expectations)
    queries.setdefault("txt_domain_split", _txtmod.txt_domain_split)
    queries.setdefault("agg_basket_lift", _relmod.agg_basket_lift)
    queries.setdefault(
        "train_curriculum_order", _txtmod.train_curriculum_order
    )
    queries.setdefault("search_hybrid_rrf", _txtmod.search_hybrid_rrf)
    queries.setdefault("txt_lm_perplexity", _txtmod.txt_lm_perplexity)
    from simple_etl_pipeline_spark.plans import similarity as _simmod

    queries.setdefault(
        "train_hard_negatives", _simmod.train_hard_negatives
    )
    queries.setdefault(
        "train_token_budget_pack", _txtmod.train_token_budget_pack
    )
    queries.setdefault(
        "ev_time_embargo_split", _evmod.ev_time_embargo_split
    )
    queries.setdefault(
        "ev_seasonal_residuals", _evmod.ev_seasonal_residuals
    )
    queries.setdefault("dq_profile_drift", _relmod.dq_profile_drift)
    queries.setdefault("dq_k_anonymity", _relmod.dq_k_anonymity)
    queries.setdefault("agg_ols_trend", _relmod.agg_ols_trend)
    queries.setdefault(
        "txt_boilerplate_lines", _txtmod.txt_boilerplate_lines
    )
    from simple_etl_pipeline_spark.plans import multimodal as _mmmod

    queries.setdefault("mm_phash_dedup", _mmmod.mm_phash_dedup)
    # round-12-built r13 bank
    from simple_etl_pipeline_spark.streaming import stateful as _stmod

    queries.setdefault(
        "train_attention_pack", _txtmod.train_attention_pack
    )
    queries.setdefault("dq_embedding_drift", _simmod.dq_embedding_drift)
    queries.setdefault("st_dedup_lsh_index", _stmod.st_dedup_lsh_index)
    # r14 bank (built in the round-12 continuation session)
    from simple_etl_pipeline_spark.streaming import events as _stevmod

    queries.setdefault(
        "train_binpack_shelves", _txtmod.train_binpack_shelves
    )
    queries.setdefault("dq_snapshot_diff", _relmod.dq_snapshot_diff)
    queries.setdefault(
        "st_embedding_drift", _stevmod.st_embedding_drift
    )
    # r15 bank (same session)
    queries.setdefault("ev_mad_outliers", _evmod.ev_mad_outliers)
    queries.setdefault("sim_knn_graph", _simmod.sim_knn_graph)
    queries.setdefault(
        "mm_bytes_shard_pack", _mmmod.mm_bytes_shard_pack
    )
    # r16 bank (same session)
    queries.setdefault(
        "sim_knn_components", _simmod.sim_knn_components
    )
    queries.setdefault(
        "train_eval_decontam_report",
        _txtmod.train_eval_decontam_report,
    )
    queries.setdefault(
        "ev_changepoint_cusum", _evmod.ev_changepoint_cusum
    )
    # ... and so do demoted queries (pytest-only parity twins): probe
    # lists name them by their original keys, which leave the registry
    # on demotion.
    from simple_etl_pipeline_spark import testing as _testing

    for _n, (_fn, _sql) in _testing.demoted_queries().items():
        queries.setdefault(_n, _fn)
    results: dict[str, dict[int, float]] = {q: {} for q in probe}
    base = tempfile.mkdtemp(prefix="spark_graft_scale_")
    try:
        # Warm-up: run every probe query once on the unscaled corpus so
        # JVM/codegen/file-listing costs don't masquerade as data cost in
        # the K=1 measurements.
        warm = os.path.join(base, "warm")
        os.makedirs(warm, exist_ok=True)
        writer(spark, SF_DIR, 1, warm)
        for name in probe:
            wdf = queries[name](spark, warm)
            _force(wdf)
        spark.catalog.clearCache()
        for k in ks:
            kdir = os.path.join(base, f"k{k}")
            os.makedirs(kdir, exist_ok=True)
            writer(spark, SF_DIR, k, kdir)
            table = _MODES[mode][1]
            n_docs = spark.read.parquet(
                os.path.join(kdir, f"{table}.parquet")
            ).count()
            for name in probe:
                t0 = time.perf_counter()
                kdf = queries[name](spark, kdir)
                n_out = _force(kdf)
                wall = time.perf_counter() - t0
                results[name][k] = wall
                if name == "dedup_semdedup":
                    # evidence for the bounded-cell-width contract: the
                    # output carries (cell, bucket), so max width is one
                    # tiny aggregate over the result
                    width = (
                        queries[name](spark, kdir)
                        .groupBy("cell", "bucket")
                        .count()
                        .agg(
                            F.max("count").alias("mx"),
                            F.count(F.lit(1)).alias("n_cells"),
                        )
                        .collect()[0]
                    )
                    print(
                        json.dumps(
                            {
                                "k": k,
                                "query": name,
                                "max_cell_width": width["mx"],
                                "n_cells": width["n_cells"],
                            }
                        ),
                        flush=True,
                    )
                # dedup_minhash_lsh persists its shingle stage (by design:
                # three consumers, cache-manager-deduped across calls in a
                # session). Across probe iterations those entries are dead
                # weight — drop them so K=256 isn't measured under K=64's
                # cache pressure.
                spark.catalog.clearCache()
                print(
                    json.dumps(
                        {
                            "k": k,
                            "n_docs": n_docs,
                            "query": name,
                            "wall_s": round(wall, 3),
                            "rows_out": n_out,
                            "docs_per_s": round(n_docs / wall),
                        }
                    ),
                    flush=True,
                )
        kmax, kmin = max(ks), min(ks)
        if kmax > kmin:
            summary = {
                name: round(
                    math.log(results[name][kmax] / results[name][kmin])
                    / math.log(kmax / kmin),
                    2,
                )
                for name in probe
            }
            print(json.dumps({"scaling_exponent": summary}))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
