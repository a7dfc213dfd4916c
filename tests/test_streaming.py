"""Structured Streaming: availableNow replays of the events file must
agree with the batch twins (semantics proven in plans/events.py)."""

from __future__ import annotations

import pytest

from simple_etl_pipeline_spark.plans.events import ev_tumbling_hourly
from simple_etl_pipeline_spark.streaming.events import (
    st_dedup_events,
    st_session_windows,
    st_tumbling_hourly,
)


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in ev_tumbling_hourly(spark, sf_dir).collect()
    }
    stream = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in st_tumbling_hourly(spark, sf_dir).collect()
    }
    assert batch == stream


def test_streaming_dedup_exact(spark, sf_dir):
    from simple_etl_pipeline_spark.schemas import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    deduped = st_dedup_events(spark, sf_dir)
    assert deduped.count() == n_events  # doubled stream -> unique survivors


def test_foreachbatch_csv_sink(spark, sf_dir, tmp_path):
    import csv
    import glob

    from simple_etl_pipeline_spark.streaming.events import read_events_stream
    from simple_etl_pipeline_spark.streaming.sinks import stream_to_csv_batches

    stream = read_events_stream(spark, sf_dir).select("event_id", "event_type")
    q = stream_to_csv_batches(stream, str(tmp_path))
    q.awaitTermination()
    files = glob.glob(str(tmp_path / "batch_*.csv"))
    assert files, "no batch files written"
    total = 0
    for f in files:
        with open(f) as fh:
            total += sum(1 for _ in csv.DictReader(fh))
    from simple_etl_pipeline_spark.schemas import load_table

    assert total == load_table(spark, sf_dir, "events").count()


def test_streaming_sessions_equal_batch(spark, sf_dir):
    """The watermark sentinel flushes ALL real sessions, so append-mode
    output now equals the batch twin exactly (this used to be a weaker
    subset check when final sessions were withheld)."""
    from simple_etl_pipeline_spark.plans.events import ev_session_windows

    out = st_session_windows(spark, sf_dir)
    batch = ev_session_windows(spark, sf_dir)
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_checkpoint_incremental_resume(spark, sf_dir, tmp_path):
    """Exactly-once incremental processing across restarts: run an
    availableNow stream to a file sink with a checkpoint, add more input,
    re-run the same query — only the NEW file is processed (no
    reprocessing, no duplicates). This is the operational contract a
    100 TB/day ingest relies on: a crashed or scheduled-restart job
    resumes from the checkpoint's offset log."""
    import shutil

    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.schemas import TABLE_SCHEMAS, load_table

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    events = load_table(spark, sf_dir, "events")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    n1, n2 = half1.count(), half2.count()

    def _write_one_file(df, name):
        staged = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staged))
        part = next(staged.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    def _run_once():
        # Staged files are Spark-written (ts is TIMESTAMP_MICROS), so the
        # declared timestamp schema reads them directly.
        stream = spark.readStream.schema(TABLE_SCHEMAS["events"]).parquet(
            str(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_one_file(half1, "a")
    _run_once()
    assert spark.read.parquet(str(sink)).count() == n1

    _write_one_file(half2, "b")
    _run_once()
    out = spark.read.parquet(str(sink))
    assert out.count() == n1 + n2
    # no duplicates: every event_id exactly once
    assert out.select("event_id").distinct().count() == n1 + n2


def test_streaming_upsert_snapshot(spark, tmp_path):
    """Change stream -> maintained keyed snapshot: upserts and deletes
    applied with batch-identical merge semantics."""
    from simple_etl_pipeline_spark.streaming.sinks import stream_upsert_snapshot

    src = str(tmp_path / "changes")
    spark.createDataFrame(
        [
            (1, "alice", 10.0, 100, "U"),
            (2, "bob", 20.0, 100, "U"),
            (2, "bob2", 25.0, 200, "U"),
            (3, "carol", 30.0, 100, "U"),
            (3, None, None, 300, "D"),
        ],
        "k int, name string, v double, ts int, op string",
    ).write.parquet(src)

    stream = spark.readStream.schema(
        "k int, name string, v double, ts int, op string"
    ).parquet(src)
    snap = str(tmp_path / "snapshot")
    q = stream_upsert_snapshot(
        stream, snap, ["k"], "ts", str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    state = sorted(tuple(r) for r in spark.read.parquet(snap).collect())
    assert state == [(1, "alice", 10.0, 100), (2, "bob2", 25.0, 200)]


def test_streaming_upsert_recovers_dangling_swap(spark, tmp_path):
    """Crash window simulation: snapshot moved aside to .old, .next
    written, process died before .next->snapshot. On the next run the
    sink must restore .old (not rebuild from one batch alone) and then
    apply the new batch — no previously merged keys lost."""
    import os

    from simple_etl_pipeline_spark.streaming.sinks import stream_upsert_snapshot

    schema = "k int, name string, v double, ts int, op string"
    src = str(tmp_path / "changes")
    spark.createDataFrame([(1, "alice", 10.0, 100, "U")], schema).write.parquet(src)
    snap = str(tmp_path / "snapshot")
    q = stream_upsert_snapshot(
        spark.readStream.schema(schema).parquet(src),
        snap, ["k"], "ts", str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    # simulate the crash mid-swap
    os.rename(snap, snap + ".old")
    spark.createDataFrame(
        [(99, "junk", 0.0, 1)], "k int, name string, v double, ts int"
    ).write.parquet(snap + ".next")

    spark.createDataFrame([(2, "bob", 20.0, 200, "U")], schema).write.mode(
        "append"
    ).parquet(src)
    q = stream_upsert_snapshot(
        spark.readStream.schema(schema).parquet(src),
        snap, ["k"], "ts", str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    state = sorted(tuple(r) for r in spark.read.parquet(snap).collect())
    assert state == [(1, "alice", 10.0, 100), (2, "bob", 20.0, 200)]
    assert not os.path.exists(snap + ".old")
    assert not os.path.exists(snap + ".next")


def test_stateful_registration_is_host_independent():
    # the applyInPandasWithState operator is the one per-user totals
    # query, registered on every host, and every query has its oracle
    from simple_etl_pipeline_spark.streaming import stateful

    assert "st_user_totals_stateful" in stateful.QUERIES
    assert set(stateful.ORACLES) == set(stateful.QUERIES)


def test_bucketed_state_equals_per_key_and_oracle(spark, sf_dir):
    """user_totals_bucketed (one Python call per 64-user bucket per
    batch) must produce exactly the per-key operator's totals and
    match the DuckDB oracle — proving the amortization is a pure
    cost-model change, not a semantics change."""
    from simple_etl_pipeline_spark.streaming.stateful import (
        ST_USER_TOTALS_ORACLE,
        st_user_totals_bucketed,
        st_user_totals_stateful,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    bucketed = st_user_totals_bucketed(spark, sf_dir)
    compare_with_oracle(bucketed, ST_USER_TOTALS_ORACLE, sf_dir)
    per_key = {
        r.user_id: (r.n_events, r.sum_value)
        for r in st_user_totals_stateful(spark, sf_dir).collect()
    }
    got = {
        r.user_id: (r.n_events, r.sum_value) for r in bucketed.collect()
    }
    assert got == per_key


# --- watermark-ordered SCD2 (round-6 rework) ------------------------------
def _scd2_batch_closed(spark, d):
    from simple_etl_pipeline_spark.plans.events import ev_scd2_users

    return {
        (r.user_id, r.version, r.event_type, r.n_events,
         r.valid_from, r.valid_to)
        for r in ev_scd2_users(spark, d).collect()
        if not r.is_current
    }


def test_scd2_fragmented_replay_equals_batch(spark, sf_dir, tmp_path):
    """The round-5 hazard, now a pinned regression test: a HASH-
    SCATTERED 8-file directory replayed file-at-a-time (every batch
    spans the whole time range, maximal cross-batch disorder) must
    still produce exactly the batch build's closed intervals — the
    watermark buffer reorders, the drain completes the horizon. The
    arrival-order predecessor emitted spurious rows on exactly this
    layout."""
    import os

    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.schemas import load_table
    from simple_etl_pipeline_spark.streaming.stateful import st_scd2_users

    d = str(tmp_path / "frag")
    os.makedirs(d)
    load_table(spark, sf_dir, "events").repartition(8).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "events.parquet"))
    stream = [
        (r.user_id, r.version, r.event_type, r.n_events,
         r.valid_from, r.valid_to)
        for r in st_scd2_users(spark, d).collect()
    ]
    assert len(stream) == len(set(stream))  # exactly-once emission
    assert set(stream) == _scd2_batch_closed(spark, d)


def test_scd2_watermark_emits_incrementally_on_ordered_feed(
    spark, sf_dir, tmp_path
):
    """The live-stream path: a TIME-ORDERED multi-file feed with a
    moderate watermark delay must emit most closed intervals from the
    stream itself (watermark advance), with the drain only finishing
    the final horizon — and the union must still equal the batch
    build. This is the latency contract the one-batch drain could not
    provide."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.schemas import load_table
    from simple_etl_pipeline_spark.streaming.events import (
        _run_to_memory,
        read_events_stream,
    )
    from simple_etl_pipeline_spark.streaming.stateful import (
        scd2_drain,
        scd2_watermarked,
    )

    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "ordered")
    evdir = os.path.join(d, "events.parquet")
    os.makedirs(evdir)
    # 6 contiguous time-range files (the production backfill layout),
    # written SEQUENTIALLY so both of the file source's ordering keys
    # (modification time, then path) replay them in event-time order
    pdf = (
        load_table(spark, sf_dir, "events")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    n = len(pdf)
    for i in range(6):
        chunk = pdf.iloc[i * n // 6:(i + 1) * n // 6]
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(evdir, f"{i:03d}.parquet"),
            coerce_timestamps="us",  # match the testdata's micros unit
            allow_truncated_timestamps=True,
        )
        time.sleep(0.05)  # distinct mtimes -> deterministic replay order
    checkpoint = tempfile.mkdtemp(prefix="scd2_ordered_ck_")
    stream = read_events_stream(spark, d)
    streamed = _run_to_memory(
        scd2_watermarked(stream, delay="2 hours"), "append",
        checkpoint=checkpoint,
    )
    n_streamed = streamed.count()
    drained = scd2_drain(spark, checkpoint)
    got = {
        (r.user_id, r.version, r.event_type, r.n_events,
         r.valid_from, r.valid_to)
        for r in streamed.unionByName(drained).collect()
    }
    batch = _scd2_batch_closed(spark, d)
    assert got == batch
    # the stream itself must have emitted the bulk of the history —
    # emission on watermark advance, not a terminal dump
    assert n_streamed > len(batch) // 2, (n_streamed, len(batch))


def _write_event_file(path, rows):
    """rows: list of (event_id, ts_epoch_s, user_id, event_type)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    tss = [
        datetime.datetime.fromtimestamp(t, tz=datetime.timezone.utc)
        for _, t, _, _ in rows
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(tss, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, path)


def test_scd2_drops_late_input(spark, tmp_path):
    """ADVICE r6 (high): applyInPandasWithState does NOT drop input
    below the watermark — the operator must. Replays a feed whose
    second file contains an event 2h25m OLDER than the watermark
    established by the first file (delay is 30 minutes): a straggler
    landing inside an already-compacted click run. If it were merged
    (the pre-fix behavior), the run would split into
    click/purchase/click — three spurious intervals; the watermark
    contract says it is late and must be dropped, so the output must
    equal the batch build over the feed WITHOUT the late event."""
    import os
    import tempfile
    import time

    from simple_etl_pipeline_spark.streaming.events import (
        _run_to_memory,
        read_events_stream,
    )
    from simple_etl_pipeline_spark.streaming.stateful import (
        scd2_drain,
        scd2_watermarked,
    )

    t0 = 1_700_000_000  # any fixed epoch second
    H, M = 3600, 60
    file1 = [
        (1, t0, 7, "click"),
        (2, t0 + 10 * M, 7, "click"),
        (3, t0 + 1 * H, 7, "view"),
        (4, t0 + 3 * H, 7, "click"),  # max ts -> wm = t0 + 2.5h
    ]
    late = (5, t0 + 5 * M, 7, "purchase")  # 2h25m below the watermark
    file2 = [late, (6, t0 + 4 * H, 7, "view")]

    d = str(tmp_path / "latefeed")
    evdir = os.path.join(d, "events.parquet")
    os.makedirs(evdir)
    _write_event_file(os.path.join(evdir, "000.parquet"), file1)
    time.sleep(0.05)  # distinct mtimes -> deterministic replay order
    _write_event_file(os.path.join(evdir, "001.parquet"), file2)

    checkpoint = tempfile.mkdtemp(prefix="scd2_late_ck_")
    stream = read_events_stream(spark, d)
    streamed = _run_to_memory(
        scd2_watermarked(stream, delay="30 minutes"), "append",
        checkpoint=checkpoint,
    )
    drained = scd2_drain(spark, checkpoint)
    got = {
        (r.user_id, r.version, r.event_type, r.n_events,
         r.valid_from, r.valid_to)
        for r in streamed.unionByName(drained).collect()
    }
    # batch build over the feed WITHOUT the late straggler
    expected = {
        (7, 1, "click", 2, t0, t0 + 1 * H),
        (7, 2, "view", 1, t0 + 1 * H, t0 + 3 * H),
        (7, 3, "click", 1, t0 + 3 * H, t0 + 4 * H),
        # version 4 (view from t0+4h) is open -> never emitted
    }
    assert got == expected


def test_scd2_backfill_empty_events(spark, tmp_path):
    """Zero-row events: the staging sort writes no (or empty) part
    files, the replay sees zero batches, scd2_drain's missing-state
    branch returns the empty frame — no error, no rows."""
    from simple_etl_pipeline_spark.schemas import TABLE_SCHEMAS
    from simple_etl_pipeline_spark.streaming.stateful import st_scd2_users

    d = str(tmp_path / "empty_sf")
    spark.createDataFrame([], TABLE_SCHEMAS["events"]).write.mode(
        "overwrite"
    ).parquet(d + "/events.parquet")
    assert st_scd2_users(spark, d).collect() == []


# ---------------------------------------------------------------------------
# Streaming failure contract (VERDICT r7 #1): compact root-cause
# surfacing + correctness-neutral one-shot retry. The r7 driver row for
# st_scd2_users erred with a front-truncated plan dump — undiagnosable;
# these pin the replacement contract.


def test_compact_stream_error_extracts_deepest_cause():
    from simple_etl_pipeline_spark.streaming.events import (
        _compact_stream_error,
    )

    msg = (
        "[STREAM_FAILED] Query [id=abc] terminated with exception: boom\n"
        "=== Streaming Query ===\n"
        "+- FlatMapGroupsInPandasWithState\n" * 50
        + "at org.example.Frame(File.scala:1)\n" * 200
        + "Caused by: java.lang.RuntimeException: middle layer\n"
        "at org.example.Other(File.scala:2)\n"
        "Caused by: java.io.IOException: the actual root disk error\n"
        "at org.example.Deep(File.scala:3)\n"
    )
    out = _compact_stream_error(RuntimeError(msg))
    assert "the actual root disk error" in out
    assert "[STREAM_FAILED]" in out
    assert "FlatMapGroupsInPandasWithState" not in out
    assert len(out) < 1000


def test_run_to_memory_raises_compact_root_cause(spark, sf_dir, tmp_path):
    """A stream whose task raises must surface the failure as a
    StreamRunError naming the root cause — short, no plan dump — so a
    driver artifact that truncates from either end still shows WHY."""
    import pytest

    from simple_etl_pipeline_spark.streaming.events import (
        StreamRunError,
        _run_to_memory,
        read_events_stream,
    )
    from pyspark.sql import functions as F

    import os

    d = str(tmp_path / "boom_sf")
    os.makedirs(d)
    os.symlink(f"{sf_dir}/events.parquet", d + "/events.parquet")
    stream = read_events_stream(spark, d).select(
        F.assert_true(F.lit(False), F.lit("synthetic-root-boom")).alias("x")
    )
    with pytest.raises(StreamRunError) as ei:
        _run_to_memory(stream, "append")
    msg = str(ei.value)
    assert "synthetic-root-boom" in msg
    assert "=== Streaming Query ===" not in msg
    assert len(msg) < 1000


def test_run_to_memory_wraps_start_time_failures_and_drops_sinks(
    spark, sf_dir, tmp_path
):
    """ADVICE r8 (low): start() used to sit outside the try, so
    start-time failures — analysis errors, an unusable checkpoint
    path — escaped as raw exceptions with no compaction; and every
    failed attempt left its partially-registered st_* memory-sink
    temp view alive for the session. Both halves pinned here: an
    unwritable checkpoint location raises StreamRunError (not a raw
    JVM error), and the failure path leaves no new st_* temp views
    behind."""
    import os

    import pytest

    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.streaming.events import (
        StreamRunError,
        _run_to_memory,
        read_events_stream,
    )

    d = str(tmp_path / "startfail_sf")
    os.makedirs(d)
    os.symlink(f"{sf_dir}/events.parquet", d + "/events.parquet")

    def st_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith("st_")
        }

    before = st_views()
    # a checkpoint path under a FILE (not a dir) cannot be created ->
    # start()/first-batch setup fails, historically outside the try
    blocker = str(tmp_path / "blocker")
    with open(blocker, "w") as f:
        f.write("x")
    bad_ckpt = os.path.join(blocker, "nested", "ckpt")
    stream = read_events_stream(spark, d).select("event_id")
    with pytest.raises(StreamRunError):
        _run_to_memory(stream, "append", checkpoint=bad_ckpt)
    # run-time failure path (2 attempts) must also clean up its sinks
    boom = read_events_stream(spark, d).select(
        F.assert_true(F.lit(False), F.lit("boom")).alias("x")
    )
    with pytest.raises(StreamRunError):
        _run_to_memory(boom, "append")
    assert st_views() == before


def test_scd2_backfill_retries_once_on_transient_failure(
    spark, sf_dir, tmp_path, monkeypatch
):
    """First replay attempt dies with a (simulated) transient
    StreamRunError; the backfill retries ONCE with fresh checkpoint +
    staging dirs and the result still equals the batch build's closed
    intervals — the retry is correctness-neutral because nothing is
    shared between attempts."""
    import os

    from simple_etl_pipeline_spark.schemas import load_table
    from simple_etl_pipeline_spark.streaming import events as st_events
    from simple_etl_pipeline_spark.streaming.stateful import st_scd2_users

    d = str(tmp_path / "retry_sf")
    os.makedirs(d)
    load_table(spark, sf_dir, "events").limit(200).repartition(4).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "events.parquet"))

    real = st_events._run_to_memory
    calls = {"n": 0}

    def flaky(result, mode, checkpoint=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise st_events.StreamRunError("simulated transient failure")
        return real(result, mode, checkpoint=checkpoint)

    monkeypatch.setattr(st_events, "_run_to_memory", flaky)
    stream = {
        (r.user_id, r.version, r.event_type, r.n_events,
         r.valid_from, r.valid_to)
        for r in st_scd2_users(spark, d).collect()
    }
    assert calls["n"] == 2
    assert stream == _scd2_batch_closed(spark, d)


def test_lsh_band_keys_stateless_equals_batch(spark, sf_dir):
    """The r13-bank streaming LSH index computes MinHash band keys
    with STATELESS array expressions (a streaming query cannot chain
    the batch pipeline's shingle-explode aggregation ahead of
    applyInPandasWithState). Pin the equivalence row-for-row: the
    stateless frame over corpus_with_dups equals the batch frame
    built exactly the way dedup_minhash_lsh builds it (_shingle_sets
    explode -> per-doc min per permutation -> comma-joined 4-slot
    band keys)."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.text import (
        MINHASH_BANDS,
        MINHASH_P,
        _PERM,
        _ROWS_PER_BAND,
        _shingle_sets,
        corpus_with_dups,
        minhash_band_keys_stateless,
    )

    stateless = {
        (r.doc_id, r.band, r.bkey)
        for r in minhash_band_keys_stateless(
            corpus_with_dups(spark, sf_dir)
        ).collect()
    }
    sh = _shingle_sets(spark, sf_dir)
    mh_cols = [
        F.min(
            (F.lit(a) * (F.col("sh") % MINHASH_P) + F.lit(b)) % MINHASH_P
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(_PERM)
    ]
    sig = sh.groupBy("doc_id").agg(*mh_cols)
    batch = set()
    for r in sig.collect():
        for b in range(MINHASH_BANDS):
            bkey = ",".join(
                str(r[f"mh{b * _ROWS_PER_BAND + j}"])
                for j in range(_ROWS_PER_BAND)
            )
            batch.add((r.doc_id, b, bkey))
    assert stateless == batch
    assert len(stateless) > 0


def _lsh_edge_docs_dir(tmp_path, split: bool) -> str:
    """Documents-only corpus for the streaming LSH index: one
    3-member identical-text cluster (ids 1,2,3 — identical signatures
    collide in EVERY band), one unique doc (4), one doc below the
    3-token shingle minimum (5 — must vanish entirely). Ids avoid the
    %17/%23 dup-injection residues so the corpus stays pure. When
    `split`, the cluster is cut ACROSS two parquet files so the
    file-at-a-time replay must merge its bucket state across
    micro-batches."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    same = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different content with its own distinct shingles here"
    rows = [
        (1, same, "en", "s", len(same)),
        (2, same, "en", "s", len(same)),
        (3, same, "en", "s", len(same)),
        (4, uniq, "en", "s", len(uniq)),
        (5, "two tokens", "en", "s", 10),
    ]

    def tbl(subset):
        return pa.table(
            {
                "doc_id": pa.array([r[0] for r in subset], pa.int64()),
                "text": pa.array([r[1] for r in subset], pa.string()),
                "lang": pa.array([r[2] for r in subset], pa.string()),
                "source": pa.array([r[3] for r in subset], pa.string()),
                "n_chars": pa.array([r[4] for r in subset], pa.int64()),
            }
        )

    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from tests.conftest import SF_DIR

    d = tmp_path / ("lsh_edge_split" if split else "lsh_edge")
    docs_dir = d / "documents.parquet"
    os.makedirs(docs_dir)
    if split:
        pq.write_table(tbl(rows[:2]), str(docs_dir / "part-0.parquet"))
        pq.write_table(tbl(rows[2:]), str(docs_dir / "part-1.parquet"))
    else:
        pq.write_table(tbl(rows), str(docs_dir / "part-0.parquet"))
    # the established edge-corpus idiom: other tables symlinked so the
    # oracle harness can register its full view set (documents.parquet
    # here is a DIRECTORY — DuckDB's read_parquet globs it the same)
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(
                os.path.join(SF_DIR, f"{t}.parquet"),
                os.path.join(str(d), f"{t}.parquet"),
            )
    return str(d)


@pytest.mark.parametrize("split", [False, True])
def test_streaming_lsh_index_constructed_corpus(spark, tmp_path, split):
    """Exact expectations on the constructed corpus, with and without
    the cross-batch split of the identical cluster (the split run
    replays as two micro-batches — file-at-a-time trigger — so bucket
    state built in batch 1 must absorb batch 2's members): per band,
    2 buckets (cluster + unique), 4 indexed docs, exactly one
    candidate-generating bucket of width 3 carrying C(3,2)=3
    underlying pairs, representatives {1, 4}. The 2-token doc
    produces no signature and must not appear anywhere. Then full
    oracle parity on the same corpus."""
    from simple_etl_pipeline_spark.streaming.stateful import (
        ST_DEDUP_LSH_ORACLE,
        st_dedup_lsh_index,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    d = _lsh_edge_docs_dir(tmp_path, split)
    rows = st_dedup_lsh_index(spark, d).collect()
    assert [r.band for r in rows] == [0, 1, 2, 3]
    for r in rows:
        assert r.n_buckets == 2, r
        assert r.n_docs == 4, r
        assert r.n_cand_buckets == 1, r
        assert r.cand_pairs == 3, r
        assert r.max_bucket == 3, r
        assert r.rep_xor == 1 ^ 4, r
    compare_with_oracle(st_dedup_lsh_index(spark, d), ST_DEDUP_LSH_ORACLE, d)


def test_streaming_lsh_index_matches_oracle_on_testdata(spark, sf_dir):
    """Full replay of the incremental index equals the batch band
    index: the REAL DuckDB minhash CTE chain (not rows-only) on the
    shared testdata corpus — the r13 bank's driver-gate rehearsal."""
    from simple_etl_pipeline_spark.streaming.stateful import (
        ST_DEDUP_LSH_ORACLE,
        st_dedup_lsh_index,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    compare_with_oracle(
        st_dedup_lsh_index(spark, sf_dir), ST_DEDUP_LSH_ORACLE, sf_dir
    )


def test_streaming_lsh_index_shuffle_partition_invariance(spark, sf_dir):
    """The r13 registration-gate hard case (VERDICT r12 #2): the
    DRIVER's session config must not be able to reorder or drop late
    bucket state. The stateful shuffle keys on skey = hash(band, bkey)
    mod 256, so spark.sql.shuffle.partitions decides which TASK a
    state group lands in and in what order micro-batch rows reach it —
    if the min/+= state folding were order- or placement-dependent,
    1 vs 32 partitions would diverge. Pin bit-identical results across
    the extremes, plus oracle parity under the non-default layout (the
    batch-replay-equals-batch row re-proved under a config the test
    session never otherwise uses; the sf0.01/16-partition twin is the
    driver_sim gate itself, recorded in CORRECTNESS_r13)."""
    from simple_etl_pipeline_spark.streaming.stateful import (
        ST_DEDUP_LSH_ORACLE,
        st_dedup_lsh_index,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "1")
        rows_1 = [
            tuple(r) for r in st_dedup_lsh_index(spark, sf_dir).collect()
        ]
        spark.conf.set(conf, "32")
        rows_32 = [
            tuple(r) for r in st_dedup_lsh_index(spark, sf_dir).collect()
        ]
        assert rows_1 == rows_32, (
            "st_dedup_lsh_index diverges between 1 and 32 shuffle "
            "partitions — state placement leaked into the index"
        )
        compare_with_oracle(
            st_dedup_lsh_index(spark, sf_dir), ST_DEDUP_LSH_ORACLE, sf_dir
        )
    finally:
        spark.conf.set(conf, before)


# --- r14 bank: streaming embedding-drift monitor ---------------------------
def _emb_edge_dir(tmp_path, name: str, vecs: dict, split: bool) -> str:
    """Embeddings-only corpus for the streaming drift monitor; when
    `split`, the vectors are cut across two parquet files so the
    file-at-a-time replay must merge per-dim state across
    micro-batches (sum/count folding is batching-invariant — the
    property the shared oracle checks)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
    from tests.conftest import SF_DIR

    ids = sorted(vecs)

    def tbl(subset):
        return pa.table(
            {
                "vec_id": pa.array(subset, pa.int64()),
                "embedding": pa.array(
                    [vecs[k] for k in subset], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(subset), pa.int32()),
            }
        )

    d = tmp_path / name
    emb_dir = d / "embeddings.parquet"
    os.makedirs(emb_dir)
    if split:
        cut = max(1, len(ids) // 2)
        pq.write_table(tbl(ids[:cut]), str(emb_dir / "part-0.parquet"))
        pq.write_table(tbl(ids[cut:]), str(emb_dir / "part-1.parquet"))
    else:
        pq.write_table(tbl(ids), str(emb_dir / "part-0.parquet"))
    for t in TESTDATA_TABLES:
        if t != "embeddings":
            os.symlink(
                os.path.join(SF_DIR, f"{t}.parquet"),
                os.path.join(str(d), f"{t}.parquet"),
            )
    return str(d)


def test_streaming_embedding_drift_equals_batch_and_oracle(
    spark, sf_dir
):
    """Full replay of the streaming monitor equals the batch
    dq_embedding_drift ROW-FOR-ROW (the expressions are imported, the
    state folding is exact integer/decimal), and both satisfy the one
    shared DuckDB oracle — the r14 bank's driver-gate rehearsal."""
    from simple_etl_pipeline_spark.plans.similarity import (
        DQ_EMBEDDING_DRIFT_ORACLE,
        dq_embedding_drift,
    )
    from simple_etl_pipeline_spark.streaming.events import (
        st_embedding_drift,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    st_rows = [tuple(r) for r in st_embedding_drift(spark, sf_dir).collect()]
    batch_rows = [
        tuple(r) for r in dq_embedding_drift(spark, sf_dir).collect()
    ]
    assert st_rows == batch_rows
    compare_with_oracle(
        st_embedding_drift(spark, sf_dir), DQ_EMBEDDING_DRIFT_ORACLE, sf_dir
    )


@pytest.mark.parametrize("split", [False, True])
def test_streaming_embedding_drift_constructed_corpus(
    spark, tmp_path, split
):
    """The batch monitor's corruption zoo replayed THROUGH THE STREAM,
    with and without a two-file cut (the split run replays as two
    micro-batches, so dim state from batch 1 must absorb batch 2):
    NaN/±Inf excluded and counted in n_bad, exact micros means on the
    clean dim, the sign-staged negative means, and full parity against
    the shared oracle."""
    from tests.test_new_ops_invariants import _emb_parity

    from simple_etl_pipeline_spark.plans.similarity import (
        DQ_EMBEDDING_DRIFT_ORACLE,
    )
    from simple_etl_pipeline_spark.streaming.events import (
        st_embedding_drift,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    a_ids = [i for i in range(100) if _emb_parity(i) == 0]
    b_ids = [i for i in range(100) if _emb_parity(i) == 1]
    nan, inf = float("nan"), float("inf")
    vecs = {
        a_ids[0]: [0.25, nan, -0.5],
        a_ids[1]: [0.25, 1.0, -0.25],
        a_ids[2]: [0.25, inf, -0.75],
        b_ids[0]: [0.5, -inf, -0.5],
        b_ids[1]: [0.5, 2.0, -1.0],
    }
    d = _emb_edge_dir(
        tmp_path, f"stdrift_{'split' if split else 'one'}", vecs, split
    )
    out = {r.dim: r for r in st_embedding_drift(spark, d).collect()}
    assert sorted(out) == [0, 1, 2]
    d0 = out[0]
    assert (d0.n_a, d0.n_b, d0.n_bad) == (3, 2, 0)
    assert (d0.mean_a_micros, d0.mean_b_micros) == (250000, 500000)
    assert (d0.drift_ppm, bool(d0.flagged)) == (1000000, True)
    d1 = out[1]
    assert d1.n_bad == 3 and (d1.n_a, d1.n_b) == (1, 1)
    d2 = out[2]
    assert (d2.mean_a_micros, d2.mean_b_micros) == (-500000, -750000)
    compare_with_oracle(
        st_embedding_drift(spark, d), DQ_EMBEDDING_DRIFT_ORACLE, d
    )


def test_streaming_embedding_drift_empty_stream_half(spark, tmp_path):
    """A corpus whose every vector hashes into snapshot A: the STREAM
    side aggregates nothing (zero B rows), and the full-outer
    profile join must still emit every profiled dimension with
    n_b = 0 and NULL mean/delta/drift — the batch op's empty-half
    NULL semantics reproduced through the sink path."""
    from tests.test_new_ops_invariants import _emb_parity

    from simple_etl_pipeline_spark.plans.similarity import (
        DQ_EMBEDDING_DRIFT_ORACLE,
    )
    from simple_etl_pipeline_spark.streaming.events import (
        st_embedding_drift,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    a_ids = [i for i in range(60) if _emb_parity(i) == 0][:3]
    vecs = {a_ids[0]: [1.0], a_ids[1]: [2.0], a_ids[2]: [3.0]}
    d = _emb_edge_dir(tmp_path, "stdrift_onlya", vecs, split=False)
    rows = st_embedding_drift(spark, d).collect()
    assert len(rows) == 1
    row = rows[0]
    assert (row.n_a, row.n_b) == (3, 0)
    assert row.mean_a_micros == 2000000
    assert row.mean_b_micros is None
    assert row.delta_micros is None and row.drift_ppm is None
    assert row.flagged is None
    compare_with_oracle(
        st_embedding_drift(spark, d), DQ_EMBEDDING_DRIFT_ORACLE, d
    )


def test_streaming_embedding_drift_shuffle_partition_invariance(
    spark, sf_dir, tmp_path
):
    """The r14 registration-gate hard case (VERDICT r13 #2): unlike
    st_dedup_lsh_index's 256 hash-packed state groups, this op's state
    is complete-mode per-DIM aggregates — exactly 64 keys — so
    spark.sql.shuffle.partitions decides whether all dims share one
    task or spread across 32, and the micro-batch cut decides how many
    partial (count, decimal-sum, bad-count) folds each dim absorbs.
    If the folding were placement- or order-dependent (a float sum
    would be!), 1 vs 32 partitions or a different batch split would
    diverge. Pin bit-identical rows across the partition extremes on
    BOTH replay shapes — the stock single-file corpus (one micro-batch)
    and a two-file constructed corpus (two micro-batches, cross-batch
    state merge) — plus oracle parity under the non-default layout
    (the replay-equals-batch row re-proved under a config the test
    session never otherwise uses; the sf0.01/16-partition twin is the
    driver_sim gate itself, recorded in CORRECTNESS_r14)."""
    from tests.test_new_ops_invariants import _emb_parity

    from simple_etl_pipeline_spark.plans.similarity import (
        DQ_EMBEDDING_DRIFT_ORACLE,
    )
    from simple_etl_pipeline_spark.streaming.events import (
        st_embedding_drift,
    )
    from simple_etl_pipeline_spark.testing import compare_with_oracle

    a_ids = [i for i in range(100) if _emb_parity(i) == 0]
    b_ids = [i for i in range(100) if _emb_parity(i) == 1]
    vecs = {
        a_ids[0]: [0.125, -0.5, 0.75],
        a_ids[1]: [0.375, 1.25, -0.25],
        b_ids[0]: [0.625, -1.5, 0.5],
        b_ids[1]: [0.875, 2.0, -1.0],
        b_ids[2]: [0.0625, 0.25, 0.125],
    }
    two_batch_dir = _emb_edge_dir(tmp_path, "stdrift_inv", vecs, True)

    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    try:
        results = {}
        for parts in ("1", "32"):
            spark.conf.set(conf, parts)
            results[parts] = (
                [
                    tuple(r)
                    for r in st_embedding_drift(spark, sf_dir).collect()
                ],
                [
                    tuple(r)
                    for r in st_embedding_drift(
                        spark, two_batch_dir
                    ).collect()
                ],
            )
        assert results["1"] == results["32"], (
            "st_embedding_drift diverges between 1 and 32 shuffle "
            "partitions — per-dim state folding leaked placement or "
            "order into the drift profile"
        )
        compare_with_oracle(
            st_embedding_drift(spark, sf_dir),
            DQ_EMBEDDING_DRIFT_ORACLE,
            sf_dir,
        )
    finally:
        spark.conf.set(conf, before)
