"""Streaming sinks via foreachBatch: route each micro-batch through the
batch sink layer (reference K1-K4 semantics in a streaming context).

foreachBatch is the streaming fan-out primitive: the micro-batch is a
normal DataFrame, so every batch sink (CSV, JDBC, Sheets, the fan-out
with error isolation) works unchanged — one streaming query can feed
all of them with exactly-once file output per batch id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def stream_to_csv_batches(stream: DataFrame, output_path: str) -> StreamingQuery:
    """Write each micro-batch as out batch_<id>.csv under output_path;
    runs with availableNow (drain-and-stop)."""
    from simple_etl_pipeline_spark.sinks import EmptyOutputError
    from simple_etl_pipeline_spark.sinks.csv import save_to_csv

    os.makedirs(output_path, exist_ok=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            save_to_csv(batch_df, output_path, filename=f"batch_{batch_id}.csv")
        except EmptyOutputError:
            pass  # an empty micro-batch writes no file

    return (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(output_path, "_checkpoint"))
        .start()
    )


def stream_upsert_snapshot(
    stream: DataFrame,
    snapshot_path: str,
    key_cols: list[str],
    ts_col: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Streaming CDC: maintain a keyed parquet snapshot from a change
    stream (op column per operators/cdc semantics).

    Each micro-batch merges into the current snapshot via the join-free
    latest-wins merge and rewrites it out-of-place (write to .next, then
    swap) — Spark cannot overwrite a path it is lazily reading. The swap
    keeps a snapshot present at every instant: snapshot -> .old, then
    .next -> snapshot, then drop .old. (A naive rmtree-then-rename has a
    crash window with NO snapshot on disk; the next micro-batch would
    then rebuild from that batch alone, silently dropping every
    previously merged key.) A crash inside the swap leaves a dangling
    .old/.next pair that _recover() resolves on the next run; the
    checkpoint replays the interrupted batch, and the merge is
    idempotent, so recovery + replay converges.

    Commit primitive is os.rename — single-writer, local-FS semantics
    (tests run on local mode). On HDFS/object stores the same two-phase
    swap maps onto the store's atomic rename/commit API; the merge plan
    itself is distributed either way. At 100 TB the snapshot is
    partitioned and only affected partitions rewrite
    (operators/cdc.delete_keys shows that pruning); the merge logic is
    IDENTICAL, which is the point: batch semantics, verified against
    the batch tests, reused under readStream unchanged.
    """
    import shutil

    from simple_etl_pipeline_spark.operators.cdc import merge_changes

    old = snapshot_path + ".old"
    nxt = snapshot_path + ".next"

    def _recover() -> None:
        # Crash between snapshot->.old and .next->snapshot: restore .old
        # (the interrupted batch replays from the checkpoint). Any .next
        # is stale pre-commit output either way; any .old next to a live
        # snapshot is a post-commit leftover.
        if not os.path.exists(snapshot_path) and os.path.exists(old):
            os.rename(old, snapshot_path)
        if os.path.exists(nxt):
            shutil.rmtree(nxt)
        if os.path.exists(snapshot_path) and os.path.exists(old):
            shutil.rmtree(old)

    _recover()

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _recover()
        spark = batch_df.sparkSession
        if os.path.exists(snapshot_path):
            base = spark.read.parquet(snapshot_path)
            merged = merge_changes(base, batch_df, key_cols, ts_col)
        else:
            merged = merge_changes(
                batch_df.filter("1=0").drop("op"), batch_df, key_cols, ts_col
            )
        merged.write.mode("overwrite").parquet(nxt)
        if os.path.exists(snapshot_path):
            os.rename(snapshot_path, old)
        os.rename(nxt, snapshot_path)
        if os.path.exists(old):
            shutil.rmtree(old)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
