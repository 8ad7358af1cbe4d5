"""Streaming sinks beyond the memory sink.

``foreachBatch`` is the general-purpose exactly-once-ish sink: each
micro-batch arrives as a BATCH DataFrame with its epoch id, so any batch
writer (parquet, JDBC, MERGE-style upserts) can be reused; idempotence
comes from writing per-epoch paths or using the epoch id as a
transactional key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..sources.catalog import read_parquet


def parquet_epoch_sink(base_path: str):
    """foreachBatch writer: each epoch lands in ``{base}/epoch={id}/``.

    Re-delivered epochs overwrite their own directory (idempotent), never
    other epochs' data — the standard exactly-once-per-epoch recipe for
    file sinks without a transactional table format.
    """

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(base_path, f"epoch={epoch_id}"))

    return _write


def run_stream_to_parquet(stream_out: DataFrame, base_path: str, query_name: str):
    """Drive a streaming DataFrame to a per-epoch parquet sink until all
    available data is processed; returns the StreamingQuery (stopped)."""
    q = (
        stream_out.writeStream.foreachBatch(parquet_epoch_sink(base_path))
        .queryName(query_name)
        .option("checkpointLocation", os.path.join(base_path, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def upsert_latest_sink(base_path: str, key_cols, order_cols):
    """foreachBatch writer maintaining an incrementally-upserted
    LATEST-PER-KEY snapshot across epochs — the streaming materialized
    view / CDC-merge pattern on plain parquet.

    Each epoch unions the previous snapshot with the batch, rank-dedups
    to the newest row per key (ORDER BY ``order_cols`` DESC, so a LATE
    batch of old rows can never displace newer state — upsert by
    version, not by arrival), writes ``snap_{epoch}``, then flips the
    ``_LATEST`` pointer file.  Readers resolve the pointer
    (:func:`read_latest_snapshot`); a crash between write and flip
    leaves the previous consistent snapshot visible.  Re-delivered
    epochs are idempotent: the merge is a pure function of (state,
    batch).

    At scale the same loop runs as MERGE INTO on a lakehouse table
    (Delta path in sources/catalog is import-gated); the
    union+rank-dedup form here is the format-agnostic equivalent, and
    the rank filter compiles to WindowGroupLimit exactly like the batch
    latest_event_per_user plan.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [order_cols] if isinstance(order_cols, str) else list(order_cols)

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        combined = batch_df
        ptr = os.path.join(base_path, "_LATEST")
        if os.path.exists(ptr):
            with open(ptr) as fh:
                cur = fh.read().strip()
            combined = read_parquet(spark, os.path.join(base_path, cur)).unionByName(
                batch_df
            )
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
        snap = (
            combined.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
        )
        name = f"snap_{epoch_id}"
        snap.write.mode("overwrite").parquet(os.path.join(base_path, name))
        tmp = ptr + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(name)
        os.replace(tmp, ptr)

    return _write


def read_latest_snapshot(spark, base_path: str) -> DataFrame:
    """Resolve the ``_LATEST`` pointer and read the current snapshot."""
    ptr = os.path.join(base_path, "_LATEST")
    with open(ptr) as fh:
        cur = fh.read().strip()
    return read_parquet(spark, os.path.join(base_path, cur))


def run_stream_upsert(
    stream_out: DataFrame,
    base_path: str,
    query_name: str,
    *,
    key_cols,
    order_cols,
) -> None:
    """Drive a stream through :func:`upsert_latest_sink` until all
    available input is consumed."""
    q = (
        stream_out.writeStream.foreachBatch(
            upsert_latest_sink(base_path, key_cols, order_cols)
        )
        .queryName(query_name)
        .option("checkpointLocation", os.path.join(base_path, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def screened_append_sink(base_path: str, screen, append, accepted: str, id_col: str):
    """foreachBatch writer for screen-then-append ingestion into a
    persisted store: ``screen(spark, batch)``'s verdicts (one row per
    ``id_col``) land in ``{base}/results/epoch-{id}``, the batch rows whose
    verdict matches the SQL predicate ``accepted`` are left-semi-joined
    back, and ``append(spark, rows)`` folds them into the store — all on
    the batch's own (cloned micro-batch) session.

    foreachBatch is at-least-once.  A per-epoch applied marker makes a
    fully-applied epoch's redelivery a no-op.  The crash window between
    the append and the marker is covered by verdict reuse: complete
    (``_SUCCESS``) verdicts are read back instead of re-screening, which
    against the post-append store would reject the epoch's own accepted
    docs as exact twins and overwrite the verdicts with that answer.
    The append then re-runs, so it must leave the store unchanged when
    repeated: an anti-join on the stored ids, or set semantics."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = os.path.join(base_path, f"applied-epoch-{epoch_id}")
        if os.path.exists(marker):
            return
        edir = os.path.join(base_path, "results", f"epoch-{epoch_id}")
        if not os.path.exists(os.path.join(edir, "_SUCCESS")):
            screen(spark, batch_df).write.mode("overwrite").parquet(edir)
        keep = read_parquet(spark, edir).where(accepted).select(id_col)
        append(spark, batch_df.join(keep, id_col, "left_semi"))
        os.makedirs(marker)

    return _write


def run_screened_ingest(stream_out: DataFrame, base_path: str, query_name: str, *,
                        screen, append, accepted: str, id_col: str) -> DataFrame:
    """Drive a stream through :func:`screened_append_sink` until all
    available input is consumed; returns every epoch's verdicts."""
    q = (
        stream_out.writeStream.foreachBatch(
            screened_append_sink(base_path, screen, append, accepted, id_col)
        )
        .queryName(query_name)
        .option("checkpointLocation", os.path.join(base_path, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    results = os.path.join(base_path, "results")
    return stream_out.sparkSession.read.option("recursiveFileLookup", "true").parquet(results)
