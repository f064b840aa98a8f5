"""Structured Streaming surface (SURVEY.md §2.8 — north-star optional).

The reference is one-shot batch (report only after EOF, c/main.c:485), so
there is no stateful semantics to replicate; what a live log pipeline needs
is the same parse -> route -> aggregate with watermarked event-time windows:

- read_sequence_stream: file-source stream of the tokenized table,
- stream_hourly_counts: tumbling window + watermark (late-line tolerant),
- stream_fan_out: foreachBatch routing to the same per-sink layout as batch
  (exactly-once per micro-batch via the idempotent partitioned write).

The parse op (a ``mapInArrow``) and report expressions are THE SAME
objects as batch — one code path, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nginx_log_spark.datagen.loggen import SEQ_SCHEMA
from nginx_log_spark.parse import parse_sequences
from nginx_log_spark.reports.reports import time_local_to_ts


def read_sequence_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(SEQ_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_hourly_counts(seq_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-hour hits/bytes per status — the streaming twin
    of the hourly dim of reports.fused_reports (all_reports' hourly_traffic
    view)."""
    parsed = parse_sequences(seq_stream).filter(F.col("valid"))
    with_ts = parsed.withColumn("ts", time_local_to_ts(F.col("time_local")))
    return (
        with_ts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("status"))
        .agg(F.count(F.lit(1)).alias("hits"), F.sum("body_bytes_sent").alias("bytes"))
        .select(F.col("win.start").alias("hour"), "status", "hits", "bytes")
    )


def stream_dedup(
    seq_stream: DataFrame,
    watermark: str = "2 hours",
    id_col: str = "doc_id",
    time_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each id within
    the watermark horizon (dropDuplicatesWithinWatermark) — the streaming
    twin of exact_dedup for an at-least-once upstream (replayed files,
    Kafka redelivery). State is bounded by the watermark: ids older than
    the horizon are evicted, so memory is O(ids per horizon), not O(all
    ids ever) — the only shape that survives an unbounded stream."""
    parsed = parse_sequences(seq_stream).filter(F.col("valid"))
    with_ts = parsed.withColumn(time_col, time_local_to_ts(F.col("time_local")))
    return with_ts.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


SESSION_GAP_US = 30 * 60 * 1_000_000


def stream_sessionize(
    events_stream: DataFrame, gap_us: int = SESSION_GAP_US
) -> DataFrame:
    """Cross-batch stateful sessionization — the custom stateful operator
    Spark's built-ins don't provide exactly (session_window can't emit
    running sessions in complete mode), via applyInPandasWithState.

    Input stream columns: (event_id long, user_id long, us long) — event
    time as epoch microseconds. Per user (the state key), state carries the
    OPEN session (last_us, start_us, n). Each micro-batch merges its events
    (vectorized: numpy diff + cumsum inside the group, no per-row Python),
    emits every session it touched — closed ones final, the open one grown —
    in UPDATE semantics. Because (end_us, n_events) grow monotonically for a
    fixed (user_id, start_us), downstream folds the update log exactly with
    groupBy(user_id, start_us).agg(max(end_us), max(n_events))
    (sessionize_fold). Requires per-user batch arrival in event-time order
    (file source with time-ranged files; a real deployment uses Kafka
    partition time-ordering or a watermark-delayed reorder) — a late batch
    is DETECTED against the stored state and raises, so disorder fails
    loudly instead of corrupting sessions.

    Scale shape: state is O(active users), shuffled once by the group key;
    each batch's work is vectorized per group; no global ordering anywhere.
    """
    import numpy as np
    import pandas as pd

    def fn(key, pdf_iter, state):
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["us", "event_id"])
        us = rows["us"].to_numpy(np.int64)
        if state.exists:
            last_us, start_us, n0 = state.get
        else:
            last_us, start_us, n0 = None, None, 0
        if last_us is not None and us[0] < last_us:
            # a late batch would produce a negative gap and silently merge/
            # corrupt sessions (the monotone-growth invariant sessionize_fold
            # depends on) — disorder must fail loudly, not fold quietly
            raise ValueError(
                f"stream_sessionize: out-of-order batch for user {key[0]}: "
                f"event at {int(us[0])}us precedes session state at {int(last_us)}us "
                "(per-user batches must arrive in event-time order)"
            )
        prev = np.empty_like(us)
        prev[0] = last_us if last_us is not None else 0
        prev[1:] = us[:-1]
        new_s = (us - prev) > gap_us
        if last_us is None:
            new_s[0] = True
        sid = np.cumsum(new_s)  # 0 = continuation of the open session
        agg = (
            pd.DataFrame({"sid": sid, "us": us})
            .groupby("sid")["us"]
            .agg(["min", "max", "count"])
            .reset_index()
        )
        starts, ends, counts = [], [], []
        for r in agg.itertuples():
            if r.sid == 0:
                starts.append(int(start_us))
                counts.append(int(n0) + int(r.count))
            else:
                starts.append(int(r.min))
                counts.append(int(r.count))
            ends.append(int(r.max))
        state.update((int(ends[-1]), int(starts[-1]), int(counts[-1])))
        yield pd.DataFrame(
            {
                "user_id": np.full(len(starts), key[0], dtype=np.int64),
                "start_us": starts,
                "end_us": ends,
                "n_events": counts,
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, start_us long, end_us long, n_events long",
        stateStructType="last_us long, start_us long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_fold(updates: DataFrame) -> DataFrame:
    """Fold the update-mode session log to final sessions: for a fixed
    (user_id, start_us) the open session only ever GROWS, so max() is the
    exact last-writer-wins fold."""
    return updates.groupBy("user_id", "start_us").agg(
        F.max("end_us").alias("end_us"), F.max("n_events").alias("n_events")
    )


def stream_fan_out(seq_stream: DataFrame, out_base: str, checkpoint_dir: str):
    """foreachBatch routing through the SAME single-scan batch fan-out
    writer, partitioned by epoch with DYNAMIC partition overwrite.

    Exactly-once effect: a micro-batch retried after a partial write (sink
    failure, driver restart between write and checkpoint commit) REPLACES
    its own epoch partitions instead of appending duplicates — the file
    source replays a deterministic batch per epoch, so the rewrite converges.
    Layout: {out}/sink=routed|rejects/status_class=…/source=…/epoch=N/.
    """
    from nginx_log_spark.route import fan_out_write

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        parsed = parse_sequences(batch_df).withColumn("epoch", F.lit(int(epoch_id)))
        fan_out_write(
            parsed, out_base, mode="overwrite",
            extra_partition_cols=["epoch"], dynamic_overwrite=True,
        )

    return (
        seq_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stream_incremental_dedup(
    doc_stream: DataFrame,
    index_dir: str,
    kept_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming exact dedup against an UNBOUNDED history — the shape
    stream_dedup (dropDuplicatesWithinWatermark) cannot cover: its state
    is bounded by the watermark horizon, so a duplicate arriving a month
    later slips through. Here the history lives outside streaming state
    entirely, as the on-disk digest index (functions/dedup.py::
    incremental_dedup): every micro-batch is (1) deduped against the
    index + itself, (2) appended to the kept sink, (3) its new digests
    appended to the index. Per-batch cost is batch-sized; the index is
    the same 16-bytes-per-retained-doc artifact the batch pipeline uses,
    so batch ingest and streaming ingest share one dedup history.

    Exactly-once effect: digests are appended WITH the epoch id; a
    replayed micro-batch re-derives the same kept set because its own
    epoch's digests are excluded from the index view it reads (self-joins
    against a half-written epoch would otherwise drop everything on
    retry). Kept rows are epoch-partitioned dynamic overwrite, same as
    stream_fan_out.
    """
    from nginx_log_spark.functions import incremental_dedup

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        from nginx_log_spark.fsutil import read_parquet_or_empty

        spark = batch_df.sparkSession
        # explicit existence probe: ONLY a genuinely absent index means
        # "first batch". A transient read fault must propagate (and fail
        # the micro-batch for retry) — swallowing it as empty history
        # would silently re-admit every duplicate into the kept sink.
        seen = read_parquet_or_empty(
            spark, index_dir, "digest string, epoch long"
        ).filter(F.col("epoch") != int(epoch_id))
        kept = incremental_dedup(batch_df, seen, text_col, id_col)
        (
            kept.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(kept_dir)
        )
        (
            kept.select("digest").withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(index_dir)
        )

    return (
        doc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
