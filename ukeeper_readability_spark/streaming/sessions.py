"""Streaming gap sessionization via Spark's native session_window.

The batch operator (pipeline/sessions.py) numbers each user's sessions with
a running sum over an ordered window — a shape that needs the user's full
history and therefore cannot run incrementally. The streaming re-expression
drops the sequence number and keys sessions by their TIME RANGE instead:
`groupBy(user_id, session_window(ts, gap))`, Spark's built-in stateful
session operator (merging session state store, SPARK-10816).

Gap-boundary alignment (load-bearing): the batch operator starts a new
session when the inter-event gap is STRICTLY GREATER than `gap` seconds
(`gap > g`, pipeline/sessions.py:42), i.e. events exactly `g` apart share a
session. Spark's `session_window(ts, g)` merges INCLUSIVELY at the
boundary: an event exactly `g` after the previous one still extends the
session (verified empirically — an exclusive-end reading would need g+1s
here; the exact-boundary unit test pins whichever Spark does). So the same
`g` yields identical sessions: merge iff gap ≤ g on both sides. The
equality is pinned by the `events_sessionize_stream` value-hash gate (which
shares its DuckDB oracle's session definition with the batch gate) and an
exact-boundary unit test.

At 10^12-event scale run this in `append` output mode with
`withWatermark(ts, delay)` so session state is evicted once the watermark
passes a session's close (late events beyond the delay are dropped — the
documented trade). The gate/test harness uses `complete` mode + availableNow
instead: it processes a bounded corpus to its end deterministically, where
append mode would hold back every session newer than the watermark delay.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark_delay: str | None = None,
) -> DataFrame:
    """Session aggregates per (user, session time-range).

    Columns: (user_id, n_events, first_ts_epoch, last_ts_epoch,
    total_value) — the batch operator's output minus the non-incremental
    session_seq. Works on both batch and streaming DataFrames (the batch
    form is what the equivalence test compares).
    """
    # same g as batch: session_window merges inclusively at the boundary
    # (gap == g extends the session), matching batch's strict gap > g split
    gap = f"{gap_minutes * 60} seconds"
    if watermark_delay is not None:
        # the watermark must attach to the very attribute session_window
        # groups on — a cast EXPRESSION over a watermarked column loses the
        # event-time tag and append mode rejects the aggregation
        events = events.withColumn(
            ts_col, F.col(ts_col).cast("timestamp")
        ).withWatermark(ts_col, watermark_delay)
        ep = F.col(ts_col)
    else:
        ep = F.col(ts_col).cast("timestamp")
    return (
        events.groupBy(
            F.col(user_col), F.session_window(ep, gap).alias("_w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ep.cast("long")).alias("first_ts_epoch"),
            F.max(ep.cast("long")).alias("last_ts_epoch"),
            F.round(F.sum(value_col), 6).alias("total_value"),
        )
        .select(
            user_col, "n_events", "first_ts_epoch", "last_ts_epoch",
            "total_value",
        )
    )


def run_sessionize_stream_once(
    spark: SparkSession,
    events_path: str,
    gap_minutes: int = 30,
    query_name: str | None = None,
) -> DataFrame:
    """Run the streaming sessionization over a parquet file source to
    completion (availableNow) into a memory sink and return the result as a
    normal DataFrame — the shape the driver's correctness gate collects.
    `complete` output mode: bounded corpus, deterministic final answer (see
    module docstring for the append+watermark production form)."""
    name = query_name or f"sess_stream_{uuid.uuid4().hex[:8]}"
    schema = spark.read.parquet(events_path).schema
    staged = None
    if os.path.isfile(events_path):
        # the file stream source requires a DIRECTORY basePath; stage a
        # single-file table behind a symlink dir (removed in the finally —
        # ADVICE r5: repeated gate runs used to leak one dir per invocation)
        staged = tempfile.mkdtemp(prefix="ukeeper_stream_")
        os.symlink(events_path, os.path.join(staged, os.path.basename(events_path)))
        events_path = staged
    q = None
    try:
        stream = spark.readStream.schema(schema).parquet(events_path)
        q = (
            sessionize_stream(stream, gap_minutes=gap_minutes)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # snapshot the memory sink so the temp view can be dropped (ADVICE
        # r5: one registered sink table per invocation accumulated in
        # long-lived sessions); localCheckpoint keeps the rows alive after
        # the view is gone without re-running the stream
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        # on the error path too: a failed run must not leave a running query
        # or its registered sink view behind
        if q is not None:
            if q.isActive:
                q.stop()
            spark.catalog.dropTempView(name)
        if staged is not None:
            shutil.rmtree(staged, ignore_errors=True)
