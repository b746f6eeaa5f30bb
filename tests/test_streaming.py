"""Structured-Streaming surfaces: session_window sessionization and the
checkpointed extraction ingest (ukeeper_readability_spark/streaming/)."""

import datetime

import pytest
from pyspark.sql import functions as F

from ukeeper_readability_spark.pipeline.sessions import sessionize
from ukeeper_readability_spark.streaming import (
    run_extraction_stream,
    run_sessionize_stream_once,
    sessionize_stream,
)

pytestmark = pytest.mark.spark


def _batch_aggregates(events, gap_minutes=30):
    """Batch sessionize folded to the streaming output shape (no seq)."""
    return sessionize(events, gap_minutes=gap_minutes).select(
        "user_id", "n_events", "first_ts_epoch", "last_ts_epoch", "total_value"
    )


def _ev_rows(rows):
    return [
        (i, datetime.datetime(2026, 3, 1) + datetime.timedelta(seconds=s), u, "c", v)
        for i, (u, s, v) in enumerate(rows)
    ]


def test_session_window_matches_batch_semantics_incl_boundary(spark):
    """Boundary alignment (streaming/sessions.py): events EXACTLY
    gap-seconds apart share a session in the batch operator (split on
    gap > g, strict); session_window merges inclusively at the boundary so
    the same g agrees — and one second past the boundary splits."""
    g = 30 * 60
    rows = _ev_rows(
        [
            (1, 0, 1.0), (1, g, 2.0),          # exactly g apart: SAME session
            (1, 2 * g + 1, 4.0),               # g+1 after: NEW session
            (2, 0, 1.5), (2, 10, 2.5), (2, 10, 3.5),  # duplicate ts merge
            (3, 0, 7.0),                       # singleton
        ]
    )
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = sorted(map(tuple, sessionize_stream(ev).collect()))
    want = sorted(map(tuple, _batch_aggregates(ev).collect()))
    assert got == want
    by_user = {}
    for u, n, *_ in got:
        by_user[u] = by_user.get(u, 0) + 1
    assert by_user == {1: 2, 2: 1, 3: 1}


def test_sessionize_stream_runs_as_a_real_stream(spark, tmp_path):
    """availableNow file-source run → memory sink equals the batch operator
    on the same parquet bytes."""
    rows = _ev_rows(
        [(u, (i % 7) * 1000 + u, float(i)) for i, u in enumerate([1, 2, 3] * 30)]
    )
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    path = str(tmp_path / "ev_stream")
    ev.write.parquet(path)
    got = sorted(map(tuple, run_sessionize_stream_once(spark, path).collect()))
    want = sorted(
        map(tuple, _batch_aggregates(spark.read.parquet(path)).collect())
    )
    assert got == want and len(got) > 0


def test_sessionize_stream_once_cleans_up_on_failure(spark, tmp_path, monkeypatch):
    """A failure after start() must neither leak the memory-sink temp view
    nor leave the streaming query running."""
    from pyspark.sql.streaming.query import StreamingQuery

    rows = _ev_rows([(1, 0, 1.0), (2, 60, 2.0)])
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    path = str(tmp_path / "ev_fail")
    ev.write.parquet(path)

    def fail(self, timeout=None):
        raise RuntimeError("injected after start()")

    monkeypatch.setattr(StreamingQuery, "awaitTermination", fail)
    with pytest.raises(RuntimeError, match="injected"):
        run_sessionize_stream_once(spark, path, query_name="sess_fail_probe")
    assert not spark.catalog.tableExists("sess_fail_probe")
    assert all(q.name != "sess_fail_probe" for q in spark.streams.active)


def _transcripts(spark, n, start=0):
    from ukeeper_readability_spark.data.synth import fixture_transcripts_distributed

    t = fixture_transcripts_distributed(spark, n, partitions=2)
    if start:
        t = t.withColumn("turn_idx", (F.col("turn_idx") + F.lit(start)).cast("int"))
    return t


def test_extraction_stream_matches_batch_and_resumes(spark, tmp_path):
    """Streaming ingest produces byte-identical extractions to the batch
    job, and a checkpointed restart processes ONLY newly-arrived files (the
    S11 manifest-resume analogue)."""
    from ukeeper_readability_spark.jobs.extract_job import (
        join_rules,
        load_transcripts,
        run_extraction,
    )

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _transcripts(spark, 6).write.mode("append").parquet(inp)

    q = run_extraction_stream(spark, inp, outp, ckpt)
    q.awaitTermination()
    got1 = spark.read.parquet(outp).select("conv_id", "turn_idx", "content")
    want = run_extraction(
        join_rules(load_transcripts(spark, inp), None)
    ).select("conv_id", "turn_idx", "content")
    assert sorted(map(tuple, got1.collect())) == sorted(map(tuple, want.collect()))

    # new files arrive; restart with the SAME checkpoint
    _transcripts(spark, 4, start=1000).write.mode("append").parquet(inp)
    q2 = run_extraction_stream(spark, inp, outp, ckpt)
    q2.awaitTermination()
    out2 = spark.read.parquet(outp).select("conv_id", "turn_idx", "content")
    want2 = run_extraction(
        join_rules(load_transcripts(spark, inp), None)
    ).select("conv_id", "turn_idx", "content")
    # exactly-once: the union of both rounds, nothing duplicated
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, want2.collect()))
    # the second run consumed only the new files: row counts prove no replay
    assert out2.count() == want.count() + 4


def test_first_seen_dedup_stateful_across_restarts(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: within-batch duplicates
    collapse to the deterministic first row, and state persisted in the
    checkpoint suppresses keys RE-SENT after a query restart."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from ukeeper_readability_spark.streaming.dedup import first_seen_dedup_stream

    schema = "doc_hash string, doc_id long, text string"
    out_schema = StructType(
        [
            StructField("doc_hash", StringType()),
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        stream = spark.readStream.schema(
            spark.read.parquet(inp).schema
        ).parquet(inp)
        q = (
            first_seen_dedup_stream(
                stream, "doc_hash", ("doc_id",), out_schema
            )
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.doc_hash, r.doc_id)
            for r in spark.read.parquet(outp).collect()
        }

    # batch 1: h1 duplicated (ids 7 and 3 -> first is 3), h2 once
    got1 = run_once(
        [("h1", 7, "a"), ("h1", 3, "a"), ("h2", 1, "b")]
    )
    assert got1 == {("h1", 3), ("h2", 1)}
    # restart: h1/h2 re-sent (suppressed by restored state), h3 new
    got2 = run_once(
        [("h1", 1, "a"), ("h2", 9, "b"), ("h3", 5, "c")]
    )
    assert got2 == {("h1", 3), ("h2", 1), ("h3", 5)}


def test_sessionize_stream_append_watermark_drops_late_events(spark, tmp_path):
    """The production form for unbounded streams (streaming/sessions.py):
    append output + withWatermark. A session is emitted once the watermark
    passes its close; an event arriving AFTER the watermark moved beyond its
    session is dropped instead of mutating emitted results — the documented
    late-data trade."""
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run(rows):
        spark.createDataFrame(_ev_rows(rows), schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        from ukeeper_readability_spark.streaming import sessionize_stream

        stream = spark.readStream.schema(
            spark.read.parquet(inp).schema
        ).parquet(inp)
        q = (
            sessionize_stream(
                stream, gap_minutes=30, watermark_delay="10 minutes"
            )
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r.user_id, r.n_events, r.first_ts_epoch)
            for r in spark.read.parquet(outp).collect()
        )

    day = 86400
    # batch 1: user 1 session at t=[0, 60]; a far-future event advances the
    # watermark way past that session's close + gap + delay
    got1 = run([(1, 0, 1.0), (1, 60, 2.0), (9, 5 * day, 1.0)])
    # the old session is finalized and emitted; the future session is still
    # held open (watermark has not passed ITS close yet)
    assert [(u, n) for u, n, _ in got1] == [(1, 2)]
    # batch 2 (same checkpoint): a LATE event for user 1 inside the already-
    # finalized session window — beyond the watermark, must be dropped, the
    # emitted session must NOT change or duplicate
    got2 = run([(1, 30, 100.0)])
    assert [(u, n) for u, n, _ in got2] == [(1, 2)]
