"""Gap-based sessionization over an event stream table.

Batch sessionization (window functions): one shuffle on user_id; per-user
state is a running sum over an ordered window. Its incremental re-expression
over session_window is streaming/sessions.py (sessionize_stream).

Column contract: events are (user_id, event_id, ts, value); sessions split
on `ts` gaps within a user_id, with event_id breaking timestamp ties. The
operators read those names and take no column-name parameters.

At 10^12-event scale even that one shuffle should come from the TABLE LAYOUT,
not runtime: store events bucketed by user_id (ensure_events_bucketed below)
and the window + agg run with ZERO Exchange operators — the bucketed scan's
HashPartitioning(user_id) satisfies both the window's and the groupBy's
required distribution, leaving only per-partition local sorts.
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: marker written next to the bucketed files; leading "_" keeps it out of
#: Spark's data-file listing (same convention as _SUCCESS)
_BUCKET_SPEC_FILE = "_bucket_spec.json"

#: below this average per-bucket row count the bucketed layout's per-file
#: overhead outweighs the shuffle it avoids (measured in BENCH.md: at 100k
#: events / 64 buckets the bucketed read is SLOWER than the 240 KB shuffle)
MIN_AVG_ROWS_PER_BUCKET = 4096

#: the bucketed layout's sort order: sessionize's window order within a user
_SORT_COLS = ("user_id", "ts", "event_id")


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Split each user's events into sessions at inactivity gaps.

    Returns (user_id, session_seq, n_events, first_ts_epoch, last_ts_epoch,
    total_value); timestamp ties are ordered by event_id.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ needs a tz-typed hop before epoch; any consistent offset
    # cancels out in the gap differences
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    with_sessions = events.withColumn("_new", new_session).withColumn(
        "session_seq", F.sum("_new").over(run)
    )
    return (
        with_sessions.withColumn("_ep", epoch)
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_ep").alias("first_ts_epoch"),
            F.max("_ep").alias("last_ts_epoch"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


def ensure_events_bucketed(
    spark: SparkSession,
    events: DataFrame,
    path: str,
    table: str = "events_bucketed",
    nbuckets: int = 64,
) -> DataFrame:
    """Materialize (once) and register `events` as a user_id-bucketed table.

    This is the 100 TB layout for sessionize: the bucketed scan reports
    HashPartitioning(user_id), so the window partitionBy and the session
    groupBy both run WITHOUT an Exchange (plan-asserted in
    tests/test_plan_shape.py). Files written by a previous session are
    re-registered via external-table DDL — bucket metadata lives in the
    catalog, the bucket id lives in the file names Spark wrote. The first
    write drops a `_bucket_spec.json` marker (nbuckets, bucket/sort columns,
    and `num_rows` summed from the footers just written) next to the files;
    re-registration VERIFIES the marker's layout keys and raises on a
    mismatch or an interrupted/foreign write — registering DDL the files
    don't satisfy would make the exchange-free sessionize silently wrong.

    Corpus sizing: bucketing pays off when buckets hold at least a few
    thousand rows each (MIN_AVG_ROWS_PER_BUCKET); below that the per-file
    open/footer overhead of nbuckets near-empty parquet files costs more
    than the small shuffle it avoids (BENCH.md measures the crossover). A
    warning fires in that regime — shrink nbuckets or keep the plain
    layout. Re-registration sizes from the marker's `num_rows` without
    listing or opening a bucket file; a marker without `num_rows` (written
    before the count was kept) skips the check. At the 10^12-row target,
    size nbuckets so each bucket is a few hundred MB of parquet.

    Iceberg equivalent (env has no Iceberg runtime jar, CLAUDE.md):
        CREATE TABLE events (...) USING iceberg
        PARTITIONED BY (bucket(64, user_id))
    with spark.sql.iceberg.planning.preserve-data-grouping=true for
    storage-partitioned (exchange-free) reads.
    """
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in events.schema.fields
    )
    spec = {"nbuckets": nbuckets, "bucket_col": "user_id", "sort_cols": list(_SORT_COLS)}
    marker = os.path.join(path, _BUCKET_SPEC_FILE)
    have_files = os.path.isdir(path) and any(
        fn.startswith("part-") for fn in os.listdir(path)
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if not have_files:
        (
            events.write.mode("overwrite")
            .bucketBy(nbuckets, "user_id")
            .sortBy(*_SORT_COLS)
            .option("path", path)
            .saveAsTable(table)
        )
        # row count from the parquet FOOTERS just written (a metadata read,
        # not a scan job), kept in the marker so that re-registration never
        # lists or opens the bucket files — an O(files) cost at the
        # 10^12-row target
        import pyarrow.parquet as _pq

        n_rows = sum(
            _pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows
            for fn in os.listdir(path)
            if fn.startswith("part-") and fn.endswith(".parquet")
        )
        # marker LAST: an interrupted write leaves part- files with no
        # marker, which the re-registration branch refuses below
        with open(marker, "w") as f:
            json.dump({**spec, "num_rows": n_rows}, f)
    else:
        if not os.path.isfile(marker):
            raise ValueError(
                f"{path} has data files but no {_BUCKET_SPEC_FILE} marker "
                "(interrupted or foreign write?) — refusing to register a "
                "bucket layout the files may not have; delete the directory "
                "and rewrite"
            )
        with open(marker) as f:
            existing = json.load(f)
        if {k: existing.get(k) for k in spec} != spec:
            raise ValueError(
                f"bucket layout mismatch at {path}: files were written with "
                f"{existing}, caller asked for {spec} — registering the "
                "requested DDL would silently corrupt exchange-free "
                "sessionize results; delete the directory to rewrite"
            )
        n_rows = existing.get("num_rows")
        spark.sql(
            f"""
            CREATE TABLE {table} ({ddl}) USING PARQUET
            CLUSTERED BY (user_id)
            SORTED BY ({", ".join(_SORT_COLS)})
            INTO {nbuckets} BUCKETS
            LOCATION '{path}'
            """
        )
    out = spark.table(table)
    if n_rows and n_rows / nbuckets < MIN_AVG_ROWS_PER_BUCKET:
        warnings.warn(
            f"events_bucketed: {n_rows} rows across {nbuckets} buckets averages "
            f"{n_rows // nbuckets} rows/bucket (< {MIN_AVG_ROWS_PER_BUCKET}); at "
            "this size the bucketed read's per-file overhead exceeds the "
            "shuffle it avoids (see BENCH.md) — shrink nbuckets or keep the "
            "plain layout",
            stacklevel=2,
        )
    return out
