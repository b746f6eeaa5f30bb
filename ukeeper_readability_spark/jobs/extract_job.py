"""The Spark extraction job.

Idiomatic plan (SURVEY.md §3.4) — scan → broadcast hash join (rule lookup,
reference datastore/rules.go:35-57) → explicit conv_id-hash repartition with a
salting knob for skewed conversations → one Arrow-vectorized mapInPandas running
the whole per-document pipeline → per-partition metrics + manifest (resumable
restarts) → sink. No other shuffle: after the broadcast the job is
embarrassingly parallel, which is the point at 10^12 turns.

Scale notes:
- the rules table is tiny (<10^4 rows) → F.broadcast, never a shuffle join;
- extraction cost is per-document CPU (HTML parse dominates), so partition
  count is sized to cores × a small factor; document-size skew (not conv_id
  cardinality) is the real skew — the salt knob spreads a conversation's turns;
- metrics are counted inside the UDF and aggregated by spark_partition_id()
  (deterministic under retries, unlike accumulators).
"""

from __future__ import annotations

import gc
import os
import uuid
from itertools import repeat
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..engine.extract import (
    DEFAULT_SNIPPET_SIZE,
    extract_document,
    extract_document_bytes,
)
from ..htmldom.gostr import to_valid_utf8
from .schemas import (
    EXTRACTED_FIELDS,
    EXTRACTED_WITH_METRICS_SCHEMA,
    MANIFEST_SCHEMA,
    RULES_SCHEMA,
    TRANSCRIPTS_SCHEMA,
)

# Go url.Parse().Host: authority without userinfo, WITH port (rules join key,
# datastore/rules.go:43). Spark's parse_url(..,'HOST') drops the port, so we
# extract the netloc ourselves — still a built-in JVM expression.
_HOST_REGEX = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#]*)"


def get_spark(
    app_name: str = "ukeeper-readability-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = b.config("spark.ui.showConsoleProgress", "false")
    b = b.config("spark.sql.adaptive.enabled", "true")
    b = b.config("spark.sql.execution.arrow.pyspark.enabled", "true")
    # ~2 MB arrow batches for 10-20 KB HTML payloads: the default 10k-row
    # batches would be 150 MB+ per exchange (memory-hostile at 100 TB scale)
    # and serialize JVM↔Python pipelining; small batches overlap the stages
    b = b.config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
    # local-mode heap: the default 1g driver JVM OOMs in wide-row shuffles
    # (e.g. the dedup chain's per-pair shingle arrays at 120k docs); on a
    # real cluster this is spark.executor.memory via spark-submit instead
    b = b.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        # bench knob: shuffle spill location (e.g. /dev/shm to quantify how
        # much of a scaling gap is the single shared disk — BENCH.md)
        b = b.config("spark.local.dir", local_dir)
    return b.getOrCreate()


def load_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Iceberg in production (`spark.read.format("iceberg")`); parquet here."""
    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)


def load_rules(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(RULES_SCHEMA).parquet(path)


def with_host(df: DataFrame, url_col: str = "tool") -> DataFrame:
    return df.withColumn("host", F.regexp_extract(F.col(url_col), _HOST_REGEX, 1))


def enabled_rules_first_match(rules: DataFrame) -> DataFrame:
    """RulesDAO.Get semantics: enabled only, one rule per domain (first match —
    we make 'first' deterministic: lowest id; datastore/rules.go:43,54)."""
    w = Window.partitionBy("domain").orderBy(F.col("id").asc_nulls_last())
    return (
        rules.filter(F.col("enabled"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("domain").alias("host"),
            F.col("content").alias("rule_content"),
            F.col("use_cloudflare").alias("rule_use_cloudflare"),
        )
    )


def join_rules(
    transcripts: DataFrame, rules: Optional[DataFrame], cf_route_all: bool = False
) -> DataFrame:
    """Broadcast hash join by host — replaces the per-request Mongo lookup that
    the reference shares between routing and parsing (readability.go:112-118)."""
    df = with_host(transcripts)
    if rules is None:
        df = df.withColumn("rule_content", F.lit(None).cast("string"))
        df = df.withColumn("rule_use_cloudflare", F.lit(None).cast("boolean"))
    else:
        df = df.join(F.broadcast(enabled_rules_first_match(rules)), "host", "left")
    # pickRetriever (extractor/readability.go:59-70) as a metadata column
    return df.withColumn(
        "routed_cloudflare",
        F.lit(cf_route_all) | F.coalesce(F.col("rule_use_cloudflare"), F.lit(False)),
    )


def extract_by_rule(
    transcripts: DataFrame,
    rule_selector: str,
    use_cloudflare: bool = False,
    snippet_size: int = DEFAULT_SNIPPET_SIZE,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Preview semantics (reference rest/server.go:204-274 handlePreview /
    extractor ExtractByRule): apply an explicit rule literal to every row,
    bypassing the rules-table lookup; rows where the selector matches nothing
    fall back to the general parser exactly like the service does."""
    df = with_host(transcripts)
    df = df.withColumn("rule_content", F.lit(rule_selector))
    df = df.withColumn("routed_cloudflare", F.lit(use_cloudflare))
    return run_extraction(df, snippet_size, num_partitions)


def _make_extract_batches(snippet_size: int, binary: bool = False):
    columns = EXTRACTED_WITH_METRICS_SCHEMA.fieldNames()

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # DOM trees are parent/child reference cycles; threshold-based GC
        # thrashes on them (~10% of extraction time). Collect once per Arrow
        # batch instead — bounded memory, no mid-document pauses.
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for pdf in batches:
                rows = []
                headers = pdf["header_content_type"].values if binary else repeat(None)
                for conv, turn, text, tool, rule, routed, header in zip(
                    pdf["conv_id"].values, pdf["turn_idx"].values,
                    pdf["body_bytes" if binary else "text"].values,
                    pdf["tool"].values, pdf["rule_content"].values,
                    pdf["routed_cloudflare"].values, headers,
                ):
                    tool = tool if tool is not None else ""
                    rule = rule if rule else None
                    if binary:
                        r = extract_document_bytes(
                            text if text is not None else b"", tool,
                            rule_selector=rule, snippet_size=snippet_size,
                            header_content_type=header if header else None,
                        )
                        # Arrow string columns must be valid UTF-8: corrupt input
                        # bytes survive the engine as surrogateescape chars (Go Nop
                        # parity, engine/charset.py) and become U+FFFD only here, at
                        # the columnar boundary. images/lead can carry corrupt bytes
                        # from src attributes verbatim (links are already %XX-escaped
                        # by normalize_links, scrubbed anyway for defense).
                        for k in ("content", "rich_content", "title", "excerpt",
                                  "lead_image_url", "domain"):
                            r[k] = to_valid_utf8(r[k])
                        for k in ("images", "links"):
                            if r[k]:
                                r[k] = [to_valid_utf8(x) for x in r[k]]
                    else:
                        r = extract_document(
                            text if text is not None else "", tool,
                            rule_selector=rule, snippet_size=snippet_size,
                        )
                    r.update(conv_id=conv, turn_idx=turn, routed_cloudflare=bool(routed))
                    r.update(("m_" + k, v) for k, v in r.pop("metrics").items())
                    rows.append(r)
                yield pd.DataFrame(rows, columns=columns)
                gc.collect()
        finally:
            if gc_was_enabled:
                gc.enable()

    return extract_batches


def _run_extract(
    joined: DataFrame, cols: list, binary: bool, snippet_size, num_partitions, salt_buckets
) -> DataFrame:
    """The plan both extraction entry points share: explicit column pruning
    into the scan, the optional conv_id (+ salt) repartition, the Arrow UDF."""
    slim = joined.select(*cols)
    if num_partitions:
        if salt_buckets > 1:
            salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt_buckets))
            slim = slim.repartition(num_partitions, F.col("conv_id"), salt)
        else:
            slim = slim.repartition(num_partitions, F.col("conv_id"))
    return slim.mapInPandas(
        _make_extract_batches(snippet_size, binary=binary),
        EXTRACTED_WITH_METRICS_SCHEMA,
    )


def run_extraction(
    joined: DataFrame,
    snippet_size: int = DEFAULT_SNIPPET_SIZE,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 0,
) -> DataFrame:
    """Explicit conv_id-hash partitioning (north_rule) + the Arrow UDF.

    salt_buckets>0 spreads a single conversation's turns across that many salt
    values — the mitigation for a conversation with 10^6 turns landing on one
    task. Extraction is per-turn, so salting never changes results, only layout.
    """
    cols = ["conv_id", "turn_idx", "text", "tool", "rule_content", "routed_cloudflare"]
    return _run_extract(joined, cols, False, snippet_size, num_partitions, salt_buckets)


def run_extraction_bytes(
    joined: DataFrame,
    snippet_size: int = DEFAULT_SNIPPET_SIZE,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 0,
) -> DataFrame:
    """Raw-crawl entry: same plan as run_extraction but over a BINARY
    `body_bytes` column plus a `header_content_type` column; the UDF runs
    toUtf8 (BOM/prescan/windows-1252 semantics, engine/charset.py) before the
    string pipeline — the path a user ingesting undecoded HTTP bodies hits
    (reference extractor/readability.go:122-133)."""
    cols = [
        "conv_id", "turn_idx", "body_bytes", "header_content_type", "tool",
        "rule_content", "routed_cloudflare",
    ]
    return _run_extract(joined, cols, True, snippet_size, num_partitions, salt_buckets)


def _metric_aggs():
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum("m_nodes_scored").alias("nodes_scored"),
        F.sum("m_candidates_rejected").alias("candidates_rejected"),
        F.sum("m_bytes_stripped").alias("bytes_stripped"),
        F.sum("m_rule_hit").alias("rule_hits"),
        F.sum("m_general_parse").alias("general_parses"),
        F.sum("m_retries_relaxed").alias("retries_relaxed"),
    ]


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition metrics (north_rule) without accumulator nondeterminism."""
    return (
        extracted.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            *_metric_aggs(),
            F.min("conv_id").alias("conv_id_min"),
            F.max("conv_id").alias("conv_id_max"),
        )
    )


EXTRACTED_COLS = [f.name for f in EXTRACTED_FIELDS]


def write_with_manifest(
    extracted: DataFrame,
    output_path: str,
    run_id: Optional[str] = None,
    nbuckets: int = 32,
    attempt: int = 1,
    buckets: Optional[list] = None,
) -> str:
    """Resumable sink: output partitioned by a stable conv_id hash bucket with
    dynamic partition overwrite (idempotent per-bucket restart) + a manifest row
    per bucket (FIXTURES.md §4). In production both are Iceberg tables and the
    write is `writeTo(...).overwritePartitions()`."""
    run_id = run_id or uuid.uuid4().hex
    spark = extracted.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    metric_cols = [f.name for f in extracted.schema if f.name.startswith("m_")]
    to_write = extracted.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(nbuckets)).cast("int")
    ).select(*EXTRACTED_COLS, *metric_cols, "bucket")
    data_path = os.path.join(output_path, "extracted")
    to_write.write.mode("overwrite").partitionBy("bucket").parquet(data_path)

    # manifest from what was actually written (read-back: metrics reflect the
    # committed files, not a possibly-retried in-flight computation); explicit
    # schema — an empty partial write must not break inference
    written = spark.read.schema(to_write.schema).parquet(data_path)
    # a bucket this run was responsible for but that held no rows still gets a
    # manifest entry — otherwise resume would re-run empty buckets forever
    intended = buckets if buckets is not None else list(range(nbuckets))
    intended_df = spark.createDataFrame([(int(b),) for b in intended], "bucket int")
    stats = written.groupBy("bucket").agg(
        *_metric_aggs(),
        F.expr("bit_xor(xxhash64(content))").alias("checksum"),
    )
    manifest = (
        intended_df.join(stats, "bucket", "left")
        .na.fill(0)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("attempt", F.lit(attempt))
        .withColumn("completed_ts", F.current_timestamp())
        .select([f.name for f in MANIFEST_SCHEMA.fields])
    )
    manifest.write.mode("append").parquet(os.path.join(output_path, "manifest"))
    return run_id


def pending_buckets(spark: SparkSession, output_path: str, nbuckets: int) -> list:
    """Buckets not yet recorded in the manifest → what a restart must process."""
    manifest_path = os.path.join(output_path, "manifest")
    try:
        done = {
            r.bucket
            for r in spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path).select("bucket").distinct().collect()
        }
    except Exception:
        done = set()
    return [b for b in range(nbuckets) if b not in done]


def filter_pending(transcripts: DataFrame, pending: list, nbuckets: int) -> DataFrame:
    """Resume filter: keep only turns whose conv_id bucket is pending."""
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(nbuckets)).cast("int")
    return transcripts.filter(bucket.isin(pending))


def run_pipeline(
    spark: SparkSession,
    transcripts_path: str,
    rules_path: Optional[str] = None,
    output_path: Optional[str] = None,
    snippet_size: int = DEFAULT_SNIPPET_SIZE,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 0,
    cf_route_all: bool = False,
    source_partitioned: bool = False,
) -> DataFrame:
    """source_partitioned=True declares that the input table is ALREADY laid
    out by conv_id hash (Iceberg `PARTITIONED BY (bucket(N, conv_id))` — the
    realistic 10^12-turn setup) and skips the runtime exchange: reshuffling
    100 TB to obtain a layout the table already has is the single biggest
    avoidable cost in this job (~35% of wall-clock on small documents at
    local[16], BENCH.md). The runtime repartition (+ salt knob) remains the
    path for unbucketed sources and for skewed conversations."""
    transcripts = load_transcripts(spark, transcripts_path)
    rules = load_rules(spark, rules_path) if rules_path else None
    joined = join_rules(transcripts, rules, cf_route_all=cf_route_all)
    extracted = run_extraction(
        joined,
        snippet_size,
        None if source_partitioned else num_partitions,
        salt_buckets if not source_partitioned else 0,
    )
    if output_path:
        write_with_manifest(extracted, output_path)
        return spark.read.parquet(os.path.join(output_path, "extracted"))
    return extracted
