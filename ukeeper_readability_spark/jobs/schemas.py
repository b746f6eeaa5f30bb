"""Explicit schemas — never inferred (reference has compile-time structs).

transcripts shape is authoritative from BASELINE.json:input_hint; rules mirrors
datastore.Rule (reference datastore/rules.go:20-32); extracted mirrors
extractor.Response (reference extractor/readability.go:73-85) plus lineage keys.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

RULES_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("domain", StringType()),
        StructField("match_urls", ArrayType(StringType())),
        StructField("content", StringType()),  # CSS selector
        StructField("author", StringType()),
        StructField("ts", StringType()),
        StructField("excludes", ArrayType(StringType())),
        StructField("test_urls", ArrayType(StringType())),
        StructField("user", StringType()),
        StructField("enabled", BooleanType()),
        StructField("use_cloudflare", BooleanType()),
    ]
)

# extractor.Response columns + (conv_id, turn_idx) keys + routing metadata (S3)
EXTRACTED_FIELDS = [
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("content", StringType()),
    StructField("rich_content", StringType()),
    StructField("domain", StringType()),
    StructField("url", StringType()),
    StructField("title", StringType()),
    StructField("excerpt", StringType()),
    # NOT reference-parity: the reference picks the largest image by FETCHED
    # byte size (extractor/pics.go:14-56, network probe); this engine has no
    # network, so lead_image_url is the first <img> in document order —
    # deterministic substitute, consumers comparing against reference service
    # output will see different lead images (engine/pics.py docstring).
    StructField("lead_image_url", StringType()),
    StructField("images", ArrayType(StringType())),
    StructField("links", ArrayType(StringType())),
    StructField("type", StringType()),
    StructField("charset", StringType()),
    StructField("routed_cloudflare", BooleanType()),
]

# per-row metric columns appended by the extraction UDF; aggregated per
# partition before the sink (FIXTURES.md §4)
METRIC_FIELDS = [
    StructField("m_nodes_scored", LongType()),
    StructField("m_candidates_rejected", LongType()),
    StructField("m_bytes_stripped", LongType()),
    StructField("m_rule_hit", IntegerType()),
    StructField("m_general_parse", IntegerType()),
    StructField("m_retries_relaxed", LongType()),
]

EXTRACTED_WITH_METRICS_SCHEMA = StructType(EXTRACTED_FIELDS + METRIC_FIELDS)

MANIFEST_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("bucket", IntegerType()),
        StructField("rows", LongType()),
        StructField("nodes_scored", LongType()),
        StructField("candidates_rejected", LongType()),
        StructField("bytes_stripped", LongType()),
        StructField("rule_hits", LongType()),
        StructField("general_parses", LongType()),
        StructField("retries_relaxed", LongType()),
        StructField("checksum", LongType()),
        StructField("attempt", IntegerType()),
        StructField("completed_ts", TimestampType()),
    ]
)
