"""Spark schemas for the extraction engine (SURVEY.md §1.3).

Width/height/duration stay STRINGS (unparsed, config.go:319-368) to preserve
byte-identical JSON parity with the reference; durations are millisecond
longs (output.go:270-302).
"""

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_TYPE = StructType(
    [
        StructField("url", StringType()),
        StructField("alt", StringType()),
        StructField("title", StringType()),
        StructField("width", StringType()),
        StructField("height", StringType()),
        StructField("is_decorative", BooleanType()),
        StructField("position", IntegerType()),
    ]
)

LINK_TYPE = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("title", StringType()),
        StructField("is_external", BooleanType()),
        StructField("is_nofollow", BooleanType()),
        StructField("position", IntegerType()),
    ]
)

VIDEO_TYPE = StructType(
    [
        StructField("url", StringType()),
        StructField("type", StringType()),
        StructField("poster", StringType()),
        StructField("width", StringType()),
        StructField("height", StringType()),
        StructField("duration", StringType()),
    ]
)

AUDIO_TYPE = StructType(
    [
        StructField("url", StringType()),
        StructField("type", StringType()),
        StructField("duration", StringType()),
    ]
)

# One audit event (AuditEntry, audit.go:52-67). `ts` is float epoch seconds
# inside the nested struct; the audit TABLE view converts it to a timestamp
# JVM-side (timestamp_seconds).
AUDIT_EVENT_TYPE = StructType(
    [
        StructField("ts", DoubleType()),
        StructField("level", StringType()),
        StructField("event_type", StringType()),
        StructField("message", StringType()),
        StructField("tag", StringType()),
        StructField("attribute", StringType()),
        StructField("blocked_url", StringType()),
        StructField("input_size", LongType()),
        StructField("max_size", LongType()),
        StructField("depth", IntegerType()),
        StructField("max_depth", IntegerType()),
        StructField("raw_value", StringType()),
    ]
)

# Result of the main extraction stage (config.go:288-309 + engine additions).
# `audit` and `input_bytes` ride on the result row so metrics and the audit
# table derive from ONE extraction pass (JVM groupBy / explode) instead of
# re-extracting every document per stage.
RESULT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("text", StringType()),
        StructField("images", ArrayType(IMAGE_TYPE)),
        StructField("links", ArrayType(LINK_TYPE)),
        StructField("videos", ArrayType(VIDEO_TYPE)),
        StructField("audios", ArrayType(AUDIO_TYPE)),
        StructField("word_count", IntegerType()),
        StructField("reading_time_ms", LongType()),
        StructField("processing_time_ms", LongType()),
        StructField("processing_time_us", LongType()),
        StructField("error", StringType()),
        StructField("input_bytes", LongType()),
        StructField("audit", ArrayType(AUDIT_EVENT_TYPE)),
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
    ]
)

# ExtractAllLinks mode (config.go:372-379)
LINK_RESOURCE_TYPE = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("type", StringType()),
    ]
)

ALL_LINKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("link_resources", ArrayType(LINK_RESOURCE_TYPE)),
        StructField("error", StringType()),
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
    ]
)
