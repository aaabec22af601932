"""Spark schemas (SURVEY.md §1.2).

The input table shape is authoritative from BASELINE.json input_hint:
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp). The extraction result struct mirrors JResult
(/root/reference .../JResult.java:35-56) with snake_case columns.
Schemas are always explicit — never inferred.
"""

from __future__ import annotations

from pyspark.sql.types import (ArrayType, BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), True),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), True),
])

IMAGE_STRUCT = StructType([
    StructField("src", StringType(), True),
    StructField("weight", IntegerType(), True),
    StructField("title", StringType(), True),
    StructField("height", IntegerType(), True),
    StructField("width", IntegerType(), True),
    StructField("alt", StringType(), True),
    StructField("no_follow", BooleanType(), True),
])

LINK_STRUCT = StructType([
    StructField("url", StringType(), True),
    StructField("text", StringType(), True),
    StructField("offset", IntegerType(), True),
])

# JResult (JResult.java:35-56) as a Spark struct
EXTRACT_SCHEMA = StructType([
    StructField("title", StringType(), True),
    StructField("text", StringType(), True),
    StructField("description", StringType(), True),
    StructField("canonical_url", StringType(), True),
    StructField("domain", StringType(), True),
    StructField("top_private_domain", StringType(), True),
    StructField("author_name", StringType(), True),
    StructField("raw_author_name", StringType(), True),
    StructField("author_description", StringType(), True),
    StructField("date", TimestampType(), True),
    StructField("image_url", StringType(), True),
    StructField("video_url", StringType(), True),
    StructField("rss_url", StringType(), True),
    StructField("favicon_url", StringType(), True),
    StructField("keywords", ArrayType(StringType()), True),
    StructField("images", ArrayType(IMAGE_STRUCT), True),
    StructField("links", ArrayType(LINK_STRUCT), True),
    StructField("type", StringType(), True),
    StructField("sitename", StringType(), True),
    StructField("language", StringType(), True),
    StructField("extract_ok", BooleanType(), True),
    StructField("extract_error", StringType(), True),
])

# flat output row: transcript key columns + extraction columns + lineage.
# input_bytes/input_file make the written output self-describing: the
# manifest figures (rows, input/output bytes, source files) are aggregates
# over the rows written, observed by the write itself — no separate
# metrics pass over the 100-TB input text column (VERDICT r1 wrong #4),
# and no read-back of the output.
EXTRACTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
    + list(EXTRACT_SCHEMA.fields)
    + [
        StructField("input_bytes", LongType(), True),
        StructField("output_bytes", LongType(), True),
        StructField("input_file", StringType(), True),
    ]
)
