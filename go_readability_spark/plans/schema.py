"""Spark schemas for the extraction pipeline (FIXTURES.md tables 1-4)."""

from __future__ import annotations

from pyspark.sql import types as T

# north-rule input shape (BASELINE.json input_hint)
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Article struct flattened (reference parser.go:80-94) + error capture
ARTICLE_FIELDS = [
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("byline", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
    T.StructField("text_content", T.StringType(), True),
    T.StructField("length", T.IntegerType(), True),
    T.StructField("excerpt", T.StringType(), True),
    T.StructField("site_name", T.StringType(), True),
    T.StructField("image", T.StringType(), True),
    T.StructField("favicon", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("published_time", T.TimestampType(), True),
    T.StructField("modified_time", T.TimestampType(), True),
    T.StructField("readerable", T.BooleanType(), True),
    T.StructField("error", T.StringType(), True),
]
ARTICLES_SCHEMA = T.StructType(ARTICLE_FIELDS)

# atomic-sink per-bucket stats (the mapInArrow OUTPUT, one record batch
# per task, when the data itself is task-committed straight to the
# articles table)
SINK_STATS_SCHEMA = T.StructType(
    [
        T.StructField("salt", T.LongType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("parse_errors", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
    ]
)

# per-partition lineage/metrics rows (FIXTURES.md §4)
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("parse_errors", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("started_at", T.TimestampType(), False),
        T.StructField("finished_at", T.TimestampType(), False),
    ]
)
