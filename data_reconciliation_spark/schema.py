"""Fixed engine schemas (StructType declarations).

The reference infers schema from whatever pandas reads
(``backend/helpers.py:56-112``); the engine declares schemas up front so
Catalyst can prune and push down.  The page-table schema follows the
driver ``input_hint``: ``(url string, warc_ts timestamp, html binary,
text string, lang string)``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input: Common-Crawl-style web-page table.
PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), nullable=False),
        T.StructField("warc_ts", T.TimestampType(), nullable=True),
        T.StructField("html", T.BinaryType(), nullable=True),
        T.StructField("text", T.StringType(), nullable=True),
        T.StructField("lang", T.StringType(), nullable=True),
    ]
)

# Labeled pair table (golden fixtures; FIXTURES.md §2).
LABELED_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("url_a", T.StringType(), False),
        T.StructField("url_b", T.StringType(), False),
        T.StructField("block_key", T.StringType(), False),
        T.StructField("is_match", T.BooleanType(), False),
    ]
)

# Long-format exception record — the engine's typed version of the
# reference's exception dict {pk..., field, old, new[, change_type]}
# (reference compare.py:287-296).  PK columns are prepended dynamically.
EXCEPTION_FIELDS = [
    T.StructField("field", T.StringType(), False),
    T.StructField("old", T.StringType(), True),
    T.StructField("new", T.StringType(), True),
    T.StructField("change_type", T.StringType(), True),
]

# Audit tables — typed analog of reference models.py:6-30
# (MatchingData / ExceptionRecord in Postgres).
RUNS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("date", T.TimestampType(), False),
        T.StructField("match_rate", T.DoubleType(), False),
        T.StructField("system_name", T.StringType(), False),
        T.StructField("num_exceptions", T.LongType(), False),
        T.StructField("primary_key_used", T.StringType(), False),
    ]
)
