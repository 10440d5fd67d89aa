"""Declared StructType schemas for every engine table.

The reference declares its data model with Pydantic
(``app/schemas.py``: CrawlRequest/CrawlResponse/LinkInfo/LLMResult);
here every table is a fixed StructType — never inferred — so plans are
stable and the Parquet scans prune columns.
"""

from __future__ import annotations

import os

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)


def as_nullable(dt: DataType) -> DataType:
    """``dt`` as a Spark file read returns it: every struct field,
    array element and map value nullable (Spark's ``asNullable``)."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(as_nullable(dt.keyType), as_nullable(dt.valueType), True)
    return dt


def footer_schema(path: str) -> StructType | None:
    """The Spark schema ``spark.read.parquet(path)`` would infer, taken
    from the file footer on the driver — no Spark job. Naive timestamps
    map to ``timestamp_ntz``, as Spark infers them. None when ``path``
    is not a single parquet file (a directory of part files): the
    caller falls back to inference."""
    if not os.path.isfile(path):
        return None
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = pq.read_schema(path)
    return as_nullable(from_arrow_schema(arrow, prefer_timestamp_ntz=True))


# LinkInfo (reference app/schemas.py:229-245) — nested array element of a page
LINK_INFO = StructType([
    StructField("url", StringType(), False),
    StructField("text", StringType(), True),
    StructField("internal", BooleanType(), False),
    StructField("category", StringType(), False),
    StructField("doc_pos", IntegerType(), False),
])

# synthetic web page (FIXTURES.md §2) — replaces the live fetch
PAGE = StructType([
    StructField("page_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("host", StringType(), False),
    StructField("status", IntegerType(), False),
    StructField("final_url", StringType(), False),
    StructField("content_type", StringType(), False),
    StructField("text_len", IntegerType(), False),
    StructField("has_main", BooleanType(), False),
    StructField("spa_mark", BooleanType(), False),
    StructField("js_required", BooleanType(), False),
    StructField("consent", BooleanType(), False),
    StructField("bot_wall", BooleanType(), False),
    StructField("rss_link", BooleanType(), False),
    StructField("youtube", BooleanType(), False),
])

# frontier row (FIXTURES.md §4); `lineage` is the deterministic
# crawl-order key: seeds -> segment(seed_idx, 6); child -> parent || '.'
# || segment(doc_pos, 2) (functions/lineage.py). Lexicographic
# (depth, lineage) == the reference's implied FIFO-seeds/doc-order-links
# BFS (SURVEY §2.3 F5).
FRONTIER = StructType([
    StructField("url", StringType(), False),          # canonical
    StructField("host", StringType(), False),
    StructField("depth", IntegerType(), False),
    StructField("lineage", StringType(), False),
    StructField("priority", IntegerType(), False),
    StructField("mode", StringType(), False),         # fast|js|auto (schemas.py:85-104)
    StructField("attempt", IntegerType(), False),
    StructField("round_added", IntegerType(), False),
])

# fetch log row ≙ CrawlResponse (reference app/schemas.py:260-278)
FETCH_LOG = StructType([
    StructField("round", IntegerType(), False),
    StructField("ordinal", LongType(), False),
    StructField("url", StringType(), False),
    StructField("host", StringType(), False),
    StructField("depth", IntegerType(), False),
    StructField("lineage", StringType(), False),
    StructField("mode", StringType(), False),         # ≙ request_mode
    StructField("attempt", IntegerType(), False),
    StructField("status_code", IntegerType(), True),
    StructField("final_url", StringType(), True),
    StructField("redirected", BooleanType(), True),
    StructField("content_type", StringType(), True),
    StructField("strategy", StringType(), True),
    StructField("outcome", StringType(), False),      # fetched|failed|retry|missing
    StructField("error_page_detected", BooleanType(), True),
    StructField("elapsed_ms", IntegerType(), True),
])

# Iceberg-shaped payload table (BASELINE.json input_hint)
PAYLOAD = StructType([
    StructField("image_id", StringType(), False),
    StructField("bytes", BinaryType(), False),
    StructField("w", IntegerType(), False),
    StructField("h", IntegerType(), False),
    StructField("fmt", StringType(), False),
    StructField("caption", StringType(), False),
    StructField("phash", LongType(), False),
])

ROBOTS = StructType([
    StructField("host", StringType(), False),
    StructField("disallow_prefix", StringType(), True),
    StructField("crawl_delay_ms", IntegerType(), False),
])

METRICS = StructType([
    StructField("round", IntegerType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("fetched", LongType(), False),
    StructField("failed", LongType(), False),
    StructField("retried", LongType(), False),
    StructField("deferred", LongType(), False),
    StructField("blocked", LongType(), False),
    StructField("seen_added", LongType(), False),
])
