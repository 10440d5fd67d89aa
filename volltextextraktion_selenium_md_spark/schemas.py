"""Schema helpers and the per-request column contract.

The reference declares its data model with Pydantic
(``app/schemas.py``: CrawlRequest/CrawlResponse/LinkInfo/LLMResult).
Here each engine table's schema is the one its writing plan produces;
Parquet reads take theirs from the file footer (``footer_schema``) or
the snapshot manifest instead of a schema-inference job.
``REQUEST_COLS`` / ``REQUEST_COL_DEFAULTS`` are the CrawlRequest fields
every frontier row carries; this leaf module owns them, and
``with_request_cols`` backfills the absent ones, so the frontier and
the fetch, convert and LLM stages share one contract without an import
cycle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
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


# per-request settings every frontier row carries (reference
# CrawlRequest, app/schemas.py); a crawl loop re-POSTs children with
# the parent request's settings, so children inherit all of them.
# Column -> reference field: html_converter (schemas.py:44-53),
# media_policy (media_conversion_policy, :156-170 area), max_bytes
# (:156-170), trafilatura_clean (trafilatura_clean_markdown, :55-63),
# proxy / allow_insecure_ssl (:105-115), llm_prompt (llm_clean_prompt,
# :206-226). Each is resolved per-request at its stage: convert reads
# html_converter/media_policy/max_bytes/trafilatura_clean
# (plans/convert.py), the simulated fetch reads
# mode/js_strategy/timeout_ms/retries/llm_postprocess and the live
# transport proxy/allow_insecure_ssl/timeout_ms/max_bytes/retries
# (plans/fetch.py), the LLM stage reads
# llm_anonymize/llm_postprocess/llm_prompt (plans/llm.py).
REQUEST_COLS = [
    "mode", "js_strategy", "llm_anonymize", "timeout_ms", "retries",
    "llm_postprocess", "extract_links", "html_converter", "media_policy",
    "max_bytes", "trafilatura_clean", "proxy", "allow_insecure_ssl",
    "llm_prompt",
]

# (spark type, default) for request columns absent from an input — a
# bare seed frame, a checkpoint written before the column existed, or
# any frame handed to the fetch or convert stage: each stage backfills
# with with_request_cols at its entry, so an absent column means
# exactly its default here.
# Defaults are the REFERENCE request defaults where it has one
# (js_strategy 'speed', llm_anonymize/llm_postprocess false; extract_
# links true is the crawl default — a crawl means following links);
# NULL where NULL means "resolve against global config at the stage"
# (timeout_ms, retries, max_bytes, trafilatura_clean, proxy,
# allow_insecure_ssl, media_policy) or "not set" (html_converter,
# llm_prompt). A proxy value the P1 normalizer rejects (''/'string'/
# an unknown scheme) counts as NULL and falls back to CrawlConfig.proxy.
# 'mode' is required input and has no default.
REQUEST_COL_DEFAULTS: dict[str, tuple[str, object]] = {
    "js_strategy": ("string", "speed"),
    "llm_anonymize": ("boolean", False),
    "timeout_ms": ("int", None),
    "retries": ("int", None),
    "llm_postprocess": ("boolean", False),
    "extract_links": ("boolean", True),
    "html_converter": ("string", None),
    "media_policy": ("string", None),
    "max_bytes": ("int", None),
    "trafilatura_clean": ("boolean", None),
    "proxy": ("string", None),
    "allow_insecure_ssl": ("boolean", None),
    "llm_prompt": ("string", None),
}


def with_request_cols(df: DataFrame) -> DataFrame:
    """``df`` with every absent REQUEST_COL but the required ``mode``
    added as its REQUEST_COL_DEFAULTS value (see its comment for the
    per-field reference citations). Present columns are left as they
    are, so a frame that already carries the contract is unchanged."""
    have = set(df.columns)
    for name in REQUEST_COLS:
        if name != "mode" and name not in have:
            dtype, default = REQUEST_COL_DEFAULTS[name]
            df = df.withColumn(name, F.lit(default).cast(dtype))
    return df
