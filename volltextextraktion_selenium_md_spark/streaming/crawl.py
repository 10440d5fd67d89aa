"""Service-mode crawling — the reference's long-running request loop
as a Structured Streaming entry point.

The reference is not a one-shot batch program: it is a FastAPI service
(``app/main.py``) that stays up and serves ``POST /extract`` requests
as they arrive, each against the live service state. The batch engine
models ONE request (a seed list crawled to completion); this module
models the SERVICE: a stream of CrawlRequest rows is consumed with
``foreachBatch``, and every micro-batch runs the batch engine
INCREMENTALLY against the persistent snapshot store —

- request URLs already in the seen table are dropped by an exact
  anti-join (the service's already-extracted fast path),
- the rest enter the frontier at depth 0 and BFS to completion with a
  fresh ``max_rounds`` budget (each POST is served in full),
- fetch log / seen set / filter blobs / payload merges land in the
  SAME store, so the next batch resumes from them (Iceberg-snapshot
  semantics at scale, ``sources/lakehouse.py`` locally).

``foreachBatch`` hands the handler a static DataFrame, so the whole
batch operator surface — politeness, robots, the seen set, retries,
convert, MERGE INTO — is reused verbatim rather than re-implemented
against a streaming API; stream == sequential-batch == golden replay
is asserted in ``tests/test_streaming_crawl.py`` (the replay twin is
``replay_crawl(seeds=..., initial_seen=..., start_round=...)``).

Request rows carry ``raw_url``, ``seed_idx`` (arrival order — the
crawl-order tiebreak within a batch, exactly the reference's FIFO),
``priority``, and optionally any REQUEST_COLS; missing request columns
take the reference defaults (``schemas.py:REQUEST_COL_DEFAULTS``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine


def crawl_request_stream(
    spark: SparkSession,
    sf_dir: str,
    requests: DataFrame,
    store_dir: str,
    stream_checkpoint: str,
    cfg: CrawlConfig | None = None,
    available_now: bool = True,
    engine_kwargs: dict | None = None,
):
    """Start the service: consume ``requests`` (a streaming DataFrame
    of CrawlRequest rows) and crawl each micro-batch against the
    persistent store at ``store_dir``. Returns the StreamingQuery.

    With ``available_now=True`` (the default) the query drains the
    requests currently available and stops — the test/cron shape; a
    long-running service passes False and lets the query run with the
    default processing-time trigger."""

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return  # empty micro-batch: nothing to serve
        CrawlEngine(
            spark,
            sf_dir,
            cfg=cfg,
            checkpoint_dir=store_dir,
            new_seeds=batch_df,
            **(engine_kwargs or {}),
        ).run()

    writer = requests.writeStream.foreachBatch(_handle).option(
        "checkpointLocation", stream_checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def request_results(
    spark: SparkSession, store_dir: str, seed_idx: int
) -> DataFrame:
    """The service's response body for ONE request: every fetch-log row
    of the request's crawl subtree, in crawl order. The lineage key is
    the recursive crawl-order address and its first segment encodes the
    seed index (``functions/lineage.py``), so a request's whole subtree
    is a prefix filter on the store's cumulative log — no join, and at
    lakehouse scale a sorted/bucketed lineage column makes this a range
    scan. The filtered subtree is sorted in a single partition: one
    Spark job, where a global sort adds a sampling job and a shuffle
    for a handful of rows. The log scan runs in that one task too,
    which suits a service store's size."""
    from pyspark.sql import functions as F

    from volltextextraktion_selenium_md_spark.functions.lineage import (
        CRAWL_ORDER,
        SEED_WIDTH,
        segment,
    )
    from volltextextraktion_selenium_md_spark.sources.lakehouse import (
        SnapshotStore,
    )

    log = SnapshotStore(store_dir).read(spark, "fetch_log")
    prefix = segment(seed_idx, SEED_WIDTH)
    return (
        log.filter(
            (F.col("lineage") == prefix)
            | F.col("lineage").startswith(prefix + ".")
        )
        .coalesce(1)
        .sortWithinPartitions("round", *CRAWL_ORDER)
    )
