"""Per-host politeness: robots rules, budget rank cut, crawl-delay slots,
hot-host salting.

The reference's only capacity control is a process-global semaphore of
8 + a bounded waiting room (``app/main.py:25-91``); it has NO per-host
delay and NO robots handling. The north rule adds both. Determinism
rule: deferral is a RANK cut (row_number over the crawl-order key),
never time-based, so the Spark engine and the single-threaded golden
replay agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.functions.lineage import CRAWL_ORDER
from volltextextraktion_selenium_md_spark.functions.urls import url_path


def robots_split(frontier: DataFrame, robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Broadcast-join robots rules on host; prefix-match the URL path.

    Returns (allowed, blocked). Rules are tiny (1 row/host) ->
    broadcast hash join, no shuffle of the frontier.
    """
    rules = F.broadcast(robots.select("host", "disallow_prefix", "crawl_delay_ms"))
    joined = frontier.join(rules, on="host", how="left")
    blocked_pred = F.col("disallow_prefix").isNotNull() & url_path(
        "url"
    ).startswith(F.col("disallow_prefix"))
    allowed = joined.filter(~blocked_pred | blocked_pred.isNull()).drop("disallow_prefix")
    blocked = joined.filter(blocked_pred).drop("disallow_prefix")
    return allowed, blocked


def host_budget_split(
    frontier: DataFrame, budget: int
) -> tuple[DataFrame, DataFrame]:
    """Rank cut: first `budget` rows per host (in crawl order) are
    admitted this round; the rest defer to the next round unchanged.
    This is the distributed analogue of the reference's bounded waiting
    room (rows past capacity wait rather than drop, app/main.py:47-69).
    """
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in CRAWL_ORDER])
    ranked = frontier.withColumn("host_rank", F.row_number().over(w))
    admitted = ranked.filter(F.col("host_rank") <= budget).drop("host_rank")
    deferred = ranked.filter(F.col("host_rank") > budget).drop("host_rank")
    return admitted, deferred


def schedule_slots(admitted: DataFrame, default_delay_ms: int) -> DataFrame:
    """Crawl-delay windows: fetch slot offset (ms) within the round =
    (per-host position - 1) * crawl_delay. Pure bookkeeping column (the
    simulator charges it as cost; a live fetcher would sleep-until-slot
    inside its partition)."""
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in CRAWL_ORDER])
    delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(default_delay_ms))
    return admitted.withColumn(
        "sched_slot_ms", (F.row_number().over(w) - 1) * delay
    )


def time_budget_split(
    slotted: DataFrame, budget_ms: int
) -> tuple[DataFrame, DataFrame]:
    """Per-round TIME budget (reference ``TimeBudget``,
    ``app/js_fetcher.py:689-712``, per SURVEY §4 'rows over budget ->
    deferred'): a row whose crawl-delay slot starts at/after the budget
    would run past the round's crawl window — it defers to the next
    round unchanged. Deterministic (slot is a rank, not a clock), so
    the golden replay mirrors it exactly.

    Returns (admitted, deferred)."""
    fits = F.col("sched_slot_ms") < budget_ms
    return slotted.filter(fits), slotted.filter(~fits)


def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 8) -> DataFrame:
    """Route rows by (host, salt-of-url): a hot host (Zipf head — host0
    owns ~33% of the synthetic graph) spreads over `salt` partitions
    instead of hot-spotting one executor, while small hosts stay
    co-located. AQE skew-join handles the join side; this handles the
    fetch stage itself, which AQE cannot see into."""
    return df.repartition(
        num_partitions,
        F.xxhash64("host", F.pmod(F.xxhash64("url"), F.lit(salt))),
    )
