"""The crawl frontier round loop — the core of the engine.

The reference is one-URL-per-request (``POST /crawl``); callers re-POST
the returned ``links`` to crawl (``app/main.py:424-430``). This module
makes that implied loop explicit and distributed while reproducing its
ordering semantics exactly (SURVEY §2.3):

round k:  frontier --robots--> allowed | blocked
          allowed --budget rank cut--> admitted | deferred
          admitted --slots--> --time-budget cut--> (over budget -> deferred)
          --fetch stage--> outcomes
          fetched html --links--> children --first-seen dedup-->
          --seen anti-join--> unseen
          frontier(k+1) = deferred ∪ retries(attempt+1) ∪ unseen

The fetch stage is either the simulated lookup join (deterministic,
oracle-checkable) or the LIVE network stage (fetch_mode='live': salted
mapInPandas, per-partition client + thread pool, children extracted
from the payload bytes) — every other step is shared code, and each
frontier row carries its request mode (fast/js/auto).

Determinism: every cut and dedup orders by (depth, lineage) where
lineage is the recursive crawl-order key (seed: seed_idx segment;
child: parent_lineage + '.' + doc_pos segment, functions/lineage.py).
Lexicographic (round, depth, lineage) therefore equals the reference's
implied FIFO-seeds / document-order-links BFS, and the single-threaded
golden replay (replay.py) must — and does, see tests — match row for
row.

Scale notes (10^10-URL design point):
- per-round state (frontier, seen) is hash-partitioned on the url;
  `localCheckpoint` truncates the iterative lineage each round so plans
  don't grow with round count (on a cluster: checkpoint to the
  lakehouse, see sources/lakehouse.py).
- seen-set membership = exact left_anti join (linear, co-partitioned)
  with a distributed-built Bloom prefilter routing definitely-new rows
  around the shuffle (operators/seen.py).
- hot hosts are salted across partitions before the fetch stage
  (operators/politeness.py:salted_repartition); AQE skew-join covers
  the join side.
"""

from __future__ import annotations

import os
import threading
import time as _time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.sources.lakehouse import (
    SnapshotStore,
    merge_into,
    read_merged,
)

from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.functions.lineage import (
    DOC_POS_WIDTH,
    SEED_WIDTH,
    segment_col,
)
from volltextextraktion_selenium_md_spark.functions.urls import (
    canonicalize_url,
    url_host,
)
from volltextextraktion_selenium_md_spark.operators import seen as seen_ops
from volltextextraktion_selenium_md_spark.operators.dedup import first_seen
from volltextextraktion_selenium_md_spark.operators.politeness import (
    host_budget_split,
    robots_split,
    schedule_slots,
    time_budget_split,
)
from volltextextraktion_selenium_md_spark.plans.convert import convert_stage
from volltextextraktion_selenium_md_spark.plans.fetch import (
    links_from_payloads,
    live_decisions,
    live_fetch,
    simulated_fetch,
)

# per-request settings every frontier row carries (reference
# CrawlRequest, app/schemas.py); a crawl loop re-POSTs children with
# the parent request's settings, so children inherit all of them.
# Column -> reference field: html_converter (schemas.py:44-53),
# media_policy (media_conversion_policy, :156-170 area), max_bytes
# (:156-170), trafilatura_clean (trafilatura_clean_markdown, :55-63),
# proxy / allow_insecure_ssl (:105-115), llm_prompt (llm_clean_prompt,
# :206-226). Each is resolved per-request at its stage: convert reads
# html_converter/media_policy/max_bytes/trafilatura_clean
# (plans/convert.py), the live transport reads
# proxy/allow_insecure_ssl/timeout_ms/max_bytes/retries
# (plans/fetch.py), the LLM stage reads
# llm_anonymize/llm_postprocess/llm_prompt (plans/llm.py).
REQUEST_COLS = [
    "mode", "js_strategy", "llm_anonymize", "timeout_ms", "retries",
    "llm_postprocess", "extract_links", "html_converter", "media_policy",
    "max_bytes", "trafilatura_clean", "proxy", "allow_insecure_ssl",
    "llm_prompt",
]

# (spark type, default) for request columns absent from an input — a
# bare seed frame or a checkpoint written before the column existed.
# Defaults are the REFERENCE request defaults where it has one
# (js_strategy 'speed', llm_anonymize/llm_postprocess false; extract_
# links true is the crawl default — a crawl means following links);
# NULL where NULL means "resolve against global config at the stage"
# (timeout_ms, retries, max_bytes, trafilatura_clean,
# allow_insecure_ssl) or "not set" (html_converter, media_policy,
# proxy, llm_prompt). 'mode' is required input and has no default.
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

FRONTIER_COLS = [
    "url", "host", "depth", "lineage", "priority", *REQUEST_COLS,
    "attempt", "round_added",
]

LOG_COLS = [
    "round", "url", "host", "depth", "lineage", "mode", "attempt", "outcome",
    "page_id", "status_code", "final_url", "redirected", "content_type",
    "strategy", "route", "js_escalated", "elapsed_ms", "partition_id",
]

# feature columns the convert stage needs from fetched rows
CONVERT_FEATURES = [
    "text_len", "has_main", "spa_mark", "js_required", "consent",
    "bot_wall", "rss_link",
]


@dataclass
class CrawlResult:
    fetch_log: DataFrame          # every decision, with global `ordinal`
    seen: DataFrame               # final seen set (url)
    metrics: DataFrame            # per (round, outcome) counts
    payloads: DataFrame | None    # image+caption rows (input_hint shape)
    rounds: int = 0
    partition_metrics: DataFrame | None = None  # per (round, partition) lineage
    conversions: DataFrame | None = None  # per-page markdown (with_convert)
    round_walls: list[float] = field(default_factory=list)  # driver s/round
    post_loop_s: float = 0.0  # drain + global-ordinal endgame wall


def global_ordinal(
    df: DataFrame, order_cols: list[str], num_partitions: int, out: str = "ordinal"
) -> DataFrame:
    """Distributed total-order ordinal: range-partition on the sort key,
    sort within partitions, then add per-partition offsets (the
    zipWithIndex pattern) — no single-partition window, so the final
    ordering step scales with the data. The sort key must be a total
    order (here (round, depth, lineage) is unique per row)."""
    cols = [F.col(c) for c in order_cols]
    s = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = {
        r["_pid"]: r["n"]
        for r in s.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        return df.withColumn(out, F.lit(None).cast("int"))
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return s.withColumn(
        out, (F.row_number().over(w) + omap[F.col("_pid")]).cast("int")
    ).drop("_pid")


def _release_ckpt(df: DataFrame | None) -> None:
    """Free a localCheckpoint's stored blocks. The caller must guarantee
    the DataFrame is never read again — Spark raises
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND if it is (loud, never silent
    corruption). No-op for plans that aren't checkpoint-backed (a
    parquet-backed resume read has no LogicalRDD root and nothing to
    free). This is mandatory 10^10-scale hygiene: a crawl that pins
    every round's checkpoint retains O(total crawl volume) of
    block-manager storage, and past ~50% of unified memory the
    executor's EXECUTION side starts spilling every shuffle — measured
    m128/s64 local[32]: 439 s pinned vs 345 s with the blocks released
    (BENCH.md round 6)."""
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def init_frontier(spark: SparkSession, seeds_df: DataFrame | None = None) -> DataFrame:
    """Seed rows -> canonical frontier (depth 0), first-seen deduped in
    seed order (reference's per-page order-preserving dedup semantics,
    app/utils.py:48-55, applied to the seed list)."""
    src = seeds_df if seeds_df is not None else graph.seeds(spark)
    # every REQUEST_COL rides from the seed frame when present; absent
    # columns take the reference request default / NULL-means-config
    # sentinel from REQUEST_COL_DEFAULTS (see its comment for the
    # per-field reference citations)
    req_exprs = [F.col("mode")]
    for name in REQUEST_COLS:
        if name == "mode":
            continue
        if name in src.columns:
            req_exprs.append(F.col(name))
        else:
            dtype, default = REQUEST_COL_DEFAULTS[name]
            req_exprs.append(F.lit(default).cast(dtype).alias(name))
    seeds = src.select(
        canonicalize_url(F.col("raw_url")).alias("url"),
        F.col("seed_idx"),
        F.col("priority"),
        *req_exprs,
    )
    f = seeds.select(
        "url",
        url_host(F.col("url")).alias("host"),
        F.lit(0).alias("depth"),
        segment_col(F.col("seed_idx"), SEED_WIDTH).alias("lineage"),
        F.col("priority"),
        # per-request fetch mode + JS pool + LLM anonymize flag
        # (reference schemas.py:85-104, js_strategy speed/accuracy pools
        # js_fetcher.py:201-202, llm_anonymize schemas.py:205 honored at
        # main.py:445-457); a crawl loop re-POSTs children with the same
        # request settings, so children inherit the seed's values
        *[F.col(c) for c in REQUEST_COLS],
        F.lit(0).alias("attempt"),
        F.lit(0).alias("round_added"),
    )
    return first_seen(f, "url", ["depth", "lineage"])


class CrawlEngine:
    # Volume-adaptive shuffle width (round-4 verdict #2 "shape-adaptive,
    # not static"): each round plans its shuffles at
    #   clamp(8, ceil(n_frontier / SHUFFLE_ROWS_PER_TASK), session)
    # so the session width stays the CEILING (on a real cluster:
    # thousands, set via spark-submit) while small rounds — a real
    # crawl's first and last rounds are always small, and the whole
    # sandbox flagship is — stop paying per-task scheduling latency for
    # near-empty tasks. Measured basis (BENCH_RUNS_r5.jsonl, interleaved
    # A/B on the conv-off mirrors=64 loop, 32 cores): adaptive width +
    # width-preserving AQE 207.6-222.5 s vs the sizing-conf configs
    # 229-436 s, and it beat a static session width of 8 in both
    # interleaved control pairs — the loop's barrier stages are
    # task-latency-bound, not throughput-bound, at sandbox volumes. NOTE
    # the conf interplay: a 64 MB AQE advisory on top of a narrowed
    # round width collapses stages to a single task (measured 320.4 s) —
    # adaptive width REPLACES sizing-based coalescing, it must not run
    # under it. Only the per-round session conf moves: the cached
    # pages/links sides, the partitioned seen base, and the convert
    # width all keep the session width, so the exchange-free layouts are
    # untouched. At 10^10-URL rounds n_frontier/rows_per_task exceeds
    # any cluster width and this is a no-op (= ceiling).
    SHUFFLE_ROWS_PER_TASK = 50_000
    # convert-task granularity multiplier (round-4 verdict #3 "finer
    # convert tasks"): convert width = CONVERT_TASK_FACTOR x session
    # width, capped at the round's row count
    CONVERT_TASK_FACTOR = 4
    # explicit-broadcast ceiling for the per-round parents side of the
    # child-link join (see _children_links): rounds below this many
    # frontier rows hint the broadcast outright instead of letting AQE
    # discover it through a materialized shuffle stage
    BROADCAST_PARENTS_MAX = 100_000
    # size of a fresh deletable membership ledger (use_cuckoo)
    CUCKOO_CAPACITY = 1 << 16
    CUCKOO_SHARDS = 16
    # seen-set compaction cadence (rounds); bounds the anti-join chain
    SEEN_COMPACT_EVERY = 4

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        cfg: CrawlConfig | None = None,
        use_bloom: bool = False,
        seen_shards: int = 0,
        use_cuckoo: bool = False,
        with_convert: bool = False,
        collect_round_counts: bool = True,
        mirrors: int = 1,
        with_llm: bool = False,
        checkpoint_dir: str | None = None,
        fetch_mode: str = "simulated",
        transport_factory=None,
        seen_partitioned_min_rows: int = 200_000,
        new_seeds: DataFrame | None = None,
    ):
        """``collect_round_counts`` is accepted and ignored: per-(round,
        outcome) counts are ``CrawlResult.metrics``. Its frozen callers
        (``bench.py``, ``perfbench/workloads.py``) still pass it."""
        # caller-input checks raise (not assert, which ``python -O``
        # strips) before any Spark work runs
        if fetch_mode not in ("simulated", "live"):
            raise ValueError(
                f"fetch_mode must be 'simulated' or 'live', got {fetch_mode!r}"
            )
        if new_seeds is not None and mirrors != 1:
            raise ValueError(
                "new_seeds (service mode) cannot be combined with mirrors > 1"
            )
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        # 'simulated' resolves fetches against the deterministic graph
        # (lookup join); 'live' runs the real mapInPandas network stage
        # (plans/fetch.py:live_fetch — per-partition client, salted
        # repartition, in-partition transport retries, thread pool)
        # inside the SAME round loop: robots, budget, slots, seen-set,
        # status-code retries and ordering are shared code. Live-mode
        # children come from the payload bytes (links_from_payloads),
        # and with_convert converts the REAL payload bytes (image rows
        # yield metadata markdown; the image+caption payload TABLE stays
        # the minted corpus's contract, see convert_stage docstring).
        self.fetch_mode = fetch_mode
        self.transport_factory = transport_factory
        self.use_bloom = use_bloom
        # seen_shards > 0: the 10^10-scale sharded prefilter (SeenSet) —
        # per-shard blooms consulted task-locally — instead of one
        # monolithic broadcast bloom
        self.seen_shards = seen_shards
        # deletable membership ledger (north rule): inserted on first-
        # seen, DELETED on permanent failure, serialized with every
        # checkpoint and restored on resume. Bookkeeping only — the
        # exact anti-join stays the correctness path (a cuckoo is never
        # used to BYPASS the join: after a delete that would re-fetch)
        self.use_cuckoo = use_cuckoo
        self.cuckoo = None
        # with_convert: each round's convert output (and its payload-
        # table merge) is materialized from ONE background driver thread
        # so the bulk phase runs concurrently with the next rounds'
        # frontier barriers — wall approaches max(rounds, bulk)
        self.with_convert = with_convert
        # optional LLM postprocess over converted markdown (plans/llm.py):
        # conversions gain the LLMResult struct column (CrawlResponse.llm,
        # reference schemas.py:248-257) — never fails a row
        self.with_llm = with_llm and with_convert
        # lakehouse snapshot checkpointing (SURVEY §7 M6): commit
        # frontier/seen/log every round + MERGE payloads INTO the
        # payload table; a new engine on the same dir resumes from the
        # latest published snapshot
        self.store = SnapshotStore(checkpoint_dir) if checkpoint_dir else None
        self.payload_table = (
            os.path.join(checkpoint_dir, "payload_table") if checkpoint_dir else None
        )
        # volume-adaptive seen set (round-4 verdict #1): below this many
        # seen rows the base is a PLAIN checkpoint and the anti-join
        # BROADCASTS it — the eager repartition+sort machinery of the
        # partitioned base costs more than it saves at small rounds.
        # Once the seen estimate crosses the threshold the engine
        # promotes (monotonically) to the partitioned base whose
        # per-round shuffle is O(round delta), never O(total seen).
        # 200k urls ≈ 20 MB of (url, h1, h2) — a comfortable per-round
        # broadcast; past that the partitioned/exchange-free layout
        # wins (r4 measured it at 204 s for the conv-off m64 loop).
        self.seen_partitioned_min_rows = seen_partitioned_min_rows
        self._seen_partitioned = False
        # incrementally-maintained seen filter (use_bloom/seen_shards):
        # full builds only on the geometric resize schedule; per-round
        # deltas fold in via executor-side partial bitsets (O(delta))
        self._seen_filter = None
        self._filter_pending: list[DataFrame] = []
        self._filter_rebuilds = 0  # observability: resize-rebuild count
        # serializes _ckpt_partitioned's session-conf AQE toggle against
        # the background bulk thread (round-4 verdict #9): a bulk job
        # planned inside the toggle window would silently run without
        # AQE. The bulk worker holds the lock while planning/running.
        self._conf_lock = threading.Lock()
        # the session width is every explicit width's ceiling: the
        # cached pages/links, the partitioned seen base, the convert
        # stage and the final ordinal sort
        self._session_width = int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        self._round_width = self._session_width
        graph.register_graph_views(spark, sf_dir)
        self.pages = graph.pages(spark)
        self.robots = graph.robots(spark)
        self.links = graph.links(spark)
        self.seeds = graph.seeds(spark)
        # service mode (reference: the long-running FastAPI app —
        # app/main.py serves POST /extract requests as they arrive, each
        # against the live service state): ``new_seeds`` is a batch of
        # CrawlRequest rows (raw_url, seed_idx, priority + any
        # REQUEST_COLS; missing ones take the reference defaults). On a
        # fresh store they simply ARE the crawl's seeds; on a resumed
        # store they join the persistent crawl — requests whose
        # canonical URL is already in the seen table are dropped (the
        # service's already-extracted fast path), the rest enter at
        # depth 0 and BFS with a fresh ``max_rounds`` budget relative
        # to the resumed round. Used by streaming/crawl.py's
        # foreachBatch wrapper; incompatible with benchmark mirroring.
        self.new_seeds = new_seeds
        if new_seeds is not None:
            self.seeds = new_seeds
        self.mirrors = mirrors
        self.span = 0
        # factored mirroring: BOTH fat tables (pages, links) stay
        # base-sized and the mirror id is stripped/re-minted on the
        # (round-sized) probe side of each join — per-round work is
        # O(round + base), never O(R × corpus). seeds/robots are tiny
        # and mirror eagerly.
        if mirrors > 1:
            self.span = self.pages.agg(F.max("page_id")).first()[0] + 1
            self.seeds = graph.mirror_seeds(self.seeds, mirrors, self.span)
            self.robots = graph.mirror_robots(self.robots, mirrors)

    # the only link columns the round loop consumes downstream (child
    # rows are (canonicalized raw_url, dst_host, doc_pos) + parent
    # attributes) — the persisted per-round link relation projects to
    # these, halving the cache bytes vs the full g_links row
    LINK_COLS = ["src_page_id", "doc_pos", "dst_host", "raw_url"]

    def _children_links(
        self, parents: DataFrame, broadcast_parents: bool = False
    ) -> DataFrame:
        """parents (src_page_id in mirrored id space) x links -> child
        link rows in mirrored URL space.

        ``broadcast_parents``: explicit broadcast hint on the
        (round-sized) parents side. The fetched checkpoint carries no
        stats, so the initial plan is a two-sided sort-merge and AQE
        only rewrites to broadcast AFTER materializing the parents
        shuffle stage — two extra per-round stage jobs of pure driver
        latency at small-round volume (the loop is latency-bound:
        ~15 jobs/round measured in the r7 event-log audit). The engine
        sets the flag per round from the live n_frontier, so at
        10^10-scale round volumes the declarative join (and AQE's own
        choice) is untouched."""
        if self.mirrors == 1:
            p = F.broadcast(parents) if broadcast_parents else parents
            return p.join(self.links, on="src_page_id")
        mir = (F.col("src_page_id") / self.span).cast("long").alias("_mir")
        orig = (F.col("src_page_id") % self.span).alias("src_page_id")
        j = parents.select(
            *[c for c in parents.columns if c != "src_page_id"], mir, orig
        ).join(self.links, on="src_page_id")
        # canonicalization factored out of the per-round loop: the base
        # link table carries canon_url (one Arrow pass at init), and the
        # mirror token is inserted into the CANONICAL form — equivalent
        # because insert_mirror commutes with canonicalize_url (it only
        # rewrites the host segment, case-insensitively, emitting the
        # canonical lowercase token; property-tested over the full link
        # table in tests/test_mirror_factoring.py). Without this, every
        # round re-canonicalized each base link once PER MIRROR — at
        # m128 a 128x-redundant Python stage inside the loop's critical
        # path (the loop is the non-scaling Amdahl term, BENCH.md r6).
        return j.select(
            *[c for c in parents.columns if c != "src_page_id"],
            "doc_pos",
            graph.insert_mirror(F.col("dst_host"), F.col("_mir")).alias("dst_host"),
            graph.insert_mirror(F.col("canon_url"), F.col("_mir")).alias("raw_url"),
        )

    def _ckpt_partitioned(
        self, df: DataFrame, key: str = "url", blocking: bool = True
    ) -> DataFrame | None:
        """Eager localCheckpoint that KEEPS hash(key) partitioning and
        per-partition ordering visible to later plans. AQE must be off
        while the checkpoint is captured: under AQE the physical root is
        an un-finalized AdaptiveSparkPlanExec whose outputPartitioning
        reads as Unknown, so the resulting LogicalRDD would force an
        ENSURE_REQUIREMENTS exchange in every consumer (verified on
        Spark 4.1; with the toggle the downstream AQE-planned anti-join
        shows ZERO exchanges on this side). The sort lets the SMJ skip
        the base-side sort too. Holds _conf_lock so the bulk thread
        never plans a job during the toggle window; with
        ``blocking=False`` the call returns None instead of waiting for
        an in-flight bulk job (the caller defers the compaction)."""
        if not self._conf_lock.acquire(blocking=blocking):
            return None
        try:
            conf = self.spark.conf
            prev = conf.get("spark.sql.adaptive.enabled", "true")
            conf.set("spark.sql.adaptive.enabled", "false")
            try:
                return (
                    df.repartition(self._session_width, key)
                    .sortWithinPartitions(key)
                    .localCheckpoint()
                )
            finally:
                conf.set("spark.sql.adaptive.enabled", prev)
        finally:
            self._conf_lock.release()

    def _ckpt_seen(
        self, df: DataFrame, n_hint: int, blocking: bool = True
    ) -> DataFrame | None:
        """Checkpoint a (compacted) seen base, volume-adaptively: small
        bases take a plain eager checkpoint (no repartition/sort jobs,
        no AQE toggle — the anti-join broadcasts them), large bases the
        partitioned+sorted form (exchange-free base side). Promotion is
        monotonic so a run never flip-flops layouts. Returns None when
        ``blocking=False`` and the bulk thread holds the conf lock —
        compaction timing is a perf detail, so the caller just retries
        next round (bounded by the force cap at the call site)."""
        if self._seen_partitioned or n_hint >= self.seen_partitioned_min_rows:
            out = self._ckpt_partitioned(df, blocking=blocking)
            # flip the flag only once a partitioned base actually
            # exists: a non-blocking attempt that lost the conf-lock
            # race returns None, and marking the layout promoted then
            # would turn off the broadcast hint AND the promote_now
            # retry while the base is still a plain stats-less
            # checkpoint — up to SEEN_COMPACT_EVERY rounds of the 2x
            # slower two-sided sort-merge anti-join
            if out is not None:
                self._seen_partitioned = True
            return out
        return df.localCheckpoint()

    def _set_round_width(self, n_frontier: int) -> None:
        """Set ``spark.sql.shuffle.partitions`` for THIS round's plans
        from the round's live frontier size (see SHUFFLE_ROWS_PER_TASK). The
        session value is the ceiling; the floor of 8 keeps a little
        parallelism and tail tolerance in near-empty rounds. Width is a
        pure perf knob — crawl ordering and the seen set are width-
        independent (replay tests run both extremes) — so if the bulk-
        convert thread holds the conf lock mid-plan we simply skip the
        change this round rather than stall the loop or yank the conf
        out from under a job being planned."""
        want = min(
            self._session_width,
            max(
                min(8, self._session_width),
                -(-n_frontier // self.SHUFFLE_ROWS_PER_TASK),
            ),
        )
        if want == self._round_width:
            return
        if not self._conf_lock.acquire(blocking=False):
            return
        try:
            self.spark.conf.set("spark.sql.shuffle.partitions", str(want))
            self._round_width = want
        finally:
            self._conf_lock.release()

    @staticmethod
    def _union_parts(parts: list[DataFrame]) -> DataFrame:
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
        return out

    def _bulk(self, conv: DataFrame) -> tuple[DataFrame, DataFrame | None]:
        """One round's bulk phase, on the bulk-convert thread: checkpoint
        the convert output, derive the conversions rows and the
        image+caption payload batch from it, and MERGE the batch into
        the payload table when there is one. Returns (conversions,
        batch or None when merged)."""
        from pyspark import StorageLevel

        from volltextextraktion_selenium_md_spark.functions.classify import (
            error_page_detected,
        )

        # the bulk thread's jobs run in the weight-1 "bulk" FAIR pool:
        # convert tasks fill slots the loop leaves idle but never starve
        # its barriers
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "bulk")
        # _conf_lock: never plan/run a bulk job while _ckpt_partitioned
        # has AQE toggled off on the shared session conf
        with self._conf_lock:
            # DISK_ONLY: the convert output carries the payload bytes
            # (image rows) — at web scale those stream to the sink, they
            # are never RAM-resident. Memory-level checkpoints here pinned
            # O(crawl volume) of unified memory and starved the execution
            # side into per-shuffle spills (measured m128/s64 local[32]:
            # 439 s -> 345 s, BENCH.md r6); the final payload count
            # streams from local disk instead.
            conv = conv.localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
            # the reference flags error pages on the CONVERTED markdown
            # of every response (main.py:433), not only on the LLM path
            # — CrawlResponse.error_page_detected
            co = conv.select(
                "url", "page_id", "markdown", "markdown_length",
                "converter_used", "truncated", "llm_anonymize",
                "llm_postprocess", "llm_prompt",
            ).withColumn(
                "error_page_detected",
                error_page_detected(F.col("markdown"), F.lit(None).cast("int")),
            )
            if self.with_llm:
                from volltextextraktion_selenium_md_spark.plans.llm import (
                    llm_postprocess_stage,
                )

                # per-request llm_anonymize + llm_postprocess (reference
                # schemas.py:194-211, honored at main.py:437-457): both
                # frontier columns ride through the convert stage and
                # steer the LLM stage row-wise — rows whose request
                # didn't ask for postprocessing get a NULL llm struct
                co = llm_postprocess_stage(
                    co, error_col="error_page_detected",
                    anonymize_col="llm_anonymize",
                    enable_col="llm_postprocess",
                )
            batch = conv.filter(F.col("image_id").isNotNull()).select(
                "image_id",
                F.col("image_bytes").alias("bytes"),
                "w", "h", "fmt", "caption", "phash",
            )
            if self.payload_table is None:
                return co, batch
            # land this round's image+caption rows in the payload table:
            # Iceberg `MERGE INTO payload USING batch ON image_id` (north
            # rule input_hint shape)
            merge_into(self.spark, self.payload_table, batch, "image_id")
            return co, None

    def run(self) -> CrawlResult:
        # FAIR pool split (round-4 scaling fix): the loop thread's small
        # barrier stages get the "loop" pool (weight 2 + minShare) so
        # they never queue behind the bulk thread's long convert task
        # sets; the bulk thread claims "bulk" inside _bulk. Local
        # properties are per-thread (pinned-thread mode), so this only
        # tags the engine's own jobs; with a FIFO scheduler the
        # property is simply ignored.
        sc = self.spark.sparkContext
        prev_pool = sc.getLocalProperty("spark.scheduler.pool")
        sc.setLocalProperty("spark.scheduler.pool", "loop")
        try:
            return self._run_impl()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", prev_pool)
            # leave the session conf as we found it (the adaptive round
            # width is engine-internal; callers and later queries plan
            # at the session width)
            if self._round_width != self._session_width:
                self.spark.conf.set(
                    "spark.sql.shuffle.partitions", str(self._session_width)
                )
                self._round_width = self._session_width
            # error-path cleanup: if the round loop or a drain raised,
            # cancel queued bulk-convert jobs and close the pool so no
            # non-daemon worker keeps submitting Spark jobs against a
            # session the caller may stop (success path already closed
            # it and set it to None)
            pool = getattr(self, "_bulk_pool", None)
            if pool is not None:
                pool.shutdown(wait=True, cancel_futures=True)
                self._bulk_pool = None

    def _run_impl(self) -> CrawlResult:
        cfg = self.cfg
        # pages/links are temp-view-backed (window + explode under the
        # hood); persist once so rounds don't re-derive them — the
        # lakehouse-table analogue at 10^10 scale. BOTH sides of the
        # per-round joins are persisted hash-partitioned on their join
        # key (pages on url for the fetch join, links on src_page_id
        # for the child expansion), so each round shuffles ONLY the
        # (much smaller) frontier side — the co-located-join pattern
        # (bucketed table at lakehouse scale). Cached plans keep their
        # outputPartitioning under AQE by default
        # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning).
        if self.fetch_mode == "simulated":
            self.pages = self.pages.repartition(self._session_width, "url").persist()
            links = self.links.select(*self.LINK_COLS)
            if self.mirrors > 1:
                # canonical URL is a property of the LINK, not of the
                # crawl round — compute it once on the base table (the
                # lakehouse would store it at link-extraction time) and
                # let _children_links insert the mirror token into the
                # canonical form. m=1 keeps the in-loop canonicalize:
                # a partial crawl touches far fewer links than the
                # table holds, so precomputing all of them would be
                # net-negative there.
                links = links.withColumn(
                    "canon_url", canonicalize_url(F.col("raw_url"))
                )
            self.links = links.repartition(
                self._session_width, "src_page_id"
            ).persist()
        # robots rules re-derive from the parquet view on EVERY round's
        # broadcast build otherwise — persist the (tiny) relation once
        self.robots = self.robots.persist()
        self.robots.count()
        logs: list[DataFrame] = []
        payloads: list[DataFrame] = []
        conversions: list[DataFrame] = []
        bulk_futures: list = []
        hygiene_futures: list = []
        self._bulk_pool = None
        if self.with_convert:
            from concurrent.futures import ThreadPoolExecutor

            self._bulk_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="bulk-convert"
            )

        from volltextextraktion_selenium_md_spark.operators.filters import (
            BloomFilter,
            ShardedCuckooFilter,
        )

        rnd = 0
        resume_filter = None  # bloom/SeenSet restored from checkpoint blob
        fresh_seeds = None  # service-mode new_seeds injected on a resume
        if self.store is not None and self.store.latest() is not None:
            # resume from the latest published snapshot: frontier, seen,
            # cumulative log AND filter state restore exactly; rounds
            # continue from where the previous process died — no rescan
            # of history to rebuild membership state
            man = self.store.manifest()
            rnd = man["meta"]["round"] + 1
            frontier = self.store.read(self.spark, "frontier")
            # checkpoint written before a request column existed —
            # backfill EVERY missing REQUEST_COL with its reference
            # default / NULL sentinel (the round loop selects all of
            # them: keep list, retries re-queue, the extract_links
            # parent filter — a partial frontier would raise
            # AnalysisException on the first round after resume)
            for name in REQUEST_COLS:
                if name != "mode" and name not in frontier.columns:
                    dtype, default = REQUEST_COL_DEFAULTS[name]
                    frontier = frontier.withColumn(
                        name, F.lit(default).cast(dtype)
                    )
            if self.new_seeds is None:
                # service mode checkpoints the frontier once, after the
                # union with the batch's seeds below
                frontier = frontier.localCheckpoint()
            # seen set = BASE + DELTAS: above the volume threshold the
            # base is kept hash(url)-partitioned + sorted through its
            # checkpoint, so each round's anti-join moves no base rows
            # (filter_unseen_parts); small bases stay plain and the
            # anti-join broadcasts them
            n_seen = man["meta"].get("n_seen_hint", 1024)
            seen_parts = [
                self._ckpt_seen(self.store.read(self.spark, "seen"), n_seen)
            ]
            log0 = self.store.read(self.spark, "fetch_log")
            if "js_escalated" not in log0.columns:
                # checkpoint written before the escalation-ladder column
                # existed — unknown for historic rows
                log0 = log0.withColumn(
                    "js_escalated", F.lit(None).cast("boolean")
                )
            logs = [log0.localCheckpoint()]
            blobs_present = set(man.get("blobs", []))
            if self.use_bloom:
                if self.seen_shards > 0 and "seen_shards" in blobs_present:
                    resume_filter = seen_ops.SeenSet.from_bytes(
                        self.store.read_blob("seen_shards")
                    )
                elif "seen_bloom" in blobs_present:
                    resume_filter = BloomFilter.from_bytes(
                        self.store.read_blob("seen_bloom")
                    )
            if self.use_cuckoo and "seen_cuckoo" in blobs_present:
                self.cuckoo = ShardedCuckooFilter.from_bytes(
                    self.store.read_blob("seen_cuckoo")
                )
            if self.new_seeds is not None:
                # service mode: this batch of CrawlRequests joins the
                # PERSISTENT crawl. Exact anti-join against the restored
                # seen table drops already-extracted URLs (the service's
                # fast path); survivors enter the frontier at depth 0
                # and are committed to the seen set immediately, exactly
                # like round-0 seeds of a fresh crawl (replay twin:
                # replay_crawl(seeds=..., initial_seen=..., start_round=...))
                nf = seen_ops.with_hashes(
                    init_frontier(self.spark, self.new_seeds)
                ).withColumn("round_added", F.lit(rnd))
                fresh_seeds = seen_ops.filter_unseen_parts(
                    nf, seen_parts,
                    broadcast_base=(
                        not self._seen_partitioned
                        and n_seen <= self.seen_partitioned_min_rows
                    ),
                ).select(*frontier.columns).localCheckpoint()
                frontier = frontier.unionByName(
                    fresh_seeds
                ).localCheckpoint()
                seen_parts.append(fresh_seeds.select("url", "h1", "h2"))
                if resume_filter is not None:
                    # the restored filter blob covers the RESTORED seen
                    # table only — fold the batch's surviving seeds in,
                    # or the first post-resume round's prefilter would
                    # route a child link equal to a same-batch seed URL
                    # around the anti-join as "definitely new" (crawled
                    # twice). Later rounds rebuild from seen_parts and
                    # are safe either way.
                    delta = fresh_seeds.select("h1", "h2")
                    if isinstance(resume_filter, seen_ops.SeenSet):
                        resume_filter.fold_delta_df(delta)
                    else:
                        resume_filter = seen_ops.build_bloom_like(
                            delta, resume_filter, max_partials=8
                        )
        else:
            frontier = seen_ops.with_hashes(
                init_frontier(self.spark, self.seeds)
            ).localCheckpoint()
            seen_parts = [
                self._ckpt_seen(frontier.select("url", "h1", "h2"), 0)
            ]
            n_seen = 0
        if self.use_cuckoo and self.cuckoo is None:
            self.cuckoo = ShardedCuckooFilter(
                self.CUCKOO_CAPACITY, self.CUCKOO_SHARDS
            )
            if rnd == 0:
                seen_ops.cuckoo_update_df(
                    self.cuckoo,
                    seen_parts[0].select("h1", F.lit("i").alias("op")),
                )
        if self.use_cuckoo and fresh_seeds is not None:
            # service mode: the batch's surviving requests are first-
            # seen rows — insert them into the deletable ledger the same
            # way round-0 seeds are on a fresh crawl
            seen_ops.cuckoo_update_df(
                self.cuckoo,
                fresh_seeds.select("h1", F.lit("i").alias("op")),
            )
        # one count per round doubles as the loop-exit test AND the seen-
        # cardinality input for bloom sizing — no extra driver actions
        n_frontier = frontier.count()
        n_seen = n_seen or n_frontier
        round_walls: list[float] = []
        # service mode: each request batch gets its own max_rounds
        # budget relative to the resumed round (the service serves each
        # POST in full); a plain resume keeps the absolute budget — it
        # is the SAME interrupted crawl continuing
        rnd_limit = (
            rnd + cfg.max_rounds if self.new_seeds is not None
            else cfg.max_rounds
        )
        while rnd < rnd_limit and n_frontier > 0:
            _t_round = _time.time()
            # the loop rebinds `frontier` to the NEXT round's mid-body;
            # keep a handle on THIS round's so end-of-round hygiene can
            # release its blocks once nothing can read them again
            frontier_cur = frontier
            dead_parts: list[DataFrame] = []
            # plan this round's shuffles at a width the round's volume
            # justifies (session width stays the ceiling)
            self._set_round_width(n_frontier)
            allowed, blocked = robots_split(frontier, self.robots)
            admitted, deferred = host_budget_split(allowed, cfg.host_budget_per_round)
            admitted = schedule_slots(admitted, cfg.default_crawl_delay_ms)
            if cfg.round_time_budget_ms is not None:
                # the round's crawl window: rows whose delay slot falls
                # past the time budget defer (SURVEY §4 TimeBudget map)
                admitted, time_deferred = time_budget_split(
                    admitted, cfg.round_time_budget_ms
                )
                deferred = deferred.unionByName(
                    time_deferred.select(*deferred.columns)
                )
            # NOTE: the live-fetch (mapInPandas) path salts hot hosts
            # across partitions here (salted_repartition); the simulated
            # fetch is a url-equi join whose output partitioning is
            # already uniform in the join key, so no extra shuffle.

            keep = list(
                dict.fromkeys(
                    LOG_COLS[1:]
                    + ["page_status", "priority", *REQUEST_COLS, "h1", "h2"]
                    + (CONVERT_FEATURES if self.with_convert else [])
                )
            )
            if self.fetch_mode == "live":
                raw = live_fetch(
                    admitted, cfg,
                    transport_factory=self.transport_factory,
                    num_partitions=self._session_width,
                    passthrough=[
                        "priority", *REQUEST_COLS, "h1", "h2",
                        "sched_slot_ms",
                    ],
                )
                # partition_id comes from the salted live stage itself
                # (north-rule lineage: which partition did the fetching)
                fetched = live_decisions(raw, cfg).withColumn(
                    # the escalation ladder is a cost-model concept; the
                    # live httpx transport never renders, so unknown
                    "js_escalated", F.lit(None).cast("boolean")
                ).select(
                    *[c for c in keep if c != "status_code"], "payload"
                )
            else:
                fetched = (
                    simulated_fetch(
                        admitted, self.pages, cfg,
                        mirror_span=self.span, mirrors=self.mirrors,
                    )
                    .select(*[c for c in keep if c not in ("status_code", "partition_id")])
                    # per-partition lineage: which physical partition
                    # carried the row through the fetch stage
                    .withColumn("partition_id", F.spark_partition_id())
                )
            # eager: the bulk-convert thread consumes fetched too, and a
            # lazy checkpoint would race its first materialization
            # across the two threads. With convert off, lazy measured no
            # faster (perfbench frontier_open, 4 vCPU: 305.8 vs 316.0
            # decisions/s, medians of 4 interleaved runs)
            fetched = fetched.localCheckpoint()

            log = fetched.select(
                F.lit(rnd).alias("round"),
                "url", "host", "depth", "lineage", "mode", "attempt", "outcome",
                "page_id",
                F.col("page_status").alias("status_code"),
                "final_url", "redirected", "content_type", "strategy",
                "route", "js_escalated", "elapsed_ms", "partition_id",
            )
            blocked_log = blocked.select(
                F.lit(rnd).alias("round"),
                "url", "host", "depth", "lineage", "mode", "attempt",
                F.lit("blocked").alias("outcome"),
                F.lit(None).cast("long").alias("page_id"),
                F.lit(None).cast("int").alias("status_code"),
                F.lit(None).cast("string").alias("final_url"),
                F.lit(None).cast("boolean").alias("redirected"),
                F.lit(None).cast("string").alias("content_type"),
                F.lit(None).cast("string").alias("strategy"),
                F.lit(None).cast("string").alias("route"),
                F.lit(None).cast("boolean").alias("js_escalated"),
                F.lit(None).cast("int").alias("elapsed_ms"),
                F.lit(None).cast("int").alias("partition_id"),
            )
            # the round's log part stays a LAZY projection of the
            # fetched/frontier checkpoints here; the end-of-round
            # hygiene task re-checkpoints it NARROW (LOG_COLS only) so
            # the wide fetched blocks can be released (convert on)
            log_part = log.select(*LOG_COLS).unionByName(
                blocked_log.select(*LOG_COLS)
            )
            log_idx = len(logs)
            logs.append(log_part)

            if self.with_convert:
                ok = fetched.filter(F.col("outcome") == "fetched")
                # explicit convert width: the stage EXPANDS each row by
                # ~payload_scale KB (mint + markdown), which AQE cannot
                # see from the upstream shuffle's input bytes — with
                # sizing-based coalescing the tiny feature rows would
                # collapse to a handful of partitions and strand cores.
                # FINER than the session width (k x cores): a ~30 s
                # convert task set at mirrors=64 otherwise occupies
                # whole scheduling quanta, and even under FAIR the
                # loop's barrier stages wait for the tail of in-flight
                # long tasks. k=4 cuts task length ~4x at ~ms-level
                # task-launch overhead.
                # Never more tasks than the round has rows: each convert
                # task pays a fixed Python-worker cost (~0.25 s), so a
                # 3-row service round split 16 ways spent ~4
                # executor-seconds on empty tasks.
                conv_width = min(
                    self._session_width * self.CONVERT_TASK_FACTOR,
                    max(1, n_frontier),
                )
                conv = convert_stage(
                    ok.repartition(conv_width), cfg,
                    payload_col="payload" if self.fetch_mode == "live" else None,
                )
                # PIPELINE the bulk phase against the round loop: round
                # k's convert depends only on the already-checkpointed
                # fetch output, so a single background driver thread
                # materializes it (and lands its payload batch) WHILE
                # round k+1's frontier stages run. Spark schedules jobs
                # from both threads concurrently; the small frontier
                # stages leave most cores idle between barriers and the
                # convert tasks fill them — engine wall approaches
                # max(rounds, bulk) instead of rounds + bulk. The convert
                # mapInPandas is checkpointed ONCE and both consumers
                # (markdown output, payload batch) derive from the
                # stored partitions. ONE worker thread keeps payload
                # MERGEs in round order.
                bulk_futures.append(self._bulk_pool.submit(self._bulk, conv))

            # retry re-queue (F8): failed-retryable rows flow into the
            # next round with attempt+1 — backoff becomes a schedule
            # slot, not a sleep
            retries = (
                fetched.filter(F.col("outcome") == "retry")
                .select(
                    "url", "host", "depth", "lineage", "priority",
                    *REQUEST_COLS,
                    (F.col("attempt") + 1).alias("attempt"),
                    F.lit(rnd + 1).alias("round_added"),
                    "h1", "h2",
                )
            )

            # link expansion from fetched html pages below the depth cap
            parent_filter = (
                (F.col("outcome") == "fetched")
                & F.col("content_type").startswith("text/html")
                & (F.col("depth") < cfg.max_depth)
                # per-request extract_links gate (schemas.py:171-192):
                # a false row is a leaf — fetched and converted, but it
                # expands no children (NULL = crawl default, expand)
                & F.coalesce(F.col("extract_links"), F.lit(True))
            )
            if self.fetch_mode == "live":
                # live mode: children come from the PAYLOAD BYTES — the
                # reference's extract_links_detailed_from_html over the
                # fetched body (app/utils.py:126-155), Arrow-batched
                children = links_from_payloads(
                    fetched.filter(parent_filter).select(
                        "url", "final_url", "payload", "depth", "lineage",
                        "priority", *REQUEST_COLS,
                    ),
                    rnd + 1,
                )
            else:
                parents = fetched.filter(parent_filter).select(
                    F.col("page_id").alias("src_page_id"),
                    F.col("depth").alias("p_depth"),
                    F.col("lineage").alias("p_lineage"),
                    F.col("priority").alias("p_priority"),
                    *[F.col(c).alias(f"p_{c}") for c in REQUEST_COLS],
                )
                children = (
                    self._children_links(
                        parents,
                        broadcast_parents=(
                            n_frontier < self.BROADCAST_PARENTS_MAX
                        ),
                    )
                    .select(
                        # mirrors>1: raw_url is ALREADY canonical (the
                        # base table's canon_url + mirror token)
                        (
                            F.col("raw_url") if self.mirrors > 1
                            else canonicalize_url(F.col("raw_url"))
                        ).alias("url"),
                        F.col("dst_host").alias("host"),
                        (F.col("p_depth") + 1).alias("depth"),
                        F.concat(
                            F.col("p_lineage"), F.lit("."),
                            segment_col(F.col("doc_pos"), DOC_POS_WIDTH),
                        ).alias("lineage"),
                        F.col("p_priority").alias("priority"),
                        *[F.col(f"p_{c}").alias(c) for c in REQUEST_COLS],
                        F.lit(0).alias("attempt"),
                        F.lit(rnd + 1).alias("round_added"),
                    )
                )
            children = seen_ops.with_hashes(first_seen(children, "url", ["depth", "lineage"]))

            bloom = None
            if self.use_bloom:
                if resume_filter is not None:
                    # first round after a resume: the checkpoint blob
                    # (plus any service-batch seed fold) already covers
                    # the restored seen table — it simply BECOMES the
                    # maintained filter (sources/lakehouse.py contract)
                    self._seen_filter, resume_filter = resume_filter, None
                    self._filter_pending = []
                filt = self._seen_filter
                if filt is None or n_seen > filt.capacity:
                    # (re)build with 2x headroom. INCREMENTAL
                    # maintenance: each round's delta is folded in at
                    # end-of-round (O(delta) executor-side partials), so
                    # this O(total seen) scan runs only on the geometric
                    # resize schedule — O(log n_seen) times over a
                    # crawl, never once per round. An over-full filter
                    # between resizes only raises the fp rate (fp rows
                    # still hit the exact anti-join); misses cannot
                    # occur because the fold lands before the delta's
                    # checkpoint blocks are released.
                    if self.seen_shards > 0:
                        filt = seen_ops.SeenSet.build(
                            self._union_parts(seen_parts),
                            n_items=max(n_seen, 1024) * 2,
                            n_shards=self.seen_shards,
                        )
                    else:
                        filt = seen_ops.build_bloom(
                            self._union_parts(seen_parts),
                            n_items=max(n_seen, 1024) * 2,
                        )
                    self._seen_filter = filt
                    self._filter_pending = []
                    self._filter_rebuilds += 1
                bloom = filt
            # lazy checkpoints truncate lineage without extra jobs: the
            # single frontier count below materializes unseen AND the
            # new frontier in one job; seen then reuses the stored
            # unseen partitions. The anti-join runs against the
            # partitioned base + per-round deltas — no O(total seen)
            # shuffle per round (see filter_unseen_parts)
            unseen = seen_ops.filter_unseen_parts(
                children, seen_parts, bloom,
                # plain (unpartitioned) small base -> broadcast it; the
                # partitioned base must NOT be broadcast or its
                # exchange-free SMJ shape is wasted. Gated on the LIVE
                # seen estimate, not just the promotion flag: promotion
                # happens at compaction time (every SEEN_COMPACT_EVERY
                # rounds), and without the n_seen gate the rounds in
                # between were broadcasting a million-row base — the
                # explicit hint overrides every size threshold
                # (measured: conv-off m64 32c 421 s vs 204 s in r4).
                broadcast_base=(
                    not self._seen_partitioned
                    and n_seen <= self.seen_partitioned_min_rows
                ),
            ).localCheckpoint(eager=False)
            # NOTE for profile readers: under AQE this lazy checkpoint's
            # toRdd finalizes the plan, which MATERIALIZES every
            # intermediate query stage (children shuffle, first_seen
            # window, anti-join broadcast builds) — building it is the
            # round's distributed work, not driver overhead (measured:
            # analyze+physical-plan alone is 0.03-0.06 s/round at sf0.1;
            # the remaining ~1.2 s is stage jobs)

            frontier = (
                deferred.select(*FRONTIER_COLS, "h1", "h2")
                .unionByName(retries)
                .unionByName(unseen.select(*FRONTIER_COLS, "h1", "h2"))
                .localCheckpoint(eager=False)
            )
            seen_parts.append(unseen.select("url", "h1", "h2"))
            if self.use_bloom:
                self._filter_pending.append(unseen.select("h1", "h2"))
            # promote the moment the estimate crosses the threshold —
            # waiting for the scheduled compaction round left 2-3
            # rounds anti-joining a plain (stats-less, unbroadcastable)
            # base through a full two-sided sort-merge
            promote_now = (
                not self._seen_partitioned
                and n_seen >= self.seen_partitioned_min_rows
            )
            if promote_now or (rnd + 1) % self.SEEN_COMPACT_EVERY == 0:
                # periodic compaction folds the deltas back into ONE
                # partitioned+sorted base (at 10^10 scale this is the
                # lakehouse seen-table MERGE; locally a checkpoint
                # rewrite) — bounds the anti-join chain depth at
                # SEEN_COMPACT_EVERY + 1. Volume-adaptive: small seen
                # sets compact into a plain checkpoint instead. When the
                # bulk-convert thread is mid-job (it holds _conf_lock
                # for its whole body so the AQE toggle can't corrupt its
                # plans), the compaction DEFERS a round rather than
                # stall the loop behind a multi-job convert — until the
                # delta chain hits 2x the compact interval, at which
                # point we do block (anti-join depth stays bounded).
                force = len(seen_parts) > 2 * self.SEEN_COMPACT_EVERY
                base = self._ckpt_seen(
                    self._union_parts(seen_parts), n_seen, blocking=force
                )
                if base is not None:
                    # the folded parts (old base + deltas) die here —
                    # released at end-of-round, AFTER the frontier count
                    # stores unseen's rows in the new frontier's own
                    # blocks and the cuckoo delta has read them
                    dead_parts, seen_parts = seen_parts, [base]
            n_frontier = frontier.count()

            if self.use_cuckoo:
                # ledger delta applied EXECUTOR-SIDE (seen_ops.
                # cuckoo_update_df): inserts for this round's first-seen
                # rows, DELETEs for permanent failures (north rule: the
                # deletable cuckoo keeps the active set tight; the seen
                # TABLE keeps them so crawl ordering stays replay-exact).
                # The driver moves only shard BYTES — never a collect
                # whose row count is O(round delta).
                ops = unseen.select("h1", F.lit("i").alias("op")).unionByName(
                    fetched.filter(
                        F.col("outcome").isin("failed", "missing")
                    ).select("h1", F.lit("d").alias("op"))
                )
                seen_ops.cuckoo_update_df(self.cuckoo, ops)

            if self.store is not None:
                if self._bulk_pool is not None:
                    # a published snapshot at round k must not outrun
                    # the payload-table merges it implies — wait for
                    # every pipelined convert/merge ≤ k before commit
                    # (result() is idempotent; values re-read at drain).
                    # Hygiene futures too: a mid-swap log part must not
                    # be unioned into the committed cum_log while its
                    # source blocks are being released.
                    for fut in bulk_futures + hygiene_futures:
                        fut.result()
                cum_log = self._union_parts(logs)
                blobs = {}
                if self.use_bloom and bloom is not None:
                    # fold the round delta in so the blob covers exactly
                    # the seen table being committed — a resume uses it
                    # as the first round's filter without a rebuild scan.
                    # Folding is executor-side partial-bitset builds
                    # (O(filter bytes) to the driver, never keys)
                    if isinstance(bloom, seen_ops.SeenSet):
                        bloom.fold_delta_df(unseen.select("h1", "h2"))
                        blobs["seen_shards"] = bloom.to_bytes()
                    else:
                        bloom = seen_ops.build_bloom_like(
                            unseen.select("h1", "h2"), bloom,
                            max_partials=8,
                        )
                        blobs["seen_bloom"] = bloom.to_bytes()
                    # the commit fold doubles as the round's incremental
                    # maintenance — adopt it and drain the pending queue
                    self._seen_filter = bloom
                    self._filter_pending = []
                if self.use_cuckoo:
                    blobs["seen_cuckoo"] = self.cuckoo.to_bytes()
                self.store.commit(
                    {"frontier": frontier,
                     "seen": self._union_parts(seen_parts),
                     "fetch_log": cum_log},
                    meta={"round": rnd, "n_frontier": n_frontier,
                          "n_seen_hint": n_seen + n_frontier},
                    blobs=blobs,
                )
            if self.use_bloom and bloom is not None and self._filter_pending:
                # end-of-round O(delta) fold (non-commit rounds; commit
                # rounds drained the queue above): MUST land before the
                # hygiene releases below — a delta folded next round
                # would read checkpoint blocks that compaction already
                # unpersisted (localCheckpoint lineage is truncated, so
                # that fails loud, not silent)
                delta = self._union_parts(self._filter_pending)
                if isinstance(bloom, seen_ops.SeenSet):
                    bloom.fold_delta_df(delta)
                else:
                    self._seen_filter = seen_ops.build_bloom_like(
                        delta, bloom, max_partials=8
                    )
                self._filter_pending = []
            # cheap upper bound is enough for bloom sizing (deferred and
            # retry rows double-count; the bloom is just slightly larger)
            n_seen = n_seen + n_frontier
            # --- block-manager hygiene (10^10-scale): release every
            # block no later plan can read. Seen parts folded into a
            # new compacted base died above (the count stored the
            # frontier's own copy of unseen; the cuckoo delta has been
            # applied) — driver-side bookkeeping, no job.
            for p in dead_parts:
                _release_ckpt(p)
            if self._bulk_pool is not None:
                # re-checkpoint the round's log part narrow, then
                # release the wide fetched and the consumed frontier.
                # The single-worker pool sequences this AFTER the
                # round's convert (which reads fetched); children/
                # retries/deferred were stored in the next frontier's
                # blocks by this round's count. A convert-off crawl has
                # no bulk thread and keeps its log parts lazy.
                def _hygiene(
                    i=log_idx, part=log_part, f=fetched, fr=frontier_cur
                ):
                    self.spark.sparkContext.setLocalProperty(
                        "spark.scheduler.pool", "bulk"
                    )
                    with self._conf_lock:
                        conf = self.spark.conf
                        prev = conf.get(
                            "spark.sql.constraintPropagation.enabled", "true"
                        )
                        # the log part's plan nests the fetched/frontier
                        # LogicalRDDs, whose own origin constraints
                        # reference attributes this projection drops;
                        # capturing constraints through that nesting
                        # trips the consumer-side rewrite ("key not
                        # found: partition_id#N" in PruneFilters on the
                        # final ordinal sort). Constraints buy nothing
                        # on a log part (it only feeds unions and
                        # aggregations), so capture the checkpoint
                        # without them.
                        conf.set(
                            "spark.sql.constraintPropagation.enabled", "false"
                        )
                        try:
                            lck = part.localCheckpoint()
                        finally:
                            conf.set(
                                "spark.sql.constraintPropagation.enabled", prev
                            )
                    logs[i] = lck
                    _release_ckpt(f)
                    _release_ckpt(fr)

                hygiene_futures.append(self._bulk_pool.submit(_hygiene))
            round_walls.append(round(_time.time() - _t_round, 3))
            rnd += 1

        _t_post = _time.time()
        if self._bulk_pool is not None:
            # drain the pipelined convert jobs (re-raises any worker
            # exception)
            for fut in bulk_futures:
                co_ck, batch_ck = fut.result()
                conversions.append(co_ck)
                if batch_ck is not None:
                    payloads.append(batch_ck)
            # hygiene must finish before fetch_log is assembled below:
            # every logs[i] slot must hold its narrow checkpoint (or a
            # still-alive lazy part), never a lazy part whose source
            # blocks were released mid-swap
            for fut in hygiene_futures:
                fut.result()
            self._bulk_pool.shutdown()
            self._bulk_pool = None

        fetch_log = self._union_parts(logs)
        # global crawl-order ordinal via range-partitioned sort +
        # per-partition offsets — distributed; the ORDER (round, depth,
        # lineage) is the replay contract, the ordinal is bookkeeping.
        decisions = fetch_log.filter(F.col("outcome") != "blocked")
        ordered = global_ordinal(
            decisions, ["round", "depth", "lineage"], self._session_width
        )
        full_log = ordered.unionByName(
            fetch_log.filter(F.col("outcome") == "blocked").withColumn(
                "ordinal", F.lit(None).cast("int")
            )
        )

        metrics = (
            full_log.groupBy("round", "outcome").agg(F.count("*").alias("n"))
        )
        partition_metrics = (
            full_log.groupBy("round", "partition_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("outcome") == "fetched", 1).otherwise(0)).alias("n_fetched"),
                F.sum(F.when(F.col("outcome") == "retry", 1).otherwise(0)).alias("n_retry"),
            )
        )

        payload_df = None
        if self.payload_table is not None and os.path.exists(self.payload_table):
            payload_df = read_merged(self.spark, self.payload_table, "image_id")
        elif payloads:
            payload_df = self._union_parts(payloads)

        # every returned DataFrame bottoms out in (possibly lazy)
        # localCheckpoints, all of which were materialized by the
        # per-round counts — the cached graph tables can be released
        if self.fetch_mode == "simulated":
            self.pages.unpersist()
            self.links.unpersist()
        self.robots.unpersist()

        return CrawlResult(
            fetch_log=full_log,
            seen=self._union_parts(seen_parts).select("url"),
            metrics=metrics,
            payloads=payload_df,
            rounds=rnd,
            partition_metrics=partition_metrics,
            conversions=self._union_parts(conversions) if conversions else None,
            round_walls=round_walls,
            post_loop_s=round(_time.time() - _t_post, 3),
        )
