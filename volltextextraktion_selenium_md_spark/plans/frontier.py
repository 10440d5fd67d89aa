"""The crawl frontier round loop — the core of the engine.

The reference is one-URL-per-request (``POST /crawl``); callers re-POST
the returned ``links`` to crawl (``app/main.py:424-430``). This module
makes that implied loop explicit and distributed while reproducing its
ordering semantics exactly (SURVEY §2.3):

round k:  frontier --robots--> allowed | blocked
          allowed --budget rank cut--> admitted | deferred
          admitted --slots--> --time-budget cut--> (over budget -> deferred)
          --fetch stage--> outcomes
          only when a frontier row can expand (depth < max_depth and
          extract_links not false):
            fetched html --links--> children --first-seen dedup-->
            --seen anti-join--> unseen
          frontier(k+1) = deferred ∪ retries(attempt+1) [∪ unseen]

``CrawlEngine`` runs it in named phases (``_run_impl``): ``_prep_tables``
persists the graph tables and ``_restore`` loads the starting point
(fresh seeds, a resumed snapshot, or a snapshot plus a service batch).
Each ``_round`` then runs robots, budget and slots (``_politeness``),
the fetch stage and the round's log part (``_fetch``; ``_convert``
hands the bulk phase to its thread), children plus first-seen dedup
(``_children``), the seen filter and anti-join (``_unseen``; a seen
base whose estimate crossed ``seen_partitioned_min_rows`` is promoted to
the partitioned layout just before it), the next frontier, the seen
delta and compaction (``_compact_seen``), and then, in this order: the
frontier count, the seen filter's one fold, ``_commit`` and
``_hygiene``. The frontier count also counts the rows that can expand
(``can_expand``); a round whose frontier has none plans no children
and no unseen rows, so it adds no seen delta, folds nothing into the
seen filter, promotes no seen base and never builds the link cache (a
service batch of leaf requests, the last rounds of a depth-capped
BFS). ``_endgame`` drains the bulk thread and assembles the result;
``CrawlResult.fetch_log`` assigns the global ordinal on its first read.

The loop thread and the bulk thread share one session conf, and the
engine writes it in one place only: ``_ckpt_partitioned`` turns AQE off
while it captures the partitioned seen base. It first waits for every
job handed to the bulk thread (``_drain``, the same wait ``_commit``
runs before publishing a snapshot), so no bulk job is planned inside
that window. Every round plans its shuffles at the session width.

The fetch stage is either the simulated lookup join (deterministic,
oracle-checkable) or, when a transport is given
(``CrawlEngine(transport_factory=...)``, e.g.
``plans.fetch.httpx_transport``), the LIVE network stage (salted
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
- seen-set membership = exact left_anti join (linear, co-partitioned);
  ``use_bloom`` adds a sharded Bloom prefilter (one shard per session
  partition, built distributedly) that routes definitely-new rows
  around the shuffle (operators/seen.py:SeenSet).
- hot hosts are salted across partitions before the fetch stage
  (operators/politeness.py:salted_repartition); AQE skew-join covers
  the join side.
"""

from __future__ import annotations

import os
import time as _time
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.sources.lakehouse import (
    SnapshotStore,
    merge_into,
    read_merged,
)

from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.functions.lineage import (
    CRAWL_ORDER,
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
from volltextextraktion_selenium_md_spark.plans.convert import (
    FEATURE_COLS,
    convert_stage,
)
from volltextextraktion_selenium_md_spark.plans.fetch import (
    links_from_payloads,
    live_decisions,
    live_fetch,
    simulated_fetch,
)
# the per-request column contract (schemas.py); importers of the engine
# take REQUEST_COLS from here
from volltextextraktion_selenium_md_spark.schemas import (
    REQUEST_COLS,
    with_request_cols,
)

FRONTIER_COLS = [
    "url", "host", "depth", "lineage", "priority", *REQUEST_COLS,
    "attempt", "round_added",
]

LOG_COLS = [
    "round", "url", "host", "depth", "lineage", "mode", "attempt", "outcome",
    "page_id", "status_code", "final_url", "redirected", "content_type",
    "strategy", "route", "js_escalated", "elapsed_ms", "partition_id",
]


def can_expand(max_depth: int) -> Column:
    """May this frontier row expand children: below the depth cap, and
    its request asks for links (per-request extract_links gate,
    schemas.py:171-192: a false row is a leaf, fetched and converted
    but expanding no children; NULL = crawl default, expand). The
    static half of ``_children``'s parent filter, and what the frontier
    count counts to decide whether the next round expands at all."""
    return (F.col("depth") < max_depth) & F.coalesce(
        F.col("extract_links"), F.lit(True)
    )


@dataclass
class CrawlResult:
    log: DataFrame                # every decision, without the ordinal
    seen: DataFrame               # final seen set (url)
    metrics: DataFrame            # per (round, outcome) counts
    payloads: DataFrame | None    # image+caption rows (input_hint shape)
    rounds: int = 0
    partition_metrics: DataFrame | None = None  # per (round, partition) lineage
    conversions: DataFrame | None = None  # per-page markdown (with_convert)
    round_walls: list[float] = field(default_factory=list)  # driver s/round
    post_loop_s: float = 0.0  # drain + result-assembly endgame wall

    @cached_property
    def fetch_log(self) -> DataFrame:
        """Every decision with its global ``ordinal`` (NULL on blocked
        rows), assigned on the first read and kept: the ordinal's range
        sort runs over the whole cumulative log, and a caller that
        never reads it (a service batch answers from the store) never
        pays for it. The ORDER (round, depth, lineage) is the replay
        contract, the ordinal is bookkeeping. The range sort runs at the
        session width, like every explicit width in the engine."""
        width = int(
            self.log.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        decisions = self.log.filter(F.col("outcome") != "blocked")
        return global_ordinal(
            decisions, ["round", *CRAWL_ORDER], width
        ).unionByName(
            self.log.filter(F.col("outcome") == "blocked").withColumn(
                "ordinal", F.lit(None).cast("int")
            )
        )


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
    """Free the stored blocks of every localCheckpoint ``df`` reads —
    each ``LogicalRDD`` leaf of its analyzed plan, so a projection of a
    checkpoint (every seen delta is one) frees the checkpoint under it.
    The caller must guarantee none of those checkpoints is read again —
    Spark raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND if one is (loud,
    never silent corruption). No-op for plans that aren't
    checkpoint-backed (a parquet-backed resume read has no LogicalRDD
    leaf and nothing to free). This is mandatory 10^10-scale hygiene: a
    crawl that pins every round's checkpoint retains O(total crawl
    volume) of block-manager storage, and past ~50% of unified memory
    the executor's EXECUTION side starts spilling every shuffle —
    measured m128/s64 local[32]: 439 s pinned vs 345 s with the blocks
    released (BENCH.md round 6)."""
    if df is None:
        return
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def init_frontier(spark: SparkSession, seeds_df: DataFrame | None = None) -> DataFrame:
    """Seed rows -> canonical frontier (depth 0), first-seen deduped in
    seed order (reference's per-page order-preserving dedup semantics,
    app/utils.py:48-55, applied to the seed list)."""
    src = seeds_df if seeds_df is not None else graph.seeds(spark)
    seeds = with_request_cols(src).select(
        canonicalize_url(F.col("raw_url")).alias("url"),
        F.col("seed_idx"),
        F.col("priority"),
        *REQUEST_COLS,
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
    return first_seen(f, "url", CRAWL_ORDER)


class CrawlEngine:
    # convert-task granularity multiplier (round-4 verdict #3 "finer
    # convert tasks"): convert width = CONVERT_TASK_FACTOR x session
    # width, capped at the round's row count
    CONVERT_TASK_FACTOR = 4
    # explicit-broadcast ceiling for the per-round parents side of the
    # child-link join (see _children_links): rounds below this many
    # frontier rows hint the broadcast outright instead of letting AQE
    # discover it through a materialized shuffle stage
    BROADCAST_PARENTS_MAX = 100_000
    # seen-set compaction cadence (rounds); bounds the anti-join chain
    SEEN_COMPACT_EVERY = 4

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        cfg: CrawlConfig | None = None,
        use_bloom: bool = False,
        with_convert: bool = False,
        collect_round_counts: bool = True,
        mirrors: int = 1,
        with_llm: bool = False,
        checkpoint_dir: str | None = None,
        transport_factory=None,
        seen_partitioned_min_rows: int = 200_000,
        new_seeds: DataFrame | None = None,
    ):
        """``collect_round_counts`` is accepted and ignored: per-(round,
        outcome) counts are ``CrawlResult.metrics``. Its frozen callers
        (``bench.py``, ``perfbench/workloads.py``) still pass it."""
        # caller-input checks raise (not assert, which ``python -O``
        # strips) before any Spark work runs
        if new_seeds is not None and mirrors != 1:
            raise ValueError(
                "new_seeds (service mode) cannot be combined with mirrors > 1"
            )
        if with_llm and not with_convert:
            raise ValueError(
                "with_llm post-processes converted markdown: it needs "
                "with_convert"
            )
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        # no transport: fetches resolve against the deterministic graph
        # (lookup join). A transport (e.g. plans/fetch.py:httpx_transport)
        # makes the crawl LIVE: the mapInPandas network stage
        # (plans/fetch.py:live_fetch) runs inside the SAME round loop —
        # robots, budget, slots, seen-set, status-code retries and
        # ordering are shared code. Live children come from the payload
        # bytes (links_from_payloads), and with_convert converts the
        # REAL payload bytes (image rows yield metadata markdown; the
        # image+caption payload TABLE stays the minted corpus's
        # contract, see convert_stage docstring).
        self.transport_factory = transport_factory
        self.live = transport_factory is not None
        # use_bloom: the sharded seen-set prefilter (seen_ops.SeenSet),
        # one shard per session partition — per-shard blooms consulted
        # task-locally; the exact anti-join stays the correctness path
        self.use_bloom = use_bloom
        # with_convert: each round's convert output (and its payload-
        # table merge) is materialized from ONE background driver thread
        # so the bulk phase runs concurrently with the next rounds'
        # frontier barriers — wall approaches max(rounds, bulk)
        self.with_convert = with_convert
        # the fetch stage's output columns: every log column but
        # status_code (the log renames page_status), the request
        # settings, the seen hashes and the convert features. The
        # simulated fetch adds partition_id after this projection; the
        # live stage carries its own plus the payload bytes.
        keep = [
            c for c in dict.fromkeys(
                LOG_COLS[1:]
                + ["page_status", "priority", *REQUEST_COLS, "h1", "h2"]
                + (FEATURE_COLS if with_convert else [])
            ) if c != "status_code"
        ]
        self._fetch_cols = (
            keep + ["payload"] if self.live
            else [c for c in keep if c != "partition_id"]
        )
        # optional LLM postprocess over converted markdown (plans/llm.py):
        # conversions gain the LLMResult struct column (CrawlResponse.llm,
        # reference schemas.py:248-257) — never fails a row
        self.with_llm = with_llm
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
        # the session width is every explicit width's ceiling: the
        # cached pages/links, the partitioned seen base, the convert
        # stage and the final ordinal sort
        self._session_width = int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
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

    def _drain(self) -> None:
        """Wait for every job handed to the bulk thread so far (convert,
        payload merge, narrow log re-checkpoint); re-raises a worker's
        exception. ``result()`` is idempotent, so draining twice costs
        nothing. The bulk thread only runs what this (loop) thread
        submits, so after the drain no bulk job is planned until the
        loop submits the next one."""
        for fut in self._bulk_futures + self._hygiene_futures:
            fut.result()

    def _ckpt_partitioned(self, df: DataFrame) -> DataFrame:
        """Eager localCheckpoint that KEEPS hash(url) partitioning and
        per-partition ordering visible to later plans. AQE must be off
        while the checkpoint is captured: under AQE the physical root is
        an un-finalized AdaptiveSparkPlanExec whose outputPartitioning
        reads as Unknown, so the resulting LogicalRDD would force an
        ENSURE_REQUIREMENTS exchange in every consumer (verified on
        Spark 4.1; with the toggle the downstream AQE-planned anti-join
        shows ZERO exchanges on this side). The sort lets the SMJ skip
        the base-side sort too.

        This is the engine's only session-conf write. The conf is shared
        with the bulk thread, so the toggle window opens only after
        ``_drain``: a bulk job planned inside it would silently run
        without AQE."""
        self._drain()
        conf = self.spark.conf
        prev = conf.get("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return (
                df.repartition(self._session_width, "url")
                .sortWithinPartitions("url")
                .localCheckpoint()
            )
        finally:
            conf.set("spark.sql.adaptive.enabled", prev)

    def _ckpt_seen(self, df: DataFrame, n_hint: int) -> DataFrame:
        """Checkpoint a (compacted) seen base, volume-adaptively: small
        bases take a plain eager checkpoint (no repartition/sort jobs,
        no AQE toggle — the anti-join broadcasts them), large bases the
        partitioned+sorted form (exchange-free base side). Promotion is
        monotonic so a run never flip-flops layouts."""
        if self._seen_large(n_hint):
            self._seen_partitioned = True
            return self._ckpt_partitioned(df)
        return df.localCheckpoint()

    def _seen_large(self, n_seen: int) -> bool:
        """Is the seen base large: already promoted to the partitioned
        layout, or at/over its threshold? A large base is kept
        hash-partitioned + sorted and anti-joined exchange-free; a small
        one is a plain checkpoint the anti-join broadcasts."""
        return self._seen_partitioned or n_seen >= self.seen_partitioned_min_rows

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
            co = llm_postprocess_stage(co)
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
        self._prep_tables()
        self._restore()
        # service mode: each request batch gets its own max_rounds
        # budget relative to the resumed round (the service serves each
        # POST in full); a plain resume keeps the absolute budget — it
        # is the SAME interrupted crawl continuing
        rnd_limit = (
            self._rnd + self.cfg.max_rounds if self.new_seeds is not None
            else self.cfg.max_rounds
        )
        while self._rnd < rnd_limit and self._n_frontier > 0:
            t_round = _time.time()
            self._round()
            self._round_walls.append(round(_time.time() - t_round, 3))
            self._rnd += 1
        return self._endgame()

    def _prep_tables(self) -> None:
        """Persist the graph tables every round reads. pages/links are
        temp-view-backed (window + explode under the hood); persist once
        so rounds don't re-derive them — the lakehouse-table analogue at
        10^10 scale. BOTH sides of the per-round joins are persisted
        hash-partitioned on their join key (pages on url for the fetch
        join, links on src_page_id for the child expansion), so each
        round shuffles ONLY the (much smaller) frontier side — the
        co-located-join pattern (bucketed table at lakehouse scale).
        Cached plans keep their outputPartitioning under AQE by default
        (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning)."""
        if not self.live:
            self.pages = self.pages.repartition(self._session_width, "url").persist()
            links = self.links.select(*self.LINK_COLS)
            if self.mirrors > 1:
                # canonical URL is a property of the LINK, not of the crawl
                # round — compute it once on the base table (the lakehouse
                # would store it at link-extraction time) and let
                # _children_links insert the mirror token into the canonical
                # form. m=1 keeps the in-loop canonicalize: a partial crawl
                # touches far fewer links than the table holds, so precomputing
                # all of them would be net-negative there.
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

    def _restore(self) -> None:
        """Reset the round loop's state and load its starting point: a
        fresh crawl from the seeds, or the latest published snapshot
        (plus a service batch's seeds when ``new_seeds`` is set). Ends
        with the frontier count the loop's first exit test reads."""
        # the round loop's state — the phase methods read and advance it
        self._rnd = 0
        self._logs: list[DataFrame] = []  # per-round fetch-log parts
        self._bulk_futures: list = []  # pipelined convert/merge jobs
        self._hygiene_futures: list = []  # narrow log re-checkpoints
        self._round_walls: list[float] = []
        # seen set = BASE + DELTAS (filter_unseen_parts); the base is in
        # the partitioned layout once _seen_large promoted it
        self._seen_partitioned = False
        # incrementally-maintained seen filter (use_bloom): full builds
        # only on the geometric resize schedule; each round's delta
        # folds in via executor-side partial bitsets (O(delta))
        self._seen_filter: seen_ops.SeenSet | None = None
        self._filter_rebuilds = 0  # observability: resize-rebuild count
        self._bulk_pool = None
        if self.with_convert:
            from concurrent.futures import ThreadPoolExecutor

            self._bulk_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="bulk-convert"
            )
        if self.store is not None and self.store.latest() is not None:
            self._resume()
        else:
            self._frontier = seen_ops.with_hashes(
                init_frontier(self.spark, self.seeds)
            ).localCheckpoint()
            self._seen_parts = [
                self._ckpt_seen(self._frontier.select("url", "h1", "h2"), 0)
            ]
            self._n_seen = 0
        self._count_frontier()
        self._n_seen = self._n_seen or self._n_frontier

    def _resume(self) -> None:
        """Restore frontier, seen set, cumulative log AND filter state
        exactly from the latest published snapshot; rounds continue from
        where the previous process died — no rescan of history to
        rebuild membership state."""
        man = self.store.manifest()
        self._rnd = man["meta"]["round"] + 1
        # a checkpoint written before a request column existed gets it
        # backfilled: the round loop selects all of them
        frontier = with_request_cols(self.store.read(self.spark, "frontier"))
        if self.new_seeds is None:
            # service mode checkpoints the frontier once, after the
            # union with the batch's seeds
            frontier = frontier.localCheckpoint()
        # above the volume threshold the restored base is kept
        # hash(url)-partitioned + sorted through its checkpoint, so each
        # round's anti-join moves no base rows; small bases stay plain
        # and the anti-join broadcasts them
        self._n_seen = man["meta"].get("n_seen_hint", 1024)
        self._seen_parts = [
            self._ckpt_seen(self.store.read(self.spark, "seen"), self._n_seen)
        ]
        log0 = self.store.read(self.spark, "fetch_log")
        if "js_escalated" not in log0.columns:
            # checkpoint written before the escalation-ladder column
            # existed — unknown for historic rows
            log0 = log0.withColumn("js_escalated", F.lit(None).cast("boolean"))
        self._logs = [log0.localCheckpoint()]
        # a store without a seen_shards blob (crawled without use_bloom,
        # or written with a retired filter blob format) resumes with no
        # filter: the first round rebuilds it from the seen parts, which
        # include a service batch's fresh seeds. The restored blob covers
        # the committed seen table, so it simply BECOMES the maintained
        # filter (sources/lakehouse.py contract)
        if self.use_bloom and "seen_shards" in man.get("blobs", []):
            self._seen_filter = seen_ops.SeenSet.from_bytes(
                self.store.read_blob("seen_shards")
            )
        if self.new_seeds is not None:
            frontier = self._admit_service_batch(frontier)
        self._frontier = frontier

    def _admit_service_batch(self, frontier: DataFrame) -> DataFrame:
        """Service mode: this batch of CrawlRequests joins the PERSISTENT
        crawl. Exact anti-join against the restored seen table drops
        already-extracted URLs (the service's fast path); survivors enter
        the frontier at depth 0 and are committed to the seen set
        immediately, exactly like round-0 seeds of a fresh crawl (replay
        twin: replay_crawl(seeds=..., initial_seen=..., start_round=...))."""
        nf = seen_ops.with_hashes(
            init_frontier(self.spark, self.new_seeds)
        ).withColumn("round_added", F.lit(self._rnd))
        fresh_seeds = seen_ops.filter_unseen_parts(
            nf, self._seen_parts,
            broadcast_base=not self._seen_large(self._n_seen),
        ).select(*frontier.columns).localCheckpoint()
        frontier = frontier.unionByName(fresh_seeds).localCheckpoint()
        self._seen_parts.append(fresh_seeds.select("url", "h1", "h2"))
        if self._seen_filter is not None:
            # the restored filter covers the RESTORED seen table only —
            # fold the batch's surviving seeds in, or the first round's
            # prefilter would route a child link equal to a same-batch
            # seed URL around the anti-join as "definitely new"
            self._seen_filter.fold_delta_df(fresh_seeds.select("h1", "h2"))
        return frontier

    def _count_frontier(self) -> None:
        """The round's one frontier action: its row count (the loop-exit
        test and the seen-cardinality input for filter sizing) and, in
        the same aggregate, how many rows can expand (``can_expand``);
        with none, the next round skips child expansion."""
        row = self._frontier.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(can_expand(self.cfg.max_depth), 1)).alias("n_expand"),
        ).collect()[0]
        self._n_frontier, self._n_expandable = row["n"], row["n_expand"]

    def _round(self) -> None:
        """One crawl round, in the module docstring's diagram order."""
        frontier = self._frontier
        admitted, deferred, blocked = self._politeness(frontier)
        fetched = self._fetch(admitted, blocked)
        if self.with_convert:
            self._convert(fetched)
        # retry re-queue (F8): failed-retryable rows flow into the next round
        # with attempt+1 — backoff becomes a schedule slot, not a sleep
        retries = fetched.filter(F.col("outcome") == "retry").select(
            "url", "host", "depth", "lineage", "priority", *REQUEST_COLS,
            (F.col("attempt") + 1).alias("attempt"),
            F.lit(self._rnd + 1).alias("round_added"),
            "h1", "h2",
        )
        nxt = deferred.select(*FRONTIER_COLS, "h1", "h2").unionByName(retries)
        # no frontier row can expand: no children, so no unseen rows, no
        # seen delta and no filter fold or rebuild — the round plans none
        # of the child-expansion path (and never builds the link cache)
        # and reads no seen part, so it leaves the seen base's promotion
        # to the next round that does
        unseen, dead_parts = None, []
        if self._n_expandable:
            if self._seen_large(self._n_seen) and not self._seen_partitioned:
                # promote before the anti-join reads the base: a large
                # plain base is neither broadcastable nor exchange-free
                dead_parts = self._fold_seen()
            unseen = self._unseen(self._children(fetched))
            nxt = nxt.unionByName(unseen.select(*FRONTIER_COLS, "h1", "h2"))
        self._frontier = nxt.localCheckpoint(eager=False)
        dead_parts += self._compact_seen(unseen)
        self._count_frontier()
        # cheap upper bound is enough for filter sizing (deferred and
        # retry rows double-count; the filter is just slightly larger)
        self._n_seen += self._n_frontier
        if unseen is not None and self._seen_filter is not None:
            # the round's one O(delta) fold (executor-side partial
            # bitsets, never keys to the driver): the committed blob
            # then covers exactly the committed seen table, and the fold
            # reads unseen before hygiene can release its blocks
            self._seen_filter.fold_delta_df(unseen.select("h1", "h2"))
        if self.store is not None:
            self._commit()
        self._hygiene(dead_parts, fetched, frontier)

    def _politeness(
        self, frontier: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """robots -> budget rank cut -> crawl-delay slots -> time-budget
        cut. Returns (admitted, deferred, blocked)."""
        cfg = self.cfg
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
        return admitted, deferred, blocked

    def _fetch(self, admitted: DataFrame, blocked: DataFrame) -> DataFrame:
        """The fetch stage over the admitted rows, checkpointed; appends
        the round's log part (fetched + blocked rows)."""
        cfg = self.cfg
        # NOTE: the live-fetch (mapInPandas) path salts hot hosts
        # across partitions (salted_repartition); the simulated fetch
        # is a url-equi join whose output partitioning is already
        # uniform in the join key, so no extra shuffle.
        if self.live:
            raw = live_fetch(
                admitted, cfg,
                transport_factory=self.transport_factory,
                num_partitions=self._session_width,
                passthrough=[
                    "priority", *REQUEST_COLS, "h1", "h2", "sched_slot_ms",
                ],
            )
            # partition_id comes from the salted live stage itself
            # (north-rule lineage: which partition did the fetching)
            fetched = live_decisions(raw, cfg).withColumn(
                # the escalation ladder is a cost-model concept; the
                # live httpx transport never renders, so unknown
                "js_escalated", F.lit(None).cast("boolean")
            ).select(*self._fetch_cols)
        else:
            fetched = (
                simulated_fetch(
                    admitted, self.pages, cfg,
                    mirror_span=self.span, mirrors=self.mirrors,
                )
                .select(*self._fetch_cols)
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
        # the round's log part stays a LAZY projection of the
        # fetched/frontier checkpoints here; the end-of-round hygiene
        # task re-checkpoints it NARROW so the wide fetched blocks can
        # be released (convert on). Blocked rows set the round, the row's
        # identity and the outcome; their fetch columns are NULL.
        # partition_id is nullable on the fetched side too (no row has -1):
        # unioned as non-nullable with the blocked side's NULL, it leaves
        # the narrow checkpoint a constraint on the non-nullable attribute,
        # which Spark 4.1's LogicalRDD.newInstance fails to re-key (its map
        # compares nullability) when _endgame's union deduplicates the
        # checkpoint — "key not found: partition_id#N" at planning.
        rnd = F.lit(self._rnd).alias("round")
        self._logs.append(
            fetched.select(
                rnd, "url", "host", "depth", "lineage", "mode", "attempt",
                "outcome", "page_id",
                F.col("page_status").alias("status_code"),
                "final_url", "redirected", "content_type", "strategy",
                "route", "js_escalated", "elapsed_ms",
                F.nullif(F.col("partition_id"), F.lit(-1)).alias("partition_id"),
            ).unionByName(
                blocked.select(
                    rnd, "url", "host", "depth", "lineage", "mode",
                    "attempt", F.lit("blocked").alias("outcome"),
                ),
                allowMissingColumns=True,
            )
        )
        return fetched

    def _convert(self, fetched: DataFrame) -> None:
        """Submit the round's convert stage to the bulk thread."""
        ok = fetched.filter(F.col("outcome") == "fetched")
        # explicit convert width: the stage EXPANDS each row by ~payload_scale
        # KB (mint + markdown), which AQE cannot see from the upstream
        # shuffle's input bytes — with sizing-based coalescing the tiny feature
        # rows would collapse to a handful of partitions and strand cores.
        # FINER than the session width (k x cores): a ~30 s convert task set at
        # mirrors=64 otherwise occupies whole scheduling quanta, and even under
        # FAIR the loop's barrier stages wait for the tail of in-flight long
        # tasks. k=4 cuts task length ~4x at ~ms-level task-launch overhead.
        # Never more tasks than the round has rows: each convert task pays a
        # fixed Python-worker cost (~0.25 s), so a 3-row service round split 16
        # ways spent ~4 executor-seconds on empty tasks.
        conv_width = min(
            self._session_width * self.CONVERT_TASK_FACTOR,
            max(1, self._n_frontier),
        )
        conv = convert_stage(
            ok.repartition(conv_width), self.cfg,
            payload_col="payload" if self.live else None,
        )
        # PIPELINE the bulk phase against the round loop: round k's convert
        # depends only on the already-checkpointed fetch output, so a single
        # background driver thread materializes it (and lands its payload
        # batch) WHILE round k+1's frontier stages run. Spark schedules jobs
        # from both threads concurrently; the small frontier stages leave most
        # cores idle between barriers and the convert tasks fill them — engine
        # wall approaches max(rounds, bulk) instead of rounds + bulk. The
        # convert mapInPandas is checkpointed ONCE and both consumers (markdown
        # output, payload batch) derive from the stored partitions. ONE worker
        # thread keeps payload MERGEs in round order.
        self._bulk_futures.append(self._bulk_pool.submit(self._bulk, conv))

    def _children(self, fetched: DataFrame) -> DataFrame:
        """Link expansion from fetched html pages below the depth cap,
        first-seen deduped and hashed for the seen filter."""
        next_round = self._rnd + 1
        parent_filter = (
            (F.col("outcome") == "fetched")
            & F.col("content_type").startswith("text/html")
            & can_expand(self.cfg.max_depth)
        )
        if self.live:
            # live mode: children come from the PAYLOAD BYTES — the
            # reference's extract_links_detailed_from_html over the
            # fetched body (app/utils.py:126-155), Arrow-batched
            children = links_from_payloads(
                fetched.filter(parent_filter).select(
                    "url", "final_url", "payload", "depth", "lineage",
                    "priority", *REQUEST_COLS,
                ),
                next_round,
            )
        else:
            parents = fetched.filter(parent_filter).select(
                F.col("page_id").alias("src_page_id"),
                F.col("depth").alias("p_depth"),
                F.col("lineage").alias("p_lineage"),
                F.col("priority").alias("p_priority"),
                *[F.col(c).alias(f"p_{c}") for c in REQUEST_COLS],
            )
            children = self._children_links(
                parents,
                broadcast_parents=self._n_frontier < self.BROADCAST_PARENTS_MAX,
            ).select(
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
                F.lit(next_round).alias("round_added"),
            )
        return seen_ops.with_hashes(first_seen(children, "url", CRAWL_ORDER))

    def _unseen(self, children: DataFrame) -> DataFrame:
        """The round's new URLs: children anti-joined against the seen
        parts, behind the seen filter when ``use_bloom`` is on (the
        filter is None otherwise)."""
        filt = self._seen_filter
        if self.use_bloom and (filt is None or self._n_seen > filt.capacity):
            # (re)build with 2x headroom. Each round's delta folds in after
            # the round's count, so this O(total seen) scan runs only on the
            # geometric resize schedule — O(log n_seen) times over a crawl.
            # An over-full filter between resizes only raises the fp rate
            # (fp rows still hit the exact anti-join). One shard per session
            # partition: the width the seen base is hash-partitioned to.
            self._seen_filter = seen_ops.SeenSet.build(
                self._union_parts(self._seen_parts),
                n_items=max(self._n_seen, 1024) * 2,
                n_shards=self._session_width,
            )
            self._filter_rebuilds += 1
        # lazy checkpoints truncate lineage without extra jobs: the single
        # frontier count materializes unseen AND the new frontier in one job;
        # seen then reuses the stored unseen partitions. The anti-join runs
        # against the partitioned base + per-round deltas — no O(total seen)
        # shuffle per round. NOTE for profile readers: under AQE this lazy
        # checkpoint's toRdd finalizes the plan, which MATERIALIZES every
        # intermediate query stage (children shuffle, first_seen window,
        # anti-join broadcast builds) — building it is the round's distributed
        # work, not driver overhead (measured: analyze+physical-plan alone is
        # 0.03-0.06 s/round at sf0.1; the remaining ~1.2 s is stage jobs)
        return seen_ops.filter_unseen_parts(
            children, self._seen_parts, self._seen_filter,
            # plain (unpartitioned) small base -> broadcast it; the partitioned
            # base must NOT be broadcast or its exchange-free SMJ shape is
            # wasted. The round promoted a large base just before this
            # anti-join, so the layout alone tells the two apart (a
            # broadcast million-row base: conv-off m64 32c 421 s vs 204 s
            # in r4).
            broadcast_base=not self._seen_partitioned,
        ).localCheckpoint(eager=False)

    def _compact_seen(self, unseen: DataFrame | None) -> list[DataFrame]:
        """Add the round's unseen rows as a seen delta (none in a round
        that cannot expand) and, on the compaction cadence, fold the
        parts into one new base. Returns the folded parts."""
        if unseen is not None:
            self._seen_parts.append(unseen.select("url", "h1", "h2"))
        # periodic compaction bounds the anti-join chain depth at
        # SEEN_COMPACT_EVERY + 1 (at 10^10 scale this is the lakehouse
        # seen-table MERGE; locally a checkpoint rewrite)
        if (self._rnd + 1) % self.SEEN_COMPACT_EVERY:
            return []
        return self._fold_seen()

    def _fold_seen(self) -> list[DataFrame]:
        """Fold the seen parts into one new base, partitioned + sorted
        once the seen estimate is large (``_ckpt_seen``). Returns the
        folded parts: they die once the round's count has stored
        unseen's rows in the new frontier's own blocks."""
        base = self._ckpt_seen(self._union_parts(self._seen_parts), self._n_seen)
        dead, self._seen_parts = self._seen_parts, [base]
        return dead

    def _commit(self) -> None:
        """Publish the round's snapshot: frontier, seen, cumulative log
        and the seen filter's blob."""
        # a published snapshot at round k must not outrun the payload-table
        # merges it implies, and a mid-swap log part must not be unioned into
        # the committed log while its source blocks are being released
        self._drain()
        blobs = {}
        if self._seen_filter is not None:
            # a resume uses it as the first round's filter without a
            # rebuild scan
            blobs["seen_shards"] = self._seen_filter.to_bytes()
        self.store.commit(
            {"frontier": self._frontier,
             "seen": self._union_parts(self._seen_parts),
             "fetch_log": self._union_parts(self._logs)},
            meta={"round": self._rnd, "n_frontier": self._n_frontier,
                  "n_seen_hint": self._n_seen},
            blobs=blobs,
        )

    def _hygiene(
        self, dead_parts: list[DataFrame], fetched: DataFrame,
        frontier: DataFrame,
    ) -> None:
        """Block-manager hygiene (10^10-scale): release every block no
        later plan can read. Seen parts folded into a new compacted base
        died at the round's count (it stored the frontier's own copy of
        unseen) — driver-side bookkeeping, no job. With convert on, the
        bulk thread then re-checkpoints the round's log part narrow and
        releases the wide fetched and the consumed frontier; the
        single-worker pool sequences this AFTER the round's convert
        (which reads fetched). A convert-off crawl has no bulk thread
        and keeps its log parts lazy."""
        for p in dead_parts:
            _release_ckpt(p)
        if self._bulk_pool is None:
            return
        i = len(self._logs) - 1
        part = self._logs[i]

        def narrow_log():
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "bulk"
            )
            self._logs[i] = part.localCheckpoint()
            _release_ckpt(fetched)
            _release_ckpt(frontier)

        self._hygiene_futures.append(self._bulk_pool.submit(narrow_log))

    def _endgame(self) -> CrawlResult:
        """Drain the bulk thread and assemble the result; the log's
        global ordinal waits for the first ``CrawlResult.fetch_log``
        read."""
        t_post = _time.time()
        conversions: list[DataFrame] = []
        payloads: list[DataFrame] = []
        if self._bulk_pool is not None:
            # hygiene must finish before fetch_log is assembled below:
            # every log slot must hold its narrow checkpoint (or a
            # still-alive lazy part), never a lazy part whose source
            # blocks were released mid-swap
            self._drain()
            for fut in self._bulk_futures:
                co_ck, batch_ck = fut.result()
                conversions.append(co_ck)
                if batch_ck is not None:
                    payloads.append(batch_ck)
            self._bulk_pool.shutdown()
            self._bulk_pool = None

        log = self._union_parts(self._logs)
        metrics = log.groupBy("round", "outcome").agg(F.count("*").alias("n"))
        partition_metrics = (
            log.groupBy("round", "partition_id")
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
        if not self.live:
            self.pages.unpersist()
            self.links.unpersist()
        self.robots.unpersist()

        return CrawlResult(
            log=log,
            seen=self._union_parts(self._seen_parts).select("url"),
            metrics=metrics,
            payloads=payload_df,
            rounds=self._rnd,
            partition_metrics=partition_metrics,
            conversions=self._union_parts(conversions) if conversions else None,
            round_walls=self._round_walls,
            post_loop_s=round(_time.time() - t_post, 3),
        )
