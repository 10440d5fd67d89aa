"""The benchmark's workloads. Each treats the engine as a black box.

A workload's phases, all driven by ``run.py``:

- ``prepare()`` builds its golden answers from the generated inputs
  with the repo's single-threaded replay (no Spark, outside every timed
  window);
- ``setup(spark)`` registers the input views (timed as part of
  ``setup_s``);
- ``next_op()`` readies the next op's inputs and golden answer
  (untimed);
- ``run(spark, warm)`` runs one operation and returns its ``Op``; the
  first ``warmup_ops`` (``warm=True``) are checked but not timed;
- ``check(op)`` compares the op's output with the golden answer
  (untimed) and returns the mismatches (empty = correct).

``CorpusSearch`` is the training-data operator suite (near-dup dedup,
similarity search, image near-dups); ``run.py`` runs it in traced
``frontier_open`` runs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.functions.urls import canonicalize_one
from volltextextraktion_selenium_md_spark.plans import queries as Q
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.replay import _SEED_COLS, _load_graph, replay_crawl
from volltextextraktion_selenium_md_spark.streaming.crawl import request_results

from perfbench import checks
from perfbench.measure import dir_bytes_files


@dataclass
class Op:
    wall_s: float
    result: object = None  # what the engine returned, for check()
    decisions: int = 0
    round_walls: list[float] = field(default_factory=list)
    post_loop_s: float = 0.0
    store_bytes: int = 0
    store_files: int = 0
    converted: int = 0
    latencies: list[float] = field(default_factory=list)  # per request
    already_seen: int = 0
    steal_frac: float = 0.0  # share of the host's CPU time other guests took


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class FrontierOpen:
    """A freshly submitted open-budget crawl job: a mirrored BFS over the
    real graph with convert off and no store, so seen, dedup, fetch and
    child expansion do the work. Mirrors multiply the volume of every
    round without adding rounds. The switch to the partitioned seen
    base (the layout meant for 10^10 URLs, 200k rows by default) is
    scaled to this graph so it engages mid-crawl."""

    name = "frontier_open"
    cfg = CrawlConfig(max_depth=1, host_budget_per_round=1_000_000)
    # the first crawl of a fresh JVM runs at half speed or less (class
    # loading, code generation, Python workers starting), so a one-round
    # crawl of the unmirrored graph runs first, checked but not timed
    warmup_ops = 1
    warm_cfg = CrawlConfig(max_depth=0, host_budget_per_round=1_000_000)
    seen_partitioned_min_rows = 3000
    traced_ops = 1
    search = True  # a traced run also runs CorpusSearch

    def __init__(self, input_dir: str, work_dir: str, seed: int, scale: str):
        self.input_dir = input_dir
        self.mirrors = 16 if scale == "bench" else 2

    def prepare(self) -> None:
        self.gold = replay_crawl(self.input_dir, self.cfg)
        self.warm_gold = replay_crawl(self.input_dir, self.warm_cfg)

    def setup(self, spark) -> None:
        graph.register_graph_views(spark, self.input_dir)

    def next_op(self) -> None:
        pass

    def run(self, spark, warm: bool = False) -> Op:
        cfg, mirrors, gold = ((self.warm_cfg, 1, self.warm_gold) if warm
                              else (self.cfg, self.mirrors, self.gold))
        t0 = time.perf_counter()
        res = CrawlEngine(
            spark, self.input_dir, cfg=cfg, mirrors=mirrors,
            seen_partitioned_min_rows=self.seen_partitioned_min_rows,
            collect_round_counts=False,
        ).run()
        noop(res.fetch_log)
        noop(res.seen)
        return Op(time.perf_counter() - t0, (res, gold, mirrors),
                  round_walls=list(res.round_walls), post_loop_s=res.post_loop_s)

    def check(self, op: Op) -> list[str]:
        res, gold, mirrors = op.result
        cols = [*checks.LOG_KEY, "ordinal"]
        rows = [r.asDict() for r in res.fetch_log
                .filter("outcome <> 'blocked'").select(*cols).collect()]
        seen = [r["url"] for r in res.seen.collect()]
        op.decisions = len(rows)
        return checks.check_mirrored_crawl(rows, seen, gold, mirrors)


REQUEST_COLS = [
    "raw_url", "seed_idx", "priority", "mode", "js_strategy", "llm_anonymize",
    "timeout_ms", "retries", "llm_postprocess", "extract_links",
    "html_converter", "media_policy", "max_bytes", "trafilatura_clean",
    "proxy", "allow_insecure_ssl", "llm_prompt",
]
REQUEST_DDL = (
    "raw_url string, seed_idx bigint, priority int, mode string, "
    "js_strategy string, llm_anonymize boolean, timeout_ms int, retries int, "
    "llm_postprocess boolean, extract_links boolean, html_converter string, "
    "media_policy string, max_bytes int, trafilatura_clean boolean, "
    "proxy string, allow_insecure_ssl boolean, llm_prompt string"
)


class ServiceRequests:
    """The reference's traffic shape: one client in a closed loop sends
    small batches of extraction requests (fetch one page, convert it to
    markdown, LLM-postprocess it, as ``POST /extract`` does; one plain
    HTML page, one PDF and one image per batch) to one long-lived store,
    with the default politeness config. Each batch resumes the store,
    serves its requests, commits a snapshot every round, merges the
    image payloads, and is done when every request's results are
    readable through ``request_results``. From the second batch on, one
    request per batch repeats a URL the store has already served (the
    service's already-extracted fast path). Rounds are small, so
    per-round fixed cost, resume reads and commits dominate."""

    name = "service_requests"
    cfg = CrawlConfig()
    # fresh requests per batch: one page of each content type
    kinds = ("text/html", "application/pdf", "image/jpeg")
    batch_repeat = 1   # already-served requests per batch
    # a long-lived service pays the JVM's warm-up once, not per batch:
    # the first batch is served and checked but not timed
    warmup_ops = 1
    # the traced batch is the third: it resumes a store that has served
    # two batches and repeats an already-served URL
    traced_ops = 1
    search = False

    def __init__(self, input_dir: str, work_dir: str, seed: int, scale: str):
        self.input_dir = input_dir
        self.store = os.path.join(work_dir, "service-store")
        self.rng = np.random.default_rng(seed + 7)
        self.idx = self.rounds = 0
        self.seen: set[str] = set()
        self.served: list[str] = []

    def _request(self, url: str) -> dict:
        idx = self.idx
        self.idx += 1
        d = {c: None for c in _SEED_COLS}
        d.update(
            seed_idx=idx, priority=idx % 3,
            raw_url=url + ("", "/", "#top")[idx % 3],
            mode=("fast", "js", "auto", "auto", "auto")[idx % 5],
            js_strategy="accuracy" if idx % 4 == 2 else "speed",
            llm_anonymize=idx % 3 == 1, llm_postprocess=idx % 5 != 2,
            extract_links=False,
        )
        return d

    def prepare(self) -> None:
        pages, _, _, robots = _load_graph(self.input_dir)
        # every batch asks for one page of each kind, so batches (and
        # seeds) run the same code paths; every request is admitted and
        # served in one round (no 5xx retry round, no robots block)
        self.pools = []
        for kind in self.kinds:
            pool = sorted(
                u for u, p in pages.items()
                if p["status"] == 200 and p["content_type"].startswith(kind)
                and not checks.robots_blocked(u, robots)
                and not (kind == "text/html" and (
                    p["spa_mark"] or p["js_required"] or p["consent"]
                    or p["bot_wall"] or p["youtube"] or p["rss_link"])))
            self.pools.append([pool[j] for j in self.rng.permutation(len(pool))])

    def setup(self, spark) -> None:
        graph.register_graph_views(spark, self.input_dir)

    def next_op(self) -> None:
        """Draw the next batch and replay it against everything served
        so far; batches are drawn as long as the run asks for them."""
        reqs = [self._request(pool.pop()) for pool in self.pools]
        if self.served:
            reqs += [self._request(self.served[int(self.rng.integers(len(self.served)))])
                     for _ in range(self.batch_repeat)]
        gold = replay_crawl(self.input_dir, self.cfg, seeds=reqs,
                            initial_seen=self.seen, start_round=self.rounds)
        self.batch = reqs
        self.gold = gold
        self.repeats = {canonicalize_one(r["raw_url"]) for r in reqs} & self.seen
        self.served += [canonicalize_one(r["raw_url"]) for r in reqs[:len(self.kinds)]]
        self.seen, self.rounds = gold.seen, gold.rounds

    def run(self, spark, warm: bool = False) -> Op:
        self.before = dir_bytes_files(self.store)
        rows = [tuple(r[c] for c in REQUEST_COLS) for r in self.batch]
        t0 = time.perf_counter()
        res = CrawlEngine(
            spark, self.input_dir, cfg=self.cfg, checkpoint_dir=self.store,
            new_seeds=spark.createDataFrame(rows, REQUEST_DDL),
            with_convert=True, with_llm=True, collect_round_counts=False,
        ).run()
        results, lat = [], []
        for r in self.batch:
            results.append(request_results(spark, self.store, r["seed_idx"]).collect())
            lat.append(time.perf_counter() - t0)
        return Op(lat[-1], (res, results), round_walls=list(res.round_walls),
                  post_loop_s=res.post_loop_s, latencies=lat,
                  already_seen=len(self.repeats))

    def check(self, op: Op) -> list[str]:
        res, results = op.result
        errors = []
        for req, got in zip(self.batch, results):
            want = checks.subtree(self.gold.crawl_order, req["seed_idx"])
            have = [(r["url"], r["lineage"], r["outcome"]) for r in got
                    if r["outcome"] != "blocked"]
            op.decisions += len(have)
            if have != want:
                errors.append(f"request {req['seed_idx']}: "
                              f"{len(have)} result rows, replay has {len(want)}")
        conv = sorted(r["url"] for r in res.conversions.select("url").collect()) \
            if res.conversions is not None else []
        want_conv = sorted(g["url"] for g in self.gold.crawl_order
                           if g["outcome"] == "fetched")
        if conv != want_conv:
            errors.append(f"converted {len(conv)} pages, replay fetched {len(want_conv)}")
        after, files = dir_bytes_files(self.store)
        op.store_bytes, op.store_files = after - self.before[0], files - self.before[1]
        op.converted = len(conv)
        return errors


class CorpusSearch:
    """The training-data operator suite on the documents and embeddings
    tables: exact and near-duplicate document dedup, similarity search
    and image near-duplicates, one query at a time. Each query runs to
    completion by collecting its (small) result, which the check then
    compares with the golden answer."""

    QUERIES = ("dedup_exact", "minhash_lsh_pairs", "simhash_dup_pairs",
               "cosine_topk_lsh", "ivf_topk", "embedding_near_dup", "phash_near_dup")

    def __init__(self, input_dir: str):
        self.input_dir = input_dir

    def prepare(self) -> None:
        self.gold = checks.duckdb_answers(
            self.input_dir, [q for q in self.QUERIES if q != "phash_near_dup"])
        docs = pq.read_table(os.path.join(self.input_dir, "documents.parquet"),
                             columns=["doc_id"]).column(0).to_pylist()
        self.gold_phash = checks.phash_pairs(docs, Q.PHASH_MAX_HAMMING,
                                             Q.IMG_VARIANT_EVERY)

    def run(self, spark, name: str) -> tuple[list[str], list]:
        df = getattr(Q, "q_" + name)(spark, self.input_dir)
        return df.columns, df.collect()

    def check(self, name: str, cols: list[str], rows: list) -> list[str]:
        if name == "phash_near_dup":
            got = {(r["image_a"], r["image_b"], r["hamming"]) for r in rows}
            if got != self.gold_phash:
                return [f"{name}: {len(got)} pairs, brute force finds "
                        f"{len(self.gold_phash)}"]
            return []
        have = checks.fingerprint([tuple(r) for r in rows], cols)
        if have != self.gold[name]:
            return [f"{name}: {have[0]} rows, DuckDB oracle {self.gold[name][0]}"
                    + ("" if have[1] == self.gold[name][1] else ", columns differ")
                    + ("" if have[2] == self.gold[name][2] else ", values differ")]
        return []


WORKLOADS = {w.name: w for w in (FrontierOpen, ServiceRequests)}
