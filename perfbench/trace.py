"""Span tracing of the engine's layers, from the outside.

``Tracer.install()`` replaces the names the engine looks up at call
time (``plans.frontier.robots_split``, ``operators.seen.
filter_unseen_parts``, ``SnapshotStore.commit`` ...) with wrappers that
record one span per call and restores them on ``uninstall()``. The
engine code is not changed.

Lazy layers return DataFrames whose work runs later, inside some other
action. Their wrapper first materializes the layer's input (its first
argument, the round's rows) with ``localCheckpoint`` before the span
opens, then, inside the span, calls the layer and checkpoints every
DataFrame it returns, and hands the checkpointed copies back to the
engine. So each lazy span covers its own layer's stage exactly once:
neither its input's lineage nor a later layer's re-run of it lands in
the span. Row counts are read off the checkpoints after the span
closes. The input checkpoints and the counts are the tracing cost,
``overhead_s``, recorded as ``trace.overhead`` spans. Eager layers (commit, merge, ``global_ordinal``) are
timed as called.

Each span records name, start, end, parent, run id and thread. The
parent is the innermost open span of the same thread, or the op's root
span for calls made on another thread (the engine's bulk-convert
thread), so sibling spans may overlap; ``measure.self_time`` takes the
union of child intervals.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.measure import median, self_time


def checkpoint(df):
    """``df`` materialized once: a DataFrame over its computed rows."""
    return df.localCheckpoint(eager=True) if isinstance(df, DataFrame) else df


def count(df: DataFrame, **observed) -> dict:
    """Row count ``n`` of ``df`` plus the named aggregates."""
    exprs = [F.count(F.lit(1)).alias("n")]
    exprs += [e.alias(k) for k, e in observed.items()]
    row = df.agg(*exprs).first().asDict()
    return {k: (v if v is not None else 0) for k, v in row.items()}


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self.round = -1  # rounds seen by the current engine run
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self._saved: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else (None if root else self._root)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "thread": threading.current_thread().name,
               "start": time.perf_counter(), "end": None}
        if root:
            self._root = sid
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            if root:
                self._root = None
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def overhead(self):
        """Tracer-only work; a span of its own, so the enclosing span's
        self time leaves it out."""
        with self.span("trace.overhead") as rec:
            yield
        with self._lock:
            self.overhead_s += rec["end"] - rec["start"]

    def _input(self, args: tuple) -> tuple:
        """The call's arguments with the first, the layer's input rows,
        materialized (outside any span)."""
        if args and isinstance(args[0], DataFrame):
            with self.overhead():
                return (checkpoint(args[0]), *args[1:])
        return args

    def _count(self, dfs, keys=(), observed=None) -> None:
        with self.overhead():
            for key, df in itertools.zip_longest(keys, dfs):
                if not isinstance(df, DataFrame):
                    continue
                got = count(df, **(observed or {}))
                with self._lock:
                    if key:
                        self.counters[key] += got["n"]
                    for k, v in got.items():
                        if k != "n":
                            self.counters[k] += v

    # -- wrappers -----------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def install(self) -> None:
        from volltextextraktion_selenium_md_spark.operators import seen
        from volltextextraktion_selenium_md_spark.plans import frontier, llm
        from volltextextraktion_selenium_md_spark.sources import lakehouse

        tr = self

        def lazy(name, count_keys=(), observed=None):
            def wrap(orig):
                def call(*a, **kw):
                    a = tr._input(a)
                    with tr.span(name):
                        out = orig(*a, **kw)
                        multi = isinstance(out, tuple)
                        outs = tuple(checkpoint(df) for df in (out if multi else (out,)))
                    tr._count(outs, count_keys, observed)
                    return outs if multi else outs[0]
                return call
            return wrap

        def eager(name):
            def wrap(orig):
                def call(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return call
            return wrap

        def robots(orig):
            inner = lazy("politeness.robots_split",
                         ("politeness.allowed", "politeness.blocked"))(orig)

            def call(*a, **kw):
                tr.round += 1  # the engine calls robots_split once per round
                return inner(*a, **kw)
            return call

        def unseen(orig):
            inner = lazy("seen.filter_unseen_parts", ("seen.unseen",))(orig)

            def call(candidates, seen_parts, bloom=None, broadcast_base=False):
                if not broadcast_base and "seen.partitioned_round" not in tr.counters:
                    tr.counters["seen.partitioned_round"] = tr.round
                (candidates,) = tr._input((candidates,))
                tr._count((candidates,), ("seen.candidates",))
                return inner(candidates, seen_parts, bloom, broadcast_base)
            return call

        def run(orig):
            def call(engine):
                tr.round = -1
                with tr.span("frontier.run"):
                    return orig(engine)
            return call

        self._patch(frontier, "robots_split", robots)
        self._patch(frontier, "host_budget_split", lazy(
            "politeness.host_budget_split",
            ("politeness.admitted", "politeness.deferred")))
        self._patch(frontier, "schedule_slots", lazy("politeness.schedule_slots"))
        self._patch(frontier, "simulated_fetch", lazy(
            "fetch.simulated_fetch", ("fetch.rows",),
            {"fetch.retries": F.sum(F.when(F.col("outcome") == "retry", 1).otherwise(0))}))
        self._patch(frontier, "first_seen", lazy("dedup.first_seen"))
        self._patch(seen, "filter_unseen_parts", unseen)
        self._patch(frontier, "convert_stage", lazy(
            "convert.convert_stage", ("convert.rows",),
            {"convert.markdown_bytes": F.sum("markdown_length")}))
        self._patch(llm, "llm_postprocess_stage", lazy("llm.llm_postprocess_stage"))
        self._patch(frontier, "merge_into", eager("lakehouse.merge_into"))
        self._patch(frontier, "global_ordinal", eager("frontier.global_ordinal"))
        self._patch(lakehouse.SnapshotStore, "commit", eager("lakehouse.commit"))
        self._patch(lakehouse.SnapshotStore, "read", lazy("lakehouse.read"))
        self._patch(frontier.CrawlEngine, "run", run)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # -- reporting ----------------------------------------------------
    def take(self) -> tuple[list[dict], dict[str, float], float]:
        """Hand over and reset the spans, counters and overhead recorded
        since the last call (one op's worth)."""
        with self._lock:
            out = (self.spans, dict(self.counters), self.overhead_s)
            self.spans, self.overhead_s = [], 0.0
            self.counters = defaultdict(float)
        return out


def dump_spans(path: str, spans: list[dict]) -> None:
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")


def layer_busy(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name (all calls summed) plus the self time of
    each span name, ``<name>.self``."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"]
        out[s["name"] + ".self"] += self_time(s["start"], s["end"], kids[s["id"]])
    return dict(out)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


# a figure's unit, by the suffix of its name (else "count")
_UNITS = [("_per_s", "1/s"), ("_s", "s"), ("_ratio", "ratio"),
          ("core_util", "ratio"), ("_bytes", "B"), ("bytes_written", "B"),
          ("_rows", "count")]
# figures only the store/convert path exercises: they read zero on a
# convert-off crawl, so they go to the detail line, not BENCHMARK.json
STORE_LAYERS = (
    "convert.busy_s", "convert.rows_per_s", "convert.markdown_bytes",
    "llm.busy_s", "lakehouse.commit_s", "lakehouse.merge_s",
    "lakehouse.read_s", "lakehouse.bytes_written", "lakehouse.files_written",
    "service.requests_already_seen",
)


def frontier_figures(ops, op_cpu, op_jobs, cores) -> dict[str, float]:
    """The round loop's figures, each the median over untraced ops: the
    tracer's own jobs and checkpoints would inflate them."""
    per_op = []
    for op, cpu, jobs in zip(ops, op_cpu, op_jobs):
        walls = op.round_walls or [0.0]
        rounds = len(op.round_walls)
        per_op.append({
            "frontier.rounds": rounds,
            "frontier.round_wall_p50_s": median(walls),
            "frontier.round_wall_max_s": max(walls),
            "frontier.post_loop_s": op.post_loop_s,
            "frontier.spark_jobs_per_round": _ratio(jobs, rounds),
            "frontier.core_util": _ratio(cpu, op.wall_s * cores),
        })
    return {k: median([d[k] for d in per_op]) for k in per_op[0]}


def layer_figures(traced, ops) -> dict[str, float]:
    """Each layer's figures, the median over traced ops."""
    per_op = []
    for (spans, c, overhead), op in zip(traced, ops):
        busy = layer_busy(spans)

        def b(*names):
            return sum(busy.get(n, 0.0) for n in names)

        per_op.append({
            "frontier.global_ordinal_s": b("frontier.global_ordinal"),
            "frontier.run_self_s": b("frontier.run.self"),
            "politeness.busy_s": b("politeness.robots_split",
                                   "politeness.host_budget_split",
                                   "politeness.schedule_slots"),
            "politeness.admit_ratio": _ratio(c.get("politeness.admitted", 0),
                                             c.get("politeness.allowed", 0)),
            "politeness.deferred": c.get("politeness.deferred", 0),
            "fetch.busy_s": b("fetch.simulated_fetch"),
            "fetch.retry_ratio": _ratio(c.get("fetch.retries", 0), c.get("fetch.rows", 0)),
            "dedup.first_seen_busy_s": b("dedup.first_seen"),
            "seen.busy_s": b("seen.filter_unseen_parts"),
            "seen.new_ratio": _ratio(c.get("seen.unseen", 0), c.get("seen.candidates", 0)),
            "seen.partitioned_round": c.get("seen.partitioned_round", -1),
            "convert.busy_s": b("convert.convert_stage"),
            "convert.rows_per_s": _ratio(c.get("convert.rows", 0),
                                         b("convert.convert_stage")),
            "convert.markdown_bytes": c.get("convert.markdown_bytes", 0),
            "llm.busy_s": b("llm.llm_postprocess_stage"),
            "lakehouse.commit_s": b("lakehouse.commit"),
            "lakehouse.merge_s": b("lakehouse.merge_into"),
            "lakehouse.read_s": b("lakehouse.read"),
            "lakehouse.bytes_written": op.store_bytes,
            "lakehouse.files_written": op.store_files,
            "service.requests_already_seen": op.already_seen,
            "trace.overhead_s": overhead,
            "trace.spans": len(spans),
        })
    return {k: median([d[k] for d in per_op]) for k in per_op[0]}


def with_units(figures: dict[str, float]) -> dict[str, dict]:
    res = {}
    for k, v in figures.items():
        unit = next((u for suf, u in _UNITS if k.endswith(suf)), "count")
        res[k] = {"value": float(v), "unit": unit}
    return res
