"""Crawl-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload frontier_open --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/``, computes the golden answers, sets
the Spark session up three times (``setup_s`` is the median), runs the
workload's warm-up op (untimed: a fresh JVM runs its first op at half
speed or less), then runs timed ops until they add up to ``--seconds``
(at least one). Every op, the warm-up too, is checked against the
repo's oracles after its timed section; a mismatch counts as a failed
op. CPU and Spark job counts are read around the timed section only.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` where ``metrics`` holds
every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
per-layer metric (``--trace 1``). The line before it carries the run's
environment, the workload's own metrics (with units) and, when traced,
the layer metrics that only this workload exercises. After the warm-up,
a traced run runs one untraced op (the round loop's figures come from
it), then traces the ops after it; a traced ``frontier_open`` run also runs
the corpus search suite. With ``--trace 1`` the spans are written to
``.perfbench_out/``.

Exits 2 without a result when the engine package is not beside it.
"""

from __future__ import annotations

import argparse
from contextlib import nullcontext
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "volltextextraktion_selenium_md_spark"
SETUPS = 3
DRIVER_MEMORY = "2g"
# C1 only: on a few cores, C2's background recompiles take about half
# the CPU of a minute-long run and keep shifting op times for several
# ops; with C1 the second op already runs at its steady speed. The heap
# starts at its full size, so no run's timing or RSS depends on when
# the JVM chose to grow it.
JVM_OPTS = f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEMORY}"
# A timed op during which other guests of the host took more than this
# share of its CPUs is run again, once, unless the run has already taken
# RERUN_BEFORE_S (a host that slowed the boot and the warm-up is busy
# for longer than one more op). The metrics come from the undisturbed
# ops, or else from the op with the least steal.
STEAL_LIMIT = 0.05
RERUNS = 1
RERUN_BEFORE_S = 75


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="bench", choices=("bench", "tiny"))
    return p.parse_args(argv)


def _env(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    make the engine importable by the Python workers, and pin the
    session to this host's cores (``get_spark`` defaults to 32)."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def _session(work: str, cores: int, width: int):
    from volltextextraktion_selenium_md_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=width,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp {JVM_OPTS}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _isolate(spark) -> None:
    """No op may reuse an earlier op's cached data, and every set-up
    registers the graph views itself."""
    from volltextextraktion_selenium_md_spark import graph
    from volltextextraktion_selenium_md_spark.plans import queries as Q

    spark.catalog.clearCache()
    Q._ENGINE_CACHE.clear()
    graph._REGISTERED_KEY[0] = None


def _job_count(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) + 1 if ids else 0


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM, and wait for every descendant to exit."""
    from pyspark import SparkContext

    from perfbench.measure import process_tree

    gw = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while True:
        rest = [p for p in process_tree() if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)


def _versions(spark) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "git_commit": commit,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import gen
    from perfbench.measure import (
        RssSampler, host_cpu_ticks, median, tail_percentile, tree_cpu_s)

    cores = len(os.sched_getaffinity(0))
    width = cores
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work, cores)

    from perfbench import workloads as W
    from perfbench import trace as T

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    load_start, steal_start = os.getloadavg(), host_cpu_ticks()
    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    spark = None
    sampler = RssSampler().start()
    plain, traced, setups, warmups, errors = [], [], [], [], []  # plain: (op, cpu_s, jobs)
    search_figures: dict[str, float] = {}
    attempted = failed = 0

    def failure(msgs):
        nonlocal failed
        failed += 1
        errors.extend(m[:300] for m in msgs)

    try:
        input_dir = gen.make_inputs(os.path.join(work, "input"), args.seed, args.scale)
        wl = W.WORKLOADS[args.workload](input_dir, work, args.seed, args.scale)
        wl.prepare()
        search = W.CorpusSearch(input_dir) if args.trace and wl.search else None
        if search:
            search.prepare()
        phases["prepare_s"] = time.perf_counter() - t_start
        for _ in range(SETUPS):
            # the first set-up boots the JVM; the others start a fresh
            # session on it, so the median is the per-session set-up
            t0 = time.perf_counter()
            spark = spark.newSession() if spark else _session(work, cores, width)
            _isolate(spark)
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
        env = {"cores": cores, "master": f"local[{cores}]", "shuffle_width": width,
               "loadavg_start": load_start, **_versions(spark)}

        # warm-up ops (checked, not timed) come first; a traced run then
        # runs one untraced op, which gives the round loop's figures, and
        # traces the ops after it
        tracer = T.Tracer(f"{args.workload}-{args.seed}") if args.trace else None
        measured = 0.0

        def settled() -> bool:  # a traced run re-runs nothing: it must stay short
            return (any(o.steal_frac <= STEAL_LIMIT for o, _, _ in plain)
                    or len(plain) > (0 if tracer else RERUNS)
                    or (bool(plain) and time.perf_counter() - t_start > RERUN_BEFORE_S))

        while (len(warmups) < wl.warmup_ops or measured < args.seconds or not settled()
               or (tracer and len(traced) < wl.traced_ops)):
            warm = len(warmups) < wl.warmup_ops
            on = tracer is not None and settled()
            wl.next_op()
            _isolate(spark)
            if on:
                tracer.install()
            cpu0, jobs0, steal0 = tree_cpu_s(), _job_count(spark), host_cpu_ticks()
            attempted += 1
            try:
                with tracer.span("op", root=True) if on else nullcontext():
                    op = wl.run(spark, warm)
            except Exception as exc:  # an op that raises is a failed op
                failure([f"op {attempted}: {type(exc).__name__}: {exc}"])
                break
            finally:
                if on:
                    tracer.uninstall()
            cpu, jobs, steal1 = tree_cpu_s() - cpu0, _job_count(spark) - jobs0, host_cpu_ticks()
            op.steal_frac = _ratio(steal1[0] - steal0[0], steal1[1] - steal0[1])
            try:  # untimed
                op_errors = wl.check(op)
            except Exception as exc:
                op_errors = [f"op {attempted} check: {type(exc).__name__}: {exc}"]
            if op_errors:
                failure(op_errors)
            op.result = None
            if warm:
                warmups.append(op.wall_s)
                continue
            measured += op.wall_s
            if on:
                traced.append((tracer.take(), op))
            else:
                plain.append((op, cpu, jobs))

        for name in search.QUERIES if search and not failed else ():
            _isolate(spark)
            attempted += 1
            try:
                with tracer.span(f"search.{name}", root=True) as rec:
                    cols, rows = search.run(spark, name)
                q_errors = search.check(name, cols, rows)
            except Exception as exc:
                q_errors, rows = [f"{name}: {type(exc).__name__}: {exc}"], []
            if q_errors:
                failure(q_errors)
            search_figures[f"search.{name}_s"] = rec["end"] - rec["start"]
            search_figures[f"search.{name}_rows"] = len(rows)
        if search_figures:
            search_figures["search.suite_wall_s"] = sum(
                v for k, v in search_figures.items() if k.endswith("_s"))
        env["loadavg_end"] = os.getloadavg()
        steal_end = host_cpu_ticks()
        env["cpu_steal_frac"] = _ratio(steal_end[0] - steal_start[0],
                                       steal_end[1] - steal_start[1])
    finally:
        peak_mb = sampler.stop()
        t0 = time.perf_counter()
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["shutdown_s"] = time.perf_counter() - t0
    phases["total_s"] = time.perf_counter() - t_start
    if not plain:
        print(json.dumps({"workload": args.workload, "errors": errors}))
        print("perfbench: no op completed", file=sys.stderr)
        return 1

    used = ([p for p in plain if p[0].steal_frac <= STEAL_LIMIT]
            or [min(plain, key=lambda p: p[0].steal_frac)])
    ops = [o for o, _, _ in used]
    walls = [o.wall_s for o in ops]
    decisions = sum(o.decisions for o in ops)
    e2e = {
        "decisions_per_s": (_ratio(decisions, sum(walls)), "1/s"),
        "cpu_s_per_1k_decisions": (_ratio(1000 * sum(c for _, c, _ in used), decisions), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "setup_s": (median(setups), "s"),
    }
    native = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    native["op_wall_p50_s"] = {"value": median(walls), "unit": "s"}
    native["ops_failed_frac"] = {"value": _ratio(failed, attempted), "unit": "ratio"}
    native["ops"] = {"value": len(ops), "unit": "count"}
    if args.workload == W.FrontierOpen.name:
        native["crawl_wall_s"] = native["op_wall_p50_s"]
    else:
        lat = [x for o in ops for x in o.latencies]
        native["request_latency_p50_s"] = {"value": median(lat), "unit": "s"}
        native["requests"] = {"value": len(lat), "unit": "count"}
        tail = tail_percentile(lat)
        if tail is not None:
            native[f"request_latency_p{tail[0]}_s"] = {"value": tail[1], "unit": "s"}
        native["store_bytes_per_decision"] = {
            "value": _ratio(sum(o.store_bytes for o in ops), decisions), "unit": "B"}
        native["pages_converted_per_s"] = {
            "value": _ratio(sum(o.converted for o in ops), sum(walls)), "unit": "1/s"}

    phases["setups_s"] = setups
    phases["warmups_s"] = warmups
    detail = {"workload": args.workload, "seed": args.seed, "env": env, "phases": phases,
              "native": native, "errors": errors[:20],
              "ops": [{"wall_s": o.wall_s, "decisions": o.decisions, "traced": t,
                       "used": u, "steal_frac": o.steal_frac,
                       "round_walls": o.round_walls, "post_loop_s": o.post_loop_s}
                      for o, t, u in [(o, False, any(o is x for x in ops)) for o, _, _ in plain]
                      + [(o, True, False) for _, o in traced]]}
    if args.trace:
        if not traced:
            print(json.dumps(detail))
            print("perfbench: no traced op completed", file=sys.stderr)
            return 1
        figures = T.frontier_figures(ops, [c for _, c, _ in used],
                                     [j for _, _, j in used], cores)
        figures.update(T.layer_figures([t for t, _ in traced], [o for _, o in traced]))
        figures["setup.first_s"] = setups[0]
        layers = T.with_units({**figures, **search_figures})
        metrics = {k: v for k, v in layers.items()
                   if k not in T.STORE_LAYERS and k not in search_figures}
        detail["layers"] = {k: layers[k] for k in [*T.STORE_LAYERS, *search_figures]}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        T.dump_spans(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"),
                     [s for (spans, _, _), _ in traced for s in spans]
                     + tracer.take()[0])
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
