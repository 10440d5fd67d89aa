"""Tests of the benchmark's own arithmetic, oracle helpers and tracer,
plus a tiny-scale smoke run of every workload.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start a JVM each (about a minute apiece on 4 cores).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import threading

import pytest

from perfbench import checks
from perfbench.measure import median, self_time, tail_percentile, union_length
from perfbench.trace import Tracer, layer_busy

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_median_matches_statistics():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    assert median(xs) == statistics.median(xs)


@pytest.mark.parametrize("n, p", [(100, 90), (20, 50), (40, 75), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    xs = [float(i) for i in range(1, n + 1)]
    got_p, value = tail_percentile(xs)
    assert got_p == p
    assert sum(x > value for x in xs) >= 10
    # one percentile higher would leave fewer than ten beyond it
    assert n - math.ceil((p + 1) * n / 100) < 10


def test_tail_percentile_needs_twenty_samples():
    assert tail_percentile([1.0] * 19) is None


def test_union_length_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_with_overlapping_children():
    # two bulk-convert children overlap each other (same wall counted
    # once) and a third runs past the parent's end (clipped)
    children = [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]
    assert self_time(0.0, 10.0, children) == pytest.approx(10 - 5 - 2)


def test_tracer_parents_other_thread_spans_to_root():
    tr = Tracer("t")
    with tr.span("op", root=True):
        with tr.span("frontier.run"):
            # a span opened on another thread hangs off the op's root
            done = threading.Event()

            def bulk():
                with tr.span("convert.convert_stage"):
                    pass
                done.set()

            t = threading.Thread(target=bulk)
            t.start()
            t.join(timeout=10)
            assert done.is_set()
    spans, _, _ = tr.take()
    by_name = {s["name"]: s for s in spans}
    root = by_name["op"]
    assert root["parent"] is None
    assert by_name["frontier.run"]["parent"] == root["id"]
    assert by_name["convert.convert_stage"]["parent"] == root["id"]
    busy = layer_busy(spans)
    assert busy["op.self"] <= busy["op"]


def test_tracer_overhead_is_left_out_of_self_time():
    tr = Tracer("t")
    with tr.span("op", root=True):
        with tr.span("frontier.run"):
            with tr.overhead():
                pass
    spans, _, overhead = tr.take()
    busy = layer_busy(spans)
    assert overhead == pytest.approx(busy["trace.overhead"])
    assert busy["frontier.run.self"] == pytest.approx(
        busy["frontier.run"] - busy["trace.overhead"])


def test_value_hash_ignores_row_and_column_order():
    a = checks.fingerprint([(1, "x", 0.1234567), (2, "y", None)], ["id", "s", "f"])
    b = checks.fingerprint([("y", None, 2), ("x", 0.12345671, 1)], ["s", "f", "id"])
    assert a == b
    assert a != checks.fingerprint([(1, "x", 0.1234567)], ["id", "s", "f"])


def test_hamming64_on_signed_hashes():
    assert checks.hamming64(-1, 0) == 64
    assert checks.hamming64(5, 4) == 1


def test_unmirror_strips_mirror_and_seed_offset():
    m, url, lineage = checks.unmirror(
        "https://host3.m2.example.com/page/7", "000014.03", 4)
    assert (m, url, lineage) == (2, "https://host3.example.com/page/7", "000003.03")


def test_robots_blocked_prefix():
    robots = {"host0.example.com": {"disallow_prefix": "/page/1"}}
    assert checks.robots_blocked("https://host0.example.com/page/12", robots)
    assert not checks.robots_blocked("https://host0.example.com/page/2", robots)
    assert not checks.robots_blocked("https://host4.example.com/page/1", robots)


@pytest.mark.parametrize("workload", ["frontier_open", "service_requests"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
