"""Interleaved A/B of two checkouts on one perfbench workload.

    python scripts/perfbench_ab.py BASE CHANGE --workload service_requests --pairs 10

BASE and CHANGE are checkout roots, each with its own ``perfbench/``.
Pair i runs ``perfbench/run.py --workload W --seed i --seconds 5
--trace 0`` (the benchmark's run length) once in each checkout, one run
at a time; odd pairs run BASE first, even pairs CHANGE first, so a
drifting host slows both sides alike. Each run's result is printed as
it lands (the end-to-end metrics, ``correct``, ``ops_failed_frac`` and
the host's CPU steal share during the run), then each side's median
and quartiles per metric and the win count on ``decisions_per_s``. A
gain holds when CHANGE wins at least 90% of the pairs and its median
beats BASE's by more than BASE's interquartile range. Exits 1 when a
run fails or is incorrect.
This script only runs ``perfbench/run.py``; it writes nothing under
either checkout except what that run writes itself.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

METRICS = ("decisions_per_s", "cpu_s_per_1k_decisions", "peak_rss_mb", "setup_s")
CLAIMED = "decisions_per_s"  # the metric the win count and verdict use
SECONDS = 5  # the benchmark's --seconds
# a service_requests run takes ~1 min on 4 vCPUs; a run past this hung
RUN_TIMEOUT_S = 900


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base", help="checkout root of the parent")
    p.add_argument("change", help="checkout root of the change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--out", help="append every run's two result lines here (JSONL)")
    return p.parse_args(argv)


def _better(root: str) -> dict[str, str]:
    """Metric name -> 'higher' | 'lower', from the checkout's BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}


def run_once(root: str, workload: str, seed: int) -> dict:
    """One untraced perfbench run in ``root``; its detail and result lines."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                          timeout=RUN_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        return {"ok": False, "error": (proc.stderr or proc.stdout)[-500:]}
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    native = detail.get("native", {})
    return {
        "ok": bool(result.get("correct")),
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "ops_failed_frac": native.get("ops_failed_frac", {}).get("value"),
        "steal_frac": detail.get("env", {}).get("cpu_steal_frac"),
        "detail": detail,
        "result": result,
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _fmt(x) -> str:
    return "-" if x is None else f"{x:.4g}"


def main(argv=None) -> int:
    args = _args(argv)
    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    better = _better(sides["change"])
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    bad = 0
    print(f"# {args.workload}: {args.pairs} pairs, --seconds {SECONDS}, "
          f"seed = pair number")
    print("pair seed side   " + " ".join(f"{m:>22}" for m in METRICS)
          + "  steal_frac ops_failed_frac correct")
    for i in range(args.pairs):
        seed = i + 1
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = run_once(sides[side], args.workload, seed)
            runs[side].append(r)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"pair": i + 1, "seed": seed, "side": side,
                                        "root": sides[side], "ok": r["ok"],
                                        "detail": r.get("detail"),
                                        "result": r.get("result"),
                                        "error": r.get("error")}) + "\n")
            if not r["ok"]:
                bad += 1
            m = r.get("metrics", {})
            print(f"{i + 1:>4} {seed:>4} {side:<6} "
                  + " ".join(f"{_fmt(m.get(k)):>22}" for k in METRICS)
                  + f"  {_fmt(r.get('steal_frac')):>10}"
                  + f" {_fmt(r.get('ops_failed_frac')):>15} {r['ok']}"
                  + ("" if r["ok"] else f"  {r.get('error', '')[-200:]!r}"),
                  flush=True)

    print("\nside   metric                   q1        median    q3        IQR")
    for m in METRICS:
        for side in ("base", "change"):
            xs = [r["metrics"][m] for r in runs[side] if r["ok"]]
            if not xs:
                continue
            q1, q2, q3 = quartiles(xs)
            print(f"{side:<6} {m:<24} {q1:<9.4g} {q2:<9.4g} {q3:<9.4g} {q3 - q1:.4g}")

    sign = 1 if better[CLAIMED] == "higher" else -1
    pairs = [(b, c) for b, c in zip(runs["base"], runs["change"]) if b["ok"] and c["ok"]]
    wins = sum(sign * (c["metrics"][CLAIMED] - b["metrics"][CLAIMED]) > 0
               for b, c in pairs)
    print(f"\n{CLAIMED} ({better[CLAIMED]} is better): change wins "
          f"{wins}/{len(pairs)} pairs")
    if pairs:
        bq1, bmed, bq3 = quartiles([b["metrics"][CLAIMED] for b, _ in pairs])
        cmed = statistics.median(c["metrics"][CLAIMED] for _, c in pairs)
        gain = sign * (cmed - bmed)
        holds = wins >= math.ceil(0.9 * len(pairs)) and gain > bq3 - bq1
        print(f"median {bmed:.4g} -> {cmed:.4g} ({gain / bmed:+.1%} in the better "
              f"direction), base IQR {bq3 - bq1:.4g}: gain "
              f"{'holds' if holds else 'does not hold'}")
    if bad:
        print(f"{bad} run(s) failed or were incorrect", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
