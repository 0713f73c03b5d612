"""Steadiness check: run each workload repeatedly, one seed per run, and
print each end-to-end metric's median and quartile spread against its
bound from BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--first-seed 1]

Run from the repository root. A spread must stay within its bound, and
should stay below a third of it to leave headroom; ``setup_s`` is exempt
from the spread test. The check also reports the
ways a benchmark goes unsteady: short timed regions, medians over unlike
samples and a cold first pass, and which tail percentile the passes support
with at least ten samples beyond it.
Exits 1 when a run fails its output check, a spread exceeds its bound or a
finding is reported.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# A timed region shorter than this share of --seconds is reported.
MIN_TIMED_SHARE = 0.5
# Passes whose first half reads slower than their second half by more than
# this share, in the median run, are reported as still warming up.
COLD_SHARE = 0.10


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """One benchmark run; returns its result and detail records."""
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    detail = next(
        (json.loads(x[len("detail "):]) for x in lines if x.startswith("detail ")), {}
    )
    detail["wall_s"] = wall
    return json.loads(lines[-1]), detail


def findings(workload: str, details: list[dict], seconds: float) -> list[str]:
    """Unsteadiness that the spreads alone do not show."""
    out = []
    for d in details:
        timed = sum(d["pass_times"])
        if timed < MIN_TIMED_SHARE * seconds:
            out.append(
                f"{workload} seed {d['seed']}: timed region {timed:.1f} s is under "
                f"{MIN_TIMED_SHARE:.0%} of {seconds} s"
            )
        kinds = set(d["pass_kinds"])
        if len(kinds) > 1:
            out.append(
                f"{workload} seed {d['seed']}: pass_s is a median over unlike "
                f"passes {sorted(kinds)}"
            )
    ratios = []
    for d in details:
        passes = d["pass_times"]
        half = len(passes) // 2
        if half:
            ratios.append(stats.median(passes[:half]) / stats.median(passes[-half:]))
    if ratios and stats.median(ratios) > 1 + COLD_SHARE:
        out.append(
            f"{workload}: the first half of the timed passes reads "
            f"{stats.median(ratios) - 1:.0%} slower than the second: the warm-up is too short"
        )
    return out


def tail_note(workload: str, details: list[dict]) -> str:
    """The highest tail percentile one run's passes, and all runs' passes
    pooled, support with at least MIN_BEYOND samples beyond it."""
    per_run = max(len(d["pass_times"]) for d in details)
    pooled = [t for d in details for t in d["pass_times"]]
    parts = []
    for label, samples in (("one run", per_run), ("pooled", len(pooled))):
        t = stats.tail(pooled[:samples])
        parts.append(
            f"{label} ({samples} passes): "
            + (f"p{t[0]:g} = {t[1]:.4f} s" if t else "no tail")
        )
    return f"{workload} tail: " + "; ".join(parts)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = p.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {n: [] for n in bounds}
        details = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            result, detail = run_once(workload, seed, args.seconds)
            details.append(detail)
            passes = " ".join(f"{t:.3f}" for t in detail["pass_times"])
            print(
                f"  seed {seed}: wall {detail['wall_s']:.1f} s, setup "
                f"{detail['setup_s']:.2f} s, passes {passes}",
                flush=True,
            )
            if not result["correct"]:
                ok = False
                print(f"{workload} seed {seed}: output check failed", flush=True)
            for n in bounds:
                values[n].append(result["metrics"][n]["value"])
        walls = [d["wall_s"] for d in details]
        print(
            f"{workload}: {args.runs} runs of {args.seconds} s, "
            f"wall median {statistics.median(walls):.1f} s max {max(walls):.1f} s",
            flush=True,
        )
        for n, bound in bounds.items():
            spread = stats.quartile_spread(values[n])
            verdict = "ok" if spread <= bound / 3 else "within bound" if spread <= bound else "OVER"
            if n != "setup_s" and spread > bound:
                ok = False
            print(
                f"  {n:10s} median {statistics.median(values[n]):10.4f}  "
                f"spread {spread:6.2%}  bound {bound:.0%}  {verdict}",
                flush=True,
            )
        print("  " + tail_note(workload, details), flush=True)
        for f in findings(workload, details, args.seconds):
            ok = False
            print(f"  finding: {f}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
