"""Unit tests of the benchmark's own logic; none starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import subprocess
import sys

import pandas as pd
import pytest

import check
import run
import stats
import steady
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_valid_and_match_the_benchmark_file():
    bench = _bench()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(stats.valid_name(n) for n in names)
    assert len(names) == len(set(names))
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(workloads.PER_LAYER)
    assert {m["name"] for m in bench["end_to_end"]} == dict(workloads.END_TO_END).keys()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("bad", ["", "_x", "a b", "a/b", "x" * 65, "ms;"])
def test_invalid_names_are_rejected(bad):
    assert not stats.valid_name(bad)


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail(list(range(19))) is None
    pct, value, n = stats.tail(list(range(1, 21)))
    assert (pct, value, n) == (50.0, 10.0, 20)
    # 110 samples: p95 has 5 beyond it, p90 has 11
    pct, value, n = stats.tail(list(range(1, 111)))
    assert (pct, value, n) == (90.0, 99.0, 110)
    assert stats.tail(list(range(1, 1101)))[0] == 99.0


def test_quartile_spread_is_relative_to_the_median():
    assert stats.quartile_spread([10.0] * 5) == 0.0
    assert stats.quartile_spread([9.0, 10.0, 11.0, 10.0]) == pytest.approx(0.15)


def test_fingerprint_ignores_row_and_column_order():
    df = pd.DataFrame(
        {
            "k": [3, 1, 2, 2],
            "v": [0.1 + 0.2, 1.5, None, 2.0],
            "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-03"]),
        }
    )
    shuffled = df.sample(frac=1.0, random_state=7)[["t", "v", "k"]]
    assert check.fingerprint(df) == check.fingerprint(shuffled)


def test_fingerprint_sees_a_duplicate_or_changed_row():
    df = pd.DataFrame({"k": [1, 2], "s": ["a", "b"]})
    dup = pd.DataFrame({"k": [1, 1, 2], "s": ["a", "a", "b"]})
    changed = pd.DataFrame({"k": [1, 2], "s": ["a", "c"]})
    assert check.mismatch(check.fingerprint(dup), check.fingerprint(df))
    assert check.mismatch(check.fingerprint(changed), check.fingerprint(df))


def test_fingerprint_equates_engine_representations():
    spark_like = pd.DataFrame(
        {"n": [1.0, float("nan")], "x": [0.30000000000000004, 2.5], "t": [pd.Timestamp("2024-01-01 10:00")] * 2}
    )
    duckdb_like = pd.DataFrame(
        {"n": [1, None], "x": [0.3, 2.5], "t": [pd.Timestamp("2024-01-01 10:00", tz="UTC")] * 2}
    )
    assert check.mismatch(check.fingerprint(spark_like), check.fingerprint(duckdb_like)) is None


def test_same_seed_gives_same_query_order():
    def orders(seed):
        rng = random.Random(seed)
        return [workloads.query_order(rng, workloads.KERNEL_QUERIES) for _ in range(3)]

    assert orders(5) == orders(5)
    assert orders(5) != orders(6)
    assert sorted(orders(5)[0]) == sorted(workloads.KERNEL_QUERIES)


def test_passes_stop_at_the_nearest_boundary(monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: clock[0])

    def one_pass(traced):
        clock[0] += 4.0
        return "kind"

    r = workloads.Run.__new__(workloads.Run)
    r.tracing, r.pass_times, r.traced_times, r.pass_kinds = False, [], [], []
    r.timed_passes(10, one_pass)
    assert r.pass_times == [4.0, 4.0]  # 8 s plus half a pass reaches 10 s
    r.tracing, r.pass_times, r.traced_times = True, [], []
    r.timed_passes(3, one_pass)
    assert (len(r.pass_times), len(r.traced_times)) == (1, 1)


def test_scratch_directory_is_removed_at_exit(tmp_path):
    work = tmp_path / "run-1"
    with pytest.raises(RuntimeError):
        with run.scratch_dir(str(work)):
            (work / "replay" / "segment-000").mkdir(parents=True)
            (work / "collection-000" / "batch-00000000.jsonl").parent.mkdir()
            (work / "collection-000" / "batch-00000000.jsonl").write_text("{}\n")
            raise RuntimeError("drain failed")
    assert not work.exists()
    with run.scratch_dir(str(work)):
        (work / "x").write_text("x")
    assert not work.exists()


@pytest.mark.skipif(not os.path.exists("/proc/self/task"), reason="needs Linux /proc")
def test_orphaned_grandchildren_are_reaped():
    # The shell exits at once and leaves its background sleep orphaned, as
    # a Spark JVM leaves its Python workers; the run must wait for it too.
    script = (
        "import subprocess, time, run\n"
        "run.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 &'], stdout=subprocess.DEVNULL)\n"
        "t0 = time.monotonic()\n"
        "run.reap_children(grace_s=1.0)\n"
        "print(len(run._children()), time.monotonic() - t0)\n"
    )
    bench_dir = os.path.join(ROOT, "perfbench")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=bench_dir, capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    left, waited = out.stdout.split()
    assert left == "0"
    assert float(waited) < 30


def test_run_refuses_without_the_package(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "stream_serve", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""
    assert not (tmp_path / ".bench_build").exists()


@pytest.mark.parametrize(
    "text, value",
    [
        ("141 ms", 141.0),
        ("976.0 B", 976.0),
        ("total (min, med, max (stageId: taskId))\n1.5 s (10 ms, 20 ms, 1.2 s (stage 3.0: task 7))", 1500.0),
        ("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))", 2048.0),
        ("1,234 ms", 1234.0),
    ],
)
def test_parse_metric(text, value):
    assert tracing.parse_metric(text) == value


def _detail(seed, passes, kinds=None):
    return {"seed": seed, "pass_times": passes, "pass_kinds": kinds or ["a"] * len(passes)}


def test_steady_reports_a_short_timed_region():
    found = steady.findings("w", [_detail(1, [3.0])], seconds=8)
    assert any("timed region" in f for f in found)
    assert steady.findings("w", [_detail(1, [5.0])], seconds=8) == []


def test_steady_reports_a_median_over_unlike_passes():
    found = steady.findings("w", [_detail(1, [4.0, 4.1], kinds=["q1", "q2"])], seconds=8)
    assert any("unlike" in f for f in found)


def test_steady_reports_no_tail_with_too_few_samples_beyond():
    runs = [_detail(s, [0.5 + 0.01 * i for i in range(16)]) for s in range(3)]
    note = steady.tail_note("w", runs)
    assert "one run (16 passes): no tail" in note
    assert "pooled (48 passes): p75" in note


def test_steady_reports_passes_still_warming_up():
    cold = [_detail(s, [5.0, 4.8, 4.0, 4.0]) for s in range(3)]
    assert any("warm-up" in f for f in steady.findings("w", cold, seconds=8))
    warm = [_detail(s, [4.2, 4.0, 4.0, 4.1]) for s in range(3)]
    assert steady.findings("w", warm, seconds=8) == []
