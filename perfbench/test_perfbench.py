"""Self-tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The end-to-end tests run the benchmark at its tiny input sizes and take
a few minutes; the others take seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import proctree, tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args: str, env=None, cwd=ROOT, timeout=600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *args], cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# ------------------------------------------------------------ accounting
def test_tree_cpu_counts_reaped_workers_and_never_drops():
    """A parent spawns short-lived CPU-burning children one after another
    and reaps each; the tree's CPU must include them and never go down."""
    child = textwrap.dedent(
        f"""
        import subprocess, sys, time
        burn = "import time\\nend = time.process_time() + 0.3\\nwhile time.process_time() < end: pass"
        for _ in range(4):
            subprocess.run([sys.executable, "-c", burn], check=True)
        time.sleep(1.5)
        """
    )
    proc = subprocess.Popen([sys.executable, "-c", child])
    try:
        samples = []
        deadline = time.time() + 30
        while proc.poll() is None and time.time() < deadline:
            try:
                samples.append(proctree.tree_cpu_s(proc.pid))
            except RuntimeError:
                pass
            time.sleep(0.02)
        assert proc.wait(timeout=30) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert samples and all(s is not None for s in samples)
    deltas = [b - a for a, b in zip(samples, samples[1:])]
    assert min(deltas) >= 0, "tree CPU went down between samples"
    assert samples[-1] - samples[0] >= 0.9, "reaped children's CPU went missing"


def test_a_finished_process_reads_zero():
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    assert proctree.tree_cpu_s(proc.pid) == 0.0
    assert proctree.tree_pss_bytes(proc.pid) == 0


def test_net_clock_is_positive_and_never_exceeds_wall():
    clock = proctree.NetClock()
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    wall, net = clock.read()
    assert 0 < net <= wall


# --------------------------------------------------------------- tracing
def test_span_metrics_from_an_event_log(tmp_path):
    p = tracing.Pass(1)
    p.spans = [("a.op", 100.0, 102.0), ("b.op", 102.0, 103.0)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100_500,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "a.op#1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 101_500},
        # a job with a foreign group is attributed by its submission time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 102_200,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "stream-run-id"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 102_400},
    ]
    for stage, dur, cpu in ((0, 100, 2e8), (0, 300, 4e8), (0, 100, 1e8), (1, 50, 1e7)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": dur},
            "Task Metrics": {
                "Executor CPU Time": cpu,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1 << 20},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            },
        })
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    got = tracing.span_metrics([p], tracing.read_event_log(str(tmp_path)))
    a, b = got["a.op"], got["b.op"]
    assert a["wall_s"] == pytest.approx(2.0)
    assert a["driver_s"] == pytest.approx(1.0)
    assert a["exec_cpu_s"] == pytest.approx(0.7)
    assert a["shuffle_mb"] == pytest.approx(6.0)
    assert a["task_skew"] == pytest.approx(3.0)
    assert b["driver_s"] == pytest.approx(0.8)
    assert b["exec_cpu_s"] == pytest.approx(0.01)


# ------------------------------------------------------------ end to end
def _names(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def _emitted(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def test_end_to_end_metrics_emitted_with_units():
    r = _result(_run("perfbench/run.py", "--workload", "census_dense", "--seed", "3",
                     "--seconds", "1", "--trace", "0", "--size", "tiny"))
    assert _emitted(r) == _names("end_to_end")
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_per_layer_metrics_emitted_with_units():
    r = _result(_run("perfbench/run.py", "--workload", "corpus_dedup", "--seed", "3",
                     "--seconds", "1", "--trace", "1", "--size", "tiny"))
    assert _emitted(r) == _names("per_layer")
    assert r["correct"]
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["graph.leaked_caches"] >= 0
    assert m["trace.span_coverage"] >= 0.9
    assert m["dedup.minhash.pairs"] > 0 and m["dedup.minhash.wall_s"] > 0


def test_a_corrupted_result_counts_as_a_failure():
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from perfbench import run, workloads

        honest = workloads.CensusDense.run_pass

        def corrupted(self, spark, p, out):
            honest(self, spark, p, out)
            out["totals"]["total_3_tris"] += 1

        workloads.CensusDense.run_pass = corrupted
        sys.exit(run.main(["--workload", "census_dense", "--seed", "3",
                           "--seconds", "1", "--size", "tiny"]))
        """
    )
    r = _result(_run("-c", script))
    assert not r["correct"]
    assert r["failed"] >= 2  # the first pass and the warm pass
    assert r["metrics"]["ok_rate"]["value"] < 1.0


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("perfbench/run.py", "--workload", "census_dense", "--seed", "1",
                "--seconds", "1", "--trace", "0", cwd=str(tmp_path), timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
