"""Self-test of the benchmark: a smoke run of every workload (small inputs,
a few ops each) untraced and traced, checking that every metric named in
BENCHMARK.json is emitted with its unit and that every output check
passes; plus the refusal to run without the package, and the span
arithmetic.

    python3 -m pytest perfbench/ -q -m ""

Takes about three minutes (six Spark sessions), so every test here is
marked slow and stays out of a default ``pytest`` run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import wl_curate  # noqa: E402
from perfbench.harness import CpuMeter  # noqa: E402
from perfbench.tracing import Span, Tracer  # noqa: E402

pytestmark = pytest.mark.slow

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int, seed: int = 0, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "2",
           "--trace", str(trace), "--size", "smoke"]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    return proc


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, report
    assert result["failed"] == 0, report["errors"]
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    return report, result


def _units(kind: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", ["append", "live", "query", "curate"])
def test_untraced_emits_every_end_to_end_metric(workload):
    report, result = _run_checked(workload, 0)
    want = _units("end_to_end")
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float) and m["value"] > 0, (name, m)
    # the wall-clock figures are printed on the report line
    assert report["ops_per_s"] > 0 and report["op_p50_ms"] > 0
    assert report["host_start"]["loadavg"]
    assert all(wall > 0 for _, wall in report["host_end"]["cpu_probe"])


@pytest.mark.parametrize("workload", ["append", "live", "query", "curate"])
def test_traced_emits_every_per_layer_metric(workload):
    _, result = _run_checked(workload, 1)
    want = _units("per_layer")
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    values = {n: m["value"] for n, m in result["metrics"].items()}
    assert values["trace.op_p50_ms"] > 0 and values["trace.spans"] > 0
    # each workload fills the layers it exercises
    own = {
        "append": ["eventstore.append_ms_p50", "eventstore.load_stream_ms_p50",
                   "domain.save_self_ms_p50", "domain.load_self_ms_p50"],
        "live": ["streaming.batches", "streaming.scan_rows_per_batch",
                 "streaming.redelivered_rows", "projections.merge_ms_p50",
                 "eventstore.compact_s"],
        "query": ["queries.decode_ms_p50", "plans.translate_ms_p50",
                  "plans.spark_jobs_per_query", "projections.query_ms_p50"],
        "curate": ["operators.curate_call_s", "operators.spark_jobs_per_pass",
                   "operators.scan_rows_per_pass", "operators.kept_docs"],
    }[workload]
    for name in own:
        assert values[name] > 0, name


_CACHE: dict = {}


def _run_checked(workload: str, trace: int):
    key = (workload, trace)
    if key not in _CACHE:
        _CACHE[key] = _result(_run(workload, trace))
    return _CACHE[key]


def test_curate_pinned_outputs_hold():
    """The smoke corpus of seed 0 has pinned outputs; the run compares
    against them (a mismatch fails the op, which _result rejects)."""
    with open(wl_curate.EXPECTED) as fh:
        pinned = json.load(fh)
    assert "smoke-seed-0" in pinned
    report, _ = _run_checked("curate", 0)
    assert report["pinned"] is True
    assert report["kept_sha256"] == pinned["smoke-seed-0"]["kept_sha256"]


def test_refuses_without_the_package(tmp_path):
    """In a directory with only BENCHMARK.json and perfbench/, the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("append", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_self_time_subtracts_children():
    t = Tracer()
    t.spans = [
        Span(1, "outer", 0.0, 1.0, None, 0),
        Span(2, "child", 0.1, 0.3, 1, 0),
        Span(3, "child", 0.2, 0.4, 1, 0),  # overlaps the first child
        Span(4, "grandchild", 0.25, 0.35, 2, 0),
    ]
    assert t.self_ms(t.spans[0]) == pytest.approx(700.0)  # 1000 - [100, 400]
    assert t.self_ms(t.spans[1]) == pytest.approx(150.0)  # 200 - [250, 300]


def test_cpu_meter_counts_descendants():
    """CPU a child process spends between two samples is counted."""
    meter = CpuMeter()
    child = subprocess.Popen([sys.executable, "-c", "import time\n"
                              "t = time.process_time()\n"
                              "while time.process_time() - t < 0.3: pass"])
    try:
        time.sleep(0.05)
        meter.refresh()
        assert child.pid in meter.pids
        before = meter.sample()
        child.wait(timeout=30)
    finally:
        child.kill()
        child.wait()
    # the exited child's time has moved into this process's reaped-children
    # counters (tick resolution)
    assert CpuMeter.used(before, meter.sample()) > 0.15
