"""Run-to-run spread of the end-to-end metrics: runs the benchmark once
per seed, one run at a time, and prints for each workload and metric (the
end-to-end metrics of BENCHMARK.json, and the wall-clock ops_per_s,
op_p50_ms and setup_wall_s of the report line) the median and the quartile spread
(Q3 - Q1) / median, with Q1 and Q3 as ``statistics.quantiles(values,
n=4)`` gives them.

    python3 perfbench/spread.py --workloads append live query --seeds 1-10

With --overhead each seed also gets a traced run right after its
untraced one, and the tracing overhead (median traced op_p50_ms minus
median untraced op_p50_ms) is printed per workload.

Raw results are appended to .perfbench-out/spread.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


#: wall-clock figures of the report line, shown beside the gated metrics
REPORTED = ("ops_per_s", "op_p50_ms", "setup_wall_s")


def run_once(bench, workload, seed, seconds, trace, out_path):
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        return None
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])["report"]
    with open(out_path, "a") as fh:
        fh.write(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                             "wall_s": wall, "result": result, "report": report}) + "\n")
    flag = "" if result["correct"] and not result["failed"] else "  INCORRECT"
    print(f"{workload} seed {seed} trace {trace}: {wall:.1f} s, steal "
          f"{report.get('host_steal_share')}{flag}", flush=True)
    return result, report


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--overhead", action="store_true", help="also run each seed traced")
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_path = os.path.join(ROOT, ".perfbench-out", "spread.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    for workload in args.workloads:
        values: dict[str, list[float]] = {}
        traced_p50: list[float] = []
        for seed in seeds(args.seeds):
            for trace in (0, 1) if args.overhead else (0,):
                got = run_once(bench, workload, seed, args.seconds, trace, out_path)
                if got is None:
                    return 1
                result, report = got
                if trace:
                    traced_p50.append(result["metrics"]["trace.op_p50_ms"]["value"])
                    continue
                for name, m in result["metrics"].items():
                    values.setdefault(name, []).append(m["value"])
                for name in REPORTED:
                    values.setdefault(name, []).append(report[name])
        for name, vals in values.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            print(f"  {workload:8s} {name:20s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {bounds.get(name, '(report only)')}", flush=True)
        if traced_p50:
            overhead = statistics.median(traced_p50) - statistics.median(values["op_p50_ms"])
            print(f"  {workload:8s} tracing overhead on op_p50_ms: {overhead:.3f} ms", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
