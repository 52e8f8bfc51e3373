"""Run one benchmark workload against the package in this checkout.

    python3 perfbench/run.py --workload append --seed 1 --seconds 8 --trace 0

Workloads: append, live, query, curate (see design.json for what each one
does and why).  One closed-loop client; Spark workloads run on
local[nproc].  Inputs are generated from --seed.  After the timed phase
every op's output is checked; a wrong output counts as a failed op.

stdout: a report line (JSON: ops/s and wall-clock op latency, p50 and
the tail percentiles with their sample counts, set-up breakdown,
host-load markers, ...), then as the LAST line the result object
{"correct", "attempted", "failed", "metrics"}.  --trace 0 reports the
end-to-end metrics of BENCHMARK.json: the median CPU time per op and the
CPU time of set-up, each summed over every process of the run but the
JVM's JIT compiler threads (on a shared host CPU time spreads far less
from run to run than wall time), and the driver's peak RSS.  --trace 1
wraps the library's public calls in spans and reports the per-layer
metrics instead, and writes the spans to .perfbench-out/.

--size smoke shrinks every input for the benchmark's self-test.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("append", "live", "query", "curate")
#: a run that has not finished by then is aborted without a result
RUN_DEADLINE_S = 170


class Context:
    """What a workload gets: its inputs' seed and size, a work directory,
    the op log, the set-up clock and (traced run only) the tracer."""

    def __init__(self, args, work, log, setup, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.size == "smoke"
        self.work = work
        self.log = log
        self.setup = setup
        self.tracer = tracer


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def _abort(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse(argv)
    # the package under test is the one in this checkout, never an
    # installed copy
    sys.path.insert(0, ROOT)
    try:
        import cloudfabric_eventsourcing_spark as pkg
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: package resolved outside {ROOT}: {pkg.__file__}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # everything the run and its Spark workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    signal.signal(signal.SIGALRM, _abort)
    signal.alarm(RUN_DEADLINE_S)

    from perfbench import harness, tracing

    tracer = tracing.Tracer() if args.trace else None
    log = harness.OpLog(tracer)
    setup = harness.SetupClock()
    ctx = Context(args, work, log, setup, tracer)
    marker_start = harness.host_marker()
    workload = importlib.import_module(f"perfbench.wl_{args.workload}")
    try:
        result = workload.run(ctx)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)
    marker_end = harness.host_marker()

    e2e = log.end_to_end()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        layers = dict(result.get("layers", {}))
        layers["trace.op_p50_ms"] = e2e["op_p50_ms"]
        layers["trace.spans"] = len(tracer.spans)
        # share of the timed ops' wall spent inside wrapped library calls
        timed_ops = {r.index for r in log.timed_records()}
        wall_ms = sum(log.latencies_ms())
        layers["trace.layer_self_share"] = (
            sum(tracer.self_ms(s) for s in tracer.spans if s.op in timed_ops) / wall_ms
            if wall_ms else 0.0
        )
        names = [m["name"] for m in spec["per_layer"]]
        # a layer this workload never calls did no work: 0 of everything
        values = {n: float(layers.get(n, 0.0)) for n in names}
    else:
        values = {
            "setup_s": setup.cpu_total(),
            "op_cpu_p50_ms": e2e["op_cpu_p50_ms"],
            "driver_peak_rss_mb": harness.peak_rss_mb(),
        }
        names = [m["name"] for m in spec["end_to_end"]]
        values = {n: values[n] for n in names}
    checks_ok = all(result.get("checks", {}).values())
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "size": args.size,
        "cores": harness.cores(),
        "timed_ops": len(log.timed_records()),
        "timed_wall_s": log.timed_wall_s,
        "ops_per_s": e2e["ops_per_s"],
        "op_p50_ms": e2e["op_p50_ms"],
        "setup_wall_s": setup.total(),
        **e2e["tail"],
        "setup": setup.report(),
        "checks": result.get("checks", {}),
        "errors": [r.error for r in log.records if not r.ok][:10],
        "host_start": marker_start,
        "host_end": marker_end,
        "host_steal_share": harness.steal_share(marker_start, marker_end),
        **result.get("report", {}),
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": log.failed == 0 and checks_ok,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
