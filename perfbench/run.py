"""spark-graft benchmark: live alert lag and batch time.

Usage::

    python3 perfbench/run.py --workload alert_live --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # both workloads in turn

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that records spans and prints the per-layer metrics instead. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it names every figure of the
workload with its unit. A run whose open loop did not hold exits with
code 3 and prints no result. Workloads, metrics and the layer map are
described in ``perfbench/WORKLOADS.md``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import batch, common, streams  # noqa: E402
from perfbench.trace import NullTracer, Tracer  # noqa: E402

WORKLOADS = {
    "alert_live": streams.alert_live,
    "batch_sf001": batch.batch_sf001,
}
# The metric names and units live in BENCHMARK.json alone. A traced run
# reports every per-layer metric; a layer the workload does not exercise
# reports 0.
SPEC = json.loads((common.ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
INVALID_EXIT = 3


class Context:
    """What a workload needs: its arguments, scratch directory, clock,
    tracer and result, plus session start and set-up bookkeeping."""

    def __init__(self, args, clock: common.Clock) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.cpus = common.cores()
        self.clock = clock
        self.work = common.make_workdir(args.workload)
        self.res = common.Result()
        self.tracer = Tracer() if args.trace else NullTracer()
        self.spark = None
        self.jvm_pid = None
        self._session_ready = 0.0
        self._cpu_at_start = common.cpu_times()

    def start_session(self, cpus: int | None = None):
        with self.tracer.span("session", "start"):
            t0 = time.perf_counter()
            self.spark = common.start_session(cpus or self.cpus)
            if "session.start_s" not in self.res.metrics:
                self.res.put("session.start_s", time.perf_counter() - t0, "s")
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        self.jvm_pid = common.jvm_pid(self.spark)
        self._session_ready = self.clock.now()
        return self.spark

    def setup_done(self) -> None:
        now = self.clock.now()
        self.res.put("setup_s", now, "s")
        self.res.put("session.warmup_s", now - self._session_ready, "s")

    def measured(self) -> None:
        """Call at the end of the measured phase, with its state still live."""
        self.res.put("heap_live_mb", common.live_heap_mb(self.spark), "MB")
        self.res.put("session.cpu_steal_pct",
                     common.steal_pct(self._cpu_at_start, common.cpu_times()), "%")


def run_one(args) -> int:
    clock = common.Clock()
    common.engine()
    ctx = Context(args, clock)
    try:
        with ctx.tracer.span("bench", args.workload):
            WORKLOADS[args.workload](ctx)
        ctx.res.put("session.peak_rss_mb", common.peak_rss_mb(ctx.jvm_pid), "MB")
    except common.InvalidRun as e:
        print(f"perfbench: invalid run: {e}", file=sys.stderr)
        return INVALID_EXIT
    finally:
        if ctx.spark is not None:
            common.stop_session(ctx.spark)
    if args.trace:
        ctx.res.put("trace.overhead_s", ctx.tracer.own_s, "s")
        for layer, secs in ctx.tracer.self_time().items():
            if f"self_s.{layer}" in PER_LAYER:
                ctx.res.put(f"self_s.{layer}", secs, "s")
        ctx.tracer.write(ctx.work.parent / f"trace-{args.workload}-{args.seed}.json")
    shutil.rmtree(ctx.work, ignore_errors=True)
    print_result(args.workload, ctx.res, PER_LAYER if args.trace else END_TO_END)
    return 0


def print_result(workload: str, res: common.Result, wanted: dict[str, str]) -> None:
    for note in res.notes:
        print(f"perfbench: check failed: {note}", file=sys.stderr)
    figures = {k: v for k, v in res.metrics.items() if k in END_TO_END}
    figures.update(res.summary)
    figures["failed_frac"] = (res.failed / max(res.attempted, 1), "ratio")
    print(f"perfbench {workload}: " + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in figures.items()))
    metrics = {}
    for name, unit in wanted.items():
        value = res.metrics.get(name, (0.0, unit))[0]
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": metrics,
    }))


def run_all(args) -> int:
    """Run every workload in its own process and combine their results."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench {name}: exited with code {proc.returncode}", file=sys.stderr)
            code = code or proc.returncode or 1
            continue
        print(lines[-2] if len(lines) > 1 else "")
        one = json.loads(lines[-1])
        combined["correct"] &= one["correct"]
        combined["attempted"] += one["attempted"]
        combined["failed"] += one["failed"]
        for k, v in one["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    if code:
        return code
    print(json.dumps(combined))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if args.seed < 0 or args.seconds < streams.TRIGGER_S:
        p.error(f"--seed must be >= 0 and --seconds >= {streams.TRIGGER_S}")
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
