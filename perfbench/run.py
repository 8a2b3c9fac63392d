"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload fhir_search --seed 1 --seconds 10 --trace 0

Inputs are generated from the seed before anything is timed. The run
then sets the engine up once, launching its JVM as every batch job does,
and reports that time as ``setup_s``, runs the workload's warm-up
operations untimed, measures the workload for ``--seconds``, checks
every output against the generator's model, and prints the metrics.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instead runs a fixed number of
operations untraced and then again with a span around every layer call,
and prints the per-layer metrics including the tracing overhead. All
scratch files live under ``.perfbench/`` in the checkout and are removed
at the end.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.oplog import OpLog, tail_percentile  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = {
    "fhir_ingest": "perfbench.wl_ingest",
    "fhir_search": "perfbench.wl_search",
    "corpus_curation": "perfbench.wl_curation",
    "stream_state": "perfbench.wl_stream",
}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    """What a workload sees: the session, the tracer, the op log, the
    time budget and a scratch directory."""

    def __init__(self, workload: str, seed: int, seconds: float, work: Path, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer(workload, enabled=False)
        self.log = OpLog()
        self.attempted = self.failed = 0  # totals of earlier passes' logs
        self.extra: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.setup_s = 0.0
        self._deadline = 0.0
        # the traced pass runs this many operations instead of a time budget
        self.fixed_ops: int | None = None
        # one search client when tracing, so every job belongs to one span
        self.tracing_run = trace
        self.warming_up = False

    # -- session ------------------------------------------------------
    def setup(self, module, prepared):
        """``get_spark``, which launches this run's JVM, plus the
        workload's own preparation; returns the workload's state."""
        from healthcare_api_spark import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        t0 = time.perf_counter()
        self.spark = self.tracer.call("session", "get_spark", get_spark, "perfbench", extra_conf=conf)
        self.tracer.bind(self.spark)
        state = module.setup(self, prepared)
        self.setup_s = time.perf_counter() - t0
        return state

    def peak_rss_mb(self) -> float:
        """Peak RSS of this Python process plus that of its JVM."""
        from pyspark import SparkContext

        return _vm_hwm_mb("self") + _vm_hwm_mb(SparkContext._gateway.proc.pid)

    def retained_heap_mb(self) -> float:
        """Heap the driver JVM still uses once full collections free
        nothing more. Python collects first, so py4j releases the JVM
        objects of finished queries; each JVM collection then lets
        Spark's context cleaner drop the broadcast and shuffle blocks of
        queries that became unreachable, which a later one frees. Deep
        lineages free in stages over a second or more; five readings in
        a row within 1 MB end the wait."""
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        gc.collect()
        readings: list[float] = []
        for _ in range(50):
            jvm.java.lang.System.gc()
            readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
            if len(readings) >= 5 and max(readings[-5:]) - min(readings[-5:]) < 1.0:
                break
            time.sleep(0.2)
        return readings[-1]

    def close(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- measurement --------------------------------------------------
    def new_log(self) -> None:
        """Start a fresh op log, keeping the attempted/failed totals."""
        self.attempted += self.log.attempted
        self.failed += self.log.failed
        self.log = OpLog()

    def start_clock(self) -> None:
        self._deadline = time.perf_counter() + self.seconds

    def more(self, done: int, minimum: int = 1) -> bool:
        """Whether to start another operation: a fixed count in the
        traced pass, else at least ``minimum`` and until time is up."""
        if self.fixed_ops is not None:
            return done < self.fixed_ops
        return done < minimum or time.perf_counter() < self._deadline


def extra_metrics() -> dict[str, str]:
    """Every workload's per-layer ratios and counts (name -> unit); a
    traced run reports 0 for those its workload does not reach."""
    out = {}
    for mod in WORKLOADS.values():
        out.update(importlib.import_module(mod).EXTRA_METRICS)
    return out


def _environment(nproc: int, spark) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        sha = "unknown"
    return {
        "nproc": nproc,
        "spark": spark.version,
        "python": platform.python_version(),
        "git_sha": sha,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "healthcare_api_spark" / "__init__.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "local", "warehouse", "inputs"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_WAREHOUSE": str(work / "warehouse"),
        "TMPDIR": str(work / "tmp"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    module = importlib.import_module(WORKLOADS[args.workload])
    bench = Bench(args.workload, args.seed, args.seconds, work, bool(args.trace))
    try:
        prepared = module.prepare(args.seed, work / "inputs")
        bench.tracer.enabled = bool(args.trace)
        state = bench.setup(module, prepared)
        bench.tracer.enabled = False
        tail = peak_rss = None
        if args.trace:
            metrics = _traced(bench, module, state)
        else:
            _warm_up(bench, module, state, module.WARMUP_OPS)
            bench.fixed_ops = None
            bench.start_clock()
            e2e = module.run(bench, state)
            metrics = {
                "setup_s": (bench.setup_s, "s"),
                "throughput_per_s": (e2e["throughput_per_s"], "1/s"),
                "latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
                "retained_heap_mb": (bench.retained_heap_mb(), "MB"),
            }
            tail = _tail(e2e["samples"])
            peak_rss = bench.peak_rss_mb()
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "environment": _environment(nproc, bench.spark),
            "tail": tail, "peak_rss_mb": peak_rss,
        }
    finally:
        bench.close()
        out_dir = ROOT / ".perfbench" / "results"
        if bench.tracer.spans:
            bench.tracer.write(out_dir / f"{args.workload}-seed{args.seed}-spans.jsonl")
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = bench.attempted + bench.log.attempted, bench.failed + bench.log.failed
    record["failed_ops_frac"] = failed / attempted if attempted else 1.0
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps(record, sort_keys=True))
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**record, "metrics": metrics}, sort_keys=True, indent=1)
    )
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _tail(samples: list[float]) -> dict:
    """The latency tail by the percentile rule, with its sample count."""
    tail = tail_percentile(samples)
    return {"n": len(samples), "percentile": tail[0] if tail else None,
            "ms": tail[1] * 1000.0 if tail else None}


def _warm_up(bench, module, state, ops: int) -> None:
    """``ops`` untimed operations, so the timed ones run on a warm JVM
    (JIT-compiled planner, generated code cached). Their outputs are
    checked like any other."""
    if ops:
        bench.fixed_ops = ops
        bench.warming_up = True
        module.run(bench, state)
        bench.warming_up = False
        bench.new_log()


def _traced(bench, module, state) -> dict:
    """Per-layer metrics from a traced pass of TRACED_OPS operations,
    and the tracing overhead: timed work per operation in that pass
    against an untraced pass of PAIR_OPS operations (TRACED_OPS unless
    the workload sets it), both after at least one warm-up operation."""
    _warm_up(bench, module, state, max(module.WARMUP_OPS, 1))
    per_op = []
    for traced, ops in ((False, getattr(module, "PAIR_OPS", module.TRACED_OPS)),
                        (True, module.TRACED_OPS)):
        bench.fixed_ops = ops
        bench.new_log()
        bench.tracer.enabled = traced
        module.run(bench, state)
        per_op.append(bench.log.busy_s / ops)
    bench.tracer.enabled = False
    metrics = bench.tracer.layer_metrics()
    for name, unit in extra_metrics().items():
        metrics[name] = bench.extra.get(name, (0.0, unit))
    metrics["trace.overhead_frac"] = (per_op[1] / per_op[0] - 1.0, "ratio")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
