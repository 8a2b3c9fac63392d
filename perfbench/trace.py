"""Per-layer collector for traced runs.

A span wraps one call from the benchmark into a layer of the engine.
Around it the tracer sets a Spark job group, and at the end it reads the
jobs of that group (plus group-less jobs that started during the span,
which come from driver threads the engine starts itself) out of Spark's
status store, which stays live with ``spark.ui.enabled=false``. With
``materialize`` the call's DataFrame output is checkpointed inside the
span, so the jobs that compute it are charged to the layer that built it
and not to whichever layer first consumes it. Spans stay in memory and
are written out when the run ends.

Untraced runs use the same ``call`` entry point, which then only invokes
the function, so the code paths of both modes are the same.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

# Layer of each engine module the benchmark calls: quality goes with
# validate, curation with textops, graph with dedup, state with flows.
MODULE_LAYER = {
    "quality": "validate",
    "operators.curation": "operators.textops",
    "operators.graph": "operators.dedup",
    "streaming.state": "streaming.flows",
}
LAYERS = (
    "session",
    "sources.ndjson",
    "operators.assay",
    "operators.transforms",
    "validate",
    "sources.store",
    "plans.search",
    "operators.textops",
    "operators.dedup",
    "operators.similarity",
    "streaming.flows",
)
# (field, unit) recorded for every span and summed per layer
SPAN_FIELDS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("failed_tasks", "count"),
)


@dataclass
class Span:
    name: str
    layer: str
    parent: str
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    input_records: int = 0
    job_covered_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_s(self) -> float:
        return max(0.0, self.wall_s - self.job_covered_s)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _materialize(out):
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(_materialize(x) for x in out)
    if dataclasses.is_dataclass(out) and not isinstance(out, type):
        return dataclasses.replace(
            out, **{f.name: _materialize(getattr(out, f.name)) for f in dataclasses.fields(out)}
        )
    return out


_EXCHANGE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange\b")


def count_exchanges(df) -> int:
    """Shuffle and broadcast exchanges in the physical plan of ``df``
    (reused exchanges excluded). Once an adaptive plan has run, its text
    holds the final plan and then the initial one; only the final plan
    is counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan.split("== Initial Plan ==")[0]))


def tree_files(path: str | Path) -> dict[str, int]:
    """Data files under ``path`` (relative path -> bytes), hidden and
    marker files excluded."""
    out = {}
    root = str(path)
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


@dataclass
class Tracer:
    workload: str
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    parent: str = "setup"
    _spark: object = None
    _seen_stages: set = field(default_factory=set)

    def bind(self, spark) -> None:
        self._spark = spark
        self._seen_stages = set()

    def call(self, module: str, call: str, fn, *args, materialize: bool = False, **kwargs):
        """Invoke ``fn``; when tracing, inside a span named
        ``<workload>.<module>.<call>``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(module, call):
            out = fn(*args, **kwargs)
            if materialize:
                out = _materialize(out)
        return out

    @contextmanager
    def span(self, module: str, call: str):
        name = f"{self.workload}.{module}.{call}"
        sp = Span(name=name, layer=MODULE_LAYER.get(module, module), parent=self.parent, start=0.0)
        spark = self._spark
        if spark is None:  # get_spark itself: nothing to read yet
            sp.start = time.time()
            try:
                yield
            finally:
                sp.end = time.time()
                self.spans.append(sp)
            return
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = f"perfbench-{len(self.spans)}"
        before = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, name)
        sp.start = time.time()
        try:
            yield
        finally:
            sp.end = time.time()
            sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = set(tracker.getJobIdsForGroup(group)) | (
                set(tracker.getJobIdsForGroup(None)) - before
            )
            self._read_jobs(sp, sorted(jobs))
            self.spans.append(sp)

    def _read_jobs(self, sp: Span, job_ids: list[int]) -> None:
        from py4j.protocol import Py4JJavaError

        store = self._spark.sparkContext._jsc.sc().statusStore()
        intervals = []
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted from the status store
                continue
            sp.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1000.0 if done.isDefined() else sp.end
                intervals.append((sub.get().getTime() / 1000.0, end))
            stage_ids = job.stageIds()
            for i in range(stage_ids.length()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() in ("PENDING", "SKIPPED"):
                    continue
                self._seen_stages.add(sid)
                sp.tasks += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
                sp.failed_tasks += st.numFailedTasks()
                sp.executor_run_s += st.executorRunTime() / 1000.0
                sp.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
                sp.input_records += st.inputRecords()
        sp.job_covered_s = covered_seconds(intervals, sp.start, sp.end)

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        """Per layer, each span field summed over the run's spans
        (0 for a layer the workload bypasses)."""
        out = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s.layer == layer]
            for fld, unit in SPAN_FIELDS:
                out[f"{layer}.{fld}"] = (float(sum(getattr(s, fld) for s in spans)), unit)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                rec = dataclasses.asdict(s)
                rec.update(wall_s=s.wall_s, driver_s=s.driver_s)
                f.write(json.dumps(rec) + "\n")
