"""stream_state: session-flow state maintenance with reads after every
commit.

Feeds seeded, time-ordered event batches straight into
``streaming.flows.flows_batch`` and calls ``read_session_flows`` and
collects after every batch. An epoch is EPOCH_BATCHES batches on a fresh
state directory, which crosses two ``compact_every`` compactions of the
append+compact state protocol, so it is the one workload whose commits
interleave with reads on ``BucketedVersionedState``. Successive passes of
one run (warm-up, timed or untraced, traced) continue the same epoch.
Every read is checked against a Python model of the transitions so far;
at the end of each timed, untraced or traced pass and of each epoch the
last read must equal ``analytics.session_flows`` over all the epoch's
events so far (the st7 exactness contract).
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

from healthcare_api_spark.operators.analytics import session_flows
from healthcare_api_spark.streaming.flows import flows_batch, read_session_flows
from perfbench.gen import EventStream, FlowModel, events
from perfbench.trace import count_exchanges, tree_files

N_USERS = 200
PER_BATCH = 600
# flows_batch's stores compact every 8 pending deltas (the state.py
# default), so batches 8 and 17 of an epoch are compaction commits.
EPOCH_BATCHES = 18
# An end-to-end run feeds a warm-up batch and then at least MIN_BATCHES
# (fold depths 2 to 6, no compaction: a whole epoch does not fit the
# run-time budget). A traced run feeds one whole epoch: the warm-up batch,
# PAIR_OPS untraced batches up to the first compaction, then TRACED_OPS
# traced batches, one compaction cycle up to the second; see DESIGN.md.
MIN_BATCHES = 5
WARMUP_OPS = 1
PAIR_OPS = 8
TRACED_OPS = EPOCH_BATCHES - WARMUP_OPS - PAIR_OPS
EXTRA_METRICS = {
    "streaming.state.files_per_commit": "count",
    "streaming.state.bytes_per_commit": "B",
    "streaming.state.buckets_touched_frac": "ratio",
    "streaming.state.commits": "count",
    "streaming.state.fold_depth_at_read": "count",
    "streaming.state.exchanges_per_read": "count",
    "streaming.state.reads": "count",
}
STATE_BUCKETS = 16  # flows_batch's num_state_buckets default
_VERSION = re.compile(r"^([dv])(\d+)$")


@dataclass
class Feed:
    """The epoch being fed: its state directory, the index of its next
    batch and the model of its events so far."""

    stream: EventStream
    paths: list[str]
    epoch: int = -1
    root: str = ""
    next_batch: int = EPOCH_BATCHES  # a full epoch: the next batch starts a new one
    model: FlowModel = field(default_factory=FlowModel)


def prepare(seed, inputs):
    stream = events(seed, N_USERS, EPOCH_BATCHES, PER_BATCH)
    return stream, stream.write_parquet(inputs / "events")


def setup(bench, prepared):
    return Feed(*prepared)


def run(bench, feed):
    stream, paths = feed.stream, feed.paths
    spark, t, log = bench.spark, bench.tracer, bench.log
    commits: list[tuple[int, int, float]] = []  # (files, bytes, buckets touched frac)
    reads: list[tuple[int, int]] = []  # (fold depth, exchanges)
    k = 0
    while bench.more(k, minimum=MIN_BATCHES):
        if feed.next_batch == EPOCH_BATCHES:
            if feed.epoch >= 0:
                log.verdict(check_epoch(spark, paths, feed.root, EPOCH_BATCHES))
                shutil.rmtree(feed.root, ignore_errors=True)
            feed.epoch += 1
            feed.root = str(bench.work / f"state-{feed.epoch}")
            feed.model = FlowModel()
            feed.next_batch = 0
        b, root = feed.next_batch, feed.root
        bench.tracer.parent = f"stream_state.op{k}"
        batch = spark.read.parquet(paths[b])
        before = tree_files(root) if t.enabled else None
        t0 = time.perf_counter()
        t.call("streaming.flows", "flows_batch", flows_batch, batch, b, root, "user_id", "ts", "event_type")
        log.record("commit", time.perf_counter() - t0)
        if t.enabled:
            commits.append(_commit_footprint(root, before))
            depth = _fold_depth(os.path.join(root, "counts"))

        t0 = time.perf_counter()
        flows = t.call("streaming.state", "read_build", read_session_flows, spark, root)
        rows = t.call("streaming.state", "read", flows.collect)
        log.record("read", time.perf_counter() - t0)
        if t.enabled:
            reads.append((depth, count_exchanges(flows)))
        feed.model.feed(stream.batches[b])
        log.verdict(compare(rows, feed.model.matrix(), f"read after batch {b} of epoch {feed.epoch}"))
        feed.next_batch += 1
        k += 1
    if not bench.warming_up:  # a later pass's check covers the warm-up batch
        log.verdict(check_epoch(spark, paths, feed.root, feed.next_batch))

    if t.enabled:
        n = len(commits)
        bench.extra.update({
            "streaming.state.files_per_commit": (sum(c[0] for c in commits) / n, "count"),
            "streaming.state.bytes_per_commit": (sum(c[1] for c in commits) / n, "B"),
            "streaming.state.buckets_touched_frac": (sum(c[2] for c in commits) / n, "ratio"),
            "streaming.state.commits": (float(n), "count"),
            "streaming.state.fold_depth_at_read": (sum(r[0] for r in reads) / len(reads), "count"),
            "streaming.state.exchanges_per_read": (sum(r[1] for r in reads) / len(reads), "count"),
            "streaming.state.reads": (float(len(reads)), "count"),
        })
    return {
        # the median batch's commit rate: one commit stalled by the host
        # does not move it
        "throughput_per_s": PER_BATCH / statistics.median(log.latencies["commit"]),
        "latency_p50_ms": log.p50_ms("read"),
        "samples": log.latencies["read"],
    }


def _commit_footprint(root: str, before: dict[str, int]) -> tuple[int, int, float]:
    """New data files and bytes of one commit, and the share of the two
    stores' buckets its new version directories cover."""
    after = tree_files(root)
    new = {p: n for p, n in after.items() if before.get(p) != n}
    buckets = set()
    for p in new:
        parts = p.split(os.sep)
        if len(parts) >= 3 and _VERSION.match(parts[1]) and parts[2].startswith("_pt="):
            buckets.add((parts[0], parts[2]))
    return len(new), sum(new.values()), len(buckets) / (2 * STATE_BUCKETS)


def _fold_depth(store: str) -> int:
    """Complete ``d{batch}`` deltas newer than the newest complete
    ``v{batch}`` snapshot: the deltas a read folds."""
    done = {"d": [], "v": []}
    for name in os.listdir(store) if os.path.isdir(store) else ():
        m = _VERSION.match(name)
        if m and os.path.exists(os.path.join(store, name, "_SUCCESS")):
            done[m.group(1)].append(int(m.group(2)))
    base = max(done["v"], default=-1)
    return sum(1 for d in done["d"] if d > base)


def compare(rows, want: dict, what: str) -> list[str]:
    got = {(r["src"], r["dst"]): (r["n_transitions"], r["prob"]) for r in rows}
    if len(got) != len(rows) or got.keys() != want.keys():
        return [f"{what}: {len(rows)} transitions, {len(got.keys() ^ want.keys())} pairs differ"]
    bad = [k for k, (n, p) in got.items() if n != want[k][0] or abs(p - want[k][1]) > 1e-6]
    return [f"{what}: {len(bad)} transitions differ, e.g. {bad[0]}"] if bad else []


def check_epoch(spark, paths, root: str, n_batches: int) -> list[str]:
    """The last read equals analytics.session_flows over every event
    fed in the epoch."""
    every = spark.read.parquet(*paths[:n_batches])
    want = {
        (r["src"], r["dst"]): (r["n_transitions"], r["prob"])
        for r in session_flows(every, "user_id", "ts", "event_type").collect()
    }
    return compare(read_session_flows(spark, root).collect(), want, "epoch against session_flows")
