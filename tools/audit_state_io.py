"""State-commit IO audit for the bucketed-versioned streaming gates
(r12, VERDICT r11 #3): how many FILES and BYTES does each micro-batch
actually commit, for a register-valued (st10), struct-valued (st13),
and list-valued (st14, st15) state — the number SCALE.md's lifecycle
timings imply but never measured.

Runs each pipeline's real 2-micro-batch loop at the given SF with
cleanup disabled, then walks the state root:

- ``paths|state/d{N}/``   — the state store's per-batch delta
  (the batch's raw rows as ``part-*.parquet`` files with a ``_pt``
  bucket column, sorted by it),
- ``paths|state/v{N}/``   — a compaction snapshot, written every
  ``compact_every`` deltas (covered buckets' full state + tombstones,
  one ``_pt={bucket}/`` directory each),
- ``results/batch={N}/``  — the append-only emission (st13-15).

Usage: python tools/audit_state_io.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers import the package too; they inherit the JVM's environment
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from healthcare_api_spark import get_spark
from healthcare_api_spark.tables import load_table


def du(root: str) -> dict[str, tuple[int, int]]:
    """dir (relative, first two levels) -> (n data files, bytes)."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        key = "/".join(rel.split(os.sep)[:2])
        n, b = out.get(key, (0, 0))
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            b += os.path.getsize(os.path.join(dirpath, f))
        out[key] = (n, b)
    return {k: v for k, v in out.items() if v[0]}


def run(name, spark, sf_dir, build):
    root = tempfile.mkdtemp(prefix=f"audit_{name}_")
    src, state, ckpt = f"{root}/src", f"{root}/state", f"{root}/ckpt"
    try:
        t0 = time.time()
        build(spark, sf_dir, src, state, ckpt)
        wall = time.time() - t0
        print(f"\n== {name}  ({wall:.1f}s wall) ==")
        for key, (n, b) in sorted(du(state).items()):
            print(f"  {key:28s} {n:5d} files  {b/1e6:10.2f} MB")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _two_batch(spark, sf_dir, src, split_col, schema, cols, start):
    ev = load_table(spark, sf_dir, "events").select(*cols)
    ev.filter(split_col).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = start(stream)
    q.processAllAvailable()
    ev.filter(~split_col).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()


def st10(spark, sf_dir, src, state, ckpt):
    from healthcare_api_spark.streaming.sketches import streaming_hll

    _two_batch(
        spark, sf_dir, src,
        F.col("user_id") % 2 == 0,
        "event_type string, user_id long",
        ["event_type", "user_id"],
        lambda s: streaming_hll(
            s, state, ["event_type"], "user_id", p=9, checkpoint=ckpt
        ),
    )


def st13(spark, sf_dir, src, state, ckpt):
    from healthcare_api_spark.streaming.attribution import (
        streaming_touch_attribution,
    )

    _two_batch(
        spark, sf_dir, src,
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        "user_id long, ts timestamp, event_type string, value double",
        ["user_id", "ts", "event_type", "value"],
        lambda s: streaming_touch_attribution(
            s, state, "user_id", "ts", "event_type", "purchase",
            value_col="value", checkpoint=ckpt,
        ),
    )


def st14(spark, sf_dir, src, state, ckpt):
    from healthcare_api_spark.streaming.multitouch import (
        streaming_multitouch,
    )

    _two_batch(
        spark, sf_dir, src,
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        "user_id long, ts timestamp, event_type string",
        ["user_id", "ts", "event_type"],
        lambda s: streaming_multitouch(
            s, state, "user_id", "ts", "event_type", "purchase",
            halflife="1 hour", checkpoint=ckpt,
        ),
    )


def st15(spark, sf_dir, src, state, ckpt):
    from healthcare_api_spark.streaming.multitouch_wm import (
        streaming_multitouch_wm,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    on_time = F.col("event_id") % 3 != 0
    ev.filter(on_time).drop("event_id").write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    q = streaming_multitouch_wm(
        stream, state, "user_id", "ts", "event_type", "purchase",
        halflife="1 hour", lateness="15 days", checkpoint=ckpt,
    )
    q.processAllAvailable()
    ev.filter(~on_time).drop("event_id").write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("state-io-audit")
    entrymod._tune(spark)
    print(f"state-commit IO audit at {sf_dir}")
    for name, fn in (
        ("st10_hll", st10),
        ("st13_attribution", st13),
        ("st14_multitouch", st14),
        ("st15_multitouch_wm", st15),
    ):
        run(name, spark, sf_dir, fn)


if __name__ == "__main__":
    main()
