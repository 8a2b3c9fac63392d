"""Time declared gates on replicated copies of the SF dataset.

Usage: python tools/sweep.py <gate> [gate ...] [--reps 1,25,100]

For each rep the dataset at $SPARK_GRAFT_SF_DIR is copied once, ×rep:

- region and nation are kept as they are;
- every int64 ``*key`` / ``*_id`` column shifts by ``r × stride``
  (stride = 1 + the largest such value in the dataset), so copies are
  disjoint and foreign keys stay inside their replica;
- replica r ≥ 1 suffixes every document token with ``_r``: replicas
  share no shingles, so pair outputs grow linearly, not quadratically;
- replica r rolls each embedding vector by ``r % dim`` positions.

Each gate from ``__spark_entry__.queries()`` then runs after a GC
barrier, cold + 3 steady passes into a noop sink. One JSON line per
(gate, rep): the pass walls, the Spark jobs each pass submitted (the
DAGScheduler job-id delta, which also counts foreachBatch jobs), and
the last pass's jobs as ``job= ms= tasks= description`` lines.
"""

from __future__ import annotations

import argparse
import gc
import json
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
from pyspark.sql.types import LongType

import __spark_entry__ as entrymod
from healthcare_api_spark import get_spark
from healthcare_api_spark.tables import DEFAULT_SF_DIR, TABLE_NAMES, load_table

N_STEADY = 3
KEPT = ("region", "nation")


def _doc_text(text, r):
    suffixed = F.transform(
        F.split(text, r"\s+"), lambda w: F.concat(w, F.lit("_"), r.cast("string"))
    )
    return F.when(r == 0, text).otherwise(F.concat_ws(" ", suffixed))


def _rolled(vec, r, dim: int):
    roll = r % dim
    return F.concat(F.slice(vec, roll + 1, F.lit(dim) - roll), F.slice(vec, F.lit(1), roll))


def replicate(spark, sf_dir: str, rep: int, out: str) -> str:
    """Write the ×rep copy of ``sf_dir`` to ``out`` and return ``out``."""
    tables = {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
    keys = {
        name: [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, LongType) and f.name.endswith(("key", "_id"))
        ]
        for name, df in tables.items()
        if name not in KEPT
    }
    maxes = [
        v for name, ks in keys.items() if ks for v in tables[name].agg(*map(F.max, ks)).first()
    ]
    stride = 1 + max(v for v in maxes if v is not None)
    r = F.col("_r")
    for name, df in tables.items():
        if name in keys:
            cols = []
            for c in df.columns:
                col = F.col(c)
                if c in keys[name]:
                    col = col + r * stride
                elif (name, c) == ("documents", "text"):
                    col = _doc_text(col, r)
                elif (name, c) == ("embeddings", "embedding"):
                    col = _rolled(col, r, len(df.first()[c]))
                cols.append(col.alias(c))
            df = (
                df.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
                .select(cols)
                .repartition(spark.sparkContext.defaultParallelism)
            )
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    return out


def _gc_barrier(spark) -> None:
    # bench.py's barrier: drop Python refs to checkpointed frames, then GC
    # the JVM so block-manager occupancy is flat before the gate starts
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)


def _job_lines(sc, first_id: int) -> list[str]:
    sc.listenerBus().waitUntilEmpty()
    lines = []
    it = sc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() < first_id:
            continue
        sub, done = j.submissionTime(), j.completionTime()
        ms = -1
        if sub.isDefined() and done.isDefined():
            ms = done.get().getTime() - sub.get().getTime()
        desc = j.description().get() if j.description().isDefined() else j.name()
        lines.append((j.jobId(), ms, j.numTasks(), (desc or "").replace("\n", " ")[:110]))
    return [f"job={i:4d} ms={ms:6d} tasks={n:4d}  {d}" for i, ms, n, d in sorted(lines)]


def run_gate(spark, fn, sf_dir: str) -> dict:
    sc = spark.sparkContext._jsc.sc()
    _gc_barrier(spark)
    walls, jobs = [], []
    for _ in range(1 + N_STEADY):
        spark.catalog.clearCache()
        first = sc.dagScheduler().nextJobId()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.append(round(time.perf_counter() - t0, 3))
        jobs.append(sc.dagScheduler().nextJobId() - first)
    return {"walls": walls, "jobs": jobs, "last_pass_jobs": _job_lines(sc, first)}


def sweep(spark, gates: list[str], reps: list[int], sf_dir: str = DEFAULT_SF_DIR):
    """Yield one result dict per (gate, rep); replicas live in a temp dir."""
    qs = entrymod.queries()
    root = tempfile.mkdtemp(prefix="sweep_")
    try:
        for rep in reps:
            data = replicate(spark, sf_dir, rep, f"{root}/x{rep}")
            for gate in gates:
                yield {
                    "gate": gate,
                    "rep": rep,
                    "sf_dir": sf_dir,
                    "cores": spark.sparkContext.defaultParallelism,
                    **run_gate(spark, qs[gate], data),
                }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("gates", nargs="+", help="names from __spark_entry__.queries()")
    ap.add_argument("--reps", default="1,25,100", help="comma-separated replication factors")
    args = ap.parse_args()
    unknown = set(args.gates) - set(entrymod.queries())
    if unknown:
        ap.error(f"unknown gates: {sorted(unknown)}")
    spark = get_spark("sweep")
    for row in sweep(spark, args.gates, [int(x) for x in args.reps.split(",")]):
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
