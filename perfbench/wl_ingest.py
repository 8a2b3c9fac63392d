"""fhir_ingest: the reference's batch pipeline, once per operation.

read_ndjson -> derive_assays -> observe_assay_documents ->
dispatch_transformation + structural_checks per type ->
ResourceStore.import_resources -> one ResourceStore.upsert of a ~5%
update delta. Loads the scan, join, map and store-write layers; never
touches plans.search, streaming or the text operators.
"""

from __future__ import annotations

import shutil
import time

from pyspark.sql import functions as F

from healthcare_api_spark.operators.assay import AssayResult, check_invariants, derive_assays
from healthcare_api_spark.operators.transforms import dispatch_transformation
from healthcare_api_spark.quality import observe_assay_documents
from healthcare_api_spark.schemas import SCHEMAS
from healthcare_api_spark.sources.ndjson import read_ndjson
from healthcare_api_spark.sources.store import ResourceStore
from healthcare_api_spark.validate import structural_checks
from perfbench.gen import OCTET_STREAM, TRANSFORM_ONLY, fhir_drop
from perfbench.trace import tree_files

# the reference drop's scale (FIXTURES.md: 17121 specimens, 27264 documents)
N_PATIENTS = 537
WARMUP_OPS = 0
TRACED_OPS = 1
UPDATED_STATUS = "superseded"
# per-layer metrics this workload measures beside the spans (name -> unit)
EXTRA_METRICS = {"sources.store.files_written": "count"}


def prepare(seed, inputs):
    drop = fhir_drop(seed, N_PATIENTS)
    return drop, drop.write_ndjson(inputs / "fhir")


def setup(bench, prepared):
    return prepared


def run(bench, state):
    drop, paths = state
    n_resources = sum(len(rows) for rows in drop.resources.values())
    k = 0
    while bench.more(k):
        root = str(bench.work / f"store-{k}")
        bench.tracer.parent = f"fhir_ingest.op{k}"
        t0 = time.perf_counter()
        obs = ingest(bench, drop, paths, root)
        bench.log.record("pipeline", time.perf_counter() - t0, items=n_resources)
        bench.log.verdict(check(bench.spark, drop, root, obs))
        if k == 0:
            bench.extra["sources.store.files_written"] = (float(len(tree_files(root))), "count")
        shutil.rmtree(root, ignore_errors=True)
        k += 1
    return {
        "throughput_per_s": bench.log.throughput(),
        "latency_p50_ms": bench.log.p50_ms(),
        "samples": bench.log.all_latencies(),
    }


def ingest(bench, drop, paths, root):
    t, spark = bench.tracer, bench.spark
    frames = {
        rt: t.call("sources.ndjson", "read_ndjson", read_ndjson, spark, p, SCHEMAS[rt], materialize=True)
        for rt, p in sorted(paths.items())
    }
    res = t.call(
        "operators.assay", "derive_assays", derive_assays,
        frames["DocumentReference"], frames["Group"], frames["Specimen"], materialize=True,
    )
    docs, obs = t.call("quality", "observe_assay_documents", observe_assay_documents, res.documents,
                       materialize=True)
    outputs = {"DocumentReference": docs, "Group": res.groups, "Specimen": frames["Specimen"]}
    outputs.update({rt: frames[rt] for rt in TRANSFORM_ONLY})
    store = ResourceStore(spark, root)
    for rt, df in outputs.items():
        r4 = t.call("operators.transforms", "dispatch_transformation", dispatch_transformation, df, rt,
                    materialize=True)
        checked = t.call("validate", "structural_checks", structural_checks, r4, rt, materialize=True)
        t.call("sources.store", "import_resources", store.import_resources,
               checked.filter("valid").drop("valid", "errors"), rt)
    t.call("sources.store", "import_resources", store.import_resources, res.assays, "ServiceRequest")
    t.call("sources.store", "import_resources", store.import_resources, frames["Patient"], "Patient")
    stored = store.table("DocumentReference")
    delta = (
        stored.filter(F.col("id").isin(drop.update_ids))
        .unionByName(
            stored.filter(F.col("id").isin(drop.new_copy_ids))
            .withColumn("id", F.concat("id", F.lit("-copy")))
        )
        .withColumn("status", F.lit(UPDATED_STATUS))
    )
    t.call("sources.store", "upsert", store.upsert, delta, "DocumentReference")
    return obs


def check(spark, drop, root, obs) -> list[str]:
    """check_invariants, FIXTURES.md §6 invariants 1-5 and store counts
    per type against the generator's model."""
    problems = []
    store = ResourceStore(spark, root)
    expected = dict(drop.expected_counts)
    expected["DocumentReference"] += len(drop.new_copy_ids)
    got = {r["resourceType"]: r["cnt"] for r in store.counts_by_type(sorted(expected)).collect()}
    if got != expected:
        problems.append(f"store counts {got} != {expected}")

    inv = check_invariants(AssayResult(
        assays=store.table("ServiceRequest"),
        documents=store.table("DocumentReference"),
        groups=store.table("Group"),
    ))
    # invariants 1-3: only the groups without a Specimen member remain
    want_inv = {"docs_with_non_patient_subject": 0, "remaining_groups": len(drop.empty_group_ids),
                "invalid_assays": 0}
    if inv != want_inv:
        problems.append(f"check_invariants {inv} != {want_inv}")
    group_ids = {r["id"] for r in store.table("Group").select("id").collect()}
    if group_ids != drop.empty_group_ids:
        problems.append(f"stored groups {sorted(group_ids)} != {sorted(drop.empty_group_ids)}")
    m = obs.get
    n_docs = len(drop.resources["DocumentReference"])
    if m["n_docs"] != n_docs or m["n_non_patient_subject"] != 0:
        problems.append(f"observe_assay_documents {m}")

    assay_ids = {r["id"] for r in store.table("ServiceRequest").select("id").collect()}
    if assay_ids != drop.expected_assay_ids:  # invariant 5 and the pass-1 ids
        problems.append(f"{len(assay_ids ^ drop.expected_assay_ids)} assay ids differ")

    input_status = {d["id"]: d["status"] for d in drop.resources["DocumentReference"]}
    updated = set(drop.update_ids)
    rows = store.table("DocumentReference").select(
        "id", "status", F.col("subject.reference").alias("subject"),
        F.col("content")[0]["attachment"]["contentType"].alias("ct"),
    ).collect()
    for r in rows:
        base = r["id"].removesuffix("-copy")
        want_status = UPDATED_STATUS if (base in updated or r["id"] != base) else input_status.get(base)
        want_subject = drop.expected_subject.get(base)
        if r["subject"] is None or not r["subject"].startswith("Patient/"):  # invariant 2
            problems.append(f"{r['id']} subject {r['subject']}")
        elif want_subject is not None and r["subject"] != want_subject:
            problems.append(f"{r['id']} subject {r['subject']} != {want_subject}")
        if r["ct"] is None or "vcard" in r["ct"]:  # invariant 4
            problems.append(f"{r['id']} contentType {r['ct']}")
        elif base in drop.extensionless_bound_docs and r["ct"] != OCTET_STREAM:
            problems.append(f"{r['id']} contentType {r['ct']} != {OCTET_STREAM}")
        if r["status"] != want_status:
            problems.append(f"{r['id']} status {r['status']} != {want_status}")
    return problems
