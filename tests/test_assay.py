"""Golden tests for the Assay derivation (reference scripts/assay.py),
covering FIXTURES.md §6 invariants and the corner cases: multi-specimen
last-wins, missing specimen, memberless group, MIME fallback chain,
byte-exact uuid5."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from healthcare_api_spark.functions.refs import ref_id
from healthcare_api_spark.operators.assay import (
    _rewrite_doc_columns,
    check_invariants,
    derive_assays,
    group_assay_keys,
    specimen_doc_keys,
)
from healthcare_api_spark.schemas import SCHEMAS
from healthcare_api_spark.sources.ndjson import read_ndjson

SPECIMENS = [
    {"resourceType": "Specimen", "id": "s1", "subject": {"reference": "Patient/P1"}},
    {"resourceType": "Specimen", "id": "s2", "subject": {"reference": "Patient/P2"}},
    {"resourceType": "Specimen", "id": "s3", "subject": {"reference": "Patient/P3"}},
    {"resourceType": "Specimen", "id": "s9", "subject": {"reference": "Patient/P9"}},
]

GROUPS = [
    # two specimen members of different patients → last-wins P2 (assay.py:63-69)
    {"resourceType": "Group", "id": "g1", "member": [
        {"entity": {"reference": "Specimen/s1"}},
        {"entity": {"reference": "Specimen/s2"}},
        {"entity": {"reference": "Patient/P1"}},
    ]},
    # no specimen member → guard skip (assay.py:71-73)
    {"resourceType": "Group", "id": "g2", "member": [{"entity": {"reference": "Patient/P1"}}]},
    # specimen ref that resolves to no Specimen row → patient None → skip
    {"resourceType": "Group", "id": "g3", "member": [{"entity": {"reference": "Specimen/nope"}}]},
    # member entity without reference key (assay.py:64) → skip member
    {"resourceType": "Group", "id": "g4", "member": [{"entity": {}}]},
]

DOCS = [
    # bound to g1 via subject → rewritten to Patient/P2, mime from url path
    {"resourceType": "DocumentReference", "id": "d1", "version": "5",
     "subject": {"reference": "Group/g1"},
     "content": [{"attachment": {"url": "https://host/data/f.maf", "title": "t",
                                   "size": 10},
                  "profile": [{"valueCoding": {"system": "s", "code": "c"}}]}]},
    # subject is a Specimen → pass-2 singleton assay, uuid5 id; url path has
    # no extension → mime falls back to the title (assay.py:129-133)
    {"resourceType": "DocumentReference", "id": "d2", "version": "5",
     "subject": {"reference": "Specimen/s3"},
     "content": [{"attachment": {"url": "https://host/report", "title": "report.pdf",
                                   "size": 20},
                  "profile": [{"valueCoding": {"system": "s", "code": "c"}}]}]},
    # plain patient doc → untouched
    {"resourceType": "DocumentReference", "id": "d3", "version": "7",
     "subject": {"reference": "Patient/P1"},
     "content": [{"attachment": {"url": "https://host/x.bin", "title": "x",
                                   "size": 30}, "profile": None}]},
    # bound to a skipped group → untouched (stays non-Patient)
    {"resourceType": "DocumentReference", "id": "d4", "version": "1",
     "subject": {"reference": "Group/g2"},
     "content": [{"attachment": {"url": "https://host/y.csv", "title": "y",
                                   "size": 40}, "profile": None}]},
]


@pytest.fixture()
def result(spark, write_ndjson_file):
    docs = read_ndjson(spark, write_ndjson_file(DOCS, "docs.ndjson"),
                       SCHEMAS["DocumentReference"])
    groups = read_ndjson(spark, write_ndjson_file(GROUPS, "groups.ndjson"), SCHEMAS["Group"])
    specimens = read_ndjson(spark, write_ndjson_file(SPECIMENS, "spec.ndjson"),
                            SCHEMAS["Specimen"])
    return derive_assays(docs, groups, specimens)


def test_assay_rows(result):
    assays = {r["id"]: r.asDict(recursive=True) for r in result.assays.collect()}
    d2_id = str(uuid.uuid5(uuid.NAMESPACE_DNS, "d2-assay"))
    assert set(assays) == {"g1", d2_id}

    g1 = assays["g1"]
    assert g1["resourceType"] == "ServiceRequest"
    assert g1["status"] == "completed" and g1["intent"] == "order"
    # last matching specimen member wins the patient (assay.py:69)
    assert g1["subject"] == {"reference": "Patient/P2"}
    # ordered specimen refs, found or not (assay.py:67)
    assert [s["reference"] for s in g1["specimen"]] == ["Specimen/s1", "Specimen/s2"]
    assert g1["code"]["coding"][0]["code"] == "15220000"
    assert g1["category"][0]["coding"][0]["code"] == "108252007"

    p2 = assays[d2_id]  # byte-exact RFC-4122 v5 (assay.py:100)
    assert p2["subject"] == {"reference": "Patient/P3"}
    assert [s["reference"] for s in p2["specimen"]] == ["Specimen/s3"]


def test_document_rewrite(result):
    docs = {r["id"]: r.asDict(recursive=True) for r in result.documents.collect()}
    assert set(docs) == {"d1", "d2", "d3", "d4"}

    d1 = docs["d1"]
    assert d1["subject"] == {"reference": "Patient/P2"}
    assert d1["version"] is None  # dropped (assay.py:212)
    assert [r["reference"] for r in d1["context"]["related"]] == ["ServiceRequest/g1"]
    att = d1["content"][0]["attachment"]
    assert att["contentType"] == "text/tab-separated-values"  # .maf (assay.py:13)
    # profile nulled on element 0 (= absent in NDJSON output; assay.py:213)
    assert d1["content"][0]["profile"] is None

    d2_id = str(uuid.uuid5(uuid.NAMESPACE_DNS, "d2-assay"))
    d2 = docs["d2"]
    assert d2["subject"] == {"reference": "Patient/P3"}
    assert [r["reference"] for r in d2["context"]["related"]] == [f"ServiceRequest/{d2_id}"]
    # url path extension-less → title drives MIME (assay.py:129-133)
    assert d2["content"][0]["attachment"]["contentType"] == "application/pdf"

    # untouched docs keep their fields
    assert docs["d3"]["version"] == "7" and docs["d3"]["subject"]["reference"] == "Patient/P1"
    assert docs["d4"]["subject"]["reference"] == "Group/g2"
    assert docs["d3"]["content"][0]["attachment"]["contentType"] is None


def test_groups_anti_join(result):
    remaining = sorted(r["id"] for r in result.groups.collect())
    assert remaining == ["g2", "g3", "g4"]  # g1 consumed (assay.py:89)


def test_invariants(result):
    inv = check_invariants(result)
    # d4 still points at Group/g2 → 1 non-patient doc; 3 groups remain;
    # the reference's equality assertion (assay.py:105-106) would flag
    # this fixture — the DQ counts expose exactly that.
    assert inv["docs_with_non_patient_subject"] == 1
    assert inv["remaining_groups"] == 3
    assert inv["invalid_assays"] == 0


# ------------------------------------------------- one-pass binding --


def _read(spark, write_ndjson_file, docs, groups, specimens):
    return (
        read_ndjson(spark, write_ndjson_file(docs, "docs.ndjson"), SCHEMAS["DocumentReference"]),
        read_ndjson(spark, write_ndjson_file(groups, "groups.ndjson"), SCHEMAS["Group"]),
        read_ndjson(spark, write_ndjson_file(specimens, "spec.ndjson"), SCHEMAS["Specimen"]),
    )


def _scans_of(df, file_name: str) -> int:
    """File-relation leaves of ``df``'s optimized plan that read ``file_name``."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    n = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRelation":
            n += file_name in leaf.relation().location().rootPaths().toString()
    return n


def test_plan_scans_documents_once_and_runs_no_python(result):
    assert _scans_of(result.documents, "docs.ndjson") == 1
    for df in (result.documents, result.assays):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_mime_extension_derived_once(result):
    # the MIME lookup sits inside the rewrite's transform lambda, where no
    # common-subexpression elimination applies: one map lookup derives
    # the extension once per attachment, a CASE chain once per entry
    from healthcare_api_spark.functions.mime import _EXT_PATTERN

    plan = result.documents._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count(_EXT_PATTERN) == 1


def _self_join_documents(docs, groups, specimens):
    """The documents derivation as it bound specimen docs before: by
    joining the documents back to their own specimen keys on doc id."""
    gkeys = group_assay_keys(groups, specimens)
    skeys = specimen_doc_keys(docs, specimens)
    g_binding = gkeys.select(
        F.col("group_id").alias("g_key"),
        F.col("group_id").alias("g_assay_id"),
        F.col("patient_ref").alias("g_patient"),
    )
    s_binding = skeys.select(
        F.col("doc_id").alias("s_key"),
        F.col("assay_id").alias("s_assay_id"),
        F.col("patient_ref").alias("s_patient"),
    )
    docs_b = (
        docs.join(
            F.broadcast(g_binding), ref_id(F.col("subject.reference")) == F.col("g_key"), "left"
        )
        .join(F.broadcast(s_binding), F.col("id") == F.col("s_key"), "left")
        .withColumn("assay_id", F.coalesce(F.col("g_assay_id"), F.col("s_assay_id")))
        .withColumn("patient_ref", F.coalesce(F.col("g_patient"), F.col("s_patient")))
        .drop("g_key", "g_assay_id", "g_patient", "s_key", "s_assay_id", "s_patient")
    )
    return _rewrite_doc_columns(docs_b)


def _json_rows(df) -> list[str]:
    return sorted(r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect())


def _doc(doc_id, subject):
    return {"resourceType": "DocumentReference", "id": doc_id, "version": "1",
            "subject": {"reference": subject},
            "content": [{"attachment": {"url": f"https://host/{doc_id}.csv", "title": doc_id}}]}


EDGE_SPECIMENS = [
    {"resourceType": "Specimen", "id": "s1", "subject": {"reference": "Patient/P1"}},
    # duplicated Specimen id: each row binds (and duplicates) its documents
    {"resourceType": "Specimen", "id": "s2", "subject": {"reference": "Patient/P2"}},
    {"resourceType": "Specimen", "id": "s2", "subject": {"reference": "Patient/P2b"}},
    # null subject: the document binds with a null patient
    {"resourceType": "Specimen", "id": "s3"},
    {"resourceType": "Specimen", "id": "s4", "subject": {"reference": "Patient/P4"}},
    # a Specimen whose id is also an assayed group's id
    {"resourceType": "Specimen", "id": "g1", "subject": {"reference": "Patient/P9"}},
]
EDGE_GROUPS = [
    {"resourceType": "Group", "id": "g1", "member": [{"entity": {"reference": "Specimen/s1"}}]},
    {"resourceType": "Group", "id": "g2", "member": [{"entity": {"reference": "Specimen/s4"}}]},
]
EDGE_DOCS = [
    _doc("a", "Specimen/missing"),  # specimen missing → untouched
    _doc("b", "Specimen/s3"),  # null-subject specimen
    _doc("c", "Specimen/s2"),  # duplicated specimen id → two rows
    _doc("d", "Specimen/g1"),  # id after '/' is an assayed group (and a Specimen)
    _doc("e", "Specimen/g2"),  # id after '/' is an assayed group only
    _doc("f", "Group/g1"),
    _doc("h", "Patient/P1"),
    _doc("i", "Specimen/s1"),
]


def test_binding_matches_id_self_join(spark, write_ndjson_file):
    docs, groups, specimens = _read(
        spark, write_ndjson_file, EDGE_DOCS, EDGE_GROUPS, EDGE_SPECIMENS
    )
    res = derive_assays(docs, groups, specimens)
    got = _json_rows(res.documents)
    assert got == _json_rows(_self_join_documents(docs, groups, specimens))

    subjects = sorted(
        (r["id"], r["s"])
        for r in res.documents.select("id", F.col("subject.reference").alias("s")).collect()
    )
    assert subjects == [
        ("a", "Specimen/missing"), ("b", None), ("c", "Patient/P2"), ("c", "Patient/P2b"),
        ("d", "Patient/P1"), ("e", "Patient/P4"), ("f", "Patient/P1"), ("h", "Patient/P1"),
        ("i", "Patient/P1"),
    ]
    # pass-2 assays come from the Specimen match, whatever the group binding
    assay_ids = sorted(r["id"] for r in res.assays.collect())
    uid = lambda d: str(uuid.uuid5(uuid.NAMESPACE_DNS, f"{d}-assay"))  # noqa: E731
    assert assay_ids == sorted(["g1", "g2", uid("b"), uid("c"), uid("c"), uid("d"), uid("i")])


def test_duplicated_doc_ids_bind_row_locally(spark, write_ndjson_file):
    """Two document rows share an id: only the Specimen-subject row binds,
    to its own specimen. (Joining documents to their specimen keys on id
    rewrote the Patient-subject row too.)"""
    dup = [_doc("x", "Specimen/s1"), _doc("x", "Patient/P7")]
    docs, groups, specimens = _read(spark, write_ndjson_file, dup, EDGE_GROUPS, EDGE_SPECIMENS)
    res = derive_assays(docs, groups, specimens)
    rows = sorted(
        (r["s"], r["n"]) for r in res.documents.select(
            F.col("subject.reference").alias("s"), F.size(F.col("context.related")).alias("n")
        ).collect()
    )
    assert rows == [("Patient/P1", 1), ("Patient/P7", -1)]
