"""The Assay derivation (SURVEY.md §3.2; reference scripts/assay.py).

The reference materializes three NDJSON tables in one Python heap and
mutates the DocumentReference rows inside the join loop
(assay.py:35-120, 195-225). Here the same observable outputs are pure
derivations:

    pass 1  groups ⋈ specimens ⋈ docs  → group-based assays (J2/J3/J5)
    pass 2  docs(subject=Specimen) ⋈ specimens → singleton assays (J1)
    docs'   docs left-joined to their assay → rewritten table (never
            mutated in place)
    groups' groups anti-joined to assayed ids (J4)

Scale notes: Specimen and Group are dimension-sized (17k / 16 rows at
reference scale). The group keys (≤ one row per group) are built once
and shared by all three outputs; Specimen (id, patient) and the group
keys are the only broadcast sides. Each output scans DocumentReference
at most once: a document binds to its specimen assay row-locally, by
probing the broadcast Specimen with its own subject reference, never by
joining the document table back to itself on id. The only shuffle is
the per-group aggregation, bounded by group count. The reference's
last-wins patient pick (assay.py:63-69, nondeterministic under
parallelism) is pinned with max_by(pos).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from healthcare_api_spark.functions.ids import uuid5_dns
from healthcare_api_spark.functions.mime import mime_from_name
from healthcare_api_spark.functions.refs import is_ref_to, ref_id


@dataclass
class AssayResult:
    assays: DataFrame
    documents: DataFrame
    groups: DataFrame


def _assay_struct(assay_id: Column, patient_ref: Column, specimen_refs: Column) -> Column:
    """The ServiceRequest literal (assay.py:156-191, F11)."""
    coding = lambda code, display: F.array(
        F.struct(
            F.lit("http://snomed.info/sct").alias("system"),
            F.lit(code).alias("code"),
            F.lit(display).alias("display"),
        )
    )
    return F.struct(
        F.lit("ServiceRequest").alias("resourceType"),
        assay_id.alias("id"),
        F.lit("completed").alias("status"),
        F.lit("order").alias("intent"),
        F.array(F.struct(coding("108252007", "Laboratory procedure").alias("coding"))).alias(
            "category"
        ),
        F.struct(coding("15220000", "Laboratory test").alias("coding")).alias("code"),
        F.struct(patient_ref.alias("reference")).alias("subject"),
        F.struct(
            F.lit("generated").alias("status"),
            F.lit(
                '<div xmlns="http://www.w3.org/1999/xhtml">Autogenerated Assay. '
                "Packages references to Subject, Specimen and DocumentReference<div>"
            ).alias("div"),
        ).alias("text"),
        F.transform(specimen_refs, lambda r: F.struct(r.alias("reference"))).alias("specimen"),
    )


def _specimen_patients(specimens: DataFrame) -> DataFrame:
    return specimens.select(
        F.col("id").alias("spec_id"), F.col("subject.reference").alias("spec_patient")
    )


def group_assay_keys(groups: DataFrame, specimens: DataFrame) -> DataFrame:
    """Pass-1 key derivation (assay.py:58-75).

    For each group: explode members in order (J3), keep Specimen refs
    (P17), probe Specimen (J1, broadcast) for the patient; the *last*
    member whose specimen exists wins the patient (assay.py:69 —
    pinned deterministically with max_by over member position); guard-drop
    groups with no patient or no specimen refs (P16).

    Returns (group_id, patient_ref, specimen_refs).
    """
    members = groups.select(
        F.col("id").alias("group_id"),
        F.posexplode("member").alias("pos", "m"),
    ).filter(is_ref_to(F.col("m.entity.reference"), "Specimen"))

    probed = members.join(
        F.broadcast(_specimen_patients(specimens)),
        ref_id(F.col("m.entity.reference")) == F.col("spec_id"),
        "left",
    )
    agg = probed.groupBy("group_id").agg(
        # ordered refs: every Specimen member ref, found or not (assay.py:67)
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", F.col("m.entity.reference").alias("r")))),
            lambda s: s["r"],
        ).alias("specimen_refs"),
        # last matching member's patient (assay.py:68-69)
        F.max_by("spec_patient", F.when(F.col("spec_patient").isNotNull(), F.col("pos"))).alias(
            "patient_ref"
        ),
    )
    return agg.filter(F.col("patient_ref").isNotNull() & (F.size("specimen_refs") > 0))


def _bind_specimens(docs: DataFrame, specimens: DataFrame) -> DataFrame:
    """``docs`` plus (spec_id, spec_patient) of the Specimen each
    document's subject names (assay.py:92-96); both null when the
    subject is no Specimen ref or names no Specimen row. Row-local: a
    left join against the broadcast Specimen, one output row per
    matching Specimen row."""
    subject = F.col("subject.reference")
    return docs.join(
        F.broadcast(_specimen_patients(specimens)),
        is_ref_to(subject, "Specimen") & (ref_id(subject) == F.col("spec_id")),
        "left",
    )


def _specimen_assay_id() -> Column:
    """The pass-2 assay id of a document row (assay.py:100)."""
    return uuid5_dns(F.concat(F.col("id"), F.lit("-assay")))


def specimen_doc_keys(docs: DataFrame, specimens: DataFrame) -> DataFrame:
    """Pass-2 key derivation (assay.py:92-103): docs whose subject is a
    Specimen get a singleton assay with deterministic uuid5 id.

    Returns (doc_id, assay_id, patient_ref, specimen_refs).
    """
    return (
        _bind_specimens(docs, specimens)
        .filter(F.col("spec_id").isNotNull())
        .select(
            F.col("id").alias("doc_id"),
            _specimen_assay_id().alias("assay_id"),
            F.col("spec_patient").alias("patient_ref"),
            F.array(F.col("subject.reference")).alias("specimen_refs"),
        )
    )


def _mime_for_attachment(att: Column) -> Column:
    """update_mime_type (assay.py:123-140): file name = url path when it
    has an extension, else the title; then the shared extension→MIME
    lookup (functions.mime.mime_from_name). Pure map-lookup expression."""
    path = F.parse_url(att["url"], F.lit("PATH"))
    file_name = F.when(
        att["url"].isNotNull() & path.contains("."), path
    ).otherwise(att["title"])
    return mime_from_name(file_name)


def _rewrite_doc_columns(joined: DataFrame) -> DataFrame:
    """The R4 branch of create_assay_refactor_docs (assay.py:195-225) as a
    derivation: subject := patient, context.related += ServiceRequest ref,
    drop version, drop content[0].profile, fix content[0] MIME.

    ``joined`` must carry the doc columns plus (assay_id, patient_ref);
    docs with a null assay_id pass through untouched (the reference only
    rewrites docs bound to an assay).
    """
    bound = F.col("assay_id").isNotNull()
    sr_ref = F.concat(F.lit("ServiceRequest/"), F.col("assay_id"))
    out = (
        joined.withColumn(
            "subject",
            F.when(bound, F.struct(F.col("patient_ref").alias("reference"))).otherwise(
                F.col("subject")
            ),
        )
        .withColumn(
            "context",
            F.when(
                bound,
                F.struct(
                    F.concat(
                        F.coalesce(F.col("context.related"), F.array().cast("array<struct<reference:string>>")),
                        F.array(F.struct(sr_ref.alias("reference"))),
                    ).alias("related")
                ),
            ).otherwise(F.col("context")),
        )
        .withColumn(
            "version", F.when(bound, F.lit(None).cast("string")).otherwise(F.col("version"))
        )
        .withColumn(
            "content",
            F.when(
                bound,
                F.transform(
                    F.col("content"),
                    # profile := typed NULL (serializes as absent under
                    # ignoreNullFields) — dropFields would give element 0
                    # a different struct type than the rest of the array
                    lambda c, i: F.when(
                        i == 0,
                        c.withField("profile", F.when(F.lit(False), c["profile"])).withField(
                            "attachment",
                            c["attachment"].withField(
                                "contentType", _mime_for_attachment(c["attachment"])
                            ),
                        ),
                    ).otherwise(c),
                ),
            ).otherwise(F.col("content")),
        )
    )
    return out.drop("assay_id", "patient_ref")


def derive_assays(docs: DataFrame, groups: DataFrame, specimens: DataFrame) -> AssayResult:
    """Full derivation (assay.py:33-120) with reference-equivalent outputs:

    - ``assays``: ServiceRequest rows (pass 1 ∪ pass 2)
    - ``documents``: all docs, those bound to an assay rewritten
    - ``groups``: input groups minus assayed ones (J4 anti-join)
    """
    # dimension-sized and read by all three outputs: computed once
    gkeys = group_assay_keys(groups, specimens).localCheckpoint(eager=True)
    skeys = specimen_doc_keys(docs, specimens)  # (doc_id, assay_id, patient_ref, specimen_refs)

    pass1 = gkeys.select(
        _assay_struct(F.col("group_id"), F.col("patient_ref"), F.col("specimen_refs")).alias("a")
    )
    pass2 = skeys.select(
        _assay_struct(F.col("assay_id"), F.col("patient_ref"), F.col("specimen_refs")).alias("a")
    )
    assays = pass1.unionByName(pass2).select("a.*")

    # Doc → its assay binding: group-docs via subject ref id (assay.py:47,80),
    # specimen-docs via their own subject's Specimen row. DELIBERATELY
    # type-blind on the group side: the reference buckets ALL docs by the
    # bare id after '/' — `doc['subject']['reference'].split('/')[1]`
    # (assay.py:47-50) — so a doc whose subject id collides with an
    # assayed group id is rewritten there too; reproduced bug-for-bug.
    # Coalesce prefers the group binding like the reference (group pass
    # rewrites first).
    g_binding = gkeys.select(
        F.col("group_id").alias("g_key"),
        F.col("group_id").alias("g_assay_id"),
        F.col("patient_ref").alias("g_patient"),
    )
    docs_b = (
        _bind_specimens(docs, specimens)
        .join(
            F.broadcast(g_binding),
            ref_id(F.col("subject.reference")) == F.col("g_key"),
            "left",
        )
        .withColumn(
            "assay_id",
            F.coalesce(
                F.col("g_assay_id"),
                F.when(F.col("spec_id").isNotNull(), _specimen_assay_id()),
            ),
        )
        .withColumn("patient_ref", F.coalesce(F.col("g_patient"), F.col("spec_patient")))
        .drop("g_key", "g_assay_id", "g_patient", "spec_id", "spec_patient")
    )
    documents = _rewrite_doc_columns(docs_b)

    remaining_groups = groups.join(
        gkeys.select(F.col("group_id").alias("id")), "id", "left_anti"
    )
    return AssayResult(assays=assays, documents=documents, groups=remaining_groups)


def check_invariants(result: AssayResult) -> dict[str, int]:
    """The reference's runtime assertions (assay.py:98,102,105-106) as DQ
    counts (SURVEY.md §5.3). All three should be zero / equal."""
    non_patient_docs = result.documents.filter(
        ~F.col("subject.reference").startswith("Patient/")
    ).count()
    remaining_groups = result.groups.count()
    bad_assays = result.assays.filter(
        ~F.col("subject.reference").startswith("Patient/") | (F.size("specimen") == 0)
    ).count()
    return {
        "docs_with_non_patient_subject": non_patient_docs,
        "remaining_groups": remaining_groups,
        "invalid_assays": bad_assays,
    }
