"""Validation as data quality (SURVEY.md §2.8, §5).

The reference pydantic-validates every row against FHIR R4B
(transform.py:132-144) with one waived error (attachment.size int64 vs
unsignedInt, transform.py:139-141). Here ``structural_checks`` covers
the Google validator error catalog transcribed at README-transform.md:9-31
(required fields, enum membership, dropped-field absence) with pure
expressions: zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

GROUP_TYPE_CODES = {"person", "animal", "practitioner", "device", "medication", "substance"}
ENCOUNTER_STATUSES = {
    "planned", "arrived", "triaged", "in-progress", "onleave", "finished", "cancelled",
    "entered-in-error", "unknown",
}
RESEARCH_SUBJECT_STATUSES = {
    "candidate", "eligible", "follow-up", "ineligible", "not-registered", "off-study",
    "on-study", "on-study-intervention", "on-study-observation", "pending-on-study",
    "potential-candidate", "screening", "withdrawn",
}


def _checks_for(resource_type: str, df: DataFrame) -> list[tuple[str, Column]]:
    """(check_name, passes?) pairs per the README-transform.md:9-31
    catalog. A check on an absent column passes vacuously."""
    cols = set(df.columns)
    checks: list[tuple[str, Column]] = [("id_present", F.col("id").isNotNull())]
    if resource_type == "Group":
        if "type" in cols:
            checks.append(("group_type_code", F.col("type").isin(*GROUP_TYPE_CODES)))
        if "membership" in cols:
            checks.append(("membership_dropped", F.col("membership").isNull()))
        if "actual" in cols:
            checks.append(("actual_required", F.col("actual").isNotNull()))
    elif resource_type == "Encounter":
        if "status" in cols:
            checks.append(("encounter_status", F.col("status").isin(*ENCOUNTER_STATUSES)))
        if "class" in cols:
            checks.append(("class_required", F.col("class").isNotNull()))
    elif resource_type == "DocumentReference":
        if "version" in cols:
            checks.append(("version_dropped", F.col("version").isNull()))
        if "content" in cols:
            checks.append(
                (
                    "no_profile_field",
                    F.col("content").isNull()
                    | ~F.exists(F.col("content"), lambda c: c["profile"].isNotNull())
                    if "profile" in _nested_fields(df, "content")
                    else F.lit(True),
                )
            )
    elif resource_type == "ResearchSubject":
        if "status" in cols:
            checks.append(("rs_status", F.col("status").isin(*RESEARCH_SUBJECT_STATUSES)))
        checks.append(("individual_present", F.lit("individual" in cols)))
    elif resource_type == "MedicationAdministration":
        if {"medicationCodeableConcept", "medicationReference"} <= cols:
            checks.append(
                (
                    "choice_exactly_one",
                    F.col("medicationCodeableConcept").isNotNull()
                    != F.col("medicationReference").isNotNull(),
                )
            )
    return checks


def _nested_fields(df: DataFrame, array_col: str) -> set[str]:
    dt = df.schema[array_col].dataType
    if isinstance(dt, ArrayType) and isinstance(dt.elementType, StructType):
        return {f.name for f in dt.elementType.fields}
    return set()


def structural_checks(df: DataFrame, resource_type: str) -> DataFrame:
    """Annotate each row with (valid boolean, errors array<string>).

    The Spark-native analogue of validate_r4_resource: declarative,
    codegen'd, no Python. Invalid rows are flagged, not dropped —
    filter/quarantine is the caller's policy (the reference logs and
    optionally aborts, transform.py:161-164).
    """
    checks = _checks_for(resource_type, df)
    err_arr = F.array_compact(
        F.array(
            *[F.when(~passes, F.lit(name)).otherwise(F.lit(None)) for name, passes in checks]
        )
    )
    return df.withColumn("errors", err_arr).withColumn("valid", F.size("errors") == 0)
