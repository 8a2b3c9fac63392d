"""Structural validation tests (README-transform.md:9-31 catalog)."""

from __future__ import annotations

from healthcare_api_spark.operators import transforms
from healthcare_api_spark.schemas import SCHEMAS
from healthcare_api_spark.sources.ndjson import read_ndjson
from healthcare_api_spark.validate import structural_checks


def test_group_type_code_enforced(spark, write_ndjson_file):
    path = write_ndjson_file(
        [
            {"resourceType": "Group", "id": "g1", "type": "specimen", "membership": "x"},
            {"resourceType": "Group", "id": "g2", "type": "person", "actual": True},
        ],
        "groups.ndjson",
    )
    df = read_ndjson(spark, path, SCHEMAS["Group"])
    checked = {r["id"]: r for r in structural_checks(df, "Group").collect()}
    # raw R5 input: g1 violates the GroupTypeCode catalog entry + has membership
    assert not checked["g1"]["valid"]
    assert set(checked["g1"]["errors"]) >= {"group_type_code", "membership_dropped"}
    # g2 is missing 'actual'? no — provided, and type is valid
    assert checked["g2"]["valid"]

    # after the R5→R4 transform the whole frame validates (the pipeline's
    # validate-after-transform contract, transform.py:161-162)
    fixed = structural_checks(transforms.transform_group(df), "Group")
    assert fixed.filter(~fixed["valid"]).count() == 0


def test_encounter_status_and_class(spark, write_ndjson_file):
    path = write_ndjson_file(
        [{"resourceType": "Encounter", "id": "e1", "status": "r5-new-status"}],
        "enc.ndjson",
    )
    df = read_ndjson(spark, path, SCHEMAS["Encounter"])
    checked = structural_checks(df, "Encounter").collect()[0]
    assert not checked["valid"] and "encounter_status" in checked["errors"]

    fixed = structural_checks(transforms.transform_encounter(df), "Encounter").collect()[0]
    assert fixed["valid"]


def test_research_subject_status(spark, write_ndjson_file):
    path = write_ndjson_file(
        [{"resourceType": "ResearchSubject", "id": "r1",
          "subject": {"reference": "Patient/p1"}, "status": "active"}],
        "rs.ndjson",
    )
    df = read_ndjson(spark, path, SCHEMAS["ResearchSubject"])
    assert not structural_checks(df, "ResearchSubject").collect()[0]["valid"]
    fixed = transforms.transform_research_subject(df)
    assert structural_checks(fixed, "ResearchSubject").collect()[0]["valid"]
