"""Golden tests for the R5→R4B per-type transforms.

Each case encodes the observable behavior of the reference transformer
(scripts/transform.py) on a representative input from FIXTURES.md,
including the known quirks (Encounter's buggy reason pop, the choice
type, nested renames)."""

from __future__ import annotations

import pytest

from healthcare_api_spark.operators import transforms
from healthcare_api_spark.schemas import SCHEMAS
from healthcare_api_spark.sources.ndjson import read_ndjson


def _rows(spark, write, rtype, data):
    path = write(data, f"{rtype}.ndjson")
    df = read_ndjson(spark, path, SCHEMAS[rtype])
    out = transforms.dispatch_transformation(df, rtype)
    return {r["id"]: r.asDict(recursive=True) for r in out.collect()}, out


def test_document_reference(spark, write_ndjson_file):
    data = [
        {
            "resourceType": "DocumentReference", "id": "d1", "version": "5",
            "subject": {"reference": "Group/g1"},
            "content": [{
                "attachment": {"url": "https://x/f.maf", "title": "t", "size": 5_000_000_000},
                "profile": [{"valueCoding": {"system": "s", "code": "c"}}],
            }],
        },
        # Specimen subject → dropped (transform.py:25-27)
        {"resourceType": "DocumentReference", "id": "d2", "version": "5",
         "subject": {"reference": "Specimen/s1"}},
    ]
    rows, out = _rows(spark, write_ndjson_file, "DocumentReference", data)
    assert set(rows) == {"d1"}
    assert "version" not in out.columns  # P1
    c0 = rows["d1"]["content"][0]
    assert c0["format"] == {"system": "s", "code": "c", "display": None}  # P9
    assert "profile" not in c0
    assert c0["attachment"]["size"] == 5_000_000_000  # int64 tolerated


def test_encounter_class_and_buggy_reason(spark, write_ndjson_file):
    data = [
        {"resourceType": "Encounter", "id": "e1", "status": "in-progress",
         "reason": [{"reference": "Condition/c1"}],
         "class": {"coding": [{"system": "s", "code": "AMB", "display": "ambulatory"}]}},
        {"resourceType": "Encounter", "id": "e2", "status": "planned"},
    ]
    rows, _ = _rows(spark, write_ndjson_file, "Encounter", data)
    # class := coding[0]; absent → NONAC default (transform.py:42-45)
    assert rows["e1"]["class"] == {"code": "AMB", "display": "ambulatory"}
    assert rows["e2"]["class"] == {"code": "NONAC", "display": "inpatient non-acute"}
    assert all(r["status"] == "finished" for r in rows.values())
    # the reference pops 'reference' (typo), NOT 'reason': reason survives,
    # reasonReference becomes [] only where reason existed
    assert rows["e1"]["reason"] is not None
    assert rows["e1"]["reasonReference"] == []
    assert rows["e2"]["reasonReference"] is None


def test_group(spark, write_ndjson_file):
    data = [{"resourceType": "Group", "id": "g1", "membership": "definitional",
             "type": "specimen", "member": [{"entity": {"reference": "Specimen/s1"}}]}]
    rows, out = _rows(spark, write_ndjson_file, "Group", data)
    assert "membership" not in out.columns  # P2
    assert rows["g1"]["type"] == "person" and rows["g1"]["actual"] is True  # P14


def test_imaging_study(spark, write_ndjson_file):
    data = [{
        "resourceType": "ImagingStudy", "id": "i1",
        "basedOn": [{"reference": "ServiceRequest/sr1"}],
        "series": [{"modality": {"coding": [
            {"system": "http://dicom x/modality", "code": "CT", "display": "ct"}]}}],
    }]
    rows, out = _rows(spark, write_ndjson_file, "ImagingStudy", data)
    assert "basedOn" not in out.columns and "procedureReference" in out.columns  # P7
    mod = rows["i1"]["series"][0]["modality"]
    assert mod["system"] == "http://dicomx/modality"  # F1 space strip
    assert mod["code"] == "CT"


def test_imaging_study_missing_modality_stays_absent(spark, write_ndjson_file):
    data = [{"resourceType": "ImagingStudy", "id": "i2", "series": [{}]}]
    rows, _ = _rows(spark, write_ndjson_file, "ImagingStudy", data)
    # reference guards `if "modality" in series` — absent stays absent
    assert rows["i2"]["series"][0]["modality"] is None


def test_medication_administration_choice(spark, write_ndjson_file):
    data = [
        {"resourceType": "MedicationAdministration", "id": "m1",
         "medication": {"concept": {"coding": [{"system": "http://sno'med", "code": "X",
                                                 "display": None}]}},
         "occurenceDateTime": "2024-01-01T00:00:00Z",
         "category": [{"coding": [{"system": "cat", "code": "c", "display": None}]}]},
        {"resourceType": "MedicationAdministration", "id": "m2",
         "medication": {"reference": {"reference": "Medication/med2"}},
         "occurenceDateTime": "2024-01-02T00:00:00Z"},
    ]
    rows, out = _rows(spark, write_ndjson_file, "MedicationAdministration", data)
    # P12 choice type: exactly one variant set
    assert rows["m1"]["medicationCodeableConcept"] is not None
    assert rows["m1"]["medicationReference"] is None
    assert rows["m2"]["medicationReference"] == {"reference": "Medication/med2"}
    assert rows["m2"]["medicationCodeableConcept"] is None
    # P11 rename + F2 quote strip + P13 head
    assert "occurenceDateTime" not in out.columns and "effectiveDateTime" in out.columns
    assert rows["m1"]["medicationCodeableConcept"]["coding"][0]["system"] == "http://snomed"
    assert rows["m1"]["category"]["coding"][0]["code"] == "c"


def test_research_subject_and_study(spark, write_ndjson_file):
    rows, out = _rows(spark, write_ndjson_file, "ResearchSubject",
                      [{"resourceType": "ResearchSubject", "id": "r1",
                        "subject": {"reference": "Patient/p1"}, "status": "active"}])
    assert "subject" not in out.columns and rows["r1"]["individual"] == {"reference": "Patient/p1"}
    assert rows["r1"]["status"] == "on-study"

    rows, out = _rows(spark, write_ndjson_file, "ResearchStudy",
                      [{"resourceType": "ResearchStudy", "id": "s1", "name": "n", "title": "t"}])
    assert "name" not in out.columns and rows["s1"]["title"] == "t"


def test_specimen(spark, write_ndjson_file):
    data = [{
        "resourceType": "Specimen", "id": "sp1",
        "subject": {"reference": "Patient/p1"},
        "processing": [{"method": {"coding": [{"system": "s", "code": "m", "display": None}]}}],
        "collection": {"procedure": {"reference": "Procedure/pr1"},
                        "collectedDateTime": "2024-01-01"},
    }]
    rows, _ = _rows(spark, write_ndjson_file, "Specimen", data)
    proc = rows["sp1"]["processing"][0]
    assert proc["procedure"]["coding"][0]["code"] == "m" and "method" not in proc  # P10
    assert "procedure" not in rows["sp1"]["collection"]  # P4
    assert rows["sp1"]["collection"]["collectedDateTime"] == "2024-01-01"


def test_body_structure(spark, write_ndjson_file):
    data = [{"resourceType": "BodyStructure", "id": "b1",
             "includedStructure": [{"structure": {"reference": "BodyStructure/x"}}]}]
    rows, out = _rows(spark, write_ndjson_file, "BodyStructure", data)
    assert rows["b1"]["location"] == {"reference": "BodyStructure/x"}  # P6
    assert "includedStructure" not in out.columns


def test_dispatch_unknown_type_raises(spark):
    df = spark.range(1)
    with pytest.raises(ValueError, match="Unsupported resourceType"):
        transforms.dispatch_transformation(df, "Observation")


def test_mime_strips_compression_encoding_suffix(spark):
    # ADVICE r1: mimetypes.guess_type('x.vcf.gz') strips the .gz encoding
    # and types the underlying extension; a bare .gz has no type →
    # octet-stream fallback (reference assay.py:131-136).
    from pyspark.sql import functions as F

    from healthcare_api_spark.functions.mime import mime_from_name

    df = spark.createDataFrame(
        [("a.vcf.gz",), ("b.maf.GZ",), ("c.tsv.bz2",), ("d.gz",), ("e.vcf",),
         ("",), (None,), ("F.PDF",)],
        "name string",
    ).select("name", mime_from_name(F.col("name")).alias("mime"))
    got = {r["name"]: r["mime"] for r in df.collect()}
    assert got["a.vcf.gz"] == "text/tab-separated-values"
    assert got["b.maf.GZ"] == "text/tab-separated-values"
    assert got["c.tsv.bz2"] == "text/tab-separated-values"
    assert got["d.gz"] == "application/octet-stream"
    assert got["e.vcf"] == "text/tab-separated-values"
    assert got[""] == "application/octet-stream"
    assert got[None] == "application/octet-stream"
    assert got["F.PDF"] == "application/pdf"
