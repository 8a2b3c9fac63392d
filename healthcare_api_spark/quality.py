"""Data-quality gates via ``observe()`` (SURVEY.md §5).

The reference enforces correctness with inline runtime assertions
(assay.py:98,102,105-106). Spark-native equivalent: ``Observation``
metrics accumulated during the action itself — the invariants come back
with the job, with **zero extra scans** (a separate .count() per check
would re-read the data; at 100 TB that's the difference between one pass
and four).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed(df: DataFrame, name: str, metrics: dict[str, Column]) -> tuple[DataFrame, Observation]:
    """Attach named metric expressions; read ``obs.get`` after an action."""
    obs = Observation(name)
    aliased = [c.alias(n) for n, c in metrics.items()]
    return df.observe(obs, *aliased), obs


def observe_assay_documents(documents: DataFrame) -> tuple[DataFrame, Observation]:
    """The reference's post-rewrite assertions (assay.py:102,105) as
    one-pass metrics on the rewritten DocumentReference table."""
    return observed(
        documents,
        "assay_documents",
        {
            "n_docs": F.count(F.lit(1)),
            "n_non_patient_subject": F.sum(
                (~F.col("subject.reference").startswith("Patient/")).cast("long")
            ),
            "n_specimen_subject": F.sum(
                F.col("subject.reference").startswith("Specimen/").cast("long")
            ),
        },
    )
