"""Session defaults that change how PySpark itself behaves."""

from __future__ import annotations

import pyspark.errors.utils as errors_utils

from healthcare_api_spark import get_spark


def test_get_spark_turns_off_call_site_capture(spark):
    """With DataFrame debugging on, every Column call records its Python
    call site over several py4j round trips. PySpark caches the flag per
    process, so reset the cache to see what get_spark's session says."""
    errors_utils._enable_debugging_cache = None
    # the arguments of the shared session, so no conf of it changes
    get_spark("tests", master="local[4]", shuffle_partitions=4)
    assert errors_utils.is_debugging_enabled() is False
