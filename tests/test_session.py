"""Session factory settings that are fixed rather than tuned."""

from __future__ import annotations

from pyspark.errors.utils import is_debugging_enabled


def test_dataframe_call_site_capture_is_off(spark):
    """Spark 4 records each DataFrame/Column call's Python origin by
    default, at several py4j round trips per call; `get_spark` turns it
    off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
