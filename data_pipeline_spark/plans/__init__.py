"""Lakehouse table format (v2): MOR snapshots, schema evolution, commit log."""

from data_pipeline_spark.plans.table_format import (  # noqa: F401
    CommitConflictError,
    CursorExpiredError,
    LakehouseTable,
    with_commit_retry,
)
