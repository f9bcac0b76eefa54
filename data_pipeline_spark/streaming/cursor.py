"""The changelog-consumer protocol: every in-engine consumer reads another
table's changes between two COMMITTED snapshots of its published parent
chain (Iceberg's incremental scan), never by listing files:

    tail_changes(cursor) → apply(batch_id, changes, from_id) → commit_cursor

The cursor commits only after the apply, so a crash in between re-reads
the window: an exact redelivery (batch_id = the window's head snapshot id)
is skipped by the sink's batch_id check, a widened one re-applies old rows
as LWW no-ops. A window the cursor can't cover (expired retention, an
upstream `rollback_to` or `overwrite` of a non-empty table, a format
`upgrade`) raises `CursorExpiredError`.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_spark.plans.table_format import LakehouseTable


def poll_window(
    spark: SparkSession,
    upstream: LakehouseTable,
    cursor_path: str,
    apply: Callable[[int, DataFrame, int], dict],
) -> dict:
    """One poll: `apply(batch_id, changes, from_id)` the window (from_id,
    batch_id] since the cursor, then commit the cursor. Returns
    {"applied": False, "cursor"} when there is nothing new, else
    {"applied": True, "batch_id", "cursor", "result": <apply's return>}."""
    chg, cursor = upstream.tail_changes(spark, cursor_path)
    if chg is None:
        return {"applied": False, "cursor": cursor}
    batch_id = cursor["snapshot_id"]
    res = apply(batch_id, chg, cursor["from_snapshot_id"])
    LakehouseTable.commit_cursor(cursor_path, cursor)
    return {"applied": True, "batch_id": batch_id, "cursor": cursor, "result": res}


def run_until_caught_up(poll: Callable[[], bool], max_polls: int, what: str) -> int:
    """Call `poll` (True = it applied a window) until it finds nothing new;
    returns the number of windows applied. Raises if still behind after
    max_polls — a silent partial catch-up must not read as success."""
    for n in range(max_polls):
        if not poll():
            return n
    raise RuntimeError(
        f"{what} still behind after {max_polls} windows — raise max_polls "
        "or keep polling"
    )


def lsn_lag(upstream: LakehouseTable, downstream: LakehouseTable) -> dict:
    """Consumer lag in LSNs (reference analog: the audit table's
    source-vs-target recovery points), from snapshot metadata only:
    lag_lsns == 0 means caught up to every committed upstream batch."""
    up = upstream.current_snapshot().get("watermark_lsn") or 0
    down = downstream.current_snapshot().get("watermark_lsn") or 0
    return {"upstream_lsn": up, "downstream_lsn": down, "lag_lsns": up - down}
