"""The changelog-consumer protocol: every in-engine consumer reads another
table's changes between two COMMITTED snapshots of its published parent
chain (Iceberg's incremental scan), never by listing files:

    tail_window(cursor) → apply(window) → commit_cursor

`tail_window` plans the window from snapshot metadata and pins it in an
intent file before returning; the cursor commits only after the apply and
then drops the intent. A crash in between hands the consumer the SAME
window again, however far the table has moved since, so redelivery is
exact: a table sink skips it by batch_id (the window's head snapshot id),
a file sink finds its own output and finishes or keeps it. A window the
cursor can't cover (expired retention, an upstream `rollback_to` or
`overwrite` of a non-empty table, a format `upgrade`) raises
`CursorExpiredError`.
"""

from __future__ import annotations

from typing import Callable

from data_pipeline_spark.plans.table_format import ChangeWindow, LakehouseTable


def poll_window(
    upstream: LakehouseTable,
    cursor_path: str,
    apply: Callable[[ChangeWindow], dict],
) -> dict:
    """One poll: `apply(window)` the pinned window (window.from_id,
    window.to_id] since the cursor, then commit the cursor. Returns
    {"applied": False, "cursor"} when there is nothing new, else
    {"applied": True, "batch_id": window.to_id, "cursor", "result":
    <apply's return>}."""
    w = upstream.tail_window(cursor_path)
    if w.from_id == w.to_id:
        return {"applied": False, "cursor": w.cursor}
    res = apply(w)
    LakehouseTable.commit_cursor(cursor_path, w.cursor)
    return {"applied": True, "batch_id": w.to_id, "cursor": w.cursor, "result": res}


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
