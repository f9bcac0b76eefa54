"""Regression tests for the round-1 review findings (ADVICE.md):

1. field-id allocation is monotonic (Iceberg last-column-id) — dropping the
   HIGHEST-id column and adding a new one must not reuse the dropped id, or
   the dropped column's stored values resurface under the new name.
2. _commit's orphan reclaim cannot steal a LIVE competitor's in-flight
   snapshot: fresh unreachable files are a conflict, only stale ones reclaim.
3. tail_changes surfaces cursor expiry (CursorExpiredError / explicit reset)
   instead of silently skipping GC'd changes.
4. reprocess_quarantine is scoped to pending batch dirs, retires them after
   the merge commits, and no-ops on an empty quarantine.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
from pyspark.sql import functions as F
import pytest

from data_pipeline_spark.plans.table_format import (
    CommitConflictError,
    CursorExpiredError,
    LakehouseTable,
)
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.streaming.ingest import IngestJob

from conftest import UPGRADE_ERROR


def _mk_table(tmp_path, name="t", **kw):
    tbl = LakehouseTable(str(tmp_path / name))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4, **kw)
    return tbl


# ------------------------------------------------------- 1. field-id reuse
def test_drop_max_id_column_then_add_gets_fresh_field_id(spark, tmp_path):
    """ADVICE #1 (high): drop 'tokens' (added last → highest field id), then
    add 'cost'. 'cost' must get a NEW field id, so old files' stored tokens
    values must NOT resurface as cost."""
    tbl = _mk_table(tmp_path)
    tbl.apply_ddl([{"action": "add_column", "name": "tokens", "type": "int"}])
    tokens_id = max(f["id"] for f in tbl._load_schema(tbl.current_snapshot()["schema_id"])["fields"])
    df = spark.createDataFrame(
        [("c1", 0, "user", "hello", None, None, 777)],
        schema=tbl.schema_struct(),
    )
    tbl.overwrite(spark, df)  # file stores tokens=777 under field id `tokens_id`
    tbl.apply_ddl([{"action": "drop_column", "name": "tokens"}])
    tbl.apply_ddl([{"action": "add_column", "name": "cost", "type": "int"}])
    cost_field = [
        f for f in tbl._load_schema(tbl.current_snapshot()["schema_id"])["fields"]
        if f["name"] == "cost"
    ][0]
    assert cost_field["id"] > tokens_id  # fresh id, not a reuse
    out = tbl.read(spark).toPandas()
    assert pd.isna(out.loc[0, "cost"])  # 777 must NOT leak through


def test_last_column_id_survives_multiple_drop_add_cycles(spark, tmp_path):
    tbl = _mk_table(tmp_path)
    seen_ids = set()
    for i in range(3):
        tbl.apply_ddl([{"action": "add_column", "name": f"extra{i}", "type": "int"}])
        f = [
            x for x in tbl._load_schema(tbl.current_snapshot()["schema_id"])["fields"]
            if x["name"] == f"extra{i}"
        ][0]
        assert f["id"] not in seen_ids
        seen_ids.add(f["id"])
        tbl.apply_ddl([{"action": "drop_column", "name": f"extra{i}"}])


def test_last_column_id_backfill_for_legacy_schema(tmp_path):
    """Schemas written before last_column_id existed: DDL is refused by the
    format gate, and upgrade backfills the counter from the max id over
    every historical schema file."""
    tbl = _mk_table(tmp_path)
    # simulate a legacy table: no last_column_id, no format_version
    for name, key in (("schema-0.json", "last_column_id"),
                      ("snapshot-00000000.json", "format_version")):
        doc = tbl._read_json(name)
        del doc[key]
        with open(os.path.join(tbl.meta_dir, name), "w") as f:
            json.dump(doc, f)
    with pytest.raises(ValueError, match=UPGRADE_ERROR):
        tbl.apply_ddl([{"action": "add_column", "name": "x", "type": "int"}])
    tbl.upgrade()
    assert tbl._load_schema(0)["last_column_id"] == len(TRANSCRIPT_SCHEMA.fields)


# --------------------------------------------------- 2. commit CAS liveness
def test_fresh_inflight_snapshot_is_conflict_not_reclaimed(spark, tmp_path):
    """A snapshot file at our target id that is unreachable (hint below) but
    FRESH means a live competitor is mid-commit — must conflict, not steal."""
    tbl = _mk_table(tmp_path)
    snap = tbl.current_snapshot()
    # competitor linked snapshot-1 but has not swung the hint yet
    competitor = dict(snap, snapshot_id=1, parent=0, kind="merge")
    with open(os.path.join(tbl.meta_dir, "snapshot-00000001.json"), "w") as f:
        json.dump(competitor, f)
    with pytest.raises(CommitConflictError, match="in flight"):
        tbl._commit(dict(snap, snapshot_id=1, parent=0, kind="merge"))
    # the competitor's file is untouched
    with open(os.path.join(tbl.meta_dir, "snapshot-00000001.json")) as f:
        assert json.load(f)["kind"] == "merge"


def test_stale_orphan_is_reclaimed(spark, tmp_path):
    """An unreachable snapshot file older than the liveness window is a
    crash orphan (writer died between link and hint swing): reclaimed."""
    tbl = _mk_table(tmp_path)
    snap = tbl.current_snapshot()
    orphan_path = os.path.join(tbl.meta_dir, "snapshot-00000001.json")
    with open(orphan_path, "w") as f:
        json.dump(dict(snap, snapshot_id=1, kind="orphan"), f)
    old = time.time() - 3600
    os.utime(orphan_path, (old, old))
    tbl._commit(dict(snap, snapshot_id=1, parent=0, kind="merge"))
    assert tbl.current_snapshot()["kind"] == "merge"


def test_committed_snapshot_still_conflicts(spark, tmp_path):
    """Hint at/above the target id → plain conflict (unchanged behavior)."""
    tbl = _mk_table(tmp_path)
    snap = tbl.current_snapshot()
    tbl._commit(dict(snap, snapshot_id=1, parent=0, kind="merge"))
    with pytest.raises(CommitConflictError, match="already committed"):
        tbl._commit(dict(snap, snapshot_id=1, parent=0, kind="merge"))


# ------------------------------------------------- 3. cursor expiry surface
def _merge_n(spark, tbl, n, start_lsn=1):
    for i in range(n):
        df = spark.createDataFrame(
            [(start_lsn + i, "I", f"c{i}", 0, "user", f"t{i}", None, None)],
            "lsn long, op string, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts timestamp",
        )
        tbl.merge(spark, batch_id=i, changes=df)


def test_expired_cursor_raises_with_rebootstrap_info(spark, tmp_path):
    tbl = _mk_table(tmp_path)
    _merge_n(spark, tbl, 4)
    cursor = str(tmp_path / "c.cursor")
    LakehouseTable.commit_cursor(cursor, {"snapshot_id": 1})
    tbl.expire_snapshots(keep_last=2)  # snapshot 1 GC'd → cursor expired
    with pytest.raises(CursorExpiredError) as ei:
        tbl.tail_changes(spark, cursor)
    assert ei.value.cursor_snapshot_id == 1
    assert ei.value.oldest_retained == tbl.history()[0]["snapshot_id"]


def test_fresh_cursor_unaffected(spark, tmp_path):
    tbl = _mk_table(tmp_path)
    _merge_n(spark, tbl, 3)
    cursor = str(tmp_path / "c2.cursor")
    changes, cur = tbl.tail_changes(spark, cursor)  # first call: no cursor file
    assert changes is not None and set(cur) == {"snapshot_id", "from_snapshot_id"}
    LakehouseTable.commit_cursor(cursor, cur)
    none_changes, _ = tbl.tail_changes(spark, cursor)
    assert none_changes is None


# --------------------------------------------- 4. scoped quarantine reprocess
def _feed_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "lsn long, op string, ts timestamp, conv_id string, turn_idx int, payload string",
    )


def test_reprocess_scoped_and_retired(spark, tmp_path):
    tbl_path = str(tmp_path / "t")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    qdir = str(tmp_path / "q")
    job = IngestJob(
        tbl_path, str(tmp_path / "ctl"), on_error="quarantine", quarantine_path=qdir
    )
    # empty quarantine: no-op, no raise
    r0 = job.reprocess_quarantine(spark, batch_id=10)
    assert r0["skipped"] and r0["reprocessed_batches"] == []

    bad = _feed_df(spark, [(1, "I", None, "c1", 0, "{not json")])
    good = _feed_df(
        spark, [(2, "I", None, "c2", 0, '{"role": "user", "text": "hi"}')]
    )
    job.apply_batch(spark, 0, bad.union(good))
    assert sorted(os.listdir(qdir)) == ["batch=0"]

    # repair the payload in place, then reprocess
    fixed = pd.read_parquet(os.path.join(qdir, "batch=0"))
    fixed["payload"] = '{"role": "user", "text": "repaired"}'
    for f in os.listdir(os.path.join(qdir, "batch=0")):
        os.remove(os.path.join(qdir, "batch=0", f))
    fixed.to_parquet(os.path.join(qdir, "batch=0", "fixed.parquet"), index=False)

    r1 = job.reprocess_quarantine(spark, batch_id=1)
    assert r1["reprocessed_batches"] == ["batch=0"]
    # consumed dir retired out of the pending area
    assert not os.path.exists(os.path.join(qdir, "batch=0"))
    assert os.path.isdir(qdir + "-processed")
    # repaired row landed in the table
    out = LakehouseTable(tbl_path).read(spark).toPandas().set_index("conv_id")
    assert out.loc["c1", "text"] == "repaired"

    # second call: nothing pending → no-op (directory does not grow)
    r2 = job.reprocess_quarantine(spark, batch_id=2)
    assert r2["skipped"] and r2["reprocessed_batches"] == []


def test_reprocess_still_invalid_rows_requarantined_once(spark, tmp_path):
    """Rows that remain invalid after a reprocess land under the NEW batch id
    (pending again) while the consumed originals are retired — the pending
    set converges instead of growing."""
    tbl_path = str(tmp_path / "t2")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    qdir = str(tmp_path / "q2")
    job = IngestJob(
        tbl_path, str(tmp_path / "ctl2"), on_error="quarantine", quarantine_path=qdir
    )
    job.apply_batch(spark, 0, _feed_df(spark, [(1, "I", None, "c1", 0, "{broken")]))
    r = job.reprocess_quarantine(spark, batch_id=5)
    assert r["reprocessed_batches"] == ["batch=0"]
    # still-broken row re-quarantined under batch=5 only
    assert sorted(os.listdir(qdir)) == ["batch=5"]


# ------------------------------------------------ 5. notification hook (T11)
def test_quarantine_alert_fires_with_counts(spark, tmp_path):
    alerts = []
    tbl_path = str(tmp_path / "t3")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    job = IngestJob(
        tbl_path, str(tmp_path / "ctl3"), on_error="quarantine",
        quarantine_path=str(tmp_path / "q3"), on_alert=alerts.append,
    )
    job.apply_batch(spark, 0, _feed_df(spark, [
        (1, "I", None, "c1", 0, "{broken"),
        (2, "I", None, None, 0, '{"role": "user", "text": "x"}'),  # missing key
        (3, "I", None, "c2", 0, '{"role": "user", "text": "ok"}'),
    ]))
    assert len(alerts) == 1
    a = alerts[0]
    assert a["kind"] == "quarantine" and a["batch_id"] == 0 and a["rows"] == 2
    assert sum(a["errors"].values()) == 2 and "missing merge key" in a["errors"]
    # durable audit trail written regardless of the callback
    trail = open(str(tmp_path / "ctl3" / "alerts.jsonl")).read()
    assert '"quarantine"' in trail


def test_abort_alert_fires_and_reraises(spark, tmp_path):
    alerts = []
    tbl_path = str(tmp_path / "t4")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    job = IngestJob(
        tbl_path, str(tmp_path / "ctl4"), on_error="abort", on_alert=alerts.append
    )
    with pytest.raises(Exception):
        job.apply_batch(spark, 7, _feed_df(spark, [(1, "I", None, "c1", 0, "{broken")]))
    assert alerts and alerts[0]["kind"] == "abort" and alerts[0]["batch_id"] == 7


def test_failing_alert_hook_does_not_fail_batch(spark, tmp_path):
    def bad_hook(event):
        raise RuntimeError("mailer down")

    tbl_path = str(tmp_path / "t5")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    job = IngestJob(
        tbl_path, str(tmp_path / "ctl5"), on_error="quarantine",
        quarantine_path=str(tmp_path / "q5"), on_alert=bad_hook,
    )
    r = job.apply_batch(spark, 0, _feed_df(spark, [
        (1, "I", None, "c1", 0, "{broken"),
        (2, "I", None, "c2", 0, '{"role": "user", "text": "ok"}'),
    ]))
    assert not r.get("skipped")  # batch applied despite the broken notifier
    trail = open(str(tmp_path / "ctl5" / "alerts.jsonl")).read()
    assert "alert_hook_error" in trail and "mailer down" in trail


def test_cursor_expiry_rebootstrap_workflow(spark, tmp_path):
    """The documented recovery path end-to-end: a consumer whose cursor
    expired re-bootstraps with a FULL table read, then resumes incremental
    tailing from the error's `oldest_retained` — and its mirror converges
    to the source table exactly (nothing lost despite the GC'd deltas)."""
    src = _mk_table(tmp_path, "src")
    _merge_n(spark, src, 4)                       # snapshots 1..4
    cursor = str(tmp_path / "mirror.cursor")
    LakehouseTable.commit_cursor(cursor, {"snapshot_id": 1})
    src.expire_snapshots(keep_last=2)             # cursor now below retention

    mirror = _mk_table(tmp_path, "mirror")
    try:
        src.tail_changes(spark, cursor)
        raise AssertionError("expected CursorExpiredError")
    except CursorExpiredError as e:
        # 1. re-bootstrap: full table read -> overwrite the mirror
        mirror.overwrite(spark, src.read(spark, with_lsn=True))
        # 2. resume tailing from the oldest retained snapshot
        LakehouseTable.commit_cursor(cursor, {"snapshot_id": e.oldest_retained})

    _merge_n(spark, src, 2, start_lsn=100)        # source keeps moving
    changes, cur = src.tail_changes(spark, cursor)
    assert changes is not None
    mirror.merge(
        spark, batch_id=0,
        changes=changes.select(
            "lsn", F.col("_change_op").alias("op"),
            *[f.name for f in mirror.schema_struct().fields],
        ),
    )
    LakehouseTable.commit_cursor(cursor, cur)

    a = src.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = mirror.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # fully caught up: next tail is empty
    none_changes, _ = src.tail_changes(spark, cursor)
    assert none_changes is None


# --------------------------------------- caller-input checks survive -O
def test_create_rejects_unknown_update_mode(tmp_path):
    """An `assert` here vanishes under `python -O`; the check must raise."""
    with pytest.raises(ValueError, match="update_mode"):
        _mk_table(tmp_path, update_mode="patch")
    assert not LakehouseTable(str(tmp_path / "t")).exists()


def test_ingest_job_rejects_unknown_on_error(tmp_path):
    with pytest.raises(ValueError, match="on_error"):
        IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"), on_error="ignore")
