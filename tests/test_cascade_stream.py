"""Live replication chaining: CascadeJob polls an upstream table's
changelog with a durable cursor and keeps a downstream table identical —
including incremental catch-up of NEW upstream commits from the same
cursor, a crash between apply and cursor commit, a two-edge chain
A → B → C, and an upstream rollback inside the edge's window.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from data_pipeline_spark.plans.table_format import CursorExpiredError, LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.cascade import CascadeJob
from data_pipeline_spark.streaming.ingest import IngestJob


def _mk_upstream(spark, tmp_path, name, n_events=6_000, seed=31):
    feed = str(tmp_path / f"feed-{name}")
    generate_feed(feed, FeedSpec(n_events=n_events, n_convs=120, seed=seed, chunk_size=2_000))
    path = str(tmp_path / name)
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    IngestJob(path, str(tmp_path / f"ctl-{name}")).run_to_completion(
        spark, feed, str(tmp_path / f"cp-{name}"), max_files_per_trigger=1
    )
    return path


def _advance(spark, tmp_path, a, seed):
    """Commit one more upstream batch whose LSNs continue past A's
    watermark (the generator restarts at 0, which the recovery filter would
    rightly drop)."""
    feed = generate_feed_pandas(FeedSpec(n_events=4_000, n_convs=120, seed=seed))
    feed["lsn"] = feed["lsn"] + LakehouseTable(a).current_snapshot()["watermark_lsn"]
    IngestJob(a, str(tmp_path / f"ctl-adv-{seed}")).apply_batch(
        spark, 99, spark.createDataFrame(feed, schema=CHANGE_EVENT_SCHEMA)
    )


def _mk_empty(tmp_path, name):
    path = str(tmp_path / name)
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    return path


def _state(spark, path):
    return (
        LakehouseTable(path)
        .read(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_cascade_catchup_and_incremental(spark, tmp_path):
    """Drain the retained changelog into B; then commit MORE upstream
    batches and poll from the SAME cursor — only the new deltas flow, and
    B tracks A after each round."""
    a = _mk_upstream(spark, tmp_path, "a")
    b = _mk_empty(tmp_path, "b")
    edge = CascadeJob(a, b, str(tmp_path / "ctl-edge"))
    cursor = str(tmp_path / "edge.cursor")

    assert edge.run_until_caught_up(spark, cursor) == 1
    pd.testing.assert_frame_equal(_state(spark, a), _state(spark, b))
    assert len(_state(spark, b)) > 0

    _advance(spark, tmp_path, a, seed=77)  # new upstream activity
    control_files_before = len(
        [r for r in (tmp_path / "ctl-edge").iterdir() if r.suffix == ".parquet"]
    )

    assert edge.run_until_caught_up(spark, cursor) == 1  # same cursor: incremental
    pd.testing.assert_frame_equal(_state(spark, a), _state(spark, b))
    control_files_after = len(
        [r for r in (tmp_path / "ctl-edge").iterdir() if r.suffix == ".parquet"]
    )
    assert control_files_after > control_files_before  # new batches applied


def test_cascade_crash_resume_idempotent(spark, tmp_path, monkeypatch):
    """Crash between the downstream apply and the cursor commit; then more
    upstream commits land before the re-poll. The re-poll gets the pinned
    window back and skips it by batch_id; the next poll applies the newer
    window — B still converges to A exactly."""
    a = _mk_upstream(spark, tmp_path, "a3", seed=5)
    b = _mk_empty(tmp_path, "b3")
    edge = CascadeJob(a, b, str(tmp_path / "ctl-e3"))
    cursor = str(tmp_path / "e3.cursor")

    commit = LakehouseTable.commit_cursor

    def crash_once(path, cur):
        monkeypatch.setattr(LakehouseTable, "commit_cursor", staticmethod(commit))
        raise RuntimeError("injected crash (test hook)")

    monkeypatch.setattr(LakehouseTable, "commit_cursor", staticmethod(crash_once))
    with pytest.raises(RuntimeError, match="injected crash"):
        edge.poll_once(spark, cursor)
    assert not (tmp_path / "e3.cursor").exists()
    assert len(_state(spark, b)) > 0  # the apply landed

    _advance(spark, tmp_path, a, seed=7)
    assert edge.run_until_caught_up(spark, cursor) == 2  # the skip, then the new window
    pd.testing.assert_frame_equal(_state(spark, a), _state(spark, b))


def test_cascade_two_edge_chain(spark, tmp_path):
    """A → B → C: the downstream table is itself MOR, so ITS delta layer is
    a changelog too — replication trees compose edge by edge."""
    a = _mk_upstream(spark, tmp_path, "a4", seed=13)
    b = str(tmp_path / "b4")
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    c = _mk_empty(tmp_path, "c4")

    CascadeJob(a, b, str(tmp_path / "ctl-ab")).run_until_caught_up(
        spark, str(tmp_path / "ab.cursor")
    )
    CascadeJob(b, c, str(tmp_path / "ctl-bc")).run_until_caught_up(
        spark, str(tmp_path / "bc.cursor")
    )
    pd.testing.assert_frame_equal(_state(spark, a), _state(spark, c))


def test_cascade_refuses_schema_drift(spark, tmp_path):
    a = _mk_upstream(spark, tmp_path, "a5", n_events=1_000, seed=3)
    b = _mk_empty(tmp_path, "b5")
    LakehouseTable(b).apply_ddl([{"action": "rename_column", "old": "text", "new": "body"}])
    with pytest.raises(ValueError, match="schema drift"):
        CascadeJob(a, b, str(tmp_path / "ctl-e5")).poll_once(spark, str(tmp_path / "e5.cursor"))


def test_cascade_upstream_rollback_refuses_to_poll(spark, tmp_path):
    """A rollback writes no change rows for the rows it removes, so a
    replica that kept polling would silently keep them. The poll after an
    upstream rollback must raise CursorExpiredError carrying the rollback
    snapshot as the resume point, without moving the cursor."""
    a = _mk_upstream(spark, tmp_path, "a6", n_events=4_000, seed=19)
    b = _mk_empty(tmp_path, "b6")
    edge = CascadeJob(a, b, str(tmp_path / "ctl-e6"))
    cursor = str(tmp_path / "e6.cursor")
    edge.run_until_caught_up(spark, cursor)
    pd.testing.assert_frame_equal(_state(spark, a), _state(spark, b))

    up = LakehouseTable(a)
    first_merge = next(s for s in up.history() if s["kind"] == "merge")
    rollback_id = up.rollback_to(first_merge["snapshot_id"])["snapshot_id"]
    assert len(_state(spark, a)) < len(_state(spark, b))

    with pytest.raises(CursorExpiredError) as ei:
        edge.poll_once(spark, cursor)
    assert ei.value.oldest_retained == rollback_id
    with open(cursor) as f:
        assert json.load(f)["snapshot_id"] < rollback_id


def test_cascade_upstream_overwrite_refuses_to_poll(spark, tmp_path):
    """An overwrite of a table that held data writes no change rows for the
    rows it removes, like a rollback. The first overwrite (onto an empty
    table) still replicates as inserts; the poll after a second overwrite
    must raise CursorExpiredError carrying that overwrite as the resume
    point, instead of leaving the removed row in the replica."""
    a, b = _mk_empty(tmp_path, "a7"), _mk_empty(tmp_path, "b7")
    up = LakehouseTable(a)
    row = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    def overwrite(*keys):
        df = spark.createDataFrame([(k, 0, "user", k, None, None) for k in keys], row)
        return up.overwrite(spark, df)["snapshot_id"]

    edge = CascadeJob(a, b, str(tmp_path / "ctl-e7"))
    cursor = str(tmp_path / "e7.cursor")
    overwrite("a", "b")
    assert edge.poll_once(spark, cursor)["applied"]
    assert _state(spark, b)["conv_id"].tolist() == ["a", "b"]

    second = overwrite("a")
    with pytest.raises(CursorExpiredError) as ei:
        edge.poll_once(spark, cursor)
    assert ei.value.oldest_retained == second
    with open(cursor) as f:
        assert json.load(f)["snapshot_id"] < second
    edge.job.wait_maintenance()
