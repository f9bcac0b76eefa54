"""Changelog tail under schema evolution: `tail_changes` surfaces delta
files written BEFORE a rename or widen under the CURRENT schema (field-id
projection), and compaction folds deltas into base files without the tail
re-emitting them.
"""

from __future__ import annotations

import pandas as pd

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed
from data_pipeline_spark.streaming.ingest import IngestJob

SPEC = FeedSpec(n_events=8_000, n_convs=150, seed=11, chunk_size=2_000)


def _tail(spark, tbl, cursor):
    chg, new_cursor = tbl.tail_changes(spark, cursor)
    return chg.toPandas().sort_values("lsn").set_index("lsn"), new_cursor


def test_tail_changes_rename_projects_by_field_id(spark, tmp_path):
    """VERDICT r2 #4: delta files written BEFORE a rename_column must surface
    their values under the CURRENT name in the tail (field-id projection),
    not null."""
    import json

    tbl_path = str(tmp_path / "t")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    job = IngestJob(tbl_path, str(tmp_path / "ctl"))

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "lsn long, op string, ts timestamp, conv_id string, turn_idx int, payload string",
        )

    # batch 0: rows under the ORIGINAL column name `tool`
    job.apply_batch(spark, 0, batch([
        (1, "I", None, "c1", 0, json.dumps({"role": "user", "text": "a", "tool": "grep"})),
        (2, "I", None, "c2", 0, json.dumps({"role": "user", "text": "b", "tool": "sed"})),
    ]))
    # batch 1: rename tool -> tool_name, then more rows under the new name
    job.apply_batch(spark, 1, batch([
        (3, "DDL", None, None, None,
         json.dumps({"action": "rename_column", "old": "tool", "new": "tool_name"})),
        (4, "I", None, "c3", 0, json.dumps({"role": "user", "text": "c", "tool_name": "awk"})),
        (5, "U", None, "c1", 0, json.dumps({"text": "a2", "tool_name": "rg"})),
    ]))
    tbl = LakehouseTable(tbl_path)

    cursor = str(tmp_path / "c.cursor")
    s, new_cursor = _tail(spark, tbl, cursor)
    assert "tool" not in s.columns
    # pre-rename values actually flow under the new name (the r2 gap: null)
    assert s.loc[1, "tool_name"] == "grep"
    assert s.loc[2, "tool_name"] == "sed"
    assert s.loc[4, "tool_name"] == "awk"
    assert s.loc[5, "tool_name"] == "rg"
    LakehouseTable.commit_cursor(cursor, new_cursor)

    # a historical-name COLLISION: re-add a fresh column named `tool`;
    # old files' `tool` values must keep flowing to tool_name (field id),
    # while the new `tool` column reads null for rows that never set it
    job.apply_batch(spark, 2, batch([
        (6, "DDL", None, None, None,
         json.dumps({"action": "add_column", "name": "tool", "type": "string"})),
        (7, "I", None, "c4", 0,
         json.dumps({"role": "user", "text": "d", "tool": "NEW", "tool_name": "cut"})),
    ]))
    s_new, _ = _tail(spark, tbl, cursor)  # the committed cursor: batch 2 only
    assert list(s_new.index) == [7]
    assert s_new.loc[7, "tool_name"] == "cut" and s_new.loc[7, "tool"] == "NEW"
    s2, _ = _tail(spark, tbl, str(tmp_path / "fresh.cursor"))
    assert s2.loc[1, "tool_name"] == "grep" and pd.isna(s2.loc[1, "tool"])
    assert s2.loc[7, "tool_name"] == "cut" and s2.loc[7, "tool"] == "NEW"


def test_tail_changes_across_widen(spark, tmp_path):
    """Delta files written before a widen_type store the narrow physical
    type (int32 turn_idx); the tail reads them at the current (widened)
    type — Spark 4's parquet type-widening read must surface them
    correctly."""
    import json

    tbl_path = str(tmp_path / "t")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    job = IngestJob(tbl_path, str(tmp_path / "ctl"))

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "lsn long, op string, ts timestamp, conv_id string, turn_idx int, payload string",
        )

    job.apply_batch(spark, 0, batch([
        (1, "I", None, "c1", 7, json.dumps({"role": "user", "text": "narrow"})),
    ]))
    # post-widen events arrive with a 64-bit key in the envelope
    wide = spark.createDataFrame(
        [
            (2, "DDL", None, None, None,
             json.dumps({"action": "widen_type", "name": "turn_idx", "to": "long"})),
            (3, "I", None, "c2", 2**31 + 5, json.dumps({"role": "user", "text": "wide"})),
        ],
        "lsn long, op string, ts timestamp, conv_id string, turn_idx long, payload string",
    )
    job.apply_batch(spark, 1, wide)
    tbl = LakehouseTable(tbl_path)
    s, _ = _tail(spark, tbl, str(tmp_path / "c.cursor"))
    assert int(s.loc[1, "turn_idx"]) == 7          # narrow file, widened read
    assert int(s.loc[3, "turn_idx"]) == 2**31 + 5  # value needing the widen
    assert s.loc[1, "text"] == "narrow" and s.loc[3, "text"] == "wide"


def test_tail_changes_compaction_emits_nothing_new(spark, tmp_path):
    """Compaction folds deltas into base files — a consumer that has
    already committed the deltas sees NOTHING new from compaction; once
    expire_snapshots drops the folded history, even a fresh cursor starts
    empty."""
    feed = str(tmp_path / "feed")
    generate_feed(feed, SPEC)
    tbl_path = str(tmp_path / "t")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=8, compact_every=10**9)
    job = IngestJob(tbl_path, str(tmp_path / "ctl"))
    job.run_to_completion(spark, feed, str(tmp_path / "cp"), max_files_per_trigger=2)
    tbl = LakehouseTable(tbl_path)

    cursor = str(tmp_path / "c.cursor")
    before, new_cursor = tbl.tail_changes(spark, cursor)
    assert before.count() > 0
    LakehouseTable.commit_cursor(cursor, new_cursor)
    tbl.compact(spark)
    # same cursor after compaction: the window holds only the compact
    # commit, which carries no change rows
    after, _ = tbl.tail_changes(spark, cursor)
    assert after.count() == 0
    # GC the folded history: a brand-new consumer now starts empty
    tbl.expire_snapshots(keep_last=1)
    assert tbl.tail_changes(spark, str(tmp_path / "fresh.cursor"))[0] is None
