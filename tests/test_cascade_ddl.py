"""Cascade schema-drift healing: `sync_schema(auto_ddl=True)` derives the
downstream DDL from the upstream schema (rename-aware via `former_names`,
widen-lattice-checked, drops replicated) so an edge restart after upstream
DDL is one call — and downstream data written under the OLD names survives
(field-id remapping, not drop+add). Plus: a COW upstream (a table an older
version wrote in copy-on-write mode) is refused loudly (no delta layer →
its changelog would be silently empty).
"""

from __future__ import annotations

import pandas as pd
import pytest

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.cascade import CascadeJob
from data_pipeline_spark.streaming.ingest import IngestJob

from conftest import UPGRADE_ERROR


def _mk_upstream(spark, tmp_path, name, seed):
    feed = str(tmp_path / f"feed-{name}")
    generate_feed(feed, FeedSpec(n_events=4_000, n_convs=100, seed=seed, chunk_size=2_000))
    path = str(tmp_path / name)
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    IngestJob(path, str(tmp_path / f"ctl-{name}")).run_to_completion(
        spark, feed, str(tmp_path / f"cp-{name}"), max_files_per_trigger=2
    )
    return path


def _advance(spark, tmp_path, a, seed, batch_id):
    feed2 = generate_feed_pandas(FeedSpec(n_events=2_000, n_convs=100, seed=seed))
    feed2["lsn"] = feed2["lsn"] + LakehouseTable(a).current_snapshot()["watermark_lsn"]
    IngestJob(a, str(tmp_path / "ctl-adv")).apply_batch(
        spark, batch_id, spark.createDataFrame(feed2, schema=CHANGE_EVENT_SCHEMA)
    )


def _state(spark, path):
    return (
        LakehouseTable(path)
        .read(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_cow_upstream_refused(spark, tmp_path, legacy_table):
    a = legacy_table("cow").path
    b = str(tmp_path / "b-cow")
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    with pytest.raises(ValueError, match=UPGRADE_ERROR):
        CascadeJob(a, b, str(tmp_path / "ctl-b")).poll_once(spark, str(tmp_path / "b.cursor"))


def test_auto_ddl_heals_add_rename_widen_drop(spark, tmp_path):
    a = _mk_upstream(spark, tmp_path, "a", seed=71)
    b = str(tmp_path / "b")
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    edge = CascadeJob(a, b, str(tmp_path / "ctl-b"))
    cursor = str(tmp_path / "b.cursor")
    edge.run_until_caught_up(spark, cursor)
    pd.testing.assert_frame_equal(_state(spark, a), _state(spark, b))

    # ---- upstream DDL round 1: add + rename; then more upstream data
    LakehouseTable(a).apply_ddl(
        [
            {"action": "add_column", "name": "note", "type": "int"},
            {"action": "rename_column", "old": "text", "new": "body"},
        ]
    )
    _advance(spark, tmp_path, a, seed=73, batch_id=99)

    with pytest.raises(ValueError, match="schema drift"):
        edge.poll_once(spark, cursor)  # strict check still refuses
    applied = edge.sync_schema(auto_ddl=True)
    assert {(d["action"]) for d in applied} == {"add_column", "rename_column"}
    assert {"action": "rename_column", "old": "text", "new": "body"} in applied

    edge.run_until_caught_up(spark, cursor)
    up, down = _state(spark, a), _state(spark, b)
    pd.testing.assert_frame_equal(up, down)
    # rows replicated BEFORE the rename kept their values under the new
    # name (field-id remap) — body must be populated, not nulled
    assert down["body"].notna().all()
    assert list(down.columns) == ["conv_id", "turn_idx", "role", "body", "tool", "ts", "note"]

    # ---- upstream DDL round 2: widen + drop
    LakehouseTable(a).apply_ddl(
        [
            {"action": "widen_type", "name": "note", "to": "long"},
            {"action": "drop_column", "name": "tool"},
        ]
    )
    applied2 = edge.sync_schema(auto_ddl=True)
    assert {(d["action"]) for d in applied2} == {"widen_type", "drop_column"}
    _advance(spark, tmp_path, a, seed=79, batch_id=100)
    edge.run_until_caught_up(spark, cursor)
    pd.testing.assert_frame_equal(_state(spark, a), _state(spark, b))
    assert "tool" not in _state(spark, b).columns

    # in sync → healing is a no-op
    assert edge.sync_schema(auto_ddl=True) == []


def test_auto_ddl_rename_then_readd_collision(spark, tmp_path):
    """Upstream renames text→body, then RE-ADDS a fresh `text` column. The
    heal must rename downstream's old `text` (field-id remap keeps its
    data) and add the new `text` as a separate column — never confuse the
    two generations."""
    a = _mk_upstream(spark, tmp_path, "a6", seed=91)
    b = str(tmp_path / "b6")
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    edge = CascadeJob(a, b, str(tmp_path / "ctl-b6"))
    cursor = str(tmp_path / "b6.cursor")
    edge.run_until_caught_up(spark, cursor)

    LakehouseTable(a).apply_ddl(
        [
            {"action": "rename_column", "old": "text", "new": "body"},
            {"action": "add_column", "name": "text", "type": "string"},
        ]
    )
    applied = edge.sync_schema(auto_ddl=True)
    assert {"action": "rename_column", "old": "text", "new": "body"} in applied
    assert {"action": "add_column", "name": "text", "type": "string"} in applied

    _advance(spark, tmp_path, a, seed=93, batch_id=99)
    edge.run_until_caught_up(spark, cursor)
    up, down = _state(spark, a), _state(spark, b)
    pd.testing.assert_frame_equal(up, down)
    assert down["body"].notna().all()  # old generation's data survived
