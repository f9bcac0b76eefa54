"""Snapshot clone (plans/clone.py): byte-identical reads, historical and
tagged clones, independence from source GC/purge, and clones as fully
functional tables (continued ingest)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_pipeline_spark.plans.clone import clone_snapshot
from data_pipeline_spark.plans.fsck import fsck
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob


def _pd(spark, path, **kw):
    return (
        LakehouseTable(path).read(spark, **kw).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def pristine(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("clone")
    feed = str(base / "feed")
    generate_feed(feed, FeedSpec(n_events=4_000, n_convs=120, seed=23, chunk_size=1_000))
    up = str(base / "t")
    LakehouseTable(up).create(
        TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=3,
        cluster_by=["conv_id", "turn_idx"], stats_columns=["ts"],
    )
    # four batches: the third compacts (compact_every=3), so the table
    # holds base files and one pending delta commit
    IngestJob(up, str(base / "ctl")).run_to_completion(
        spark, feed, str(base / "ck"), max_files_per_trigger=1,
    )
    LakehouseTable(up).tag_snapshot("backup")
    return up


@pytest.fixture()
def table(pristine, tmp_path):
    import shutil

    t = str(tmp_path / "t")
    shutil.copytree(pristine, t)
    return LakehouseTable(t)


def test_clone_current_reads_identical(spark, tmp_path, table):
    dest = str(tmp_path / "clone")
    r = clone_snapshot(table, dest)
    assert r["data_files"] > 0 and r["fsck"]["deep_checked"] == r["data_files"]
    pd.testing.assert_frame_equal(_pd(spark, table.path), _pd(spark, dest))
    # predicate/point reads work in the clone (stats + cluster metadata came along)
    a = table.read(spark, conv_ids=["conv-000003"]).toPandas()
    b = LakehouseTable(dest).read(spark, conv_ids=["conv-000003"]).toPandas()
    assert len(a) == len(b)


def test_clone_historical_snapshot_equals_time_travel(spark, tmp_path, table):
    hist = table.history()
    mid = hist[len(hist) // 2]["snapshot_id"]
    dest = str(tmp_path / "clone")
    r = clone_snapshot(table, dest, snapshot_id=mid)
    assert r["snapshot_id"] == mid
    a = (table.read(spark, snapshot_id=mid).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, _pd(spark, dest))


def test_clone_tag_survives_source_purge(spark, tmp_path, table):
    """The backup pattern: clone the tag, then destroy source history —
    the clone still deep-fscks clean and reads identically."""
    dest = str(tmp_path / "clone")
    clone_snapshot(table, dest, tag="backup")
    before = _pd(spark, dest)

    table.remove_tag("backup")
    victim = before["conv_id"].iloc[0]
    table.purge_keys(spark, [victim])  # rewrites + expires source history
    assert victim not in set(_pd(spark, table.path)["conv_id"])

    r = fsck(LakehouseTable(dest), deep=True)
    assert r["ok"], r["errors"]
    after = _pd(spark, dest)
    pd.testing.assert_frame_equal(before, after)
    assert victim in set(after["conv_id"])  # the clone is a real backup


def test_clone_continues_ingesting(spark, tmp_path, table):
    dest = str(tmp_path / "clone")
    clone_snapshot(table, dest)
    feed = generate_feed_pandas(FeedSpec(n_events=1_000, n_convs=120, seed=29))
    feed["lsn"] += LakehouseTable(dest).current_snapshot()["watermark_lsn"]
    job = IngestJob(dest, str(tmp_path / "ctl2"))
    job.apply_batch(
        spark, 99, spark.createDataFrame(feed, schema=CHANGE_EVENT_SCHEMA)
    )
    got = _pd(spark, dest)
    assert len(got) >= len(_pd(spark, table.path))
    assert fsck(LakehouseTable(dest), deep=True)["ok"]


def test_incremental_clone_hardlinks_unchanged(spark, tmp_path, table):
    """Daily-backup pattern: a second clone with reference_clone= copies
    only the files new since the first — everything else hardlinks; the
    increment stays self-contained after the reference is deleted."""
    import shutil

    bk1 = str(tmp_path / "bk1")
    r1 = clone_snapshot(table, bk1)
    assert r1["hardlinked"] == 0

    feed = generate_feed_pandas(FeedSpec(n_events=800, n_convs=120, seed=31))
    feed["lsn"] += table.current_snapshot()["watermark_lsn"]
    IngestJob(table.path, str(tmp_path / "ctl3")).apply_batch(
        spark, 99, spark.createDataFrame(feed, schema=CHANGE_EVENT_SCHEMA)
    )

    bk2 = str(tmp_path / "bk2")
    r2 = clone_snapshot(table, bk2, reference_clone=bk1)
    assert r2["hardlinked"] > 0  # unchanged files linked, not copied
    assert r2["bytes"] < r1["bytes"]  # only the day's churn cost space
    expected = _pd(spark, table.path)
    pd.testing.assert_frame_equal(expected, _pd(spark, bk2))

    # the increment survives deletion of its reference (hardlinks keep bytes)
    shutil.rmtree(bk1)
    assert fsck(LakehouseTable(bk2), deep=True)["ok"]
    pd.testing.assert_frame_equal(expected, _pd(spark, bk2))


def test_clone_refuses_nonempty_dest_and_unknown_tag(tmp_path, table):
    dest = str(tmp_path / "clone")
    os.makedirs(dest)
    with open(os.path.join(dest, "junk"), "w") as f:
        f.write("x")
    with pytest.raises(FileExistsError):
        clone_snapshot(table, dest)
    with pytest.raises(KeyError):
        clone_snapshot(table, str(tmp_path / "c2"), tag="nope")
