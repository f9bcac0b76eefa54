"""cherry_pick: non-fast-forward publish of a diverged branch's merge.

Main advanced past the fork, so fast_forward refuses — cherry_pick
re-layers the staged merge's delta files onto main's head as a pure
metadata commit (files re-referenced, never copied), and LSN-based
reconcile makes the result equal a direct apply of the same batch."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import CommitConflictError, LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob

from conftest import UPGRADE_ERROR


def _feed(n, seed, base=0):
    pdf = generate_feed_pandas(FeedSpec(n_events=n, n_convs=40, seed=seed))
    pdf["lsn"] = pdf["lsn"] + base
    return pdf


def _apply(spark, job, pdf, bid):
    return job.apply_batch(
        spark, bid, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)
    )


def _texts(spark, tbl):
    return (
        tbl.read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)["text"]
        .tolist()
    )


def test_cherry_pick_equals_direct_apply(spark, tmp_path):
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    main_job = IngestJob(path, str(tmp_path / "ctl"))
    b0 = _feed(2_000, 91)
    _apply(spark, main_job, b0, 0)
    fork = tbl.current_snapshot()["snapshot_id"]

    # stage a batch on a branch, then let main advance past the fork
    tbl.create_branch("audit")
    stage = IngestJob(path, str(tmp_path / "ctl-s"), ref="audit")
    hi = int(b0["lsn"].max())
    b1 = _feed(800, 92, base=hi)            # staged on the branch
    _apply(spark, stage, b1, 1)
    staged_id = LakehouseTable(path, ref="audit").current_snapshot()["snapshot_id"]
    b2 = _feed(800, 93, base=hi + 800)      # lands directly on main
    _apply(spark, main_job, b2, 2)

    with pytest.raises(CommitConflictError):
        tbl.fast_forward("audit")           # diverged: ff must refuse

    n_files_before = len(tbl.files())
    out = tbl.cherry_pick(staged_id)
    assert out["skipped"] is False and out["picked_files"] > 0
    # pure metadata: picked files re-referenced, none copied
    assert len(tbl.files()) == n_files_before + out["picked_files"]

    # state equals applying all three batches directly
    expected = reduce_feed(pd.concat([b0, b1, b2], ignore_index=True))
    assert _texts(spark, tbl) == expected["text"].tolist()
    # watermark covers the picked batch; redelivery of batch 1 is a no-op
    assert tbl.current_snapshot()["watermark_lsn"] >= int(b1["lsn"].max())
    res = _apply(spark, main_job, b1, 1)
    assert res.get("skipped")

    # the changelog emits the picked rows at the cherry-pick snapshot
    chg = tbl.read_changes(spark, from_snapshot_id=fork).toPandas()
    assert set(chg["_batch_id"].dropna().unique()) == {1, 2}

    # idempotent: picking again is a skip, not a duplicate layer
    assert tbl.cherry_pick(staged_id)["skipped"] is True


def test_cherry_pick_guards(spark, tmp_path):
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    job = IngestJob(path, str(tmp_path / "ctl"))
    b0 = _feed(1_000, 94)
    _apply(spark, job, b0, 0)
    merge_id = tbl.current_snapshot()["snapshot_id"]

    with pytest.raises(ValueError):        # not a merge snapshot
        tbl.cherry_pick(merge_id - 1)      # the create snapshot

    tbl.rebucket(spark, 8)                 # layout change → picked files
    with pytest.raises(ValueError):        # route keys wrong → refuse
        tbl.cherry_pick(merge_id)


def test_cherry_pick_cow_refused(legacy_table):
    """A COW merge (older versions' copy-on-write tables) is refused by the
    format gate before anything is re-layered."""
    tbl = legacy_table("t", loads=[[("c0", 0, "user", "a", None, None)],
                                   [("c0", 0, "user", "b", None, None)]])
    with pytest.raises(ValueError, match=UPGRADE_ERROR):
        tbl.cherry_pick(1)


def test_time_based_expiry_keeps_recent_window(spark, tmp_path):
    """older_than_seconds keeps every snapshot in the wall-clock window
    beyond keep_last; outside the window keep_last still applies."""
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=2, compact_every=10**9)
    job = IngestJob(path, str(tmp_path / "ctl"))
    base = 0
    for b in range(4):
        pdf = _feed(300, 97 + b, base=base)
        base = int(pdf["lsn"].max())
        _apply(spark, job, pdf, b)
    ids = [s["snapshot_id"] for s in tbl.history()]
    # everything is seconds old → a 1-hour window keeps the whole chain
    out = tbl.expire_snapshots(keep_last=1, older_than_seconds=3600)
    assert out["removed_snapshots"] == 0 and set(out["kept"]) >= set(ids)
    # a zero-second window degrades to pure keep_last (+ current head)
    out = tbl.expire_snapshots(keep_last=2, older_than_seconds=0)
    assert out["removed_snapshots"] == len(ids) - 2
    assert [s["snapshot_id"] for s in tbl.history()] == ids[-2:]
