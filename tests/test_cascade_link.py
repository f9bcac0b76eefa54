"""Cascade by reference: a changelog window holding exactly one upstream
merge, into a full replica of the same schema and bucket count, is
committed by hard-linking the upstream's delta files (`link_merge`) — no
Spark job. Every other window still applies typed rows. Both must leave
the replica equal to the upstream, and the linked replica must survive
the upstream's expiry and deletion.
"""

from __future__ import annotations

import errno
import os
import shutil
import time
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.plans.fsck import fsck
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.cascade import CascadeFanout, CascadeJob, CascadeTarget
from data_pipeline_spark.streaming.ingest import IngestJob
from conftest import write_legacy_overwrite, write_legacy_split_delta
from test_cascade_typed import KEYS, PRED, PROJ, PROJ_SCHEMA, _pdf
from test_read_plan_jobs import _jobs_started


def _advance(spark, job, seed, n_events=1_500):
    """One upstream merge of a fresh feed slice above the watermark: I, U
    and D events, the D events carrying a payload (decoded into the
    tombstone's data columns)."""
    feed = generate_feed_pandas(FeedSpec(n_events=n_events, n_convs=40, seed=seed))
    feed["lsn"] = feed["lsn"] + (job.table.current_snapshot()["watermark_lsn"] or 0)
    d = feed["op"] == "D"
    feed.loc[d, "payload"] = feed.loc[d, "conv_id"].map(
        lambda c: '{"role": "user", "text": "gone from ' + c + '"}'
    )
    bid = job.table.current_snapshot()["last_batch_id"] + 1
    job.apply_batch(spark, bid, spark.createDataFrame(feed, schema=CHANGE_EVENT_SCHEMA))
    job.wait_maintenance()


def _table(tmp_path, name, schema=TRANSCRIPT_SCHEMA, **kw) -> str:
    path = str(tmp_path / name)
    LakehouseTable(path).create(schema, **{"n_buckets": 4, "compact_every": 99, **kw})
    return path


def _poll(spark, edge, cursor) -> tuple[dict, int]:
    """One poll and the Spark jobs it started on this thread."""
    out = []
    jobs = _jobs_started(spark, lambda: out.append(edge.poll_once(spark, cursor)))
    return out[0], jobs


def _new_files(table: LakehouseTable, snapshot_id: int) -> list[str]:
    prefix = f"data/s{snapshot_id}/"
    return [os.path.join(table.path, e["path"]) for e in table.files() if e["path"].startswith(prefix)]


def _inodes(paths) -> set[int]:
    return {os.stat(p).st_ino for p in paths}


def _window_ops(spark, table: LakehouseTable, from_id: int, to_id: int) -> Counter:
    return Counter(
        (r["conv_id"], r["turn_idx"], r["lsn"], r["_change_op"])
        for r in table.read_changes(spark, from_id, to_id).collect()
    )


def test_one_merge_window_links(spark, tmp_path):
    a = _table(tmp_path, "a")
    b = _table(tmp_path, "b")
    up_job, up, rep = IngestJob(a, str(tmp_path / "ctl-a")), LakehouseTable(a), LakehouseTable(b)
    edge = CascadeJob(a, b, str(tmp_path / "ctl-b"))
    cursor = str(tmp_path / "edge.cursor")

    for seed in (11, 13, 17):
        up_from = up.current_snapshot()["snapshot_id"]
        rep_from = rep.current_snapshot()["snapshot_id"]
        _advance(spark, up_job, seed)
        up_to = up.current_snapshot()["snapshot_id"]
        ((merge, up_entries),) = up._change_window(up_from, up_to)
        assert merge["kind"] == "merge"

        res, jobs = _poll(spark, edge, cursor)
        assert res["applied"] and jobs == 0
        rep_to = res["result"]["snapshot_id"]
        linked = _new_files(rep, rep_to)
        up_files = [os.path.join(a, e["path"]) for e in up_entries]
        assert len(linked) == len(up_files) and _inodes(linked) == _inodes(up_files)

        pd.testing.assert_frame_equal(_pdf(up.read(spark)), _pdf(rep.read(spark)))
        assert _window_ops(spark, rep, rep_from, rep_to) == _window_ops(spark, up, up_from, up_to)
        # lineage comes from the linked files' footers, as after a write
        assert sum(m["rows"] for m in res["result"]["bucket_metrics"]) == sum(
            fs["rows"] for fs in up.file_stats(up_entries)
        )

    # the D events' payloads decoded into the upstream tombstones, and the
    # linked replica kept them as they are
    d_text = "_change_op = 'D' AND text IS NOT NULL"
    assert up.read_changes(spark, 0).where(d_text).count() > 0
    assert rep.read_changes(spark, 0).where(d_text).count() == up.read_changes(spark, 0).where(d_text).count()

    want = _pdf(up.read(spark))
    up.compact(spark)
    assert up.expire_snapshots(keep_last=1)["removed_files"] >= len(_new_files(rep, rep_to))
    pd.testing.assert_frame_equal(want, _pdf(rep.read(spark)))
    assert fsck(rep, deep=True)["ok"]
    shutil.rmtree(a)
    pd.testing.assert_frame_equal(want, _pdf(rep.read(spark)))
    assert fsck(rep, deep=True)["ok"]


def test_link_falls_back_to_copy(spark, tmp_path, monkeypatch):
    """Where the filesystem refuses a hard link, the poll copies the files:
    still no Spark job, the replica still equals the upstream, and the
    copies are the replica's own inodes."""
    a, b = _table(tmp_path, "a"), _table(tmp_path, "b")
    up_job, up, rep = IngestJob(a, str(tmp_path / "ctl-a")), LakehouseTable(a), LakehouseTable(b)
    edge = CascadeJob(a, b, str(tmp_path / "ctl-b"))
    _advance(spark, up_job, 19)
    up_files = [os.path.join(a, e["path"]) for e in up.files()]

    link = os.link

    def no_data_links(src, dst, *args, **kwargs):
        # metadata commits link too (the snapshot CAS); refuse data files only
        if str(src).endswith(".parquet"):
            raise OSError(errno.EXDEV, "cross-device link", str(src))
        return link(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "link", no_data_links)
    res, jobs = _poll(spark, edge, str(tmp_path / "edge.cursor"))
    assert res["applied"] and jobs == 0
    copied = _new_files(rep, res["result"]["snapshot_id"])
    assert len(copied) == len(up_files) and not (_inodes(copied) & _inodes(up_files))
    pd.testing.assert_frame_equal(_pdf(up.read(spark)), _pdf(rep.read(spark)))
    assert fsck(rep, deep=True)["ok"]


def test_crash_after_linked_commit_skips_on_repoll(spark, tmp_path, monkeypatch):
    """Crash after the linked commit, before the cursor commit: the re-poll
    reads the same window, skips it by batch_id, and links nothing new."""
    a, b = _table(tmp_path, "a"), _table(tmp_path, "b")
    up_job, up, rep = IngestJob(a, str(tmp_path / "ctl-a")), LakehouseTable(a), LakehouseTable(b)
    edge = CascadeJob(a, b, str(tmp_path / "ctl-b"))
    cursor = str(tmp_path / "edge.cursor")
    _advance(spark, up_job, 23)

    commit = LakehouseTable.commit_cursor

    def crash_once(path, cur):
        monkeypatch.setattr(LakehouseTable, "commit_cursor", staticmethod(commit))
        raise RuntimeError("injected crash (test hook)")

    monkeypatch.setattr(LakehouseTable, "commit_cursor", staticmethod(crash_once))
    an_hour_ago = time.time() - 3600
    for e in up.files():
        os.utime(os.path.join(a, e["path"]), (an_hour_ago, an_hour_ago))
    with pytest.raises(RuntimeError, match="injected crash"):
        edge.poll_once(spark, cursor)
    assert not os.path.exists(cursor)
    head = rep.current_snapshot()
    files = sorted(e["path"] for e in rep.files())
    assert head["kind"] == "merge" and files
    # a link's write time restarts, so an orphan grace counts from the link
    assert all(os.path.getmtime(os.path.join(b, p)) > an_hour_ago + 3000 for p in files)

    res, jobs = _poll(spark, edge, cursor)
    assert res["applied"] and res["result"]["skipped"] and jobs == 0
    assert res["batch_id"] == head["last_batch_id"]
    assert rep.current_snapshot()["snapshot_id"] == head["snapshot_id"]
    assert sorted(e["path"] for e in rep.files()) == files
    assert sorted(os.listdir(os.path.join(b, "data"))) == [f"s{head['snapshot_id']}"]
    pd.testing.assert_frame_equal(_pdf(up.read(spark)), _pdf(rep.read(spark)))


@pytest.mark.parametrize(
    "case",
    ["catch_up", "filtered", "projected", "bucket_count", "legacy_delta",
     "legacy_overwrite", "add_column", "partial_replica"],
)
def test_other_windows_apply_typed_rows(spark, tmp_path, case):
    """Every window the link cannot take still replicates, through the
    typed apply (which starts Spark jobs)."""
    a = _table(tmp_path, "a")
    b = _table(
        tmp_path, "b",
        schema=PROJ_SCHEMA if case == "projected" else TRANSCRIPT_SCHEMA,
        **({"n_buckets": 2} if case == "bucket_count" else {}),
        **({"update_mode": "partial"} if case == "partial_replica" else {}),
    )
    up_job, up, rep = IngestJob(a, str(tmp_path / "ctl-a")), LakehouseTable(a), LakehouseTable(b)
    edge = CascadeJob(
        a, b, str(tmp_path / "ctl-b"),
        row_predicate=PRED if case == "filtered" else None,
        columns=PROJ if case == "projected" else None,
    )
    rows = [(i + 1, "I", f"c{i % 5}", i // 5, f"a{i}") for i in range(20)]
    if case == "legacy_delta":
        write_legacy_split_delta(spark, up, 0, rows + [(21, "D", "c0", 0, None)])
    elif case == "legacy_overwrite":
        write_legacy_overwrite(spark, up, [(lsn, c, t, text) for lsn, _, c, t, text in rows])
    else:
        _advance(spark, up_job, 29)
    if case == "catch_up":
        _advance(spark, up_job, 31)
    if case == "add_column":
        up.apply_ddl([{"action": "add_column", "name": "score", "type": "double"}])
        edge.sync_schema(auto_ddl=True)

    res, jobs = _poll(spark, edge, str(tmp_path / "edge.cursor"))
    assert res["applied"] and jobs > 0
    want = up.read(spark)
    if case == "filtered":
        want = want.where(F.expr(PRED))
    if case == "projected":
        want = want.select(*KEYS, *PROJ)
    assert want.count() > 0
    pd.testing.assert_frame_equal(_pdf(want), _pdf(rep.read(spark)))
    edge.job.wait_maintenance()


def test_fanout_links_full_target_and_applies_filtered(spark, tmp_path, monkeypatch):
    """One fan-out window: the full target links, the filtered target
    applies typed rows, and the one shared cursor commits once."""
    a, full, filt = _table(tmp_path, "a"), _table(tmp_path, "full"), _table(tmp_path, "filt")
    up_job, up = IngestJob(a, str(tmp_path / "ctl-a")), LakehouseTable(a)
    fan = CascadeFanout(
        a, [CascadeTarget("full", full), CascadeTarget("filt", filt, PRED)], str(tmp_path / "ctl")
    )
    _advance(spark, up_job, 37)
    up_files = [os.path.join(a, e["path"]) for e in up.files()]

    commits = []
    commit = LakehouseTable.commit_cursor

    def counted(path, cur):
        commits.append(cur)
        commit(path, cur)

    monkeypatch.setattr(LakehouseTable, "commit_cursor", staticmethod(counted))
    res = fan.poll_once(spark, str(tmp_path / "fan.cursor"))
    assert res["applied"] and len(commits) == 1
    full_files = _new_files(LakehouseTable(full), res["result"]["full"]["snapshot_id"])
    filt_files = _new_files(LakehouseTable(filt), res["result"]["filt"]["snapshot_id"])
    assert _inodes(full_files) == _inodes(up_files)
    assert filt_files and not (_inodes(filt_files) & _inodes(up_files))
    want = up.read(spark)
    pd.testing.assert_frame_equal(_pdf(want), _pdf(LakehouseTable(full).read(spark)))
    pd.testing.assert_frame_equal(
        _pdf(want.where(F.expr(PRED))), _pdf(LakehouseTable(filt).read(spark))
    )
