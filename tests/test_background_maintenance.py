"""Background maintenance: `merge` only commits, and the ingest job runs
`LakehouseTable.maintain` on its one runner thread after the batch's control
record is durable. The next batch does not wait for it: a merge and the
compaction racing it are rebased onto each other at commit. An error is
alerted, never fails a batch, and is retried by the next batch's
maintenance — until a bucket's backlog reaches 2 × compact_every, where
maintenance joins the pending run, runs inline and errors propagate.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.fsck import fsck
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob

N_BUCKETS = 4
#: 10 chunks of 300 events over 40 conversations: every chunk touches every
#: bucket, so all buckets share one compaction cycle.
SPEC = FeedSpec(n_events=3_000, n_convs=40, seed=7, chunk_size=300)


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("mfeed")
    generate_feed(str(d), SPEC)
    return str(d)


def _lines(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f]


def _assert_oracle(spark, tbl: LakehouseTable) -> None:
    actual = tbl.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    expected = reduce_feed(generate_feed_pandas(SPEC))
    assert actual["text"].tolist() == expected["text"].tolist()


def _job(tmp_path, compact_every: int) -> IngestJob:
    t = str(tmp_path / "t")
    LakehouseTable(t).create(TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS, compact_every=compact_every)
    return IngestJob(t, str(tmp_path / "ctl"))


def test_maintenance_record_per_run(spark, tmp_path):
    """One compacting batch + wait_maintenance(): exactly one record in
    maintenance.jsonl, a `compact` commit with its cost; `maintain` is a
    no-op once nothing is due."""
    job = _job(tmp_path, compact_every=1)
    pdf = generate_feed_pandas(SPEC).iloc[:300]
    res = job.apply_batch(spark, 0, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA))
    assert res["maintenance_due"]
    job.wait_maintenance()

    recs = _lines(os.path.join(job.control_path, "maintenance.jsonl"))
    assert len(recs) == 1
    rec = recs[0]
    assert rec["batch_id"] == 0 and rec["error"] is None and not rec["inline"]
    assert [c["kind"] for c in rec["commits"]] == ["compact"]
    assert rec["commits"][0]["snapshot_id"] == job.table.current_snapshot()["snapshot_id"]
    assert rec["buckets"] == list(range(N_BUCKETS))
    assert rec["files_rewritten"] >= N_BUCKETS
    assert rec["wall_s"] > 0
    assert job.table.delta_depth() == {}
    assert job.table.maintain(spark)["commits"] == []
    # the control dir still reads as one parquet dataset
    assert job.read_control(spark).select("batch_id").distinct().count() == 1


def test_maintenance_error_is_alerted_and_retried(spark, feed_dir, tmp_path, monkeypatch):
    """A compaction that fails once: the stream keeps running, the failure
    is one `maintenance_error` alert, and the next batch's maintenance
    compacts."""
    orig = LakehouseTable.compact
    calls = {"n": 0}

    def flaky(self, spark, buckets=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected compaction failure")
        return orig(self, spark, buckets=buckets)

    monkeypatch.setattr(LakehouseTable, "compact", flaky)
    job = _job(tmp_path, compact_every=2)
    job.run_to_completion(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=1)

    alerts = _lines(os.path.join(job.control_path, "alerts.jsonl"))
    assert [a["kind"] for a in alerts] == ["maintenance_error"]
    assert alerts[0]["batch_id"] == 1 and "injected" in alerts[0]["error"]
    recs = {r["batch_id"]: r for r in _lines(os.path.join(job.control_path, "maintenance.jsonl"))}
    assert recs[1]["error"] and recs[1]["commits"] == []
    assert [c["kind"] for c in recs[2]["commits"]] == ["compact"] and recs[2]["error"] is None
    assert job.read_control(spark).select("batch_id").distinct().count() == 10
    _assert_oracle(spark, job.table)
    assert fsck(job.table, deep=True)["ok"]


def test_backlog_bound_runs_inline_and_raises(spark, feed_dir, tmp_path, monkeypatch):
    """With compaction failing every time, the batch that brings a bucket
    to depth 2 × compact_every runs maintenance inline and fails."""

    def broken(self, spark, buckets=None):
        raise RuntimeError("injected compaction failure")

    monkeypatch.setattr(LakehouseTable, "compact", broken)
    job = _job(tmp_path, compact_every=2)
    q = job.start_stream(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=1)
    with pytest.raises(Exception, match="injected compaction failure"):
        q.awaitTermination()
    job.wait_maintenance()

    assert max(job.table.delta_depth().values()) == 4
    alerts = _lines(os.path.join(job.control_path, "alerts.jsonl"))
    assert [(a["kind"], a["batch_id"]) for a in alerts] == [
        ("maintenance_error", 1), ("maintenance_error", 2), ("abort", 3),
    ]
    recs = _lines(os.path.join(job.control_path, "maintenance.jsonl"))
    assert [(r["batch_id"], r["inline"]) for r in recs] == [(1, False), (2, False), (3, True)]


def test_cadence_without_self_conflict(spark, feed_dir, tmp_path, monkeypatch):
    """10 back-to-back batches at compact_every=2 with a slowed compaction:
    the next batch no longer waits for the running compaction, so merges
    land while it runs and whichever commits second is rebased onto the
    other (no CommitConflictError, no maintenance_error). Each batch lands
    once, at least one compaction is rebased over a merge, and the
    inline backlog bound keeps every depth at or below 2 × compact_every."""
    orig = LakehouseTable.compact

    def slow(self, spark, buckets=None):
        time.sleep(1.0)
        return orig(self, spark, buckets=buckets)

    monkeypatch.setattr(LakehouseTable, "compact", slow)
    job = _job(tmp_path, compact_every=2)
    q = job.start_stream(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=1)
    q.awaitTermination()
    assert q.exception() is None
    job.wait_maintenance()

    ctl = job.read_control(spark).toPandas()
    assert sorted(ctl["batch_id"].unique()) == list(range(10))
    assert (ctl.groupby("batch_id")["committed_at"].nunique() == 1).all()
    assert _lines(os.path.join(job.control_path, "alerts.jsonl")) == []

    hist = job.table.history()[1:]
    merges = [s for s in hist if s["kind"] == "merge"]
    assert [s["batch_id"] for s in merges] == list(range(10))
    assert all(s["stats"]["affected_buckets"] == N_BUCKETS for s in merges)
    assert max(max(s["delta_depth"].values(), default=0) for s in hist) <= 4
    recs = _lines(os.path.join(job.control_path, "maintenance.jsonl"))
    assert recs and all(r["error"] is None for r in recs)
    compacts = [c for r in recs for c in r["commits"] if c["kind"] == "compact"]
    assert any(c["rebased_over"] >= 1 for c in compacts)
    _assert_oracle(spark, job.table)
    assert fsck(job.table, deep=True)["ok"]
