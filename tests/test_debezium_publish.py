"""DebeziumPublishJob (streaming/publish.py): an engine table published as
Debezium chunks is consumable by a downstream engine (the hardest consumer
to satisfy — byte-for-byte table equality), and a crash between the chunk
write and the cursor commit ends with one complete chunk set per window,
without deleting or rewriting any visible chunk."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.debezium import read_debezium_batch
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed
from data_pipeline_spark.streaming.ingest import IngestJob
from data_pipeline_spark.streaming.publish import DebeziumPublishJob


def _advance(spark, tmp_path, up, seed, n, batch_id):
    """New upstream activity: a feed segment with LSNs continuing past the
    table's watermark, applied under a fresh explicit batch id."""
    from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA
    from data_pipeline_spark.sources.feed import generate_feed_pandas

    feed = generate_feed_pandas(FeedSpec(n_events=n, n_convs=120, seed=seed))
    feed["lsn"] += LakehouseTable(up).current_snapshot()["watermark_lsn"]
    IngestJob(up, str(tmp_path / f"ctl_{batch_id}")).apply_batch(
        spark, batch_id, spark.createDataFrame(feed, schema=CHANGE_EVENT_SCHEMA)
    )


def _table_pd(spark, path):
    return (
        LakehouseTable(path).read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def _consume(spark, tmp_path, wire_dir, name):
    down = str(tmp_path / name)
    LakehouseTable(down).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    raw = read_debezium_batch(spark, wire_dir)
    IngestJob(down, str(tmp_path / (name + "_ctl"))).apply_batch(spark, 0, raw)
    return down


@pytest.fixture(scope="module")
def pristine_upstream(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("pub")
    feed = str(base / "feed")
    generate_feed(feed, FeedSpec(n_events=5_000, n_convs=120, seed=17, chunk_size=1_000))
    up = str(base / "up")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=3)
    job = IngestJob(up, str(base / "cu"))
    job.run_to_completion(spark, feed, str(base / "ck"), max_files_per_trigger=2)
    return up


@pytest.fixture()
def upstream(pristine_upstream, tmp_path):
    import shutil

    up = str(tmp_path / "up")
    shutil.copytree(pristine_upstream, up)
    return up


def test_publish_and_consume_round_trip(spark, tmp_path, upstream):
    wire = str(tmp_path / "wire")
    pub = DebeziumPublishJob(upstream, wire)
    n = pub.run_until_caught_up(spark)
    assert n == 1  # whole retained backlog in one window
    # caught up: second poll publishes nothing
    assert pub.poll_once(spark)["published"] is False

    down = _consume(spark, tmp_path, wire, "down")
    pd.testing.assert_frame_equal(_table_pd(spark, upstream), _table_pd(spark, down))


def _crash_commit_once(monkeypatch):
    """Make the next commit_cursor raise (the job dies after its chunk set
    is placed, before the cursor commits), then restore it."""
    commit = LakehouseTable.commit_cursor

    def crash_once(path, cur):
        monkeypatch.setattr(LakehouseTable, "commit_cursor", staticmethod(commit))
        raise RuntimeError("injected crash (test hook)")

    monkeypatch.setattr(LakehouseTable, "commit_cursor", staticmethod(crash_once))


def _visible(wire) -> dict[str, tuple[int, float]]:
    """Visible chunk files (what a Spark reader lists): path → (inode, mtime)."""
    return {
        p: (os.stat(p).st_ino, os.stat(p).st_mtime)
        for p in (os.path.join(wire, fn) for fn in os.listdir(wire))
        if not os.path.basename(p).startswith(("_", "."))
    }


def test_crash_after_renames_republishes_same_paths(spark, tmp_path, upstream, monkeypatch):
    """Crash after the chunk renames, before the cursor commit, and the
    upstream advances: the retry publishes the identical window to the
    same paths and leaves every visible file as it was; the next poll
    publishes the newer window, and a consumer reproduces the upstream."""
    wire = str(tmp_path / "wire")
    pub = DebeziumPublishJob(upstream, wire)
    _crash_commit_once(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        pub.poll_once(spark)
    before = _visible(wire)
    assert before and not os.path.exists(pub.cursor_path)

    _advance(spark, tmp_path, upstream, seed=18, n=1_000, batch_id=99)
    r = pub.poll_once(spark)
    assert r["published"] and sorted(r["chunk_files"]) == sorted(before)
    assert _visible(wire) == before  # nothing deleted, rewritten or added

    r2 = pub.poll_once(spark)
    assert r2["published"] and r2["from_snapshot_id"] == r["to_snapshot_id"]
    assert pub.poll_once(spark)["published"] is False
    after = _visible(wire)
    assert {p: after[p] for p in before} == before
    down = _consume(spark, tmp_path, wire, "down")
    pd.testing.assert_frame_equal(_table_pd(spark, upstream), _table_pd(spark, down))


def test_crash_mid_renames_completes_chunk_set(spark, tmp_path, upstream, monkeypatch):
    """Crash after k of the n part renames: the retry renames the rest from
    the committed tmp dir, so the window's chunk set is complete and the
    k chunks already visible are untouched."""
    wire = str(tmp_path / "wire")
    pub = DebeziumPublishJob(upstream, wire)
    rename, done = os.rename, []

    def rename_k(src, dst, *args, **kwargs):
        if os.path.basename(dst).startswith("chunk-"):
            if len(done) == 1:
                raise OSError("injected crash mid-rename")
            done.append(dst)
        return rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "rename", rename_k)
    with pytest.raises(OSError, match="injected crash"):
        pub.poll_once(spark)
    monkeypatch.undo()
    (tmp,) = [fn for fn in os.listdir(wire) if fn.startswith(".chunk-")]
    left = [fn for fn in os.listdir(os.path.join(wire, tmp)) if fn.endswith(".parquet")]
    assert left, "the window must write more than one part"
    before = _visible(wire)
    assert list(before) == done

    r = pub.poll_once(spark)
    assert r["published"] and len(r["chunk_files"]) == len(left) + 1
    assert {p: _visible(wire)[p] for p in before} == before
    assert not os.path.exists(os.path.join(wire, tmp))
    down = _consume(spark, tmp_path, wire, "down")
    pd.testing.assert_frame_equal(_table_pd(spark, upstream), _table_pd(spark, down))


@pytest.mark.slow  # gate-budget: the crash-before-cursor-commit protocol is
# pinned in-gate by the two crash tests above; this sweep adds a second
# committed window and a consumer over both.
def test_incremental_windows_and_crash_replay(spark, tmp_path, upstream, monkeypatch):
    """Publish, advance upstream, crash between the chunk write and the
    cursor commit, advance again, then catch up: the retry finishes the
    crashed window and the next poll publishes the newer one, so the
    directory holds one chunk set per committed window and a consumer of
    all of them reproduces the upstream."""
    wire = str(tmp_path / "wire")
    pub = DebeziumPublishJob(upstream, wire)
    assert pub.run_until_caught_up(spark) == 1

    _advance(spark, tmp_path, upstream, seed=18, n=2_000, batch_id=99)
    _crash_commit_once(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        pub.poll_once(spark)
    crashed = _visible(wire)

    _advance(spark, tmp_path, upstream, seed=19, n=1_000, batch_id=100)
    assert pub.run_until_caught_up(spark) == 2  # the crashed window, then the new one
    after = _visible(wire)
    assert {p: after[p] for p in crashed} == crashed

    windows = {os.path.basename(p).rsplit("-", 1)[0] for p in after}
    assert len(windows) == 3
    down = _consume(spark, tmp_path, wire, "down")
    pd.testing.assert_frame_equal(_table_pd(spark, upstream), _table_pd(spark, down))


def test_projected_publish(spark, tmp_path, upstream):
    """columns= publishes a column-allowlisted wire (keys + subset)."""
    wire = str(tmp_path / "wire")
    DebeziumPublishJob(upstream, wire, columns=["text"]).run_until_caught_up(spark)
    got = read_debezium_batch(spark, wire).orderBy("lsn").toPandas()
    import json

    sample = json.loads(got.loc[got["op"] == "I", "payload"].iloc[0])
    assert set(sample) <= {"conv_id", "turn_idx", "text"}
    assert "text" in sample
