"""T10 initsync verification + T11 quarantine error handling."""

from __future__ import annotations

import pandas as pd
import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob


def test_initsync_overwrite_and_verify(spark, tmp_path):
    """Snapshot load + row-count/symmetric-difference verification (the
    reference's initsync verify: data_pipeline/initsync_pipe.py)."""
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=8)
    src = spark.createDataFrame(
        [("c1", 0, "user", "hello", None, None), ("c1", 1, "assistant", "hi", None, None)],
        schema=TRANSCRIPT_SCHEMA,
    )
    tbl.overwrite(spark, src)
    report = tbl.verify_against(spark, src)
    assert report["ok"] and report["source_rows"] == 2 and report["target_rows"] == 2

    # corruption detection: verify against a different source fails
    other = spark.createDataFrame(
        [("c1", 0, "user", "TAMPERED", None, None), ("c1", 1, "assistant", "hi", None, None)],
        schema=TRANSCRIPT_SCHEMA,
    )
    bad = tbl.verify_against(spark, other)
    assert not bad["ok"] and bad["missing_in_target"] == 1 and bad["extra_in_target"] == 1


@pytest.mark.parametrize("decoder", ["pandas"])
def test_quarantine_bad_payloads(spark, tmp_path, decoder):
    spec = FeedSpec(n_events=2_000, n_convs=50, seed=42)
    feed = generate_feed_pandas(spec)
    # corrupt some payloads: malformed JSON on two I rows
    bad_idx = feed.index[feed["op"] == "I"][:2]
    feed.loc[bad_idx, "payload"] = '{"role": broken'
    tbl_path = str(tmp_path / f"t-{decoder}")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    job = IngestJob(
        tbl_path, str(tmp_path / f"ctl-{decoder}"), on_error="quarantine",
        quarantine_path=str(tmp_path / f"q-{decoder}"),
    )
    job.apply_batch(spark, 0, spark.createDataFrame(feed, schema=CHANGE_EVENT_SCHEMA))

    q = spark.read.parquet(str(tmp_path / f"q-{decoder}")).toPandas()
    assert len(q) == 2
    assert set(q["lsn"]) == {int(feed.loc[i, "lsn"]) for i in bad_idx}
    assert q["_error"].notna().all()

    # final state == oracle over the feed WITHOUT the corrupt records
    clean = feed.drop(index=bad_idx)
    expected = reduce_feed(clean)
    actual = (
        LakehouseTable(tbl_path).read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert actual["text"].tolist() == expected["text"].tolist()


@pytest.mark.parametrize("decoder", ["pandas"])
def test_abort_mode_fails_batch(spark, tmp_path, decoder):
    """Abort mode fails the batch on a malformed payload instead of
    nulling the row out."""
    spec = FeedSpec(n_events=500, n_convs=20, seed=42)
    feed = generate_feed_pandas(spec)
    feed.loc[feed.index[feed["op"] == "I"][:1], "payload"] = "not json at all"
    tbl_path = str(tmp_path / "t")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    job = IngestJob(tbl_path, str(tmp_path / "ctl"))  # default abort
    with pytest.raises(Exception):
        job.apply_batch(spark, 0, spark.createDataFrame(feed, schema=CHANGE_EVENT_SCHEMA))
    # nothing was committed — the table is still at the create snapshot
    assert LakehouseTable(tbl_path).current_snapshot()["snapshot_id"] == 0


def test_reprocess_quarantine_after_fix(spark, tmp_path):
    """The reference's skip-then-reprocess workflow: corrupt records land in
    the dead-letter dir WITH their raw payload; after the payloads are fixed
    the batch re-applies under a fresh batch_id, bypassing the watermark
    (old LSNs slot into the fold correctly), and the table converges to the
    full-feed oracle."""
    import glob

    spec = FeedSpec(n_events=2_000, n_convs=50, seed=42)
    feed = generate_feed_pandas(spec)
    bad_idx = feed.index[feed["op"] == "I"][:2]
    originals = {int(feed.loc[i, "lsn"]): feed.loc[i, "payload"] for i in bad_idx}
    feed.loc[bad_idx, "payload"] = '{"role": broken'

    tbl_path = str(tmp_path / "t")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    qdir = str(tmp_path / "q")
    job = IngestJob(
        tbl_path, str(tmp_path / "ctl"), on_error="quarantine", quarantine_path=qdir
    )
    job.apply_batch(spark, 0, spark.createDataFrame(feed, schema=CHANGE_EVENT_SCHEMA))

    # "fix the upstream defect": repair the payloads inside the dead letters
    import os

    for f in glob.glob(f"{qdir}/batch=*/**/*.parquet", recursive=True):
        q = pd.read_parquet(f)
        q["payload"] = q["lsn"].map(originals).fillna(q["payload"])
        q.to_parquet(f, index=False)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)  # stale Hadoop checksum of the pre-fix file

    r = job.reprocess_quarantine(spark, batch_id=1)
    assert not r.get("skipped")

    feed.loc[bad_idx, "payload"] = [originals[int(feed.loc[i, "lsn"])] for i in bad_idx]
    expected = reduce_feed(feed)
    actual = (
        LakehouseTable(tbl_path).read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert len(actual) == len(expected)
    assert actual["text"].tolist() == expected["text"].tolist()
