"""Source-transaction consistency (streaming/txn.py).

The reference applies change records per source COMMIT (commitpoint
batching — SURVEY.md §2 T6); micro-batches cut mid-transaction. These tests
prove the TxnAligner restores commit-point semantics (no reader ever
observes a torn source transaction, single- and multi-table) and that the
TxnCatalog makes multi-table batches atomically visible, including across
injected crashes between per-table commits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA, TXN_EVENT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob
from data_pipeline_spark.streaming.multi_table import (
    MULTI_TXN_EVENT_SCHEMA,
    MultiTableIngestJob,
)
from data_pipeline_spark.streaming.txn import TxnCatalog
from conftest import crash_after

SPEC = FeedSpec(
    n_events=9_000, n_convs=250, seed=7, chunk_size=1_500, with_txns=True,
    txn_mean_size=20,
)


@pytest.fixture(scope="module")
def feed() -> pd.DataFrame:
    return generate_feed_pandas(SPEC)


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("txnfeed")
    generate_feed(str(d), SPEC)
    return str(d)


def _is_txn_boundary(feed: pd.DataFrame, lsn: int) -> bool:
    """True iff `lsn` is the LAST event of its source transaction."""
    at = feed.loc[feed["lsn"] == lsn, "txn_id"]
    if at.empty:
        return False
    nxt = feed[feed["lsn"] > lsn]
    return nxt.empty or int(nxt.iloc[0]["txn_id"]) != int(at.iloc[0])


def _table_state(spark, path: str) -> pd.DataFrame:
    return (
        LakehouseTable(path)
        .read(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_feed_txn_shape(feed):
    # transactions are contiguous LSN ranges in commit order
    g = feed.groupby("txn_id")["lsn"]
    sizes = g.count()
    assert (g.max() - g.min() + 1 == sizes).all(), "txn not LSN-contiguous"
    assert feed.sort_values("lsn")["txn_id"].is_monotonic_increasing
    assert sizes.mean() == pytest.approx(SPEC.txn_mean_size, rel=0.35)


def test_no_torn_txn_after_every_batch(spark, feed, feed_dir, tmp_path):
    """Drive the feed chunk-by-chunk; after EVERY commit the table must
    equal the oracle of a COMPLETE-transaction prefix of the feed."""
    import os

    tbl = str(tmp_path / "t")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    job = IngestJob(tbl, str(tmp_path / "ctl"), txn_aligned=True)

    chunks = sorted(
        os.path.join(feed_dir, f) for f in os.listdir(feed_dir) if f.endswith(".parquet")
    )
    deferred_some = False
    for bid, chunk in enumerate(chunks):
        raw = spark.read.schema(TXN_EVENT_SCHEMA).parquet(chunk)
        job.apply_batch(spark, bid, raw)
        wm = LakehouseTable(tbl).current_snapshot().get("watermark_lsn") or 0
        # the applied prefix always ends exactly on a commit boundary
        assert _is_txn_boundary(feed, wm), f"batch {bid}: watermark {wm} tears a txn"
        chunk_max = (bid + 1) * SPEC.chunk_size
        if wm < chunk_max:
            deferred_some = True
        expected = reduce_feed(feed[feed["lsn"] <= wm])
        actual = _table_state(spark, tbl)
        assert actual["text"].tolist() == expected["text"].tolist()
    assert deferred_some, "alignment never deferred anything — test is vacuous"

    # drained feed: flush releases the held final transaction
    job.flush_pending(spark)
    final = _table_state(spark, tbl)
    expected = reduce_feed(feed)
    assert final["text"].tolist() == expected["text"].tolist()


def test_unaligned_ingest_does_tear(spark, feed, feed_dir, tmp_path):
    """Negative control: without alignment the same chunking commits
    mid-transaction — proves the invariant above discriminates."""
    import os

    tbl = str(tmp_path / "t")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    job = IngestJob(tbl, str(tmp_path / "ctl"))
    chunk = sorted(f for f in os.listdir(feed_dir) if f.endswith(".parquet"))[0]
    raw = spark.read.schema(TXN_EVENT_SCHEMA).parquet(os.path.join(feed_dir, chunk))
    job.apply_batch(spark, 0, raw)
    wm = LakehouseTable(tbl).current_snapshot()["watermark_lsn"]
    assert not _is_txn_boundary(feed, wm)


def test_stream_crash_resume_flush(spark, feed, feed_dir, tmp_path):
    """Streaming + injected crash: the spill protocol replays
    deterministically; final state equals the full-feed oracle."""
    tbl = str(tmp_path / "t")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    job = IngestJob(tbl, str(tmp_path / "ctl"), txn_aligned=True)
    crash_after(job, 2)
    q = job.start_stream(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=1)
    with pytest.raises(Exception):
        q.awaitTermination()
    del job.apply_batch
    job.run_to_completion(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=1)
    final = _table_state(spark, tbl)
    expected = reduce_feed(feed)
    assert final["text"].tolist() == expected["text"].tolist()
    # exactly-once audit: every committed batch exactly once
    ctl = job.read_control(spark).toPandas()
    assert (ctl.groupby("batch_id")["committed_at"].nunique() == 1).all()


def test_flush_then_same_checkpoint_resume_fails_loudly(spark, feed_dir, tmp_path):
    """After a drain+flush cutover, resuming the SAME checkpoint with new
    feed files must refuse (batch-id collision would silently skip rows)."""
    import shutil, os, time

    fd = str(tmp_path / "feed")
    os.makedirs(fd)
    chunks = sorted(f for f in os.listdir(feed_dir) if f.endswith(".parquet"))
    for c in chunks[:-1]:
        shutil.copy(os.path.join(feed_dir, c), os.path.join(fd, c))
    tbl = str(tmp_path / "t")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    job = IngestJob(tbl, str(tmp_path / "ctl"), txn_aligned=True)
    job.run_to_completion(spark, fd, str(tmp_path / "cp"), max_files_per_trigger=2)
    # new segment arrives after the cutover; same checkpoint resumes
    shutil.copy(os.path.join(feed_dir, chunks[-1]), os.path.join(fd, chunks[-1]))
    os.utime(os.path.join(fd, chunks[-1]), (time.time() + 5, time.time() + 5))
    with pytest.raises(Exception, match="collides with flushed"):
        job.run_to_completion(spark, fd, str(tmp_path / "cp"), max_files_per_trigger=2)


# --------------------------------------------------------------- multi-table


def _multi_feed(feed: pd.DataFrame) -> pd.DataFrame:
    """Tag each event with a table so most transactions SPAN both tables."""
    out = feed.copy()
    out.insert(0, "table_name", np.where(out["lsn"] % 2 == 0, "ta", "tb"))
    return out


def _expected_for(feed: pd.DataFrame, name: str, upto_lsn: int | None = None) -> pd.DataFrame:
    sl = feed[feed["table_name"] == name].drop(columns=["table_name"])
    if upto_lsn is not None:
        sl = sl[sl["lsn"] <= upto_lsn]
    return reduce_feed(sl)


def test_multitable_catalog_atomicity(spark, feed, tmp_path):
    """A transaction spanning two tables becomes visible to CATALOG readers
    atomically — even when a crash lands between the per-table commits."""
    mfeed = _multi_feed(feed)
    paths = {n: str(tmp_path / n) for n in ("ta", "tb")}
    for p in paths.values():
        LakehouseTable(p).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    router = MultiTableIngestJob(
        paths,
        str(tmp_path / "ctl"),
        txn_aligned=True,
        catalog_path=str(tmp_path / "catalog"),
    )
    catalog = router.catalog

    n_chunks = 4
    per = len(mfeed) // n_chunks
    chunks = [
        spark.createDataFrame(mfeed.iloc[i * per : (i + 1) * per], MULTI_TXN_EVENT_SCHEMA)
        for i in range(n_chunks)
    ]

    router.apply_batch(spark, 0, chunks[0])
    assert catalog.latest()["batch_id"] == 0
    # global commit boundary of batch 0: last row of the last txn that is
    # COMPLETE within chunk 0 (the newest txn in the chunk is deferred)
    c0 = mfeed.iloc[:per]
    wm0 = int(c0.loc[c0["txn_id"] < c0["txn_id"].max(), "lsn"].max())
    assert _is_txn_boundary(feed, wm0)
    # each table's applied watermark is its own slice of that global prefix
    for name in ("ta", "tb"):
        sl = mfeed[(mfeed["table_name"] == name) & (mfeed["lsn"] <= wm0)]
        got = LakehouseTable(paths[name]).current_snapshot()["watermark_lsn"]
        assert got == int(sl["lsn"].max())

    # inject a crash on table tb for batch 1: ta commits, tb does not
    real_apply = router.jobs["tb"].apply_batch

    def boom(*a, **k):
        raise RuntimeError("injected crash between per-table commits")

    router.jobs["tb"].apply_batch = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        router.apply_batch(spark, 1, chunks[1])
    router.jobs["tb"].apply_batch = real_apply

    # torn PHYSICAL state: ta has batch 1, tb does not ...
    assert LakehouseTable(paths["ta"]).current_snapshot()["last_batch_id"] == 1
    assert LakehouseTable(paths["tb"]).current_snapshot()["last_batch_id"] == 0
    # ... but the CATALOG still pins the batch-0 point on BOTH tables, and
    # that point is transaction-consistent across tables: the same global
    # commit boundary of the feed
    assert catalog.latest()["batch_id"] == 0
    for name in ("ta", "tb"):
        pinned = (
            catalog.read(spark, name, paths[name])
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        expected = _expected_for(mfeed, name, upto_lsn=wm0)
        assert pinned["text"].tolist() == expected["text"].tolist()

    # resume: redelivered batch no-ops on ta, applies on tb, catalog advances
    router.apply_batch(spark, 1, chunks[1])
    assert catalog.latest()["batch_id"] == 1
    for bid, chunk in enumerate(chunks[2:], start=2):
        router.apply_batch(spark, bid, chunk)
    router.flush_pending(spark)

    for name in ("ta", "tb"):
        final = (
            catalog.read(spark, name, paths[name])
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        expected = _expected_for(mfeed, name)
        assert final["text"].tolist() == expected["text"].tolist()

    # catalog history = cross-table time travel: version 0 still readable
    v0 = catalog.versions()[0]
    assert v0["batch_id"] == 0
    pinned0 = catalog.read(spark, "ta", paths["ta"], version=v0["version"]).toPandas()
    expected0 = _expected_for(mfeed, "ta", upto_lsn=wm0)
    assert len(pinned0) == len(expected0)


def test_fast_path_engages_and_matches_spark_path(spark, feed_dir, tmp_path):
    """The driver-side footer fast path must actually engage on file-backed
    batches (spill written by pyarrow, not Spark) and produce the same safe
    prefix + spill content as the Spark fallback."""
    import os

    from data_pipeline_spark.streaming.txn import TxnAligner

    chunks = sorted(
        os.path.join(feed_dir, f) for f in os.listdir(feed_dir) if f.endswith(".parquet")
    )[:2]
    fast = TxnAligner(str(tmp_path / "fast"))
    slow = TxnAligner(str(tmp_path / "slow"))
    for bid, chunk in enumerate(chunks):
        df = spark.read.schema(TXN_EVENT_SCHEMA).parquet(chunk)
        safe_fast = fast.align(spark, bid, df, files=[chunk])
        safe_slow = slow.align(spark, bid, df)
        # evidence the fast path ran: pyarrow writes a single part file
        spill = str(tmp_path / "fast" / f"batch={bid}")
        assert os.path.isdir(spill) and "part-00000.parquet" in os.listdir(spill)
        a = safe_fast.toPandas().sort_values("lsn").reset_index(drop=True)
        b = safe_slow.toPandas().sort_values("lsn").reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
        sa = (
            spark.read.schema(TXN_EVENT_SCHEMA).parquet(spill)
            .toPandas().sort_values("lsn").reset_index(drop=True)
        )
        sb = (
            spark.read.schema(TXN_EVENT_SCHEMA)
            .parquet(str(tmp_path / "slow" / f"batch={bid}"))
            .toPandas().sort_values("lsn").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(sa, sb)


def test_fast_path_ddl_probe_matches_spark_path(spark, tmp_path):
    """The driver-side DDL probe keeps exactly the safe region's DDL, as the
    Spark path does: DDL of complete transactions and DDL without a txn_id
    apply now, DDL of the deferred open transaction waits."""
    import os

    from data_pipeline_spark.streaming.txn import TxnAligner

    ddl = '{"action": "add_column", "name": "x%d", "type": "int"}'
    chunk = str(tmp_path / "chunk.parquet")
    pd.DataFrame({
        "lsn": pd.Series([1, 2, 3, 4, 5], dtype="int64"),
        "op": ["I", "DDL", "DDL", "I", "DDL"],
        "ts": pd.Series([pd.NaT] * 5, dtype="datetime64[us]"),
        "conv_id": ["c", None, None, "c", None],
        "turn_idx": pd.array([0, None, None, 1, None], dtype="Int32"),
        "payload": ['{"text": "a"}', ddl % 2, ddl % 3, '{"text": "b"}', ddl % 5],
        "txn_id": pd.array([1, 1, None, 2, 2], dtype="Int64"),
    }).to_parquet(chunk, index=False)
    df = spark.read.schema(TXN_EVENT_SCHEMA).parquet(chunk)
    fast = TxnAligner(str(tmp_path / "fast"))
    _, fast_ddl = fast.align(spark, 0, df, ddl_probe=True, files=[chunk])
    assert "part-00000.parquet" in os.listdir(str(tmp_path / "fast" / "batch=0"))
    _, slow_ddl = TxnAligner(str(tmp_path / "slow")).align(spark, 0, df, ddl_probe=True)
    assert sorted(fast_ddl) == sorted(slow_ddl) == [(2, ddl % 2), (3, ddl % 3)]


def test_fast_path_gc_keeps_consumed_spill_across_discard_gap(spark, tmp_path):
    """The footer fast path garbage-collects spills by the same rule as the
    Spark path: after an audit discard leaves a gap in the spill ids, the
    next batch must keep the newest spill below it, because a redelivery of
    that batch re-reads it."""
    import os

    from data_pipeline_spark.streaming.txn import TxnAligner

    def chunk(bid, lsn0, txns):
        path = str(tmp_path / f"chunk-{bid}.parquet")
        n = len(txns)
        pd.DataFrame({
            "lsn": pd.Series(range(lsn0, lsn0 + n), dtype="int64"),
            "op": ["I"] * n,
            "ts": pd.Series([pd.NaT] * n, dtype="datetime64[us]"),
            "conv_id": [f"c{lsn0 + i}" for i in range(n)],
            "turn_idx": pd.array([0] * n, dtype="Int32"),
            "payload": ['{"text": "x"}'] * n,
            "txn_id": pd.array(txns, dtype="Int64"),
        }).to_parquet(path, index=False)
        return path

    aligner = TxnAligner(str(tmp_path / "spill"))

    def align(bid, path):
        df = spark.read.schema(TXN_EVENT_SCHEMA).parquet(path)
        aligner.align(spark, bid, df, files=[path])
        # the fast path wrote this spill (pyarrow writes one part file)
        spill = aligner._spill_path(bid)
        assert "part-00000.parquet" in os.listdir(spill)

    align(3, chunk(3, 1, [6, 6, 7, 7]))     # txn 7 is deferred: spill 3
    align(4, chunk(4, 5, [7, 8, 8]))        # consumes spill 3, spills txn 8
    aligner.discard(4)                      # audit discard: spill 4 rolls back
    assert aligner._pending_ids() == [3]
    align(5, chunk(5, 8, [9, 9, 10]))
    # batch 5 consumed spill 3; its redelivery must still find it
    assert aligner._pending_ids() == [3, 5]


def test_aligner_passthrough_without_txn_envelope(spark, tmp_path):
    """A feed without txn ids ingests exactly as before (opt-in surface)."""
    spec = FeedSpec(n_events=2_000, n_convs=80, seed=3, chunk_size=2_000)
    pfeed = generate_feed_pandas(spec)
    tbl = str(tmp_path / "t")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    job = IngestJob(tbl, str(tmp_path / "ctl"), txn_aligned=True)
    from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA

    job.apply_batch(spark, 0, spark.createDataFrame(pfeed, CHANGE_EVENT_SCHEMA))
    actual = _table_state(spark, tbl)
    expected = reduce_feed(pfeed)
    assert actual["text"].tolist() == expected["text"].tolist()


def test_audit_discard_rolls_back_aligner_spill(spark, tmp_path):
    """WAP audit-discard × txn alignment: a poisoned batch's open-tail
    spill must roll back WITH the branch reset — otherwise the discarded
    batch's deferred events are prepended to the NEXT batch and the poison
    leaks into a later published commit. Also pins the spill GC across the
    resulting batch-id gap (redelivery of the post-discard batch must still
    find the pre-discard spill)."""
    from data_pipeline_spark.streaming.wap import (
        AuditFailedError,
        WapIngestJob,
        audit_changes_clean,
    )

    def chunked_txn_feed(n_chunks, per_chunk, seed0):
        out, lsn0, txn0 = [], 0, 0
        for i in range(n_chunks):
            pdf = generate_feed_pandas(
                FeedSpec(n_events=per_chunk, n_convs=60, seed=seed0 + i,
                         with_txns=True, txn_mean_size=15)
            )
            pdf["lsn"] = pdf["lsn"] + lsn0
            pdf["txn_id"] = pdf["txn_id"] + txn0
            lsn0 = int(pdf["lsn"].max())
            txn0 = int(pdf["txn_id"].max())
            out.append(pdf)
        return out

    chunks = chunked_txn_feed(4, 1_200, seed0=411)
    # poison chunk 2 — every one of its events must vanish, INCLUDING the
    # ones the aligner would defer into batch 3
    chunks[2]["payload"] = chunks[2]["payload"].str.replace(
        "turn", "POISON", regex=False
    )

    tbl = str(tmp_path / "t")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    wap = WapIngestJob(
        tbl, str(tmp_path / "ctl"),
        audit=audit_changes_clean("text", "POISON"),
        txn_aligned=True,
    )

    for bid in (0, 1):
        wap.apply_batch(spark, bid, spark.createDataFrame(chunks[bid], TXN_EVENT_SCHEMA))
    with pytest.raises(AuditFailedError):
        wap.apply_batch(spark, 2, spark.createDataFrame(chunks[2], TXN_EVENT_SCHEMA))
    # the discarded batch's spill is gone; batch 1's spill survives the gap
    assert wap.job.aligner._pending_ids() == [1]
    wap.apply_batch(spark, 3, spark.createDataFrame(chunks[3], TXN_EVENT_SCHEMA))
    # GC across the gap: batch 3's write must keep spill 1 (its redelivery
    # input), not blindly drop everything < batch_id - 1
    assert 1 in wap.job.aligner._pending_ids()

    # drain: flush the held tail, publish it
    wap.job.flush_pending(spark)
    wap.try_publish(spark)

    final = _table_state(spark, tbl)
    expected = reduce_feed(
        pd.concat([chunks[0], chunks[1], chunks[3]], ignore_index=True)
    )
    assert final["text"].tolist() == expected["text"].tolist()
    assert not final["text"].str.contains("POISON").any()
