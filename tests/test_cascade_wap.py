"""Cursor-driven cascade edge over a write-audit-publish upstream.

Staged delta files exist on disk the moment a batch lands on the audit
branch; `poll_once` consumes the PUBLISHED chain via `tail_changes`, so
the replica can only ever contain audited state — never unaudited or
discarded batches."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.cascade import CascadeJob
from data_pipeline_spark.streaming.wap import (
    AuditFailedError,
    WapIngestJob,
    audit_changes_clean,
    combine_audits,
)


def _feed(n, seed, base=0):
    pdf = generate_feed_pandas(FeedSpec(n_events=n, n_convs=40, seed=seed))
    pdf["lsn"] = pdf["lsn"] + base
    return pdf


def _df(spark, pdf):
    return spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)


def _texts(spark, path):
    return (
        LakehouseTable(path).read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)["text"]
        .tolist()
    )


def test_cursor_edge_replicates_only_published(spark, tmp_path):
    up = str(tmp_path / "A")
    down = str(tmp_path / "B")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    LakehouseTable(down).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    wap = WapIngestJob(
        up, str(tmp_path / "ctl-up"),
        audit=combine_audits(audit_changes_clean("text", "POISON")),
    )
    edge = CascadeJob(up, down, str(tmp_path / "ctl-edge"))
    cursor = str(tmp_path / "cursor.json")

    # published batch replicates
    b0 = _feed(1_500, 101)
    wap.apply_batch(spark, 0, _df(spark, b0))
    assert edge.run_until_caught_up(spark, cursor) == 1
    assert _texts(spark, down) == reduce_feed(b0)["text"].tolist()
    assert edge.lag()["lag_lsns"] == 0

    # a poisoned batch is staged then discarded — the cursor edge sees
    # nothing, while the delta FILES for it briefly existed on disk
    hi = int(b0["lsn"].max())
    bad = _feed(600, 102, base=hi)
    bad["payload"] = bad["payload"].str.replace("turn", "POISON", regex=False)
    with pytest.raises(AuditFailedError):
        wap.apply_batch(spark, 1, _df(spark, bad))
    assert edge.run_until_caught_up(spark, cursor) == 0
    assert not any("POISON" in (t or "") for t in _texts(spark, down))

    # subsequent clean publishes flow; the discarded snapshot never does
    b1 = _feed(600, 103, base=hi)
    wap.apply_batch(spark, 1, _df(spark, b1))
    b2 = _feed(600, 104, base=hi + 600)
    wap.apply_batch(spark, 2, _df(spark, b2))
    assert edge.run_until_caught_up(spark, cursor) >= 1
    expected = reduce_feed(pd.concat([b0, b1, b2], ignore_index=True))
    assert _texts(spark, down) == expected["text"].tolist()
    assert not any("POISON" in (t or "") for t in _texts(spark, down))


def test_cursor_edge_crash_between_apply_and_commit(spark, tmp_path):
    """Redelivery window: apply landed, cursor commit lost — the re-poll
    re-reads the same window and the idempotent merge absorbs it."""
    up = str(tmp_path / "A")
    down = str(tmp_path / "B")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    LakehouseTable(down).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    from data_pipeline_spark.streaming.ingest import IngestJob

    ingest = IngestJob(up, str(tmp_path / "ctl-up"))
    edge = CascadeJob(up, down, str(tmp_path / "ctl-edge"))
    cursor = str(tmp_path / "cursor.json")

    b0 = _feed(1_200, 105)
    ingest.apply_batch(spark, 0, _df(spark, b0))
    assert edge.run_until_caught_up(spark, cursor) == 1
    before = _texts(spark, down)

    os.unlink(cursor)  # lose the cursor commit: full redelivery
    assert edge.run_until_caught_up(spark, cursor) in (0, 1)
    assert _texts(spark, down) == before == reduce_feed(b0)["text"].tolist()

    # and new upstream commits still flow after the redelivery
    b1 = _feed(500, 106, base=int(b0["lsn"].max()))
    ingest.apply_batch(spark, 1, _df(spark, b1))
    assert edge.run_until_caught_up(spark, cursor) == 1
    expected = reduce_feed(pd.concat([b0, b1], ignore_index=True))
    assert _texts(spark, down) == expected["text"].tolist()


def test_corpus_view_cursor_mode_tracks_published_only(spark, tmp_path):
    """The documents view in cursor mode equals assemble_conversations over
    the PUBLISHED upstream — staged and discarded batches never surface."""
    from data_pipeline_spark.operators.corpus import assemble_conversations
    from data_pipeline_spark.streaming.corpus_view import CorpusViewJob

    up = str(tmp_path / "A")
    view = str(tmp_path / "V")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    CorpusViewJob.create_view_table(view, n_buckets=4)
    wap = WapIngestJob(
        up, str(tmp_path / "ctl-up"),
        audit=combine_audits(audit_changes_clean("text", "POISON")),
    )
    vj = CorpusViewJob(up, view, str(tmp_path / "ctl-view"))
    cursor = str(tmp_path / "vcursor.json")

    b0 = _feed(1_500, 111)
    wap.apply_batch(spark, 0, _df(spark, b0))
    assert vj.run_until_caught_up(spark, cursor) == 1

    def view_frame():
        return (
            LakehouseTable(view).read(spark)
            .select("conv_id", "doc_text", "n_turns")
            .toPandas().sort_values("conv_id").reset_index(drop=True)
        )

    def oracle_frame():
        return (
            assemble_conversations(LakehouseTable(up).read(spark))
            .select("conv_id", "doc_text", "n_turns")
            .toPandas().sort_values("conv_id").reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(view_frame(), oracle_frame())

    # discarded poison never reaches the view; staged-only changes don't
    # trigger refreshes
    hi = int(b0["lsn"].max())
    bad = _feed(600, 112, base=hi)
    bad["payload"] = bad["payload"].str.replace("turn", "POISON", regex=False)
    with pytest.raises(AuditFailedError):
        wap.apply_batch(spark, 1, _df(spark, bad))
    assert vj.run_until_caught_up(spark, cursor) == 0
    assert not view_frame()["doc_text"].str.contains("POISON").any()

    # later publish refreshes only the published churn, view == oracle
    b1 = _feed(600, 113, base=hi)
    wap.apply_batch(spark, 1, _df(spark, b1))
    assert vj.run_until_caught_up(spark, cursor) == 1
    pd.testing.assert_frame_equal(view_frame(), oracle_frame())
    assert not view_frame()["doc_text"].str.contains("POISON").any()
