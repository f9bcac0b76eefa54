"""High-churn corpus-view refresh (VERDICT r3 #3): when one refresh batch
touches more conversations than `table_format.HIGH_CHURN_CAP`, the view must switch
from the collected-id point-read to a distributed semi-join — no driver-side
id materialization — and still converge to the full re-assembly oracle.
Covers: 100%-of-corpus overwrite through the semi-join path, the mode
telemetry, and that small follow-up churn drops back to the point path."""

from __future__ import annotations

import pandas as pd

from data_pipeline_spark.operators.corpus import assemble_conversations
from data_pipeline_spark.plans import table_format
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.corpus_view import CorpusViewJob
from data_pipeline_spark.streaming.ingest import IngestJob


def _view_frame(spark, path) -> pd.DataFrame:
    return (
        LakehouseTable(path).read(spark)
        .select("conv_id", "doc_text", "n_turns", "n_chars")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )


def _oracle_frame(spark, upstream) -> pd.DataFrame:
    return (
        assemble_conversations(LakehouseTable(upstream).read(spark))
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )


def _apply(spark, job, table, batch_id, pdf):
    pdf = pdf.copy()
    pdf["lsn"] = pdf["lsn"] + (
        LakehouseTable(table).current_snapshot()["watermark_lsn"] or 0
    )
    job.apply_batch(
        spark, batch_id, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)
    )


def test_high_churn_semi_join_refresh(spark, tmp_path, monkeypatch):
    up = str(tmp_path / "up")
    view = str(tmp_path / "view")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    CorpusViewJob.create_view_table(view, n_buckets=4)
    ingest = IngestJob(up, str(tmp_path / "ctl-up"))
    monkeypatch.setattr(table_format, "HIGH_CHURN_CAP", 10)
    vj = CorpusViewJob(up, view, str(tmp_path / "ctl-view"))
    cursor = str(tmp_path / "view.cursor")

    # seed: 120 conversations — a single catch-up batch over them already
    # crosses the (tiny, test-sized) threshold → semi-join from the start
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=1_200, n_convs=120, seed=900)
    ))
    vj.run_until_caught_up(spark, cursor)
    assert vj.last_refresh_mode == "semi_join"
    pd.testing.assert_frame_equal(_view_frame(spark, view), _oracle_frame(spark, up))
    n_docs = len(_view_frame(spark, view))
    assert n_docs > 10

    # backfill-style batch touching 100% of conversations (every conv gets
    # at least one new turn): still the semi-join path, still converges
    convs = sorted(
        LakehouseTable(up).read(spark).select("conv_id").distinct()
        .toPandas()["conv_id"]
    )
    assert len(convs) == n_docs
    overwrite = pd.DataFrame({
        "lsn": range(1, len(convs) + 1),
        "op": ["U"] * len(convs),
        "ts": [pd.NaT] * len(convs),
        "conv_id": convs,
        "turn_idx": [0] * len(convs),
        "payload": [
            '{"role": "system", "text": "overwritten turn 0 of ' + c + '"}'
            for c in convs
        ],
    })
    _apply(spark, ingest, up, 1, overwrite)
    vj.run_until_caught_up(spark, cursor)
    assert vj.last_refresh_mode == "semi_join"
    got = _view_frame(spark, view)
    pd.testing.assert_frame_equal(got, _oracle_frame(spark, up))
    assert got["doc_text"].str.contains("overwritten turn 0").all()

    # small follow-up churn (3 conversations) drops back to the pruned
    # point-read path — the threshold is a cap, not a mode switch
    small = generate_feed_pandas(FeedSpec(n_events=30, n_convs=3, seed=901))
    _apply(spark, ingest, up, 2, small)
    vj.run_until_caught_up(spark, cursor)
    assert vj.last_refresh_mode == "point"
    pd.testing.assert_frame_equal(_view_frame(spark, view), _oracle_frame(spark, up))


def test_point_path_unchanged_for_small_churn(spark, tmp_path):
    """Default cap (100k): everything in a small test is point-mode —
    the r3 behavior is untouched for the design point."""
    up = str(tmp_path / "up")
    view = str(tmp_path / "view")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    CorpusViewJob.create_view_table(view, n_buckets=4)
    ingest = IngestJob(up, str(tmp_path / "ctl-up"))
    vj = CorpusViewJob(up, view, str(tmp_path / "ctl-view"))

    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=400, n_convs=40, seed=902)
    ))
    vj.run_until_caught_up(spark, str(tmp_path / "view.cursor"))
    assert vj.last_refresh_mode == "point"
    pd.testing.assert_frame_equal(_view_frame(spark, view), _oracle_frame(spark, up))
