"""Incrementally-maintained documents view (CorpusViewJob): the view table
must always equal `assemble_conversations(upstream)` — after initial
catch-up, after further upstream churn (incremental refresh from the same
cursor), and after a conversation is deleted outright (the view drops
its document). Refresh work is O(touched conversations) by construction;
the equality oracle is the full batch re-assembly."""

from __future__ import annotations

import pandas as pd
import pytest

from data_pipeline_spark.operators.corpus import assemble_conversations
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.corpus_view import CorpusViewJob
from data_pipeline_spark.streaming.ingest import IngestJob

from conftest import UPGRADE_ERROR


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
    job.apply_batch(spark, batch_id, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA))


def test_view_converges_and_refreshes_incrementally(spark, tmp_path):
    up = str(tmp_path / "up")
    view = str(tmp_path / "view")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    CorpusViewJob.create_view_table(view, n_buckets=4)
    ingest = IngestJob(up, str(tmp_path / "ctl-up"))
    vj = CorpusViewJob(up, view, str(tmp_path / "ctl-view"))
    cursor = str(tmp_path / "view.cursor")

    for b in range(3):
        _apply(spark, ingest, up, b, generate_feed_pandas(
            FeedSpec(n_events=600, n_convs=50, seed=600 + b)
        ))
    vj.run_until_caught_up(spark, cursor)
    pd.testing.assert_frame_equal(_view_frame(spark, view), _oracle_frame(spark, up))
    assert vj.lag()["lag_lsns"] == 0

    # upstream keeps moving: updates + new conversations; the SAME
    # cursor catches up incrementally (only the new commits' changes)
    for b in (10, 11):
        _apply(spark, ingest, up, b, generate_feed_pandas(
            FeedSpec(n_events=500, n_convs=80, seed=700 + b)
        ))
    vj.run_until_caught_up(spark, cursor)
    pd.testing.assert_frame_equal(_view_frame(spark, view), _oracle_frame(spark, up))
    assert vj.lag()["lag_lsns"] == 0


def test_view_drops_fully_deleted_conversation(spark, tmp_path):
    up = str(tmp_path / "up")
    view = str(tmp_path / "view")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    CorpusViewJob.create_view_table(view, n_buckets=4)
    ingest = IngestJob(up, str(tmp_path / "ctl-up"))
    vj = CorpusViewJob(up, view, str(tmp_path / "ctl-view"))
    cursor = str(tmp_path / "view.cursor")

    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=400, n_convs=20, seed=800)
    ))
    vj.run_until_caught_up(spark, cursor)
    victim = _view_frame(spark, view)["conv_id"].iloc[0]

    # delete EVERY turn of the victim conversation upstream
    turns = (
        LakehouseTable(up).read(spark)
        .where(f"conv_id = '{victim}'").select("turn_idx").toPandas()["turn_idx"]
    )
    assert len(turns) > 0
    dels = pd.DataFrame({
        "lsn": range(1, len(turns) + 1),
        "op": ["D"] * len(turns),
        "ts": [pd.NaT] * len(turns),
        "conv_id": [victim] * len(turns),
        "turn_idx": turns.astype("int32").tolist(),
        "payload": [None] * len(turns),
    })
    _apply(spark, ingest, up, 1, dels)
    assert LakehouseTable(up).read(spark).where(f"conv_id = '{victim}'").count() == 0

    vj.run_until_caught_up(spark, cursor)
    got = _view_frame(spark, view)
    assert victim not in set(got["conv_id"])
    pd.testing.assert_frame_equal(got, _oracle_frame(spark, up))


def test_view_options_match_batch_operators(spark, tmp_path):
    up = str(tmp_path / "up")
    view = str(tmp_path / "view")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    CorpusViewJob.create_view_table(view, n_buckets=4)
    ingest = IngestJob(up, str(tmp_path / "ctl-up"))
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=500, n_convs=40, seed=900)
    ))

    vj = CorpusViewJob(up, view, str(tmp_path / "ctl-view"), max_turns=2)
    vj.run_until_caught_up(spark, str(tmp_path / "view.cursor"))
    want = (
        assemble_conversations(LakehouseTable(up).read(spark), max_turns=2)
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(_view_frame(spark, view), want)
    assert want["n_turns"].max() <= 2


def test_cow_upstream_refused(spark, tmp_path, legacy_table):
    """A COW upstream (written by an older version) is refused by the
    format gate until it is upgraded."""
    up = legacy_table("up").path
    with pytest.raises(ValueError, match=UPGRADE_ERROR):
        vj = CorpusViewJob(up, str(tmp_path / "view"), str(tmp_path / "ctl-view"))
        vj.poll_once(spark, str(tmp_path / "view.cursor"))
