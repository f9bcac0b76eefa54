"""M3: Structured Streaming ingest — checkpoint resume, exactly-once audit."""

from __future__ import annotations

import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob
from conftest import crash_after

SPEC = FeedSpec(n_events=12_000, n_convs=300, seed=42, chunk_size=2_000, hot_key=True)


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sfeed")
    generate_feed(str(d), SPEC)
    return str(d)


def _assert_final_state(spark, table_path):
    table = LakehouseTable(table_path)
    actual = (
        table.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    expected = reduce_feed(generate_feed_pandas(SPEC))
    assert actual["text"].tolist() == expected["text"].tolist()


def test_stream_drains_and_matches_oracle(spark, feed_dir, tmp_path):
    tbl = str(tmp_path / "t")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=16)
    job = IngestJob(tbl, str(tmp_path / "ctl"))
    job.run_to_completion(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=2)
    _assert_final_state(spark, tbl)
    ctl = job.read_control(spark).toPandas()
    assert ctl["batch_id"].nunique() == 3  # 6 chunks / 2 per trigger
    assert ctl.groupby("batch_id").size().gt(0).all()


def test_crash_resume_exactly_once(spark, feed_dir, tmp_path):
    """Kill after batch 1, resume: final state identical, no batch applied twice."""
    tbl = str(tmp_path / "t")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=16)
    job = IngestJob(tbl, str(tmp_path / "ctl"))
    crash_after(job, 1)
    q = job.start_stream(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=1)
    with pytest.raises(Exception):
        q.awaitTermination()
    del job.apply_batch
    # resume — checkpoint replays the in-flight batch; merge must dedup it
    job.run_to_completion(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=1)
    _assert_final_state(spark, tbl)
    ctl = job.read_control(spark).toPandas()
    # each batch_id committed exactly once (exactly-once audit)
    per_batch = ctl.groupby("batch_id")["committed_at"].nunique()
    assert (per_batch == 1).all()
    assert ctl["batch_id"].nunique() == 6
