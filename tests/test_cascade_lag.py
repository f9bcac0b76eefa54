"""Edge health metric: CascadeJob.lag() reports how many LSNs the replica
trails the upstream commit point — 0 when caught up, positive after new
upstream commits, back to 0 after the edge drains them."""

from __future__ import annotations

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.cascade import CascadeFanout, CascadeJob, CascadeTarget
from data_pipeline_spark.streaming.ingest import IngestJob


def test_lag_tracks_upstream_commits(spark, tmp_path):
    feed = str(tmp_path / "feed")
    generate_feed(feed, FeedSpec(n_events=4_000, n_convs=100, seed=83, chunk_size=2_000))
    a = str(tmp_path / "a")
    LakehouseTable(a).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    IngestJob(a, str(tmp_path / "ctl-a")).run_to_completion(
        spark, feed, str(tmp_path / "cp-a"), max_files_per_trigger=2
    )
    b = str(tmp_path / "b")
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    edge = CascadeJob(a, b, str(tmp_path / "ctl-b"))
    cursor = str(tmp_path / "b.cursor")

    assert edge.lag()["lag_lsns"] == edge.lag()["upstream_lsn"] > 0  # nothing applied yet
    edge.run_until_caught_up(spark, cursor)
    assert edge.lag()["lag_lsns"] == 0

    feed2 = generate_feed_pandas(FeedSpec(n_events=1_000, n_convs=100, seed=89))
    feed2["lsn"] = feed2["lsn"] + LakehouseTable(a).current_snapshot()["watermark_lsn"]
    IngestJob(a, str(tmp_path / "ctl-a")).apply_batch(
        spark, 99, spark.createDataFrame(feed2, schema=CHANGE_EVENT_SCHEMA)
    )
    assert edge.lag()["lag_lsns"] == 1_000

    edge.run_until_caught_up(spark, cursor)
    assert edge.lag()["lag_lsns"] == 0

def test_fanout_lag_per_target(spark, tmp_path):
    feed = str(tmp_path / "feed-f")
    generate_feed(feed, FeedSpec(n_events=4_000, n_convs=100, seed=97, chunk_size=2_000))
    a = str(tmp_path / "af")
    LakehouseTable(a).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    IngestJob(a, str(tmp_path / "ctl-af")).run_to_completion(
        spark, feed, str(tmp_path / "cp-af"), max_files_per_trigger=2
    )
    targets = [
        CascadeTarget("full", str(tmp_path / "t-full")),
        CascadeTarget("users", str(tmp_path / "t-users"), row_predicate="role = 'user'"),
    ]
    for t in targets:
        LakehouseTable(t.table_path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    fan = CascadeFanout(a, targets, str(tmp_path / "ctl-f"))
    lag0 = fan.lag()
    assert set(lag0) == {"full", "users"}
    assert all(v["lag_lsns"] == v["upstream_lsn"] > 0 for v in lag0.values())
    fan.run_until_caught_up(spark, str(tmp_path / "f.cursor"))
    assert fan.lag()["full"]["lag_lsns"] == 0
