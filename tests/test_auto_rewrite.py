"""Auto manifest-list rewrite during ingest (rewrite_manifests_every):
a never-compacting table (compact_every=∞ — the cascade-hub config) keeps
its manifest list bounded by the threshold, in pure metadata, with reads
identical to a twin table ingesting the same batches with no rewrites.
"""

from __future__ import annotations

import pytest

import pandas as pd

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob


def _frame(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.mark.slow  # gate-budget: the auto-fold policy's building block
# (rewrite_manifests correctness + carry-by-name) stays in-gate via
# test_rewrite_manifests / test_manifest_scaling; the long bounded-growth
# sweep runs in the slow suite.
def test_auto_rewrite_bounds_manifest_list(spark, tmp_path):
    a = str(tmp_path / "auto")  # auto-rewrite at 4 manifests
    b = str(tmp_path / "plain")  # twin, unbounded list
    LakehouseTable(a).create(
        TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9,
        rewrite_manifests_every=4,
    )
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    ja = IngestJob(a, str(tmp_path / "ctl-a"))
    jb = IngestJob(b, str(tmp_path / "ctl-b"))

    lsn0 = 0
    max_seen = 0
    for batch in range(10):
        pdf = generate_feed_pandas(FeedSpec(n_events=400, n_convs=30, seed=500 + batch))
        pdf["lsn"] = pdf["lsn"] + lsn0
        df = spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)
        ja.apply_batch(spark, batch, df)
        jb.apply_batch(spark, batch, df)
        max_seen = max(max_seen, len(LakehouseTable(a).current_snapshot()["manifests"]))
        lsn0 = LakehouseTable(a).current_snapshot()["watermark_lsn"]
    ja.wait_maintenance()
    rewrites = [s["kind"] for s in LakehouseTable(a).history()].count("rewrite_manifests")

    assert rewrites >= 2  # the threshold actually fired, repeatedly
    assert max_seen <= 4  # list never exceeds the configured bound
    # twin with no upkeep grew one manifest per merge commit
    assert len(LakehouseTable(b).current_snapshot()["manifests"]) == 10
    pd.testing.assert_frame_equal(
        _frame(LakehouseTable(a).read(spark)), _frame(LakehouseTable(b).read(spark))
    )
    # the rewritten table's delta layer still replays as a changelog
    ca = LakehouseTable(a).read_changes(spark, 0)
    cb = LakehouseTable(b).read_changes(spark, 0)
    assert ca.count() == cb.count() > 0
