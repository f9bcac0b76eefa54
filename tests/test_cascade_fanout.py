"""Fan-out cascade: N replica targets (full, filtered, projected) fed from
ONE read of each upstream changelog window, applied concurrently over the
shared cached window — plus crash/resume with per-target batch_id
idempotence.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed
from data_pipeline_spark.streaming.cascade import CascadeFanout, CascadeTarget
from data_pipeline_spark.streaming.ingest import IngestJob

PRED = "length(text) % 2 = 0"
SUBSET = T.StructType(
    [f for f in TRANSCRIPT_SCHEMA.fields if f.name in ("conv_id", "turn_idx", "role")]
)


def _mk_upstream(spark, tmp_path, name, seed):
    feed = str(tmp_path / f"feed-{name}")
    generate_feed(feed, FeedSpec(n_events=6_000, n_convs=120, seed=seed, chunk_size=2_000))
    path = str(tmp_path / name)
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    IngestJob(path, str(tmp_path / f"ctl-{name}")).run_to_completion(
        spark, feed, str(tmp_path / f"cp-{name}"), max_files_per_trigger=1
    )
    return path


def _mk_fanout(spark, tmp_path, a):
    full = str(tmp_path / "full")
    filt = str(tmp_path / "filt")
    proj = str(tmp_path / "proj")
    LakehouseTable(full).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    LakehouseTable(filt).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    LakehouseTable(proj).create(SUBSET, n_buckets=4)
    fanout = CascadeFanout(
        a,
        [
            CascadeTarget("full", full),
            CascadeTarget("filt", filt, row_predicate=PRED),
            CascadeTarget("proj", proj, columns=["role"]),
        ],
        str(tmp_path / "ctl-fan"),
    )
    return fanout, full, filt, proj


def _sorted_pdf(df):
    return df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _assert_all_replicas(spark, a, full, filt, proj):
    up = LakehouseTable(a).read(spark)
    pd.testing.assert_frame_equal(
        _sorted_pdf(up), _sorted_pdf(LakehouseTable(full).read(spark))
    )
    pd.testing.assert_frame_equal(
        _sorted_pdf(up.where(F.expr(PRED))),
        _sorted_pdf(LakehouseTable(filt).read(spark)),
    )
    pd.testing.assert_frame_equal(
        _sorted_pdf(up.select("conv_id", "turn_idx", "role")),
        _sorted_pdf(LakehouseTable(proj).read(spark)),
    )


def test_fanout_three_targets_one_pass(spark, tmp_path):
    a = _mk_upstream(spark, tmp_path, "a", seed=61)
    fanout, full, filt, proj = _mk_fanout(spark, tmp_path, a)
    assert fanout.run_until_caught_up(spark, str(tmp_path / "fan.cursor")) == 1
    _assert_all_replicas(spark, a, full, filt, proj)


def test_fanout_crash_resume(spark, tmp_path, monkeypatch):
    """One target's apply fails after the others committed: the shared
    cursor stays put, and the re-poll re-reads the same window — targets
    that already applied it skip by batch_id, the failed one catches up."""
    a = _mk_upstream(spark, tmp_path, "a2", seed=67)
    fanout, full, filt, proj = _mk_fanout(spark, tmp_path, a)
    cursor = str(tmp_path / "fan2.cursor")
    filt_job = fanout.jobs["filt"]
    apply_changes = filt_job.apply_changes

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(filt_job, "apply_changes", apply_changes)
        raise RuntimeError("injected crash (test hook)")

    monkeypatch.setattr(filt_job, "apply_changes", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        fanout.poll_once(spark, cursor)
    assert not (tmp_path / "fan2.cursor").exists()
    assert LakehouseTable(filt).read(spark).count() == 0

    res = fanout.poll_once(spark, cursor)
    assert res["result"]["full"].get("skipped") and res["result"]["proj"].get("skipped")
    assert not res["result"]["filt"].get("skipped")
    assert fanout.run_until_caught_up(spark, cursor) == 0
    _assert_all_replicas(spark, a, full, filt, proj)


def test_fanout_duplicate_names_refused(spark, tmp_path):
    a = _mk_upstream(spark, tmp_path, "a3", seed=3)
    with pytest.raises(ValueError, match="duplicate target names"):
        CascadeFanout(
            a,
            [CascadeTarget("x", str(tmp_path / "t1")), CascadeTarget("x", str(tmp_path / "t2"))],
            str(tmp_path / "ctl"),
        )
