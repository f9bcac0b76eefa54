"""Filtered / projected cascade replicas: the downstream table converges to
σ_predicate(upstream) (with updates that LEAVE the predicate converted to
downstream deletes) and/or a key+column-subset projection — the edge-level
analog of the reference's table/column allowlists, but with materialized-
view-correct semantics rather than "rows that matched when they flowed by".
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.cascade import CascadeJob
from data_pipeline_spark.streaming.ingest import IngestJob

#: flips between match/non-match as a key's text gains a new "rev <lsn>"
#: suffix on every update — exercises both predicate transitions
PRED = "length(text) % 2 = 0"


def _mk_upstream(spark, tmp_path, name, seed):
    feed = str(tmp_path / f"feed-{name}")
    generate_feed(feed, FeedSpec(n_events=6_000, n_convs=120, seed=seed, chunk_size=2_000))
    path = str(tmp_path / name)
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    IngestJob(path, str(tmp_path / f"ctl-{name}")).run_to_completion(
        spark, feed, str(tmp_path / f"cp-{name}"), max_files_per_trigger=1
    )
    return path


def _advance_upstream(spark, tmp_path, a, seed):
    feed2 = generate_feed_pandas(FeedSpec(n_events=4_000, n_convs=120, seed=seed))
    feed2["lsn"] = feed2["lsn"] + LakehouseTable(a).current_snapshot()["watermark_lsn"]
    IngestJob(a, str(tmp_path / "ctl-adv")).apply_batch(
        spark, 99, spark.createDataFrame(feed2, schema=CHANGE_EVENT_SCHEMA)
    )


def _sorted_pdf(df):
    return (
        df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def test_filtered_replica_equals_sigma_upstream(spark, tmp_path):
    a = _mk_upstream(spark, tmp_path, "a", seed=41)
    b = str(tmp_path / "b")
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    edge = CascadeJob(a, b, str(tmp_path / "ctl-b"), row_predicate=PRED)
    cursor = str(tmp_path / "b.cursor")

    edge.run_until_caught_up(spark, cursor)
    sigma = _sorted_pdf(LakehouseTable(a).read(spark).where(F.expr(PRED)))
    got = _sorted_pdf(LakehouseTable(b).read(spark))
    assert 0 < len(sigma) < len(_sorted_pdf(LakehouseTable(a).read(spark)))
    pd.testing.assert_frame_equal(sigma, got)

    # more upstream commits: keys flip INTO and OUT OF the predicate (text
    # gains a new rev suffix) — the replica must track σ, not accumulate
    _advance_upstream(spark, tmp_path, a, seed=43)
    edge.run_until_caught_up(spark, cursor)
    sigma2 = _sorted_pdf(LakehouseTable(a).read(spark).where(F.expr(PRED)))
    got2 = _sorted_pdf(LakehouseTable(b).read(spark))
    pd.testing.assert_frame_equal(sigma2, got2)
    # the U→D conversion actually fired: some key left the predicate set
    left = set(map(tuple, sigma[["conv_id", "turn_idx"]].values)) - set(
        map(tuple, sigma2[["conv_id", "turn_idx"]].values)
    )
    assert left


def test_projected_replica_column_subset(spark, tmp_path):
    a = _mk_upstream(spark, tmp_path, "a2", seed=47)
    subset_schema = T.StructType(
        [f for f in TRANSCRIPT_SCHEMA.fields if f.name in ("conv_id", "turn_idx", "role", "ts")]
    )
    b = str(tmp_path / "b2")
    LakehouseTable(b).create(subset_schema, n_buckets=4)
    CascadeJob(a, b, str(tmp_path / "ctl-b2"), columns=["role", "ts"]).run_until_caught_up(
        spark, str(tmp_path / "b2.cursor")
    )
    want = _sorted_pdf(
        LakehouseTable(a).read(spark).select("conv_id", "turn_idx", "role", "ts")
    )
    got = _sorted_pdf(LakehouseTable(b).read(spark))
    pd.testing.assert_frame_equal(want, got)


def test_filtered_and_projected_compose(spark, tmp_path):
    a = _mk_upstream(spark, tmp_path, "a3", seed=53)
    subset_schema = T.StructType(
        [f for f in TRANSCRIPT_SCHEMA.fields if f.name in ("conv_id", "turn_idx", "role")]
    )
    b = str(tmp_path / "b3")
    LakehouseTable(b).create(subset_schema, n_buckets=4)
    # predicate references `text`, which is NOT replicated — the conversion
    # runs on the full changelog row before projection, as it must
    CascadeJob(
        a, b, str(tmp_path / "ctl-b3"), row_predicate=PRED, columns=["role"]
    ).run_until_caught_up(spark, str(tmp_path / "b3.cursor"))
    want = _sorted_pdf(
        LakehouseTable(a).read(spark).where(F.expr(PRED)).select("conv_id", "turn_idx", "role")
    )
    got = _sorted_pdf(LakehouseTable(b).read(spark))
    pd.testing.assert_frame_equal(want, got)


def test_projected_replica_schema_mismatch_refused(spark, tmp_path):
    a = _mk_upstream(spark, tmp_path, "a4", seed=3)
    b = str(tmp_path / "b4")
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4)  # full schema
    with pytest.raises(ValueError, match="schema drift"):
        CascadeJob(a, b, str(tmp_path / "ctl-b4"), columns=["role"]).poll_once(
            spark, str(tmp_path / "b4.cursor")
        )


def test_changes_to_feed_rejects_bad_columns(spark, tmp_path):
    from data_pipeline_spark.sources.kafka import changes_to_feed

    a = _mk_upstream(spark, tmp_path, "a5", seed=5)
    changes = LakehouseTable(a).read_changes(spark, 0)
    with pytest.raises(ValueError, match="keys not allowed"):
        changes_to_feed(changes, columns=["conv_id", "role"])
    with pytest.raises(ValueError, match="not in changelog"):
        changes_to_feed(changes, columns=["nope"])
