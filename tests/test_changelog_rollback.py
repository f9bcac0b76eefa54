"""Incremental changelog read (CDC-out) + rollback — the table-format
features that let a downstream pipeline chain off the ingested table
(Iceberg incremental scan / rollback_to_snapshot parity; the reference has
no equivalent — its audit DB only records counts, SURVEY.md §2 T9).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from data_pipeline_spark.operators.lww import lww_dedup
from data_pipeline_spark.operators.merge import MASK_COL, collapse_partial
from data_pipeline_spark.oracle import reduce_feed, reduce_feed_sequential
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob

from conftest import UPGRADE_ERROR

SPEC = FeedSpec(n_events=12_000, n_convs=250, seed=77, chunk_size=3_000)


def _tbl(spark, table):
    return (
        table.read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("chlog")
    feed = root / "feed"
    generate_feed(str(feed), SPEC)
    job = IngestJob(str(root / "t"), str(root / "ctl"))
    # compact_every high: keep every delta in history for the changelog
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=8, compact_every=99)
    job.run_to_completion(spark, str(feed), str(root / "ckpt"), max_files_per_trigger=1)
    return job


def test_changelog_covers_all_batches(spark, ingested):
    changes = ingested.table.read_changes(spark, from_snapshot_id=0)
    ctl = ingested.read_control(spark).toPandas()
    per_batch_ctl = ctl.groupby("batch_id")["rows_applied"].sum().to_dict()
    per_batch_log = {
        int(r["_batch_id"]): int(r["n"])
        for r in changes.groupBy("_batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_batch_log == per_batch_ctl
    # ops are the collapsed changesets: tombstones included
    ops = {r["_change_op"] for r in changes.select("_change_op").distinct().collect()}
    assert "D" in ops and ops <= {"I", "U", "D"}


def test_changelog_replays_into_identical_table(spark, ingested, tmp_path):
    """Completeness proof: a second table built ONLY from the changelog
    equals the source table — downstream CDC replication works."""
    changes = ingested.table.read_changes(spark, from_snapshot_id=0)
    chg = changes.select(
        F.col("lsn"), F.col("_change_op").alias("op"),
        *[f.name for f in TRANSCRIPT_SCHEMA.fields],
    )
    mirror = LakehouseTable(str(tmp_path / "mirror"))
    mirror.create(TRANSCRIPT_SCHEMA, n_buckets=8)
    deduped = lww_dedup(chg).withColumn("_bucket", mirror.bucket_expr(8))
    mirror.merge(spark, batch_id=0, changes=deduped)
    pd.testing.assert_frame_equal(_tbl(spark, mirror), _tbl(spark, ingested.table))


def test_changelog_incremental_window(spark, ingested):
    """from/to bounds slice the changelog by commit, not by file overlap."""
    chain = ingested.table.history()
    merge_snaps = [s for s in chain if s["kind"] == "merge" and s.get("batch_id") is not None]
    assert len(merge_snaps) >= 3
    mid = merge_snaps[1]["snapshot_id"]
    first_two = ingested.table.read_changes(spark, 0, to_snapshot_id=mid)
    rest = ingested.table.read_changes(spark, mid)
    total = ingested.table.read_changes(spark, 0)
    assert first_two.count() + rest.count() == total.count()
    assert rest.select(F.min("_snapshot_id")).first()[0] > mid


def test_changelog_partial_mode_carries_masks(spark, tmp_path):
    feed = tmp_path / "feed"
    spec = FeedSpec(n_events=6_000, n_convs=150, seed=31, chunk_size=2_000, partial_updates=True)
    generate_feed(str(feed), spec)
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.table.create(
        TRANSCRIPT_SCHEMA, n_buckets=4,
        update_mode="partial", compact_every=99,
    )
    job.run_to_completion(spark, str(feed), str(tmp_path / "ckpt"), max_files_per_trigger=1)
    changes = job.table.read_changes(spark, 0)
    assert MASK_COL in changes.columns
    masks = changes.select(MASK_COL).distinct().toPandas()[MASK_COL].tolist()
    assert -1 in masks and 0 in masks and any(m not in (-1, 0) for m in masks)

    # replicate through the changelog with the partial fold
    mirror = LakehouseTable(str(tmp_path / "mirror"))
    mirror.create(TRANSCRIPT_SCHEMA, n_buckets=4, update_mode="partial")
    chg = changes.select(
        "lsn", F.col("_change_op").alias("op"), MASK_COL,
        *[f.name for f in TRANSCRIPT_SCHEMA.fields],
    )
    collapsed = collapse_partial(chg, mirror.field_bits()).withColumn(
        "_bucket", mirror.bucket_expr(4)
    )
    mirror.merge(spark, batch_id=0, changes=collapsed)
    pd.testing.assert_frame_equal(_tbl(spark, mirror), _tbl(spark, job.table))


def test_cow_merge_changelog_raises(spark, legacy_table):
    """A COW merge (older versions' copy-on-write tables) left no changeset
    behind to read; the format gate refuses the table until upgrade."""
    with pytest.raises(ValueError, match=UPGRADE_ERROR):
        legacy_table("t").read_changes(spark, 0).count()


def test_rollback_restores_state_and_allows_reapply(spark, tmp_path):
    feed = tmp_path / "feed"
    spec = FeedSpec(n_events=8_000, n_convs=200, seed=13, chunk_size=2_000)
    generate_feed(str(feed), spec)
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=8, compact_every=99)
    job.run_to_completion(spark, str(feed), str(tmp_path / "ckpt"), max_files_per_trigger=2)

    final_expected = _tbl(spark, job.table)
    chain = job.table.history()
    mid = [s for s in chain if s["kind"] == "merge"][0]  # after first merge
    mid_state = job.table.read(spark, snapshot_id=mid["snapshot_id"]).toPandas() \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    r = job.table.rollback_to(mid["snapshot_id"])
    assert r["restored"] == mid["snapshot_id"]
    pd.testing.assert_frame_equal(_tbl(spark, job.table), mid_state)

    # re-ingest from a fresh checkpoint: batches after the rolled-back point
    # re-apply (their batch_ids exceed the restored last_batch_id)
    job.run_to_completion(spark, str(feed), str(tmp_path / "ckpt2"), max_files_per_trigger=2)
    pd.testing.assert_frame_equal(_tbl(spark, job.table), final_expected)
    # and the result still matches the oracle
    exp = reduce_feed(generate_feed_pandas(spec))
    got = _tbl(spark, job.table)
    assert got["text"].tolist() == exp["text"].tolist()


def test_tail_changes_cursor(spark, tmp_path):
    """Incremental changelog consumption with a durable cursor: two tail
    calls around new merges see disjoint changes whose union equals the full
    changelog; committing the cursor makes the next call empty."""
    feed = tmp_path / "feed"
    spec = FeedSpec(n_events=6_000, n_convs=150, seed=23, chunk_size=2_000)
    generate_feed(str(feed), spec)
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=99)
    cursor = str(tmp_path / "consumer.cursor")

    # batch 0 only
    raw = spark.read.parquet(str(feed / "chunk-000000.parquet"))
    job.apply_batch(spark, 0, raw)
    c1, cur1 = job.table.tail_changes(spark, cursor)
    n1 = c1.count()
    assert n1 > 0
    LakehouseTable.commit_cursor(cursor, cur1)

    # nothing new yet
    c_none, cur_none = job.table.tail_changes(spark, cursor)
    assert c_none is None

    # two more batches
    job.apply_batch(spark, 1, spark.read.parquet(str(feed / "chunk-000001.parquet")))
    job.apply_batch(spark, 2, spark.read.parquet(str(feed / "chunk-000002.parquet")))
    c2, cur2 = job.table.tail_changes(spark, cursor)
    n2 = c2.count()
    LakehouseTable.commit_cursor(cursor, cur2)

    total = job.table.read_changes(spark, 0).count()
    assert n1 + n2 == total

    # a duplicate batch commits no data files: the tail sees zero new rows
    job.apply_batch(spark, 3, spark.read.parquet(str(feed / "chunk-000000.parquet")))
    c3, _ = job.table.tail_changes(spark, cursor)
    assert c3 is None or c3.count() == 0
