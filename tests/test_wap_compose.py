"""WAP composition: DDL stages with data, and cursor tailing is the
publish-respecting consumption path.

`read_changes`/`tail_changes` walk the MAIN parent chain, so staged and
discarded snapshots are invisible to cursor consumers by construction —
and the cursor is the only way an in-engine consumer reads another
table's changes."""

from __future__ import annotations

import pandas as pd
import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob
from data_pipeline_spark.streaming.wap import (
    AuditFailedError,
    WapIngestJob,
    audit_changes_clean,
    combine_audits,
)


def _df(spark, pdf):
    return spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)


def test_ddl_stages_with_data_and_publishes_atomically(spark, tmp_path):
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4)
    wap = WapIngestJob(path, str(tmp_path / "ctl"))
    b0 = generate_feed_pandas(FeedSpec(n_events=1_000, n_convs=30, seed=61))
    wap.apply_batch(spark, 0, _df(spark, b0))
    published_cols = set(tbl.schema_struct().fieldNames())

    # stage a column add + a batch whose payloads populate it — on the branch
    branch = LakehouseTable(path, ref="audit")
    branch.apply_ddl([{"action": "add_column", "name": "rating", "type": "int"}])
    b1 = generate_feed_pandas(FeedSpec(n_events=500, n_convs=30, seed=62))
    b1["lsn"] = b1["lsn"] + int(b0["lsn"].max())
    b1["payload"] = b1["payload"].str.replace("}", ',"rating":7}', regex=False)
    wap.apply_batch(spark, 1, _df(spark, b1))

    # the DDL snapshot and the batch that uses the column published as ONE
    # fast-forward: main went from no-column to column-with-data atomically
    assert "rating" not in published_cols
    main_now = tbl.read(spark)
    assert "rating" in main_now.columns
    assert main_now.where("rating = 7").count() > 0

    # and the published history contains the ddl snapshot between merges
    kinds = [s["kind"] for s in tbl.history()]
    assert "ddl" in kinds


def test_staged_ddl_invisible_until_publish(spark, tmp_path):
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4)
    tbl.create_branch("audit")
    branch = LakehouseTable(path, ref="audit")
    branch.apply_ddl([{"action": "add_column", "name": "rating", "type": "int"}])
    # staged DDL: branch schema has it, main schema does not
    assert "rating" in branch.schema_struct().fieldNames()
    assert "rating" not in tbl.schema_struct().fieldNames()
    tbl.fast_forward("audit")
    assert "rating" in tbl.schema_struct().fieldNames()


def test_cursor_tail_never_sees_staged_or_discarded(spark, tmp_path):
    path = str(tmp_path / "t")
    tbl = LakehouseTable(path)
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    audit = combine_audits(audit_changes_clean("text", "POISON"))
    wap = WapIngestJob(path, str(tmp_path / "ctl"), audit=audit)
    cursor = str(tmp_path / "cursor.json")

    b0 = generate_feed_pandas(FeedSpec(n_events=1_000, n_convs=30, seed=71))
    wap.apply_batch(spark, 0, _df(spark, b0))  # published
    chg, cur = tbl.tail_changes(spark, cursor)
    assert chg is not None and chg.count() > 0
    LakehouseTable.commit_cursor(cursor, cur)

    # stage WITHOUT publishing (raw branch ingest, not the wap runner)
    staged_job = IngestJob(path, str(tmp_path / "ctl-raw"), ref="audit")
    b1 = generate_feed_pandas(FeedSpec(n_events=500, n_convs=30, seed=72))
    b1["lsn"] = b1["lsn"] + int(b0["lsn"].max())
    staged_job.apply_batch(spark, 1, _df(spark, b1))
    chg, _ = tbl.tail_changes(spark, cursor)
    assert chg is None  # staged ≠ published: the cursor has nothing new

    # a poisoned batch is discarded by the audit — branch resets to the
    # still-staged b1 head, poison snapshot abandoned
    bad = generate_feed_pandas(FeedSpec(n_events=400, n_convs=30, seed=73))
    bad["lsn"] = bad["lsn"] + int(b1["lsn"].max())
    bad["payload"] = bad["payload"].str.replace("turn", "POISON", regex=False)
    with pytest.raises(AuditFailedError):
        wap.apply_batch(spark, 2, _df(spark, bad))

    # a clean batch then publishes b1 + itself in one fast-forward
    b2 = generate_feed_pandas(FeedSpec(n_events=400, n_convs=30, seed=74))
    b2["lsn"] = b2["lsn"] + int(b1["lsn"].max())
    wap.apply_batch(spark, 2, _df(spark, b2))
    chg, cur = tbl.tail_changes(spark, cursor)
    got = chg.toPandas()
    assert set(got["_batch_id"].unique()) == {1, 2}
    assert not got["text"].fillna("").str.contains("POISON").any()
    LakehouseTable.commit_cursor(cursor, cur)

    # final state equals the oracle over exactly the published batches
    expected = reduce_feed(pd.concat([b0, b1, b2], ignore_index=True))
    actual = (
        tbl.read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert actual["text"].tolist() == expected["text"].tolist()
