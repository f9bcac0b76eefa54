"""Typed cascade apply: a replica hop hands the upstream's typed changelog to
the downstream merge (`IngestJob.apply_changes`) instead of re-encoding it
as JSON for `apply_batch` to decode. The replicas must match both the
upstream and the old route (changes_to_feed → apply_batch), and the polls
must call neither `apply_batch` nor the Python decode. The documents view
and the dedup index refresh the same way.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import data_pipeline_spark.functions.decode as decode_mod
import data_pipeline_spark.streaming.ingest as ingest_mod
from data_pipeline_spark.operators.corpus import assemble_conversations
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.sources.kafka import changes_to_feed
from data_pipeline_spark.streaming.cascade import (
    CascadeFanout,
    CascadeJob,
    CascadeTarget,
    filter_replica_changes,
)
from data_pipeline_spark.streaming.corpus_view import CorpusViewJob
from data_pipeline_spark.streaming.dedup_index import DedupIndexJob
from data_pipeline_spark.streaming.ingest import IngestJob
from test_dedup_index import _assert_index_equals_scratch

#: flips as a key's text gains a "rev <lsn>" suffix on each update, so
#: updates move keys into and out of the predicate
PRED = "length(text) % 2 = 0"
PROJ = ["role", "ts"]
PROJ_SCHEMA = T.StructType(
    [f for f in TRANSCRIPT_SCHEMA.fields if f.name in ("conv_id", "turn_idx", *PROJ)]
)
KEYS = ["conv_id", "turn_idx"]


def _pdf(df):
    return df.toPandas().sort_values(KEYS).reset_index(drop=True)


def _advance(spark, job, seed, n_events=1_500):
    """One upstream merge of a fresh feed slice (inserts, updates, deletes)
    above the table's watermark."""
    feed = generate_feed_pandas(FeedSpec(n_events=n_events, n_convs=40, seed=seed))
    feed["lsn"] = feed["lsn"] + (job.table.current_snapshot()["watermark_lsn"] or 0)
    bid = job.table.current_snapshot()["last_batch_id"] + 1
    job.apply_batch(spark, bid, spark.createDataFrame(feed, schema=CHANGE_EVENT_SCHEMA))
    job.wait_maintenance()


def _no_python_apply(monkeypatch):
    def boom(*args, **kwargs):
        raise AssertionError("an in-engine consumer re-entered the JSON decode path")

    monkeypatch.setattr(IngestJob, "apply_batch", boom)
    monkeypatch.setattr(ingest_mod, "decode_events", boom)
    monkeypatch.setattr(decode_mod, "decode_events", boom)


def test_typed_replicas_match_upstream_and_old_route(spark, tmp_path, monkeypatch):
    a = str(tmp_path / "a")
    # compact_every=2: the first window spans two merges plus a compaction
    LakehouseTable(a).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=2)
    up_job = IngestJob(a, str(tmp_path / "ctl-a"))
    up = LakehouseTable(a)

    def table(name, schema=TRANSCRIPT_SCHEMA):
        path = str(tmp_path / name)
        LakehouseTable(path).create(schema, n_buckets=4)
        return path

    edges = {
        "full": CascadeJob(a, table("full"), str(tmp_path / "ctl-full")),
        "filt": CascadeJob(a, table("filt"), str(tmp_path / "ctl-filt"), row_predicate=PRED),
        "proj": CascadeJob(a, table("proj", PROJ_SCHEMA), str(tmp_path / "ctl-proj"), columns=PROJ),
    }
    fan = CascadeFanout(
        a,
        [CascadeTarget("f-full", table("f-full")),
         CascadeTarget("f-filt-proj", table("f-filt-proj", PROJ_SCHEMA), PRED, PROJ)],
        str(tmp_path / "ctl-fan"),
    )
    # the old route: the same windows re-encoded and decoded by apply_batch
    old = {
        name: (IngestJob(table(f"old-{name}", schema), str(tmp_path / f"ctl-old-{name}")), pred, cols)
        for name, schema, pred, cols in (
            ("full", TRANSCRIPT_SCHEMA, None, None),
            ("filt", TRANSCRIPT_SCHEMA, PRED, None),
            ("proj", PROJ_SCHEMA, None, PROJ),
        )
    }

    def expected(pred, cols):
        df = up.read(spark)
        if pred is not None:
            df = df.where(F.expr(pred))
        return _pdf(df if cols is None else df.select(*KEYS, *cols))

    from_id = up.current_snapshot()["snapshot_id"]
    for window, seed in enumerate((71, 73)):
        _advance(spark, up_job, seed)
        if window == 0:
            _advance(spark, up_job, seed + 100)
            kinds = [s["kind"] for s in up.history() if s["snapshot_id"] > from_id]
            assert kinds.count("merge") == 2 and "compact" in kinds, kinds
        to_id = up.current_snapshot()["snapshot_id"]

        with monkeypatch.context() as m:
            _no_python_apply(m)
            for name, edge in edges.items():
                res = edge.poll_once(spark, str(tmp_path / f"{name}.cursor"))
                assert res["applied"] and res["batch_id"] == to_id
            res = fan.poll_once(spark, str(tmp_path / "fan.cursor"))
            assert res["applied"] and set(res["result"]) == {"f-full", "f-filt-proj"}

        chg = up.read_changes(spark, from_id, to_id)
        for job, pred, cols in old.values():
            win = chg if pred is None else filter_replica_changes(chg, pred)
            job.apply_batch(
                spark, to_id, changes_to_feed(win, columns=cols),
                enforce_watermark=False, ddl_rows=[],
            )
        from_id = to_id

        for name, (job, pred, cols) in old.items():
            want = expected(pred, cols)
            pd.testing.assert_frame_equal(want, _pdf(edges[name].job.table.read(spark)))
            pd.testing.assert_frame_equal(want, _pdf(job.table.read(spark)))
        pd.testing.assert_frame_equal(expected(None, None), _pdf(fan.jobs["f-full"].table.read(spark)))
        pd.testing.assert_frame_equal(expected(PRED, PROJ), _pdf(fan.jobs["f-filt-proj"].table.read(spark)))

    # the predicate turned upstream U rows into replica D rows (same key
    # and lsn), and every replica D row has null data columns
    u_out = (
        up.read_changes(spark, 0)
        .where(F.expr(f"_change_op = 'U' AND NOT ({PRED})"))
        .select(*KEYS, "lsn")
    )
    rep_d = edges["filt"].job.table.read_changes(spark, 0).where("_change_op = 'D'")
    data_cols = [c for c in TRANSCRIPT_SCHEMA.fieldNames() if c not in KEYS]
    assert rep_d.where(" OR ".join(f"{c} IS NOT NULL" for c in data_cols)).count() == 0
    assert rep_d.join(u_out, [*KEYS, "lsn"], "left_semi").count() > 0
    for job in [e.job for e in edges.values()] + list(fan.jobs.values()):
        job.wait_maintenance()


def test_partial_upstream_refused_at_consumer(spark, tmp_path):
    """A partial-mode changelog carries _set_mask; the typed replica merge
    takes full images only, so the edge refuses the window: nothing lands
    downstream and the cursor stays where it was."""
    a = str(tmp_path / "a")
    LakehouseTable(a).create(TRANSCRIPT_SCHEMA, n_buckets=4, update_mode="partial")
    cursor = str(tmp_path / "edge.cursor")
    LakehouseTable.commit_cursor(cursor, {"snapshot_id": LakehouseTable(a).current_snapshot()["snapshot_id"]})
    _advance(spark, IngestJob(a, str(tmp_path / "ctl-a")), seed=79)

    b = str(tmp_path / "b")
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    edge = CascadeJob(a, b, str(tmp_path / "ctl-b"))
    with open(cursor) as f:
        before = f.read()
    with pytest.raises(ValueError, match="_set_mask"):
        edge.poll_once(spark, cursor)
    with open(cursor) as f:
        assert f.read() == before
    assert [s["kind"] for s in LakehouseTable(b).history()] == ["create"]


def test_full_upstream_to_partial_replica(spark, tmp_path):
    """The reverse direction works: a full-image changelog applied to a
    partial-mode replica lands as full images (`apply_changes` fills the
    missing `_set_mask`), so an update that nulls a column nulls it
    downstream too. The replica's own changelog shows each upstream U as
    an I with a full mask: a full image replaces the row, present or not."""
    a = str(tmp_path / "a")
    LakehouseTable(a).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    up_job = IngestJob(a, str(tmp_path / "ctl-a"))
    b = str(tmp_path / "b")
    LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=4, update_mode="partial")
    edge = CascadeJob(a, b, str(tmp_path / "ctl-b"))
    for seed in (83, 89):
        _advance(spark, up_job, seed)
        edge.run_until_caught_up(spark, str(tmp_path / "edge.cursor"))
        pd.testing.assert_frame_equal(
            _pdf(LakehouseTable(a).read(spark)), _pdf(LakehouseTable(b).read(spark))
        )
    up_ops = {r["_change_op"] for r in LakehouseTable(a).read_changes(spark, 0).collect()}
    assert up_ops == {"I", "U", "D"}
    replica = LakehouseTable(b).read_changes(spark, 0).collect()
    assert {(r["_change_op"], r["_set_mask"]) for r in replica} == {("I", -1), ("D", 0)}


def test_view_and_dedup_index_refresh_typed(spark, tmp_path, monkeypatch):
    """The other in-engine changelog consumers apply typed rows too: a
    documents view and a dedup index refresh without `apply_batch` or the
    Python decode, and still equal their from-scratch oracles."""
    a = str(tmp_path / "a")
    LakehouseTable(a).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    up_job = IngestJob(a, str(tmp_path / "ctl-a"))
    view = str(tmp_path / "view")
    CorpusViewJob.create_view_table(view, n_buckets=4)
    vj = CorpusViewJob(a, view, str(tmp_path / "ctl-view"))
    idx = str(tmp_path / "idx")
    DedupIndexJob.create_index_tables(idx, n_buckets=4)
    dj = DedupIndexJob(a, idx)
    docs = ["conv_id", "doc_text", "n_turns", "n_chars"]
    for seed in (97, 101):
        _advance(spark, up_job, seed)
        with monkeypatch.context() as m:
            _no_python_apply(m)
            assert vj.run_until_caught_up(spark, str(tmp_path / "view.cursor")) == 1
            assert dj.run_until_caught_up(spark, str(tmp_path / "idx.cursor")) == 1
        want = assemble_conversations(LakehouseTable(a).read(spark)).select(*docs)
        got = LakehouseTable(view).read(spark).select(*docs)
        pd.testing.assert_frame_equal(
            got.toPandas().sort_values("conv_id").reset_index(drop=True),
            want.toPandas().sort_values("conv_id").reset_index(drop=True),
        )
        _assert_index_equals_scratch(spark, dj, a)
