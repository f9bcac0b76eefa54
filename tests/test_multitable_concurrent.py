"""Concurrent per-table apply (VERDICT r2 next-round #2) + DDL-bomb driver
guard (#6).

The multi-table router submits each table's decode→collapse→merge as its own
Spark job from a thread pool over the shared cached batch — per-table commits
are independent (different table/control dirs), so batch wall-clock is the
max of per-table merges, not their sum. Each table must equal the sequential
reduction of its slice of the feed under ≥ 4 tables and multiple batches.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming import ingest as ingest_mod
from data_pipeline_spark.streaming.multi_table import (
    MULTI_EVENT_SCHEMA,
    MultiTableIngestJob,
)

TABLES = ("chats", "agents", "evals", "traces")


def _multi_feed(seed0=11, n_events=1200):
    parts = []
    for i, name in enumerate(TABLES):
        f = generate_feed_pandas(
            FeedSpec(n_events=n_events, n_convs=40, seed=seed0 + i)
        )
        f["table_name"] = name
        parts.append(f)
    feed = (
        pd.concat(parts)
        .sort_values("ts", kind="stable")
        .reset_index(drop=True)
    )
    feed["lsn"] = range(1, len(feed) + 1)
    return feed[["table_name", "lsn", "op", "ts", "conv_id", "turn_idx", "payload"]]


def _mk_router(spark, tmp_path, tag, **kw):
    tables = {}
    for name in TABLES:
        path = str(tmp_path / tag / name)
        LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
        tables[name] = path
    return tables, MultiTableIngestJob(tables, str(tmp_path / tag / "ctl"), **kw)


def _assert_matches_oracle(spark, tables, feed):
    for name, path in tables.items():
        sl = feed[(feed["table_name"] == name) & (feed["op"] != "DDL")].drop(
            columns=["table_name"]
        )
        expected = reduce_feed(sl.reset_index(drop=True))
        actual = (
            LakehouseTable(path).read(spark).toPandas()
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        assert actual["text"].tolist() == expected["text"].tolist(), name


def test_concurrent_apply_four_tables_matches_oracle(spark, tmp_path):
    feed = _multi_feed()
    tables, job = _mk_router(spark, tmp_path, "cc")
    assert ingest_mod.MAX_APPLY_THREADS == 8  # tables apply concurrently
    # two batches: split at an LSN boundary so watermarks engage per table
    half = len(feed) // 2
    for bid, chunk in enumerate((feed.iloc[:half], feed.iloc[half:])):
        job.apply_batch(spark, bid, spark.createDataFrame(chunk, MULTI_EVENT_SCHEMA))
    _assert_matches_oracle(spark, tables, feed)
    # per-table control/lineage landed independently
    for name in TABLES:
        ctl = pd.read_parquet(str(tmp_path / "cc" / "ctl" / name))
        assert set(ctl["batch_id"]) == {0, 1}


def test_concurrent_equals_sequential(spark, tmp_path):
    """The concurrent router's per-table state equals the sequential
    reduction of each table's slice of the feed."""
    feed = _multi_feed(seed0=23)
    sdf = spark.createDataFrame(feed, MULTI_EVENT_SCHEMA)
    tables_c, job_c = _mk_router(spark, tmp_path, "par")
    rc = job_c.apply_batch(spark, 0, sdf)
    assert set(rc) == set(TABLES)
    for name in TABLES:
        a = (
            LakehouseTable(tables_c[name]).read(spark).toPandas()
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        sl = feed[feed["table_name"] == name].drop(columns=["table_name"])
        b = reduce_feed(sl.reset_index(drop=True))
        assert len(a) == len(b), name
        assert a["conv_id"].tolist() == b["conv_id"].tolist(), name
        assert a["turn_idx"].tolist() == [int(t) for t in b["turn_idx"]], name
        for col in ("role", "text", "tool"):
            assert a[col].tolist() == [None if pd.isna(v) else v for v in b[col]], (name, col)


def test_concurrent_replay_idempotent(spark, tmp_path):
    """Duplicate delivery of a whole batch under concurrent apply: every
    table skips by batch_id, no duplicates."""
    feed = _multi_feed(seed0=31, n_events=600)
    sdf = spark.createDataFrame(feed, MULTI_EVENT_SCHEMA)
    tables, job = _mk_router(spark, tmp_path, "replay")
    job.apply_batch(spark, 0, sdf)
    counts = {n: LakehouseTable(p).read(spark).count() for n, p in tables.items()}
    r2 = job.apply_batch(spark, 0, sdf)
    assert all(r["skipped"] for r in r2.values())
    for n, p in tables.items():
        assert LakehouseTable(p).read(spark).count() == counts[n]


# ------------------------------------------------------------- DDL bomb guard
def _ddl_rows(n, table="chats"):
    payload = json.dumps({"action": "add_column", "name": "x", "type": "int"})
    return [(table, i + 1, "DDL", None, None, None, payload) for i in range(n)]


def test_ddl_bomb_aborts_multitable_with_alert(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(ingest_mod, "DDL_ROW_CAP", 5)
    tables, job = _mk_router(spark, tmp_path, "bomb")
    sdf = spark.createDataFrame(
        _ddl_rows(10), schema=MULTI_EVENT_SCHEMA
    )
    with pytest.raises(ValueError, match="DDL rows"):
        job.apply_batch(spark, 0, sdf)
    trail = open(str(tmp_path / "bomb" / "ctl" / "alerts.jsonl")).read()
    assert "DDL bomb" in trail
    # no table mutated
    for p in tables.values():
        assert LakehouseTable(p).current_snapshot()["snapshot_id"] == 0


def test_ddl_bomb_aborts_single_table(spark, tmp_path, monkeypatch):
    from data_pipeline_spark.streaming.ingest import IngestJob

    monkeypatch.setattr(ingest_mod, "DDL_ROW_CAP", 5)
    path = str(tmp_path / "t")
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    alerts = []
    job = IngestJob(path, str(tmp_path / "ctl"), on_alert=alerts.append)
    rows = [
        (r[1], r[2], r[3], r[4], r[5], r[6]) for r in _ddl_rows(10)
    ]
    sdf = spark.createDataFrame(
        rows,
        "lsn long, op string, ts timestamp, conv_id string, turn_idx int, payload string",
    )
    with pytest.raises(ValueError, match="DDL rows"):
        job.apply_batch(spark, 0, sdf)
    assert alerts and alerts[0]["kind"] == "abort"
    assert LakehouseTable(path).current_snapshot()["snapshot_id"] == 0
