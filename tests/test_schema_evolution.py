"""M5: schema evolution — add / rename / widen as metadata-only commits
(SURVEY.md §2.3 rule 3; reference DDL replication semantics, §2 T8)."""

from __future__ import annotations

import pandas as pd
import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob

SPEC = FeedSpec(n_events=15_000, n_convs=300, seed=42, chunk_size=3_000, with_ddl=True)


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("efeed")
    generate_feed(str(d), SPEC)
    return str(d)


def _replay_streaming(spark, tmp_path, feed_dir):
    tbl = str(tmp_path / "t")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=16)
    job = IngestJob(tbl, str(tmp_path / "ctl"))
    job.run_to_completion(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=2)
    return LakehouseTable(tbl)


def test_evolution_end_to_end(spark, feed_dir, tmp_path):
    table = _replay_streaming(spark, tmp_path, feed_dir)
    # final schema reflects the DDL timeline
    schema = table.schema_struct()
    names = [f.name for f in schema.fields]
    assert "tokens" in names and "tool_name" in names and "tool" not in names
    assert dict((f.name, f.dataType.simpleString()) for f in schema.fields)["turn_idx"] == "bigint"

    actual = (
        table.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    expected = reduce_feed(generate_feed_pandas(SPEC))
    assert actual["text"].tolist() == expected["text"].tolist()
    # renames preserve data: tool_name column equals oracle's coalesced view
    exp_tool = [None if pd.isna(t) else t for t in expected["tool_name"]]
    assert actual["tool_name"].tolist() == exp_tool
    # rows last written before the add show null tokens; after, the value
    exp_tokens = [None if pd.isna(t) else int(t) for t in expected["tokens"]]
    act_tokens = [None if pd.isna(t) else int(t) for t in actual["tokens"]]
    assert act_tokens == exp_tokens
    assert any(t is None for t in act_tokens) and any(t is not None for t in act_tokens)


def test_ddl_metadata_only_and_time_travel(spark, tmp_path):
    tbl = LakehouseTable(str(tmp_path / "t2"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4)
    df = spark.createDataFrame(
        [("c1", 0, "user", "hello", None, None)], schema=TRANSCRIPT_SCHEMA
    )
    tbl.overwrite(spark, df)
    snap_before = tbl.current_snapshot()
    tbl.apply_ddl([
        {"action": "add_column", "name": "tokens", "type": "int"},
        {"action": "rename_column", "old": "tool", "new": "tool_name"},
        {"action": "widen_type", "name": "turn_idx", "to": "long"},
    ])
    snap_after = tbl.current_snapshot()
    # metadata-only: no data files were rewritten
    assert snap_after["manifests"] == snap_before["manifests"]
    out = tbl.read(spark).toPandas()
    assert out.loc[0, "text"] == "hello"
    assert pd.isna(out.loc[0, "tokens"])
    assert "tool_name" in out.columns
    # time travel: the old snapshot still reads with the old schema
    old = tbl.read(spark, snapshot_id=snap_before["snapshot_id"]).toPandas()
    assert "tool" in old.columns and "tokens" not in old.columns


def test_illegal_widen_rejected(spark, tmp_path):
    tbl = LakehouseTable(str(tmp_path / "t3"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4)
    with pytest.raises(ValueError, match="illegal widen"):
        tbl.apply_ddl([{"action": "widen_type", "name": "text", "to": "long"}])


def test_ddl_replay_idempotent(spark, tmp_path):
    """Crash between DDL apply and merge commit → DDL re-applied on replay
    must be a no-op (exactly-once under at-least-once delivery)."""
    tbl = LakehouseTable(str(tmp_path / "t4"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4)
    ddls = [
        {"action": "add_column", "name": "tokens", "type": "int"},
        {"action": "rename_column", "old": "tool", "new": "tool_name"},
        {"action": "widen_type", "name": "turn_idx", "to": "long"},
    ]
    tbl.apply_ddl(ddls)
    sid = tbl.current_snapshot()["schema_id"]
    fields1 = tbl._load_schema(sid)["fields"]
    tbl.apply_ddl(ddls)  # replay
    fields2 = tbl._load_schema(tbl.current_snapshot()["schema_id"])["fields"]
    assert fields1 == fields2


def test_drop_column_metadata_only(spark, tmp_path):
    """DROP COLUMN: metadata-only; files keep the bytes but reads stop
    projecting them; a re-added column with the same name gets a fresh field
    id, so old values do NOT resurface (Iceberg drop semantics)."""
    from pyspark.sql import functions as F

    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4)
    rows = spark.createDataFrame(
        [("c1", 0, "tool", "hello", "search", None), ("c2", 0, "user", "hi", None, None)],
        schema=TRANSCRIPT_SCHEMA,
    )
    tbl.overwrite(spark, rows)

    tbl.apply_ddl([{"action": "drop_column", "name": "tool"}])
    got = tbl.read(spark)
    assert "tool" not in got.columns
    assert got.count() == 2

    # replay-idempotent
    tbl.apply_ddl([{"action": "drop_column", "name": "tool"}])
    assert "tool" not in tbl.read(spark).columns

    # re-add: fresh field id -> old values stay buried
    tbl.apply_ddl([{"action": "add_column", "name": "tool", "type": "string"}])
    readd = tbl.read(spark).toPandas()
    assert readd["tool"].isna().all()

    # key columns are not droppable
    with pytest.raises(ValueError, match="merge key"):
        tbl.apply_ddl([{"action": "drop_column", "name": "conv_id"}])


def test_drop_column_mid_feed_oracle(spark, tmp_path):
    """A DDL drop mid-feed: later events stop carrying the column, the final
    table lacks it, and the oracle agrees."""
    import json as _json

    pdf = generate_feed_pandas(FeedSpec(n_events=4_000, n_convs=100, seed=9, chunk_size=1_000))
    # inject a drop at 60% of the feed
    i = int(0.6 * len(pdf))
    pdf.loc[i, ["op", "conv_id"]] = ["DDL", None]
    pdf.loc[i, "turn_idx"] = None
    pdf.loc[i, "payload"] = _json.dumps({"action": "drop_column", "name": "tool"})
    feed = tmp_path / "feed"
    feed.mkdir()
    for c in range(4):
        pdf.iloc[c * 1000 : (c + 1) * 1000].to_parquet(
            str(feed / f"chunk-{c:06d}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=4)
    job.run_to_completion(spark, str(feed), str(tmp_path / "cp"), max_files_per_trigger=1)
    got = job.table.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp = reduce_feed(pdf)
    assert "tool" not in got.columns and "tool" not in exp.columns
    assert got["text"].tolist() == exp["text"].tolist()


def test_decimal_columns_and_widen(spark, tmp_path):
    """Decimal columns in the table format (reference NUMBER→numeric type
    maps, T7): exact storage, merge, and precision/scale widening that
    always preserves values; lossy widens rejected. (The JSON decode path
    covers the transcript schema; decimal tables arrive via typed
    DataFrames — multi-table/initsync use.)"""
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("amount", T.DecimalType(10, 2), True),
    ])
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(schema, n_buckets=4)
    rows = spark.createDataFrame(
        [("a", 0, Decimal("12345678.99")), ("b", 0, Decimal("0.01"))], schema=schema
    )
    tbl.overwrite(spark, rows)

    tbl.apply_ddl([{"action": "widen_type", "name": "amount", "to": "decimal(14,4)"}])
    got = tbl.read(spark)
    assert dict(got.dtypes)["amount"] == "decimal(14,4)"
    vals = {r["conv_id"]: r["amount"] for r in got.collect()}
    assert vals["a"] == Decimal("12345678.9900") and vals["b"] == Decimal("0.0100")

    # merge under the widened schema
    chg = spark.createDataFrame(
        [(100, "U", "a", 0, Decimal("99.1234"))],
        "lsn long, op string, conv_id string, turn_idx int, amount decimal(14,4)",
    )
    tbl.merge(spark, batch_id=0, changes=chg)
    vals = {r["conv_id"]: r["amount"] for r in tbl.read(spark).collect()}
    assert vals["a"] == Decimal("99.1234")

    # lossy widens rejected
    with pytest.raises(ValueError, match="illegal widen"):
        tbl.apply_ddl([{"action": "widen_type", "name": "amount", "to": "decimal(14,1)"}])
