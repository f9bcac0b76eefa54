"""M1: end-to-end batch replay vs the pandas oracle (SURVEY.md §2.3 rules 1–2)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_pipeline_spark.functions.decode import _decode_batch, decode_events, decode_events_sql
from data_pipeline_spark.operators.lww import lww_dedup
from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas, read_feed_batch
from data_pipeline_spark.streaming.ingest import IngestJob

from conftest import UPGRADE_ERROR


SPEC = FeedSpec(n_events=20_000, n_convs=400, seed=42, chunk_size=5_000)


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("feed")
    generate_feed(str(d), SPEC)
    return str(d)


def table_as_pandas(spark, table: LakehouseTable) -> pd.DataFrame:
    return (
        table.read(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def assert_matches_oracle(spark, table: LakehouseTable, spec: FeedSpec):
    expected = reduce_feed(generate_feed_pandas(spec))
    actual = table_as_pandas(spark, table)
    assert len(actual) == len(expected)
    # the BASELINE.json invariant: per-turn text byte equality, stable order
    assert actual["conv_id"].tolist() == expected["conv_id"].tolist()
    assert actual["turn_idx"].tolist() == [int(t) for t in expected["turn_idx"]]
    assert actual["text"].tolist() == expected["text"].tolist()
    assert actual["role"].tolist() == expected["role"].tolist()
    exp_tool = [None if pd.isna(t) else t for t in expected.get("tool", expected.get("tool_name"))]
    col = "tool" if "tool" in actual.columns else "tool_name"
    assert actual[col].tolist() == exp_tool


def test_decode_pandas_equals_sql(spark, feed_dir):
    raw = read_feed_batch(spark, feed_dir)
    a = decode_events(raw, TRANSCRIPT_SCHEMA).orderBy("lsn").toPandas()
    b = decode_events_sql(raw, TRANSCRIPT_SCHEMA).orderBy("lsn").toPandas()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    assert len(a) == SPEC.n_events  # no DDL in this feed
    # delete rows decode with null payload columns
    assert a.loc[a["op"] == "D", "text"].isna().all()


def test_decode_arrow_equals_pandas_impl(spark, feed_dir):
    """The Arrow kernel (`decode_events`) and its row-isolation fallback
    (`_decode_batch`, which decodes any batch the kernel rejects) must be
    value-identical — including the explicit-null-vs-absent `_set_mask`
    semantics the partial-image mode depends on."""
    from pyspark.sql.pandas.types import to_arrow_schema

    raw = read_feed_batch(spark, feed_dir)
    bits = {"role": 3, "text": 4, "tool": 5, "ts": 6}
    arrow = decode_events(raw, TRANSCRIPT_SCHEMA, field_bits=bits)
    a = arrow.orderBy("lsn").toPandas()
    fields = [(f.name, f.dataType.simpleString()) for f in TRANSCRIPT_SCHEMA.fields]
    out_arrow = to_arrow_schema(arrow.schema)
    p = (
        raw.where(raw["op"] != "DDL")
        .select("lsn", "op", "conv_id", "turn_idx", "payload")
        .mapInArrow(
            lambda batches: (
                _decode_batch(b, fields, {}, False, bits, out_arrow) for b in batches
            ),
            schema=arrow.schema,
        )
        .orderBy("lsn").toPandas()
    )
    pd.testing.assert_frame_equal(a, p, check_dtype=False)


def test_lww_salted_equals_plain(spark, feed_dir):
    raw = read_feed_batch(spark, feed_dir)
    decoded = decode_events(raw, TRANSCRIPT_SCHEMA)
    plain = lww_dedup(decoded).orderBy("conv_id", "turn_idx").toPandas()
    salted = lww_dedup(decoded, salt=8).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(plain, salted)
    # exactly one row per key, and it is the max-lsn one
    assert not plain.duplicated(["conv_id", "turn_idx"]).any()


def test_batch_replay_matches_oracle(spark, feed_dir, tmp_path):
    table = LakehouseTable(str(tmp_path / "t"))
    table.create(TRANSCRIPT_SCHEMA, n_buckets=16)
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "control"))
    result = job.replay_batch(spark, feed_dir, batch_id=0)
    assert not result["skipped"]
    assert_matches_oracle(spark, table, SPEC)
    # control lineage written
    ctl = job.read_control(spark).toPandas()
    assert (ctl["batch_id"] == 0).all() and ctl["rows_applied"].sum() > 0


def test_merge_idempotent_by_batch_id(spark, feed_dir, tmp_path):
    table = LakehouseTable(str(tmp_path / "t"))
    table.create(TRANSCRIPT_SCHEMA, n_buckets=16)
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "control"))
    job.replay_batch(spark, feed_dir, batch_id=0)
    snap1 = table.current_snapshot()
    # at-least-once delivery: the same batch replayed is a no-op
    result = job.replay_batch(spark, feed_dir, batch_id=0)
    assert result["skipped"]
    assert table.current_snapshot()["snapshot_id"] == snap1["snapshot_id"]
    ctl = job.read_control(spark).toPandas()
    assert ctl["batch_id"].nunique() == 1


def test_incremental_batches_match_oracle(spark, feed_dir, tmp_path):
    """Chunked apply (4 batches) ends in the same state as one-shot apply."""
    table = LakehouseTable(str(tmp_path / "t"))
    table.create(TRANSCRIPT_SCHEMA, n_buckets=16)
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "control"))
    import glob

    chunks = sorted(glob.glob(feed_dir + "/chunk-*.parquet"))
    assert len(chunks) == 4
    for i, c in enumerate(chunks):
        job.apply_batch(spark, i, spark.read.parquet(c))
    assert_matches_oracle(spark, table, SPEC)


def test_merge_refuses_legacy_cow_table(spark, tmp_path, legacy_table):
    """A table an older version wrote in copy-on-write mode — merge_mode
    "cow", or no merge_mode field at all — takes no commit before upgrade:
    the format gate names the upgrade command and nothing is written."""
    events = spark.createDataFrame(
        generate_feed_pandas(FeedSpec(n_events=200, n_convs=10, seed=3)),
        schema=CHANGE_EVENT_SCHEMA,
    )
    for shape in ("cow", "no-merge-mode"):
        t = legacy_table(shape, shape=shape)
        before = sorted(os.listdir(t.meta_dir))
        job = IngestJob(t.path, str(tmp_path / f"ctl-{shape}"))
        with pytest.raises(ValueError, match=UPGRADE_ERROR):
            job.apply_batch(spark, 5, events)
        with pytest.raises(ValueError, match=UPGRADE_ERROR):
            t.merge(spark, 6, events)
        assert sorted(os.listdir(t.meta_dir)) == before


def test_mor_compaction_preserves_state(spark, feed_dir, tmp_path):
    table = LakehouseTable(str(tmp_path / "tc"))
    # compact_every high so compaction only happens when we call it
    table.create(TRANSCRIPT_SCHEMA, n_buckets=16, compact_every=99)
    job = IngestJob(str(tmp_path / "tc"), str(tmp_path / "ctl-c"))
    import glob

    for i, c in enumerate(sorted(glob.glob(feed_dir + "/chunk-*.parquet"))):
        job.apply_batch(spark, i, spark.read.parquet(c))
    snap = table.current_snapshot()
    assert any(e.get("layer") == "delta" for e in table.files(snap))
    before = table_as_pandas(spark, table)
    r = table.compact(spark)
    assert not r["skipped"]
    snap2 = table.current_snapshot()
    assert all(e.get("layer") == "base" for e in table.files(snap2))
    assert snap2["delta_depth"] == {}
    after = table_as_pandas(spark, table)
    pd.testing.assert_frame_equal(before, after)
    assert_matches_oracle(spark, table, SPEC)
    # compacting an already-compacted table is a no-op
    assert table.compact(spark)["skipped"]


def test_bucket_targeted_compaction(spark, feed_dir, tmp_path):
    """Partial compaction folds ONLY the requested buckets (O(hot buckets),
    not O(table)) and preserves table state; auto-compaction targets buckets
    whose delta depth reached compact_every."""
    table = LakehouseTable(str(tmp_path / "t"))
    table.create(TRANSCRIPT_SCHEMA, n_buckets=16, compact_every=99)
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.run_to_completion(spark, feed_dir, str(tmp_path / "cp"), max_files_per_trigger=1)

    before = table_as_pandas(spark, table)
    depth = table.delta_depth()
    assert depth, "expected delta files"
    target = max(depth, key=depth.get)

    r = table.compact(spark, buckets={target})
    assert r["compacted_buckets"] == 1
    after_depth = table.delta_depth()
    assert target not in after_depth                      # folded
    assert set(depth) - {target} == set(after_depth)      # others untouched
    pd.testing.assert_frame_equal(table_as_pandas(spark, table), before)

    # full compact folds the rest
    table.compact(spark)
    assert table.delta_depth() == {}
    pd.testing.assert_frame_equal(table_as_pandas(spark, table), before)


def test_commit_conflict_detection(spark, tmp_path):
    """Optimistic concurrency: a competing committed snapshot with the same
    id raises CommitConflictError; an orphaned snapshot file from a crash
    (hint never swung) is reclaimed and the commit succeeds."""
    import json as _json
    import os

    from data_pipeline_spark.plans.table_format import CommitConflictError

    table = LakehouseTable(str(tmp_path / "t"))
    table.create(TRANSCRIPT_SCHEMA, n_buckets=4)
    rows = spark.createDataFrame(
        [("c1", 0, "user", "hi", None, None)], schema=TRANSCRIPT_SCHEMA
    )
    table.overwrite(spark, rows)  # snapshot 1
    cur = table.current_snapshot()

    # crash leftover: orphan file for the NEXT id, hint still at current.
    # Reclaim is liveness-gated (a FRESH unreachable file could be a live
    # competitor mid-commit — ADVICE.md round 1), so age it past the window.
    orphan = os.path.join(str(tmp_path / "t"), "_meta", f"snapshot-{cur['snapshot_id']+1:08d}.json")
    with open(orphan, "w") as f:
        _json.dump({**cur, "snapshot_id": cur["snapshot_id"] + 1}, f)
    import time as _time

    old_t = _time.time() - 3600
    os.utime(orphan, (old_t, old_t))
    # a writer racing the SAME id reclaims the stale orphan (liveness-gated)
    table._commit({**cur, "snapshot_id": cur["snapshot_id"] + 1,
                   "parent": cur["snapshot_id"], "kind": "overwrite"})
    assert table.current_snapshot()["snapshot_id"] == cur["snapshot_id"] + 1
    # the normal paths allocate ABOVE any on-disk file (_next_id, branch-safe
    # global id space) — an orphan is skipped, not contended with
    table.overwrite(spark, rows)
    assert table.current_snapshot()["snapshot_id"] == cur["snapshot_id"] + 2

    # real conflict: competing writer committed id N AND swung the hint;
    # a writer still holding the old base must fail its commit of id N
    stale_base = table.current_snapshot()
    winner = {**stale_base, "snapshot_id": stale_base["snapshot_id"] + 1,
              "parent": stale_base["snapshot_id"]}
    table._commit(winner)  # the competing writer wins
    with pytest.raises(CommitConflictError):
        table._commit({**stale_base, "snapshot_id": stale_base["snapshot_id"] + 1,
                       "parent": stale_base["snapshot_id"]})


def test_rebucket_partition_evolution(spark, feed_dir, tmp_path):
    """Growing n_buckets mid-life: state preserved, deltas folded, later
    merges route by the new bucketing."""
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=99)
    # first half of the feed
    raw = read_feed_batch(spark, feed_dir).where("lsn <= 10000")
    job.apply_batch(spark, 0, raw)
    before = table_as_pandas(spark, job.table)

    r = job.table.rebucket(spark, 16)
    assert r["n_buckets"] == 16
    snap = job.table.current_snapshot()
    assert snap["n_buckets"] == 16
    assert {e["bucket"] for e in job.table.files(snap)} - set(range(16)) == set()
    assert len({e["bucket"] for e in job.table.files(snap)}) > 4
    pd.testing.assert_frame_equal(table_as_pandas(spark, job.table), before)

    # rest of the feed lands under the new bucketing; final state == oracle
    job.apply_batch(spark, 1, read_feed_batch(spark, feed_dir).where("lsn > 10000"))
    assert_matches_oracle(spark, job.table, SPEC)


def test_point_read_bucket_pruning(spark, feed_dir, tmp_path):
    """conv_ids point reads prune to the hashed buckets and equal the
    full-read filter."""
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=16)
    job.replay_batch(spark, feed_dir)
    full = table_as_pandas(spark, job.table)
    targets = full["conv_id"].drop_duplicates().head(3).tolist()

    got = (
        job.table.read(spark, conv_ids=targets).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    exp = (
        full[full["conv_id"].isin(targets)].reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert len(job.table._buckets_by_spec(spark, targets, {0: 16})[0]) <= 3
    assert job.table.read(spark, conv_ids=[]).count() == 0


def test_tombstone_only_batch_metrics(spark, tmp_path):
    """A batch containing only deletes: footer-stats lineage must report
    rows_applied == rows_deleted, the watermark must advance, and the keys
    must disappear."""
    import json as _json

    table = LakehouseTable(str(tmp_path / "t"))
    table.create(TRANSCRIPT_SCHEMA, n_buckets=4)
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))

    def feed_chunk(rows, name):
        d = tmp_path / name
        d.mkdir()
        pd.DataFrame({
            "lsn": pd.array([r[0] for r in rows], dtype="int64"),
            "op": [r[1] for r in rows],
            "ts": pd.to_datetime(["2026-01-01"] * len(rows)),
            "conv_id": [r[2] for r in rows],
            "turn_idx": pd.array([r[3] for r in rows], dtype="Int32"),
            "payload": pd.array([r[4] for r in rows], dtype="string"),
        }).to_parquet(str(d / "c0.parquet"), index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)
        return str(d)

    img = _json.dumps({"role": "user", "text": "x", "ts": "2026-01-01T00:00:01"})
    job.apply_batch(spark, 0, read_feed_batch(spark, feed_chunk(
        [(1, "I", "a", 0, img), (2, "I", "b", 0, img)], "f0")))
    job.apply_batch(spark, 1, read_feed_batch(spark, feed_chunk(
        [(3, "D", "a", 0, None), (4, "D", "b", 0, None)], "f1")))

    assert job.table.read(spark).count() == 0
    assert job.table.current_snapshot()["watermark_lsn"] == 4
    ctl = job.read_control(spark).toPandas()
    b1 = ctl[ctl["batch_id"] == 1]
    assert b1["rows_applied"].sum() == 2 and b1["rows_deleted"].sum() == 2


def test_lww_agg_collapse_equals_window(spark, feed_dir):
    """The hash-aggregation collapse (ingest default) and the window collapse
    must pick identical winners — same (lsn, op_rank) total order."""
    from data_pipeline_spark.operators.lww import lww_collapse_agg

    raw = read_feed_batch(spark, feed_dir)
    decoded = decode_events(raw, TRANSCRIPT_SCHEMA)
    via_window = lww_dedup(decoded).orderBy("conv_id", "turn_idx").toPandas()
    via_agg = (
        lww_collapse_agg(decoded)
        .select(*via_window.columns)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(via_window, via_agg)
