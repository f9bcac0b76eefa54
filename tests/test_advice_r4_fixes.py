"""Regression tests for the round-4 review findings (ADVICE.md r4).

1. HIGH — predicate file skipping during an in-flight spec migration:
   merges write deltas under the CURRENT spec while unmigrated base files
   keep the old spec, so the per-bucket delta-protection rule can't see
   that an old-spec base file has live deltas for its keys. Under
   update_mode='partial' the fold then loses the base row (unmasked
   columns null). _prune_by_preds must disable itself while files of more
   than one spec are live.
2. MEDIUM — float/double dropped from _stat_codec: Spark orders NaN above
   every numeric while parquet min/max excludes NaN, so float stats can
   prune files whose NaN rows match the residual filter.
3. MEDIUM — net_changes: a COW merge whose changeset deletes every live
   row in its affected buckets writes ZERO new files; _touched_key_df must
   detect the COW by snapshot metadata (stats.affected_buckets) and fall
   back to the full diff instead of treating the window as a no-op. Merges
   now write deltas only, where an all-delete batch writes tombstone
   deltas that the point path must find; a hand-edited legacy COW table
   is refused by the format gate until upgrade.
4. LOW — inspect('files') declares key_min/key_max StringType but numeric
   cluster keys record int bounds → createDataFrame TypeError.
5. LOW — DDL dropping cluster_by[0] promotes cluster_by[1]; files recorded
   before the promotion carry key bounds of the OLD column, so point reads
   must not trust them (key_field identity check in _prune_by_key).
"""

from __future__ import annotations

import datetime
import json

import pandas as pd
import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable, _stat_codec
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob

from conftest import UPGRADE_ERROR


def _mk(spark, tmp_path, name, **create_kw):
    path = str(tmp_path / name)
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, **create_kw)
    return LakehouseTable(path), IngestJob(path, str(tmp_path / f"ctl-{name}"))


def _apply(spark, job, pdf, batch_id=0):
    job.apply_batch(spark, batch_id, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA))


# ---------------------------------------------------------------- finding 1
def test_mixed_spec_disables_predicate_pruning(spark, tmp_path):
    """A partial-image update landing as a new-spec delta must not lose its
    base row to stats pruning of the old-spec base file."""
    pdf = generate_feed_pandas(FeedSpec(n_events=8_000, n_convs=120, seed=5))
    t, job = _mk(
        spark, tmp_path, "t1",
        n_buckets=4, compact_every=10**9, update_mode="partial",
        cluster_by=["ts"], target_file_rows=400, stats_columns=["ts"],
    )
    _apply(spark, job, pdf, 0)
    t.compact(spark)

    future = datetime.datetime(2027, 6, 1)
    where = [("ts", ">=", future)]
    # sanity: single-spec, compacted → everything prunes, result empty
    plan0 = t.plan_scan(where=where)
    assert plan0["files_pruned"] == plan0["files_total"]
    assert t.read(spark, where=where).count() == 0

    t.evolve_bucket_spec(spark, 8)
    assert t._mixed_spec(t.current_snapshot())

    # partial U touching ONLY ts: moves the victim into the predicate range;
    # its text lives solely in the old-spec base file. Victim from the TABLE
    # (partial mode is sequential-apply — reduce_feed's LWW set differs)
    victim = t.read(spark).toPandas().sort_values(
        ["conv_id", "turn_idx"]).iloc[0]
    hi = int(pdf["lsn"].max())
    churn = pd.DataFrame([
        {"lsn": hi + 1, "op": "U", "ts": future,
         "conv_id": victim["conv_id"], "turn_idx": int(victim["turn_idx"]),
         "payload": json.dumps({"ts": future.strftime("%Y-%m-%dT%H:%M:%S")})},
    ])
    _apply(spark, job, churn, 1)

    # mixed spec → predicate pruning is OFF (key/bucket pruning unaffected)
    assert t.plan_scan(where=where)["files_pruned"] == 0

    got = t.read(spark, where=where).toPandas()
    assert len(got) == 1
    assert got.iloc[0]["conv_id"] == victim["conv_id"]
    # the unmasked column MUST come from the (old-spec) base row
    assert got.iloc[0]["text"] == victim["text"]

    # migration completes → single spec again → pruning resumes, same answer
    t.migrate_spec(spark)
    t.compact(spark)
    assert not t._mixed_spec(t.current_snapshot())
    plan2 = t.plan_scan(where=where)
    assert plan2["files_pruned"] > 0
    got2 = t.read(spark, where=where).toPandas()
    assert len(got2) == 1 and got2.iloc[0]["text"] == victim["text"]


# ---------------------------------------------------------------- finding 2
def test_float_double_never_prune(spark, tmp_path):
    assert _stat_codec("float") is None
    assert _stat_codec("double") is None
    # behavioral: a double stats column records no bounds and never prunes,
    # but the predicate still residual-filters exactly
    pdf = generate_feed_pandas(FeedSpec(n_events=2_000, n_convs=40, seed=9))
    t, job = _mk(
        spark, tmp_path, "t2",
        n_buckets=2, compact_every=10**9,
        cluster_by=["ts"], target_file_rows=400, stats_columns=["ts"],
    )
    _apply(spark, job, pdf, 0)
    t.apply_ddl([{"action": "add_column", "name": "score", "type": "double"}])
    t.compact(spark)
    preds = t._parse_preds(t.current_snapshot(), [("score", ">", 0.5)])
    assert preds[0][4] is None  # no encoded value → never participates
    assert t.plan_scan(where=[("score", ">", 0.5)])["files_pruned"] == 0
    # added column is all-null → the residual filter drops every row
    assert t.read(spark, where=[("score", ">", 0.5)]).count() == 0


# ---------------------------------------------------------------- finding 3
def test_net_changes_cow_all_delete_emits_d_rows(spark, tmp_path):
    t, job = _mk(spark, tmp_path, "t3", n_buckets=2, compact_every=10**9)
    ins = pd.DataFrame([
        {"lsn": i + 1, "op": "I", "ts": None,
         "conv_id": f"c{i % 3}", "turn_idx": i // 3,
         "payload": json.dumps({"role": "user", "text": f"t{i}", "tool": None, "ts": None})}
        for i in range(6)
    ])
    _apply(spark, job, ins, 0)
    sid_a = t.current_snapshot()["snapshot_id"]
    assert t.read(spark).count() == 6

    dels = pd.DataFrame([
        {"lsn": 100 + i, "op": "D", "ts": None,
         "conv_id": f"c{i % 3}", "turn_idx": i // 3, "payload": None}
        for i in range(6)
    ])
    _apply(spark, job, dels, 1)
    sid_b = t.current_snapshot()["snapshot_id"]
    assert t.read(spark).count() == 0

    # the all-delete merge wrote only tombstone deltas — the point path
    # must find exactly their keys
    keys = t._touched_key_df(spark, sid_a, sid_b).toPandas()
    inserted = sorted(zip(ins["conv_id"], ins["turn_idx"]))
    assert sorted(zip(keys["conv_id"], keys["turn_idx"])) == inserted
    got = t.net_changes(spark, sid_a, sid_b).toPandas()
    assert len(got) == 6
    assert set(got["_change_op"]) == {"D"}
    assert sorted(zip(got["conv_id"], got["turn_idx"])) == inserted


def test_net_changes_legacy_cow_all_delete_falls_back(spark, legacy_table):
    """A table an older version wrote in copy-on-write mode: its all-delete
    COW merge wrote no files. The format gate refuses it (no silent empty
    net changelog); after upgrade the pre-upgrade window is gone and the
    net changelog starts at the upgrade snapshot."""
    rows = [(f"c{i % 3}", i // 3, "user", f"t{i}", None, None) for i in range(6)]
    t = legacy_table("t3", loads=[rows, []])
    with pytest.raises(ValueError, match=UPGRADE_ERROR):
        t.net_changes(spark, 1, 2)
    sid = t.upgrade()["snapshot_id"]
    assert t.read(spark).count() == 0
    with pytest.raises(ValueError, match="not in retained history"):
        t.net_changes(spark, 1, sid)
    assert t.net_changes(spark, sid).count() == 0


# ---------------------------------------------------------------- finding 4
def test_inspect_files_numeric_cluster_key(spark, tmp_path):
    pdf = generate_feed_pandas(FeedSpec(n_events=2_000, n_convs=40, seed=13))
    t, job = _mk(
        spark, tmp_path, "t4",
        n_buckets=2, compact_every=10**9,
        cluster_by=["turn_idx"], target_file_rows=300,
    )
    _apply(spark, job, pdf, 0)
    t.compact(spark)
    base = [e for e in t._files(t.current_snapshot()) if e.get("layer") == "base"]
    assert any(isinstance(e.get("key_min"), int) for e in base)
    files = t.inspect(spark, "files").toPandas()  # raised TypeError pre-fix
    with_bounds = files[files["key_min"].notna()]
    assert len(with_bounds) > 0
    assert all(s.lstrip("-").isdigit() for s in with_bounds["key_min"])


# ---------------------------------------------------------------- finding 5
def test_promoted_cluster_column_ignores_stale_key_bounds(spark, tmp_path):
    pdf = generate_feed_pandas(FeedSpec(n_events=4_000, n_convs=80, seed=17))
    t, job = _mk(
        spark, tmp_path, "t5",
        n_buckets=2, compact_every=10**9,
        cluster_by=["text", "conv_id"], target_file_rows=300,
    )
    _apply(spark, job, pdf, 0)
    t.compact(spark)
    base = [e for e in t._files(t.current_snapshot()) if e.get("layer") == "base"]
    text_fid = t._field_id(t.current_snapshot(), "text")
    assert base and all(e.get("key_field") == text_fid for e in base if e.get("key_min"))

    # drop the leading cluster column → conv_id promoted to cluster_by[0]
    t.apply_ddl([{"action": "drop_column", "name": "text"}])
    snap = t.current_snapshot()
    assert (snap.get("cluster_by") or [None])[0] == "conv_id"

    live = reduce_feed(pdf)
    victim = live.iloc[0]["conv_id"]
    n_expected = int((live["conv_id"] == victim).sum())

    # stale text bounds must be IGNORED (key_field mismatch): nothing pruned,
    # and the point read returns every turn of the conversation
    assert t.plan_scan(conv_ids=[victim])["files_pruned"] == 0
    got = t.read(spark, conv_ids=[victim]).toPandas()
    assert len(got) == n_expected and set(got["conv_id"]) == {victim}

    # a fresh compaction re-records bounds under the promoted column and
    # pruning resumes, still exact. compact() is delta-driven (it no-ops on
    # a delta-free table — rewriting O(table) for stats alone would be
    # wrong), so land one churn row first to give it something to fold.
    hi = int(pdf["lsn"].max())
    churn = pd.DataFrame([
        {"lsn": hi + 1, "op": "U", "ts": None,
         "conv_id": victim, "turn_idx": int(live.iloc[0]["turn_idx"]),
         "payload": json.dumps({"role": "user", "tool": None, "ts": None})},
    ])
    _apply(spark, job, churn, 1)
    t.compact(spark)
    base2 = [e for e in t._files(t.current_snapshot()) if e.get("layer") == "base"]
    conv_fid = t._field_id(t.current_snapshot(), "conv_id")
    assert any(e.get("key_field") == conv_fid for e in base2)
    got2 = t.read(spark, conv_ids=[victim]).toPandas()
    assert len(got2) == n_expected
