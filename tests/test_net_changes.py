"""net_changes: NET changelog between two snapshots (Iceberg
create_changelog_view(net_changes=true) parity).

Oracle: the pandas sequential-apply reducer (oracle.reduce_feed) evaluated at
both snapshot prefixes, outer-compared per merge key. Pins:

  (a) I/U/D classification with cancelled churn (insert+delete in-window,
      update back to identical values) emitting NOTHING;
  (b) compaction inside the window is invisible;
  (c) schema evolution inside the window: both sides compare in the TO
      schema (added column null for before-rows);
  (d) an overwrite inside the window → full-diff fallback, same answer;
  (e) from == to → empty.
"""

from __future__ import annotations

import json

import pandas as pd

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans import table_format
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob

KEY = ["conv_id", "turn_idx"]
CMP = ["role", "text", "tool"]  # payload columns compared (ts dtype differs
# between the string-payload oracle and the engine's timestamp column)


def _mk(spark, tmp_path, name, **kw):
    path = str(tmp_path / name)
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4, **kw)
    return LakehouseTable(path), IngestJob(path, str(tmp_path / f"ctl-{name}"))


def _apply(spark, job, pdf, batch_id):
    job.apply_batch(spark, batch_id, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA))


def _net_oracle(before: pd.DataFrame, after: pd.DataFrame, cmp_cols=CMP) -> pd.DataFrame:
    cols = [c for c in cmp_cols if c in after.columns]
    b = before[[*KEY, *[c for c in cols if c in before.columns]]].copy()
    for c in cols:
        if c not in b.columns:
            b[c] = None
    m = b.merge(after[[*KEY, *cols]], on=KEY, how="outer",
                suffixes=("_b", "_a"), indicator=True)
    out = []
    for _, r in m.iterrows():
        if r["_merge"] == "right_only":
            op = "I"
        elif r["_merge"] == "left_only":
            op = "D"
        else:
            same = all(
                (pd.isna(r[f"{c}_b"]) and pd.isna(r[f"{c}_a"]))
                or r[f"{c}_b"] == r[f"{c}_a"]
                for c in cols
            )
            if same:
                continue
            op = "U"
        side = "_b" if op == "D" else "_a"
        out.append(
            {"_change_op": op, "conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
             **{c: r[f"{c}{side}"] for c in cols}}
        )
    return (
        pd.DataFrame(out, columns=["_change_op", *KEY, *cols])
        .sort_values(KEY).reset_index(drop=True)
    )


def _got(df, cmp_cols=CMP) -> pd.DataFrame:
    pdf = df.toPandas()[["_change_op", *KEY, *cmp_cols]]
    return pdf.sort_values(KEY).reset_index(drop=True)


def _check(t, spark, sid_a, sid_b, feed_prefix, feed_all):
    exp = _net_oracle(reduce_feed(feed_prefix), reduce_feed(feed_all))
    got = _got(t.net_changes(spark, sid_a, sid_b))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    return got


def test_net_changes_iud_and_cancellation(spark, tmp_path):
    pdf = generate_feed_pandas(FeedSpec(n_events=5_000, n_convs=80, seed=21))
    t, job = _mk(spark, tmp_path, "n1", compact_every=10**9)
    _apply(spark, job, pdf, 0)
    sid_a = t.current_snapshot()["snapshot_id"]

    live = reduce_feed(pdf)
    hi = int(pdf["lsn"].max())
    k0 = live.iloc[0]  # update back to identical values → no net row
    k1 = live.iloc[1]  # genuine update → U
    k2 = live.iloc[2]  # delete → D
    churn_rows = [
        {"lsn": hi + 1, "op": "U", "ts": None, "conv_id": k0["conv_id"],
         "turn_idx": int(k0["turn_idx"]),
         "payload": json.dumps({"role": "x", "text": "tmp", "tool": None, "ts": None})},
        {"lsn": hi + 2, "op": "U", "ts": None, "conv_id": k0["conv_id"],
         "turn_idx": int(k0["turn_idx"]),
         "payload": json.dumps({c: (None if pd.isna(k0[c]) else k0[c])
                                for c in ["role", "text", "tool", "ts"]})},
        {"lsn": hi + 3, "op": "U", "ts": None, "conv_id": k1["conv_id"],
         "turn_idx": int(k1["turn_idx"]),
         "payload": json.dumps({"role": "assistant", "text": "net-update",
                                "tool": None, "ts": None})},
        {"lsn": hi + 4, "op": "D", "ts": None, "conv_id": k2["conv_id"],
         "turn_idx": int(k2["turn_idx"]), "payload": None},
        # insert then delete a brand-new key → no net row
        {"lsn": hi + 5, "op": "I", "ts": None, "conv_id": "net-ghost",
         "turn_idx": 0,
         "payload": json.dumps({"role": "user", "text": "ghost", "tool": None, "ts": None})},
        {"lsn": hi + 6, "op": "D", "ts": None, "conv_id": "net-ghost",
         "turn_idx": 0, "payload": None},
        # plain new insert → I
        {"lsn": hi + 7, "op": "I", "ts": None, "conv_id": "net-new",
         "turn_idx": 0,
         "payload": json.dumps({"role": "user", "text": "hello", "tool": None, "ts": None})},
    ]
    churn = pd.DataFrame(churn_rows)
    _apply(spark, job, churn, 1)
    sid_b = t.current_snapshot()["snapshot_id"]

    feed_all = pd.concat([pdf, churn], ignore_index=True)
    got = _check(t, spark, sid_a, sid_b, pdf, feed_all)
    ops = dict(zip(map(tuple, got[KEY].itertuples(index=False)), got["_change_op"]))
    assert ops.get((k1["conv_id"], k1["turn_idx"])) == "U"
    assert ops.get((k2["conv_id"], k2["turn_idx"])) == "D"
    assert ops.get(("net-new", 0)) == "I"
    assert (k0["conv_id"], k0["turn_idx"]) not in ops
    assert ("net-ghost", 0) not in ops

    # from == to → empty
    assert t.net_changes(spark, sid_b, sid_b).count() == 0

    # compaction inside the window is invisible
    t.compact(spark)
    sid_c = t.current_snapshot()["snapshot_id"]
    pd.testing.assert_frame_equal(
        _got(t.net_changes(spark, sid_a, sid_c)),
        _net_oracle(reduce_feed(pdf), reduce_feed(feed_all)),
        check_dtype=False,
    )


def test_net_changes_across_ddl(spark, tmp_path):
    pdf = generate_feed_pandas(FeedSpec(n_events=3_000, n_convs=50, seed=23))
    t, job = _mk(spark, tmp_path, "n2", compact_every=10**9)
    _apply(spark, job, pdf, 0)
    sid_a = t.current_snapshot()["snapshot_id"]

    t.apply_ddl([{"action": "add_column", "name": "lang", "type": "string"}])
    live = reduce_feed(pdf)
    k = live.iloc[5]
    hi = int(pdf["lsn"].max())
    churn = pd.DataFrame([
        {"lsn": hi + 1, "op": "U", "ts": None, "conv_id": k["conv_id"],
         "turn_idx": int(k["turn_idx"]),
         "payload": json.dumps({"role": "assistant", "text": "post-ddl",
                                "tool": None, "ts": None, "lang": "en"})},
    ])
    _apply(spark, job, churn, 1)
    sid_b = t.current_snapshot()["snapshot_id"]

    net = t.net_changes(spark, sid_a, sid_b)
    assert "lang" in net.columns  # TO schema wins
    rows = net.toPandas()
    assert len(rows) == 1
    assert rows.iloc[0]["_change_op"] == "U"
    assert rows.iloc[0]["lang"] == "en"
    assert rows.iloc[0]["text"] == "post-ddl"


def test_net_changes_overwrite_fallback(spark, tmp_path):
    pdf = generate_feed_pandas(FeedSpec(n_events=2_000, n_convs=40, seed=29))
    t, job = _mk(spark, tmp_path, "n3", compact_every=10**9)
    _apply(spark, job, pdf, 0)
    sid_a = t.current_snapshot()["snapshot_id"]

    # overwrite with a snapshot that keeps half the rows, mutates some text
    live = reduce_feed(pdf)
    keep = live.iloc[: len(live) // 2].copy()
    keep.loc[keep.index[:5], "text"] = "rewritten"
    keep["ts"] = pd.to_datetime(keep["ts"])
    sdf = spark.createDataFrame(keep[["conv_id", "turn_idx", "role", "text", "tool", "ts"]],
                                schema=TRANSCRIPT_SCHEMA)
    t.overwrite(spark, sdf, batch_id=1)
    sid_b = t.current_snapshot()["snapshot_id"]

    # fallback must be taken (touched keys not derivable)
    assert t._touched_key_df(spark, sid_a, sid_b) is None

    exp = _net_oracle(live, keep)
    got = _got(t.net_changes(spark, sid_a, sid_b))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # half the table disappeared → plenty of D rows, and the mutated rows are U
    assert (got["_change_op"] == "D").sum() == len(live) - len(keep)
    assert (got["_change_op"] == "U").sum() == 5


def test_net_changes_regime_split(spark, tmp_path, monkeypatch):
    """Point regime (default: conv_ids collected, file-skipping read) and
    high-churn regime (HIGH_CHURN_CAP=0: distributed semi-join, nothing on the
    driver) must produce the identical changelog; the point regime's scans
    must actually skip files (bucket pruning on the touched conv_ids)."""
    pdf = generate_feed_pandas(FeedSpec(n_events=4_000, n_convs=60, seed=37))
    # cluster_by records per-file conv_id ranges, so plan_scan can SHOW the
    # key-range skipping (bucket pruning happens in read() on any table but
    # is invisible to the driver-side dry run)
    t, job = _mk(spark, tmp_path, "n5", compact_every=10**9,
                 cluster_by=["conv_id"], target_file_rows=200)
    _apply(spark, job, pdf, 0)
    # compaction lays out small conv_id-sorted files with narrow recorded
    # key ranges — the state where key-range skipping has bite
    t.compact(spark)
    sid_a = t.current_snapshot()["snapshot_id"]
    live = reduce_feed(pdf)
    hi = int(pdf["lsn"].max())
    one = live.iloc[3]  # single-conversation churn
    churn = pd.DataFrame([
        {"lsn": hi + 1, "op": "U", "ts": None, "conv_id": one["conv_id"],
         "turn_idx": int(one["turn_idx"]),
         "payload": json.dumps({"role": "assistant", "text": "regime",
                                "tool": None, "ts": None})},
    ])
    _apply(spark, job, churn, 1)
    sid_b = t.current_snapshot()["snapshot_id"]

    point = _got(t.net_changes(spark, sid_a, sid_b))
    with monkeypatch.context() as m:
        m.setattr(table_format, "HIGH_CHURN_CAP", 0)
        semi = _got(t.net_changes(spark, sid_a, sid_b))
    pd.testing.assert_frame_equal(point, semi, check_dtype=False)
    assert len(point) == 1 and point.iloc[0]["text"] == "regime"

    # the point path's conv_ids= read skips files: one touched conv_id maps
    # to one bucket, so of the base files (one per non-empty bucket) only
    # that bucket's survive scan planning
    plan = t.plan_scan(snapshot_id=sid_a, conv_ids=[one["conv_id"]])
    assert plan["files_pruned"] > 0
    assert plan["files_kept"] < plan["files_total"]
    # with a session, plan_scan also models read()'s bucket pruning — at
    # least as sharp as the metadata-only (key-range) report
    full = t.plan_scan(snapshot_id=sid_a, conv_ids=[one["conv_id"]], spark=spark)
    assert full["files_kept"] <= plan["files_kept"]
    assert full["files_kept"] >= 1


def test_touched_keys_scale_with_churn(spark, tmp_path):
    """The semi-join path: touched keys == churned keys, not table keys."""
    pdf = generate_feed_pandas(FeedSpec(n_events=4_000, n_convs=60, seed=31))
    t, job = _mk(spark, tmp_path, "n4", compact_every=10**9)
    _apply(spark, job, pdf, 0)
    sid_a = t.current_snapshot()["snapshot_id"]
    live = reduce_feed(pdf)
    hi = int(pdf["lsn"].max())
    churn = pd.DataFrame([
        {"lsn": hi + 1 + i, "op": "U", "ts": None,
         "conv_id": r["conv_id"], "turn_idx": int(r["turn_idx"]),
         "payload": json.dumps({"role": "assistant", "text": f"u{i}",
                                "tool": None, "ts": None})}
        for i, (_, r) in enumerate(live.iloc[:7].iterrows())
    ])
    _apply(spark, job, churn, 1)
    sid_b = t.current_snapshot()["snapshot_id"]
    keys = t._touched_key_df(spark, sid_a, sid_b)
    assert keys is not None and keys.count() == 7
    got = _got(t.net_changes(spark, sid_a, sid_b))
    assert len(got) == 7 and set(got["_change_op"]) == {"U"}
