"""Delta write layout: one file per touched bucket per merge.

A merge writes its changeset as one delta file per bucket; tombstones stay
in those files, marked by the `_tomb` engine column (true on D rows, null
otherwise), so per-bucket delete counts still come from parquet footers
alone. `delta_depth` counts delta commits per bucket, so `compact_every`
means commits. Deltas written in the older `_bucket=<b>/_del=<bool>/`
layout stay readable, inspectable and compactable.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow.parquet as pq

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.fsck import fsck
from data_pipeline_spark.plans.table_format import TOMB_COL, LakehouseTable
from data_pipeline_spark.schemas import OP_RANK, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import read_feed_batch
from data_pipeline_spark.streaming.ingest import IngestJob
from conftest import changes_df, write_legacy_split_delta

N_BUCKETS = 8


def _bucket_of(spark, tbl: LakehouseTable, conv_ids: list[str]) -> dict[str, int]:
    df = spark.createDataFrame([(c,) for c in conv_ids], "conv_id string")
    return {
        r["conv_id"]: r["b"]
        for r in df.select("conv_id", tbl.bucket_expr(N_BUCKETS).alias("b")).collect()
    }


def _convs_per_bucket(spark, tbl, k: int) -> dict[int, list[str]]:
    """k conv ids routed to each of the N_BUCKETS buckets."""
    out: dict[int, list[str]] = {b: [] for b in range(N_BUCKETS)}
    for c, b in sorted(_bucket_of(spark, tbl, [f"k{i}" for i in range(40 * k)]).items()):
        if len(out[b]) < k:
            out[b].append(c)
    assert all(len(v) == k for v in out.values())
    return out


def _sorted_rows(df: pd.DataFrame, cols) -> list[tuple]:
    return sorted(map(tuple, df[cols].astype(object).where(df[cols].notna(), None).values))


def test_compact_every_counts_commits(spark, tmp_path):
    """compact_every=2: a batch with inserts, updates and deletes in every
    bucket is one delta commit — no compaction, depth 1, one delta file per
    bucket — and the second batch's background maintenance makes exactly
    one compaction."""
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS, compact_every=2)
    convs = _convs_per_bucket(spark, tbl, 3)
    base = [(c, 0, "user", "v0", None, None) for cs in convs.values() for c in cs]
    tbl.overwrite(spark, spark.createDataFrame(base, TRANSCRIPT_SCHEMA), batch_id=0)

    lsn = iter(range(1, 10_000))
    batch1 = [
        row
        for ins, upd, dele in convs.values()
        for row in (
            (next(lsn), "I", ins, 1, "new"),
            (next(lsn), "U", upd, 0, "v1"),
            (next(lsn), "D", dele, 0, None),
        )
    ]
    job = IngestJob(tbl.path, str(tmp_path / "ctl"))
    job.apply_batch(spark, 1, read_feed_batch(spark, _feed_chunk(str(tmp_path / "f1"), batch1)))
    job.wait_maintenance()
    assert "compact" not in [s["kind"] for s in tbl.history()]
    assert tbl.delta_depth() == {b: 1 for b in range(N_BUCKETS)}
    deltas = [e for e in tbl.files() if e["layer"] == "delta"]
    assert sorted(e["bucket"] for e in deltas) == list(range(N_BUCKETS))

    batch2 = [(next(lsn), "U", cs[0], 0, "v2") for cs in convs.values()]
    r = job.apply_batch(spark, 2, read_feed_batch(spark, _feed_chunk(str(tmp_path / "f2"), batch2)))
    assert r["maintenance_due"]
    job.wait_maintenance()
    assert [s["kind"] for s in tbl.history()].count("compact") == 1
    assert tbl.delta_depth() == {}


def _feed_chunk(path, events) -> str:
    """events: (lsn, op, conv_id, turn_idx, text) → one raw feed parquet."""
    os.makedirs(path)
    pd.DataFrame({
        "lsn": pd.array([e[0] for e in events], dtype="int64"),
        "op": [e[1] for e in events],
        "ts": pd.to_datetime(["2026-01-01"] * len(events)),
        "conv_id": [e[2] for e in events],
        "turn_idx": pd.array([e[3] for e in events], dtype="Int32"),
        "payload": pd.array(
            [
                None if e[1] == "D"
                else json.dumps({"role": "user", "text": e[4], "ts": "2026-01-01T00:00:01"})
                for e in events
            ],
            dtype="string",
        ),
    }).to_parquet(os.path.join(path, "c0.parquet"), index=False,
                  coerce_timestamps="us", allow_truncated_timestamps=True)
    return path


def test_rows_deleted_from_footers_and_tomb_hygiene(spark, tmp_path):
    """Per-bucket rows_deleted in the control table equals the oracle's
    count of collapsed D rows — including a bucket without deletes (an
    all-null `_tomb`) and a bucket of deletes only — and `_tomb` never leaks
    into what readers see or into compacted base files."""
    t = str(tmp_path / "t")
    tbl = LakehouseTable(t)
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS, compact_every=99)
    convs = _convs_per_bucket(spark, tbl, 6)
    no_del, all_del = 0, 1
    lsn = iter(range(1, 10_000))
    events = []
    for b, cs in convs.items():
        for i, c in enumerate(cs):
            for turn in (0, 1):
                kind = "IU" if b == no_del else "ID" if b == all_del else ["ID", "IU", "D"][i % 3]
                for op in kind:
                    events.append((next(lsn), op, c, turn, f"{c}/{turn}/{op}"))
    job = IngestJob(t, str(tmp_path / "ctl"))
    job.apply_batch(spark, 0, read_feed_batch(spark, _feed_chunk(str(tmp_path / "f0"), events)))

    ev = pd.DataFrame(events, columns=["lsn", "op", "conv_id", "turn_idx", "text"])
    ev["_rank"] = ev["op"].map(OP_RANK)
    winners = ev.sort_values(["lsn", "_rank"]).groupby(["conv_id", "turn_idx"]).last()
    bucket = {c: b for b, cs in convs.items() for c in cs}
    winners["bucket"] = [bucket[c] for c, _t in winners.index]
    exp_deleted = winners[winners["op"] == "D"].groupby("bucket").size()
    exp_rows = winners.groupby("bucket").size()

    ctl = job.read_control(spark).toPandas().set_index("partition_id")
    assert sorted(ctl.index) == list(range(N_BUCKETS))
    for b in range(N_BUCKETS):
        assert ctl.loc[b, "rows_applied"] == exp_rows[b]
        assert ctl.loc[b, "rows_deleted"] == exp_deleted.get(b, 0), b
    assert ctl.loc[no_del, "rows_deleted"] == 0
    assert ctl.loc[all_del, "rows_deleted"] == ctl.loc[all_del, "rows_applied"]

    # the mechanism: every delta file carries _tomb, one file per bucket
    deltas = tbl.files()
    assert len(deltas) == N_BUCKETS
    for e in deltas:
        assert TOMB_COL in pq.ParquetFile(os.path.join(t, e["path"])).schema_arrow.names

    assert TOMB_COL not in tbl.schema_struct().names
    assert TOMB_COL not in tbl.read(spark).columns
    assert TOMB_COL not in tbl.read(spark, with_lsn=True).columns
    assert TOMB_COL not in tbl.read_changes(spark, 0).columns
    tail, _cursor = tbl.tail_changes(spark, str(tmp_path / "cursor.json"))
    assert TOMB_COL not in tail.columns
    live = tbl.read(spark).toPandas()
    tbl.compact(spark)
    for e in tbl.files():
        assert e["layer"] == "base"
        assert TOMB_COL not in pq.ParquetFile(os.path.join(t, e["path"])).schema_arrow.names
    after = tbl.read(spark).toPandas()
    cols = ["conv_id", "turn_idx", "text"]
    assert _sorted_rows(after, cols) == _sorted_rows(live, cols)
    assert len(after) == (winners["op"] != "D").sum()


def test_legacy_split_delta_reads_inspects_and_compacts(spark, tmp_path):
    """A delta in the old `_bucket=/_del=` layout under a new-layout one:
    read and read_changes match the oracle, only the legacy `_del=true`
    files are flagged is_delete, compaction folds both layouts, and a deep
    fsck passes."""
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS, compact_every=99)
    old = [(i + 1, "I", f"c{i % 5}", i // 5, f"a{i}") for i in range(20)]
    old += [(21, "D", "c0", 0, None), (22, "D", "c1", 1, None)]
    legacy_id = write_legacy_split_delta(spark, tbl, 0, old)
    new = [(23, "U", "c2", 0, "b"), (24, "D", "c3", 1, None), (25, "I", "c9", 0, "n"),
           (26, "D", "c4", 2, None)]
    tbl.merge(spark, 1, changes_df(spark, new))

    feed = pd.DataFrame(
        [
            (lsn, op, c, t, None if op == "D" else json.dumps({"role": "user", "text": x}))
            for lsn, op, c, t, x in old + new
        ],
        columns=["lsn", "op", "conv_id", "turn_idx", "payload"],
    )
    expected = reduce_feed(feed)
    cols = ["conv_id", "turn_idx", "text"]
    assert _sorted_rows(tbl.read(spark).toPandas(), cols) == _sorted_rows(expected, cols)

    ch = tbl.read_changes(spark, legacy_id - 1).toPandas()
    got = _sorted_rows(ch, ["_batch_id", "_change_op", "lsn", "conv_id", "turn_idx", "text"])
    assert got == sorted(
        [(0, op, lsn, c, t, x) for lsn, op, c, t, x in old]
        + [(1, op, lsn, c, t, x) for lsn, op, c, t, x in new]
    )

    files = tbl.inspect(spark, "files").toPandas()
    legacy = files["path"].str.startswith(f"data/s{legacy_id}/")
    assert files.loc[legacy & files["is_delete"], "path"].str.contains("/_del=true/").all()
    assert files.loc[legacy & ~files["is_delete"], "path"].str.contains("/_del=false/").all()
    # one _del=true file per bucket holding a legacy delete (c0's and c1's)
    assert files["is_delete"].sum() == len(set(_bucket_of(spark, tbl, ["c0", "c1"]).values()))
    assert not files.loc[~legacy, "is_delete"].any()
    assert fsck(tbl, deep=True)["ok"]

    tbl.compact(spark)
    assert tbl.delta_depth() == {}
    assert {e["layer"] for e in tbl.files()} == {"base"}
    assert _sorted_rows(tbl.read(spark).toPandas(), cols) == _sorted_rows(expected, cols)
    r = fsck(tbl, deep=True)
    assert r["ok"], r["errors"]
