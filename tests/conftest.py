"""Shared fixtures: one SparkSession per test session (local, small)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.plans.table_format import OP_COL, LakehouseTable
from data_pipeline_spark.schemas import LSN_COL, TRANSCRIPT_SCHEMA
from data_pipeline_spark.session import get_spark

#: Six live rows over three conversations (lsn 0, as an overwrite writes).
SIX_ROWS = [(f"c{i % 3}", i // 3, "user", f"t{i}", None, None) for i in range(6)]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


#: One MOR batch laid over SIX_ROWS by the "mor-inline" legacy shape:
#: (lsn, op, conv_id, turn_idx, text).
MOR_CHANGES = [(10, "U", "c0", 0, "t0-v2"), (11, "D", "c1", 0, None), (12, "I", "c9", 0, "n")]

#: The one error every entry point raises on a table written before format v2.
UPGRADE_ERROR = r"maintenance\.py --table \S+ upgrade"


def changes_df(spark, rows):
    """A deduped merge changeset from (lsn, op, conv_id, turn_idx, text)."""
    return spark.createDataFrame(
        [(lsn, op, c, t, "user", text, None, None) for lsn, op, c, t, text in rows],
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )


def crash_after(job, n: int) -> None:
    """Make `job.apply_batch` raise on every call after its first `n`, as a
    crash between micro-batches would. `del job.apply_batch` restores it."""
    real = job.apply_batch
    calls = {"n": 0}

    def apply_batch(*args, **kwargs):
        if calls["n"] >= n:
            raise RuntimeError("injected crash")
        calls["n"] += 1
        return real(*args, **kwargs)

    job.apply_batch = apply_batch


def write_legacy_split_delta(spark, tbl: LakehouseTable, batch_id: int, rows) -> int:
    """Merge `rows` ((lsn, op, conv_id, turn_idx, text)) as a version before
    the `_tomb` column did: the delta partitioned by (_bucket, _del), so a
    bucket's tombstones sit in their own `_del=true` file, each manifest
    entry flagged `is_delete`, and delta_depth bumped once per file.
    Returns the new snapshot id."""
    snap = tbl.current_snapshot()
    data_cols = [f["name"] for f in tbl._load_schema(snap["schema_id"])["fields"]]
    delta = changes_df(spark, rows).select(
        tbl.bucket_expr(snap["n_buckets"]).alias("_bucket"),
        (F.col("op") == "D").alias("_del"),
        F.col("lsn").alias(LSN_COL),
        F.col("op").alias(OP_COL),
        *data_cols,
    )
    new_id = tbl._next_id(snap)
    rel = f"data/s{new_id}"
    out = os.path.join(tbl.path, rel)
    delta.repartition(snap["n_buckets"], "_bucket").write.partitionBy(
        "_bucket", "_del"
    ).parquet(out)
    entries, depth = [], dict(snap["delta_depth"])
    for root, _dirs, files in sorted(os.walk(out)):
        parts = dict(
            kv.split("=", 1) for kv in os.path.relpath(root, out).split(os.sep) if "=" in kv
        )
        for fn in sorted(f for f in files if f.endswith(".parquet")):
            b = int(parts["_bucket"])
            entries.append({
                "path": os.path.join(rel, os.path.relpath(root, out), fn),
                "bucket": b, "schema_id": snap["schema_id"], "layer": "delta",
                "spec_id": snap["spec_id"], "is_delete": parts["_del"] == "true",
            })
            depth[str(b)] = depth.get(str(b), 0) + 1
    tbl._commit({
        **snap,
        "snapshot_id": new_id,
        "parent": snap["snapshot_id"],
        "kind": "merge",
        "batch_id": batch_id,
        "last_batch_id": batch_id,
        "watermark_lsn": max([snap["watermark_lsn"] or 0] + [r[0] for r in rows]),
        "delta_commits": snap.get("delta_commits", 0) + 1,
        "manifests": snap["manifests"] + [tbl._write_manifest(new_id, entries)],
        "delta_depth": depth,
        "stats": {"affected_buckets": len({e["bucket"] for e in entries})},
        "committed_at": time.time(),
    })
    return new_id


def write_legacy_overwrite(spark, tbl: LakehouseTable, rows) -> int:
    """Overwrite the table with `rows` ((lsn, conv_id, turn_idx, text)) as a
    version before the `typed` manifest mark did: the caller's frame types
    written unchanged — here a bigint `turn_idx` under the schema's int —
    and no mark on the entries. Returns the new snapshot id."""
    snap = tbl.current_snapshot()
    df = spark.createDataFrame(
        [(c, t, "user", text, None, None, lsn) for lsn, c, t, text in rows],
        "conv_id string, turn_idx long, role string, text string, tool string, "
        f"ts timestamp, {LSN_COL} long",
    ).withColumn("_bucket", tbl.bucket_expr(snap["n_buckets"]))
    new_id = tbl._next_id(snap)
    rel = f"data/s{new_id}"
    out = os.path.join(tbl.path, rel)
    df.repartition(snap["n_buckets"], "_bucket").write.partitionBy("_bucket").parquet(out)
    entries = [
        {"path": os.path.join(rel, d, fn), "bucket": int(d.split("=", 1)[1]),
         "schema_id": snap["schema_id"], "layer": "base", "spec_id": snap["spec_id"]}
        for d in sorted(os.listdir(out)) if d.startswith("_bucket=")
        for fn in sorted(os.listdir(os.path.join(out, d))) if fn.endswith(".parquet")
    ]
    tbl._commit({
        **snap,
        "snapshot_id": new_id,
        "parent": snap["snapshot_id"],
        "kind": "overwrite",
        "batch_id": None,
        "delta_commits": 0,
        "manifests": [tbl._write_manifest(new_id, tbl._record_stats(entries, snap))],
        "delta_depth": {},
        "stats": {},
        "committed_at": time.time(),
    })
    return new_id


@pytest.fixture
def legacy_table(spark, tmp_path):
    """Factory for a table as a version before format v2 left it on disk:
    built with today's writer, then its metadata hand-edited back. Shapes:

    - "cow": each load is an overwrite relabelled as the copy-on-write
      merge an older version wrote (kind "merge", folded base files only,
      its affected bucket count in stats); merge_mode "cow";
    - "no-merge-mode": the same with no merge_mode field at all;
    - "mor-inline": SIX_ROWS overwritten, then MOR_CHANGES merged; every
      snapshot inlines its file list (no manifests, base entries without
      a layer, no entry spec_id) and has no delta_depth / spec_id / specs;
    - "no-last-column-id": SIX_ROWS, then the highest-id column (ts)
      dropped; no schema file records last_column_id.

    No snapshot carries format_version."""

    def make(name: str, shape: str = "cow", loads=(SIX_ROWS,), n_buckets: int = 2):
        tbl = LakehouseTable(str(tmp_path / name))
        tbl.create(TRANSCRIPT_SCHEMA, n_buckets=n_buckets)
        if shape in ("mor-inline", "no-last-column-id"):
            loads = (SIX_ROWS,)
        for batch_id, rows in enumerate(loads):
            tbl.overwrite(
                spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), batch_id=batch_id
            )
        if shape == "mor-inline":
            tbl.merge(spark, 1, changes_df(spark, MOR_CHANGES))
        if shape == "no-last-column-id":
            tbl.apply_ddl([{"action": "drop_column", "name": "ts"}])
        for fn in os.listdir(tbl.meta_dir):
            path = os.path.join(tbl.meta_dir, fn)
            if shape == "no-last-column-id" and fn.startswith("schema-"):
                sch = tbl._read_json(fn)
                del sch["last_column_id"]
                with open(path, "w") as f:
                    json.dump(sch, f)
            if not (fn.startswith("snapshot-") and fn.endswith(".json")):
                continue
            snap = tbl._read_json(fn)
            del snap["format_version"]
            if shape in ("cow", "no-merge-mode"):
                if shape == "cow":
                    snap["merge_mode"] = "cow"
                if snap["kind"] == "overwrite":
                    snap["kind"] = "merge"
                    snap["stats"] = {"affected_buckets": n_buckets}
            else:
                snap["merge_mode"] = "mor"
            if shape == "mor-inline":
                snap["files"] = [
                    {k: v for k, v in e.items()
                     if k != "spec_id" and (k, v) != ("layer", "base")}
                    for e in tbl._files(snap)
                ]
                for k in ("manifests", "delta_depth", "spec_id", "specs"):
                    del snap[k]
            with open(path, "w") as f:
                json.dump(snap, f)
        return tbl

    return make
