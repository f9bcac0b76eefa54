"""Shared fixtures: one SparkSession per test session (local, small)."""

from __future__ import annotations

import json
import os

import pytest

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
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
