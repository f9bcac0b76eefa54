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


@pytest.fixture
def legacy_cow(spark, tmp_path):
    """Factory for a table as an older version wrote it in copy-on-write
    mode. Each load is an overwrite (batch_id = its index), relabelled by
    hand-editing the snapshot JSON into what a COW merge left behind: kind
    "merge", folded base files only, its affected bucket count in stats.
    Every snapshot says merge_mode "cow"."""

    def make(name: str, loads=(SIX_ROWS,), n_buckets: int = 2) -> LakehouseTable:
        tbl = LakehouseTable(str(tmp_path / name))
        tbl.create(TRANSCRIPT_SCHEMA, n_buckets=n_buckets)
        for batch_id, rows in enumerate(loads):
            tbl.overwrite(
                spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), batch_id=batch_id
            )
        for fn in os.listdir(tbl.meta_dir):
            if not (fn.startswith("snapshot-") and fn.endswith(".json")):
                continue
            snap = tbl._load_snapshot(fn)
            snap["merge_mode"] = "cow"
            if snap["kind"] == "overwrite":
                snap["kind"] = "merge"
                snap["stats"] = {"affected_buckets": n_buckets}
            with open(os.path.join(tbl.meta_dir, fn), "w") as f:
                json.dump(snap, f)
        return tbl

    return make
