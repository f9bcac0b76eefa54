"""Read planning starts no Spark job: `_read_parts` pins each typed file
group's schema (its `schema-<id>.json` plus the requested engine columns)
instead of letting `spark.read.parquet` infer it, which costs one Spark job
per schema group on every `read`, `read_changes` and compaction. A point
read routes its ids to buckets on the driver, also without a job. Files
written before the `typed` manifest mark may hold other types than their
schema's; those are still inferred and read right.
"""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from conftest import changes_df, write_legacy_overwrite


def _jobs_started(spark, build) -> int:
    """Spark jobs started on this thread while `build()` runs."""
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read planning")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_plans_start_no_spark_job(spark, tmp_path):
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=99)
    base = [(i + 1, "I", f"c{i % 5}", i // 5, f"a{i}") for i in range(20)]
    tbl.merge(spark, 0, changes_df(spark, base))
    tbl.compact(spark)  # base files
    tbl.merge(spark, 1, changes_df(spark, [(21, "U", "c0", 0, "u"), (22, "D", "c1", 0, None)]))
    tbl.apply_ddl([{"action": "add_column", "name": "score", "type": "double"}])
    tbl.merge(spark, 2, changes_df(spark, [(23, "I", "c9", 0, "n"), (24, "D", "c2", 0, None)]))
    # deltas under two schema ids, base under the first
    assert len({e["schema_id"] for e in tbl.files()}) == 2

    plans = []
    assert _jobs_started(spark, lambda: plans.extend([
        tbl.read(spark),
        tbl.read(spark, with_lsn=True),
        tbl.read_changes(spark, 0),
        tbl.read(spark, conv_ids=["c0", "c9"]),
    ])) == 0
    # the counter sees the jobs an action does start
    assert _jobs_started(spark, lambda: [p.count() for p in plans]) > 0

    live = {(r["conv_id"], r["turn_idx"]): (r["text"], r["score"]) for r in plans[0].collect()}
    assert live[("c0", 0)] == ("u", None) and live[("c9", 0)] == ("n", None)
    assert ("c1", 0) not in live and ("c2", 0) not in live
    ops = sorted((r["lsn"], r["_change_op"]) for r in plans[2].collect())
    assert ops[-4:] == [(21, "U"), (22, "D"), (23, "I"), (24, "D")]
    point = {(r["conv_id"], r["turn_idx"]): r["text"] for r in plans[3].collect()}
    assert point == {k: v[0] for k, v in live.items() if k[0] in ("c0", "c9")}


def test_untyped_legacy_files_still_read(spark, tmp_path):
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=99)
    write_legacy_overwrite(spark, tbl, [(0, f"c{i % 5}", i // 5, f"a{i}") for i in range(20)])
    legacy = tbl.files()
    assert not any(e.get("typed") for e in legacy)
    # the files really hold a bigint where the schema says int
    md = pq.read_schema(os.path.join(tbl.path, legacy[0]["path"]))
    assert str(md.field("turn_idx").type) == "int64"
    tbl.merge(spark, 0, changes_df(spark, [
        (21, "U", "c0", 0, "u"), (22, "D", "c1", 0, None), (23, "I", "c9", 0, "n"),
    ]))

    want = {(f"c{i % 5}", i // 5): f"a{i}" for i in range(20)}
    want[("c0", 0)] = "u"
    del want[("c1", 0)]
    want[("c9", 0)] = "n"

    def live() -> dict:
        return {(r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.read(spark).collect()}

    assert live() == want
    changes = sorted(
        (r["lsn"], r["_change_op"], r["conv_id"], r["turn_idx"], r["text"])
        for r in tbl.read_changes(spark, 0).collect()
    )
    assert changes[:20] == sorted(
        (0, "I", f"c{i % 5}", i // 5, f"a{i}") for i in range(20)
    )
    assert changes[20:] == [
        (21, "U", "c0", 0, "u"), (22, "D", "c1", 0, None), (23, "I", "c9", 0, "n"),
    ]

    hot = {e["bucket"] for e in tbl.files() if e["layer"] == "delta"}
    tbl.compact(spark)
    # compaction rewrote the hot buckets as typed files, the rest stay legacy
    files = tbl.files()
    assert {e["bucket"] for e in files if e.get("typed")} == hot
    assert {e["bucket"] for e in files if not e.get("typed")}
    assert live() == want
