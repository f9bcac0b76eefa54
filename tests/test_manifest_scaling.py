"""Commit-path scalability: manifest-list layering keeps a merge commit's
metadata cost O(batch), not O(table) (VERDICT round 1, "what's wrong" #4 —
the inline full `files` list rewritten per commit was the known
driver-bound-at-10^10-events failure mode that Iceberg's manifest lists
exist to solve).

The proofs here are BYTE-counting, not wall-clock (the sandbox VM's bursty
hypervisor steal makes timing asserts flaky): install a snapshot that
references ~10k file entries through manifests, run a real merge, and
assert the metadata written by that commit is a small constant — far below
what rewriting the full inventory would cost — plus carry-by-name proofs
for compaction and GC of unreferenced manifests.
"""

from __future__ import annotations

import json
import os

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA


def _meta_bytes(tbl: LakehouseTable) -> dict[str, int]:
    return {
        fn: os.path.getsize(os.path.join(tbl.meta_dir, fn))
        for fn in os.listdir(tbl.meta_dir)
    }


def _install_big_inventory(tbl: LakehouseTable, n_manifests=100, per_manifest=100):
    """Install a snapshot referencing n_manifests×per_manifest fake file
    entries (metadata-only: a MOR merge never reads existing entries, so
    the paths don't need to exist)."""
    snap = tbl.current_snapshot()
    refs = []
    k = 0
    for m in range(n_manifests):
        entries = [
            {
                "path": f"data/sX/_bucket={k % 16}/fake-{(k := k + 1):06d}.parquet",
                "bucket": m % 16,
                "schema_id": 0,
                "layer": "base",
                "spec_id": 0,
            }
            for _ in range(per_manifest)
        ]
        refs.append(tbl._write_manifest(snap["snapshot_id"] + 1, entries))
    new = {
        **snap,
        "snapshot_id": snap["snapshot_id"] + 1,
        "parent": snap["snapshot_id"],
        "kind": "overwrite",
        "manifests": refs,
        "delta_depth": {},
        "committed_at": snap["committed_at"],
    }
    tbl._commit(new)
    return new


def _changeset(spark, n=100):
    rows = [
        (i + 1, "I", f"conv-{i % 37}", i % 50, "user", f"text {i}", None, None)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )


def test_merge_commit_metadata_is_o_batch_not_o_table(spark, tmp_path):
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=16, compact_every=10**9)
    _install_big_inventory(tbl)  # 10,000 entries across 100 manifests

    inventory = tbl.files()
    assert len(inventory) == 10_000
    inline_equiv = len(json.dumps(inventory))  # what the old design rewrote per commit

    before = _meta_bytes(tbl)
    tbl.merge(spark, batch_id=0, changes=_changeset(spark))
    after = _meta_bytes(tbl)

    written = sum(sz for fn, sz in after.items() if fn not in before)
    # the commit wrote ONE new manifest (the batch's files) + one snapshot
    # json holding ~101 manifest refs — nowhere near the 10k-entry inventory
    assert written < inline_equiv * 0.15, (
        f"commit wrote {written}B of metadata vs {inline_equiv}B inline-files "
        "equivalent — manifest layering is not O(batch)"
    )
    # and the table still sees everything
    assert len(tbl.files()) == 10_000 + sum(
        m["entry_count"] for m in tbl.current_snapshot()["manifests"][-1:]
    )


def test_second_merge_metadata_does_not_grow_with_inventory(spark, tmp_path):
    """Per-commit metadata depends on the batch + the number of MANIFESTS
    (bounded by compaction), not the number of FILES: a second identical
    merge against a 10k-file table writes ~the same bytes as the first."""
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=16, compact_every=10**9)
    _install_big_inventory(tbl)

    before = _meta_bytes(tbl)
    tbl.merge(spark, batch_id=0, changes=_changeset(spark))
    mid = _meta_bytes(tbl)
    tbl.merge(spark, batch_id=1, changes=_changeset(spark))
    after = _meta_bytes(tbl)

    first = sum(sz for fn, sz in mid.items() if fn not in before)
    second = sum(sz for fn, sz in after.items() if fn not in mid)
    assert second < first * 1.5  # constant-ish, not inventory-proportional


def test_compact_carries_untouched_manifests_by_name(spark, tmp_path):
    """Bucket-targeted compaction rewrites ONLY manifests whose bucket set
    intersects the compacted buckets; every other manifest ref carries
    verbatim (same name — zero I/O for it)."""
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=8, compact_every=10**9)
    for b in range(4):
        tbl.merge(spark, batch_id=b, changes=_changeset(spark, n=50))
    snap = tbl.current_snapshot()
    depth = tbl.delta_depth(snap)
    target = min(depth)
    names_before = {m["name"] for m in snap["manifests"]}

    tbl.compact(spark, buckets={target})
    snap2 = tbl.current_snapshot()
    carried = [m for m in snap2["manifests"] if m["name"] in names_before]
    rewritten = [m for m in snap2["manifests"] if m["name"] not in names_before]
    # every carried manifest is bucket-disjoint from the target; every
    # manifest that contained the target bucket was replaced
    assert all(target not in m["buckets"] for m in carried)
    assert all(
        target not in m["buckets"] or m in rewritten for m in snap2["manifests"]
    )
    assert target not in tbl.delta_depth(snap2)


def test_expire_snapshots_gcs_unreferenced_manifests(spark, tmp_path):
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=8, compact_every=10**9)
    for b in range(5):
        tbl.merge(spark, batch_id=b, changes=_changeset(spark, n=30))
    tbl.compact(spark)  # folds deltas → old delta manifests become garbage
    n_manifest_files = lambda: sum(  # noqa: E731
        1 for f in os.listdir(tbl.meta_dir) if f.startswith("manifest-")
    )
    before = n_manifest_files()
    r = tbl.expire_snapshots(keep_last=1)
    assert r["removed_manifests"] > 0
    after = n_manifest_files()
    assert after < before
    live = {m["name"] for m in tbl.current_snapshot()["manifests"]}
    on_disk = {f for f in os.listdir(tbl.meta_dir) if f.startswith("manifest-")}
    assert live <= on_disk
    # table still reads fine
    assert tbl.read(spark).count() > 0
