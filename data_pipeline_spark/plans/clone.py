"""Consistent snapshot clone — backup / restore / dev-fork for a table.

`clone_snapshot(table, dest)` copies ONE snapshot's closed set of files —
the snapshot json verbatim (ids, specs, stats, kind all preserved), the
manifests it references, every schema version its file entries were
written under, and the data files at their original relative paths — and
points a fresh version hint at it. Nothing else: no other snapshots, no
refs/branches, no orphans. The result is a fully functional table (reads,
time-travel-from-here, continued ingest — batch ids and watermark carry
over) whose history simply begins at the cloned snapshot (`history()`
stops at the first absent parent by design).

This is the Iceberg snapshot-export/backup pattern done with the engine's
own invariants: because snapshots are immutable and manifests/data files
are content-addressed by path, a clone is a pure file copy plus one hint
write — no rewrite, no re-stat, byte-identical reads. Clone a TAG before
a risky migration and you hold a restorable backup GC can never touch;
clone a historical snapshot id and you've forked the table as of then
(dev/test against production data without touching production).

Every clone is fsck'd (deep: footer-vs-manifest stats cross-check) before
returning; a clone that fails verification raises and leaves the partial
copy behind under `<dest>` for inspection.
"""

from __future__ import annotations

import os
import shutil

from data_pipeline_spark.plans.fsck import fsck
from data_pipeline_spark.plans.table_format import LakehouseTable


def clone_snapshot(
    table: LakehouseTable,
    dest_path: str,
    snapshot_id: int | None = None,
    tag: str | None = None,
    verify: bool = True,
    reference_clone: str | None = None,
) -> dict:
    """Clone one retained snapshot (default: current; or a snapshot id or
    tag name) into a fresh table directory at `dest_path`.

    reference_clone: INCREMENTAL backup — a previous clone of this table.
    Data files already present there (same relative path; engine data
    files are immutable and content-addressed by path, so path identity
    IS content identity) are hard-linked instead of copied; only files
    new since that backup cost I/O or space. At 100 TB a daily full copy
    is impossible; with immutable files the daily increment is exactly
    the day's churn (on object stores the same structure is expressed as
    a manifest of unchanged keys instead of hardlinks). The resulting
    clone is still fully self-contained for reads and deep-fsck; deleting
    the reference clone later never corrupts it (hardlinks keep the
    bytes alive)."""
    if snapshot_id is not None and tag is not None:
        raise ValueError("pass snapshot_id or tag, not both")
    if tag is not None:
        tags = table.tags()
        if tag not in tags:
            raise KeyError(f"no such tag: {tag!r}")
        snapshot_id = tags[tag]["snapshot_id"]
    snap = (
        table.snapshot_by_id(snapshot_id)
        if snapshot_id is not None
        else table.current_snapshot()
    )
    if os.path.exists(dest_path) and os.listdir(dest_path):
        raise FileExistsError(f"clone destination not empty: {dest_path}")

    dest_meta = os.path.join(dest_path, "_meta")
    os.makedirs(dest_meta, exist_ok=True)

    entries = table.files(snap)
    schema_ids = {snap["schema_id"]} | {e["schema_id"] for e in entries}

    n_bytes = 0
    n_linked = 0
    # data files at their original relative paths (manifests reference them
    # by that path — no rewrite needed)
    for e in entries:
        src = os.path.join(table.path, e["path"])
        dst = os.path.join(dest_path, e["path"])
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        ref = (
            os.path.join(reference_clone, e["path"]) if reference_clone else None
        )
        if ref and os.path.exists(ref) and os.path.getsize(ref) == os.path.getsize(src):
            try:
                os.link(ref, dst)
                n_linked += 1
                continue
            except OSError:
                pass  # cross-device / FS without hardlinks: fall back to copy
        shutil.copy2(src, dst)
        n_bytes += os.path.getsize(dst)

    meta_files = [f"snapshot-{snap['snapshot_id']:08d}.json"]
    meta_files += [m["name"] for m in snap["manifests"]]
    meta_files += [f"schema-{k}.json" for k in sorted(schema_ids)]
    for fn in meta_files:
        shutil.copy2(os.path.join(table.meta_dir, fn), os.path.join(dest_meta, fn))

    # hint last: an interrupted clone has no hint → LakehouseTable(dest)
    # .exists() is False and fsck reports it, never a silently-torn table
    tmp = os.path.join(dest_meta, ".hint.tmp")
    with open(tmp, "w") as f:
        f.write(meta_files[0])
    os.replace(tmp, os.path.join(dest_meta, "version-hint.txt"))

    report = None
    if verify:
        report = fsck(LakehouseTable(dest_path), deep=True)
        if not report["ok"]:
            raise RuntimeError(
                f"clone verification failed: {report['errors'][:5]} "
                f"(partial copy left at {dest_path})"
            )
    return {
        "snapshot_id": snap["snapshot_id"],
        "data_files": len(entries),
        "bytes": n_bytes,  # bytes actually copied (excludes hardlinked)
        "hardlinked": n_linked,
        "meta_files": len(meta_files) + 1,
        "fsck": report and report["checked"],
    }
