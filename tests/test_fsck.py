"""fsck consistency checker (plans/fsck.py): clean tables pass; every
injected corruption class is detected; the checker never mutates state."""

from __future__ import annotations

import json
import os

import pytest

from data_pipeline_spark.plans.fsck import fsck
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed
from data_pipeline_spark.streaming.ingest import IngestJob


@pytest.fixture(scope="module")
def pristine(spark, tmp_path_factory):
    """A small but real table: several merges, a compaction, a tag, a
    branch — enough structure for every check to have teeth. Built ONCE;
    each test mutates a cheap copy."""
    base = tmp_path_factory.mktemp("fsck")
    feed = str(base / "feed")
    generate_feed(feed, FeedSpec(n_events=6_000, n_convs=150, seed=3, chunk_size=1_500))
    t = str(base / "t")
    lt = LakehouseTable(t)
    lt.create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=2,
              cluster_by=["conv_id", "turn_idx"], stats_columns=["ts"])
    IngestJob(t, str(base / "ctl")).run_to_completion(
        spark, feed, str(base / "cp"), max_files_per_trigger=1
    )
    lt.tag_snapshot("v1")
    lt.create_branch("audit")
    return t


@pytest.fixture()
def table(pristine, tmp_path):
    import shutil

    t = str(tmp_path / "t")
    shutil.copytree(pristine, t)
    return LakehouseTable(t)


def _errs(report, check=None):
    return [e for e in report["errors"] if check is None or e["check"] == check]


def test_clean_table_passes(table):
    r = fsck(table, deep=True)
    assert r["ok"], r["errors"]
    assert r["checked"]["snapshots"] >= 2
    assert r["checked"]["data_files"] > 0
    assert r["checked"]["deep_checked"] == r["checked"]["data_files"]
    assert r["warnings"] == []  # fresh files are inside the orphan grace


def test_missing_data_file_detected(table):
    entry = table.files()[0]
    os.remove(os.path.join(table.path, entry["path"]))
    r = fsck(table)
    assert not r["ok"]
    assert any(entry["path"] in e["detail"] for e in _errs(r, "files"))


def test_missing_manifest_detected(table):
    snap = table.current_snapshot()
    name = snap["manifests"][0]["name"]
    os.remove(os.path.join(table.meta_dir, name))
    table._manifest_cache.clear()
    r = fsck(table)
    assert not r["ok"]
    assert any(name in e["detail"] for e in _errs(r, "manifests"))


def test_dangling_tag_detected(table):
    refs_path = os.path.join(table.meta_dir, "refs.json")
    with open(refs_path) as f:
        refs = json.load(f)
    refs["v1"]["snapshot_id"] = 999_999
    with open(refs_path, "w") as f:
        json.dump(refs, f)
    r = fsck(table)
    assert not r["ok"]
    assert any(e.get("ref") == "tag:v1" for e in _errs(r, "refs"))


def test_corrupt_snapshot_json_detected(table):
    snap = table.current_snapshot()
    fn = f"snapshot-{snap['snapshot_id']:08d}.json"
    with open(os.path.join(table.meta_dir, fn), "w") as f:
        f.write("{ not json")
    r = fsck(table)
    assert not r["ok"]
    assert any(fn in e["detail"] for e in _errs(r, "snapshots"))


def _snapshots(table):
    out = {}
    for fn in os.listdir(table.meta_dir):
        if fn.startswith("snapshot-") and fn.endswith(".json"):
            s = table._load_snapshot(fn)
            out[s["snapshot_id"]] = s
    return out


def test_rollback_is_not_a_watermark_regression(table):
    cur = table.current_snapshot()
    target = min(
        (s for s in _snapshots(table).values()
         if 0 < (s.get("watermark_lsn") or 0) < cur["watermark_lsn"]),
        key=lambda s: s["snapshot_id"],
    )
    table.rollback_to(target["snapshot_id"])
    head = table.current_snapshot()
    assert head["kind"] == "rollback"
    assert head["watermark_lsn"] < cur["watermark_lsn"]
    r = fsck(table)
    assert r["ok"], r["errors"]


def test_hand_edited_watermark_regression_detected(table):
    snaps = _snapshots(table)
    sid, snap = max(
        (sid, s) for sid, s in snaps.items()
        if s.get("parent") in snaps and (snaps[s["parent"]].get("watermark_lsn") or 0) > 0
    )
    snap["watermark_lsn"] = snaps[snap["parent"]]["watermark_lsn"] - 1
    with open(os.path.join(table.meta_dir, f"snapshot-{sid:08d}.json"), "w") as f:
        json.dump(snap, f)
    r = fsck(table)
    assert not r["ok"]
    assert any(e.get("snapshot_id") == sid and "watermark" in e["detail"]
               for e in _errs(r, "snapshots"))


def test_truncated_refs_json_reported(table):
    refs_path = os.path.join(table.meta_dir, "refs.json")
    with open(refs_path) as f:
        body = f.read()
    with open(refs_path, "w") as f:
        f.write(body[: len(body) // 2])
    r = fsck(table)
    assert not r["ok"]
    assert any("refs.json unreadable" in e["detail"] for e in _errs(r, "refs"))


def test_unreadable_branch_hint_reported(table):
    hint = os.path.join(table.meta_dir, "branch-audit.hint")
    os.remove(hint)
    os.mkdir(hint)  # open() fails with IsADirectoryError
    r = fsck(table)
    assert not r["ok"]
    assert any(e.get("ref") == "branch:audit" for e in _errs(r, "refs"))


def test_truncated_parquet_detected_deep(table):
    entry = table.files()[0]
    p = os.path.join(table.path, entry["path"])
    with open(p, "r+b") as f:
        f.truncate(os.path.getsize(p) // 2)
    assert fsck(table)["ok"]  # shallow: file exists, no footer read
    r = fsck(table, deep=True)
    assert not r["ok"]
    assert any("footer unreadable" in e["detail"] for e in _errs(r, "stats"))


def test_lying_manifest_stats_detected_deep(table):
    """Hand-edit a manifest: shrink a base file's recorded key bounds so
    the footer range falls outside them — the exact corruption that would
    make file skipping silently drop rows if stats decided truth."""
    snap = table.current_snapshot()
    victim = None
    for m in snap["manifests"]:
        entries = table._manifest_entries(m["name"])
        for e in entries:
            if e.get("key_min") is not None:
                victim = (m["name"], entries)
                break
        if victim:
            break
    assert victim is not None, "fixture should record key bounds"
    name, entries = victim
    for e in entries:
        if e.get("key_min") is not None:
            e["key_max"] = e["key_min"]  # range now excludes real rows
            break
    with open(os.path.join(table.meta_dir, name), "w") as f:
        json.dump({"entries": entries}, f)
    table._manifest_cache.clear()
    r = fsck(table, deep=True)
    assert not r["ok"]
    assert any("key bounds" in e["detail"] for e in _errs(r, "stats"))


def test_lying_col_stats_detected_deep(table):
    """Forge a stats column's recorded [min,max] (the ts column — exercises
    the timestamp micros codec on the footer side) so the file's real range
    falls outside it."""
    snap = table.current_snapshot()
    name, entries, target = None, None, None
    for m in snap["manifests"]:
        entries = table._manifest_entries(m["name"])
        target = next((e for e in entries if e.get("col_stats")), None)
        if target is not None:
            name = m["name"]
            break
    assert target is not None, "fixture should record col_stats for ts"
    fid, mm = next(iter(target["col_stats"].items()))
    target["col_stats"][fid] = [mm[0], mm[0]]  # range now excludes real rows
    with open(os.path.join(table.meta_dir, name), "w") as f:
        json.dump({"entries": entries}, f)
    table._manifest_cache.clear()
    r = fsck(table, deep=True)
    assert not r["ok"]
    assert any("bounds" in e["detail"] for e in _errs(r, "stats"))


def test_orphans_reported_after_grace(table):
    orphan = os.path.join(table.path, "data", "s999", "_bucket=0")
    os.makedirs(orphan)
    p = os.path.join(orphan, "stray.parquet")
    with open(p, "wb") as f:
        f.write(b"PAR1strayPAR1")
    old = 10_000
    os.utime(p, (os.path.getmtime(p) - old, os.path.getmtime(p) - old))
    r = fsck(table, orphan_grace_s=3600.0)
    assert r["ok"]  # orphans are a warning, not an error
    assert any(w["check"] == "orphans" and w["count"] == 1 for w in r["warnings"])
    # inside the grace window: silent (normal churn)
    assert fsck(table, orphan_grace_s=10**6)["warnings"] == []


def test_fsck_never_mutates(table):
    import hashlib

    def tree_hash():
        h = hashlib.sha256()
        for root, _d, files in sorted(os.walk(table.path)):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
        return h.hexdigest()

    before = tree_hash()
    fsck(table, deep=True)
    assert tree_hash() == before
