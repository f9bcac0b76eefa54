"""Table format v2: a table an older version wrote is refused by the one
version gate until `upgrade` (metadata-only, no Spark) rewrites its head
once as a v2 root snapshot. Covers the four legacy shapes of the
`legacy_table` fixture, the tag/branch refusal, and the maintenance CLI."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from data_pipeline_spark.plans.fsck import fsck
from data_pipeline_spark.plans.table_format import CursorExpiredError, LakehouseTable

from conftest import MOR_CHANGES, SIX_ROWS, UPGRADE_ERROR, changes_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle(shape: str) -> dict:
    rows = {(c, t): text for c, t, _role, text, _tool, _ts in SIX_ROWS}
    if shape == "mor-inline":
        for _lsn, op, c, t, text in MOR_CHANGES:
            if op == "D":
                rows.pop((c, t))
            else:
                rows[(c, t)] = text
    return rows


def _state(spark, tbl: LakehouseTable) -> dict:
    return {
        (r.conv_id, r.turn_idx): r.text
        for r in tbl.read(spark).select("conv_id", "turn_idx", "text").collect()
    }


@pytest.mark.parametrize("shape", ["cow", "no-merge-mode", "mor-inline", "no-last-column-id"])
def test_upgrade_legacy_shapes(spark, tmp_path, legacy_table, shape):
    tbl = legacy_table("t", shape=shape)
    old_head = tbl._head_id()
    with open(os.path.join(tbl.meta_dir, "snapshot-00000000.json")) as f:
        v1_create = f.read()
    old_cursor = str(tmp_path / "old.cursor")
    LakehouseTable.commit_cursor(old_cursor, {"snapshot_id": old_head})
    with pytest.raises(ValueError, match=UPGRADE_ERROR):
        tbl.read(spark)

    r = tbl.upgrade()
    assert r["skipped"] is False and r["removed_snapshots"] == old_head + 1
    head = tbl.current_snapshot()
    assert (head["kind"], head["parent"], head["stats"]) == (
        "upgrade", None, {"upgraded_from": old_head}
    )
    assert [s["snapshot_id"] for s in tbl.history()] == [r["snapshot_id"]]
    expected = _oracle(shape)
    assert _state(spark, tbl) == expected
    if shape == "no-last-column-id":
        # the dropped ts column keeps field id 6 retired
        tbl.apply_ddl([{"action": "add_column", "name": "score", "type": "int"}])
        fields = tbl._load_schema(tbl.current_snapshot()["schema_id"])["fields"]
        assert fields[-1] == {"id": 7, "name": "score", "type": "int", "former_names": []}

    # a cursor from before the upgrade takes the re-bootstrap path
    with pytest.raises(CursorExpiredError):
        tbl.tail_changes(spark, old_cursor)

    tbl.merge(spark, 10, changes_df(spark, [(100, "U", "c2", 1, "m"), (101, "I", "c8", 0, "m2")]))
    expected.update({("c2", 1): "m", ("c8", 0): "m2"})
    assert _state(spark, tbl) == expected
    chg, _cursor = tbl.tail_changes(spark, str(tmp_path / "fresh.cursor"))
    assert {(r.conv_id, r.turn_idx) for r in chg.collect()} == {("c2", 1), ("c8", 0)}

    tbl.create_branch("b")
    branch = LakehouseTable(tbl.path, ref="b")
    branch.merge(spark, 11, changes_df(spark, [(200, "U", "c0", 1, "picked")]))
    tbl.merge(spark, 12, changes_df(spark, [(201, "I", "c7", 0, "main")]))
    assert tbl.cherry_pick(branch.current_snapshot()["snapshot_id"])["skipped"] is False
    tbl.drop_branch("b")
    expected.update({("c0", 1): "picked", ("c7", 0): "main"})

    assert tbl.evolve_bucket_spec(spark, 4)["skipped"] is False
    tbl.migrate_spec(spark)
    assert _state(spark, tbl) == expected
    report = fsck(tbl, deep=True)
    assert report["ok"], report["errors"]

    # a second upgrade commits nothing; it finishes an interrupted cleanup
    head_id = tbl._head_id()
    assert tbl.upgrade() == {"skipped": True, "snapshot_id": head_id, "removed_snapshots": 0}
    with open(os.path.join(tbl.meta_dir, "snapshot-00000000.json"), "w") as f:
        f.write(v1_create)
    assert tbl.upgrade() == {"skipped": True, "snapshot_id": head_id, "removed_snapshots": 1}


@pytest.mark.parametrize("ref", ["tag", "branch"])
def test_upgrade_refuses_while_refs_pin_v1(legacy_table, ref):
    tbl = legacy_table("t")
    if ref == "tag":
        with open(os.path.join(tbl.meta_dir, "refs.json"), "w") as f:
            json.dump({"keep": {"snapshot_id": tbl._head_id(), "created_at": 0.0}}, f)
    else:
        with open(os.path.join(tbl.meta_dir, "branch-b.hint"), "w") as f:
            f.write(f"snapshot-{tbl._head_id():08d}.json")

    def meta() -> dict:
        out = {}
        for fn in sorted(os.listdir(tbl.meta_dir)):
            with open(os.path.join(tbl.meta_dir, fn)) as f:
                out[fn] = f.read()
        return out

    before = meta()
    with pytest.raises(ValueError, match="tags or branches"):
        tbl.upgrade()
    assert meta() == before


def test_maintenance_cli_upgrade(legacy_table):
    """The CLI's status / upgrade / fsck never start Spark."""
    path = legacy_table("t", shape="mor-inline").path

    def cli(*args):
        return subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "maintenance.py"),
             "--table", path, *args],
            capture_output=True, text=True, timeout=120,
        )

    st = cli("status")
    assert st.returncode != 0
    assert f"maintenance.py --table {path} upgrade" in st.stderr
    up = cli("upgrade")
    assert up.returncode == 0, up.stderr
    assert json.loads(up.stdout)["skipped"] is False
    fs = cli("fsck", "--deep")
    assert fs.returncode == 0, fs.stdout
    st = cli("status")
    assert st.returncode == 0, st.stderr
    assert json.loads(st.stdout)["format_version"] == 2
