"""Regression tests for the round-2 review findings (ADVICE.md r2):

1. _commit cannot fall through the link-retry loop and swing the version
   hint without ever linking its snapshot (medium): exhausting both attempts
   against a concurrent reclaimer raises CommitConflictError, hint untouched.
2. Arrow decode kernel matches the pandas kernel on NULL-op rows in partial
   mode: a null op takes the U branch (computed `_set_mask`), never a null
   mask.
3. _frame_sample_fn tolerates an empty Arrow batch (np.repeat broadcast).
4. reprocess_quarantine rejects a batch_id colliding with a pending
   `batch=` dir (still-invalid rows would silently vanish from the queue).
5. apply_ddl with only no-op descriptors (replays, create_table fan-out)
   skips the commit — schema_id / snapshot chain don't churn per replay.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pytest

from data_pipeline_spark.plans.table_format import (
    CommitConflictError,
    LakehouseTable,
)
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.streaming.ingest import IngestJob


def _mk_table(tmp_path, name="t", **kw):
    tbl = LakehouseTable(str(tmp_path / name))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=4, **kw)
    return tbl


# -------------------------------------------- 1. commit link-retry exhaustion
def test_commit_link_exhaustion_raises_instead_of_swinging_hint(
    tmp_path, monkeypatch
):
    """Both attempts race a concurrent reclaimer (link → EEXIST, then
    stat → ENOENT): the old code fell through and swung the hint at a file
    this writer never authored; it must conflict, hint untouched."""
    tbl = _mk_table(tmp_path)
    target = os.path.join(tbl.meta_dir, "snapshot-00000001.json")
    real_link, real_stat = os.link, os.stat

    def fake_link(src, dst, *a, **kw):
        if str(dst) == target:
            raise FileExistsError(dst)
        return real_link(src, dst, *a, **kw)

    def fake_stat(p, *a, **kw):
        if str(p) == target:
            raise FileNotFoundError(p)
        return real_stat(p, *a, **kw)

    monkeypatch.setattr(os, "link", fake_link)
    monkeypatch.setattr(os, "stat", fake_stat)
    snap = tbl.current_snapshot()
    with pytest.raises(CommitConflictError, match="retries exhausted"):
        tbl._commit(dict(snap, snapshot_id=1, parent=0, kind="merge"))
    monkeypatch.undo()
    # the hint still names the create snapshot — no phantom commit published
    assert tbl.current_snapshot()["snapshot_id"] == 0
    assert not os.path.exists(target)


# ------------------------------- 2. null-op parity kernel vs fallback
def test_arrow_kernel_null_op_takes_update_branch(monkeypatch):
    """ADVICE r2 low: pc.if_else with a null condition yielded a null
    `_set_mask` in the arrow kernel while the old pandas kernel emitted the
    computed mask (null op ⇒ treated as U). The kernel and its
    row-isolation fallback on the same batch must agree bit-for-bit."""
    import pyspark.sql.types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from data_pipeline_spark.functions.decode import (
        _decode_batch,
        _decode_batch_arrow,
    )
    from data_pipeline_spark.schemas import decoded_schema

    fields = [(f.name, f.dataType.simpleString()) for f in TRANSCRIPT_SCHEMA.fields]
    bits = {"role": 3, "text": 4, "tool": 5, "ts": 6}
    out_schema = T.StructType(
        decoded_schema(TRANSCRIPT_SCHEMA).fields
        + [T.StructField("_set_mask", T.LongType(), True)]
    )
    out_arrow = to_arrow_schema(out_schema)

    pdf = pd.DataFrame(
        {
            "lsn": pd.Series([1, 2, 3, 4], dtype="int64"),
            "op": pd.Series([None, "U", "I", "D"], dtype="object"),
            "conv_id": ["c1", "c1", "c2", "c2"],
            "turn_idx": pd.Series([0, 1, 0, 1], dtype="int32"),
            "payload": [
                '{"role": "user", "text": "null-op row"}',
                '{"text": "u row"}',
                '{"role": "assistant", "text": "i row"}',
                None,
            ],
        }
    )
    rb = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    via_arrow = _decode_batch_arrow(rb, fields, {}, False, bits, out_arrow).to_pandas()
    via_rows = _decode_batch(rb, fields, {}, False, bits, out_arrow).to_pandas()

    # the null-op row computes a mask like a U — never a null
    assert not pd.isna(via_arrow.loc[0, "_set_mask"])
    assert int(via_arrow.loc[0, "_set_mask"]) == (1 << bits["role"]) | (1 << bits["text"])
    # full bit-for-bit agreement between kernels
    assert [int(x) for x in via_arrow["_set_mask"]] == [
        int(x) for x in via_rows["_set_mask"]
    ]


# ---------------------------------------------- 3. frame sample empty batch
def test_frame_sample_fn_empty_batch_is_noop():
    from data_pipeline_spark.driver_queries import _frame_sample_fn

    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                          "blob": pd.Series([], dtype="object")})
    nonempty = pd.DataFrame({"doc_id": pd.Series([7], dtype="int64"),
                             "blob": [b"x" * 30]})
    out = list(_frame_sample_fn(iter([empty, nonempty])))
    # the empty batch yields nothing (no broadcast crash); work still flows
    assert len(out) == 1 and (out[0]["doc_id"] == 7).all()
    n_frames = 30 % 24 + 1  # stub codec
    assert len(out[0]) == (n_frames + 4) // 5


# --------------------------------------- 4. reprocess batch_id collision
def test_reprocess_rejects_pending_batch_id_collision(spark, tmp_path):
    tbl_path = str(tmp_path / "t")
    LakehouseTable(tbl_path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    qdir = str(tmp_path / "q")
    job = IngestJob(
        tbl_path, str(tmp_path / "ctl"), on_error="quarantine", quarantine_path=qdir
    )
    bad = spark.createDataFrame(
        [(1, "I", None, "c1", 0, "{broken")],
        "lsn long, op string, ts timestamp, conv_id string, turn_idx int, payload string",
    )
    job.apply_batch(spark, 5, bad)
    assert sorted(os.listdir(qdir)) == ["batch=5"]
    with pytest.raises(ValueError, match="collides with a pending"):
        job.reprocess_quarantine(spark, batch_id=5)
    # a non-colliding id proceeds; the still-broken row re-pends under it
    r = job.reprocess_quarantine(spark, batch_id=6)
    assert r["reprocessed_batches"] == ["batch=5"]
    assert sorted(os.listdir(qdir)) == ["batch=6"]


# ------------------------------------------------- 5. no-op DDL skips commit
def test_noop_ddl_replay_does_not_churn_metadata(tmp_path):
    tbl = _mk_table(tmp_path)
    tbl.apply_ddl([{"action": "add_column", "name": "tokens", "type": "int"}])
    before = tbl.current_snapshot()
    # full replay of the same batch: every descriptor is an idempotent no-op
    r = tbl.apply_ddl([
        {"action": "create_table", "name": "t"},
        {"action": "add_column", "name": "tokens", "type": "int"},
    ])
    assert r["skipped"]
    after = tbl.current_snapshot()
    assert after["snapshot_id"] == before["snapshot_id"]
    assert after["schema_id"] == before["schema_id"]
    # no new schema file appeared
    schemas = [f for f in os.listdir(tbl.meta_dir) if f.startswith("schema-")]
    assert len(schemas) == before["schema_id"] + 1
    # a real change afterwards still commits normally
    r2 = tbl.apply_ddl([{"action": "rename_column", "old": "tokens", "new": "cost"}])
    assert not r2["skipped"]
    assert tbl.current_snapshot()["schema_id"] == before["schema_id"] + 1
    # and replaying THAT rename is again a clean skip
    r3 = tbl.apply_ddl([{"action": "rename_column", "old": "tokens", "new": "cost"}])
    assert r3["skipped"]
    assert tbl.current_snapshot()["schema_id"] == before["schema_id"] + 1
