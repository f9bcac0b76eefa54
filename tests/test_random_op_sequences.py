"""Metamorphic random-op-sequence test for the table format.

The individual features are unit-tested and pairwise-composed
(`test_spec_evolution_compose.py`, `test_compose_multiconsumer.py`,
`test_production_day_soak.py` runs everything at once on ONE fixed
schedule) — what none of those cover is ARBITRARY interleavings. This test
drives seeded-random sequences of table ops over a chunked deterministic
feed and checks, at the end of every sequence, invariants that no layout /
metadata / maintenance op may ever move:

  I1  per-turn text equality vs the pandas oracle of exactly the applied
      events (the BASELINE.json contract);
  I2  time-travel stability — a snapshot remembered mid-sequence re-reads
      byte-identically after every later op (compact, recluster, DDL,
      spec migration, manifest rewrite are all invisible to it);
  I3  changelog completeness — read_changes over the suffix after the
      remembered snapshot, folded by (lsn, op-rank) max onto the remembered
      frame, reproduces the final table; when a rollback lies in that
      suffix, read_changes raises CursorExpiredError instead;
  I4  replay idempotence — re-applying a random earlier batch is a no-op.

Ops are drawn so every sequence contains data batches, and maintenance ops
(compact / recluster / rewrite_manifests / evolve+migrate spec / tag+expire
/ DDL add+rename+widen / rollback_to) interleave at random positions. A
rollback changes which events are live: the oracle tracks the applied
chunks per snapshot id, and a rollback truncates them to its target's, after
which the later chunks re-apply as new batches.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import CursorExpiredError, LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob

KEY = ["conv_id", "turn_idx"]
OP_RANK = {"I": 0, "U": 1, "D": 2}


def _canon(pdf: pd.DataFrame, cols=("conv_id", "turn_idx", "text")) -> pd.DataFrame:
    out = pdf[list(cols)].sort_values(KEY).reset_index(drop=True)
    return out.astype({"turn_idx": "int64"})


def _read_state(spark, tbl, snapshot_id=None) -> pd.DataFrame:
    return _canon(
        tbl.read(spark, snapshot_id=snapshot_id)
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )


def _fold_changes(base: pd.DataFrame, ch: pd.DataFrame) -> pd.DataFrame:
    """Apply an I/U/D changelog frame onto a (conv_id, turn_idx, text)
    state — last (lsn, rank) per key wins, D removes."""
    if ch.empty:
        return base
    ch = ch.copy()
    ch["_rank"] = ch["op"].map(OP_RANK)
    ch = ch.sort_values(["lsn", "_rank"]).groupby(KEY, as_index=False).last()
    merged = base.merge(ch[[*KEY, "op", "text"]], on=KEY, how="outer",
                        suffixes=("", "_c"), indicator=True)
    take_change = merged["_merge"] != "left_only"
    merged.loc[take_change, "text"] = merged.loc[take_change, "text_c"]
    keep = ~(take_change & (merged["op"] == "D"))
    return _canon(merged[keep])


SEQ_LEN = 14


def _run_sequence(spark, tmp_path, seed: int) -> None:
    rng = random.Random(seed)
    path = str(tmp_path / f"t{seed}")
    LakehouseTable(path).create(
        TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=3,
        cluster_by=["conv_id", "turn_idx"],
        target_file_rows=400,
    )
    tbl = LakehouseTable(path)
    job = IngestJob(path, str(tmp_path / f"ctl{seed}"))

    feed = generate_feed_pandas(
        FeedSpec(n_events=4_000, n_convs=40, seed=seed, p_update=0.3,
                 p_delete=0.06)
    )
    chunks = [feed.iloc[i:i + 500] for i in range(0, 4_000, 500)]
    applied: list[pd.DataFrame] = []
    applied_at = {0: 0}  # snapshot id -> number of chunks applied there
    batch_id = 0
    pinned = None  # (snapshot_id, state_frame) remembered mid-sequence

    def op_batch():
        nonlocal batch_id
        if batch_id >= len(chunks):
            return
        job.apply_batch(
            spark, batch_id,
            spark.createDataFrame(chunks[batch_id], schema=CHANGE_EVENT_SCHEMA),
        )
        job.wait_maintenance()
        applied.append(chunks[batch_id])
        batch_id += 1

    def op_compact():
        tbl.compact(spark)

    def op_recluster():
        tbl.recluster(spark)

    def op_rewrite_manifests():
        tbl.rewrite_manifests()

    def op_ddl():
        name = f"extra_{rng.randrange(1000)}"
        tbl.apply_ddl([{"action": "add_column", "name": name, "type": "int"}])
        tbl.apply_ddl([{"action": "rename_column", "old": name, "new": name + "_r"}])
        tbl.apply_ddl([{"action": "widen_type", "name": name + "_r", "to": "long"}])

    def op_evolve():
        if tbl._mixed_spec(tbl.current_snapshot()):
            # a prior op_evolve left its migration half-done on purpose —
            # finish it (the engine correctly refuses to stack evolutions)
            tbl.migrate_spec(spark)
        tbl.evolve_bucket_spec(spark, 2 * tbl.current_snapshot()["n_buckets"])
        # sometimes leave the migration half-done (mixed-spec table state)
        tbl.migrate_spec(spark, max_old_buckets=rng.choice([1, None]))

    def op_tag_expire():
        tbl.tag_snapshot(f"pin-{rng.randrange(10**6)}")
        tbl.expire_snapshots(keep_last=rng.choice([2, 4]))

    def op_replay():
        if not applied:
            return
        bid = rng.randrange(len(applied))
        before = tbl.current_snapshot()["snapshot_id"]
        job.apply_batch(
            spark, bid,
            spark.createDataFrame(chunks[bid], schema=CHANGE_EVENT_SCHEMA),
        )
        assert tbl.current_snapshot()["snapshot_id"] == before, (
            f"replay of batch {bid} committed a new snapshot"  # I4
        )

    def op_rollback():
        nonlocal batch_id
        head = tbl.current_snapshot()["snapshot_id"]
        targets = [
            s["snapshot_id"] for s in tbl.history()
            if s["snapshot_id"] != head and applied_at.get(s["snapshot_id"], 0) > 0
        ]
        if not targets:
            return
        sid = rng.choice(targets)
        tbl.rollback_to(sid)
        batch_id = applied_at[sid]
        del applied[batch_id:]

    maintenance = [op_compact, op_recluster, op_rewrite_manifests, op_ddl,
                   op_evolve, op_tag_expire, op_replay, op_rollback]
    plan = [op_batch] * 6 + [rng.choice(maintenance) for _ in range(SEQ_LEN - 6)]
    rng.shuffle(plan)

    for i, op in enumerate(plan):
        op()
        applied_at[tbl.current_snapshot()["snapshot_id"]] = len(applied)
        # remember one mid-sequence snapshot after data exists (I2/I3 anchor)
        if pinned is None and applied and i >= len(plan) // 2:
            sid = tbl.current_snapshot()["snapshot_id"]
            tbl.tag_snapshot("anchor")  # keep it through op_tag_expire
            pinned = (sid, _read_state(spark, tbl))

    # I0 — whatever the schedule did, the metadata tree is consistent:
    # every ref/manifest/file resolves and every recorded stat bound
    # contains its file's footer range (fsck deep, round 5)
    from data_pipeline_spark.plans.fsck import fsck

    report = fsck(tbl, deep=True)
    assert report["ok"], f"seed {seed}: fsck errors {report['errors'][:5]}"

    # I1 — final state equals the oracle of exactly the applied chunks
    oracle = reduce_feed(pd.concat(applied, ignore_index=True))
    final = _read_state(spark, tbl)
    pd.testing.assert_frame_equal(final, _canon(oracle), check_dtype=False)

    if pinned is not None:
        sid, remembered = pinned
        # I2 — the remembered snapshot still reads byte-identically
        pd.testing.assert_frame_equal(
            _read_state(spark, tbl, snapshot_id=sid), remembered,
            check_dtype=False,
        )
        # I3 — suffix changelog folded onto the remembered state == final.
        # Defined only while the anchor is still CHAIN-connected: expire may
        # turn a tagged snapshot into an island (intermediates dropped), in
        # which case read_changes stops at the gap by documented contract —
        # but the island must STILL read byte-identically (I2 above covers
        # that unconditionally). A rollback in the suffix wrote no change
        # rows for what it removed, so the changelog refuses the window.
        chain = tbl.history()
        rolled_back = any(
            s["kind"] == "rollback" and s["snapshot_id"] > sid for s in chain
        )
        if sid in [s["snapshot_id"] for s in chain] and rolled_back:
            with pytest.raises(CursorExpiredError):
                tbl.read_changes(spark, from_snapshot_id=sid)
        elif sid in [s["snapshot_id"] for s in chain]:
            ch = (
                tbl.read_changes(spark, from_snapshot_id=sid)
                .select("conv_id", "turn_idx", "text",
                        F.col("_change_op").alias("op"), "lsn")
                .toPandas()
            )
            pd.testing.assert_frame_equal(
                _fold_changes(remembered, ch), final, check_dtype=False
            )


@pytest.mark.parametrize("seed", [101, 202])
def test_random_op_sequence(spark, tmp_path, seed):
    _run_sequence(spark, tmp_path, seed)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [303, *range(400, 410)])
def test_random_op_sequence_sweep(spark, tmp_path, seed):
    _run_sequence(spark, tmp_path, seed)
