"""Lazy partition-spec evolution (Iceberg metadata-only spec change).

`evolve_bucket_spec` switches write parallelism as a PURE metadata commit
(zero data I/O — even pending delta stacks stay where they are, readable
under their recorded spec); until `migrate_spec` retires the old spec's
files the table is mixed-spec:

- point reads must prune per spec (old-spec base files by their old
  bucket id, post-evolve files by the new one) and stay exact;
- compaction must SQUASH (collapse delta stacks, tombstones kept) —
  dropping a tombstone there would resurrect a base row that still
  lives in an old-spec file (cf. Iceberg: rewrite_data_files retains
  equality deletes until the files they may target are rewritten);
- `migrate_spec` re-layouts old files in bounded, resumable batches,
  after which the spec list collapses and normal folds resume;
- the changelog (read_changes / tail_changes) never re-emits rows
  for evolve/squash/migrate snapshots — they are physical, not logical.
"""

from __future__ import annotations

import pandas as pd
import pytest

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.streaming.ingest import IngestJob

from conftest import UPGRADE_ERROR


SPEC = FeedSpec(n_events=12_000, n_convs=240, seed=77, chunk_size=12_000)


@pytest.fixture(scope="module")
def feed_pdf():
    return generate_feed_pandas(SPEC)


def _mk(tmp_path, name, n_buckets=4, **kw):
    path = str(tmp_path / name)
    LakehouseTable(path).create(
        TRANSCRIPT_SCHEMA, n_buckets=n_buckets, compact_every=10**9, **kw,
    )
    return LakehouseTable(path), IngestJob(path, str(tmp_path / f"ctl-{name}"))


def _apply(spark, job, pdf, batch_id):
    job.apply_batch(
        spark, batch_id, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)
    )


def _frame(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def _slices(pdf, n):
    """n contiguous LSN ranges — replication order, like the real feed."""
    pdf = pdf.sort_values("lsn").reset_index(drop=True)
    step = (len(pdf) + n - 1) // n
    return [pdf.iloc[i * step:(i + 1) * step] for i in range(n)]


def test_evolve_mixed_spec_read_and_migrate(spark, tmp_path, feed_pdf):
    """The full lifecycle: ingest → evolve 4→16 → ingest more (mixed spec)
    → point reads prune on BOTH specs and stay exact → migrate_spec in
    bounded batches → spec list collapses → contents equal the oracle at
    every step."""
    tbl, job = _mk(tmp_path, "t")
    parts = _slices(feed_pdf, 4)
    _apply(spark, job, parts[0], 0)

    files_before = {e["path"] for e in tbl._files(tbl.current_snapshot())}
    r = tbl.evolve_bucket_spec(spark, 16)
    assert r["spec_id"] == 1 and r["n_buckets"] == 16
    snap = tbl.current_snapshot()
    assert tbl.table_specs(snap) == {0: 4, 1: 16}
    assert snap["kind"] == "evolve_spec"
    # PURE metadata commit: zero data I/O — the exact same files (including
    # batch 0's un-compacted delta stack) are live before and after
    assert {e["path"] for e in tbl._files(snap)} == files_before
    assert any(
        e.get("layer") == "delta" and e["spec_id"] == 0
        for e in tbl._files(snap)
    ), "pending old-spec deltas must survive the evolve unfolded"
    # their read amplification stays visible even though delta_depth (keyed
    # by current-spec buckets) restarts empty
    assert snap["old_delta_depth"] and tbl.delta_depth(snap) == {}

    for i, p in enumerate(parts[1:], start=1):
        _apply(spark, job, p, i)
    snap = tbl.current_snapshot()
    assert tbl._mixed_spec(snap)
    ent = tbl._files(snap)
    old = [e for e in ent if e["spec_id"] == 0]
    new = [e for e in ent if e["spec_id"] == 1]
    assert old and new
    assert all(e["bucket"] < 4 for e in old)
    assert any(e["bucket"] >= 4 for e in new), "new spec must use 16 buckets"

    oracle = reduce_feed(feed_pdf)
    full = _frame(tbl.read(spark))
    assert full["conv_id"].tolist() == oracle["conv_id"].tolist()
    assert full["text"].tolist() == oracle["text"].tolist()

    # point read under mixed spec: exact, and prunes files on both layouts
    targets = oracle["conv_id"].drop_duplicates().head(3).tolist()
    got = _frame(tbl.read(spark, conv_ids=targets))
    exp = (
        full[full["conv_id"].isin(targets)].reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    bsets = tbl._buckets_by_spec(spark, targets, tbl.table_specs(snap))
    assert len(bsets[0]) <= 3 and len(bsets[1]) <= 3
    kept = [e for e in ent if e["bucket"] in bsets[e["spec_id"]]]
    assert len(kept) < len(ent), "mixed-spec point read must still prune"

    # migrate in bounded batches; table contents never change
    steps = 0
    while True:
        r = tbl.migrate_spec(spark, max_old_buckets=2)
        if r.get("skipped"):
            break
        steps += 1
        assert _frame(tbl.read(spark))["text"].tolist() == oracle["text"].tolist()
        if r["remaining_old_files"] == 0:
            break
    assert steps >= 2, "4 old buckets at 2/batch needs >= 2 calls"
    snap = tbl.current_snapshot()
    assert tbl.table_specs(snap) == {1: 16}
    assert not snap.get("old_delta_depth"), "observability entries retire"
    assert not tbl._mixed_spec(snap)
    assert all(e["spec_id"] == 1 for e in tbl._files(snap))
    # migrated files carry key stats on clustered reads only; here just exact
    assert _frame(tbl.read(spark))["text"].tolist() == oracle["text"].tolist()


def test_mixed_spec_compact_squashes_tombstones(spark, tmp_path, feed_pdf):
    """compact() in the mixed-spec window must not drop tombstones: a key
    deleted AFTER the evolve, whose base row sits in an old-spec file,
    must stay deleted after compaction — and the delta stack must shrink
    to one file per hot bucket."""
    tbl, job = _mk(tmp_path, "t")
    parts = _slices(feed_pdf, 3)
    _apply(spark, job, parts[0], 0)
    tbl.evolve_bucket_spec(spark, 8)

    # pick a key that exists after batch 0 and delete it post-evolve
    live0 = _frame(tbl.read(spark))
    victim = live0.iloc[0]
    max_lsn = int(feed_pdf["lsn"].max())
    kill = pd.DataFrame(
        {
            "lsn": pd.array([max_lsn + 1], dtype="int64"),
            "op": ["D"],
            "ts": pd.to_datetime(["2026-01-02"]),
            "conv_id": [victim["conv_id"]],
            "turn_idx": pd.array([int(victim["turn_idx"])], dtype="Int32"),
            "payload": pd.array([None], dtype="string"),
        }
    )
    _apply(spark, job, parts[1], 1)
    _apply(spark, job, parts[2], 2)
    _apply(spark, job, kill, 3)

    snap = tbl.current_snapshot()
    assert tbl._mixed_spec(snap)
    before = _frame(tbl.read(spark))
    n_delta_before = len([e for e in tbl._files(snap) if e.get("layer") == "delta"])

    r = tbl.compact(spark)
    assert r.get("mode") == "squash"
    snap = tbl.current_snapshot()
    assert snap["stats"]["mode"] == "squash"
    delta_after = [e for e in tbl._files(snap) if e.get("layer") == "delta"]
    assert len(delta_after) < n_delta_before
    # old-spec delta files (pre-evolve, never folded) pass through a squash
    # untouched; the one-file-per-bucket invariant is about the CURRENT spec
    by_bucket = {}
    for e in delta_after:
        if e["spec_id"] == tbl.spec_id(snap):
            by_bucket.setdefault(e["bucket"], []).append(e)
    assert by_bucket and all(len(v) == 1 for v in by_bucket.values())

    after = _frame(tbl.read(spark))
    pd.testing.assert_frame_equal(after, before)
    mask = (after["conv_id"] == victim["conv_id"]) & (
        after["turn_idx"] == victim["turn_idx"]
    )
    assert not mask.any(), "squash must not resurrect the deleted key"

    # the tombstone physically survives in the squashed delta layer
    sq = tbl._read_parts(spark, snap, delta_after, ["_op"])
    assert sq.where("_op = 'D'").count() >= 1

    # finish the migration → fold resumes and tombstones finally drop
    tbl.migrate_spec(spark)
    assert not tbl._mixed_spec(tbl.current_snapshot())
    r = tbl.compact(spark)
    assert not r.get("skipped") and r.get("mode") != "squash"
    snap = tbl.current_snapshot()
    assert not [e for e in tbl._files(snap) if e.get("layer") == "delta"]
    pd.testing.assert_frame_equal(_frame(tbl.read(spark)), before)


def test_changelog_ignores_spec_maintenance(spark, tmp_path, feed_pdf):
    """read_changes across evolve/squash/migrate snapshots emits exactly
    the merge batches' rows — spec maintenance is physical re-layout and
    must be invisible to CDC consumers."""
    tbl, job = _mk(tmp_path, "t")
    parts = _slices(feed_pdf, 3)
    _apply(spark, job, parts[0], 0)
    base_snap = tbl.current_snapshot()["snapshot_id"]

    tbl.evolve_bucket_spec(spark, 8)
    _apply(spark, job, parts[1], 1)
    _apply(spark, job, parts[2], 2)
    tbl.compact(spark)          # squash (mixed spec)
    tbl.migrate_spec(spark)     # full migration

    ch = tbl.read_changes(spark, from_snapshot_id=base_snap)
    got_batches = {
        r["_batch_id"] for r in ch.select("_batch_id").distinct().collect()
    }
    assert got_batches == {1, 2}
    # per-key net effect of the emitted changes equals table diff:
    # replaying batches 1-2 over the batch-0 state = final table
    oracle = reduce_feed(feed_pdf)
    assert _frame(tbl.read(spark))["text"].tolist() == oracle["text"].tolist()


def test_merge_reroutes_stale_bucket_n(spark, tmp_path, feed_pdf):
    """An ingest planned under the old spec but committing after an evolve
    (with_commit_retry straddling the spec change) must re-route its
    _bucket column — otherwise delta files land in dirs that disagree
    with the rows' real buckets and point reads miss them."""
    import pyspark.sql.functions as F

    tbl, job = _mk(tmp_path, "t")
    parts = _slices(feed_pdf, 2)
    _apply(spark, job, parts[0], 0)
    tbl.evolve_bucket_spec(spark, 16)

    # hand-build a changeset with _bucket computed under the RETIRED spec
    # (n=4) and pass bucket_n=4, exactly what a merge retry planned
    # pre-evolve would submit
    max_lsn = int(feed_pdf["lsn"].max())
    stale = spark.createDataFrame(
        pd.DataFrame(
            {
                "lsn": pd.array([max_lsn + 1, max_lsn + 2], dtype="int64"),
                "op": ["I", "I"],
                "conv_id": ["stale-a", "stale-b"],
                "turn_idx": pd.array([0, 0], dtype="int32"),
                "role": ["user", "user"],
                "text": ["sa", "sb"],
                "tool": pd.array([None, None], dtype="string"),
                "ts": pd.to_datetime(["2026-01-02"] * 2),
            }
        )
    ).withColumn("_bucket", tbl.bucket_expr(4))
    tbl.merge(spark, batch_id=99, changes=stale, bucket_n=4)

    snap = tbl.current_snapshot()
    new_deltas = [
        e for e in tbl._files(snap)
        if e.get("layer") == "delta" and e["spec_id"] == 1
    ]
    assert new_deltas, "post-evolve deltas must be written under spec 1"
    # dir bucket must agree with the rows' real spec-1 bucket: the
    # bucket-pruned point read finds both rows
    got = _frame(tbl.read(spark, conv_ids=["stale-a", "stale-b"]))
    assert got["text"].tolist() == ["sa", "sb"]


def test_evolve_guards(spark, tmp_path, feed_pdf, legacy_table):
    """Tables written before format v2, double evolution, and cross-spec
    cherry-pick all fail fast; same-size evolve is a no-op."""
    with pytest.raises(ValueError, match=UPGRADE_ERROR):
        legacy_table("cow").evolve_bucket_spec(spark, 8)

    tbl, job = _mk(tmp_path, "t")
    parts = _slices(feed_pdf, 2)
    _apply(spark, job, parts[0], 0)
    assert tbl.evolve_bucket_spec(spark, 4)["skipped"] is True
    tbl.evolve_bucket_spec(spark, 8)
    _apply(spark, job, parts[1], 1)  # mixed spec now
    with pytest.raises(ValueError, match="migration is already in progress"):
        tbl.evolve_bucket_spec(spark, 32)
    tbl.migrate_spec(spark)
    r = tbl.evolve_bucket_spec(spark, 32)  # allowed again once clean
    assert r["spec_id"] == 2

    # cherry-pick guard: a merge picked across a spec change routes wrong
    src_path = str(tmp_path / "pick")
    src = LakehouseTable(src_path)
    src.create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    pick_job = IngestJob(src_path, str(tmp_path / "ctl-pick"))
    _apply(spark, pick_job, parts[0], 0)
    merge_id = src.current_snapshot()["snapshot_id"]
    src.rollback_to(src.history()[0]["snapshot_id"])
    src.evolve_bucket_spec(spark, 8)
    with pytest.raises(ValueError, match="bucket layout changed"):
        src.cherry_pick(merge_id)


def test_partial_mode_evolve_migrate_matches_sequential_oracle(spark, tmp_path):
    """Partial-row-image tables through the full lifecycle: the migrate
    delta path must carry the _set_mask column, or per-column folds lose
    which columns each U actually SET. Oracle = the per-row sequential
    applier (reduce_feed_sequential)."""
    from data_pipeline_spark.oracle import reduce_feed_sequential

    pspec = FeedSpec(
        n_events=12_000, n_convs=240, seed=55, chunk_size=12_000,
        partial_updates=True,
    )
    pdf = generate_feed_pandas(pspec)
    path = str(tmp_path / "t")
    LakehouseTable(path).create(
        TRANSCRIPT_SCHEMA, n_buckets=4,
        update_mode="partial", compact_every=10**9,
    )
    job = IngestJob(path, str(tmp_path / "ctl"))
    tbl = LakehouseTable(path)
    parts = _slices(pdf, 3)
    _apply(spark, job, parts[0], 0)
    tbl.evolve_bucket_spec(spark, 8)
    _apply(spark, job, parts[1], 1)
    _apply(spark, job, parts[2], 2)
    assert tbl._mixed_spec(tbl.current_snapshot())

    expected = reduce_feed_sequential(pdf)
    before = _frame(tbl.read(spark))
    assert before["text"].tolist() == expected["text"].tolist()

    # squash in the mixed window is pure concatenation for partial tables
    r = tbl.compact(spark)
    assert r.get("mode") == "squash"
    assert _frame(tbl.read(spark))["text"].tolist() == expected["text"].tolist()

    while not tbl.migrate_spec(spark, max_old_buckets=2).get(
        "remaining_old_files"
    ) == 0:
        pass
    assert tbl.table_specs(tbl.current_snapshot()) == {1: 8}
    after = _frame(tbl.read(spark))
    assert after["text"].tolist() == expected["text"].tolist()
    assert after["role"].tolist() == expected["role"].tolist()

    # and the post-migration fold (per-column, tombstone-dropping) is exact
    tbl.compact(spark)
    assert _frame(tbl.read(spark))["text"].tolist() == expected["text"].tolist()


def test_auto_migrate_rides_ingest_cadence(spark, tmp_path, feed_pdf):
    """evolve_bucket_spec(auto_migrate_buckets=N): each subsequent merge
    retires N old-spec buckets as part of its own maintenance cycle, so
    the migration completes hands-off after ceil(old_buckets/N) batches
    and the setting clears itself."""
    tbl, job = _mk(tmp_path, "t")
    parts = _slices(feed_pdf, 4)
    _apply(spark, job, parts[0], 0)

    tbl.evolve_bucket_spec(spark, 16, auto_migrate_buckets=2)
    assert tbl.current_snapshot()["auto_migrate_buckets"] == 2

    for i, p in enumerate(parts[1:], start=1):
        _apply(spark, job, p, i)

    snap = tbl.current_snapshot()
    assert tbl.table_specs(snap) == {1: 16}, "3 batches retire 4 old buckets at 2/merge"
    assert not tbl._mixed_spec(snap)
    assert snap.get("auto_migrate_buckets") is None, "setting clears on completion"
    assert any(s["kind"] == "migrate_spec" for s in tbl.history())

    oracle = reduce_feed(feed_pdf)
    assert _frame(tbl.read(spark))["text"].tolist() == oracle["text"].tolist()


def test_auto_migrate_setting_hygiene(spark, tmp_path, feed_pdf):
    """The armed setting must never outlive the migration it belongs to:
    0 is rejected (it would record 'armed' but never fire), an empty-table
    evolve collapses specs immediately so it must not arm, and an initsync
    overwrite mid-migration clears it along with the spec list."""
    tbl, job = _mk(tmp_path, "t")
    with pytest.raises(ValueError, match="auto_migrate_buckets"):
        tbl.evolve_bucket_spec(spark, 8, auto_migrate_buckets=0)

    r = tbl.evolve_bucket_spec(spark, 8, auto_migrate_buckets=2)
    snap = tbl.current_snapshot()
    assert not r["skipped"] and tbl.table_specs(snap) == {1: 8}
    assert snap.get("auto_migrate_buckets") is None, "empty table: nothing to migrate"

    parts = _slices(feed_pdf, 2)
    _apply(spark, job, parts[0], 0)
    tbl.evolve_bucket_spec(spark, 16, auto_migrate_buckets=1)
    assert tbl.current_snapshot()["auto_migrate_buckets"] == 1
    tbl.overwrite(spark, tbl.read(spark, with_lsn=True), batch_id=1)
    snap = tbl.current_snapshot()
    assert tbl.table_specs(snap) == {2: 16}
    assert snap.get("auto_migrate_buckets") is None, "overwrite retires the migration"


def test_overwrite_mid_migration_collapses_spec_list(spark, tmp_path, feed_pdf):
    """A full load (initsync overwrite) retires every pre-existing file —
    no old-spec file can survive it — so it must also retire old specs
    from the live list, or the table stays 'mixed-spec' in metadata
    forever (per-dead-spec bucket sets on every point read, squash-mode
    compaction, and a refused second evolve)."""
    tbl, job = _mk(tmp_path, "t")
    parts = _slices(feed_pdf, 2)
    _apply(spark, job, parts[0], 0)
    tbl.evolve_bucket_spec(spark, 8)
    _apply(spark, job, parts[1], 1)
    assert tbl._mixed_spec(tbl.current_snapshot())

    snapshot = tbl.read(spark, with_lsn=True)
    tbl.overwrite(spark, snapshot, batch_id=2)
    snap = tbl.current_snapshot()
    assert tbl.table_specs(snap) == {1: 8}
    assert not tbl._mixed_spec(snap)
    assert all(e["spec_id"] == 1 for e in tbl._files(snap))
    # and the lifecycle is fully reopened: evolve again works
    assert tbl.evolve_bucket_spec(spark, 16)["spec_id"] == 2
    oracle = reduce_feed(feed_pdf)
    got = _frame(tbl.read(spark))
    assert got["text"].tolist() == oracle["text"].tolist()


def test_gc_after_migration_drops_old_spec_files(spark, tmp_path, feed_pdf):
    """expire_snapshots after a completed migration deletes the old-spec
    files (no kept snapshot references them) and reads stay exact."""
    import os

    tbl, job = _mk(tmp_path, "t")
    parts = _slices(feed_pdf, 2)
    _apply(spark, job, parts[0], 0)
    tbl.evolve_bucket_spec(spark, 8)
    _apply(spark, job, parts[1], 1)
    tbl.migrate_spec(spark)
    oracle = reduce_feed(feed_pdf)

    old_paths = {
        e["path"]
        for s in tbl.history()
        for e in tbl._files(s)
        if e["spec_id"] == 0
    }
    assert old_paths
    tbl.expire_snapshots(keep_last=1)
    for p in old_paths:
        assert not os.path.exists(os.path.join(tbl.path, p)), p
    assert _frame(tbl.read(spark))["text"].tolist() == oracle["text"].tolist()
