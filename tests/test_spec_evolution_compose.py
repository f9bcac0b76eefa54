"""Spec evolution composed with the rest of the governance surface.

1. GC racing a live migration: `expire_snapshots(orphan_grace_seconds=...)`
   hammering the table while ingest lands AND migrate_spec re-layouts
   old-spec buckets — path-based liveness must keep every referenced
   old-spec file until its last referencing snapshot expires, and the
   grace must spare in-flight migrate dirs exactly as it spares in-flight
   merge dirs.

2. Evolve on a WAP staging branch: the spec change is a commit like any
   other — staged on the branch, audited, fast-forwarded to main — and
   main readers see the mixed-spec table exactly (per-spec pruning on the
   published chain).
"""

from __future__ import annotations

import threading

import pandas as pd

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable, with_commit_retry
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob
from data_pipeline_spark.streaming.wap import WapIngestJob


def _frame(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def test_gc_races_migration_and_ingest(spark, tmp_path):
    path = str(tmp_path / "t")
    LakehouseTable(path).create(
        TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9
    )
    job = IngestJob(path, str(tmp_path / "ctl"))
    tbl = LakehouseTable(path)

    feed = generate_feed_pandas(FeedSpec(n_events=12_000, n_convs=80, seed=29))
    chunks = [feed.iloc[i * 1_500 : (i + 1) * 1_500] for i in range(8)]

    errors: list[BaseException] = []

    def ingest_all() -> None:
        try:
            for b, chunk in enumerate(chunks):
                df = spark.createDataFrame(chunk, schema=CHANGE_EVENT_SCHEMA)
                with_commit_retry(lambda: job.apply_batch(spark, b, df))
        except BaseException as e:
            errors.append(e)

    t = threading.Thread(target=ingest_all)
    t.start()
    import time

    while tbl.current_snapshot()["kind"] == "create" and t.is_alive():
        time.sleep(0.05)
    with_commit_retry(lambda: tbl.evolve_bucket_spec(spark, 16))
    expirations = 0
    while t.is_alive() or tbl._mixed_spec(tbl.current_snapshot()):
        r = with_commit_retry(lambda: tbl.migrate_spec(spark, max_old_buckets=1))
        # aggressive retention + generous grace, interleaved with every
        # migrate batch: anything "unreferenced" mid-race is seconds old
        tbl.expire_snapshots(keep_last=2, orphan_grace_seconds=600)
        expirations += 1
        if r.get("skipped") and not t.is_alive():
            break
    t.join()
    assert not errors, errors
    assert expirations > 0

    while not tbl.migrate_spec(spark).get("skipped"):
        pass
    snap = tbl.current_snapshot()
    assert tbl.table_specs(snap) == {1: 16}

    expected = reduce_feed(feed)
    actual = _frame(tbl.read(spark))
    assert actual["text"].tolist() == expected["text"].tolist()
    merge_batches = [
        s.get("batch_id") for s in tbl.history() if s["kind"] == "merge"
    ]
    assert sorted(b for b in merge_batches if b is not None) == list(range(8))


def test_corpus_view_refresh_across_evolve(spark, tmp_path):
    """The incremental documents view must stay equal to the full
    re-assembly while its upstream evolves specs mid-stream: refreshes in
    the mixed window point-read through per-spec pruning, and refreshes
    after migration see re-laid-out files without re-emitting anything."""
    from data_pipeline_spark.operators.corpus import assemble_conversations
    from data_pipeline_spark.streaming.corpus_view import CorpusViewJob

    up, view = str(tmp_path / "up"), str(tmp_path / "view")
    LakehouseTable(up).create(
        TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9
    )
    CorpusViewJob.create_view_table(view, n_buckets=4)
    ingest = IngestJob(up, str(tmp_path / "ctl-up"))
    vj = CorpusViewJob(up, view, str(tmp_path / "ctl-view"))
    cursor = str(tmp_path / "view.cursor")
    upstream = LakehouseTable(up)

    def apply_shifted(batch_id: int, seed: int) -> None:
        pdf = generate_feed_pandas(FeedSpec(n_events=600, n_convs=50, seed=seed))
        pdf = pdf.copy()
        pdf["lsn"] = pdf["lsn"] + (
            upstream.current_snapshot()["watermark_lsn"] or 0
        )
        ingest.apply_batch(
            spark, batch_id, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)
        )

    def assert_view_equal() -> None:
        got = (
            LakehouseTable(view).read(spark)
            .select("conv_id", "doc_text", "n_turns", "n_chars")
            .toPandas().sort_values("conv_id").reset_index(drop=True)
        )
        exp = (
            assemble_conversations(upstream.read(spark))
            .toPandas().sort_values("conv_id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, exp)

    apply_shifted(0, 901)
    vj.run_until_caught_up(spark, cursor)
    assert_view_equal()

    upstream.evolve_bucket_spec(spark, 16)
    apply_shifted(1, 902)  # churn lands mixed-spec
    vj.run_until_caught_up(spark, cursor)
    assert_view_equal()

    while not upstream.migrate_spec(spark, max_old_buckets=2).get(
        "remaining_old_files"
    ) == 0:
        pass
    apply_shifted(2, 903)
    vj.run_until_caught_up(spark, cursor)
    assert_view_equal()
    assert vj.lag()["lag_lsns"] == 0


def test_ddl_during_mixed_spec_window(spark, tmp_path):
    """Schema evolution and spec evolution compose: a column added while
    two layouts are live must appear as null in old-spec rows, survive
    new-spec merges, and come out re-projected when migrate_spec re-lays
    the old files under the current schema."""
    from pyspark.sql import functions as F

    tbl_path = str(tmp_path / "t")
    LakehouseTable(tbl_path).create(
        TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9
    )
    job = IngestJob(tbl_path, str(tmp_path / "ctl"))
    tbl = LakehouseTable(tbl_path)
    feed = generate_feed_pandas(FeedSpec(n_events=8_000, n_convs=120, seed=37))
    half = len(feed) // 2

    job.apply_batch(
        spark, 0, spark.createDataFrame(feed.iloc[:half], schema=CHANGE_EVENT_SCHEMA)
    )
    tbl.evolve_bucket_spec(spark, 8)
    tbl.apply_ddl([{"action": "add_column", "name": "tokens", "type": "int"}])
    job.apply_batch(
        spark, 1, spark.createDataFrame(feed.iloc[half:], schema=CHANGE_EVENT_SCHEMA)
    )

    expected = reduce_feed(feed)
    got = _frame(tbl.read(spark))
    assert "tokens" in got.columns and got["tokens"].isna().all()
    assert got["text"].tolist() == expected["text"].tolist()

    while not tbl.migrate_spec(spark, max_old_buckets=2).get(
        "remaining_old_files"
    ) == 0:
        pass
    snap = tbl.current_snapshot()
    # migrated files carry the CURRENT schema id — the re-projection is
    # physical, not a read-time alias
    cur_schema = snap["schema_id"]
    migrated = [
        e for e in tbl._files(snap) if e["path"].startswith(
            f"data/s{snap['snapshot_id']}"
        )
    ]
    assert migrated and all(e["schema_id"] == cur_schema for e in migrated)
    got2 = _frame(tbl.read(spark))
    assert got2["text"].tolist() == expected["text"].tolist()
    assert got2["tokens"].isna().all()
    # and the new column is writable post-migration
    one = got2.iloc[0]
    upd = pd.DataFrame(
        {
            "lsn": pd.array([int(feed["lsn"].max()) + 1], dtype="int64"),
            "op": ["U"],
            "ts": pd.to_datetime(["2026-01-03"]),
            "conv_id": [one["conv_id"]],
            "turn_idx": pd.array([int(one["turn_idx"])], dtype="Int32"),
            "payload": pd.array(
                ['{"role":"user","text":"patched","tokens":7}'], dtype="string"
            ),
        }
    )
    job.apply_batch(spark, 2, spark.createDataFrame(upd, schema=CHANGE_EVENT_SCHEMA))
    row = (
        tbl.read(spark)
        .where(
            (F.col("conv_id") == one["conv_id"])
            & (F.col("turn_idx") == int(one["turn_idx"]))
        )
        .first()
    )
    assert row["text"] == "patched" and row["tokens"] == 7


def test_evolve_on_wap_branch_publishes_mixed_spec(spark, tmp_path):
    path = str(tmp_path / "t")
    LakehouseTable(path).create(
        TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9
    )
    feed = generate_feed_pandas(FeedSpec(n_events=8_000, n_convs=120, seed=31))
    half = len(feed) // 2
    wap = WapIngestJob(path, str(tmp_path / "ctl"), branch="audit")
    main = LakehouseTable(path)

    wap.apply_batch(
        spark, 0, spark.createDataFrame(feed.iloc[:half], schema=CHANGE_EVENT_SCHEMA)
    )
    # stage the spec change on the branch: main must NOT see it pre-publish
    wap.branch.evolve_bucket_spec(spark, 16)
    assert main.spec_id(main.current_snapshot()) == 0
    assert wap.branch.spec_id(wap.branch.current_snapshot()) == 1

    wap.apply_batch(
        spark, 1, spark.createDataFrame(feed.iloc[half:], schema=CHANGE_EVENT_SCHEMA)
    )
    # batch 1 published (fast-forward carries the evolve commit with it)
    snap = main.current_snapshot()
    assert main.spec_id(snap) == 1
    assert main.table_specs(snap) == {0: 4, 1: 16}

    expected = reduce_feed(feed)
    got = _frame(main.read(spark))
    assert got["text"].tolist() == expected["text"].tolist()

    # point read on the published mixed-spec chain prunes per spec
    targets = expected["conv_id"].drop_duplicates().head(2).tolist()
    pt = _frame(main.read(spark, conv_ids=targets))
    exp = got[got["conv_id"].isin(targets)].reset_index(drop=True)
    pd.testing.assert_frame_equal(pt, exp)

    # finish the migration on main; contents stable
    while not main.migrate_spec(spark).get("skipped"):
        pass
    assert main.table_specs(main.current_snapshot()) == {1: 16}
    assert _frame(main.read(spark))["text"].tolist() == expected["text"].tolist()
