"""Spec evolution racing a live ingest.

`evolve_bucket_spec` + `migrate_spec` are online operations: they must be
safe to run while merges keep landing. The commit CAS serializes every
writer; a merge that planned its `_bucket` routing under the old spec and
lands after the evolve is re-routed inside `merge()` (bucket_n), and a
migrate batch that loses the CAS to a merge simply retries against the
new head. Final state must equal the oracle, every batch must commit
exactly once, and the table must end single-spec with all files under
the new layout."""

from __future__ import annotations

import threading

import pytest

from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable, with_commit_retry
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob


@pytest.mark.slow  # gate-budget: the live-ingest race composition stays
# covered in-gate by test_spec_evolution_compose (corpus-view refresh across
# evolve + GC-vs-migration race) and the metamorphic sequences that leave
# mid-migration state; the full race runs in the slow sweep + soak.
def test_evolve_and_migrate_race_live_ingest(spark, tmp_path):
    path = str(tmp_path / "t")
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    job = IngestJob(path, str(tmp_path / "ctl"))
    tbl = LakehouseTable(path)

    feed = generate_feed_pandas(FeedSpec(n_events=12_000, n_convs=80, seed=19))
    chunks = [feed.iloc[i * 1_500 : (i + 1) * 1_500] for i in range(8)]

    errors: list[BaseException] = []

    def ingest_all() -> None:
        try:
            for b, chunk in enumerate(chunks):
                df = spark.createDataFrame(chunk, schema=CHANGE_EVENT_SCHEMA)
                with_commit_retry(lambda: job.apply_batch(spark, b, df))
        except BaseException as e:  # surface to the main thread
            errors.append(e)

    t = threading.Thread(target=ingest_all)
    t.start()
    # wait for the first batch so the evolve really straddles live data,
    # then evolve mid-stream (internally commit-retried) and migrate in
    # bounded batches while batches keep landing
    import time

    while tbl.current_snapshot()["kind"] == "create" and t.is_alive():
        time.sleep(0.05)
    with_commit_retry(lambda: tbl.evolve_bucket_spec(spark, 16))
    migrations = 0
    while True:
        r = with_commit_retry(
            lambda: tbl.migrate_spec(spark, max_old_buckets=1)
        )
        if r.get("skipped") or r.get("remaining_old_files") == 0:
            break
        migrations += 1
    t.join()
    assert not errors, errors
    # the ingest may have been entirely pre- or post-migration on a slow
    # box; the race is still exercised by the CAS retries above
    # finish any old-spec files written by late pre-evolve planning
    while not tbl.migrate_spec(spark).get("skipped"):
        pass

    snap = tbl.current_snapshot()
    assert tbl.table_specs(snap) == {1: 16}
    assert all(e["spec_id"] == 1 for e in tbl._files(snap))

    expected = reduce_feed(feed)
    actual = (
        tbl.read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert actual["text"].tolist() == expected["text"].tolist()
    merge_batches = [
        s.get("batch_id") for s in tbl.history() if s["kind"] == "merge"
    ]
    assert sorted(b for b in merge_batches if b is not None) == list(range(8))

    # mixed-spec window is over: compaction folds and the fold is exact
    r = tbl.compact(spark)
    assert r.get("mode") != "squash"
    actual2 = (
        tbl.read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert actual2["text"].tolist() == expected["text"].tolist()
