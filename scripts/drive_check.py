"""End-to-end verification drive (the /verify recipe, committed form):
streaming ingest -> injected crash -> resume from checkpoint -> oracle
equality (per-turn text, byte-for-byte) -> exactly-once control audit ->
full duplicate replay must no-op — in BOTH update modes (full-row LWW and
partial-row-image sequential fold). Exits non-zero on any failure.

    PYTHONPATH=. python scripts/drive_check.py
"""
import os, shutil, tempfile
import pandas as pd
from pyspark.errors.exceptions.captured import StreamingQueryException
from data_pipeline_spark.session import get_spark
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.oracle import reduce_feed, reduce_feed_sequential

spark = get_spark("drive", cores=8, shuffle_partitions=16)
root = tempfile.mkdtemp(prefix="drive-")

for mode, partial in (("full", False), ("partial", True)):
    spec = FeedSpec(n_events=30_000, n_convs=500, seed=99, chunk_size=3_000,
                    hot_key=True, partial_updates=partial)
    feed = os.path.join(root, f"feed-{mode}"); generate_feed(feed, spec)
    tp, ctl, ckpt = (os.path.join(root, f"{n}-{mode}") for n in ("tbl", "ctl", "ckpt"))
    job = IngestJob(tp, ctl)
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=16, update_mode=mode if partial else "full")

    # crash after 2 batches: apply_batch raises on its third call
    real_apply, calls = job.apply_batch, [0]

    def crashing_apply(*args, **kwargs):
        if calls[0] >= 2:
            raise RuntimeError("injected crash")
        calls[0] += 1
        return real_apply(*args, **kwargs)

    job.apply_batch = crashing_apply
    try:
        q = job.start_stream(spark, feed, ckpt, max_files_per_trigger=2)
        q.awaitTermination()
        raise SystemExit("expected injected crash did not fire")
    except StreamingQueryException:
        pass
    del job.apply_batch
    # resume from checkpoint
    job.run_to_completion(spark, feed, ckpt, max_files_per_trigger=2)

    oracle = (reduce_feed_sequential if partial else reduce_feed)(generate_feed_pandas(spec))
    got = job.table.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(oracle), (mode, len(got), len(oracle))
    assert got["text"].tolist() == oracle["text"].tolist(), f"{mode}: text mismatch"

    ctl_df = job.read_control(spark).toPandas()
    per_batch = ctl_df.groupby("batch_id").size()
    assert per_batch.index.is_unique and (ctl_df.groupby("batch_id")["committed_at"].nunique() == 1).all()
    dup_batches = ctl_df["batch_id"].duplicated(keep=False)
    # one record set per batch_id: committed_at unique per batch
    n_batches = ctl_df["batch_id"].nunique()

    # full duplicate replay must be skipped (idempotent by batch_id/watermark)
    r = job.replay_batch(spark, feed, batch_id=0)
    assert r.get("skipped") or r.get("rows_filtered_by_watermark") or r.get("affected_buckets") == 0, r
    print(f"[{mode}] OK: rows={len(got)} batches={n_batches} crash/resume + oracle text equality + exactly-once audit + duplicate replay no-op")

spark.stop()
shutil.rmtree(root, ignore_errors=True)
print("DRIVE PASSED")
