"""Eager vs lazy partition-spec change A/B (round 4).

The 100-TB question behind `evolve_bucket_spec`: when a table outgrows its
write parallelism, `rebucket` pays a full-table rewrite UP FRONT while every
concurrent merge CAS-fails and waits; `evolve` is a PURE metadata commit
(zero data I/O — pending delta stacks stay readable under their recorded
spec) that unblocks ingest immediately and lets `migrate_spec` re-layout
old files afterwards, in bounded batches, each a small CAS window. Same
bytes move either way — the difference is WHEN and in how large an atomic
chunk. (This bench killed the first design, which folded pending deltas at
evolve time: O(affected buckets) made it slower than rebucket itself.)

Measures, on two identical MOR tables (all-base after a full compact):
  A  t_rebucket        — the eager O(table) rewrite wall (ingest-blocking)
  B  t_evolve          — the lazy switch wall (what ingest actually waits)
  B  t_migrate_total   — background re-layout, sum over bounded batches
  B  t_migrate_max     — the LARGEST single migrate commit (the real
                         ingest-contention window under live load)
  point-read walls pre-evolve / mixed-spec / post-migration — per-spec
  pruning must keep the mixed window flat.

Run: python scripts/bench_spec_evolution.py [--events 2000000] [--cores 16]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--convs", type=int, default=40_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--from-buckets", type=int, default=8)
    ap.add_argument("--to-buckets", type=int, default=32)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--migrate-chunk", type=int, default=2,
                    help="old-spec buckets per migrate_spec call")
    ap.add_argument("--point-reads", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
    from data_pipeline_spark.session import get_spark
    from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, read_feed_batch
    from data_pipeline_spark.streaming.ingest import IngestJob

    root = os.path.join(
        "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp", "bench-spec-evo"
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    spark = get_spark(
        "bench-spec-evo", cores=args.cores, shuffle_partitions=args.cores * 2
    )

    feed_dir = os.path.join(root, "feed")
    generate_feed(
        feed_dir,
        FeedSpec(
            n_events=args.events, n_convs=args.convs, seed=7,
            chunk_size=max(100_000, args.events // 8),
        ),
    )
    raw = read_feed_batch(spark, feed_dir)
    lo, hi = raw.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo + args.batches) // args.batches

    def build(name: str) -> tuple[LakehouseTable, IngestJob]:
        """Identical start line for both arms: batches 0..n-2 folded to
        base, the LAST batch left as pending deltas — the realistic state
        a live table is in when an operator decides to re-parallelize.
        evolve must stay O(1) even with that churn pending (the un-folded
        stack rides along under its recorded spec); rebucket rewrites the
        whole table, pending deltas included."""
        path = os.path.join(root, name)
        LakehouseTable(path).create(
            TRANSCRIPT_SCHEMA, n_buckets=args.from_buckets, compact_every=10**9,
        )
        job = IngestJob(path, os.path.join(root, f"ctl-{name}"))
        tbl = LakehouseTable(path)
        for b in range(args.batches):
            a, z = lo + b * step, lo + (b + 1) * step
            job.apply_batch(
                spark, b, raw.where((F.col("lsn") > a - 1) & (F.col("lsn") <= z))
            )
            if b == args.batches - 2:
                job.wait_maintenance()
                tbl.compact(spark)
        return tbl, job

    def point_read_wall(tbl: LakehouseTable, ids: list[str]) -> float:
        t0 = time.monotonic()
        for _ in range(args.point_reads):
            tbl.read(spark, conv_ids=ids).collect()
        return round((time.monotonic() - t0) / args.point_reads, 3)

    eager, _ = build("eager")
    lazy, _ = build("lazy")
    ids = [
        r["conv_id"]
        for r in lazy.read(spark).select("conv_id").distinct().limit(3).collect()
    ]

    point_read_wall(lazy, ids)  # warmup: JIT + plan cache, untimed
    pr_before = point_read_wall(lazy, ids)

    t0 = time.monotonic()
    eager.rebucket(spark, args.to_buckets)
    t_rebucket = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    lazy.evolve_bucket_spec(spark, args.to_buckets)
    t_evolve = round(time.monotonic() - t0, 3)

    pr_mixed = point_read_wall(lazy, ids)

    migrate_walls: list[float] = []
    while True:
        t0 = time.monotonic()
        r = lazy.migrate_spec(spark, max_old_buckets=args.migrate_chunk)
        w = time.monotonic() - t0
        if r.get("skipped"):
            break
        migrate_walls.append(round(w, 2))
        if r.get("remaining_old_files") == 0:
            break

    pr_after = point_read_wall(lazy, ids)

    # equivalence: both arms must hold identical contents
    a = eager.read(spark).orderBy("conv_id", "turn_idx")
    b = lazy.read(spark).orderBy("conv_id", "turn_idx")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), "arms diverge"

    # ---- per-batch ingest overhead of auto-migration ------------------
    # same post-evolve batches through an auto-migrating table and a
    # single-spec control; the delta is what hands-off migration costs the
    # ingest path per batch (bounded by migrate_chunk by construction)
    auto_tbl, auto_job = build("auto")
    ctrl_tbl, ctrl_job = build("ctrl")
    auto_tbl.evolve_bucket_spec(
        spark, args.to_buckets, auto_migrate_buckets=args.migrate_chunk
    )
    shifted = raw.withColumn("lsn", F.col("lsn") + F.lit(int(hi)))

    def timed_batches(job) -> list[float]:
        walls = []
        for b in range(args.batches):
            a0, z0 = lo + b * step, lo + (b + 1) * step
            df = shifted.where((F.col("lsn") > a0 - 1 + hi) & (F.col("lsn") <= z0 + hi))
            t0 = time.monotonic()
            job.apply_batch(spark, 100 + b, df)
            walls.append(round(time.monotonic() - t0, 2))
        job.wait_maintenance()
        return walls

    auto_walls = timed_batches(auto_job)
    ctrl_walls = timed_batches(ctrl_job)
    assert len(auto_tbl.table_specs(auto_tbl.current_snapshot())) == 1, (
        "auto-migration must complete within the batch run"
    )

    print(json.dumps({
        "metric": "spec_evolution_ab",
        "events": args.events,
        "cores": args.cores,
        "from_buckets": args.from_buckets,
        "to_buckets": args.to_buckets,
        "t_rebucket_sec": t_rebucket,
        "t_evolve_sec": t_evolve,
        "ingest_unblock_speedup": round(t_rebucket / max(t_evolve, 1e-3), 1),
        "t_migrate_total_sec": round(sum(migrate_walls), 2),
        "t_migrate_max_commit_sec": max(migrate_walls) if migrate_walls else 0.0,
        "migrate_batches": len(migrate_walls),
        "point_read_sec": {
            "pre_evolve": pr_before, "mixed_spec": pr_mixed, "migrated": pr_after,
        },
        "auto_migrate_batch_walls_sec": auto_walls,
        "control_batch_walls_sec": ctrl_walls,
        "auto_overhead_pct": round(
            100.0 * (sum(auto_walls) / max(sum(ctrl_walls), 1e-9) - 1.0), 1
        ),
    }))
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
