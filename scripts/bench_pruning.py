"""Predicate file-skipping A/B: a ts-range read over a compacted,
ts-clustered transcripts table WITH manifest col_stats pruning
(read(where=...)) vs the same filter applied to the full scan
(read().where(...)).

Both return identical rows (the engine asserts equality here); the question
is how much I/O the manifest bounds save. At 100 TB this is the difference
between touching every base file for "yesterday's turns" and opening only
the files whose ts range overlaps the day — the scan-planning half of the
lakehouse story, measured.

Run: python scripts/bench_pruning.py [--events 4000000] [--cores 16]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=4_000_000)
    ap.add_argument("--convs", type=int, default=40_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--file-rows", type=int, default=100_000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--window-frac", type=float, default=0.05,
                    help="predicate selects this trailing fraction of the ts range")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from data_pipeline_spark.session import get_spark
    from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
    from data_pipeline_spark.streaming.ingest import IngestJob

    spark = get_spark("bench-pruning", cores=args.cores)
    root = os.path.join(
        "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp", "bench-pruning"
    )
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "tbl")

    LakehouseTable(path).create(
        TRANSCRIPT_SCHEMA, n_buckets=args.buckets, compact_every=10**9,
        cluster_by=["ts"], target_file_rows=args.file_rows,
        stats_columns=["ts"],
    )
    job = IngestJob(path, os.path.join(root, "ctl"))

    t0 = time.time()
    chunk = 500_000
    done = 0
    batch = 0
    while done < args.events:
        n = min(chunk, args.events - done)
        # each chunk's ts continues where the previous left off, so ts is
        # globally increasing with lsn (the CDC shape: commit time ~ LSN)
        chunk_base = (
            datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=done)
        ).strftime("%Y-%m-%d %H:%M:%S")
        pdf = generate_feed_pandas(
            FeedSpec(n_events=n, n_convs=args.convs, seed=100 + batch,
                     base_ts=chunk_base)
        )
        pdf["lsn"] = pdf["lsn"] + done
        job.apply_batch(
            spark, batch, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)
        )
        done += n
        batch += 1
    job.wait_maintenance()
    t = LakehouseTable(path)
    t.compact(spark)
    load_s = time.time() - t0

    lo, hi = t.read(spark).agg(F.min("ts"), F.max("ts")).first()
    thr = hi - datetime.timedelta(seconds=int((hi - lo).total_seconds() * args.window_frac))
    where = [("ts", ">=", thr)]
    plan = t.plan_scan(where=where)

    def timed(fn):
        vals = []
        for _ in range(args.repeats):
            s = time.time()
            fn()
            vals.append(time.time() - s)
        vals.sort()
        return vals[len(vals) // 2]

    n_pruned = t.read(spark, where=where).count()
    n_full = t.read(spark).where(F.col("ts") >= F.lit(thr)).count()
    assert n_pruned == n_full, (n_pruned, n_full)

    pruned_s = timed(lambda: t.read(spark, where=where).agg(
        F.count("*"), F.max("turn_idx")).collect())
    full_s = timed(lambda: t.read(spark).where(F.col("ts") >= F.lit(thr)).agg(
        F.count("*"), F.max("turn_idx")).collect())

    print(json.dumps({
        "metric": "ts-range read: manifest pruning vs full scan",
        "events": args.events,
        "load_s": round(load_s, 2),
        "window_frac": args.window_frac,
        "rows_selected": n_pruned,
        "files_total": plan["files_total"],
        "files_kept": plan["files_kept"],
        "files_pruned": plan["files_pruned"],
        "pruned_read_s": round(pruned_s, 3),
        "full_scan_s": round(full_s, 3),
        "speedup": round(full_s / pruned_s, 2),
    }))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
