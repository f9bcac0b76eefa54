"""Z-order vs linear clustering A/B: the same compacted transcripts table
laid out lexicographically by (ts, turn_idx) vs Morton-interleaved
(cluster_order='zorder'), measured on the two predicate shapes that
distinguish them:

  - a trailing ts window (the leading linear column's home turf);
  - a narrow turn_idx band (the SECOND column — under linear order every
    file spans its full range, so stats can't skip anything);
  - the conjunction of both (the 2-D window z-order exists for).

Both layouts return identical rows (asserted); the report is files
pruned + median read wall per predicate per layout. At 100 TB this is the
difference between "queries on the second dimension scan the table" and
"every clustered dimension prunes".

Run: python scripts/bench_zorder.py [--events 4000000] [--cores 16]
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
    ap.add_argument("--window-frac", type=float, default=0.05)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from data_pipeline_spark.session import get_spark
    from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
    from data_pipeline_spark.streaming.ingest import IngestJob

    spark = get_spark("bench-zorder", cores=args.cores)
    root = os.path.join(
        "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp", "bench-zorder"
    )
    shutil.rmtree(root, ignore_errors=True)

    def build(order: str) -> "LakehouseTable":
        path = os.path.join(root, order)
        LakehouseTable(path).create(
            TRANSCRIPT_SCHEMA, n_buckets=args.buckets, compact_every=10**9,
            cluster_by=["ts", "turn_idx"], cluster_order=order,
            target_file_rows=args.file_rows,
            stats_columns=["ts", "turn_idx"],  # same stats both layouts
        )
        job = IngestJob(path, os.path.join(root, f"ctl-{order}"))
        chunk = 500_000
        done = 0
        batch = 0
        while done < args.events:
            n = min(chunk, args.events - done)
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
            # compact at the halfway point too, so the z table has bounds
            # recorded before its final layout (first base write is linear
            # by design — the normalization needs recorded stats)
            if done == chunk or done >= args.events:
                job.wait_maintenance()
                t = LakehouseTable(path)
                t.compact(spark)
        return LakehouseTable(path)

    t0 = time.time()
    tables = {order: build(order) for order in ("linear", "zorder")}
    load_s = time.time() - t0

    t_lin = tables["linear"]
    lo, hi = t_lin.read(spark).agg(F.min("ts"), F.max("ts")).first()
    thr = hi - datetime.timedelta(
        seconds=int((hi - lo).total_seconds() * args.window_frac)
    )
    ti_lo, ti_hi = 2, 4
    preds = {
        "ts_window": [("ts", ">=", thr)],
        "turn_band": [("turn_idx", ">=", ti_lo), ("turn_idx", "<=", ti_hi)],
        "both": [("ts", ">=", thr), ("turn_idx", ">=", ti_lo),
                 ("turn_idx", "<=", ti_hi)],
    }

    def timed(fn):
        vals = []
        for _ in range(args.repeats):
            s = time.time()
            fn()
            vals.append(time.time() - s)
        vals.sort()
        return vals[len(vals) // 2]

    out: dict = {
        "metric": "z-order vs linear clustering: files pruned + read wall",
        "events": args.events,
        "load_s": round(load_s, 2),
        "window_frac": args.window_frac,
        "layouts": {},
    }
    counts = {}

    def measure(t) -> dict:
        rep: dict = {}
        for name, where in preds.items():
            plan = t.plan_scan(where=where)
            n = t.read(spark, where=where).count()
            counts.setdefault(name, n)
            assert counts[name] == n, (name, counts[name], n)
            rep[name] = {
                "files_total": plan["files_total"],
                "files_pruned": plan["files_pruned"],
                "rows": n,
                "read_s": round(timed(
                    lambda w=where: t.read(spark, where=w)
                    .agg(F.count("*"), F.max("role")).collect()
                ), 3),
            }
        return rep

    for order, t in tables.items():
        out["layouts"][order] = measure(t)

    # recluster pass: the build's final compaction z-sorted against bounds
    # recorded at the halfway point, so the newer half clamped to edge
    # cells (the post-backfill layout-drift scenario) — recluster rewrites
    # under the now-complete bounds and the z layout reaches steady state
    t = tables["zorder"]
    s = time.time()
    assert t.recluster(spark)["skipped"] is False
    out["recluster_s"] = round(time.time() - s, 2)
    out["layouts"]["zorder_reclustered"] = measure(t)
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
