"""net_changes + inspect bench: churn-proportional changelog cost.

Builds an N-event transcripts table, then commits churn batches of growing
size and measures `net_changes` wall per window:

- point regime (default): touched conv_ids collected → both snapshot reads
  file-skip via bucket pruning + manifest key ranges → cost ~ churn;
- semi-join regime (table_format.HIGH_CHURN_CAP patched to 0): the same
  window answered by a distributed semi-join over full snapshot reads →
  the high-churn shape;
- fallback full diff: a window containing an overwrite can't enumerate
  touched keys from metadata and pays the documented full two-snapshot diff.

Also records one executedPlan audit of the point-regime query (the touched
keys frame must broadcast; no shuffle on the big side beyond the final
full-outer join) and the inspect() metadata-table walltimes (driver-side
O(files) — the observability surface must stay cheap at many files).

Run: python scripts/bench_net_changes.py [--events 8000000] [--cores 16]
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
    ap.add_argument("--events", type=int, default=8_000_000)
    ap.add_argument("--convs", type=int, default=80_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--file-rows", type=int, default=100_000)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    import pandas as pd
    from pyspark.sql import functions as F

    from data_pipeline_spark.oracle import reduce_feed
    from data_pipeline_spark.plans import table_format
    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from data_pipeline_spark.session import get_spark
    from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
    from data_pipeline_spark.streaming.ingest import IngestJob

    spark = get_spark("bench-net-changes", cores=args.cores)
    root = os.path.join(
        "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp", "bench-net-changes"
    )
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "tbl")

    LakehouseTable(path).create(
        TRANSCRIPT_SCHEMA, n_buckets=args.buckets, compact_every=10**9,
        cluster_by=["conv_id"], target_file_rows=args.file_rows,
    )
    job = IngestJob(path, os.path.join(root, "ctl"))

    t0 = time.time()
    chunk = 1_000_000
    done = 0
    batch = 0
    while done < args.events:
        n = min(chunk, args.events - done)
        pdf = generate_feed_pandas(
            FeedSpec(n_events=n, n_convs=args.convs, seed=100 + batch)
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
    table_rows = t.read(spark).count()

    live = reduce_feed(
        generate_feed_pandas(FeedSpec(n_events=chunk, n_convs=args.convs, seed=100))
    )

    def churn_batch(n_keys: int, lsn_base: int) -> pd.DataFrame:
        rows = live.iloc[:n_keys]
        return pd.DataFrame(
            {
                "lsn": range(lsn_base, lsn_base + len(rows)),
                "op": "U",
                "ts": pd.Timestamp("2026-06-01"),
                "conv_id": rows["conv_id"].to_numpy(),
                "turn_idx": rows["turn_idx"].astype("int32").to_numpy(),
                "payload": [
                    f'{{"role":"assistant","text":"churn {i}"}}'
                    for i in range(len(rows))
                ],
            }
        )

    def timed(fn):
        vals = []
        for _ in range(args.repeats):
            s = time.time()
            fn()
            vals.append(time.time() - s)
        vals.sort()
        return vals[len(vals) // 2]

    windows = []
    lsn_base = args.events + 10
    plan_audit = None
    for n_keys in (1_000, 10_000, 100_000):
        n_keys = min(n_keys, len(live))
        sid_a = t.current_snapshot()["snapshot_id"]
        job.apply_batch(
            spark, batch,
            spark.createDataFrame(churn_batch(n_keys, lsn_base),
                                  schema=CHANGE_EVENT_SCHEMA),
        )
        batch += 1
        lsn_base += n_keys
        sid_b = t.current_snapshot()["snapshot_id"]

        nc = lambda: t.net_changes(  # noqa: E731
            spark, sid_a, sid_b
        ).agg(F.count("*")).collect()
        point_s = timed(nc)
        table_format.HIGH_CHURN_CAP = 0  # force the semi-join regime
        semi_s = timed(nc)
        table_format.HIGH_CHURN_CAP = 100_000
        n_net = t.net_changes(spark, sid_a, sid_b).count()
        if plan_audit is None:
            plan = t.net_changes(spark, sid_a, sid_b)._jdf.queryExecution().executedPlan().toString()
            plan_audit = {
                "keys_frame_broadcast": "BroadcastHashJoin" in plan
                and "LeftSemi" in plan,
                "full_outer_join_present": "FullOuter" in plan,
            }
        # metadata evidence of the point regime's file skipping: how many
        # base files the touched conv_ids keep vs the table total (the
        # wall-clock win is scan I/O — invisible at in-memory local scale,
        # decisive when files are TBs on object storage)
        touched_convs = sorted(set(live.iloc[:n_keys]["conv_id"]))
        scan = t.plan_scan(snapshot_id=sid_a, conv_ids=touched_convs, spark=spark)
        windows.append(
            {
                "churned_keys": n_keys,
                "net_rows": n_net,
                "point_s": round(point_s, 3),
                "semi_join_s": round(semi_s, 3),
                "files_kept_point": scan["files_kept"],
                "files_total": scan["files_total"],
            }
        )

    # fallback: a window containing an overwrite pays the full diff
    sid_a = t.current_snapshot()["snapshot_id"]
    snap_df = t.read(spark)
    t.overwrite(spark, snap_df.where(F.col("turn_idx") >= 1), batch_id=batch)
    sid_b = t.current_snapshot()["snapshot_id"]
    assert t._touched_key_df(spark, sid_a, sid_b) is None
    fallback_s = timed(
        lambda: t.net_changes(spark, sid_a, sid_b).agg(F.count("*")).collect()
    )

    inspect_s = {
        kind: round(timed(lambda k=kind: t.inspect(spark, k).count()), 3)
        for kind in ("snapshots", "files", "refs")
    }

    print(json.dumps({
        "metric": "net_changes wall vs churn (point / semi-join / fallback)",
        "events": args.events,
        "table_rows": table_rows,
        "load_s": round(load_s, 2),
        "windows": windows,
        "fallback_full_diff_s": round(fallback_s, 3),
        "plan_audit": plan_audit,
        "inspect_s": inspect_s,
        "files_total": t.plan_scan()["files_total"],
    }))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
