"""Dedup-index bench: incremental LSH maintenance vs full-corpus recompute.

The scaling argument measured directly: the same churn is refreshed into
the index over corpora of GROWING size. A non-incremental pipeline re-runs
the full sign+band pass for every freshness point — its cost grows with
the corpus — while the index refresh is O(churn): flat across corpus
sizes. The bench reports both walls per (corpus size, churn size), the
speedup, its growth between sizes, and the near-dup lookup cost.

Per corpus size:
- build an N-event transcripts table (~C conversations), compact;
- bootstrap the index (one-time full pass via the rebuild regime);
- for churn in (100, 1000, 10000): commit a churn batch upstream,
  measure poll_once (the incremental refresh), the full recompute a
  batch pipeline would pay, and near_dups_for(changed).

Run: python scripts/bench_dedup_index.py [--events 2000000] [--convs 100000]
(each corpus size is events/scale for scale in --scales, default 4,1)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench_one(spark, root: str, events: int, convs: int, buckets: int,
              repeats: int) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    from data_pipeline_spark.operators.corpus import (
        assemble_conversations,
        band_buckets,
        doc_shingles,
        minhash_signature,
    )
    from data_pipeline_spark.oracle import reduce_feed
    from data_pipeline_spark.plans import table_format
    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
    from data_pipeline_spark.streaming import dedup_index
    from data_pipeline_spark.streaming.dedup_index import DedupIndexJob
    from data_pipeline_spark.streaming.ingest import IngestJob

    shutil.rmtree(root, ignore_errors=True)
    up = os.path.join(root, "up")
    idx = os.path.join(root, "idx")
    LakehouseTable(up).create(
        TRANSCRIPT_SCHEMA, n_buckets=buckets, compact_every=10**9,
        cluster_by=["conv_id"],
    )
    job = IngestJob(up, os.path.join(root, "ctl"))

    t0 = time.time()
    chunk = 1_000_000
    done, batch = 0, 0
    while done < events:
        n = min(chunk, events - done)
        pdf = generate_feed_pandas(FeedSpec(n_events=n, n_convs=convs, seed=100 + batch))
        pdf["lsn"] = pdf["lsn"] + done
        job.apply_batch(spark, batch, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA))
        done += n
        batch += 1
    job.wait_maintenance()
    t = LakehouseTable(up)
    t.compact(spark)
    load_s = time.time() - t0
    n_docs = t.read(spark).select("conv_id").distinct().count()

    # bootstrap: first catch-up IS the full pass (rebuild regime)
    DedupIndexJob.create_index_tables(
        idx, n_buckets=buckets, compact_every=10**9, cluster_by=["conv_id"]
    )
    # above the max churn window (so churn refreshes stay on the point
    # path) and below the big corpus (so bootstrap takes the rebuild)
    table_format.HIGH_CHURN_CAP = 20_000
    dix = DedupIndexJob(up, idx)
    cursor = os.path.join(root, "dedup.cursor")
    s = time.time()
    dix.run_until_caught_up(spark, cursor)
    bootstrap_s = time.time() - s
    bootstrap_mode = dix.last_refresh_mode

    def full_recompute() -> None:
        # what a NON-incremental pipeline re-runs for the same freshness
        docs = assemble_conversations(t.read(spark))
        sig = minhash_signature(
            doc_shingles(docs, text_col="doc_text", key_col="conv_id"),
            key_col="conv_id", n_hashes=8, with_count=True,
        )
        key = F.concat_ws(":", F.col("band_id").cast("string"), F.col("bucket"))
        members = (
            band_buckets(sig, key_col="conv_id", n_bands=4)
            .select(key.alias("key"), "conv_id")
            .groupBy("key").agg(F.collect_set("conv_id").alias("m"))
        )
        members.agg(F.count("*"), F.sum(F.size("m"))).collect()

    def timed(fn, reps=repeats):
        vals = []
        for _ in range(reps):
            s = time.time()
            fn()
            vals.append(time.time() - s)
        vals.sort()
        return vals[len(vals) // 2]

    full_s = timed(full_recompute)

    live = reduce_feed(
        generate_feed_pandas(FeedSpec(n_events=min(chunk, events), n_convs=convs, seed=100))
    ).drop_duplicates("conv_id")

    windows = []
    lsn_base = events + 10
    for n_keys in (100, 1_000, 10_000):
        if n_keys > len(live):
            continue
        rows = live.iloc[:n_keys]
        pdf = pd.DataFrame({
            "lsn": range(lsn_base, lsn_base + len(rows)),
            "op": "U",
            "ts": pd.Timestamp("2026-06-01"),
            "conv_id": rows["conv_id"].to_numpy(),
            "turn_idx": rows["turn_idx"].astype("int32").to_numpy(),
            "payload": [
                f'{{"role":"assistant","text":"churned revision {i} with some words"}}'
                for i in range(len(rows))
            ],
        })
        churned = sorted(set(pdf["conv_id"]))
        job.apply_batch(spark, batch, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA))
        batch += 1
        lsn_base += n_keys

        s = time.time()
        res = dix.poll_once(spark, cursor)
        refresh_s = time.time() - s
        assert res["applied"] is True and dix.last_refresh_mode == "point"

        # lookup in BOTH regimes on the same state: the point path collects
        # |ids| x n_bands bucket keys driver-side, the distributed path is
        # one bands-table scan — the crossover sets LOOKUP_POINT_CAP
        saved = dedup_index.LOOKUP_POINT_CAP
        dedup_index.LOOKUP_POINT_CAP = len(churned) + 1
        lookup_point_s = timed(
            lambda c=churned: dix.near_dups_for(spark, c).agg(F.count("*")).collect()
        )
        dedup_index.LOOKUP_POINT_CAP = 0
        lookup_dist_s = timed(
            lambda c=churned: dix.near_dups_for(spark, c).agg(F.count("*")).collect()
        )
        dedup_index.LOOKUP_POINT_CAP = saved
        windows.append({
            "churned_docs": n_keys,
            "incremental_refresh_s": round(refresh_s, 3),
            "speedup_vs_full": round(full_s / refresh_s, 1),
            "near_dup_lookup_point_s": round(lookup_point_s, 3),
            "near_dup_lookup_dist_s": round(lookup_dist_s, 3),
        })

    shutil.rmtree(root, ignore_errors=True)
    return {
        "events": events,
        "docs": n_docs,
        "load_s": round(load_s, 2),
        "bootstrap_s": round(bootstrap_s, 2),
        "bootstrap_mode": bootstrap_mode,
        "full_recompute_s": round(full_s, 3),
        "windows": windows,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--convs", type=int, default=100_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--scales", type=str, default="4,1",
                    help="corpus sizes = events/scale, largest-divisor first")
    args = ap.parse_args()

    from data_pipeline_spark.session import get_spark

    spark = get_spark("bench-dedup-index", cores=args.cores)
    base = os.path.join(
        "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp", "bench-dedup-index"
    )
    sizes = []
    for scale in (int(s) for s in args.scales.split(",")):
        sizes.append(bench_one(
            spark, base, args.events // scale, args.convs // scale,
            args.buckets, args.repeats,
        ))

    growth = None
    if len(sizes) >= 2:
        a, b = sizes[0], sizes[-1]
        ref_a = {w["churned_docs"]: w["incremental_refresh_s"] for w in a["windows"]}
        growth = {
            "corpus_growth": round(b["docs"] / max(a["docs"], 1), 2),
            "full_recompute_growth": round(
                b["full_recompute_s"] / max(a["full_recompute_s"], 1e-9), 2
            ),
            "incremental_growth_per_churn": {
                str(w["churned_docs"]): round(
                    w["incremental_refresh_s"] / max(ref_a.get(w["churned_docs"], 0), 1e-9), 2
                )
                for w in b["windows"] if w["churned_docs"] in ref_a
            },
        }

    print(json.dumps({
        "metric": "dedup index incremental refresh vs full recompute",
        "sizes": sizes,
        "growth": growth,
    }))


if __name__ == "__main__":
    main()