"""Cascade-edge benchmark: what does the SECOND hop cost?

First hop: raw change feed → decode → collapse → merge into table A.
Edge:      A's changelog (cursor-polled windows) → table B. A window of
           one A merge into a same-shape full replica lands by hard link
           (LakehouseTable.link_merge): zero Spark jobs and no extra bytes
           on the same filesystem until compaction. The first hop here is
           one trigger (--chunks ≤ 256 files), so its drain is one merge
           and the edge is a link; any other window goes as typed rows
           through IngestJob.apply_changes (collapse → merge, no decode).
Fan-out (--fanout N): N full replicas via N independent CascadeJob edges
(N reads of A's changelog) vs one CascadeFanout (one read per window,
shared cached window, concurrent applies) — the read-amplification A/B.

The edge never re-reads A — it moves only the collapsed per-commit
changesets (strictly fewer rows than the raw feed, since upstream collapse
already folded per-key churn), and never decodes JSON: the changelog is
already typed. Prints one JSON line: first-hop events/s, edge rows/s, the
row-reduction ratio, and a content-equality check (xxhash64 sum over
key+lsn+text) proving B == A.

Run: python scripts/bench_cascade.py --events 4000000 --cores 8
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=4_000_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--chunks", type=int, default=64)
    ap.add_argument(
        "--fanout", type=int, default=0,
        help="also A/B N independent edges vs one N-target CascadeFanout",
    )
    ap.add_argument(
        "--workdir", default="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
    from data_pipeline_spark.session import get_spark
    from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_spark
    from data_pipeline_spark.streaming.cascade import CascadeJob
    from data_pipeline_spark.streaming.ingest import IngestJob

    root = tempfile.mkdtemp(prefix=f"cascade-{args.cores}c-", dir=args.workdir)
    spark = get_spark(
        "cascade-bench",
        cores=args.cores,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "512k",
            "spark.local.dir": os.path.join(root, "sparklocal"),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    try:
        feed = os.path.join(root, "feed")
        generate_feed_spark(
            spark,
            feed,
            FeedSpec(
                n_events=args.events,
                n_convs=max(2_000, args.events // 500),
                seed=17,
            ),
            n_chunks=args.chunks,
        )

        a = os.path.join(root, "a")
        # compact_every high: keep every delta commit live so the edge
        # replays the FULL history (compaction folding deltas early would
        # understate the edge's work)
        LakehouseTable(a).create(
            TRANSCRIPT_SCHEMA, n_buckets=args.n_buckets, compact_every=10**9
        )
        job_a = IngestJob(a, os.path.join(root, "ctl-a"))
        t0 = time.monotonic()
        job_a.run_to_completion(
            spark, feed, os.path.join(root, "cp-a"), max_files_per_trigger=256
        )
        first_hop_sec = time.monotonic() - t0

        b = os.path.join(root, "b")
        LakehouseTable(b).create(TRANSCRIPT_SCHEMA, n_buckets=args.n_buckets)
        edge = CascadeJob(a, b, os.path.join(root, "ctl-b"))
        t0 = time.monotonic()
        edge.run_until_caught_up(spark, os.path.join(root, "b.cursor"))
        edge_sec = time.monotonic() - t0

        delta_rows = LakehouseTable(a).read_changes(spark, 0).count()

        def digest(path: str) -> tuple[int, int]:
            df = LakehouseTable(path).read(spark, with_lsn=True)
            row = df.agg(
                F.count("*").alias("n"),
                F.sum(
                    F.xxhash64("conv_id", "turn_idx", "_lsn", "text").cast(
                        "decimal(38,0)"  # long sum would overflow under ANSI
                    )
                ).alias("h"),
            ).first()
            return row["n"], row["h"]

        fanout_metrics = {}
        if args.fanout:
            from data_pipeline_spark.streaming.cascade import (
                CascadeFanout,
                CascadeTarget,
            )

            def mk_tables(prefix: str) -> list[str]:
                paths = []
                for i in range(args.fanout):
                    p = os.path.join(root, f"{prefix}{i}")
                    LakehouseTable(p).create(
                        TRANSCRIPT_SCHEMA, n_buckets=args.n_buckets
                    )
                    paths.append(p)
                return paths

            indep = mk_tables("ind")
            t0 = time.monotonic()
            for i, p in enumerate(indep):
                CascadeJob(a, p, os.path.join(root, f"ctl-ind{i}")).run_until_caught_up(
                    spark, os.path.join(root, f"ind{i}.cursor")
                )
            indep_sec = time.monotonic() - t0

            shared = mk_tables("fan")
            fan = CascadeFanout(
                a,
                [CascadeTarget(f"t{i}", p) for i, p in enumerate(shared)],
                os.path.join(root, "ctl-fan"),
            )
            t0 = time.monotonic()
            fan.run_until_caught_up(spark, os.path.join(root, "fan.cursor"))
            fanout_sec = time.monotonic() - t0

            ok = all(digest(p) == digest(a) for p in (indep[0], *shared))
            fanout_metrics = {
                "fanout_targets": args.fanout,
                "independent_edges_sec": round(indep_sec, 1),
                "fanout_one_pass_sec": round(fanout_sec, 1),
                "fanout_speedup": round(indep_sec / fanout_sec, 2),
                "fanout_replicas_equal_a": bool(ok),
            }

        (rows_a, hash_a), (rows_b, hash_b) = digest(a), digest(b)
        print(
            json.dumps(
                {
                    "events": args.events,
                    "cores": args.cores,
                    "first_hop_sec": round(first_hop_sec, 1),
                    "first_hop_ev_s": int(args.events / first_hop_sec),
                    "edge_sec": round(edge_sec, 1),
                    "edge_delta_rows": delta_rows,
                    "edge_rows_s": int(delta_rows / edge_sec),
                    "row_reduction": round(args.events / delta_rows, 2),
                    "rows": rows_a,
                    "b_equals_a": bool(rows_a == rows_b and hash_a == hash_b),
                    **fanout_metrics,
                }
            )
        )
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
