"""Corpus-view benchmark: what does an incremental refresh cost vs a
full corpus rebuild?

Phase 1: ingest a base corpus (--events change events) into upstream A.
Phase 2: bootstrap the documents view (catch-up over the full changelog —
         the one unavoidable O(corpus) pass).
Phase 3: churn a SMALL slice of conversations (--churn-events over
         --churn-convs) and refresh the view from the same cursor —
         the steady-state cost, O(churn) by construction.
Phase 4: the baseline the view replaces: full `assemble_conversations`
         over A written to parquet (what a no-view pipeline re-runs to get
         a fresh corpus after the same churn).

Prints one JSON line. Run at two --events sizes with the same churn to
show the incremental refresh is FLAT in corpus size while the rebuild
grows linearly — the scaling argument for maintaining the view at 100 TB.

Run: python scripts/bench_corpus_view.py --events 4000000 --cores 8
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
    ap.add_argument("--churn-events", type=int, default=20_000)
    ap.add_argument("--churn-convs", type=int, default=2_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--chunks", type=int, default=64)
    ap.add_argument("--target-file-rows", type=int, default=10_000)
    ap.add_argument(
        "--cluster", action="store_true",
        help="upstream compacts with cluster_by=[conv_id,turn_idx] + bounded "
        "files, so the refresh point read skips base files by manifest key "
        "range instead of scanning every file in the touched buckets",
    )
    ap.add_argument(
        "--workdir", default="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from data_pipeline_spark.operators.corpus import assemble_conversations
    from data_pipeline_spark.plans import table_format
    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from data_pipeline_spark.session import get_spark
    from data_pipeline_spark.sources.feed import (
        FeedSpec,
        generate_feed_pandas,
        generate_feed_spark,
    )
    from data_pipeline_spark.streaming.corpus_view import CorpusViewJob
    from data_pipeline_spark.streaming.ingest import IngestJob

    root = tempfile.mkdtemp(prefix=f"corpusview-{args.cores}c-", dir=args.workdir)
    spark = get_spark(
        "corpus-view-bench",
        cores=args.cores,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "512k",
            "spark.local.dir": os.path.join(root, "sparklocal"),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    try:
        # ---- phase 1: base corpus into upstream A -----------------------
        feed = os.path.join(root, "feed")
        n_convs = max(2_000, args.events // 200)
        generate_feed_spark(
            spark,
            feed,
            FeedSpec(n_events=args.events, n_convs=n_convs, seed=23),
            n_chunks=args.chunks,
        )
        up = os.path.join(root, "up")
        cluster_kw = (
            {"cluster_by": ["conv_id", "turn_idx"],
             "target_file_rows": args.target_file_rows}
            if args.cluster
            else {}
        )
        LakehouseTable(up).create(
            TRANSCRIPT_SCHEMA, n_buckets=args.n_buckets, compact_every=10**9,
            rewrite_manifests_every=64, **cluster_kw,
        )
        ingest = IngestJob(up, os.path.join(root, "ctl-up"))
        t0 = time.monotonic()
        ingest.run_to_completion(
            spark, feed, os.path.join(root, "cp-up"), max_files_per_trigger=256
        )
        ingest_sec = time.monotonic() - t0

        compact_sec = None
        if args.cluster:
            t0 = time.monotonic()
            LakehouseTable(up).compact(spark)
            compact_sec = time.monotonic() - t0

        # ---- phase 2: view bootstrap (O(corpus), once) -------------------
        view = os.path.join(root, "view")
        CorpusViewJob.create_view_table(view, n_buckets=args.n_buckets)
        vj = CorpusViewJob(up, view, os.path.join(root, "ctl-view"))
        cursor = os.path.join(root, "view.cursor")
        t0 = time.monotonic()
        vj.run_until_caught_up(spark, cursor)
        bootstrap_sec = time.monotonic() - t0
        n_docs = LakehouseTable(view).read(spark).count()

        # ---- phase 3: churn a small conversation slice, refresh ----------
        churn = generate_feed_pandas(
            FeedSpec(
                n_events=args.churn_events, n_convs=args.churn_convs, seed=97,
                chunk_size=args.churn_events,
            )
        )
        churn["lsn"] = churn["lsn"] + (
            LakehouseTable(up).current_snapshot()["watermark_lsn"] or 0
        )
        ingest.apply_batch(
            spark, 10**6, spark.createDataFrame(churn, schema=CHANGE_EVENT_SCHEMA)
        )
        # scan-planning accounting for the refresh's point read
        up_tbl = LakehouseTable(up)
        snap = up_tbl.current_snapshot()
        files = up_tbl._files(snap)
        churn_ids = sorted(set(churn["conv_id"]))
        planned = len(up_tbl._prune_by_key(files, churn_ids))
        t0 = time.monotonic()
        vj.run_until_caught_up(spark, cursor)
        refresh_sec = time.monotonic() - t0
        assert vj.lag()["lag_lsns"] == 0

        # ---- phase 3b: high-churn A/B — point read vs semi-join when the
        # batch touches 100% of conversations (backfill / post-initsync
        # shape). Same refresh work through both regimes, timed: the
        # collected-isin point read must lose to the distributed semi-join
        # once churn ~ corpus — the crossover that motivates
        # table_format.HIGH_CHURN_CAP (patched per regime below).
        all_ids = (
            LakehouseTable(up).read(spark).select("conv_id").distinct()
        )
        highchurn_ab = {}
        default_cap = table_format.HIGH_CHURN_CAP
        for label, cap, bid in (
            ("point_100pct_sec", 2**31 - 2, 10**6 + 2),
            ("semi_join_100pct_sec", 0, 10**6 + 3),
        ):
            table_format.HIGH_CHURN_CAP = cap
            vj_ab = CorpusViewJob(up, view, os.path.join(root, "ctl-view"))
            t0 = time.monotonic()
            vj_ab.refresh_for(spark, bid, all_ids)
            highchurn_ab[label] = round(time.monotonic() - t0, 1)
            highchurn_ab[label.replace("_sec", "_mode")] = vj_ab.last_refresh_mode
        table_format.HIGH_CHURN_CAP = default_cap

        # ---- phase 4: the no-view baseline — full corpus rebuild ---------
        rebuild_out = os.path.join(root, "rebuild")
        t0 = time.monotonic()
        assemble_conversations(LakehouseTable(up).read(spark)).write.parquet(
            rebuild_out
        )
        rebuild_sec = time.monotonic() - t0

        # ---- equality: view == assemble_conversations(upstream) ----------
        def digest(df) -> tuple[int, int]:
            row = df.agg(
                F.count("*").alias("n"),
                F.sum(
                    F.xxhash64("conv_id", "doc_text", "n_turns").cast(
                        "decimal(38,0)"
                    )
                ).alias("h"),
            ).first()
            return row["n"], row["h"]

        view_dig = digest(
            LakehouseTable(view).read(spark).select(
                "conv_id", "doc_text", "n_turns"
            )
        )
        oracle_dig = digest(
            spark.read.parquet(rebuild_out).select("conv_id", "doc_text", "n_turns")
        )

        print(
            json.dumps(
                {
                    "events": args.events,
                    "n_convs": n_convs,
                    "n_docs": n_docs,
                    "churn_events": args.churn_events,
                    "churn_convs": args.churn_convs,
                    "cores": args.cores,
                    "clustered": bool(args.cluster),
                    "ingest_sec": round(ingest_sec, 1),
                    "compact_sec": round(compact_sec, 1) if compact_sec else None,
                    "refresh_files_planned": planned,
                    "refresh_files_total": len(files),
                    "view_bootstrap_sec": round(bootstrap_sec, 1),
                    "incremental_refresh_sec": round(refresh_sec, 1),
                    "full_rebuild_sec": round(rebuild_sec, 1),
                    "rebuild_over_refresh": round(rebuild_sec / refresh_sec, 2),
                    "churn_fraction": round(args.churn_convs / n_convs, 4),
                    "view_equals_rebuild": bool(view_dig == oracle_dig),
                    **highchurn_ab,
                }
            )
        )
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
