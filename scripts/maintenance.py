"""Table-maintenance CLI — the operational companion to the ingest job.

Run via plain `python` or `spark-submit --py-files dist/data_pipeline_spark.zip`:

    python scripts/maintenance.py --table <path> status
    python scripts/maintenance.py --table <path> upgrade
    python scripts/maintenance.py --table <path> history
    python scripts/maintenance.py --table <path> compact [--buckets 3,7,12]
    python scripts/maintenance.py --table <path> expire --keep-last 4
    python scripts/maintenance.py --table <path> purge --conv-ids conv-000017,conv-000093
    python scripts/maintenance.py --table <path> rebucket --n-buckets 256
    python scripts/maintenance.py --table <path> rollback --snapshot-id 17
    python scripts/maintenance.py --table <path> rewrite-manifests
    python scripts/maintenance.py --table <path> tag --name corpus-v1 [--snapshot-id 17]
    python scripts/maintenance.py --table <path> untag --name corpus-v1
    python scripts/maintenance.py --table <path> tags
    python scripts/maintenance.py --table <path> branch --name audit [--snapshot-id 17]
    python scripts/maintenance.py --table <path> branches
    python scripts/maintenance.py --table <path> publish --name audit
    python scripts/maintenance.py --table <path> reset-branch --name audit --snapshot-id 17
    python scripts/maintenance.py --table <path> drop-branch --name audit
    python scripts/maintenance.py --table <path> cherry-pick --snapshot-id 17
    python scripts/maintenance.py --table <path> fsck [--deep]
    python scripts/maintenance.py --table <path> clone --dest <path> [--tag corpus-v1 | --snapshot-id 17]
    python scripts/maintenance.py --table <path> corpus-export --out /corpora/v1 --tag corpus-v1
    python scripts/maintenance.py --table <path> corpus-delta --out /corpora/deltas --cursor /corpora/cursor.json
    python scripts/maintenance.py --table <path> --ref audit status

`status`, `history`, `upgrade`, `rewrite-manifests`, the tag commands and
all branch commands are pure metadata — they never start Spark. `upgrade`
converts a table written by an older version to format v2, once; until
then every other command refuses it. The others run the
corresponding LakehouseTable op under a local session. `--ref <branch>`
points status/history/compact/etc. at a branch head (write-audit-publish).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--cores", type=int, default=8)
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("status")
    sub.add_parser("upgrade", help="one-shot metadata upgrade to format v2")
    sub.add_parser("history")
    c = sub.add_parser("compact")
    c.add_argument("--buckets", default=None, help="comma-separated bucket ids; default: all with deltas")
    rc = sub.add_parser("recluster",
                        help="rewrite base layout under current sort order + "
                             "bounds (OPTIMIZE ZORDER re-run); runs even with "
                             "zero pending deltas")
    rc.add_argument("--buckets", default=None, help="comma-separated bucket ids; default: all")
    pg = sub.add_parser(
        "purge",
        help="compliance purge: physically remove conversations from the "
             "table AND all retained history, then verify by scanning "
             "every remaining parquet file",
    )
    pg.add_argument("--conv-ids", required=True,
                    help="comma-separated conv_ids, or @/path/to/file with "
                         "one conv_id per line")
    pg.add_argument("--force-drop-tags", action="store_true")
    pg.add_argument("--orphan-grace-seconds", type=float, default=0.0)
    e = sub.add_parser("expire")
    e.add_argument("--keep-last", type=int, default=2)
    e.add_argument("--older-than-seconds", type=float, default=None,
                   help="also keep every snapshot committed within this window")
    e.add_argument("--orphan-grace-seconds", type=float, default=0.0,
                   help="spare unreferenced data files younger than this "
                        "(pass >= write+commit time when GC runs beside a "
                        "live writer)")
    cd = sub.add_parser("corpus-delta",
                        help="incremental corpus export of changed documents")
    cd.add_argument("--out", required=True)
    cd.add_argument("--cursor", required=True)
    cd.add_argument("--no-redact", action="store_true")
    cd.add_argument("--min-turns", type=int, default=1)
    cd.add_argument("--max-turns", type=int, default=None)
    cd.add_argument("--doc-filter", default=None,
                    help="SQL predicate over (doc_text, n_turns, n_chars); "
                         "docs dropping below the bar emit deletes")
    cd.add_argument("--benchmark", default=None,
                    help="parquet of benchmark texts; contaminated docs are "
                         "dropped, and churning INTO contamination emits a "
                         "delete")
    cd.add_argument("--benchmark-text-col", default="text")
    cd.add_argument("--decontaminate-ngram", type=int, default=3)
    ce = sub.add_parser("corpus-export",
                        help="full snapshot-pinned corpus export")
    ce.add_argument("--out", required=True)
    ce.add_argument("--snapshot-id", type=int, default=None)
    ce.add_argument("--no-redact", action="store_true")
    ce.add_argument("--min-turns", type=int, default=1)
    ce.add_argument("--max-turns", type=int, default=None)
    ce.add_argument("--doc-filter", default=None,
                    help="SQL predicate over (doc_text, n_turns, n_chars)")
    ce.add_argument("--tag", default=None)
    ce.add_argument("--benchmark", default=None,
                    help="parquet of benchmark texts: documents sharing any "
                         "word n-gram with it are dropped (decontamination)")
    ce.add_argument("--benchmark-text-col", default="text")
    ce.add_argument("--decontaminate-ngram", type=int, default=3)
    rb = sub.add_parser("rebucket")
    rb.add_argument("--n-buckets", type=int, required=True)
    ev = sub.add_parser("evolve-spec",
                        help="lazy rebucket: metadata-only spec change; old "
                             "files stay readable, migrate-spec re-layouts "
                             "them incrementally")
    ev.add_argument("--n-buckets", type=int, required=True)
    ev.add_argument("--auto-migrate-buckets", type=int, default=None,
                    help="opt into hands-off migration: every subsequent "
                         "merge retires this many old-spec buckets")
    mg = sub.add_parser("migrate-spec",
                        help="re-layout old-spec files under the current "
                             "spec, a bounded batch at a time")
    mg.add_argument("--max-old-buckets", type=int, default=None,
                    help="bound one call's work (resumable); default: finish")
    ro = sub.add_parser("rollback")
    ro.add_argument("--snapshot-id", type=int, required=True)
    rm = sub.add_parser("rewrite-manifests")
    rm.add_argument("--target-entries", type=int, default=100_000)
    tg = sub.add_parser("tag")
    tg.add_argument("--name", required=True)
    tg.add_argument("--snapshot-id", type=int, default=None)
    tg.add_argument("--replace", action="store_true")
    ut = sub.add_parser("untag")
    ut.add_argument("--name", required=True)
    sub.add_parser("tags")
    ap.add_argument("--ref", default=None, help="operate on a branch head instead of main")
    br = sub.add_parser("branch")
    br.add_argument("--name", required=True)
    br.add_argument("--snapshot-id", type=int, default=None)
    sub.add_parser("branches")
    pb = sub.add_parser("publish")
    pb.add_argument("--name", required=True)
    rs = sub.add_parser("reset-branch")
    rs.add_argument("--name", required=True)
    rs.add_argument("--snapshot-id", type=int, required=True)
    db = sub.add_parser("drop-branch")
    db.add_argument("--name", required=True)
    cp = sub.add_parser("cherry-pick")
    cp.add_argument("--snapshot-id", type=int, required=True)
    cl = sub.add_parser("clone", help="consistent snapshot clone (backup/"
                        "restore/dev-fork): one snapshot's closed file set "
                        "+ fresh hint, deep-fsck'd; fully functional table")
    cl.add_argument("--dest", required=True)
    cl.add_argument("--snapshot-id", type=int, default=None)
    cl.add_argument("--tag", default=None)
    cl.add_argument("--no-verify", action="store_true")
    cl.add_argument("--reference-clone", default=None,
                    help="previous clone of this table: unchanged data "
                         "files hardlink instead of copy (incremental "
                         "backup — the increment costs only the churn)")
    fs = sub.add_parser("fsck", help="metadata/data consistency check "
                        "(refs, snapshots, manifests, files, orphans); "
                        "--deep cross-checks manifest stats vs footers")
    fs.add_argument("--deep", action="store_true")
    fs.add_argument("--orphan-grace-s", type=float, default=3600.0)
    args = ap.parse_args()

    from data_pipeline_spark.plans.table_format import LakehouseTable

    table = LakehouseTable(args.table, ref=args.ref)

    if args.cmd == "clone":
        from data_pipeline_spark.plans.clone import clone_snapshot

        print(json.dumps(clone_snapshot(
            table, args.dest, snapshot_id=args.snapshot_id, tag=args.tag,
            verify=not args.no_verify, reference_clone=args.reference_clone,
        ), default=str))
        return

    if args.cmd == "fsck":
        from data_pipeline_spark.plans.fsck import fsck

        report = fsck(table, deep=args.deep, orphan_grace_s=args.orphan_grace_s)
        print(json.dumps(report, indent=2, default=str))
        sys.exit(0 if report["ok"] else 1)

    if args.cmd == "status":
        snap = table.current_snapshot()
        print(json.dumps({
            "snapshot_id": snap["snapshot_id"],
            "kind": snap["kind"],
            "last_batch_id": snap["last_batch_id"],
            "watermark_lsn": snap.get("watermark_lsn"),
            "schema_id": snap["schema_id"],
            "n_buckets": snap["n_buckets"],
            "spec_id": table.spec_id(snap),
            "specs": {str(s): n for s, n in table.table_specs(snap).items()},
            "format_version": snap["format_version"],
            "update_mode": snap["update_mode"],
            "n_files": len(table.files(snap)),
            "n_manifests": len(snap["manifests"]),
            "delta_depth": table.delta_depth(snap),
            **(
                {"old_delta_depth": snap["old_delta_depth"]}
                if snap.get("old_delta_depth")
                else {}
            ),
        }))
        return

    if args.cmd == "history":
        for s in table.history():
            print(json.dumps({
                "snapshot_id": s["snapshot_id"],
                "kind": s["kind"],
                "batch_id": s.get("batch_id"),
                "watermark_lsn": s.get("watermark_lsn"),
                "schema_id": s["schema_id"],
                "n_manifests": len(s["manifests"]),
                "committed_at": s.get("committed_at"),
            }))
        return

    if args.cmd == "upgrade":
        print(json.dumps(table.upgrade()))
        return
    if args.cmd == "rewrite-manifests":
        print(json.dumps(table.rewrite_manifests(args.target_entries)))
        return
    if args.cmd == "tag":
        print(json.dumps(
            table.tag_snapshot(args.name, args.snapshot_id, replace=args.replace)
        ))
        return
    if args.cmd == "untag":
        print(json.dumps(table.remove_tag(args.name)))
        return
    if args.cmd == "tags":
        print(json.dumps(table.tags()))
        return
    if args.cmd == "branch":
        print(json.dumps(table.create_branch(args.name, args.snapshot_id)))
        return
    if args.cmd == "branches":
        print(json.dumps(table.branches()))
        return
    if args.cmd == "publish":
        print(json.dumps(table.fast_forward(args.name)))
        return
    if args.cmd == "reset-branch":
        print(json.dumps(LakehouseTable(args.table, ref=args.name).reset_branch(args.snapshot_id)))
        return
    if args.cmd == "drop-branch":
        print(json.dumps(table.drop_branch(args.name)))
        return
    if args.cmd == "cherry-pick":
        print(json.dumps(table.cherry_pick(args.snapshot_id)))
        return

    from data_pipeline_spark.session import get_spark

    spark = get_spark("maintenance", cores=args.cores)
    try:
        if args.cmd == "compact":
            buckets = (
                {int(b) for b in args.buckets.split(",")} if args.buckets else None
            )
            out = table.compact(spark, buckets=buckets)
        elif args.cmd == "recluster":
            buckets = (
                {int(b) for b in args.buckets.split(",")} if args.buckets else None
            )
            out = table.recluster(spark, buckets=buckets)
        elif args.cmd == "purge":
            if args.conv_ids.startswith("@"):
                with open(args.conv_ids[1:]) as f:
                    ids = [ln.strip() for ln in f if ln.strip()]
            else:
                ids = [c for c in args.conv_ids.split(",") if c]
            out = table.purge_keys(
                spark, ids,
                force_drop_tags=args.force_drop_tags,
                orphan_grace_seconds=args.orphan_grace_seconds,
            )
        elif args.cmd == "expire":
            out = table.expire_snapshots(
                keep_last=args.keep_last,
                older_than_seconds=args.older_than_seconds,
                orphan_grace_seconds=args.orphan_grace_seconds,
            )
        elif args.cmd == "corpus-delta":
            from data_pipeline_spark.streaming.corpus_view import export_corpus_delta

            if args.ref:
                # the delta cursor walks the PUBLISHED main chain; a branch
                # delta-export would silently diverge from what publishes
                sys.exit("corpus-delta operates on the published main chain; "
                         "--ref is not supported (publish the branch first)")
            out = export_corpus_delta(
                spark, args.table, args.out, args.cursor,
                redact=not args.no_redact, min_turns=args.min_turns,
                max_turns=args.max_turns, doc_filter=args.doc_filter,
                benchmark=args.benchmark,
                benchmark_text_col=args.benchmark_text_col,
                decontaminate_ngram=args.decontaminate_ngram,
            )
            out = {k: v for k, v in out.items() if k != "cursor"} | {
                "cursor": args.cursor
            }
        elif args.cmd == "corpus-export":
            from data_pipeline_spark.operators.corpus import snapshot_corpus

            snapshot_id = args.snapshot_id
            if args.ref and snapshot_id is None:
                # snapshot ids are table-global, so exporting a branch head
                # is just a pin to that head's id (read + tag both honor it)
                snapshot_id = table.current_snapshot()["snapshot_id"]
            out = snapshot_corpus(
                spark, args.table, args.out, snapshot_id=snapshot_id,
                redact=not args.no_redact, min_turns=args.min_turns,
                max_turns=args.max_turns, doc_filter=args.doc_filter,
                tag=args.tag, benchmark=args.benchmark,
                benchmark_text_col=args.benchmark_text_col,
                decontaminate_ngram=args.decontaminate_ngram,
            )
        elif args.cmd == "rebucket":
            out = table.rebucket(spark, args.n_buckets)
        elif args.cmd == "evolve-spec":
            out = table.evolve_bucket_spec(
                spark, args.n_buckets,
                auto_migrate_buckets=args.auto_migrate_buckets,
            )
        elif args.cmd == "migrate-spec":
            out = table.migrate_spec(spark, max_old_buckets=args.max_old_buckets)
        elif args.cmd == "rollback":
            out = table.rollback_to(args.snapshot_id)
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
