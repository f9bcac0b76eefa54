"""The ingest loop: change feed → decode → dedup → MERGE, exactly once.

This is the engine's equivalent of the reference's `extract` + `apply`
console entry points collapsed into one Structured Streaming job
(data_pipeline/extract.py, data_pipeline/apply.py — SURVEY.md §3): the
streaming file source replaces Kafka transport, the Spark checkpoint replaces
the audit-DB recovery point, `foreachBatch` is the commit-point batching
(reference `commitpoint` arg, SURVEY.md §2 T6), and the control table is the
process_control/process_control_detail lineage (§2 T9).

Exactly-once = at-least-once replay (checkpoint re-delivers the in-flight
micro-batch after a crash) × idempotent sink (LakehouseTable.merge skips
batch_id ≤ last committed). Control rows are written only when a merge
actually commits, so the audit shows each batch applied exactly once.

Background maintenance: a merge only commits. When it reports
`maintenance_due`, the job hands `LakehouseTable.maintain` (hot-bucket
compaction, manifest-list folds, auto spec migration) to its one runner
thread once the batch's control record is durable, so compaction overlaps
the consumers' polls and the next batches (Hudi's async compaction). No
batch waits for it: whichever of a merge and the compaction commits second
is rebased onto the other (`LakehouseTable._commit_op`). Join points:
`run_to_completion`, `replay_batch`, `flush_pending` and
`reprocess_quarantine` wait before returning; the cursor consumers wait at
the end of `run_until_caught_up`; `WapIngestJob` waits before it audits or
publishes. Callers that drive `apply_batch` or `start_stream` themselves
call `wait_maintenance()`. A maintenance error (a refused rebase
included) never fails a batch: it is alerted as {"kind":
"maintenance_error"} and the next committed batch submits maintenance
again. Backlog bound: once a bucket's depth reaches 2 × `compact_every`,
the batch joins the pending run and runs `maintain` inline, errors
propagating. Every run appends one line to <control>/maintenance.jsonl
(batch_id, commits with `rebased_over`, buckets, files_rewritten, wall_s,
error).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import Future, ThreadPoolExecutor
from datetime import datetime, timezone

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.functions.decode import decode_events
from data_pipeline_spark.operators.lww import lww_collapse_agg
from data_pipeline_spark.operators.merge import MASK_COL, collapse_partial
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.sources.feed import read_feed_batch, read_feed_stream, scan_ddl_chunks

#: Driver-side cap on collected DDL rows per batch (DDL is rare and tiny by
#: design; crossing this means a malformed feed — abort, don't OOM). The
#: multi-table router's whole-batch sweep uses it too.
DDL_ROW_CAP = 10_000

#: Most per-table (multi-table router) or per-target (cascade fan-out)
#: applies submitted to Spark at once from one batch or window.
MAX_APPLY_THREADS = 8


class IngestJob:
    def __init__(
        self,
        table_path: str,
        control_path: str,
        on_error: str = "abort",  # "abort" (fail batch, resume from ckpt) | "quarantine"
        quarantine_path: str | None = None,
        archive_path: str | None = None,  # raw batch archive (reference K2 file writer)
        on_alert=None,  # Callable[[dict], None] — notification hook (reference:
        # data_pipeline/utils/mailer.py skip/abort notification, SURVEY.md §2
        # T11): fires with {"kind": "quarantine", batch_id, rows, errors} when
        # records are dead-lettered, {"kind": "abort", batch_id, error} when a
        # batch fails. Every alert is also appended to <control>/alerts.jsonl
        # (durable audit trail) whether or not a callback is set; a failed
        # background maintenance run fires {"kind": "maintenance_error",
        # batch_id, error}.
        ref: str | None = None,  # land batches on a BRANCH (write-audit-
        # publish): commits go to this branch head; main readers see nothing
        # until LakehouseTable(path).fast_forward(ref) publishes
        txn_aligned: bool = False,  # hold every micro-batch to source-
        # transaction boundaries (streaming/txn.py): the open tail txn is
        # deferred to the next trigger, so readers never observe a torn
        # source transaction — the reference's commit-point apply semantics
        # (data_pipeline/applier commitpoint, SURVEY.md §2 T6). Requires the
        # feed's txn envelope (TXN_EVENT_SCHEMA); feeds without txn_id pass
        # through unaligned.
        stream_reader=None,  # plug-in feed reader with the read_feed_stream
        # signature (spark, feed_dir, max_files_per_trigger, with_txns) —
        # e.g. sources/debezium.read_debezium_stream adapts a Debezium topic
        # directory. Custom readers get the Spark DDL probe: the driver-side
        # chunk-file probe assumes the files hold CHANGE_EVENT columns.
        batch_reader=None,  # replay_batch counterpart (read_feed_batch shape)
    ):
        if on_error not in ("abort", "quarantine"):
            raise ValueError(f"on_error must be abort|quarantine, got {on_error!r}")
        self.table = LakehouseTable(table_path, ref=ref)
        self.control_path = control_path
        self.on_error = on_error
        self.quarantine_path = quarantine_path or os.path.join(control_path, "..", "quarantine")
        self.archive_path = archive_path
        self.on_alert = on_alert
        self.txn_aligned = txn_aligned
        if txn_aligned:
            from data_pipeline_spark.streaming.txn import TxnAligner

            self.aligner = TxnAligner(os.path.join(control_path, "txn_spill"))
        else:
            self.aligner = None
        self.stream_reader = stream_reader or read_feed_stream
        self.batch_reader = batch_reader or read_feed_batch
        self._checkpoint_dir: str | None = None
        # the background maintenance runner, created on first use
        self._runner: ThreadPoolExecutor | None = None
        self._maintenance: Future | None = None
        os.makedirs(control_path, exist_ok=True)

    def _alert(self, event: dict) -> None:
        """Durable alert row + optional callback (reference mailer analog).
        A failing callback must not fail the batch (a broken notifier would
        otherwise crash-loop the stream from the checkpoint) — the failure
        is recorded in the same audit trail instead."""
        event = {**event, "at": datetime.now(timezone.utc).isoformat()}
        with open(os.path.join(self.control_path, "alerts.jsonl"), "a") as f:
            f.write(json.dumps(event) + "\n")
        if self.on_alert is not None:
            try:
                self.on_alert(event)
            except Exception as e:  # noqa: BLE001
                with open(os.path.join(self.control_path, "alerts.jsonl"), "a") as f:
                    f.write(json.dumps({
                        "kind": "alert_hook_error",
                        "error": f"{type(e).__name__}: {e}",
                        "at": datetime.now(timezone.utc).isoformat(),
                    }) + "\n")

    @staticmethod
    def _quarantine_report(parquet_dir: str) -> tuple[int, dict[str, int]]:
        """(row count, per-error counts) of a just-written quarantine batch
        dir; removes the dir when it holds zero rows (a clean batch still
        materializes empty part files, which would otherwise read as
        pending). Counts come from parquet footers; the tiny `_error` column
        is read only when rows exist — driver-side metadata work, no Spark
        job."""
        import shutil

        import pyarrow.parquet as pq

        paths = [
            os.path.join(root, fn)
            for root, _dirs, files in os.walk(parquet_dir)
            for fn in files
            if fn.endswith(".parquet")
        ]
        total = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        if not total:
            shutil.rmtree(parquet_dir, ignore_errors=True)
            return 0, {}
        errors: dict[str, int] = {}
        for p in paths:
            for e in pq.read_table(p, columns=["_error"])["_error"].to_pylist():
                errors[e or "unknown"] = errors.get(e or "unknown", 0) + 1
        return total, errors

    def _batch_files(self, raw: DataFrame, batch_id: int) -> list[str]:
        """URIs of the parquet chunk files backing this batch: inputFiles()
        for batch reads; for streaming micro-batches (where inputFiles() is
        empty) the file-stream source's own checkpoint manifest
        (sources/0/<batchId>, format v1 JSON lines) — the exact file set the
        source committed for this trigger."""
        try:
            files = raw.inputFiles()
        except Exception:  # noqa: BLE001 — non-file-backed plans
            files = []
        if files:
            return list(files)
        if self._checkpoint_dir is None:
            return []
        manifest = os.path.join(self._checkpoint_dir, "sources", "0", str(batch_id))
        if not os.path.exists(manifest):
            return []
        out = []
        with open(manifest) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    out.append(json.loads(line)["path"])
        return out

    # ------------------------------------------------------------- one batch
    def apply_batch(
        self, spark: SparkSession, batch_id: int, raw: DataFrame,
        enforce_watermark: bool = True,
        ddl_rows: list[tuple[int, str]] | None = None,
    ) -> dict:
        """Apply one micro-batch. ddl_rows: pre-collected (lsn, payload) DDL
        events for THIS table — pass them (even as []) to skip the batch's
        own DDL probe entirely; the multi-table router does one DDL sweep
        for the whole batch and fans the rows out per table.

        A failing batch fires an "abort" alert (reference: mailer on abort,
        SURVEY.md §2 T11) and re-raises — the stream stops and resumes from
        the checkpoint. Background maintenance may still be running when it
        returns (see `wait_maintenance`)."""
        return self._apply(spark, batch_id, lambda: self._merge_changes(
            spark, batch_id, enforce_watermark,
            *self._decode_batch(spark, batch_id, raw, ddl_rows),
        ))

    def apply_changes(
        self, spark: SparkSession, batch_id: int, changes: DataFrame,
        enforce_watermark: bool = True,
    ) -> dict:
        """Apply one window of already-typed change rows — `apply_batch`
        without the align/archive/DDL/decode front: the same collapse →
        bucket → merge → control → maintenance-submit body and "abort"
        alert. `changes` holds (lsn, op, <table columns>) in the table's
        current schema types, with null non-key columns on D rows; on a
        partial-mode table an optional `_set_mask` column carries partial
        images. Without it every non-D row is a full image and is applied
        as an I with mask -1, so the partial table's own changelog shows
        an upstream U as an I. The in-engine
        changelog consumers apply through here, so a replica hop never
        re-encodes to JSON or starts a Python decode worker."""

        def typed() -> tuple[DataFrame, dict]:
            snap = self.table.current_snapshot()
            if self.table.update_mode(snap) == "partial" and MASK_COL not in changes.columns:
                # A full image replaces the whole row, present or not: an
                # I with mask -1 (a U would be a no-op on an absent key).
                is_d = F.col("op") == "D"
                return changes.withColumns({
                    "op": F.when(is_d, F.lit("D")).otherwise(F.lit("I")),
                    MASK_COL: F.when(is_d, F.lit(0)).otherwise(F.lit(-1)).cast("long"),
                }), snap
            return changes, snap

        return self._apply(spark, batch_id, lambda: self._merge_changes(
            spark, batch_id, enforce_watermark, *typed(),
        ))

    def _apply(self, spark: SparkSession, batch_id: int, commit) -> dict:
        """The one apply body: `commit()` the batch (it returns a
        `LakehouseTable.merge`-shaped result), then control record →
        maintenance submit. Any failure fires the "abort" alert and
        re-raises."""
        t0 = time.monotonic()
        try:
            result = commit()
            metrics = [
                {"partition_id": m["bucket"], "rows_applied": m["rows"],
                 "rows_deleted": m["deleted"], "watermark_lsn": m["max_lsn"]}
                for m in result.get("bucket_metrics", [])
            ]
            if not result.get("skipped"):
                self._write_control(batch_id, metrics, wall_ms=int((time.monotonic() - t0) * 1000))
                if result.get("maintenance_due"):
                    self._submit_maintenance(spark, batch_id)
        except Exception as e:
            self._alert({
                "kind": "abort",
                "batch_id": batch_id,
                "error": f"{type(e).__name__}: {e}",
            })
            raise
        return result

    def _merge_changes(
        self, spark: SparkSession, batch_id: int, enforce_watermark: bool,
        decoded: DataFrame, snap_now: dict,
    ) -> dict:
        """The typed commit step: collapse → bucket → merge of change rows
        typed for `snap_now`."""
        n_buckets = snap_now["n_buckets"]
        # Per-batch per-key collapse: full-row images take the max-LSN op
        # (LWW); partial images must COMPOSE stacked updates column-wise,
        # so they go through the sequential-apply fold instead (both are
        # single map-side-combinable aggregations — SURVEY.md §2 T5).
        # The full-mode collapse is the max-of-struct HASH aggregation,
        # not the window: no per-partition sort, better 1→4N scaling
        # (lww.py docstring has the measurements).
        if self.table.update_mode(snap_now) == "partial":
            collapsed = collapse_partial(decoded, self.table.field_bits(snap_now))
        else:
            collapsed = lww_collapse_agg(decoded)
        collapsed = collapsed.withColumn("_bucket", self.table.bucket_expr(n_buckets))

        # Write-first: decode → collapse → bucketed delta write runs as
        # ONE action (no persist, no second pass); per-bucket lineage
        # comes back from the merge's footer scan of the written delta
        # files.
        return self.table.merge(
            spark, batch_id, collapsed, enforce_watermark=enforce_watermark,
            bucket_n=n_buckets,
        )

    def _decode_batch(
        self, spark: SparkSession, batch_id: int, raw: DataFrame,
        ddl_rows: list[tuple[int, str]] | None,
    ) -> tuple[DataFrame, dict]:
        """`apply_batch`'s front: txn align, archive, DDL, decode (or
        quarantine). Returns the typed change rows and the post-DDL
        snapshot they were decoded for."""
        if self.aligner is not None:
            self.aligner.check_resumable(batch_id)
            batch_files = self._batch_files(raw, batch_id)
            if ddl_rows is None:
                # piggyback the DDL sweep on the alignment pass — one sweep
                # serves both, and it respects the deferred region (the
                # plain pyarrow file probe would see whole chunk files)
                raw, ddl_rows = self.aligner.align(
                    spark, batch_id, raw, ddl_probe=True, ddl_cap=DDL_ROW_CAP,
                    files=batch_files,
                )
            else:
                raw = self.aligner.align(spark, batch_id, raw, files=batch_files)
        if "txn_id" in raw.columns:
            # envelope-only column: the decode/merge path below is txn-blind
            raw = raw.drop("txn_id")

        if self.archive_path:
            # raw replay archive (reference: flat-file writer between extract
            # and apply — data_pipeline/stream file writer, SURVEY.md §2 K2);
            # per-batch dir + overwrite = idempotent under batch replay
            raw.write.mode("overwrite").parquet(
                os.path.join(self.archive_path, f"batch={batch_id}")
            )

        # DDL branch (reference: applier DDL routing, SURVEY.md §2 T3/T8).
        # DDL rows are rare and tiny — driver-side metadata ops, in LSN
        # order. When the batch is whole chunk files of the default feed,
        # `scan_ddl_chunks` reads them on the driver with no Spark job. Not
        # for a txn-aligned job (its frame is a filtered union of spill and
        # safe prefix; the aligner probes instead) or a custom reader (its
        # files need not hold CHANGE_EVENT columns). Otherwise — and when
        # the source isn't local parquet files (e.g. Kafka in prod, where
        # the extract side would flag DDL in message headers instead) —
        # one bounded Spark collect.
        if (
            ddl_rows is None
            and not self.txn_aligned
            and self.stream_reader is read_feed_stream
            and self.batch_reader is read_feed_batch
        ):
            ddl_rows = scan_ddl_chunks(self._batch_files(raw, batch_id))
        if ddl_rows is None:
            rows = (
                raw.where(F.col("op") == "DDL")
                .select("lsn", "payload")
                .limit(DDL_ROW_CAP + 1)
                .collect()
            )
            ddl_rows = [(r.lsn, r.payload) for r in rows]
        if len(ddl_rows) > DDL_ROW_CAP:
            # driver-memory guard: DDL is rare/tiny by design; a poisoned
            # feed flooding DDL rows must abort (alerted by apply_batch's
            # wrapper) instead of OOM-ing the driver through the collect
            raise ValueError(
                f"batch {batch_id}: more than {DDL_ROW_CAP} DDL rows — "
                "refusing an unbounded driver-side DDL sweep"
            )
        if ddl_rows:
            descriptors = [json.loads(p) for _, p in sorted(ddl_rows)]
            self.table.apply_ddl(descriptors)

        snap_now = self.table.current_snapshot()
        schema = self.table.schema_struct(snap_now)
        renames = self.table.renames(snap_now)
        partial = self.table.update_mode(snap_now) == "partial"
        field_bits = self.table.field_bits(snap_now) if partial else None
        if self.on_error == "quarantine":
            # skip-and-continue error handling (reference: configurable
            # skip/abort + notification — SURVEY.md §2 T11): malformed
            # records land in a dead-letter parquet dir with the reason.
            flagged = decode_events(raw, schema, renames, with_validity=True, field_bits=field_bits)
            bad = flagged.where(~F.col("_valid")).select(
                "lsn", "op", "conv_id", "turn_idx",
                F.col("_payload").alias("payload"), "_error",
            )
            qbatch = os.path.join(self.quarantine_path, f"batch={batch_id}")
            bad.write.mode("append").parquet(qbatch)
            q_rows, q_errors = self._quarantine_report(qbatch)
            if q_rows:
                self._alert({
                    "kind": "quarantine",
                    "batch_id": batch_id,
                    "rows": q_rows,
                    "errors": q_errors,
                })
            decoded = flagged.where(F.col("_valid")).drop("_valid", "_error", "_payload")
        else:
            decoded = decode_events(raw, schema, renames, field_bits=field_bits)
        return decoded, snap_now

    # ----------------------------------------------------------- maintenance
    def _submit_maintenance(self, spark: SparkSession, batch_id: int) -> None:
        """Hand `maintain` to the runner — or, once some bucket's backlog
        reached 2 × compact_every, join the pending run and run it inline,
        errors propagating, so two compactions never race."""
        snap = self.table.current_snapshot()
        if max(self.table.delta_depth(snap).values(), default=0) >= 2 * snap.get("compact_every", 8):
            self.wait_maintenance()
            self._maintain(spark, batch_id, inline=True)
            return
        if self._runner is None:
            self._runner = ThreadPoolExecutor(max_workers=1, thread_name_prefix="ingest-maintenance")
        self._maintenance = self._runner.submit(self._maintain, spark, batch_id, False)

    def _maintain(self, spark: SparkSession, batch_id: int, inline: bool) -> None:
        """One `maintain` run, recorded in <control>/maintenance.jsonl."""
        t0 = time.monotonic()
        rec = {"batch_id": batch_id, "inline": inline, "commits": [], "buckets": [],
               "files_rewritten": 0, "spec_migration": None, "error": None}
        try:
            rec.update(self.table.maintain(spark))
        except Exception as e:  # noqa: BLE001 — alerted, retried next batch
            rec["error"] = f"{type(e).__name__}: {e}"
            if inline:
                raise
            self._alert({"kind": "maintenance_error", "batch_id": batch_id, "error": rec["error"]})
        finally:
            rec["wall_s"] = time.monotonic() - t0
            rec["at"] = datetime.now(timezone.utc).isoformat()
            with open(os.path.join(self.control_path, "maintenance.jsonl"), "a") as f:
                f.write(json.dumps(rec) + "\n")

    def wait_maintenance(self) -> None:
        """Block until this job's background maintenance, if any, has
        finished. Never raises a maintenance error (those are alerted).
        Call it after driving `apply_batch` or `start_stream` yourself,
        before inspecting compaction or writing the table another way."""
        pending, self._maintenance = self._maintenance, None
        if pending is not None:
            pending.result()

    def _write_control(self, batch_id: int, metrics: list[dict], wall_ms: int) -> None:
        counts = [m["rows_applied"] for m in metrics] or [0]
        avg = sum(counts) / len(counts)
        skew = (max(counts) / avg) if avg else 1.0
        rows = pd.DataFrame(
            {
                "batch_id": pd.Series([batch_id] * max(len(metrics), 1), dtype="int64"),
                "partition_id": pd.Series(
                    [m["partition_id"] for m in metrics] or [0], dtype="int32"
                ),
                "rows_applied": pd.Series(counts, dtype="int64"),
                "rows_deleted": pd.Series(
                    [m["rows_deleted"] or 0 for m in metrics] or [0], dtype="int64"
                ),
                "watermark_lsn": pd.Series(
                    [m["watermark_lsn"] for m in metrics] or [None], dtype="Int64"
                ),
                "skew_ratio": pd.Series([skew] * max(len(metrics), 1), dtype="float64"),
                "wall_ms": pd.Series([wall_ms] * max(len(metrics), 1), dtype="int64"),
                "committed_at": pd.Series(
                    [datetime.now(timezone.utc)] * max(len(metrics), 1)
                ),
            }
        )
        # Control rows are a handful per batch — driver-side parquet append
        # (unique file per commit; readable as one dataset by spark.read).
        rows.to_parquet(
            os.path.join(self.control_path, f"batch-{batch_id:08d}-{uuid.uuid4().hex[:8]}.parquet"),
            index=False,
            coerce_timestamps="us",  # Spark TimestampType is µs-precision
            allow_truncated_timestamps=True,
        )

    # ------------------------------------------------------------- streaming
    def start_stream(
        self,
        spark: SparkSession,
        feed_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 8,
        available_now: bool = True,
    ):
        """Run the streaming ingest. available_now=True drains the feed and
        stops (Trigger.AvailableNow) — the replay/bench mode; False runs
        continuously tailing the directory."""
        self._checkpoint_dir = checkpoint_dir
        stream = self.stream_reader(
            spark, feed_dir, max_files_per_trigger, with_txns=self.txn_aligned
        )
        writer = (
            stream.writeStream.foreachBatch(
                lambda df, batch_id: self.apply_batch(df.sparkSession, int(batch_id), df)
            )
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(
        self,
        spark: SparkSession,
        feed_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 8,
        flush_txns: bool = True,
    ) -> None:
        q = self.start_stream(
            spark, feed_dir, checkpoint_dir, max_files_per_trigger, available_now=True
        )
        q.awaitTermination()
        if self.txn_aligned and flush_txns:
            self.flush_pending(spark)
        self.wait_maintenance()

    def flush_pending(self, spark: SparkSession) -> dict:
        """Release the still-deferred final transaction after a DRAINED feed
        (the extractor emits only committed transactions, so a drained feed
        ends on a commit boundary — the tail the aligner was conservatively
        holding is complete by construction).

        Exactly-once without align()'s spill protocol: the tail is an LSN
        suffix of everything applied, so the merge's watermark filter makes
        a crash-repeated flush a no-op; the spill is cleared only AFTER the
        merge commits, and the flush marker makes any later same-checkpoint
        resume fail loudly (see TxnAligner.check_resumable)."""
        if self.aligner is None:
            raise RuntimeError("flush_pending requires txn_aligned=True")
        from data_pipeline_spark.schemas import TXN_EVENT_SCHEMA

        got = self.aligner.newest_pending(spark, TXN_EVENT_SCHEMA)
        if got is None:
            return {"skipped": True, "reason": "no pending spill"}
        _producer, tail = got
        if tail.select("lsn").first() is None:
            self.aligner.clear()
            return {"skipped": True, "reason": "pending spill empty"}
        flush_id = self.table.current_snapshot()["last_batch_id"] + 1
        # bypass align(): hand the tail straight to the apply path
        saved, self.aligner = self.aligner, None
        try:
            result = self.apply_batch(spark, flush_id, tail.drop("txn_id"))
        finally:
            self.aligner = saved
        self.aligner.mark_flushed(flush_id)
        self.aligner.clear()
        self.wait_maintenance()
        return result

    # ----------------------------------------------------------- batch replay
    def replay_batch(self, spark: SparkSession, feed_dir: str, batch_id: int = 0) -> dict:
        """Whole-feed batch replay (no streaming machinery) — the minimum
        slice (SURVEY.md §7 M1) and the initsync-style bulk path. A
        txn-aligned job still defers the feed's final transaction during the
        apply (align can't know the batch is the whole feed), so the replay
        flushes it immediately after — one extra tiny merge."""
        raw = self.batch_reader(spark, feed_dir, with_txns=self.txn_aligned)
        result = self.apply_batch(spark, batch_id, raw)
        if self.txn_aligned:
            self.flush_pending(spark)
        self.wait_maintenance()
        return result

    def reprocess_quarantine(
        self, spark: SparkSession, batch_id: int, batches: list[int] | None = None
    ) -> dict:
        """Re-apply quarantined records after the upstream defect is fixed
        (reference analog: the skip-then-reprocess error workflow, SURVEY.md
        §2 T11). The quarantine keeps each record's RAW payload, so edits to
        the dead-letter files (or a fixed decoder) flow straight back
        through decode → merge under a fresh batch_id. The table watermark
        is bypassed: repaired records carry old LSNs by definition, and the
        LWW/sequential fold places them correctly (an old LSN can never
        overwrite a newer image), so the replay stays idempotent.

        Scoped, not whole-directory: reads only the pending `batch=` subdirs
        (optionally narrowed to `batches`), and after the merge commits,
        RETIRES them into a sibling `<quarantine>-processed/` area — so
        repeated invocations never re-decode already-repaired records, and
        rows that are *still* invalid (re-quarantined under the new
        batch_id) are the only thing left pending. An empty quarantine is a
        no-op, not an error."""
        qdir = self.quarantine_path
        pending = (
            sorted(d for d in os.listdir(qdir) if d.startswith("batch="))
            if os.path.isdir(qdir)
            else []
        )
        if batches is not None:
            want = {f"batch={b}" for b in batches}
            pending = [d for d in pending if d in want]
        if not pending:
            return {"skipped": True, "reprocessed_batches": []}
        if f"batch={batch_id}" in pending:
            # rows re-quarantined during this apply land in batch=<batch_id>;
            # if that dir is itself pending we'd retire them below and lose
            # still-invalid rows from the queue — refuse up front.
            raise ValueError(
                f"reprocess batch_id {batch_id} collides with a pending "
                "quarantine dir; pick a batch_id not in the pending set"
            )
        q = spark.read.parquet(*[os.path.join(qdir, d) for d in pending])
        env = q.select(
            "lsn", "op",
            F.lit(None).cast("timestamp").alias("ts"),
            "conv_id", "turn_idx", "payload",
        )
        result = self.apply_batch(spark, batch_id, env, enforce_watermark=False)
        self.wait_maintenance()
        processed_root = qdir.rstrip("/") + "-processed"
        os.makedirs(processed_root, exist_ok=True)
        import shutil

        for d in pending:
            shutil.move(
                os.path.join(qdir, d),
                os.path.join(processed_root, f"{d}-r{batch_id}-{uuid.uuid4().hex[:8]}"),
            )
        result["reprocessed_batches"] = pending
        return result

    def read_control(self, spark: SparkSession) -> DataFrame:
        # parquet files only: alerts.jsonl and maintenance.jsonl share the dir
        return spark.read.option("pathGlobFilter", "*.parquet").parquet(self.control_path)
