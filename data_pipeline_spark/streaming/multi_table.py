"""Multi-table CDC ingest: one change feed carrying many tables' events.

The reference replicates a runtime-discovered SET of tables per pipeline:
the allowlist lives in the `source_system_profile` audit table and CREATE
TABLE DDL is replicated like any other statement (reference:
data_pipeline/audit/ + extractor table-list setup + DDL replication —
SURVEY.md §2 T2/T8, §3). Here: the feed carries a `table_name` column (the
Oracle/MSSQL log tags every change with its table), and the router handles
a batch in ONE pass over the data:

1. the micro-batch is persisted ONCE per trigger — every per-table slice is
   a filter over the cached batch (InMemoryTableScan), not a re-scan of the
   chunk files (at reference-realistic table counts, N re-scans of every
   micro-batch was the round-1 review's scale flag #3);
2. ONE driver-side DDL sweep collects every DDL row in the batch (rare,
   tiny), creates + registers any table announced by a `create_table` event
   mid-feed (dynamic registration — a table appearing in the log starts
   replicating in the same batch, instead of being silently dropped by the
   allowlist), and fans the remaining DDL out per table so the sub-jobs skip
   their own probes.

LSNs are global across tables (like Oracle SCN), so each table's watermark
filter and LWW ordering remain correct on its filtered slice.

create_table payload (a DDL-op event whose `table_name` is the new table):
    {"action": "create_table", "schema": "conv_id string, turn_idx int, ...",
     "n_buckets": 16, "update_mode": "full"}
(only "schema" is required; storage options default to the router's). The
event is idempotent under checkpoint replay: an existing table directory
short-circuits the create, and the per-table DDL stream treats
`create_table` as CREATE TABLE IF NOT EXISTS.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TXN_EVENT_SCHEMA
from data_pipeline_spark.streaming import ingest
from data_pipeline_spark.streaming.ingest import IngestJob

MULTI_EVENT_SCHEMA = T.StructType(
    [T.StructField("table_name", T.StringType(), False)] + CHANGE_EVENT_SCHEMA.fields
)

# transaction-envelope variant (streaming/txn.py): global commit ordinals —
# one source transaction may span several tables' events
MULTI_TXN_EVENT_SCHEMA = T.StructType(
    [T.StructField("table_name", T.StringType(), False)] + TXN_EVENT_SCHEMA.fields
)


class MultiTableIngestJob:
    def __init__(
        self,
        tables: dict[str, str],  # table_name -> LakehouseTable path
        control_root: str,
        active: set[str] | None = None,  # allowlist (T2); default: all registered
        table_root: str | None = None,  # where create_table tables materialize;
        # None disables dynamic registration (strict static allowlist)
        create_defaults: dict | None = None,  # n_buckets/update_mode for creates
        txn_aligned: bool = False,  # hold router batches to SOURCE-transaction
        # boundaries (streaming/txn.py): txn ids are global across tables
        # (like Oracle SCN), so one aligner guards the whole feed and a
        # transaction spanning several tables is deferred/released as a unit
        catalog_path: str | None = None,  # publish ONE atomic {table ->
        # snapshot_id} catalog version per batch AFTER every table committed:
        # catalog readers never observe a torn cross-table state, even after
        # a crash between per-table commits (TxnCatalog)
        **ingest_kwargs,
    ):
        self.active = set(active) if active is not None else set(tables)
        self.control_root = control_root
        self.table_root = table_root
        self.create_defaults = dict(create_defaults or {})
        if txn_aligned:
            from data_pipeline_spark.streaming.txn import TxnAligner

            self.aligner = TxnAligner(os.path.join(control_root, "txn_spill"))
        else:
            self.aligner = None
        if catalog_path is not None:
            from data_pipeline_spark.streaming.txn import TxnCatalog

            self.catalog = TxnCatalog(catalog_path)
        else:
            self.catalog = None
        self._ingest_kwargs = ingest_kwargs
        self.jobs = {
            name: IngestJob(path, os.path.join(control_root, name), **ingest_kwargs)
            for name, path in tables.items()
            if name in self.active
        }

    # --------------------------------------------------- dynamic registration
    def _register_create(self, name: str, lsn: int, payload: str) -> None:
        """Create + register a table announced by a mid-feed create_table
        event (idempotent: an existing directory short-circuits)."""
        spec = json.loads(payload)
        path = os.path.join(self.table_root, name)
        tbl = LakehouseTable(path)
        if not tbl.exists():
            schema = T.StructType.fromDDL(spec["schema"])
            tbl.create(
                schema,
                n_buckets=spec.get(
                    "n_buckets", self.create_defaults.get("n_buckets", 16)
                ),
                update_mode=spec.get(
                    "update_mode", self.create_defaults.get("update_mode", "full")
                ),
            )
        if name not in self.jobs:
            self.jobs[name] = IngestJob(
                path, os.path.join(self.control_root, name), **self._ingest_kwargs
            )
        self.active.add(name)

    # -------------------------------------------------------------- one batch
    def apply_batch(self, spark: SparkSession, batch_id: int, raw: DataFrame) -> dict:
        if self.aligner is not None:
            # ONE global alignment for the whole feed (txn ids are global,
            # a transaction may span tables): per-table slices below are
            # therefore all cut at the same commit boundary.
            self.aligner.check_resumable(batch_id)
            raw = self.aligner.align(spark, batch_id, raw)
        if "txn_id" in raw.columns:
            raw = raw.drop("txn_id")
        # ONE materialization of the micro-batch per trigger; every sub-job
        # routes from this cache (the DDL sweep is its first action, so the
        # cache fills exactly once).
        cached = raw.persist()
        try:
            # single driver-side DDL sweep for the whole batch (DDL rows are
            # rare and tiny — reference: applier DDL branch, SURVEY.md §2 T3).
            # The limit caps driver memory (`ingest.DDL_ROW_CAP`): a DDL bomb
            # aborts with an alert instead of OOM-ing the driver through an
            # unbounded collect; the stream resumes from the checkpoint once
            # the feed is fixed. Sub-jobs never probe for DDL themselves:
            # each gets its rows from this sweep (ddl_rows=[...] below).
            cap = ingest.DDL_ROW_CAP
            ddl = (
                cached.where(F.col("op") == "DDL")
                .select("lsn", "table_name", "payload")
                .limit(cap + 1)
                .collect()
            )
            if len(ddl) > cap:
                self._alert({
                    "kind": "abort",
                    "batch_id": batch_id,
                    "error": f"DDL bomb: > {cap} DDL rows in one batch",
                })
                raise ValueError(
                    f"batch {batch_id}: more than {cap} DDL rows — "
                    "refusing to collect an unbounded DDL sweep on the driver"
                )
            ddl_by_table: dict[str, list[tuple[int, str]]] = {}
            for r in sorted(ddl, key=lambda r: r.lsn):
                try:
                    is_create = json.loads(r.payload).get("action") == "create_table"
                except (ValueError, AttributeError):
                    is_create = False
                if is_create and self.table_root is not None:
                    self._register_create(r.table_name, r.lsn, r.payload)
                ddl_by_table.setdefault(r.table_name, []).append((r.lsn, r.payload))

            # allowlist prune AFTER registration so a table created mid-feed
            # replicates from its very first batch.
            #
            # Per-table applies are submitted CONCURRENTLY from a thread pool
            # over the shared cached batch (same pattern as initsync_all):
            # each table's decode→collapse→write is an independent Spark job
            # against its own table dir + control dir, so the Spark scheduler
            # interleaves their stages across the executors instead of the
            # batch wall-clock being the SUM of per-table merges while the
            # cluster idles between them (the r2 review's remaining at-scale
            # liability — reference initsync used a multiprocessing pool per
            # table for the same reason).
            from concurrent.futures import ThreadPoolExecutor

            def one(item: tuple[str, "IngestJob"]) -> tuple[str, dict]:
                name, job = item
                sub = cached.where(F.col("table_name") == name).drop("table_name")
                return name, job.apply_batch(
                    spark, batch_id, sub, ddl_rows=ddl_by_table.get(name, [])
                )

            workers = max(1, min(ingest.MAX_APPLY_THREADS, len(self.jobs)))
            with ThreadPoolExecutor(max_workers=workers) as ex:
                results = dict(ex.map(one, list(self.jobs.items())))
            self._publish_catalog(batch_id)
            return results
        finally:
            cached.unpersist()

    def _publish_catalog(self, batch_id: int) -> None:
        """One atomic cross-table visibility point per batch: published only
        after EVERY table committed, so catalog readers can never observe a
        torn batch (or, with txn alignment on, a torn source transaction) —
        a crash between per-table commits leaves the catalog at the previous
        consistent point, and the resumed batch's idempotent per-table
        no-ops republish it."""
        if self.catalog is None:
            return
        self.catalog.publish(
            batch_id,
            {
                name: job.table.current_snapshot()["snapshot_id"]
                for name, job in self.jobs.items()
            },
        )

    def _alert(self, event: dict) -> None:
        """Router-level durable alert (per-table alerts live with each
        sub-job's control dir; batch-level failures land here)."""
        from datetime import datetime, timezone

        os.makedirs(self.control_root, exist_ok=True)
        event = {**event, "at": datetime.now(timezone.utc).isoformat()}
        with open(os.path.join(self.control_root, "alerts.jsonl"), "a") as f:
            f.write(json.dumps(event) + "\n")
        hook = self._ingest_kwargs.get("on_alert")
        if hook is not None:
            try:
                hook(event)
            except Exception:  # noqa: BLE001 — a broken notifier never masks the abort
                pass

    # ---------------------------------------------------- parallel initsync
    def initsync_all(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame],
        verify: bool = True,
        watermark_lsns: dict[str, int] | None = None,
    ) -> dict[str, dict]:
        """Initial full-table sync of MANY tables at once (reference:
        initsync_pipe.py's per-table multiprocessing pool — SURVEY.md §2
        S3/K4). Each table's snapshot load is an independent Spark job, so
        the pool here is a thread pool SUBMITTING jobs concurrently: the
        Spark scheduler interleaves their stages across the executors (the
        idiomatic Spark translation of per-table worker processes — the
        cluster, not the driver, is the unit of parallelism). Per table:
        overwrite snapshot commit, then the row-count + symmetric-difference
        verification (T10). Returns {table: verify report | {"ok": True}}.

        watermark_lsns: per-table source-consistent capture points — the
        initsync→CDC switchover (see LakehouseTable.overwrite): subsequent
        streaming skips feed events at/below each table's mark."""
        from concurrent.futures import ThreadPoolExecutor

        def one(item: tuple[str, DataFrame]) -> tuple[str, dict]:
            name, df = item
            if name not in self.jobs:
                raise KeyError(f"table {name!r} is not registered/active")
            self.jobs[name].wait_maintenance()
            tbl = self.jobs[name].table
            tbl.overwrite(
                spark, df, watermark_lsn=(watermark_lsns or {}).get(name)
            )
            report = tbl.verify_against(spark, df) if verify else {"ok": True}
            return name, report

        workers = max(1, min(ingest.MAX_APPLY_THREADS, len(sources)))
        with ThreadPoolExecutor(max_workers=workers) as ex:
            return dict(ex.map(one, sources.items()))

    def run_to_completion(
        self,
        spark: SparkSession,
        feed_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 8,
        flush_txns: bool = True,
        stream_reader=None,  # plug-in reader producing MULTI_EVENT_SCHEMA /
        # MULTI_TXN_EVENT_SCHEMA order, signature
        # (spark, feed_dir, max_files_per_trigger, with_txns) — e.g.
        # sources/debezium.read_debezium_multi_stream adapts a multi-table
        # Debezium topic directory
    ) -> None:
        if stream_reader is not None:
            stream = stream_reader(
                spark, feed_dir, max_files_per_trigger,
                with_txns=self.aligner is not None,
            )
        else:
            schema = (
                MULTI_TXN_EVENT_SCHEMA if self.aligner is not None else MULTI_EVENT_SCHEMA
            )
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", max_files_per_trigger)
                .parquet(feed_dir)
            )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.apply_batch(df.sparkSession, int(bid), df)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if self.aligner is not None and flush_txns:
            self.flush_pending(spark)
        for job in self.jobs.values():
            job.wait_maintenance()

    def flush_pending(self, spark: SparkSession) -> dict:
        """Release the final deferred transaction after a drained feed (see
        IngestJob.flush_pending — same contract: watermark idempotency,
        spill cleared only after the merges commit, loud refusal of a later
        same-checkpoint resume). The catalog (if any) publishes the flushed
        state as one more atomic version."""
        if self.aligner is None:
            raise RuntimeError("flush_pending requires txn_aligned=True")
        got = self.aligner.newest_pending(spark, MULTI_TXN_EVENT_SCHEMA)
        if got is None:
            return {"skipped": True, "reason": "no pending spill"}
        _producer, tail = got
        if tail.select("lsn").first() is None:
            self.aligner.clear()
            return {"skipped": True, "reason": "pending spill empty"}
        flush_id = 1 + max(
            job.table.current_snapshot()["last_batch_id"] for job in self.jobs.values()
        )
        saved, self.aligner = self.aligner, None
        try:
            result = self.apply_batch(spark, flush_id, tail.drop("txn_id"))
        finally:
            self.aligner = saved
        self.aligner.mark_flushed(flush_id)
        self.aligner.clear()
        return result
