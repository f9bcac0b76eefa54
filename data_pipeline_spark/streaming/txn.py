"""Source-transaction consistency for the CDC ingest.

The reference applies change records per source COMMIT: its applier loop
batches statements up to a commit point and never splits a source
transaction across target commits (reference: data_pipeline/applier/*
commitpoint handling — repo-relative public path, SURVEY.md §2 T6/§3).
Structured Streaming micro-batches cut the feed by FILE/offset boundaries,
which land mid-transaction almost always — so a naive foreachBatch apply
exposes torn transactions to readers between triggers, and a multi-table
router exposes torn transactions ACROSS tables between its per-table
commits.

Two pieces restore the reference's commit-point semantics Spark-side:

``TxnAligner`` — batch-boundary alignment. The feed envelope optionally
carries ``txn_id`` (the commit-ordinal of the source transaction, what
LogMiner's COMMITTED_DATA_ONLY mode exposes as the commit SCN: transactions
arrive whole, in commit order, so a transaction occupies one contiguous LSN
range). Per micro-batch the aligner prepends the previous batch's deferred
tail, splits at the last COMPLETE transaction boundary, hands the complete
prefix to the apply, and spills the open tail for the next batch. A
transaction is provably complete once any row of a LATER transaction has
been seen; the final transaction of a drained feed is released by an
explicit ``flush`` (the extractor only ever emits committed transactions,
so a drained feed ends on a boundary by construction).

Crash-safety costs nothing new: the spill for batch N is a PURE FUNCTION of
(spill N-1, batch N) written to a deterministic per-batch directory with
mode=overwrite — exactly the idempotence contract the archive writer and
the merge already rely on. A checkpoint redelivery of batch N re-reads the
untouched spill N-1, recomputes the identical split, overwrites spill N
byte-for-byte, and the merge skips by batch_id. No commit-protocol change,
no two-phase anything.

``TxnCatalog`` — atomic multi-table visibility. The router's per-table
merges commit independently (idempotent by batch_id), so between the first
and last table commit of a batch — or after a crash in between — per-table
readers can observe a transaction on table A but not yet on table B. The
catalog is a tiny versioned pointer set {table -> snapshot_id} published
ONCE per router batch, AFTER every table committed, via write-new-version +
atomic rename of the ``latest`` pointer. Readers that resolve snapshots
through the catalog therefore only ever see batch-aligned — and, with the
aligner on, transaction-aligned — states across all tables: a crash between
table commits leaves the catalog at the previous consistent point, and the
resumed batch republishes idempotently. This is the same shape as Iceberg
multi-table transactions via a Nessie-style catalog commit, scaled down to
the sandbox's file catalog.

Scale notes (100 TB / 1000 executors): the alignment adds ONE tiny
aggregate per batch (max(txn_id) — column-pruned scan of the micro-batch)
plus a spill write/read bounded by ONE open transaction (KB-to-MB, never
O(batch)); the catalog publish is one JSON rename per batch. Skew, shuffle
and merge behavior are untouched — alignment happens on the unshuffled
envelope frame.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.sources.feed import scan_ddl_chunks


class TxnAligner:
    """Split each micro-batch at the last complete source-transaction
    boundary, carrying the open tail to the next batch via a deterministic
    per-batch spill directory (see module docstring)."""

    def __init__(self, spill_dir: str):
        self.spill_dir = spill_dir
        os.makedirs(spill_dir, exist_ok=True)

    # ------------------------------------------------------------- internals
    def _spill_path(self, batch_id: int) -> str:
        return os.path.join(self.spill_dir, f"batch={batch_id}")

    def _pending_ids(self) -> list[int]:
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.spill_dir)
            if d.startswith("batch=")
        )

    def pending(self, spark: SparkSession, schema, batch_id: int) -> DataFrame | None:
        """The tail deferred by the newest batch BEFORE batch_id (replay of
        batch N must see exactly the spill state N saw the first time, so
        N's own — possibly half-written — spill dir is excluded)."""
        prior = [b for b in self._pending_ids() if b < batch_id]
        if not prior:
            return None
        return spark.read.schema(schema).parquet(self._spill_path(prior[-1]))

    # ------------------------------------------------------- flush bookkeeping
    def _marker_path(self) -> str:
        return os.path.join(self.spill_dir, "flushed.json")

    def flushed_batch_id(self) -> int | None:
        try:
            with open(self._marker_path()) as f:
                return json.load(f)["batch_id"]
        except FileNotFoundError:
            return None

    def mark_flushed(self, batch_id: int) -> None:
        tmp = self._marker_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id}, f)
        os.replace(tmp, self._marker_path())

    def check_resumable(self, batch_id: int) -> None:
        """A drained-feed flush consumed a batch id OUTSIDE the stream's
        checkpoint numbering; if the same checkpoint later resumes with new
        data, its next micro-batch would reuse that id and the idempotent
        merge would silently skip real rows. Fail LOUDLY instead: resuming
        ingestion after a flush cutover needs a fresh checkpoint plus a
        table whose last_batch_id the new stream's numbering clears (in
        practice: a new downstream epoch, the cutover being exactly the
        moment one retires a feed)."""
        flushed = self.flushed_batch_id()
        if flushed is not None and batch_id <= flushed:
            raise RuntimeError(
                f"stream batch {batch_id} collides with flushed batch "
                f"{flushed}: this checkpoint was drained and flushed — "
                "resuming it would silently skip rows at the idempotent "
                "merge. Start a fresh stream epoch instead."
            )

    # ---------------------------------------------------- driver-side fast path
    #: fall back to the Spark path when the open-tail candidates exceed this
    #: many rows (a single source transaction this large is pathological;
    #: the Spark path handles it without driver memory)
    FAST_TAIL_ROW_CAP = 2_000_000

    def _align_fast(
        self, batch_id: int, files: list[str], ddl_probe: bool
    ) -> tuple[int | None, list[tuple[int, str]] | None] | None:
        """Driver-side alignment over the batch's parquet chunk files plus
        the previous spill: parquet FOOTER stats give max(txn_id) with no
        Spark job; the open tail is extracted with a pyarrow point filter
        (row-group stats confine the read to the last file(s)) and written
        as the spill; the DDL probe (`scan_ddl_chunks` below mx) rides
        the same sweep, deferred region excluded. Returns (mx, ddl_rows) —
        the caller builds the safe frame — or None to fall back to the
        Spark path (non-local files, missing stats, oversized tail)."""
        paths = []
        for f in files:
            if f.startswith("file://"):
                paths.append(f[len("file://"):])
            elif f.startswith("file:"):
                paths.append(f[len("file:"):])
            elif f.startswith("/"):
                paths.append(f)
            else:
                return None
        prior = [b for b in self._pending_ids() if b < batch_id]
        if prior:
            sp = self._spill_path(prior[-1])
            paths.extend(
                os.path.join(sp, fn) for fn in os.listdir(sp) if fn.endswith(".parquet")
            )
        try:
            from concurrent.futures import ThreadPoolExecutor

            import pyarrow as pa
            import pyarrow.parquet as pq

            def footer(path: str):
                pf = pq.ParquetFile(path)
                names = pf.schema_arrow.names
                if "txn_id" not in names:
                    return None
                idx = pf.schema_arrow.get_field_index("txn_id")
                mx = None
                for rg in range(pf.metadata.num_row_groups):
                    meta = pf.metadata.row_group(rg)
                    st = meta.column(idx).statistics
                    if st is None:
                        return None  # no stats -> Spark path
                    if not st.has_min_max:
                        if st.has_null_count and st.null_count == meta.num_rows:
                            continue  # all-null row group contributes nothing
                        return None
                    mx = st.max if mx is None else max(mx, st.max)
                return path, mx, pf.metadata.num_rows

            with ThreadPoolExecutor(max_workers=min(16, max(1, len(paths)))) as ex:
                stats = list(ex.map(footer, paths))
            if any(s is None for s in stats):
                return None
            maxes = [m for _, m, _ in stats if m is not None]
            mx = max(maxes) if maxes else None
            if mx is None:
                return None  # txn column entirely null -> Spark pass-through
            # open-tail extraction: only files whose footer max reaches mx
            # can hold tail rows; the point filter prunes row groups inside
            cand = [p for p, m, _ in stats if m == mx]
            if sum(n for p, m, n in stats if m == mx) > self.FAST_TAIL_ROW_CAP:
                return None
            tails = [
                pq.read_table(p, filters=[("txn_id", "==", mx)]) for p in cand
            ]
            tail = pa.concat_tables(tails, promote_options="default")
            out_dir = self._spill_path(batch_id)
            tmp_dir = out_dir + ".tmp"
            shutil.rmtree(tmp_dir, ignore_errors=True)
            os.makedirs(tmp_dir, exist_ok=True)
            pq.write_table(tail, os.path.join(tmp_dir, "part-00000.parquet"))
            shutil.rmtree(out_dir, ignore_errors=True)
            os.replace(tmp_dir, out_dir)
            self._gc_spills(batch_id)

            ddl_rows = scan_ddl_chunks(paths, txn_below=mx) if ddl_probe else None
            if ddl_probe and ddl_rows is None:
                return None
            return mx, ddl_rows
        except Exception:  # noqa: BLE001 — any read hiccup: use the Spark path
            return None

    # ------------------------------------------------------------------ api
    def align(
        self,
        spark: SparkSession,
        batch_id: int,
        df: DataFrame,
        ddl_probe: bool = False,
        ddl_cap: int | None = None,
        files: list[str] | None = None,
    ) -> DataFrame | tuple[DataFrame, list[tuple[int, str]]]:
        """Return the complete-transaction prefix of (deferred tail ∪ df);
        spill the open tail under this batch's directory.

        A frame without a ``txn_id`` column (or with all-null txn_ids)
        passes through unaligned — alignment is an envelope opt-in, not a
        requirement.

        ddl_probe=True piggybacks the ingest's DDL sweep on the alignment
        aggregate (the batch is scanned ONCE for max(txn_id) + DDL count;
        the DDL collect job runs only when the count is non-zero — DDL is
        rare by design) and returns ``(safe, ddl_rows)`` with ddl_rows
        drawn from the SAFE region only, so a deferred transaction's DDL
        stays deferred with it. ddl_cap bounds the collect (up to cap+1
        rows returned; the caller enforces its abort policy)."""
        if "txn_id" not in df.columns:
            return (df, None) if ddl_probe else df
        if files:
            fast = self._align_fast(batch_id, files, ddl_probe)
            if fast is not None:
                mx, fast_ddl = fast
                prev = self.pending(spark, df.schema, batch_id)
                full = prev.unionByName(df) if prev is not None else df
                safe = full.where(
                    F.col("txn_id").isNull() | (F.col("txn_id") < F.lit(mx))
                )
                return (safe, fast_ddl) if ddl_probe else safe
        prev = self.pending(spark, df.schema, batch_id)
        full = prev.unionByName(df) if prev is not None else df
        # ONE aggregate over the batch: newest transaction + DDL presence.
        # Catalyst prunes the scan to (txn_id, op).
        agg = full.agg(
            F.max("txn_id").alias("mx"),
            F.count(F.when(F.col("op") == F.lit("DDL"), F.lit(1))).alias("n_ddl"),
        ).first()
        mx, n_ddl = agg["mx"], agg["n_ddl"]
        if mx is None:
            self._write_spill(batch_id, full.limit(0))
            safe = full
        else:
            # Transactions arrive whole and in commit order (contiguous LSN
            # ranges), so everything below the newest txn is complete; the
            # newest one may still be receiving rows -> defer it one
            # trigger. The tail filter is a txn_id point predicate — parquet
            # row-group stats confine the spill-write scan to the last
            # file(s) of the batch.
            safe = full.where(F.col("txn_id").isNull() | (F.col("txn_id") < F.lit(mx)))
            tail = full.where(F.col("txn_id") == F.lit(mx))
            self._write_spill(batch_id, tail)
        if not ddl_probe:
            return safe
        if not n_ddl:
            return safe, []
        probe = safe.where(F.col("op") == F.lit("DDL")).select("lsn", "payload")
        if ddl_cap is not None:
            probe = probe.limit(ddl_cap + 1)
        return safe, [(r.lsn, r.payload) for r in probe.collect()]

    def newest_pending(self, spark: SparkSession, schema) -> tuple[int, DataFrame] | None:
        """(producer batch id, deferred tail) of the newest spill — the
        drained-feed flush input. The flush path must NOT run through
        align(): a regular batch's input is redelivered by the checkpoint
        after a crash, but the flush's input IS the spill, so it is only
        cleared (see ``clear``) AFTER the flush merge commits; exactly-once
        for a crash-repeated flush comes from the merge's LSN watermark (the
        tail is an LSN suffix by construction)."""
        ids = self._pending_ids()
        if not ids:
            return None
        return ids[-1], spark.read.schema(schema).parquet(self._spill_path(ids[-1]))

    def clear(self) -> None:
        """Drop every spill dir (call only after a flush merge commits)."""
        for b in self._pending_ids():
            shutil.rmtree(self._spill_path(b), ignore_errors=True)

    def discard(self, batch_id: int) -> None:
        """Roll the aligner back to the state BEFORE `batch_id`: drop its
        spill (and any newer one). The audit-discard path needs this — a
        WAP reset_branch erases the batch's merge, and the batch's open
        tail (computed from the now-discarded events) must not be prepended
        to the next batch or the discarded data leaks into a later commit.
        Deleting the spill FIRST keeps the crash window safe: a crash after
        the delete but before the branch reset leaves a state the retried
        discard (or a re-audit) converges from, never one where discarded
        events can still reach a commit."""
        for b in self._pending_ids():
            if b >= batch_id:
                shutil.rmtree(self._spill_path(b), ignore_errors=True)

    def _write_spill(self, batch_id: int, tail: DataFrame) -> None:
        tail.write.mode("overwrite").parquet(self._spill_path(batch_id))
        self._gc_spills(batch_id)

    def _gc_spills(self, batch_id: int) -> None:
        """Keep this batch's spill and the newest one below it; drop the
        rest. Both alignment paths call this after writing their spill."""
        # Replay can only redeliver the LAST unconfirmed batch, which
        # needs the newest spill < batch_id; everything older is dead.
        # "Newest prior" by ID, not batch_id-1: an audit discard leaves a
        # GAP in the spill ids (its spill rolled back), and the spill this
        # batch just consumed — which its own redelivery must re-read —
        # sits more than one id back.
        ids = self._pending_ids()
        prior = [b for b in ids if b < batch_id]
        keep = {batch_id} | ({prior[-1]} if prior else set())
        for b in ids:
            if b not in keep:
                shutil.rmtree(self._spill_path(b), ignore_errors=True)


class TxnCatalog:
    """Versioned multi-table snapshot pointer: one atomic publish per router
    batch = cross-table read consistency (see module docstring).

    Layout: ``<path>/v-{n:08d}.json`` (immutable versions, so the catalog
    history IS cross-table time travel) + ``<path>/latest.json`` swung by
    atomic rename. Single publisher by design (the router); readers are
    lock-free."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def latest(self) -> dict | None:
        try:
            with open(os.path.join(self.path, "latest.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def versions(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.path)):
            if name.startswith("v-") and name.endswith(".json"):
                with open(os.path.join(self.path, name)) as f:
                    out.append(json.load(f))
        return out

    def publish(self, batch_id: int, snapshots: dict[str, int]) -> dict:
        """Make {table -> snapshot_id} the catalog head, atomically.
        Idempotent by batch_id: a checkpoint-redelivered batch whose tables
        all no-op'd re-publishes the identical mapping as a skip."""
        cur = self.latest()
        if cur is not None and batch_id <= cur["batch_id"]:
            return {**cur, "skipped": True}
        version = (cur["version"] + 1) if cur is not None else 0
        entry = {"version": version, "batch_id": batch_id, "tables": dict(snapshots)}
        vpath = os.path.join(self.path, f"v-{version:08d}.json")
        with open(vpath, "w") as f:
            json.dump(entry, f)
        tmp = os.path.join(self.path, f".latest.{version}.tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, os.path.join(self.path, "latest.json"))
        return entry

    def pinned_snapshot(self, table: str, version: int | None = None) -> int:
        entry = self.latest() if version is None else self._version(version)
        if entry is None:
            raise KeyError("catalog has no published version yet")
        if table not in entry["tables"]:
            raise KeyError(f"table {table!r} not in catalog version {entry['version']}")
        return entry["tables"][table]

    def _version(self, version: int) -> dict | None:
        p = os.path.join(self.path, f"v-{version:08d}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read(
        self,
        spark: SparkSession,
        table: str,
        table_path: str,
        version: int | None = None,
        **read_kwargs,
    ) -> DataFrame:
        """Catalog-consistent read: the table AT the snapshot the catalog
        pinned for its latest (or a given) version — never a torn
        mid-router-batch state."""
        from data_pipeline_spark.plans.table_format import LakehouseTable

        snap_id = self.pinned_snapshot(table, version)
        return LakehouseTable(table_path).read(
            spark, snapshot_id=snap_id, **read_kwargs
        )
