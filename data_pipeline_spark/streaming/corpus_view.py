"""Incrementally-maintained DOCUMENTS view of the transcript table.

`assemble_conversations` turns the turn-grained CDC table into training
documents; this module keeps that result LIVE as conversations keep
changing, without ever re-assembling the whole corpus:

    upstream.tail_changes → touched conv_ids → bucket-pruned point read
    → re-assemble ONLY those conversations → merge into the docs table
    through the engine's own idempotent apply path → commit cursor

Per changelog window the work is O(churn): the window names the
conversations whose document image may have changed; everything else in
the corpus is untouched. The point read prunes to the buckets those
conv_ids hash into (metadata-level file skipping), the re-assembly
aggregates only their turns, and the merge is the same two-shuffle
bucketed plan as any ingest batch. At 100 TB a day's churn is a few
thousand conversations — the refresh costs minutes of one executor, not
a corpus-wide rebuild. A window touching more than
`table_format.HIGH_CHURN_CAP` conversations (initsync fallout, backfill)
semi-joins instead of point-reading; the engine picks the regime per
window (`touched_documents`), the caller does not.

Semantics: the view is a MATERIALIZED VIEW refresh, not a transcript
replica — each window re-reads the touched conversations' CURRENT state,
so the view always converges to `assemble_conversations(upstream)` as of
the latest refresh.
Conversations whose turns are all deleted upstream produce a DELETE of
their document. Emitted rows carry the upstream watermark LSN at refresh
time: monotone across refreshes, so the engine's LWW keeps the newest
image; equal-LSN collisions can only carry identical images (same
upstream snapshot) and are harmless under the D>U>I tie-break.

Exactly-once: a window redelivered after a lost cursor commit is skipped
by batch_id like every engine sink — and a replayed refresh would be a
no-op anyway (it re-derives the same images from the same upstream
state).

DML only, MOR upstream required (same contract as cascade edges —
reference: data_pipeline's applier chain publishing to further consumers,
SURVEY.md §2 K1/S4)."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.operators.corpus import (
    _lineage_path,
    assemble_conversations,
    decontaminate,
    redact_pii,
)
from data_pipeline_spark.plans.table_format import LakehouseTable, bounded_ids
from data_pipeline_spark.streaming.cursor import lsn_lag, poll_window, run_until_caught_up
from data_pipeline_spark.streaming.ingest import IngestJob


def touched_documents(
    spark: SparkSession,
    upstream: LakehouseTable,
    changed_ids: DataFrame,
    max_turns: int | None = None,
    snapshot_id: int | None = None,
) -> tuple[DataFrame, str, list[str] | None]:
    """Current document images of the touched conversations — the shared
    core of every incremental corpus consumer (view refresh, delta export,
    dedup index).

    Two regimes, picked by `bounded_ids` (one bounded probe-collect over
    the batch, capped at table_format.HIGH_CHURN_CAP):
    - churn ≤ the cap (the design point — daily churn ≪
      corpus): collect the id list and point-read it (bucket pruning +
      manifest key-range skipping → O(churn) files touched);
    - churn above the cap (initsync fallout, backfill, full overwrite):
      semi-join the changed-ids frame against the upstream read — no id
      ever lands on the driver, and the refresh degrades gracefully into
      one distributed pass instead of a giant isin.

    snapshot_id: pin the upstream read (time travel) so the emitted images
    are a pure function of (upstream, snapshot_id) even while ingest keeps
    committing — the exporter pins its cursor window's head; the view
    refresh pins the snapshot whose watermark LSN it stamps on the images.

    Returns (documents DataFrame, mode, ids) where mode ∈ {"point",
    "semi_join"} and ids is the collected id list on the point path (None
    on the high-churn path) — callers that need the ids anyway (the dedup
    index point-reads its own tables by them) must not pay a second
    collect job."""
    ids = bounded_ids(changed_ids)
    if ids is not None:
        mode = "point"
        turns = upstream.read(spark, snapshot_id=snapshot_id, conv_ids=ids)
    else:
        mode = "semi_join"
        turns = upstream.read(spark, snapshot_id=snapshot_id).join(
            changed_ids, "conv_id", "semi"
        )
    return assemble_conversations(turns, max_turns=max_turns), mode, ids


def _image_changes(
    table: LakehouseTable, lsn: int, images: DataFrame, gone: DataFrame
) -> DataFrame:
    """Typed change rows for `IngestJob.apply_changes` on a one-row-per-
    conv_id table (`turn_idx` pinned to 0): a U with the full image for
    each row of `images`, a D with null columns for each conv_id of
    `gone`, all stamped `lsn` and cast to the table's schema."""
    fields = table.schema_struct().fields

    def rows(df: DataFrame, op: str) -> DataFrame:
        cols = []
        for f in fields:
            if f.name == "conv_id":
                c = F.col("conv_id")
            elif f.name == "turn_idx":
                c = F.lit(0)
            else:
                c = F.col(f.name) if op == "U" else F.lit(None)
            cols.append(c.cast(f.dataType).alias(f.name))
        return df.select(F.lit(lsn).cast("long").alias("lsn"), F.lit(op).alias("op"), *cols)

    return rows(images, "U").unionByName(rows(gone, "D"))


#: Schema of the documents view table. `turn_idx` is constant 0 — a
#: document is one row per conversation, and pinning the second merge-key
#: component lets the view reuse the engine's (conv_id, turn_idx) apply
#: path unchanged.
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("turn_idx", T.IntegerType(), nullable=False),
        T.StructField("doc_text", T.StringType(), nullable=True),
        T.StructField("n_turns", T.IntegerType(), nullable=True),
        T.StructField("n_chars", T.IntegerType(), nullable=True),
    ]
)


class CorpusViewJob:
    """Keep a documents table equal to `assemble_conversations(upstream)`
    by incremental refresh over the upstream changelog (cursor-polled).

    redact: apply `redact_pii` to each re-assembled document (the default
    single-pass scrub — the view keeps the corpus schema, no counts column).
    max_turns: training-window truncation, pushed into the point read.
    doc_filter: SQL predicate over the assembled (and redacted) document
    columns (doc_text, n_turns, n_chars) — the view becomes the
    QUALITY-GATED corpus σ_filter(assemble(upstream)), with materialized-
    view-correct semantics: a document whose churn drops it below the bar
    is DELETED from the view (the same anti-join that handles whole-
    conversation deletes), and one that rises above it appears. Row-local
    predicate, no extra shuffle.

    Each refresh picks its own read regime (`touched_documents`): a point
    read of the touched conversations, or a distributed semi-join once they
    exceed `table_format.HIGH_CHURN_CAP`; `last_refresh_mode` names it."""

    def __init__(
        self,
        upstream_path: str,
        view_path: str,
        control_path: str,
        redact: bool = False,
        max_turns: int | None = None,
        doc_filter: str | None = None,
        **ingest_kw,
    ):
        self.upstream = LakehouseTable(upstream_path)
        self.redact = redact
        self.max_turns = max_turns
        self.doc_filter = doc_filter
        #: refresh-path telemetry: "point" (collected id list, bucket/key-
        #: range pruned) or "semi_join" (high-churn distributed path) —
        #: set per refresh, readable by tests and operators.
        self.last_refresh_mode: str | None = None
        self.job = IngestJob(view_path, control_path, **ingest_kw)

    @staticmethod
    def create_view_table(path: str, n_buckets: int = 128, **create_kw) -> None:
        LakehouseTable(path).create(DOCUMENT_SCHEMA, n_buckets=n_buckets, **create_kw)

    # -------------------------------------------------------------- refresh
    def _refresh_changes(self, spark: SparkSession, changed: DataFrame) -> DataFrame:
        """One refresh: changed conv_ids → current document images as typed
        change rows (U with the full image; D when every turn of the
        conversation is gone upstream).

        Point-read vs semi-join regime selection lives in
        `touched_documents` (shared with the delta exporter). The read is
        PINNED to the snapshot whose watermark LSN the images are stamped
        with, so image and lsn can never disagree under concurrent ingest
        (a later refresh re-derives newer images under a higher lsn)."""
        changed_ids = changed.select("conv_id").distinct()
        snap = self.upstream.current_snapshot()
        docs, self.last_refresh_mode, _ = touched_documents(
            spark, self.upstream, changed_ids,
            max_turns=self.max_turns,
            snapshot_id=snap["snapshot_id"],
        )
        if self.redact:
            docs = redact_pii(docs, text_col="doc_text")
        if self.doc_filter:
            # quality gate AFTER redaction (the filter judges what ships);
            # dropped documents fall through to the deletes anti-join below
            docs = docs.where(F.expr(self.doc_filter))
        # a touched conversation with no surviving DOCUMENT — every turn
        # deleted upstream, or (doc_filter) now below the quality bar —
        # becomes a view delete
        gone = changed_ids.join(docs.select("conv_id"), "conv_id", "left_anti")
        return _image_changes(self.job.table, snap.get("watermark_lsn") or 0, docs, gone)

    def refresh_for(self, spark: SparkSession, batch_id: int, changed: DataFrame) -> dict:
        """Apply one refresh batch (exposed for tests / batch callers)."""
        return self.job.apply_changes(
            spark, batch_id, self._refresh_changes(spark, changed), enforce_watermark=False
        )

    def poll_once(self, spark: SparkSession, cursor_path: str) -> dict:
        """One refresh over the window since the cursor. It reads the
        published chain only, so on a write-audit-publish upstream the view
        converges on exactly the audited corpus; a lost cursor commit just
        re-refreshes the same conversations to the same images. Raises
        CursorExpiredError when the window can't be read incrementally —
        recover with `resync`."""

        def apply(batch_id: int, chg: DataFrame, _from_id: int) -> dict:
            return self.refresh_for(spark, batch_id, chg.select("conv_id"))

        return poll_window(spark, self.upstream, cursor_path, apply)

    def resync(self, spark: SparkSession, cursor_path: str) -> dict:
        """Full reconciliation against the current PUBLISHED upstream — the
        `CursorExpiredError` recovery (view down past upstream retention,
        upstream history collapsed by a compliance `purge_keys`, or an
        upstream `rollback_to` or `overwrite` of a non-empty table inside
        the view's window). A
        fresh cursor alone is NOT enough: `tail_changes` with no cursor
        starts at the oldest RETAINED snapshot, and rows folded into base
        files by earlier `expire_snapshots`/purge calls are absent from
        the retained changelog — a changelog-walk "bootstrap" would
        silently miss them AND never emit D for conversations the purge
        removed. The resync refreshes every conversation in view ∪
        upstream (one distributed union-distinct — `refresh_for`
        re-derives current images and emits D for those gone upstream;
        the high-churn semi-join regime makes this O(table) but driver-
        free), then pins the cursor at the published head."""
        head = self.upstream.current_snapshot()["snapshot_id"]
        changed = (
            self.upstream.read(spark).select("conv_id")
            .unionByName(self.job.table.read(spark).select("conv_id"))
            .distinct()
        )
        res = self.refresh_for(spark, head, changed)
        LakehouseTable.commit_cursor(cursor_path, {"snapshot_id": head})
        return {"applied": True, "batch_id": head, "mode": "resync",
                "result": res}

    def run_until_caught_up(
        self, spark: SparkSession, cursor_path: str, max_polls: int = 1000
    ) -> int:
        """Poll until the view reflects the full published upstream head,
        then wait for the view's maintenance; returns the number of windows
        applied."""
        n = run_until_caught_up(
            lambda: self.poll_once(spark, cursor_path)["applied"], max_polls, "view"
        )
        self.job.wait_maintenance()
        return n

    def lag(self) -> dict:
        """Refresh lag in LSNs (see `cursor.lsn_lag`)."""
        return lsn_lag(self.upstream, self.job.table)


def export_corpus_delta(
    spark: SparkSession,
    upstream_path: str,
    out_dir: str,
    cursor_path: str,
    redact: bool = True,
    min_turns: int = 1,
    max_turns: int | None = None,
    doc_filter: str | None = None,
    benchmark: str | None = None,
    benchmark_text_col: str = "text",
    decontaminate_ngram: int = 3,
) -> dict:
    """Incremental corpus EXPORT: ship only the documents whose
    conversations changed since the last export — the continual-pretraining
    delta. Where `snapshot_corpus` re-exports the whole corpus per training
    run, this walks the published changelog with a durable cursor
    (`tail_changes`, so it is WAP-safe like every cursor consumer) and
    writes one self-describing delta per call under

        out_dir/delta-<from_snapshot>-<to_snapshot>/
            docs.parquet      (conv_id, doc_text, n_turns, n_chars) —
                              the CURRENT images of touched conversations
            deletes.parquet   (conv_id) — touched conversations whose
                              document no longer ships (all turns deleted
                              upstream, now below min_turns, or dropped by
                              doc_filter — the quality gate emits deletes
                              when a doc churns below the bar)
            _delta_manifest.json  lineage: snapshot range, watermark LSN,
                              counts, operator settings, refresh mode

    A consumer reconstructs the corpus at any exported point by folding
    the committed delta chain (`list_corpus_deltas`) in order: apply docs
    as upserts keyed by conv_id, drop deletes.

    Bootstrap: the FIRST export (no cursor file) is a FULL corpus export at
    the current published head — never a changelog walk, because
    `tail_changes` with no cursor starts at the oldest RETAINED snapshot
    and the base rows folded into it by earlier `expire_snapshots` calls
    would be silently missing from a changelog-derived first delta.
    Recovery from `CursorExpiredError` (the exporter was down past upstream
    retention) is the same move: delete the cursor file — the next call
    re-bootstraps a full export that covers everything, and the chain walk
    in `list_corpus_deltas` starts from the newest bootstrap.

    Crash protocol (three commit points, in order):
    1. docs.parquet + deletes.parquet written (pinned to the window's head
       snapshot — the export is a pure function of (upstream, from, to));
    2. _delta_manifest.json written LAST inside the dir via tmp+rename —
       its presence marks the dir COMPLETE; dirs without it are skipped by
       `list_corpus_deltas`;
    3. cursor commit. A crash between 2 and 3 leaves a complete-looking
       dir whose window the retry will re-export with a newer head — safe,
       because the wider window from the same from-snapshot re-ships every
       conversation the narrower one touched (chain walk prefers the
       widest window per from-snapshot), and the successful retry also
       garbage-collects such abandoned siblings.

    Scale shape: per call the work is O(churn) — same point-read /
    semi-join regime as the view refresh (`touched_documents`); the write
    is repartitioned by conv_id for a deterministic layout."""
    upstream = LakehouseTable(upstream_path)
    prev = None
    if os.path.exists(cursor_path):
        with open(cursor_path) as f:
            prev = json.load(f)["snapshot_id"]

    if prev is None:
        # bootstrap: the full corpus at the published head, as delta 0→head
        to_id = upstream.current_snapshot()["snapshot_id"]
        cursor = {"snapshot_id": to_id}
        mode = "bootstrap"
        docs = assemble_conversations(
            upstream.read(spark, snapshot_id=to_id), max_turns=max_turns
        )
        changed_ids = None
    else:
        chg, cursor = upstream.tail_changes(spark, cursor_path)
        if chg is None:
            return {"exported": False, "cursor": cursor}
        to_id = cursor["snapshot_id"]
        changed_ids = chg.select("conv_id").distinct()
        docs, mode, _ = touched_documents(
            spark, upstream, changed_ids,
            max_turns=max_turns, snapshot_id=to_id,
        )
    # a bootstrap's dir gets its own prefix: `prev or 0` would collide with
    # a REAL from_snapshot=0 window (create() writes snapshot 0, so an
    # exporter set up before first ingest bootstraps AT 0) — and the
    # sibling-GC below would then delete the committed bootstrap itself
    from_key = "bootstrap" if prev is None else f"{prev:08d}"
    sub = os.path.join(out_dir, f"delta-{from_key}-{to_id:08d}")
    if min_turns > 1:
        docs = docs.where(F.col("n_turns") >= min_turns)
    persisted = None
    if benchmark is not None:
        # same raw-vs-raw contamination screen as snapshot_corpus, BEFORE
        # redaction; a doc that churns INTO contamination falls out of
        # docs here and therefore emits a delete below — the delta chain
        # stays decontaminated under updates, not just at bootstrap
        persisted = docs.persist()
        docs = decontaminate(
            persisted, spark.read.parquet(benchmark),
            text_col="doc_text", key_col="conv_id",
            bench_text_col=benchmark_text_col, n=decontaminate_ngram,
        )
    if redact:
        docs = redact_pii(docs, text_col="doc_text")
    if doc_filter:
        docs = docs.where(F.expr(doc_filter))
    docs.repartition(F.col("conv_id")).sortWithinPartitions("conv_id").write.mode(
        "overwrite"
    ).parquet(os.path.join(sub, "docs.parquet"))
    if persisted is not None:
        persisted.unpersist()
    docs_written = spark.read.parquet(os.path.join(sub, "docs.parquet"))
    if changed_ids is None:  # bootstrap: nothing can be deleted yet
        deletes = spark.createDataFrame([], "conv_id string")
    else:
        deletes = changed_ids.join(
            docs_written.select("conv_id"), "conv_id", "left_anti"
        )
    deletes.repartition(1).write.mode("overwrite").parquet(
        os.path.join(sub, "deletes.parquet")
    )
    n_docs = docs_written.count()
    n_deleted = spark.read.parquet(os.path.join(sub, "deletes.parquet")).count()
    manifest = {
        "source_table": os.path.abspath(upstream_path),
        "from_snapshot": prev,
        "to_snapshot": to_id,
        "watermark_lsn": upstream.snapshot_by_id(to_id).get("watermark_lsn"),
        "n_docs": n_docs,
        "n_deleted": n_deleted,
        "mode": mode,
        "settings": {"redact": redact, "min_turns": min_turns,
                     "max_turns": max_turns, "doc_filter": doc_filter,
                     **(
                         {
                             "decontaminated_against": _lineage_path(benchmark),
                             "decontaminate_ngram": decontaminate_ngram,
                         }
                         if benchmark is not None
                         else {}
                     )},
    }
    # manifest last, atomically: its presence IS the dir's completion marker
    mpath = os.path.join(sub, "_delta_manifest.json")
    with open(mpath + ".tmp", "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(mpath + ".tmp", mpath)
    LakehouseTable.commit_cursor(cursor_path, cursor)
    # reclaim abandoned pre-crash siblings: narrower windows from the same
    # from-snapshot (or older bootstraps) are fully covered by this one
    prefix = f"delta-{from_key}-"
    for d in os.listdir(out_dir):
        if d.startswith(prefix) and d != os.path.basename(sub):
            try:
                if int(d.rsplit("-", 1)[1]) < to_id:
                    shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
            except ValueError:
                continue
    return {"exported": True, "path": sub, "cursor": cursor, **manifest}


def list_corpus_deltas(out_dir: str) -> list[dict]:
    """Discover the COMMITTED delta chain under `out_dir`, in fold order.

    Only dirs carrying `_delta_manifest.json` count (the manifest is
    written last, atomically — a dir without one is an incomplete export).
    The walk starts at the newest bootstrap (widest `to_snapshot` among
    `from_snapshot is None` entries — a re-bootstrap after cursor expiry
    supersedes any older chain, full export covers everything) and follows
    `from_snapshot == previous to_snapshot` links, preferring the WIDEST
    window when a crashed export left an abandoned narrower sibling (the
    wider window re-ships every conversation the narrower touched, so it
    covers it). Returns each manifest dict with its `path` added."""
    found: list[dict] = []
    if not os.path.isdir(out_dir):
        return found
    for d in sorted(os.listdir(out_dir)):
        if not d.startswith("delta-"):
            continue
        mpath = os.path.join(out_dir, d, "_delta_manifest.json")
        try:
            with open(mpath) as f:
                m = json.load(f)
        except FileNotFoundError:
            # no manifest = incomplete export; or a concurrent exporter
            # just GC'd an abandoned sibling between listdir and open —
            # either way the dir is not part of the committed chain
            continue
        m["path"] = os.path.join(out_dir, d)
        found.append(m)
    boots = [m for m in found if m["from_snapshot"] is None]
    if not boots:
        return []
    chain = [max(boots, key=lambda m: m["to_snapshot"])]
    while True:
        nxt = [m for m in found if m["from_snapshot"] == chain[-1]["to_snapshot"]]
        if not nxt:
            return chain
        chain.append(max(nxt, key=lambda m: m["to_snapshot"]))


def read_corpus_deltas(spark: SparkSession, out_dir: str) -> DataFrame:
    """Distributed consumer of the delta chain: reconstruct the corpus at
    the chain head as ONE DataFrame — the Spark-side equivalent of folding
    `list_corpus_deltas` by hand, for consumers whose corpus doesn't fit a
    driver (the 100-TB path).

    Plan shape: every delta's docs and deletes are unioned with their chain
    position, then ONE max-of-struct hash aggregate per conv_id keeps the
    latest event (map-side combinable — the same collapse the ingest path
    uses instead of a window); rows whose latest event is a delete drop
    out. One shuffle total, regardless of chain length; parquet scans are
    pruned to the needed columns. Chain-position ordering is total (the
    walk is a linear chain), so the fold is exact, not heuristic."""
    chain = list_corpus_deltas(out_dir)
    if not chain:
        raise FileNotFoundError(f"no committed corpus deltas under {out_dir}")
    parts = []
    for pos, m in enumerate(chain):
        docs = spark.read.parquet(os.path.join(m["path"], "docs.parquet"))
        parts.append(
            docs.select(
                "conv_id",
                F.lit(pos).alias("_pos"),
                F.lit(False).alias("_deleted"),
                F.struct(*[c for c in docs.columns if c != "conv_id"]).alias("_doc"),
            )
        )
        # read EVERY delta's deletes, including position 0: a current-code
        # bootstrap writes an empty file (costs one footer read), but a
        # chain whose first window predates the bootstrap protocol can
        # carry real tombstones there — skipping them would resurrect
        # deleted conversations
        dels = spark.read.parquet(os.path.join(m["path"], "deletes.parquet"))
        parts.append(
            dels.select(
                "conv_id",
                F.lit(pos).alias("_pos"),
                F.lit(True).alias("_deleted"),
                F.lit(None).cast(parts[0].schema["_doc"].dataType).alias("_doc"),
            )
        )
    events = parts[0]
    for p in parts[1:]:
        events = events.unionByName(p)
    latest = events.groupBy("conv_id").agg(
        F.max(F.struct("_pos", "_deleted", "_doc")).alias("_last")
    )
    return (
        latest.where(~F.col("_last._deleted"))
        .select("conv_id", "_last._doc.*")
    )
