"""Audit-gated streaming ingest (write-audit-publish, runnable).

`WapIngestJob` is `IngestJob` pointed at a staging branch plus the publish
loop: every micro-batch lands on the branch, the audit callback inspects
the STAGED (unpublished) state, and only a passing audit fast-forwards
main — so downstream readers and changelog tailers can never observe a
batch that failed data-quality checks. The reference's error handling
stops at skip-the-record / abort-the-batch (data_pipeline mailer + skip
workflow, SURVEY.md §2 T11); WAP adds the missing table-granular gate.

Failure semantics (exactly-once preserving): a failed audit resets the
branch to its head AS OF BEFORE the current batch and raises
`AuditFailedError` — the stream dies with the batch's offsets uncommitted,
so on restart Spark REDELIVERS the same batch (fix upstream, restart,
the redelivered batch re-applies and re-audits). Earlier staged-but-
unpublished batches stay staged: their offsets are already checkpointed,
resetting past them would lose them forever. Corollary: with
`publish_every=1` (the default) a poisoned batch is isolated exactly;
with a coarser cadence the audit can only tell you SOME batch since the
last publish is bad — the stream then crash-loops on redelivery until an
operator reset_branch's to the published head and reprocesses, which is
the honest trade for amortizing an expensive audit.

Audits: `audit(spark, ctx)` receives a `WapContext` and returns a dict
with at least `{"ok": bool}`. `ctx.changes()` is the staged-but-
unpublished changelog — O(staged batches), the right thing to scan for
content checks at 100 TB (never the full table); `ctx.staged()` /
`ctx.published()` are full-state reads for invariant checks that need
them; counts are cached. `combine_audits` ANDs several. Every publish /
audit-failure lands in the control alerts trail (alerts.jsonl +
on_alert hook) with the snapshot ids involved.

Downstream consumption of a WAP table: `tail_changes`/`read_changes`
(cursor over the main chain, which every in-engine consumer polls) —
publish-respecting by construction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.sources.feed import read_feed_stream
from data_pipeline_spark.streaming.ingest import IngestJob


class AuditFailedError(RuntimeError):
    """Raised into the stream when the publish audit rejects staged state."""


class WapContext:
    """What an audit callback sees. Lazy: audits that only look at
    `changes()` never pay for a full-table read."""

    def __init__(self, spark: SparkSession, branch: LakehouseTable,
                 main: LakehouseTable, published_id: int, staged_id: int):
        self.spark = spark
        self.branch = branch
        self.main = main
        self.published_id = published_id
        self.staged_id = staged_id
        self._cache: dict = {}

    def changes(self) -> DataFrame:
        """Staged-but-unpublished changelog rows (I/U/D + table columns) —
        O(staged batches), the scan content audits should use."""
        if "changes" not in self._cache:
            self._cache["changes"] = self.branch.read_changes(
                self.spark, from_snapshot_id=self.published_id,
                to_snapshot_id=self.staged_id,
            )
        return self._cache["changes"]

    def staged(self) -> DataFrame:
        if "staged" not in self._cache:
            self._cache["staged"] = self.branch.read(self.spark)
        return self._cache["staged"]

    def published(self) -> DataFrame:
        if "published" not in self._cache:
            self._cache["published"] = self.main.read(self.spark)
        return self._cache["published"]

    def staged_count(self) -> int:
        if "staged_count" not in self._cache:
            self._cache["staged_count"] = self.staged().count()
        return self._cache["staged_count"]

    def published_count(self) -> int:
        if "published_count" not in self._cache:
            self._cache["published_count"] = self.published().count()
        return self._cache["published_count"]


# ----------------------------------------------------------------- audits
def audit_unique_key(keys=("conv_id", "turn_idx")):
    """No duplicate merge keys in the staged state (a failed LWW collapse
    or merge regression shows up here before anyone reads it). Full-state
    groupBy — map-side-combinable, one shuffle."""
    def check(spark, ctx: WapContext) -> dict:
        dups = (
            ctx.staged().groupBy(*keys).count().where(F.col("count") > 1).count()
        )
        return {"name": "unique_key", "ok": dups == 0, "duplicate_keys": dups}
    return check


def audit_row_delta(max_shrink: float = 0.5, max_grow: float = 100.0):
    """Published→staged row-count change within bounds — the classic
    'don't publish an accidental mass delete / runaway duplication'."""
    def check(spark, ctx: WapContext) -> dict:
        pub, stg = ctx.published_count(), ctx.staged_count()
        ok = (
            pub == 0
            or (stg >= pub * (1.0 - max_shrink) and stg <= pub * (1.0 + max_grow))
        )
        return {"name": "row_delta", "ok": ok, "published": pub, "staged": stg}
    return check


def audit_changes_clean(column: str, pattern: str, max_hits: int = 0):
    """No staged CHANGE row matches `pattern` in `column` (poison markers,
    PII canaries, leaked secrets). Scans only the unpublished changelog —
    O(staged batches) however big the table is."""
    def check(spark, ctx: WapContext) -> dict:
        hits = (
            ctx.changes()
            .where(F.col("_change_op") != F.lit("D"))
            .where(F.col(column).rlike(pattern))
            .count()
        )
        return {"name": "changes_clean", "ok": hits <= max_hits,
                "column": column, "hits": hits}
    return check


def combine_audits(*checks):
    """AND several audits; reports every sub-result (no short-circuit, so
    the alert names everything wrong with the batch, not just the first)."""
    def check(spark, ctx: WapContext) -> dict:
        reports = [c(spark, ctx) for c in checks]
        return {"ok": all(r["ok"] for r in reports), "checks": reports}
    return check


# ------------------------------------------------------------------ runner
class WapIngestJob:
    """IngestJob on a staging branch + audit-gated auto-publish. Same
    constructor surface as IngestJob plus `branch`, `audit`,
    `publish_every`. Creates the branch at the main head if missing."""

    def __init__(
        self,
        table_path: str,
        control_path: str,
        branch: str = "audit",
        audit=None,  # Callable[[SparkSession, WapContext], dict] with "ok"
        publish_every: int = 1,
        **ingest_kw,
    ):
        self.main = LakehouseTable(table_path)
        self.branch = LakehouseTable(table_path, ref=branch)
        self.branch_name = branch
        if not self.branch.exists():
            self.main.create_branch(branch)
        self.audit = audit
        self.publish_every = max(1, publish_every)
        self.job = IngestJob(table_path, control_path, ref=branch, **ingest_kw)
        self._since_publish = 0

    # one staged batch + maybe publish — also the unit tests' batch API
    def apply_batch(self, spark: SparkSession, batch_id: int, df: DataFrame) -> dict:
        self.job.wait_maintenance()
        pre_batch = self.branch.current_snapshot()["snapshot_id"]
        res = self.job.apply_batch(spark, batch_id, df)
        self._since_publish += 1
        if self._since_publish >= self.publish_every:
            res["publish"] = self.try_publish(spark, pre_batch_id=pre_batch,
                                              batch_id=batch_id)
        return res

    def try_publish(self, spark: SparkSession, pre_batch_id: int | None = None,
                    batch_id: int | None = None) -> dict:
        """Audit the staged state; fast-forward main on pass. On fail:
        reset the branch to `pre_batch_id` (discarding ONLY the batch whose
        offsets are still uncommitted) and raise AuditFailedError. Waits for
        the branch's background maintenance first: a branch compaction must
        not race `fast_forward` or `reset_branch`."""
        self.job.wait_maintenance()
        published = self.main.current_snapshot()["snapshot_id"]
        staged = self.branch.current_snapshot()["snapshot_id"]
        if staged == published:
            return {"published": False, "skipped": True}
        report = (
            self.audit(spark, WapContext(spark, self.branch, self.main,
                                         published, staged))
            if self.audit is not None else {"ok": True}
        )
        if not report.get("ok"):
            if pre_batch_id is not None:
                # with txn alignment on, the discarded batches' open-tail
                # spills must roll back WITH the branch (spill first — see
                # TxnAligner.discard for the crash-window argument). The
                # first discarded batch is derived from the reset target's
                # own last_batch_id, NOT the batch_id kwarg: a caller
                # driving staging manually may pass pre_batch_id alone, and
                # the reset discards EVERY batch staged after that snapshot
                # — their spills must all go, or a discarded batch's open
                # tail is prepended to the next batch and the rejected
                # events reach a later published commit.
                if self.job.aligner is not None:
                    pre_last = self.branch.snapshot_by_id(pre_batch_id).get(
                        "last_batch_id"
                    )
                    first_discarded = (
                        pre_last + 1 if pre_last is not None else batch_id
                    )
                    if first_discarded is not None:
                        self.job.aligner.discard(first_discarded)
                self.branch.reset_branch(pre_batch_id)
            self.job._alert({
                "kind": "audit_failed", "batch_id": batch_id,
                "staged_snapshot": staged, "published_snapshot": published,
                "reset_to": pre_batch_id, "report": report,
            })
            raise AuditFailedError(
                f"publish audit failed for staged snapshot {staged} "
                f"(batch_id={batch_id}): {report}"
            )
        out = self.main.fast_forward(self.branch_name)
        self._since_publish = 0
        self.job._alert({
            "kind": "published", "batch_id": batch_id,
            "snapshot_id": out.get("snapshot_id"),
            "published_from": out.get("published_from", published),
            "report": report,
        })
        return {"published": True, **out, "report": report}

    # ---------------------------------------------------------- streaming
    def start_stream(self, spark: SparkSession, feed_dir: str,
                     checkpoint_dir: str, max_files_per_trigger: int = 8,
                     available_now: bool = True):
        def handle(df: DataFrame, batch_id: int) -> None:
            self.apply_batch(df.sparkSession, int(batch_id), df)

        # same wiring as IngestJob.start_stream: streaming micro-batches
        # report no inputFiles, so the driver-side DDL fast scan reads the
        # checkpoint's source manifest — without this every batch pays the
        # two-phase Spark DDL probe
        self.job._checkpoint_dir = checkpoint_dir
        stream = read_feed_stream(spark, feed_dir, max_files_per_trigger)
        writer = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, spark: SparkSession, feed_dir: str,
                          checkpoint_dir: str, max_files_per_trigger: int = 8) -> None:
        q = self.start_stream(spark, feed_dir, checkpoint_dir,
                              max_files_per_trigger, available_now=True)
        q.awaitTermination()
        self.job.wait_maintenance()
