"""Live table→table replication chaining (the K1 producer loop, closed).

The reference topology publishes an applied table's changes back onto the
bus so further targets consume them like any source feed (extract → Kafka →
apply → Kafka → apply...; SURVEY.md §2 K1/S4). Here the hop is one
Structured Streaming job per edge:

    upstream.stream_changes  →  changes_to_feed  →  downstream apply_batch

- Transport: in-lake (the downstream job tails the upstream DELTA layer
  directly — no broker needed; swap `write_kafka_feed_stream` /
  `read_kafka_feed_stream` in for a real bus hop, same envelope).
- Delivery: the upstream stream is at-least-once (delta files are visible
  before their commit swings) and UNORDERED across catch-up micro-batches
  (the file source batches by mtime, not commit order), so the edge applies
  with the LSN watermark filter OFF; the downstream sink is the engine's
  own idempotent merge — LWW keyed by (conv_id, turn_idx, lsn) places rows
  correctly whatever the arrival order and makes re-emitted rows no-ops,
  and checkpoint re-delivery of a whole micro-batch is skipped by batch_id.
  Net effect: exactly-once table state.
- Chains compose: B can itself cascade to C (each edge has its own
  checkpoint + control table), which is how fan-out replication trees are
  built without re-reading A.

Scale notes (100 TB): each micro-batch moves only the upstream COMMIT DELTA
(collapsed changesets), never the table; the downstream apply is the same
decode→collapse→bucketed-merge plan as first-hop ingest — two shuffles per
batch, O(batch) commit metadata. The JSON re-encode hop costs one Catalyst
`to_json` projection per batch; an in-lake-only deployment could skip the
envelope and feed the changelog columns straight to the collapse, but the
envelope keeps every edge bus-compatible, which is the reference contract.

DML only: schema changes do NOT flow through the changelog (the reference
routes DDL on the bus; the in-lake delta files carry data rows only). Apply
upstream DDL to the downstream table out-of-band (`apply_ddl` with the same
descriptors) and restart the cascade — `stream_changes`' fixed output
schema needs the restart anyway. `sync_schema()` verifies name/type
alignment and raises on drift, so a cascade never silently nulls a renamed
column; `sync_schema(auto_ddl=True)` goes further and DERIVES the
downstream DDL from the upstream schema (renames resolved via
`former_names` → field-id remap, never drop+add), making edge restart
after upstream DDL a single healing call.

Retention contract: delta files are the edge's transport — keep the
upstream's `expire_snapshots` retention longer than the longest edge
outage (the Kafka-retention rule). An edge down past retention must
re-initsync its target; the folded-away changes are gone from the delta
layer and a fresh checkpoint cannot see them.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.sources.kafka import changes_to_feed
from data_pipeline_spark.streaming.ingest import IngestJob


def filter_replica_changes(changes: DataFrame, predicate: Column | str) -> DataFrame:
    """Changelog transform that maintains a PREDICATE-FILTERED replica:
    downstream converges to exactly ``σ_predicate(upstream)``, not to "rows
    that matched when they flowed by".

    Plain row-filtering a changelog is WRONG for replicas: when a key's
    image stops matching (UPDATE moves it outside the predicate), dropping
    that U leaves the stale pre-update row live downstream forever. The
    correct algebra converts it: I/U rows matching the predicate pass;
    I/U rows NOT matching (including null-valued predicates, σ semantics)
    become DELETES downstream; upstream D tombstones always pass (their
    data columns are null — the predicate can't evaluate, and deleting an
    absent key is a no-op). A key that never matched just accrues a
    harmless tombstone.

    Runs on batch or streaming changelog frames, upstream of
    ``changes_to_feed`` (the D-conversion must happen while ``_change_op``
    is still visible)."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    keep_op = F.when(
        (F.col("_change_op") == "D") | pred, F.col("_change_op")
    ).otherwise(F.lit("D"))
    return changes.withColumn("_change_op", keep_op)


def _replica_feed(
    changes: DataFrame,
    row_predicate: Column | str | None,
    columns: list[str] | None,
) -> DataFrame:
    """Changelog micro-batch → the (optionally filtered/projected) cascade
    feed for one replica target."""
    if row_predicate is not None:
        changes = filter_replica_changes(changes, row_predicate)
    return changes_to_feed(changes, columns=columns)


def _assert_mor_upstream(upstream: LakehouseTable) -> None:
    """A COW upstream (copy-on-write history written by an older version)
    has no delta layer — its changelog stream would be silently EMPTY
    (every merge rewrote base files). Refuse loudly."""
    if upstream.current_snapshot().get("merge_mode") != "mor":
        raise ValueError(
            f"cascade upstream {upstream.path} is copy-on-write: COW merges "
            "produce no delta files, so the changelog stream would be empty "
            "(same trade as Iceberg CDC requiring MOR)"
        )


def _sync_replica_schema(
    upstream: LakehouseTable,
    downstream: LakehouseTable,
    columns: list[str] | None,
    auto_ddl: bool = False,
) -> list[dict]:
    """Verify the downstream schema equals the upstream one (names and
    types, in order; restricted to keys + `columns` for a projection).

    auto_ddl=True: instead of raising on drift, DERIVE the DDL descriptors
    that bring the downstream in line and apply them — the edge-restart
    healing step after upstream DDL. The diff is deterministic because
    upstream columns carry their rename history (`former_names`): a
    downstream column named X where upstream's column Y lists X among its
    former names is a rename X→Y, never a drop+add — so downstream data
    written under X correctly re-maps by field id instead of nulling out.
    Type changes go through `widen_type` (the downstream table enforces the
    same value-preserving lattice as any DDL consumer). Column DROPS are
    replicated too. Returns the descriptors applied ([] when in sync).
    Raises (auto_ddl=False) on any drift."""
    keys = {"conv_id", "turn_idx"}
    up_fields = [
        f
        for f in upstream._load_schema(upstream.current_snapshot()["schema_id"])[
            "fields"
        ]
        if columns is None or f["name"] in keys or f["name"] in columns
    ]
    down_fields = downstream._load_schema(
        downstream.current_snapshot()["schema_id"]
    )["fields"]
    up = [(f["name"], f["type"]) for f in up_fields]
    down = [(f["name"], f["type"]) for f in down_fields]
    if up == down:
        return []
    if not auto_ddl:
        raise ValueError(
            "cascade schema drift (apply upstream DDL downstream — "
            "sync_schema(auto_ddl=True) derives it — then restart the "
            f"edge): upstream={up} downstream={down}"
        )
    descriptors: list[dict] = []
    down_names = {f["name"] for f in down_fields}
    up_names = {f["name"] for f in up_fields}
    # Upstream field order is resolution order: a renamed field keeps its
    # position while a re-added column appends, so in the rename-then-re-add
    # collision (x→y, then a NEW x) the renamed field claims downstream's x
    # first and the re-add becomes a plain add_column — matching what the
    # downstream would look like had it healed after every upstream DDL.
    # Multi-generation rename chains skipped in ONE heal can be name-
    # ambiguous (two upstream fields sharing a former name); first-match
    # wins and the re-verify below catches any order mismatch — heal
    # promptly rather than batching many DDL generations.
    for f in up_fields:
        if f["name"] in down_names:
            continue
        former = next((n for n in f["former_names"] if n in down_names), None)
        if former is not None:
            descriptors.append(
                {"action": "rename_column", "old": former, "new": f["name"]}
            )
            down_names.discard(former)
            down_names.add(f["name"])
        else:
            descriptors.append(
                {"action": "add_column", "name": f["name"], "type": f["type"]}
            )
            down_names.add(f["name"])
    for name in sorted(down_names - up_names):
        descriptors.append({"action": "drop_column", "name": name})
        down_names.discard(name)
    down_types = {f["name"]: f["type"] for f in down_fields}
    for f in up_fields:
        if down_types.get(f["name"], f["type"]) != f["type"]:
            descriptors.append(
                {"action": "widen_type", "name": f["name"], "to": f["type"]}
            )
    downstream.apply_ddl(descriptors)
    # re-verify: the derived DDL must land us exactly in sync (ordering of
    # pre-existing columns can't be fixed by DDL — surface it, don't loop)
    _sync_replica_schema(upstream, downstream, columns, auto_ddl=False)
    return descriptors


class CascadeJob:
    """One replication edge: tail `upstream`'s changelog live and keep
    `downstream` identical. Construction mirrors IngestJob (the downstream
    half IS an IngestJob over the cascade feed)."""

    def __init__(
        self,
        upstream_path: str,
        downstream_path: str,
        control_path: str,
        row_predicate: Column | str | None = None,
        columns: list[str] | None = None,
        **ingest_kw,
    ):
        """row_predicate: maintain a filtered replica — downstream =
        σ_predicate(upstream), with updates that leave the predicate
        converted to downstream deletes (see `filter_replica_changes`).
        columns: projected replica — downstream carries only the keys plus
        this non-key column subset (the downstream table must be created
        with exactly that schema)."""
        self.row_predicate = row_predicate
        self.columns = columns
        self.upstream = LakehouseTable(upstream_path)
        # ddl_fast_scan would probe the upstream DELTA files for an `op`
        # column they don't have; the cascade feed is DML-only by contract,
        # so the probe is skipped outright via ddl_rows=[] in the handler.
        ingest_kw.setdefault("ddl_fast_scan", False)
        self.job = IngestJob(downstream_path, control_path, **ingest_kw)

    def sync_schema(self, auto_ddl: bool = False) -> list[dict]:
        """Assert the downstream schema matches the upstream one (names and
        types, in order; restricted to keys + `columns` for a projected
        replica). Cascades replicate DML only — run this at edge start and
        after any upstream DDL. auto_ddl=True derives and APPLIES the
        missing downstream DDL (rename-aware via upstream `former_names`,
        widen-lattice-checked) instead of raising — the edge-restart
        healing step; returns the descriptors applied."""
        return _sync_replica_schema(
            self.upstream, self.job.table, self.columns, auto_ddl=auto_ddl
        )

    # ------------------------------------------------------------- streaming
    def start(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
        fail_after_batches: int | None = None,  # test hook: simulate a crash
    ):
        """Start the edge. available_now=True drains the retained upstream
        changelog and stops (catch-up / test mode); False tails live.
        max_files_per_trigger bounds catch-up micro-batches (a fresh
        checkpoint otherwise sees the whole retained delta history at
        once)."""
        _assert_mor_upstream(self.upstream)
        self.sync_schema()
        applied = {"n": 0}

        def handle(df: DataFrame, batch_id: int) -> None:
            if fail_after_batches is not None and applied["n"] >= fail_after_batches:
                raise RuntimeError("injected crash (test hook)")
            # enforce_watermark=False: the file source orders catch-up
            # micro-batches by file mtime, NOT by upstream commit order, so a
            # later micro-batch can legitimately carry OLDER lsns (e.g.
            # maxFilesPerTrigger splitting a multi-commit backlog). The
            # downstream watermark filter would drop those rows as replays —
            # data loss. Correctness never depended on it here: read-side
            # LWW keyed by (key, lsn) places every row, old-before-new or
            # not, and checkpoint re-delivery is still skipped by batch_id.
            self.job.apply_batch(
                df.sparkSession,
                int(batch_id),
                _replica_feed(df, self.row_predicate, self.columns),
                enforce_watermark=False,
                ddl_rows=[],
            )
            applied["n"] += 1

        writer = (
            self.upstream.stream_changes(spark, max_files_per_trigger)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, spark: SparkSession, checkpoint_dir: str) -> None:
        q = self.start(spark, checkpoint_dir, available_now=True)
        q.awaitTermination()

    # ----------------------------------------------------- cursor-driven edge
    def poll_once(self, spark: SparkSession, cursor_path: str) -> dict:
        """One cursor-driven replication step — the WAP-SAFE edge mode.

        `start()` tails the upstream delta FILE layer, which contains
        staged (and even later-discarded) branch deltas the moment they
        land — on a write-audit-publish upstream that leaks unpublished
        data into the replica. This mode reads via `tail_changes` instead:
        a durable cursor over the upstream's PUBLISHED parent chain, where
        unaudited snapshots are unreachable by construction. Drive it from
        any scheduler (the polling analog of a micro-batch trigger).

        Delivery: at-least-once — the cursor commits only AFTER the
        downstream merge; a crash between them re-applies the same window,
        which the idempotent merge absorbs (batch_id = the window's
        upstream head snapshot id, so an exact redelivery is skipped
        outright and a widened window re-applies old rows as LWW no-ops).
        Same DML-only + retention contract as the streaming edge; raises
        CursorExpiredError if the edge was down past upstream retention
        (re-initsync the target, then resume)."""
        _assert_mor_upstream(self.upstream)
        self.sync_schema()
        chg, cursor = self.upstream.tail_changes(spark, cursor_path)
        if chg is None:
            return {"applied": False, "cursor": cursor}
        batch_id = cursor["snapshot_id"]
        res = self.job.apply_batch(
            spark,
            batch_id,
            _replica_feed(chg, self.row_predicate, self.columns),
            enforce_watermark=False,
            ddl_rows=[],
        )
        LakehouseTable.commit_cursor(cursor_path, cursor)
        return {"applied": True, "batch_id": batch_id, "cursor": cursor,
                "result": res}

    def run_until_caught_up(
        self, spark: SparkSession, cursor_path: str, max_polls: int = 1000
    ) -> int:
        """Poll until the published upstream head is fully applied; returns
        the number of windows applied (the catch-up analog of
        available_now=True). Raises if max_polls windows still didn't catch
        up — a silent partial catch-up must not read as success."""
        n = 0
        for _ in range(max_polls):
            if not self.poll_once(spark, cursor_path)["applied"]:
                return n
            n += 1
        raise RuntimeError(
            f"edge still behind after {max_polls} windows — raise max_polls "
            "or keep polling"
        )

    def lag(self) -> dict:
        """Replication lag in LSNs — the edge's health metric (reference
        analog: the audit table's source-vs-target recovery points). Both
        sides are driver-side metadata reads (snapshot json), no data I/O:
        upstream watermark = highest LSN committed to A; downstream
        watermark = highest LSN the edge has applied to B. lag_lsns == 0
        means the replica is caught up to every committed upstream batch."""
        up = self.upstream.current_snapshot().get("watermark_lsn") or 0
        down = self.job.table.current_snapshot().get("watermark_lsn") or 0
        return {"upstream_lsn": up, "downstream_lsn": down, "lag_lsns": up - down}


@dataclass
class CascadeTarget:
    """One replica in a CascadeFanout: a downstream table plus its optional
    filter/projection (see CascadeJob for the semantics of each)."""

    name: str
    table_path: str
    row_predicate: Column | str | None = None
    columns: list[str] | None = None


class CascadeFanout:
    """N downstream replicas from ONE pass over the upstream changelog.

    Running N independent CascadeJob edges works, but each runs its own
    file stream over A's delta layer — N× read (and decode) amplification
    on the upstream storage, the thing a busy hub table can't afford. The
    fan-out reads each micro-batch ONCE, persists it, and submits every
    target's filter→re-encode→apply from a thread pool over the shared
    cached batch (the same cluster-saturating pattern as the multi-table
    router and `initsync_all`; per-target commits are independent — each
    replica has its own table dir + control dir).

    Failure semantics: any target's failure fails the micro-batch; on
    resume the checkpoint re-delivers it and targets that already committed
    skip by batch_id — per-replica exactly-once, no partial-batch holes."""

    def __init__(
        self,
        upstream_path: str,
        targets: list[CascadeTarget],
        control_root: str,
        apply_concurrency: int = 8,
        **ingest_kw,
    ):
        names = [t.name for t in targets]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate target names: {names}")
        self.upstream = LakehouseTable(upstream_path)
        self.targets = list(targets)
        self.apply_concurrency = apply_concurrency
        ingest_kw.setdefault("ddl_fast_scan", False)
        self.jobs = {
            t.name: IngestJob(
                t.table_path, os.path.join(control_root, t.name), **ingest_kw
            )
            for t in targets
        }

    def sync_schema(self, auto_ddl: bool = False) -> dict[str, list[dict]]:
        return {
            t.name: _sync_replica_schema(
                self.upstream, self.jobs[t.name].table, t.columns, auto_ddl=auto_ddl
            )
            for t in self.targets
        }

    def start(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
        fail_after_batches: int | None = None,  # test hook: simulate a crash
    ):
        _assert_mor_upstream(self.upstream)
        self.sync_schema()
        applied = {"n": 0}

        def handle(df: DataFrame, batch_id: int) -> None:
            if fail_after_batches is not None and applied["n"] >= fail_after_batches:
                raise RuntimeError("injected crash (test hook)")
            cached = df.persist()
            try:

                def one(t: CascadeTarget) -> None:
                    # watermark filter off for the same mtime-vs-commit-order
                    # reason as CascadeJob (see module docstring)
                    self.jobs[t.name].apply_batch(
                        cached.sparkSession,
                        int(batch_id),
                        _replica_feed(cached, t.row_predicate, t.columns),
                        enforce_watermark=False,
                        ddl_rows=[],
                    )

                workers = max(1, min(self.apply_concurrency, len(self.targets)))
                if workers == 1:
                    for t in self.targets:
                        one(t)
                else:
                    with ThreadPoolExecutor(max_workers=workers) as ex:
                        # list() drains the iterator so the first failure
                        # propagates (fail the batch, resume from checkpoint)
                        list(ex.map(one, self.targets))
            finally:
                cached.unpersist()
            applied["n"] += 1

        writer = (
            self.upstream.stream_changes(spark, max_files_per_trigger)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, spark: SparkSession, checkpoint_dir: str) -> None:
        q = self.start(spark, checkpoint_dir, available_now=True)
        q.awaitTermination()

    def lag(self) -> dict[str, dict]:
        """Per-target replication lag in LSNs (see CascadeJob.lag). Caveat
        for filtered replicas: a target's watermark advances only when a
        batch delivers it at least one row, so a predicate that filters a
        whole batch away shows transient lag that the next matching row
        clears — treat lag as "behind by <= N LSNs", exact for full
        replicas."""
        up = self.upstream.current_snapshot().get("watermark_lsn") or 0
        out = {}
        for t in self.targets:
            down = self.jobs[t.name].table.current_snapshot().get("watermark_lsn") or 0
            out[t.name] = {
                "upstream_lsn": up, "downstream_lsn": down, "lag_lsns": up - down,
            }
        return out
