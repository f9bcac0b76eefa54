"""Live table→table replication chaining (the K1 producer loop, closed).

The reference topology publishes an applied table's changes back onto the
bus so further targets consume them like any source feed (extract → Kafka →
apply → Kafka → apply...; SURVEY.md §2 K1/S4). Here the hop is one
cursor-polled edge per target (the protocol in `streaming/cursor.py`):

    upstream.tail_window ─┬─ one merge, same shape ─→ downstream link_merge
                          └─ any other window ──────→ typed projection
                                                      → downstream apply_changes

- Transport: in-lake (the edge reads the upstream's committed changelog
  directly — no broker needed). The changelog is already typed and
  columnar, so the hop hands it to the downstream merge as typed rows: no
  JSON envelope, no Python decode. A real bus hop re-encodes the
  changelog as a change-event feed (`sources/kafka.py`, the external
  wire) and the far side ingests it like any source feed.
- Delivery: each poll reads the upstream commits since the edge's cursor,
  in commit order, along the published parent chain (WAP-staged batches
  are unreachable). The window is pinned before the apply, so after a
  lost cursor commit the re-poll gets the identical window, which the
  downstream merge skips by batch_id (the window's upstream head snapshot
  id); the next poll then reads what the upstream committed meanwhile.
  Net effect: exactly-once table state.
- Chains compose: B can itself cascade to C (each edge has its own
  cursor + control table), which is how fan-out replication trees are
  built without re-reading A.

Scale notes (100 TB): each window moves only the upstream COMMIT DELTA
(collapsed changesets), never the table. A window of exactly one upstream
merge into a full, unfiltered replica of the same schema and bucket count
— every steady-state poll of a live edge — moves no rows at all: the
upstream already wrote that changeset collapsed, typed and bucketed the
way the replica would, so the replica commits the same files by hard link
(zero Spark jobs; no new bytes on the same filesystem until compaction
rewrites them). Every other window runs the collapse→bucketed-merge half
of first-hop ingest — scan → collapse → bucketed write, entirely in the
JVM (no `to_json`, no Arrow IPC, no Python workers), two shuffles per
window. Either way, O(window) commit metadata.

DML only: schema changes do NOT flow through the changelog (the reference
routes DDL on the bus; the in-lake delta files carry data rows only). Apply
upstream DDL to the downstream table out-of-band (`apply_ddl` with the same
descriptors) before the next poll. Every apply runs `sync_schema()`, which
verifies name/type alignment and raises on drift, so a cascade never
silently nulls a renamed column; `sync_schema(auto_ddl=True)` goes further
and DERIVES the downstream DDL from the upstream schema (renames resolved
via `former_names` → field-id remap, never drop+add), making the heal after
upstream DDL a single call.

Retention contract: the upstream's retained snapshots are the edge's
transport — keep the upstream's `expire_snapshots` retention longer than
the longest edge outage (the Kafka-retention rule). An edge down past
retention, or an upstream `rollback_to` or `overwrite` of a non-empty
table inside its window (neither writes change rows for the rows it
removes), raises CursorExpiredError: re-initsync the target, then resume.
An upstream's first overwrite, onto an empty table, replicates as inserts.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.operators.merge import MASK_COL
from data_pipeline_spark.plans.table_format import ChangeWindow, LakehouseTable
from data_pipeline_spark.schemas import MERGE_KEY
from data_pipeline_spark.streaming.cursor import lsn_lag, poll_window, run_until_caught_up
from data_pipeline_spark.streaming.ingest import MAX_APPLY_THREADS, IngestJob


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

    Runs on batch or streaming changelog frames, before the changelog is
    projected for the replica (``_apply_replica``) or re-encoded for a bus
    (``sources/kafka.py``): the D-conversion needs ``_change_op``."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    keep_op = F.when(
        (F.col("_change_op") == "D") | pred, F.col("_change_op")
    ).otherwise(F.lit("D"))
    return changes.withColumn("_change_op", keep_op)


def _fields(table: LakehouseTable, schema_id: int) -> list[tuple[str, str]]:
    """(name, type) of each column of one schema version, in order."""
    return [(f["name"], f["type"]) for f in table._load_schema(schema_id)["fields"]]


def _linkable(w: ChangeWindow, replica: LakehouseTable) -> list[dict] | None:
    """The upstream files a full replica can commit by reference for the
    window `w`, or None when the window must be applied as typed rows,
    decided from the window's metadata alone. Linkable means: exactly one
    commit in the window changes rows, and it is a merge or cherry-pick
    whose new files are all typed deltas written under a schema equal to
    the replica's current one (names and types, in order) and a spec with
    the replica's bucket count, into a full-mode replica. Such files
    already hold the collapsed changeset (at most one row per key) in the
    replica's own file layout and bucket routing, so re-collapsing and
    re-bucketing them would rewrite the same rows."""
    if len(w.commits) != 1 or w.commits[0][0]["kind"] not in ("merge", "cherry-pick"):
        return None
    upstream, (snap, entries) = w.table, w.commits[0]
    down = replica.current_snapshot()
    if replica.update_mode(down) != "full":
        return None
    shape = _fields(replica, down["schema_id"])
    specs = upstream.table_specs(snap)
    if all(
        e.get("typed") and e["layer"] == "delta"
        and specs.get(e["spec_id"]) == down["n_buckets"]
        and _fields(upstream, e["schema_id"]) == shape
        for e in entries
    ):
        return entries
    return None


def _apply_replica(
    job: IngestJob,
    spark: SparkSession,
    w: ChangeWindow,
    row_predicate: Column | str | None,
    changes: Callable[[], DataFrame] | None = None,
) -> dict:
    """Apply one changelog window `w` to one replica target — the single
    place that chooses how:

    - by reference: an unfiltered replica whose window `_linkable` accepts
      (one merge, same shape; every steady-state poll of a live full
      edge) commits the upstream's delta files by hard link
      (`LakehouseTable.link_merge`) through the target's `_apply` tail
      (maintenance wait, control record, maintenance submit, abort alert):
      zero Spark jobs, and no new bytes on the same filesystem until
      compaction;
    - as typed rows, for every other window (catch-up over several
      merges, filtered or projected replicas, untyped or legacy files, a
      bucket-count or schema mismatch, a partial-mode replica): filter →
      (lsn, op, <downstream columns>) → the target's `apply_changes`
      (collapse → bucketed merge, all in the JVM). Each column is cast to
      the downstream type and projected to the downstream schema, which
      `sync_schema` has verified is the upstream's restricted to the keys
      + the edge's `columns`.

    A partial-mode upstream is refused either way: a replica applies full
    images only. `changes` builds the window's change rows (default
    `w.changes`); only the typed path calls it."""
    batch_id = w.to_id
    if w.table.update_mode(w.head) == "partial":
        raise ValueError(
            "cascade requires a full-image changelog; this one carries "
            f"{MASK_COL} (partial-update table) — a replica applies full "
            "images only, which would lose the mask's set-to-null/unset "
            "distinction"
        )
    if row_predicate is None:
        linked = _linkable(w, job.table)
        if linked is not None:
            return job._apply(
                spark, batch_id, lambda: job.table.link_merge(batch_id, w.table, linked)
            )
    chg = changes() if changes is not None else w.changes(spark)
    if row_predicate is not None:
        chg = filter_replica_changes(chg, row_predicate)
    # D rows get null non-key columns, as a decoded tombstone does. A
    # linked D row instead keeps whatever the upstream wrote there (an
    # upstream decodes a D event's payload, if it has one). The two differ
    # only in values nothing reads: reads and compaction resolve a key by
    # its (lsn, op) alone, and `changes_to_feed` and the Debezium publisher
    # emit a D row's key without its columns.
    live = F.col("_change_op") != "D"
    typed = chg.select(
        F.col("lsn"),
        F.col("_change_op").alias("op"),
        *[
            (F.col(f.name) if f.name in MERGE_KEY else F.when(live, F.col(f.name)))
            .cast(f.dataType)
            .alias(f.name)
            for f in job.table.schema_struct().fields
        ],
    )
    # enforce_watermark=False: a window can carry lsns BELOW the replica's
    # watermark (a cherry-pick publishes an older branch merge's lsns after
    # newer ones), which the filter would drop as replays. Read-side LWW
    # keyed by (key, lsn) places every row regardless.
    return job.apply_changes(spark, batch_id, typed, enforce_watermark=False)


def _sync_replica_schema(
    upstream: LakehouseTable,
    downstream: LakehouseTable,
    columns: list[str] | None,
    auto_ddl: bool = False,
) -> list[dict]:
    """Verify the downstream schema equals the upstream one (names and
    types, in order; restricted to keys + `columns` for a projection).

    auto_ddl=True: instead of raising on drift, DERIVE the DDL descriptors
    that bring the downstream in line and apply them — the healing step
    after upstream DDL. The diff is deterministic because
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
            "sync_schema(auto_ddl=True) derives it — then poll the "
            f"edge again): upstream={up} downstream={down}"
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
    """One replication edge: keep `downstream` identical to `upstream` by
    polling its changelog with a durable cursor. Construction mirrors
    IngestJob (the downstream half IS an IngestJob: each window lands
    through its `apply_changes`, or by reference — see `_apply_replica`)."""

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
        self.job = IngestJob(downstream_path, control_path, **ingest_kw)

    def sync_schema(self, auto_ddl: bool = False) -> list[dict]:
        """Assert the downstream schema matches the upstream one (names and
        types, in order; restricted to keys + `columns` for a projected
        replica). Cascades replicate DML only — every poll runs this before
        its apply. auto_ddl=True derives and APPLIES the missing downstream
        DDL (rename-aware via upstream `former_names`, widen-lattice-checked)
        instead of raising — the healing step; returns the descriptors
        applied. Waits for the replica's background maintenance first, so
        a healing DDL commit never races a compaction."""
        self.job.wait_maintenance()
        return _sync_replica_schema(
            self.upstream, self.job.table, self.columns, auto_ddl=auto_ddl
        )

    def poll_once(self, spark: SparkSession, cursor_path: str) -> dict:
        """One replication step over the window since the cursor; drive it
        from any scheduler. Raises on schema drift (see `sync_schema`) and
        CursorExpiredError (re-initsync the target, then resume)."""

        def apply(w: ChangeWindow) -> dict:
            self.sync_schema()
            return _apply_replica(self.job, spark, w, self.row_predicate)

        return poll_window(self.upstream, cursor_path, apply)

    def run_until_caught_up(
        self, spark: SparkSession, cursor_path: str, max_polls: int = 1000
    ) -> int:
        """Poll until the published upstream head is fully applied, then
        wait for the replica's maintenance; returns the number of windows
        applied."""
        n = run_until_caught_up(
            lambda: self.poll_once(spark, cursor_path)["applied"], max_polls, "edge"
        )
        self.job.wait_maintenance()
        return n

    def lag(self) -> dict:
        """Replication lag in LSNs (see `cursor.lsn_lag`)."""
        return lsn_lag(self.upstream, self.job.table)


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

    Running N independent CascadeJob edges works, but each polls A's
    changelog itself — N× read amplification on the upstream storage,
    the thing a busy hub table can't afford. The fan-out reads each window
    ONCE, persists it, and submits every target's filter→project→apply
    from a thread pool over the shared cached batch (the same
    cluster-saturating pattern as the multi-table router and
    `initsync_all`; per-target commits are independent — each replica has
    its own table dir + control dir).

    Failure semantics: any target's failure fails the poll before the one
    shared cursor commits; the re-poll re-reads the window and targets that
    already committed skip by batch_id — per-replica exactly-once, no
    partial-batch holes."""

    def __init__(
        self,
        upstream_path: str,
        targets: list[CascadeTarget],
        control_root: str,
        **ingest_kw,
    ):
        names = [t.name for t in targets]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate target names: {names}")
        self.upstream = LakehouseTable(upstream_path)
        self.targets = list(targets)
        self.jobs = {
            t.name: IngestJob(
                t.table_path, os.path.join(control_root, t.name), **ingest_kw
            )
            for t in targets
        }

    def sync_schema(self, auto_ddl: bool = False) -> dict[str, list[dict]]:
        self._wait_maintenance()
        return {
            t.name: _sync_replica_schema(
                self.upstream, self.jobs[t.name].table, t.columns, auto_ddl=auto_ddl
            )
            for t in self.targets
        }

    def poll_once(self, spark: SparkSession, cursor_path: str) -> dict:
        """One fan-out step over the window since the cursor; `result` maps
        target name → its apply result."""

        def apply(w: ChangeWindow) -> dict:
            self.sync_schema()
            cached: list[DataFrame] = []
            lock = threading.Lock()

            def changes() -> DataFrame:
                # built and persisted by the first target that applies
                # typed rows; linked targets never build it
                with lock:
                    if not cached:
                        cached.append(w.changes(spark).persist())
                    return cached[0]

            def one(t: CascadeTarget) -> tuple[str, dict]:
                return t.name, _apply_replica(
                    self.jobs[t.name], spark, w, t.row_predicate, changes
                )

            try:
                workers = max(1, min(MAX_APPLY_THREADS, len(self.targets)))
                with ThreadPoolExecutor(max_workers=workers) as ex:
                    # dict() drains the iterator so the first failure
                    # propagates (fail the poll, cursor stays put)
                    return dict(ex.map(one, self.targets))
            finally:
                for df in cached:
                    df.unpersist()

        return poll_window(self.upstream, cursor_path, apply)

    def run_until_caught_up(
        self, spark: SparkSession, cursor_path: str, max_polls: int = 1000
    ) -> int:
        """Poll until every target reflects the published upstream head,
        then wait for the targets' maintenance; returns the number of
        windows applied."""
        n = run_until_caught_up(
            lambda: self.poll_once(spark, cursor_path)["applied"], max_polls, "fan-out"
        )
        self._wait_maintenance()
        return n

    def _wait_maintenance(self) -> None:
        for job in self.jobs.values():
            job.wait_maintenance()

    def lag(self) -> dict[str, dict]:
        """Per-target replication lag in LSNs (see `cursor.lsn_lag`). Caveat
        for filtered replicas: a target's watermark advances only when a
        window delivers it at least one row, so a predicate that filters a
        whole window away shows transient lag that the next matching row
        clears — treat lag as "behind by <= N LSNs", exact for full
        replicas."""
        return {
            t.name: lsn_lag(self.upstream, self.jobs[t.name].table)
            for t in self.targets
        }
