"""Lakehouse table with an atomic JSON commit log: merge-on-read deltas.

The sandbox ships no Iceberg/Delta jars, so Iceberg semantics are emulated
(SURVEY.md §0): atomic snapshot commits, field-id-based schema evolution
(add / rename / type-widen), time travel by snapshot id, bucketed layout.
The public surface (`create / read / merge / apply_ddl / overwrite /
compact`) is deliberately the shape of Iceberg's — with the Iceberg runtime
present, `merge` becomes an equality-delete write (MOR) and `apply_ddl`
becomes `ALTER TABLE`; nothing else changes.

One merge strategy, Iceberg's merge-on-read: a merge writes ONLY the
deduped changeset — including DELETE tombstones — as a delta layer.
O(batch) per commit, no read of existing data; the price is read-side
reconcile (last-writer-wins over base ∪ deltas), bounded by compacting a
bucket once it holds `compact_every` delta commits. At 10^10 events this is
the only viable shape: a copy-on-write merge is O(table) per batch. The
delta files double as the changelog (`read_changes`, `tail_changes`).

`merge` only commits; it never compacts. It reports `maintenance_due`, and
`maintain` — the one upkeep entry point (hot-bucket compaction, manifest-
list folds, auto spec migration) — runs as its own commits. The ingest
job runs it on a background thread after each batch's control record is
durable (streaming/ingest.py), so compaction stays off the path from a
commit to its consumers.

Every snapshot carries `format_version: 2`. `_load_snapshot` is the one
place that checks it: a table an older version wrote is refused until
`upgrade()` (`scripts/maintenance.py --table <path> upgrade`) rewrites its
head once (Iceberg's format-version upgrade).

Layout (paths relative to the table root):

    _meta/version-hint.txt      name of the current snapshot json; swapped by
                                atomic rename (POSIX) — crash-safe; an
                                orphaned snapshot json is simply unreachable
    _meta/snapshot-<n>.json     {format_version: 2, snapshot_id, parent, kind,
                                 batch_id, last_batch_id, watermark_lsn,
                                 schema_id, n_buckets, spec_id, specs,
                                 update_mode, delta_depth, manifests:[{name,
                                 buckets, specs, entry_count}], ...}
    _meta/manifest-<n>-<u>.json {entries:[{path,bucket,schema_id,layer,spec_id,
                                 typed}]}  (typed: the file holds every
                                 column of its schema in the schema's
                                 types, so reads pin that schema; absent
                                 on files written before the mark)
    _meta/schema-<k>.json       {schema_id, last_column_id, fields:[{id,name,
                                 type,former_names}]}
    data/s<n>/_bucket=<b>/*.parquet   (one file per touched bucket per merge;
                                       deltas written before the tombstone
                                       column sit one level deeper, under
                                       _del=<bool>/, and still read)

Data files carry engine columns: ``_lsn`` (writer's LSN per row) always,
``_op`` in delta files (I/U/D — D rows are tombstones), and ``_tomb`` in
merge deltas (true on D rows, null otherwise, so a footer's null count gives
the file's delete count with no data read). Files are bucketed by
``pmod(xxhash64(conv_id), B)`` so merges/compactions parallelize across ≥ B
writer tasks and reads prune by bucket.

Exactly-once: `merge` is idempotent two ways (reference analog: skip records
with lsn ≤ recovery point — data_pipeline/applier recovery vs
process_control, SURVEY.md §2 T4): (a) batch_id ≤ last committed batch_id is
a no-op (foreachBatch replays), (b) rows at or below the table watermark LSN
are filtered (at-least-once transport redelivery).

Concurrency (Iceberg's commit conflict resolution and retry): an operation
places its data files first, then commits through `_commit_op` a pure
`produce(head, snapshot_id)` that derives the snapshot from a head. The
commit is a CAS on the snapshot id and the head; a lost CAS re-runs
`produce` alone on the new head, never the data write, when `_REBASE_OVER`
admits the commits in between. A refused rebase raises CommitConflictError:
the caller re-runs the operation (`with_commit_retry`) or the next
maintenance cycle does.
"""

from __future__ import annotations

import bisect
import collections
import dataclasses
import datetime
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.operators.merge import (
    MASK_COL,
    merge_changeset,
    merge_changeset_partial,
)
from data_pipeline_spark.schemas import LSN_COL, MERGE_KEY

OP_COL = "_op"
#: Merge deltas only: true on tombstones, null otherwise (see file_stats).
#: Not "_del": legacy `_del=` partition dirs would clash with it.
TOMB_COL = "_tomb"

#: Most distinct ids an incremental consumer collects to the driver for a
#: point read (see `bounded_ids`). Past it, the corpus view, the dedup index
#: and `net_changes` take their distributed regime instead: a longer id list
#: pushes megabytes through the driver and an isin filter, and once every
#: bucket is touched the bucket pruning buys nothing.
HIGH_CHURN_CAP = 100_000


def bounded_ids(ids: DataFrame, col: str = "conv_id") -> list | None:
    """The values of `col` in the distinct frame `ids`, or None when there
    are more than HIGH_CHURN_CAP of them. One bounded collect decides the
    regime and yields the point path's id list: `limit` stops the scan at
    the cap, so a point refresh pays one driver round trip (never a count
    followed by a collect) and a high-churn one lands at most cap + 1
    values on the driver before dropping them."""
    rows = ids.limit(HIGH_CHURN_CAP + 1).collect()
    return None if len(rows) > HIGH_CHURN_CAP else [r[col] for r in rows]


#: Types of the engine columns a read may request from data files.
_ENGINE_TYPES: dict[str, T.DataType] = {
    LSN_COL: T.LongType(), OP_COL: T.StringType(), MASK_COL: T.LongType(),
}

#: Written into every snapshot; `_load_snapshot` refuses any other value.
FORMAT_VERSION = 2

_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "timestamp": T.TimestampType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
}
_WIDENS = {("int", "long"), ("float", "double"), ("int", "decimal"), ("long", "decimal")}

#: Spark's `simpleString()` spells LongType "bigint" while this module's
#: canonical name (the one _TYPES/_WIDENS/_stat_codec key on) is "long" —
#: every path that RECORDS a type name (create, apply_ddl) canonicalizes
#: through here, so schema JSON always holds canonical names and a
#: LongType column gets the same stats/pruning/z-order treatment as a
#: DDL-added "long". (Without this, create()-time LongType columns
#: recorded "bigint", which _spark_type rejected on first read.)
_TYPE_ALIASES = {"bigint": "long", "integer": "int", "bool": "boolean"}


def _canon_type(name: str) -> str:
    return _TYPE_ALIASES.get(name, name)

_DECIMAL_RE = __import__("re").compile(r"decimal\((\d+),(\d+)\)")


def _decimal_params(name: str) -> tuple[int, int] | None:
    m = _DECIMAL_RE.fullmatch(name)
    return (int(m.group(1)), int(m.group(2))) if m else None


def _is_legal_widen(frm: str, to: str) -> bool:
    """Widen rules mirroring the reference's type-map direction (NUMBER →
    wider numeric, data_pipeline/db/ type maps — SURVEY.md §2 T7): int→long,
    float→double, int/long→decimal (with enough integer digits), and
    decimal(p1,s1)→decimal(p2,s2) when both the scale and the integer-digit
    capacity grow or stay equal (values always representable exactly)."""
    d_from, d_to = _decimal_params(frm), _decimal_params(to)
    if d_from and d_to:
        p1, s1 = d_from
        p2, s2 = d_to
        return s2 >= s1 and (p2 - s2) >= (p1 - s1)
    if d_to and frm in ("int", "long"):
        p2, s2 = d_to
        need = 10 if frm == "int" else 19
        return (p2 - s2) >= need
    return (frm, to) in _WIDENS


_STAT_EPOCH = datetime.datetime(1970, 1, 1)


def _stat_codec(type_name: str):
    """JSON-safe encoder for a column's parquet-footer min/max, or None if
    the type has no sound file-skipping story here. Timestamps become exact
    epoch MICROSECONDS (integer arithmetic — `.timestamp()` would round
    through a float and could nudge a bound the wrong way, turning the
    prune from conservative into lossy); the session timezone is pinned UTC
    (session.py), so naive predicate values and naive parquet stats agree.
    Decimal is deliberately unsupported: encoding through float can round a
    bound inward. Float/double are deliberately unsupported: Spark SQL orders
    NaN ABOVE every numeric value, while parquet footer min/max excludes NaN
    (and some writers corrupt stats when NaN is present) — a file whose rows
    include NaN could be pruned by `x > v` even though the always-applied
    residual filter would match those rows, and a NaN predicate value poisons
    every interval test in _pred_may_match (all comparisons False → file
    wrongly skipped). Iceberg solves this with per-file nan_value_counts;
    until that bookkeeping exists here, float columns residual-filter but
    never prune. Binary/array stats aren't comparable. Unsupported columns
    simply never prune — correctness never depends on stats."""
    type_name = _canon_type(type_name)
    if type_name in ("int", "long"):
        return int
    if type_name == "string":
        return str
    if type_name == "boolean":
        return bool

    if type_name == "timestamp":
        def enc(v: datetime.datetime) -> int:
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return (v - _STAT_EPOCH) // datetime.timedelta(microseconds=1)

        return enc
    return None


_PRED_OPS = ("=", "<", "<=", ">", ">=")


def _pred_may_match(lo, hi, op: str, v) -> bool:
    """Can any value in [lo, hi] satisfy `x op v`? (The file-skipping
    interval test; nulls never satisfy a predicate, so min/max over the
    non-null values is the complete story.)"""
    if op == "=":
        return lo <= v <= hi
    if op == "<":
        return lo < v
    if op == "<=":
        return lo <= v
    if op == ">":
        return hi > v
    return hi >= v  # ">="


class CommitConflictError(RuntimeError):
    """A commit lost to another writer and could not be rebased onto its
    head (optimistic concurrency, Iceberg-style): re-run the operation
    against the new current snapshot (`with_commit_retry`)."""


class _Refused(Exception):
    """A refused rebase's CommitConflictError, past `_commit_op`'s CAS loop."""


_DELTA_KINDS = ("merge", "cherry-pick")
_FOLD_OVER = _DELTA_KINDS + ("rewrite_manifests",)

#: Commit kinds in (read, head] that `_commit_op` may rebase a commit of
#: each kind over. Delta commits keep their files and re-layer them on any
#: commit that keeps rows, schema and spec; folds drop exactly the files
#: they read, which only delta commits and manifest folds leave in place;
#: None: metadata-only, re-derived from any head (`apply_ddl` still refuses
#: a changed schema); (): the commit needs the head it read.
_REBASE_OVER: dict[str, tuple[str, ...] | None] = {
    **dict.fromkeys(_DELTA_KINDS, _FOLD_OVER + ("compact", "recluster", "migrate_spec")),
    **dict.fromkeys(("compact", "recluster", "migrate_spec"), _FOLD_OVER),
    **dict.fromkeys(("ddl", "evolve_spec", "rewrite_manifests", "rollback"), None),
    **dict.fromkeys(("create", "upgrade", "overwrite", "rebucket"), ()),
}


#: column types a z-order key can normalize through manifest bounds:
#: integrals cast exactly; timestamp via exact integer epoch micros — the
#: SAME encoding _stat_codec records, which is what the normalization reads.
#: Strings are OUT (no fixed-width order-preserving encoding without a rank
#: pass, which a task-local sort can't afford); float/double are OUT (NaN
#: ordering, same story as stats). Validation happens at create().
_ZORDER_TYPES = ("int", "long", "bigint", "timestamp")

_Z_BITS = 16  # cells per dimension = 2^16 — plenty for FILE-level locality


def _zorder_expr(cols: list[tuple[str, str, int, int]]) -> F.Column:
    """Morton (z-order) sort key over 2+ numeric/temporal columns as a pure
    Catalyst expression. cols = (name, type, lo, hi) with lo/hi in the
    column's _stat_codec units (ints; epoch micros for timestamps).

    Raw interleave of unnormalized values degenerates whenever ranges
    differ (the classic Morton pitfall): epoch-micros timestamps vary in
    their middle bits while a small int varies only in its last few, so
    the wide column monopolizes every significant interleave position and
    the "z-order" collapses to a plain sort on it. So each column is first
    NORMALIZED to a 16-bit cell against the table's recorded bounds with a
    power-of-two scale — wide spans shift DOWN (cell = (v-lo) >> (sb-16),
    sb = span bit length), narrow spans shift UP into the cell's HIGH bits
    (cell = (v-lo) << (16-sb)) so a small-cardinality column (turn_idx
    1..16) contends for the top interleave positions instead of parking in
    always-zero low bits — the same idea as Delta's ZORDER range-partition
    ids, but driven by manifest stats the engine already maintains, and
    exact in integer shifts (no double division). Values outside [lo, hi]
    (data newer than the bounds) clamp to the edge cells; null → cell 0
    (nulls cluster in the lowest files).

    The interleave is BIT-level, round-robin MSB-first across columns
    (z bit 0 = col0 bit 15, z bit 1 = col1 bit 15, z bit 2 = col0 bit 14,
    …): byte-level interleaving would hand the 8 most significant z bits
    to col0 alone, so any layout with fewer than ~256 files per bucket
    never subdivides past col0's top byte and the second dimension gets no
    pruning at all (measured: the reclustered-arm regression in
    scripts/bench_zorder.py). Bits pack MSB-first into 64-bit words
    rendered as lpad-16 uppercase hex — lexicographic order of the hex
    string equals unsigned numeric order (two's-complement hex of a
    bit-63 word starts '8'..'F', sorting after all positives, which IS
    unsigned order). The whole key is one WholeStageCodegen projection;
    the sort stays task-local (sortWithinPartitions), exactly like the
    linear cluster_by path."""
    scaled = []
    for name, typ, lo, hi in cols:
        lo, hi = int(lo), int(hi)
        c = F.col(name)
        u = F.unix_micros(c) if typ == "timestamp" else c.cast("long")
        u = F.coalesce(u, F.lit(lo))
        u = F.greatest(F.lit(lo), F.least(F.lit(hi), u)) - F.lit(lo)
        sb = max((hi - lo).bit_length(), 1)
        if sb > _Z_BITS:
            s = F.shiftrightunsigned(u, sb - _Z_BITS)
        else:
            s = F.shiftleft(u, _Z_BITS - sb)
        scaled.append(s)
    n = len(scaled)
    total = _Z_BITS * n
    words: list[F.Column] = []
    acc: F.Column | None = None
    acc_bits = 0
    for p in range(total):  # p = output bit index, 0 = most significant
        b = _Z_BITS - 1 - (p // n)  # source bit within the 16-bit cell
        bit = F.shiftrightunsigned(scaled[p % n], b).bitwiseAND(F.lit(1))
        acc = bit if acc is None else F.shiftleft(acc, 1).bitwiseOR(bit)
        acc_bits += 1
        if acc_bits == 64 or p == total - 1:
            words.append(F.lpad(F.hex(acc), (acc_bits + 3) // 4, "0"))
            acc, acc_bits = None, 0
    return F.concat(*words)


def with_commit_retry(fn, max_retries: int = 5, base_backoff: float = 0.05):
    """Retry `fn` on CommitConflictError, with jittered exponential backoff.

    `_commit_op` retries a lost CAS through this loop, so what reaches a
    caller is a refused rebase: a merge racing a DDL, spec evolution,
    overwrite or rollback, or a fold racing another fold. Wrap the whole
    operation for those — ``with_commit_retry(lambda: tbl.merge(spark,
    bid, changes))``: every public mutator re-reads ``current_snapshot()``
    at entry, so each attempt re-plans and re-writes on the new head. A
    refused attempt's data files stay behind as unreferenced orphans,
    reclaimed by `expire_snapshots` (Iceberg's behaviour)."""
    import random

    for attempt in range(max_retries + 1):
        try:
            return fn()
        except CommitConflictError:
            if attempt == max_retries:
                raise
            time.sleep(base_backoff * (2 ** attempt) * (0.5 + random.random()))


class CursorExpiredError(RuntimeError):
    """A changelog consumer's cursor can't be resumed incrementally: it
    points below the oldest retained snapshot (`expire_snapshots` GC'd the
    delta commits in between), or its window holds a commit that replaces
    rows without writing change rows for the ones it removes: a
    `rollback_to`, or an `overwrite` of a table that held data. The missing
    changes are only recoverable by re-reading the full table. Re-bootstrap
    (full read), then resume tailing from `oldest_retained` (the oldest
    retained snapshot, or the rollback or overwrite)."""

    def __init__(self, cursor_snapshot_id: int, oldest_retained: int):
        super().__init__(
            f"changelog cursor at snapshot {cursor_snapshot_id} expired — "
            f"resume point is snapshot {oldest_retained}; re-bootstrap "
            "with a full table read before resuming incremental tailing"
        )
        self.cursor_snapshot_id = cursor_snapshot_id
        self.oldest_retained = oldest_retained


@dataclasses.dataclass
class ChangeWindow:
    """One changelog window (from_id, to_id] of a table's published chain,
    planned from metadata (`LakehouseTable.tail_window`): `commits` as
    `_change_window` returns them, and the chain `head` at planning time.
    `changes(spark)` plans the change rows (`read_changes`' columns) only
    when called. from_id == to_id: nothing committed since the cursor."""

    table: LakehouseTable
    from_id: int
    to_id: int
    head: dict
    commits: list[tuple[dict, list[dict]]]

    @property
    def cursor(self) -> dict:
        """The cursor that closes this window (`commit_cursor`'s input)."""
        return {"snapshot_id": self.to_id, "from_snapshot_id": self.from_id}

    def changes(self, spark: SparkSession) -> DataFrame:
        return self.table._changes_df(spark, self.head, self.commits)


def _atomic_write(path: str, text: str) -> None:
    """Write `text` to `path` atomically (tmp file + rename)."""
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def _bump_depth(depth: dict[str, int], buckets: set[int]) -> dict[str, int]:
    """`delta_depth` after one delta commit that touched `buckets`: +1 per
    bucket however many files the commit wrote there, so `compact_every`
    counts commits."""
    out = dict(depth)
    for b in buckets:
        out[str(b)] = out.get(str(b), 0) + 1
    return out


def _fold_depth(base: dict, head: dict, folded: set[int]) -> dict[str, int]:
    """`head`'s `delta_depth` after a fold of the buckets `folded` planned at
    `base`: each keeps only the delta commits added since `base`."""
    out = {}
    for b, c in head["delta_depth"].items():
        if int(b) in folded:
            c -= base["delta_depth"].get(b, 0)
        if c > 0:
            out[b] = c
    return out


def _spark_type(name: str) -> T.DataType:
    name = _canon_type(name)
    d = _decimal_params(name)
    if d:
        return T.DecimalType(d[0], d[1])
    if name not in _TYPES:
        raise ValueError(f"unsupported column type: {name}")
    return _TYPES[name]


class LakehouseTable:
    """One table = one directory. Cheap to construct; state lives on disk.

    ref: open the table AT A BRANCH (Iceberg branch refs / the
    write-audit-publish workflow). `LakehouseTable(path, ref="audit")`
    reads and commits against the `audit` branch head — same snapshot
    files, same id space, its own hint — so a streaming job can land
    batches on a staging branch while readers of the main table see only
    published state; `fast_forward` from a main-ref handle publishes.
    ref=None (default) is the main table."""

    def __init__(self, path: str, ref: str | None = None):
        if ref is not None and (not ref or "/" in ref or ref != ref.strip()):
            raise ValueError(f"invalid branch name: {ref!r}")
        self.path = path
        self.ref = ref
        self.meta_dir = os.path.join(path, "_meta")
        self._manifest_cache: dict[str, list[dict]] = {}

    # ------------------------------------------------------------------ meta
    def _hint_path(self) -> str:
        if self.ref is not None:
            return os.path.join(self.meta_dir, f"branch-{self.ref}.hint")
        return os.path.join(self.meta_dir, "version-hint.txt")

    def exists(self) -> bool:
        return os.path.exists(self._hint_path())

    def _head_name(self) -> str:
        """This ref's head snapshot file name, read from its hint."""
        with open(self._hint_path()) as f:
            return f.read().strip()

    def current_snapshot(self) -> dict:
        try:
            name = self._head_name()
        except FileNotFoundError:
            if self.ref is not None:
                raise KeyError(
                    f"no such branch: {self.ref!r} (create_branch first)"
                ) from None
            raise
        return self._load_snapshot(name)

    def _read_json(self, name: str) -> dict:
        with open(os.path.join(self.meta_dir, name)) as f:
            return json.load(f)

    def _head_id(self) -> int | None:
        """This ref's head snapshot id from the hint's file name alone — no
        snapshot load, so commit checks also work on a pre-v2 head."""
        try:
            return int(self._head_name()[len("snapshot-"):-len(".json")])
        except FileNotFoundError:
            return None

    def _load_snapshot(self, name: str) -> dict:
        """The single format gate: every reader and writer loads snapshots
        here, so nothing else needs to know what older versions wrote."""
        snap = self._read_json(name)
        if snap.get("format_version") != FORMAT_VERSION:
            raise ValueError(
                f"table {self.path}: {name} predates table format v"
                f"{FORMAT_VERSION}; run `python scripts/maintenance.py "
                f"--table {self.path} upgrade` once"
            )
        return snap

    def snapshot_by_id(self, snapshot_id: int) -> dict:
        return self._load_snapshot(f"snapshot-{snapshot_id:08d}.json")

    def _next_id(self, snap: dict) -> int:
        """Allocate the next snapshot id: above this ref's head AND above
        every snapshot file on disk. Ids are table-global (Iceberg: lineage
        lives in `parent`, not in id contiguity) so a staging branch and
        main never collide on the same snapshot filename / data dir; the
        link CAS in _commit still catches two writers racing the SAME id.
        One listdir per commit, bounded by the expire_snapshots window."""
        mx = snap["snapshot_id"]
        try:
            for fn in os.listdir(self.meta_dir):
                if fn.startswith("snapshot-") and fn.endswith(".json"):
                    mx = max(mx, int(fn[len("snapshot-"):-len(".json")]))
        except FileNotFoundError:
            pass
        # also skip past data dirs a crashed writer renamed into place but
        # never committed — contending with one would conflict forever
        try:
            for fn in os.listdir(os.path.join(self.path, "data")):
                if fn.startswith("s") and fn[1:].isdigit():
                    mx = max(mx, int(fn[1:]))
        except FileNotFoundError:
            pass
        return mx + 1

    # ----------------------------------------------------------------- refs
    # Named snapshot refs (Iceberg's tags): a tag pins a snapshot — and every
    # data/manifest file it references — out of `expire_snapshots`' reach, so
    # a consumer that must re-read an exact historical state months later
    # (e.g. a training corpus export) names the tag instead of racing GC.
    # Refs live in one refs.json beside the snapshots; tag/untag are
    # maintenance ops under the same single-maintainer assumption as
    # expire_snapshots (the write itself is atomic tmp+rename).

    def _refs(self) -> dict[str, dict]:
        try:
            return self._read_json("refs.json")
        except FileNotFoundError:
            return {}

    def tags(self) -> dict[str, dict]:
        """name -> {"snapshot_id", "created_at"} for every live tag."""
        return self._refs()

    def tag_snapshot(
        self, name: str, snapshot_id: int | None = None, replace: bool = False
    ) -> dict:
        """Pin `snapshot_id` (default: current) under `name`. Raises if the
        snapshot doesn't exist, or if the tag exists and points elsewhere
        (pass replace=True to move it — e.g. re-running an export).

        A tag pins STATE reads (`read(tag=...)`), not changelog continuity:
        if expiry drops the snapshots between a tagged island and the
        current chain, `history()`/`read_changes` stop at the gap — the
        same trade Iceberg makes for incremental scans over expired
        history."""
        if not name or "/" in name or name != name.strip():
            raise ValueError(f"invalid tag name: {name!r}")
        snap = (
            self.current_snapshot() if snapshot_id is None
            else self.snapshot_by_id(snapshot_id)  # raises if missing
        )
        refs = self._refs()
        old = refs.get(name)
        if old is not None and not replace and old["snapshot_id"] != snap["snapshot_id"]:
            raise ValueError(
                f"tag {name!r} already pins snapshot {old['snapshot_id']} "
                f"(pass replace=True to move it to {snap['snapshot_id']})"
            )
        refs[name] = {"snapshot_id": snap["snapshot_id"], "created_at": time.time()}
        self._write_json("refs.json", refs)
        return refs[name]

    def remove_tag(self, name: str) -> dict:
        """Drop a tag; the snapshot becomes expirable again."""
        refs = self._refs()
        gone = refs.pop(name, None)
        if gone is None:
            raise KeyError(f"no such tag: {name!r}")
        self._write_json("refs.json", refs)
        return gone

    # ------------------------------------------------------------- branches
    # Branch refs (Iceberg branches / the write-audit-publish workflow).
    # A branch is a movable head: `LakehouseTable(path, ref="audit")`
    # commits against it through the exact same snapshot/manifest machinery
    # as main — snapshot ids are TABLE-GLOBAL (allocated above the global
    # max, see _next_id), lineage lives in `parent` pointers, and each
    # ref's head is one hint file swung by atomic rename. The WAP loop:
    #
    #     create_branch("audit")                      # fork at main head
    #     IngestJob(path, ctl, ref="audit").…         # land batches staged
    #     LakehouseTable(path, ref="audit").read(…)   # audit the staged state
    #     LakehouseTable(path).fast_forward("audit")  # publish (ancestor-
    #                                                 #   checked hint swing)
    #     …or reset_branch(last_good_id)              # discard a bad batch
    #
    # Readers and changelog tailers of the main table never observe
    # unpublished snapshots; a discarded batch never enters the published
    # parent chain, so `read_changes`/`tail_changes` consumers never see
    # its deltas (rollback_to on main can't give that: it appends a
    # correction, the bad deltas stay in the chain). Concurrent writers on
    # different refs are serialized by the snapshot-file link CAS exactly
    # like same-ref writers; per-ref head swings assume one writer per ref
    # (the streaming job), same single-maintainer stance as tags.

    def _branch_hints(self) -> dict[str, str]:
        out = {}
        try:
            names = os.listdir(self.meta_dir)
        except FileNotFoundError:
            return out
        for fn in names:
            if fn.startswith("branch-") and fn.endswith(".hint"):
                try:
                    with open(os.path.join(self.meta_dir, fn)) as f:
                        out[fn[len("branch-"):-len(".hint")]] = f.read().strip()
                except FileNotFoundError:
                    pass  # dropped by a concurrent drop_branch mid-listing
        return out

    def branches(self) -> dict[str, int]:
        """name -> head snapshot_id for every branch."""
        return {
            n: self._load_snapshot(s)["snapshot_id"]
            for n, s in self._branch_hints().items()
        }

    def create_branch(self, name: str, snapshot_id: int | None = None) -> dict:
        """Fork a branch at `snapshot_id` (default: this ref's current
        head). Raises if the branch already exists — a live branch head is
        a writer's commit point; moving it under that writer would lose
        commits (drop_branch first, or reset_branch from the branch
        handle)."""
        if not name or "/" in name or name != name.strip():
            raise ValueError(f"invalid branch name: {name!r}")
        hint = os.path.join(self.meta_dir, f"branch-{name}.hint")
        if os.path.exists(hint):
            raise ValueError(f"branch {name!r} already exists")
        snap = (
            self.current_snapshot() if snapshot_id is None
            else self.snapshot_by_id(snapshot_id)  # raises if missing
        )
        _atomic_write(hint, f"snapshot-{snap['snapshot_id']:08d}.json")
        return {"branch": name, "snapshot_id": snap["snapshot_id"]}

    def drop_branch(self, name: str) -> dict:
        """Remove a branch ref; its unpublished snapshots become
        unreachable and age out via expire_snapshots."""
        hint = os.path.join(self.meta_dir, f"branch-{name}.hint")
        try:
            with open(hint) as f:
                head = f.read().strip()
            os.unlink(hint)
        except FileNotFoundError:
            raise KeyError(f"no such branch: {name!r}") from None
        return {"branch": name, "was_at": self._load_snapshot(head)["snapshot_id"]}

    def reset_branch(self, snapshot_id: int) -> dict:
        """Swing THIS branch's head back to `snapshot_id` — the WAP
        'audit failed, discard' step. No new snapshot is committed: the
        abandoned head simply becomes unreachable (vs rollback_to, which
        appends a correcting snapshot and keeps the bad one in the chain —
        right for published history, wrong for never-published staging).
        Re-delivered batches after the reset point re-apply: the restored
        snapshot's last_batch_id predates them. Branch handles only — the
        main table's published chain must stay append-only."""
        if self.ref is None:
            raise ValueError("reset_branch is for branch handles; use "
                             "rollback_to on the main table")
        target = self.snapshot_by_id(snapshot_id)  # raises if missing
        # forced move (expected_head=None) but still under the hint lock, so
        # a committer racing the reset fails its parent check instead of
        # silently re-advancing a head the operator just rolled back
        self._swing_hint(f"snapshot-{target['snapshot_id']:08d}.json", expected_head=None)
        return {"branch": self.ref, "snapshot_id": snapshot_id}

    def fast_forward(self, from_branch: str) -> dict:
        """Publish: swing THIS ref's head to `from_branch`'s head, iff this
        head is an ancestor of it (a pure fast-forward — no new snapshot,
        no data movement; Iceberg's fastForwardBranch). After the audit
        passes this is the entire publish cost: one hint rename. Raises
        CommitConflictError if the heads have diverged (someone committed
        to this ref since the fork) — republish by re-forking."""
        head = LakehouseTable(self.path, ref=from_branch).current_snapshot()
        cur = self.current_snapshot()
        if head["snapshot_id"] == cur["snapshot_id"]:
            return {"skipped": True, "snapshot_id": cur["snapshot_id"]}
        s = head
        while True:
            pid = s.get("parent")
            if pid == cur["snapshot_id"]:
                break
            if pid is None or pid < cur["snapshot_id"]:
                raise CommitConflictError(
                    f"{self.ref or 'main'} head {cur['snapshot_id']} is not "
                    f"an ancestor of branch {from_branch!r} head "
                    f"{head['snapshot_id']} — diverged; re-fork to publish"
                )
            try:
                s = self.snapshot_by_id(pid)
            except FileNotFoundError:
                raise CommitConflictError(
                    f"ancestry of branch {from_branch!r} expired below "
                    f"snapshot {pid} before reaching head {cur['snapshot_id']}"
                ) from None
        # publish = conditional swing: the head must still be where the
        # ancestor walk saw it, or a concurrent commit would be orphaned
        self._swing_hint(
            f"snapshot-{head['snapshot_id']:08d}.json",
            expected_head=cur["snapshot_id"],
        )
        return {
            "skipped": False,
            "snapshot_id": head["snapshot_id"],
            "published_from": cur["snapshot_id"],
        }

    def cherry_pick(self, snapshot_id: int) -> dict:
        """Re-apply one MERGE snapshot's delta files onto THIS ref's head
        as a new commit (Iceberg's cherrypick_snapshot) — the
        NON-fast-forward publish path for a diverged staging branch. Pure
        metadata: the picked delta files are re-referenced by a new
        manifest, never copied or read. Order safety comes from the
        engine's reconcile semantics, not commit order — per-key winners
        are decided by LSN (LWW / sequential fold), so layering a delta set
        onto a head that advanced past the fork yields exactly the rows a
        direct apply there would have. The batch skip watermark advances to
        the picked batch_id, so a checkpoint redelivery of that batch on
        this ref is a no-op.

        Refuses: non-merge snapshots, bucket-layout mismatch (a rebucket
        between fork and pick re-routes keys), and double-picks (all files
        already present → skipped, idempotent)."""
        src = self.snapshot_by_id(snapshot_id)
        cur = self.current_snapshot()
        if src["kind"] != "merge":
            raise ValueError(
                f"cherry_pick needs a merge snapshot, got {src['kind']!r}"
            )
        if src["n_buckets"] != cur["n_buckets"] or src["spec_id"] != cur["spec_id"]:
            raise ValueError(
                f"bucket layout changed (spec {src['spec_id']}/"
                f"{src['n_buckets']} buckets → spec {cur['spec_id']}/"
                f"{cur['n_buckets']}); the picked files route keys wrong"
            )
        picked = self._own_entries(src)
        if not picked:
            return {"skipped": True, "reason": "no files written by snapshot"}

        def present() -> bool:
            # across the whole retained chain, not just the head: a compact
            # may have folded the picked files out of the head, and a
            # re-pick would re-layer stale deltas and re-emit the batch
            have = {e["path"] for s in self.history() for e in self._files(s)}
            return all(e["path"] in have for e in picked)

        if present():
            return {"skipped": True, "reason": "already present"}
        # divergent-DDL guard: a field id shared by the picked files' schema
        # and the current schema must name the same logical column (same
        # name or rename-lineage overlap) — concurrent add_column on two
        # refs can bind one id to two different columns, and re-layering
        # those files would silently decode one column's data as the other
        if src["schema_id"] != cur["schema_id"]:
            cur_by_id = {
                f["id"]: f for f in self._load_schema(cur["schema_id"])["fields"]
            }
            for sf in self._load_schema(src["schema_id"])["fields"]:
                cf = cur_by_id.get(sf["id"])
                if cf is None:
                    continue  # dropped here: projection just omits it
                if not (
                    {sf["name"], *sf.get("former_names", [])}
                    & {cf["name"], *cf.get("former_names", [])}
                ):
                    raise ValueError(
                        f"field id {sf['id']} names {sf['name']!r} in the "
                        f"picked snapshot's schema but {cf['name']!r} here — "
                        "divergent DDL across refs; replay the batch instead"
                    )
        watermark = max(
            [0] + [fs["lsn_max"] for fs in self.file_stats(picked) if fs["lsn_max"] is not None]
        )
        buckets = {e["bucket"] for e in picked}
        src_batch = src.get("batch_id")

        def produce(head: dict, sid: int) -> dict | None:
            if head is not cur and present():
                return None  # picked by another writer meanwhile
            return {
                **head,
                "batch_id": src_batch,
                "last_batch_id": max(
                    head.get("last_batch_id", -1),
                    src_batch if src_batch is not None else -1,
                ),
                "watermark_lsn": max(head.get("watermark_lsn") or 0, watermark),
                "manifests": head["manifests"] + [self._write_manifest(sid, picked)],
                "delta_depth": _bump_depth(head["delta_depth"], buckets),
                "stats": {"picked_snapshot": snapshot_id, "picked_files": len(picked)},
            }

        new = self._commit_op("cherry-pick", produce, cur)
        if new is None:
            return {"skipped": True, "reason": "already present"}
        return {
            "skipped": False,
            "snapshot_id": new["snapshot_id"],
            "picked_snapshot": snapshot_id,
            "picked_files": len(picked),
        }

    def _load_schema(self, schema_id: int) -> dict:
        return self._read_json(f"schema-{schema_id}.json")

    def schema_struct(self, snap: dict | None = None) -> T.StructType:
        snap = snap or self.current_snapshot()
        sch = self._load_schema(snap["schema_id"])
        return T.StructType(
            [T.StructField(f["name"], _spark_type(f["type"]), True) for f in sch["fields"]]
        )

    def renames(self, snap: dict | None = None) -> dict[str, list[str]]:
        """current column name -> historical names (for payload decode)."""
        snap = snap or self.current_snapshot()
        sch = self._load_schema(snap["schema_id"])
        return {f["name"]: f["former_names"] for f in sch["fields"] if f["former_names"]}

    # ------------------------------------------------------------- manifests
    # A snapshot does NOT inline its file list. It carries a MANIFEST LIST:
    # [{"name", "buckets", "entry_count"}], where each manifest file holds
    # the entries one commit added (Iceberg's manifest-list / manifest-file
    # layering). A merge commit therefore writes O(batch) metadata — one new
    # manifest + the snapshot json with N+1 manifest refs — instead of
    # rewriting the full O(table) file inventory every commit, which is the
    # thing that turns the driver into the bottleneck at 10^10 events.
    # Removal ops (compact, rebucket) rewrite ONLY the manifests
    # whose bucket range intersects the affected buckets; the rest carry by
    # name. Manifest files are immutable → cached by name after first load.
    #
    # Manifest-LIST length is bounded by compaction, not by table size: a
    # delta manifest lives until auto-compaction folds its buckets (depth
    # threshold `compact_every`), so the list holds O(compact_every ×
    # n_buckets) refs worst-case (~100 B each — a few hundred KB at 128
    # buckets), and base manifests consolidate on every compact/rebucket.
    # expire_snapshots deletes manifest files no retained snapshot
    # references.

    def _write_manifest(self, snapshot_id: int, entries: list[dict]) -> dict:
        name = f"manifest-{snapshot_id:08d}-{uuid.uuid4().hex[:8]}.json"
        self._write_json(name, {"entries": entries})
        self._manifest_cache[name] = entries
        return {
            "name": name,
            "buckets": sorted({e["bucket"] for e in entries}),
            "specs": sorted({e["spec_id"] for e in entries}),
            "entry_count": len(entries),
        }

    def _write_manifests(
        self, snapshot_id: int, entries: list[dict], target: int = 100_000
    ) -> list[dict]:
        """Manifest refs for `entries`, grouped by (layer, bucket) so pruned
        reads open the fewest manifests; at most `target` entries each."""
        entries = sorted(entries, key=lambda e: (e["layer"], e["bucket"], e["path"]))
        return [
            self._write_manifest(snapshot_id, entries[i : i + target])
            for i in range(0, len(entries), target)
        ]

    def _manifest_entries(self, name: str) -> list[dict]:
        if name not in self._manifest_cache:
            self._manifest_cache[name] = self._read_json(name)["entries"]
        return self._manifest_cache[name]

    def _files(self, snap: dict) -> list[dict]:
        """All file entries of a snapshot, from its manifests."""
        out: list[dict] = []
        for m in snap["manifests"]:
            out.extend(self._manifest_entries(m["name"]))
        return out

    def files(self, snap: dict | None = None) -> list[dict]:
        """Public accessor for tools/tests: the snapshot's file inventory."""
        return self._files(snap or self.current_snapshot())

    def _own_entries(self, snap: dict) -> list[dict]:
        """The file entries `snap`'s own commit added: its manifests named
        `manifest-<its id>-`, the id `_commit_op` committed it under."""
        prefix = f"manifest-{snap['snapshot_id']:08d}-"
        return [
            e
            for m in snap["manifests"]
            if m["name"].startswith(prefix)
            for e in self._manifest_entries(m["name"])
        ]

    def _carry_without_paths(
        self, snap: dict, new_snapshot_id: int, drop_paths: set[str],
        buckets: set[int], added: list[dict],
    ) -> list[dict]:
        """Manifest refs for a fold that removes the entries `drop_paths`
        (the files it read, whose buckets are `buckets`) from `snap`, or
        from any head it is rebased onto, and adds `added`: manifests that
        lose nothing carry by name, unopened when their buckets are
        disjoint; the rest are rewritten — O(affected manifests), never
        O(table)."""
        carried: list[dict] = []
        for m in snap["manifests"]:
            if not (set(m["buckets"]) & buckets):
                carried.append(m)
                continue
            entries = self._manifest_entries(m["name"])
            rest = [e for e in entries if e["path"] not in drop_paths]
            if len(rest) == len(entries):
                carried.append(m)
            elif rest:
                carried.append(self._write_manifest(new_snapshot_id, rest))
        return carried + ([self._write_manifest(new_snapshot_id, added)] if added else [])

    def _write_json(self, name: str, obj: dict) -> None:
        _atomic_write(os.path.join(self.meta_dir, name), json.dumps(obj))

    #: How old (seconds) an unreachable snapshot file must be before a new
    #: writer may reclaim it as a crash orphan. A *fresh* file at our target
    #: id means a live competitor linked it but hasn't swung the hint yet —
    #: reclaiming that would lose its commit, so it's a conflict instead.
    orphan_reclaim_seconds: float = 60.0

    def _commit_op(
        self, kind: str, produce, base: dict | None, sid: int | None = None
    ) -> dict | None:
        """The one commit path (Iceberg's SnapshotProducer): commit the
        `kind` snapshot `produce(head, snapshot_id)` derives, and return it
        (None when `produce` returns None: nothing left to commit). `produce`
        returns the snapshot's own fields and writes at most manifests,
        named for `snapshot_id`; this fills in `kind`, `snapshot_id`,
        `parent` and `committed_at`. `base` is the snapshot the operation
        read (None for `create`), `sid` the id its data dir was reserved
        under. Once the head has moved past `base`, `produce` runs on the
        new head under a fresh id, after `_rebase_gap` admitted the commits
        in between, and `stats.rebased_over` counts them. A lost CAS is
        retried (`with_commit_retry`); a refused rebase raises at once."""
        read_id = None if base is None else base["snapshot_id"]

        def attempt() -> dict | None:
            nonlocal sid
            head = base if self._head_id() == read_id else self.current_snapshot()
            if sid is None or head is not base:
                sid = self._next_id(head)
            try:
                gap = [] if head is base else self._rebase_gap(kind, read_id, head)
                fields = produce(head, sid)
            except CommitConflictError as e:
                raise _Refused(e) from None
            if fields is None:
                return None
            head_id = None if head is None else head["snapshot_id"]
            new = {
                **fields,
                "kind": kind,
                "snapshot_id": sid,
                "parent": None if kind in ("create", "upgrade") else head_id,
                "committed_at": time.time(),
            }
            if gap:
                new["stats"] = {**new["stats"], "rebased_over": len(gap)}
            try:
                self._commit(new, expected_head=head_id)
            except CommitConflictError as e:
                if _REBASE_OVER[kind] == ():
                    raise _Refused(e) from None
                sid = None
                raise
            return new

        try:
            return with_commit_retry(attempt)
        except _Refused as r:
            raise r.args[0] from None

    def _rebase_gap(self, kind: str, read_id: int | None, head: dict) -> list[dict]:
        """The commits in (read_id, head], oldest first, that a `kind`
        commit planned at `read_id` is rebased over; CommitConflictError
        when `_REBASE_OVER[kind]` refuses one, or `read_id` is no longer an
        ancestor of the head (a branch reset, an expired link)."""
        allowed, gap, s = _REBASE_OVER[kind], [], head
        while s["snapshot_id"] != read_id:
            if allowed is not None and s["kind"] not in allowed:
                raise CommitConflictError(
                    f"{kind} planned at snapshot {read_id} cannot be rebased "
                    f"over {s['kind']} snapshot {s['snapshot_id']}"
                )
            gap.append(s)
            pid = s.get("parent")
            if read_id is None or pid is None or pid < read_id or not os.path.exists(
                os.path.join(self.meta_dir, f"snapshot-{pid:08d}.json")
            ):
                raise CommitConflictError(
                    f"snapshot {read_id} is no longer an ancestor of head "
                    f"{head['snapshot_id']}"
                )
            s = self.snapshot_by_id(pid)
        return gap[::-1]

    def _commit(self, snap: dict, expected_head: int | None = None) -> None:
        """`_commit_op`'s CAS: write the snapshot json, then atomically
        swing the version hint. expected_head defaults to the snapshot's
        parent (see _swing_hint). The json is fully written to a temp file,
        then `os.link`ed to its final name: exactly one linker wins, and
        the winner's file is complete the instant it is visible; the loser
        gets CommitConflictError. On object stores the same CAS comes from
        the catalog.

        Crash orphans (file linked, hint never swung) are reclaimed only when
        demonstrably stale — older than `orphan_reclaim_seconds` — because a
        fresh unreachable file is indistinguishable from a live competitor
        mid-commit, and unlinking *that* would silently discard its commit
        (the liveness window is the same assumption every lease-based
        protocol makes; set it above your longest expected commit pause)."""
        name = f"snapshot-{snap['snapshot_id']:08d}.json"
        path = os.path.join(self.meta_dir, name)
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        linked = False
        try:
            for attempt in (0, 1):
                try:
                    os.link(tmp, path)
                    linked = True
                    break
                except FileExistsError:
                    cur_id = self._head_id()
                    if cur_id is not None and cur_id >= snap["snapshot_id"]:
                        raise CommitConflictError(
                            f"snapshot {snap['snapshot_id']} already committed "
                            "by another writer"
                        ) from None
                    try:
                        age = time.time() - os.stat(path).st_mtime
                    except FileNotFoundError:
                        continue  # a concurrent reclaimer removed it: retry link
                    if attempt == 1 or age < self.orphan_reclaim_seconds:
                        raise CommitConflictError(
                            f"snapshot {snap['snapshot_id']} in flight from a "
                            "concurrent writer (unreachable but fresh)"
                        ) from None
                    try:
                        os.unlink(path)  # stale crash orphan: reclaim once
                    except FileNotFoundError:
                        pass
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        if not linked:
            # Both attempts raced a concurrent reclaimer (link → EEXIST, then
            # stat → ENOENT). Swinging the hint here could publish a snapshot
            # file we never authored — surface the conflict instead.
            raise CommitConflictError(
                f"snapshot {snap['snapshot_id']} link retries exhausted "
                "racing a concurrent reclaimer"
            )
        try:
            self._swing_hint(name, snap["parent"] if expected_head is None else expected_head)
        except CommitConflictError:
            # our snapshot file is dead weight now — remove it so the id
            # doesn't linger as a phantom in the global id space
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
            raise

    #: How long a hint lock may be held before another writer treats it as a
    #: crash leftover. The critical section is a read + a rename (µs); the
    #: window only exists for writers that die inside it.
    hint_lock_reclaim_seconds: float = 60.0

    def _swing_hint(self, name: str, expected_head: int | None) -> None:
        """Conditionally move this ref's head to snapshot file `name`:
        under a short-lived lock, verify the CURRENT head is the new
        snapshot's parent, then rename the hint. This is the serialization
        point Iceberg gets from its catalog CAS: snapshot ids are allocated
        table-globally (`_next_id`), so two writers building from different
        base snapshots never collide on a filename — the parent check here
        is what makes the loser's commit fail instead of silently
        ORPHANING the winner's (a compact built from snapshot N must not
        publish over a merge that committed N+1 while the compact ran).
        expected_head is the head this writer built from (the snapshot's
        parent for commits); None (create / forced reset) skips the check but still serializes the rename under the lock."""
        lock = self._hint_path() + ".lock"
        acquired = False
        try:
            for attempt in range(50):
                try:
                    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.close(fd)
                    acquired = True
                    break
                except FileExistsError:
                    try:
                        st = os.stat(lock)
                    except FileNotFoundError:
                        continue
                    if time.time() - st.st_mtime > self.hint_lock_reclaim_seconds:
                        # Reclaim a crash leftover — but verify IDENTITY
                        # immediately before the unlink: a concurrent
                        # reclaimer may have already replaced the stale
                        # lock with its own FRESH one, and unlinking that
                        # would let two writers into the critical section.
                        # (stat→unlink is still a TOCTOU, but the window is
                        # microseconds against a 60 s staleness bar — the
                        # standard lease-protocol liveness assumption.)
                        try:
                            st2 = os.stat(lock)
                            if (st2.st_ino, st2.st_mtime) == (st.st_ino, st.st_mtime):
                                os.unlink(lock)
                        except FileNotFoundError:
                            pass
                        continue
                    time.sleep(0.002 * (attempt + 1))
            if not acquired:
                raise CommitConflictError(
                    f"hint lock {lock} held by a concurrent writer"
                )
            if expected_head is not None:
                cur_id = self._head_id()
                if cur_id != expected_head:
                    raise CommitConflictError(
                        f"head moved to {cur_id} while this commit was built "
                        f"from head {expected_head} — reload and retry"
                    )
            _atomic_write(self._hint_path(), name)
        finally:
            if acquired:
                try:
                    os.unlink(lock)
                except FileNotFoundError:
                    pass

    # ---------------------------------------------------------------- create
    def create(
        self,
        schema: T.StructType,
        n_buckets: int = 128,
        compact_every: int = 8,
        update_mode: str = "full",
        rewrite_manifests_every: int | None = None,
        cluster_by: list[str] | None = None,
        cluster_order: str = "linear",
        target_file_rows: int | None = None,
        stats_columns: list[str] | None = None,
    ) -> None:
        """Create an empty table. n_buckets bounds merge/compaction write
        parallelism — size it ≥ 4N executor cores (SURVEY.md §7 hard part c).
        Every merge is a delta commit; compact_every bounds the per-bucket
        delta depth at which `maintain` compacts a bucket. Snapshots record
        `format_version: 2` (see the module docstring).

        rewrite_manifests_every: auto-fold the manifest LIST (pure metadata,
        see rewrite_manifests) in `maintain` whenever a merge leaves it at
        least this long. For tables that compact, compaction already
        consolidates; set this on tables deliberately kept at compact_every=∞
        (cascade hubs) so read-planning cost stays bounded without a manual
        maintenance schedule.

        cluster_by: sort order for COMPACTED base files (e.g.
        ["conv_id", "turn_idx"]) — Iceberg's table sort order. Compaction
        sorts each bucket's rows by these columns and records per-file
        min/max of cluster_by[0] in the manifest, so point reads
        (`read(conv_ids=)`) skip whole files whose key range can't match
        (driver-side, zero I/O) and parquet row-group stats prune inside
        the files that are kept. Set target_file_rows so each bucket
        splits into several contiguous-key-range files — that's what
        gives file-level skipping its teeth (one unbounded file per
        bucket always spans the full range). Delta files stay unsorted
        (they're small and short-lived; compaction folds them).

        cluster_order: 'linear' (lexicographic by cluster_by — tight
        bounds on the LEADING column, later columns only tie-break) or
        'zorder' (Delta OPTIMIZE ZORDER BY / Iceberg z-sort-order analog:
        one Morton key interleaving the cluster_by columns' bits, each
        RANGE-NORMALIZED to 16 bits against the manifests' recorded
        bounds, so every file covers a compact hyper-rectangle and
        `read(where=)` skipping gets comparably tight bounds on EVERY z
        column — the layout for tables queried by more than one
        dimension). Requires ≥ 2 cluster_by columns of integral/timestamp
        type (strings have no fixed-width order-preserving encoding;
        float NaN ordering is unsound for skipping, same rule as
        stats_columns); the z columns are auto-added to stats_columns —
        the normalization reads those bounds, and the table's FIRST base
        write (no bounds yet) sorts linear to record them. Sorting is
        still task-local per bucket; stats recording and pruning are
        IDENTICAL either way — bounds come from written parquet footers,
        so the order changes bound tightness, never soundness. Note
        key_min/key_max point-read pruning on cluster_by[0] keeps working
        but its bounds get wider under zorder (no column is fully sorted);
        use zorder when where-predicates dominate point reads.

        stats_columns: record per-file min/max for these payload columns
        in the manifest (Iceberg's per-column `lower_bounds`/`upper_bounds`)
        whenever BASE files are written — the stats behind
        `read(where=...)` predicate file skipping. Keyed by field id in
        the manifest, so renames don't orphan old files' stats. Columns
        whose type has no sound skipping story (decimal, binary) are
        silently stat-less and never prune.

        update_mode: 'full' (every U carries the complete row image — MSSQL
        CT style; plain LWW merge) or 'partial' (an U carries only the
        columns its UPDATE set — Oracle LogMiner style; sequential-apply
        column fold; delta files persist the `_set_mask` presence bitmask,
        keyed by field id so it survives renames)."""
        if update_mode not in ("full", "partial"):
            raise ValueError(f"update_mode must be full|partial, got {update_mode!r}")
        if cluster_order not in ("linear", "zorder"):
            raise ValueError(f"cluster_order must be linear|zorder, got {cluster_order!r}")
        if cluster_order == "zorder":
            if not cluster_by or len(cluster_by) < 2:
                raise ValueError("cluster_order='zorder' needs >= 2 cluster_by columns "
                                 "(a single-column z-order IS the linear sort)")
            types = {f.name: _canon_type(f.dataType.simpleString()) for f in schema.fields}
            bad = [c for c in cluster_by if types.get(c) not in _ZORDER_TYPES]
            if bad:
                raise ValueError(
                    f"zorder columns must be integral/timestamp, got "
                    f"{ {c: types.get(c) for c in bad} } — strings have no "
                    f"fixed-width order-preserving encoding and float NaN "
                    f"ordering is unsound for file skipping")
            # the z normalization reads these columns' manifest bounds
            stats_columns = sorted(set(stats_columns or []) | set(cluster_by))
        if self.ref is not None:
            raise ValueError("create the main table first, then create_branch "
                             "— a branch cannot exist without a main head")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(os.path.join(self.path, "data"), exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": _canon_type(f.dataType.simpleString()), "former_names": []}
            for i, f in enumerate(schema.fields)
        ]
        self._write_json(
            "schema-0.json",
            {"schema_id": 0, "fields": fields, "last_column_id": len(fields)},
        )
        self._commit_op(
            "create",
            lambda head, sid: {
                "format_version": FORMAT_VERSION,
                "batch_id": None,
                "last_batch_id": -1,
                "watermark_lsn": 0,
                "schema_id": 0,
                "n_buckets": n_buckets,
                "spec_id": 0,
                "specs": {"0": n_buckets},
                "update_mode": update_mode,
                "compact_every": compact_every,
                "rewrite_manifests_every": rewrite_manifests_every,
                "cluster_by": cluster_by,
                "cluster_order": cluster_order,
                "target_file_rows": target_file_rows,
                "stats_columns": stats_columns,
                "manifests": [],
                "delta_depth": {},
                "stats": {},
            },
            None,
            sid=0,
        )

    # ------------------------------------------------------------------ read
    def _read_parts(
        self, spark: SparkSession, snap: dict, entries: list[dict], extra: list[str]
    ) -> DataFrame | None:
        """Read file entries projected to the snapshot's schema (field-id
        mapping: rename→alias, widen→cast, added→null) + engine columns."""
        if not entries:
            return None
        groups: dict[tuple[int, bool], list[str]] = {}
        for e in entries:
            groups.setdefault((e["schema_id"], bool(e.get("typed"))), []).append(
                os.path.join(self.path, e["path"])
            )
        cur_fields = self._load_schema(snap["schema_id"])["fields"]
        parts = []
        for (schema_id, typed), paths in sorted(groups.items()):
            written = self._load_schema(schema_id)
            by_id = {f["id"]: f for f in written["fields"]}
            cols = []
            for f in cur_fields:
                w = by_id.get(f["id"])
                if w is None:
                    cols.append(F.lit(None).cast(_spark_type(f["type"])).alias(f["name"]))
                else:
                    cols.append(F.col(w["name"]).cast(_spark_type(f["type"])).alias(f["name"]))
            cols.extend(F.col(c) for c in extra)
            reader = spark.read
            if typed:
                # A typed file holds every column of its schema in that
                # schema's types, so pin it: an unpinned read starts a Spark
                # job per call just to infer it from the footers. Untyped
                # files (written before the mark, possibly in the caller's
                # types) are still inferred and cast by `cols`.
                reader = reader.schema(T.StructType(
                    [T.StructField(w["name"], _spark_type(w["type"]), True)
                     for w in written["fields"]]
                    + [T.StructField(c, _ENGINE_TYPES[c], True) for c in extra]
                ))
            parts.append(reader.parquet(*paths).select(*cols))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _empty(self, spark: SparkSession, snap: dict, with_lsn: bool) -> DataFrame:
        struct = self.schema_struct(snap)
        if with_lsn:
            struct = T.StructType(struct.fields + [T.StructField(LSN_COL, T.LongType(), True)])
        return spark.createDataFrame([], struct)

    def _reconciled(
        self, spark: SparkSession, snap: dict, buckets: set[int] | None = None,
        keys: list[str] | None = None,
        bucket_sets: dict[int, set[int]] | None = None,
        preds: list[tuple] | None = None,
    ) -> DataFrame | None:
        """Current live rows (with `lsn` column): base ∪ deltas reconciled by
        last-writer-wins; tombstones suppressed. None if no files.

        keys: requested merge-key values — clustered base files whose
        manifest key range matches none of them are skipped before any
        Spark I/O (see _prune_by_key). Safe under LWW reconcile: a pruned
        file by definition holds no rows for the requested keys, so its
        absence can't change which version wins.

        buckets: keep only entries with these bucket ids — single-spec
        callers only (bucket ids are spec-relative). bucket_sets: the
        mixed-spec form, spec_id → kept buckets; entries of a spec not in
        the map are dropped. Mutually exclusive."""
        entries = self._files(snap)
        if keys:
            entries = self._prune_by_key(entries, keys, self._field_id(snap, "conv_id"))
        if preds:
            entries = self._prune_by_preds(entries, preds, snap)
        if bucket_sets is not None:
            entries = [
                e
                for e in entries
                if e["bucket"] in bucket_sets.get(e["spec_id"], ())
            ]
        elif buckets is not None:
            entries = [e for e in entries if e["bucket"] in buckets]
        base_e = [e for e in entries if e["layer"] == "base"]
        delta_e = [e for e in entries if e["layer"] == "delta"]
        data_cols = [f["name"] for f in self._load_schema(snap["schema_id"])["fields"]]

        partial = self.update_mode(snap) == "partial"
        base = self._read_parts(spark, snap, base_e, [LSN_COL])
        if base is not None:
            base = base.select(
                F.col(LSN_COL).alias("lsn"), F.lit("I").alias("op"), *data_cols
            )
        if not delta_e:
            return base
        delta_extra = [LSN_COL, OP_COL] + ([MASK_COL] if partial else [])
        delta = self._read_parts(spark, snap, delta_e, delta_extra)
        if partial:
            delta = delta.select(
                F.col(LSN_COL).alias("lsn"), F.col(OP_COL).alias("op"),
                F.col(MASK_COL), *data_cols,
            )
            return merge_changeset_partial(
                base, delta, self.field_bits(snap), extra_cols=()
            )
        delta = delta.select(
            F.col(LSN_COL).alias("lsn"), F.col(OP_COL).alias("op"), *data_cols
        )
        return merge_changeset(base, delta, data_cols, extra_cols=())

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        with_lsn: bool = False,
        conv_ids: list[str] | None = None,
        tag: str | None = None,
        where: list[tuple] | None = None,
        as_of_ts=None,
    ) -> DataFrame:
        """Read the table at the current (or a past) snapshot. MOR deltas are
        reconciled here (the read-side LWW); a snapshot without deltas
        takes the no-delta fast path (plain scan, no shuffle).

        where: conjunctive simple predicates [(col, op, value), ...] with op
        in =/</<=/>/>= over payload columns. Always applied as a row filter
        AFTER reconcile (so it is exact under MOR/partial images); when the
        table records `stats_columns` bounds, base files whose [min, max]
        can't match are additionally skipped before any Spark I/O — see
        _prune_by_preds for the delta-aware soundness rule. At 100 TB this
        is the difference between "scan everything for one day's turns" and
        reading the few files whose ts range overlaps the day (given
        compaction has folded the delta stacks; freshly-updated buckets
        read fully, which is exactly the correct trade).

        tag: read at a named ref (`tag_snapshot`) — the GC-safe way to time
        travel, since tagged snapshots survive expire_snapshots.

        as_of_ts: read at the latest snapshot committed at or before this
        wall-clock time (unix seconds or datetime; Iceberg's TIMESTAMP AS
        OF) — resolution via snapshot_as_of, subject to retention.

        conv_ids: point-lookup path — prunes the scan to ONLY the buckets
        those conversations hash into (the engine's bucket-partition-pruning
        analog of Iceberg's partition pruning: metadata-level file skipping,
        then a row filter inside the kept buckets). At 128+ buckets a
        point read touches 1/n_buckets of the files. On tables created
        with cluster_by, files inside the kept buckets are additionally
        skipped by their manifest key range (_prune_by_key) — so once the
        id list outgrows n_buckets (every bucket hit), the scan still
        reads only the files whose key range can match, and parquet
        row-group stats prune inside those."""
        if sum(x is not None for x in (snapshot_id, tag, as_of_ts)) > 1:
            raise ValueError("pass exactly one of snapshot_id / tag / as_of_ts")
        if tag is not None:
            refs = self._refs()
            if tag not in refs:
                raise KeyError(f"no such tag: {tag!r}")
            snapshot_id = refs[tag]["snapshot_id"]
        if as_of_ts is not None:
            snapshot_id = self.snapshot_as_of(as_of_ts)["snapshot_id"]
        snap = self.current_snapshot() if snapshot_id is None else self.snapshot_by_id(snapshot_id)
        data_cols = [f["name"] for f in self._load_schema(snap["schema_id"])["fields"]]
        bucket_sets = None
        if conv_ids is not None:
            if not conv_ids:
                return self._empty(spark, snap, with_lsn)
            # one bucket set PER live spec: during a spec migration the
            # point read stays pruned on both layouts (old-spec base files
            # by their old bucket, post-evolve files by the new one)
            bucket_sets = self._buckets_by_spec(
                spark, conv_ids, self.table_specs(snap)
            )
        # key-range pruning is sound only when the recorded per-file stats
        # (cluster_by[0]) are stats OF the filtered column — a table
        # clustered by some other column (ts, text) must not prune on
        # conv_id literals: wrong-typed bisect at best, silently dropped
        # matching files at worst
        prunable = (snap.get("cluster_by") or [None])[0] == "conv_id"
        preds = self._parse_preds(snap, where) if where else None
        rec = self._reconciled(
            spark, snap, bucket_sets=bucket_sets,
            keys=conv_ids if prunable else None, preds=preds,
        )
        if rec is None:
            return self._empty(spark, snap, with_lsn)
        if conv_ids is not None:
            if len(conv_ids) <= 1_000:
                rec = rec.where(F.col("conv_id").isin(*conv_ids))
            else:
                # a 10⁴–10⁵-literal isin is a Catalyst expression bomb
                # (multi-second analysis, giant codegen); past ~1k ids the
                # exact filter becomes a broadcast semi-join on the same
                # list — file/bucket pruning above already used the list
                # driver-side, this is only the residual row filter
                ids_df = spark.createDataFrame(
                    [(c,) for c in conv_ids], "conv_id string"
                )
                rec = rec.join(F.broadcast(ids_df), "conv_id", "left_semi")
        if preds:
            rec = rec.where(self._residual_filter(preds))
        out_cols = list(data_cols) + ([F.col("lsn").alias(LSN_COL)] if with_lsn else [])
        return rec.select(*out_cols)

    @staticmethod
    def _residual_filter(preds: list[tuple]) -> F.Column:
        """The exact row filter for parsed predicates — always applied, so
        file skipping is never load-bearing for correctness."""
        import operator as _op

        ops = {"=": _op.eq, "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge}
        cond = F.lit(True)
        for col, op, val, _fid, _ev in preds:
            cond = cond & ops[op](F.col(col), F.lit(val))
        return cond

    def plan_scan(
        self,
        snapshot_id: int | None = None,
        where: list[tuple] | None = None,
        conv_ids: list[str] | None = None,
        spark: SparkSession | None = None,
    ) -> dict:
        """Dry-run the file-skipping half of read() — the Iceberg
        scan-planning report. Returns counts only (driver-side metadata
        walk, zero data I/O): how many files the predicates/keys kept vs
        pruned, and how many buckets were protected from predicate pruning
        by live delta stacks. Observability for tests and benches; read()
        does the same pruning inline.

        Pass `spark` to additionally model read()'s BUCKET pruning for
        `conv_ids` (the ids' bucket membership is computed by the same
        Spark xxhash64 the write path routes with, on the driver, starting
        no Spark job; without a session only key-range skipping is
        reported, so the counts UNDERSTATE what read() skips on unclustered
        tables)."""
        snap = self.current_snapshot() if snapshot_id is None else self.snapshot_by_id(snapshot_id)
        entries = self._files(snap)
        total = len(entries)
        kept = list(entries)
        if conv_ids and spark is not None:
            bucket_sets = self._buckets_by_spec(
                spark, conv_ids, self.table_specs(snap)
            )
            kept = [
                e
                for e in kept
                if e["bucket"] in bucket_sets.get(e["spec_id"], set())
            ]
        if conv_ids and (snap.get("cluster_by") or [None])[0] == "conv_id":
            kept = self._prune_by_key(kept, conv_ids, self._field_id(snap, "conv_id"))
        delta_buckets = {
            (e["spec_id"], e["bucket"]) for e in kept if e["layer"] == "delta"
        }
        if where:
            kept = self._prune_by_preds(kept, self._parse_preds(snap, where), snap)
        return {
            "files_total": total,
            "files_kept": len(kept),
            "files_pruned": total - len(kept),
            "buckets_with_deltas": len(delta_buckets),
        }

    # ----------------------------------------------------------------- write
    def bucket_expr(self, n_buckets: int) -> F.Column:
        return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")

    # -------------------------------------------------- partition-spec state
    def spec_id(self, snap: dict | None = None) -> int:
        """Current write-spec id."""
        snap = snap or self.current_snapshot()
        return snap["spec_id"]

    def table_specs(self, snap: dict | None = None) -> dict[int, int]:
        """spec_id → n_buckets for every spec that may still own live files
        at this snapshot (Iceberg's partition-specs list). Single-entry on
        tables that never evolved; two entries between evolve_bucket_spec
        and the completion of migrate_spec."""
        snap = snap or self.current_snapshot()
        return {int(s): int(n) for s, n in snap["specs"].items()}

    def _field_id(self, snap: dict, name: str) -> int | None:
        """Field id of `name` in the snapshot's schema, or None."""
        return next(
            (f["id"] for f in self._load_schema(snap["schema_id"])["fields"]
             if f["name"] == name),
            None,
        )

    def _mixed_spec(self, snap: dict) -> bool:
        """True while files written under a retired spec are still live —
        the window where compaction must preserve tombstones (a tombstone
        may shadow a row whose base copy lives in an old-spec file) and
        point reads prune per spec."""
        if len(self.table_specs(snap)) <= 1:
            return False
        cur = self.spec_id(snap)
        return any(e["spec_id"] != cur for e in self._files(snap))

    def _buckets_by_spec(
        self, spark: SparkSession, conv_ids: list[str], specs: dict[int, int]
    ) -> dict[int, set[int]]:
        """Bucket ids the given conversations hash into, under EVERY live
        spec. The ids go in as a pandas-backed local relation, which Spark
        projects and collects on the driver: planning a point read starts
        no Spark job (a list-backed frame would start one per collect)."""
        import pandas as pd

        df = spark.createDataFrame(pd.DataFrame({"conv_id": conv_ids}), "conv_id string")
        # bucket_expr is the single routing definition — the write path and
        # this read-side pruning must never diverge
        rows = df.select(
            *[self.bucket_expr(n).alias(f"s{s}") for s, n in specs.items()]
        ).collect()
        return {s: {r[f"s{s}"] for r in rows} for s in specs}

    def update_mode(self, snap: dict | None = None) -> str:
        snap = snap or self.current_snapshot()
        return snap["update_mode"]

    def field_bits(self, snap: dict | None = None) -> dict[str, int]:
        """Payload column name → field id (= its bit in `_set_mask`) for the
        current schema. Field ids are stable across renames, so masks written
        under an old schema stay correct."""
        snap = snap or self.current_snapshot()
        return {
            f["name"]: f["id"]
            for f in self._load_schema(snap["schema_id"])["fields"]
            if f["name"] not in MERGE_KEY
        }

    def _write_data(
        self, df: DataFrame, snapshot_id: int, schema_id: int, n_buckets: int, layer: str,
        sort_cols: list[str] | None = None,
        max_records_per_file: int | None = None,
        spec_id: int = 0,
    ) -> list[dict]:
        """Write rows (with _bucket, _lsn and — for deltas — _op) under
        data/s<id>/_bucket=<b>/, one shuffle (repartition by _bucket) so
        writes parallelize across buckets and each bucket gets one file
        (unless max_records_per_file splits it). Returns file entries.

        sort_cols clusters each bucket's rows (sortWithinPartitions — a
        task-local sort, no extra shuffle); with max_records_per_file the
        writer then splits the sorted stream into sequential files, so
        every file covers a CONTIGUOUS key range — the layout file-level
        min/max skipping needs."""
        # Files hold their schema's types (no-op casts when the rows already
        # do). One that also holds every schema column is marked `typed`, and
        # _read_parts reads it with that schema pinned instead of inferred.
        fields = self._load_schema(schema_id)["fields"]
        typed = all(f["name"] in df.columns for f in fields)
        types = {f["name"]: _spark_type(f["type"]) for f in fields}
        types.update(_ENGINE_TYPES)
        df = df.select(
            *[F.col(c).cast(types[c]).alias(c) if c in types else F.col(c) for c in df.columns]
        )
        shaped = df.repartition(n_buckets, F.col("_bucket"))
        if sort_cols:
            shaped = shaped.sortWithinPartitions("_bucket", *sort_cols)
        writer = shaped.write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        tmp_out = self._tmp_data_dir(snapshot_id)
        writer.partitionBy("_bucket").parquet(tmp_out)
        return self._place_data(tmp_out, snapshot_id, schema_id, layer, spec_id, typed)

    def _tmp_data_dir(self, snapshot_id: int) -> str:
        return os.path.join(self.path, "data", f".tmp-s{snapshot_id}-{uuid.uuid4().hex[:8]}")

    def _place_data(
        self, tmp_out: str, snapshot_id: int, schema_id: int, layer: str, spec_id: int,
        typed: bool,
    ) -> list[dict]:
        """Move a data dir written at `tmp_out` (`_tmp_data_dir`, holding
        _bucket=<b>/*.parquet) into place by atomic rename and return its
        file entries. The target is data/s<snapshot_id>, the id the
        operation reserved; a dir rename fails on a non-empty target, so
        when another writer took it (a merge and its job's compaction that
        reserved the same id) the rename moves on to the next free
        data/s<id>. The snapshot id is settled at commit (`_commit_op`): it
        equals the dir id when uncontended. A crashed writer's
        never-committed dir is skipped by _next_id and reclaimed by
        expire_snapshots like any unreferenced file."""
        import errno

        while True:
            rel = f"data/s{snapshot_id}"
            out = os.path.join(self.path, rel)
            try:
                os.rename(tmp_out, out)
                break
            except OSError as e:
                if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                    raise
                snapshot_id += 1
        entries = []
        for d in sorted(os.listdir(out)):
            if not d.startswith("_bucket="):
                continue
            for fn in sorted(os.listdir(os.path.join(out, d))):
                if fn.endswith(".parquet"):
                    entries.append({
                        "path": os.path.join(rel, d, fn),
                        "bucket": int(d.split("=", 1)[1]),
                        "schema_id": schema_id,
                        "layer": layer,
                        "spec_id": spec_id,
                        "typed": typed,
                    })
        return entries

    def file_stats(self, entries: list[dict]) -> list[dict]:
        """Per-file (rows, lsn_min, lsn_max) from parquet FOOTERS only —
        O(files) metadata reads, zero data I/O — plus `deleted` for files
        with a `_tomb` column: rows minus its null count, since only
        tombstones carry a value. On a 1000-executor cluster
        this is the manifest-stats pattern (writers record stats at write
        time); here the driver reads the footers, threaded (pyarrow drops
        the GIL per read) so this per-commit cost is one parallel sweep,
        not serial driver wall-clock that erodes scaling efficiency."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def one(e: dict) -> dict:
            md = pq.ParquetFile(os.path.join(self.path, e["path"])).metadata
            names = md.schema.names
            lsn_idx = names.index(LSN_COL)
            lsn_min, lsn_max = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(lsn_idx).statistics
                if st is not None and st.has_min_max:
                    lsn_min = st.min if lsn_min is None else min(lsn_min, st.min)
                    lsn_max = st.max if lsn_max is None else max(lsn_max, st.max)
            out = {**e, "rows": md.num_rows, "lsn_min": lsn_min, "lsn_max": lsn_max}
            if TOMB_COL in names:
                tomb_idx = names.index(TOMB_COL)
                nulls = 0
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(tomb_idx).statistics
                    if st is None or not st.has_null_count:
                        # a missing count is unknown, never zero deletes
                        raise ValueError(
                            f"{e['path']}: footer has no {TOMB_COL} null "
                            "count; cannot count the file's deletes"
                        )
                    nulls += st.null_count
                out["deleted"] = md.num_rows - nulls
            return out

        if not entries:
            return []
        with ThreadPoolExecutor(max_workers=min(16, len(entries))) as ex:
            return list(ex.map(one, entries))

    def _stats_fields(self, snap: dict) -> dict[str, dict]:
        """Resolve the table's `stats_columns` against the snapshot's
        schema: CURRENT column name → field dict, for columns that exist
        and whose type has a sound skipping codec. Matches former names
        too, so a stats column configured pre-rename keeps recording after
        the rename (field ids are the stable identity)."""
        cols = snap.get("stats_columns") or []
        if not cols:
            return {}
        fields = self._load_schema(snap["schema_id"])["fields"]
        by_any_name: dict[str, dict] = {}
        for f in fields:
            by_any_name[f["name"]] = f
            for old in f.get("former_names", []):
                by_any_name.setdefault(old, f)
        out: dict[str, dict] = {}
        for c in cols:
            f = by_any_name.get(c)
            if f is not None and _stat_codec(f["type"]) is not None:
                out[f["name"]] = f
        return out

    def _sort_cols(self, snap: dict) -> list | None:
        """The task-local sort for base-file writes: the cluster_by columns
        (linear, Iceberg sort-order style) or ONE computed Morton key over
        them (cluster_order='zorder'). Stats recording and pruning are
        untouched either way — bounds always come from the written files'
        parquet footers, so a sort order can only change how TIGHT the
        bounds are, never whether pruning is sound.

        The z key needs per-column range bounds to normalize against
        (see _zorder_expr); they come from the snapshot's existing manifest
        col_stats — zero extra I/O, no analysis pass. A table's FIRST base
        write (no recorded bounds yet) therefore sorts linear and records
        stats; every later compaction z-orders against them. Bounds lag the
        newest data by one write; out-of-range values clamp to edge cells,
        and the bounds catch up at the next write. Falls back to linear —
        a layout choice, never a failure — when a DDL dropped/retyped z
        columns below the supported shape."""
        cluster_by = snap.get("cluster_by")
        if not cluster_by:
            return None
        if snap.get("cluster_order") != "zorder" or len(cluster_by) < 2:
            return cluster_by
        fields = {
            f["name"]: f for f in self._load_schema(snap["schema_id"])["fields"]
        }
        if not all(
            c in fields and fields[c]["type"] in _ZORDER_TYPES for c in cluster_by
        ):
            return cluster_by
        bounds: dict[str, tuple[int, int]] = {}
        for e in self._files(snap):
            for c in cluster_by:
                mm = (e.get("col_stats") or {}).get(str(fields[c]["id"]))
                if mm is None:
                    continue
                cur = bounds.get(c)
                bounds[c] = (
                    mm[0] if cur is None else min(cur[0], mm[0]),
                    mm[1] if cur is None else max(cur[1], mm[1]),
                )
        if not all(c in bounds for c in cluster_by):
            return cluster_by
        return [
            _zorder_expr(
                [(c, fields[c]["type"], *bounds[c]) for c in cluster_by]
            )
        ]

    def _record_stats(self, entries: list[dict], snap: dict) -> list[dict]:
        """Per-file column bounds from parquet FOOTERS (one threaded
        zero-data-I/O sweep, same pattern as file_stats): `key_min`/
        `key_max` of cluster_by[0] for clustered tables, plus
        `col_stats: {field_id: [min, max]}` for every configured stats
        column (Iceberg's manifest lower_bounds/upper_bounds). Recorded
        whenever BASE files are written (overwrite / compact /
        rebucket / migrate); on a real cluster the writers would report
        these with the commit. Files written under an older schema resolve
        each field's name AT WRITE TIME via its id."""
        key_col = (snap.get("cluster_by") or [None])[0]
        sfields = self._stats_fields(snap)
        if not entries or (key_col is None and not sfields):
            return entries
        # field IDENTITY of the leading cluster column at record time: a DDL
        # that drops cluster_by[0] promotes cluster_by[1], and files recorded
        # before the promotion carry bounds of a DIFFERENT column under the
        # same key_min/key_max names — _prune_by_key only trusts bounds whose
        # key_field matches the column being pruned on
        key_fid = next(
            (f["id"] for f in self._load_schema(snap["schema_id"])["fields"]
             if f["name"] == key_col),
            None,
        )

        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        written_names: dict[int, dict[int, str]] = {}

        def name_at_write(schema_id: int, field_id: int) -> str | None:
            if schema_id not in written_names:
                written_names[schema_id] = {
                    f["id"]: f["name"]
                    for f in self._load_schema(schema_id)["fields"]
                }
            return written_names[schema_id].get(field_id)

        # resolve every written schema up front — ThreadPoolExecutor workers
        # must not race the cache dict through _load_schema
        for sid in {e["schema_id"] for e in entries}:
            name_at_write(sid, -1)

        def one(e: dict) -> dict:
            md = pq.ParquetFile(os.path.join(self.path, e["path"])).metadata
            names = md.schema.names

            def minmax(col: str):
                if col not in names:
                    return None
                idx = names.index(col)
                lo, hi = None, None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is not None and st.has_min_max:
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                return None if lo is None else (lo, hi)

            out = dict(e)
            if key_col is not None:
                mm = minmax(key_col)
                # key range only for JSON-safe orderable types (the merge
                # key is a string; a timestamp cluster key still gets its
                # bounds via col_stats' codec, not here)
                if mm is not None and isinstance(mm[0], (str, int, float)):
                    out["key_min"], out["key_max"] = mm
                    if key_fid is not None:
                        out["key_field"] = key_fid
            cs: dict[str, list] = {}
            for f in sfields.values():
                wname = name_at_write(e["schema_id"], f["id"])
                mm = minmax(wname) if wname is not None else None
                if mm is not None:
                    enc = _stat_codec(f["type"])
                    cs[str(f["id"])] = [enc(mm[0]), enc(mm[1])]
            if cs:
                out["col_stats"] = cs
            return out

        with ThreadPoolExecutor(max_workers=min(16, len(entries))) as ex:
            return list(ex.map(one, entries))

    @staticmethod
    def _prune_by_key(
        entries: list[dict], keys: list[str], key_field_id: int | None = None
    ) -> list[dict]:
        """File-level data skipping: drop entries whose [key_min, key_max]
        range contains none of the requested keys. Entries without recorded
        key stats (delta files, pre-clustering base files) are always kept —
        pruning is an optimization, never a correctness filter. Driver-side
        and O(files · log keys), zero I/O: the manifest-stats half of
        Iceberg's scan planning.

        key_field_id: field id of the column the keys belong to. Bounds are
        trusted ONLY when the entry's recorded `key_field` matches — a DDL
        that drops the leading cluster column promotes cluster_by[1], and
        files recorded before the promotion carry bounds of the OLD column;
        comparing conv_ids against those would silently prune files that
        contain matching rows. Mismatched or unrecorded key_field → kept."""
        ks = sorted(keys)

        def hit(e: dict) -> bool:
            lo, hi = e.get("key_min"), e.get("key_max")
            if lo is None or hi is None:
                return True
            if key_field_id is None or e.get("key_field") != key_field_id:
                return True
            i = bisect.bisect_left(ks, lo)
            return i < len(ks) and ks[i] <= hi

        return [e for e in entries if hit(e)]

    def _parse_preds(self, snap: dict, where) -> list[tuple]:
        """Validate `where` ([(col, op, value), ...], conjunctive) against
        the snapshot's schema → [(name, op, value, field_id, encoded_value)].
        encoded_value is None when the column records no stats (the
        predicate still residual-filters, it just never prunes)."""
        fields = {f["name"]: f for f in self._load_schema(snap["schema_id"])["fields"]}
        out = []
        for p in where:
            col, op, val = p
            if op not in _PRED_OPS:
                raise ValueError(f"unsupported predicate op {op!r} (one of {_PRED_OPS})")
            if col not in fields:
                raise KeyError(f"no such column: {col!r}")
            if val is None:
                raise ValueError(
                    f"({col} {op} None) never matches any row (SQL null "
                    "semantics) — filter nulls with isNull on the DataFrame"
                )
            enc = _stat_codec(fields[col]["type"])
            out.append((col, op, val, fields[col]["id"], enc(val) if enc else None))
        return out

    def _prune_by_preds(
        self, entries: list[dict], preds: list[tuple], snap: dict | None = None
    ) -> list[dict]:
        """Predicate file skipping over manifest `col_stats` (the
        lower/upper-bounds half of Iceberg scan planning; driver-side,
        zero I/O).

        MOR soundness rule: a base file may only be skipped in a bucket
        with NO delta files at this snapshot. In such a bucket every
        row's current image IS its base image (the base layer holds one
        version per key — overwrite and compaction both write folded
        output), so a file whose bounds exclude the predicate holds no
        matching current rows. In a bucket WITH deltas, a delta row can
        move a key's current image into the predicate range (or a stale
        delta could win a fold whose base row was skipped), so nothing is
        pruned there; the always-applied residual filter keeps the result
        exact either way — stats only ever save I/O, never decide truth.
        Delta files and files without recorded bounds are always kept.

        MIXED-SPEC rule: while a spec migration is in flight, merges write
        new deltas under the CURRENT spec while unmigrated base files keep
        the old spec — a key's delta and base then live in DIFFERENT
        (spec, bucket) pairs, so the per-bucket delta-protection test above
        cannot see that an old-spec base file has live deltas for its keys.
        Pruning such a file under update_mode='partial' would fold partial
        images without their base row (silently wrong results the residual
        filter cannot repair). Predicate pruning is therefore disabled
        outright whenever files of more than one spec are live (a transient
        state bounded by migrate_spec); key/bucket pruning stay active —
        they are row-existence-based and spec-aware respectively."""
        active = [(str(fid), op, ev) for (_c, op, _v, fid, ev) in preds if ev is not None]
        if not active:
            return entries
        if snap is not None and self._mixed_spec(snap):
            return entries
        delta_buckets = {
            (e["spec_id"], e["bucket"])
            for e in entries
            if e["layer"] == "delta"
        }

        def keep(e: dict) -> bool:
            if e["layer"] == "delta":
                return True
            if (e["spec_id"], e["bucket"]) in delta_buckets:
                return True
            cs = e.get("col_stats") or {}
            for fid, op, ev in active:
                mm = cs.get(fid)
                if mm is not None and not _pred_may_match(mm[0], mm[1], op, ev):
                    return False
            return True

        return [e for e in entries if keep(e)]

    def overwrite(
        self,
        spark: SparkSession,
        df: DataFrame,
        batch_id: int | None = None,
        watermark_lsn: int | None = None,
    ) -> dict:
        """Full snapshot load (the initsync path — reference:
        data_pipeline/initsync_pipe.py; SURVEY.md §2 S3/K4).

        watermark_lsn: the source-consistent point this snapshot was captured
        at (reference: initsync records the SCN/LSN the select ran under, and
        CDC starts from there). Setting it makes the subsequent streaming
        ingest SKIP feed events at/below it instead of re-applying the whole
        prefix over the snapshot — the initsync→CDC switchover. Omitted, the
        previous snapshot's watermark carries forward (LWW makes prefix
        replay harmless but wasteful, provided the snapshot rows carry their
        true LSNs)."""
        snap = self.current_snapshot()
        if LSN_COL not in df.columns:
            df = df.withColumn(LSN_COL, F.lit(0).cast("long"))
        data = df.withColumn("_bucket", self.bucket_expr(snap["n_buckets"]))
        new_id = self._next_id(snap)
        entries = self._write_data(
            data, new_id, snap["schema_id"], snap["n_buckets"], "base",
            sort_cols=self._sort_cols(snap),
            max_records_per_file=snap.get("target_file_rows"),
            spec_id=self.spec_id(snap),
        )
        entries = self._record_stats(entries, snap)

        def produce(head: dict, sid: int) -> dict:
            return {
                **head,
                "batch_id": batch_id,
                # a full load retires every pre-existing file: no old-spec
                # file can survive it, so collapse the live-spec list (else
                # a mid-migration initsync would leave the retired spec
                # registered forever)
                "specs": {str(self.spec_id(head)): head["n_buckets"]},
                "old_delta_depth": {},
                "auto_migrate_buckets": None,
                **(
                    {"watermark_lsn": max(head.get("watermark_lsn") or 0, watermark_lsn)}
                    if watermark_lsn is not None
                    else {}
                ),
                "last_batch_id": max(
                    head["last_batch_id"], batch_id if batch_id is not None else -1
                ),
                "manifests": [self._write_manifest(sid, entries)] if entries else [],
                "delta_depth": {},
                "stats": {},
            }

        return self._commit_op("overwrite", produce, snap, new_id)

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        spark: SparkSession,
        batch_id: int,
        changes: DataFrame,
        enforce_watermark: bool = True,
        bucket_n: int | None = None,
    ) -> dict:
        """Apply a deduped changeset (≤1 row per key; columns: lsn, op,
        <table columns>, optionally _bucket) as one delta commit — the
        Iceberg equivalent is an equality-delete + data-file commit.
        Idempotent by batch_id and by watermark LSN.

        Write-first: the changeset is written in ONE pass (decode →
        collapse → bucketed write, no persist, no probe job), then lineage
        metrics and the watermark come from the written files' footers.

        A merge never maintains: it returns as soon as its commit lands,
        with `maintenance_due` set when `maintain` has work (a hot bucket,
        a long manifest list, an armed spec migration). The caller runs
        `maintain` — `IngestJob` does so on its background runner."""
        snap = self.current_snapshot()
        if batch_id <= snap["last_batch_id"]:
            return {"skipped": True, "batch_id": batch_id, "snapshot_id": snap["snapshot_id"]}

        n_buckets = snap["n_buckets"]
        watermark = snap.get("watermark_lsn") or 0
        if enforce_watermark:
            changes = changes.where(F.col("lsn") > F.lit(watermark))
        if "_bucket" not in changes.columns:
            changes = changes.withColumn("_bucket", self.bucket_expr(n_buckets))
        elif bucket_n is not None and bucket_n != n_buckets:
            # caller computed _bucket under a spec that was evolved away
            # before this merge read the head: re-route, else the delta
            # files land in dirs that disagree with the rows' real buckets
            # and bucket-pruned point reads miss them
            changes = changes.withColumn("_bucket", self.bucket_expr(n_buckets))
        # Columns added to the schema AFTER this changeset was decoded (a
        # concurrent add_column landing before this merge read the head)
        # are null for these rows by definition — Iceberg's add-column
        # semantics. Any OTHER mismatch (e.g. a pre-rename name) still
        # fails analysis.
        have = set(changes.columns)
        missing = [
            f for f in self._load_schema(snap["schema_id"])["fields"]
            if f["name"] not in have
        ]
        if missing:
            changes = changes.select(
                "*",
                *[
                    F.lit(None).cast(_spark_type(f["type"])).alias(f["name"])
                    for f in missing
                ],
            )

        return self._merge_mor(spark, snap, batch_id, changes)

    def _merge_mor(self, spark, snap, batch_id, changes) -> dict:
        """Delta commit, write-first: write the changeset (deletes kept as
        tombstones) — O(batch), nothing read, ONE action over the whole
        decode→collapse→write pipeline. Per-bucket lineage metrics (rows,
        deletes, watermark LSN) then come from the written files, reading
        only the three engine columns of the collapsed rows — instead of
        running the full upstream pipeline a second time. Compaction is
        not done here: `maintenance_due` tells the caller a bucket reached
        `compact_every` deltas, and `maintain` folds it."""
        data_cols = [f["name"] for f in self._load_schema(snap["schema_id"])["fields"]]
        mask_cols = [F.col(MASK_COL)] if self.update_mode(snap) == "partial" else []
        delta = changes.select(
            F.col("_bucket"),
            F.when(F.col("op") == "D", F.lit(True)).alias(TOMB_COL),
            F.col("lsn").alias(LSN_COL),
            F.col("op").alias(OP_COL),
            *mask_cols,
            *data_cols,
        )
        new_id = self._next_id(snap)
        entries = self._write_data(
            delta, new_id, snap["schema_id"], snap["n_buckets"], "delta",
            spec_id=self.spec_id(snap),
        )
        return self._commit_delta(snap, batch_id, new_id, entries)

    def link_merge(self, batch_id: int, source: LakehouseTable, entries: list[dict]) -> dict:
        """Commit `source`'s delta files `entries` as this table's merge
        `batch_id` by reference: each file is hard-linked into
        data/s<id>/_bucket=<b>/ (copied where the filesystem refuses a
        link), then committed through the same footer-stats → commit tail
        as `merge`, with the same batch_id skip. No Spark job, and no new
        bytes on the same filesystem until a compaction rewrites them.

        The caller vouches that the entries are one merge's typed delta
        files, written under a schema equal to this table's current one
        (names and types, in order) and a spec with its bucket count, so
        they read back here exactly as in `source`. Later deletes on either
        side (expire, compaction, dropping the source table) unlink one
        name only; the other keeps the bytes."""
        import shutil

        snap = self.current_snapshot()
        if batch_id <= snap["last_batch_id"]:
            return {"skipped": True, "batch_id": batch_id, "snapshot_id": snap["snapshot_id"]}
        new_id = self._next_id(snap)
        tmp_out = self._tmp_data_dir(new_id)
        for e in entries:
            src = os.path.join(source.path, e["path"])
            dst = os.path.join(tmp_out, f"_bucket={e['bucket']}", os.path.basename(e["path"]))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:  # cross-device / FS without hard links
                shutil.copyfile(src, dst)
            else:
                # the shared inode keeps the source's write time; restart
                # it so an orphan grace (`expire_snapshots`) counts from
                # this in-flight commit, as it does for a fresh write
                os.utime(dst)
        placed = self._place_data(
            tmp_out, new_id, snap["schema_id"], "delta", self.spec_id(snap), typed=True
        )
        return self._commit_delta(snap, batch_id, new_id, placed)

    def _commit_delta(self, snap: dict, batch_id: int, new_id: int, entries: list[dict]) -> dict:
        """Commit delta files placed under reserved id `new_id` as merge
        `batch_id` planned on `snap` (none: a metadata-only merge advancing
        the batch id); a batch another writer committed meanwhile skips."""
        # Per-bucket lineage from parquet footers only (no data read, no
        # Spark job): applied rows are file row counts, deletes are the
        # non-null _tomb counts, and the watermark is the max of the files'
        # _lsn column statistics.
        by_bucket: dict[int, dict] = {}
        for fs in self.file_stats(entries):
            m = by_bucket.setdefault(
                fs["bucket"], {"bucket": fs["bucket"], "rows": 0, "deleted": 0, "max_lsn": 0}
            )
            m["rows"] += fs["rows"]
            m["deleted"] += fs["deleted"]
            if fs["lsn_max"] is not None:
                m["max_lsn"] = max(m["max_lsn"], fs["lsn_max"])
        bucket_metrics = sorted(by_bucket.values(), key=lambda m: m["bucket"])
        max_lsn = max([m["max_lsn"] for m in bucket_metrics], default=0)

        def produce(head: dict, sid: int) -> dict | None:
            if batch_id <= head["last_batch_id"]:
                return None
            # O(batch) commit metadata: one new manifest + incremental
            # per-bucket delta depth; prior manifests carry by reference.
            return {
                **head,
                "batch_id": batch_id,
                "last_batch_id": batch_id,
                "watermark_lsn": max(head.get("watermark_lsn") or 0, max_lsn),
                "manifests": head["manifests"]
                + ([self._write_manifest(sid, entries)] if entries else []),
                "delta_depth": _bump_depth(head["delta_depth"], set(by_bucket)),
                "stats": {"affected_buckets": len(bucket_metrics)},
            }

        new = self._commit_op("merge", produce, snap, new_id)
        if new is None:
            return {"skipped": True, "batch_id": batch_id,
                    "snapshot_id": self.current_snapshot()["snapshot_id"]}
        return {"skipped": False, "batch_id": batch_id, "snapshot_id": new["snapshot_id"],
                "affected_buckets": len(bucket_metrics),
                "rows_filtered_by_watermark": not entries,
                "maintenance_due": self._maintenance_due(new),
                "bucket_metrics": bucket_metrics}

    def _hot_buckets(self, snap: dict) -> set[int]:
        """Buckets whose delta depth (read amplification) reached
        `compact_every`."""
        threshold = snap.get("compact_every", 8)
        return {b for b, d in self.delta_depth(snap).items() if d >= threshold}

    def _maintenance_due(self, snap: dict) -> bool:
        """Whether `maintain` would commit anything at `snap` (a dict get
        and an O(n_buckets) depth scan — cheap enough for every merge)."""
        every = snap.get("rewrite_manifests_every")
        return bool(
            self._hot_buckets(snap)
            or (every and len(snap["manifests"]) >= every)
            or (snap.get("auto_migrate_buckets") and len(self.table_specs(snap)) > 1)
        )

    def maintain(self, spark: SparkSession) -> dict:
        """The one post-commit upkeep step, run apart from `merge` (Hudi's
        async MOR compaction; Iceberg's rewrite_data_files job), in order:

          1. compact the hot buckets — those whose delta depth reached
             `compact_every`. Bucket-targeted: O(hot buckets) per cycle,
             never O(table);
          2. otherwise, fold the manifest list when it reached
             `rewrite_manifests_every` (pure metadata; for never-compacting
             tables such as cascade hubs);
          3. then one `auto_migrate_buckets` chunk when a spec migration is
             armed.

        A no-op when nothing is due. Each step is its own commit, rebased
        over merges that land meanwhile; any other concurrent commit makes
        it raise CommitConflictError (step 3 alone gives its chunk up to
        the next cycle instead). Returns what it committed: {"commits":
        [{"snapshot_id", "kind", "rebased_over"}], "buckets": the compacted
        bucket ids, "files_rewritten": data files folded, "spec_migration":
        the migrate chunk's counts or None}."""
        out: dict = {"commits": [], "buckets": [], "files_rewritten": 0,
                     "spec_migration": None}

        def committed(r: dict | None) -> bool:
            if r is None or r.get("skipped", False):
                return False
            new = self.snapshot_by_id(r["snapshot_id"])
            stats = new["stats"]
            out["commits"].append({"snapshot_id": new["snapshot_id"], "kind": new["kind"],
                                   "rebased_over": stats.get("rebased_over", 0)})
            out["files_rewritten"] += stats.get("compacted_files", stats.get("squashed_files", 0))
            return True

        snap = self.current_snapshot()
        hot = self._hot_buckets(snap)
        every = snap.get("rewrite_manifests_every")
        if hot:
            if committed(self.compact(spark, buckets=hot)):
                out["buckets"] = sorted(hot)
        elif every and len(snap["manifests"]) >= every:
            committed(self.rewrite_manifests())
        mig = self._maybe_auto_migrate(spark, self.current_snapshot())
        if committed(mig):
            out["spec_migration"] = {
                k: mig[k] for k in ("migrated_files", "remaining_old_files")
            }
        return out

    def _maybe_auto_migrate(self, spark, snap: dict) -> dict | None:
        """One SINGLE-SHOT migrate chunk per `maintain` cycle when
        `auto_migrate_buckets` is armed (set by evolve_bucket_spec; see
        its docstring), as `migrate_spec` returns it. A merge landing
        meanwhile is rebased over inside the chunk's commit; a refused
        rebase (another fold, a DDL) abandons the chunk and returns None —
        the next batch's cycle picks it up, so the maintenance runner
        never sits in retry backoff. The guard costs one dict get on
        tables that never evolved."""
        amb = snap.get("auto_migrate_buckets")
        if not amb or len(self.table_specs(self.current_snapshot())) <= 1:
            return None
        try:
            return self._migrate_spec_once(spark, max_old_buckets=amb)
        except CommitConflictError:
            return None

    # ------------------------------------------------------------ compaction
    def delta_depth(self, snap: dict | None = None) -> dict[int, int]:
        """Per-bucket count of delta commits (merge, cherry-pick, squash,
        migrate) that touched the bucket since its last fold — its read
        amplification, and what `compact_every` is compared against —
        keyed by CURRENT-spec bucket id. Maintained INCREMENTALLY in the
        snapshot (merge adds, a fold clears what it read) so the per-commit
        compaction decision is O(n_buckets), not an O(total files) sweep.
        During a spec migration the retired spec's un-folded stacks are NOT
        counted here (their bucket ids live in another keyspace) — they
        stay visible under the snapshot's `old_delta_depth` and are
        serviced by migrate_spec, never by compact."""
        snap = snap or self.current_snapshot()
        return {int(b): c for b, c in snap["delta_depth"].items()}

    def compact(self, spark: SparkSession, buckets: set[int] | None = None) -> dict:
        """Fold delta layers into fresh base files — tombstones dropped, one
        reconcile + one bucketed write. A maintenance commit (no batch_id).

        buckets=None compacts every bucket that has deltas (full). Passing a
        bucket set compacts ONLY those — the 10^10-scale shape: work is
        O(hot buckets), not O(table), so a skewed workload (one conv_id =
        30% of events → one bucket accumulating deltas fastest) never forces
        a full-table rewrite. `maintain` targets buckets whose delta
        depth reaches `compact_every`."""
        snap = self.current_snapshot()
        with_deltas = set(self.delta_depth(snap))
        sel = with_deltas if buckets is None else (set(buckets) & with_deltas)
        if not sel:
            return {"skipped": True}
        if self._mixed_spec(snap):
            # files under a retired spec are still live (evolve_bucket_spec
            # committed, migrate_spec not finished): a full fold is unsafe —
            # a tombstone here may shadow a base row that lives in an
            # old-spec file, and dropping it would resurrect that row. Squash
            # instead: collapse each hot bucket's delta stack into ONE delta
            # file, tombstones kept.
            return self._squash(spark, snap, sel)
        return self._rewrite_buckets(spark, snap, sel, "compact")

    def recluster(self, spark: SparkSession, buckets: set[int] | None = None) -> dict:
        """Rewrite selected buckets' base layout under the CURRENT sort
        settings and CURRENT manifest bounds — the `OPTIMIZE ZORDER BY`
        re-run analog (Delta) / sort-order rewrite (Iceberg
        rewrite_data_files). Same fold as compact, but runs even with ZERO
        pending deltas: the use case is layout drift, not delta depth — a
        backfill/append widened a z column's recorded range (older files
        were z-sorted against stale bounds, so their hyper-rectangles are
        skewed and `read(where=)` skips little), or a DDL changed
        cluster_by/cluster_order after data existed. Work is O(selected
        buckets): at 10^10 rows recluster the buckets a skipping audit
        flags, never the table because one column's range moved.

        Refuses under a live spec migration (a tombstone here may shadow a
        base row in an old-spec file — same rule as compact's squash path);
        finish migrate_spec first."""
        snap = self.current_snapshot()
        if self._mixed_spec(snap):
            return {"skipped": True, "reason": "mixed_spec"}
        have = {e["bucket"] for e in self._files(snap)}
        sel = have if buckets is None else (set(buckets) & have)
        if not sel:
            return {"skipped": True}
        return self._rewrite_buckets(spark, snap, sel, "recluster")

    def _rewrite_buckets(
        self, spark: SparkSession, snap: dict, sel: set[int], kind: str
    ) -> dict:
        rec = self._reconciled(spark, snap, buckets=sel)
        new_id = self._next_id(snap)
        entries: list[dict] = []
        if rec is not None:
            base = rec.select(
                self.bucket_expr(snap["n_buckets"]).alias("_bucket"),
                F.col("lsn").alias(LSN_COL),
                *[f["name"] for f in self._load_schema(snap["schema_id"])["fields"]],
            )
            entries = self._write_data(
                base, new_id, snap["schema_id"], snap["n_buckets"], "base",
                sort_cols=self._sort_cols(snap),
                max_records_per_file=snap.get("target_file_rows"),
                spec_id=self.spec_id(snap),
            )
            entries = self._record_stats(entries, snap)
        folded = {e["path"] for e in self._files(snap) if e["bucket"] in sel}

        def produce(head: dict, sid: int) -> dict:
            return {
                **head,
                "batch_id": None,
                "manifests": self._carry_without_paths(head, sid, folded, sel, entries),
                "delta_depth": _fold_depth(snap, head, sel),
                "stats": {"compacted_buckets": len(sel), "compacted_files": len(folded)},
            }

        new = self._commit_op(kind, produce, snap, new_id)
        return {"skipped": False, "snapshot_id": new["snapshot_id"], "compacted_buckets": len(sel)}

    def _squash(self, spark: SparkSession, snap: dict, sel: set[int]) -> dict:
        """Mixed-spec compaction: collapse each selected bucket's delta
        stack into ONE delta file, TOMBSTONES KEPT (cf. Iceberg, where
        rewrite_data_files must retain equality deletes until the files
        they may target are rewritten). Read amplification drops k→1 per
        bucket while old-spec base files remain untouched; the normal
        tombstone-dropping fold resumes once migrate_spec has retired the
        old spec's files.

        Full-row-image tables fold per key (the winning row is
        read-time-LWW-equivalent to the stack); partial-image tables fold
        per COLUMN at read, so their squash is pure concatenation — file
        count drops, rows are preserved verbatim. Output files are delta
        layer in the manifest, written without `_tomb` (only a merge's
        footer-derived delete counts need it); a squash commits as
        `compact`, which changelog reads skip like any compaction."""
        cur_spec = self.spec_id(snap)
        delta_e = [
            e
            for e in self._files(snap)
            if e["layer"] == "delta"
            and e["spec_id"] == cur_spec
            and e["bucket"] in sel
        ]
        if not delta_e:
            return {"skipped": True}
        new_id = self._next_id(snap)
        data_cols = [f["name"] for f in self._load_schema(snap["schema_id"])["fields"]]
        if self.update_mode(snap) == "partial":
            df = self._read_parts(spark, snap, delta_e, [LSN_COL, OP_COL, MASK_COL])
            out = df.select(
                self.bucket_expr(snap["n_buckets"]).alias("_bucket"),
                F.col(LSN_COL), F.col(OP_COL), F.col(MASK_COL), *data_cols,
            )
        else:
            df = self._read_parts(spark, snap, delta_e, [LSN_COL, OP_COL])
            stack = df.select(
                F.col(LSN_COL).alias("lsn"), F.col(OP_COL).alias("op"), *data_cols
            )
            winners = merge_changeset(
                None, stack, data_cols, extra_cols=(), keep_deletes=True
            )
            out = winners.select(
                self.bucket_expr(snap["n_buckets"]).alias("_bucket"),
                F.col("lsn").alias(LSN_COL), F.col("op").alias(OP_COL), *data_cols,
            )
        entries = self._write_data(
            out, new_id, snap["schema_id"], snap["n_buckets"], "delta",
            spec_id=cur_spec,
        )
        folded = {e["path"] for e in delta_e}
        squashed = {e["bucket"] for e in entries}

        def produce(head: dict, sid: int) -> dict:
            return {
                **head,
                "batch_id": None,
                "manifests": self._carry_without_paths(head, sid, folded, sel, entries),
                "delta_depth": _bump_depth(_fold_depth(snap, head, sel), squashed),
                "stats": {
                    "mode": "squash",
                    "squashed_buckets": len(sel),
                    "squashed_files": len(delta_e),
                },
            }

        new = self._commit_op("compact", produce, snap, new_id)
        return {
            "skipped": False,
            "snapshot_id": new["snapshot_id"],
            "compacted_buckets": len(sel),
            "mode": "squash",
        }

    def rewrite_manifests(
        self, target_entries_per_manifest: int = 100_000
    ) -> dict:
        """Consolidate the manifest LIST without touching data (Iceberg's
        rewrite_manifests): the current snapshot's N per-commit manifests
        are rewritten as ceil(total_entries / target) consolidated ones,
        entries grouped by (layer, bucket) so bucket-pruned reads open the
        fewest manifests, committed as a 'rewrite_manifests' snapshot that
        references the SAME data files.

        Why it exists: every merge commit appends one delta manifest, and
        compaction folds them — but a table deliberately kept at
        compact_every=∞ (a cascade hub whose delta layer IS the changelog
        downstream edges replay) accumulates one manifest per batch
        forever. Read planning walks that list on the driver, so this op
        folds list length back to O(total/target) in pure metadata — no
        data rewrite, no Spark session, O(entries) driver time. Changelog
        readers are unaffected: the rewrite changes no rows, so the
        changelog skips it like a compaction.

        No-op ({"skipped": True}) when the list is already that small."""
        snap = self.current_snapshot()
        manifests = snap["manifests"]
        entries = self._files(snap)
        target = max(1, target_entries_per_manifest)
        n_target = max(1, -(-len(entries) // target)) if entries else 0
        if len(manifests) <= n_target:
            return {"skipped": True, "n_manifests": len(manifests)}

        def produce(head: dict, sid: int) -> dict:
            files = self._files(head)
            refs = self._write_manifests(sid, files, target)
            return {
                **head,
                "batch_id": None,
                "manifests": refs,
                "stats": {
                    "manifests_before": len(head["manifests"]),
                    "manifests_after": len(refs),
                    "entries": len(files),
                },
            }

        new = self._commit_op("rewrite_manifests", produce, snap)
        return {
            "skipped": False,
            "snapshot_id": new["snapshot_id"],
            "manifests_before": new["stats"]["manifests_before"],
            "manifests_after": new["stats"]["manifests_after"],
        }

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> dict:
        """Partition evolution: rewrite the table under a new bucket count
        (Iceberg's partition-spec evolution, eager variant). A deliberate
        O(table) maintenance op — run it when the table has outgrown its
        write parallelism (rule of thumb: n_buckets ≥ 4× total executor
        cores), NOT on a schedule. Folds any deltas in the same pass.
        Subsequent merges route by the new bucketing immediately."""
        snap = self.current_snapshot()
        if new_n_buckets == snap["n_buckets"]:
            return {"skipped": True}
        rec = self._reconciled(spark, snap)
        new_id = self._next_id(snap)
        new_spec = self.spec_id(snap) + 1

        entries: list[dict] = []
        if rec is not None:
            base = rec.select(
                self.bucket_expr(new_n_buckets).alias("_bucket"),
                F.col("lsn").alias(LSN_COL),
                *[f["name"] for f in self._load_schema(snap["schema_id"])["fields"]],
            )
            entries = self._write_data(
                base, new_id, snap["schema_id"], new_n_buckets, "base",
                sort_cols=self._sort_cols(snap),
                max_records_per_file=snap.get("target_file_rows"),
                spec_id=new_spec,
            )
            entries = self._record_stats(entries, snap)

        def produce(head: dict, sid: int) -> dict:
            return {
                **head,
                "batch_id": None,
                "n_buckets": new_n_buckets,
                "spec_id": new_spec,
                "specs": {str(new_spec): new_n_buckets},
                "old_delta_depth": {},
                "auto_migrate_buckets": None,
                "manifests": [self._write_manifest(sid, entries)] if entries else [],
                "delta_depth": {},
                "stats": {"rebucketed_from": head["n_buckets"], "rebucketed_to": new_n_buckets},
            }

        new = self._commit_op("rebucket", produce, snap, new_id)
        return {"skipped": False, "snapshot_id": new["snapshot_id"], "n_buckets": new_n_buckets}

    def evolve_bucket_spec(
        self, spark: SparkSession, new_n_buckets: int,
        auto_migrate_buckets: int | None = None,
    ) -> dict:
        """LAZY partition-spec evolution (Iceberg's metadata-only spec
        change): switch merge/compaction write parallelism to
        `new_n_buckets` WITHOUT rewriting or even reading the table — a
        pure metadata commit, O(1) data I/O regardless of table size or
        pending churn. Existing files (base AND un-compacted delta stacks)
        stay where they are, readable under their recorded spec; every
        subsequent write routes by the new spec immediately. (An earlier
        design folded pending deltas first; that made evolve O(affected
        buckets) — measurably WORSE than rebucket on a table whose last
        batch touched every bucket, see scripts/bench_spec_evolution.py.)

        This is the 10^10-scale answer to "the table outgrew its write
        parallelism": `rebucket` (the eager variant) pays a full-table
        rewrite up front; evolve pays nothing up front and lets
        `migrate_spec` re-layout old files incrementally, in bounded
        batches, while ingest keeps running. Until migration completes the
        table is mixed-spec: point reads prune per spec (read), and
        compaction squashes instead of folding (tombstones must outlive any
        old-spec base row they shadow — see _squash).

        One migration at a time: evolving again while old-spec files remain
        would stack three live specs — finish migrate_spec first.

        auto_migrate_buckets: opt into hands-off migration — every
        subsequent `maintain` cycle (one per committed ingest batch) retires
        this many old-spec buckets after its compaction, so the migration
        completes in ceil(old_buckets / N) batches with no operator loop;
        the setting clears itself when the last old-spec file retires."""
        if auto_migrate_buckets is not None and auto_migrate_buckets < 1:
            raise ValueError(
                f"auto_migrate_buckets must be >= 1, got {auto_migrate_buckets} "
                "(0 would record an armed setting that never migrates)"
            )

        snap = self.current_snapshot()

        def produce(head: dict, sid: int) -> dict | None:
            if new_n_buckets == head["n_buckets"]:
                return None
            if self._mixed_spec(head):
                raise ValueError(
                    "a spec migration is already in progress — run "
                    "migrate_spec to completion before evolving again"
                )
            new_spec = self.spec_id(head) + 1
            n_old_files = len(self._files(head))
            # an empty table has nothing to migrate: don't leave the
            # retired spec in the live list (migrate_spec would have no
            # non-skipped call left to collapse it)
            specs = (
                {str(new_spec): new_n_buckets}
                if n_old_files == 0
                else {
                    **{str(s): n for s, n in self.table_specs(head).items()},
                    str(new_spec): new_n_buckets,
                }
            )
            return {
                **head,
                "batch_id": None,
                "n_buckets": new_n_buckets,
                "spec_id": new_spec,
                "specs": specs,
                # delta_depth is keyed by CURRENT-spec bucket id, so it
                # restarts empty; the retired spec's un-folded stacks keep
                # their read amplification visible under old_delta_depth
                # (observability only — they are serviced by migrate_spec,
                # never by compact) until migration retires them
                "delta_depth": {},
                "old_delta_depth": {
                    b: c
                    for b, c in head["delta_depth"].items()
                    if c
                },
                # an empty table collapses specs immediately (above): never
                # leave an armed setting with no migration to run
                "auto_migrate_buckets": (
                    auto_migrate_buckets if n_old_files else None
                ),
                "stats": {
                    "evolved_from": head["n_buckets"],
                    "evolved_to": new_n_buckets,
                    "old_spec_files": n_old_files,
                },
            }

        new = self._commit_op("evolve_spec", produce, snap)
        if new is None:
            return {"skipped": True, "n_buckets": new_n_buckets}
        return {
            "skipped": False,
            "snapshot_id": new["snapshot_id"],
            "spec_id": new["spec_id"],
            "n_buckets": new_n_buckets,
            "old_spec_files": new["stats"]["old_spec_files"],
        }

    def migrate_spec(
        self, spark: SparkSession, max_old_buckets: int | None = None
    ) -> dict:
        """Incrementally re-layout old-spec files under the current spec
        after evolve_bucket_spec — Iceberg's rewrite_data_files run
        bucket-batch by bucket-batch. Pure re-layout of BOTH layers, NO
        reconcile: base rows move with their LSN, delta rows move with
        lsn+op(+mask) and STAY delta, so read-time LWW keeps resolving
        versions exactly as before (a newer delta still beats a migrated
        old row, a migrated tombstone keeps shadowing its victim). Files
        also come out re-projected to the CURRENT schema and, on clustered
        tables, base files key-sorted with manifest key ranges.

        max_old_buckets bounds one call's work to that many old-spec
        buckets (resumable maintenance; None = finish the migration). When
        the last old-spec file retires, the spec list collapses to the
        current spec and normal tombstone-dropping compaction resumes.

        Online: a merge landing between plan and commit is rebased over
        inside the chunk's commit (`_commit_op`). Another fold, a DDL or a
        spec change refuses the rebase; then the whole step, re-layout
        write included, re-runs against the new head
        (`with_commit_retry`)."""
        return with_commit_retry(
            lambda: self._migrate_spec_once(spark, max_old_buckets)
        )

    def _migrate_spec_once(
        self, spark: SparkSession, max_old_buckets: int | None
    ) -> dict:
        snap = self.current_snapshot()
        cur_spec = self.spec_id(snap)
        old = [e for e in self._files(snap) if e["spec_id"] != cur_spec]
        if not old:
            if len(self.table_specs(snap)) > 1:
                # no old-spec files remain (e.g. a rollback or compaction
                # retired the last one) but the spec list is stale: commit
                # the metadata-only collapse so mixed-spec handling ends
                self._commit_op("migrate_spec", lambda head, sid: {
                    **head,
                    "batch_id": None,
                    "specs": {str(cur_spec): head["n_buckets"]},
                    "old_delta_depth": {},
                    "auto_migrate_buckets": None,
                    "stats": {
                        "migrated_files": 0,
                        "migrated_buckets": 0,
                        "remaining_old_files": 0,
                    },
                }, snap)
            return {"skipped": True, "remaining_old_files": 0}
        groups = sorted({(e["spec_id"], e["bucket"]) for e in old})
        if max_old_buckets is not None:
            groups = groups[: max(1, max_old_buckets)]
        chosen_keys = set(groups)
        chosen = [
            e for e in old if (e["spec_id"], e["bucket"]) in chosen_keys
        ]
        chosen_base = [e for e in chosen if e["layer"] == "base"]
        chosen_delta = [e for e in chosen if e["layer"] == "delta"]
        data_cols = [f["name"] for f in self._load_schema(snap["schema_id"])["fields"]]

        # Pure re-layout of BOTH layers, no fold: base rows move with their
        # LSN; delta rows move with lsn+op(+mask) and stay in the delta
        # layer, so read-time LWW resolves versions exactly as before and a
        # tombstone keeps shadowing whatever it shadowed. Two data dirs
        # (layers carry different columns), one atomic commit. The
        # re-bucketed delta files are written without `_tomb`, like a
        # squash's; changelog reads skip `migrate_spec` commits.
        base_id = self._next_id(snap)
        new_id = base_id + 1 if chosen_delta else base_id
        entries: list[dict] = []
        if chosen_base:
            df = self._read_parts(spark, snap, chosen_base, [LSN_COL])
            moved = df.select(
                self.bucket_expr(snap["n_buckets"]).alias("_bucket"),
                F.col(LSN_COL),
                *data_cols,
            )
            base_entries = self._write_data(
                moved, base_id, snap["schema_id"], snap["n_buckets"], "base",
                sort_cols=self._sort_cols(snap),
                max_records_per_file=snap.get("target_file_rows"),
                spec_id=cur_spec,
            )
            base_entries = self._record_stats(base_entries, snap)
            entries += base_entries
        delta_buckets: set[int] = set()
        if chosen_delta:
            extra = [LSN_COL, OP_COL] + (
                [MASK_COL] if self.update_mode(snap) == "partial" else []
            )
            df = self._read_parts(spark, snap, chosen_delta, extra)
            moved = df.select(
                self.bucket_expr(snap["n_buckets"]).alias("_bucket"),
                *[F.col(c) for c in extra],
                *data_cols,
            )
            delta_entries = self._write_data(
                moved, new_id, snap["schema_id"], snap["n_buckets"], "delta",
                spec_id=cur_spec,
            )
            delta_buckets = {e["bucket"] for e in delta_entries}
            entries += delta_entries
        folded = {e["path"] for e in chosen}
        migrated_old = {b for _s, b in groups}
        remaining = len(old) - len(chosen)

        def produce(head: dict, sid: int) -> dict:
            # migrated delta stacks now live under current-spec buckets:
            # count them in delta_depth so auto-compaction sees them, and
            # retire their old-spec observability entries
            old_depth = {
                b: c
                for b, c in head.get("old_delta_depth", {}).items()
                if int(b) not in migrated_old
            }
            return {
                **head,
                "batch_id": None,
                "manifests": self._carry_without_paths(
                    head, sid, folded, migrated_old, entries
                ),
                "delta_depth": _bump_depth(head["delta_depth"], delta_buckets),
                "old_delta_depth": {} if remaining == 0 else old_depth,
                **({"auto_migrate_buckets": None} if remaining == 0 else {}),
                # migration complete → retire the old spec from the live list
                **(
                    {"specs": {str(cur_spec): head["n_buckets"]}}
                    if remaining == 0
                    else {}
                ),
                "stats": {
                    "migrated_files": len(chosen),
                    "migrated_buckets": len(groups),
                    "remaining_old_files": remaining,
                },
            }

        new = self._commit_op("migrate_spec", produce, snap, new_id)
        return {
            "skipped": False,
            "snapshot_id": new["snapshot_id"],
            "migrated_files": len(chosen),
            "remaining_old_files": remaining,
        }

    # ------------------------------------------------------------------- DDL
    def apply_ddl(self, descriptors: list[dict]) -> dict:
        """Metadata-only schema evolution, mirroring the reference's DDL
        replication (data_pipeline/sql/ DDL parse + applier DDL branch,
        SURVEY.md §2 T8). Supported: add_column / rename_column / widen_type.
        No data files are touched; old files are re-mapped at read time by
        field id. Idempotent under replay."""
        if not descriptors:
            return {"skipped": True}
        snap = self.current_snapshot()
        sch = self._load_schema(snap["schema_id"])
        fields = [dict(f) for f in sch["fields"]]
        by_name = {f["name"]: f for f in fields}
        last_column_id = sch["last_column_id"]
        for d in descriptors:
            action = d["action"]
            if action == "create_table":
                # CREATE TABLE replication is handled a level up (the
                # multi-table router creates + registers the table); by the
                # time the event reaches this table's own DDL stream the
                # table exists, so this is an idempotent no-op — Iceberg's
                # CREATE TABLE IF NOT EXISTS on replay.
                continue
            if action == "add_column":
                if d["name"] in by_name:
                    continue  # idempotent re-add
                # Field ids are allocated from a MONOTONIC per-table counter
                # (Iceberg's last-column-id), never from max(current ids):
                # after dropping the highest-id column, max+1 would REUSE the
                # dropped id and _read_parts' field-id projection would
                # resurface the dropped column's stored values under the new
                # column's name (and stale `_set_mask` bits would claim the
                # new column was set).
                last_column_id += 1
                nf = {
                    "id": last_column_id,
                    "name": d["name"],
                    "type": _canon_type(d["type"]),
                    "former_names": [],
                }
                fields.append(nf)
                by_name[nf["name"]] = nf
            elif action == "rename_column":
                f = by_name.pop(d["old"], None)
                if f is None:
                    if d["new"] in by_name:
                        continue  # already renamed (replay)
                    raise ValueError(f"rename: no column {d['old']}")
                f["former_names"] = f["former_names"] + [d["old"]]
                f["name"] = d["new"]
                by_name[d["new"]] = f
            elif action == "widen_type":
                f = by_name[d["name"]]
                to = _canon_type(d["to"])
                if f["type"] == to:
                    continue  # already widened (replay)
                if not _is_legal_widen(f["type"], to):
                    raise ValueError(f"illegal widen {f['type']} -> {to}")
                f["type"] = to
            elif action == "drop_column":
                f = by_name.pop(d["name"], None)
                if f is None:
                    continue  # already dropped (replay)
                if f["name"] in MERGE_KEY:
                    raise ValueError(f"cannot drop merge key column {d['name']}")
                fields = [x for x in fields if x["id"] != f["id"]]
                # metadata-only: data files keep the column; the field-id
                # projection in _read_parts simply stops selecting it. A
                # re-added column with the same name gets a NEW field id, so
                # old values do not resurface (Iceberg drop semantics).
            else:
                raise ValueError(f"unknown DDL action {action}")
        if fields == sch["fields"] and last_column_id == sch["last_column_id"]:
            # every descriptor was a replay/create no-op: committing anyway
            # would bump schema_id + append a 'ddl' snapshot on EVERY replay
            # of the batch (checkpoint recovery, create_table fan-out) —
            # unbounded metadata churn for zero schema change.
            return {"skipped": True}
        # schema ids are TABLE-GLOBAL like snapshot ids (_next_id): a branch
        # and main evolving concurrently must never write the same
        # schema-<id>.json — per-chain `schema_id + 1` would let the second
        # writer's rename silently overwrite the first's file, re-labeling
        # already-written data columns. (Field-id divergence across refs is
        # a separate, detected condition — see cherry_pick's schema check;
        # fast_forward publishes one chain wholesale, so it never mixes.)
        new_schema_id = snap["schema_id"] + 1
        try:
            for fn in os.listdir(self.meta_dir):
                if fn.startswith("schema-") and fn.endswith(".json"):
                    new_schema_id = max(
                        new_schema_id, int(fn[len("schema-"):-len(".json")]) + 1
                    )
        except FileNotFoundError:
            pass
        self._write_json(
            f"schema-{new_schema_id}.json",
            {"schema_id": new_schema_id, "fields": fields, "last_column_id": last_column_id},
        )
        # Table properties that NAME columns follow renames/drops, or the
        # next compaction would sortWithinPartitions on a name that no
        # longer resolves (and stats recording would silently stop). The
        # remap is derived from the committed schema itself — current name
        # per field id — so it is exact even across chained renames.
        live_by_old: dict[str, str] = {}
        for f in fields:
            live_by_old[f["name"]] = f["name"]
            for old in f.get("former_names", []):
                live_by_old.setdefault(old, f["name"])

        def remap(cols: list[str] | None) -> list[str] | None:
            if not cols:
                return cols
            kept = [live_by_old[c] for c in cols if c in live_by_old]
            return kept or None

        def produce(head: dict, sid: int) -> dict:
            if head["schema_id"] != snap["schema_id"]:
                raise CommitConflictError(
                    f"schema {snap['schema_id']} this DDL was planned on was "
                    f"replaced by schema {head['schema_id']}"
                )
            return {
                **head,
                "batch_id": None,
                "schema_id": new_schema_id,
                "cluster_by": remap(head.get("cluster_by")),
                "stats_columns": remap(head.get("stats_columns")),
                "stats": {},
            }

        self._commit_op("ddl", produce, snap)
        return {"skipped": False, "schema_id": new_schema_id}

    # ---------------------------------------------------------------- verify
    def verify_against(self, spark: SparkSession, source: DataFrame) -> dict:
        """Initsync verification (reference: post-load row-count comparison in
        data_pipeline/initsync_pipe.py, SURVEY.md §2 T10), strengthened to a
        full symmetric-difference check: row counts AND exceptAll both ways
        must be empty. Returns a report dict; `ok` gates the run."""
        data_cols = [f.name for f in self.schema_struct().fields]
        target = self.read(spark).select(*data_cols)
        src = source.select(*data_cols)
        n_src = src.count()
        n_tgt = target.count()
        missing = src.exceptAll(target).count()
        extra = target.exceptAll(src).count()
        return {
            "ok": n_src == n_tgt and missing == 0 and extra == 0,
            "source_rows": n_src,
            "target_rows": n_tgt,
            "missing_in_target": missing,
            "extra_in_target": extra,
        }

    # ------------------------------------------------------- changelog / CDC-out
    def history(self) -> list[dict]:
        """Snapshot chain, oldest→newest (follows parent pointers from the
        current snapshot; snapshots dropped by expire_snapshots are absent)."""
        chain = []
        snap = self.current_snapshot()
        while snap is not None:
            chain.append(snap)
            pid = snap.get("parent")
            if pid is None:
                break
            try:
                snap = self.snapshot_by_id(pid)
            except FileNotFoundError:
                break
        return list(reversed(chain))

    def snapshot_as_of(self, ts) -> dict:
        """Latest RETAINED snapshot committed at or before `ts` (Iceberg's
        `TIMESTAMP AS OF` resolution). ts: unix seconds or a datetime
        (naive = UTC, matching the session timezone). Raises if every
        retained snapshot is newer — the requested time has been expired
        (or never existed); callers that must survive retention should pin
        a tag instead (tag_snapshot)."""
        if isinstance(ts, datetime.datetime):
            if ts.tzinfo is not None:
                ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            ts = (ts - _STAT_EPOCH).total_seconds()
        # compare at whole-microsecond resolution: committed_at comes from
        # time.time() (sub-µs fraction) but callers legitimately round-trip
        # it through datetime (µs-quantized) — without quantizing both
        # sides, a µs-truncated timestamp resolves to the PREVIOUS snapshot
        tsq = round(ts * 1e6)
        cands = [s for s in self.history() if round(s["committed_at"] * 1e6) <= tsq]
        if not cands:
            oldest = self.history()[0]
            raise ValueError(
                f"no retained snapshot at or before ts={ts} "
                f"(oldest retained committed_at={oldest['committed_at']})"
            )
        return max(cands, key=lambda s: (round(s["committed_at"] * 1e6), s["snapshot_id"]))

    _INSPECT_KINDS = ("snapshots", "files", "manifests", "refs")

    def inspect(self, spark: SparkSession, kind: str) -> DataFrame:
        """Metadata tables (Iceberg's `<table>.snapshots` / `.files` /
        `.manifests` / `.refs`) as DataFrames, so operational queries
        ("how many delta files per bucket", "snapshot cadence last hour",
        "which files would a ts-range scan keep") run in Spark instead of
        ad-hoc driver scripts. Built from the retained metadata chain —
        O(retained snapshots/files) driver-side rows, the same bound as
        Iceberg's own metadata tables, never touching data files."""
        if kind == "snapshots":
            rows = [
                (
                    s["snapshot_id"], s.get("parent"), s["kind"],
                    s.get("batch_id"), s.get("watermark_lsn"),
                    s.get("schema_id"), s["spec_id"],
                    len(s["manifests"]),
                    datetime.datetime.fromtimestamp(
                        s["committed_at"], tz=datetime.timezone.utc
                    ).replace(tzinfo=None),
                )
                for s in self.history()
            ]
            schema = T.StructType([
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("parent_id", T.LongType()),
                T.StructField("kind", T.StringType()),
                T.StructField("batch_id", T.LongType()),
                T.StructField("watermark_lsn", T.LongType()),
                T.StructField("schema_id", T.IntegerType()),
                T.StructField("spec_id", T.IntegerType()),
                T.StructField("n_manifests", T.IntegerType()),
                T.StructField("committed_at", T.TimestampType()),
            ])
            return spark.createDataFrame(rows, schema)
        if kind == "files":
            snap = self.current_snapshot()
            rows = [
                (
                    e["path"], e["bucket"], e["layer"],
                    e["spec_id"], e.get("schema_id"),
                    # set only on deltas written in the legacy _del= layout
                    bool(e.get("is_delete", False)),
                    # declared StringType but _record_stats also stores
                    # int/float bounds for numeric cluster keys — stringify
                    # or createDataFrame raises TypeError on such tables
                    None if e.get("key_min") is None else str(e["key_min"]),
                    None if e.get("key_max") is None else str(e["key_max"]),
                    json.dumps(e["col_stats"]) if e.get("col_stats") else None,
                )
                for e in self._files(snap)
            ]
            schema = T.StructType([
                T.StructField("path", T.StringType()),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("layer", T.StringType()),
                T.StructField("spec_id", T.IntegerType()),
                T.StructField("schema_id", T.IntegerType()),
                T.StructField("is_delete", T.BooleanType()),
                T.StructField("key_min", T.StringType()),
                T.StructField("key_max", T.StringType()),
                T.StructField("col_stats", T.StringType()),
            ])
            return spark.createDataFrame(rows, schema)
        if kind == "manifests":
            snap = self.current_snapshot()
            rows = [
                (m["name"], m.get("entry_count"),
                 min(m["buckets"]) if m.get("buckets") else None,
                 max(m["buckets"]) if m.get("buckets") else None)
                for m in snap["manifests"]
            ]
            schema = T.StructType([
                T.StructField("name", T.StringType()),
                T.StructField("entry_count", T.LongType()),
                T.StructField("bucket_min", T.IntegerType()),
                T.StructField("bucket_max", T.IntegerType()),
            ])
            return spark.createDataFrame(rows, schema)
        if kind == "refs":
            rows = [
                (name, ref.get("type", "tag"), ref["snapshot_id"])
                for name, ref in sorted(self._refs().items())
            ] + [
                (name, "branch", head) for name, head in sorted(self.branches().items())
            ]
            schema = T.StructType([
                T.StructField("name", T.StringType()),
                T.StructField("type", T.StringType()),
                T.StructField("snapshot_id", T.LongType()),
            ])
            return spark.createDataFrame(rows, schema)
        raise ValueError(f"unknown metadata table {kind!r} (one of {self._INSPECT_KINDS})")

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental changelog read (Iceberg's incremental scan / CDC-out):
        the change rows committed AFTER `from_snapshot_id` up to and
        including `to_snapshot_id` (default: current). Lets a downstream
        pipeline chain off this table without re-reading it.

        Emitted columns: _snapshot_id, _batch_id, _change_op (I/U/D — D rows
        are the tombstones), lsn, <table columns> (+ `_set_mask` on partial
        tables: null/-1 = full image). Sources per snapshot kind:
        - merge / cherry-pick: its delta files — the collapsed changeset
          verbatim;
        - overwrite of an empty table (the first initsync): every written
          row, as an insert;
        - create/ddl/compact/rebucket: no logical row changes;
        - rollback, and overwrite of a table that held data: they replace
          rows and write no change rows for the ones they remove → raises
          CursorExpiredError carrying the newest such id (re-bootstrap the
          consumer, then resume from there).

        Planning reads metadata only: each row-changing commit's own
        manifests (Iceberg's added-snapshot manifests), so its cost grows
        with the window, not with retention.
        """
        chain = self.history()
        return self._changes_df(
            spark, chain[-1], self._change_window(from_snapshot_id, to_snapshot_id, chain)
        )

    def _changes_df(
        self, spark: SparkSession, cur: dict, window: list[tuple[dict, list[dict]]]
    ) -> DataFrame:
        """The change rows of `_change_window`'s commits, projected to the
        schema of `cur` (the chain head)."""
        partial = self.update_mode(cur) == "partial"
        out_parts: list[DataFrame] = []
        data_cols = [f["name"] for f in self._load_schema(cur["schema_id"])["fields"]]
        for s, new_entries in window:
            sid = s["snapshot_id"]
            if s["kind"] in ("merge", "cherry-pick"):
                # cherry-pick re-references an earlier merge's delta files —
                # new to THIS chain by path-diff, so they emit here exactly
                # like the direct merge would have; both add delta files only
                extra = [LSN_COL, OP_COL] + ([MASK_COL] if partial else [])
                df = self._read_parts(spark, cur, new_entries, extra)
                df = df.select(
                    F.lit(sid).alias("_snapshot_id"),
                    F.lit(s.get("batch_id")).cast("long").alias("_batch_id"),
                    F.col(OP_COL).alias("_change_op"),
                    F.col(LSN_COL).alias("lsn"),
                    *data_cols,
                    *([F.col(MASK_COL)] if partial else []),
                )
            else:  # overwrite of an empty table: all rows as inserts
                df = self._read_parts(spark, cur, new_entries, [LSN_COL])
                df = df.select(
                    F.lit(sid).alias("_snapshot_id"),
                    F.lit(s.get("batch_id")).cast("long").alias("_batch_id"),
                    F.lit("I").alias("_change_op"),
                    F.col(LSN_COL).alias("lsn"),
                    *data_cols,
                    *([F.lit(None).cast("long").alias(MASK_COL)] if partial else []),
                )
            out_parts.append(df)
        if not out_parts:
            schema = T.StructType(
                [
                    T.StructField("_snapshot_id", T.LongType()),
                    T.StructField("_batch_id", T.LongType()),
                    T.StructField("_change_op", T.StringType()),
                    T.StructField("lsn", T.LongType()),
                ]
                + list(self.schema_struct(cur).fields)
                + ([T.StructField(MASK_COL, T.LongType())] if partial else [])
            )
            return spark.createDataFrame([], schema)
        df = out_parts[0]
        for p in out_parts[1:]:
            df = df.unionByName(p)
        return df

    def _change_window(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None,
        chain: list[dict] | None = None,
    ) -> list[tuple[dict, list[dict]]]:
        """The commits in (from, to] of the published chain that change
        rows, each with its file entries new to the chain, in commit order:
        merge and cherry-pick commits (delta files) and overwrites of an
        empty table (base files). Raises ValueError for a `from` outside
        retained history and CursorExpiredError for a window that holds a
        rollback or an overwrite of a table that held data (`_last_reset`).

        Each commit's entries are its own manifests (`_own_entries`):
        compactions and manifest rewrites carry entries into new manifests
        and change no rows, so only these three kinds are read.
        `chain`: the caller's `history()`, so one poll walks it once."""
        chain = chain if chain is not None else self.history()
        ids = [s["snapshot_id"] for s in chain]
        if from_snapshot_id not in ids:
            raise ValueError(f"snapshot {from_snapshot_id} not in retained history {ids}")
        to_id = to_snapshot_id if to_snapshot_id is not None else ids[-1]
        reset = self._last_reset(chain, from_snapshot_id, to_id)
        if reset is not None:
            raise CursorExpiredError(from_snapshot_id, reset)
        out = []
        for s in chain:
            if (
                from_snapshot_id < s["snapshot_id"] <= to_id
                and s["kind"] in ("merge", "cherry-pick", "overwrite")
            ):
                new_entries = self._own_entries(s)
                if new_entries:
                    out.append((s, new_entries))
        return out

    def _last_reset(self, chain: list[dict], from_id: int, to_id: int) -> int | None:
        """Id of the newest commit in the changelog window (from_id, to_id]
        of a parent chain that replaces rows without writing change rows
        for the ones it removes, or None: a `rollback`, or an `overwrite`
        whose parent held data files. An overwrite of an empty table (the
        first initsync) removes nothing, so its rows read as inserts."""
        ids = [
            s["snapshot_id"]
            for parent, s in zip(chain, chain[1:])
            if from_id < s["snapshot_id"] <= to_id
            and (s["kind"] == "rollback"
                 or (s["kind"] == "overwrite" and self._files(parent)))
        ]
        return max(ids, default=None)

    def _touched_key_df(
        self, spark: SparkSession, from_id: int, to_id: int
    ) -> DataFrame | None:
        """Distinct merge keys touched in (from_id, to_id] — derived from
        the window's MOR delta files (tombstones carry keys too). Returns
        None when the key set is not derivable from deltas alone: an
        overwrite replaces every row, and a rollback reverts state without
        writing anything — those windows must diff full snapshots."""
        try:
            window = self._change_window(from_id, to_id)
        except CursorExpiredError:
            return None
        if any(s["kind"] == "overwrite" for s, _ in window):
            return None
        to_snap = self.snapshot_by_id(to_id)
        delta_e = [e for _, entries in window for e in entries]
        if not delta_e:
            return spark.createDataFrame(
                [], T.StructType([f for f in self.schema_struct(to_snap).fields
                                  if f.name in MERGE_KEY])
            )
        return (
            self._read_parts(spark, to_snap, delta_e, [])
            .select(*MERGE_KEY)
            .distinct()
        )

    def _project_to_schema(
        self, df: DataFrame, from_schema_id: int, to_schema_id: int
    ) -> DataFrame:
        """Re-project a from-schema read into the to-schema's column space
        by FIELD ID (rename → alias, widen → cast, added → null, dropped →
        omitted) — the same mapping _read_parts applies per file, lifted to
        a whole DataFrame so two snapshots straddling a DDL compare in one
        consistent shape."""
        if from_schema_id == to_schema_id:
            return df
        frm = {f["id"]: f for f in self._load_schema(from_schema_id)["fields"]}
        cols = []
        for f in self._load_schema(to_schema_id)["fields"]:
            g = frm.get(f["id"])
            if g is None:
                cols.append(F.lit(None).cast(_spark_type(f["type"])).alias(f["name"]))
            else:
                cols.append(F.col(g["name"]).cast(_spark_type(f["type"])).alias(f["name"]))
        return df.select(*cols)

    def net_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """NET changelog between two snapshots (Iceberg's
        create_changelog_view(net_changes=true)): ONE row per merge key
        whose live image differs between the snapshots — `_change_op` I
        (absent→present, after-image), U (present→changed, after-image),
        D (present→absent, before-image). Keys whose intermediate churn
        cancels out (insert+delete, update back to the same values) emit
        nothing. Exact under partial images, compaction inside the window,
        and schema evolution (both sides compare in the TO snapshot's
        schema, field-id mapped).

        Plan shape (same two-regime split as corpus_view.touched_documents,
        picked by `bounded_ids` over the window's distinct conv_ids):
        - churn ≤ HIGH_CHURN_CAP (the design point): the touched
          conv_ids are collected and pushed into BOTH snapshot reads as
          `conv_ids=` — bucket pruning + manifest key-range skipping make
          the scans O(churn) FILES, not just O(churn) rows — then the exact
          (conv_id, turn_idx) key set semi-joins the pruned reads;
        - churn above the cap (backfill, initsync fallout): the key frame
          semi-joins the full snapshot reads distributed — no id ever lands
          on the driver, one pass over the table.
        Both regimes end in one full-outer join on the merge key. Windows
        containing an overwrite or a rollback can't enumerate touched keys
        from metadata and fall back to a full two-snapshot diff."""
        to_id = (
            to_snapshot_id if to_snapshot_id is not None
            else self.current_snapshot()["snapshot_id"]
        )
        keys = self._touched_key_df(spark, from_snapshot_id, to_id)
        from_snap = self.snapshot_by_id(from_snapshot_id)
        to_snap = self.snapshot_by_id(to_id)
        conv_ids = None
        if keys is not None:
            conv_ids = bounded_ids(keys.select("conv_id").distinct())
        before = self._project_to_schema(
            self.read(spark, from_snapshot_id, conv_ids=conv_ids),
            from_snap["schema_id"], to_snap["schema_id"],
        )
        after = self.read(spark, to_id, conv_ids=conv_ids)
        if keys is not None:
            before = before.join(keys, on=list(MERGE_KEY), how="left_semi")
            after = after.join(keys, on=list(MERGE_KEY), how="left_semi")
        payload = [
            f["name"]
            for f in self._load_schema(to_snap["schema_id"])["fields"]
            if f["name"] not in MERGE_KEY
        ]
        b = before.select(
            *MERGE_KEY, F.lit(True).alias("_in_b"),
            F.struct(*payload).alias("_b") if payload else F.lit(None).alias("_b"),
        )
        a = after.select(
            *MERGE_KEY, F.lit(True).alias("_in_a"),
            F.struct(*payload).alias("_a") if payload else F.lit(None).alias("_a"),
        )
        j = b.join(a, on=list(MERGE_KEY), how="full_outer")
        op = (
            F.when(F.col("_in_b").isNull(), F.lit("I"))
            .when(F.col("_in_a").isNull(), F.lit("D"))
            .when(F.col("_b").eqNullSafe(F.col("_a")), F.lit(None))
            .otherwise(F.lit("U"))
        )
        j = j.withColumn("_change_op", op).where(F.col("_change_op").isNotNull())
        img = F.when(F.col("_change_op") == "D", F.col("_b")).otherwise(F.col("_a"))
        return j.select(
            F.col("_change_op"),
            *MERGE_KEY,
            *[img[c].alias(c) for c in payload],
        )

    def tail_changes(
        self, spark: SparkSession, cursor_path: str
    ) -> tuple[DataFrame | None, dict]:
        """`tail_window` as (changes, new_cursor), or (None, cursor) when
        nothing was committed since the cursor. The caller calls
        ``commit_cursor(cursor_path, new_cursor)`` AFTER it has durably
        processed the changes, which cover (``from_snapshot_id``,
        ``snapshot_id``]."""
        w = self.tail_window(cursor_path)
        if w.from_id == w.to_id:
            return None, w.cursor
        return w.changes(spark), w.cursor

    def tail_window(self, cursor_path: str) -> ChangeWindow:
        """Plan the changelog window since a durable cursor from metadata
        (one `history()` walk) and pin it. First call (no cursor file)
        starts from the oldest retained snapshot.

        Pinning: before a window is returned, `{from, to}` is written to
        ``<cursor_path>.intent`` by atomic rename; `commit_cursor` removes
        it after the cursor rename. A consumer that crashed in between
        gets exactly (cursor, to] again however far the table has moved,
        so redelivery is exact: its sink skips the window by batch_id
        (= to) or finishes what the crash cut short. An intent whose window
        committed (cursor >= to) or whose `to` left the chain is dropped.

        A cursor that points BELOW the oldest retained snapshot has expired:
        `expire_snapshots` GC'd the deltas between it and the retained chain,
        so the changes folded into the oldest snapshot's base files can NEVER
        be emitted incrementally — silently resuming would lose them; a
        `rollback_to`, or an `overwrite` of a table that held data, inside
        the window likewise emits nothing for the rows it removes. Both
        raise CursorExpiredError, whose `oldest_retained` is the resume
        point (the oldest retained id, or the newest rollback or overwrite
        id in the window); the consumer re-bootstraps with a full table
        read (``read(spark)``), then resumes tailing from there."""
        chain = self.history()
        ids = [s["snapshot_id"] for s in chain]
        start = ids[0]
        if os.path.exists(cursor_path):
            with open(cursor_path) as f:
                at = json.load(f)["snapshot_id"]
            if at not in ids:
                reset = self._last_reset(chain, start, ids[-1])
                raise CursorExpiredError(at, start if reset is None else reset)
            start = at
        to = ids[-1]
        intent_path = cursor_path + ".intent"
        if os.path.exists(intent_path):
            with open(intent_path) as f:
                pinned = json.load(f)["to"]
            if start < pinned and pinned in ids:
                to = pinned
            else:  # its window committed, or `to` left the chain
                os.remove(intent_path)
        if start >= to:
            return ChangeWindow(self, start, start, chain[-1], [])
        window = ChangeWindow(self, start, to, chain[-1], self._change_window(start, to, chain))
        _atomic_write(intent_path, json.dumps({"from": start, "to": to}))
        return window

    @staticmethod
    def commit_cursor(cursor_path: str, cursor: dict) -> None:
        """Durably advance a `tail_window` cursor, then drop its intent."""
        _atomic_write(cursor_path, json.dumps(cursor))
        try:
            os.remove(cursor_path + ".intent")
        except FileNotFoundError:
            pass

    def rollback_to(self, snapshot_id: int) -> dict:
        """Roll the table back to a previous snapshot's state (Iceberg
        `rollback_to_snapshot`): commits a NEW snapshot whose files, schema,
        watermark and batch progress are the old ones — history stays intact
        and snapshot ids stay monotonic. Replaying batches after the rolled-
        back point re-applies them (their batch_ids exceed the restored
        last_batch_id)."""
        target = self.snapshot_by_id(snapshot_id)
        new = self._commit_op("rollback", lambda head, sid: {
            **target, "batch_id": None, "stats": {"rolled_back_to": snapshot_id},
        }, self.current_snapshot())
        return {"skipped": False, "snapshot_id": new["snapshot_id"], "restored": snapshot_id}

    # ------------------------------------------------------------ maintenance
    def upgrade(self) -> dict:
        """One-shot, metadata-only upgrade of a table an older version wrote
        to format v2 (Iceberg's format-version upgrade; no Spark). Reads
        the pre-v2 head raw, fills what v2 guarantees (`layer`/`spec_id` on
        entries; `specs`, `update_mode`, `manifests`, `delta_depth`; the
        schema's `last_column_id`, max over every schema version so dropped
        ids stay retired), commits it as a root snapshot (`kind: "upgrade"`,
        old head id in `stats`), then deletes every pre-v2 snapshot json
        (files only they referenced are left to expire_snapshots).
        Earlier history is given up as with expire_snapshots: an older
        cursor gets CursorExpiredError. Refuses while a tag or branch pins
        a pre-v2 snapshot; on a v2 table it commits nothing and finishes an
        interrupted cleanup."""
        if self.ref is not None or self._refs() or self._branch_hints():
            raise ValueError(
                f"table {self.path}: tags or branches pin pre-v2 snapshots; "
                "remove them (untag / drop-branch) before upgrade"
            )
        old = self._read_json(self._head_name())
        new_id = None
        if old.get("format_version") != FORMAT_VERSION:
            new_id, spec = self._next_id(old), old.get("spec_id", 0)
            entries = [{"layer": "base", "spec_id": 0, **e} for e in old.get("files") or [
                e for m in old.get("manifests", []) for e in self._manifest_entries(m["name"])
            ]]
            depth = old.get("delta_depth") or dict(collections.Counter(
                str(e["bucket"]) for e in entries
                if e["layer"] == "delta" and e["spec_id"] == spec
            ))
            sch = self._load_schema(old["schema_id"])
            if "last_column_id" not in sch:
                sch["last_column_id"] = max(
                    f["id"] for fn in os.listdir(self.meta_dir)
                    if fn.startswith("schema-") and fn.endswith(".json")
                    for f in self._read_json(fn)["fields"]
                )
                self._write_json(f"schema-{old['schema_id']}.json", sch)
            self._commit_op("upgrade", lambda head, sid: {
                **{k: v for k, v in old.items() if k not in ("files", "merge_mode")},
                "format_version": FORMAT_VERSION,
                "batch_id": None,
                "spec_id": spec,
                "specs": old.get("specs") or {str(spec): old["n_buckets"]},
                "update_mode": old.get("update_mode", "full"),
                "manifests": self._write_manifests(sid, entries),
                "delta_depth": depth,
                "stats": {"upgraded_from": old["snapshot_id"]},
            }, old, new_id)
        stale = [
            fn for fn in sorted(os.listdir(self.meta_dir))
            if fn.startswith("snapshot-") and fn.endswith(".json")
            and self._read_json(fn).get("format_version") != FORMAT_VERSION
        ]
        for fn in stale:
            os.remove(os.path.join(self.meta_dir, fn))
        return {"skipped": new_id is None, "snapshot_id": self._head_id(),
                "removed_snapshots": len(stale)}

    def expire_snapshots(
        self,
        keep_last: int = 2,
        older_than_seconds: float | None = None,
        orphan_grace_seconds: float = 0.0,
    ) -> dict:
        """Garbage-collect history: keep the newest `keep_last` snapshots,
        delete snapshot jsons and any data files no kept snapshot references
        (Iceberg's expire_snapshots + orphan-file cleanup). Time travel only
        works within the kept window afterwards.

        older_than_seconds: additionally keep EVERY snapshot committed
        within the window (Iceberg's `older_than` retention) — so "expire
        older than 7 days, retain at least 2" is
        ``expire_snapshots(keep_last=2, older_than_seconds=7*86400)``; the
        changelog/time-travel horizon becomes a wall-clock guarantee
        instead of a commit-count one. Safe under the single-writer
        assumption: the current snapshot is always kept — and so is every
        TAGGED snapshot (`tag_snapshot`), Iceberg-style: a pinned corpus
        export stays re-readable however far the retention window moves.
        Every BRANCH head is kept along with its STAGED ANCESTRY — the
        parent chain from the head down to the first already-kept (or
        expired) snapshot — because `fast_forward` must walk that chain to
        prove the publish is an ancestor move, and the audit reads the
        staged changelog across it; GC'ing a middle staged snapshot would
        make the branch permanently unpublishable. Snapshots a branch
        abandoned via reset_branch/drop_branch are unreachable from any
        ref and age out of the keep-last window like ordinary history.

        orphan_grace_seconds: an UNREFERENCED data file younger than this
        is left alone (Iceberg's remove_orphan_files `older_than`, default
        3 days there). An in-flight writer's files are unreferenced until
        its commit lands — data under `data/.tmp-*` mid-write, or a
        renamed `data/s<id>` dir in the instant before its metadata CAS —
        so a maintenance job GC'ing concurrently with ingest must pass a
        grace ≥ the longest plausible write+commit (minutes is plenty);
        the 0.0 default preserves same-process semantics where the caller
        KNOWS no write is in flight (tests, single-threaded maintenance
        windows)."""
        cur = self.current_snapshot()
        all_snaps = sorted(
            int(f[len("snapshot-"):-len(".json")])
            for f in os.listdir(self.meta_dir)
            if f.startswith("snapshot-") and f.endswith(".json")
        )
        keep_ids = set(all_snaps[-keep_last:]) | {cur["snapshot_id"]}
        if older_than_seconds is not None:
            cutoff = time.time() - older_than_seconds
            keep_ids.update(
                sid for sid in all_snaps
                if self.snapshot_by_id(sid).get("committed_at", 0.0) >= cutoff
            )
        keep_ids.update(
            r["snapshot_id"] for r in self._refs().values()
            if r["snapshot_id"] in set(all_snaps)
        )
        # all ref heads: main (even when called from a branch handle) + branches
        try:
            keep_ids.add(LakehouseTable(self.path).current_snapshot()["snapshot_id"])
        except FileNotFoundError:
            pass
        for head in self._branch_hints().values():
            # keep the whole staged segment: head → first kept/expired
            # ancestor (fast_forward's ancestor walk + the staged-changelog
            # audit both need every link of this chain)
            s = self._load_snapshot(head)
            while True:
                keep_ids.add(s["snapshot_id"])
                pid = s.get("parent")
                if pid is None or pid in keep_ids:
                    break
                try:
                    s = self.snapshot_by_id(pid)
                except FileNotFoundError:
                    break
        now = time.time()
        skipped_in_grace = 0

        def in_grace(p: str) -> bool:
            # the grace must cover METADATA too: an in-flight commit's
            # manifest (written before the snapshot json) and a committed-
            # but-not-yet-hint-swung snapshot json are both unreferenced
            # from this process's view for an instant — deleting either
            # destroys the concurrent commit (unreadable table), which is
            # exactly what the grace exists to prevent
            if orphan_grace_seconds <= 0:
                return False
            try:
                return (now - os.path.getmtime(p)) < orphan_grace_seconds
            except OSError:  # already gone (concurrent cleanup)
                return True

        # Per-COMMIT protection, not just per-file: a snapshot json inside
        # the grace window pulls its WHOLE reference closure (manifests +
        # data files) into the live sets — a stalled writer's data files
        # can be arbitrarily older than its snapshot json (long write, GC
        # pause), so judging each file by its own mtime would let one
        # expire run keep the snapshot while deleting what it references.
        # The spared snapshot itself stays expire-ELIGIBLE (not in
        # keep_ids): once it ages past the grace it expires normally.
        spared_snaps = [
            sid for sid in all_snaps
            if sid not in keep_ids
            and in_grace(os.path.join(self.meta_dir, f"snapshot-{sid:08d}.json"))
        ]
        live_files: set[str] = set()
        live_manifests: set[str] = set()
        for sid in list(keep_ids) + spared_snaps:
            kept = self.snapshot_by_id(sid)
            live_manifests.update(m["name"] for m in kept["manifests"])
            live_files.update(e["path"] for e in self._files(kept))

        removed_files = 0
        data_dir = os.path.join(self.path, "data")
        for root, _dirs, files in os.walk(data_dir, topdown=False):
            for f in files:
                full = os.path.join(root, f)
                rel = os.path.relpath(full, self.path)
                if f.endswith(".parquet") and rel not in live_files:
                    if in_grace(full):
                        skipped_in_grace += 1
                        continue
                    try:
                        os.remove(full)
                    except FileNotFoundError:  # concurrent cleanup
                        continue
                    removed_files += 1
            # empty-dir sweep honors the grace too: a concurrent writer
            # mkdirs its output tree BEFORE any file lands in it, and
            # rmdir'ing that young empty dir makes the writer's own mkdirs/
            # setPermission fail mid-write (reproduced live in
            # test_gc_races_ingest.py) — a young empty dir is an in-flight
            # write, not garbage
            if root != data_dir and not in_grace(root):
                try:
                    if not os.listdir(root):
                        os.rmdir(root)
                except OSError:  # vanished or refilled concurrently
                    pass

        removed_snaps = 0
        spared = set(spared_snaps)
        for sid in all_snaps:
            if sid in keep_ids:
                continue
            if sid in spared:
                skipped_in_grace += 1
                continue
            os.remove(os.path.join(self.meta_dir, f"snapshot-{sid:08d}.json"))
            removed_snaps += 1
        removed_manifests = 0
        for fn in os.listdir(self.meta_dir):
            if fn.startswith("manifest-") and fn.endswith(".json") and fn not in live_manifests:
                p = os.path.join(self.meta_dir, fn)
                if in_grace(p):
                    skipped_in_grace += 1
                    continue
                os.remove(p)
                self._manifest_cache.pop(fn, None)
                removed_manifests += 1
        return {"kept": sorted(keep_ids), "removed_snapshots": removed_snaps,
                "removed_files": removed_files, "removed_manifests": removed_manifests,
                "orphans_in_grace": skipped_in_grace}

    def purge_keys(
        self,
        spark: SparkSession,
        conv_ids: list[str],
        *,
        force_drop_tags: bool = False,
        orphan_grace_seconds: float = 0.0,
        verify: bool = True,
    ) -> dict:
        """Compliance purge (right-to-be-forgotten / poisoned-data removal):
        PHYSICALLY remove every row of the given conversations from the
        table AND all retained history, then prove it.

        A tombstone merge only removes rows from the CURRENT snapshot —
        the text keeps living in older snapshots' base/delta files until
        retention expires them, and a tag can pin them forever. This is
        the composition Iceberg documents for GDPR deletes (DELETE +
        expire_snapshots + remove_orphan_files), run as one audited step:

          1. logical delete — one tombstone changeset for the keys' live
             rows, LSN above both the watermark and every purged row's LSN
             (the delete must win any LWW fold);
          2. compact — folds the tombstones, so no CURRENT file holds the
             rows;
          3. expire_snapshots(keep_last=1) + orphan cleanup — every
             pre-purge snapshot (whose files still hold the rows) is
             dropped; time travel and changelog history collapse to the
             purge point, BY DESIGN: retained history IS retained data;
          4. verify — a distributed scan of EVERY parquet file still on
             disk under the table (all layers, one thin conv_id column)
             asserting zero residual rows. Stats never decide truth here
             either: the verify reads the files, not the manifests.

        Refuses (compliance-soundly) when: called on a branch handle, any
        branch exists (a staged head may hold the keys where a main-side
        rewrite can't reach — publish or drop branches first), a spec
        migration is in flight (tombstones can't safely fold, same rule as
        compact), or tags exist without force_drop_tags=True (a tag pins
        pre-purge state; dropping it is a policy decision the caller must
        make explicitly).

        Downstream contract: changelog cursors below the purge point raise
        CursorExpiredError on their next poll and re-bootstrap from the
        purged table (the documented retention behavior) — either way a
        consumer converges to a state without the purged docs. Corpus
        exports already written are separate artifacts: re-export
        (snapshot_corpus) against the post-purge snapshot.

        orphan_grace_seconds: forwarded to the expiry sweep — 0.0 (default)
        for a quiesced maintenance window, the compliance-fastest path; set
        a grace when ingest runs concurrently (see expire_snapshots) and
        re-run purge_keys after it elapses to sweep the remainder."""
        if not conv_ids:
            raise ValueError("purge_keys needs at least one conv_id")
        if self.ref is not None:
            raise ValueError("purge from the main table handle, not a branch")
        branches = self._branch_hints()
        if branches:
            raise ValueError(
                f"live branches {sorted(branches)} may stage the purged keys "
                "out of reach of a main-side rewrite — fast_forward or "
                "drop_branch them first"
            )
        snap = self.current_snapshot()
        if self._mixed_spec(snap):
            raise ValueError(
                "spec migration in flight — finish migrate_spec first "
                "(tombstones cannot safely fold across mixed specs)"
            )
        refs = self._refs()
        if refs and not force_drop_tags:
            raise ValueError(
                f"tags {sorted(refs)} pin pre-purge snapshots; pass "
                "force_drop_tags=True to drop them as part of the purge"
            )
        dropped_tags = sorted(refs)
        for name in dropped_tags:
            self.remove_tag(name)

        ids = sorted(set(conv_ids))
        live = self.read(spark, conv_ids=ids, with_lsn=True).persist()
        agg = live.agg(
            F.count(F.lit(1)).alias("n"), F.max(LSN_COL).alias("mx")
        ).first()
        n_live, max_lsn = int(agg["n"]), agg["mx"] or 0
        if n_live:
            lsn_del = max(snap.get("watermark_lsn") or 0, int(max_lsn)) + 1
            payload = [
                f for f in self.schema_struct(snap).fields
                if f.name not in MERGE_KEY
            ]
            changes = live.select(
                *MERGE_KEY,
                F.lit(lsn_del).cast("long").alias("lsn"),
                F.lit("D").alias("op"),
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in payload],
            )
            self.merge(spark, snap["last_batch_id"] + 1, changes)
        live.unpersist()
        self.compact(spark)
        exp = self.expire_snapshots(
            keep_last=1, orphan_grace_seconds=orphan_grace_seconds
        )

        report = {
            "purged_conv_ids": len(ids),
            "rows_deleted": n_live,
            "dropped_tags": dropped_tags,
            "removed_snapshots": exp["removed_snapshots"],
            "removed_files": exp["removed_files"],
            "orphans_in_grace": exp["orphans_in_grace"],
        }
        if verify:
            data_dir = os.path.join(self.path, "data")
            files = [
                os.path.join(root, f)
                for root, _d, fs in os.walk(data_dir)
                for f in fs
                if f.endswith(".parquet")
            ]
            residual = 0
            if files:
                ids_df = spark.createDataFrame([(c,) for c in ids], "conv_id string")
                residual = (
                    spark.read.schema("conv_id string")
                    .parquet(*files)
                    .join(F.broadcast(ids_df), "conv_id", "left_semi")
                    .count()
                )
            report["verify"] = {"files_scanned": len(files), "residual_rows": residual}
            if residual:
                raise RuntimeError(
                    f"purge verification FAILED: {residual} residual rows "
                    f"for purged conv_ids across {len(files)} files "
                    f"(orphans in grace: {exp['orphans_in_grace']}) — {report}"
                )
        return report
