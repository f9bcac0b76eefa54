"""Deterministic change-event feed: generator + readers.

The generator synthesises the binlog/WAL-style feed the engine tails
(FIXTURES.md §A2): insert/update/delete (+ optional DDL) over the transcripts
table, totally ordered by LSN, Zipf-distributed keys with an optional hot
conv_id receiving 30% of all events. It is the sandbox stand-in for the
reference's extract path (reference: data_pipeline/extractor/
oracle_cdc_extractor.py, mssql_cdc_extractor.py — repo-relative public paths,
see SURVEY.md §0) — fully vectorized numpy/pandas, seeded, no external data.

Readers: batch (`spark.read`) and streaming (`spark.readStream` file source —
an append-only directory of chunk files stands in for the Kafka topic, since
the sandbox has no Kafka jar; the production swap is `format("kafka")`).
"""

from __future__ import annotations

import json
import time
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TXN_EVENT_SCHEMA

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "python", "browser", "calculator"])

# DDL timeline used by the schema-evolution fixture (FIXTURES.md §A1):
# positions are fractions of the feed at which each DDL fires.
DDL_TIMELINE = (
    (0.30, {"action": "add_column", "name": "tokens", "type": "int"}),
    (0.55, {"action": "rename_column", "old": "tool", "new": "tool_name"}),
    (0.80, {"action": "widen_type", "name": "turn_idx", "to": "long"}),
)


@dataclass
class FeedSpec:
    n_events: int = 100_000
    n_convs: int = 2_000
    max_turns: int = 40
    seed: int = 42
    hot_key: bool = False  # one conv_id receives ~30% of all events
    with_ddl: bool = False  # inject the DDL_TIMELINE events
    chunk_size: int = 20_000
    p_update: float = 0.25
    p_delete: float = 0.049
    base_ts: str = "2026-01-01"
    # Partial-row-image mode (Oracle LogMiner-style capture): U payloads
    # carry only the columns the UPDATE set (random subset, occasionally an
    # explicit null), and a small fraction of keys receive an orphan U/D
    # before any I (the reference's UPDATE-affecting-0-rows case).
    partial_updates: bool = False
    p_orphan_update: float = 0.02
    # Source-transaction envelope (streaming/txn.py): group consecutive
    # events into commit-ordered transactions of ~geometric(mean) size and
    # stamp each row with its txn_id. DDL events become singleton
    # transactions (a DDL is its own commit at the source).
    with_txns: bool = False
    txn_mean_size: int = 20
    ddl_lsns: dict[int, dict] = field(default_factory=dict)  # filled by generator


def _zipf_conv_ids(rng: np.random.Generator, spec: FeedSpec) -> np.ndarray:
    """Conversation index per event: Zipf(1.1) over n_convs; optional hot key."""
    ranks = np.arange(1, spec.n_convs + 1, dtype=np.float64)
    probs = ranks ** -1.1
    probs /= probs.sum()
    conv = rng.choice(spec.n_convs, size=spec.n_events, p=probs)
    if spec.hot_key:
        # dedicated hot conversation (index n_convs, outside the Zipf range)
        hot = rng.random(spec.n_events) < 0.30
        conv = np.where(hot, spec.n_convs, conv)
    return conv


def generate_feed_pandas(spec: FeedSpec) -> pd.DataFrame:
    """Generate the full feed as one pandas DataFrame (lsn ascending).

    Columns match CHANGE_EVENT_SCHEMA. Deterministic for a given spec.
    """
    rng = np.random.default_rng(spec.seed)
    n = spec.n_events

    conv = _zipf_conv_ids(rng, spec)
    turn = rng.integers(0, spec.max_turns, size=n)
    lsn = np.arange(1, n + 1, dtype=np.int64)

    # op: first occurrence of a (conv, turn) key must be an INSERT; later
    # events on the key are U/D per probabilities (updates/deletes only ever
    # reference previously inserted keys — FIXTURES.md §A2 rule).
    u = rng.random(n)
    op = np.where(u < spec.p_delete, "D", np.where(u < spec.p_delete + spec.p_update, "U", "U"))
    key = conv.astype(np.int64) * 1_000 + turn.astype(np.int64)
    first = ~pd.Series(key).duplicated().to_numpy()
    if spec.partial_updates:
        orphan = first & (rng.random(n) < spec.p_orphan_update)
        op = np.where(first & ~orphan, "I", op)
    else:
        op = np.where(first, "I", op)

    ts = pd.Timestamp(spec.base_ts, tz=None) + pd.to_timedelta(lsn, unit="s")

    df = pd.DataFrame(
        {
            "lsn": lsn,
            "op": op,
            "ts": ts,
            "conv_id": pd.Series(conv).map(lambda c: f"conv-{c:06d}").astype("string"),
            "turn_idx": pd.array(turn, dtype="Int32"),  # nullable: DDL rows hold null
            "payload": pd.Series([None] * n, dtype="object"),
        }
    )

    # DDL injection: replace the event at each timeline position with a DDL row.
    spec.ddl_lsns = {}
    renamed_at = None
    tokens_at = None
    if spec.with_ddl:
        for frac, descriptor in DDL_TIMELINE:
            i = int(frac * n)
            df.loc[i, ["op", "conv_id"]] = ["DDL", None]
            df.loc[i, "turn_idx"] = None
            df.loc[i, "payload"] = json.dumps(descriptor)
            spec.ddl_lsns[int(df.loc[i, "lsn"])] = descriptor
            if descriptor["action"] == "rename_column":
                renamed_at = i
            elif descriptor["action"] == "add_column":
                tokens_at = i

    # Payload (vectorized string assembly — content is quote-free by design
    # so no JSON escaping is needed; text is the byte-equality invariant).
    dml = (df["op"] == "I") | (df["op"] == "U")
    idx = df.index[dml]
    role = ROLES[turn[idx] % 4]
    text = (
        "turn " + pd.Series(turn[idx].astype(str), index=idx)
        + " of " + df.loc[idx, "conv_id"].astype(str)
        + " rev " + pd.Series(lsn[idx].astype(str), index=idx)
    )
    tool_name = TOOLS[lsn[idx] % 4]
    is_tool = role == "tool"
    ts_str = pd.Series(ts[idx].strftime("%Y-%m-%dT%H:%M:%S"), index=idx)

    # Events after the rename DDL carry the NEW column name in their payload
    # (the source emits images under the schema in force at event time).
    after_rename = (
        idx.to_numpy() > renamed_at if renamed_at is not None else np.zeros(len(idx), dtype=bool)
    )
    tool_key = np.where(after_rename, "tool_name", "tool")
    has_tokens = idx.to_numpy() > tokens_at if tokens_at is not None else np.zeros(len(idx), dtype=bool)
    tok_vals = (lsn[idx] % 512).astype(str)

    is_i = (df.loc[idx, "op"] == "I").to_numpy()
    if spec.partial_updates:
        # per-field SET draws for U rows (I rows always carry the full image)
        m = len(idx)
        set_role = rng.random(m) < 0.30
        set_text = rng.random(m) < 0.55
        set_ts = rng.random(m) < 0.25
        set_tool = rng.random(m) < 0.25
        set_tool_null = rng.random(m) < 0.08  # explicit "tool": null (SET NULL)
        set_tokens = rng.random(m) < 0.35
    else:
        ones = np.ones(len(idx), dtype=bool)
        set_role = set_text = set_ts = ones
        set_tool = ones
        set_tool_null = np.zeros(len(idx), dtype=bool)
        set_tokens = ones

    incl_role = is_i | set_role
    incl_ts = is_i | set_ts
    # tool key: on I rows only tool turns carry it (full image: absent = null);
    # on partial U rows it may be set to a value (tool turns) or explicitly
    # nulled (any turn)
    incl_tool_val = is_tool & (is_i | set_tool)
    incl_tool_null = (~is_i) & (~incl_tool_val) & set_tool_null & spec.partial_updates
    incl_tokens = has_tokens & (is_i | set_tokens)
    # every U must set at least one column (an empty UPDATE is not a thing)
    any_set = incl_role | incl_ts | incl_tool_val | incl_tool_null | incl_tokens | set_text
    incl_text = is_i | set_text | ~any_set

    def frag(incl: np.ndarray, body: pd.Series) -> pd.Series:
        return pd.Series(np.where(incl, "," + body, ""), index=idx)

    tool_key_s = pd.Series(tool_key, index=idx)
    parts = (
        frag(incl_role, '"role":"' + pd.Series(role, index=idx) + '"')
        + frag(incl_text, '"text":"' + text + '"')
        + frag(incl_ts, '"ts":"' + ts_str + '"')
        + frag(incl_tool_val, '"' + tool_key_s + '":"' + pd.Series(tool_name, index=idx) + '"')
        + frag(incl_tool_null, '"' + tool_key_s + '":null')
        + frag(incl_tokens, '"tokens":' + pd.Series(tok_vals, index=idx))
    )
    payload = "{" + parts.str.replace("^,", "", regex=True) + "}"
    df.loc[idx, "payload"] = payload

    if spec.with_txns:
        # commit-ordered transactions over the LSN-ordered feed: boundary
        # draws come LAST so every other column is identical to the same
        # spec without txns. DDL rows (and the row after each) start fresh
        # transactions — a DDL is its own commit at the source.
        boundary = rng.random(n) < 1.0 / max(1, spec.txn_mean_size)
        ddl_mask = (df["op"] == "DDL").to_numpy()
        boundary |= ddl_mask
        boundary |= np.roll(ddl_mask, 1)
        boundary[0] = True
        df["txn_id"] = np.cumsum(boundary).astype(np.int64)
    return df


def generate_feed(out_dir: str, spec: FeedSpec) -> list[str]:
    """Write the feed as ordered parquet chunk files (one per log segment)."""
    os.makedirs(out_dir, exist_ok=True)
    df = generate_feed_pandas(spec)
    paths = []
    n_chunks = max(1, math.ceil(len(df) / spec.chunk_size))
    for c in range(n_chunks):
        part = df.iloc[c * spec.chunk_size : (c + 1) * spec.chunk_size]
        p = os.path.join(out_dir, f"chunk-{c:06d}.parquet")
        # microsecond timestamps: Spark's TimestampType is µs-precision
        part.to_parquet(p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
        paths.append(p)
    return paths


def read_feed_batch(spark, feed_dir: str, with_txns: bool = False):
    """Batch read of the whole feed (used by the batch replay path)."""
    schema = TXN_EVENT_SCHEMA if with_txns else CHANGE_EVENT_SCHEMA
    return spark.read.schema(schema).parquet(feed_dir)


def read_feed_stream(
    spark, feed_dir: str, max_files_per_trigger: int = 8, with_txns: bool = False
):
    """Streaming read: ordered chunk files = log segments; offsets live in
    the Spark checkpoint (reference recovery point: the audit DB watermark —
    data_pipeline/audit/*; ours: checkpoint + idempotent merge).

    with_txns=True reads the transaction envelope (TXN_EVENT_SCHEMA) so the
    ingest's TxnAligner can hold batches to commit boundaries; chunks
    written without the column read as txn_id=null (pass-through)."""
    schema = TXN_EVENT_SCHEMA if with_txns else CHANGE_EVENT_SCHEMA
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_dir)
    )


def scan_ddl_chunks(
    files: list[str], txn_below: int | None = None
) -> list[tuple[int, str]] | None:
    """(lsn, payload) of every DDL event in the given parquet chunk files,
    read on the driver with pyarrow and no Spark job: the op column of each
    file, then (lsn, payload) only from files that hold DDL. txn_below
    keeps only events of transactions before that txn_id (and those with
    no txn_id) — the complete-transaction prefix a `TxnAligner` releases.
    Returns None when there are no files, or one is not local or cannot
    be read; the caller then probes with Spark."""
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
    if not paths:
        return None
    try:
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def probe(path: str) -> list[tuple[int, str]]:
            ops = pq.read_table(path, columns=["op"])["op"]
            if not pc.any(pc.equal(ops, "DDL")).as_py():
                return []
            cols = ["lsn", "op", "payload"] + (["txn_id"] if txn_below is not None else [])
            t = pq.read_table(path, columns=cols)
            keep = pc.equal(t["op"], "DDL")
            if txn_below is not None:
                older = pc.fill_null(pc.less(t["txn_id"], txn_below), True)
                keep = pc.and_(keep, older)
            t = t.filter(keep)
            return list(zip(t["lsn"].to_pylist(), t["payload"].to_pylist()))

        # pyarrow releases the GIL per read, so a thread pool makes the
        # probe one parallel metadata sweep instead of O(files) serial
        # driver time
        out: list[tuple[int, str]] = []
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            for hits in ex.map(probe, paths):
                out.extend(hits)
        return out
    except Exception:  # noqa: BLE001 — any read hiccup: use the Spark probe
        return None


# ---------------------------------------------------------------------------
# Spark-parallel feed generation (bench-scale). Content is derived purely
# from the LSN via a splitmix-style hash, so any partitioning of the range
# produces the same feed — deterministic and embarrassingly parallel (the
# single-threaded pandas generator above stays the fixture for correctness
# tests; this one exists because 10^7-10^8-event bench feeds cannot be
# generated on one core).
# ---------------------------------------------------------------------------

def _hash_u01(x: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic uniform(0,1) per element (splitmix64-ish; uint64
    wraparound is the point — overflow warnings suppressed)."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z.astype(np.float64) / float(2**64)


def generate_feed_spark(
    spark, out_dir: str, spec: FeedSpec, n_chunks: int = 256
) -> None:
    """Generate spec.n_events change events in parallel and write ordered
    chunk files (chunk index = LSN range, mtimes increasing so the streaming
    file source delivers them in log order)."""
    ranks = np.arange(1, spec.n_convs + 1, dtype=np.float64)
    probs = ranks ** -1.1
    cum = np.cumsum(probs / probs.sum())
    p_del, p_upd = spec.p_delete, spec.p_update
    hot = spec.hot_key
    n_convs, max_turns = spec.n_convs, spec.max_turns
    base = pd.Timestamp(spec.base_ts).value // 10**9

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            lsn = ids + 1
            u1 = _hash_u01(ids, 1)
            u2 = _hash_u01(ids, 2)
            u3 = _hash_u01(ids, 3)
            conv = np.searchsorted(cum, u1).clip(0, n_convs - 1)
            if hot:
                conv = np.where(u2 < 0.30, n_convs, conv)
            turn = (_hash_u01(ids, 4) * max_turns).astype(np.int32)
            op = np.where(u3 < p_del, "D", np.where(u3 < p_del + p_upd, "U", "I"))
            ts = pd.to_datetime(base + lsn, unit="s")
            conv_s = pd.Series(conv).map(lambda c: f"conv-{c:06d}")
            role = ROLES[turn % 4]
            dml = op != "D"
            lsn_s = pd.Series(lsn.astype(str))
            text = "turn " + pd.Series(turn.astype(str)) + " of " + conv_s + " rev " + lsn_s
            ts_str = pd.Series(ts.strftime("%Y-%m-%dT%H:%M:%S"))
            payload = (
                '{"role":"' + pd.Series(role) + '","text":"' + text
                + '","ts":"' + ts_str + '"}'
            )
            cols = {
                "lsn": lsn,
                "op": op,
                "ts": ts,
                "conv_id": conv_s,
                "turn_idx": pd.array(turn, dtype="Int32"),
                "payload": payload.where(dml, None),
            }
            if spec.with_txns:
                # locally computable commit grouping (fixed-size blocks of
                # the LSN order): every partition derives the same global
                # txn_id from the lsn alone — no prefix scan needed. The
                # pandas generator keeps the geometric-size variant for
                # correctness fixtures; this one exists for bench scale.
                cols["txn_id"] = (lsn - 1) // max(1, spec.txn_mean_size) + 1
            yield pd.DataFrame(cols)

    os.makedirs(out_dir, exist_ok=True)
    tmp = out_dir + ".spark-tmp"
    (
        spark.range(0, spec.n_events, 1, numPartitions=n_chunks)
        .mapInPandas(gen, schema=TXN_EVENT_SCHEMA if spec.with_txns else CHANGE_EVENT_SCHEMA)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    # rename part files into ordered chunk files with increasing mtimes so
    # the file stream source delivers them in LSN order
    parts = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    now = time.time() - len(parts)
    for i, f in enumerate(parts):
        dst = os.path.join(out_dir, f"chunk-{i:06d}.parquet")
        os.rename(os.path.join(tmp, f), dst)
        os.utime(dst, (now + i, now + i))
    for leftover in os.listdir(tmp):
        os.remove(os.path.join(tmp, leftover))
    os.rmdir(tmp)
