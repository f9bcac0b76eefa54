"""Seeded change-feed generator and the oracle digests the benchmark checks against.

The feed has the engine's change-event shape (CHANGE_EVENT_SCHEMA): a hot
conversation receives 30% of all events and the rest of the keys are
Zipf(1.1)-distributed, ops are insert on a key's first event and then
update/delete. Every random draw comes from ``numpy.random.default_rng(seed)``,
so one seed always gives the same feed and another seed gives another one.
Chunk files are written with increasing mtimes so the streaming file source
delivers them in LSN order.

Correctness is an order-independent digest of the visible rows
``(conv_id, turn_idx, text, role, tool, ts)``: the row count plus the
wrapping uint64 sum of a per-row hash. The expected value comes from the
pandas oracle (``data_pipeline_spark.oracle.reduce_feed``).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
TOOLS = np.array(["search", "python", "browser", "calculator"], dtype=object)
HOT_SHARE = 0.30
ZIPF_S = 1.1
P_DELETE = 0.05
MAX_TURNS = 40
BASE_TS = pd.Timestamp("2026-01-01")

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("lsn", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us")),
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("payload", pa.string()),
    ]
)


def generate_events(
    seed: int, n_events: int, n_convs: int, first_lsn: int = 1, p_delete: float = P_DELETE
) -> pd.DataFrame:
    """The whole feed as one pandas frame in LSN order (CHANGE_EVENT_SCHEMA columns)."""
    rng = np.random.default_rng(seed)
    probs = np.arange(1, n_convs + 1, dtype=np.float64) ** -ZIPF_S
    probs /= probs.sum()
    # the seed also decides which conversations are the popular ones
    conv = rng.permutation(n_convs)[rng.choice(n_convs, size=n_events, p=probs)]
    conv = np.where(rng.random(n_events) < HOT_SHARE, n_convs, conv)
    turn = rng.integers(0, MAX_TURNS, size=n_events).astype(np.int32)
    lsn = np.arange(first_lsn, first_lsn + n_events, dtype=np.int64)

    key = conv.astype(np.int64) * 1_000 + turn
    first = ~pd.Series(key).duplicated().to_numpy()
    op = np.where(first, "I", np.where(rng.random(n_events) < p_delete, "D", "U"))

    names = np.array([f"conv-{c:06d}" for c in range(n_convs + 1)], dtype=object)
    conv_s = pd.Series(names[conv])
    ts = BASE_TS + pd.to_timedelta(lsn, unit="s")
    role = pd.Series(ROLES[turn % 4])
    text = "turn " + pd.Series(turn.astype(str)) + " of " + conv_s + " rev " + pd.Series(lsn.astype(str))
    tool = pd.Series(np.where(turn % 4 == 3, ",\"tool\":\"" + TOOLS[lsn % 4] + "\"", ""))
    payload = (
        '{"role":"' + role + '","text":"' + text + '","ts":"'
        + pd.Series(ts.strftime("%Y-%m-%dT%H:%M:%S")) + '"' + tool + "}"
    )
    return pd.DataFrame(
        {
            "lsn": lsn,
            "op": op,
            "ts": ts.astype("datetime64[us]"),
            "conv_id": conv_s,
            "turn_idx": turn,
            "payload": payload.where(op != "D", None),
        }
    )


def write_chunks(events: pd.DataFrame, out_dir: str, n_chunks: int) -> list[str]:
    """Split the feed into `n_chunks` LSN-ordered parquet chunk files."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pandas(events, schema=_ARROW_SCHEMA, preserve_index=False)
    bounds = np.linspace(0, len(events), n_chunks + 1).astype(int)
    paths = []
    for i in range(n_chunks):
        path = os.path.join(out_dir, f"chunk-{i:06d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths


def frame_digest(df: pd.DataFrame) -> str:
    """Order-independent digest of a table's visible rows: `<rows>:<hash sum>`."""
    canon = pd.DataFrame(
        {
            "conv_id": df["conv_id"].astype(str),
            "turn_idx": df["turn_idx"].astype("int64"),
            "text": df["text"].fillna("\0").astype(str),
            "role": df["role"].fillna("\0").astype(str),
            "tool": df["tool"].fillna("\0").astype(str),
            "ts": pd.to_datetime(df["ts"]).astype("datetime64[us]").astype("int64"),
        }
    )
    hashes = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
    return f"{len(canon)}:{int(hashes.sum(dtype=np.uint64)):016x}"


def oracle_table(events: pd.DataFrame) -> pd.DataFrame:
    """The pandas oracle's final table for a feed prefix."""
    from data_pipeline_spark.oracle import reduce_feed

    return reduce_feed(events)


def cached_json(path: str, build) -> dict:
    """Load `path` if present, else build it (outside any timed region) and store it."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value
