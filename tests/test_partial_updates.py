"""Partial-row-image CDC (Oracle LogMiner-style capture): an U carries only
the columns its UPDATE statement SET. The engine folds these with true
sequential-apply semantics (operators/merge.py merge_changeset_partial /
collapse_partial), verified here against the per-row sequential oracle
(oracle.reduce_feed_sequential) — reference analog: the applier executing
UPDATE statements one at a time in LSN order (data_pipeline/applier/*,
SURVEY.md §2 T5).
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from data_pipeline_spark.functions.decode import decode_events, decode_events_sql
from data_pipeline_spark.oracle import reduce_feed_sequential
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob

SPEC = FeedSpec(
    n_events=16_000, n_convs=300, seed=1042, chunk_size=4_000, partial_updates=True
)
SPEC_DDL = FeedSpec(
    n_events=16_000, n_convs=300, seed=2042, chunk_size=4_000,
    partial_updates=True, with_ddl=True,
)


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pfeed")
    generate_feed(str(d), SPEC)
    return str(d)


def _assert_matches_sequential_oracle(spark, table: LakehouseTable, spec: FeedSpec):
    expected = reduce_feed_sequential(generate_feed_pandas(spec))
    actual = (
        table.read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert len(actual) == len(expected)
    assert actual["conv_id"].tolist() == expected["conv_id"].tolist()
    assert actual["turn_idx"].tolist() == [int(t) for t in expected["turn_idx"]]
    # the BASELINE.json invariant: per-turn text byte equality, stable order
    assert actual["text"].tolist() == expected["text"].tolist()
    assert actual["role"].tolist() == expected["role"].tolist()
    tool_col = "tool_name" if "tool_name" in actual.columns else "tool"
    exp_tool = [None if pd.isna(t) else t for t in expected[tool_col]]
    assert actual[tool_col].tolist() == exp_tool
    if "tokens" in expected.columns:
        exp_tok = [None if pd.isna(t) else int(t) for t in expected["tokens"]]
        got_tok = [None if pd.isna(t) else int(t) for t in actual["tokens"]]
        assert got_tok == exp_tok


@pytest.mark.parametrize("mode", ["mor"])
def test_partial_replay_matches_sequential_oracle(spark, feed_dir, tmp_path, mode):
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=8, update_mode="partial")
    job.run_to_completion(spark, feed_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    _assert_matches_sequential_oracle(spark, job.table, SPEC)


def test_partial_with_ddl_evolution(spark, tmp_path):
    feed = tmp_path / "feed"
    generate_feed(str(feed), SPEC_DDL)
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=8, update_mode="partial")
    job.run_to_completion(spark, str(feed), str(tmp_path / "ckpt"), max_files_per_trigger=1)
    spec = FeedSpec(**{**SPEC_DDL.__dict__, "ddl_lsns": {}})
    _assert_matches_sequential_oracle(spark, job.table, spec)


def test_duplicate_suffix_idempotent(spark, feed_dir, tmp_path):
    """At-least-once delivery: replaying the whole feed again (batch_ids
    advance, LSNs don't) must leave the table unchanged."""
    job = IngestJob(str(tmp_path / "t"), str(tmp_path / "ctl"))
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=8, update_mode="partial")
    job.run_to_completion(spark, feed_dir, str(tmp_path / "ckpt1"), max_files_per_trigger=2)
    before = job.table.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    job.run_to_completion(spark, feed_dir, str(tmp_path / "ckpt2"), max_files_per_trigger=2)
    after = job.table.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


def _hand_feed(rows):
    """rows: list of (lsn, op, conv, turn, payload-dict-or-None)."""
    return pd.DataFrame(
        {
            "lsn": pd.array([r[0] for r in rows], dtype="int64"),
            "op": [r[1] for r in rows],
            "ts": pd.to_datetime(["2026-01-01"] * len(rows)),
            "conv_id": [r[2] for r in rows],
            "turn_idx": pd.array([r[3] for r in rows], dtype="Int32"),
            "payload": [json.dumps(r[4]) if r[4] is not None else None for r in rows],
        }
    )


def _replay_hand_feed(spark, tmp_path, rows, name="t"):
    feed = tmp_path / f"feed-{name}"
    feed.mkdir()
    _hand_feed(rows).to_parquet(
        str(feed / "chunk-000000.parquet"), index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    job = IngestJob(str(tmp_path / name), str(tmp_path / f"ctl-{name}"))
    job.table.create(TRANSCRIPT_SCHEMA, n_buckets=4, update_mode="partial")
    job.replay_batch(spark, str(feed))
    return (
        job.table.read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def test_explicit_null_vs_absent(spark, tmp_path):
    """`{"tool": null}` SETs the column to NULL; an absent key leaves it
    untouched — the distinction full-row LWW cannot express."""
    got = _replay_hand_feed(spark, tmp_path, [
        (1, "I", "c1", 0, {"role": "tool", "text": "a", "tool": "search", "ts": "2026-01-01T00:00:01"}),
        (2, "U", "c1", 0, {"text": "b"}),                # tool untouched
        (3, "I", "c2", 0, {"role": "tool", "text": "x", "tool": "python", "ts": "2026-01-01T00:00:02"}),
        (4, "U", "c2", 0, {"tool": None}),               # tool explicitly nulled
    ])
    r1 = got[got["conv_id"] == "c1"].iloc[0]
    r2 = got[got["conv_id"] == "c2"].iloc[0]
    assert r1["text"] == "b" and r1["tool"] == "search"
    assert r2["text"] == "x" and pd.isna(r2["tool"])


def test_stacked_updates_compose_within_batch(spark, tmp_path):
    """U(set text) then U(set tool) in ONE micro-batch must compose — plain
    LWW dedup would drop the text update."""
    got = _replay_hand_feed(spark, tmp_path, [
        (1, "I", "c1", 0, {"role": "user", "text": "v1", "ts": "2026-01-01T00:00:01"}),
        (2, "U", "c1", 0, {"text": "v2"}),
        (3, "U", "c1", 0, {"tool": "browser"}),
        (4, "U", "c1", 0, {"role": "assistant"}),
    ], name="stack")
    r = got.iloc[0]
    assert r["text"] == "v2" and r["tool"] == "browser" and r["role"] == "assistant"


def test_orphan_update_and_delete_semantics(spark, tmp_path):
    got = _replay_hand_feed(spark, tmp_path, [
        (1, "U", "ghost", 0, {"text": "never"}),        # update w/o row: no-op
        (2, "I", "c1", 0, {"role": "user", "text": "a", "ts": "2026-01-01T00:00:01"}),
        (3, "D", "c1", 0, None),
        (4, "U", "c1", 0, {"text": "dead"}),            # update after delete: no-op
        (5, "I", "c2", 0, {"role": "user", "text": "x", "ts": "2026-01-01T00:00:02"}),
        (6, "D", "c2", 0, None),
        (7, "I", "c2", 0, {"role": "user", "text": "revived", "ts": "2026-01-01T00:00:03"}),
        (8, "U", "c2", 0, {"text": "revived2"}),
    ], name="orphan")
    assert got["conv_id"].tolist() == ["c2"]
    assert got.iloc[0]["text"] == "revived2"


def test_insert_resets_unmentioned_columns(spark, tmp_path):
    """A re-INSERT is a full image: columns it doesn't carry become NULL even
    if an earlier version set them (I replaces the whole row)."""
    got = _replay_hand_feed(spark, tmp_path, [
        (1, "I", "c1", 0, {"role": "tool", "text": "a", "tool": "search", "ts": "2026-01-01T00:00:01"}),
        (2, "D", "c1", 0, None),
        (3, "I", "c1", 0, {"role": "user", "text": "b"}),  # no tool, no ts
    ], name="reins")
    r = got.iloc[0]
    assert r["text"] == "b" and pd.isna(r["tool"]) and pd.isna(r["ts"])


def test_partial_decoders_agree(spark, feed_dir):
    """The Arrow/pandas presence bitmask equals the JVM rlike one."""
    raw = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(feed_dir)
    bits = {"role": 3, "text": 4, "tool": 5, "ts": 6}
    a = decode_events(raw, TRANSCRIPT_SCHEMA, field_bits=bits).orderBy("lsn").toPandas()
    b = decode_events_sql(raw, TRANSCRIPT_SCHEMA, field_bits=bits).orderBy("lsn").toPandas()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    assert (a.loc[a["op"] == "I", "_set_mask"] == -1).all()
    assert (a.loc[a["op"] == "D", "_set_mask"] == 0).all()
    u = a[a["op"] == "U"]
    assert (u["_set_mask"] > 0).all()
    # masks agree with decoded presence: text bit set on a strict subset
    assert ((u["_set_mask"] & (1 << 4)) != 0).any()
    assert ((u["_set_mask"] & (1 << 4)) == 0).any()


@pytest.mark.parametrize("seed", [3, 17])
def test_randomized_sequences_match_oracle(spark, tmp_path, seed):
    """Dense random op soup over few keys (maximal stacking/boundary mix)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    fields = ["role", "text", "tool", "ts"]
    vals = {"role": ["user", "assistant"], "text": [f"t{i}" for i in range(50)],
            "tool": ["search", None], "ts": ["2026-01-01T00:00:01"]}
    for lsn in range(1, 400):
        conv = f"c{rng.integers(0, 5)}"
        turn = int(rng.integers(0, 3))
        op = rng.choice(["I", "U", "U", "U", "D"])
        if op == "D":
            rows.append((lsn, "D", conv, turn, None))
            continue
        if op == "I":
            img = {f: rng.choice(vals[f]) for f in fields}
            img = {k: (None if v is None else str(v)) for k, v in img.items()}
        else:
            chosen = [f for f in fields if rng.random() < 0.4] or ["text"]
            img = {f: rng.choice(vals[f]) for f in chosen}
            img = {k: (None if v is None else str(v)) for k, v in img.items()}
        rows.append((lsn, op, conv, turn, img))
    got = _replay_hand_feed(spark, tmp_path, rows, name=f"rand{seed}")
    exp = reduce_feed_sequential(_hand_feed(rows))
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    assert got["turn_idx"].tolist() == [int(t) for t in exp["turn_idx"]]
    assert got["text"].tolist() == exp["text"].tolist()
    exp_tool = [None if pd.isna(t) else t for t in exp["tool"]]
    assert got["tool"].tolist() == exp_tool
