"""Incremental corpus delta export (`export_corpus_delta`): only the
documents of touched conversations ship per export; a consumer folding the
committed chain (`list_corpus_deltas`: upsert docs, drop deletes)
reconstructs exactly the full re-assembled corpus at each export point.
Covers the review findings from round 4: the first export is a FULL
bootstrap (correct even after `expire_snapshots` folded history into the
oldest retained snapshot), exports are pinned to the window's head
snapshot, the manifest is the dir's completion marker, and a crash between
the manifest and the cursor commit is replayed as the same window into the
same dir, which the retry keeps as written."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from data_pipeline_spark.operators.corpus import assemble_conversations
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.corpus_view import (
    export_corpus_delta,
    list_corpus_deltas,
    read_corpus_deltas,
)
from data_pipeline_spark.streaming.ingest import IngestJob


def _apply(spark, job, table, batch_id, pdf):
    pdf = pdf.copy()
    pdf["lsn"] = pdf["lsn"] + (
        LakehouseTable(table).current_snapshot()["watermark_lsn"] or 0
    )
    job.apply_batch(
        spark, batch_id, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)
    )


def _oracle(spark, up) -> pd.DataFrame:
    return (
        assemble_conversations(LakehouseTable(up).read(spark))
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )


def _fold_chain(out_dir: str) -> pd.DataFrame:
    """Consumer-side reconstruction over the committed chain."""
    corpus: pd.DataFrame | None = None
    for m in list_corpus_deltas(out_dir):
        docs = pd.read_parquet(os.path.join(m["path"], "docs.parquet"))
        dels = pd.read_parquet(os.path.join(m["path"], "deletes.parquet"))
        if corpus is None:
            corpus = docs
        else:
            corpus = pd.concat(
                [corpus[~corpus["conv_id"].isin(docs["conv_id"])], docs],
                ignore_index=True,
            )
        corpus = corpus[~corpus["conv_id"].isin(dels["conv_id"])]
    assert corpus is not None, "no committed deltas found"
    return corpus.sort_values("conv_id").reset_index(drop=True)


def test_delta_chain_reconstructs_corpus(spark, tmp_path):
    up = str(tmp_path / "up")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    ingest = IngestJob(up, str(tmp_path / "ctl"))
    out = str(tmp_path / "corpus-deltas")
    cursor = str(tmp_path / "cursor.json")

    # --- delta 1: first export = FULL bootstrap
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=800, n_convs=40, seed=910)
    ))
    r1 = export_corpus_delta(spark, up, out, cursor, redact=False)
    assert r1["exported"] and r1["n_deleted"] == 0
    assert r1["from_snapshot"] is None and r1["mode"] == "bootstrap"
    pd.testing.assert_frame_equal(_fold_chain(out), _oracle(spark, up))

    # nothing new → no export, no new directory
    assert export_corpus_delta(spark, up, out, cursor)["exported"] is False

    # --- churn: update a few conversations, add new ones, fully delete one
    upd = generate_feed_pandas(FeedSpec(n_events=200, n_convs=60, seed=911))
    _apply(spark, ingest, up, 1, upd)
    victim = _fold_chain(out)["conv_id"].iloc[0]
    turns = (
        LakehouseTable(up).read(spark)
        .where(f"conv_id = '{victim}'").select("turn_idx")
        .toPandas()["turn_idx"]
    )
    dels = pd.DataFrame({
        "lsn": range(1, len(turns) + 1),
        "op": ["D"] * len(turns),
        "ts": [pd.NaT] * len(turns),
        "conv_id": [victim] * len(turns),
        "turn_idx": turns.astype("int32").tolist(),
        "payload": [None] * len(turns),
    })
    _apply(spark, ingest, up, 2, dels)

    r2 = export_corpus_delta(spark, up, out, cursor, redact=False)
    assert r2["exported"] and r2["mode"] in ("point", "semi_join")
    # the delta ships ONLY touched conversations, not the corpus
    delta_docs = pd.read_parquet(os.path.join(r2["path"], "docs.parquet"))
    assert 0 < len(delta_docs) < len(_oracle(spark, up))
    # the fully-deleted conversation is a delete entry
    delta_dels = pd.read_parquet(os.path.join(r2["path"], "deletes.parquet"))
    assert victim in set(delta_dels["conv_id"])
    # folding the chain reconstructs the current corpus exactly
    pd.testing.assert_frame_equal(_fold_chain(out), _oracle(spark, up))

    # the manifest chain is contiguous and carries the window's watermark
    m1 = json.load(open(os.path.join(r1["path"], "_delta_manifest.json")))
    m2 = json.load(open(os.path.join(r2["path"], "_delta_manifest.json")))
    assert m2["from_snapshot"] == m1["to_snapshot"]
    assert m2["n_docs"] == len(delta_docs) and m2["n_deleted"] == len(delta_dels)
    assert [m["path"] for m in list_corpus_deltas(out)] == [r1["path"], r2["path"]]

    # the distributed chain reader (one max-of-struct aggregate) equals the
    # pandas fold exactly
    spark_fold = (
        read_corpus_deltas(spark, out)
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        spark_fold[sorted(spark_fold.columns)],
        _fold_chain(out)[sorted(spark_fold.columns)],
    )


def test_bootstrap_after_history_expiry_is_complete(spark, tmp_path):
    """The review finding: tail_changes with no cursor starts at the oldest
    RETAINED snapshot, so a changelog-derived first export would silently
    miss every row folded into it by expire_snapshots. The bootstrap path
    must export the FULL corpus regardless of retention."""
    up = str(tmp_path / "up")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    ingest = IngestJob(up, str(tmp_path / "ctl"))
    for b in range(3):
        _apply(spark, ingest, up, b, generate_feed_pandas(
            FeedSpec(n_events=300, n_convs=30 + 10 * b, seed=950 + b)
        ))
    # fold all history into the head: changelog-visible window is now empty
    LakehouseTable(up).expire_snapshots(keep_last=1)

    out = str(tmp_path / "corpus-deltas")
    r1 = export_corpus_delta(
        spark, up, out, str(tmp_path / "cursor.json"), redact=False
    )
    assert r1["mode"] == "bootstrap"
    oracle = _oracle(spark, up)
    pd.testing.assert_frame_equal(_fold_chain(out), oracle)
    assert r1["n_docs"] == len(oracle)  # every conversation, not just churn


def test_crash_before_cursor_commit_converges(spark, tmp_path):
    up = str(tmp_path / "up")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    ingest = IngestJob(up, str(tmp_path / "ctl"))
    out = str(tmp_path / "corpus-deltas")
    cursor = str(tmp_path / "cursor.json")

    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=400, n_convs=20, seed=920)
    ))
    r1 = export_corpus_delta(spark, up, out, cursor, redact=False)

    _apply(spark, ingest, up, 1, generate_feed_pandas(
        FeedSpec(n_events=200, n_convs=25, seed=921)
    ))

    # crash AFTER the manifest write, BEFORE the cursor commit — leaves a
    # COMPLETE dir whose window the cursor never recorded
    orig = LakehouseTable.commit_cursor

    def boom(cursor_path, cur):
        raise RuntimeError("injected crash before cursor commit")

    LakehouseTable.commit_cursor = staticmethod(boom)
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            export_corpus_delta(spark, up, out, cursor, redact=False)
    finally:
        LakehouseTable.commit_cursor = staticmethod(orig)
    crashed = [d for d in os.listdir(out) if d != os.path.basename(r1["path"])]
    assert len(crashed) == 1
    crashed_manifest = os.path.join(out, crashed[0], "_delta_manifest.json")
    mtime = os.stat(crashed_manifest).st_mtime_ns

    # upstream moves on BEFORE the retry; the retry replays the PINNED
    # window: it keeps the crashed dir as written and commits the cursor
    _apply(spark, ingest, up, 2, generate_feed_pandas(
        FeedSpec(n_events=200, n_convs=25, seed=922)
    ))
    r2 = export_corpus_delta(spark, up, out, cursor, redact=False)
    assert r2["exported"] and r2["from_snapshot"] == r1["to_snapshot"]
    assert r2["path"] == os.path.join(out, crashed[0])
    assert os.stat(crashed_manifest).st_mtime_ns == mtime
    # the next export ships the newer window
    r3 = export_corpus_delta(spark, up, out, cursor, redact=False)
    assert r3["exported"] and r3["from_snapshot"] == r2["to_snapshot"]
    assert [m["path"] for m in list_corpus_deltas(out)] == [
        r1["path"], r2["path"], r3["path"]
    ]
    pd.testing.assert_frame_equal(_fold_chain(out), _oracle(spark, up))
    assert export_corpus_delta(spark, up, out, cursor)["exported"] is False


def test_bootstrap_at_snapshot_zero_survives_next_export(spark, tmp_path):
    """Review finding: `create()` writes snapshot 0, so an exporter set up
    BEFORE first ingest bootstraps at snapshot 0 — the next incremental
    export (from_snapshot=0) must land in its own dir beside the committed
    bootstrap (an old dir naming collided: bootstrap None and real from=0
    both rendered as 00000000)."""
    up = str(tmp_path / "up")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    out = str(tmp_path / "corpus-deltas")
    cursor = str(tmp_path / "cursor.json")

    r1 = export_corpus_delta(spark, up, out, cursor, redact=False)
    assert r1["mode"] == "bootstrap" and r1["to_snapshot"] == 0
    assert r1["n_docs"] == 0  # empty table, but the chain anchor exists

    ingest = IngestJob(up, str(tmp_path / "ctl"))
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=300, n_convs=15, seed=970)
    ))
    r2 = export_corpus_delta(spark, up, out, cursor, redact=False)
    assert r2["from_snapshot"] == 0
    assert os.path.exists(r1["path"])
    assert [m["path"] for m in list_corpus_deltas(out)] == [r1["path"], r2["path"]]
    pd.testing.assert_frame_equal(_fold_chain(out), _oracle(spark, up))


def test_incomplete_dir_without_manifest_is_skipped(spark, tmp_path):
    up = str(tmp_path / "up")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    ingest = IngestJob(up, str(tmp_path / "ctl"))
    out = str(tmp_path / "corpus-deltas")
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=300, n_convs=15, seed=960)
    ))
    r1 = export_corpus_delta(spark, up, out, str(tmp_path / "cursor.json"),
                             redact=False)
    # a crash between the parquet writes and the manifest leaves a dir with
    # data but no manifest — it must be invisible to the chain walk
    fake = os.path.join(out, "delta-00000042-00000043")
    os.makedirs(os.path.join(fake, "docs.parquet"), exist_ok=True)
    assert [m["path"] for m in list_corpus_deltas(out)] == [r1["path"]]
