"""Incrementally-maintained MinHash-LSH dedup index (DedupIndexJob): the
signature and bucket-membership tables must always equal the batch LSH
pipeline's intermediates over the current corpus — after initial catch-up,
after further churn (incl. updates that MOVE a doc between buckets and
deletes that remove it), after an injected crash between the two table
applies with the upstream advancing underneath, and through the high-churn
rebuild regime. The equality oracle is the from-scratch pipeline run, and
`pairs_from_index` must equal the batch pairs exactly."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from data_pipeline_spark.operators.corpus import (
    assemble_conversations,
    band_buckets,
    doc_shingles,
    minhash_signature,
)
from data_pipeline_spark.plans import table_format
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming import dedup_index
from data_pipeline_spark.streaming.dedup_index import DedupIndexJob
from data_pipeline_spark.streaming.ingest import IngestJob

from pyspark.sql import functions as F


def _apply(spark, job, table, batch_id, pdf):
    pdf = pdf.copy()
    pdf["lsn"] = pdf["lsn"] + (
        LakehouseTable(table).current_snapshot()["watermark_lsn"] or 0
    )
    job.apply_batch(spark, batch_id, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA))


def _dup_feed(rows):
    """Hand-crafted I/U/D events: rows = [(lsn, op, conv, turn, text)]."""
    return pd.DataFrame({
        "lsn": [r[0] for r in rows],
        "op": [r[1] for r in rows],
        "ts": [pd.NaT] * len(rows),
        "conv_id": [r[2] for r in rows],
        "turn_idx": pd.array([r[3] for r in rows], dtype="Int32"),
        "payload": [
            json.dumps({"role": "user", "text": r[4], "tool": None}) if r[4] is not None else None
            for r in rows
        ],
    })


def _scratch_sig(spark, up):
    docs = assemble_conversations(LakehouseTable(up).read(spark))
    sh = doc_shingles(docs, text_col="doc_text", key_col="conv_id", n=3)
    return minhash_signature(sh, key_col="conv_id", n_hashes=8, with_count=True)


def _scratch_members(sig):
    key = F.concat_ws(":", F.col("band_id").cast("string"), F.col("bucket"))
    return (
        band_buckets(sig, key_col="conv_id", n_bands=4)
        .select(key.alias("key"), "conv_id")
        .groupBy("key")
        .agg(F.array_sort(F.collect_set("conv_id")).alias("m"))
    )


def _pd(df, cols):
    return df.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)


def _assert_index_equals_scratch(spark, job, up):
    sig_cols = ["conv_id"] + [f"mh{s}" for s in range(8)] + ["n_shingles"]
    pd.testing.assert_frame_equal(
        _pd(job.signatures(spark), sig_cols), _pd(_scratch_sig(spark, up), sig_cols)
    )
    got_m = job.bands.read(spark).select(
        F.col("conv_id").alias("key"),
        F.from_json("members", "array<string>").alias("m"),
    )
    want_m = _scratch_members(_scratch_sig(spark, up))
    got = _pd(got_m.select("key", F.to_json("m").alias("mj")), ["key", "mj"])
    want = _pd(want_m.select("key", F.to_json("m").alias("mj")), ["key", "mj"])
    pd.testing.assert_frame_equal(got, want)


def _batch_pairs(spark, up):
    """From-scratch pipeline pairs over the current corpus (the oracle for
    pairs_from_index)."""
    sig = _scratch_sig(spark, up)
    bands = band_buckets(sig, key_col="conv_id", n_bands=4)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.conv_id") < F.col("b.conv_id")))
        .select(F.col("a.conv_id").alias("d1"), F.col("b.conv_id").alias("d2"))
        .distinct()
    )
    sa = sig.select(F.col("conv_id").alias("d1"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)])
    sb = sig.select(F.col("conv_id").alias("d2"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)])
    matches = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(8))
    return (
        cand.join(sa, "d1").join(sb, "d2").where(matches >= 4)
        .select("d1", "d2", F.round(matches / 8.0, 4).alias("est_jaccard"))
    )


def _setup(spark, tmp_path, **job_kw):
    up = str(tmp_path / "up")
    idx = str(tmp_path / "idx")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    DedupIndexJob.create_index_tables(idx, n_buckets=4, compact_every=10**9)
    ingest = IngestJob(up, str(tmp_path / "ctl-up"))
    job = DedupIndexJob(up, idx, **job_kw)
    cursor = str(tmp_path / "dedup.cursor")
    return up, ingest, job, cursor


def test_index_converges_and_refreshes_incrementally(spark, tmp_path):
    up, ingest, job, cursor = _setup(spark, tmp_path)
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=500, n_convs=40, seed=7100)
    ))
    # exact dups across conv ids so real pairs exist; dup-c is a near-dup
    _apply(spark, ingest, up, 1, _dup_feed([
        (1, "I", "dup-a", 0, "alpha beta gamma delta epsilon zeta"),
        (2, "I", "dup-a", 1, "eta theta iota kappa lambda mu"),
        (3, "I", "dup-b", 0, "alpha beta gamma delta epsilon zeta"),
        (4, "I", "dup-b", 1, "eta theta iota kappa lambda mu"),
        (5, "I", "dup-c", 0, "alpha beta gamma delta epsilon zeta"),
        (6, "I", "dup-c", 1, "eta theta iota kappa lambda nu"),
    ]))
    assert job.run_until_caught_up(spark, cursor) >= 1
    assert job.last_refresh_mode == "point"
    _assert_index_equals_scratch(spark, job, up)
    pairs = _pd(job.pairs_from_index(spark), ["d1", "d2", "est_jaccard"])
    want = _pd(_batch_pairs(spark, up), ["d1", "d2", "est_jaccard"])
    pd.testing.assert_frame_equal(pairs, want)
    assert {("dup-a", "dup-b")} <= set(zip(pairs["d1"], pairs["d2"]))

    # churn: updates move docs between buckets, a dup pair is broken by a
    # rewrite, and new near-dups appear — same cursor catches up
    _apply(spark, ingest, up, 2, _dup_feed([
        (1, "U", "dup-b", 0, "totally different text now one two three"),
        (2, "U", "dup-b", 1, "and the second turn changed as well entirely"),
        (3, "I", "dup-d", 0, "alpha beta gamma delta epsilon zeta"),
        (4, "I", "dup-d", 1, "eta theta iota kappa lambda mu"),
    ]))
    _apply(spark, ingest, up, 3, generate_feed_pandas(
        FeedSpec(n_events=300, n_convs=60, seed=7200)
    ))
    assert job.run_until_caught_up(spark, cursor) >= 1
    _assert_index_equals_scratch(spark, job, up)
    pairs2 = _pd(job.pairs_from_index(spark), ["d1", "d2", "est_jaccard"])
    want2 = _pd(_batch_pairs(spark, up), ["d1", "d2", "est_jaccard"])
    pd.testing.assert_frame_equal(pairs2, want2)
    keys2 = set(zip(pairs2["d1"], pairs2["d2"]))
    assert ("dup-a", "dup-d") in keys2 and ("dup-a", "dup-b") not in keys2
    assert job.lag()["lag_lsns"] == 0

    # duplicate poll is a no-op
    assert job.poll_once(spark, cursor)["applied"] is False


def test_index_drops_fully_deleted_conversation(spark, tmp_path):
    up, ingest, job, cursor = _setup(spark, tmp_path)
    _apply(spark, ingest, up, 0, _dup_feed([
        (1, "I", "dup-a", 0, "alpha beta gamma delta epsilon zeta"),
        (2, "I", "dup-b", 0, "alpha beta gamma delta epsilon zeta"),
        (3, "I", "solo", 0, "completely unrelated text about other things"),
    ]))
    job.run_until_caught_up(spark, cursor)
    assert ("dup-a", "dup-b") in set(
        map(tuple, job.pairs_from_index(spark).select("d1", "d2").toPandas().values)
    )
    _apply(spark, ingest, up, 1, _dup_feed([(1, "D", "dup-b", 0, None)]))
    job.run_until_caught_up(spark, cursor)
    _assert_index_equals_scratch(spark, job, up)
    sig_ids = set(job.signatures(spark).toPandas()["conv_id"])
    assert "dup-b" not in sig_ids
    members = job.bands.read(spark).select(
        F.explode(F.from_json("members", "array<string>")).alias("m")
    )
    assert members.where("m = 'dup-b'").count() == 0
    assert job.pairs_from_index(spark).count() == 0


def test_crash_between_bands_and_sig_apply_converges(spark, tmp_path):
    """The hard crash: bands applied, signatures not, cursor not committed —
    and the upstream ADVANCES before recovery. The intent file pins the
    first window, so the recovered job replays it deterministically (bands
    apply skips by batch_id, signatures applies), then consumes the new
    window; the index must equal the from-scratch pipeline."""
    up, ingest, job, cursor = _setup(spark, tmp_path)
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=400, n_convs=30, seed=7300)
    ))
    _apply(spark, ingest, up, 1, _dup_feed([
        (1, "I", "dup-a", 0, "alpha beta gamma delta epsilon zeta"),
        (2, "I", "dup-b", 0, "alpha beta gamma delta epsilon zeta"),
    ]))

    boom = RuntimeError("injected crash (test hook)")
    orig = job.sig_job.apply_changes

    def crash(*a, **kw):
        raise boom

    job.sig_job.apply_changes = crash
    with pytest.raises(RuntimeError, match="injected crash"):
        job.poll_once(spark, cursor)
    assert os.path.exists(cursor + ".intent")
    # bands landed, signatures did not: the index is torn mid-batch
    assert job.bands.read(spark).count() > 0
    assert job.sig.read(spark).count() == 0

    # upstream keeps moving while we're down
    _apply(spark, ingest, up, 2, _dup_feed([
        (1, "U", "dup-a", 0, "moved to a different bucket now entirely"),
        (2, "I", "dup-c", 0, "alpha beta gamma delta epsilon zeta"),
    ]))

    # recovery: a fresh job (no monkeypatch) replays the PINNED window
    job2 = DedupIndexJob(up, str(tmp_path / "idx"))
    first = job2.poll_once(spark, cursor)
    assert first["applied"] is True
    assert first["result"]["bands"].get("skipped") is True  # idempotent replay
    assert job2.run_until_caught_up(spark, cursor) >= 1
    _assert_index_equals_scratch(spark, job2, up)
    pairs = _pd(job2.pairs_from_index(spark), ["d1", "d2", "est_jaccard"])
    want = _pd(_batch_pairs(spark, up), ["d1", "d2", "est_jaccard"])
    pd.testing.assert_frame_equal(pairs, want)
    keys = set(zip(pairs["d1"], pairs["d2"]))
    assert ("dup-b", "dup-c") in keys and ("dup-a", "dup-b") not in keys
    job.sig_job.apply_changes = orig


def test_crash_after_applies_before_cursor_commit(spark, tmp_path):
    """Both tables applied, cursor commit lost: re-polling the restored
    intent must skip BOTH applies (idempotent by batch_id) and just move
    the cursor."""
    up, ingest, job, cursor = _setup(spark, tmp_path)
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=300, n_convs=25, seed=7400)
    ))
    res = job.poll_once(spark, cursor)
    assert res["applied"] is True
    # simulate the crash state: cursor file gone (never committed), intent
    # present with the same pinned window
    os.remove(cursor)
    with open(cursor + ".intent", "w") as f:
        json.dump({"to": res["batch_id"]}, f)
    res2 = job.poll_once(spark, cursor)
    assert res2["applied"] is True
    assert res2["result"]["bands"].get("skipped") is True
    assert res2["result"]["signatures"].get("skipped") is True
    _assert_index_equals_scratch(spark, job, up)
    assert not os.path.exists(cursor + ".intent")


@pytest.mark.slow  # gate-budget: the regime-split decision (bounded probe
# -> distributed pass above threshold) is pinned in-gate by the corpus-view
# churn suite and the near_dups_for regime lookups; the full index-rebuild
# sweep runs in the slow suite.
def test_high_churn_rebuild_regime(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(table_format, "HIGH_CHURN_CAP", 5)
    up, ingest, job, cursor = _setup(spark, tmp_path)
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=400, n_convs=30, seed=7500)
    ))
    _apply(spark, ingest, up, 1, _dup_feed([
        (1, "I", "dup-a", 0, "alpha beta gamma delta epsilon zeta"),
        (2, "I", "dup-b", 0, "alpha beta gamma delta epsilon zeta"),
    ]))
    job.run_until_caught_up(spark, cursor)
    assert job.last_refresh_mode == "rebuild"
    _assert_index_equals_scratch(spark, job, up)
    pairs = _pd(job.pairs_from_index(spark), ["d1", "d2", "est_jaccard"])
    want = _pd(_batch_pairs(spark, up), ["d1", "d2", "est_jaccard"])
    pd.testing.assert_frame_equal(pairs, want)

    # a small follow-up batch drops back to the point regime on the SAME
    # index (the rebuild must leave per-key state the point path can read)
    monkeypatch.setattr(table_format, "HIGH_CHURN_CAP", 100_000)
    _apply(spark, ingest, up, 2, _dup_feed([
        (1, "U", "dup-b", 0, "no longer a duplicate of anything here"),
    ]))
    job.run_until_caught_up(spark, cursor)
    assert job.last_refresh_mode == "point"
    _assert_index_equals_scratch(spark, job, up)


def test_point_refresh_band_keys_bounded(spark, tmp_path, monkeypatch):
    """Touched docs ≤ HIGH_CHURN_CAP < band keys: the point path's
    bounded band-key probe falls through to the rebuild instead of
    collecting every key to the driver, and the index stays exact."""
    monkeypatch.setattr(table_format, "HIGH_CHURN_CAP", 3)
    up, ingest, job, cursor = _setup(spark, tmp_path)
    _apply(spark, ingest, up, 0, _dup_feed([
        (1, "I", "dup-a", 0, "alpha beta gamma delta epsilon zeta"),
        (2, "I", "dup-b", 0, "eta theta iota kappa lambda mu"),
    ]))
    job.run_until_caught_up(spark, cursor)
    assert job.last_refresh_mode == "rebuild"
    _assert_index_equals_scratch(spark, job, up)


def test_near_dups_for_matches_restricted_pairs(spark, tmp_path, monkeypatch):
    up, ingest, job, cursor = _setup(spark, tmp_path)
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=400, n_convs=30, seed=7600)
    ))
    _apply(spark, ingest, up, 1, _dup_feed([
        (1, "I", "dup-a", 0, "alpha beta gamma delta epsilon zeta"),
        (2, "I", "dup-b", 0, "alpha beta gamma delta epsilon zeta"),
        (3, "I", "dup-c", 0, "alpha beta gamma delta epsilon zeta"),
    ]))
    job.run_until_caught_up(spark, cursor)
    got = _pd(job.near_dups_for(spark, ["dup-b"]), ["d1", "d2", "est_jaccard"])
    want_all = _batch_pairs(spark, up)
    want = _pd(
        want_all.where((F.col("d1") == "dup-b") | (F.col("d2") == "dup-b")),
        ["d1", "d2", "est_jaccard"],
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 2  # (dup-a, dup-b) and (dup-b, dup-c)
    assert job.near_dups_for(spark, ["absent-conv"]).count() == 0

    # the distributed regime (|ids| above the lookup threshold) must return
    # the same pairs via one linear pass over the bands table
    monkeypatch.setattr(dedup_index, "LOOKUP_POINT_CAP", 0)
    got_dist = _pd(job.near_dups_for(spark, ["dup-b"]), ["d1", "d2", "est_jaccard"])
    pd.testing.assert_frame_equal(got_dist, want)


def test_catalog_publishes_consistent_pair(spark, tmp_path):
    up, ingest, job, cursor = _setup(
        spark, tmp_path, catalog_path=str(tmp_path / "catalog")
    )
    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=300, n_convs=25, seed=7700)
    ))
    job.run_until_caught_up(spark, cursor)
    head = job.catalog.latest()
    assert head is not None
    assert head["tables"]["signatures"] == job.sig.current_snapshot()["snapshot_id"]
    assert head["tables"]["bands"] == job.bands.current_snapshot()["snapshot_id"]
    # pinned readers see the published pair even if the tables move on
    _assert_index_equals_scratch(spark, job, up)


def test_drop_set_and_dedup_screened_export(spark, tmp_path):
    """Survivor selection + export composition: a transitive near-dup chain
    A~B~C collapses to one cluster, drop_set names everything except the
    min id, and snapshot_corpus(exclude_ids=drop_set) ships a corpus with
    exactly one survivor per cluster (manifest records the drop count)."""
    from data_pipeline_spark.operators.corpus import snapshot_corpus

    up, ingest, job, cursor = _setup(spark, tmp_path)
    _apply(spark, ingest, up, 0, _dup_feed([
        (1, "I", "dup-a", 0, "alpha beta gamma delta epsilon zeta"),
        (2, "I", "dup-b", 0, "alpha beta gamma delta epsilon zeta"),
        (3, "I", "dup-c", 0, "alpha beta gamma delta epsilon zeta"),
        (4, "I", "solo", 0, "completely unrelated text about other things"),
        (5, "I", "pair-x", 0, "one two three four five six seven"),
        (6, "I", "pair-y", 0, "one two three four five six seven"),
    ]))
    job.run_until_caught_up(spark, cursor)

    drops = sorted(job.drop_set(spark).toPandas()["conv_id"])
    assert drops == ["dup-b", "dup-c", "pair-y"]

    out = str(tmp_path / "corpus")
    manifest = snapshot_corpus(
        spark, up, out, redact=False, exclude_ids=job.drop_set(spark)
    )
    assert manifest["settings"]["n_excluded_ids"] == 3
    got = set(spark.read.parquet(out).toPandas()["conv_id"])
    assert {"dup-a", "solo", "pair-x"} <= got
    assert got.isdisjoint({"dup-b", "dup-c", "pair-y"})
    assert manifest["n_docs"] == len(got)
