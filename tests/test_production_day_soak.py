"""One composed "production day" (VERDICT r4 #5): every feature that is
individually raced and pairwise composed elsewhere, running AT ONCE the way
a real deployment would —

  txn-aligned WAP ingest (audit gate, one poisoned batch discarded mid-day)
  + auto compaction (compact_every=3) and auto manifest rewrite (every 3)
  + an online bucket-spec evolution with throttled migration behind ingest
  + snapshot expiry with orphan grace, twice, while consumers hold cursors
  + a corpus view, a delta exporter and a MinHash-LSH dedup index
    consuming the published chain concurrently through cursors
  + injected crashes: a WAP publish that dies after the staged merge, and
    a view refresh that dies after its merge but before its cursor commit.

End state: hub == feed oracle over exactly the published batches (byte
equality on text), view == assemble(hub), folded export chain == assembled
corpus, dedup-index signatures == the from-scratch LSH pipeline, and every
maintenance kind landed at least once.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_pipeline_spark.operators.corpus import (
    assemble_conversations,
    doc_shingles,
    minhash_signature,
)
from data_pipeline_spark.streaming.dedup_index import DedupIndexJob
from data_pipeline_spark.oracle import reduce_feed
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA, TXN_EVENT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.corpus_view import (
    CorpusViewJob,
    export_corpus_delta,
    list_corpus_deltas,
)
from data_pipeline_spark.streaming.wap import (
    AuditFailedError,
    WapIngestJob,
    audit_changes_clean,
)

N_BATCHES = 12
POISON_BATCH = 5


def _chunks():
    out, lsn0, txn0 = [], 0, 0
    for i in range(N_BATCHES):
        pdf = generate_feed_pandas(
            FeedSpec(n_events=1_200, n_convs=100, seed=500 + i,
                     with_txns=True, txn_mean_size=15)
        )
        pdf["lsn"] = pdf["lsn"] + lsn0
        pdf["txn_id"] = pdf["txn_id"] + txn0
        lsn0 = int(pdf["lsn"].max())
        txn0 = int(pdf["txn_id"].max())
        out.append(pdf)
    out[POISON_BATCH] = out[POISON_BATCH].copy()
    out[POISON_BATCH]["payload"] = out[POISON_BATCH]["payload"].str.replace(
        "turn", "POISON", regex=False
    )
    return out


def _fold_chain(out_dir: str) -> pd.DataFrame:
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
    assert corpus is not None
    return corpus.sort_values("conv_id").reset_index(drop=True)


@pytest.mark.slow
def test_production_day_everything_at_once(spark, tmp_path):
    hub = str(tmp_path / "hub")
    LakehouseTable(hub).create(
        # every batch touches every bucket, so a compaction lands every 3rd
        # merge; the manifest list then grows by one per merge in between,
        # and a rewrite only lands if it is due before the next compaction
        TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=3,
        rewrite_manifests_every=3,
    )
    wap = WapIngestJob(
        hub, str(tmp_path / "ctl"),
        audit=audit_changes_clean("text", "POISON"),
        txn_aligned=True,
    )
    t = LakehouseTable(hub)

    view = str(tmp_path / "view")
    CorpusViewJob.create_view_table(view, n_buckets=4)
    vj = CorpusViewJob(hub, view, str(tmp_path / "ctl-view"))
    cur_view = str(tmp_path / "cursor-view.json")

    export_dir = str(tmp_path / "deltas")
    cur_export = str(tmp_path / "cursor-export.json")

    idx = str(tmp_path / "idx")
    DedupIndexJob.create_index_tables(idx, n_buckets=4)
    dix = DedupIndexJob(hub, idx)
    cur_dedup = str(tmp_path / "cursor-dedup.json")

    chunks = _chunks()
    kinds_seen: set[str] = set()
    gc_runs = []
    view_crashed = publish_crashed = False
    migrating = False

    for bid in range(N_BATCHES):
        df = spark.createDataFrame(chunks[bid], TXN_EVENT_SCHEMA)

        if bid == POISON_BATCH:
            with pytest.raises(AuditFailedError):
                wap.apply_batch(spark, bid, df)
        elif bid == 7 and not publish_crashed:
            # crash between the staged merge and the publish: monkeypatch
            # fast_forward to die once; the NEXT publish must carry the
            # stranded staged batch forward
            publish_crashed = True
            orig_ff = LakehouseTable.fast_forward

            def boom(self, *a, **k):
                raise RuntimeError("injected publish crash")

            LakehouseTable.fast_forward = boom
            try:
                with pytest.raises(RuntimeError, match="injected publish"):
                    wap.apply_batch(spark, bid, df)
            finally:
                LakehouseTable.fast_forward = orig_ff
            wap.try_publish(spark)  # operator restart: re-audit + publish
        else:
            res = wap.apply_batch(spark, bid, df)
            assert res["publish"]["published"] is True

        # mid-day online spec evolution, then throttled migration (1 old
        # bucket per batch) racing the rest of the day's ingest — on the
        # STAGING BRANCH: the WAP table is published exclusively by
        # fast_forward, so every commit (maintenance included) stages on
        # the branch and reaches main through the next audited publish,
        # exactly like the auto compaction the branch-ref IngestJob runs
        if bid == 3:
            wap.branch.evolve_bucket_spec(spark, 8)
            migrating = True
            # layout rewrite is refused while two specs are live (a
            # tombstone may shadow a base row in an old-spec file)
            assert wap.branch.recluster(spark)["reason"] == "mixed_spec"
        elif migrating:
            out = wap.branch.migrate_spec(spark, max_old_buckets=1)
            if out.get("remaining_old_files", 0) == 0:
                migrating = False
                # ... and lands the moment the spec settles, staged on the
                # WAP branch like every other maintenance commit
                assert wap.branch.recluster(spark)["skipped"] is False

        kinds_seen |= {s["kind"] for s in t.history()}
        kinds_seen |= {s["kind"] for s in wap.branch.history()}

        # consumers poll every batch; the view crashes once mid-refresh
        if bid == 2 and not view_crashed:
            view_crashed = True
            orig_cc = LakehouseTable.commit_cursor

            def die(cursor_path, cursor):
                raise RuntimeError("injected view crash")

            LakehouseTable.commit_cursor = staticmethod(die)
            try:
                with pytest.raises(RuntimeError, match="injected view"):
                    vj.poll_once(spark, cur_view)
            finally:
                LakehouseTable.commit_cursor = staticmethod(orig_cc)
            res = vj.poll_once(spark, cur_view)  # redelivered window
            assert res["applied"] and res["result"].get("skipped")
        else:
            vj.poll_once(spark, cur_view)
        if bid % 2 == 1:
            export_corpus_delta(spark, hub, export_dir, cur_export, redact=False)
        if bid % 3 == 2:
            dix.poll_once(spark, cur_dedup)

        # snapshot expiry with orphan grace rolls through mid-day while
        # both consumers hold live cursors
        if bid in (6, 10):
            gc_runs.append(t.expire_snapshots(keep_last=8,
                                              orphan_grace_seconds=0.5))

    # drained feed: flush the aligner's held tail, publish, final catch-up
    wap.job.flush_pending(spark)
    wap.try_publish(spark)
    assert vj.run_until_caught_up(spark, cur_view) >= 0
    export_corpus_delta(spark, hub, export_dir, cur_export, redact=False)
    dix.run_until_caught_up(spark, cur_dedup)
    kinds_seen |= {s["kind"] for s in t.history()}

    # --- every maintenance op landed at least once
    assert {"merge", "compact", "rewrite_manifests", "evolve_spec",
            "migrate_spec", "recluster"} <= kinds_seen, kinds_seen
    assert not migrating, "spec migration never finished"
    assert any(g.get("removed_snapshots") for g in gc_runs), \
        "expiry never removed anything"

    # --- hub equals the oracle over exactly the published batches
    published = [c for i, c in enumerate(chunks) if i != POISON_BATCH]
    expected = reduce_feed(pd.concat(published, ignore_index=True))
    hub_pdf = (
        t.read(spark).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert hub_pdf["text"].tolist() == expected["text"].tolist()
    assert not hub_pdf["text"].fillna("").str.contains("POISON").any()

    # --- the view equals assemble(hub)
    view_pdf = (
        LakehouseTable(view).read(spark)
        .select("conv_id", "doc_text", "n_turns", "n_chars")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    oracle_docs = (
        assemble_conversations(t.read(spark))
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(view_pdf, oracle_docs)

    # --- folding the export chain reconstructs the same corpus
    folded = _fold_chain(export_dir)[["conv_id", "doc_text", "n_turns", "n_chars"]]
    pd.testing.assert_frame_equal(
        folded.reset_index(drop=True), oracle_docs, check_dtype=False
    )

    # --- the dedup index equals the from-scratch LSH pipeline over the hub
    sig_cols = ["conv_id"] + [f"mh{s}" for s in range(8)] + ["n_shingles"]
    scratch_sig = minhash_signature(
        doc_shingles(assemble_conversations(t.read(spark)),
                     text_col="doc_text", key_col="conv_id", n=3),
        key_col="conv_id", n_hashes=8, with_count=True,
    )
    pd.testing.assert_frame_equal(
        dix.signatures(spark).select(sig_cols).toPandas()
        .sort_values("conv_id").reset_index(drop=True),
        scratch_sig.select(sig_cols).toPandas()
        .sort_values("conv_id").reset_index(drop=True),
    )

    # --- after the whole day (crashes, GC, migration, WAP, compaction),
    # every table's metadata tree deep-fscks clean (round 5)
    from data_pipeline_spark.plans.fsck import fsck

    for label, path in (("hub", t.path), ("index-sig", dix.sig.path),
                        ("index-bands", dix.bands.path)):
        rep = fsck(LakehouseTable(path), deep=True)
        assert rep["ok"], f"{label}: {rep['errors'][:5]}"
