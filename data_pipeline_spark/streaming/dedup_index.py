"""Continuously-maintained MinHash-LSH near-duplicate index over the
transcript corpus — dedup-on-ingest at O(churn), not O(corpus).

The batch LSH pipeline (driver_queries.minhash_dedup_pairs) re-shingles and
re-hashes the WHOLE corpus every run; at 100 TB that is a full-corpus pass
to discover that yesterday's near-dup clusters are still near-dup clusters.
This module keeps the pipeline's two intermediates LIVE as engine tables,
refreshed from the upstream changelog:

    signatures/  (conv_id, mh0..mh7, n_shingles)       — one row per doc
    bands/       (conv_id = "band:bucket", members)    — LSH bucket rows,
                 members = JSON array of doc ids currently in the bucket

Per refresh the work is O(churn): the changelog batch names the touched
conversations; their documents are re-assembled via the shared
`touched_documents` point-read path, re-signed (one hash-agg over their
shingles), and folded into the index — the ONLY bucket rows rewritten are
the touched docs' old ∪ new buckets, point-read by key (bucket pruning +
manifest key ranges, O(churn) files). Nothing corpus-sized moves. Past
`table_format.HIGH_CHURN_CAP` touched docs (or band keys) a refresh
rebuilds the bands table in one distributed pass instead; the engine picks
the regime per refresh, the caller does not.

Candidate lookup inverts the same stores: a doc's near-dup candidates are
the members of its buckets — point reads again, so "what just became a
near-dup in this batch?" costs O(churn × bucket size) instead of a corpus
scan. `pairs_from_index` derives the full pair set from the bands table
alone and equals the batch pipeline's output on the current corpus state
(tested exactly, same frame compare as the driver).

Exactly-once / crash safety — the refresh writes TWO tables, so the window
must be a pure function of durable state (otherwise a crash between the
two applies re-derives a DIFFERENT window and the first table's applied
half can never be reconciled):
  1. `streaming/cursor.poll_window`, the loop every consumer polls
     through, pins the window (cursor, head] in an intent file before any
     write;
  2. BANDS applies FIRST, then SIGNATURES: the bands derivation reads the
     touched docs' OLD buckets from the signatures table, which the sig
     apply would destroy — with sig-last ordering a replay of the pinned
     window re-derives byte-identical change rows, and each table's apply is
     idempotent by batch_id (= the pinned head snapshot id, monotone);
  3. the cursor commits last and the intent is removed; an optional
     TxnCatalog publish gives readers a cross-table-consistent
     (signatures, bands) snapshot pair per batch.

Degenerate buckets (mass exact-duplicates all banding together) make a
members list grow with the dup cluster size — that is a data-quality
signal, surfaced via the opt-in `max_bucket_members` alert; run exact
dedup upstream (dedup_exact_docs) to keep clusters honest. Like every
changelog consumer, the index follows DML only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.operators.corpus import (
    band_buckets,
    doc_shingles,
    minhash_signature,
)
from data_pipeline_spark.plans.table_format import ChangeWindow, LakehouseTable, bounded_ids
from data_pipeline_spark.streaming.corpus_view import _image_changes, touched_documents
from data_pipeline_spark.streaming.cursor import lsn_lag, poll_window, run_until_caught_up
from data_pipeline_spark.streaming.ingest import IngestJob
from data_pipeline_spark.streaming.txn import TxnCatalog


def _sig_schema(n_hashes: int) -> T.StructType:
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), nullable=False),
            T.StructField("turn_idx", T.IntegerType(), nullable=False),
            *[
                T.StructField(f"mh{s}", T.StringType(), nullable=True)
                for s in range(n_hashes)
            ],
            T.StructField("n_shingles", T.IntegerType(), nullable=True),
        ]
    )


#: Bucket-membership rows. `conv_id` carries the bucket key "band:bucket" —
#: pinning the engine's (conv_id, turn_idx) merge key to (bucket_key, 0)
#: reuses the whole idempotent apply path AND hash-buckets the table BY
#: bucket key, so candidate lookups are point reads with file skipping.
BANDS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("turn_idx", T.IntegerType(), nullable=False),
        T.StructField("members", T.StringType(), nullable=True),
    ]
)

_MEMBERS_T = "array<string>"

#: Most ids `near_dups_for` answers by point reads; above it the lookup is
#: one distributed pass over the bands table. This is the crossover that
#: scripts/bench_dedup_index.py measured at sandbox scale; it rises with
#: corpus size.
LOOKUP_POINT_CAP = 2_000


class DedupIndexJob:
    """Keep MinHash signatures + LSH bucket membership equal to the batch
    pipeline's output over the upstream corpus, by incremental refresh.

    shingle_n / n_hashes / n_bands / rows_per_band: the LSH geometry —
    defaults mirror driver_queries.minhash_dedup_pairs (3-gram shingles,
    8 hashes, 4 bands of 2).
    min_matches: signature-agreement threshold for emitted pairs (of
    n_hashes; default half, the pipeline's est_jaccard ≥ 0.5).
    Each refresh picks its regime (`last_refresh_mode`): point, or — past
    `table_format.HIGH_CHURN_CAP` touched docs or band keys, where the
    point reads stop paying (same split as CorpusViewJob) — a REBUILD of
    the bands table from the post-refresh signatures in one linear
    distributed pass (overwrite), the honest degraded mode for initsync
    fallout / backfills.
    catalog_path: optional TxnCatalog dir; each refresh publishes the
    (signatures, bands) snapshot pair atomically for consistent readers.
    max_bucket_members: opt-in alert (via on_alert) when any bucket's
    membership exceeds this — the degenerate-dup-cluster tripwire.
    max_turns: training-window truncation, pushed into the point read
    (must match the corpus definition being deduped)."""

    def __init__(
        self,
        upstream_path: str,
        index_dir: str,
        *,
        shingle_n: int = 3,
        n_hashes: int = 8,
        n_bands: int = 4,
        rows_per_band: int = 2,
        min_matches: int | None = None,
        catalog_path: str | None = None,
        max_bucket_members: int | None = None,
        max_turns: int | None = None,
        on_alert=None,
        **ingest_kw,
    ):
        if n_bands * rows_per_band > n_hashes:
            raise ValueError(
                f"banding needs n_bands*rows_per_band <= n_hashes "
                f"({n_bands}x{rows_per_band} > {n_hashes})"
            )
        self.upstream = LakehouseTable(upstream_path)
        self.index_dir = index_dir
        self.shingle_n = shingle_n
        self.n_hashes = n_hashes
        self.n_bands = n_bands
        self.rows_per_band = rows_per_band
        self.min_matches = (n_hashes + 1) // 2 if min_matches is None else min_matches
        self.max_bucket_members = max_bucket_members
        self.max_turns = max_turns
        self.on_alert = on_alert
        self.catalog = TxnCatalog(catalog_path) if catalog_path else None
        #: refresh-path telemetry, set per refresh: "point" or "rebuild"
        self.last_refresh_mode: str | None = None
        ingest_kw.setdefault("on_alert", on_alert)
        self.sig_job = IngestJob(
            os.path.join(index_dir, "signatures"),
            os.path.join(index_dir, "ctl_signatures"),
            **ingest_kw,
        )
        self.bands_job = IngestJob(
            os.path.join(index_dir, "bands"),
            os.path.join(index_dir, "ctl_bands"),
            **ingest_kw,
        )

    # ---------------------------------------------------------------- setup
    @staticmethod
    def create_index_tables(
        index_dir: str, n_hashes: int = 8, n_buckets: int = 64, **create_kw
    ) -> None:
        # cluster_by=['conv_id'] by default: the refresh/lookup point paths
        # live on read(conv_ids=...) point reads, and only a conv_id-leading
        # cluster key records the manifest key ranges that let those reads
        # skip files WITHIN a bucket — without it every point read scans
        # each hit bucket's whole base layer and the per-refresh cost grows
        # with bucket size instead of churn.
        create_kw.setdefault("cluster_by", ["conv_id"])
        LakehouseTable(os.path.join(index_dir, "signatures")).create(
            _sig_schema(n_hashes), n_buckets=n_buckets, **create_kw
        )
        LakehouseTable(os.path.join(index_dir, "bands")).create(
            BANDS_SCHEMA, n_buckets=n_buckets, **create_kw
        )

    @property
    def sig(self) -> LakehouseTable:
        return self.sig_job.table

    @property
    def bands(self) -> LakehouseTable:
        return self.bands_job.table

    # ------------------------------------------------------------ internals
    def _mh_cols(self) -> list[str]:
        return [f"mh{s}" for s in range(self.n_hashes)]

    def _key(self) -> F.Column:
        return F.concat_ws(":", F.col("band_id").cast("string"), F.col("bucket"))

    def _bands_of(self, sig: DataFrame) -> DataFrame:
        """(conv_id, key) bucket keys of a signature frame."""
        return band_buckets(
            sig, key_col="conv_id", n_bands=self.n_bands,
            rows_per_band=self.rows_per_band,
        ).select("conv_id", self._key().alias("key"))

    def _sign(self, docs: DataFrame) -> DataFrame:
        """Documents -> signature rows (docs with < shingle_n tokens get
        none — mirroring the batch pipeline, which only signs docs with
        at least one shingle)."""
        sh = doc_shingles(
            docs, text_col="doc_text", key_col="conv_id", n=self.shingle_n
        )
        return minhash_signature(
            sh, key_col="conv_id", n_hashes=self.n_hashes, with_count=True
        )

    # -------------------------------------------------------------- refresh
    def refresh_for(self, spark: SparkSession, w: ChangeWindow) -> dict:
        """Apply one pinned refresh window `w`. The images and the stamped
        LSN are a pure function of the upstream snapshot the window ends at
        (see module docstring)."""
        batch_id = w.to_id
        changed_ids = w.changes(spark).select("conv_id").distinct()
        lsn = self.upstream.snapshot_by_id(batch_id).get("watermark_lsn") or 0
        docs, mode, ids = touched_documents(
            spark, self.upstream, changed_ids,
            max_turns=self.max_turns, snapshot_id=batch_id,
        )
        new_sig = self._sign(docs).persist()
        try:
            if mode == "point":
                res = self._refresh_point(spark, batch_id, lsn, ids, new_sig)
            else:
                res = self._refresh_rebuild(spark, batch_id, lsn, changed_ids, new_sig)
            # signatures apply LAST (see crash-safety note in the module
            # docstring: the bands derivation above read the OLD sig rows)
            sig_deletes = changed_ids.join(
                new_sig.select("conv_id"), "conv_id", "left_anti"
            )
            res["signatures"] = self.sig_job.apply_changes(
                spark, batch_id, _image_changes(self.sig, lsn, new_sig, sig_deletes),
                enforce_watermark=False,
            )
        finally:
            new_sig.unpersist()
        if self.catalog is not None:
            self.catalog.publish(batch_id, {
                "signatures": self.sig.current_snapshot()["snapshot_id"],
                "bands": self.bands.current_snapshot()["snapshot_id"],
            })
        return res

    def _refresh_point(self, spark, batch_id: int, lsn: int,
                       ids: list[str], new_sig: DataFrame) -> dict:
        """O(churn) path: rewrite only the touched docs' old ∪ new buckets.
        ids: the changed id list, already collected by touched_documents'
        bounded probe. The band keys (≤ 2 × n_bands per doc) are probed the
        same way: above HIGH_CHURN_CAP keys, rebuild instead."""
        self.last_refresh_mode = "point"
        changed_ids = spark.createDataFrame(
            [(c,) for c in ids], "conv_id string"
        )
        old_sig = self.sig.read(spark, conv_ids=ids)
        affected = (
            self._bands_of(old_sig).unionByName(self._bands_of(new_sig))
            .select("key").distinct()
        )
        keys = bounded_ids(affected, "key")
        if keys is None:
            return self._refresh_rebuild(spark, batch_id, lsn, changed_ids, new_sig)
        cur_members = self.bands.read(spark, conv_ids=keys).select(
            F.col("conv_id").alias("key"),
            F.explode(F.from_json("members", _MEMBERS_T)).alias("member"),
        )
        kept = cur_members.join(
            changed_ids.select(F.col("conv_id").alias("member")), "member", "anti"
        )
        added = self._bands_of(new_sig).select(
            "key", F.col("conv_id").alias("member")
        )
        members = (
            kept.unionByName(added)
            .groupBy("key")
            .agg(F.array_sort(F.collect_set("member")).alias("m"))
            .persist()  # consumed by the bucket-cap probe, the U rows and
        )                # the D anti-join — one bands point-read, not three
        try:
            return self._apply_bands_point(spark, batch_id, lsn, affected, members)
        finally:
            members.unpersist()

    def _apply_bands_point(self, spark, batch_id: int, lsn: int,
                           affected: DataFrame, members: DataFrame) -> dict:
        self._check_bucket_cap(members)
        upserts = members.select(
            F.col("key").alias("conv_id"), F.to_json("m").alias("members")
        )
        deletes = affected.select(F.col("key").alias("conv_id")).join(
            members.select(F.col("key").alias("conv_id")), "conv_id", "left_anti"
        )
        return {
            "mode": "point",
            "bands": self.bands_job.apply_changes(
                spark, batch_id, _image_changes(self.bands, lsn, upserts, deletes),
                enforce_watermark=False,
            ),
        }

    def _refresh_rebuild(self, spark, batch_id: int, lsn: int,
                         changed_ids: DataFrame, new_sig: DataFrame) -> dict:
        """High-churn path: one linear distributed pass — the post-refresh
        signature set is derived (old minus touched, plus new), banded, and
        the bands table is bulk-overwritten. No per-key point reads, no ids
        on the driver; idempotent via the overwrite's batch_id guard."""
        self.last_refresh_mode = "rebuild"
        sig_all = (
            self.sig.read(spark)
            .select("conv_id", *self._mh_cols())
            .join(changed_ids, "conv_id", "anti")
            .unionByName(new_sig.select("conv_id", *self._mh_cols()))
        )
        members = (
            self._bands_of(sig_all)
            .groupBy("key")
            .agg(F.array_sort(F.collect_set("conv_id")).alias("m"))
        )
        self._check_bucket_cap(members)
        # the overwrite commits outside bands_job: its maintenance must not
        # be mid-compaction on the same head
        self.bands_job.wait_maintenance()
        rows = members.select(
            F.col("key").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.to_json("m").alias("members"),
        )
        if self.bands.current_snapshot()["last_batch_id"] >= batch_id:
            return {"mode": "rebuild", "bands": {"skipped": True}}
        return {
            "mode": "rebuild",
            "bands": self.bands.overwrite(
                spark, rows, batch_id=batch_id, watermark_lsn=lsn
            ),
        }

    def _check_bucket_cap(self, members: DataFrame) -> None:
        if self.max_bucket_members is None or self.on_alert is None:
            return
        big = members.where(F.size("m") > self.max_bucket_members).count()
        if big:
            self.on_alert({
                "kind": "dedup_bucket_overflow",
                "buckets": big,
                "cap": self.max_bucket_members,
            })

    # ----------------------------------------------------- cursor-driven mode
    def poll_once(self, spark: SparkSession, cursor_path: str) -> dict:
        """One crash-safe refresh window (see module docstring). Reads the
        PUBLISHED upstream chain (WAP-safe, like CorpusViewJob.poll_once)."""
        return poll_window(self.upstream, cursor_path, lambda w: self.refresh_for(spark, w))

    def run_until_caught_up(
        self, spark: SparkSession, cursor_path: str, max_polls: int = 1000
    ) -> int:
        n = run_until_caught_up(
            lambda: self.poll_once(spark, cursor_path)["applied"], max_polls, "index"
        )
        self.sig_job.wait_maintenance()
        self.bands_job.wait_maintenance()
        return n

    def lag(self) -> dict:
        return lsn_lag(self.upstream, self.sig)

    # --------------------------------------------------------------- queries
    def _pinned(self, table_name: str) -> int | None:
        if self.catalog is None or self.catalog.latest() is None:
            return None
        return self.catalog.pinned_snapshot(table_name)

    def signatures(self, spark: SparkSession) -> DataFrame:
        return self.sig.read(spark, snapshot_id=self._pinned("signatures")).select(
            "conv_id", *self._mh_cols(), "n_shingles"
        )

    def _est_pairs(self, cand: DataFrame, sig: DataFrame) -> DataFrame:
        sa = sig.select(
            F.col("conv_id").alias("d1"),
            *[F.col(c).alias(f"a_{c}") for c in self._mh_cols()],
        )
        sb = sig.select(
            F.col("conv_id").alias("d2"),
            *[F.col(c).alias(f"b_{c}") for c in self._mh_cols()],
        )
        matches = sum(
            (F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in self._mh_cols()
        )
        return (
            cand.join(sa, "d1").join(sb, "d2")
            .where(matches >= self.min_matches)
            .select(
                "d1", "d2",
                F.round(matches / float(self.n_hashes), 4).alias("est_jaccard"),
            )
        )

    def pairs_from_index(self, spark: SparkSession) -> DataFrame:
        """All near-dup pairs derivable from the CURRENT index — equals the
        batch pipeline (minhash_dedup_pairs) on the corpus state the index
        has caught up to. Pairwise work confined within buckets, exactly
        like the batch plan."""
        ms = self.bands.read(spark, snapshot_id=self._pinned("bands")).select(
            F.from_json("members", _MEMBERS_T).alias("ms")
        )
        cand = (
            ms.select(F.explode("ms").alias("d1"), "ms")
            .select("d1", F.explode("ms").alias("d2"))
            .where(F.col("d1") < F.col("d2"))
            .distinct()
        )
        sig = self.signatures(spark)
        return self._est_pairs(cand, sig)

    def drop_set(self, spark: SparkSession) -> DataFrame:
        """The conv_ids a dedup pass would DROP: near-dup pairs from the
        index → connected components (transitive chains A~B~C collapse to
        one cluster) → everything except each cluster's min id. Feed this
        to snapshot_corpus(exclude_ids=...) for a dedup-screened export.

        Scale shape: components run only over the near-dup SUBGRAPH (docs
        appearing in at least one pair) — a sliver of the corpus; isolated
        docs never enter the loop."""
        from data_pipeline_spark.operators.corpus import connected_components

        pairs = self.pairs_from_index(spark).select("d1", "d2")
        comp = connected_components(pairs)
        return comp.where(F.col("node") != F.col("cluster_id")).select(
            F.col("node").alias("conv_id")
        )

    def near_dups_for(self, spark: SparkSession, ids: list[str]) -> DataFrame:
        """Near-dup pairs touching the given docs — the per-batch "what
        near-dups did this churn introduce?" query. Two regimes, split on
        `LOOKUP_POINT_CAP` — deliberately NOT the refresh's
        HIGH_CHURN_CAP, because the cost structures differ: the
        refresh's point path reads O(churn) pruned files once, while the
        lookup's point path COLLECTS the docs' bucket keys (|ids| × n_bands
        of them) to the driver and point-reads them, then collects the
        partner set too — it beats the distributed pass only while that key
        set stays small relative to one bands-table scan (measured crossover
        in the low thousands of ids at sandbox scale,
        scripts/bench_dedup_index.py; the crossover RISES with corpus size —
        the scan side grows, the point side doesn't):

        - |ids| ≤ LOOKUP_POINT_CAP (the design point): point reads
          only — the docs' sig rows -> their bucket keys -> those buckets'
          member rows. O(|ids| × bucket size), a handful of pruned file
          reads.
        - above it: ONE distributed pass over the bands table — bucket rows
          containing any given id are kept by an exploded broadcast join,
          and candidates are generated id-anchored (touching id × member,
          never the bucket's all-pairs). Linear in the bands table, nothing
          collected on the driver."""
        if not ids:
            return self._est_pairs(
                spark.createDataFrame([], "d1 string, d2 string"),
                self.signatures(spark),
            )
        # Candidates are generated DIRECTLY as (touching id × bucket member)
        # pairs — |ids ∩ bucket| × k per bucket, NOT the bucket's k²/2
        # all-pairs then a filter. With mass-duplicate data LSH buckets run
        # fat (thousands of members), and the all-pairs-then-filter shape
        # measured 31 s at 100 ids on a 312k-doc index; id-anchored
        # generation keeps the lookup O(|ids| × bucket size) by
        # construction. (An earlier variant also filtered with ONE
        # OR-condition join, which Spark can only run as
        # BroadcastNestedLoopJoin — |cand| × |ids| comparisons, 130 s at
        # 10k ids; scripts/bench_dedup_index.py tracks both regressions.)
        point = len(ids) <= LOOKUP_POINT_CAP
        if point:
            my_sig = self.sig.read(
                spark, snapshot_id=self._pinned("signatures"), conv_ids=ids
            )
            keys = [
                r["key"]
                for r in self._bands_of(my_sig).select("key").distinct().collect()
            ]
            # persist: one bands point-read, not three — `rows` feeds the
            # partner collect below, the hits lineage, AND the returned
            # frame's plan (same reasoning as _refresh_point's members
            # persist; without it each consumer re-executes the pruned-file
            # reads)
            rows = self.bands.read(spark, conv_ids=keys).select(
                F.from_json("members", _MEMBERS_T).alias("ms")
            ).persist()
            # ids is driver-bounded here (≤ LOOKUP_POINT_CAP): a
            # literal array keeps the anchor extraction row-local
            lit_ids = F.array(*[F.lit(c) for c in ids])
            hits = rows.select(
                F.explode(F.array_intersect("ms", lit_ids)).alias("da"), "ms"
            )
        else:
            ids_df = F.broadcast(
                spark.createDataFrame([(c,) for c in ids], "da string")
            )
            rows = (
                self.bands.read(spark, snapshot_id=self._pinned("bands"))
                .select(
                    F.col("conv_id").alias("key"),
                    F.from_json("members", _MEMBERS_T).alias("ms"),
                )
                .select("key", "ms", F.explode("ms").alias("da"))
                .join(ids_df, "da", "inner")  # one bucket row PER touching id
                .select("da", "ms")
            )
            hits = rows
        touched = (
            hits.select("da", F.explode("ms").alias("db"))
            .where(F.col("da") != F.col("db"))
            .select(
                F.least("da", "db").alias("d1"),
                F.greatest("da", "db").alias("d2"),
            )
            .dropDuplicates(["d1", "d2"])
        )
        # partner signatures: point-read when the candidate set is small
        # enough to enumerate, else the full (pinned) signature read joins
        # distributed — never a driver-side partner list on the big path
        if point:
            partners = [
                r["m"]
                for r in rows.select(F.explode("ms").alias("m")).distinct().collect()
            ]
            part_sig = self.sig.read(spark, conv_ids=sorted(set(partners) | set(ids)))
            # the pair set is O(|ids| × bucket) by construction: materialize
            # it off the cached point-read (localCheckpoint truncates the
            # lineage) so the cache can be released before returning the
            # lazy result frame
            touched = touched.localCheckpoint(eager=True)
            rows.unpersist()
        else:
            part_sig = self.sig.read(spark, snapshot_id=self._pinned("signatures"))
        return self._est_pairs(touched, part_sig)
