"""Continuous Debezium publisher: make an engine table a Debezium SOURCE.

CascadeJob replicates engine-table → engine-table; this is the outbound
edge to everyone else — a cursor-driven job that tails a table's PUBLISHED
changelog and appends it as Debezium JSON record chunks any
Debezium-aware consumer can ingest (including another instance of this
engine via sources/debezium.read_debezium_*, which is exactly what the
round-trip e2e test does). The reference's K1 Kafka producer cascade
(reference: data_pipeline/kafka producer path, SURVEY.md §2 K1) exposed
downstream feeds in its own envelope; publishing the *standard* envelope
is what lets non-engine consumers (JDBC sinks, search indexers, other
teams' pipelines) subscribe without custom decode.

Delivery contract — exactly one chunk set per window, no path rewritten:

- The window comes from `streaming/cursor.poll_window`: pinned before the
  write, the cursor committed only after the chunk set is in place. A
  crash in between hands the retry the SAME window however far the table
  has moved, so the retry finishes that window's chunk set.
- Output chunks are flat sibling files ``chunk-<from>-<to>-<part>c<k>.parquet``
  named by window snapshot ids and Spark file name (the feed-directory
  layout both ``spark.read`` and the streaming file source consume).
  Spark writes into a dot-prefixed tmp dir, invisible to its file index;
  each part is then renamed into place. A retry renames the parts left in
  a committed (``_SUCCESS``) tmp dir, and writes nothing once the
  window's chunks are placed. No visible chunk path is ever deleted or
  rewritten, so a file-stream reader never loses a chunk it listed.
- Chunk mtimes increase in publish order, so Spark's streaming file
  source delivers them in changelog order (same convention as the feed
  generator's log segments).

Same upstream contract as the cascade edges: MOR, full-image
(`changes_to_feed` refuses `_set_mask` changelogs), DML-only (schema
changes don't emit rows; consumers learn DDL out of band or via
`envelope_to_debezium` over an explicit DDL feed). Reads via
`tail_window`'s published parent chain, so WAP-staged deltas are
unreachable by construction; raises CursorExpiredError when the
publisher was down past upstream retention (re-bootstrap the consumer,
then resume).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from data_pipeline_spark.plans.table_format import ChangeWindow, LakehouseTable
from data_pipeline_spark.sources.debezium import envelope_to_debezium
from data_pipeline_spark.sources.kafka import changes_to_feed
from data_pipeline_spark.streaming.cursor import poll_window, run_until_caught_up


class DebeziumPublishJob:
    def __init__(
        self,
        table_path: str,
        out_dir: str,
        cursor_path: str | None = None,
        columns: list[str] | None = None,
        connector: str = "data_pipeline_spark",
        db: str = "lake",
        schema: str = "public",
        table: str = "transcripts",
    ):
        """columns: publish only the keys plus this non-key column subset
        (the outbound analog of a projected replica / column allowlist)."""
        self.table = LakehouseTable(table_path)
        self.out_dir = out_dir
        self.cursor_path = cursor_path or os.path.join(out_dir, "_cursor.json")
        self.columns = columns
        self.encode_kw = dict(connector=connector, db=db, schema=schema, table=table)
        os.makedirs(out_dir, exist_ok=True)

    def poll_once(self, spark: SparkSession) -> dict:
        """Publish the changelog window since the cursor, if any."""
        r = poll_window(self.table, self.cursor_path, lambda w: self._place(spark, w))
        c = r["cursor"]
        if not r["applied"]:
            return {"published": False, "cursor": c}
        return {"published": True, "from_snapshot_id": c["from_snapshot_id"],
                "to_snapshot_id": c["snapshot_id"], "chunk_files": r["result"], "cursor": c}

    def _place(self, spark: SparkSession, w: ChangeWindow) -> list[str]:
        """Put window `w`'s chunk set in place, finishing one that a crash
        cut short; returns the chunk paths."""
        stem = f"chunk-{w.from_id:08d}-{w.to_id:08d}-"
        tmp = os.path.join(self.out_dir, f".{stem}tmp")

        def placed() -> list[str]:
            return sorted(
                os.path.join(self.out_dir, fn)
                for fn in os.listdir(self.out_dir) if fn.startswith(stem)
            )

        if not placed() and not os.path.exists(os.path.join(tmp, "_SUCCESS")):
            wire = envelope_to_debezium(
                changes_to_feed(w.changes(spark), columns=self.columns), **self.encode_kw
            )
            wire.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(tmp):
            # rename is atomic per file; part-<n>-<uuid>-c<k>... → <stem><n>c<k>
            # (k numbers the files of one task, past maxRecordsPerFile)
            for fn in os.listdir(tmp):
                if fn.startswith("part-") and fn.endswith(".parquet"):
                    n, k = fn.split("-")[1], fn.rsplit("-", 1)[1].split(".")[0]
                    dst = os.path.join(self.out_dir, f"{stem}{n}{k}.parquet")
                    os.rename(os.path.join(tmp, fn), dst)
            shutil.rmtree(tmp)
        return placed()

    def run_until_caught_up(self, spark: SparkSession, max_polls: int = 1000) -> int:
        """Poll until the published head is fully written; returns the
        number of chunks published."""
        return run_until_caught_up(
            lambda: self.poll_once(spark)["published"], max_polls, "publisher"
        )
