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

Delivery contract — at-least-once output, idempotent for LWW consumers:

- The cursor (`tail_changes`) commits only AFTER the chunk write lands;
  a crash between them re-publishes a window that STARTS at the same
  snapshot (the head may have advanced), so records can repeat —
  exactly the Kafka/Debezium contract, absorbed by any keyed-LWW sink.
- Output chunks are flat sibling files ``chunk-<from>-<to>-NNNN.parquet``
  named by window snapshot ids (the feed-directory layout both
  ``spark.read`` and the streaming file source consume; dot-prefixed tmp
  dirs are invisible to Spark's file index mid-write). Before writing,
  stale ``chunk-<from>-*`` files (a previous crash's never-
  cursor-committed window from the same start) are removed, so the
  directory holds one chunk set per published window — re-reading the
  whole directory never double-counts a window.
- Chunk mtimes increase in publish order, so Spark's streaming file
  source delivers them in changelog order (same convention as the feed
  generator's log segments).

Same upstream contract as the cascade edges: MOR, full-image
(`changes_to_feed` refuses `_set_mask` changelogs), DML-only (schema
changes don't emit rows; consumers learn DDL out of band or via
`envelope_to_debezium` over an explicit DDL feed). Reads via
`tail_changes`' published parent chain, so WAP-staged deltas are
unreachable by construction; raises CursorExpiredError when the
publisher was down past upstream retention (re-bootstrap the consumer,
then resume).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.sources.debezium import envelope_to_debezium
from data_pipeline_spark.sources.kafka import changes_to_feed
from data_pipeline_spark.streaming.cursor import run_until_caught_up


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
        chg, cursor = self.table.tail_changes(spark, self.cursor_path)
        if chg is None:
            return {"published": False, "cursor": cursor}
        from_id = cursor["from_snapshot_id"]
        to_id = cursor["snapshot_id"]
        wire = envelope_to_debezium(
            changes_to_feed(chg, columns=self.columns), **self.encode_kw
        )
        stem = f"chunk-{from_id:08d}-{to_id:08d}"
        # a crash after a previous write of the SAME window start (cursor
        # never committed) left stale chunk files: remove them so the
        # directory holds exactly one chunk set per cursor-committed window
        for fn in os.listdir(self.out_dir):
            if fn.startswith(f"chunk-{from_id:08d}-"):
                p = os.path.join(self.out_dir, fn)
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
        tmp = os.path.join(self.out_dir, f".{stem}.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        wire.write.mode("overwrite").parquet(tmp)
        # flatten to ordered sibling FILES (the feed-directory layout both
        # spark.read and the streaming file source consume): rename is
        # atomic per file; the cursor commits only after all are in place
        parts = sorted(fn for fn in os.listdir(tmp) if fn.endswith(".parquet"))
        chunk_files = []
        for i, fn in enumerate(parts):
            dst = os.path.join(self.out_dir, f"{stem}-{i:04d}.parquet")
            os.rename(os.path.join(tmp, fn), dst)
            chunk_files.append(dst)
        shutil.rmtree(tmp, ignore_errors=True)
        LakehouseTable.commit_cursor(self.cursor_path, cursor)
        return {
            "published": True,
            "from_snapshot_id": from_id,
            "to_snapshot_id": to_id,
            "chunk_files": chunk_files,
            "cursor": cursor,
        }

    def run_until_caught_up(self, spark: SparkSession, max_polls: int = 1000) -> int:
        """Poll until the published head is fully written; returns the
        number of chunks published."""
        return run_until_caught_up(
            lambda: self.poll_once(spark)["published"], max_polls, "publisher"
        )
