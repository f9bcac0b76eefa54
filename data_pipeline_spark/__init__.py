"""data_pipeline_spark — a PySpark-native CDC / incremental-ingest engine.

A brand-new engine (NOT a port) with the capabilities of the reference
``iagcl/data_pipeline`` (Apache-2.0): tail a binlog/WAL-style change-event
feed (insert / update / delete / DDL, totally ordered by LSN) and apply it to
a lakehouse table of multi-turn conversation transcripts via Structured
Streaming micro-batches that perform a key-partitioned, last-writer-wins
MERGE keyed on ``(conv_id, turn_idx)``.

Architecture (Spark-first, columnar end-to-end — see SURVEY.md):

- ``sources``    change-feed generation + readers (batch & streaming); the
                 stand-in for the reference's LogMiner / MSSQL-CDC / Kafka
                 extract path (reference: data_pipeline/extractor/*,
                 data_pipeline/stream/* — paths per SURVEY.md §0; the
                 reference mount was empty, citations are repo-relative).
- ``functions``  vectorized Arrow/pandas decode of change records (reference:
                 data_pipeline/sql/* statement parse — but columnar, never
                 per-row Python).
- ``operators``  last-writer-wins dedup (plain + salted two-phase for hot-key
                 skew), MERGE apply (reference: data_pipeline/applier/*).
- ``plans``      the merge-on-read lakehouse table format: atomic snapshot
                 commit log, schema evolution (add / rename / widen) as
                 metadata-only ops — Iceberg semantics emulated because the
                 sandbox has no Iceberg jar; the API is an interface so a
                 real Iceberg `MERGE INTO` backend can be dropped in.
- ``streaming``  Structured Streaming ingest loop: file source + foreachBatch
                 + checkpoint + idempotent commit + control-table lineage
                 (reference: data_pipeline/audit/*).
"""

__version__ = "0.1.0"

from data_pipeline_spark.schemas import (  # noqa: F401
    CHANGE_EVENT_SCHEMA,
    CONTROL_SCHEMA,
    TRANSCRIPT_SCHEMA,
    TXN_EVENT_SCHEMA,
)
