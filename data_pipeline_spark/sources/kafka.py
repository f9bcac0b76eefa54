"""Kafka transport for the change-event feed (production swap for the
sandbox's chunk-file transport — reference: the Kafka producer/consumer hop
between extract and apply, SURVEY.md §2 S4/K1).

The sandbox has no Kafka broker and no spark-sql-kafka jar, so the ONLY
untestable line here is the final ``.load()`` / ``.start()`` against the
``kafka`` data source. Everything else is real, pinned code:

- the reader/writer OPTION SURFACE (`kafka.bootstrap.servers`, `subscribe`,
  `startingOffsets`, `failOnDataLoss`, `maxOffsetsPerTrigger`) lives in the
  factories below, not in a comment;
- the ENVELOPE CODEC — change event ⇄ Kafka record — is pure DataFrame
  transformation over Kafka's fixed wire schema (key/value binary, topic,
  partition, offset, timestamp) and is round-trip-tested without a broker
  (tests/test_kafka_transport.py).

Wire contract (mirrors the reference's JSON message bodies):
- record key   = conv_id (UTF-8 bytes) → all changes for one conversation
  land in one Kafka partition, preserving per-key LSN order end-to-end
  (Kafka guarantees order only within a partition — the same reason the
  reference keyed its producer by table/row id);
- record value = the full change-event envelope as JSON:
  {lsn, op, ts, conv_id, turn_idx, payload} with payload as a NESTED STRING
  (double-encoded) so the decode stage receives exactly what the file
  transport delivers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA

#: Kafka's fixed output schema for ``format("kafka")`` sources (the columns
#: ``.load()`` yields regardless of topic content).
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)

_ENVELOPE_JSON_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("ts", T.StringType(), True),  # ISO-8601 text on the wire
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("payload", T.StringType(), True),
    ]
)

TS_WIRE_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def decode_kafka_envelope(raw: DataFrame) -> DataFrame:
    """Kafka wire records → CHANGE_EVENT_SCHEMA rows (pure Catalyst:
    cast + one from_json, stays in whole-stage codegen). Works on batch or
    streaming DataFrames with KAFKA_WIRE_SCHEMA columns."""
    j = F.from_json(F.col("value").cast("string"), _ENVELOPE_JSON_SCHEMA).alias("j")
    return raw.select(j).select(
        F.col("j.lsn").alias("lsn"),
        F.col("j.op").alias("op"),
        F.to_timestamp(F.col("j.ts"), TS_WIRE_FMT).alias("ts"),
        F.col("j.conv_id").alias("conv_id"),
        F.col("j.turn_idx").alias("turn_idx"),
        F.col("j.payload").alias("payload"),
    )


def encode_kafka_envelope(events: DataFrame) -> DataFrame:
    """CHANGE_EVENT_SCHEMA rows → Kafka producer records (key, value).
    Key = conv_id bytes (per-conversation partition ordering); DDL rows have
    a null conv_id and fall into Kafka's round-robin — acceptable because the
    apply side orders DDL by LSN from its own sweep, not by arrival."""
    value = F.to_json(
        F.struct(
            F.col("lsn"),
            F.col("op"),
            F.date_format("ts", TS_WIRE_FMT).alias("ts"),
            F.col("conv_id"),
            F.col("turn_idx"),
            F.col("payload"),
        )
    )
    return events.select(
        F.col("conv_id").cast("binary").alias("key"),
        value.cast("binary").alias("value"),
    )


def changes_to_feed(
    changes: DataFrame,
    key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    columns: list[str] | None = None,
) -> DataFrame:
    """Re-publish a table's changelog (``read_changes`` / ``tail_changes``
    output) as a change-event FEED — the K1 producer's payload builder:
    downstream tables ingest table A's changes exactly like a source feed
    (A → changes → Kafka → B). op = the changelog's ``_change_op``; payload =
    the row's non-key columns as JSON (to_json drops nulls — absent key ≡
    null under full-image decode, so the round trip is lossless for LWW
    apply). Engine columns (``_`` prefixed) and the key stay out of the
    payload. Works on batch and streaming changelog frames.

    Full-image changelogs only: a PARTIAL-mode table's delta rows can't be
    re-published this way — to_json drops nulls, which erases the
    set-to-null vs never-set distinction `_set_mask` encodes, so the
    downstream full-image decode would resurrect stale columns. Raises
    rather than silently corrupting.

    columns: restrict payloads to this subset of non-key columns (projected
    replica — the edge-level analog of the reference's column allowlist);
    default = every non-key column."""
    if columns is not None:
        bad = set(columns) & set(key_cols)
        missing = set(columns) - set(changes.columns)
        if bad or missing:
            raise ValueError(
                f"changes_to_feed columns: keys not allowed {sorted(bad)}, "
                f"not in changelog {sorted(missing)}"
            )
    if "_set_mask" in changes.columns:
        raise ValueError(
            "changes_to_feed requires a full-image changelog; this one "
            "carries _set_mask (partial-update table) — the mask's "
            "set-to-null/unset distinction does not survive JSON re-encoding"
        )
    keys = set(key_cols)
    payload_cols = [
        c for c in changes.columns
        if not c.startswith("_") and c != "lsn" and c not in keys
        and (columns is None or c in columns)
    ]
    return changes.select(
        F.col("lsn"),
        F.col("_change_op").alias("op"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col(key_cols[0]),
        F.col(key_cols[1]),
        F.when(
            F.col("_change_op") != "D",
            F.to_json(
                F.struct(*[F.col(c) for c in payload_cols]),
                # the decode kernels parse payload timestamps with the
                # second-precision wire format — match it here
                {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss"},
            ),
        ).alias("payload"),
    )


def read_kafka_feed_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming Kafka source → decoded change events; the drop-in
    replacement for ``read_feed_stream`` (same output contract:
    CHANGE_EVENT_SCHEMA, ordered per key by lsn within a partition).
    ``failOnDataLoss=true``: a truncated topic means GC'd history — the
    job must abort and re-initsync, never silently skip (the same rule as
    CursorExpiredError on the changelog side). Requires the
    spark-sql-kafka package on the cluster (not present in this sandbox)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "true")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return decode_kafka_envelope(reader.load())


def write_kafka_feed_stream(
    events: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
):
    """Streaming Kafka sink for a change-event DataFrame (the K1 producer
    for a live feed; a table's changelog windows go through
    ``changes_to_feed`` + ``encode_kafka_envelope``). Returns the
    started StreamingQuery. At-least-once (Kafka sink semantics) — consumers
    dedup by (conv_id, turn_idx, lsn), which the engine's merge does."""
    return (
        encode_kafka_envelope(events)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
