"""Debezium envelope adapter: the de-facto public CDC wire format → the
engine's canonical change-event envelope.

The reference consumes Oracle LogMiner / MSSQL CDC directly (reference:
data_pipeline/extractor/oracle_cdc_extractor.py, mssql_cdc_extractor.py —
repo-relative public paths, SURVEY.md §0); modern deployments of those same
sources overwhelmingly arrive as Debezium JSON on Kafka instead
(https://debezium.io/documentation/reference/stable/connectors/ — public
format). This module lets every downstream piece of the engine (decode,
LWW merge, DDL replication, txn alignment, multi-table routing) consume a
Debezium topic unchanged by normalising the envelope up front:

    op  "c" (create) / "r" (snapshot read)  → I
        "u" (update)                         → U
        "d" (delete)                         → D
    payload  = the `after` row image's raw JSON text (null for D)
    keys     = extracted from `after` (falling back to `before` for D —
               REPLICA IDENTITY DEFAULT deletes carry only the key)
    lsn      = first non-null of the connector-specific source offsets
               (postgres `source.lsn`, oracle `source.scn`,
               mysql `source.pos`, generic `source.sequence`)
    ts       = `source.ts_ms` (event time at the source, epoch millis)
    txn_id   = `transaction.id` (Debezium transaction metadata topic
               ordinal) falling back to postgres `source.txId`
    DDL      = schema-change-topic records (`{... "ddl": "ALTER TABLE ..."}`)
               translated from SQL text into the engine's DDL descriptors

Both the bare envelope and the `schemas.enable`-wrapped form
(`{"schema": ..., "payload": {envelope}}`) are accepted — every JSON path
is tried under `$.payload` first, then at the root. Kafka tombstones
(null value after a delete, used for log compaction) are dropped.

Everything on the DML path is pure Catalyst: staged `json_tuple`, one
JSON parse per nesting level — measured 2.8× over the naive
one-`get_json_object`-per-path formulation (BENCH/BASELINE.md §Debezium
adapter), zero Python. DDL rows (vanishingly rare by construction) route
through one Arrow-vectorized pandas UDF that parses the SQL statement,
folded into the same single-pass projection with a null-except-DDL input
column, so DML rows cross to Python as nothing but a null bitmap.
"""

from __future__ import annotations

import json
import os
import re

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TXN_EVENT_SCHEMA

# ---------------------------------------------------------------------------
# SQL type → Spark simpleString (the engine's DDL descriptor type vocabulary).
# Covers the postgres / mysql / oracle names Debezium emits in DDL text.
# ---------------------------------------------------------------------------
_SQL_TYPE_MAP = {
    "int": "int",
    "integer": "int",
    "int4": "int",
    "smallint": "int",
    "int2": "int",
    "mediumint": "int",
    "bigint": "long",
    "int8": "long",
    "long": "long",
    "number": "long",  # oracle NUMBER without scale — widest integral
    "text": "string",
    "varchar": "string",
    "varchar2": "string",
    "char": "string",
    "character": "string",
    "clob": "string",
    "string": "string",
    "json": "string",
    "jsonb": "string",
    "float": "float",
    "real": "float",
    "float4": "float",
    "double": "double",
    "float8": "double",
    "boolean": "boolean",
    "bool": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
    "datetime": "timestamp",
    "binary": "binary",
    "bytea": "binary",
    "blob": "binary",
}

# "character varying(255)" / "double precision" two-word forms normalise first
_TWO_WORD_TYPES = {
    "character varying": "varchar",
    "double precision": "double",
    "timestamp with time zone": "timestamptz",
    "timestamp without time zone": "timestamp",
}


def _map_sql_type(sql_type: str) -> str:
    """'varchar(255)' → 'string', 'numeric(10,2)' → 'decimal(10,2)', ..."""
    t = sql_type.strip().lower()
    for two, one in _TWO_WORD_TYPES.items():
        if t.startswith(two):
            t = one + t[len(two):]
            break
    m = re.match(r"^([a-z0-9_ ]+?)\s*(\(([^)]*)\))?$", t)
    if not m:
        return "string"
    base, args = m.group(1).strip(), m.group(3)
    if base in ("numeric", "decimal", "dec"):
        if args:
            parts = [p.strip() for p in args.split(",")]
            p = parts[0] or "10"
            s = parts[1] if len(parts) > 1 else "0"
            return f"decimal({p},{s})"
        return "decimal(10,0)"
    if base == "number" and args:
        parts = [p.strip() for p in args.split(",")]
        if len(parts) > 1 and parts[1] not in ("0", ""):
            return f"decimal({parts[0]},{parts[1]})"
        return "long"
    return _SQL_TYPE_MAP.get(base, "string")


# DDL statement patterns (case-insensitive; optional schema-qualified,
# optionally quoted table identifiers). Debezium's schema-change topic
# carries the source statement verbatim.
_IDENT = r'(?:"[^"]+"|`[^`]+`|[\w$]+)(?:\.(?:"[^"]+"|`[^`]+`|[\w$]+))*'
_RE_ADD = re.compile(
    rf"(?is)^\s*ALTER\s+TABLE\s+{_IDENT}\s+ADD\s+(?:COLUMN\s+)?"
    r'["`]?(\w+)["`]?\s+([\w ]+(?:\([^)]*\))?)\s*;?\s*$'
)
_RE_RENAME = re.compile(
    rf"(?is)^\s*ALTER\s+TABLE\s+{_IDENT}\s+RENAME\s+(?:COLUMN\s+)?"
    r'["`]?(\w+)["`]?\s+TO\s+["`]?(\w+)["`]?\s*;?\s*$'
)
_RE_ALTER_TYPE = re.compile(
    rf"(?is)^\s*ALTER\s+TABLE\s+{_IDENT}\s+(?:ALTER|MODIFY)\s+(?:COLUMN\s+)?"
    r'["`]?(\w+)["`]?\s+(?:SET\s+DATA\s+TYPE\s+|TYPE\s+)?([\w ]+(?:\([^)]*\))?)\s*;?\s*$'
)
_RE_DROP = re.compile(
    rf"(?is)^\s*ALTER\s+TABLE\s+{_IDENT}\s+DROP\s+(?:COLUMN\s+)?"
    r'["`]?(\w+)["`]?\s*;?\s*$'
)
_RE_CREATE = re.compile(
    rf"(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s*\((.*)\)\s*;?\s*$"
)


def _split_columns(body: str) -> list[str]:
    """Split a CREATE TABLE column list on top-level commas only (commas
    inside type parens — decimal(10,2) — don't split)."""
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


_CONSTRAINT_WORDS = ("primary ", "foreign ", "unique", "constraint", "check", "key ")


def translate_ddl_sql(sql: str) -> dict | None:
    """One SQL DDL statement → the engine's DDL descriptor dict
    (plans/table_format.py apply_ddl vocabulary), or None if the statement
    is not one the engine replicates (indexes, grants, truncates, ...)."""
    if not sql:
        return None
    m = _RE_RENAME.match(sql)
    if m:
        return {"action": "rename_column", "old": m.group(1), "new": m.group(2)}
    m = _RE_ALTER_TYPE.match(sql)
    if m:
        return {"action": "widen_type", "name": m.group(1), "to": _map_sql_type(m.group(2))}
    m = _RE_DROP.match(sql)
    if m:
        return {"action": "drop_column", "name": m.group(1)}
    m = _RE_ADD.match(sql)
    if m:
        return {"action": "add_column", "name": m.group(1), "type": _map_sql_type(m.group(2))}
    m = _RE_CREATE.match(sql)
    if m:
        cols = []
        for coldef in _split_columns(m.group(2)):
            low = coldef.lower()
            if any(low.startswith(w) for w in _CONSTRAINT_WORDS):
                continue  # table-level constraint, not a column
            cm = re.match(r'^["`]?(\w+)["`]?\s+([\w ]+(?:\([^)]*\))?)', coldef)
            if cm:
                cols.append(f"{cm.group(1)} {_map_sql_type(cm.group(2))}")
        if not cols:
            return None
        return {"action": "create_table", "schema": ", ".join(cols)}
    return None


# ---------------------------------------------------------------------------
# The adapter
# ---------------------------------------------------------------------------

# connector-specific total-order offset fields of the source block, tried in
# order (first non-null): postgres WAL LSN, oracle SCN, mysql binlog
# coordinate (file + position), generic sequence — extracted together in the
# one source-level json_tuple parse below.


def _binlog_coord(file_no, pos):
    """MySQL binlog coordinate → one ordered long: (file number << 32) |
    position, the composition maxwell.py uses. A position alone restarts at
    every binlog rotation, so it cannot order events across files."""
    return F.shiftleft(file_no.cast("long"), 32).bitwiseOR(pos.cast("long"))


def _txn_order(tid):
    """Debezium transaction id (a string) → an ordered long, so the
    TxnAligner's max(txn_id) is the newest transaction:
    - all digits (postgres txId, numeric ids): the number itself;
    - postgres "txid:lsn" (``571:53195829``): the leading txid, 571;
    - mysql "binlog-file:pos" (``mysql-bin.000003:1234``): the binlog
      coordinate, (3 << 32) | 1234.
    Any other shape (a MySQL GTID, say) has no order a long can carry and
    stays null, which the aligner passes through unaligned. Hashing would
    give a long but not the order."""
    return (
        F.when(tid.rlike(r"^\d{1,18}$"), tid.cast("long"))
        .when(tid.rlike(r"^\d{1,18}:\d+$"), F.regexp_extract(tid, r"^(\d+):", 1).cast("long"))
        .when(
            tid.rlike(r"^[^:]*\.\d{1,9}:\d{1,10}$"),
            _binlog_coord(
                F.regexp_extract(tid, r"\.(\d+):", 1), F.regexp_extract(tid, r":(\d+)$", 1)
            ),
        )
    )


@pandas_udf(T.StringType())
def _translate_ddl_udf(sql: pd.Series) -> pd.Series:
    """Arrow-batched SQL→descriptor translation for the (rare) DDL rows;
    non-replicable statements map to null and are filtered out."""
    return sql.map(lambda s: (lambda d: json.dumps(d) if d else None)(translate_ddl_sql(s)))


def debezium_to_envelope(
    raw: DataFrame,
    value_col: str = "value",
    with_txns: bool = False,
    with_table_name: bool = False,
) -> DataFrame:
    """Debezium JSON records → CHANGE_EVENT_SCHEMA (/ TXN / MULTI variants).

    `raw` needs one string column (`value_col`) holding the Debezium record
    value — the shape every Kafka reader produces (sources/kafka.py casts
    `value` binary → string the same way). Extra columns are ignored.
    Tombstones (null value) and non-replicable DDL are dropped.

    with_txns adds `txn_id` (TXN_EVENT_SCHEMA) from the transaction
    metadata block / postgres txId, mapped to an ordered long by
    `_txn_order` — feeds without it (or with an id shape that has no
    order, such as a GTID) carry null, which the TxnAligner passes through
    unaligned, same contract as the native feed.
    with_table_name prepends `table_name` from `source.table` for the
    multi-table router (MULTI_EVENT_SCHEMA column order).

    ONE pass over the source, ONE JSON parse per nesting level: the
    obvious `get_json_object` formulation re-parses the whole record for
    EVERY extracted path (~14 full parses per record between envelope
    fields, source offsets and key extraction — measured, it dominates the
    adapter's cost), and a DML/DDL two-branch union doubles that again
    plus the scan. `json_tuple` extracts all of a level's fields in a
    single parse, so the whole adapter costs ~4 parses per record
    (envelope, source block, key fields, + 1 to unwrap schemas.enable),
    staged through narrow WSCG projections. The pandas UDF's input
    (`$.ddl` — null on every DML record by construction) crosses to
    Python as little more than a null bitmap, so the hot path's
    per-record work stays JVM-side.
    """
    v = F.col(value_col).cast("string")
    # stage 1 — unwrap schemas.enable: wrapped records carry the envelope
    # under a top-level "payload" member, bare records don't have one
    s1 = raw.where(v.isNotNull()).select(
        v.alias("_v"), F.json_tuple(v, "payload").alias("_wrapped")
    )
    env = F.coalesce(F.col("_wrapped"), F.col("_v"))
    # stage 2 — the envelope level, one parse for every member
    s2 = s1.select(
        F.json_tuple(
            env, "op", "after", "before", "source", "transaction", "ddl", "ts_ms"
        ).alias("_op", "_after", "_before", "_source", "_txn", "_ddl", "_tsms")
    )
    # stage 3 — the source block (connector offsets), one parse
    s3 = s2.select(
        "*",
        F.json_tuple(
            F.col("_source"), "ts_ms", "lsn", "scn", "file", "pos", "sequence", "table",
            "txId",
        ).alias(
            "_s_tsms", "_s_lsn", "_s_scn", "_s_file", "_s_pos", "_s_seq", "_s_table",
            "_s_txid",
        ),
    )
    # stage 4 — key fields from the row image (before for deletes), one
    # parse; the DDL translator's input is null on every DML record so its
    # Arrow transfer carries only the rare schema-change rows' SQL text.
    # Values the final projection reads more than once are computed here,
    # once per record.
    image = F.coalesce(F.col("_after"), F.col("_before"))
    # _txn is a tiny object ({"id": ..}), a per-path parse is fine here
    tid = F.coalesce(F.get_json_object(F.col("_txn"), "$.id"), F.col("_s_txid"))
    s4 = s3.select(
        "*",
        F.json_tuple(image, "conv_id", "turn_idx").alias("_k_conv", "_k_turn"),
        _translate_ddl_udf(F.col("_ddl")).alias("_ddl_desc"),
        F.regexp_extract(F.col("_s_file"), r"\.(\d+)$", 1).alias("_s_file_no"),
        *([tid.alias("_tid")] if with_txns else []),
    )

    op_raw = F.col("_op")
    is_ddl = op_raw.isNull() & F.col("_ddl_desc").isNotNull()
    op = (
        F.when(op_raw.isin("c", "r"), F.lit("I"))
        .when(op_raw == "u", F.lit("U"))
        .when(op_raw == "d", F.lit("D"))
        .when(is_ddl, F.lit("DDL"))
    )
    payload = (
        F.when(is_ddl, F.col("_ddl_desc"))
        .when(op_raw == "d", F.lit(None).cast("string"))
        .otherwise(F.col("_after"))
    )
    binlog = F.when(
        (F.col("_s_file_no") != "") & F.col("_s_pos").isNotNull(),
        _binlog_coord(F.col("_s_file_no"), F.col("_s_pos")),
    )
    cols = [
        F.coalesce(
            F.col("_s_lsn").cast("long"), F.col("_s_scn").cast("long"), binlog,
            F.col("_s_pos").cast("long"), F.col("_s_seq").cast("long"),
        ).alias("lsn"),
        op.alias("op"),
        F.timestamp_millis(
            F.coalesce(F.col("_s_tsms"), F.col("_tsms")).cast("long")
        ).alias("ts"),
        F.when(~is_ddl, F.col("_k_conv")).alias("conv_id"),
        F.when(~is_ddl, F.col("_k_turn")).cast("int").alias("turn_idx"),
        payload.alias("payload"),
    ]
    if with_txns:
        cols.append(_txn_order(F.col("_tid")).alias("txn_id"))
    if with_table_name:
        cols.insert(0, F.col("_s_table").alias("table_name"))

    # tombstones (null value), unknown ops (truncate "t", message "m"),
    # non-replicable DDL, and broken/alien JSON all land with op null and
    # drop here. Structurally-valid records MISSING what ordering needs —
    # no recognisable source offset, or a DML row without its merge key —
    # are equally unusable (a row that cannot be ordered cannot
    # participate in LWW, and a null lsn would otherwise be silently
    # swallowed by the watermark filter downstream, which reads as data
    # loss with no trace): the standard Debezium-consumer stance is
    # skip-and-continue, so they drop at this single audited filter
    # rather than scattered downstream.
    valid = F.col("lsn").isNotNull() & (
        (F.col("op") == "DDL")
        | (F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
    )
    return s4.select(*cols).where(F.col("op").isNotNull() & valid)


# ---------------------------------------------------------------------------
# Readers: drop-in equivalents of sources/feed.read_feed_batch/stream over a
# directory of Debezium-valued chunk files (the Kafka stand-in, same pattern
# as the native feed — production swap is `format("kafka")` + this adapter).
# ---------------------------------------------------------------------------
_RAW_SCHEMA = T.StructType([T.StructField("value", T.StringType(), True)])


def read_debezium_batch(
    spark, feed_dir: str, with_txns: bool = False, with_table_name: bool = False
) -> DataFrame:
    raw = spark.read.schema(_RAW_SCHEMA).parquet(feed_dir)
    return debezium_to_envelope(
        raw, with_txns=with_txns, with_table_name=with_table_name
    )


def read_debezium_stream(
    spark, feed_dir: str, max_files_per_trigger: int = 8, with_txns: bool = False,
    with_table_name: bool = False,
) -> DataFrame:
    """Streaming reader with the read_feed_stream signature, so IngestJob
    can take it as a `reader=` plug-in; offsets live in the checkpoint."""
    raw = (
        spark.readStream.schema(_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_dir)
    )
    return debezium_to_envelope(
        raw, with_txns=with_txns, with_table_name=with_table_name
    )


def read_debezium_multi_stream(
    spark, feed_dir: str, max_files_per_trigger: int = 8, with_txns: bool = False
) -> DataFrame:
    """Multi-table variant (MULTI_EVENT_SCHEMA column order: table_name from
    each record's source.table) — the MultiTableIngestJob stream_reader
    plug-in for a Debezium topic carrying many tables' changes."""
    return read_debezium_stream(
        spark, feed_dir, max_files_per_trigger, with_txns, with_table_name=True
    )


# ---------------------------------------------------------------------------
# Deterministic Debezium-format feed writer (test/bench fixture): re-encodes
# the canonical generator's events as Debezium JSON, so the adapter's e2e
# can assert byte-for-byte final-table equality against the native path.
# ---------------------------------------------------------------------------

# inverse of _map_sql_type for the descriptor→SQL direction (feed writer)
_SPARK_TO_SQL = {"int": "integer", "long": "bigint", "string": "text",
                 "double": "double precision", "float": "real",
                 "timestamp": "timestamp", "boolean": "boolean", "date": "date"}


def _ddl_to_sql(descriptor: dict, table: str = "transcripts") -> str:
    a = descriptor["action"]
    if a == "add_column":
        return (f"ALTER TABLE {table} ADD COLUMN {descriptor['name']} "
                f"{_SPARK_TO_SQL.get(descriptor['type'], descriptor['type'])}")
    if a == "rename_column":
        return f"ALTER TABLE {table} RENAME COLUMN {descriptor['old']} TO {descriptor['new']}"
    if a == "widen_type":
        return (f"ALTER TABLE {table} ALTER COLUMN {descriptor['name']} TYPE "
                f"{_SPARK_TO_SQL.get(descriptor['to'], descriptor['to'])}")
    if a == "drop_column":
        return f"ALTER TABLE {table} DROP COLUMN {descriptor['name']}"
    if a == "create_table":
        cols = []
        for coldef in _split_columns(descriptor["schema"]):
            name, _, ty = coldef.partition(" ")
            cols.append(f"{name} {_SPARK_TO_SQL.get(ty.strip(), ty.strip())}")
        return f"CREATE TABLE IF NOT EXISTS {table} ({', '.join(cols)})"
    raise ValueError(f"no SQL form for {a}")


@pandas_udf(T.StringType())
def _descriptor_to_sql_udf(payload: pd.Series) -> pd.Series:
    """Inverse translation for CDC-out: engine DDL descriptor JSON → SQL
    text (Arrow-batched; only ever applied to the rare DDL rows)."""
    def one(p):
        if not p:  # null on every DML row (the input column is masked)
            return None
        try:
            return _ddl_to_sql(json.loads(p))
        except (ValueError, KeyError, json.JSONDecodeError):
            return None

    return payload.map(one)


def envelope_to_debezium(
    events: DataFrame,
    connector: str = "data_pipeline_spark",
    db: str = "lake",
    schema: str = "public",
    table: str = "transcripts",
) -> DataFrame:
    """CDC-out: canonical change events → Debezium JSON record values, so
    any Debezium-aware consumer (JDBC sink, search indexer, another team's
    pipeline) can tail an engine table without speaking the engine's
    format. Compose with ``changes_to_feed`` (sources/kafka.py) to publish
    a table's changelog: table → read_changes/tail_changes →
    changes_to_feed → envelope_to_debezium → Kafka producer records.

    The round trip ``debezium_to_envelope(envelope_to_debezium(e))`` is
    the identity on (lsn, op, ts at millisecond precision, keys, decoded
    row image) — pinned by test. DML encoding is pure Catalyst (to_json
    for the escaped key fields, string splice for the already-JSON
    payload); DDL records fold into the SAME single-pass projection (a
    two-branch union would recompute the upstream changelog twice), with
    the symmetric descriptor→SQL pandas UDF fed a null-except-DDL column
    so the crossing carries nothing on DML rows. Works on batch and
    streaming frames.
    """
    lsn = F.col("lsn")
    ts_ms = F.when(
        F.col("ts").isNotNull(), (F.unix_micros(F.col("ts")) / 1000).cast("long").cast("string")
    ).otherwise(F.lit("null"))
    src = F.concat(
        F.lit(f'"source":{{"version":"2.5","connector":"{connector}","name":"{connector}",'
              f'"ts_ms":'), ts_ms,
        F.lit(f',"db":"{db}","schema":"{schema}","table":"{table}","lsn":'),
        lsn.cast("string"), F.lit("}"),
    )
    txn = (
        F.when(
            F.col("txn_id").isNotNull(),
            F.concat(F.lit(',"transaction":{"id":"'),
                     F.col("txn_id").cast("string"),
                     F.lit('","total_order":1}')),
        ).otherwise(F.lit(""))
        if "txn_id" in events.columns
        else F.lit("")
    )
    # proper JSON escaping for the key fields comes from to_json; the
    # payload is already JSON text and splices in verbatim
    key_json = F.to_json(F.struct(F.col("conv_id"), F.col("turn_idx")))
    image = F.when(
        F.col("payload").isNull() | (F.col("payload") == "{}"), key_json
    ).otherwise(
        F.concat(
            F.expr("substring(key_json_tmp, 1, length(key_json_tmp) - 1)"),
            F.lit(","), F.expr("substring(payload, 2)"),
        )
    )
    is_d = F.col("op") == "D"
    is_ddl = F.col("op") == "DDL"
    dml_value = F.concat(
        F.lit('{"before":'), F.when(is_d, F.col("key_json_tmp")).otherwise(F.lit("null")),
        F.lit(',"after":'), F.when(is_d, F.lit("null")).otherwise(image),
        F.lit(","), src,
        F.lit(',"op":"'),
        F.when(is_d, F.lit("d")).when(F.col("op") == "U", F.lit("u")).otherwise(F.lit("c")),
        F.lit('","ts_ms":'), ts_ms, txn, F.lit("}"),
    )
    # DDL records: every member is scalar, so the whole record builds with
    # to_json (exact escaping for free). The UDF input is null on DML rows
    # so its Arrow crossing carries only the rare schema-change rows; a
    # descriptor with no SQL form (none today) yields a null value and is
    # dropped by the final filter.
    ts_ms_long = (F.unix_micros(F.col("ts")) / 1000).cast("long")
    ddl_sql = _descriptor_to_sql_udf(F.when(is_ddl, F.col("payload")))
    ddl_value = F.when(
        ddl_sql.isNotNull(),
        F.to_json(
            F.struct(
                F.struct(
                    F.lit("2.5").alias("version"),
                    F.lit(connector).alias("connector"),
                    ts_ms_long.alias("ts_ms"),
                    F.lit(db).alias("db"),
                    F.lit(schema).alias("schema"),
                    F.lit(table).alias("table"),
                    F.col("lsn").alias("lsn"),
                ).alias("source"),
                ts_ms_long.alias("ts_ms"),
                F.lit(db).alias("databaseName"),
                ddl_sql.alias("ddl"),
            )
        ),
    )
    return (
        events.withColumn("key_json_tmp", key_json)
        .select(F.when(is_ddl, ddl_value).otherwise(dml_value).alias("value"))
        .where(F.col("value").isNotNull())
    )


def encode_debezium_pandas(
    df: pd.DataFrame,
    connector: str = "postgresql",
    table: str = "transcripts",
    wrapped: bool = False,
    snapshot_rows: int = 0,
    tombstones: bool = False,
    table_col: str | None = None,
) -> pd.DataFrame:
    """Canonical feed rows (generate_feed_pandas output) → one-column
    pandas frame of Debezium JSON values, vectorized string assembly (the
    generator's payloads are quote-free by construction, so JSON text can
    be concatenated directly — same invariant the generator itself relies
    on). The first `snapshot_rows` INSERTs become op "r" (snapshot reads);
    tombstones=True appends a null value after every delete (Kafka log
    compaction convention) which the adapter must drop. table_col names a
    per-row table column (multi-table feeds): each record's source.table
    (and its DDL statements' target) comes from that row."""
    n = len(df)
    op = df["op"].to_numpy()
    is_ddl = op == "DDL"
    is_d = op == "D"
    lsn = df["lsn"].astype(str)
    ts_ms = (df["ts"].astype("int64") // 1_000_000).astype(str)

    dbz_op = pd.Series(pd.NA, index=df.index, dtype="object")
    dbz_op[op == "I"] = "c"
    dbz_op[op == "U"] = "u"
    dbz_op[is_d] = "d"
    if snapshot_rows:
        first_i = df.index[(op == "I")][:snapshot_rows]
        dbz_op.loc[first_i] = "r"

    key_json = (
        '{"conv_id":"' + df["conv_id"].astype(str) + '","turn_idx":'
        + df["turn_idx"].astype("Int64").astype(str) + "}"
    )
    # after = key fields + the canonical payload's members (payload is
    # "{...}" with ≥1 member for every I/U by generator invariant)
    after = key_json.str[:-1] + "," + df["payload"].astype(str).str[1:]

    tbl = df[table_col].astype(str) if table_col else table
    src = (
        '"source":{"version":"2.5","connector":"' + connector + '","name":"src1",'
        + '"ts_ms":' + ts_ms + ',"db":"app","schema":"public","table":"' + tbl + '",'
        + '"lsn":' + lsn + "}"
    )
    txn = ""
    if "txn_id" in df.columns:
        txn_sr = ',"transaction":{"id":"' + df["txn_id"].astype(str) + '","total_order":1}'
        txn = txn_sr.where(df["txn_id"].notna(), "")

    value = pd.Series(pd.NA, index=df.index, dtype="object")
    dml = ~is_ddl
    value[dml] = (
        '{"before":' + key_json[dml].where(is_d[dml], "null")
        + ',"after":' + after[dml].where(~is_d[dml], "null")
        + "," + src[dml] + ',"op":"' + dbz_op[dml] + '","ts_ms":' + ts_ms[dml]
        + (txn[dml] if isinstance(txn, pd.Series) else "") + "}"
    )
    if is_ddl.any():
        ddl_tbl = (
            df.loc[is_ddl, table_col] if table_col
            else pd.Series(table, index=df.index[is_ddl])
        )
        ddl_sql = pd.Series(
            [
                _ddl_to_sql(json.loads(p), t)
                for p, t in zip(df.loc[is_ddl, "payload"], ddl_tbl)
            ],
            index=df.index[is_ddl],
        )
        value[is_ddl] = (
            "{" + src[is_ddl] + ',"ts_ms":' + ts_ms[is_ddl]
            + ',"databaseName":"app","ddl":"' + ddl_sql + '","tableChanges":[]}'
        )
    if wrapped:
        value = '{"schema":{"type":"struct"},"payload":' + value + "}"

    out = pd.DataFrame({"value": value})
    if tombstones:
        tomb = pd.DataFrame(
            {"value": pd.Series([None] * int(is_d.sum()), dtype="object")},
            index=df.index[is_d] + 0.5,  # interleave right after each delete
        )
        out = pd.concat([out, tomb]).sort_index().reset_index(drop=True)
    return out


def write_debezium_feed(
    out_dir: str,
    spec,
    chunk_size: int | None = None,
    **encode_kw,
) -> list[str]:
    """Generate spec's canonical feed and write it as Debezium-valued
    parquet chunks (ordered log segments, same layout as generate_feed)."""
    from data_pipeline_spark.sources.feed import generate_feed_pandas

    os.makedirs(out_dir, exist_ok=True)
    values = encode_debezium_pandas(generate_feed_pandas(spec), **encode_kw)
    chunk = chunk_size or spec.chunk_size
    paths = []
    for c in range(0, len(values), chunk):
        p = os.path.join(out_dir, f"chunk-{c // chunk:06d}.parquet")
        values.iloc[c : c + chunk].to_parquet(p, index=False)
        paths.append(p)
    return paths
