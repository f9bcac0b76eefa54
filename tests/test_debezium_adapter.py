"""Debezium envelope adapter (sources/debezium.py): the public CDC wire
format → canonical envelope, proven equal to the native feed path end-to-end
(decode-level equality and final-table byte equality after a full streaming
replay with DDL)."""

from __future__ import annotations

import pandas as pd
import pytest

from data_pipeline_spark.functions.decode import decode_events
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.debezium import (
    read_debezium_batch,
    read_debezium_stream,
    translate_ddl_sql,
    write_debezium_feed,
)
from data_pipeline_spark.sources.feed import (
    FeedSpec,
    generate_feed,
    generate_feed_pandas,
    read_feed_batch,
)
from data_pipeline_spark.streaming.ingest import IngestJob


# ----------------------------------------------------------------- DDL SQL
def test_translate_alter_statements():
    assert translate_ddl_sql("ALTER TABLE transcripts ADD COLUMN tokens integer") == {
        "action": "add_column", "name": "tokens", "type": "int"
    }
    assert translate_ddl_sql('ALTER TABLE "public"."transcripts" ADD tokens bigint;') == {
        "action": "add_column", "name": "tokens", "type": "long"
    }
    assert translate_ddl_sql("alter table app.t rename column tool to tool_name") == {
        "action": "rename_column", "old": "tool", "new": "tool_name"
    }
    assert translate_ddl_sql(
        "ALTER TABLE t ALTER COLUMN turn_idx SET DATA TYPE bigint"
    ) == {"action": "widen_type", "name": "turn_idx", "to": "long"}
    # mysql / oracle MODIFY form
    assert translate_ddl_sql("ALTER TABLE t MODIFY turn_idx bigint") == {
        "action": "widen_type", "name": "turn_idx", "to": "long"
    }
    assert translate_ddl_sql("ALTER TABLE t DROP COLUMN legacy") == {
        "action": "drop_column", "name": "legacy"
    }


def test_translate_types():
    t = lambda ty: translate_ddl_sql(f"ALTER TABLE t ADD COLUMN c {ty}")["type"]
    assert t("varchar(255)") == "string"
    assert t("character varying(64)") == "string"
    assert t("double precision") == "double"
    assert t("numeric(12,4)") == "decimal(12,4)"
    assert t("NUMBER(10,2)") == "decimal(10,2)"
    assert t("NUMBER") == "long"
    assert t("timestamp with time zone") == "timestamp"
    assert t("bool") == "boolean"


def test_translate_create_table_and_unreplicable():
    d = translate_ddl_sql(
        "CREATE TABLE IF NOT EXISTS app.orders ("
        "order_id bigint, status varchar(16), amount numeric(10,2), "
        "PRIMARY KEY (order_id))"
    )
    assert d == {
        "action": "create_table",
        "schema": "order_id long, status string, amount decimal(10,2)",
    }
    # statements the engine does not replicate -> None (dropped upstream)
    assert translate_ddl_sql("CREATE INDEX idx ON t (a)") is None
    assert translate_ddl_sql("GRANT SELECT ON t TO role") is None
    assert translate_ddl_sql("TRUNCATE TABLE t") is None
    assert translate_ddl_sql("") is None


# ------------------------------------------------------------- adapter body
SPEC = FeedSpec(n_events=5_000, n_convs=150, seed=11, chunk_size=1_250)


@pytest.fixture(scope="module")
def feeds(tmp_path_factory):
    """The same spec written both ways."""
    native = tmp_path_factory.mktemp("native")
    dbz = tmp_path_factory.mktemp("dbz")
    generate_feed(str(native), SPEC)
    write_debezium_feed(str(dbz), SPEC)
    return str(native), str(dbz)


def _decoded(spark, raw):
    return (
        decode_events(raw, TRANSCRIPT_SCHEMA)
        .orderBy("lsn")
        .toPandas()
        .reset_index(drop=True)
    )


def test_envelope_columns_match_native(spark, feeds):
    native_dir, dbz_dir = feeds
    nat = read_feed_batch(spark, native_dir).orderBy("lsn").toPandas()
    dbz = read_debezium_batch(spark, dbz_dir).orderBy("lsn").toPandas()
    for c in ("lsn", "op", "ts", "conv_id", "turn_idx"):
        pd.testing.assert_series_equal(nat[c], dbz[c], check_dtype=False)
    # D rows carry null payload on both paths
    assert dbz.loc[dbz["op"] == "D", "payload"].isna().all()


def test_decode_equality_vs_native(spark, feeds):
    """The after-image payload (which additionally carries the key fields,
    as real Debezium does) must decode to exactly the native columns."""
    native_dir, dbz_dir = feeds
    a = _decoded(spark, read_feed_batch(spark, native_dir))
    b = _decoded(spark, read_debezium_batch(spark, dbz_dir))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_wrapped_tombstones_snapshot_variant(spark, tmp_path):
    """schemas.enable wrapper + Kafka tombstones + snapshot 'r' ops: the
    adapter unwraps, drops tombstones, and treats r as upsert-I."""
    spec = FeedSpec(n_events=3_000, n_convs=80, seed=7, chunk_size=1_000)
    native = str(tmp_path / "n")
    dbz = str(tmp_path / "d")
    generate_feed(native, spec)
    write_debezium_feed(
        dbz, spec, wrapped=True, tombstones=True, snapshot_rows=200
    )
    a = _decoded(spark, read_feed_batch(spark, native))
    b = _decoded(spark, read_debezium_batch(spark, dbz))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_txn_envelope_passthrough(spark, tmp_path):
    spec = FeedSpec(n_events=3_000, n_convs=80, seed=13, chunk_size=1_000,
                    with_txns=True)
    native = str(tmp_path / "n")
    dbz = str(tmp_path / "d")
    generate_feed(native, spec)
    write_debezium_feed(dbz, spec)
    nat = read_feed_batch(spark, native, with_txns=True).orderBy("lsn").toPandas()
    got = read_debezium_batch(spark, dbz, with_txns=True).orderBy("lsn").toPandas()
    pd.testing.assert_series_equal(nat["txn_id"], got["txn_id"], check_dtype=False)


def test_adapter_plan_shape(spark, feeds):
    """Scale guard: the adapter must stay ONE scan of the source and one
    json_tuple parse per nesting level (unwrap, envelope, source, keys) —
    the union / per-path shapes it replaced cost 2.8× (BENCH/BASELINE.md
    §Debezium adapter). Plan-only, nothing executes."""
    _, dbz_dir = feeds
    plan = (
        read_debezium_batch(spark, dbz_dir, with_txns=True)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.lower().count("relation") == 1  # one source scan
    assert plan.count("json_tuple") == 4
    # per-path parsing allowed only for the tiny transaction block
    assert plan.count("get_json_object") <= 1


def test_malformed_records_skip_and_continue(spark):
    """Real topics contain junk. The adapter's contract: NEVER throw;
    broken JSON / alien types / tombstones / unknown ops drop, and
    structurally-valid records that cannot be ordered (no source offset)
    or lack their merge key drop at the single audited filter — only
    fully-usable envelope rows come out."""
    from data_pipeline_spark.sources.debezium import debezium_to_envelope
    from data_pipeline_spark.sources.maxwell import maxwell_to_envelope

    good = ('{"after":{"conv_id":"c1","turn_idx":1,"text":"t"},"op":"c",'
            '"source":{"ts_ms":1000,"lsn":5}}')
    junk = [
        '{"after":{"conv_id":"c2","turn_idx":1},"op":"c","source":{"ts_ms":1}}',  # no offset
        '{"before":null,"after":null,"op":"c","source":{"lsn":9}}',  # keyless DML
        '{"op":"c"}', "{ not json", '{"op":5,"after":{}}', "[1,2,3]",
        '"just a string"', "", None, '{"op":"t","source":{"lsn":3}}',  # truncate
    ]
    df = spark.createDataFrame([(v,) for v in [good] + junk], "value string")
    out = debezium_to_envelope(df).collect()
    assert len(out) == 1 and out[0].lsn == 5 and out[0].op == "I"

    m_good = ('{"table":"transcripts","type":"insert","ts":1000,"xid":7,'
              '"position":"binlog.000001:10",'
              '"data":{"conv_id":"c1","turn_idx":1,"text":"t"}}')
    m_junk = [
        '{"type":"insert","ts":1,"data":{"conv_id":"c","turn_idx":1}}',  # no position/xid
        '{"type":"insert","ts":1,"xid":3,"data":{}}',  # keyless
        '{"type":"ddl-noise"}', "{bad", "", None,
    ]
    mdf = spark.createDataFrame([(v,) for v in [m_good] + m_junk], "value string")
    mout = maxwell_to_envelope(mdf).collect()
    assert len(mout) == 1 and mout[0].op == "I" and mout[0].lsn == (1 << 32) + 10


def test_mysql_binlog_rotation_keeps_post_rotation_events(spark, tmp_path):
    """MySQL's binlog position restarts at every file rotation
    (mysql-bin.000001 → mysql-bin.000002), so the lsn must compose the file
    number with the position: ordered by position alone, every
    post-rotation event sits at or below the watermark and is dropped."""
    from data_pipeline_spark.oracle import reduce_feed
    from data_pipeline_spark.sources.debezium import (
        debezium_to_envelope,
        encode_debezium_pandas,
    )

    feed = generate_feed_pandas(FeedSpec(n_events=2_000, n_convs=60, seed=17))
    values = encode_debezium_pandas(feed, connector="mysql")["value"]
    cut = len(feed) // 2
    rotated = int(feed["lsn"].iloc[cut])
    for part, (name, first) in enumerate((("mysql-bin.000001", 0), ("mysql-bin.000002", rotated))):
        rows = slice(0, cut) if part == 0 else slice(cut, None)
        coords = (
            f'"file":"{name}","pos":' + (feed["lsn"].iloc[rows] - first + 4).astype(str)
        )
        values.iloc[rows] = [
            v.replace(f'"lsn":{lsn}}}', c + "}", 1)
            for v, lsn, c in zip(values.iloc[rows], feed["lsn"].iloc[rows], coords)
        ]
    assert not values.str.contains('"lsn"').any()

    path = str(tmp_path / "t")
    LakehouseTable(path).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    job = IngestJob(path, str(tmp_path / "ctl"))
    for batch_id, rows in enumerate((slice(0, cut), slice(cut, None))):
        raw = spark.createDataFrame(values.iloc[rows].to_frame(), "value string")
        job.apply_batch(spark, batch_id, debezium_to_envelope(raw))

    got = (LakehouseTable(path).read(spark).toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    want = reduce_feed(feed)
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["turn_idx"].tolist() == [int(t) for t in want["turn_idx"]]
    assert got["text"].tolist() == want["text"].tolist()


def test_txn_id_shapes_map_to_ordered_longs(spark):
    """Transaction ids arrive as strings; each shape with an order maps to
    a long that keeps it (TxnAligner's max(txn_id) is the newest), any
    other shape stays null."""
    from data_pipeline_spark.sources.debezium import debezium_to_envelope

    def rec(lsn, txn):
        return ('{"after":{"conv_id":"c","turn_idx":%d},"op":"c",'
                '"source":{"ts_ms":1,"lsn":%d%s}%s}' % (lsn, lsn, *txn))

    cases = [
        (("", ',"transaction":{"id":"42"}'), 42),
        (("", ',"transaction":{"id":"571:53195829"}'), 571),  # postgres
        (("", ',"transaction":{"id":"mysql-bin.000003:1234"}'), (3 << 32) | 1234),
        (("", ',"transaction":{"id":"3E11FA47-71CA-11E1-9E33-C80AA9429562:23"}'), None),
        ((',"txId":571', ""), 571),  # postgres source block, no txn block
    ]
    df = spark.createDataFrame(
        [(rec(i + 1, txn),) for i, (txn, _) in enumerate(cases)], "value string"
    )
    got = {r.lsn: r.txn_id for r in debezium_to_envelope(df, with_txns=True).collect()}
    assert [got[i + 1] for i in range(len(cases))] == [want for _, want in cases]


# --------------------------------------------------------------- CDC-out
def test_ddl_sql_round_trip_property():
    from data_pipeline_spark.sources.debezium import _ddl_to_sql

    for d in [
        {"action": "add_column", "name": "tokens", "type": "int"},
        {"action": "add_column", "name": "score", "type": "double"},
        {"action": "rename_column", "old": "tool", "new": "tool_name"},
        {"action": "widen_type", "name": "turn_idx", "to": "long"},
        {"action": "drop_column", "name": "legacy"},
        {"action": "create_table",
         "schema": "order_id long, status string, amount decimal(10,2)"},
    ]:
        assert translate_ddl_sql(_ddl_to_sql(d)) == d, d


def test_envelope_round_trip_identity(spark, tmp_path):
    """debezium_to_envelope ∘ envelope_to_debezium = identity on the
    envelope (and decode), including DDL descriptors and txn ids."""
    import json

    from data_pipeline_spark.sources.debezium import (
        debezium_to_envelope,
        envelope_to_debezium,
    )

    spec = FeedSpec(n_events=4_000, n_convs=100, seed=21, chunk_size=1_000,
                    with_ddl=True, with_txns=True)
    native = str(tmp_path / "n")
    generate_feed(native, spec)
    events = read_feed_batch(spark, native, with_txns=True)
    back = debezium_to_envelope(
        envelope_to_debezium(events), with_txns=True
    ).orderBy("lsn")
    a = events.orderBy("lsn").toPandas()
    b = back.toPandas()
    for c in ("lsn", "op", "ts", "conv_id", "turn_idx"):
        pd.testing.assert_series_equal(a[c], b[c], check_dtype=False)
    # txn ids survive on DML; schema-change records carry none (Debezium's
    # schema topic has no transaction block — a DDL is its own commit, and
    # the aligner treats null-txn rows as pass-through)
    dml_mask = a["op"] != "DDL"
    pd.testing.assert_series_equal(
        a.loc[dml_mask, "txn_id"], b.loc[dml_mask, "txn_id"], check_dtype=False
    )
    assert b.loc[~dml_mask, "txn_id"].isna().all()
    # DML payloads decode identically; DDL descriptors survive exactly
    da = _decoded(spark, read_feed_batch(spark, native))
    db_ = _decoded(spark, back)
    pd.testing.assert_frame_equal(da, db_, check_dtype=False)
    ddl_a = [json.loads(p) for p in a.loc[a["op"] == "DDL", "payload"]]
    ddl_b = [json.loads(p) for p in b.loc[b["op"] == "DDL", "payload"]]
    assert ddl_a == ddl_b and len(ddl_a) == 3


def test_publish_changelog_to_debezium_consumer(spark, tmp_path):
    """Interop e2e: an engine table's changelog published as Debezium
    records is ingestible by a downstream engine (or any Debezium-aware
    sink) and reproduces the table."""
    from data_pipeline_spark.sources.debezium import (
        envelope_to_debezium,
        read_debezium_batch,
    )
    from data_pipeline_spark.sources.kafka import changes_to_feed

    spec = FeedSpec(n_events=4_000, n_convs=100, seed=9, chunk_size=2_000)
    feed = str(tmp_path / "feed")
    generate_feed(feed, spec)
    up = str(tmp_path / "up")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    IngestJob(up, str(tmp_path / "cu")).replay_batch(spark, feed)

    lt = LakehouseTable(up)
    wire = envelope_to_debezium(changes_to_feed(lt.read_changes(spark, 0)))
    wire_dir = str(tmp_path / "wire")
    wire.write.parquet(wire_dir)

    down = str(tmp_path / "down")
    LakehouseTable(down).create(TRANSCRIPT_SCHEMA, n_buckets=4)
    raw = read_debezium_batch(spark, wire_dir)
    IngestJob(down, str(tmp_path / "cd")).apply_batch(spark, 0, raw)

    a = (lt.read(spark).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    b = (LakehouseTable(down).read(spark).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    # table ts rides the payload (changes_to_feed), so it survives too
    pd.testing.assert_frame_equal(a, b)


# ------------------------------------------------------------ e2e streaming
def test_streaming_ingest_with_ddl_equals_native(spark, tmp_path):
    """Full streaming replay off the Debezium directory — including the DDL
    timeline arriving as schema-change-topic SQL — lands byte-for-byte the
    same table as the native feed."""
    spec = FeedSpec(n_events=6_000, n_convs=150, seed=5, chunk_size=1_500,
                    with_ddl=True)
    native = str(tmp_path / "n")
    dbz = str(tmp_path / "d")
    generate_feed(native, spec)
    write_debezium_feed(dbz, spec)

    t_nat = str(tmp_path / "tn")
    LakehouseTable(t_nat).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    IngestJob(t_nat, str(tmp_path / "cn")).run_to_completion(
        spark, native, str(tmp_path / "kn"), max_files_per_trigger=2
    )

    t_dbz = str(tmp_path / "td")
    LakehouseTable(t_dbz).create(TRANSCRIPT_SCHEMA, n_buckets=8)
    job = IngestJob(
        t_dbz, str(tmp_path / "cd"),
        stream_reader=read_debezium_stream, batch_reader=read_debezium_batch,
    )
    job.run_to_completion(spark, dbz, str(tmp_path / "kd"), max_files_per_trigger=2)

    a = (LakehouseTable(t_nat).read(spark).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    b = (LakehouseTable(t_dbz).read(spark).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    # DDL actually replicated: renamed + added columns present
    names = [f.name for f in LakehouseTable(t_dbz).schema_struct().fields]
    assert "tool_name" in names and "tokens" in names and "tool" not in names
