"""Quality-gated corpus consumers (`doc_filter`): the view must equal
σ_filter(assemble(upstream)) with materialized-view-correct semantics —
a document churning BELOW the bar is deleted live, one rising ABOVE it
appears — and the delta-export chain must fold to the same gated corpus,
emitting deletes for quality drops."""

from __future__ import annotations

import os

import pandas as pd

from data_pipeline_spark.operators.corpus import assemble_conversations
from data_pipeline_spark.plans.table_format import LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.corpus_view import (
    CorpusViewJob,
    export_corpus_delta,
    read_corpus_deltas,
)
from data_pipeline_spark.streaming.ingest import IngestJob

#: conversations cross this bar in both directions as turns are added
#: (n_turns grows) and deleted (n_turns shrinks)
GATE = "n_turns >= 5"


def _apply(spark, job, table, batch_id, pdf):
    pdf = pdf.copy()
    pdf["lsn"] = pdf["lsn"] + (
        LakehouseTable(table).current_snapshot()["watermark_lsn"] or 0
    )
    job.apply_batch(
        spark, batch_id, spark.createDataFrame(pdf, schema=CHANGE_EVENT_SCHEMA)
    )


def _gated_oracle(spark, up) -> pd.DataFrame:
    return (
        assemble_conversations(LakehouseTable(up).read(spark))
        .where(GATE)
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )


def _turns_of(spark, up, conv):
    return (
        LakehouseTable(up).read(spark)
        .where(f"conv_id = '{conv}'").select("turn_idx")
        .toPandas()["turn_idx"]
    )


def test_gated_view_tracks_the_bar_in_both_directions(spark, tmp_path):
    up = str(tmp_path / "up")
    view = str(tmp_path / "view")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    CorpusViewJob.create_view_table(view, n_buckets=4)
    ingest = IngestJob(up, str(tmp_path / "ctl-up"))
    vj = CorpusViewJob(up, view, str(tmp_path / "ctl-view"), doc_filter=GATE)
    cursor = str(tmp_path / "view.cursor")

    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=600, n_convs=40, seed=980)
    ))
    vj.run_until_caught_up(spark, cursor)
    got = (
        LakehouseTable(view).read(spark)
        .select("conv_id", "doc_text", "n_turns", "n_chars")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    oracle = _gated_oracle(spark, up)
    pd.testing.assert_frame_equal(got, oracle)
    full = assemble_conversations(LakehouseTable(up).read(spark)).count()
    assert 0 < len(got) < full  # the gate is actually selective

    # pick one doc IN the view and push it BELOW the bar (delete turns);
    # pick one below and push it ABOVE (append turns)
    in_view = got["conv_id"].iloc[0]
    turns = _turns_of(spark, up, in_view)
    drop = turns.sort_values().iloc[4:]  # keep only 4 turns → fails GATE
    down = pd.DataFrame({
        "lsn": range(1, len(drop) + 1),
        "op": ["D"] * len(drop),
        "ts": [pd.NaT] * len(drop),
        "conv_id": [in_view] * len(drop),
        "turn_idx": drop.astype("int32").tolist(),
        "payload": [None] * len(drop),
    })
    below = sorted(
        set(assemble_conversations(LakehouseTable(up).read(spark))
            .where("n_turns < 5").toPandas()["conv_id"])
    )[0]
    hi = int(_turns_of(spark, up, below).max())
    upturns = pd.DataFrame({
        "lsn": range(100, 108),
        "op": ["I"] * 8,
        "ts": [pd.NaT] * 8,
        "conv_id": [below] * 8,
        "turn_idx": list(range(hi + 1, hi + 9)),
        "payload": ['{"role": "user", "text": "extra turn"}'] * 8,
    })
    _apply(spark, ingest, up, 1, pd.concat([down, upturns], ignore_index=True))
    vj.run_until_caught_up(spark, cursor)

    got2 = (
        LakehouseTable(view).read(spark)
        .select("conv_id", "doc_text", "n_turns", "n_chars")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, _gated_oracle(spark, up))
    assert in_view not in set(got2["conv_id"])  # churned below → deleted
    assert below in set(got2["conv_id"])        # churned above → appeared


def test_gated_delta_chain_folds_to_gated_corpus(spark, tmp_path):
    up = str(tmp_path / "up")
    LakehouseTable(up).create(TRANSCRIPT_SCHEMA, n_buckets=4, compact_every=10**9)
    ingest = IngestJob(up, str(tmp_path / "ctl"))
    out = str(tmp_path / "deltas")
    cursor = str(tmp_path / "cursor.json")

    _apply(spark, ingest, up, 0, generate_feed_pandas(
        FeedSpec(n_events=600, n_convs=40, seed=981)
    ))
    r1 = export_corpus_delta(spark, up, out, cursor, redact=False,
                             doc_filter=GATE)
    assert r1["settings"]["doc_filter"] == GATE

    # push one exported doc below the bar → the next delta must DELETE it
    victim = pd.read_parquet(os.path.join(r1["path"], "docs.parquet"))[
        "conv_id"
    ].iloc[0]
    turns = _turns_of(spark, up, victim).sort_values().iloc[4:]
    down = pd.DataFrame({
        "lsn": range(1, len(turns) + 1),
        "op": ["D"] * len(turns),
        "ts": [pd.NaT] * len(turns),
        "conv_id": [victim] * len(turns),
        "turn_idx": turns.astype("int32").tolist(),
        "payload": [None] * len(turns),
    })
    _apply(spark, ingest, up, 1, down)
    r2 = export_corpus_delta(spark, up, out, cursor, redact=False,
                             doc_filter=GATE)
    dels = pd.read_parquet(os.path.join(r2["path"], "deletes.parquet"))
    assert victim in set(dels["conv_id"])

    fold = (
        read_corpus_deltas(spark, out)
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    oracle = _gated_oracle(spark, up)
    pd.testing.assert_frame_equal(fold[sorted(fold.columns)],
                                  oracle[sorted(fold.columns)])
