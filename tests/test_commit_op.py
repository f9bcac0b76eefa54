"""One commit operation (`LakehouseTable._commit_op`): an operation places its
data files first, then commits a pure `produce(head, snapshot_id)`. When the
head moved between the operation's read and its commit, `produce` is re-run
on the new head — never the Spark write — if `_REBASE_OVER` admits every
commit in between: a compaction rebases over a merge and a merge over a
compaction, while a DDL, spec change, rebucket, overwrite, rollback or second
fold in a compaction's gap (and a DDL, evolve, overwrite or rollback in a
merge's gap) refuses the rebase and commits nothing. Each case lands the
other commit between the operation's `_write_data` and its commit.
"""

from __future__ import annotations

import ast
import inspect
import json
import os

import pytest

from data_pipeline_spark.oracle import reduce_feed, reduce_feed_sequential
from data_pipeline_spark.plans import table_format
from data_pipeline_spark.plans.fsck import fsck
from data_pipeline_spark.plans.table_format import CommitConflictError, LakehouseTable
from data_pipeline_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from data_pipeline_spark.sources.feed import FeedSpec, generate_feed_pandas
from data_pipeline_spark.streaming.ingest import IngestJob

from conftest import changes_df

N_BUCKETS = 4
CHUNK = 300


def _spec(mode: str = "full") -> FeedSpec:
    return FeedSpec(n_events=3_000, n_convs=40, seed=7, chunk_size=CHUNK,
                    partial_updates=mode == "partial")


def _job(tmp_path, mode: str = "full", compact_every: int = 10**9, name: str = "ctl") -> IngestJob:
    path = str(tmp_path / "t")
    if not LakehouseTable(path).exists():
        LakehouseTable(path).create(
            TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS, compact_every=compact_every,
            update_mode=mode,
        )
    return IngestJob(path, str(tmp_path / name))


def _apply(spark, job: IngestJob, feed, b: int) -> dict:
    chunk = feed.iloc[b * CHUNK:(b + 1) * CHUNK]
    return job.apply_batch(spark, b, spark.createDataFrame(chunk, schema=CHANGE_EVENT_SCHEMA))


def _inject(monkeypatch, layer: str, gap) -> dict[str, int]:
    """Count `_write_data` calls per layer, and run `gap()` once, right after
    the first write of `layer` returns — between that operation's Spark
    write and its commit."""
    orig = LakehouseTable._write_data
    calls = {"base": 0, "delta": 0, "fired": 0}

    def wrapped(self, df, snapshot_id, schema_id, n_buckets, lay, *args, **kwargs):
        calls[lay] += 1
        out = orig(self, df, snapshot_id, schema_id, n_buckets, lay, *args, **kwargs)
        if lay == layer and not calls["fired"]:
            calls["fired"] = 1
            gap()
        return out

    monkeypatch.setattr(LakehouseTable, "_write_data", wrapped)
    return calls


def _assert_oracle(spark, tbl: LakehouseTable, events, mode: str = "full") -> None:
    expected = (reduce_feed_sequential if mode == "partial" else reduce_feed)(events)
    actual = tbl.read(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert actual["text"].tolist() == expected["text"].tolist()
    assert fsck(tbl, deep=True)["ok"]


@pytest.mark.parametrize("mode", ["full", "partial"])
def test_compaction_rebases_over_merge(spark, tmp_path, monkeypatch, mode):
    feed = generate_feed_pandas(_spec(mode))
    job = _job(tmp_path, mode)
    for b in range(2):
        _apply(spark, job, feed, b)
    read = job.table.current_snapshot()
    calls = _inject(monkeypatch, "base", lambda: _apply(spark, job, feed, 2))

    out = job.table.compact(spark)

    head = job.table.current_snapshot()
    assert out["snapshot_id"] == head["snapshot_id"] and head["kind"] == "compact"
    assert calls["base"] == 1  # one Spark write: the rebase re-ran metadata only
    merge = job.table.snapshot_by_id(head["parent"])
    assert (merge["kind"], merge["batch_id"], merge["parent"]) == ("merge", 2, read["snapshot_id"])
    assert head["stats"]["rebased_over"] == 1
    # the merge's delta is kept; each folded bucket is left with it alone
    delta = job.table._own_entries(merge)
    head_paths = {e["path"] for e in job.table.files(head)}
    assert delta and {e["path"] for e in delta} <= head_paths
    assert head["delta_depth"] == {str(b): 1 for b in {e["bucket"] for e in delta}}
    folded = {e["path"] for e in job.table.files(read)}
    assert not folded & head_paths
    _assert_oracle(spark, job.table, feed.iloc[:3 * CHUNK], mode)


def test_merge_rebases_over_compaction(spark, tmp_path, monkeypatch):
    feed = generate_feed_pandas(_spec())
    job = _job(tmp_path)
    for b in range(2):
        _apply(spark, job, feed, b)
    job.table.create_branch("fork")
    calls = _inject(monkeypatch, "delta", lambda: job.table.compact(spark))

    res = _apply(spark, job, feed, 2)

    head = job.table.current_snapshot()
    assert res["snapshot_id"] == head["snapshot_id"] and head["batch_id"] == 2
    assert calls == {"base": 1, "delta": 1, "fired": 1}  # no second merge write
    assert job.table.snapshot_by_id(head["parent"])["kind"] == "compact"
    assert head["stats"]["rebased_over"] == 1
    # the merge's manifest is named for the id it committed under, so a
    # cherry-pick finds its files
    own = job.table._own_entries(head)
    assert own and len(own) == res["affected_buckets"]
    picked = LakehouseTable(job.table.path, ref="fork").cherry_pick(head["snapshot_id"])
    assert not picked["skipped"] and picked["picked_files"] == len(own)
    _assert_oracle(spark, job.table, feed.iloc[:3 * CHUNK])


def test_merge_of_a_batch_committed_meanwhile_is_skipped(spark, tmp_path, monkeypatch):
    feed = generate_feed_pandas(_spec())
    job = _job(tmp_path)
    other = _job(tmp_path, name="ctl-other")
    _apply(spark, job, feed, 0)
    _inject(monkeypatch, "delta", lambda: _apply(spark, other, feed, 1))

    res = _apply(spark, job, feed, 1)

    assert res["skipped"]
    assert [s["batch_id"] for s in job.table.history() if s["kind"] == "merge"] == [0, 1]
    _assert_oracle(spark, job.table, feed.iloc[:2 * CHUNK])


#: One commit of each kind that a compaction must not be rebased over.
GAP_OPS = {
    "ddl": lambda spark, t: t.apply_ddl([{"action": "add_column", "name": "extra", "type": "int"}]),
    "evolve_spec": lambda spark, t: t.evolve_bucket_spec(spark, 8),
    "rebucket": lambda spark, t: t.rebucket(spark, 8),
    "overwrite": lambda spark, t: t.overwrite(spark, t.read(spark)),
    "rollback": lambda spark, t: t.rollback_to(t.history()[-2]["snapshot_id"]),
    "compact": lambda spark, t: t.compact(spark),
}


@pytest.mark.parametrize("kind", GAP_OPS)
def test_compaction_refuses_rebase(spark, tmp_path, monkeypatch, kind):
    feed = generate_feed_pandas(_spec())
    job = _job(tmp_path)
    for b in range(2):
        _apply(spark, job, feed, b)
    other = LakehouseTable(job.table.path)
    _inject(monkeypatch, "base", lambda: GAP_OPS[kind](spark, other))

    with pytest.raises(CommitConflictError, match=f"cannot be rebased over {kind}"):
        job.table.compact(spark)

    kinds = [s["kind"] for s in job.table.history()]
    assert kinds[-1] == kind and kinds.count("compact") == (kind == "compact")


@pytest.mark.parametrize("kind", ["ddl", "evolve_spec", "overwrite", "rollback"])
def test_merge_refuses_rebase(spark, tmp_path, monkeypatch, kind):
    feed = generate_feed_pandas(_spec())
    job = _job(tmp_path)
    for b in range(2):
        _apply(spark, job, feed, b)
    other = LakehouseTable(job.table.path)
    _inject(monkeypatch, "delta", lambda: GAP_OPS[kind](spark, other))

    with pytest.raises(CommitConflictError):
        _apply(spark, job, feed, 2)

    assert job.table.current_snapshot()["kind"] == kind
    assert 2 not in [s["batch_id"] for s in job.table.history() if s["kind"] == "merge"]


def test_refused_compaction_is_a_maintenance_alert(spark, tmp_path, monkeypatch):
    """Through the ingest job a refused rebase is one `maintenance_error`
    alert, never a batch failure, and the next batch's maintenance folds."""
    feed = generate_feed_pandas(_spec())
    job = _job(tmp_path, compact_every=1)
    other = LakehouseTable(job.table.path)
    _inject(monkeypatch, "base", lambda: GAP_OPS["ddl"](spark, other))

    assert not _apply(spark, job, feed, 0)["skipped"]
    job.wait_maintenance()
    assert not _apply(spark, job, feed, 1)["skipped"]
    job.wait_maintenance()

    with open(os.path.join(job.control_path, "alerts.jsonl")) as f:
        alerts = [json.loads(line) for line in f]
    assert [a["kind"] for a in alerts] == ["maintenance_error"]
    assert "cannot be rebased over ddl" in alerts[0]["error"]
    assert job.read_control(spark).select("batch_id").distinct().count() == 2
    assert job.table.current_snapshot()["kind"] == "compact"
    _assert_oracle(spark, job.table, feed.iloc[:2 * CHUNK])


def test_one_commit_path():
    """`_commit(` is called from `_commit_op` alone, and only `_commit_op`
    stamps `committed_at`."""
    src = inspect.getsource(table_format)
    tree = ast.parse(src)
    defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)] + [
        fn for cls in tree.body if isinstance(cls, ast.ClassDef)
        for fn in cls.body if isinstance(fn, ast.FunctionDef)
    ]
    callers = [
        fn.name
        for fn in defs
        if any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute) and n.func.attr == "_commit"
            for n in ast.walk(fn)
        )
    ]
    assert callers == ["_commit_op"]
    assert src.count('"committed_at": time.time()') == 1


def test_window_plans_from_its_own_manifests(spark, tmp_path, monkeypatch):
    """With 20 retained merges and the cursor at the 19th, a poll loads the
    manifests of the window's one merge and no other."""
    tbl = LakehouseTable(str(tmp_path / "t"))
    tbl.create(TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS, compact_every=10**9)
    for b in range(20):
        tbl.merge(spark, b, changes_df(spark, [(b + 1, "I", f"c{b}", 0, f"t{b}")]))
    merges = tbl.history()[1:]
    cursor = str(tmp_path / "cursor.json")
    tbl.commit_cursor(cursor, {"snapshot_id": merges[18]["snapshot_id"]})
    loads: list[str] = []
    orig = LakehouseTable._manifest_entries

    def recorded(self, name):
        loads.append(name)
        return orig(self, name)

    monkeypatch.setattr(LakehouseTable, "_manifest_entries", recorded)
    w = tbl.tail_window(cursor)

    last = merges[19]
    assert [s["snapshot_id"] for s, _ in w.commits] == [last["snapshot_id"]]
    assert sorted(loads) == sorted(
        m["name"] for m in last["manifests"]
        if m["name"].startswith(f"manifest-{last['snapshot_id']:08d}-")
    )
    assert w.changes(spark).select("text").collect()[0]["text"] == "t19"


def test_cascade_poll_does_not_join_replica_maintenance(spark, tmp_path, monkeypatch):
    """A cascade poll's schema check commits nothing, so it no longer joins
    the replica's background maintenance; only an `auto_ddl` heal does."""
    from data_pipeline_spark.streaming.cascade import CascadeJob

    feed = generate_feed_pandas(_spec())
    job = _job(tmp_path)
    down = str(tmp_path / "down")
    LakehouseTable(down).create(TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS, compact_every=10**9)
    edge = CascadeJob(job.table.path, down, str(tmp_path / "ctl-down"))
    joins: list[str] = []
    orig = IngestJob.wait_maintenance

    def counted(self):
        joins.append(self.table.path)
        orig(self)

    monkeypatch.setattr(IngestJob, "wait_maintenance", counted)
    cursor = str(tmp_path / "edge.cursor")
    for b in range(2):
        _apply(spark, job, feed, b)
        assert edge.poll_once(spark, cursor)["applied"]
    assert joins == []
    assert edge.sync_schema(auto_ddl=True) == [] and joins == [down]
    _assert_oracle(spark, LakehouseTable(down), feed.iloc[:2 * CHUNK])
