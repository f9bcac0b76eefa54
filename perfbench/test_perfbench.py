"""Tests of the benchmark itself: every workload emits every metric its
BENCHMARK.json entry names, and the correctness check catches a missing row.

    python3 -m pytest perfbench -q

Each workload test starts its own Spark JVM at a tiny scale (about a minute each;
the `all` test runs four).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

import feedgen  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int, cwd: str = REPO) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=1200, check=False)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["bulk_replay", "stream_tail", "read_mix"])
def test_tiny_run_emits_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]


def test_all_prints_every_named_metric():
    proc = _run("all", 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    named = {}
    for line in proc.stdout.strip().splitlines()[:-1]:
        if not line.startswith("metric "):
            name, value, unit = line.split()
            named[name] = (float(value), unit)
    for name in ("replay_events_per_s", "replay_events_per_s_1core", "scaling_efficiency",
                 "commit_s_p50", "commit_s_p75", "freshness_s_p50", "freshness_s_p75",
                 "point_read_s_p50", "point_read_s_p90", "scan_read_s_p50", "changes_read_s_p50"):
        assert named[name][0] > 0, name
    for workload in ("bulk_replay", "bulk_replay_1core", "stream_tail", "read_mix"):
        assert named[f"{workload}.setup_s"][0] > 0
        assert named[f"{workload}.peak_rss_mb"][0] > 0
        assert named[f"{workload}.failed_ops_ratio"] == (0.0, "ratio")
    assert json.loads(proc.stdout.strip().splitlines()[-1])["correct"] is True


def test_digest_is_order_independent_and_sees_one_row():
    events = feedgen.generate_events(5, 3000, 50)
    table = feedgen.oracle_table(events)
    digest = feedgen.frame_digest(table)
    assert feedgen.frame_digest(table.sample(frac=1.0, random_state=1)) == digest
    assert feedgen.frame_digest(table.drop(table.index[7])) != digest
    changed = table.copy()
    changed.loc[changed.index[3], "text"] += "!"
    assert feedgen.frame_digest(changed) != digest


def test_seed_changes_the_feed():
    a = feedgen.generate_events(1, 2000, 50)
    assert a.equals(feedgen.generate_events(1, 2000, 50))
    assert not a["payload"].equals(feedgen.generate_events(2, 2000, 50)["payload"])


def test_table_with_one_row_removed_fails_the_check(tmp_path):
    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
    from data_pipeline_spark.session import get_spark
    from data_pipeline_spark.streaming.ingest import IngestJob

    events = feedgen.generate_events(9, 4000, 60)
    expected = feedgen.frame_digest(feedgen.oracle_table(events))
    feedgen.write_chunks(events, str(tmp_path / "feed"), 2)
    spark = get_spark("perfbench-test", cores=2)
    try:
        LakehouseTable(str(tmp_path / "t")).create(TRANSCRIPT_SCHEMA, n_buckets=4)
        job = IngestJob(str(tmp_path / "t"), str(tmp_path / "control"))
        job.replay_batch(spark, str(tmp_path / "feed"), batch_id=0)
        table = LakehouseTable(str(tmp_path / "t"))
        assert feedgen.frame_digest(table.read(spark).toPandas()) == expected

        live = feedgen.oracle_table(events).iloc[0]
        delete = events.iloc[:1].copy()
        delete[["lsn", "op", "conv_id", "turn_idx", "payload"]] = [
            len(events) + 1, "D", live["conv_id"], live["turn_idx"], None,
        ]
        feedgen.write_chunks(delete, str(tmp_path / "delete"), 1)
        job.replay_batch(spark, str(tmp_path / "delete"), batch_id=1)
        after = table.read(spark).toPandas()
        assert len(after) == int(expected.split(":")[0]) - 1
        assert feedgen.frame_digest(after) != expected
    finally:
        spark.stop()


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run("stream_tail", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
