"""The three benchmark workloads and the warm-up they share.

Every workload runs against the engine's public API only (`IngestJob`,
`CascadeJob.poll_once`, `LakehouseTable.read` / `read_changes` / `history` /
`delta_depth` / `plan_scan`) from one load-generating process, and checks
every operation's output against the pandas oracle.

- bulk_replay: a fresh 32-bucket MOR table per operation; the whole
  100k-event feed is drained as one AvailableNow trigger. The same workload
  in its own local[1] JVM (bulk_replay_1core) is the single-core baseline.
- stream_tail: a closed loop with one client. A 4k-event chunk arrives in
  the live feed dir of a running `start_stream(available_now=False)`; once
  the batch is committed, one `CascadeJob.poll_once` replicates it, and
  only then does the next chunk arrive. Both tables (8 buckets, so a run
  fits more arrivals) compact every 2 delta commits and arrivals run in
  whole compaction cycles, so every run sees the same mix of plain and
  compacting arrivals.
- read_mix: a fixture table (bulk load, compact, then 7 chunk merges, so
  every bucket sits at delta depth 7) is read in a seeded closed-loop mix of
  point reads, full reads and `read_changes` windows.

Sizes are set so one run, JVM start included, takes about a minute on
4 vCPUs: each operation costs seconds of fixed per-batch work here.

Every workload reports the median over its timed operations: the first
ones still run while the JIT compiles, and on a shared host an operation
can run through a burst of hypervisor steal.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import feedgen

N_BUCKETS = 32
CORES = 4
BULK_EVENTS = 100_000
BULK_CONVS = 1_500
BULK_CHUNKS = 64
BULK_WARM_REPLAYS = 1
BULK_MIN_REPLAYS = 4
STREAM_CHUNK_EVENTS = 4_000
STREAM_CONVS = 1_500
STREAM_MAX_ARRIVALS = 24
STREAM_BUCKETS = 8
STREAM_COMPACT_EVERY = 2
STREAM_MIN_CYCLES = 2
COMPACT_EVERY = 8
READ_BASE_EVENTS = 120_000
READ_MERGE_EVENTS = 4_000
READ_MERGES = 7
READ_CONVS = 1_500
READ_PATTERN = ("point", "point", "point", "point", "scan", "changes")
WARM_EVENTS = 9_000
ARRIVAL_TIMEOUT_S = 45.0


class OpFailed(Exception):
    pass


def quantile(xs: list[float], q: float) -> float:
    """Inclusive quantile; with one sample that sample."""
    if len(xs) == 1:
        return xs[0]
    cuts = statistics.quantiles(xs, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


def tree_hash(package_dir: str) -> str:
    """Hash of the engine's source tree, so fixtures written by one code
    version are never read by another."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(package_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def steal_ticks() -> int:
    """Hypervisor steal in USER_HZ ticks for the whole machine (0 where unreadable)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(c for c, p in parent.items() if p == pid)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident sizes of this process and all its descendants
    (the driver JVM and the Python workers)."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class Run:
    """One benchmark run: the Spark session, the tracer and everything measured."""

    def __init__(self, args, repo: str, work: str, t_proc: float):
        from tracing import Tracer

        self.args = args
        self.work = work
        self.t_proc = t_proc
        self.tree = tree_hash(os.path.join(repo, "data_pipeline_spark"))
        self.tracer = Tracer(bool(args.trace))
        self.status = None
        self.spark = None
        self.excluded_s = 0.0  # benchmark-side feed/fixture/oracle builds before timing
        self.setup_s: float | None = None
        self.ops: list[dict] = []
        self._per_kind: dict[str, int] = {}
        self.progress: dict[tuple[str, int], tuple[float, int]] = {}  # (table, batch) -> (source s, rows)
        self.read_plans: list[dict] = []
        self.checks: list[dict] = []
        self.named: dict[str, tuple[float, str]] = {}
        self.e2e: dict[str, float] = {}
        self.steal_s = 0.0
        self.depth_max = 0
        self._n = 0
        # runs are sequential: whatever a killed run left behind can go
        shutil.rmtree(os.path.join(work, "runs"), ignore_errors=True)
        self.scratch = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(self.scratch)

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def sized(self, n_events: int) -> int:
        """An event count scaled by --scale (tests run at a tiny scale)."""
        return max(200, int(n_events * self.args.scale))

    # ------------------------------------------------------------- session
    def start_spark(self, cores: int) -> None:
        from data_pipeline_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = get_spark(
            "perfbench",
            cores=cores,
            extra_conf={
                # the bench-scale split sizing scripts/replay_job.py uses
                "spark.sql.files.maxPartitionBytes": "4m",
                "spark.sql.files.openCostInBytes": "512k",
                "spark.sql.adaptive.coalescePartitions.enabled": "false",
                "spark.local.dir": os.path.join(self.scratch, "spark-local"),
                "spark.driver.memory": "1g",
                # a fixed, pre-touched heap: peak RSS then tracks non-heap and
                # Python memory instead of when the collector last ran
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch"
                ),
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedJobs": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            from tracing import SqlStatus

            self.status = SqlStatus(self.spark)

    def stop_spark(self) -> None:
        if self.spark is not None:
            if self.status is not None:
                self.status.drain()
            self.spark.stop()
            self.spark = None

    @staticmethod
    def stop_jvm() -> None:
        """End the driver JVM and wait for it, so the run leaves no process behind."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ---------------------------------------------------------- operations
    def excluded(self, fn, *a, **kw):
        """Run a benchmark-side build and keep its time out of setup_s."""
        t = time.monotonic()
        try:
            return fn(*a, **kw)
        finally:
            self.excluded_s += time.monotonic() - t

    def begin_timing(self) -> None:
        if self.setup_s is None:
            self.setup_s = time.monotonic() - self.t_proc - self.excluded_s
            self._steal0 = steal_ticks()

    def end_timing(self) -> None:
        self.steal_s = (steal_ticks() - self._steal0) / 100.0

    def op(self, kind: str, fn, turn: int | None = None) -> dict:
        """One timed operation. In a traced run, operations of even `turn`
        (by default: every other operation of a kind) are traced and the rest
        are not, so tracing overhead is measured inside the run."""
        self.begin_timing()
        self._n += 1
        if turn is None:
            turn = self._per_kind.get(kind, 0)
            self._per_kind[kind] = turn + 1
        rec = {"kind": kind, "n": self._n, "ok": True}
        self.tracer.active = self.tracer.enabled and turn % 2 == 0
        rec["traced"] = self.tracer.active
        t0 = time.monotonic()
        try:
            with self.tracer.span(kind, op=self._n):
                rec["out"] = fn()
        except OpFailed as e:
            rec["ok"] = False
            rec["error"] = str(e)
        rec["latency_s"] = time.monotonic() - t0
        if self.status is not None and self.tracer.active:
            self.status.drain()
        self.tracer.active = False
        self.ops.append(rec)
        return rec

    def check(self, what: str, actual: str, expected: str) -> bool:
        ok = actual == expected
        self.checks.append({"what": what, "ok": ok, "actual": actual, "expected": expected})
        return ok

    def note_depth(self, table) -> None:
        self.depth_max = max([self.depth_max, *table.delta_depth().values()])

    def table_digest(self, table) -> str:
        return feedgen.frame_digest(table.read(self.spark).toPandas())

    def trace_ingest(self, job) -> None:
        """Spans around a job's batches and merges; each batch span also
        records the commits it made, from the table's history."""
        table_path = job.table.path

        def commits(span: dict) -> None:
            snap, out = job.table.current_snapshot(), []
            while snap is not None and snap.get("committed_at", 0) >= span["start"]:
                out.append({"kind": snap["kind"], "at": snap["committed_at"], "batch_id": snap.get("batch_id")})
                pid = snap.get("parent")
                snap = job.table.snapshot_by_id(pid) if pid is not None else None
            span["commits"] = out[::-1]

        self.tracer.wrap(job, "apply_batch", "ingest.batch", after=commits, table=table_path)
        self.tracer.wrap(job.table, "merge", "tf.merge")

    def record_progress(self, table_path: str, query) -> None:
        """The file source's share of each micro-batch, from the query's progress."""
        if not self.tracer.enabled:
            return
        for p in query.recentProgress:
            d = json.loads(p.json) if hasattr(p, "json") else p
            dur = d.get("durationMs", {})
            rows = int(d.get("numInputRows", 0))
            if rows:
                source_ms = dur.get("triggerExecution", 0) - dur.get("addBatch", 0)
                self.progress[(table_path, int(d["batchId"]))] = (source_ms / 1000.0, rows)

    def plan(self, table, conv_ids: list[str] | None) -> None:
        """File-skipping report for a traced read (outside its timing)."""
        if self.tracer.enabled:
            self.read_plans.append(table.plan_scan(conv_ids=conv_ids, spark=self.spark if conv_ids else None))


# ------------------------------------------------------------------ feeds
def cached_feed(
    run: Run, name: str, seed: int, n_events: int, n_convs: int, n_chunks: int, digest: bool = True
) -> tuple[list[str], dict]:
    """Chunk files of a seeded feed plus (if asked) the oracle digest of the
    whole feed, both cached under the work dir by (name, seed, size)."""
    d = os.path.join(run.work, "feeds", f"{name}-s{seed}-n{n_events}-c{n_convs}-k{n_chunks}")

    def build():
        events = feedgen.generate_events(seed, n_events, n_convs)
        feedgen.write_chunks(events, os.path.join(d, "chunks"), n_chunks)
        return {"digest": feedgen.frame_digest(feedgen.oracle_table(events)) if digest else None}

    meta = run.excluded(feedgen.cached_json, os.path.join(d, "meta.json"), build)
    chunks = sorted(os.path.join(d, "chunks", f) for f in os.listdir(os.path.join(d, "chunks")))
    return chunks, meta


def read_events(paths: list[str]) -> pd.DataFrame:
    return pd.concat([pd.read_parquet(p) for p in paths], ignore_index=True)


# ------------------------------------------------------------- stream loop
def committed_at(table, batch_id: int) -> float:
    """Commit time of the merge snapshot that applied `batch_id`."""
    snap = table.current_snapshot()
    while snap is not None:
        if snap.get("kind") == "merge" and snap.get("batch_id") == batch_id:
            return snap["committed_at"]
        pid = snap.get("parent")
        snap = table.snapshot_by_id(pid) if pid is not None else None
    raise OpFailed(f"no merge snapshot for batch {batch_id}")


class StreamLoop:
    """A live ingest stream plus a cursor-driven replica, fed one chunk at a time."""

    def __init__(self, run: Run, name: str, chunks: list[str], compact_every: int, n_buckets: int):
        from data_pipeline_spark.plans.table_format import LakehouseTable
        from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
        from data_pipeline_spark.streaming.cascade import CascadeJob
        from data_pipeline_spark.streaming.ingest import IngestJob

        self.run = run
        self.chunks = chunks
        root = run.path(name)
        self.table_path, self.replica_path = os.path.join(root, "table"), os.path.join(root, "replica")
        for p in (self.table_path, self.replica_path):
            LakehouseTable(p).create(TRANSCRIPT_SCHEMA, n_buckets=n_buckets, compact_every=compact_every)
        self.control = os.path.join(root, "control")
        self.job = IngestJob(self.table_path, self.control)
        run.trace_ingest(self.job)
        self.edge = CascadeJob(self.table_path, self.replica_path, os.path.join(root, "edge-control"))
        self.cursor = os.path.join(root, "edge.cursor")
        self.live = os.path.join(root, "live")
        os.makedirs(self.live)
        self.query = self.job.start_stream(
            run.spark, self.live, os.path.join(root, "ckpt"),
            max_files_per_trigger=1, available_now=False,
        )
        self.arrived = 0
        self.table = LakehouseTable(self.table_path)
        self.replica = LakehouseTable(self.replica_path)

    def arrive(self) -> dict:
        """Deliver the next chunk, wait for its commit, replicate it."""
        i = self.arrived
        if i >= len(self.chunks):
            raise OpFailed("feed exhausted")
        t_arrival = time.time()
        os.link(self.chunks[i], os.path.join(self.live, os.path.basename(self.chunks[i])))
        self.arrived += 1
        marker = f"batch-{i:08d}-"
        deadline = time.monotonic() + ARRIVAL_TIMEOUT_S
        next_probe = 0.0
        while not any(f.startswith(marker) for f in os.listdir(self.control)):
            now = time.monotonic()
            if now >= next_probe:  # a py4j round trip: not on every 5 ms tick
                next_probe = now + 0.25
                err = self.query.exception()
                if err is not None or not self.query.isActive:
                    raise OpFailed(f"ingest stream died: {err}")
            if now > deadline:
                raise OpFailed(f"batch {i} not committed within {ARRIVAL_TIMEOUT_S}s")
            time.sleep(0.005)
        t_commit = committed_at(self.table, i)
        with self.run.tracer.span("cascade.poll") as s:
            res = self.edge.poll_once(self.run.spark, self.cursor)
            if s is not None:
                s["applied"] = res["applied"]
                s["rows"] = sum(m["rows"] for m in res.get("result", {}).get("bucket_metrics", []))
        if not res["applied"]:
            raise OpFailed(f"replica poll after batch {i} applied nothing")
        t_replica = self.replica.snapshot_by_id(res["result"]["snapshot_id"])["committed_at"]
        return {"arrival": t_arrival, "commit_s": t_commit - t_arrival, "freshness_s": t_replica - t_arrival}

    def stop(self) -> None:
        self.run.record_progress(self.table_path, self.query)
        self.query.stop()

    def check(self, label: str) -> None:
        """Both tables against the oracle of every chunk delivered so far."""
        expected = self.run.excluded(
            lambda: feedgen.frame_digest(feedgen.oracle_table(read_events(self.chunks[: self.arrived])))
        )
        for what, table in (("table", self.table), ("replica", self.replica)):
            self.run.note_depth(table)
            self.run.check(f"{label}.{what}", self.run.table_digest(table), expected)


# ----------------------------------------------------------------- warm-up
def warm_replay(run: Run, name: str, feed_dir: str | None = None) -> None:
    """An untimed AvailableNow replay (of a small feed unless one is given):
    starts the Python workers and compiles the ingest plan."""
    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
    from data_pipeline_spark.streaming.ingest import IngestJob

    if feed_dir is None:
        chunks, _ = cached_feed(run, "warm", run.args.seed + 7919, run.sized(WARM_EVENTS), 300, 3)
        feed_dir = os.path.dirname(chunks[0])
    tbl = run.path(name)
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS)
    IngestJob(tbl, run.path(f"{name}-control")).run_to_completion(
        run.spark, feed_dir, run.path(f"{name}-ckpt"), max_files_per_trigger=256
    )
    shutil.rmtree(tbl, ignore_errors=True)


def trace_warm_up(run: Run) -> None:
    """In a traced run only: one small traced pass over every layer (a live
    stream with compaction and a replica, and each read kind), so every
    per-layer metric is measured in every workload. Part of setup_s."""
    chunks, _ = cached_feed(run, "warm", run.args.seed + 7919, run.sized(WARM_EVENTS), 300, 3)
    loop = StreamLoop(run, "warm-stream", chunks, compact_every=2, n_buckets=N_BUCKETS)
    try:
        run.tracer.active = run.tracer.enabled
        # warm-up operations get negative ids, apart from the timed ones
        for i, _ in enumerate(chunks):
            with run.tracer.span("warm_up.arrival", op=-1 - i):
                loop.arrive()
        t = loop.table
        with run.tracer.span("read.point", op=-10):
            t.read(run.spark, conv_ids=["conv-000300"]).toPandas()
        with run.tracer.span("read.scan", op=-11):
            t.read(run.spark).toPandas()
        with run.tracer.span("read.changes", op=-12):
            t.read_changes(run.spark, t.history()[1]["snapshot_id"]).toPandas()
        run.note_depth(t)
        run.plan(t, ["conv-000300"])
        run.plan(t, None)
        if run.status is not None:
            run.status.drain()
    finally:
        run.tracer.active = False
        loop.stop()


# --------------------------------------------------------------- workloads
def bulk_replay(run: Run) -> None:
    """The whole feed drained as one AvailableNow trigger into a fresh table,
    again and again; each replay is one timed operation."""
    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
    from data_pipeline_spark.streaming.ingest import IngestJob

    n_events = run.sized(BULK_EVENTS)
    chunks, meta = cached_feed(run, "bulk", run.args.seed, n_events, BULK_CONVS, BULK_CHUNKS)
    feed_dir = os.path.dirname(chunks[0])
    # the first full-size replay still compiles and warms the JIT: keep it untimed
    for i in range(BULK_WARM_REPLAYS):
        warm_replay(run, f"bulk-warm-{i}", feed_dir)

    walls = []
    t_end = time.monotonic() + run.args.seconds
    while len(walls) < BULK_MIN_REPLAYS or time.monotonic() < t_end:
        tbl = run.path(f"bulk-{len(walls)}")
        LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS)
        job = IngestJob(tbl, tbl + "-control")
        run.trace_ingest(job)

        def replay():
            q = job.start_stream(run.spark, feed_dir, tbl + "-ckpt", max_files_per_trigger=256)
            q.awaitTermination()
            return q

        rec = run.op("replay", replay)
        if rec["traced"]:
            run.record_progress(tbl, rec["out"])
        walls.append(rec["latency_s"])
        result = LakehouseTable(tbl)
        run.note_depth(result)
        if not run.check(f"replay {len(walls)}", run.table_digest(result), meta["digest"]):
            rec["ok"] = False
        shutil.rmtree(tbl, ignore_errors=True)
    run.end_timing()
    run.e2e["peak_rss_mb"] = peak_rss_mb()
    run.e2e.update(latency_s_p50=statistics.median(walls), throughput_per_s=n_events / statistics.median(walls))
    run.named.update(
        replay_events_per_s=(n_events / statistics.median(walls), "1/s"),
        replay_samples=(len(walls), "count"),
    )


def stream_tail(run: Run) -> None:
    chunk_events = run.sized(STREAM_CHUNK_EVENTS)
    chunks, _ = cached_feed(
        run, "stream", run.args.seed, chunk_events * STREAM_MAX_ARRIVALS, STREAM_CONVS, STREAM_MAX_ARRIVALS,
        digest=False,
    )
    loop = StreamLoop(run, "stream", chunks, compact_every=STREAM_COMPACT_EVERY, n_buckets=STREAM_BUCKETS)
    recs = []
    try:
        loop.arrive()  # the new query's first micro-batch: part of setup
        t0 = time.monotonic()
        stop = False
        # whole compaction cycles, so every run samples the same mix of plain
        # and compacting arrivals; a traced run traces every other cycle
        cycle = 0
        while not stop and (cycle < STREAM_MIN_CYCLES or time.monotonic() - t0 < run.args.seconds):
            for _ in range(STREAM_COMPACT_EVERY):
                rec = run.op("arrival", loop.arrive, turn=cycle)
                if not rec["ok"]:
                    stop = True
                    break
                recs.append(rec)
            cycle += 1
        run.end_timing()
        run.e2e["peak_rss_mb"] = peak_rss_mb()
    finally:
        loop.stop()
    loop.check("stream")
    if not recs:
        raise OpFailed("no arrival completed")
    commit = [r["out"]["commit_s"] for r in recs]
    fresh = [r["out"]["freshness_s"] for r in recs]
    run.e2e.update(
        latency_s_p50=statistics.median(fresh),
        throughput_per_s=chunk_events / statistics.median(r["latency_s"] for r in recs),
    )
    run.named.update(
        commit_s_p50=(statistics.median(commit), "s"),
        commit_s_p75=(quantile(commit, 0.75), "s"),
        freshness_s_p50=(statistics.median(fresh), "s"),
        freshness_s_p75=(quantile(fresh, 0.75), "s"),
        arrival_samples=(len(recs), "count"),
    )


def _build_read_fixture(run: Run, root: str) -> dict:
    """Bulk load, full compaction, then READ_MERGES chunk merges: every
    bucket ends at delta depth READ_MERGES."""
    from data_pipeline_spark.plans.table_format import LakehouseTable
    from data_pipeline_spark.schemas import TRANSCRIPT_SCHEMA
    from data_pipeline_spark.streaming.ingest import IngestJob

    tmp = root + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    n_base, n_merge = run.sized(READ_BASE_EVENTS), run.sized(READ_MERGE_EVENTS)
    # merge chunks carry no deletes: a merge then writes one delta file per
    # bucket, so READ_MERGES merges leave every bucket at that depth
    events = pd.concat(
        [
            feedgen.generate_events(run.args.seed, n_base, READ_CONVS),
            feedgen.generate_events(
                run.args.seed + 1, READ_MERGES * n_merge, READ_CONVS, first_lsn=n_base + 1, p_delete=0.0
            ),
        ],
        ignore_index=True,
    )
    feedgen.write_chunks(events.iloc[:n_base], os.path.join(tmp, "feed", "base"), 16)
    bounds = [n_base + k * n_merge for k in range(READ_MERGES + 1)]
    for k in range(READ_MERGES):
        feedgen.write_chunks(events.iloc[bounds[k]:bounds[k + 1]], os.path.join(tmp, "feed", f"m{k + 1}"), 1)
    tbl = os.path.join(tmp, "table")
    LakehouseTable(tbl).create(TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS, compact_every=COMPACT_EVERY)
    job = IngestJob(tbl, os.path.join(tmp, "control"))
    job.replay_batch(run.spark, os.path.join(tmp, "feed", "base"), batch_id=0)
    job.table.compact(run.spark)
    windows = []
    for k in range(READ_MERGES):
        before = job.table.current_snapshot()["snapshot_id"]
        job.replay_batch(run.spark, os.path.join(tmp, "feed", f"m{k + 1}"), batch_id=k + 1)
        after = job.table.current_snapshot()["snapshot_id"]
        part = events.iloc[bounds[k]:bounds[k + 1]]
        last = part.sort_values("lsn").groupby(["conv_id", "turn_idx"], as_index=False).last()
        windows.append({"from": before, "to": after, "digest": changes_digest(last, "op")})
    final = feedgen.oracle_table(events)
    final.to_parquet(os.path.join(tmp, "oracle.parquet"), index=False)
    shutil.rmtree(os.path.join(tmp, "feed"))
    os.rename(tmp, root)
    return {"digest": feedgen.frame_digest(final), "windows": windows}


def changes_digest(df: pd.DataFrame, op_col: str) -> str:
    canon = pd.DataFrame(
        {
            "conv_id": df["conv_id"].astype(str),
            "turn_idx": df["turn_idx"].astype("int64"),
            "lsn": df["lsn"].astype("int64"),
            "op": df[op_col].astype(str),
        }
    )
    hashes = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
    return f"{len(canon)}:{int(hashes.sum(dtype=np.uint64)):016x}"


def read_mix(run: Run) -> None:
    from data_pipeline_spark.plans.table_format import LakehouseTable

    root = os.path.join(
        run.work, "fixtures",
        f"read_mix-s{run.args.seed}-n{run.sized(READ_BASE_EVENTS)}-{run.sized(READ_MERGE_EVENTS)}-{run.tree}",
    )
    meta = run.excluded(
        feedgen.cached_json, root + ".json",
        lambda: _build_read_fixture(run, root),
    )
    table = LakehouseTable(os.path.join(root, "table"))
    run.note_depth(table)
    oracle = pd.read_parquet(os.path.join(root, "oracle.parquet"))
    by_conv = {c: g for c, g in oracle.groupby("conv_id")}
    convs = sorted(by_conv)
    rng = np.random.default_rng(run.args.seed)
    rows_read = 0
    lat: dict[str, list[float]] = {k: [] for k in set(READ_PATTERN)}

    def point():
        conv = convs[rng.integers(len(convs))]
        df = table.read(run.spark, conv_ids=[conv]).toPandas()
        return df, feedgen.frame_digest(by_conv[conv]), [conv]

    def scan():
        return table.read(run.spark).toPandas(), meta["digest"], None

    def changes():
        w = meta["windows"][rng.integers(len(meta["windows"]))]
        df = table.read_changes(run.spark, w["from"], w["to"]).toPandas()
        return df, w["digest"], f"changes {w['from']}..{w['to']}"

    kinds = {"point": point, "scan": scan, "changes": changes}
    for kind in READ_PATTERN:  # untimed warm round
        kinds[kind]()
    rng = np.random.default_rng(run.args.seed)
    t0 = time.monotonic()
    busy = 0.0
    while not lat["scan"] or time.monotonic() - t0 < run.args.seconds:
        for kind in READ_PATTERN:
            rec = run.op(f"read.{kind}", kinds[kind])
            df, expected, what = rec["out"]
            if kind == "changes":
                actual = changes_digest(df, "_change_op")
            else:
                actual = feedgen.frame_digest(df)
                if rec["traced"]:
                    run.plan(table, what)
                what = f"{kind} {what}"
            if not run.check(what, actual, expected):
                rec["ok"] = False
            rows_read += len(df)
            busy += rec["latency_s"]
            lat[kind].append(rec["latency_s"])
            rec["out"] = len(df)
    run.end_timing()
    run.e2e["peak_rss_mb"] = peak_rss_mb()
    every = [r["latency_s"] for r in run.ops]
    run.e2e.update(latency_s_p50=statistics.median(every), throughput_per_s=rows_read / busy)
    run.named.update(
        point_read_s_p50=(statistics.median(lat["point"]), "s"),
        point_read_s_p90=(quantile(lat["point"], 0.90), "s"),
        scan_read_s_p50=(statistics.median(lat["scan"]), "s"),
        changes_read_s_p50=(statistics.median(lat["changes"]), "s"),
        point_read_samples=(len(lat["point"]), "count"),
        delta_depth_max=(max(table.delta_depth().values()), "count"),
    )


WORKLOADS = {"bulk_replay": bulk_replay, "stream_tail": stream_tail, "read_mix": read_mix}
# the single-core baseline: bulk_replay in its own local[1] JVM
WORKLOADS["bulk_replay_1core"] = bulk_replay
CORES_OF = {"bulk_replay_1core": 1}
