"""Per-layer metrics of a traced run, from its spans and SQL executions.

All values are totals over the traced part of the run: the warm-up (which
touches every layer once, so no layer reads zero in any workload) plus every
other timed operation. Times are seconds; task times (decode, collapse,
write) are summed over tasks, the rest are wall time.
"""

from __future__ import annotations

import statistics

from tracing import node_total, parse_metric

WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"

LAYER_METRICS = {
    "feed.scan_s": "s", "feed.rows_read": "count", "feed.trigger_gap_s": "s",
    "decode.py_init_s": "s", "decode.py_run_s": "s", "decode.tasks": "count", "decode.rows_out": "count",
    "lww.sort_s": "s", "lww.agg_s": "s", "lww.rows_in": "count", "lww.collapse_ratio": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.wait_s": "s", "shuffle.skew": "ratio",
    "tf.write_s": "s", "tf.files_written": "count", "tf.bytes_written": "bytes",
    "tf.commit_s": "s", "tf.compact_s": "s", "tf.compactions": "count", "tf.compact_bytes": "bytes",
    "tf.read_files_planned": "count", "tf.prune_ratio": "ratio", "tf.reconcile_s": "s",
    "tf.delta_depth_max": "count", "tf.read_changes_s": "s",
    "ingest.prepare_s": "s", "ingest.control_s": "s", "ingest.jobs_per_batch": "count",
    "cascade.poll_s": "s", "cascade.rows_moved": "count", "cascade.jobs_per_poll": "count",
    "cascade.useful_poll_ratio": "ratio",
    "self.op_s": "s", "self.ingest.batch_s": "s", "self.tf.merge_s": "s", "self.cascade.poll_s": "s",
    "trace.overhead_s": "s", "trace.ops": "count", "steal_s": "s",
}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _batch_layers(run, m: dict) -> None:
    status, tracer = run.status, run.tracer
    spans = {s["id"]: s for s in tracer.spans}
    merges = {s["parent"]: s for s in tracer.named("tf.merge")}
    batches = tracer.named("ingest.batch")
    jobs, skews = 0, []
    for b in batches:
        execs = status.within(b["start"], b["end"])
        jobs += sum(x["jobs"] for x in execs)
        if execs:
            m["ingest.prepare_s"] += min(x["submitted"] for x in execs) - b["start"]
        if b["id"] in merges:
            m["ingest.control_s"] += b["end"] - merges[b["id"]]["end"]
        op = spans.get(b["parent"])
        if op is not None:
            m["feed.trigger_gap_s"] += b["start"] - op["start"]
        source = run.progress.get((b.get("table"), (b.get("result") or {}).get("batch_id")))
        if source is not None:
            m["feed.scan_s"] += source[0]
            m["feed.rows_read"] += source[1]
        commits = b.get("commits", [])
        merge_at = next((c["at"] for c in commits if c["kind"] == "merge"), None)
        compact_at = next((c["at"] for c in commits if c["kind"] == "compact"), None)
        writes = [x for x in execs if any(n == "MapInArrow" for n, _ in x["nodes"])]
        for x in writes:
            stages = [s for s in x["stages"] if s["status"] == "COMPLETE"]
            rows_in = node_total(x, "MapInArrow", "number of output rows")
            m["decode.py_init_s"] += node_total(x, "MapInArrow", "time to start Python workers")
            m["decode.py_init_s"] += node_total(x, "MapInArrow", "time to initialize Python workers")
            m["decode.py_run_s"] += node_total(x, "MapInArrow", "time to run Python workers")
            m["decode.rows_out"] += rows_in
            m["lww.rows_in"] += rows_in
            m["lww.sort_s"] += node_total(x, "Sort", "sort time")
            m["_lww_rows_out"] += node_total(x, WRITE_NODE, "number of output rows")
            if stages:
                m["decode.tasks"] += stages[0]["tasks"]
                m["tf.write_s"] += stages[-1]["run_s"]
                m["lww.agg_s"] += sum(s["run_s"] for s in stages[1:-1])
            m["tf.files_written"] += node_total(x, WRITE_NODE, "number of written files")
            m["tf.bytes_written"] += node_total(x, WRITE_NODE, "written output")
            m["shuffle.write_bytes"] += node_total(x, "Exchange", "shuffle bytes written")
            m["shuffle.wait_s"] += node_total(x, "Exchange", "shuffle write time")
            m["shuffle.wait_s"] += node_total(x, "Exchange", "fetch wait time")
            for name, metrics in x["nodes"]:
                if name == "Exchange" and "local bytes read" in metrics:
                    _total, med, top = parse_metric(metrics["local bytes read"])
                    if med > 0:
                        skews.append(top / med)
            if merge_at is not None:
                m["tf.commit_s"] += merge_at - x["completed"]
        if merge_at is not None and compact_at is not None:
            m["tf.compact_s"] += compact_at - merge_at
            m["tf.compactions"] += 1
            for x in execs:
                if merge_at < x["submitted"] <= compact_at:
                    m["tf.compact_bytes"] += node_total(x, WRITE_NODE, "written output")
    m["ingest.jobs_per_batch"] = jobs / len(batches) if batches else 0.0
    m["shuffle.skew"] = statistics.median(skews) if skews else 1.0
    m["lww.collapse_ratio"] = m["_lww_rows_out"] / m["lww.rows_in"] if m["lww.rows_in"] else 0.0


def _read_layers(run, m: dict) -> None:
    for kind in ("read.point", "read.scan"):
        for s in run.tracer.named(kind):
            m["tf.reconcile_s"] += sum(x["completed"] - x["submitted"] for x in run.status.within(s["start"], s["end"]))
    m["tf.read_changes_s"] = sum(_dur(s) for s in run.tracer.named("read.changes"))
    total = sum(p["files_total"] for p in run.read_plans)
    m["tf.read_files_planned"] = sum(p["files_kept"] for p in run.read_plans)
    m["tf.prune_ratio"] = sum(p["files_pruned"] for p in run.read_plans) / total if total else 0.0


def _cascade_layers(run, m: dict) -> None:
    polls = run.tracer.named("cascade.poll")
    m["cascade.poll_s"] = sum(_dur(p) for p in polls)
    m["cascade.rows_moved"] = sum(p.get("rows", 0) for p in polls)
    jobs = sum(x["jobs"] for p in polls for x in run.status.within(p["start"], p["end"]))
    m["cascade.jobs_per_poll"] = jobs / len(polls) if polls else 0.0
    m["cascade.useful_poll_ratio"] = sum(bool(p.get("applied")) for p in polls) / len(polls) if polls else 0.0


def _overhead(ops: list[dict]) -> float:
    """Per operation kind, median traced minus median untraced latency,
    weighted by how often each kind ran."""
    total, n = 0.0, 0
    for kind in {o["kind"] for o in ops}:
        traced = [o["latency_s"] for o in ops if o["kind"] == kind and o["traced"]]
        plain = [o["latency_s"] for o in ops if o["kind"] == kind and not o["traced"]]
        if traced and plain:
            k = len(traced) + len(plain)
            total += k * (statistics.median(traced) - statistics.median(plain))
            n += k
    return total / n if n else 0.0


def layer_metrics(run) -> dict[str, float]:
    m: dict[str, float] = {name: 0.0 for name in LAYER_METRICS}
    m["_lww_rows_out"] = 0.0
    _batch_layers(run, m)
    _read_layers(run, m)
    _cascade_layers(run, m)
    del m["_lww_rows_out"]
    m["tf.delta_depth_max"] = run.depth_max
    self_times = run.tracer.self_times()
    op_names = {s["name"] for s in run.tracer.spans if s["parent"] is None}
    m["self.op_s"] = sum(self_times.get(n, 0.0) for n in op_names)
    for name in ("ingest.batch", "tf.merge", "cascade.poll"):
        m[f"self.{name}_s"] = self_times.get(name, 0.0)
    m["trace.overhead_s"] = _overhead([o for o in run.ops if "latency_s" in o])
    m["trace.ops"] = sum(o["traced"] for o in run.ops)
    m["steal_s"] = run.steal_s
    return m
