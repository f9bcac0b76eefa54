"""CDC engine benchmark.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: bulk_replay, stream_tail, read_mix
(see workloads.py), or `all` to run the three in turn and print every
workload-specific metric. Prints `name value unit` lines and, as the last
line, one JSON object `{"correct", "attempted", "failed", "metrics"}`:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Generated feeds, fixtures and traces live in perfbench/.work/.
"""

from __future__ import annotations

import time

T_PROC = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "setup_s": "s",
    "latency_s_p50": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
WORKLOAD_NAMES = ("bulk_replay", "bulk_replay_1core", "stream_tail", "read_mix")
PER_RUN = ("setup_s", "peak_rss_mb", "failed_ops_ratio", "steal_s")  # printed by every workload


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="multiplies every feed size (tests use a tiny scale)")
    return ap.parse_args(argv)


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    engine importable here and in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [REPO, HERE]


def run_one(args) -> dict:
    import layers
    import workloads

    run = workloads.Run(args, REPO, WORK, T_PROC)
    failed_early = None
    try:
        run.start_spark(workloads.CORES_OF.get(args.workload, workloads.CORES))
        if args.trace:
            workloads.trace_warm_up(run)
        workloads.WORKLOADS[args.workload](run)
    except workloads.OpFailed as e:
        failed_early = str(e)
    finally:
        trace_metrics = None
        if run.spark is not None and args.trace and failed_early is None:
            run.status.drain()  # every stream has stopped: nothing is still running
            trace_metrics = layers.layer_metrics(run)
        run.stop_spark()
        run.stop_jvm()
        shutil.rmtree(run.scratch, ignore_errors=True)

    attempted = len(run.ops) + len(run.checks)
    failed = sum(not o["ok"] for o in run.ops) + sum(not c["ok"] for c in run.checks)
    if failed_early is not None:
        failed = max(failed, 1)
        attempted = max(attempted, 1)
    for o in run.ops:
        print(f"op {o['n']} {o['kind']} {o.get('latency_s', 0.0):.3f}s traced={o['traced']} ok={o['ok']}", file=sys.stderr)
    for c in run.checks:
        if not c["ok"]:
            print(f"MISMATCH {c['what']}: got {c['actual']}, oracle {c['expected']}", file=sys.stderr)
    if failed_early is not None:
        print(f"FAILED {failed_early}", file=sys.stderr)

    named = dict(run.named)
    named["setup_s"] = (run.setup_s or 0.0, "s")
    named["peak_rss_mb"] = (run.e2e.get("peak_rss_mb", 0.0), "MB")
    named["failed_ops_ratio"] = (failed / attempted, "ratio")
    named["steal_s"] = (run.steal_s, "s")
    if args.trace:
        metrics = {k: (v, layers.LAYER_METRICS[k]) for k, v in (trace_metrics or {}).items()}
        os.makedirs(WORK, exist_ok=True)
        run.tracer.dump(
            os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"),
            {"executions": run.status.executions if run.status else [], "ops": run.ops, "metrics": trace_metrics},
        )
    else:
        e2e = {**run.e2e, "setup_s": run.setup_s or 0.0}
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items() if k in e2e}
    return {
        "correct": failed == 0 and failed_early is None,
        "attempted": attempted,
        "failed": failed,
        "named": named,
        "metrics": metrics,
    }


def print_result(res: dict) -> None:
    for name, (value, unit) in sorted(res["named"].items()):
        print(f"{name} {value:.6g} {unit}")
    for name, (value, unit) in sorted(res["metrics"].items()):
        print(f"metric {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))


def run_all(args) -> int:
    """Each workload in its own process; the union of their results, plus
    the single-core scaling efficiency of the bulk replay."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "named": {}, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, check=False)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-2000:])
            print(f"{name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        merged["correct"] &= last["correct"]
        merged["attempted"] += last["attempted"]
        merged["failed"] += last["failed"]
        for line in lines[:-1]:
            parts = line.split()
            if len(parts) != 3 or parts[0] == "metric":
                continue
            metric = parts[0]
            if name == "bulk_replay_1core" and metric in ("replay_events_per_s", "replay_samples"):
                metric += "_1core"
            elif name == "bulk_replay_1core" or metric in PER_RUN:
                metric = f"{name}.{metric}"
            merged["named"][metric] = (float(parts[1]), parts[2])
        for k, v in last["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = (v["value"], v["unit"])
    named = merged["named"]
    tput4, tput1 = named["replay_events_per_s"][0], named["replay_events_per_s_1core"][0]
    named["scaling_efficiency"] = (tput4 / (4 * tput1), "ratio")
    print_result(merged)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "data_pipeline_spark")):
        print(f"engine package data_pipeline_spark not found under {REPO}", file=sys.stderr)
        return 2
    _prepare_environment()
    if args.workload == "all":
        return run_all(args)
    res = run_one(args)
    print_result(res)
    return 0


if __name__ == "__main__":
    sys.exit(main())
