#!/usr/bin/env python3
"""graft end-to-end benchmark: one command per workload run.

    python3 perfbench/run.py --workload cep_events --seed 1 --seconds 16 --trace 0

Builds graft and the harness once (perfbench/build.py; a no-op while the
sources are unchanged), derives the workload's inputs from --seed, runs
the workload for --seconds and checks every output of the timed phase
against a computation made outside graft. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones.

Extra flags, used by perfbench/selftest.py: --small (tiny inputs),
--perturb (spoil one output row before checking; the run must then count
one failed operation).
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import jvm  # noqa: E402
import live  # noqa: E402
import workloads  # noqa: E402


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- batch


def run_batch(wl, a, work):
    data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
    os.makedirs(data)
    os.makedirs(warm)
    inputs = wl.make_inputs(a.seed, a.small, data, warm)
    report = os.path.join(work, "report.json")
    jvm.run(work, "perfbench.Batch", [
        "--data", data, "--warm", warm, "--out", os.path.join(work, "out"),
        "--work", work, "--queries", ",".join(wl.queries),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(jvm.CORES), "--report", report] +
        (["--vpl", os.path.join(HERE, "vpl")] if wl.times_vpl else []), "batch.log")
    rep = json.load(open(report))
    passes = rep["passes"]
    if a.perturb:
        checks.drop_one_row(os.path.join(work, "out", "pass1", wl.queries[0]))
    verdicts = checks.check_batch(wl, data, inputs, work, passes, rep["oracle"])
    if a.trace:
        verdicts += checks.stream_twin_rows(rep, inputs)
    bad = {(v.pass_no, v.query) for v in verdicts if not v.ok}
    for v in verdicts:
        if not v.ok:
            print(f"FAILED pass{v.pass_no} {v.query}: {v.why}", file=sys.stderr)
    if a.trace:
        metrics = layer_metrics_batch(rep)
    else:
        # one warm pass, each query at its best over the timed passes: the
        # first pass after the cold one still pays JIT warm-up, and a run
        # holds three or four passes, so a median would depend on the count
        best = {name: min(q["build_ms"] + q["exec_ms"] for p in passes
                          for q in p["queries"] if q["name"] == name)
                for name in wl.queries}
        wall = sum(best.values()) / 1e3
        metrics = {
            "setup_s": (rep["setup_s"], "s"),
            "wall_s": (wall, "s"),
            "op_p50_ms": (median(list(best.values())), "ms"),
            "items_per_s": (inputs["rows"] * len(wl.queries) / wall, "1/s"),
            "peak_rss_mb": (rep["peak_rss_mb"], "MB"),
        }
    correct = all(v.ok or v.errored for v in verdicts)
    return correct, len(passes) * len(wl.queries), len(bad), metrics


def layer_metrics_batch(rep):
    passes = rep["passes"]
    n = len(passes)
    cores = rep["cores"]

    def per_pass(f):
        return sum(f(q) for p in passes for q in p["queries"]) / n

    def tr(k):
        return per_pass(lambda q: q.get("trace", {}).get(k, 0))

    wall_ms = per_pass(lambda q: q["build_ms"] + q["exec_ms"])
    pass_s = median([p["wall_s"] for p in passes])
    m = {
        "query.build_ms": per_pass(lambda q: q["build_ms"]),
        "query.plan_ms": tr("planMs"),
        "query.sched_gap_ms": max(0.0, wall_ms - tr("stageBusyMs")),
        "query.jobs": tr("jobs"),
        "query.stages": tr("stages"),
        "query.tasks": tr("tasks"),
        "exec.task_run_s": tr("taskRunS"),
        "exec.task_cpu_s": tr("taskCpuS"),
        "exec.gc_s": tr("gcS"),
        "exec.spill_bytes": tr("spillBytes"),
        "exec.busy_share": tr("taskRunS") / (pass_s * cores),
        "exec.serial_stage_s": tr("serialStageS"),
        "scan.rows": tr("scanRows"),
        "scan.bytes": tr("scanBytes"),
        "exchange.write_bytes": tr("exchWriteBytes"),
        "exchange.read_bytes": tr("exchReadBytes"),
        "exchange.fetch_wait_ms": tr("fetchWaitMs"),
        "plan.exchanges": tr("exchanges"),
        "stream.batches": tr("streamBatches"),
        "stream.trigger_ms": tr("triggerMs"),
        "stream.add_batch_ms": tr("addBatchMs"),
        "stream.commit_ms": tr("streamCommitMs"),
        "state.rows_peak": max([q.get("trace", {}).get("stateRowsPeak", 0)
                                for p in passes for q in p["queries"]] or [0]),
        "state.bytes_peak": max([q.get("trace", {}).get("stateBytesPeak", 0)
                                 for p in passes for q in p["queries"]] or [0]),
        "state.commit_ms": tr("stateCommitMs"),
    }
    for fam in workloads.FAMILIES:
        m[f"{fam}.wall_s"] = per_pass(
            lambda q: (q["build_ms"] + q["exec_ms"]) / 1e3
            if workloads.family(q["name"]) == fam else 0.0)
    m["vpl.parse_ms"] = rep.get("vpl_parse_ms", 0.0)
    m["vpl.compile_ms"] = rep.get("vpl_compile_ms", 0.0)
    return workloads.layer_metrics(m)


# ----------------------------------------------------------------- main


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--small", action="store_true")
    p.add_argument("--perturb", action="store_true")
    a = p.parse_args()
    # SIGTERM unwinds like an error, so that the JVMs started below are
    # stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build.ensure_built()
    wl = workloads.ALL[a.workload]
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        runner = live.run if wl.kind == "live" else run_batch
        correct, attempted, failed, metrics = runner(wl, a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
