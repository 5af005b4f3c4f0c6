"""live_inject: graft.tools.Serve in its own process, one client.

The client deploys perfbench/live.vpl, then posts fixed-size
``events-batch`` injects on one keep-alive connection in a closed loop
(the next inject leaves when the previous reply arrived). Each inject is
one operation. The client recomputes every output from the events it
sent and the event time the server stamps (inject phase k, counted from
1 at deploy, is stamped base + k seconds; its events get ids
k * 1e9 + line), and says which reply is due to return each row:

  ZoneLoad  window [5m, 5m+5) s closes when the watermark (max event
            time - 100 ms) passes its end: per-zone counts of phases
            5m..5m+4, due in the reply to phase 5m + 6;
  Spike     pairs (a, b), same sensor, b after a, b.value < a.value,
            b at most 2 s after a, due in the reply to b's phase.

See ``check_outputs`` for lateness. Conservation: every reply's
``accepted`` equals the events sent, and the pipeline's
``events_processed`` equals the client's total.
"""
import http.client
import json
import os
import random
import signal
import socket
import statistics
import sys
import subprocess
import time
from collections import Counter

import jvm
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
EVENTS_PER_INJECT = 100
# inject latency falls from ~1.4 s to ~0.9 s over the first ten injects of
# a fresh server (JIT), so those stay in set-up, out of the timed median
WARMUP_INJECTS = 10
SMALL_EVENTS_PER_INJECT = 20
ID_STRIDE = 1_000_000_000
BASE_S = 1_704_067_200  # EventReplay's default replay epoch


def free_port():
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


class Client:
    def __init__(self, port):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)

    def call(self, method, path, body=None, raw=None, headers=None):
        data = raw if raw is not None else (json.dumps(body) if body is not None else None)
        data = data.encode("utf-8") if data is not None else None
        h = {"content-type": "application/json"}
        h.update(headers or {})
        self.conn.request(method, path, body=data, headers=h)
        r = self.conn.getresponse()
        return r.status, json.loads(r.read() or b"{}")


def make_batch(rng, n):
    return [{"sensor": rng.randrange(20), "zone": f"z{rng.randrange(5)}",
             "value": round(rng.uniform(0.0, 100.0), 2)} for _ in range(n)]


def evt_text(batch):
    """The .evt lines the server renders for an events-batch body."""
    return "".join(
        f'Reading {{ sensor: {e["sensor"]}, zone: "{e["zone"]}", value: {e["value"]!r} }}\n'
        for e in batch)


class Expect:
    """Per-phase expected replies, recomputed from the events sent."""

    def __init__(self):
        self.phases = {}  # phase -> list of (event_id, event)

    def add(self, phase, batch):
        self.phases[phase] = [(phase * ID_STRIDE + i, e) for i, e in enumerate(batch)]

    def expected(self, last):
        """{stream: {row: own phase}}: the reply of the own phase should
        return the row; see the module docstring."""
        win, seq = {}, {}
        for m in range(0, last // 5 + 1):
            c = Counter(e["zone"] for p in range(5 * m, 5 * m + 5)
                        for _, e in self.phases.get(p, []))
            for z, n in c.items():
                win[(z, BASE_S + 5 * m, n)] = 5 * m + 6
        for bp in self.phases:
            for b_id, b in self.phases[bp]:
                for ap in range(max(1, bp - 2), bp + 1):
                    for a_id, a in self.phases.get(ap, []):
                        if a_id < b_id and a["sensor"] == b["sensor"] and b["value"] < a["value"]:
                            seq[(a_id, b_id)] = bp
        return {"ZoneLoad": win, "Spike": seq}


KEYS = {
    "ZoneLoad": lambda o: (o["zone"], o["win_start"], o["n"]),
    "Spike": lambda o: (o["a_id"], o["b_id"]),
}


def check_outputs(exp, replies, last):
    """Check every reply's rows once the run is over.

    A row is due in the reply of its own phase; it is accepted one inject
    late (graft's inject can return before a micro-batch that the inject
    started has reached the sink, see CHANGES.md), and is counted in
    ``late``. A row that is wrong, duplicated, later than that, or
    missing once its deadline has passed fails the inject whose reply had
    to return it. Rows due after the last inject are optional.
    """
    bad, late = {}, 0
    for name, want in exp.expected(last).items():
        seen = set()
        for k, reply in replies:
            for o in reply.get("output_events", []):
                if o["stream"] != name:
                    continue
                r = KEYS[name](o)
                own = want.get(r)
                if r in seen or own is None or not own <= k <= own + 1:
                    bad.setdefault(k if own is None else min(own, last), []).append(
                        f"{name} row {r} unexpected in reply {k}")
                elif k > own:
                    late += 1
                seen.add(r)
        for r, own in want.items():
            if r not in seen and own + 1 <= last:
                bad.setdefault(own, []).append(f"{name} row {r} missing")
    return bad, late


def run(wl, a, work):
    rng = random.Random(a.seed)
    n_ev = SMALL_EVENTS_PER_INJECT if a.small else EVENTS_PER_INJECT
    port = free_port()
    trace_port = free_port() if a.trace else None
    serve_args = ["--port", str(port), "--master", f"local[{jvm.CORES}]"]
    main = "graft.tools.Serve"
    if a.trace:
        main, serve_args = "perfbench.ServeTraced", ["--trace-port", str(trace_port)] + serve_args
    log = open(os.path.join(work, "serve.log"), "w")
    t_start = time.time()
    proc = subprocess.Popen(jvm.cmd(work, main, serve_args), stdout=log,
                            stderr=subprocess.STDOUT, env=jvm.env())
    try:
        return _drive(a, work, rng, n_ev, port, trace_port, proc, t_start)
    finally:
        if proc.poll() is None:
            proc.send_signal(signal.SIGTERM)
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        log.close()


def _wait_ready(port, proc, log_path):
    deadline = time.time() + 90
    while time.time() < deadline:
        if proc.poll() is not None:
            break
        try:
            c = http.client.HTTPConnection("127.0.0.1", port, timeout=2)
            c.request("GET", "/health")
            if c.getresponse().status == 200:
                c.close()
                return
        except OSError:
            time.sleep(0.05)
    raise SystemExit(f"perfbench: server did not come up; see {log_path}")


def _peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _drive(a, work, rng, n_ev, port, trace_port, proc, t_start):
    _wait_ready(port, proc, os.path.join(work, "serve.log"))
    cl = Client(port)
    program = open(os.path.join(HERE, "live.vpl")).read()
    st, d = cl.call("POST", "/api/v1/pipelines", {"name": "perfbench", "source": program})
    if st != 201:
        raise SystemExit(f"perfbench: deploy failed {st} {d}")
    pid = d["id"]
    exp = Expect()
    phase = 0
    sent = 0
    verdicts = []  # (phase, why)
    replies = []

    def inject():
        nonlocal phase, sent
        phase += 1
        batch = make_batch(rng, n_ev)
        exp.add(phase, batch)
        body = {"events": [{"event_type": "Reading", "fields": e} for e in batch]}
        t0 = time.perf_counter()
        st, reply = cl.call("POST", f"/api/v1/pipelines/{pid}/events-batch", body)
        lat = time.perf_counter() - t0
        sent += n_ev
        replies.append((phase, reply))
        why = f"HTTP {st}" if st != 200 else (
            "" if reply.get("accepted") == n_ev else f"accepted {reply.get('accepted')} of {n_ev}")
        return lat, reply.get("processing_time_us", 0) / 1e3, why, batch

    for _ in range(WARMUP_INJECTS):
        _, _, why, _ = inject()
        if why:
            verdicts.append((phase, why))
    tc = Client(trace_port) if trace_port else None
    if tc:
        tc.call("POST", "/begin", raw="")
    setup_s = time.time() - t_start
    lats, procs, timed = [], [], []
    t_loop = time.perf_counter()
    while not lats or time.perf_counter() - t_loop < a.seconds:
        lat, p_ms, why, batch = inject()
        lats.append(lat)
        procs.append(p_ms)
        timed.append((phase, batch))
        verdicts.append((phase, why))
    loop_s = time.perf_counter() - t_loop
    layers = tc.call("POST", "/end", raw="")[1] if tc else None
    st, m = cl.call("GET", f"/api/v1/pipelines/{pid}/metrics")
    conserve = "" if m.get("events_processed") == sent else \
        f"events_processed {m.get('events_processed')} != sent {sent}"
    rss = _peak_rss_mb(proc.pid)

    attempted = len(lats)
    if a.perturb:
        _perturb_one_row(replies, {k for k, _ in timed})
    bad, late = check_outputs(exp, replies, phase)
    for k, whys in bad.items():
        verdicts.append((k, "; ".join(whys[:3]) + (f" (+{len(whys) - 3} more)" if len(whys) > 3 else "")))
    failed_phases = {k for k, why in verdicts if why}
    if conserve:
        failed_phases.add(phase)
    failed = len([k for k, _ in timed if k in failed_phases])
    for k, why in verdicts:
        if why:
            print(f"FAILED inject phase {k}: {why}", file=sys.stderr)
    if conserve:
        print(f"FAILED {conserve}", file=sys.stderr)
    correct = not failed_phases

    med = statistics.median
    if not a.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            # one operation per round: the median inject, as for op_p50_ms
            "wall_s": (med(lats), "s"),
            "op_p50_ms": (med(lats) * 1e3, "ms"),
            "items_per_s": (n_ev / med(lats), "1/s"),
            "peak_rss_mb": (rss, "MB"),
        }
        return correct, attempted, failed, metrics
    n = len(lats)
    stage = [tc.call("POST", "/stage", raw=evt_text(b), headers={"x-phase": str(10_000 + k)})[1]["ms"]
             for k, b in timed]
    parse = med([tc.call("POST", "/parse", raw=program)[1]["ms"] for _ in range(5)])
    t = layers
    m = {
        "query.plan_ms": t["planMs"] / n, "query.jobs": t["jobs"] / n,
        "query.stages": t["stages"] / n, "query.tasks": t["tasks"] / n,
        "query.sched_gap_ms": max(0.0, med(procs) - t["stageBusyMs"] / n),
        "exec.task_run_s": t["taskRunS"] / n, "exec.task_cpu_s": t["taskCpuS"] / n,
        "exec.gc_s": t["gcS"] / n, "exec.spill_bytes": t["spillBytes"] / n,
        "exec.busy_share": t["taskRunS"] / (loop_s * jvm.CORES),
        "exec.serial_stage_s": t["serialStageS"] / n,
        "scan.rows": t["scanRows"] / n, "scan.bytes": t["scanBytes"] / n,
        "exchange.write_bytes": t["exchWriteBytes"] / n,
        "exchange.read_bytes": t["exchReadBytes"] / n,
        "exchange.fetch_wait_ms": t["fetchWaitMs"] / n,
        "plan.exchanges": t["exchanges"] / n,
        "stream.batches": t["streamBatches"] / n, "stream.trigger_ms": t["triggerMs"] / n,
        "stream.add_batch_ms": t["addBatchMs"] / n, "stream.commit_ms": t["streamCommitMs"] / n,
        "state.rows_peak": t["stateRowsPeak"], "state.bytes_peak": t["stateBytesPeak"],
        "state.commit_ms": t["stateCommitMs"] / n,
        "sources.stage_phase_ms": med(stage),
        "server.processing_ms": med(procs),
        "server.http_ms": med([l * 1e3 - p for l, p in zip(lats, procs)]),
        "server.jobs_per_inject": t["jobs"] / n,
        "server.late_rows": late / n,
        "vpl.parse_ms": parse,
    }
    return correct, attempted, failed, workloads.layer_metrics(m)


def _perturb_one_row(replies, timed_phases):
    """Negative test: corrupt the first row of a timed reply, which then
    fails that inject (a dropped row could still be allowed as late)."""
    for k, reply in replies:
        for o in reply.get("output_events", []) if k in timed_phases else []:
            if o["stream"] == "Spike":
                o["a_id"] = -1
            else:
                o["n"] += 1
            return
    raise SystemExit("perfbench: no timed reply with a row to perturb")

