#!/usr/bin/env python3
"""The repository benchmark: MCP round trips and catalog heavy-tail runs.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):
  interactive   closed loop, one client, whole 20-call blocks over one stdio pipe
  catalog_tail  in-process runner over a frozen list of catalog entries

Builds the program from source on first use, checks every response against
perfbench/expected/, prints a human-readable summary and, as the last line
of stdout, one JSON object {correct, attempted, failed, metrics}. With
--trace 0 the metrics are the end-to-end ones. With --trace 1 the run makes
the same untraced pass first, then a pass with the benchmark's listener
classes attached, and the metrics are the per-layer ones (the tracing
overhead compares the two passes). Each run also writes a full record to
perfbench/results/.
Exits non-zero on any failed or wrong operation.
"""
import argparse
import datetime
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import layers  # noqa: E402
import proc  # noqa: E402
import workloads  # noqa: E402
from proc import HERE, ROOT, WORK, Deadline, Proc, log  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
RESULTS = os.path.join(HERE, "results")
TOOLS_FILE = os.path.join(ROOT, "examples", "tools.yaml")
SETUP_DEADLINE_S = 90
OP_DEADLINE_S = 60
RUN_BUDGET_S = 165     # every wait ends by then, so a run ends within 180 s even when it fails
MIN_BLOCKS = 2

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("latency_p50_ms", "ms"),
              ("latency_p90_ms", "ms"), ("heavy_latency_p50_ms", "ms")]


def left(started, cap):
    """Seconds a wait may take: at most `cap`, and never past the run budget."""
    return max(0.5, min(cap, started + RUN_BUDGET_S - time.perf_counter()))


def pct(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))]


def host_probe_ms():
    """A fixed single-thread CPU loop, timed: host speed for the record."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t) * 1000.0


# ---------------------------------------------------------------- MCP side

class Session:
    """One server process and the calls made on it. Replies come back in
    request order (the server dispatches one line at a time), so each reply
    is matched to the oldest unanswered request."""

    def __init__(self, name, trace_out=None):
        argv = proc.java_argv("graft.mcp.Main", ["--stdio", "--data-dir", DATA, "--tools-file", TOOLS_FILE],
                              trace_out=trace_out)
        self.p = Proc(argv, proc.java_env(DATA), name)
        self.next_id = 1

    def wire(self, req):
        rid = self.next_id
        self.next_id += 1
        return workloads.wire(req, rid)

    def roundtrip(self, req, deadline_s=OP_DEADLINE_S):
        text = self.wire(req)
        t0, m0 = time.time(), time.perf_counter()
        self.p.send(text)
        t1, m1, line = self.p.recv(deadline_s)
        return t0, t1, (m1 - m0) * 1000.0, line

    def setup(self, deadline_s):
        """initialize, then the first tools/call; returns (init_epoch, first_epoch, first_ms)."""
        _, t_init, _, line = self.roundtrip({"method": "initialize", "params": {
            "protocolVersion": "2024-11-05", "clientInfo": {"name": "perfbench", "version": "1"}}},
            deadline_s)
        if "serverInfo" not in json.loads(line).get("result", {}):
            raise Deadline("initialize failed: %s" % line[:200])
        first = workloads.call("list_tables", table_names="region")
        _, t_first, first_ms, line = self.roundtrip(first, deadline_s)
        if check.classify(json.loads(line)) != EXPECTED_MCP.get(workloads.key(first)):
            raise Deadline("first call returned a wrong result")
        return t_init, t_first, first_ms


EXPECTED_MCP = {}


def judge(req, line):
    """Checks one reply; returns (classified, failure reason or None)."""
    try:
        got = check.classify(json.loads(line))
    except (ValueError, KeyError, TypeError) as e:
        return None, "unparseable reply: %s" % e
    return got, check.mismatch(got, EXPECTED_MCP.get(workloads.key(req)))


def op_record(cls, req, t0, t1, lat_ms, line, got, reason):
    return {"cls": cls, "key": workloads.key(req), "req": req, "t0": t0 * 1000.0, "t_end": t1 * 1000.0,
            "lat_ms": lat_ms, "bytes": len(line), "rows": (got or {}).get("rows"),
            "ok": reason is None, "reason": reason}


def failed_op(cls, req, reason):
    return {"cls": cls, "key": workloads.key(req), "req": req, "ok": False, "reason": reason}


def run_interactive(args, s, started):
    """Closed loop: whole blocks until --seconds have passed, and at least
    MIN_BLOCKS of them, so a slow host does not shrink the sample."""
    ops = []
    blocks = workloads.interactive_stream(args.seed)
    m0 = time.perf_counter()
    while time.perf_counter() - m0 < args.seconds or len(ops) < MIN_BLOCKS * 20:
        for cls, req in next(blocks):
            try:
                t0, t1, lat, line = s.roundtrip(req, left(started, OP_DEADLINE_S))
            except Exception as e:  # noqa: BLE001 -- a deadline, a dead server, a broken pipe
                ops.append(failed_op(cls, req, describe(e)))
                return ops, time.perf_counter() - m0
            got, reason = judge(req, line)
            ops.append(op_record(cls, req, t0, t1, lat, line, got, reason))
    return ops, time.perf_counter() - m0


def describe(e):
    return str(e) if isinstance(e, Deadline) else "%s: %s" % (type(e).__name__, e)


def mcp_workload(args, started, trace):
    global EXPECTED_MCP
    EXPECTED_MCP = check.load(check.EXPECTED_MCP)
    trace_out = os.path.join(WORK, "trace-server.jsonl") if trace else None
    s = Session("server-traced" if trace else "server", trace_out)
    rec = {"ops": [], "errors": []}
    cls, req = "setup", {"raw": "initialize and the first list_tables call"}
    try:
        t_init, t_first, first_ms = s.setup(left(started, SETUP_DEADLINE_S))
        rec["setup"] = {"spawn": s.p.t_spawn * 1000.0, "init": t_init * 1000.0, "first_call_ms": first_ms}
        rec["setup_s"] = t_first - s.p.t_spawn
        cls = "warm-up"
        for req in workloads.warmup_block(args.seed):
            _, _, _, line = s.roundtrip(req, left(started, OP_DEADLINE_S))
            _, reason = judge(req, line)
            if reason:
                rec["errors"].append("warm-up %s: %s" % (workloads.key(req)[:80], reason))
        rec["ops"], rec["wall_s"] = run_interactive(args, s, started)
        rec["rss_peak_mb"] = s.p.sample_hwm()
        if all(o["ok"] for o in rec["ops"]):
            s.p.close(left(started, 30))
            if trace:
                cls, req = "trace", {"raw": "the trace file and the gate/bind probe"}
                rec["trace"] = layers.load_trace(trace_out)
                rec["probe"] = gate_bind_probe(rec["ops"], started)
    except Exception as e:  # noqa: BLE001 -- any failure is a failed op, and the record is still written
        rec["ops"].append(failed_op(cls, req, describe(e)))
    s.p.kill()
    return rec


def gate_bind_probe(ops, started):
    calls = os.path.join(WORK, "calls.jsonl")
    with open(calls, "w") as f:
        for o in ops:
            p = o["req"].get("params", {})
            if o["req"].get("method") == "tools/call" and "name" in p:
                f.write(json.dumps({"tool": p["name"], "args": p.get("arguments", {})}) + "\n")
    argv = proc.java_argv("perfbench.GateBindProbe", [TOOLS_FILE, calls], bench_classes=True)
    p = Proc(argv, proc.java_env(DATA), "probe")
    try:
        _, _, line = p.recv(left(started, 60))
        out = json.loads(line)
    except Exception:
        p.kill()
        raise
    p.close(left(started, 10))
    return out


# ------------------------------------------------------------ catalog side

def runner(name, entries, trace_out=None):
    args = ["--data-dir", DATA, "--warmup", ",".join(workloads.catalog_warmup()),
            "--entries", ",".join(entries)]
    argv = proc.java_argv("perfbench.CatalogRunner", args, trace_out=trace_out, bench_classes=True)
    return Proc(argv, proc.java_env(DATA), name)


def catalog_workload(args, started, trace):
    expected = check.load(check.EXPECTED_CATALOG)
    entries = workloads.catalog_order(args.seed)
    trace_out = os.path.join(WORK, "trace-runner.jsonl") if trace else None
    p = runner("runner-traced" if trace else "runner", entries, trace_out)
    rec = {"ops": [], "errors": []}
    pending = list(entries)
    try:
        t, _, line = p.recv(left(started, SETUP_DEADLINE_S))
        ev = json.loads(line)
        rec["setup"] = {"spawn": p.t_spawn * 1000.0, "init": ev["register_end"]}
        rec["setup_s"] = t - p.t_spawn
        _, m_warm, line = p.recv(left(started, RUN_BUDGET_S))
        rec["setup"]["first_call_ms"] = json.loads(line)["first_ms"]
        while pending:
            _, m1, line = p.recv(left(started, OP_DEADLINE_S))
            ev = json.loads(line)
            name = pending[0]
            want = expected.get(name)
            got = {"rows": ev.get("rows"), "digest": ev.get("digest")}
            reason = ev.get("error") or (None if got == want else "expected %s, got %s" % (want, got))
            rec["ops"].append({"cls": "heavy" if name in workloads.HEAVY_ENTRIES else "light",
                               "key": name, "t0": ev["t0"], "t_built": ev["t1"], "t_end": ev["t2"],
                               "lat_ms": ev["t2"] - ev["t0"], "rows": ev.get("rows"),
                               "phases": ev.get("phases"), "ok": reason is None, "reason": reason})
            pending.pop(0)
        rec["wall_s"] = m1 - m_warm
        rec["rss_peak_mb"] = p.sample_hwm()
        p.close(left(started, 30))
        if trace:
            rec["trace"] = layers.load_trace(trace_out)
    except Exception as e:  # noqa: BLE001 -- any failure names the entries left, and the record is still written
        rec["ops"] += [failed_op("light", {"raw": n}, describe(e)) for n in pending]
        if not pending:
            rec["errors"].append("runner: %s" % describe(e))
    p.kill()
    return rec


# ----------------------------------------------------------------- metrics

def end_to_end(args, rec):
    ops = rec["ops"]
    good = [o for o in ops if o["ok"]]
    lat = [o["lat_ms"] for o in good]
    heavy = [o["lat_ms"] for o in good if o["cls"] in ("aggregate", "heavy")]
    return {
        "setup_s": rec["setup_s"],
        "ops_per_s": len(good) / rec["wall_s"] if rec.get("wall_s") else 0.0,
        "latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "latency_p90_ms": pct(lat, 0.9),
        "heavy_latency_p50_ms": statistics.median(heavy) if heavy else 0.0,
    }


def repeat_share(ops):
    seen, rep = set(), 0
    for o in ops:
        rep += o["key"] in seen
        seen.add(o["key"])
    return rep / len(ops) if ops else 0.0


def per_layer(args, rec, base):
    tr = rec["trace"]
    mcp = args.workload != "catalog_tail"
    out, _ = layers.metrics(rec["ops"], tr, int(proc.cpus()), mcp)
    st = rec["setup"]
    app = tr["app_start"][0]["t"] if tr["app_start"] else st["spawn"]
    out["setup.session_ms"] = app - st["spawn"]
    out["setup.register_ms"] = st["init"] - app
    out["setup.first_call_ms"] = st["first_call_ms"]
    if mcp and rec.get("probe"):
        out["mcp.gate_ms"] = rec["probe"]["gate_us"] / 1000.0
        out["mcp.bind_ms"] = rec["probe"]["bind_us"] / 1000.0
    # tracing overhead: this traced p50 against the untraced pass of the same run
    p50 = end_to_end(args, rec)["latency_p50_ms"]
    out["trace.latency_p50_ms"] = p50
    out["trace.overhead_pct"] = (p50 / end_to_end(args, base)["latency_p50_ms"] - 1.0) * 100.0
    out["workload.repeat_share"] = repeat_share(rec["ops"])
    out["rss_peak_mb"] = rec["rss_peak_mb"]
    return out


def context(args):
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):  # not an enclosing repository's HEAD
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                                    timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    return {"commit": commit, "source_hash": proc.source_hash(), "nproc": os.cpu_count(),
            "spark_graft_cpus": int(proc.cpus()), "sf": "0.1", "seed": args.seed,
            "java": proc.java_version(), "xmx": proc.XMX, "python": platform.python_version(),
            "timestamp": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
            "host_probe_ms": host_probe_ms()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=["interactive", "catalog_tail"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isdir(DATA) and os.path.exists(check.EXPECTED_MCP)):
        log("benchmark data or expected results missing")
        return 2
    if not proc.build():
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    ctx = context(args)
    started = time.perf_counter()
    work = catalog_workload if args.workload == "catalog_tail" else mcp_workload
    try:
        # A traced run first makes the same untraced pass, on the same code
        # and seed, as the baseline of its tracing overhead.
        passes = [work(args, started, False)]
        if args.trace and passes[0]["ops"] and all(o["ok"] for o in passes[0]["ops"]):
            passes.append(work(args, started, True))
    finally:
        # the last run's process logs and trace, for a closer look
        keep = os.path.join(RESULTS, "last-run")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(RESULTS, exist_ok=True)
        if os.path.isdir(WORK):
            shutil.copytree(WORK, keep, ignore=shutil.ignore_patterns("tmp"), dirs_exist_ok=True)
    rec = passes[-1]
    ops = [o for r in passes for o in r["ops"]]
    errors = [e for r in passes for e in r["errors"]]
    failed = [o for o in ops if not o["ok"]]
    # an error is a failure outside the timed ops: a warm-up call, the trace, the probe
    attempted = max(1, len(ops) + len(errors))
    correct = not failed and not errors and len(rec["ops"]) > 0
    result = {"correct": correct, "attempted": attempted,
              "failed": len(failed) + len(errors) + (0 if rec["ops"] else 1)}
    if correct:
        if args.trace:
            values, units = per_layer(args, rec, passes[0]), dict(layers.PER_LAYER)
        else:
            values, units = end_to_end(args, rec), dict(END_TO_END)
        result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        result["metrics"] = {}
    record = dict(result, workload=args.workload, trace=args.trace, context=ctx,
                  errors=errors, failures=[{k: o.get(k) for k in ("cls", "key", "reason")} for o in failed],
                  setup_s=rec.get("setup_s"), repeat_share=repeat_share(rec["ops"]),
                  rss_peak_mb=rec.get("rss_peak_mb"),
                  failed_ratio=result["failed"] / attempted,
                  ops=[{k: o.get(k) for k in ("cls", "key", "t0", "t_end", "lat_ms", "rows", "bytes")}
                       for o in rec["ops"]])
    if result["metrics"]:
        record["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    path = os.path.join(RESULTS, "%s-s%d-t%d-%s.json" % (args.workload, args.seed, args.trace,
                                                         ctx["timestamp"].replace(":", "")))
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(WORK, ignore_errors=True)

    print("workload %s  seed %d  trace %d  source %s  cpus %s" % (
        args.workload, args.seed, args.trace, ctx["source_hash"], ctx["spark_graft_cpus"]))
    for k, v in result["metrics"].items():
        print("  %-28s %14.4f %s" % (k, v["value"], v["unit"]))
    print("  %-28s %14.4f %s" % ("failed_ratio", record["failed_ratio"], "1"))
    for e in errors + ["%s: %s" % (f["key"][:100], f["reason"]) for f in record["failures"]][:20]:
        print("  FAIL " + e)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
