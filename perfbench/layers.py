"""Per-layer metrics from a traced run.

Spans come from two sides: the harness stamps each operation (send and
reply, or the runner's construction/execution split) and the listener
classes stamp Spark's jobs, stages, tasks, Catalyst phases and micro-batches
inside the program. Both use the host's epoch clock in milliseconds. A span
belongs to the operation whose window holds its start: the server and the
runner run one operation at a time.

The span tree of one operation:

    op ─┬─ pipeline   construction-time eager work (catalog: the whole
        │             construction call; MCP: eager jobs before the action)
        │   └─ streaming   micro-batches of a drain
        ├─ catalyst   analysis / optimization / planning phases
        └─ exec       Spark jobs (stages and tasks inside them)

A layer's self time is its spans' covered time minus what its child spans
cover; `mcp` (or `other` for the runner) is what is left of the operation.
"""
import json
import statistics

PER_LAYER = [
    ("mcp.roundtrip_ms", "ms"), ("mcp.self_ms", "ms"), ("mcp.gate_ms", "ms"), ("mcp.bind_ms", "ms"),
    ("mcp.rows_out", "count"), ("mcp.response_bytes", "bytes"), ("mcp.truncated_calls", "count"),
    ("setup.session_ms", "ms"), ("setup.register_ms", "ms"), ("setup.first_call_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("exec.action_ms", "ms"), ("exec.jobs_per_op", "count"), ("exec.stages_per_op", "count"),
    ("exec.tasks_per_op", "count"), ("exec.sched_delay_ms", "ms"), ("exec.task_run_ms", "ms"),
    ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("exec.busy_ratio", "ratio"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"), ("exec.task_skew", "ratio"),
    ("exec.spill_bytes", "bytes"), ("exec.peak_exec_mem_bytes", "bytes"),
    ("exec.input_rows_per_row_out", "ratio"), ("exec.failed_tasks", "count"),
    ("pipeline.build_ms", "ms"), ("pipeline.eager_jobs", "count"),
    ("streaming.batches_per_op", "count"), ("streaming.batch_ms", "ms"), ("streaming.planning_ms", "ms"),
    ("streaming.commit_ms", "ms"), ("streaming.state_rows", "count"),
    ("share.mcp", "ratio"), ("share.catalyst", "ratio"), ("share.exec", "ratio"),
    ("share.pipeline", "ratio"), ("share.streaming", "ratio"), ("share.other", "ratio"),
    ("trace.latency_p50_ms", "ms"), ("trace.overhead_pct", "%"), ("workload.repeat_share", "ratio"),
    ("rss_peak_mb", "MB"),
]


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ interval sets

def union(ivs):
    out = []
    for a, b in sorted(iv for iv in ivs if iv[1] > iv[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def length(ivs):
    return sum(b - a for a, b in union(ivs))


def clip(ivs, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in ivs if min(b, hi) > max(a, lo)]


def minus(ivs, cut):
    """Covered length of `ivs` not covered by `cut`."""
    u = union(ivs)
    return length(u) - length(clip_all(u, union(cut)))


def clip_all(a, b):
    out = []
    for x0, x1 in a:
        out += clip(b, x0, x1)
    return out


# ------------------------------------------------------------------ parsing

def load_trace(path):
    recs = {"app_start": [], "jobs": {}, "tasks": [], "actions": [], "batches": []}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            k = r["k"]
            if k == "job_start":
                recs["jobs"][r["job"]] = {"start": r["t"], "end": r["t"], "stages": r["stages"]}
            elif k == "job_end" and r["job"] in recs["jobs"]:
                recs["jobs"][r["job"]]["end"] = r["t"]
            elif k == "task":
                recs["tasks"].append(r)
            elif k == "action":
                # listener callbacks arrive late, on the listener bus; the
                # action starts when its plan is optimized (the phases carry
                # their own timestamps) and lasts dur_ns
                ph = r.get("phases", {})
                starts = [ph[n][0] for n in ("optimization", "planning") if n in ph]
                r["start"] = min(starts) if starts else r["end"] - r["dur_ns"] / 1e6
                r["end"] = r["start"] + r["dur_ns"] / 1e6
                recs["actions"].append(r)
            elif k == "batch":
                recs["batches"].append(r)
            elif k == "app_start":
                recs["app_start"].append(r)
    job_of_stage = {}
    for jid, j in recs["jobs"].items():
        for s in j["stages"]:
            job_of_stage.setdefault(s, jid)
    recs["job_of_stage"] = job_of_stage
    return recs


def op_layers(op, tr, cores):
    """Per-op layer figures for one operation with window [op.t0, op.t_end]
    (epoch ms) and, for catalog entries, construction end op.t_built."""
    lo, hi = op["t0"], op["t_end"]
    within = lambda t: lo <= t <= hi
    jobs = {jid: j for jid, j in tr["jobs"].items() if within(j["start"])}
    job_ivs = [(j["start"], j["end"]) for j in jobs.values()]
    acts = [a for a in tr["actions"] if within(a["start"])]
    batches = [b for b in tr["batches"] if within(b["start"])]
    tasks = [t for t in tr["tasks"] if tr["job_of_stage"].get(t["stage"]) in jobs]
    stages = {}
    for t in tasks:
        stages.setdefault(t["stage"], []).append(t)

    # the runner reports its entry's own tracker; the server's come from actions
    trackers = [op["phases"]] if op.get("phases") else [a.get("phases", {}) for a in acts]

    def phase_ivs(name):
        return [tuple(p[name]) for p in trackers if name in p]
    cat_ivs = phase_ivs("analysis") + phase_ivs("optimization") + phase_ivs("planning")
    cat_ivs = clip(cat_ivs, lo, hi)
    job_ivs = clip(job_ivs, lo, hi)
    batch_ivs = clip([(b["start"], b["end"]) for b in batches], lo, hi)

    if "t_built" in op:  # catalog: construction is the pipeline span
        built = op["t_built"]
        eager = [j for j in jobs.values() if j["start"] < built]
        pipe_ivs = [(lo, built)]
        action_ms = hi - built
    else:  # MCP: eager jobs are those that finish before the last action starts
        last = max((a["start"] for a in acts), default=hi)
        eager = [j for j in jobs.values() if j["end"] <= last]
        pipe_ivs = [(j["start"], j["end"]) for j in eager] + batch_ivs
        action_ms = sum(a["dur_ns"] for a in acts) / 1e6 if acts else 0.0
    exec_ms = length(job_ivs)
    cat_self = minus(cat_ivs, job_ivs)
    stream_self = minus(batch_ivs, job_ivs + cat_ivs)
    pipe_self = minus(pipe_ivs, job_ivs + cat_ivs + batch_ivs)
    total = hi - lo
    rest = max(0.0, total - length(job_ivs + cat_ivs + batch_ivs + pipe_ivs))

    def tsum(k):
        return sum(t.get(k, 0) for t in tasks)

    def sched_delay(t):
        dur = t["end"] - t["start"]
        fetch = (t["end"] - t["fetch"]) if t.get("fetch", 0) > 0 else 0
        return max(0, dur - t.get("run", 0) - t.get("deser", 0) - t.get("ser", 0) - fetch)

    skews = []
    for ts in stages.values():
        if len(ts) >= 2:
            durs = [t["end"] - t["start"] for t in ts]
            m = statistics.median(durs)
            if m > 0:
                skews.append(max(durs) / m)
    rows_out = op.get("rows") or 0
    durations = [b["durations"] for b in batches]
    return {
        "total": total, "exec": exec_ms, "catalyst": cat_self, "streaming": stream_self,
        "pipeline": pipe_self, "rest": rest,
        "analysis": length(clip(phase_ivs("analysis"), lo, hi)),
        "optimization": length(clip(phase_ivs("optimization"), lo, hi)),
        "planning": length(clip(phase_ivs("planning"), lo, hi)),
        "action_ms": action_ms, "jobs": len(jobs), "stages": len(stages), "tasks": len(tasks),
        "sched_delay": (sum(sched_delay(t) for t in tasks) / len(tasks)) if tasks else 0.0,
        "task_run": tsum("run"), "task_cpu": tsum("cpu_ns") / 1e6, "gc": tsum("gc"),
        "busy": (tsum("run") / (cores * exec_ms)) if exec_ms > 0 else 0.0,
        "sw": tsum("sw"), "sr": tsum("sr"), "skew": max(skews) if skews else 1.0,
        "spill": tsum("spill"), "peak": max((t.get("peak", 0) for t in tasks), default=0),
        "in_per_out": tsum("in_rows") / max(1, rows_out),
        "failed_tasks": sum(1 for t in tasks if not t["ok"]),
        "build": (op["t_built"] - lo) if "t_built" in op else length(pipe_ivs),
        "eager_jobs": len(eager), "batches": len(batches),
        "batch_ms": [d.get("triggerExecution", 0) for d in durations],
        "bplan_ms": [d.get("queryPlanning", 0) for d in durations],
        "commit_ms": [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in durations],
        "state_rows": max((b["state_rows"] for b in batches), default=0),
    }


def metrics(ops, tr, cores, mcp):
    """Per-layer metrics of a traced run. `ops` carry t0/t_end (epoch ms),
    rows, and for MCP calls bytes; `mcp` says whether the mcp
    layer is on the path (server workloads) or not (the runner)."""
    per = [op_layers(op, tr, cores) for op in ops]
    out = {name: 0.0 for name, _ in PER_LAYER}
    total = sum(p["total"] for p in per) or 1.0
    out.update({
        "catalyst.analysis_ms": median(p["analysis"] for p in per),
        "catalyst.optimization_ms": median(p["optimization"] for p in per),
        "catalyst.planning_ms": median(p["planning"] for p in per),
        "exec.action_ms": median(p["action_ms"] for p in per),
        "exec.jobs_per_op": median(p["jobs"] for p in per),
        "exec.stages_per_op": median(p["stages"] for p in per),
        "exec.tasks_per_op": median(p["tasks"] for p in per),
        "exec.sched_delay_ms": median(p["sched_delay"] for p in per if p["tasks"]),
        "exec.task_run_ms": median(p["task_run"] for p in per),
        "exec.task_cpu_ms": median(p["task_cpu"] for p in per),
        "exec.gc_ms": median(p["gc"] for p in per),
        "exec.busy_ratio": median(p["busy"] for p in per if p["exec"] > 0),
        "exec.shuffle_write_bytes": median(p["sw"] for p in per),
        "exec.shuffle_read_bytes": median(p["sr"] for p in per),
        "exec.task_skew": median(p["skew"] for p in per if p["tasks"]),
        "exec.spill_bytes": median(p["spill"] for p in per),
        "exec.peak_exec_mem_bytes": median(p["peak"] for p in per),
        "exec.input_rows_per_row_out": median(p["in_per_out"] for p in per if p["tasks"]),
        "exec.failed_tasks": sum(p["failed_tasks"] for p in per),
        "pipeline.build_ms": median(p["build"] for p in per if p["eager_jobs"] or p["batches"] or not mcp),
        "pipeline.eager_jobs": sum(p["eager_jobs"] for p in per),
        "streaming.batches_per_op": median(p["batches"] for p in per if p["batches"]),
        "streaming.batch_ms": median(x for p in per for x in p["batch_ms"]),
        "streaming.planning_ms": median(x for p in per for x in p["bplan_ms"]),
        "streaming.commit_ms": median(x for p in per for x in p["commit_ms"]),
        "streaming.state_rows": median(p["state_rows"] for p in per if p["batches"]),
        "share.catalyst": sum(p["catalyst"] for p in per) / total,
        "share.exec": sum(p["exec"] for p in per) / total,
        "share.pipeline": sum(p["pipeline"] for p in per) / total,
        "share.streaming": sum(p["streaming"] for p in per) / total,
    })
    rest = sum(p["rest"] for p in per) / total
    if mcp:
        self_ms = [p["rest"] + 0.0 for p in per]
        out.update({
            "mcp.roundtrip_ms": median(op["lat_ms"] for op in ops),
            "mcp.self_ms": median(self_ms),
            "mcp.rows_out": median(op.get("rows") or 0 for op in ops),
            "mcp.response_bytes": median(op["bytes"] for op in ops),
            "mcp.truncated_calls": sum(1 for op in ops if op.get("rows") == 10000),
            "share.mcp": rest,
        })
    else:
        out["share.other"] = rest
    return out, per
