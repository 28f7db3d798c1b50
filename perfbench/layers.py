"""Per-layer metrics and spans from a traced run.

Everything is attributed by time: the loop has one client and runs one op at
a time, so a job, a Catalyst phase or a micro-batch that starts inside an
op's span belongs to that op, and to its build or its final write by which
sub-span it starts in. Jobs carry their op's job group as well; time is used
because streaming micro-batches replace the group with their query id.

Every metric is per traced pass (totals divided by the number of traced
passes), except `cache.resident_bytes` (largest value seen after an op's
teardown) and the ratios. `trace.overhead_frac` compares the traced passes
with the untraced passes of the same untraced / traced / traced / untraced
rounds, so a linear warm-up trend cancels out of it.
"""
from workloads import PER_LAYER

PHASES = ("analysis", "optimization", "planning")

def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _owner(samples, t):
    """(sample index, phase) of the op span containing time t, or None."""
    for i, s in enumerate(samples):
        if s["start"] <= t <= s["end"]:
            return i, ("build" if t < s["build_end"] else "exec")
    return None


def spans(h):
    """Spans of the traced passes: op > build / exec, plus job and
    Catalyst-phase spans parented to the op they started in (ms since epoch)."""
    tr = h["trace"]
    traced = [s for s in h["samples"] if s["traced"]]
    out = []
    op_ids = []
    for s in traced:
        oid = len(out)
        op_ids.append(oid)
        out.append({"id": oid, "parent": None, "name": s["op"], "kind": "op",
                    "pass": s["pass"], "start": s["start"], "end": s["end"],
                    "error": s.get("error"), "resident_bytes": s["resident_bytes"]})
        out.append({"id": len(out), "parent": oid, "name": "build", "kind": "queries",
                    "start": s["start"], "end": s["build_end"]})
        out.append({"id": len(out), "parent": oid, "name": "noop_write", "kind": "exec",
                    "start": s["build_end"], "end": s["end"]})

    def parent(t):
        o = _owner(traced, t)
        return op_ids[o[0]] if o else None

    for j in tr["jobs"]:
        out.append({"id": len(out), "parent": parent(j["start"]), "name": f"job {j['id']}",
                    "kind": "job", "start": j["start"], "end": max(j["end"], j["start"]),
                    "group": j["group"], "tasks": j["tasks"]})
    for x in tr["executions"]:
        for ph in PHASES:
            if ph in x:
                out.append({"id": len(out), "parent": parent(x[ph]["start"]), "name": ph,
                            "kind": "catalyst", "start": x[ph]["start"], "end": x[ph]["end"]})
    return out


def per_layer(h):
    tr = h["trace"]
    traced = [s for s in h["samples"] if s["traced"]]
    untraced = [s for s in h["samples"] if not s["traced"]]
    if not traced or not untraced:
        raise ValueError("a traced run needs traced and untraced op runs")
    n_pass = len({s["pass"] for s in traced})
    jobs = [(j, _owner(traced, j["start"])) for j in tr["jobs"]]
    jobs = [(j, o) for j, o in jobs if o is not None]
    build_jobs = [j for j, (_, ph) in jobs if ph == "build"]
    all_jobs = [j for j, _ in jobs]

    def tot(key, js=all_jobs):
        return sum(j[key] for j in js)

    phase_iv = {ph: [] for ph in PHASES}
    n_exec = 0
    for x in tr["executions"]:
        starts = [x[ph]["start"] for ph in PHASES if ph in x]
        if not starts or _owner(traced, min(starts)) is None:
            continue
        n_exec += 1
        for ph in PHASES:
            if ph in x:
                phase_iv[ph].append((x[ph]["start"], x[ph]["end"]))
    busy_iv = [(j["start"], j["end"]) for j in all_jobs if j["end"] >= j["start"]]
    busy_iv += [iv for ivs in phase_iv.values() for iv in ivs]
    wall_ms = sum(s["end"] - s["start"] for s in traced)
    self_ms = sum((s["end"] - s["start"]) - covered(busy_iv, s["start"], s["end"])
                  for s in traced)
    batches = tr["batches"]
    ms = 1000.0 * n_pass
    m = {
        "queries.build_s": sum(s["build_end"] - s["start"] for s in traced) / ms,
        "queries.build_jobs": len(build_jobs) / n_pass,
        "exec.noop_write_s": sum(s["end"] - s["build_end"] for s in traced) / ms,
        "driver.self_s": self_ms / ms,
        "catalyst.executions": n_exec / n_pass,
        "sched.jobs": len(all_jobs) / n_pass,
        "sched.stages": tot("stages") / n_pass,
        "sched.tasks": tot("tasks") / n_pass,
        "sched.job_s": sum(max(0, j["end"] - j["start"]) for j in all_jobs) / ms,
        "sched.executor_run_s": tot("run_ms") / ms,
        "sched.executor_cpu_s": tot("cpu_ns") / 1e6 / ms,
        "sched.gc_s": tot("gc_ms") / ms,
        "sched.task_failures": tot("task_failures") / n_pass,
        "sched.core_busy_frac": tot("run_ms") / (wall_ms * h["cores"]),
        "scan.bytes": tot("in_bytes") / n_pass,
        "scan.records": tot("in_records") / n_pass,
        "shuffle.write_bytes": tot("shuffle_write") / n_pass,
        "shuffle.read_bytes": tot("shuffle_read") / n_pass,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / ms,
        "spill.disk_bytes": tot("spill_disk") / n_pass,
        "spill.memory_bytes": tot("spill_mem") / n_pass,
        # the benchmark's own noop write is not a connection: sinks are the
        # writes an op makes while it builds (taps, Flow sinks, checkpoints)
        "connections.sink_bytes": tot("out_bytes", build_jobs) / n_pass,
        "connections.sink_records": tot("out_records", build_jobs) / n_pass,
        "connections.sink_task_s": tot("sink_task_ms", build_jobs) / ms,
        "streaming.batches": len(batches) / n_pass,
        "streaming.trigger_s": sum(b["trigger_ms"] for b in batches) / ms,
        "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / ms,
        "streaming.state_commit_s": sum(b["state_commit_ms"] for b in batches) / ms,
        "functions.reregistrations": tr["reregistrations"] / n_pass,
        "cache.resident_bytes": float(max(s["resident_bytes"] for s in traced)),
        "trace.overhead_frac": _busy(traced) / _busy(untraced) - 1.0,
    }
    for ph in PHASES:
        m[f"catalyst.{ph}_s"] = sum(e - s for s, e in phase_iv[ph]) / ms
    return {k: (m[k], unit) for k, unit in PER_LAYER.items()}


def _busy(samples):
    return sum(s["end"] - s["start"] for s in samples)


def untraced_drift(h):
    """How far the last untraced pass of each round differs from the first
    (a fraction): the noise floor that `trace.overhead_frac` must exceed to
    be resolved."""
    untraced = sorted((s for s in h["samples"] if not s["traced"]),
                      key=lambda s: (s["op"], s["pass"]))
    first, last = untraced[0::2], untraced[1::2]
    return _busy(last) / _busy(first) - 1.0
