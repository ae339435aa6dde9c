"""Pure statistics of a run: percentiles, the tail rule, attribution of
listener events to ops, and exclusive self-time by layer.

Nothing here touches Spark or the filesystem, so every rule can be
tested on a synthetic trace (see tests/test_stats.py).
"""
import math

TAIL_BEYOND = 10
SHORT_JOB_MS = 100


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(xs, beyond=TAIL_BEYOND):
    """The highest whole percentile (from 50 up) that leaves at least
    `beyond` samples above its nearest rank, as (percentile, value).

    With fewer than 2 x `beyond` samples no percentile above the median
    qualifies, and the tail is the median (percentile 50)."""
    n = len(xs)
    best = 50
    for p in range(51, 100):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            best = p
    return best, (percentile(xs, best) if best > 50 else median(xs))


def owner(ops, t):
    """The op whose window holds time t (ms), or None. An op's window runs
    from its start (landing, for ingest ops) to the end of its timed action."""
    for op in ops:
        if op["start_ms"] <= t <= op["end_ms"]:
            return op["id"]
    return None


def attribute(ops, events):
    """Group listener events by the op they belong to.

    Jobs belong to the op whose window holds their start time (one client
    thread, so windows never overlap); stages go with their job; a query
    execution goes with the op that holds the end of its last Catalyst
    phase, which runs when its action starts (its callback time when it
    has no phases): a DataFrame built inside an op but collected by the
    untimed check after it is the check's. A streaming trigger goes with
    the op that holds its start. Events outside every op window (setup,
    warm-up, untimed checks) are dropped."""
    by = {op["id"]: {"jobs": [], "stages": [], "qes": [], "triggers": []} for op in ops}
    stage_job = {}
    for j in events.get("jobs", []):
        oid = owner(ops, j["start"])
        if oid is not None:
            by[oid]["jobs"].append(j)
            for s in j["stages"]:
                stage_job.setdefault(s, oid)
    for s in events.get("stages", []):
        oid = stage_job.get(s["id"])
        if oid is not None:
            by[oid]["stages"].append(s)
    for q in events.get("qes", []):
        oid = owner(ops, q["phase_end"] or q["t"])
        if oid is not None:
            by[oid]["qes"].append(q)
    for t in events.get("triggers", []):
        oid = owner(ops, t["start"])
        if oid is not None:
            by[oid]["triggers"].append(t)
    return by


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [a, b] intervals, clipped to [lo, hi]."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    segs.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(window, labelled, default="other"):
    """Split `window` (a, b) into exclusive time per label.

    `labelled` is a list of (label, a, b) in priority order: where
    intervals overlap, the earlier label owns the time. Time covered by
    none of them goes to `default`. The parts sum to the window length."""
    lo, hi = window
    cuts = {lo, hi}
    for _, a, b in labelled:
        cuts.update(x for x in (a, b) if lo < x < hi)
    cuts = sorted(cuts)
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2.0
        label = next((lab for lab, x, y in labelled if x <= mid <= y), default)
        out[label] = out.get(label, 0) + (b - a)
    return out


def op_layers(op, ev, cpus, clk_tck):
    """Per-layer figures of one op from its attributed events, on a host
    with `cpus` cores and `clk_tck` /proc clock ticks per second."""
    jobs, stages, qes, trig = ev["jobs"], ev["stages"], ev["qes"], ev["triggers"]
    read_lo, hi = op["read_start_ms"], op["end_ms"]
    job_iv = [(j["start"], j["end"]) for j in jobs]
    read_jobs = [iv for iv in job_iv if iv[0] >= read_lo]
    phase_iv = [(q["phase_start"], q["phase_end"]) for q in qes if q["phase_start"]]
    trig_iv = [(t["start"], t["start"] + t["durations"].get("triggerExecution", 0)) for t in trig]
    calls = op.get("calls", [])
    run_ms = sum(s["run_ms"] for s in stages)
    wall_s = (hi - op["start_ms"]) / 1e3
    snap = op.get("snap", {})
    m = {
        "construct_s": op["construct_s"],
        "catalyst.analysis_s": sum(q["analysis_ms"] for q in qes) / 1e3,
        "catalyst.optimization_s": sum(q["optimization_ms"] for q in qes) / 1e3,
        "catalyst.planning_s": sum(q["planning_ms"] for q in qes) / 1e3,
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": sum(s["tasks"] for s in stages),
        "sched.short_jobs": sum(1 for a, b in job_iv if b - a < SHORT_JOB_MS),
        "driver_gap_s": op["latency_s"] - union_ms(read_jobs, read_lo, hi) / 1e3,
        "exec.run_s": run_ms / 1e3,
        "exec.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "exec.busy_frac": run_ms / 1e3 / (wall_s * cpus) if wall_s > 0 else 0.0,
        "shuffle.read_mb": sum(s["shuffle_read"] for s in stages) / 1e6,
        "shuffle.write_mb": sum(s["shuffle_write"] for s in stages) / 1e6,
        "shuffle.spill_mb": sum(s["spill"] for s in stages) / 1e6,
        "plan.exchanges": sum(q["exchanges"] for q in qes),
        "plan.broadcasts": sum(q["broadcasts"] for q in qes),
        "plan.single_partition": sum(q["single_partition"] for q in qes),
        "scan.input_mb": sum(s["input_bytes"] for s in stages) / 1e6,
        "scan.input_rows": sum(s["input_rows"] for s in stages),
        "pipe.child_cpu_s": snap.get("child_ticks", 0.0) / clk_tck,
        "fs.read_mb": snap.get("fs_read", 0.0) / 1e6,
        "fs.write_mb": snap.get("fs_write", 0.0) / 1e6,
        "cache.rdds": snap.get("cache_rdds", 0.0),
        "cache.mem_mb": snap.get("cache_mem", 0.0) / 1e6,
        "index.files": snap.get("index_files", 0.0),
        "index.mb": snap.get("index_bytes", 0.0) / 1e6,
        "index.compactions": 1 if snap.get("index_files", 0) < snap.get("index_files_before", 0) else 0,
    }
    dur = {k: sum(t["durations"].get(k, 0) for t in trig) / 1e3 for k in
           ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets",
            "latestOffset")}
    m.update({
        "trigger.total_s": dur["triggerExecution"],
        "trigger.add_batch_s": dur["addBatch"],
        "trigger.query_planning_s": dur["queryPlanning"],
        "trigger.wal_commit_s": dur["walCommit"],
        "trigger.commit_offsets_s": dur["commitOffsets"],
        "trigger.latest_offset_s": dur["latestOffset"],
        "trigger.jobs": sum(1 for a, _ in job_iv if any(x <= a <= y for x, y in trig_iv)),
        "stream.start_s": (sum(b - a for a, b in calls) / 1e3 - dur["triggerExecution"]
                           if calls else 0.0),
    })
    # exclusive time of the read (construct + timed action) by layer
    construct_end = op["construct_end_ms"]
    read = self_time((read_lo, hi), [("jobs", a, b) for a, b in read_jobs] +
                     [("catalyst", a, b) for a, b in phase_iv] +
                     [("construct", read_lo, construct_end)], default="driver")
    for k in ("jobs", "catalyst", "construct", "driver"):
        m[f"self.read.{k}_s"] = read.get(k, 0) / 1e3
    ingest = {}
    if calls:
        # an ingest op's time runs from landing until its first read returned
        ingest = self_time((op["start_ms"], hi),
                           [("trigger_jobs", a, b) for a, b in job_iv
                            if any(x <= a <= y for x, y in trig_iv)] +
                           [("trigger", a, b) for a, b in trig_iv] +
                           [("stream_call", a, b) for a, b in calls] +
                           [("read", read_lo, hi)], default="land")
    for k in ("trigger_jobs", "trigger", "stream_call", "read", "land"):
        m[f"self.ingest.{k}_s"] = ingest.get(k, 0) / 1e3
    return m


def spans(op, ev):
    """The op's span tree as flat records: op -> ingest / construct /
    execute / check -> Spark jobs, query executions and triggers."""
    oid = op["id"]
    phases = []
    if "ingest_end_ms" in op:
        phases.append(("ingest", op["start_ms"], op["ingest_end_ms"]))
    phases += [("construct", op["read_start_ms"], op["construct_end_ms"]),
               ("execute", op["construct_end_ms"], op["end_ms"]),
               ("check", op["end_ms"], op.get("check_end_ms", op["end_ms"]))]
    out = [{"op": oid, "kind": op["kind"], "span": "op", "parent": None,
            "start_ms": op["start_ms"], "end_ms": op.get("check_end_ms", op["end_ms"])}]
    kids = ([("job", j.get("desc") or j["id"], j["start"], j["end"]) for j in ev["jobs"]] +
            [("query", q.get("func", q["id"]), q["phase_start"] or q["t"], q["phase_end"] or q["t"])
             for q in ev["qes"]] +
            [("trigger", t["batch_id"], t["start"],
              t["start"] + t["durations"].get("triggerExecution", 0)) for t in ev["triggers"]])
    for name, a, b in phases:
        mine = [k for k in kids if a <= k[2] <= b]
        out.append({"op": oid, "kind": op["kind"], "span": name, "parent": "op",
                    "start_ms": a, "end_ms": b,
                    "self_ms": (b - a) - union_ms([(x, y) for _, _, x, y in mine], a, b)})
        out += [{"op": oid, "kind": op["kind"], "span": k, "ref": ref, "parent": name,
                 "start_ms": x, "end_ms": y} for k, ref, x, y in mine]
    return out
