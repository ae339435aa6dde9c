#!/usr/bin/env python3
"""Run one seeded benchmark workload against the engine built from source.

    python3 perfbench/run.py --workload batch|ingest --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It compiles src/main/scala and the
benchmark's JVM side (cached under .bench_build/), generates the workload's
inputs from the seed, runs one JVM at local[<cores>], checks every op's
output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, from listener events attributed to ops. Each run
also writes .bench_out/<workload>-seed<N>-trace<T>.json (per-op-type
breakdown, host noise, tail percentile) and, when traced, a .spans.jsonl
span tree beside it. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import jvm  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("batch", "ingest")
CLK_TCK = os.sysconf("SC_CLK_TCK")
COUNTS = ("sched.jobs", "sched.stages", "sched.tasks", "sched.short_jobs", "plan.exchanges",
          "plan.broadcasts", "plan.single_partition", "scan.input_rows", "index.compactions",
          "trigger.jobs")


def host_sample():
    """CPU ticks (total, steal) from /proc/stat and the 1-minute loadavg."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return sum(vals), (vals[7] if len(vals) > 7 else 0), load


def metric(value, unit):
    return {"value": value, "unit": unit}


def samples(ops):
    """Op-latency samples: a job on batch, a read on ingest (an ingest op's
    latency is the read that ends it)."""
    return [o["latency_s"] for o in ops]


def end_to_end(rec, setup_s, ok_ops):
    lat = samples(ok_ops)
    busy_s = sum((o["end_ms"] - o["start_ms"]) / 1e3 for o in ok_ops)
    return {
        "setup_s": metric(setup_s, "s"),
        "ops_per_s": metric(len(ok_ops) / busy_s if busy_s else 0.0, "1/s"),
        "op_p50_s": metric(stats.median(lat), "s"),
        "op_tail_s": metric(stats.tail(lat)[1], "s"),
    }


def per_layer(rec, gen_s, ok_ops, layers, host, attempted, failed):
    m = {}
    setup = rec["setup"]
    m["setup.session_s"] = metric(setup["session_s"], "s")
    m["setup.inputs_s"] = metric(gen_s, "s")
    m["setup.artifacts_s"] = metric(setup["artifacts_s"], "s")
    m["setup.warm_s"] = metric(setup["warm_s"], "s")
    m["rss_peak_mb"] = metric(rec["rss_hwm_kb"] / 1024.0, "MB")
    names = sorted({k for v in layers.values() for k in v})
    for k in names:
        # the median runs over the ops of the kinds that use the layer
        # (the pipe job for pipe.*, ingest ops for trigger.*), all ops if none does
        using = {o["kind"] for o in ok_ops if layers[o["id"]].get(k)}
        vals = [layers[o["id"]].get(k, 0.0) for o in ok_ops if not using or o["kind"] in using]
        unit = ("count" if k in COUNTS or k in ("cache.rdds", "index.files") else
                "MB" if k.endswith("mb") else "ratio" if k.endswith("_frac") else "s")
        m[k] = metric(stats.median(vals), unit)
        if k in COUNTS:
            m[k + ".total"] = metric(sum(vals), "count")
    ing = [o["ingest_s"] for o in ok_ops if "ingest_s" in o]
    docs = sum(o.get("admitted", 0) for o in ok_ops)
    m["ingest_p50_s"] = metric(stats.median(ing), "s")
    m["ingest_tail_s"] = metric(stats.tail(ing)[1], "s")
    m["ingest_docs_per_s"] = metric(docs / sum(ing) if ing else 0.0, "1/s")
    lat = samples(ok_ops)
    p, _ = stats.tail(lat)
    m["op_tail.percentile"] = metric(p, "pct")
    m["op_tail.samples"] = metric(len(lat), "count")
    untraced = samples(o for o in rec["untraced_ops"] if o.get("ok"))
    traced_p50, plain_p50 = stats.median(lat), stats.median(untraced)
    m["trace.op_p50_s"] = metric(traced_p50, "s")
    m["trace.untraced_op_p50_s"] = metric(plain_p50, "s")
    m["trace.overhead_frac"] = metric(traced_p50 / plain_p50 - 1.0 if plain_p50 else 0.0, "ratio")
    m["host.steal_frac"] = metric(host["steal_frac"], "ratio")
    m["host.loadavg"] = metric(host["loadavg_end"], "load")
    m["ops_failed_frac"] = metric(failed / attempted, "ratio")
    return m


def breakdown(ok_ops, layers):
    """Per-op-type medians: latency, host steal while the op ran, ingest
    time and (traced) every layer."""
    out = {}
    for kind in sorted({o["kind"] for o in ok_ops}):
        mine = [o for o in ok_ops if o["kind"] == kind]
        row = {"n": len(mine), "op_p50_s": stats.median([o["latency_s"] for o in mine]),
               "steal_frac": stats.median([o["steal_frac"] for o in mine])}
        if any("ingest_s" in o for o in mine):
            row["ingest_p50_s"] = stats.median([o["ingest_s"] for o in mine])
        for k in sorted({k for o in mine for k in layers.get(o["id"], {})}):
            row[k] = stats.median([layers[o["id"]].get(k, 0.0) for o in mine])
        out[kind] = row
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classes = os.path.abspath(build.build(root))

    t0 = time.time()  # setup_s runs from here to the first timed op
    total0, steal0, load0 = host_sample()
    work = os.path.join(root, ".bench_work", a.workload)
    inputs = os.path.join(work, "inputs")
    shutil.rmtree(work, ignore_errors=True)
    gen.generate(a.workload, a.seed, inputs)
    gen_s = time.time() - t0
    shutil.copytree(os.path.join(HERE, "mr"), os.path.join(inputs, "mr"))
    cpus = len(os.sched_getaffinity(0))
    rec_path = os.path.join(work, "record.json")
    rc = jvm.run(root, classes, [
        "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--inputs", inputs, "--work", work, "--out", rec_path, "--cpus", str(cpus)],
        work, os.path.join(work, "jvm.log"))
    if rc != 0 or not os.path.exists(rec_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: perfbench.Main exited with {rc}")
    total1, steal1, load1 = host_sample()
    host = {"steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "loadavg_start": load0, "loadavg_end": load1}
    with open(rec_path) as f:
        rec = json.load(f)

    wrong = checks.check(a.workload, rec, inputs)
    all_ops = rec["untraced_ops"] + rec["ops"]
    attempted = len(all_ops)
    failed = sum(1 for o in all_ops if wrong.get(o["id"]))
    ok_ops = [o for o in rec["ops"] if not wrong.get(o["id"])]
    if a.workload == "ingest":  # documents admitted per landed file
        admitted = {}
        v = pq.read_table(os.path.join(rec["finish"]["dumps"], "verdicts")).to_pylist()
        batch_of = {name: i for i, name in enumerate(rec["finish"]["landed"])}
        for r in v:
            if r["verdict"] == "admitted":
                admitted[r["batch"]] = admitted.get(r["batch"], 0) + 1
        for o in all_ops:
            o["admitted"] = admitted.get(batch_of.get(o.get("file")), 0)

    layers, span_rows = {}, []
    if a.trace:
        by = stats.attribute(rec["ops"], rec["events"])
        for o in ok_ops:
            layers[o["id"]] = stats.op_layers(o, by[o["id"]], cpus, CLK_TCK)
            span_rows += stats.spans(o, by[o["id"]])
        metrics = per_layer(rec, gen_s, ok_ops, layers, host, attempted, failed)
    else:
        metrics = end_to_end(rec, rec["setup"]["first_op_ms"] / 1e3 - t0, ok_ops)

    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    lat = samples(ok_ops)
    with open(stem + ".json", "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": cpus,
                   "metrics": metrics, "host": host, "setup": rec["setup"],
                   "inputs_s": gen_s, "tail": dict(zip(("percentile", "value"), stats.tail(lat)),
                                                   samples=len(lat)),
                   "failures": {str(k): v for k, v in wrong.items() if v},
                   "by_kind": breakdown(ok_ops, layers)}, f, indent=1, sort_keys=True)
    if a.trace:
        with open(stem + ".spans.jsonl", "w") as f:
            f.write("".join(json.dumps(r, sort_keys=True) + "\n" for r in span_rows))
    for k, v in sorted(wrong.items()):
        if v:
            sys.stderr.write(f"perfbench: op {k} wrong: {v}\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
