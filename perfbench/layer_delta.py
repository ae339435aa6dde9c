#!/usr/bin/env python3
"""Split the op_p50_s and ingest_p50_s deltas between two commits into
per-layer self-time deltas.

    python3 perfbench/layer_delta.py BASE_DIR NEW_DIR [--json]

Each directory holds traced-run breakdown files as run.py writes them
(`.bench_out/<workload>-seed<N>-trace1.json`), for example the
`.bench_out` of two checkouts. For every workload found in both, the
report takes the median over runs of each figure and prints, per layer,
the base value, the new value and the delta. The read layers partition
an op's wall time (Spark jobs, Catalyst phases outside jobs, construction
outside both, the remaining driver time), and the ingest layers partition
an ingest's wall time (jobs inside triggers, the rest of the triggers,
stream start and stop outside triggers, the first read, landing), so their
deltas add up to the total's delta up to the residual that comes from
taking medians part by part.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median  # noqa: E402

SPLITS = {
    "trace.op_p50_s": ["self.read.jobs_s", "self.read.catalyst_s",
                       "self.read.construct_s", "self.read.driver_s"],
    "ingest_p50_s": ["self.ingest.trigger_jobs_s", "self.ingest.trigger_s",
                     "self.ingest.stream_call_s", "self.ingest.read_s",
                     "self.ingest.land_s"],
}
CONTEXT = ["sched.jobs", "sched.short_jobs", "plan.exchanges", "shuffle.write_mb",
           "exec.cpu_s", "trigger.jobs", "trace.overhead_frac", "host.steal_frac"]


def load(d):
    """{workload: {metric: median over that workload's traced runs}}."""
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*-trace1.json"))):
        with open(p) as f:
            b = json.load(f)
        runs.setdefault(b["workload"], []).append(
            {k: v["value"] for k, v in b["metrics"].items()})
    return {w: {k: median([r[k] for r in rs if k in r]) for k in rs[0]}
            for w, rs in runs.items()}


def report(base, new):
    rows = []
    for w in sorted(set(base) & set(new)):
        a, b = base[w], new[w]
        for total, parts in SPLITS.items():
            if not a.get(total) and not b.get(total):
                continue
            d_total = b.get(total, 0.0) - a.get(total, 0.0)
            rows.append((w, total, a.get(total, 0.0), b.get(total, 0.0), d_total))
            d_parts = 0.0
            for k in parts:
                d = b.get(k, 0.0) - a.get(k, 0.0)
                d_parts += d
                rows.append((w, "  " + k, a.get(k, 0.0), b.get(k, 0.0), d))
            rows.append((w, "  residual", None, None, d_total - d_parts))
        for k in CONTEXT:
            if k in a or k in b:
                rows.append((w, k, a.get(k, 0.0), b.get(k, 0.0),
                             b.get(k, 0.0) - a.get(k, 0.0)))
    return rows


def main():
    args = [x for x in sys.argv[1:] if not x.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    rows = report(load(args[0]), load(args[1]))
    if "--json" in sys.argv:
        print(json.dumps([dict(zip(("workload", "metric", "base", "new", "delta"), r))
                          for r in rows]))
        return
    fmt = lambda v: "" if v is None else f"{v:10.4f}"
    print(f"{'workload':8} {'metric':32} {'base':>10} {'new':>10} {'delta':>10}")
    for w, k, a, b, d in rows:
        print(f"{w:8} {k:32} {fmt(a):>10} {fmt(b):>10} {fmt(d):>10}")


if __name__ == "__main__":
    main()
