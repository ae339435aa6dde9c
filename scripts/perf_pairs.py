#!/usr/bin/env python3
"""Compare two checkouts on one benchmark workload in alternating pairs.

    python3 scripts/perf_pairs.py PARENT CHANGE --workload W --seed N --pairs K
        [--claim METRIC] [--runs FILE]
    python3 scripts/perf_pairs.py --analyze FILE [--claim METRIC]

Each pair runs `perfbench/run.py --trace 0` for BENCHMARK.json's
`run_seconds` once in PARENT and once in CHANGE, each from its own
checkout; pair i runs PARENT first when i is even and CHANGE first when
it is odd. The benchmark spec is read from PARENT (from the working
directory under `--analyze`). Every run's JSON result is appended to
FILE (default `perf_pairs-<workload>-seed<N>.jsonl` in the working
directory): a second call on the same file adds pairs after the ones it
holds, and `--analyze` redoes the verdicts without running anything.

The pairs are judged per (workload, seed): one verdict per metric and
group, never pooled across workloads or seeds. For each group and each
end-to-end metric it prints both sides' median and quartiles and the
pairs the change won, the median over runs of each op kind's
`op_p50_s`, then a verdict:

- the `--claim`ed metric holds when the change wins at least 9/10 of
  the group's pairs (ties count for neither side) AND the medians differ,
  in the better direction, by more than the parent's interquartile
  range;
- every other metric fails when the change's median is worse than the
  parent's by more than the metric's relative bound;
- the change fails when a larger share of its ops failed.

The exit status is 0 when every verdict of every group passes, 1
otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

WIN_SHARE = 0.9


def quartiles(xs):
    """(q1, median, q3) of the samples, inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def improvement(parent, change, better):
    """How much better `change` is than `parent`: positive is better."""
    return change - parent if better == "higher" else parent - change


def verdict(pairs, better, bound, claimed):
    """The verdict on one metric over (parent, change) value pairs.

    Returns a dict with both sides' quartiles, the change's wins and
    `ok`. A claimed metric needs wins >= 9/10 of the pairs and a median
    gap in the better direction larger than the parent's IQR; any other
    metric needs its change median no worse than the parent's by more
    than `bound` (relative to the parent's median)."""
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    pq, cq = quartiles(par), quartiles(chg)
    wins = sum(1 for p, c in pairs if improvement(p, c, better) > 0)
    gap = improvement(pq[1], cq[1], better)
    iqr = pq[2] - pq[0]
    out = {"parent": pq, "change": cq, "wins": wins, "pairs": len(pairs), "gap": gap,
           "parent_iqr": iqr}
    if claimed:
        out["ok"] = wins >= WIN_SHARE * len(pairs) and gap > iqr
        out["rule"] = f"wins >= {WIN_SHARE:.0%} of pairs and median gap > parent IQR"
    else:
        worse = -gap / abs(pq[1]) if pq[1] else (0.0 if gap >= 0 else float("inf"))
        out["worse_frac"] = worse
        out["ok"] = worse <= bound
        out["rule"] = f"no more than {bound:.0%} worse than the parent median"
    return out


def failed_share(runs):
    attempted = sum(r["attempted"] for r in runs)
    return sum(r["failed"] for r in runs) / attempted if attempted else 0.0


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"perf_pairs: run in {checkout} exited with {p.returncode}")
    res = json.loads(lines[-1])
    # the run's per-op-kind medians, which run.py writes beside its result
    with open(os.path.join(checkout, ".bench_out", f"{workload}-seed{seed}-trace0.json")) as f:
        res["by_kind"] = json.load(f)["by_kind"]
    return res


def load_runs(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def groups(runs):
    """The complete (parent, change) pairs of `runs`, keyed by
    (workload, seed) in sorted order."""
    by = {}
    for r in runs:
        by.setdefault((r["workload"], r["seed"]), {}).setdefault(r["pair"], {})[r["side"]] = r["result"]
    out = {}
    for key in sorted(by):
        full = [by[key][i] for i in sorted(by[key]) if len(by[key][i]) == 2]
        if full:
            out[key] = full
    return out


def report(runs, spec, claim):
    """Print each (workload, seed) group's table and verdicts; True when
    every group passes."""
    names = [m["name"] for m in spec["end_to_end"]]
    if claim is not None and claim not in names:
        raise SystemExit(f"perf_pairs: --claim {claim} is not an end-to-end metric: {names}")
    by = groups(runs)
    if not by:
        raise SystemExit("perf_pairs: no complete pair to analyze")
    ok = True
    for (workload, seed), full in by.items():
        print(f"== {workload}, seed {seed}: {len(full)} pairs")
        ok &= report_group(full, spec, claim)
    return ok


def report_group(full, spec, claim):
    """Print one group's per-metric table and verdicts; True when all pass."""
    ok = True
    for m in spec["end_to_end"]:
        pairs = [(p["parent"]["metrics"][m["name"]]["value"], p["change"]["metrics"][m["name"]]["value"])
                 for p in full]
        v = verdict(pairs, m["better"], m["bound"], m["name"] == claim)
        ok &= v["ok"]
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{m['name']:>10} ({m['better']} better)  parent q1/med/q3 {fmt(v['parent'])}  "
              f"change {fmt(v['change'])}  wins {v['wins']}/{v['pairs']}  "
              f"{'CLAIM ' if m['name'] == claim else ''}{'ok' if v['ok'] else 'FAIL'} ({v['rule']})")
    kinds = sorted({k for p in full for side in p.values() for k in side.get("by_kind", {})})
    for k in kinds:
        per = {side: [p[side]["by_kind"][k]["op_p50_s"] for p in full
                      if k in p[side].get("by_kind", {})] for side in ("parent", "change")}
        print(f"{k:>12} op_p50_s per run: parent median {statistics.median(per['parent']):.4g}, "
              f"change median {statistics.median(per['change']):.4g} "
              f"({len(per['parent'])}/{len(per['change'])} runs)")
    fp = failed_share([p["parent"] for p in full])
    fc = failed_share([p["change"] for p in full])
    print(f"failed ops: parent {fp:.3f}, change {fc:.3f}  {'ok' if fc <= fp else 'FAIL'}")
    return ok and fc <= fp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--claim", help="the end-to-end metric the change claims to improve")
    ap.add_argument("--runs", help="JSON-lines file of run results (appended to)")
    ap.add_argument("--analyze", metavar="FILE", help="only print the verdict of FILE's runs")
    a = ap.parse_args()
    with open("BENCHMARK.json" if a.analyze else os.path.join(a.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.analyze:
        sys.exit(0 if report(load_runs(a.analyze), spec, a.claim) else 1)
    if not (a.parent and a.change and a.workload and a.seed is not None):
        ap.error("PARENT, CHANGE, --workload and --seed are required unless --analyze")
    path = a.runs or f"perf_pairs-{a.workload}-seed{a.seed}.jsonl"
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    # a rerun on the same file resumes the pair numbering (and alternation)
    done = [r["pair"] for r in load_runs(path) if (r["workload"], r["seed"]) == (a.workload, a.seed)] \
        if os.path.exists(path) else []
    start = max(done) + 1 if done else 0
    for i in range(start, start + a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_one(sides[side], a.workload, a.seed, spec["run_seconds"])
            with open(path, "a") as f:
                f.write(json.dumps({"pair": i, "side": side, "workload": a.workload,
                                    "seed": a.seed, "result": res}) + "\n")
            e2e = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"pair {i} {side}: {e2e} failed {res['failed']}/{res['attempted']}", flush=True)
    sys.exit(0 if report(load_runs(path), spec, a.claim) else 1)


if __name__ == "__main__":
    main()
