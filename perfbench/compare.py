#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent and change), or summarize one.

    python3 perfbench/compare.py PARENT_RUNS [CHANGE_RUNS]

Each argument is a directory of run records (`.bench_build/runs/` as
perfbench/run.py leaves it) or a glob of record files. For each workload and
end-to-end metric it prints each side's median and quartiles, the spread
(quartile distance ÷ median), and with two sets the pair-win count: runs
are paired by seed, and a pair is a win when the change's value is better,
ties counting for neither. Beside the table it prints each side's median
host.calib_s, the host calibration, so a slow host shows apart from slow
code. A metric is "unresolved" when either side's
spread exceeds the metric's bound in BENCHMARK.json. A gain needs ≥ 9/10 of
the pairs and a median difference larger than the parent's quartile
distance; a regression is a median worse by more than the bound.

From traced runs it prints each layer's self time (span time minus the
time its child spans cover; the median over runs) and the tracing
overhead: traced pass_s minus untraced pass_s.
"""
import collections
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(arg):
    files = sorted(glob.glob(os.path.join(arg, "*.json")) if os.path.isdir(arg) else glob.glob(arg))
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        r["_file"] = f
        runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def self_times(spans_file):
    """{span name: summed self time} over the run's last pass and its
    per-layer calls (the spans the per-layer metrics come from)."""
    spans = [json.loads(ln) for ln in open(spans_file) if ln.strip()]
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    roots = [s for s in spans if s["name"] == "pass"][-1:] + \
        [s for s in spans if s["name"] == "layers"]
    scope, todo = [], list(roots)
    while todo:
        s = todo.pop()
        scope.append(s)
        todo.extend(kids[s["id"]])
    out = collections.Counter()
    for s in scope:
        if s["end"] is None or s["start"] is None:
            continue
        lo, hi = s["start"], s["end"]
        cover = sorted((max(lo, c["start"]), min(hi, c["end"])) for c in kids[s["id"]]
                       if c["start"] is not None and c["end"] is not None)
        covered, cur = 0.0, lo
        for a, b in cover:
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        name = s["name"].split(":")[0] if s["name"].startswith("op:") else s["name"]
        out[name] += max(0.0, (hi - lo) - covered)
    return out


def better(spec_m, new, old):
    return new < old if spec_m["better"] == "lower" else new > old


def main(argv):
    if not 1 <= len(argv) <= 2:
        raise SystemExit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = [load(a) for a in argv]
    names = ["parent", "change"][:len(sides)]
    workloads = sorted({r["workload"] for s in sides for r in s})
    for w in workloads:
        print(f"\n== {w}")
        plain = [[r for r in s if r["workload"] == w and not r["trace"] and r["correct"]]
                 for s in sides]
        bad = [sum(1 for r in s if r["workload"] == w and not r["correct"]) for s in sides]
        print("runs: " + ", ".join(f"{n} {len(p)} untraced ok, {b} not correct"
                                   for n, p, b in zip(names, plain, bad)))
        print("  host.calib_s   [s] " + " | ".join(
            f"{n} med {statistics.median(r['host.calib_s'] for r in p):.4g}" if p else f"{n}: -"
            for n, p in zip(names, plain)))
        for m in spec["end_to_end"]:
            cells, meds = [], []
            for n, p in zip(names, plain):
                xs = [r["metrics"][m["name"]] for r in p]
                if not xs:
                    cells.append(f"{n}: -")
                    meds.append(None)
                    continue
                q1, q2, q3 = quartiles(xs)
                sp = (q3 - q1) / q2 if q2 else float("inf")
                flag = " UNRESOLVED" if sp > m["bound"] else ""
                cells.append(f"{n} med {q2:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {sp:.1%}{flag}")
                meds.append((q2, q3 - q1, sp))
            line = f"  {m['name']:<14} [{m['unit']}] " + " | ".join(cells)
            if len(sides) == 2 and all(meds):
                by_seed = [{r["seed"]: r["metrics"][m["name"]] for r in p} for p in plain]
                seeds = sorted(set(by_seed[0]) & set(by_seed[1]))
                wins = sum(better(m, by_seed[1][s], by_seed[0][s]) for s in seeds)
                (m0, iqr0, sp0), (m1, _, sp1) = meds
                worse_by = (m1 - m0) / m0 if m["better"] == "lower" else (m0 - m1) / m0
                if sp0 > m["bound"] or sp1 > m["bound"]:
                    verdict = "unresolved"
                elif seeds and wins >= 0.9 * len(seeds) and abs(m1 - m0) > iqr0:
                    verdict = "gain"
                elif worse_by > m["bound"]:
                    verdict = "REGRESSION"
                else:
                    verdict = "no worse than bound"
                line += f" | wins {wins}/{len(seeds)} | {verdict}"
            print(line)
        traced = [[r for r in s if r["workload"] == w and r["trace"]] for s in sides]
        if any(traced):
            print("  tracing overhead (traced pass_s - untraced pass_s): " + ", ".join(
                f"{n} {statistics.median(r['layers']['trace.pass_s'] for r in t) - statistics.median(r['metrics']['pass_s'] for r in p):+.3f}s"
                for n, t, p in zip(names, traced, plain) if t and p))
            tables = []
            for t in traced:
                per_run = [self_times(r["_file"][:-5] + ".spans.jsonl") for r in t
                           if os.path.exists(r["_file"][:-5] + ".spans.jsonl")]
                keys = {k for c in per_run for k in c}
                tables.append({k: statistics.median(c.get(k, 0.0) for c in per_run)
                               for k in keys})
            print("  per-layer self time [s] (median over traced runs): " + " | ".join(names))
            for k in sorted(set().union(*tables), key=lambda k: -max(t.get(k, 0) for t in tables)):
                print(f"    {k:<48} " + " | ".join(f"{t.get(k, 0.0):9.3f}" for t in tables))
            print("  per-layer metrics (median over traced runs): " + " | ".join(names))
            for m in spec["per_layer"]:
                vals = [statistics.median(r["layers"][m["name"]] for r in t) if t else None
                        for t in traced]
                print(f"    {m['name']:<48} [{m['unit']}] " +
                      " | ".join("-" if v is None else f"{v:.4g}" for v in vals))


if __name__ == "__main__":
    main(sys.argv[1:])
