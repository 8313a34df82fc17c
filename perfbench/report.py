#!/usr/bin/env python3
"""Human-readable benchmark report, from the root of a checkout.

    python3 perfbench/report.py                      # every end-to-end metric, one run per workload
    python3 perfbench/report.py --runs 10            # ... with the run-to-run spread of each
    python3 perfbench/report.py --runs 5 --sets 2    # steadiness: two sets on the same seeds
    python3 perfbench/report.py --trace              # per-layer table, span self times, overhead
    python3 perfbench/report.py --trace --sets 2     # ... and which counters do not repeat

Each run is one `perfbench/run.py` call (seeds `--seed`, `--seed`+1, ...),
so the figures are the ones the benchmark reports. Spread is the distance
between the first and third quartile as a share of the median; a second
set flags a metric whose median got worse by more than its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# counters that do not depend on the speed of the box
COUNTED = (".shuffle_bytes", ".output_bytes", ".tasks")


def run_once(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(SPEC["run_seconds"]), "--trace", str(int(trace))]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    res["failing_ops"] = sorted({l.split(": ")[1] for l in r.stderr.splitlines()
                                 if l.startswith("[perfbench] failing op: ")})
    if trace:
        res["spans"] = json.load(open(os.path.join(ROOT, ".bench_build", "perfbench", workload, "spans.json")))
    return res


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else float("nan")


def self_times(spans):
    """Mean self time per pass (ms) by span name; self time is a span's
    duration minus the part of it its children cover. Jobs and stages are
    summed by kind, SQL executions that are not a ModelGraph node by op.
    Stages that run at the same time each count in full, so the sum can
    exceed the pass wall."""
    kids, by_id = {}, {s["id"]: s for s in spans}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    total = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, edge = 0.0, lo
        for a, b in sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"])) for c in kids.get(s["id"], [])):
            if b > edge:
                covered += b - max(a, edge)
                edge = b
        if s["kind"] in ("job", "stage"):
            key = s["kind"]
        elif s["kind"] == "sql" and s["name"].startswith("sql"):
            key = f"sql in op:{by_id[s['parent']]['name']}"
        else:
            key = f"{s['kind']}:{s['name']}"
        total[key] = total.get(key, 0.0) + (hi - lo) - covered
    passes = max(1, sum(1 for s in spans if s["kind"] == "pass"))
    return {k: v / passes for k, v in total.items()}


def e2e_table(sets):
    bounds = {m["name"]: m for m in SPEC["end_to_end"]}
    for w in SPEC["workloads"]:
        name = w["name"]
        print(f"\n== {name}: {w['why']}")
        for i, runs in enumerate(sets, 1):
            rs = runs[name]
            bad = sorted({op for r in rs for op in r["failing_ops"]})
            verdict = "correct" if all(r["correct"] for r in rs) else f"INCORRECT (failing ops: {', '.join(bad)})"
            print(f"set {i}: {len(rs)} run(s), {verdict}")
        print(f"  {'metric':<18}{'unit':<8}" + "".join(f"{'median':>14}{'spread':>9}" for _ in sets)
              + f"{'bound':>8}  verdict")
        for m, spec in bounds.items():
            meds, cells = [], ""
            for runs in sets:
                xs = [r["metrics"][m]["value"] for r in runs[name]]
                meds.append(statistics.median(xs))
                cells += f"{meds[-1]:>14.4f}{spread(xs):>9.3f}"
            verdict = ""
            if len(sets) == 2:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if spec["better"] == "lower" else -1)
                verdict = "ok" if worse <= spec["bound"] else f"WORSE by {worse:.3f}"
            print(f"  {m:<18}{spec['unit']:<8}{cells}{spec['bound']:>8}  {verdict}")


def trace_table(sets):
    names = [w["name"] for w in SPEC["workloads"]]
    print(f"\n{'per-layer metric':<44}{'unit':<7}" + "".join(f"{n:>16}" for n in names))
    for m in SPEC["per_layer"]:
        cells = "".join(f"{statistics.median(r['metrics'][m['name']]['value'] for r in sets[0][n]):>16.4g}"
                        for n in names)
        print(f"{m['name']:<44}{m['unit']:<7}{cells}")
    for n in names:
        last = sets[0][n][-1]
        st = self_times(last["spans"])
        print(f"\n== {n}: mean self time per traced pass (ms), last run")
        for k, v in sorted(st.items(), key=lambda kv: -kv[1])[:25]:
            print(f"  {k:<48}{v:>10.1f}")
        walls = [s["end_ms"] - s["start_ms"] for s in last["spans"] if s["kind"] == "pass"]
        busy = sum(v["value"] for k, v in last["metrics"].items() if k.endswith(".busy_s"))
        print(f"  {'pass wall (mean)':<48}{statistics.mean(walls):>10.1f}")
        print(f"  {'layer busy_s + harness.remainder_s (medians)':<48}"
              f"{1e3 * (busy + last['metrics']['harness.remainder_s']['value']):>10.1f}")
    if len(sets) == 2:
        print("\nbox-independent counters between the two sets (same seeds):")
        moved = [(n, m["name"]) for n in names for m in SPEC["per_layer"] if m["name"].endswith(COUNTED)
                 if [r["metrics"][m["name"]]["value"] for r in sets[0][n]]
                 != [r["metrics"][m["name"]]["value"] for r in sets[1][n]]]
        print("  all repeat exactly" if not moved else "\n".join(f"  {n}: {m} differs" for n, m in moved))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=1, help="runs per workload per set")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    sets = []
    for _ in range(a.sets):
        sets.append({w["name"]: [run_once(w["name"], a.seed + i, a.trace) for i in range(a.runs)]
                     for w in SPEC["workloads"]})
    if a.trace:
        trace_table(sets)
        print("\ntracing overhead (traced minus untraced wall_s, median of runs):")
        for n in sets[0]:
            print(f"  {n:<16}{statistics.median(r['metrics']['trace.overhead_s']['value'] for r in sets[0][n]):>10.3f} s")
    else:
        e2e_table(sets)


if __name__ == "__main__":
    main()
