#!/usr/bin/env python3
"""Compare two checkouts of the program with the benchmark.

    python3 perfbench/compare.py --parent DIR --change DIR \
        [--workloads build,mixed_ops,watch] [--pairs 10] [--seed 1000]

Each directory is the root of a checkout holding BENCHMARK.json,
perfbench/ and src/. Both must carry the same benchmark files, so the
two sides are measured by identical benchmark code and settings.

For every workload the tool runs --pairs pairs of untraced runs,
parent and change on the same seed (seed, seed+1, ...), alternating
which side runs first. It then reports, per end-to-end metric, each
side's median and quartiles and the change's win share, and a verdict:

  gain         the change wins at least 9 of 10 pairs, the medians
               differ by more than the parent's own quartile spread,
               and the change fails no more runs or operations than
               the parent
  regression   the change's median is worse than the parent's by more
               than the metric's bound
  unresolved   fewer than 10 pairs, or the parent's spread is wider
               than the bound
  same         none of the above

Then one traced run per side on --trace-seed compares the exact
counters span by span and flags every increase in jobs, tasks or
shuffle bytes, whatever the wall-clock noise. A JSON report is written
to --out.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys


def tree_hash(root):
    """Hash of the files that decide what the benchmark measures."""
    h = hashlib.sha256()
    bench = os.path.join(root, "perfbench")
    paths = [os.path.join(root, "BENCHMARK.json")] + [
        os.path.join(bench, f) for f in ("run.py", "build.sbt", "log4j2.properties",
                                         os.path.join("project", "build.properties"))]
    for d, dirs, files in os.walk(os.path.join(bench, "src")):
        dirs.sort()
        paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run(root, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"compare: {root}: {workload} seed {seed} printed no result (exit {p.returncode})")
    r = json.loads(lines[-1])
    if not r["correct"]:
        print(f"compare: {root}: {workload} seed {seed} failed its output checks", file=sys.stderr)
    return r


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


MIN_PAIRS = 10


def verdict(spec, parent, change, more_failures):
    """Win share and verdict for one metric; `more_failures` says the
    change failed more runs or operations than the parent."""
    lower = spec["better"] == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    share = wins / len(parent)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    worse = (cmed - pmed) if lower else (pmed - cmed)
    if len(parent) < MIN_PAIRS:
        v = "unresolved"
    elif share >= 0.9 and abs(cmed - pmed) > (pq3 - pq1) and worse < 0 and not more_failures:
        v = "gain"
    elif worse > spec["bound"] * abs(pmed):
        v = "regression"
    elif (pq3 - pq1) > spec["bound"] * abs(pmed):
        v = "unresolved"
    else:
        v = "same"
    return share, v


COUNTS = ("jobs", "tasks", "shuffle_bytes")


def count_increases(parent_spans, change_spans):
    """Span-by-span exact counter comparison (spans matched by position
    and name); returns one line per increase."""
    out = []
    if [s["name"] for s in parent_spans] != [s["name"] for s in change_spans]:
        out.append("span sequences differ; comparing totals per span name")
        def totals(spans):
            t = {}
            for s in spans:
                d = t.setdefault(s["name"], dict.fromkeys(COUNTS, 0))
                for k in COUNTS:
                    d[k] += s[k]
            return t
        pt, ct = totals(parent_spans), totals(change_spans)
        for name in sorted(set(pt) | set(ct)):
            for k in COUNTS:
                a, b = pt.get(name, {}).get(k, 0), ct.get(name, {}).get(k, 0)
                if b > a:
                    out.append(f"{name}: {k} {a} -> {b}")
        return out
    for p, c in zip(parent_spans, change_spans):
        for k in COUNTS:
            if c[k] > p[k]:
                out.append(f"span {p['id']} {p['name']} (request {p['request']}): {k} {p[k]} -> {c[k]}")
    return out


def spans_of(root, workload, seed):
    path = os.path.join(root, "perfbench", "out", f"trace-{workload}-seed{seed}.jsonl")
    with open(path) as fh:
        return [r for r in map(json.loads, fh) if r["kind"] == "span"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", default=None, help="comma list; default: all in BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--trace-seed", type=int, default=7)
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                  "out", "compare_report.json"))
    a = ap.parse_args()
    parent, change = os.path.abspath(a.parent), os.path.abspath(a.change)
    if tree_hash(parent) != tree_hash(change):
        sys.exit("compare: the two checkouts carry different benchmark files")
    with open(os.path.join(change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]

    report = {"pairs": a.pairs, "seed": a.seed, "workloads": {}}
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(run(parent if side == "parent" else change, w, seed,
                                      spec["run_seconds"], 0))
        failed = {s: {"runs": sum(not r["correct"] for r in runs[s]),
                      "ops": sum(r["failed"] for r in runs[s])} for s in runs}
        more_failures = any(failed["change"][k] > failed["parent"][k] for k in ("runs", "ops"))
        rows = []
        print(f"\n{w}: {a.pairs} pairs, seeds {a.seed}..{a.seed + a.pairs - 1}; failed runs/ops "
              f"parent {failed['parent']['runs']}/{failed['parent']['ops']}, "
              f"change {failed['change']['runs']}/{failed['change']['ops']}")
        print(f"  {'metric':<14} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} win   verdict")
        for m in spec["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in runs["parent"]]
            c = [r["metrics"][m["name"]]["value"] for r in runs["change"]]
            share, v = verdict(m, p, c, more_failures)
            pq, cq = quartiles(p), quartiles(c)
            rows.append({"metric": m["name"], "unit": m["unit"], "parent": p, "change": c,
                         "parent_quartiles": pq, "change_quartiles": cq, "win_share": share,
                         "verdict": v})
            print(f"  {m['name']:<14} {pq[1]:>9.4g} [{pq[0]:.4g}, {pq[2]:.4g}] {m['unit']:<6}"
                  f"{'':4}{cq[1]:>9.4g} [{cq[0]:.4g}, {cq[2]:.4g}] {m['unit']:<6}"
                  f"{share:>5.2f}  {v}")
        run(parent, w, a.trace_seed, spec["run_seconds"], 1)
        run(change, w, a.trace_seed, spec["run_seconds"], 1)
        inc = count_increases(spans_of(parent, w, a.trace_seed), spans_of(change, w, a.trace_seed))
        print(f"  exact counts (trace seed {a.trace_seed}): "
              + ("no increase" if not inc else f"{len(inc)} increase(s)"))
        for line in inc:
            print(f"    INCREASE {line}")
        report["workloads"][w] = {"metrics": rows, "failed": failed, "count_increases": inc}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"\nreport written to {a.out}")


if __name__ == "__main__":
    main()
