"""Runs the benchmark repeatedly and judges the results.

    # ten seeds of every workload on one checkout, then their spread
    python3 perfbench/compare.py runs --checkout . --seeds 1-10 --out runs.jsonl
    python3 perfbench/compare.py spread runs.jsonl

    # the baseline of this machine, from ten seeds and one traced run a workload
    python3 perfbench/compare.py runs --seeds 1 --trace 1 --out traced.jsonl
    python3 perfbench/compare.py baseline runs.jsonl traced.jsonl --out perfbench/baseline.json

    # parent vs change: pairs alternate which side runs first, same seed per pair
    python3 perfbench/compare.py pairs --parent ../parent --change . --pairs 10 --out pairs.jsonl
    python3 perfbench/compare.py judge pairs.jsonl

`judge` applies one rule to every end-to-end metric, one row per workload:
a gain needs the change to win at least 9 of 10 pairs (ties count for
neither side) and a median gap larger than the parent's interquartile
spread; otherwise the change's median may be worse than the parent's by at
most the metric's bound from BENCHMARK.json, and a metric whose parent
spread exceeds its bound is "unresolved" unless every change run beats
every parent run. Exits 1 on any regression.
"""

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)
METRICS = {m["name"]: m for m in SPEC["end_to_end"]}


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(checkout, workload, seed, trace=0):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout}: {workload} seed {seed} (exit {r.returncode})")
    return json.loads(lines[-1])


def record(out, **rec):
    with open(out, "a", encoding="utf-8") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps({k: v for k, v in rec.items() if k != "metrics"}), file=sys.stderr)


def bench_digest(checkout):
    h = hashlib.sha256()
    top = os.path.join(checkout, "perfbench")
    for d, _, files in sorted(os.walk(top)):
        for f in sorted(files):
            if f.endswith((".py", ".scala", ".md", ".json")):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, top).encode())
                h.update(open(p, "rb").read())
    return h.hexdigest()


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def cmd_runs(a):
    for w in a.workloads:
        for s in seeds(a.seeds):
            record(a.out, workload=w, seed=s,
                   metrics=run_one(a.checkout, w, s, a.trace)["metrics"])


def cmd_spread(a):
    recs = load(a.file)
    ok = True
    for w in sorted({r["workload"] for r in recs}):
        for name, m in METRICS.items():
            v = [r["metrics"][name]["value"] for r in recs if r["workload"] == w and name in r["metrics"]]
            if not v:
                continue
            q1, q2, q3 = quartiles(v)
            spread = (q3 - q1) / q2 if q2 else 0.0
            verdict = ("steady" if spread <= m["bound"] / 3 else "within bound" if spread <= m["bound"]
                       else "TOO WIDE")
            ok &= spread <= m["bound"]
            print(f"{w:15s} {name:14s} n={len(v):2d} median {q2:12.5g} spread {spread:6.3f} "
                  f"bound {m['bound']:.2f}  {verdict}")
    sys.exit(0 if ok else 1)


def cmd_baseline(a):
    recs = [r for f in a.files for r in load(f)]
    out = {"cores": len(os.sched_getaffinity(0)), "cpu": cpu_model(), "workloads": {}}
    for w in sorted({r["workload"] for r in recs}):
        e2e = {}
        for name in METRICS:
            v = [r["metrics"][name]["value"] for r in recs if r["workload"] == w and name in r["metrics"]]
            if v:
                q1, q2, q3 = quartiles(v)
                e2e[name] = {"median": q2, "q1": q1, "q3": q3, "n": len(v),
                             "unit": METRICS[name]["unit"]}
        traced = [r for r in recs if r["workload"] == w and "dftly.parse.ms" in r["metrics"]]
        out["workloads"][w] = {
            "end_to_end": e2e,
            "per_layer": {f"seed {r['seed']}": {k: m["value"] for k, m in r["metrics"].items()}
                          for r in traced},
        }
    with open(a.out, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


def cpu_model():
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as f:
            return next(line.split(":", 1)[1].strip() for line in f if line.startswith("model name"))
    except (OSError, StopIteration):
        return "unknown"


def cmd_pairs(a):
    if bench_digest(a.parent) != bench_digest(a.change):
        raise SystemExit("the two checkouts carry different benchmark code; compare with identical perfbench/")
    for k in range(a.pairs):
        sides = [("parent", a.parent), ("change", a.change)]
        if k % 2:
            sides.reverse()
        for w in a.workloads:
            for i, (side, checkout) in enumerate(sides):
                record(a.out, side=side, pair=k, first=(i == 0), workload=w, seed=a.seed0 + k,
                       metrics=run_one(checkout, w, a.seed0 + k)["metrics"])


def judge_metric(m, pairs):
    """pairs: [(parent, change)] of one metric on one workload."""
    lower = m["better"] == "lower"
    p = [x for x, _ in pairs]
    c = [y for _, y in pairs]
    wins = sum((y < x) if lower else (y > x) for x, y in pairs)
    q1, pm, q3 = quartiles(p)
    cm = statistics.median(c)
    gap = (pm - cm) if lower else (cm - pm)
    if wins >= 0.9 * len(pairs) and gap > q3 - q1:
        return "gain", wins
    worse = -gap / pm if pm else 0.0
    all_better = (max(c) < min(p)) if lower else (min(c) > max(p))
    if pm and (q3 - q1) / pm > m["bound"] and not all_better:
        return "unresolved", wins
    return ("REGRESSION" if worse > m["bound"] else "no regression"), wins


def cmd_judge(a):
    recs = load(a.file)
    by = {}
    for r in recs:
        by.setdefault((r["workload"], r["pair"]), {})[r["side"]] = r["metrics"]
    workloads = sorted({w for w, _ in by})
    names = [n for n in METRICS if any(n in s.get("parent", {}) for s in by.values())]
    print("workload        " + "  ".join(f"{n:>16s}" for n in names))
    bad = False
    details = []
    for w in workloads:
        cells = []
        for n in names:
            pairs = [(s["parent"][n]["value"], s["change"][n]["value"])
                     for (ww, _), s in sorted(by.items()) if ww == w and "parent" in s and "change" in s]
            verdict, wins = judge_metric(METRICS[n], pairs)
            bad |= verdict == "REGRESSION"
            cells.append(f"{verdict:>16s}")
            q = [quartiles([x for x, _ in pairs]), quartiles([y for _, y in pairs])]
            details.append(f"{w:15s} {n:14s} parent {q[0][1]:.5g} [{q[0][0]:.5g}, {q[0][2]:.5g}]  "
                           f"change {q[1][1]:.5g} [{q[1][0]:.5g}, {q[1][2]:.5g}]  "
                           f"change wins {wins}/{len(pairs)}  {verdict}")
        print(f"{w:15s} " + "  ".join(cells))
    print("\n" + "\n".join(details))
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    all_w = [w["name"] for w in SPEC["workloads"]]
    r = sub.add_parser("runs", help="run seeds of workloads on one checkout")
    r.add_argument("--checkout", default=".")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", nargs="+", default=all_w)
    r.add_argument("--trace", type=int, choices=[0, 1], default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("spread", help="interquartile spread of each metric over runs")
    s.add_argument("file")
    b = sub.add_parser("baseline", help="medians and quartiles per workload, and traced per-layer values")
    b.add_argument("files", nargs="+")
    b.add_argument("--out", required=True)
    p = sub.add_parser("pairs", help="alternating parent/change pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--workloads", nargs="+", default=all_w)
    p.add_argument("--out", required=True)
    j = sub.add_parser("judge", help="apply the gain / regression rule to pairs")
    j.add_argument("file")
    a = ap.parse_args()
    {"runs": cmd_runs, "spread": cmd_spread, "baseline": cmd_baseline, "pairs": cmd_pairs,
     "judge": cmd_judge}[a.cmd](a)


if __name__ == "__main__":
    main()
