#!/usr/bin/env python3
"""Compare two sets of benchmark runs (guide section 8).

    # alternating pairs of runs in two checkouts, one JSON line per run
    python3 perfbench/compare.py collect PARENT_DIR CHANGE_DIR OUT_DIR [--pairs 10]
    # verdict per workload: regression bound of every end-to-end metric and
    # the gain rule (>= 10 pairs, >= 9/10 wins, median gap > parent IQR)
    python3 perfbench/compare.py compare OUT_DIR/parent.jsonl OUT_DIR/change.jsonl
    # run-to-run spread (IQR / median) of one set, against each bound
    python3 perfbench/compare.py spread OUT_DIR/parent.jsonl

Each line of a .jsonl file is {"workload", "seed", "pair", "result"}, where
`result` is the last line `perfbench/run.py` printed.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench(path):
    with open(path) as f:
        b = json.load(f)
    return b, {m["name"]: m for m in b["end_to_end"]}


def run_once(root, workload, seed, seconds):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {root}: {workload} seed {seed} (exit {p.returncode})")
    return json.loads(lines[-1])


def collect(a):
    bench, _ = load_bench(os.path.join(a.parent, "BENCHMARK.json"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    os.makedirs(a.out, exist_ok=True)
    files = {side: open(os.path.join(a.out, f"{side}.jsonl"), "a") for side in ("parent", "change")}
    for w in workloads:
        for i in range(a.pairs):
            seed = a.seed + i
            # alternate which side runs first
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                root = a.parent if side == "parent" else a.change
                t0 = time.time()
                res = run_once(root, w, seed, bench["run_seconds"])
                files[side].write(json.dumps({"workload": w, "seed": seed, "pair": i,
                                              "result": res}) + "\n")
                files[side].flush()
                print(f"{w} pair {i} {side}: {time.time() - t0:.0f} s", file=sys.stderr)
    for f in files.values():
        f.close()


def read_runs(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["workload"], {})[r["seed"]] = r["result"]
    return runs


def values(runs, metric):
    return [r["metrics"][metric]["value"] for _, r in sorted(runs.items())]


def compare(a):
    _, metrics = load_bench(a.bench)
    parent, change = read_runs(a.parent_runs), read_runs(a.change_runs)
    worst = "ok"
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        failed = sum(1 for s in seeds for r in (parent[w][s], change[w][s]) if not r["correct"])
        cells = []
        for name, m in metrics.items():
            pairs = [(parent[w][s]["metrics"][name]["value"],
                      change[w][s]["metrics"][name]["value"]) for s in seeds]
            pv, cv = [p for p, _ in pairs], [c for _, c in pairs]
            pm, cm = stats.median(pv), stats.median(cv)
            worse = stats.worse_by(pm, cm, m["better"])
            claimed, wins, n, _ = stats.win_rule(pairs, m["better"])
            if worse > m["bound"]:
                verdict = "REGRESSION"
            elif stats.spread(pv) > m["bound"] and not all(
                    stats.worse_by(p, c, m["better"]) < 0 for p in pv for c in cv):
                verdict = "unresolved"
            elif claimed:
                verdict = "gain"
            else:
                verdict = "same"
            if verdict == "REGRESSION":
                worst = "regression"
            cells.append(f"{name} {pm:.4g}->{cm:.4g} ({worse:+.1%} worse, "
                         f"wins {wins}/{n}) {verdict}")
        print(f"{w:16s} n={len(seeds)} failed_runs={failed} | " + " | ".join(cells))
    return 1 if worst == "regression" else 0


def spread(a):
    _, metrics = load_bench(a.bench)
    ok = True
    for w, runs in sorted(read_runs(a.runs).items()):
        cells = []
        for name, m in metrics.items():
            v = values(runs, name)
            s = stats.spread(v)
            mark = "" if name == "setup_s" or s <= m["bound"] / 3 else " WIDE"
            ok = ok and (mark == "")
            cells.append(f"{name} med={stats.median(v):.4g} spread={s:.3f}/{m['bound']}{mark}")
        print(f"{w:16s} n={len(runs)} | " + " | ".join(cells))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("parent")
    c.add_argument("change")
    c.add_argument("out")
    c.add_argument("--pairs", type=int, default=10)
    c.add_argument("--seed", type=int, default=1)
    c.add_argument("--workloads")
    bench = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    p = sub.add_parser("compare")
    p.add_argument("parent_runs")
    p.add_argument("change_runs")
    p.add_argument("--bench", default=bench)
    s = sub.add_parser("spread")
    s.add_argument("runs")
    s.add_argument("--bench", default=bench)
    a = ap.parse_args()
    sys.exit({"collect": collect, "compare": compare, "spread": spread}[a.cmd](a) or 0)


if __name__ == "__main__":
    main()
