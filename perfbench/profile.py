#!/usr/bin/env python3
"""Traced breakdown of one workload: runs it untraced and traced with the
same seed, then prints the per-layer metrics, span self times, Spark jobs by
module, and the tracing overhead (traced minus untraced end-to-end figures).

    python3 perfbench/profile.py --workload register --seed 3 [--seconds 10]
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

import metrics
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace, keep):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--keep", keep]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    with open(keep) as f:
        raw = json.load(f)
    return json.loads(lines[-2])["report"], raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--top", type=int, default=12)
    a = ap.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        plain, _ = run(a.workload, a.seed, a.seconds, 0, os.path.join(tmp, "plain.json"))
        traced, raw = run(a.workload, a.seed, a.seconds, 1, os.path.join(tmp, "traced.json"))

    print(f"== {a.workload} seed {a.seed}: end to end, untraced vs traced (overhead)")
    for name, (key, unit) in metrics.END_TO_END.items():
        u, t = plain[key]["value"], traced[key]["value"]
        print(f"  {name:18s} {u:12.4f} {t:12.4f} {t - u:+10.4f} {unit}")

    print("== per-layer metrics (per timed cycle/pass; call latencies are medians)")
    for name, m in metrics.layer_metrics(raw).items():
        if m["value"]:
            print(f"  {name:28s} {m['value']:12.4f} {m['unit']}")

    print("== spans in the timed region: calls, total s, self s")
    for name, (calls, total, own) in sorted(metrics.self_time_table(raw).items(),
                                            key=lambda x: -x[1][1]):
        print(f"  {name:24s} {calls:6d} {total:10.3f} {own:10.3f}")

    _, owner = metrics.timed_tree(raw["spans"])
    jobs = [j for j in raw["jobs"] if j["span"] in owner]
    print("== Spark jobs in the timed region by module: jobs, job s, task s")
    by_mod = {}
    for j in jobs:
        n, js, ts = by_mod.get(j["module"], (0, 0.0, 0.0))
        by_mod[j["module"]] = (n + 1, js + (j["end_us"] - j["start_us"]) / 1e6, ts + j["task_s"])
    for mod, (n, js, ts) in sorted(by_mod.items(), key=lambda x: -x[1][1]):
        print(f"  {mod:14s} {n:6d} {js:10.3f} {ts:10.3f}")
    by_site = {}
    for j in jobs:
        n, js = by_site.get(j["site"], (0, 0.0))
        by_site[j["site"]] = (n + 1, js + (j["end_us"] - j["start_us"]) / 1e6)
    print("== busiest call sites: jobs, job s")
    for site, (n, js) in sorted(by_site.items(), key=lambda x: -x[1][1])[:a.top]:
        print(f"  {n:6d} {js:10.3f}  {site or '(no graft frame)'}")

    queries = [sp for sp in raw["spans"] if sp["name"] == "query" and sp["id"] in owner]
    if queries:
        print("== slowest queries: wall s, build s, run s, driver gap s, jobs")
        kids = {}
        for sp in raw["spans"]:
            kids.setdefault(sp["parent"], []).append(sp)
        spans_under = {}
        for q in queries:
            ids, todo = set(), [q["id"]]
            while todo:
                i = todo.pop()
                ids.add(i)
                todo += [k["id"] for k in kids.get(i, [])]
            spans_under[q["id"]] = ids
        rows = []
        for q in queries:
            qj = [j for j in jobs if j["span"] in spans_under[q["id"]]]
            part = {k["name"]: (k["end_us"] - k["start_us"]) / 1e6 for k in kids.get(q["id"], [])}
            rows.append(((q["end_us"] - q["start_us"]) / 1e6, q["tag"],
                         part.get("SparkEntry.build", 0.0), part.get("SparkEntry.run", 0.0),
                         stats.driver_gap(q, qj) / 1e6, len(qj)))
        for wall, name, b, r, gap, n in sorted(rows, reverse=True)[:a.top]:
            print(f"  {name:24s} {wall:8.3f} {b:8.3f} {r:8.3f} {gap:8.3f} {n:5d}")


if __name__ == "__main__":
    main()
