#!/usr/bin/env python3
"""Traced-run report: per-layer attribution plus tracing overhead.

    python3 perfbench/trace_report.py [--seed 1] [--out perfbench/results/trace_report.json]

Runs each workload twice with the same seed, once untraced and once traced,
and writes both full records plus, per workload, the attribution of the
timed unit's wall time to layers and the tracing overhead (traced minus
untraced median unit time).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def record(workload, seed, trace, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    line = next(l for l in out.splitlines() if l.startswith("perfbench-record "))
    return json.loads(line[len("perfbench-record "):])


def metrics(rec):
    return {m["name"]: m["value"] for m in rec["metrics"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "trace_report.json"))
    a = ap.parse_args()
    report = {"seed": a.seed, "seconds": a.seconds, "workloads": {}}
    for w in ("incremental", "serve"):
        plain = record(w, a.seed, 0, a.seconds)
        traced = record(w, a.seed, 1, a.seconds)
        p, t = metrics(plain), metrics(traced)
        entry = {"untraced": plain, "traced": traced,
                 "untraced_op_ms": p["op_ms"], "traced_op_ms": t["op_ms"],
                 "tracing_overhead_ms": t["op_ms"] - p["op_ms"]}
        if w == "incremental":
            layers = {k: t[k] for k in ("extract.self_s", "upsert.self_s", "ivf.add_s",
                                        "state.self_s", "engine.driver_gap_s")}
            entry["run_s_attribution"] = dict(
                layers, traced_wall_s=t["trace.wall_s"],
                accounted_share=t["trace.accounted_share"],
                unattributed_jobs=t["trace.unattributed_jobs"])
            entry["backfill_vs_incremental"] = {
                k: {"backfill": t["backfill." + k], "incremental": t[k]}
                for k in ("upsert.buckets_touched_share", "upsert.write_amp",
                          "extract.scan_amp")}
        report["workloads"][w] = entry
        print(w, json.dumps({k: v for k, v in entry.items()
                             if k not in ("untraced", "traced")}, indent=1))
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
