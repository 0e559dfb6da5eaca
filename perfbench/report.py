#!/usr/bin/env python3
"""Reports built from several ``run.py`` runs, each in a fresh process.

    python3 perfbench/report.py spread --workload lake_session --seeds 1 2 3 4 5
    python3 perfbench/report.py counters --workload registry_queries --seed 1

``spread`` runs one untraced run per seed and prints, for every
end-to-end metric, the median and the distance between the first and
third quartile as a share of the median (``statistics.quantiles(n=4)``),
beside the metric's bound from ``BENCHMARK.json``.

``counters`` is the counter-determinism and tracing-overhead report: two
traced runs and one untraced run of the same seed. Every per-op counter
of the traced runs is labelled ``exact`` when both runs recorded the same
value for every op, else ``varying``; a later change may claim a counter
only if it is labelled exact. The overhead is traced ``ops_per_s``
against untraced ``ops_per_s``, beside each traced run's
``trace.overhead_frac`` (time in the tracer's own probes / op time).
Results go to stdout and to ``.perfbench/out/counters-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "out")


def run(workload: str, seed: int, trace: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT, check=True)
    *_, summary, result = proc.stdout.strip().splitlines()
    return {"summary": json.loads(summary), "result": json.loads(result)}


def spread(args, bench: dict) -> None:
    runs = [run(args.workload, s, 0, bench["run_seconds"]) for s in args.seeds]
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"spread-{args.workload}.json"), "w") as f:
        json.dump([r["summary"] for r in runs], f, indent=1)
    for r in runs:
        print(json.dumps({"seed": r["summary"]["seed"], "failed": r["result"]["failed"],
                          **{k: v["value"] for k, v in r["result"]["metrics"].items()}}))
    for m in bench["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:<12} median {med:.4f} {m['unit']:<6} IQR/median {(q3 - q1) / med:.4f}"
              f"  bound {m['bound']}  (third of bound {m['bound'] / 3:.4f})")


def traced_ops(workload: str, seed: int, seconds: float) -> tuple[dict, list[dict]]:
    """One traced run and its per-op records (read before the next run rewrites them)."""
    r = run(workload, seed, 1, seconds)
    with open(os.path.join(ROOT, r["summary"]["trace_files"][1])) as f:
        return r, json.load(f)


def counters(args, bench: dict) -> None:
    (r1, ops1), (r2, ops2) = (traced_ops(args.workload, args.seed, bench["run_seconds"]) for _ in range(2))
    untraced = run(args.workload, args.seed, 0, bench["run_seconds"])["result"]["metrics"]["ops_per_s"]["value"]
    # counters only: wall times (``*_s``) vary by nature
    keys = sorted({k for rec in ops1 for k, v in rec.items()
                   if isinstance(v, (int, float)) and not isinstance(v, bool) and k != "pass" and not k.endswith("_s") and k != "s"})
    labels, varying = {}, {}
    for k in keys:
        diff = sorted({a["op"] for a, b in zip(ops1, ops2) if a.get(k) != b.get(k)})
        labels[k] = "varying" if diff else "exact"
        if diff:
            varying[k] = diff
    traced = [r["result"]["metrics"]["trace.ops_per_s"]["value"] for r in (r1, r2)]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "labels": labels,
        "varying_ops": varying,
        "traced_ops_per_s": traced,
        "untraced_ops_per_s": untraced,
        "tracing_overhead": 1 - statistics.mean(traced) / untraced,
        "probe_overhead_frac": [r["result"]["metrics"]["trace.overhead_frac"]["value"] for r in (r1, r2)],
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"counters-{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, indent=1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report", choices=("spread", "counters"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3, 4, 5])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    (spread if args.report == "spread" else counters)(args, bench)


if __name__ == "__main__":
    main()
