"""Steadiness check: repeat one workload in fresh JVMs and summarise.

    python3 cdcbench/steady.py --workload serve_reads --runs 10 [--first-seed 1]
        [--traced]

Runs cdcbench/run.py once per seed (first-seed, first-seed+1, ...), each
in its own process and for BENCHMARK.json's run_seconds, then prints for every end-to-end metric the median,
the quartiles (statistics.quantiles(values, n=4)) and the spread
(q3 - q1) / median, plus the failed share and the host stamps. With
--traced it then makes one traced run on the first seed and prints its
per-layer metrics and the tracing overhead: the traced run's own
end-to-end figures against the untraced medians. The whole report, with
every run's summary line, is written to
.cdcbench_work/steady-<workload>.json.
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


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=600, check=True).stdout.splitlines()
    summary = next(json.loads(x[len("summary "):]) for x in out if x.startswith("summary "))
    return summary, json.loads(out[-1])


def quartiles(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]

    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        summary, result = one_run(args.workload, seed, seconds, 0)
        runs.append({"seed": seed, "summary": summary, "result": result})
        host = summary["host"]
        print(f"seed {seed}: failed {result['failed']}/{result['attempted']} "
              f"correct {result['correct']} steal "
              f"{host['after']['steal_s'] - host['before']['steal_s']:.1f}s load "
              f"{host['before']['load1']:.2f} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)

    report = {"workload": args.workload, "seconds": seconds, "runs": runs, "metrics": {}}
    print(f"\n{args.workload}: {args.runs} runs, {seconds} s each")
    for m in bench["end_to_end"]:
        values = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        q = quartiles(values)
        q["bound"] = m["bound"]
        report["metrics"][m["name"]] = q
        print(f"  {m['name']:28s} median {q['median']:10.4g} {m['unit']:6s} "
              f"q1 {q['q1']:10.4g} q3 {q['q3']:10.4g} spread {q['spread']:.3f} "
              f"(bound {m['bound']})")
    shares = {r["result"]["failed"] / r["result"]["attempted"] for r in runs}
    print(f"  failed shares: {sorted(shares)}")

    if args.traced:
        summary, result = one_run(args.workload, args.first_seed, seconds, 1)
        overhead = {k: v / report["metrics"][k]["median"] - 1
                    for k, v in summary["end_to_end"].items()
                    if k in report["metrics"] and report["metrics"][k]["median"]}
        report["traced"] = {"summary": summary, "result": result, "overhead": overhead}
        print("\ntraced run, per-layer metrics:")
        for k, v in result["metrics"].items():
            print(f"  {k:40s} {v['value']:12.4g} {v['unit']}")
        print("tracing overhead (traced / untraced median - 1):")
        for k, v in overhead.items():
            print(f"  {k:28s} {v:+.3f}")
    os.makedirs(os.path.join(ROOT, ".cdcbench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".cdcbench_work", f"steady-{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
