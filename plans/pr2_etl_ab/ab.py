#!/usr/bin/env python3
"""Interleaved parent/change A/B of the repository benchmark.

Usage:

  python3 ab.py <parent checkout> <change checkout> <workload> <out.jsonl> <seed> [<seed> ...]

For each seed, runs `python3 perfbench/run.py --workload <workload> --seed
<seed> --seconds 20 --trace 0` once in each checkout, alternating which side
goes first (even pair index: parent first). Appends one JSON line per run
to <out.jsonl>: side, seed, order, the run's final summary line, and every
`<workload> <name> <value> <unit>` metric line it printed. Then prints each
side's median and quartiles of every end-to-end metric, and how many pairs
the change won on each.
"""
import json
import statistics
import subprocess
import sys


def run(checkout, workload, seed):
    out = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "20", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, check=True).stdout.splitlines()
    metrics = {}
    for line in out:
        parts = line.split()
        if len(parts) == 4 and parts[0] == workload:
            metrics[parts[1]] = float(parts[2])
    return json.loads(out[-1]), metrics


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main():
    parent, change, workload, path = sys.argv[1:5]
    seeds = [int(s) for s in sys.argv[5:]]
    runs = {"parent": {}, "change": {}}
    with open(path, "a") as f:
        for i, seed in enumerate(seeds):
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            for pos, (side, checkout) in enumerate(order):
                summary, metrics = run(checkout, workload, seed)
                runs[side][seed] = summary
                f.write(json.dumps({"workload": workload, "side": side, "seed": seed, "order": pos,
                                    "summary": summary, "metrics": metrics}) + "\n")
                f.flush()
    for name in runs["parent"][seeds[0]]["metrics"]:
        vals = {side: [runs[side][s]["metrics"][name]["value"] for s in seeds] for side in runs}
        wins = sum(c < p for p, c in zip(vals["parent"], vals["change"]))
        for side in ("parent", "change"):
            q1, med, q3 = quartiles(vals[side])
            print(f"{workload} {name} {side}: median {med:.3f}, quartiles {q1:.3f}-{q3:.3f}")
        print(f"{workload} {name}: change lower in {wins}/{len(seeds)} pairs")
    failed = {side: sum(r["failed"] for r in runs[side].values()) for side in runs}
    print(f"{workload} failed operations: {failed}")


if __name__ == "__main__":
    main()
