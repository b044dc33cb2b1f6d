#!/usr/bin/env python3
"""Paired A/B of two checkouts on one perfbench workload.

    python3 scripts/perfbench_pairs.py PARENT_DIR CHANGE_DIR \\
        --workload hash_large --pairs 10 --seeds 1,2,3

Each pair runs ``perfbench/run.py`` once in each checkout, with the same
seed, workload and run length (``run_seconds`` of the parent's
``BENCHMARK.json`` unless ``--seconds`` is given), end to end
(``--trace 0``); the side that runs first alternates from pair to pair.
Only each run's final JSON line is read.  For every end-to-end metric of
``BENCHMARK.json`` it prints each side's median and quartiles and how
many pairs the change won (ties count for neither side), and whether a
gain may be claimed: wins in at least nine tenths of the pairs and
medians further apart than the parent's interquartile range.  Nothing
under either checkout's ``perfbench/`` is written.

Each run starts in its own session and has a deadline of four times
its run length plus 240 s; a run still going then has its whole
process group killed, and the script exits non-zero naming the
checkout, the side and the seed.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys


def run_once(checkout: str, side: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    deadline = 4 * seconds + 240
    proc = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, stderr = proc.communicate(timeout=deadline)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"{checkout}: {side} run, seed {seed}, still running after "
                         f"{deadline:g} s; its process group was killed") from None
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{checkout}: exit {proc.returncode}\n{stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seeds", default="1", help="comma list, cycled over the pairs")
    p.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    args = p.parse_args(argv)
    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    seeds = [int(s) for s in args.seeds.split(",")]
    sides = {"parent": args.parent, "change": args.change}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            result = run_once(sides[side], side, args.workload, seed, seconds)
            runs[side].append(result)
            values = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
            print(f"pair {i} seed {seed} {side}: correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} {values}", flush=True)
    print(f"# {args.workload}: {args.pairs} pairs, {seconds} s per run, seeds {seeds}")
    for metric in spec["end_to_end"]:
        name, lower = metric["name"], metric["better"] == "lower"
        vals = {s: [r["metrics"][name]["value"] for r in runs[s]] for s in runs}
        wins = sum((c < q) if lower else (c > q) for q, c in zip(vals["parent"], vals["change"]))
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(vals["parent"]), quartiles(vals["change"])
        better = (cmed < pmed) if lower else (cmed > pmed)
        claim = wins >= 0.9 * args.pairs and better and abs(cmed - pmed) > pq3 - pq1
        print(f"{name}: parent median {pmed:.4g} [q1 {pq1:.4g}, q3 {pq3:.4g}]  "
              f"change median {cmed:.4g} [q1 {cq1:.4g}, q3 {cq3:.4g}]  "
              f"change/parent {cmed / pmed:.3f}  change wins {wins}/{args.pairs}  "
              f"gain claimable: {'yes' if claim else 'no'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
