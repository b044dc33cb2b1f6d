#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at the tiny size, untraced
and traced, must print every metric ``BENCHMARK.json`` names with its
unit, pass its correctness checks and have ``op_fail_ratio`` 0.  A copy
of the benchmark without the engine beside it must exit non-zero
without printing a result.  No run may leave a process behind, nor
need its last-resort clean-up to end one.

    python3 perfbench/selftest.py        # from the root of a checkout
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_cmd(spec: dict, workload: str, trace: int) -> list[str]:
    return [*spec["command"], "--workload", workload, "--seed", "7",
            "--seconds", "1", "--trace", str(trace), "--size", "tiny"]


def processes_in(checkout: str) -> dict[int, str]:
    """pid -> command line of every process working inside ``checkout``."""
    out = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            cwd = os.readlink(f"/proc/{pid}/cwd")
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue  # exited, or not ours to inspect
        if cwd == checkout or cwd.startswith(checkout + os.sep):
            out[int(pid)] = cmd
    return out


def run_bench(cmd: list[str], cwd: str, timeout: float):
    """Run the benchmark; return (exit code, stdout, stderr, processes it
    left running).  Output goes to files, not pipes, so the check does
    not wait for a leftover process that holds a pipe open."""
    before = processes_in(cwd)
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        code = subprocess.run(cmd, cwd=cwd, stdout=out, stderr=err, timeout=timeout).returncode
        left = {p: c for p, c in processes_in(cwd).items() if p not in before}
        out.seek(0)
        err.seek(0)
        return code, out.read(), err.read(), left


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    code, stdout, stderr, left = run_bench(bench_cmd(spec, workload, trace), CHECKOUT, 300)
    where = f"{workload} trace={trace}"
    errors = [f"{where}: left running: {pid} {cmd}" for pid, cmd in left.items()]
    if "leftover processes" in stderr:
        errors.append(f"{where}: a step did not stop what it started: {stderr[-500:]}")
    if code != 0:
        return errors + [f"{where}: exit {code}\n{stderr[-2000:]}"]
    lines = stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} failed={result['failed']} "
                      f"attempted={result['attempted']}")
    if not any(line.startswith("op_fail_ratio 0 ") for line in lines):
        errors.append(f"{where}: op_fail_ratio is not 0")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(wanted):
        errors.append(f"{where}: metrics differ: missing {sorted(set(wanted) - set(got))}, "
                      f"extra {sorted(set(got) - set(wanted))}")
    for name, unit in wanted.items():
        metric = got.get(name)
        if metric is None:
            continue
        if metric.get("unit") != unit:
            errors.append(f"{where}: {name} unit {metric.get('unit')!r}, want {unit!r}")
        value = metric.get("value")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            errors.append(f"{where}: {name} value {value!r}")
        if not any(line.startswith(f"{name} ") and line.split()[2] == unit for line in lines):
            errors.append(f"{where}: no '{name} <value> {unit}' line")
    return errors


def check_without_engine(spec: dict) -> list[str]:
    """Only BENCHMARK.json and the benchmark's paths: must fail cleanly."""
    bare = tempfile.mkdtemp(prefix="selftest-bare-",
                            dir=os.path.join(CHECKOUT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(CHECKOUT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, stdout, _, left = run_bench(bench_cmd(spec, spec["workloads"][0]["name"], 0),
                                          bare, 180)
        errors = [f"without the engine: left running: {pid} {cmd}" for pid, cmd in left.items()]
        if code == 0 or any(line.startswith("{") for line in stdout.splitlines()):
            errors.append(f"without the engine: exit {code}, stdout {stdout[-300:]!r}")
        return errors
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(os.path.join(CHECKOUT, ".perfbench_work"), exist_ok=True)
    errors = check_without_engine(spec)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            errors += check_run(spec, workload, trace)
            print(f"{workload} trace={trace}: done", flush=True)
    for error in errors:
        print("FAIL", error)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
