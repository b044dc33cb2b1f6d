#!/usr/bin/env python3
"""Closed-loop benchmark of the dirhash engine, one client, ``local[N]``.

    python3 perfbench/run.py --workload hash_large --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  It generates the workload's tree from
``--seed`` under ``.perfbench_work/`` (removed afterwards), starts a
session, sets up, runs ops until ``--seconds`` of op time is measured,
checks every op against an independent ``hashlib`` fold, and prints
one ``name value unit`` line per figure, then one JSON object as the
last line: ``--trace 0`` carries the end-to-end metrics, ``--trace 1``
the per-layer ones (see ``BENCHMARK.json``).

With ``--trace 1`` ops alternate untraced / traced, so the tracing
overhead is the difference of two medians from the same process.
Exit code 2 (no JSON) when the engine is not importable.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import machine
import trees
from spans import Tracer, install, layer_metrics, self_time_table
from workloads import WORKLOADS

MAX_CORES = 8
HEAP = "2g"
FLOOR_FILE_BYTES = {"full": 256 << 20, "tiny": 8 << 20}


def say(name: str, value, unit: str, note: str = "") -> None:
    text = f"{value:.6g}" if isinstance(value, float) else str(value)
    print(f"{name} {text} {unit}" + (f"  # {note}" if note else ""), flush=True)


def tail(durations: list[float]) -> tuple[float, int]:
    """Nearest-rank value at the highest whole percentile with at least
    ten ops beyond it; the median's rank when there are too few ops."""
    n = len(durations)
    pct = max(50, math.floor(100 * (n - 10) / n)) if n > 10 else 50
    ordered = sorted(durations)
    return ordered[max(0, math.ceil(pct * n / 100) - 1)], pct


def isolate(work: str, cores: int) -> None:
    """Pin parallelism and point every temporary path into ``work``;
    must run before the JVM starts."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    # a fixed-size JVM heap, so GC sizing does not vary by run
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{HEAP} --conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this
    run started (the JVM, the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    started = machine.descendants(proc.pid)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        machine.end_processes([p for p in started if p != proc.pid], 20)


def _exit_on_signal(signum, frame) -> None:
    """SIGTERM / SIGHUP / SIGINT unwind through every ``finally``, so
    the session is stopped and the work dir removed."""
    raise SystemExit(128 + signum)


@dataclass
class Loop:
    """What the timed ops left behind."""

    durs: dict = field(default_factory=lambda: {False: [], True: []})  # by traced
    cpus: list = field(default_factory=list)  # CPU s of each untraced op
    jobs: list = field(default_factory=list)  # Spark jobs of each untraced op
    layer_rows: list = field(default_factory=list)  # one per traced op
    attempted: int = 0
    failed: int = 0
    host_other_cores: float = 0.0
    host_steal_cores: float = 0.0


def run_ops(args, wl, spark, tracer, layer_args) -> Loop:
    """Closed loop, one client: ops until ``args.seconds`` of op time.
    With tracing, every second op is traced."""
    sc = spark.sparkContext
    loop = Loop()
    host0, ours0, wall0 = machine.host_cpu_s(), machine.tree_cpu_s(), time.perf_counter()
    while (
        sum(loop.durs[False]) + sum(loop.durs[True]) < args.seconds
        or len(loop.durs[False]) < 2
        or (args.trace and len(loop.durs[True]) < 2)
    ):
        wl.before_op()
        # garbage of earlier ops is collected here, not inside the op
        gc.collect()
        sc._jvm.System.gc()
        op = loop.attempted
        traced = bool(args.trace) and op % 2 == 1
        if traced:
            tracer.active, tracer.op = True, op
            scope = tracer.span("op")
        else:
            sc.setJobGroup(f"perfbench-op-{op}", "op")
            scope = nullcontext()
        cpu0 = machine.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with scope:
                result = wl.op(spark)
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        cpu1 = machine.tree_cpu_s()
        tracer.active = False
        sc.setLocalProperty("spark.jobGroup.id", None)
        loop.attempted += 1
        loop.failed += not (ok and wl.check(result))
        loop.durs[traced].append(dt)
        if traced:
            spans = [s for s in tracer.spans if s.op == op]
            tracer.read_counters(spans)
            loop.layer_rows.append(layer_metrics(spans, *layer_args))
        else:
            loop.cpus.append(cpu1 - cpu0)
            loop.jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"perfbench-op-{op}")))
    host1, ours1, wall1 = machine.host_cpu_s(), machine.tree_cpu_s(), time.perf_counter()
    # drift evidence: CPU the rest of the host used, and CPU the
    # hypervisor stole, while the ops ran (CPU s per wall s)
    window = wall1 - wall0
    loop.host_other_cores = (host1[0] - host0[0] - (ours1 - ours0)) / window
    loop.host_steal_cores = (host1[1] - host0[1]) / window
    return loop


def run(args, checkout: str, work: str, cores: int) -> int:
    from dirhash_spark.session import get_spark

    isolate(work, cores)
    print(f"# perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"size={args.size} nproc={len(os.sched_getaffinity(0))} cores={cores}", flush=True)

    t0 = time.perf_counter()
    tree = trees.generate(os.path.join(work, "tree"), args.workload, args.size, args.seed)
    floor_file = os.path.join(work, "floor.bin")
    machine.write_floor_file(floor_file, FLOOR_FILE_BYTES[args.size])
    os.sync()  # writeback of the new tree happens here, not during setup
    say("gen_s", time.perf_counter() - t0, "s", f"{len(tree.files)} files, {tree.n_bytes} B")

    floors = {
        "machine.sha256_gbps_1t": machine.sha256_gbps(1),
        "machine.sha256_gbps_nt": machine.sha256_gbps(cores),
        "machine.pagecache_read_gbps": machine.pagecache_read_gbps(floor_file, cores),
    }
    for name, value in floors.items():
        say(name, value, "GB/s")

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](tree, args.seed, work)
    say("oracle_s", time.perf_counter() - t0, "s", "independent hashlib fold")

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    say("spark_master", sc.master, "")
    tracer = Tracer(sc)
    restore = install(tracer) if args.trace else None
    if args.trace:
        wl.span = tracer.span
    try:
        t0 = time.perf_counter()
        wl.setup(spark)
        setup_s = session_start_s + time.perf_counter() - t0
        warm_ok = True
        for _ in range(wl.warmup_ops):
            wl.before_op()
            t0 = time.perf_counter()
            result = wl.op(spark)
            setup_s += time.perf_counter() - t0
            warm_ok &= wl.check(result)
        loop = run_ops(args, wl, spark, tracer, (cores, floors["machine.sha256_gbps_nt"]))
        final_ok = wl.finish(spark)
        jvm_rss = machine.peak_rss_mb(machine.jvm_pid())
    finally:
        if restore:
            restore()
        stop_session(spark)

    ops = loop.durs[False]
    p50 = statistics.median(ops)
    tail_s, tail_pct = tail(ops)
    say("setup_s", setup_s, "s", f"session start + setup + {wl.warmup_ops} warm-up ops")
    print("# untraced op seconds: " + " ".join(f"{d:.3f}" for d in ops), flush=True)
    say("op_p50_s", p50, "s", f"{len(ops)} untraced ops")
    say("op_tail_s", tail_s, "s", f"p{tail_pct} of {len(ops)} untraced ops")
    say("tree_gbps", tree.n_bytes / p50 / 1e9, "GB/s", f"{tree.n_bytes} B per op")
    say("cpu_s_per_op", statistics.median(loop.cpus), "s", "this process + JVM + Python workers")
    say("jobs_per_op", statistics.median(loop.jobs), "count")
    say("host_other_cores", loop.host_other_cores, "cores")
    say("host_steal_cores", loop.host_steal_cores, "cores")
    say("op_fail_ratio", loop.failed / loop.attempted, "ratio",
        f"{loop.failed} of {loop.attempted}")
    correct = loop.failed == 0 and warm_ok and final_ok
    say("correct", correct, "", f"warm-up ok={warm_ok} final check ok={final_ok}")

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (p50, "s"),
            "tree_gbps": (tree.n_bytes / p50 / 1e9, "GB/s"),
        }
    else:
        rows = loop.layer_rows
        op_spans = [s for s in tracer.spans if s.op is not None]
        for name, (self_s, n_jobs) in sorted(self_time_table(op_spans).items()):
            say(f"span.{name}.self_s", self_s / len(rows), "s",
                f"{n_jobs / len(rows):.3g} jobs per op")
        layers = {key: statistics.median(row[key] for row in rows) for key in rows[0]}
        layers.update(floors)
        layers.update({
            "op_tail_s": tail_s,
            "cpu_s_per_op": statistics.median(loop.cpus),
            "session.start_s": session_start_s,
            "session.jvm_peak_rss_mb": jvm_rss,
            "session.driver_peak_rss_mb": machine.peak_rss_mb(os.getpid()),
            "jobs_per_op": statistics.median(loop.jobs),
            "trace.overhead_s": statistics.median(loop.durs[True]) - p50,
        })
        out_dir = os.path.join(checkout, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        for name, value in layers.items():
            say(name, float(value), units[name])
        metrics = {name: (layers[name], unit) for name, unit in units.items()}
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--size", choices=("full", "tiny"), default="full",
                        help="tiny: the same code paths in seconds (self-test)")
    args = parser.parse_args(argv)

    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, checkout)
    try:
        import dirhash_spark.dirhash.incremental  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {checkout}: {exc}",
              file=sys.stderr)
        return 2
    if not dirhash_spark.__file__.startswith(checkout + os.sep):
        print(f"perfbench: imported the engine from {dirhash_spark.__file__}, "
              f"not from {checkout}", file=sys.stderr)
        return 2
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _exit_on_signal)
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    os.makedirs(os.path.join(checkout, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                            dir=os.path.join(checkout, ".perfbench_work"))
    try:
        return run(args, checkout, work, cores)
    finally:
        # a JVM whose start failed, or anything else a step left behind
        left = machine.end_descendants()
        if left:
            print(f"perfbench: ended {len(left)} leftover processes", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
