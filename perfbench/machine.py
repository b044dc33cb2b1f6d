"""Machine floors and process-tree accounting from ``/proc``.

The floors are drift evidence and the reference for
``hashdir.floor_ratio``; they never rescale a metric.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import signal
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_BUF_BYTES = 32 << 20
_ROUNDS = 8


def _median_of(fn, repeats: int = 3) -> float:
    return statistics.median(fn() for _ in range(repeats))


def _hash_seconds(_=None) -> float:
    buf = b"\x5a" * _BUF_BYTES
    t0 = time.perf_counter()
    for _ in range(_ROUNDS):
        hashlib.sha256(buf).digest()
    return time.perf_counter() - t0


def sha256_gbps(processes: int) -> float:
    """Aggregate sha256 throughput of ``processes`` hashers.  Processes,
    not threads: the engine hashes in separate Python workers, and
    hashlib here does not scale across threads.  Forked, not spawned:
    a spawn pool starts a resource-tracker process that outlives it."""
    if processes == 1:
        return _median_of(lambda: _ROUNDS * _BUF_BYTES / _hash_seconds() / 1e9)
    ctx = multiprocessing.get_context("fork")
    with ctx.Pool(processes) as pool:
        pool.map(int, range(processes), chunksize=1)  # start every worker

        def once() -> float:
            slowest = max(pool.map(_hash_seconds, range(processes), chunksize=1))
            return processes * _ROUNDS * _BUF_BYTES / slowest / 1e9

        return _median_of(once)


def pagecache_read_gbps(path: str, threads: int) -> float:
    """Aggregate read throughput of ``threads`` readers over disjoint
    slices of a file that is already in the page cache."""
    size = os.path.getsize(path)
    part = size // threads
    fd = os.open(path, os.O_RDONLY)
    try:
        def read_slice(i: int) -> None:
            buf = bytearray(4 << 20)
            off, end = i * part, (i + 1) * part
            while off < end:
                off += os.preadv(fd, [memoryview(buf)[: min(len(buf), end - off)]], off)

        def once() -> float:
            with ThreadPoolExecutor(threads) as pool:
                t0 = time.perf_counter()
                list(pool.map(read_slice, range(threads)))
                return threads * part / (time.perf_counter() - t0) / 1e9

        once()  # fault the file into the page cache
        return _median_of(once)
    finally:
        os.close(fd)


def write_floor_file(path: str, n_bytes: int) -> None:
    with open(path, "wb") as fh:
        chunk = os.urandom(1 << 20)
        for _ in range(n_bytes >> 20):
            fh.write(chunk)


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, cpu ticks incl. reaped children)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited between listdir and open
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[0] is state; utime, stime, cutime, cstime are 11..14
        ticks = sum(int(f) for f in fields[11:15])
        table[int(name)] = (int(fields[1]), comm, ticks)
    return table


def descendants(root_pid: int, table=None) -> list[int]:
    table = table or _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and has not exited; reaps it first if
    it is a child of this process."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass  # not our child
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def end_processes(pids: list[int], grace_s: float) -> None:
    """SIGTERM each of ``pids`` still alive, SIGKILL what is left after
    ``grace_s``, and return once none is alive."""
    for pid in pids:
        if alive(pid):
            _signal(pid, signal.SIGTERM)
    deadline = time.monotonic() + grace_s
    for pid in pids:
        while alive(pid):
            if time.monotonic() > deadline:
                _signal(pid, signal.SIGKILL)
            time.sleep(0.05)


def end_descendants(grace_s: float = 10.0) -> list[int]:
    """End every live descendant of this process (what an earlier step
    failed to stop); returns their pids."""
    left = [p for p in descendants(os.getpid()) if p != os.getpid() and alive(p)]
    end_processes(left, grace_s)
    return left


def _signal(pid: int, sig: int) -> None:
    try:
        os.kill(pid, sig)
    except ProcessLookupError:
        pass


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds of this process and every live descendant (the JVM,
    the Python worker daemon and its workers), counting children they
    have already reaped."""
    table = _proc_table()
    pids = descendants(root_pid or os.getpid(), table)
    return sum(table[p][2] for p in pids if p in table) / _CLK_TCK


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole host since boot, from
    ``/proc/stat``: busy counts every process on the host, ours too."""
    with open("/proc/stat") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = map(
            int, fh.readline().split()[1:9]
        )
    return (user + nice + system + irq + softirq) / _CLK_TCK, steal / _CLK_TCK


def jvm_pid() -> int | None:
    table = _proc_table()
    for pid in descendants(os.getpid(), table):
        if pid in table and table[pid][1] == "java":
            return pid
    return None


def peak_rss_mb(pid: int | None) -> float:
    """VmHWM of ``pid`` in MB (0 when the process is gone)."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / 1e6
    except OSError:
        pass
    return 0.0
