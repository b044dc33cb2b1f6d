"""Spans around calls into the engine's layers, with Spark's counters.

Nothing in ``dirhash_spark`` is edited: :func:`install` replaces the
layer functions *at their import sites* (``hashdir.list_entries``,
``incremental.digest_directory``, ...) with wrappers that record a span
while the tracer is active and call straight through otherwise.

A lazy DataFrame's cost lands where its action runs, so wall time of a
wrapper that only builds a plan says little.  Each span therefore runs
under its own Spark job group; after the op, the jobs of every group and
the stages of those jobs are read from the status store (which works
with the UI disabled).  A job belongs to the innermost span that was
open when it was submitted.  ``digest_directory`` returns a lazy plan
whose ``collect()`` is where the read+hash stage runs: the wrapper
gives that one DataFrame a ``collect`` that records a
``hashdir.collect`` span, so its jobs count for the hashdir layer.
"""

from __future__ import annotations

import functools
import json
import math
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Stage-level counters summed per span (status-store field names).
_STAGE_FIELDS = {
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out by :meth:`dump`."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(parent.group, parent.name)

    def read_counters(self, spans: list[Span]) -> None:
        """Fill ``span.spark`` with the counters of the jobs each span
        submitted itself (children's jobs stay with the children)."""
        # the status store learns of finished jobs from the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for s in spans:
            s.spark = job_group_counters(self.sc, s.group)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def job_group_counters(sc, group: str) -> dict:
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ["jobs", "job_wall_s", "stages", "tasks", "executor_run_s",
         "executor_cpu_s", "spill_bytes", *_STAGE_FIELDS], 0
    )
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out["job_wall_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
        it = job.stageIds().iterator()
        while it.hasNext():
            stage = store.lastStageAttempt(it.next())
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
            out["executor_run_s"] += stage.executorRunTime() / 1e3
            out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            for key, getter in _STAGE_FIELDS.items():
                out[key] += getattr(stage, getter)()
    return out


def _files(entries) -> list:
    return [e for e in entries if not e.is_dir]


def _chunk_count(entries, blocksize: int) -> int:
    return sum(math.ceil(e.size / blocksize) for e in _files(entries))


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap the layer functions at their import sites; returns a
    function that puts the originals back."""
    from dirhash_spark.dirhash import hashdir, incremental

    saved = []

    def wrap(module, attr, span_name, args_attrs=None, result_attrs=None):
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(span_name) as s:
                if args_attrs:
                    s.attrs.update(args_attrs(*args, **kwargs))
                result = orig(*args, **kwargs)
                if result_attrs:
                    s.attrs.update(result_attrs(result))
            return result

        saved.append((module, attr, orig))
        setattr(module, attr, wrapper)
        return wrapper

    def wrap_digest_directory(module):
        inner = wrap(
            module, "digest_directory", "hashdir.digest_directory",
            args_attrs=lambda spark, entries, *a, **k: {
                "bytes": sum(e.size for e in _files(entries))
            },
        )

        @functools.wraps(inner)
        def with_traced_collect(*args, **kwargs):
            df = inner(*args, **kwargs)
            if tracer.active:
                collect = df.collect

                def traced_collect():
                    with tracer.span("hashdir.collect"):
                        return collect()

                df.collect = traced_collect
            return df

        setattr(module, "digest_directory", with_traced_collect)

    for module in (hashdir, incremental):
        wrap(module, "list_entries", "listing.list_entries",
             result_attrs=lambda entries: {"entries": len(entries)})
        wrap(module, "fold_digest", "codec.fold_digest",
             args_attrs=lambda algo, entries, digests: {"inputs": len(digests)})
        wrap_digest_directory(module)
    wrap(hashdir, "chunk_plan", "chunks.chunk_plan",
         args_attrs=lambda spark, entries, blocksize: {
             "chunks": _chunk_count(entries, blocksize)
         })
    wrap(hashdir, "configure", "session.configure")
    wrap(incremental, "hash_directory_incremental",
         "incremental.hash_directory_incremental",
         result_attrs=lambda result: dict(result[1]))

    def restore() -> None:
        for module, attr, orig in reversed(saved):
            setattr(module, attr, orig)

    return restore


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of it that child spans cover."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == span.id)
    covered, cursor = 0.0, span.start
    for start, end in kids:
        start, end = max(start, cursor), min(end, span.end)
        if end > start:
            covered += end - start
            cursor = end
    return span.dur - covered


def layer_metrics(spans: list[Span], cores: int, hash_floor_gbps: float) -> dict:
    """Per-layer metrics of ONE traced op from its spans."""
    by_id = {s.id: s for s in spans}

    def named(name):
        return [s for s in spans if s.name == name]

    def total(ss, key):
        return sum(s.spark.get(key, 0) for s in ss)

    def within(s, ancestor_name):
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name == ancestor_name:
                return True
        return False

    listing = named("listing.list_entries")
    listing_s = sum(s.dur for s in listing)
    entries = sum(s.attrs["entries"] for s in listing)
    plans = named("chunks.chunk_plan")
    digests = named("hashdir.digest_directory")
    hashdir = digests + named("hashdir.collect")
    read_hash_s = total(hashdir, "job_wall_s")
    hashed = sum(s.attrs["bytes"] for s in digests)
    gbps = hashed / read_hash_s / 1e9 if read_hash_s else 0.0
    run_s = total(hashdir, "executor_run_s")
    folds = named("codec.fold_digest")
    incr = named("incremental.hash_directory_incremental")
    n_files = sum(s.attrs["n_files"] for s in incr)
    op = named("op")
    return {
        "listing.s": listing_s,
        "listing.entries": entries,
        "listing.entries_per_s": entries / listing_s if listing_s else 0.0,
        "chunks.plan_s": sum(s.dur for s in plans),
        "chunks.n": sum(s.attrs["chunks"] for s in plans),
        "hashdir.read_hash_s": read_hash_s,
        "hashdir.bytes": hashed,
        "hashdir.gbps": gbps,
        "hashdir.floor_ratio": gbps / hash_floor_gbps,
        "hashdir.jobs": total(hashdir, "jobs"),
        "hashdir.tasks": total(hashdir, "tasks"),
        "hashdir.executor_run_s": run_s,
        "hashdir.executor_cpu_s": total(hashdir, "executor_cpu_s"),
        "hashdir.utilisation": run_s / (read_hash_s * cores) if read_hash_s else 0.0,
        "codec.fold_s": sum(s.dur for s in folds),
        "codec.fold_inputs": sum(s.attrs["inputs"] for s in folds),
        "incremental.self_s": sum(self_time(s, spans) for s in incr),
        "incremental.files_rehashed": sum(s.attrs["n_rehashed_files"] for s in incr),
        "incremental.reuse_ratio": (
            sum(s.attrs["n_reused_files"] for s in incr) / n_files if n_files else 0.0
        ),
        "incremental.bytes_reread": sum(
            s.attrs["bytes"] for s in digests
            if within(s, "incremental.hash_directory_incremental")
        ),
        "incremental.jobs": total(incr, "jobs"),
        "incremental.manifest_write_s": sum(
            s.dur for s in named("incremental.manifest_write")
        ),
        "op.self_s": sum(self_time(s, spans) for s in op),
    }


def self_time_table(spans: list[Span]) -> dict[str, float]:
    """Summed self time and job count per span name."""
    table: dict[str, list] = {}
    for s in spans:
        row = table.setdefault(s.name, [0.0, 0])
        row[0] += self_time(s, spans)
        row[1] += s.spark.get("jobs", 0)
    return table
