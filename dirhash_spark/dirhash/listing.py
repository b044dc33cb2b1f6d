"""Recursive directory listing (REF A2, dirhash.py:339-386).

The reference shells out to ``hadoop fs -ls -R`` and regex-parses the
output (fragile for filenames with newlines — a known reference quirk).
Here the listing is a structured filesystem walk: the Hadoop FileSystem
API via the JVM gateway for non-local schemes (hdfs://, s3a://, ...),
plain ``os.walk`` for local paths.  Output convention matches the
reference: relative paths, directories suffixed '/', the root itself
excluded.

Scale routing: a serial walk issues one listing round-trip per
directory, so it is latency-bound on networked metadata (NFS/Lustre/
object stores) and CPU-bound only on huge local trees.  Rather than
guess which case we are in, :func:`list_entries` — the ONE router —
runs the serial walk under a TIME BUDGET when a SparkSession is
available.  Most trees finish well inside it and come back as an
``Entry`` list (the driver holds metadata it has just proven it can
walk).  A tree that trips the budget is, by that very measurement, one
whose listing should not pass through the driver: ``list_entries``
returns None and the caller lists with :func:`list_entries_df`, the
level-parallel cluster walk whose rows stay in executor-side
DataFrames — only one level's directory frontier ever returns to the
driver.
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Iterator
from dataclasses import dataclass

#: A URI scheme with an authority marker ("scheme://...").  Plain local
#: paths — including pathological names containing ':' — never match.
_SCHEME_RE = re.compile(r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.\-]*)://(?P<rest>.*)$", re.S)


def local_root(root: str) -> str | None:
    """The local filesystem path for ``root`` when it IS local: a bare
    path, or a ``file://`` URI (scheme matched case-insensitively, per
    RFC 3986) with an empty or ``localhost`` authority.  Returns None
    for any other scheme — the caller routes those to the JVM-gateway
    walk.  A ``file://`` URI with a REAL authority is refused loudly:
    neither a local walk nor Hadoop's LocalFileSystem (which silently
    ignores the authority) can honour "that other host's filesystem",
    and a silently wrong route here means a silently wrong digest.

    Both listing forms route through this ONE helper so the serial and
    cluster walks can never desynchronize on scheme handling (they
    share one symlink semantics by design).
    """
    m = _SCHEME_RE.match(root)
    if not m:
        return root
    if m.group("scheme").lower() != "file":
        return None
    authority, sep, path = m.group("rest").partition("/")
    if authority and authority.lower() != "localhost":
        raise ValueError(
            f"unsupported file:// authority {authority!r} in {root!r}: "
            "file URIs must address this host (empty or 'localhost')"
        )
    if not sep:
        # 'file://' / 'file://localhost' (no path component at all) is a
        # truncated URI, not a spelling of '/': mapping it to the
        # filesystem root would serially walk and hash THE WHOLE HOST
        # where the caller almost certainly meant a specific tree.
        # 'file:///' stays valid — its path component IS '/'.
        raise ValueError(
            f"malformed file:// URI {root!r}: missing path component "
            "(use 'file:///' to address the filesystem root explicitly)"
        )
    return sep + path


@dataclass(frozen=True)
class Entry:
    relative_path: str  # dirs carry a trailing '/'
    is_dir: bool
    size: int  # 0 for dirs
    full_path: str  # absolute/scheme path usable for reads


#: Serial-walk budget (seconds) after which list_entries gives up and
#: routes the caller to the cluster walk.  Local filesystems list ~1M
#: entries/s, so only trees that are huge or metadata-latency-bound
#: trip this.  Read at call time; 0 forces the cluster route.
SERIAL_WALK_BUDGET_S = 2.0

#: Partitions of each level's directory frontier in the cluster walk.
_LEVEL_PARTITIONS = 32


def strip_trailing_slash(path: str) -> str:
    """The reference strips one trailing '/' from the input dir
    (dirhash.py:323; regression test dirhash_test.py:275-279).

    A URI's ROOT slash is not a trailing slash: stripping 'file:///'
    to 'file://' (or 'hdfs://nn/' to the authority-only 'hdfs://nn')
    would turn the documented filesystem-root spelling into exactly
    the truncated URI local_root rejects — the error message would
    recommend the input the caller already provided."""
    if not (path.endswith("/") and len(path) > 1):
        return path
    head = path[:-1]
    if head.endswith("//"):
        return path  # 'file:///' — the slash IS the path component
    if "://" in head and "/" not in head.split("://", 1)[1]:
        return path  # 'hdfs://nn/' — root of an authority
    return head


def list_entries(root: str, spark=None) -> list[Entry] | None:
    """Recursively list ``root`` → entries with reference conventions.

    With a SparkSession and a local root the serial walk runs under
    :data:`SERIAL_WALK_BUDGET_S` and returns None when the budget trips:
    the caller then lists cluster-side with :func:`list_entries_df` (see
    module doc).  ``spark=None`` always walks serially with no budget;
    non-local schemes walk serially through the JVM gateway.
    """
    root = strip_trailing_slash(root)
    # file:// is walked LOCALLY, same as a bare path: both listing forms
    # must share one symlink semantics — Hadoop's LocalFileSystem
    # reports a symlinked dir as a directory and walks INTO it, so
    # routing file:// through _list_hadoop made the driver and cluster
    # routes diverge on symlink trees (and made hash("file:///t") !=
    # hash("/t") on the same tree).
    local = local_root(root)
    if local is None:
        if spark is None:
            raise FileNotFoundError(f"not a directory: {root}")
        return _list_hadoop(spark, root)
    return _list_local(local, budget_s=None if spark is None else SERIAL_WALK_BUDGET_S)


def reject_undecodable_paths(entries: list[Entry]) -> None:
    """Fail CLEARLY on filenames that are not valid UTF-8.

    ``os.walk`` surrogateescapes undecodable bytes (Linux filenames are
    bytes), and such a path later explodes deep inside the pipeline —
    ``UnicodeEncodeError: surrogates not allowed`` from a worker's
    ``path.encode('utf-8')``, the fold's NUL-join, or py4j string
    transport — an opaque traceback long after the listing.  The v1
    format frames paths AS UTF-8 (the reference shares the constraint),
    so these names are unsupported by the format, not by this engine;
    say so up front, naming the path."""
    for e in entries:
        try:
            e.relative_path.encode("utf-8")
        except UnicodeEncodeError:
            raise ValueError(
                f"filename is not valid UTF-8: {e.relative_path!r} — the "
                "v1 hash format frames paths as UTF-8 (reference "
                "dirhash.py:418-441), so this tree cannot be hashed; "
                "rename the file or exclude it"
            ) from None


def _list_local(root: str, budget_s: float | None = None) -> list[Entry] | None:
    """Serial ``os.walk`` listing; returns None if ``budget_s`` elapses
    first (checked every 64 directories — cheap vs. the walk itself)."""
    if not os.path.isdir(root):
        raise FileNotFoundError(f"not a directory: {root}")
    if budget_s is not None and budget_s <= 0:
        return None
    deadline = None if budget_s is None else time.perf_counter() + budget_s
    entries: list[Entry] = []
    n_dirs = 0
    for dirpath, dirnames, filenames in os.walk(root):
        n_dirs += 1
        if deadline is not None and n_dirs % 64 == 0 and time.perf_counter() > deadline:
            return None
        for d in dirnames:
            full = os.path.join(dirpath, d)
            rel = os.path.relpath(full, root).replace(os.sep, "/")
            entries.append(Entry(rel + "/", True, 0, full))
        for f in filenames:
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, root).replace(os.sep, "/")
            entries.append(Entry(rel, False, os.path.getsize(full), full))
            # getsize is one metadata round-trip per FILE — re-check the
            # budget inside file-heavy directories too
            if (
                deadline is not None
                and len(entries) % 1024 == 0
                and time.perf_counter() > deadline
            ):
                return None
    return entries


def _list_hadoop(spark, root: str) -> list[Entry]:
    """Walk any Hadoop-visible filesystem through the JVM gateway."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(conf)
    root_uri = fs.makeQualified(jpath).toString().rstrip("/")
    entries: list[Entry] = []

    # explicit stack, not recursion: both local walks are iterative
    # (os.walk; the frontier walk), and an object-store tree nested
    # past ~1000 synthetic prefixes must not die with RecursionError
    # on the one route scheme paths are forced onto
    stack = [fs.makeQualified(jpath)]
    while stack:
        p = stack.pop()
        for status in fs.listStatus(p):
            full = status.getPath().toString()
            rel = full[len(root_uri) + 1 :]
            if status.isDirectory():
                entries.append(Entry(rel + "/", True, 0, full))
                stack.append(status.getPath())
            else:
                entries.append(Entry(rel, False, status.getLen(), full))
    return entries


def _scan_level(batches) -> Iterator:
    """Per-directory ``os.scandir`` with ``os.walk`` parity (the serial
    walk is the semantic contract; equivalence is pinned in
    tests/test_dirhash_e2e.py, including symlink trees):

    - classification FOLLOWS symlinks (``de.is_dir()``): a symlink to a
      directory lists as a dir entry, exactly as ``os.walk`` puts it in
      ``dirnames``;
    - sizes FOLLOW symlinks (``de.stat().st_size`` == the serial walk's
      ``os.path.getsize``): a symlink to a file records the target's
      byte length (a broken symlink raises OSError on both walks);
    - only REAL directories are walked into (``walk_into`` =
      ``is_dir and not is_symlink`` == ``os.walk(followlinks=False)``),
      so a symlinked directory is listed but its contents are not.
    """
    import pandas as pd

    for pdf in batches:
        rows = []
        for d in pdf["dir"]:
            for de in os.scandir(d):
                try:
                    is_dir = de.is_dir()
                except OSError:  # os.walk treats an unstatable entry as a file
                    is_dir = False
                # one stat per file entry serves size AND mtime_ns: the
                # incremental diff consumes mtime from the SAME stat
                # that sized the file (a second stat pass both doubled
                # the metadata round-trips on the latency-bound trees
                # this route exists for, and could observe a different
                # version of a concurrently-rewritten file than the
                # size did)
                st = None if is_dir else de.stat()
                rows.append(
                    (
                        de.path,
                        is_dir,
                        0 if is_dir else st.st_size,
                        is_dir and not de.is_symlink(),
                        0 if is_dir else st.st_mtime_ns,
                    )
                )
        yield pd.DataFrame(
            rows, columns=["path", "is_dir", "size", "walk_into", "mtime_ns"]
        )


_SCAN_LEVEL_SCHEMA = (
    "path string, is_dir boolean, size long, walk_into boolean, mtime_ns long"
)


def _level_frontier_walk(spark, local_root: str):
    """Core of the cluster walk: yield one localCheckpoint'd DataFrame
    of ``_SCAN_LEVEL_SCHEMA`` rows per tree level.  Only the
    directory frontier — one level at a time — returns to the driver;
    the checkpoint means later consumers (union / collect) re-read
    materialized metadata rows, never the filesystem."""
    frontier = [local_root]
    while frontier:
        level = (
            spark.createDataFrame([(d,) for d in frontier], "dir string")
            .repartition(min(_LEVEL_PARTITIONS, max(1, len(frontier))))
            .mapInPandas(_scan_level, _SCAN_LEVEL_SCHEMA)
            .localCheckpoint()
        )
        frontier = [
            r["path"]
            for r in level.where("walk_into").select("path").collect()
            # bounded: one tree LEVEL of directory paths — the walk
            # frontier a serial walk would also hold
        ]
        yield level


def list_entries_df(spark, root: str, with_mtime: bool = False):
    """Cluster-side twin of :func:`list_entries` for trees whose serial
    walk tripped the budget: a DataFrame with the :class:`Entry` fields
    as columns.  The per-directory listing calls fan out across the
    cluster level by level, and entry rows stay in per-level
    localCheckpoint'd DataFrames — only the directory frontier, one
    level at a time, ever returns to the driver.

    A driver-serial walk issues one listing round-trip per directory:
    at 1M directories × ~1 ms metadata latency (NFS/Lustre; worse on
    object stores) that is ~17 minutes of pure driver wait.  Here every
    executor ``os.scandir``s its slice of the frontier in parallel (one
    ``mapInPandas`` job per tree LEVEL, so a 1M-dir tree of depth 10
    costs 10 jobs of ~100k parallel listings instead of 1M serial ones).
    Rows carry the same conventions as the serial walk (parity rules in
    :func:`_scan_level`, pinned in tests/test_dirhash_e2e.py).

    ``with_mtime=True`` appends an ``mtime_ns`` column (0 for dirs) for
    consumers that diff listings against a manifest; it rides the SAME
    ``scandir`` stat that sized the entry (no second metadata pass over
    a latency-bound tree, and size/mtime are a consistent snapshot under
    concurrent rewrites).

    Local/shared-filesystem roots only: executors list with
    ``os.scandir``, which is correct wherever the tree is mounted on
    every worker (local mode, NFS, Lustre).  Other schemes would need a
    worker-side Hadoop client, so :func:`list_entries` never routes
    them here (it walks them through the JVM gateway) and this raises.
    """
    root = strip_trailing_slash(root)
    local = local_root(root)
    if local is None:
        raise ValueError(f"the cluster walk requires a locally-walkable root, got {root!r}")
    if not os.path.isdir(local):
        raise FileNotFoundError(f"not a directory: {local}")

    from pyspark.sql import functions as F

    levels = list(_level_frontier_walk(spark, local))
    df = levels[0]
    for lv in levels[1:]:
        df = df.union(lv)
    # Children paths are os.path.join(parent, name) descending from
    # the local root, so the relative path is a fixed-length prefix strip
    # (substring positions count the same code points Python len does).
    # The joining '/' is only appended when the local root doesn't already
    # end with one — computing the strip length from the rstrip'd root
    # keeps a '/' root (children '/name') from silently losing
    # the first character of every relative path.
    rel = F.expr(f"substring(path, {len(local.rstrip('/')) + 2})")
    cols = [
        F.when(F.col("is_dir"), F.concat(rel, F.lit("/"))).otherwise(rel).alias(
            "relative_path"
        ),
        F.col("is_dir"),
        F.col("size").cast("long").alias("size"),
        F.col("path").alias("full_path"),
    ]
    if with_mtime:
        cols.append(F.col("mtime_ns").cast("long").alias("mtime_ns"))
    return df.select(*cols)
