"""Incremental directory re-hash: reuse chunk digests for unchanged
files (engine extension — the reference re-reads every byte on every
run, dirhash.py:307-444).

Nothing in the v1 fold requires digests to be RECOMPUTED: the final
chain (dirhash.py:413-441) consumes the complete ordered listing plus
every chunk digest in (path, block_num) order, and a chunk's digest
depends only on (path, block_num, content).  So a re-hash of a tree
where few files changed can splice stored digests for unchanged files
and run the fused read+hash stage over the changed set only:

  1. LIST      the full tree (metadata-only, as always);
  2. DIFF      against the manifest's file-level (path, size, mtime_ns)
               keys — a driver-side set comparison on the same scale as
               the listing itself (or, when the listing tripped the
               serial-walk budget, a cluster-side left join with no
               O(files) driver state);
  3. READ+HASH only the changed/new files (the expensive stage now
               costs the churn, not the corpus);
  4. SPLICE    manifest digests for unchanged files ∪ fresh digests;
  5. FOLD      identically to a full run — bit-identical output by
               construction, pinned by tests/test_dirhash_e2e.py
               (modify one file in a copied tree: incremental ==
               full re-hash, and only that file re-read).

Routes follow ``hashdir``'s rule (its module doc): (a) driver diff and
collect fold; (b) driver diff, digests spliced as cluster relations and
drained through ``fold_digests_streamed`` when the chunk count exceeds
``hashdir.COLLECT_MAX_CHUNKS``; (c) fully cluster-side
(:func:`_incremental_cluster`) when the walk trips its budget.

At 100 TB with 1% daily churn this turns the re-hash from a
100 TB read into a ~1 TB read plus a digest-table scan; the manifest
is 32 bytes per chunk + the stat triple per file (a 100 TB tree at
128 MiB blocks is ~25 MB of digests per PB — parquet-stored,
broadcastable).  mtime granularity: nanoseconds where the filesystem
provides them; a (size, mtime_ns)-equal rewrite is treated as
unchanged, the same contract rsync's quick check makes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import hashdir
from .chunks import chunk_count, chunk_plan_df
from .codec import (
    DEFAULT_BLOCK_SIZE,
    build_hash_string,
    fold_digest,
    fold_header,
    get_hash_func,
    parse_blocksize,
)
from .hashdir import (
    digest_directory,
    fold_digests_streamed,
    fold_header_streamed,
    hash_chunk_plan,
)
from .listing import (
    Entry,
    list_entries,
    list_entries_df,
    reject_undecodable_paths,
    strip_trailing_slash,
)

_STAT_SCHEMA = "path STRING, size BIGINT, mtime_ns BIGINT"
_MANIFEST_COLUMNS = ("path", "size", "mtime_ns", "block_num", "digest")


def _stamped(manifest: DataFrame, hash_algorithm: str, bs: int) -> DataFrame:
    """Manifest columns plus the (hash_algorithm, blocksize_bytes) stamp
    every row carries (see :func:`build_chunk_manifest`)."""
    return manifest.select(
        *_MANIFEST_COLUMNS,
        F.lit(hash_algorithm).alias("hash_algorithm"),
        F.lit(bs).cast("bigint").alias("blocksize_bytes"),
    )


def _mtimes_for(files: list[Entry], spark: SparkSession | None = None) -> dict[str, int]:
    """ONE pre-hash mtime snapshot (relative_path → mtime_ns) for the
    driver route's change detection.  Two contracts live here:

    - Taken BEFORE any content is read, and callers must reuse it for
      the refreshed manifest: re-statting after hashing paired a file
      rewritten mid-run with its pre-rewrite digest but post-rewrite
      mtime — every later incremental run then spliced the stale digest
      with no error.  Pairing the PRE-hash mtime instead means a
      mid-run rewrite reads as changed next time (conservative).
    - Local paths stat directly (cheap syscalls); scheme paths batch
      ONE listStatus RPC per parent directory instead of one
      getFileStatus per file — the driver-serial O(files) round-trips
      were paid on exactly the latency-bound trees incremental targets
      (millisecond granularity there — still monotone per rewrite).
    """
    out: dict[str, int] = {}
    by_parent: dict[str, list[Entry]] = {}
    for e in files:
        if "://" not in e.full_path:
            out[e.relative_path] = os.stat(e.full_path).st_mtime_ns
        else:
            by_parent.setdefault(e.full_path.rsplit("/", 1)[0], []).append(e)
    if by_parent:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        for parent, group in by_parent.items():
            jpath = jvm.org.apache.hadoop.fs.Path(parent)
            fs = jpath.getFileSystem(conf)
            mt = {
                st.getPath().toString(): int(st.getModificationTime()) * 1_000_000
                for st in fs.listStatus(jpath)
            }
            for e in group:
                out[e.relative_path] = mt[e.full_path]
    return out


def build_chunk_manifest(
    spark: SparkSession,
    directory: str,
    hash_algorithm: str = "sha256",
    blocksize: str = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """One full read+hash pass → the reusable manifest:
    (path, size, mtime_ns, block_num, digest).  Persist this with any
    parquet sink; ``hash_directory_incremental`` consumes it.

    Every row carries the (hash_algorithm, blocksize_bytes) the digests
    were computed under: a digest is only reusable under the SAME
    parameters, and without the stamp an incremental run with different
    ones would splice old-parameter digests with fresh ones and print a
    plausible-looking but wrong v1 hash.

    A tree whose serial walk trips the budget builds the manifest
    without any O(files) driver structure: cluster listing with
    executor-side stats and a cluster-derived chunk plan (same rows,
    pinned in tests)."""
    directory = strip_trailing_slash(directory)
    bs = parse_blocksize(blocksize)
    entries = list_entries(directory, spark)
    if entries is None:
        # mtime_ns rides the walk's own scandir stat (one metadata
        # pass); checkpoint so the manifest's stat side and the chunk
        # plan re-read materialized rows
        files = (
            list_entries_df(spark, directory, with_mtime=True)
            .where(~F.col("is_dir"))
            .localCheckpoint()
        )
        stat_df = files.select(F.col("relative_path").alias("path"), "size", "mtime_ns")
        digests = hash_chunk_plan(spark, chunk_plan_df(files, bs), hash_algorithm)
    else:
        files = [e for e in entries if not e.is_dir]
        reject_undecodable_paths(files)
        mtimes = _mtimes_for(files, spark)
        stat_df = spark.createDataFrame(
            [(e.relative_path, e.size, mtimes[e.relative_path]) for e in files],
            _STAT_SCHEMA,
        )
        digests = digest_directory(spark, files, bs, hash_algorithm)
    # LEFT join from the stat side: zero-chunk (empty) files keep a
    # manifest row with null block/digest — their (path, size, mtime)
    # key must survive or every empty file reads as "changed" forever.
    return _stamped(stat_df.join(digests, "path", "left"), hash_algorithm, bs)


def _check_manifest_parameters(
    manifest: DataFrame, hash_algorithm: str, blocksize_bytes: int
) -> None:
    """Refuse to splice digests computed under different parameters.
    Raises ValueError for a manifest without the parameter stamp (a
    pre-stamp manifest is unverifiable — rebuild it) or with a stamp
    that doesn't match the requested (algorithm, blocksize)."""
    cols = set(manifest.columns)
    if not {"hash_algorithm", "blocksize_bytes"} <= cols:
        raise ValueError(
            "manifest has no (hash_algorithm, blocksize_bytes) stamp; "
            "rebuild it with build_chunk_manifest — digests of unknown "
            "provenance cannot be safely reused"
        )
    stamps = (
        # bounded: distinct over the 2 stamp columns — exactly 1 row on a
        # well-formed manifest (validated right below).
        manifest.select("hash_algorithm", "blocksize_bytes").distinct().collect()
    )
    mismatched = [
        (r["hash_algorithm"], r["blocksize_bytes"])
        for r in stamps
        if (r["hash_algorithm"], r["blocksize_bytes"])
        != (hash_algorithm, blocksize_bytes)
    ]
    if mismatched:
        raise ValueError(
            f"manifest was built with {mismatched}, but this run requests "
            f"({hash_algorithm!r}, {blocksize_bytes}); reusing its digests "
            "would produce a wrong hash — rebuild the manifest or rerun "
            "with the original parameters"
        )


def hash_directory_incremental(
    spark: SparkSession,
    directory: str,
    manifest: DataFrame,
    hash_algorithm: str = "sha256",
    blocksize: str = DEFAULT_BLOCK_SIZE,
    with_manifest: bool = False,
) -> tuple:
    """v1 hash string of ``directory`` computed by splicing manifest
    digests for files whose (path, size, mtime_ns) are unchanged and
    running the fused read+hash stage over the rest.  Returns
    ``(hash_string, stats)`` with stats = {n_files, n_reused_files,
    n_rehashed_files} so callers can assert the read really was
    churn-sized.  With ``with_manifest=True`` a third element is the
    REFRESHED manifest built from the spliced digests (no second read
    pass) — the daily-rollover shape: hash incrementally, persist the
    new manifest, repeat tomorrow.  The route follows the listing's
    measurements (module doc); every route is bit-identical, pinned in
    tests/test_dirhash_e2e.py."""
    directory = strip_trailing_slash(directory)
    bs = parse_blocksize(blocksize)
    _check_manifest_parameters(manifest, hash_algorithm, bs)
    all_entries = list_entries(directory, spark)
    if all_entries is None:  # (c) the serial walk tripped its budget
        return _incremental_cluster(
            spark,
            list_entries_df(spark, directory, with_mtime=True),
            manifest,
            hash_algorithm,
            bs,
            blocksize,
            with_manifest,
        )
    reject_undecodable_paths(all_entries)
    files = [e for e in all_entries if not e.is_dir]
    listing = [e.relative_path for e in all_entries]

    manifest_keys = {
        (r["path"], r["size"], r["mtime_ns"])
        # bounded: one metadata triple per manifest FILE (no digests, no
        # content) — same order as the driver-side listing it diffs against.
        for r in manifest.select("path", "size", "mtime_ns").distinct().collect()
    }
    # snapshot mtimes ONCE, pre-hash — the refreshed manifest below
    # must pair digests with these (see _mtimes_for's TOCTOU contract)
    mtimes = _mtimes_for(files, spark)
    unchanged_paths = []
    changed = []
    for e in files:
        if (e.relative_path, e.size, mtimes[e.relative_path]) in manifest_keys:
            unchanged_paths.append(e.relative_path)
        else:
            changed.append(e)
    stats = {
        "n_files": len(files),
        "n_reused_files": len(unchanged_paths),
        "n_rehashed_files": len(files) - len(unchanged_paths),
    }

    spliced = []
    if unchanged_paths:
        keep = spark.createDataFrame([(p,) for p in unchanged_paths], "path STRING")
        spliced.append(
            manifest.join(F.broadcast(keep), "path")
            .where(F.col("digest").isNotNull())  # empty files carry no chunks
            .select("path", "block_num", "digest")
        )
    if any(e.size > 0 for e in changed):
        spliced.append(digest_directory(spark, changed, bs, hash_algorithm))

    if chunk_count(all_entries, bs) > hashdir.COLLECT_MAX_CHUNKS:
        # (b) too many digests to collect: splice them cluster-side and
        # drain them sorted into the chain
        h = get_hash_func(hash_algorithm)()
        fold_header(h, listing)
        digests = spark.createDataFrame([], hashdir.DIGEST_SCHEMA)
        for part in spliced:
            digests = digests.unionByName(part)
        stat_df = spark.createDataFrame(
            [(e.relative_path, e.size, mtimes[e.relative_path]) for e in files],
            _STAT_SCHEMA,
        )
        return _drain(
            h, digests.localCheckpoint(), stat_df, stats,
            hash_algorithm, bs, blocksize, with_manifest,
        )

    # bounded: at most COLLECT_MAX_CHUNKS digest rows, as in
    # hash_directory_raw
    digest_rows = [r for df in spliced for r in df.collect()]
    digest_rows.sort(key=lambda r: (r["path"], r["block_num"]))
    hex_digest = fold_digest(
        hash_algorithm, listing, [bytes(r["digest"]) for r in digest_rows]
    )
    hash_string = build_hash_string(hash_algorithm, blocksize, hex_digest)
    if not with_manifest:
        return hash_string, stats
    file_stats = {e.relative_path: (e.size, mtimes[e.relative_path]) for e in files}
    rows = [
        (r["path"], *file_stats[r["path"]], r["block_num"], bytes(r["digest"]))
        for r in digest_rows
    ]
    chunked_paths = {r["path"] for r in digest_rows}
    rows += [
        (p, s, m, None, None)
        for p, (s, m) in file_stats.items()
        if p not in chunked_paths  # zero-chunk (empty) files keep their key
    ]
    new_manifest = spark.createDataFrame(
        rows, "path STRING, size BIGINT, mtime_ns BIGINT, block_num BIGINT, digest BINARY"
    )
    return hash_string, stats, _stamped(new_manifest, hash_algorithm, bs)


def _incremental_cluster(
    spark: SparkSession,
    entries_df: DataFrame,
    manifest: DataFrame,
    hash_algorithm: str,
    bs: int,
    blocksize: str,
    with_manifest: bool,
) -> tuple:
    """Cluster-side incremental re-hash for trees whose listing tripped
    the serial-walk budget: the stat-diff is a left join on
    (path, size, mtime_ns), the splice a union of the manifest's
    unchanged digests with freshly-hashed changed chunks, and the fold
    streams one sorted partition at a time — peak driver state is one
    partition of paths/digests plus one walk frontier, never the file
    set (r11 verdict item 4: this was the last O(files) driver
    structure in the dirhash scale paths)."""
    files = entries_df.where(~F.col("is_dir"))  # mtime_ns rides the
    # walk's own scandir stat — no second metadata pass (each file's
    # size and mtime come from the SAME stat call)
    keys = manifest.select(
        F.col("path").alias("relative_path"), "size", "mtime_ns"
    ).distinct()
    joined = files.join(
        keys.withColumn("matched", F.lit(True)),
        ["relative_path", "size", "mtime_ns"],
        "left",
        # consumed by the counts aggregate, the reused-digest semi-side,
        # the changed-file chunk plan, and the refreshed manifest —
        # checkpoint so the stat stage and the diff join run once
    ).localCheckpoint()

    counts = joined.agg(
        F.count(F.lit(1)).alias("n_files"), F.count("matched").alias("n_reused")
    ).first()
    stats = {
        "n_files": int(counts["n_files"]),
        "n_reused_files": int(counts["n_reused"]),
        "n_rehashed_files": int(counts["n_files"]) - int(counts["n_reused"]),
    }

    reused = manifest.join(
        joined.where("matched").select(F.col("relative_path").alias("path")),
        "path",
    ).where(F.col("digest").isNotNull()).select("path", "block_num", "digest")
    changed = joined.where(F.col("matched").isNull()).select(
        "relative_path", F.lit(False).alias("is_dir"), "size", "full_path"
    )
    plan = chunk_plan_df(changed, bs)
    digests = reused.unionByName(
        hash_chunk_plan(spark, plan, hash_algorithm)
    ).localCheckpoint()  # the orderBy's range-exchange sampling (and a
    # with_manifest re-read) must re-read materialized digests, never
    # re-run the read+hash stage

    h = get_hash_func(hash_algorithm)()
    fold_header_streamed(h, entries_df)
    stat_df = joined.select(F.col("relative_path").alias("path"), "size", "mtime_ns")
    return _drain(
        h, digests, stat_df, stats, hash_algorithm, bs, blocksize, with_manifest
    )


def _drain(
    h,
    digests: DataFrame,
    stat_df: DataFrame,
    stats: dict,
    hash_algorithm: str,
    bs: int,
    blocksize: str,
    with_manifest: bool,
) -> tuple:
    """Shared tail of routes (b) and (c): drain the localCheckpoint'd
    spliced ``digests`` into hasher ``h`` (header already folded) and,
    if asked, build the refreshed manifest from the same rows."""
    fold_digests_streamed(h, digests)
    hash_string = build_hash_string(hash_algorithm, blocksize, h.hexdigest())
    if not with_manifest:
        return hash_string, stats
    # LEFT join: zero-chunk (empty) files keep their key
    new_manifest = stat_df.join(digests, "path", "left")
    return hash_string, stats, _stamped(new_manifest, hash_algorithm, bs)
