"""Incremental directory re-hash: reuse chunk digests for unchanged
files (engine extension — the reference re-reads every byte on every
run, dirhash.py:307-444).

Nothing in the v1 fold requires digests to be RECOMPUTED: the final
chain (dirhash.py:413-441) consumes the complete ordered listing plus
every chunk digest in (path, block_num) order, and a chunk's digest
depends only on (path, block_num, content).  So a re-hash of a tree
where few files changed can splice stored digests for unchanged files
and run the fused read+hash stage over the changed set only:

  1. LIST      the full tree (metadata-only, as always); each file's
               size and mtime_ns come from ONE stat (``listing`` module
               doc), taken before any content is read;
  2. DIFF      against the manifest's file-level (path, size, mtime_ns)
               keys;
  3. READ+HASH only the changed/new files (the expensive stage now
               costs the churn, not the corpus);
  4. SPLICE    manifest digests for unchanged files ∪ fresh digests;
  5. FOLD      identically to a full run — bit-identical output by
               construction, pinned by tests/test_dirhash_e2e.py
               (modify one file in a copied tree: incremental ==
               full re-hash, and only that file re-read).

The refreshed manifest pairs each digest with the PRE-hash stat of the
listing: a file rewritten mid-run then reads as changed next time
(conservative), never as an unchanged file with a stale digest.

Two routes, on ``hashdir``'s triggers (its module doc): (a) DRIVER —
one ``collect`` of the manifest, then the stamp check, diff, splice and
refreshed manifest run as Python over its rows, and the fold is
``fold_digest``; (b) CLUSTER (:func:`_incremental_cluster`) — the diff
is a left join, the splice a union, and the fold streams from cluster
sorts, with no O(files) driver state.

At 100 TB with 1% daily churn this turns the re-hash from a
100 TB read into a ~1 TB read plus a digest-table scan; the manifest
is 32 bytes per chunk + the stat triple per file (a 100 TB tree at
128 MiB blocks is ~25 MB of digests per PB — parquet-stored,
broadcastable).  mtime granularity: nanoseconds where the filesystem
provides them (milliseconds through the JVM gateway); a
(size, mtime_ns)-equal rewrite is treated as unchanged, the same
contract rsync's quick check makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import hashdir
from .chunks import chunk_count, chunk_plan_df
from .codec import (
    DEFAULT_BLOCK_SIZE,
    build_hash_string,
    fold_digest,
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
    entries_frame,
    list_entries,
    list_entries_df,
    reject_undecodable_paths,
    strip_trailing_slash,
)

_STAT_SCHEMA = "path STRING, size BIGINT, mtime_ns BIGINT"
_MANIFEST_SCHEMA = "path STRING, size BIGINT, mtime_ns BIGINT, block_num BIGINT, digest BINARY"
_MANIFEST_COLUMNS = ("path", "size", "mtime_ns", "block_num", "digest")
_STAMP_COLUMNS = ("hash_algorithm", "blocksize_bytes")


def _stamped(manifest: DataFrame, hash_algorithm: str, bs: int) -> DataFrame:
    """Manifest columns plus the (hash_algorithm, blocksize_bytes) stamp
    every row carries (see :func:`build_chunk_manifest`)."""
    return manifest.select(
        *_MANIFEST_COLUMNS,
        F.lit(hash_algorithm).alias("hash_algorithm"),
        F.lit(bs).cast("bigint").alias("blocksize_bytes"),
    )


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
        # checkpoint so the manifest's stat side and the chunk plan
        # re-read materialized rows
        files = list_entries_df(spark, directory).where(~F.col("is_dir")).localCheckpoint()
        stat_df = files.select(F.col("relative_path").alias("path"), "size", "mtime_ns")
        digests = hash_chunk_plan(spark, chunk_plan_df(files, bs), hash_algorithm)
    else:
        files = [e for e in entries if not e.is_dir]
        reject_undecodable_paths(files)
        stat_df = spark.createDataFrame(
            [(e.relative_path, e.size, e.mtime_ns) for e in files], _STAT_SCHEMA
        )
        digests = digest_directory(spark, files, bs, hash_algorithm)
    # LEFT join from the stat side: zero-chunk (empty) files keep a
    # manifest row with null block/digest — their (path, size, mtime)
    # key must survive or every empty file reads as "changed" forever.
    return _stamped(stat_df.join(digests, "path", "left"), hash_algorithm, bs)


def _require_stamp(manifest: DataFrame) -> None:
    """Refuse a manifest without the parameter stamp: a pre-stamp
    manifest is unverifiable — rebuild it.  Schema only, no job."""
    if not set(_STAMP_COLUMNS) <= set(manifest.columns):
        raise ValueError(
            "manifest has no (hash_algorithm, blocksize_bytes) stamp; "
            "rebuild it with build_chunk_manifest — digests of unknown "
            "provenance cannot be safely reused"
        )


def _check_manifest_parameters(stamps: set, hash_algorithm: str, blocksize_bytes: int) -> None:
    """Refuse to splice digests computed under different parameters:
    raises ValueError when any of ``stamps``, the (hash_algorithm,
    blocksize_bytes) pairs the manifest's rows carry, differs from the
    requested pair.  Each route reads the stamps its own way (module
    doc)."""
    mismatched = sorted(stamps - {(hash_algorithm, blocksize_bytes)}, key=repr)
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
    measurements (module doc); both routes are bit-identical, pinned in
    tests/test_dirhash_e2e.py."""
    directory = strip_trailing_slash(directory)
    bs = parse_blocksize(blocksize)
    _require_stamp(manifest)
    entries = list_entries(directory, spark)
    if entries is None:  # the serial walk tripped its budget
        entries_df = list_entries_df(spark, directory)
    else:
        reject_undecodable_paths(entries)
        if chunk_count(entries, bs) <= hashdir.COLLECT_MAX_CHUNKS:
            return _incremental_driver(
                spark, entries, manifest, hash_algorithm, bs, blocksize, with_manifest
            )
        entries_df = entries_frame(spark, entries)  # too many digests to collect
    return _incremental_cluster(
        spark, entries_df, manifest, hash_algorithm, bs, blocksize, with_manifest
    )


def _incremental_driver(
    spark: SparkSession,
    entries: list,
    manifest: DataFrame,
    hash_algorithm: str,
    bs: int,
    blocksize: str,
    with_manifest: bool,
) -> tuple:
    """The driver route: ONE manifest collect serves the stamp check,
    the stat diff, the splice and the refreshed manifest; only the
    changed files are read and hashed."""
    rows = manifest.select(*_MANIFEST_COLUMNS, *_STAMP_COLUMNS).collect()
    # bounded: one row per chunk (and per empty file) of the tree the
    # manifest was built from — the scale of the digest collect below
    _check_manifest_parameters({r[5:] for r in rows}, hash_algorithm, bs)
    stored: dict[tuple, list] = {}
    for path, size, mtime_ns, num, digest, *_ in rows:
        chunks = stored.setdefault((path, size, mtime_ns), [])
        if digest is not None:  # empty files carry no chunks
            chunks.append((path, num, bytes(digest)))

    files = [e for e in entries if not e.is_dir]
    digests, changed = [], []
    for e in files:
        kept = stored.get((e.relative_path, e.size, e.mtime_ns))
        if kept is None:
            changed.append(e)
        else:
            digests += kept
    stats = {
        "n_files": len(files),
        "n_reused_files": len(files) - len(changed),
        "n_rehashed_files": len(changed),
    }
    if any(e.size > 0 for e in changed):
        # bounded: at most COLLECT_MAX_CHUNKS digest rows, as in
        # hashdir's driver route
        fresh = digest_directory(spark, changed, bs, hash_algorithm).collect()
        digests += [(r["path"], r["block_num"], bytes(r["digest"])) for r in fresh]
    digests.sort(key=lambda d: (d[0], d[1]))

    hex_digest = fold_digest(
        hash_algorithm, [e.relative_path for e in entries], [d[2] for d in digests]
    )
    hash_string = build_hash_string(hash_algorithm, blocksize, hex_digest)
    if not with_manifest:
        return hash_string, stats
    file_stats = {e.relative_path: (e.size, e.mtime_ns) for e in files}
    new_rows = [(path, *file_stats[path], num, d) for path, num, d in digests]
    chunked_paths = {d[0] for d in digests}
    new_rows += [
        (p, size, mtime_ns, None, None)
        for p, (size, mtime_ns) in file_stats.items()
        if p not in chunked_paths  # zero-chunk (empty) files keep their key
    ]
    new_manifest = spark.createDataFrame(new_rows, _MANIFEST_SCHEMA)
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
    """The cluster route, for a listing DataFrame (module doc): the
    stat-diff is a left join on (path, size, mtime_ns), the splice a
    union of the manifest's unchanged digests with freshly-hashed
    changed chunks, and the fold streams one sorted partition at a
    time — peak driver state is one partition of paths/digests plus one
    walk frontier, never the file set."""
    _check_manifest_parameters(
        # bounded: distinct over the 2 stamp columns — exactly 1 row on
        # a well-formed manifest
        set(map(tuple, manifest.select(*_STAMP_COLUMNS).distinct().collect())),
        hash_algorithm,
        bs,
    )
    files = entries_df.where(~F.col("is_dir"))
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
    fold_digests_streamed(h, digests)
    hash_string = build_hash_string(hash_algorithm, blocksize, h.hexdigest())
    if not with_manifest:
        return hash_string, stats
    # LEFT join: zero-chunk (empty) files keep their key
    stat_df = joined.select(F.col("relative_path").alias("path"), "size", "mtime_ns")
    new_manifest = stat_df.join(digests, "path", "left")
    return hash_string, stats, _stamped(new_manifest, hash_algorithm, bs)
