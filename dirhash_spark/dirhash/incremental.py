"""The dirhash pipeline: a re-hash against a manifest of stored chunk
digests, where a full hash is the re-hash with nothing stored (engine
extension — the reference re-reads every byte on every run,
dirhash.py:307-444).

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
               keys — with nothing stored, every file is changed;
  3. READ+HASH only the changed/new files (``hashdir``'s stage; the
               expensive stage costs the churn, not the corpus);
  4. SPLICE    manifest digests for unchanged files ∪ fresh digests;
  5. FOLD      ``codec``'s v1 fold — bit-identical output by
               construction, pinned by tests/test_dirhash_e2e.py
               (modify one file in a copied tree: incremental ==
               full re-hash, and only that file re-read).

:func:`rehash` is the one router; every entry point runs it
(``hashdir.hash_directory_raw`` and :func:`build_chunk_manifest` with
nothing stored, :func:`hash_directory_incremental` with the caller's
manifest).  There are two routes, taken from what the listing
measures, never from an option; both are bit-identical:

  (a) DRIVER (:func:`_rehash_entries`): the serial walk finishes inside
      its budget and the listing's chunk count is at most
      ``hashdir.COLLECT_MAX_CHUNKS`` → the manifest is read as one
      Arrow table (``toArrow``, one job) whose columns serve the stamp
      check, the diff (Arrow joins on the stat key) and the splice; the
      changed files' chunks are cut into byte-balanced segments on the
      driver and read+hashed in one job with no shuffle
      (``hashdir.digest_directory``), whose digests are collected; a
      driver sort and ``fold_digest``; the refreshed manifest goes back
      to Spark as the spliced Arrow table — no manifest row is pickled
      either way;
  (b) CLUSTER (:func:`rehash_listing_df`): the walk trips its budget
      (the listing stays cluster-side, ``listing.list_entries_df``), or
      the driver listing has too many chunks to collect the digests of
      (the listing is shipped once, ``listing.entries_frame``) → the
      diff is a left join, the splice a union, and ``codec.fold`` reads
      header paths and digests as streams from cluster sorts: no
      O(files) driver state.

The refreshed manifest pairs each digest with the PRE-hash stat of the
listing: a file rewritten mid-run then reads as changed next time
(conservative), never as an unchanged file with a stale digest.

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

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..routing import checkpoint_counted
from . import hashdir
from .chunks import chunk_count, chunk_plan_df
from .codec import (
    DEFAULT_BLOCK_SIZE,
    build_hash_string,
    fold,
    fold_digest,
    parse_blocksize,
)
from .hashdir import digest_directory, hash_chunk_plan
from .listing import (
    arrow_table,
    entries_frame,
    list_entries,
    list_entries_df,
    reject_undecodable_paths,
    strip_trailing_slash,
)

_MANIFEST_SCHEMA = pa.schema(
    [
        ("path", pa.string()),
        ("size", pa.int64()),
        ("mtime_ns", pa.int64()),
        ("block_num", pa.int64()),
        ("digest", pa.binary()),
    ]
)
_MANIFEST_COLUMNS = tuple(_MANIFEST_SCHEMA.names)
#: a file's stat key: the diff reuses its stored digests while it matches
_KEY_SCHEMA = pa.schema(list(_MANIFEST_SCHEMA)[:3])
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

    This is :func:`rehash` with nothing stored, on the route the
    listing measures (module doc): a tree whose serial walk trips the
    budget builds the manifest without any O(files) driver structure."""
    bs = parse_blocksize(blocksize)
    return rehash(spark, directory, None, hash_algorithm, bs, with_manifest=True)[2]


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
    _require_stamp(manifest)
    hex_digest, stats, new_manifest = rehash(
        spark, directory, manifest, hash_algorithm, parse_blocksize(blocksize), with_manifest
    )
    hash_string = build_hash_string(hash_algorithm, blocksize, hex_digest)
    return (hash_string, stats, new_manifest) if with_manifest else (hash_string, stats)


def rehash(
    spark: SparkSession,
    directory: str,
    manifest: DataFrame | None,
    hash_algorithm: str,
    bs: int,
    with_manifest: bool = False,
) -> tuple:
    """THE pipeline (module doc): ``(hex_digest, stats, new_manifest)``
    for ``directory`` at blocksize ``bs`` bytes, splicing the digests of
    ``manifest`` for unchanged files.  ``manifest=None`` means nothing
    is stored: no manifest read, no stamp check, no diff join, and
    ``stats`` is None.  ``new_manifest`` is the refreshed manifest with
    ``with_manifest=True``, else None.  The route follows what the
    listing measures."""
    directory = strip_trailing_slash(directory)
    entries = list_entries(directory, spark)
    if entries is None:  # the serial walk tripped its budget
        entries_df = list_entries_df(spark, directory)
    else:
        reject_undecodable_paths(entries)
        if chunk_count(entries, bs) <= hashdir.COLLECT_MAX_CHUNKS:
            return _rehash_entries(spark, entries, manifest, hash_algorithm, bs, with_manifest)
        entries_df = entries_frame(spark, entries)  # too many digests to collect
    return rehash_listing_df(spark, entries_df, manifest, hash_algorithm, bs, with_manifest)


def _stats(n_files: int, n_rehashed: int) -> dict:
    return {
        "n_files": n_files,
        "n_reused_files": n_files - n_rehashed,
        "n_rehashed_files": n_rehashed,
    }


def _rehash_entries(
    spark: SparkSession,
    entries: list,
    manifest: DataFrame | None,
    hash_algorithm: str,
    bs: int,
    with_manifest: bool,
) -> tuple:
    """The driver route (:func:`rehash` contract): the manifest is read
    as ONE Arrow table (``toArrow``, one job), and the stamp check, the
    stat diff (two joins on (path, size, mtime_ns)) and the splice run
    over its columns; only the changed files are read and hashed, in
    one shuffle-free job whose digests are collected, and the fold is
    ``fold_digest``.  The refreshed manifest goes back to Spark as that
    spliced Arrow table: no manifest row is pickled in either
    direction."""
    files = [e for e in entries if not e.is_dir]
    changed, stats, spliced = files, None, []
    if manifest is not None:
        table = manifest.select(*_MANIFEST_COLUMNS, *_STAMP_COLUMNS).toArrow()
        # bounded: one row per chunk (and per empty file) of the tree the
        # manifest was built from — the scale of the digest collect below
        stamps = table.group_by(list(_STAMP_COLUMNS)).aggregate([]).to_pylist()
        _check_manifest_parameters(  # the distinct (algorithm, blocksize) PAIRS
            {(s["hash_algorithm"], s["blocksize_bytes"]) for s in stamps}, hash_algorithm, bs
        )
        stored = table.select(_MANIFEST_COLUMNS).cast(_MANIFEST_SCHEMA)
        listed = arrow_table([(e.relative_path, e.size, e.mtime_ns) for e in files], _KEY_SCHEMA)
        key = _KEY_SCHEMA.names
        spliced.append(stored.join(listed, key, join_type="left semi"))
        unmatched = listed.join(stored.select(key), key, join_type="left anti")
        changed_paths = set(unmatched["path"].to_pylist())
        changed = [e for e in files if e.relative_path in changed_paths]
        stats = _stats(len(files), len(changed))

    digests = []
    if any(e.size > 0 for e in changed):
        # bounded: at most COLLECT_MAX_CHUNKS digest rows (the cluster
        # route takes over beyond that)
        digests = digest_directory(spark, changed, bs, hash_algorithm).collect()
    stat = {e.relative_path: (e.size, e.mtime_ns) for e in changed}
    rows = [(path, *stat[path], num, d) for path, num, d in digests]
    rows += [  # zero-chunk (empty) files keep their key
        (e.relative_path, e.size, e.mtime_ns, None, None) for e in changed if e.size == 0
    ]
    spliced.append(arrow_table(rows, _MANIFEST_SCHEMA))
    # Driver-side sort on (path, block_num) == reference sortBy((path,
    # num)), dirhash.py:413 (Arrow compares strings as UTF-8 bytes, which
    # is code-point order) — and avoids the range-exchange sampling pass
    # that would re-execute the read+hash stage.  The fold itself is
    # inherently sequential (each step hashes the previous digest,
    # dirhash.py:413-441), so no cluster topology helps it.
    new_manifest = pa.concat_tables(spliced).sort_by(
        [("path", "ascending"), ("block_num", "ascending")]
    )

    hex_digest = fold_digest(
        hash_algorithm,
        [e.relative_path for e in entries],
        pc.drop_null(new_manifest["digest"]).to_numpy(zero_copy_only=False),
    )
    if not with_manifest:
        return hex_digest, stats, None
    return hex_digest, stats, _stamped(spark.createDataFrame(new_manifest), hash_algorithm, bs)


def rehash_listing_df(
    spark: SparkSession,
    entries_df: DataFrame,
    manifest: DataFrame | None,
    hash_algorithm: str,
    bs: int,
    with_manifest: bool = False,
) -> tuple:
    """The cluster route (:func:`rehash` contract), for a listing
    DataFrame (``listing.list_entries_df`` or ``listing.entries_frame``):
    the stat-diff is a left join on (path, size, mtime_ns), the splice a
    union of the manifest's unchanged digests with freshly-hashed
    changed chunks, and the fold streams one sorted partition at a
    time — peak driver state is one partition of paths/digests plus one
    walk frontier, never the file set.

    A literal tree-reduce cannot exist for the v1 digest: the fold is a
    single hash chain over an ORDERED byte stream (header then chunk
    digests in (path, block_num) order, dirhash.py:422-441), and the
    chain's state at byte k depends on every byte before it.  What CAN
    move off the driver is everything except the O(1) hash state: the
    chunk plan derives from the listing DataFrame, and both sorts are
    cluster ``orderBy``s (Spark's UTF8String binary comparison equals
    Python's code-point string sort, so both streams arrive in exactly
    the order the reference's driver sort produced).  Digests are
    ``localCheckpoint``-ed FIRST, so the range exchange's
    boundary-sampling pass (and a refreshed-manifest write) re-reads
    materialized rows, not the fused read+hash stage.  Trade-off: a
    local checkpoint pins those rows in executor block-manager storage
    with lineage truncated, so losing an executor mid-drain fails the
    job unrecoverably — acceptable for digest-sized state."""
    files = entries_df.where(~F.col("is_dir"))
    changed, reused, stats = files, None, None
    if manifest is not None:
        _check_manifest_parameters(
            # bounded: distinct over the 2 stamp columns — exactly 1 row
            # on a well-formed manifest
            set(map(tuple, manifest.select(*_STAMP_COLUMNS).distinct().collect())),
            hash_algorithm,
            bs,
        )
        keys = manifest.select(
            F.col("path").alias("relative_path"), "size", "mtime_ns"
        ).distinct()
        # consumed by the reused-digest semi-side, the changed-file
        # chunk plan, and the refreshed manifest — checkpointed so the
        # diff join runs once
        files, counts = checkpoint_counted(
            files.join(
                keys.withColumn("matched", F.lit(True)),
                ["relative_path", "size", "mtime_ns"],
                "left",
            ),
            n_files=F.count(F.lit(1)),
            n_reused=F.count("matched"),
        )
        stats = _stats(counts["n_files"], counts["n_files"] - counts["n_reused"])
        changed = files.where(F.col("matched").isNull())
        reused = manifest.join(
            files.where("matched").select(F.col("relative_path").alias("path")),
            "path",
        ).where(F.col("digest").isNotNull()).select("path", "block_num", "digest")

    digests = hash_chunk_plan(chunk_plan_df(changed, bs), hash_algorithm)
    if reused is not None:
        digests = reused.unionByName(digests)
    digests = digests.localCheckpoint()

    hex_digest = fold(
        hash_algorithm,
        entries_df.count(),
        _drain(entries_df, "relative_path", "relative_path"),
        _drain(digests, "digest", "path", "block_num"),
    )
    if not with_manifest:
        return hex_digest, stats, None
    # LEFT join: zero-chunk (empty) files keep their key
    stat_df = files.select(F.col("relative_path").alias("path"), "size", "mtime_ns")
    new_manifest = stat_df.join(digests, "path", "left")
    return hex_digest, stats, _stamped(new_manifest, hash_algorithm, bs)


def _drain(df: DataFrame, column: str, *order: str):
    """``column`` of ``df`` in cluster sort order on ``order`` (Spark's
    UTF8String binary order is Python's code-point string order, parity
    pinned in tests/test_properties.py): a generator that starts its
    first job only when the fold reaches it."""
    rows = (
        df.orderBy(*order)
        .select(column)
        # bounded: at most TWO sorted partitions resident at a time —
        # never the full listing or digest set.  Prefetching overlaps
        # the next partition's job with the driver's hash drain
        # (without it the executors sit idle between the per-partition
        # jobs toLocalIterator schedules); measured +30% streamed-fold
        # throughput, r14 BASELINE.md.
        .toLocalIterator(prefetchPartitions=True)
    )
    for row in rows:
        yield row[0]
