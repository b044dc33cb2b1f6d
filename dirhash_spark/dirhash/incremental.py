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
  5. FOLD      ``hashdir``'s v1 fold — bit-identical output by
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
      ``hashdir.COLLECT_MAX_CHUNKS`` → one ``collect`` of the manifest
      serves the stamp check, the diff, the splice and the refreshed
      manifest as Python over its rows; the changed files' chunks are
      cut into byte-balanced segments on the driver and read+hashed in
      one job with no shuffle (``hashdir.digest_directory``), whose
      digests are collected; a driver sort and ``fold_digest``;
  (b) CLUSTER (:func:`rehash_listing_df`): the walk trips its budget
      (the listing stays cluster-side, ``listing.list_entries_df``), or
      the driver listing has too many chunks to collect the digests of
      (the listing is shipped once, ``listing.entries_frame``) → the
      diff is a left join, the splice a union, and header paths and
      digests both stream from cluster sorts: no O(files) driver state.

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
    """The driver route (:func:`rehash` contract): ONE manifest collect
    serves the stamp check, the stat diff, the splice and the refreshed
    manifest; only the changed files are read and hashed, in one
    shuffle-free job whose digests are collected, and the fold is
    ``fold_digest``."""
    stored: dict[tuple, list] = {}
    if manifest is not None:
        rows = manifest.select(*_MANIFEST_COLUMNS, *_STAMP_COLUMNS).collect()
        # bounded: one row per chunk (and per empty file) of the tree the
        # manifest was built from — the scale of the digest collect below
        _check_manifest_parameters({r[5:] for r in rows}, hash_algorithm, bs)
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
    if any(e.size > 0 for e in changed):
        # bounded: at most COLLECT_MAX_CHUNKS digest rows (the cluster
        # route takes over beyond that)
        digests += digest_directory(spark, changed, bs, hash_algorithm).collect()
    # Driver-side tuple sort == reference sortBy((path, num)),
    # dirhash.py:413 — and avoids the range-exchange sampling pass that
    # would re-execute the read+hash stage.  The fold itself is
    # inherently sequential (each step hashes the previous digest,
    # dirhash.py:413-441), so no cluster topology helps it.
    digests.sort(key=lambda d: (d[0], d[1]))

    hex_digest = fold_digest(
        hash_algorithm, [e.relative_path for e in entries], [d[2] for d in digests]
    )
    stats = None if manifest is None else _stats(len(files), len(changed))
    if not with_manifest:
        return hex_digest, stats, None
    file_stats = {e.relative_path: (e.size, e.mtime_ns) for e in files}
    new_rows = [(path, *file_stats[path], num, d) for path, num, d in digests]
    new_rows += [  # zero-chunk (empty) files keep their key
        (e.relative_path, e.size, e.mtime_ns, None, None) for e in files if e.size == 0
    ]
    new_manifest = spark.createDataFrame(new_rows, _MANIFEST_SCHEMA)
    return hex_digest, stats, _stamped(new_manifest, hash_algorithm, bs)


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
        files = files.join(
            keys.withColumn("matched", F.lit(True)),
            ["relative_path", "size", "mtime_ns"],
            "left",
            # consumed by the counts aggregate, the reused-digest
            # semi-side, the changed-file chunk plan, and the refreshed
            # manifest — checkpoint so the diff join runs once
        ).localCheckpoint()
        counts = files.agg(
            F.count(F.lit(1)).alias("n_files"), F.count("matched").alias("n_reused")
        ).first()
        stats = _stats(int(counts["n_files"]), int(counts["n_files"]) - int(counts["n_reused"]))
        changed = files.where(F.col("matched").isNull())
        reused = manifest.join(
            files.where("matched").select(F.col("relative_path").alias("path")),
            "path",
        ).where(F.col("digest").isNotNull()).select("path", "block_num", "digest")

    digests = hash_chunk_plan(spark, chunk_plan_df(changed, bs), hash_algorithm)
    if reused is not None:
        digests = reused.unionByName(digests)
    digests = digests.localCheckpoint()

    h = get_hash_func(hash_algorithm)()
    fold_header_streamed(h, entries_df)
    fold_digests_streamed(h, digests)
    if not with_manifest:
        return h.hexdigest(), stats, None
    # LEFT join: zero-chunk (empty) files keep their key
    stat_df = files.select(F.col("relative_path").alias("path"), "size", "mtime_ns")
    new_manifest = stat_df.join(digests, "path", "left")
    return h.hexdigest(), stats, _stamped(new_manifest, hash_algorithm, bs)
