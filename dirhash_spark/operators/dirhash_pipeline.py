"""Registry exposure of the byte-faithful dirhash pipeline (REF A1-A7).

These run on the committed fixture tree ``data/hashtree`` (sf_dir is
ignored — the reference's domain is directories, not tables).  DuckDB
cannot replay positioned file reads, so most of these are rows-only
checks; the byte-exact semantics are pinned by tests/test_dirhash_e2e.py
against an independent pure-Python fold, and the columnar twins
(B39-B41) carry the SQL oracles.  ``dirhash_tree_fold`` is the
exception: DuckDB's ``read_blob`` can see the same files, so the
per-subtree rollup carries an exact oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..dirhash.chunks import read_chunks
from ..dirhash.codec import build_hash_string
from ..dirhash.hashdir import digest_directory, fold_listing_df, hash_directory
from ..dirhash.listing import list_entries, list_entries_df

HASHTREE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "data",
    "hashtree",
)


@query(
    "scan_fixed_binary",
    # Independent chunker: DuckDB re-slices each blob positionally via
    # the hex rendering (2 chars per byte) — byte-exact and injective.
    # block_num is per-file 0-based; the final block is short at true
    # length.  The bytes travel as a hex STRING, not raw BINARY: the
    # driver harness canonicalizes result frames with pandas, which
    # cannot hash bytearray cells (r4 ERR); hex is the one rendering
    # both engines produce identically (uppercase in Spark F.hex and
    # DuckDB hex).  Raw-bytes semantics stay pinned by
    # tests/test_dirhash_e2e.py goldens.
    oracle=f"""
    WITH f AS (
      SELECT replace(filename, '{HASHTREE}/', '') AS path, hex(content) AS hx,
             CAST(ceil(size / 4096.0) AS BIGINT) AS n_blocks
      FROM read_blob('{HASHTREE}/**')
      WHERE size > 0
    ),
    c AS (
      SELECT path, hx, unnest(generate_series(0, n_blocks - 1)) AS block_num
      FROM f
    )
    SELECT path, CAST(block_num AS BIGINT) AS block_num,
           CAST(length(substr(hx, block_num * 8192 + 1, 8192)) / 2 AS INTEGER)
             AS content_len,
           substr(hx, block_num * 8192 + 1, 8192) AS content_hex
    FROM c
    """,
    tags=("dirhash", "scan"),
)
def scan_fixed_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: fixed-length binary scan — 4 KiB blocks over the fixture tree,
    per-file block index, short final block at true length."""
    entries = list_entries(HASHTREE)
    chunks = read_chunks(spark, entries, 4096)
    return chunks.select(
        "path",
        "block_num",
        F.length("content").alias("content_len"),
        F.hex("content").alias("content_hex"),
    )


@query(
    "recursive_listing",
    # read_blob enumerates the files independently; directory entries are
    # reconstructed as the distinct proper prefixes of the file paths
    # (sound here because git tracks no empty directories), trailing-'/'
    # and size-0 per the reference conventions.
    oracle=f"""
    WITH files AS (
      SELECT replace(filename, '{HASHTREE}/', '') AS p, CAST(size AS BIGINT) AS size
      FROM read_blob('{HASHTREE}/**')
    ),
    parts AS (SELECT p, size, string_split(p, '/') AS segs FROM files),
    dirs AS (
      SELECT DISTINCT array_to_string(segs[1:i], '/') || '/' AS relative_path
      FROM parts, unnest(generate_series(1, len(segs) - 1)) AS t(i)
    )
    SELECT relative_path, true AS is_dir, CAST(0 AS BIGINT) AS size FROM dirs
    UNION ALL
    SELECT p AS relative_path, false AS is_dir, size FROM files
    """,
    tags=("dirhash", "scan"),
)
def recursive_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: recursive directory listing as a DataFrame (dirs suffixed '/',
    relative paths — dirhash.py:339-386 conventions)."""
    entries = list_entries(HASHTREE)
    return spark.createDataFrame(
        [(e.relative_path, e.is_dir, e.size) for e in entries],
        "relative_path STRING, is_dir BOOLEAN, size BIGINT",
    )


@query("dirhash_chunk_digests", oracle=None, tags=("dirhash", "hash"))
def dirhash_chunk_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-chunk v1 digests over the exact preimage
    ``path ‖ NUL ‖ ascii(num) ‖ NUL ‖ content`` (dirhash.py:288-303),
    from the pipeline's own fused read+hash stage."""
    entries = list_entries(HASHTREE)
    return digest_directory(spark, entries, 4096, "sha256").select(
        "path", "block_num", F.hex(F.col("digest")).alias("digest_hex")
    )


#: Blocksize for the tree fold — larger than the biggest fixture file so
#: each file is exactly one chunk; that keeps the DuckDB oracle (which
#: cannot split blobs positionally) byte-equivalent to the Spark plan.
#: The multi-chunk path is oracled separately by chunk_split_text (B40)
#: and golden-tested in tests/test_dirhash_e2e.py.
_TREE_FOLD_BLOCK = 128 * 1024


@query(
    "dirhash_tree_fold",
    oracle=f"""
    WITH files AS (
      SELECT replace(filename, '{HASHTREE}/', '') AS path, size,
             CASE WHEN size > 0 THEN
               sha256(concat(replace(filename, '{HASHTREE}/', ''), chr(0), '0', chr(0),
                             hex(content)))
             END AS digest
      FROM read_blob('{HASHTREE}/**')
    )
    SELECT split_part(path, '/', 1) AS subtree,
           count(*) AS n_files,
           sha256(concat(
             CAST(count(*) AS VARCHAR), chr(0),
             string_agg(path, chr(0) ORDER BY path), chr(0),
             coalesce(string_agg(digest, '' ORDER BY path), '')
           )) AS subtree_digest
    FROM files
    GROUP BY split_part(path, '/', 1)
    """,
    tags=("dirhash", "merkle"),
)
def dirhash_tree_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subdirectory Merkle rollup: the reference's single driver-side
    final fold (dirhash.py:422-441) generalized to a distributed groupBy
    over the first path segment — one digest per top-level subtree
    instead of one for the whole root.

    Framing per subtree mirrors the v1 fold: ``ascii(n_files) ‖ NUL ‖
    NUL-join(sorted file paths) ‖ NUL ‖ chunk digests in (path, num)
    order``; empty files contribute to the listing but zero chunks
    (dirhash_test.py:205-208 semantics).  Deviations from the byte-exact
    v1 codec (hex-encoded content in the chunk preimage, hex instead of
    raw digest bytes in the fold, files-only listing) exist solely so the
    DuckDB oracle — whose sha256 takes VARCHAR, not BLOB — can compute
    the identical value; the byte-exact fold is covered by
    tests/test_dirhash_e2e.py.

    Scale shape: per-chunk digests reduce content map-side; only 64-byte
    digest strings shuffle to the subtree groups — the same
    "hash before shuffle" physical plan as the reference (dirhash.py:
    412-413), but with the fold itself distributed per group instead of
    driver-side.  Listing metadata and chunk digests each aggregate to
    one row per subtree BEFORE they meet, so the only join in the plan
    is between two subtree-sized tables (no per-chunk join against the
    listing).
    """
    entries = [e for e in list_entries(HASHTREE) if not e.is_dir]
    subtree = F.split_part(F.col("path"), F.lit("/"), F.lit(1))
    files_df = spark.createDataFrame(
        [(e.relative_path,) for e in entries], "path STRING"
    )
    files_by_tree = (
        files_df.withColumn("subtree", subtree)
        .groupBy("subtree")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.array_sort(F.collect_list("path")).alias("entry_list"),
        )
    )
    chunks = read_chunks(spark, entries, _TREE_FOLD_BLOCK)
    digests_by_tree = (
        chunks.select(
            "path",
            "block_num",
            F.sha2(
                F.concat(
                    F.col("path"),
                    F.lit("\x00"),
                    F.col("block_num").cast("string"),
                    F.lit("\x00"),
                    F.hex(F.col("content")),
                ),
                256,
            ).alias("digest"),
        )
        .withColumn("subtree", subtree)
        .groupBy("subtree")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("path", "block_num", "digest"))),
                    lambda s: s["digest"],
                ),
            ).alias("chunk_concat")
        )
    )
    return files_by_tree.join(digests_by_tree, "subtree", "left").select(
        "subtree",
        "n_files",
        F.sha2(
            F.concat(
                F.col("n_files").cast("string"),
                F.lit("\x00"),
                F.array_join(F.col("entry_list"), "\x00"),
                F.lit("\x00"),
                F.coalesce(F.col("chunk_concat"), F.lit("")),
            ),
            256,
        ).alias("subtree_digest"),
    )


@query("dirhash_full", oracle=None, tags=("dirhash", "e2e"))
def dirhash_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+A8: full pipeline — list → chunk → hash → sort → fold →
    versioned hash string (one row)."""
    hs = hash_directory(spark, HASHTREE, "sha256", "4k")
    return spark.createDataFrame([(HASHTREE, hs)], "directory STRING, hash_string STRING")


@query("dirhash_full_streamed", oracle=None, tags=("dirhash", "e2e"))
def dirhash_full_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+A8, constant-memory fold: the route a tree takes when its
    serial walk trips the listing budget — cluster-side listing, and
    both the header paths and the digests sorted on the cluster and
    streamed into the hash chain one partition at a time
    (hashdir.fold_listing_df).  Must emit the byte-identical hash string
    to ``dirhash_full`` (also pinned against the from-scratch spec
    digest in tests/test_dirhash_e2e.py)."""
    entries_df = list_entries_df(spark, HASHTREE)
    hs = build_hash_string(
        "sha256", "4k", fold_listing_df(spark, entries_df, "sha256", 4096)
    )
    return spark.createDataFrame([(HASHTREE, hs)], "directory STRING, hash_string STRING")


@query(
    "dirhash_incremental_rehash",
    # Same rollup value as dirhash_tree_fold (the splice MUST be
    # invisible in the digests — that is the correctness claim), plus
    # per-subtree reuse accounting the oracle states from the path
    # predicate that defines the simulated manifest.
    oracle=f"""
    WITH files AS (
      SELECT replace(filename, '{HASHTREE}/', '') AS path, size,
             CASE WHEN size > 0 THEN
               sha256(concat(replace(filename, '{HASHTREE}/', ''), chr(0), '0', chr(0),
                             hex(content)))
             END AS digest
      FROM read_blob('{HASHTREE}/**')
    )
    SELECT split_part(path, '/', 1) AS subtree,
           count(*) AS n_files,
           CAST(sum(CASE WHEN size > 0 AND path LIKE 'bin/%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reused_chunks,
           CAST(sum(CASE WHEN size > 0 AND path NOT LIKE 'bin/%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rehashed_chunks,
           sha256(concat(
             CAST(count(*) AS VARCHAR), chr(0),
             string_agg(path, chr(0) ORDER BY path), chr(0),
             coalesce(string_agg(digest, '' ORDER BY path), '')
           )) AS subtree_digest
    FROM files
    GROUP BY split_part(path, '/', 1)
    """,
    tags=("dirhash", "merkle", "incremental"),
)
def dirhash_incremental_rehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-hash as a registry query: the per-subtree Merkle
    rollup of ``dirhash_tree_fold`` computed through the SPLICE topology
    of :mod:`dirhash_spark.dirhash.incremental` — digests arrive from
    two sources (a simulated manifest covering ``bin/``, standing in
    for digests stored by a prior run, and a fresh read+hash pass over
    everything else), are unioned, and fold to values that MUST equal
    the from-scratch rollup: reuse may never be visible in the digests.
    The oracle computes the rollup from scratch and states the reuse
    counters declaratively, so any splice bug (dropped chunk, double
    count, wrong ordering) hash-mismatches.

    The byte-exact v1 form of the same machinery — stat-diff against a
    persisted (path, size, mtime_ns, block, digest) manifest, re-read
    only the churn — is :func:`hash_directory_incremental`, pinned by
    tests/test_dirhash_e2e.py on a mutated tree copy.  Scale shape:
    identical to dirhash_tree_fold except the read+hash stage runs on
    the changed set only — at 100 TB with 1% churn the expensive stage
    costs the churn, the manifest scan is 32 B/chunk, and the fold
    still only ever moves digests.
    """
    entries = [e for e in list_entries(HASHTREE) if not e.is_dir]
    manifest_entries = [e for e in entries if e.relative_path.startswith("bin/")]
    changed_entries = [e for e in entries if not e.relative_path.startswith("bin/")]
    subtree = F.split_part(F.col("path"), F.lit("/"), F.lit(1))

    def hex_digests(src_entries, tag):
        chunks = read_chunks(spark, src_entries, _TREE_FOLD_BLOCK)
        return chunks.select(
            "path",
            "block_num",
            F.sha2(
                F.concat(
                    F.col("path"),
                    F.lit("\x00"),
                    F.col("block_num").cast("string"),
                    F.lit("\x00"),
                    F.hex(F.col("content")),
                ),
                256,
            ).alias("digest"),
            F.lit(tag).alias("src"),
        )

    spliced = hex_digests(manifest_entries, "manifest").unionByName(
        hex_digests(changed_entries, "fresh")
    )
    files_df = spark.createDataFrame(
        [(e.relative_path,) for e in entries], "path STRING"
    )
    files_by_tree = (
        files_df.withColumn("subtree", subtree)
        .groupBy("subtree")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.array_sort(F.collect_list("path")).alias("entry_list"),
        )
    )
    digests_by_tree = (
        spliced.withColumn("subtree", subtree)
        .groupBy("subtree")
        .agg(
            F.sum((F.col("src") == "manifest").cast("long")).alias("n_reused_chunks"),
            F.sum((F.col("src") == "fresh").cast("long")).alias("n_rehashed_chunks"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("path", "block_num", "digest"))),
                    lambda s: s["digest"],
                ),
            ).alias("chunk_concat"),
        )
    )
    return files_by_tree.join(digests_by_tree, "subtree", "left").select(
        "subtree",
        "n_files",
        F.coalesce("n_reused_chunks", F.lit(0)).alias("n_reused_chunks"),
        F.coalesce("n_rehashed_chunks", F.lit(0)).alias("n_rehashed_chunks"),
        F.sha2(
            F.concat(
                F.col("n_files").cast("string"),
                F.lit("\x00"),
                F.array_join(F.col("entry_list"), "\x00"),
                F.lit("\x00"),
                F.coalesce(F.col("chunk_concat"), F.lit("")),
            ),
            256,
        ).alias("subtree_digest"),
    )
