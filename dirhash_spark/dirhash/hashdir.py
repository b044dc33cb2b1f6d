"""Directory hashing pipeline (REF A5-A7; lifecycle SURVEY §3.1).

Stages (mirroring dirhash.py:307-444, re-expressed Spark-first):
  1. LIST   recursive listing (metadata only), routed by the serial-walk
            budget (listing.list_entries)
  2. PLAN   chunk metadata DataFrame (no bytes touched)
  3. READ+HASH   ONE fused mapInPandas stage: positioned range read,
            digest the v1 preimage immediately, emit only
            (path, block_num, digest) — chunk bytes never leave the
            Python worker that read them.  The earlier two-stage form
            (read in pandas, ship content to the JVM, F.sha2 there)
            measured 0.04 GB/s at 1 GB: Arrow-serializing every content
            byte Python→JVM cost more than the hashing itself.  Fusing
            made it ~20x faster.  This keeps the reference's one good
            physical choice — hash before any shuffle (dirhash.py:412-
            413) — and strengthens it: nothing but 32-byte digests ever
            crosses a process boundary.
  4. COLLECT   unsorted collect of digest rows (tiny).  No cluster sort:
            DataFrame orderBy = range exchange whose boundary sampling
            re-executes the whole read+hash child a second time.  The
            driver sorts the collected tuples with Python tuple order —
            bit-identical to the reference's sortBy (dirhash.py:413),
            including non-ASCII path code-point order.
  5. FOLD   driver-side sequential Merkle chain (inherently ordered)

The route is taken from what the listing measures, never from an
option — every route yields the bit-identical v1 digest:
  (a) the serial walk finishes inside its budget → the stages above;
  (b) as (a), but the listing's chunk count exceeds
      :data:`COLLECT_MAX_CHUNKS` → stage 4 becomes a cluster sort whose
      digests drain into the chain one partition at a time
      (:func:`fold_digests_streamed`), so driver memory stays constant;
  (c) the walk trips its budget → the listing stays cluster-side too
      (:func:`fold_listing_df`): header paths and digests both stream
      from cluster sorts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from ..session import configure
from .chunks import chunk_count, chunk_plan, chunk_plan_df, open_for_range_read
from .codec import (
    DEFAULT_BLOCK_SIZE,
    build_hash_string,
    fold_digest,
    fold_header,
    get_hash_func,
    parse_blocksize,
)
from .listing import (
    list_entries,
    list_entries_df,
    reject_undecodable_paths,
    strip_trailing_slash,
)

#: Chunk count above which the driver route drains digests from a
#: cluster sort instead of one collect (route (b) in the module doc).
#: The collect's documented scale bound: 100 TB at the 128 MiB default
#: blocksize is ~800k rows of 32-byte digests plus paths.  Read at call
#: time.
COLLECT_MAX_CHUNKS = 1 << 20

DIGEST_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("block_num", LongType(), False),
        StructField("digest", BinaryType(), False),
    ]
)


def _read_hash_ranges(algo: str):
    """Fused range-read + v1-preimage digest over chunk-plan rows.

    Incremental ``update`` calls avoid materializing the concatenated
    preimage (a full extra copy of every chunk).  File handles are
    cached across the rows of a batch (opened once per file per batch,
    never per row), and the producer sorts each partition on
    (path, block_num) — ``repartition(...).sortWithinPartitions(...)``
    in :func:`hash_chunk_plan` — so a partition's reads advance
    file- and offset-ORDERED instead of seeking randomly (sequential
    range reads are the fast path on s3a/hdfs, the case
    :func:`open_for_range_read` exists for).  A repartitionByRange
    form (contiguous global runs, fewer opens per file) was A/B'd and
    rejected: its boundary-sampling pass is a whole extra job that
    measured 10-20% of the local fold wall, while the open count is
    already bounded by min(chunks, partitions) per file either way.
    """

    def inner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        func = get_hash_func(algo)
        for pdf in batches:
            handles: dict[str, object] = {}
            try:
                digests = []
                for path, num, full_path, offset, length in zip(
                    pdf["path"], pdf["block_num"], pdf["full_path"], pdf["offset"], pdf["length"]
                ):
                    fh = handles.get(full_path)
                    if fh is None:
                        fh = handles[full_path] = open_for_range_read(full_path)
                    fh.seek(int(offset))
                    h = func()
                    h.update(path.encode("utf-8"))
                    h.update(b"\x00")
                    h.update(str(int(num)).encode("ascii"))
                    h.update(b"\x00")
                    h.update(fh.read(int(length)))
                    digests.append(h.digest())
                yield pd.DataFrame(
                    {"path": pdf["path"], "block_num": pdf["block_num"], "digest": digests}
                )
            finally:
                for fh in handles.values():
                    try:
                        fh.close()
                    except Exception:
                        pass

    return inner


def hash_chunk_plan(spark: SparkSession, plan: DataFrame, algo: str) -> DataFrame:
    """THE read+hash stage: chunk-plan rows → (path, block_num, digest),
    one fused ``mapInPandas`` over plan rows spread across the cluster
    (the plan is tiny metadata, so the shuffle costs nothing while the
    stage's parallelism stops depending on how the plan was sliced)."""
    get_hash_func(algo)  # whitelist check before any cluster work
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    return plan.repartition(n_parts, "path", "block_num").sortWithinPartitions(
        "path", "block_num"
    ).mapInPandas(
        _read_hash_ranges(algo), DIGEST_SCHEMA
    )


def digest_directory(
    spark: SparkSession, entries, blocksize: int, algo: str
) -> DataFrame:
    """(path, block_num, digest) for every chunk of a driver listing."""
    return hash_chunk_plan(spark, chunk_plan(spark, entries, blocksize), algo)


def fold_header_streamed(h, entries_df: DataFrame) -> None:
    """Stream the v1 fold HEADER from a cluster-side listing into
    hasher ``h``: entry count, NUL, the NUL-separated relative paths in
    cluster sort order (Spark's UTF8String binary order == code-point
    order, matching Python's str sort — parity pinned in
    tests/test_properties.py), trailing NUL — byte-identical to the
    driver-side header :func:`..codec.fold_digest` builds.  One sorted
    partition of path strings is driver-resident at a time, never the
    listing.  THE single definition of the streamed header framing:
    the full-hash fold and the incremental splice both call it, so the
    framing cannot drift between them."""
    h.update(str(entries_df.count()).encode("ascii"))
    h.update(b"\x00")
    paths = (
        entries_df.orderBy("relative_path")
        .select("relative_path")
        # bounded: at most TWO sorted partitions of path strings
        # resident at a time — never the full listing.  Prefetching
        # overlaps the next partition's job with the driver's hash
        # drain (without it the executors sit idle between the
        # per-partition jobs toLocalIterator schedules); measured
        # +30% streamed-fold throughput, r14 BASELINE.md.
        .toLocalIterator(prefetchPartitions=True)
    )
    for i, row in enumerate(paths):
        if i:
            h.update(b"\x00")
        h.update(row["relative_path"].encode("utf-8"))
    h.update(b"\x00")


def fold_digests_streamed(h, digests: DataFrame) -> None:
    """Drain (path, block_num)-sorted chunk digests into hasher ``h``
    — the v1 fold's payload section, cluster-sorted; one sorted
    partition of 32-byte digests driver-resident at a time.  Shared by
    the full-hash streamed fold and the incremental splice (callers
    localCheckpoint ``digests`` first so the orderBy's range-exchange
    sampling never re-runs the read+hash stage)."""
    it = (
        digests.orderBy("path", "block_num")
        .select("digest")
        # bounded: at most TWO sorted partitions of 32-byte digests
        # resident at a time — never the full set (prefetch rationale
        # in fold_header_streamed above)
        .toLocalIterator(prefetchPartitions=True)
    )
    for row in it:
        h.update(bytes(row["digest"]))


def fold_listing_df(
    spark: SparkSession, entries_df: DataFrame, hash_algorithm: str, blocksize: int
) -> str:
    """Route (c): the v1 hex digest of a cluster-side listing
    (``listing.list_entries_df``) with a constant-memory driver fold.

    A literal tree-reduce cannot exist for the v1 digest: the fold is a
    single hash chain over an ORDERED byte stream (header then chunk
    digests in (path, block_num) order, dirhash.py:422-441), and the
    chain's state at byte k depends on every byte before it.  What CAN
    move off the driver is everything except the O(1) hash state:

    - the chunk plan derives from the listing DataFrame, and the
      header's path sort is a cluster ``orderBy`` — the driver never
      holds the entry list;
    - sorts run on the cluster (``orderBy`` = range exchange; Spark's
      UTF8String binary comparison equals Python's code-point string
      sort because UTF-8 byte order preserves code-point order, so both
      streams arrive in exactly the order the reference's driver sort
      produced);
    - digests are ``localCheckpoint``-ed FIRST, so the range exchange's
      boundary-sampling pass re-reads materialized rows, not the fused
      read+hash stage.  Trade-off: a local checkpoint pins those rows
      in executor block-manager storage with lineage truncated, so
      losing an executor mid-drain fails the job unrecoverably —
      acceptable for digest-sized state;
    - the driver consumes ``toLocalIterator(prefetchPartitions=True)``
      — at most two sorted partitions resident at a time.
    """
    h = get_hash_func(hash_algorithm)()
    fold_header_streamed(h, entries_df)
    has_bytes = (
        entries_df.where((~F.col("is_dir")) & (F.col("size") > 0)).limit(1).count() > 0
    )
    if has_bytes:
        plan = chunk_plan_df(entries_df, blocksize)
        fold_digests_streamed(
            h, hash_chunk_plan(spark, plan, hash_algorithm).localCheckpoint()
        )
    return h.hexdigest()


def hash_directory_raw(
    spark: SparkSession,
    directory: str,
    hash_algorithm: str = "sha256",
    blocksize: int | None = None,
) -> str:
    """Compute the v1 hex digest of a directory tree (dirhash.py:307-444)
    on the route the listing measures (module doc)."""
    configure(spark)
    blocksize = blocksize or parse_blocksize(DEFAULT_BLOCK_SIZE)
    directory = strip_trailing_slash(directory)

    entries = list_entries(directory, spark)
    if entries is None:  # (c) the serial walk tripped its budget
        return fold_listing_df(
            spark, list_entries_df(spark, directory), hash_algorithm, blocksize
        )
    reject_undecodable_paths(entries)
    listing = [e.relative_path for e in entries]

    n_chunks = chunk_count(entries, blocksize)
    if n_chunks > COLLECT_MAX_CHUNKS:  # (b) too many digests to collect
        h = get_hash_func(hash_algorithm)()
        fold_header(h, listing)
        digests = digest_directory(spark, entries, blocksize, hash_algorithm)
        fold_digests_streamed(h, digests.localCheckpoint())
        return h.hexdigest()
    if n_chunks:
        rows = digest_directory(spark, entries, blocksize, hash_algorithm).collect()
        # bounded: digests only — 32 bytes + path per CHUNK, at most
        # COLLECT_MAX_CHUNKS rows (route (b) takes over beyond that).
        # Driver-side tuple sort == reference sortBy((path, num)),
        # dirhash.py:413 — and avoids the range-exchange sampling pass
        # that would re-execute the read+hash stage.  The fold itself is
        # inherently sequential (each step hashes the previous digest,
        # dirhash.py:413-441), so no cluster topology helps it.
        rows.sort(key=lambda r: (r["path"], r["block_num"]))
        digest_list = [bytes(r["digest"]) for r in rows]
    else:
        digest_list = []

    return fold_digest(hash_algorithm, listing, digest_list)


def hash_directory(
    spark: SparkSession,
    directory: str,
    hash_algorithm: str = "sha256",
    blocksize: str = DEFAULT_BLOCK_SIZE,
) -> str:
    """Full lifecycle → versioned hash string ``v1-<algo>-<bs>-<hex>``."""
    hex_digest = hash_directory_raw(
        spark, directory, hash_algorithm, parse_blocksize(blocksize)
    )
    return build_hash_string(hash_algorithm, blocksize, hex_digest)
