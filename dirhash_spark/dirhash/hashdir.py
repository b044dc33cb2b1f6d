"""Directory hashing: the stages and the v1 fold (REF A5-A7; lifecycle
SURVEY §3.1).

Stages (mirroring dirhash.py:307-444, re-expressed Spark-first):
  1. LIST   recursive listing (metadata only), routed by the serial-walk
            budget (listing.list_entries)
  2. PLAN   chunk metadata, no bytes touched: on the driver route
            byte-balanced segments of the sorted chunks
            (chunks.plan_segments), shipped with ``parallelize`` — no
            plan DataFrame, no shuffle, one job; on the cluster route a
            chunk-plan DataFrame spread by ``chunks.spread_plan``
  3. READ+HASH   ONE fused loop on both routes (:func:`hash_rows`):
            positioned range read, digest the v1 preimage immediately,
            emit only (path, block_num, digest) — chunk bytes never
            leave the Python worker that read them.  The earlier
            two-stage form (read in pandas, ship content to the JVM,
            F.sha2 there) measured 0.04 GB/s at 1 GB: Arrow-serializing
            every content byte Python→JVM cost more than the hashing
            itself.  Fusing made it ~20x faster.  This keeps the
            reference's one good physical choice — hash before any
            shuffle (dirhash.py:412-413) — and strengthens it: nothing
            but 32-byte digests ever crosses a process boundary.
  4. COLLECT   (driver route) unsorted collect of digest rows (tiny).
            No cluster sort: DataFrame orderBy = range exchange whose
            boundary sampling re-executes the whole read+hash child a
            second time.  The driver sorts the collected tuples with
            Python tuple order — bit-identical to the reference's
            sortBy (dirhash.py:413), including non-ASCII path
            code-point order.
  5. FOLD   driver-side sequential Merkle chain (inherently ordered):
            ``codec.fold_digest`` over collected digests, or the
            streamed header and digest drains below on the cluster
            route.

The read+hash stage and the fold live here.  The pipeline that runs
them, its one router and its two routes (driver, cluster) live in
:mod:`.incremental`, because a full hash IS a re-hash with nothing
stored: :func:`hash_directory_raw` and :func:`fold_listing_df` run it
with no manifest.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from ..session import configure
from .chunks import plan_rows, plan_segments, read_ranges, segment_rows, spread_plan
from .codec import DEFAULT_BLOCK_SIZE, build_hash_string, get_hash_func, parse_blocksize

# Bound here for the benchmark's tracer (perfbench/spans.py), which wraps
# these module names: the pipeline's listing and fold entry points, and
# ``chunk_plan`` (a chunk-plan DataFrame), which the driver route no
# longer calls.
from .chunks import chunk_plan  # noqa: F401
from .codec import fold_digest  # noqa: F401
from .listing import list_entries  # noqa: F401

#: Chunk count above which a driver listing takes the cluster route
#: instead of one digest collect (``incremental`` module doc).
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


def hash_rows(algo: str):
    """THE read+hash loop, run by both routes: a function from
    chunk-plan rows ``(path, block_num, full_path, offset, length)`` to
    ``(path, block_num, digest)``, reading through :func:`read_ranges`
    and digesting the v1 preimage.  Incremental ``update`` calls avoid
    materializing the concatenated preimage (a full extra copy of every
    chunk).  The loop is a closure, so Spark pickles it by value with
    the reader this module binds when the stage is built."""
    get_hash_func(algo)  # whitelist check on the driver, before any job

    def loop(rows: Iterable[tuple]) -> Iterator[tuple[str, int, bytes]]:
        func = get_hash_func(algo)
        for path, num, content in read_ranges(rows):
            h = func()
            h.update(path.encode("utf-8"))
            h.update(b"\x00")
            h.update(str(num).encode("ascii"))
            h.update(b"\x00")
            h.update(content)
            yield path, num, h.digest()

    return loop


def hash_chunk_plan(spark: SparkSession, plan: DataFrame, algo: str) -> DataFrame:
    """The cluster route's read+hash stage: chunk-plan rows →
    (path, block_num, digest), :func:`hash_rows` in one
    ``mapInPandas`` over the spread plan (:func:`.chunks.spread_plan`)."""
    loop = hash_rows(algo)

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests = [digest for _, _, digest in loop(plan_rows(pdf))]
            yield pd.DataFrame(
                {"path": pdf["path"], "block_num": pdf["block_num"], "digest": digests}
            )

    return spread_plan(spark, plan).mapInPandas(hash_batches, DIGEST_SCHEMA)


def digest_directory(spark: SparkSession, entries, blocksize: int, algo: str) -> RDD:
    """The driver route's read+hash stage: ``(path, block_num, digest)``
    tuples for every chunk of a driver listing, as an RDD whose
    ``collect()`` runs it — one job, one task per byte-balanced segment
    (:func:`.chunks.plan_segments` over ``defaultParallelism``), no
    shuffle.  ``spark.createDataFrame(rdd, DIGEST_SCHEMA)`` gives it
    columns."""
    loop = hash_rows(algo)
    sc = spark.sparkContext
    segments = plan_segments(entries, blocksize, sc.defaultParallelism)

    def hash_segments(segs: Iterator[list]) -> Iterator[tuple[str, int, bytes]]:
        for segment in segs:
            yield from loop(segment_rows(segment, blocksize))

    return sc.parallelize(segments, max(len(segments), 1)).mapPartitions(hash_segments)


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
    """The v1 hex digest of a listing DataFrame (``listing.list_entries_df``
    or ``listing.entries_frame``) with a constant-memory driver fold: the
    cluster route with nothing stored (``incremental.rehash_listing_df``)."""
    from .incremental import rehash_listing_df  # imports this module

    return rehash_listing_df(spark, entries_df, None, hash_algorithm, blocksize)[0]


def hash_directory_raw(
    spark: SparkSession,
    directory: str,
    hash_algorithm: str = "sha256",
    blocksize: int | None = None,
) -> str:
    """Compute the v1 hex digest of a directory tree (dirhash.py:307-444):
    the pipeline with nothing stored (``incremental.rehash``), on the
    route the listing measures."""
    from .incremental import rehash  # imports this module

    configure(spark)
    blocksize = blocksize or parse_blocksize(DEFAULT_BLOCK_SIZE)
    return rehash(spark, directory, None, hash_algorithm, blocksize)[0]


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
