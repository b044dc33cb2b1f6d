"""Directory hashing: the stages and the v1 fold (REF A5-A7; lifecycle
SURVEY §3.1).

Stages (mirroring dirhash.py:307-444, re-expressed Spark-first):
  1. LIST   recursive listing (metadata only), routed by the serial-walk
            budget (listing.list_entries)
  2. PLAN   chunk metadata, no bytes touched, one planner per listing
            kind: a driver listing is cut into byte-balanced segments
            of the sorted chunks (chunks.chunk_plan), shipped with
            ``parallelize`` — no plan DataFrame, no shuffle, one job
            (chunks.map_segments, which chunks.read_chunks shares); a
            listing DataFrame gets a spread chunk-plan DataFrame
            (chunks.chunk_plan_df)
  3. READ+HASH   ONE fused loop on both routes (:func:`hash_rows`), in
            one stage shape: an RDD ``mapPartitions`` over chunk-plan
            rows (the driver route's segments, the cluster route's
            plan DataFrame's ``.rdd``).  Positioned range read, digest
            the v1 preimage immediately (``codec.chunk_digest``),
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
  5. FOLD   driver-side sequential Merkle chain (inherently ordered),
            ``codec.fold`` on both routes: ``codec.fold_digest`` over
            the driver listing and collected digests, or, on the
            cluster route, over the listing's count and two
            cluster-sorted streams (header paths, then digests).

The read+hash stage lives here; the fold is ``codec``'s.  The pipeline
that runs them, its one router and its two routes (driver, cluster)
live in :mod:`.incremental`, because a full hash IS a re-hash with nothing
stored: :func:`hash_directory_raw` runs it with no manifest.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from ..session import configure
from .chunks import chunk_plan, map_segments, read_ranges
from .codec import (
    DEFAULT_BLOCK_SIZE,
    build_hash_string,
    chunk_digest,
    get_hash_func,
    parse_blocksize,
)

# Bound here for the benchmark's tracer (perfbench/spans.py), which wraps
# these module names: the pipeline's listing and fold entry points.  It
# also wraps ``chunk_plan`` (imported above), which digest_directory
# calls through this module's global so the wrapper sees the call.
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
    and digesting with ``codec.chunk_digest``.  The loop is a closure,
    so Spark pickles it by value with the reader this module binds
    when the stage is built."""
    get_hash_func(algo)  # whitelist check on the driver, before any job

    def loop(rows: Iterable[tuple]) -> Iterator[tuple[str, int, bytes]]:
        func = get_hash_func(algo)
        for path, num, content in read_ranges(rows):
            yield path, num, chunk_digest(func, path, num, content)

    return loop


def hash_chunk_plan(plan: DataFrame, algo: str) -> DataFrame:
    """The cluster route's read+hash stage: chunk-plan rows →
    (path, block_num, digest), :func:`hash_rows` over the partitions of
    the spread plan (:func:`.chunks.chunk_plan_df`)."""
    digests = plan.rdd.mapPartitions(hash_rows(algo))
    return plan.sparkSession.createDataFrame(digests, DIGEST_SCHEMA)


def digest_directory(spark: SparkSession, entries, blocksize: int, algo: str) -> RDD:
    """The driver route's read+hash stage: ``(path, block_num, digest)``
    tuples for every chunk of a driver listing, as an RDD whose
    ``collect()`` runs it — :func:`hash_rows` over the
    :func:`.chunks.chunk_plan` segments (:func:`.chunks.map_segments`):
    one job, one task per byte-balanced segment, no shuffle.
    ``spark.createDataFrame(rdd, DIGEST_SCHEMA)`` gives it columns."""
    loop = hash_rows(algo)
    return map_segments(spark, chunk_plan(spark, entries, blocksize), blocksize, loop)


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
