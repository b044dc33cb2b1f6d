"""Fixed-size chunking: one planner per listing kind, and the range reader (REF A1).

The reference vendors Spark's own FixedLengthBinaryInputFormat
(FixedLengthBinaryRecordReader.scala:105-142): records of ``blocksize``
bytes, key = global block index, short final block kept at true length,
one RDD per file folded with union (an O(files) anti-pattern,
dirhash.py:399-406).

Here a chunk is a metadata row ``(path, block_num, full_path, offset,
length)``, and :func:`read_ranges` turns plan rows into positioned
range reads.  There is one planner per kind of listing:

- a driver listing: :func:`chunk_plan` cuts it into at most
  ``defaultParallelism`` contiguous, byte-balanced runs of the
  (path, block_num)-sorted chunks (:func:`plan_segments`), shipped as
  per-file block ranges (O(files + segments) rows, never one per chunk)
  and expanded in the task by :func:`segment_rows`; :func:`map_segments`
  runs a reader over them — one job, no plan DataFrame, no shuffle.
  Both the driver route's read+hash (``hashdir.digest_directory``) and
  :func:`read_chunks` (``scan_fixed_binary``, ``dirhash_tree_fold``,
  ``dirhash_incremental_rehash``) read this way;
- a listing DataFrame: :func:`chunk_plan_df` plans it with
  ``sequence``+``explode`` (no file bytes touched) and spreads it
  across the cluster.

Properties, on both:

- split alignment is by construction (offsets are block_num·blocksize,
  the reader never straddles a boundary — same invariant the Scala
  ``computeSplitSize`` enforces);
- parallelism follows bytes, not files: a single 1 TB file splits at
  block boundaries across every task, many small files share one;
- empty files contribute zero chunk rows (dirhash_test.py:205-208).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .listing import Entry

CHUNK_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("block_num", LongType(), False),
        StructField("content", BinaryType(), False),
    ]
)


def chunk_plan(spark: SparkSession, entries: list[Entry], blocksize: int) -> list[list[tuple]]:
    """THE chunk plan of a driver listing: :func:`plan_segments` cut for
    ``defaultParallelism`` tasks — metadata only, no job.
    :func:`map_segments` runs a reader over it."""
    return plan_segments(entries, blocksize, spark.sparkContext.defaultParallelism)


def chunk_count(entries: list[Entry], blocksize: int) -> int:
    """Chunks in a listing's plan (the rows :func:`chunk_plan`'s segments
    expand to): Σ⌈size/blocksize⌉ over files, measured from the listing
    alone."""
    return sum(-(-e.size // blocksize) for e in entries if not e.is_dir)


def plan_segments(entries: list[Entry], blocksize: int, n: int) -> list[list[tuple]]:
    """Cut the chunks of a driver listing, in (path, block_num) order,
    into at most ``n`` contiguous segments of near-equal bytes; each
    segment is a list of per-file block ranges ``(path, full_path, size,
    first_block, end_block)`` (end exclusive), in that same order.
    Directories and empty files have no chunks and appear in none.

    A chunk starting at byte ``s`` of the concatenated sequence (total
    ``T`` bytes) belongs to segment ``s·n // T``.  A segment's chunks
    all start inside ``[i·T/n, (i+1)·T/n)`` and each is at most one
    block long, so no segment holds more than ``T/n + blocksize``
    bytes.  Segments no chunk starts in are dropped, so fewer chunks
    than ``n`` give fewer segments."""
    files = sorted(
        (e for e in entries if not e.is_dir and e.size > 0), key=lambda e: e.relative_path
    )
    total = sum(e.size for e in files)
    segments: list[list[tuple]] = [[] for _ in range(n)]
    start = 0  # where the file's first chunk sits in the concatenated sequence
    for e in files:
        size, first = int(e.size), 0
        n_blocks = -(-size // blocksize)
        while first < n_blocks:
            seg = (start + first * blocksize) * n // total
            # the first block that starts at or past the next boundary
            end = min(n_blocks, -(-((seg + 1) * total - start * n) // (blocksize * n)))
            segments[seg].append((e.relative_path, e.full_path, size, first, end))
            first = end
        start += size
    return [s for s in segments if s]


def segment_rows(segment: list[tuple], blocksize: int) -> Iterator[tuple]:
    """The chunk-plan rows ``(path, block_num, full_path, offset,
    length)`` of one :func:`plan_segments` segment, in its order."""
    for path, full_path, size, first, end in segment:
        for num in range(first, end):
            offset = num * blocksize
            yield path, num, full_path, offset, min(blocksize, size - offset)


def map_segments(
    spark: SparkSession,
    segments: list[list[tuple]],
    blocksize: int,
    loop: Callable[[Iterable[tuple]], Iterator],
) -> RDD:
    """Run ``loop`` (chunk-plan rows → output tuples) over the rows of
    each :func:`chunk_plan` segment, one task per segment: an RDD whose
    action is one job with no shuffle.  Within a task rows arrive in
    (path, block_num) order, so reads within a file stay sequential."""

    def run(segs: Iterator[list[tuple]]) -> Iterator:
        for segment in segs:
            yield from loop(segment_rows(segment, blocksize))

    return spark.sparkContext.parallelize(segments, max(len(segments), 1)).mapPartitions(run)


def chunk_plan_df(entries_df: DataFrame, blocksize: int) -> DataFrame:
    """THE chunk plan of a listing DATAFRAME (``listing.list_entries_df``
    or ``listing.entries_frame``): one row per fixed-size block, built
    with ``sequence``+``explode`` so the file list never passes through
    the driver.

    The rows are spread across the cluster, each partition sorted on
    (path, block_num): a hash repartition (one shuffle of plan
    metadata, and a job of its own) makes the read stage's parallelism
    independent of how the listing was sliced; the sort makes a
    partition's reads advance file- and offset-ORDERED instead of
    seeking randomly (sequential range reads are the fast path on
    s3a/hdfs, the case :func:`open_for_range_read` exists for).  A
    driver listing needs none of this: :func:`chunk_plan` cuts it into
    byte-balanced segments on the driver.  A repartitionByRange form
    (contiguous global runs, fewer opens per file) was A/B'd and
    rejected: its boundary-sampling pass is a whole extra job that
    measured 10-20% of the local fold wall."""
    n_blocks = F.floor((F.col("size") + blocksize - 1) / blocksize).cast("long")
    plan = (
        entries_df.where(~F.col("is_dir") & (F.col("size") > 0))
        .select(
            F.col("relative_path").alias("path"),
            "full_path",
            F.col("size").cast("long").alias("size"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_blocks - 1)).alias("block_num"),
        )
        .select(
            "path",
            "block_num",
            "full_path",
            (F.col("block_num") * blocksize).alias("offset"),
            F.least(F.lit(blocksize).cast("long"), F.col("size") - F.col("block_num") * blocksize).alias(
                "length"
            ),
        )
    )
    n_parts = max(entries_df.sparkSession.sparkContext.defaultParallelism, 1)
    return plan.repartition(n_parts, "path", "block_num").sortWithinPartitions(
        "path", "block_num"
    )


def open_for_range_read(full_path: str):
    """Open a file for positioned reads.  Local paths use ``open``;
    scheme paths (hdfs://, s3a://, ...) go through pyarrow's FileSystem
    so the same pipeline runs on a cluster."""
    if "://" in full_path:
        import pyarrow.fs as pafs

        fs, inner = pafs.FileSystem.from_uri(full_path)
        return fs.open_input_file(inner)
    return open(full_path, "rb")


def read_ranges(rows: Iterable[tuple]) -> Iterator[tuple[str, int, bytes]]:
    """(path, block_num, content) for each chunk-plan row ``(path,
    block_num, full_path, offset, length)``: positioned range reads.
    Both routes feed rows in (path, block_num) order, so one file
    handle is open at a time — opened at a file's first row, closed
    after its last."""
    fh, open_path = None, None
    try:
        for path, num, full_path, offset, length in rows:
            if full_path != open_path:
                if fh is not None:
                    fh.close()
                fh, open_path = open_for_range_read(full_path), full_path
            fh.seek(int(offset))
            yield path, int(num), fh.read(int(length))
    finally:
        if fh is not None:
            fh.close()


def read_chunks(spark: SparkSession, entries: list[Entry], blocksize: int) -> DataFrame:
    """(path, block_num, content) for every fixed-size block of every
    file of a driver listing: :func:`read_ranges` over the
    :func:`chunk_plan` segments, one job, no shuffle."""
    rdd = map_segments(spark, chunk_plan(spark, entries, blocksize), blocksize, read_ranges)
    return spark.createDataFrame(rdd, CHUNK_SCHEMA)
