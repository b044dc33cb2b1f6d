"""Fixed-size chunking as a DataFrame pipeline (REF A1).

The reference vendors Spark's own FixedLengthBinaryInputFormat
(FixedLengthBinaryRecordReader.scala:105-142): records of ``blocksize``
bytes, key = global block index, short final block kept at true length,
one RDD per file folded with union (an O(files) anti-pattern,
dirhash.py:399-406).

Here the *plan* is a DataFrame: one metadata row per chunk
``(path, block_num, full_path, offset, length)`` built with
``sequence``+``explode`` (no file bytes touched), then a single
``mapInPandas`` stage performs positioned range reads.  Properties:

- split alignment is by construction (offsets are block_num·blocksize,
  the reader never straddles a boundary — same invariant the Scala
  ``computeSplitSize`` enforces);
- parallelism = total_blocks spread over ``repartition(n)``, independent
  of file count or file size skew: a single 1 TB file becomes 8192
  range-read tasks at 128 MiB blocks, many small files batch into few
  tasks — the small-file coalescing Catalyst does for parquet, done here
  for raw ranges;
- empty files contribute zero chunk rows (dirhash_test.py:205-208).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
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

PLAN_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("block_num", LongType(), False),
        StructField("full_path", StringType(), False),
        StructField("offset", LongType(), False),
        StructField("length", LongType(), False),
    ]
)

CHUNK_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("block_num", LongType(), False),
        StructField("content", BinaryType(), False),
    ]
)


def chunk_plan(spark: SparkSession, entries: list[Entry], blocksize: int) -> DataFrame:
    """Metadata-only chunk plan: one row per fixed-size block."""
    files = [(e.relative_path, e.full_path, int(e.size)) for e in entries if not e.is_dir]
    meta = spark.createDataFrame(
        files or [], "path STRING, full_path STRING, size BIGINT"
    )
    return _plan_from_meta(meta, blocksize)


def chunk_count(entries: list[Entry], blocksize: int) -> int:
    """Rows :func:`chunk_plan` will emit: Σ⌈size/blocksize⌉ over files,
    measured from the listing alone."""
    return sum(-(-e.size // blocksize) for e in entries if not e.is_dir)


def chunk_plan_df(entries_df: DataFrame, blocksize: int) -> DataFrame:
    """:func:`chunk_plan` over a listing DATAFRAME
    (``listing.list_entries_df``) — the file list never passes through
    the driver, for folds that stream the listing."""
    meta = entries_df.where(~F.col("is_dir")).select(
        F.col("relative_path").alias("path"),
        "full_path",
        F.col("size").cast("long").alias("size"),
    )
    return _plan_from_meta(meta, blocksize)


def _plan_from_meta(meta: DataFrame, blocksize: int) -> DataFrame:
    n_blocks = F.floor((F.col("size") + blocksize - 1) / blocksize).cast("long")
    return (
        meta.where(F.col("size") > 0)
        .select(
            "path",
            "full_path",
            "size",
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


def open_for_range_read(full_path: str):
    """Open a file for positioned reads.  Local paths use ``open``;
    scheme paths (hdfs://, s3a://, ...) go through pyarrow's FileSystem
    so the same pipeline runs on a cluster."""
    if "://" in full_path:
        import pyarrow.fs as pafs

        fs, inner = pafs.FileSystem.from_uri(full_path)
        return fs.open_input_file(inner)
    return open(full_path, "rb")


def _read_ranges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Positioned range reads; file handles cached across rows of a batch."""
    for pdf in batches:
        handles: dict[str, object] = {}
        try:
            contents = []
            for full_path, offset, length in zip(pdf["full_path"], pdf["offset"], pdf["length"]):
                fh = handles.get(full_path)
                if fh is None:
                    fh = handles[full_path] = open_for_range_read(full_path)
                fh.seek(int(offset))
                contents.append(fh.read(int(length)))
            yield pd.DataFrame(
                {"path": pdf["path"], "block_num": pdf["block_num"], "content": contents}
            )
        finally:
            for fh in handles.values():
                try:
                    fh.close()
                except Exception:
                    pass


def read_chunks(spark: SparkSession, entries: list[Entry], blocksize: int) -> DataFrame:
    """(path, block_num, content) for every fixed-size block of every file."""
    plan = chunk_plan(spark, entries, blocksize)
    # Spread range reads across the cluster; the plan is tiny metadata so
    # this shuffle costs nothing, while the read stage parallelism stops
    # depending on how createDataFrame happened to slice the file list.
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    return plan.repartition(n_parts, "path", "block_num").sortWithinPartitions(
        "path", "block_num"
    ).mapInPandas(_read_ranges, CHUNK_SCHEMA)
