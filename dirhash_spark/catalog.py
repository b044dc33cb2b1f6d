"""Named-table catalog over the driver-generated parquet fixtures.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings.  ``load_table`` normalizes physical quirks of
the fixtures (TIMESTAMP(NANOS) columns arrive as int64 under
``nanosAsLong`` and are converted to microsecond timestamps, truncating —
matching DuckDB's ns→us read behavior) so operators see one clean logical
schema regardless of scale factor.

Scale note: every accessor returns a *lazy* DataFrame straight off the
parquet scan — column pruning and predicate pushdown reach the file source
(verify with ``df.explain``: ``PushedFilters``/``ReadSchema``).  Nothing
here collects or caches eagerly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Columns written as parquet TIMESTAMP(NANOS); read as int64 nanos and
#: converted here. (`orders.o_orderdate` / `lineitem.l_shipdate` are
#: TIMESTAMP(MICROS)/NTZ and need no conversion.)
_NANO_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}

#: (applicationId, sf_dir, name) -> the loaded lazy PLAN.  A DataFrame
#: is an immutable logical plan, so handing every caller the same
#: object changes nothing about what executes — each action still
#: computes from the parquet files — but it skips the repeated
#: footer/schema read and reader construction a fresh
#: ``spark.read.parquet`` pays (~0.1 s per call measured at r14: a
#: query touching 4 catalog tables spent ~0.4 s of its bench wall
#: re-deriving byte-identical plans).  The relation's file listing is
#: pinned at first load per session — correct for the immutable input
#: corpora (and the snapshot semantics table formats provide at
#: scale); paths whose CONTENTS change between reads (the scratch
#: sinks) go through ``spark.read`` directly, never this cache.
#: Keyed by applicationId so a plan can never outlive its session.
_TABLE_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing timestamp physical quirks.

    Two normalizations, both idempotent:

    1. TIMESTAMP(NANOS) columns (read as int64 under ``nanosAsLong``) are
       converted to microsecond timestamps with integer division.
    2. Any ``timestamp_ntz`` column (parquet TIMESTAMP(MICROS) with
       ``isAdjustedToUTC=0`` — what the fixtures actually carry for
       ``events.ts`` / ``orders.o_orderdate`` / ``lineitem.l_shipdate``) is
       cast to plain ``timestamp``.  The session time zone is pinned UTC
       (session.py RUNTIME_CONF), so the wall-clock values are bit-identical
       and the DuckDB oracle (which reads the same files as naive
       timestamps) is unaffected.  Without this normalization,
       ``unix_micros()`` raises DATATYPE_MISMATCH and ``withWatermark()``
       rejects the event time column (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).

       Normally branch 2 is a NO-OP: ``configure`` disables
       ``inferTimestampNTZ`` so the scan itself yields TIMESTAMP — plan-
       structurally better than casting (a cast Project over a fact scan
       blocks InjectRuntimeFilter's bloom semi-join reduction; see
       session.py).  The cast stays as graceful degradation for hosts
       that lock the conf.
    """
    configure(spark)  # outside the cache: idempotent, ~3 ms, and some
    # callers rely on the conf side effect even on a plan-cache hit
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for col in _NANO_TS_COLS.get(name, []):
        if dtypes.get(col) == "bigint":
            # Integer division: nanos exceed 2^53, double math would drift.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    _TABLE_PLAN_CACHE[key] = df
    return df


def parquet_rowcount(sf_dir: str, name: str) -> int | None:
    """Table row count from LOCAL parquet footers — pure metadata, no
    Spark job.  The corpus-derived sizing rules (IVF K, PQ params,
    simhash rep budget, ANN blocking) need one scalar per corpus;
    reading it from the footer makes their "eager construction" a
    sub-millisecond file stat instead of a scheduled job.  Returns
    ``None`` whenever the table is not a local parquet file/dir (the
    remote-FS case at scale) — callers fall back to a distributed
    ``count()``, which Spark itself answers from footer statistics.
    Row-level parity with ``count()`` is pinned in tests (the catalog
    normalizes column TYPES on load, never row sets)."""
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if os.path.isdir(path):
            total, n_files = 0, 0
            for root, dirs, files in os.walk(path):
                # mirror Spark's reader: hidden files and dirs
                # (underscore/dot-prefixed — _temporary from aborted
                # writes, _SUCCESS, .crc) are invisible to count(),
                # so they must be invisible here too.  EVERY visible
                # file counts — Spark reads part files regardless of
                # extension (Hive/Impala write suffix-less parts), so
                # an extension filter would silently undercount; a
                # visible file that is NOT parquet raises here and
                # falls through to the Spark fallback, reproducing
                # whatever the reader itself would do with it
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for f in files:
                    if not f.startswith(("_", ".")):
                        total += pq.ParquetFile(
                            os.path.join(root, f)
                        ).metadata.num_rows
                        n_files += 1
            # a directory with NO visible parquet parts is not a local
            # parquet table — fall back to the distributed count
            # rather than deriving every sizing rule from n=0
            return total if n_files else None
    except Exception:
        return None
    return None


#: (sf_dir, table) -> row-group count; metadata-only, so one footer
#: walk per corpus/table serves every spread decision.  Misses (None)
#: are not cached: a table written later in the process must be seen.
_SPLITS_CACHE: dict[tuple[str, str], int] = {}


def parquet_split_count(sf_dir: str, name: str) -> int | None:
    """Total parquet ROW GROUPS across the table's visible files — the
    number of scan tasks the layout can actually feed, since parquet
    cannot split below a row group (a byte-range task whose range holds
    no row-group start reads nothing).  Same local-footer / hidden-file
    rules as :func:`parquet_rowcount`; ``None`` for non-local layouts
    (callers must then assume the layout is splittable — at scale it
    is, and guessing "unsplittable" would insert a corpus-wide
    shuffle)."""
    key = (sf_dir, name)
    if key in _SPLITS_CACHE:
        return _SPLITS_CACHE[key]
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    out: int | None
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            out = pq.ParquetFile(path).metadata.num_row_groups
        elif os.path.isdir(path):
            total, n_files = 0, 0
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for f in files:
                    if not f.startswith(("_", ".")):
                        total += pq.ParquetFile(
                            os.path.join(root, f)
                        ).metadata.num_row_groups
                        n_files += 1
            out = total if n_files else None
        else:
            out = None
    except Exception:
        out = None
    if out is not None:
        _SPLITS_CACHE[key] = out
    return out


#: (sf_dir, table) -> on-disk bytes; metadata-only, cached.  Misses
#: (None) are not cached, as in :data:`_SPLITS_CACHE`.
_BYTES_CACHE: dict[tuple[str, str], int] = {}


def parquet_table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk byte size of catalog table ``name`` — the scale signal
    for routes that trade extra map passes against shuffle volume
    (e.g. dedup_verbatim_runs' hash pre-pass).  Same local-file /
    hidden-file rules as :func:`parquet_split_count`; ``None`` for
    non-local layouts (callers must then assume the corpus is
    production-sized)."""
    key = (sf_dir, name)
    if key in _BYTES_CACHE:
        return _BYTES_CACHE[key]
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    out: int | None
    try:
        if os.path.isfile(path):
            out = os.path.getsize(path)
        elif os.path.isdir(path):
            total, n_files = 0, 0
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for f in files:
                    if not f.startswith(("_", ".")):
                        total += os.path.getsize(os.path.join(root, f))
                        n_files += 1
            out = total if n_files else None
        else:
            out = None
    except Exception:
        out = None
    if out is not None:
        _BYTES_CACHE[key] = out
    return out


def spread_for_compute(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Round-robin repartition ``df`` to the session's core count — but
    ONLY when table ``name``'s physical layout cannot feed enough scan
    tasks (guide §2.5's "one huge unsplittable file → repartition
    immediately after the read").  Operators call this in front of
    their heavy per-row stages (fingerprint votes, Arrow/numpy gram
    construction) instead of an unconditional ``repartition(cores)``:

    - On an under-split layout (the fixture corpora are ONE file with
      ONE row group — every scan stage is a single task no matter how
      many cores the session has) the repartition spreads the heavy
      compute across the cluster for the price of shuffling the
      not-yet-expanded input rows once.
    - On a production layout (splits >> cores) it is an IDENTITY: the
      scan itself already parallelizes, and the old unconditional form
      would have paid a full corpus-wide shuffle of raw text for
      nothing.

    The decision reads local parquet footers only (cached, no Spark
    job); unknown/non-local layouts are assumed splittable."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    splits = parquet_split_count(sf_dir, name)
    if splits is not None and splits < max(2, target // 2):
        return df.repartition(target)
    return df


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of catalog table ``name``: parquet footers when local
    (:func:`parquet_rowcount`), the distributed ``count()`` otherwise.
    THE single fallback rule — the per-module caches in
    operators/similarity.py (embeddings) and operators/dedup.py
    (documents) both delegate here so the footer/count semantics
    cannot diverge between them.  Takes the session, not a DataFrame:
    both paths must count the same relation (the RAW table), so the
    fallback loads it itself rather than trusting a caller-passed
    frame that the footer path would ignore."""
    n = parquet_rowcount(sf_dir, name)
    return load_table(spark, sf_dir, name).count() if n is None else n


def sink_dir(name: str, sf_dir: str) -> str:
    """Scratch directory for write-then-read-back queries, keyed by the
    CORPUS: the old fixed shared path meant a sf0.01 correctness run
    and a sf0.1 bench run interleaving on one host clobbered each
    other's sink between the eager write and the lazy read-back — the
    silent form returns the WRONG scale factor's rows against the
    oracle.  Two concurrent same-corpus runs still share a path, but
    they write identical data (every sink derives deterministically
    from the fixture tables), so the residual race is a rare transient
    read error, never wrong results."""
    import hashlib
    import os
    import tempfile

    token = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), "dirhash_spark_sink", token, name)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views (for spark.sql operators)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


class Catalog:
    """Convenience handle: ``cat.orders`` etc., one lazy DataFrame each."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return load_table(self.spark, self.sf_dir, name)
        raise AttributeError(name)

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)
