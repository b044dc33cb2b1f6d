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

Identity note: every value derived from a table — its plan, row count,
and the operators' trained quantizers and sizing rules — is memoized
under the table's stat fingerprint (:func:`table_stats`, :data:`MEMO`),
not under its path alone, so a corpus rewritten in place is re-read on
its next use within the same process.
"""

from __future__ import annotations

import functools
import os
import stat
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

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

@dataclass(frozen=True)
class TableStats:
    """What one stat per part file and the parquet footers say about a
    local table.  ``fingerprint`` is the sorted (relative path, size,
    ``mtime_ns``) of its visible part files — the stat manifest the
    incremental re-hash diffs (``dirhash/incremental.py``) — so a table
    rewritten in place gets a new fingerprint and an unchanged one keeps
    its old one.  ``rows``/``row_groups`` are None when a visible part
    is not parquet (its count is whatever Spark's reader makes of it:
    callers fall back to Spark); ``bytes`` counts every visible part."""

    rows: int | None
    row_groups: int | None
    bytes: int
    fingerprint: tuple[tuple[str, int, int], ...]


#: THE process-global memo of corpus-derived values: (sf_dir, table,
#: name) -> (fingerprint of ``table``, value).  A lookup under another
#: fingerprint recomputes and replaces the entry, so a corpus rewritten
#: in place is re-derived (row counts, trained quantizers, plans) while
#: memory stays one entry per key.  A non-local table has no
#: fingerprint and is memoized by path.  ``MEMO.clear()`` forces every
#: value to be recomputed (benches timing a cold derivation).
MEMO: dict[tuple, tuple[Any, Any]] = {}


def _lookup(key: tuple, fingerprint: Any, compute: Callable[[], Any]) -> Any:
    hit = MEMO.get(key)
    if hit is not None and hit[0] == fingerprint:
        return hit[1]
    value = compute()
    if value is not None:  # a miss (empty corpus, unreadable footer) is retried
        MEMO[key] = (fingerprint, value)
    return value


def memoized(sf_dir: str, table: str, name: Any, compute: Callable[[], Any]) -> Any:
    """``compute()`` memoized as ``name`` of table ``table`` in
    ``sf_dir``, valid for as long as the table's fingerprint holds (see
    :data:`MEMO`).  The check is one :func:`table_stats` call: a stat
    per part file, no footer read and no Spark job."""
    st = table_stats(sf_dir, table)
    return _lookup((sf_dir, table, name), None if st is None else st.fingerprint, compute)


def corpus_memo(table: str) -> Callable:
    """Decorator form of :func:`memoized` for a ``fn(cat, *args)`` that
    derives a value from table ``table`` of ``cat``'s corpus: the value
    is memoized as ``fn``'s name.  Extra arguments are not part of the
    key, so they must themselves be determined by the corpus (the
    residual PQ books take the corpus's own trained quantizer)."""

    def wrap(fn: Callable) -> Callable:
        @functools.wraps(fn)
        def inner(cat, *args):
            return memoized(cat.sf_dir, table, fn.__name__, lambda: fn(cat, *args))

        return inner

    return wrap


def _visible_parts(path: str) -> list[tuple[str, str, int, int]] | None:
    """Sorted (relative path, full path, size, mtime_ns) of the parts
    Spark's reader would read under ``path``, one stat each; None for a
    missing or non-local table, or a directory with no visible part.
    Visible is Spark's rule: no path component starts with ``_`` or
    ``.`` (``_temporary`` from an aborted write, ``_SUCCESS``,
    ``.crc``).  Every visible file is a part whatever its extension
    (Hive/Impala write suffix-less parts)."""
    from .dirhash.listing import list_entries, local_root

    try:
        local = local_root(path)
        if local is None:
            return None
        st = os.stat(local)
        if stat.S_ISREG(st.st_mode):
            return [("", local, st.st_size, st.st_mtime_ns)]
        if not stat.S_ISDIR(st.st_mode):
            return None
        parts = sorted(
            (e.relative_path, e.full_path, e.size, e.mtime_ns)
            for e in list_entries(local)
            if not e.is_dir
            and not any(c.startswith(("_", ".")) for c in e.relative_path.split("/"))
        )
    except (OSError, ValueError):
        return None
    return parts or None


def _read_footers(parts: list[tuple[str, str, int, int]], fingerprint) -> TableStats:
    import pyarrow as pa
    import pyarrow.parquet as pq

    size = sum(p[2] for p in parts)
    try:
        metas = [pq.read_metadata(full) for _, full, _, _ in parts]
    except (OSError, pa.ArrowException):
        # a visible part that is not parquet: Spark's reader decides
        return TableStats(None, None, size, fingerprint)
    return TableStats(
        sum(m.num_rows for m in metas), sum(m.num_row_groups for m in metas), size, fingerprint
    )


def table_stats(sf_dir: str, name: str) -> TableStats | None:
    """Rows, row groups, bytes and fingerprint of catalog table ``name``
    from LOCAL metadata only — no Spark job.  The corpus-derived sizing
    rules (IVF K, PQ params, simhash rep budget, scan spread, the
    verbatim pre-pass) need one scalar per corpus; reading it here makes
    their "eager construction" a file stat instead of a scheduled job.
    Footers are read only for a fingerprint not seen before.  Returns
    None when the table is missing or not local (the remote-FS case at
    scale): callers then fall back to Spark (:func:`table_rowcount`) or
    assume a production-sized, splittable corpus."""
    parts = _visible_parts(os.path.join(sf_dir, f"{name}.parquet"))
    if parts is None:
        return None
    fingerprint = tuple((rel, size, mtime) for rel, _, size, mtime in parts)
    return _lookup(
        (sf_dir, name, "table_stats"), fingerprint, lambda: _read_footers(parts, fingerprint)
    )


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
    configure(spark)  # outside the memo: idempotent, ~3 ms, and some
    # callers rely on the conf side effect even on a memo hit

    def read() -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dtypes = dict(df.dtypes)
        for col in _NANO_TS_COLS.get(name, []):
            if dtypes.get(col) == "bigint":
                # Integer division: nanos exceed 2^53, double math would drift.
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        if ntz_cols:
            df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
        return df

    # The loaded lazy PLAN is memoized per session (applicationId, so a
    # plan never outlives its session) and table fingerprint.  A
    # DataFrame is an immutable logical plan, so handing every caller
    # the same object changes nothing about what executes — each action
    # still computes from the parquet files — but it skips the repeated
    # footer/schema read and reader construction a fresh
    # ``spark.read.parquet`` pays (~0.1 s per call measured at r14: a
    # query touching 4 catalog tables spent ~0.4 s of its bench wall
    # re-deriving byte-identical plans).  A table rewritten in place has
    # a new fingerprint, so its next load re-reads it.
    return memoized(sf_dir, name, ("plan", spark.sparkContext.applicationId), read)


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

    The decision reads local parquet footers only (:func:`table_stats`,
    no Spark job); unknown/non-local layouts are assumed splittable."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    st = table_stats(sf_dir, name)
    if st is not None and st.row_groups is not None and st.row_groups < max(2, target // 2):
        return df.repartition(target)
    return df


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of catalog table ``name``: parquet footers when local
    (:func:`table_stats`), otherwise the distributed ``count()``,
    memoized like any corpus-derived value (:func:`memoized`).  THE
    single fallback rule — the corpus sizes in operators/similarity.py
    (embeddings) and operators/dedup.py (documents) both read it, so
    the footer/count semantics cannot diverge between them.  Takes the
    session, not a DataFrame: both paths must count the same relation
    (the RAW table), so the fallback loads it itself rather than
    trusting a caller-passed frame that the footer path would ignore."""
    st = table_stats(sf_dir, name)
    if st is not None and st.rows is not None:
        return st.rows
    return memoized(sf_dir, name, "count", lambda: load_table(spark, sf_dir, name).count())


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
