"""Custom stateful streaming operator via ``applyInPandasWithState``
(north-star streaming surface; no REF analog — the reference has no
streaming at all, SURVEY §2.B preamble).

``running_totals`` keeps (count, sum) per user in the state store and
emits the updated running totals on every trigger — the minimal shape of
every custom sessionizer/enricher that outgrows the built-in window
aggregates.  State is one 16-byte tuple per user: at 10^9 users that is
~16 GB across the cluster's state stores, scaling with keys, not events.

The registry entry runs the real streaming query (file source → state
store → memory sink) to completion inside the callable and returns the
sink table: the driver's oracle check then proves the stateful path
computes exactly the batch aggregate — all events arrive in one trigger,
so each user emits exactly one final row.

Every stream query here is bounded, and all of them run through ONE
runner, :func:`run_bounded`: start on an available-now trigger, wait
with a time limit that raises instead of truncating the sink, always
stop.  The foreachBatch bodies are the batch queries' own: the bloom
ingest gate calls ``dedup.bloom_verdicts`` (dedup_bloom_probe's body)
and the CDC apply calls ``warehouse.merge_changes`` (merge_upsert's),
so each twin's oracle is its batch query's constant.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..catalog import Catalog, memoized, sink_dir, table_stats
from ..operators.dedup import BLOOM_PROBE_ORACLE, _INCR_SPLIT, bloom_corpus, bloom_verdicts
from ..operators.warehouse import MERGE_ORACLE, _change_batch, kept_base, merge_changes
from ..registry import query
from ..session import configure

_OUT_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"
_STATE_SCHEMA = "n BIGINT, total DOUBLE"


def _await_or_raise(q, name: str, timeout_s: int) -> None:
    """``awaitTermination`` returning False means the stream did NOT
    finish in time — stopping it then would truncate the sink and
    return a silently partial result (surfacing as a bogus oracle
    mismatch), so fail loudly instead."""
    if not q.awaitTermination(timeout_s):
        raise TimeoutError(f"{name}: stream still running after {timeout_s} s")


def run_bounded(writer: DataStreamWriter, name: str, timeout_s: int = 180) -> StreamingQuery:
    """Run ``writer`` as one bounded stream: start it with an
    available-now trigger (every input present at start, then stop),
    wait at most ``timeout_s`` through :func:`_await_or_raise`, and
    always stop the query.  Returns the stopped query, whose
    ``recentProgress`` stays readable.  Every stream query in this
    module runs through here."""
    q = writer.trigger(availableNow=True).start()
    try:
        _await_or_raise(q, name, timeout_s)
    finally:
        q.stop()
    return q


def _round_half_away(x: float, digits: int = 2) -> float:
    """Round half AWAY from zero — what the DuckDB oracle's ``round()``
    and Spark's ``F.round`` (BigDecimal HALF_UP) both do.  Python's
    builtin ``round`` is banker's (half-even): ``round(2.125, 2)``
    gives 2.12 where both engines give 2.13, so a Python-side sink
    value must not use it."""
    scale = 10.0**digits
    return math.copysign(math.floor(abs(x) * scale + 0.5) / scale, x)


def running_totals(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Per-user running (count, sum) with explicit state round-trip."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [_round_half_away(total)],
        }
    )


def running_totals_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File stream → applyInPandasWithState → streaming DataFrame."""
    stream = spark.readStream.schema("user_id BIGINT, value DOUBLE").parquet(source_dir)
    return stream.groupBy("user_id").applyInPandasWithState(
        running_totals, _OUT_SCHEMA, _STATE_SCHEMA, "update", "NoTimeout"
    )


@query(
    "stream_stateful_running",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful stream over the events table (one trigger ⇒ one
    final row per user) and return the sink contents."""
    cat = Catalog(spark, sf_dir)
    src = sink_dir("stateful_events", sf_dir)
    cat.events.select("user_id", "value").write.mode("overwrite").parquet(src)
    run_bounded(
        running_totals_stream(spark, src)
        .writeStream.format("memory")
        .queryName("dirhash_stateful_running")
        .outputMode("update"),
        "stream_stateful_running",
    )
    # Materialize: the memory-sink table is tied to the (now stopped)
    # query; hand back an immutable snapshot.
    return spark.createDataFrame(
        # bounded: the memory sink is driver-resident by definition;
        # this snapshots aggregate state, not the stream.
        spark.table("dirhash_stateful_running").collect(),
        _OUT_SCHEMA,
    )


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    tags=("streaming", "sink"),
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink — the production pattern for writing streams to
    systems without a native streaming sink (upserts, merges, JDBC):
    each micro-batch arrives as a plain DataFrame with an id, and the
    callback writes it transactionally.  Here: tumbling hourly counts
    appended to parquet per batch; the oracle proves the sink's final
    contents equal the batch aggregate (one availableNow trigger ⇒ one
    append of the complete result)."""
    from .ops import tumbling_counts

    cat = Catalog(spark, sf_dir)
    src = sink_dir("fb_events_src", sf_dir)
    dst = sink_dir("fb_counts", sf_dir)
    cat.events.select("event_id", "ts", "user_id", "value").write.mode(
        "overwrite"
    ).parquet(src)
    shutil.rmtree(dst, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(dst)

    # TIMESTAMP, not NTZ: withWatermark requires an event-time column of
    # TIMESTAMP type (session timezone is pinned UTC so values agree).
    stream = spark.readStream.schema(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
    ).parquet(src)
    run_bounded(
        tumbling_counts(stream).writeStream.foreachBatch(write_batch).outputMode("complete"),
        "stream_foreach_batch_sink",
    )
    return spark.read.parquet(dst)


# Spark 4's transformWithStateInPandas (typed state variables, timers,
# RocksDB-backed store) is the successor to applyInPandasWithState; it
# was evaluated here and works identically for this operator's
# semantics, but its Python worker protocol requires google.protobuf,
# which this container does not ship (and installs are out of scope) —
# so the registered stateful query stays on applyInPandasWithState.


@query(
    "stream_static_join",
    oracle="""
    SELECT c_nationkey AS nation_key,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the events stream joins the
    static customer table (broadcast per micro-batch, no watermark —
    static rows never expire) and aggregates per nation.  One
    availableNow trigger consumes everything, so the sink equals the
    batch join the oracle runs.  See ops.enrich_with_nation for the
    topology notes."""
    from .ops import enrich_with_nation

    cat = Catalog(spark, sf_dir)
    src = sink_dir("ss_join_events", sf_dir)
    cat.events.select("event_id", "ts", "user_id", "value").write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
    ).parquet(src)
    run_bounded(
        enrich_with_nation(stream, cat.customer)
        .writeStream.format("memory")
        .queryName("dirhash_stream_static_join")
        .outputMode("complete"),
        "stream_static_join",
    )
    return spark.createDataFrame(
        # bounded: memory-sink snapshot of nation-keyed aggregate state
        spark.table("dirhash_stream_static_join").collect(),
        "nation_key BIGINT, n_events BIGINT, total_value DOUBLE",
    )


@query(
    "stream_python_datasource",
    # The reader's emission rule is pure arithmetic, so the oracle states
    # it directly: 4 micro-batches × 25 sequenced readings each, value =
    # (batch * 1000 + seq) scaled.
    oracle="""
    WITH g AS (
      SELECT b.b AS batch_id, s.s AS seq
      FROM (SELECT unnest(generate_series(0, 3)) AS b) b,
           (SELECT unnest(generate_series(0, 24)) AS s) s
    )
    SELECT batch_id, seq,
           CAST((batch_id * 1000 + seq) AS DOUBLE) / 100 AS reading
    FROM g
    """,
    tags=("streaming", "scan", "spark4"),
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 *streaming* Python DataSource: a custom source feeding
    Structured Streaming through ``SimpleDataSourceStreamReader`` —
    offset management (initialOffset / read(start) / replay between
    offsets) implemented in Python, no JVM code.  This is the streaming
    twin of ``scan_python_datasource`` and the integration shape for
    "my feed has no Spark connector" (queues, RPC pagination, vendor
    APIs): the source owns a logical offset, Spark owns retries and
    exactly-once sink bookkeeping via the checkpoint.

    The demo reader is deterministic and finite: 4 batches × 25
    readings, drained in ONE read() call so a single availableNow
    trigger consumes everything (run-to-completion, like the other
    streaming smokes); a second trigger would see an empty iterator at
    the final offset.  Scale: a real reader hands Spark one offset
    range per micro-batch and the DataFrame below it partitions like
    any other scan; state lives in the checkpoint, not the reader
    object.
    """
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    n_batches, per_batch = 4, 25

    class ReadingsStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "readings_stream"

        def schema(self) -> str:
            return "batch_id bigint, seq bigint, reading double"

        def simpleStreamReader(self, schema):  # noqa: ANN001 — API signature
            return ReadingsReader()

    class ReadingsReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"batch": 0}

        def _rows(self, b0: int, b1: int):
            # A LIST iterator, not a generator: Spark's prefetch cache
            # replays via copy.copy(iterator), and generators aren't
            # copyable (PYTHON_STREAMING_DATA_SOURCE_RUNTIME_ERROR in
            # planPartitions otherwise).
            return iter(
                [
                    (b, s, (b * 1000 + s) / 100)
                    for b in range(b0, b1)
                    for s in range(per_batch)
                ]
            )

        def read(self, start):
            b = start["batch"]
            if b >= n_batches:
                return iter([]), {"batch": b}
            return self._rows(b, n_batches), {"batch": n_batches}

        def readBetweenOffsets(self, start, end):
            return self._rows(start["batch"], end["batch"])

    spark.dataSource.register(ReadingsStreamSource)
    base = sink_dir("pyds_stream", sf_dir)
    # Clear the checkpoint too: a surviving checkpoint resumes at the
    # final offset and the fresh sink directory would stay empty.
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(base + "_ck", ignore_errors=True)
    run_bounded(
        spark.readStream.format("readings_stream")
        .load()
        .writeStream.format("parquet")
        .option("path", base)
        .option("checkpointLocation", base + "_ck"),
        "stream_python_datasource",
    )
    return spark.read.parquet(base)


def _click_purchase_join(spark: SparkSession, src: str, how: str) -> DataFrame:
    """The click→purchase attribution join both stream-stream queries
    run, differing ONLY in join type: clicks matched to same-user
    purchases within the following 30 minutes, 1 h watermark on both
    sides.  One definition so the inner and left-outer twins (whose
    contracts promise 'same eviction math') cannot drift apart."""
    stream = spark.readStream.schema(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING"
    ).parquet(src)
    clicks = (
        stream.where("event_type = 'click'")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.where("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        F.expr(
            """user_id = p_user_id
               AND purchase_ts >= click_ts
               AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"""
        ),
        how,
    ).select("click_id", "purchase_id", "user_id")


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition and
    watermarks on both sides: clicks matched to same-user purchases
    within the following 30 minutes — the canonical attribution join.

    This is the stateful join Spark buffers on BOTH sides: each side's
    watermark plus the time-interval condition let the engine compute
    exactly how long a buffered click can still find a purchase (30 min
    + watermark delay) and evict state past it, so state size is bound
    by the join window, not the stream length — the property that makes
    the join runnable forever at production rates.  One availableNow
    trigger consumes everything in a single micro-batch (no file limit
    is set), so nothing is ever dropped as late and the append-mode
    sink equals the batch join the oracle runs.  Scale shape: both
    sides shuffle on user_id into the same state store partitions —
    one co-partitioned exchange each, same as a batch SortMergeJoin."""
    cat = Catalog(spark, sf_dir)
    src = sink_dir("ss_ss_events", sf_dir)
    cat.events.select("event_id", "ts", "user_id", "event_type").write.mode(
        "overwrite"
    ).parquet(src)
    run_bounded(
        _click_purchase_join(spark, src, "inner")
        .writeStream.format("memory")
        .queryName("dirhash_stream_stream_join")
        .outputMode("append"),
        "stream_stream_join",
    )
    return spark.createDataFrame(
        # bounded: memory-sink snapshot of the joined-window output
        spark.table("dirhash_stream_stream_join").collect(),
        "click_id BIGINT, purchase_id BIGINT, user_id BIGINT",
    )


@query(
    "stream_stream_left_outer",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "outer"),
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, null-extended when no
    same-user purchase follows within 30 minutes.  The semantics the
    inner form can't give you — and the part of the streaming engine
    the inner form never exercises: a null-extended row can only be
    emitted once the PURCHASE-side watermark proves no match can still
    arrive (past click_ts + 30 min + the 1 h delay), so unmatched
    clicks sit in the state store until event time moves past them.

    The query runs as two availableNow executions against ONE
    checkpoint, which is exactly the production shape (a restarting
    job):  run 1 ingests the real events — inner matches emit,
    unmatched clicks are retained as state;  then a far-future
    watermark-advancing sentinel pair (user_id −1, outside every real
    join window) lands in the source, and run 2's batches carry the
    watermark past every real click, flushing the null-extended rows
    to the parquet sink.  The sink is parquet-append via the
    checkpoint (exactly-once), read back at the end minus the
    sentinel.  State size stays bounded by the join window at any
    stream length — same eviction math as the inner form."""
    cat = Catalog(spark, sf_dir)
    base = sink_dir("ss_louter", sf_dir)
    src, dst, ckpt = (os.path.join(base, d) for d in ("src", "dst", "ckpt"))
    shutil.rmtree(base, ignore_errors=True)
    ev = cat.events.select("event_id", "ts", "user_id", "event_type")
    ev.write.mode("overwrite").parquet(src)

    def run_once() -> None:
        run_bounded(
            _click_purchase_join(spark, src, "left_outer")
            .writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
            "stream_stream_left_outer",
        )

    run_once()  # real data: inner matches emit, unmatched clicks held
    # Sentinel click+purchase 2 h past the last real event: run 2's
    # watermark = sentinel_ts − 1 h clears every real click's
    # (click_ts + 30 min) eviction bound, flushing the outer rows.
    sentinel_ts = F.timestamp_micros(
        F.unix_micros(F.max("ts")) + F.lit(2 * 3600 * 1_000_000)
    )
    bounds = ev.agg(sentinel_ts.alias("sts"))
    sent = bounds.selectExpr(
        "CAST(-1 AS BIGINT) AS event_id",
        "sts AS ts",
        "CAST(-1 AS BIGINT) AS user_id",
        "'click' AS event_type",
    ).unionByName(
        bounds.selectExpr(
            "CAST(-2 AS BIGINT) AS event_id",
            "sts AS ts",
            "CAST(-1 AS BIGINT) AS user_id",
            "'purchase' AS event_type",
        )
    )
    sent.coalesce(1).write.mode("append").parquet(src)
    run_once()  # sentinel batch advances both watermarks; outer rows flush
    return spark.read.parquet(dst).where(F.col("user_id") >= 0)


@query(
    "stream_bloom_ingest_gate",
    # The verdict per document is micro-batch-invariant (every batch
    # probes the same STATIC manifest), so the batch probe's SQL states
    # the streaming sink's final contents exactly — one shared source
    # of truth (a plain constant, NOT a registry lookup: Python workers
    # re-import this module to unpickle the stateful UDF before the
    # registry is populated, so module-level REGISTRY access crashes
    # every Arrow-batched query defined here).
    oracle=BLOOM_PROBE_ORACLE,
    tags=("streaming", "dedup", "bloom"),
)
def stream_bloom_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup gate — the production shape of
    dedup_bloom_probe: documents arrive as a file stream in multiple
    micro-batches (maxFilesPerTrigger=1 over a 4-file source), each
    batch probes the STATIC corpus Bloom manifest inside foreachBatch
    and appends per-document verdicts (bloom maybe_seen + exact is_dup
    truth) to the sink.  Because the manifest is static, the verdict
    for a document is independent of how the stream is batched — which
    is what makes the gate exactly checkable: the sink's final contents
    equal the batch probe, row for row.

    Built once, before the stream starts: the corpus manifest and the
    corpus hash set, each a checkpointed frame.  NOT built once: their
    broadcasts.  Every micro-batch plans ``bloom_verdicts`` afresh, so
    each trigger launches 5 jobs (read from the status store's job
    list, sf0.01): it broadcasts the checkpointed manifest (1) and hash
    set (1) again, runs the map stage of the per-document bool_and over
    the batch file (1), broadcasts the batch's exact-truth side (1; the
    batch file is read a second time), and appends the joined verdicts
    (1).  The manifest is ``dedup._BLOOM_M`` bits packed in BIGINT words
    (broadcast-sized at ANY corpus size — that is the point of the
    bloom form over the 32-byte hash manifest); the corpus hash set
    grows with the corpus, exactly as in dedup_incremental.  State
    stores hold nothing: the gate is stateless per batch, so it runs at
    source parallelism forever.
    """
    cat = Catalog(spark, sf_dir)
    src = sink_dir("bloom_gate_src", sf_dir)
    dst = sink_dir("bloom_gate_out", sf_dir)
    ckpt = sink_dir("bloom_gate_ckpt", sf_dir)
    # The checkpoint must die WITH the sink: a stale checkpoint from a
    # crashed/timed-out prior run would make this stream "resume"
    # against a source dir we just rewrote, silently skipping batches.
    shutil.rmtree(dst, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    # 4 source files -> 4 micro-batches under maxFilesPerTrigger=1
    cat.documents.where(F.col("doc_id") >= _INCR_SPLIT).select(
        "doc_id", "text"
    ).repartition(4).write.mode("overwrite").parquet(src)
    # built once; every micro-batch re-reads the checkpointed blocks
    manifest, hashes = (df.localCheckpoint() for df in bloom_corpus(cat))

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        bloom_verdicts(batch_df, manifest, hashes).write.mode("append").parquet(dst)

    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_bounded(
        stream.writeStream.foreachBatch(gate).option("checkpointLocation", ckpt),
        "stream_bloom_ingest_gate",
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(dst)


# ------------------------------------------------ streaming CDC merge

def cdc_apply_batch(spark: SparkSession, root: str):
    """The foreachBatch MERGE body of ``stream_cdc_merge_upsert``,
    factored out so the restart/replay tests can drive it directly:
    version = batch_id + 1, and a REPLAYED batch recomputes ITS OWN
    version dir from the predecessor snapshot (idempotent) — it never
    double-applies onto its own output.  That per-batch-id versioning
    is the entire exactly-once story for this sink (no state store),
    so it is the thing the replay test exercises.  The MERGE itself is
    ``warehouse.merge_changes``, the batch merge_upsert's body."""
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = spark.read.parquet(os.path.join(root, f"v{batch_id}"))
        merge_changes(cur, batch_df).write.mode("overwrite").parquet(
            os.path.join(root, f"v{batch_id + 1}")
        )

    return apply_batch


@query(
    "stream_cdc_merge_upsert",
    # The change classes partition the key space (U: key%10=3, D:
    # key%10=7, I: fresh keys), so applying the change stream in ANY
    # batching order reaches the same final table — which makes the
    # batch MERGE oracle (merge_upsert's) exact for the streaming apply.
    oracle=MERGE_ORACLE,
    tags=("streaming", "warehouse", "merge", "cdc"),
)
def stream_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — merge_upsert's production shape: the (U/D/I)
    change batch arrives as a FILE STREAM in four micro-batches
    (maxFilesPerTrigger=1) and ``foreachBatch`` MERGEs each one into a
    versioned parquet snapshot of the customer table; the returned
    DataFrame is the final snapshot, which must equal the one-shot batch
    MERGE row-for-row (the change classes are key-disjoint, so batching
    order cannot matter).

    Scale shape per trigger: the micro-batch is broadcast against the
    base snapshot (CDC batches are small by construction; the base is
    the big side and is never shuffled), inserts append, and the new
    snapshot lands under a batch-versioned path before the pointer
    advances — the swap-on-success layout that Delta/Iceberg formalize
    with metadata; plain parquet + version dirs is the container-
    available equivalent, and the foreachBatch MERGE body is exactly
    what a row-level-ops sink would run.  State stores hold nothing;
    exactly-once comes from the idempotent per-batch-id version dir.

    Cites dirhash_spark/operators/warehouse.py:merge_upsert for the
    MERGE semantics (shared oracle).
    """
    cat = Catalog(spark, sf_dir)
    root = sink_dir("cdc_merge", sf_dir)
    src = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    shutil.rmtree(root, ignore_errors=True)

    # change stream: 4 files -> 4 micro-batches under maxFilesPerTrigger=1
    _change_batch(cat).repartition(4).write.mode("overwrite").parquet(src)

    # v0 snapshot: the base table with merge_action bookkeeping
    state = {"version": 0}
    kept_base(cat).write.mode("overwrite").parquet(os.path.join(root, "v0"))

    inner = cdc_apply_batch(spark, root)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        inner(batch_df, batch_id)
        state["version"] = max(state["version"], batch_id + 1)

    stream = (
        spark.readStream.schema("k BIGINT, op STRING, new_bal DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_bounded(
        stream.writeStream.foreachBatch(apply_batch).option("checkpointLocation", ckpt),
        "stream_cdc_merge_upsert",
    )
    final = spark.read.parquet(os.path.join(root, f"v{state['version']}"))
    # materialize the result BEFORE the version dirs can be cleaned by a
    # subsequent run (the sink root is shared scratch)
    return final.localCheckpoint()


def _stamp_wave(path: str, order: int) -> None:
    """Deterministic replay order: the file source processes the oldest
    mtime first, so each wave's files are stamped 100 s apart."""
    t = 1_600_000_000 + order * 100
    os.utime(path, (t, t))


def _write_sentinel(src: str, hi) -> None:
    """Wave 2: one sentinel row (user_id -1) 365 days past the corpus
    max ``hi``, written driver-side (bounded: a single literal row)
    instead of paying a Spark job and commit for it.  tz="UTC" writes
    isAdjustedToUTC micros, the physical type Spark's own writer
    produces; the session is pinned UTC, so the wall clock is the one a
    ``timestamp'{hi}' + INTERVAL 365 DAYS`` literal gives."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    path = os.path.join(src, "wave2-sentinel.parquet")
    sent = hi + datetime.timedelta(days=365)
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([sent], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([-1], pa.int64()),
            }
        ),
        path,
    )
    _stamp_wave(path, 2)


def stage_session_replay(
    spark: SparkSession, sf_dir: str, src: str, waves: tuple[int, ...] = (0, 1, 2)
) -> None:
    """Stage the session-replay source files under ``src``: the events
    table split at its midpoint timestamp into two chronological waves
    (0 and 1), plus a far-future sentinel wave (2) that pushes the
    watermark past every real session end.  Each wave is one parquet
    file with its mtime stamped 100 s apart so the file source's
    oldest-first ordering replays them as separate, chronologically
    faithful micro-batches (``maxFilesPerTrigger=1``).

    ``waves`` selects which waves to stage — the restart-recovery test
    stages wave 0, runs a query to completion, then stages waves 1-2
    and RESTARTS from the same checkpoint, so arrival-while-stopped is
    part of the replay.  Staging is incremental: existing files keep
    their stamps (the local route restages every wave once the events
    table has been rewritten in place).

    Local corpora take a DRIVER-side pyarrow route (r14): the staged
    payload is two columns of the events table (~1.6 MB at sf0.1), so
    reading the parquet file in-process and writing the wave files with
    pyarrow replaces two Spark jobs (the min/max aggregate and the
    coalesce(1) wave write) plus their commit protocol with
    sub-100 ms of local I/O.  The route is value-identical to the Spark
    one by construction — same ``ts div 1000`` nano→micro truncation
    the catalog applies, the same ``lo + (hi-lo)/2`` Python-datetime
    midpoint, the same timestamp(us, UTC) physical type the sentinel
    already writes, rows in file order — and parity is pinned by
    tests/test_streaming.py::test_driver_staging_matches_spark_route.
    Non-local layouts (and every synthetic-DataFrame caller) keep the
    Spark route.
    """
    if _stage_replay_local(sf_dir, src, waves):
        return
    cat = Catalog(spark, sf_dir)
    stage_replay_from(spark, cat.events.select("ts", "user_id"), src, waves)


def _stage_replay_local(sf_dir: str, src: str, waves: tuple[int, ...]) -> bool:
    """Driver-side pyarrow staging of the events replay waves.  Returns
    False (caller falls back to the Spark route) unless the events
    table is ONE local parquet file — the fixture layout; multi-file or
    remote layouts keep the distributed route.

    Route preconditions (fall back when violated, so the Spark route
    stays the single source of truth for exotic inputs): UTC host
    clock (the Spark route round-trips the midpoint through naive
    Python datetimes in the DRIVER's zone — on a non-UTC/DST host a
    boundary event could land in a different wave between routes),
    non-negative epochs (numpy's ``// 1000`` floors where the
    catalog's ``div 1000`` truncates — they differ below 1970), and a
    ``src`` containing only THIS route's wave files (Spark-route part
    names are UUIDs; mixing routes would stage duplicate events).
    Waves whose file already exists are skipped — staging is
    incremental, existing files keep their mtime stamps — as long as
    the events table is the one they were cut from: the wave mtimes are
    synthetic replay stamps, so the table's fingerprint
    (:func:`~dirhash_spark.catalog.table_stats`) is kept in a hidden
    ``_events_fingerprint`` sidecar in ``src``, and a table rewritten
    since drops every staged wave before the requested ones are cut."""
    import datetime
    import time as _time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as _pq

    if _time.timezone != 0 or _time.daylight != 0:
        return False
    path = os.path.join(sf_dir, "events.parquet")
    st = table_stats(sf_dir, "events")
    if st is None or not os.path.isfile(path):
        return False
    ours = {"wave0-part.parquet", "wave1-part.parquet", "wave2-sentinel.parquet"}
    if os.path.isdir(src):
        staged = {f for f in os.listdir(src) if not f.startswith(("_", "."))}
        if staged - ours:
            return False
    try:
        t = _pq.read_table(path, columns=["ts", "user_id"])
    except Exception:
        return False
    ts = t.column("ts")
    if ts.null_count or t.column("user_id").null_count:
        # the Spark route's null semantics (a NULL ts lands in wave 1
        # via otherwise()) are not worth replicating here — fall back
        return False
    unit = getattr(ts.type, "unit", None)
    if unit == "ns":
        raw = ts.cast(pa.int64()).to_numpy(zero_copy_only=False)
        if len(raw) and raw.min() < 0:
            # numpy floor-div differs from the catalog's truncating
            # div on pre-1970 nanos — precondition, not replication
            return False
        # the catalog's `ts div 1000` (truncating ns→us, exactly what
        # DuckDB's reader does); values are positive epochs (checked
        # above) so numpy floor-div == Spark's truncating div
        us = raw // 1000
    elif unit == "us":
        us = ts.cast(pa.int64()).to_numpy(zero_copy_only=False)
        if len(us) and us.min() < 0:
            return False
    else:
        return False
    if len(us) == 0:
        raise ValueError("stage_replay_from: empty input DataFrame")
    uid = t.column("user_id").to_numpy(zero_copy_only=False).astype(np.int64)

    epoch = datetime.datetime(1970, 1, 1)
    lo = epoch + datetime.timedelta(microseconds=int(us.min()))
    hi = epoch + datetime.timedelta(microseconds=int(us.max()))
    # the same Python expression the Spark route evaluates for F.lit(mid)
    mid = lo + (hi - lo) / 2
    mid_us = (mid - epoch) // datetime.timedelta(microseconds=1)

    os.makedirs(src, exist_ok=True)
    sidecar = os.path.join(src, "_events_fingerprint")
    stamp = repr(st.fingerprint)
    try:
        with open(sidecar) as f:
            fresh = f.read() == stamp
    except FileNotFoundError:
        fresh = False
    if not fresh:  # waves cut from another version of the table
        for f in ours:
            if os.path.exists(os.path.join(src, f)):
                os.remove(os.path.join(src, f))
    masks = {0: us < mid_us, 1: us >= mid_us}
    for order in (0, 1):
        if order not in waves:
            continue
        wp = os.path.join(src, f"wave{order}-part.parquet")
        if os.path.exists(wp):
            continue  # incremental staging: keep the file and its stamp
        m = masks[order]
        if not m.any():
            continue  # parity: an empty wave writes no file on either route
        _pq.write_table(
            pa.table(
                {
                    "ts": pa.array(us[m], pa.timestamp("us", tz="UTC")),
                    "user_id": pa.array(uid[m], pa.int64()),
                }
            ),
            wp,
        )
        _stamp_wave(wp, order)
    if 2 in waves and not os.path.exists(os.path.join(src, "wave2-sentinel.parquet")):
        _write_sentinel(src, hi)
    with open(sidecar, "w") as f:
        f.write(stamp)
    return True


def stage_replay_from(
    spark: SparkSession, ev: DataFrame, src: str, waves: tuple[int, ...] = (0, 1, 2)
) -> None:
    """:func:`stage_session_replay` from an arbitrary ``(ts, user_id)``
    DataFrame — the randomized-equivalence property test feeds
    adversarial corpora through the same staging the fixture uses."""
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()  # bounded: one row
    if lo is None:
        # min/max of an empty frame are null — the arithmetic below
        # would raise an unrelated-looking TypeError and the sentinel
        # SQL would interpolate "timestamp'None'"; name the real cause
        raise ValueError("stage_replay_from: empty input DataFrame")
    mid = lo + (hi - lo) / 2
    real = [w for w in (0, 1) if w in waves]
    if real:
        # One corpus pass for the requested real waves: a partitionBy
        # ("wave") write filtered to them, whose per-wave files then move
        # into the flat src layout with their mtime stamps.  An empty
        # wave (all-equal timestamps put every event in wave 1) writes
        # no directory, so no file, as on the driver route.
        import tempfile

        wave = F.when(F.col("ts") < F.lit(mid), 0).otherwise(1)
        tmp = tempfile.mkdtemp(prefix="dirhash_session_waves_")
        try:
            (
                ev.select("ts", "user_id", wave.alias("wave"))
                .where(F.col("wave").isin(real))
                .coalesce(1)
                .write.mode("overwrite")
                .partitionBy("wave")
                .parquet(tmp)
            )
            os.makedirs(src, exist_ok=True)
            for order in real:
                wdir = os.path.join(tmp, f"wave={order}")
                if os.path.isdir(wdir):
                    for f in os.listdir(wdir):
                        if not f.startswith(("_", ".")):
                            dst = os.path.join(src, f"wave{order}-{f}")
                            shutil.move(os.path.join(wdir, f), dst)
                            _stamp_wave(dst, order)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    if 2 in waves:
        _write_sentinel(src, hi)


#: Target state rows per state-store commit when deriving the session
#: stream's shuffle width.  Each micro-batch pays one store commit
#: (snapshot/delta file) per partition regardless of how few rows it
#: holds, so fewer-but-fuller partitions win until a partition's state
#: stops fitting comfortably in one task — 256 open sessions of a few
#: dozen bytes each is far inside that, and derives the width the r12
#: A/B measured optimal on the staged corpus (see run_session_flush).
_STATE_ROWS_PER_PARTITION = 256


def _width_for_sessions(open_sessions: int) -> int:
    """Power-of-two width for an open-session estimate: the smallest
    2^k holding :data:`_STATE_ROWS_PER_PARTITION` rows per partition,
    clamped to [2, 1024] — floor 2 keeps the stateful exchange
    genuinely multi-partition even on tiny fixtures, the cap bounds
    per-batch commit volume the same way the PQ codebook cap bounds
    codebook training."""
    import math

    need = max(1, open_sessions) / _STATE_ROWS_PER_PARTITION
    return max(2, min(1024, 1 << max(0, math.ceil(math.log2(max(need, 1.0))))))


def _session_state_width(spark: SparkSession, sf_dir: str) -> int:
    """Derive the session stream's state-store width from the corpus:
    open-session cardinality ≈ distinct users, estimated with
    ``approx_count_distinct`` (a sketch is plenty for a power-of-two
    sizing decision), sized by :func:`_width_for_sessions`.  The
    estimate scan is one column-pruned pass over events, memoized on
    the events fingerprint like the IVF trainers."""

    def width() -> int:
        users = (
            Catalog(spark, sf_dir)
            .events.agg(F.approx_count_distinct("user_id"))
            .first()[0]
        )
        return _width_for_sessions(users)

    return memoized(sf_dir, "events", "state_width", width)


def run_session_flush(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "dirhash_session_native",
    state_partitions: int | None = None,
) -> tuple[DataFrame, list]:
    """Stream-NATIVE gap sessionization with watermark finalization —
    the state-store lifecycle the batch twin (``stream_session``)
    cannot exercise: sessions accumulate/merge in the session-window
    state store across micro-batches, the advancing watermark
    finalizes them into an APPEND-mode sink, and finalized state is
    PURGED from the store.

    Replay harness (in production the source is Kafka/arriving files):
    the events table is split at its midpoint timestamp into two files
    processed as separate micro-batches (``maxFilesPerTrigger=1``,
    mtime-ordered), so sessions straddling the split must merge in
    state; a third, far-future sentinel file then pushes the watermark
    past every real session end, flushing ALL real sessions exactly
    once.  Chronological splitting is what makes the replay faithful:
    batch 2's earliest event is later than batch 1's watermark, so
    nothing is dropped as late, and the sink provably equals the batch
    gaps-and-islands oracle.  The sentinel's own session is the only
    state never finalized (the watermark cannot pass it).

    Returns (bounded sink snapshot sans sentinel, per-batch
    stateOperators progress) — the metrics let tests assert rows were
    actually added to AND removed from the state store, not just that
    the answer came out right.  Scale shape: state is O(open sessions),
    keyed by user; the shuffle is the session-window exchange per
    micro-batch — identical topology at any corpus size.

    ``state_partitions`` is the stateful query's OWN shuffle width —
    the one sizing decision Structured Streaming makes per query, not
    per session: the partition count is baked into the checkpoint at
    batch 0 and every micro-batch afterwards pays one state-store
    commit (snapshot/delta file) PER PARTITION, so the right width
    tracks open-session cardinality and per-batch volume, not the
    batch-analytics ``spark.sql.shuffle.partitions`` of the session.
    Inheriting the session's 32 billed 32 store commits per batch to
    micro-batches carrying a few thousand open sessions — measured
    2.0x the whole streaming wall vs 8 (BASELINE.md r12, identical
    results and state metrics).  When None (the default) the width is
    DERIVED from the corpus the same way IVF K and the PQ codebook
    are (:func:`_session_state_width`): state cardinality ≈ open
    sessions ≈ distinct users, estimated with one column-pruned
    ``approx_count_distinct`` scan and sized to
    ``_STATE_ROWS_PER_PARTITION`` state rows per store commit — the
    staged sf0.1 corpus (≈1500 users) derives exactly the width the
    r12 A/B measured optimal (8), and a production deployment with
    millions of open sessions lands proportionally wider at first
    start instead of relying on a hand-picked constant.

    The stream runs in ``spark.newSession()``: same SparkContext, its
    own SQL conf (the engine's runtime confs plus this width), its own
    stream manager and memory-sink table, so the caller's
    ``spark.sql.shuffle.partitions`` is never touched and a query
    running beside this one on the caller's session plans as before.
    """
    from .ops import session_counts

    if state_partitions is None:
        state_partitions = _session_state_width(spark, sf_dir)
    src = sink_dir("session_native_src", sf_dir)
    shutil.rmtree(src, ignore_errors=True)
    stage_session_replay(spark, sf_dir, src)

    inner = configure(spark.newSession())
    inner.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    stream = (
        inner.readStream.schema("ts TIMESTAMP, user_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_bounded(
        session_counts(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append"),
        "session flush stream",
        300,
    )
    progress = [
        p["stateOperators"]
        for p in (json.loads(pr.json) for pr in q.recentProgress)
        if p.get("stateOperators")
    ]
    # Snapshot the memory sink JVM-side: the sink table is already a
    # bounded driver-resident buffer (one row per CLOSED session, never
    # per event); localCheckpoint decouples the result from the sink's
    # table name (a later run may reuse/drop it) without the Python
    # round-trip a collect+createDataFrame rebuild paid (measured 2.9 s
    # vs 0.6 s on the sf0.1 sink — same rows, same schema).  Same
    # lineage-truncation fault-tolerance trade as hashdir.py:237.
    out = (
        inner.table(query_name)
        .where(F.col("user_id") >= 0)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "session_start",
            "session_end",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .localCheckpoint()
    )
    return out, progress


@query(
    "stream_session_native",
    # Exact oracle: every REAL session is finalized by the sentinel-
    # driven watermark, so the append-mode sink equals the batch
    # gaps-and-islands reconstruction (same islands SQL as
    # stream_session; no event_id tiebreak needed — islands depend
    # only on ts gaps).
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '10 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    islands AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '10 minutes' AS session_end,
           count(*) AS n_events
    FROM islands
    GROUP BY user_id, session_no
    """,
    tags=("streaming", "session", "stateful"),
)
def stream_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B51 stream-native form: watermarked session windows finalized
    across real micro-batches in APPEND mode — state merge, watermark
    flush, and store purge all actually execute (see
    :func:`run_session_flush`; state metrics asserted in
    tests/test_streaming.py)."""
    out, _ = run_session_flush(spark, sf_dir)
    return out
