"""SparkSession factory and runtime-conf normalization.

The engine must work both when it owns the session (CLI, tests, bench) and
when a host harness hands it an already-built ``SparkSession``.  Everything
the engine depends on is therefore a *runtime-settable* SQL conf, applied
idempotently by :func:`configure` — never a static builder-only conf.

Scale notes (local[32] here, 1000-executor cluster in spirit):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast decisions replace any hand-tuned partition counts.
- ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics
  (the DuckDB oracle compares naive UTC values).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the fixture parquet files
  carry TIMESTAMP(NANOS) columns which Spark has no native type for; the
  catalog reads them as int64 nanos and converts with integer division
  (``ts div 1000`` — float division would lose precision above 2^53).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime confs every engine entry point applies to whatever session it got.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read naive parquet TIMESTAMP(MICROS) as TIMESTAMP at the SCAN, not
    # TIMESTAMP_NTZ + a catalog-side cast: values are identical under the
    # pinned UTC session zone, and the difference is structural — a cast
    # Project over the fact scan blocks InjectRuntimeFilter, silently
    # disabling runtime bloom-filter semi-join reduction on every
    # timestamp-carrying table (measured: bloom_filter_agg injected with
    # this conf, absent with the cast).  catalog.load_table keeps the
    # cast branch as a no-op fallback for hosts that lock this conf.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every driver-side DataFrame ↔ Python conversion
    # (vectorized transfer); the executor-side Python stages are Arrow
    # batches already (mapInArrow / applyInArrow / arrow_udf).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # No DataFrame call-site capture: left on, pyspark's first
    # ``functions`` call imports IPython (~0.8 s) and every later call
    # retries a failing ``import ipykernel`` plus ~3 Py4J round trips.
    # pyspark reads this once per process, at that first call, so it
    # must be set before the engine builds any Column.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Small dims (region/nation/part at test SF) should always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def _enable_py4j_nodelay() -> None:
    """Disable Nagle on py4j command sockets (idempotent monkeypatch).

    py4j never sets TCP_NODELAY, so the kernel is free to hold the last
    small segment of a command until the peer ACKs — and the py4j
    protocol is strict small-message request/response, the exact shape
    Nagle + delayed-ACK penalizes.  Measured on this engine's sessions:
    1000 gateway round trips 118–276 ms before, a stable 104 ms after
    (every DataFrame-DSL construction is hundreds of such round trips,
    so the saving is suite-wide).  Patching ``connect_to_java_server``
    covers every FUTURE connection (they are created lazily per Python
    thread); sockets that predate the patch keep the stock behavior —
    harmless, and :func:`configure`/:func:`get_spark` both apply the
    patch before the engine issues its own traffic."""
    import socket as _socket

    try:
        from py4j.clientserver import ClientServerConnection

        if getattr(ClientServerConnection, "_dirhash_nodelay", False):
            return
        orig = ClientServerConnection.connect_to_java_server

        def connect_to_java_server(self):  # noqa: ANN001 - py4j signature
            orig(self)
            try:
                self.socket.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
            except Exception:
                pass

        ClientServerConnection.connect_to_java_server = connect_to_java_server
        ClientServerConnection._dirhash_nodelay = True
    except Exception:
        # Exotic py4j builds (no clientserver mode) keep stock sockets.
        pass


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent)."""
    _enable_py4j_nodelay()
    try:
        # Host-provided sessions created their gateway sockets BEFORE the
        # class patch could run; retrofit the calling thread's connection
        # (the one the engine's traffic will ride).  Best-effort: py4j
        # internals, and a miss only keeps the stock socket behavior.
        conn = spark.sparkContext._gateway._gateway_client.get_thread_connection()
        if conn is not None and getattr(conn, "socket", None) is not None:
            import socket as _socket

            conn.socket.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
    except Exception:
        pass
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A host may have locked a conf; the engine degrades gracefully.
            pass
    return spark


def get_spark(app_name: str = "dirhash_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a session tuned for the engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32 to mirror
    the driver environment); shuffle partitions follow the core count so a
    single local run neither under-splits nor drowns in tiny tasks — on a
    real cluster AQE coalescing makes the initial number non-critical.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # Python workers fork from a daemon process; pointing the daemon at
    # dirhash_spark.worker_preload makes every forked worker inherit the
    # numpy/pandas/pyarrow imports copy-on-write instead of paying them
    # per worker (the measured "spawn storm" — see worker_preload.py).
    # The daemon runs `python -m dirhash_spark.worker_preload`, so the
    # package parent dir must be on the WORKER's PYTHONPATH; the factory
    # merges the JVM's inherited PYTHONPATH env, which we extend here
    # BEFORE the gateway JVM launches (getOrCreate).  If a JVM already
    # exists neither the env nor the conf reaches it — stock daemon,
    # same behavior as before.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + py_path if py_path else "")
        )
    _enable_py4j_nodelay()  # before the gateway's first connection
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.python.daemon.module", "dirhash_spark.worker_preload")
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
