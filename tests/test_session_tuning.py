"""Session-level driver tuning (dirhash_spark.session).

The engine's Py4J traffic is strict small-message request/response —
the exact shape Nagle + delayed-ACK penalizes — and py4j itself never
sets TCP_NODELAY.  ``_enable_py4j_nodelay`` patches the connection
class so every gateway socket the engine uses disables Nagle (measured
1000 round trips: 118–276 ms stock, a stable ~104 ms patched; every
DataFrame-DSL construction is hundreds of round trips, so the saving
is suite-wide).  These tests pin (a) that the patch is active and
idempotent and (b) that the suite's own session socket actually
carries the option — a silent regression to stock sockets would only
show up as uniform construction-time drift, which no functional test
catches.
"""

from __future__ import annotations

import socket


def test_nodelay_patch_applied_and_idempotent():
    from py4j.clientserver import ClientServerConnection

    from dirhash_spark.session import _enable_py4j_nodelay

    _enable_py4j_nodelay()
    assert getattr(ClientServerConnection, "_dirhash_nodelay", False)
    patched = ClientServerConnection.connect_to_java_server
    _enable_py4j_nodelay()  # second call must not re-wrap (no chain growth)
    assert ClientServerConnection.connect_to_java_server is patched


def test_session_socket_has_nodelay(spark):
    # touch the JVM so this thread owns a connection, then inspect it
    spark.sparkContext._jvm.java.lang.Runtime.getRuntime().availableProcessors()
    conn = spark.sparkContext._gateway._gateway_client.get_thread_connection()
    assert conn.socket.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) == 1


def test_dataframe_call_site_capture_is_off():
    """RUNTIME_CONF turns DataFrame call-site capture off: left on,
    pyspark's first ``functions`` call imports IPython and every later
    call retries a failing ``import ipykernel``.  pyspark caches the
    setting per process at that first call, so the check runs in a
    fresh interpreter: ``get_spark()`` then one Column call must leave
    IPython unimported (``F.lit`` itself is not call-site wrapped; the
    Column method ``alias`` is)."""
    import os
    import subprocess
    import sys

    code = (
        "import sys\n"
        "from pyspark.sql import functions as F\n"
        "from dirhash_spark.session import get_spark\n"
        "s = get_spark('call_site_probe')\n"
        "F.lit(1).alias('one')\n"
        "print('IPYTHON', 'IPython' in sys.modules)\n"
        "s.stop()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "IPYTHON False" in proc.stdout, proc.stdout
