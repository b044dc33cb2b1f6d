"""Structured Streaming smoke tests (SURVEY §5 / §2.B B49-B52).

Strategy: feed the fixture events through a real streaming source (file
source + availableNow trigger → deterministic, processes everything then
stops), collect from a memory sink, and check against the batch
equivalent of the same expression — proving the streaming path end to
end (source → watermark → stateful op → sink) without wall-clock flakes.
"""

from __future__ import annotations

import pytest

from dirhash_spark.catalog import load_table
from dirhash_spark.streaming import (
    session_counts,
    tumbling_counts,
    watermark_dedup,
)


@pytest.fixture(scope="module")
def stream_source(spark, sf_dir, tmp_path_factory):
    """Events written to a parquet dir consumed as a stream."""
    src = str(tmp_path_factory.mktemp("stream") / "events")
    batch = load_table(spark, sf_dir, "events")
    batch.write.mode("overwrite").parquet(src)
    schema = batch.schema
    return lambda: spark.readStream.schema(schema).parquet(src), batch


def _run_to_memory(spark, streaming_df, name: str, output_mode: str):
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tumbling_matches_batch(spark, stream_source):
    make_stream, batch = stream_source
    result = _run_to_memory(spark, tumbling_counts(make_stream()), "t_tumbling", "complete")
    got = {(r["window_start"], r["n_events"], r["total_value"]) for r in result.collect()}
    expected = {
        (r["window_start"], r["n_events"], r["total_value"])
        for r in tumbling_counts(batch).collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_session_matches_batch(spark, stream_source):
    make_stream, batch = stream_source
    result = _run_to_memory(spark, session_counts(make_stream()), "t_session", "complete")
    got = {tuple(r) for r in result.collect()}
    expected = {tuple(r) for r in session_counts(batch).collect()}
    assert got == expected and len(got) > 0


def test_streaming_watermark_dedup(spark, stream_source):
    make_stream, batch = stream_source
    result = _run_to_memory(spark, watermark_dedup(make_stream()), "t_dedup", "append")
    # state-backed dedup must leave exactly one row per (user_id, event_type)
    n_keys = batch.select("user_id", "event_type").distinct().count()
    assert result.count() == n_keys
    assert result.select("user_id", "event_type").distinct().count() == n_keys


def test_streaming_sliding_matches_batch(spark, stream_source):
    from dirhash_spark.streaming import sliding_counts

    make_stream, batch = stream_source
    result = _run_to_memory(spark, sliding_counts(make_stream()), "t_sliding", "complete")
    got = {tuple(r) for r in result.collect()}
    expected = {tuple(r) for r in sliding_counts(batch).collect()}
    assert got == expected and len(got) > 0


def test_streaming_stateful_running_totals(spark, stream_source, tmp_path_factory):
    """applyInPandasWithState path: final per-user state must equal the
    batch aggregate (single availableNow pass ⇒ one emission per user)."""
    from pyspark.sql import functions as F

    from dirhash_spark.streaming.stateful import running_totals_stream

    _, batch = stream_source
    src = str(tmp_path_factory.mktemp("stateful") / "events")
    batch.select("user_id", "value").write.mode("overwrite").parquet(src)
    q = (
        running_totals_stream(spark, src)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM t_stateful").collect()
    }
    expected = {
        (r["user_id"], r["n"], r["t"])
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_stream_stream_join_matches_batch(spark, stream_source, sf_dir):
    """Stream-stream click→error join (watermarks bounding both state
    stores) must produce exactly the pairs the batch twin
    join_event_window aggregates — same time band, same μs boundaries."""
    from pyspark.sql import functions as F

    from dirhash_spark.registry import all_queries
    from dirhash_spark.streaming import clicks_errors_joined

    make_stream, _ = stream_source
    pairs = _run_to_memory(
        spark, clicks_errors_joined(make_stream()), "t_ssjoin", "append"
    )
    streamed = {
        tuple(r)
        for r in pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_errors_after_click"),
            F.min(
                F.unix_micros("err_ts") - F.unix_micros("click_ts")
            ).alias("min_lag_us"),
        )
        .collect()
    }
    batch = {
        tuple(r)
        for r in all_queries()["join_event_window"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_cdc_merge_stream_equals_batch_merge(spark, sf_dir):
    """The streaming CDC apply (4 key-disjoint micro-batches through
    foreachBatch MERGE into versioned snapshots) must land on exactly
    the one-shot batch MERGE's table, and must really have run
    incrementally (one snapshot version per micro-batch)."""
    import os

    from dirhash_spark.catalog import sink_dir
    from dirhash_spark.registry import all_queries

    qs = all_queries()
    streamed = {tuple(r) for r in qs["stream_cdc_merge_upsert"].fn(spark, sf_dir).collect()}
    batch = {tuple(r) for r in qs["merge_upsert"].fn(spark, sf_dir).collect()}
    assert streamed == batch
    root = sink_dir("cdc_merge", sf_dir)
    versions = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert versions == ["v0", "v1", "v2", "v3", "v4"], versions


def test_bloom_gate_stream_equals_batch_probe(spark, sf_dir):
    """The streaming ingest gate (4 micro-batches, each probing the
    checkpointed corpus manifest inside foreachBatch) must emit exactly
    the batch probe's verdicts, row for row and dtype for dtype."""
    from dirhash_spark.registry import all_queries

    qs = all_queries()
    gate = qs["stream_bloom_ingest_gate"].fn(spark, sf_dir)
    probe = qs["dedup_bloom_probe"].fn(spark, sf_dir)
    assert gate.dtypes == probe.dtypes
    streamed = sorted(map(tuple, gate.collect()))
    batch = sorted(map(tuple, probe.collect()))
    assert streamed == batch and len(streamed) > 0


def test_bounded_streams_run_only_through_the_runner():
    """Every stream query starts, waits and stops through
    stateful.run_bounded: the available-now trigger and the bounded
    wait are written once in the package, inside the runner."""
    import inspect
    import pathlib
    import re

    from dirhash_spark.streaming import stateful

    pkg = pathlib.Path(stateful.__file__).resolve().parent.parent
    runner = inspect.getsource(stateful.run_bounded)
    for pattern in (r"trigger\(availableNow=True\)", r"(?<!def )_await_or_raise\("):
        hits = {
            str(p.relative_to(pkg)): len(re.findall(pattern, p.read_text()))
            for p in pkg.rglob("*.py")
        }
        assert {k: n for k, n in hits.items() if n} == {"streaming/stateful.py": 1}, pattern
        assert re.search(pattern, runner), pattern


def test_session_flush_runs_in_its_own_session(spark, sf_dir, monkeypatch):
    """The session stream runs in a session of its own: while it runs,
    the caller's spark.sql.shuffle.partitions is the caller's value,
    and every state operator reports the derived state width."""
    import dirhash_spark.streaming.stateful as S

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    during = []
    wait = S._await_or_raise

    def spy(q, name, timeout_s):
        during.append(spark.conf.get(key))
        wait(q, name, timeout_s)

    monkeypatch.setattr(S, "_await_or_raise", spy)
    _, prog = S.run_session_flush(spark, sf_dir, query_name="t_session_own")
    assert during == [before]
    ops = [op for batch in prog for op in batch]
    width = S._session_state_width(spark, sf_dir)
    assert ops and {op["numShufflePartitions"] for op in ops} == {width}


def test_session_native_state_store_lifecycle(spark, sf_dir):
    """The stream-native session query must demonstrably exercise the
    session-window state store, not just produce the right rows:
    (a) sessions straddling the chronological split merge in state
        (updated-row traffic exceeds the net store size);
    (b) the advancing watermark PURGES finalized sessions
        (numRowsRemoved > 0 — state does not grow monotonically);
    (c) after the sentinel flush only the sentinel's own session
        remains in the store;
    (d) the append-mode sink equals the batch session aggregation.
    """
    from pyspark.sql import functions as F

    from dirhash_spark.catalog import load_table
    from dirhash_spark.streaming.stateful import run_session_flush

    out, prog = run_session_flush(spark, sf_dir, query_name="t_session_native")
    ops = [op for batch in prog for op in batch]
    assert ops and all(
        op["operatorName"] == "sessionWindowStateStoreSaveExec" for op in ops
    )
    assert sum(op["numRowsRemoved"] for op in ops) > 0, "state never purged"
    assert any(op["numRowsUpdated"] > 0 and op["numRowsRemoved"] > 0 for op in ops)
    assert ops[-1]["numRowsTotal"] <= 1, "store should hold only the sentinel"

    batch = session_counts_batch(load_table(spark, sf_dir, "events"))
    got = sorted(map(tuple, out.collect()))
    expected = sorted(map(tuple, batch.collect()))
    assert got == expected and len(got) > 0


def test_session_flush_restart_recovery(spark, sf_dir, tmp_path):
    """Checkpoint recovery is exactly-once: run the session-window
    query over wave 0 only, let it STOP (availableNow), stage the
    remaining waves, and restart from the SAME checkpoint into the
    SAME transactional file sink.  The restarted query must reload the
    open-session state store and the committed watermark (sessions
    straddling the wave boundary merge across the restart, nothing is
    re-emitted), so the final sink equals the batch gaps-and-islands
    aggregation row-for-row — the recovery path run_session_flush's
    single uninterrupted run never exercises."""
    import json

    from pyspark.sql import functions as F

    from dirhash_spark.streaming.ops import session_counts
    from dirhash_spark.streaming.stateful import stage_session_replay

    src, ckpt, sink = (str(tmp_path / d) for d in ("src", "ckpt", "sink"))

    def start():
        stream = (
            spark.readStream.schema("ts TIMESTAMP, user_id BIGINT")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            session_counts(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    stage_session_replay(spark, sf_dir, src, waves=(0,))
    q1 = start()
    assert q1.awaitTermination(120)
    run1_batches = {json.loads(p.json)["batchId"] for p in q1.recentProgress}
    assert run1_batches, "first run processed nothing"

    stage_session_replay(spark, sf_dir, src, waves=(1, 2))
    q2 = start()
    assert q2.awaitTermination(120)
    run2_batches = {json.loads(p.json)["batchId"] for p in q2.recentProgress}
    # the restart resumed AFTER run 1's last committed batch — no
    # offset replay, no batch-id overlap — and actually did new work
    assert run2_batches and min(run2_batches) > max(run1_batches)

    got = sorted(
        map(tuple, spark.read.parquet(sink).where(F.col("user_id") >= 0).collect())
    )
    expected = sorted(
        map(tuple, session_counts_batch(load_table(spark, sf_dir, "events")).collect())
    )
    assert got == expected and len(got) > 0


def test_session_flush_restores_shuffle_conf_on_failure(spark, sf_dir, monkeypatch):
    """A stream construction that fails leaves the caller's
    spark.sql.shuffle.partitions as it was: run_session_flush runs the
    stream in a session of its own, so its state width never reaches
    the caller's session (a leaked width would silently re-plan every
    subsequent batch query in the session)."""
    import dirhash_spark.streaming.stateful as S

    before = spark.conf.get("spark.sql.shuffle.partitions")

    def boom(_stream):
        raise RuntimeError("injected stream construction failure")

    import dirhash_spark.streaming.ops as ops_mod

    monkeypatch.setattr(ops_mod, "session_counts", boom)
    with pytest.raises(RuntimeError, match="injected"):
        S.run_session_flush(spark, sf_dir, query_name="t_conf_restore")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_session_state_width_derived_from_corpus(spark, sf_dir, monkeypatch):
    """The session stream's state-store width is DERIVED from the
    corpus's open-session estimate (distinct users), not hand-picked:
    pin the sizing rule at its anchors — the staged sf0.1 corpus
    (~1500 users) must derive exactly the width the r12 A/B measured
    optimal (8), tiny fixtures floor at 2 (the exchange stays
    multi-partition), and the cap bounds per-batch commit volume —
    and the corpus-facing wrapper must agree with the rule applied to
    the exact distinct-user count (the sketch's error is far below a
    power-of-two boundary here)."""
    from pyspark.sql import functions as F

    import dirhash_spark.streaming.stateful as S
    from dirhash_spark.catalog import load_table

    assert S._width_for_sessions(1) == 2
    assert S._width_for_sessions(150) == 2  # sf0.01-scale corpus
    assert S._width_for_sessions(1500) == 8  # sf0.1: the r12-measured width
    assert S._width_for_sessions(100_000) == 512
    assert S._width_for_sessions(10**9) == 1024  # capped
    # rule is monotone in the estimate (a bigger corpus never derives
    # a narrower store)
    widths = [S._width_for_sessions(n) for n in (1, 10, 10**3, 10**5, 10**7)]
    assert widths == sorted(widths)

    users = load_table(spark, sf_dir, "events").select(
        F.countDistinct("user_id")
    ).first()[0]
    assert S._session_state_width(spark, sf_dir) == S._width_for_sessions(users)
    # memoized: second call answers from the memo, re-deriving nothing
    width = S._width_for_sessions(users)

    def rederived(_):
        raise AssertionError("state width re-derived on a memo hit")

    monkeypatch.setattr(S, "_width_for_sessions", rederived)
    assert S._session_state_width(spark, sf_dir) == width


def test_session_replay_randomized_equivalence(spark, tmp_path):
    """Watermarked session replay == batch gaps-and-islands on
    RANDOMIZED corpora, not just the fixture table: seeded event sets
    built to hit the adversarial shapes — duplicate timestamps, gaps
    exactly AT the 10-minute session boundary (half-open window: an
    event at start+gap opens a NEW session), single-event sessions,
    users wholly inside one wave, and sessions straddling the
    chronological split (must merge in state across micro-batches).
    The streamed result must equal the batch session aggregation
    row-for-row for every seed."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from dirhash_spark.streaming.ops import session_counts
    from dirhash_spark.streaming.stateful import stage_replay_from

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        base = datetime(2024, 1, 1)
        rows = []
        for u in range(rng.randint(3, 8)):
            t = base + timedelta(minutes=rng.randint(0, 120))
            rows.append((t, u))
            for _ in range(rng.randint(0, 39)):
                # steps straddle the 10-minute gap: 0 = duplicate ts,
                # 10 = exactly the boundary (new session), 9/11 = just
                # inside/outside, 30 = clear break
                t = t + timedelta(minutes=rng.choice([0, 1, 5, 9, 10, 11, 30]))
                rows.append((t, u))
        ev = spark.createDataFrame(rows, "ts timestamp, user_id bigint")

        src = str(tmp_path / f"src_{seed}")
        stage_replay_from(spark, ev, src)
        stream = (
            spark.readStream.schema("ts TIMESTAMP, user_id BIGINT")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        name = f"t_rand_sessions_{seed}"
        q = (
            session_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180)
        finally:
            q.stop()
        got = sorted(
            map(tuple, spark.table(name).where(F.col("user_id") >= 0).collect())
        )
        expected = sorted(map(tuple, session_counts_batch(ev).collect()))
        assert got == expected and len(got) > 0, f"seed {seed}"


def session_counts_batch(ev):
    """Batch twin of streaming session_counts (same session_window
    aggregation, no watermark) — the oracle for the replay tests."""
    from pyspark.sql import functions as F

    return (
        ev.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def test_cdc_merge_restart_and_replay_idempotence(spark, sf_dir, tmp_path):
    """The CDC sink's exactly-once story is the per-batch-id version
    dir (no state store) — pin BOTH halves of it:

    (a) restart: apply half the change files, let availableNow stop,
        stage the rest, restart from the same checkpoint — the resumed
        query continues at the next batch id on top of the existing
        snapshots and the final table equals the one-shot batch MERGE;
    (b) replay: re-running a batch's foreachBatch body (a crash after
        the version dir landed but before the offset committed) must
        recompute an identical version dir from its predecessor, never
        double-apply onto its own output."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from dirhash_spark.catalog import Catalog
    from dirhash_spark.operators.warehouse import _change_batch
    from dirhash_spark.registry import all_queries
    from dirhash_spark.streaming.stateful import cdc_apply_batch

    cat = Catalog(spark, sf_dir)
    root, src, ckpt = (str(tmp_path / d) for d in ("cdc", "cdc/src", "cdc/ckpt"))
    os.makedirs(src)

    # four deterministic, key-disjoint change files (k % 4 strata of the
    # already key-disjoint U/D/I classes); mtime-stamped so file i IS
    # micro-batch i, which is what lets (b) replay a KNOWN batch
    changes = _change_batch(cat)
    staged = []
    for i in range(4):
        part = str(tmp_path / f"part_{i}")
        changes.where(F.col("k") % 4 == i).coalesce(1).write.mode("overwrite").parquet(part)
        name = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        staged.append((os.path.join(part, name), f"c{i}.parquet", 1_600_000_000 + i * 100))

    def stage(i):
        f_src, f_name, mtime = staged[i]
        dst = os.path.join(src, f_name)
        shutil.copy(f_src, dst)
        os.utime(dst, (mtime, mtime))

    cat.customer.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        F.lit("kept").alias("merge_action"),
    ).write.mode("overwrite").parquet(os.path.join(root, "v0"))

    def run():
        stream = (
            spark.readStream.schema("k BIGINT, op STRING, new_bal DOUBLE")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(cdc_apply_batch(spark, root))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(180)
        q.stop()

    stage(0), stage(1)
    run()
    assert sorted(d for d in os.listdir(root) if d.startswith("v"))[-1] == "v2"
    stage(2), stage(3)
    run()  # restart: same checkpoint, resumes at batch 2
    versions = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert versions == ["v0", "v1", "v2", "v3", "v4"], versions

    final = {tuple(r) for r in spark.read.parquet(os.path.join(root, "v4")).collect()}
    batch = {tuple(r) for r in all_queries()["merge_upsert"].fn(spark, sf_dir).collect()}
    assert final == batch

    # (b) replay batch 3 (file 3 by mtime order): recompute v4 from v3
    replayed = spark.read.parquet(os.path.join(src, "c3.parquet"))
    cdc_apply_batch(spark, root)(replayed, 3)
    again = {tuple(r) for r in spark.read.parquet(os.path.join(root, "v4")).collect()}
    assert again == final


def test_round_half_away_matches_duckdb_oracle():
    """stream_stateful_running's Python-side sink rounds with
    _round_half_away, which must agree with the DuckDB oracle's
    round() everywhere Python's banker's round does NOT: on an
    exactly-representable half point (2.125 = 17/8) the oracle gives
    2.13 while round(2.125, 2) gives 2.12 — the one-value hash
    mismatch this pin exists to prevent.  Swept on boundary shapes
    and a seeded random range."""
    import random

    import duckdb

    from dirhash_spark.streaming.stateful import _round_half_away

    con = duckdb.connect()
    boundary = [2.125, -2.125, 2.675, 0.005, 0.015, 1.005, 0.0, -0.125]
    rng = random.Random(0)
    values = boundary + [rng.uniform(-1000, 1000) for _ in range(2000)]
    for x in values:
        want = con.execute("SELECT round(?::DOUBLE, 2)", [x]).fetchone()[0]
        assert _round_half_away(x) == want, x
    assert _round_half_away(2.125) == 2.13  # python round() gives 2.12


def test_stage_replay_from_empty_input_raises(spark, tmp_path):
    """An empty corpus must fail with a named error, not a NoneType
    TypeError from the wave-split arithmetic (the randomized property
    test feeds adversarial corpora through this staging)."""
    import pytest as _pytest

    from dirhash_spark.streaming.stateful import stage_replay_from

    empty = spark.createDataFrame([], "ts timestamp, user_id bigint")
    with _pytest.raises(ValueError, match="empty input"):
        stage_replay_from(spark, empty, str(tmp_path / "src"))


def test_stage_replay_from_incremental_equals_one_pass(spark, tmp_path):
    """Staging wave 0 and then waves 1-2 through stage_replay_from must
    leave, per wave, the same rows in the same mtime replay order as
    staging all three waves at once."""
    import os
    from datetime import datetime, timedelta

    import pyarrow.parquet as pq

    from dirhash_spark.streaming.stateful import stage_replay_from

    base = datetime(2024, 1, 1)
    rows = [(base + timedelta(minutes=7 * i), i % 5) for i in range(40)]
    ev = spark.createDataFrame(rows, "ts timestamp, user_id bigint")
    whole, parts = str(tmp_path / "whole"), str(tmp_path / "parts")
    stage_replay_from(spark, ev, whole, (0, 1, 2))
    stage_replay_from(spark, ev, parts, (0,))
    stage_replay_from(spark, ev, parts, (1, 2))

    def waves(src):
        files = (
            os.path.join(src, f) for f in os.listdir(src) if not f.startswith(("_", "."))
        )
        return sorted(
            (os.path.getmtime(p), sorted(pq.read_table(p).to_pylist(), key=str))
            for p in files
        )

    staged = waves(whole)
    assert len(staged) == 3
    assert waves(parts) == staged


def test_driver_staging_matches_spark_route(spark, sf_dir, tmp_path):
    """The r14 driver-side pyarrow staging fast path must stage wave
    files whose CONTENTS (per wave, as the stream will read them) and
    mtime replay order are identical to the Spark route's — the
    nano→micro truncation, the datetime midpoint split, the sentinel
    value and the empty-wave behavior are all replicated, and this pin
    is what licenses the route swap."""
    from pyspark.sql import functions as F

    from dirhash_spark.catalog import Catalog
    from dirhash_spark.streaming import stateful as st

    fast, slow = str(tmp_path / "fast"), str(tmp_path / "slow")
    assert st._stage_replay_local(sf_dir, fast, (0, 1, 2))
    cat = Catalog(spark, sf_dir)
    st.stage_replay_from(spark, cat.events.select("ts", "user_id"), slow, (0, 1, 2))

    import os

    def by_wave(src):
        files = sorted(f for f in os.listdir(src) if not f.startswith("_"))
        # replay order = mtime order, one file per wave on the fixture
        files.sort(key=lambda f: os.path.getmtime(os.path.join(src, f)))
        return files

    ffiles, sfiles = by_wave(fast), by_wave(slow)
    assert len(ffiles) == len(sfiles) == 3
    for fa, fb in zip(ffiles, sfiles):
        a = sorted(
            map(
                tuple,
                spark.read.schema("ts TIMESTAMP, user_id BIGINT")
                .parquet(os.path.join(fast, fa))
                .collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                spark.read.schema("ts TIMESTAMP, user_id BIGINT")
                .parquet(os.path.join(slow, fb))
                .collect(),
            )
        )
        assert a == b, f"wave file mismatch: {fa} vs {fb}"


def test_driver_staging_falls_back_on_nonlocal(tmp_path):
    """A corpus without a local single-file events.parquet must decline
    the fast path (the caller then takes the Spark route)."""
    from dirhash_spark.streaming import stateful as st

    assert not st._stage_replay_local(str(tmp_path), str(tmp_path / "src"), (0, 1, 2))


def test_driver_staging_restages_rewritten_events(tmp_path):
    """Incremental staging keeps wave files only while the events table
    is the one they were cut from: rewriting ``events.parquet`` in place
    and staging into the same ``src`` again must cut the waves from the
    new rows (the wave mtimes are synthetic stamps and carry no
    freshness signal of their own)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import os

    from dirhash_spark.streaming import stateful as st

    sf, src = tmp_path / "sf", str(tmp_path / "src")
    sf.mkdir()

    def write_events(users):
        ts = [1_700_000_000_000_000 + i * 60_000_000 for i in range(len(users))]
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(ts, pa.timestamp("us")),
                    "user_id": pa.array(users, pa.int64()),
                }
            ),
            str(sf / "events.parquet"),
        )

    def wave_rows():
        return {
            f: sorted(pq.read_table(os.path.join(src, f))["user_id"].to_pylist())
            for f in sorted(os.listdir(src))
            if not f.startswith("_")
        }

    write_events([1, 2, 3, 4])
    assert st._stage_replay_local(str(sf), src, (0, 1, 2))
    first = wave_rows()
    assert first["wave0-part.parquet"] == [1, 2]

    write_events([7, 8, 9, 10, 11, 12])
    assert st._stage_replay_local(str(sf), src, (0, 1, 2))
    second = wave_rows()
    assert second["wave0-part.parquet"] == [7, 8, 9]
    assert second["wave1-part.parquet"] == [10, 11, 12]

    # unchanged table: staging stays incremental (files kept as they are)
    ctimes = {f: os.stat(os.path.join(src, f)).st_ctime_ns for f in second}
    assert st._stage_replay_local(str(sf), src, (0, 1, 2))
    assert {f: os.stat(os.path.join(src, f)).st_ctime_ns for f in second} == ctimes
    assert wave_rows() == second
