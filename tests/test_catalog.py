"""Catalog normalization tests — the fixture-physical-quirk layer.

events.ts is parquet TIMESTAMP(NANOS), which Spark cannot read natively;
the catalog reads it as int64 under ``nanosAsLong`` and converts with
integer division to microsecond timestamps.  These tests pin that the
conversion (a) yields a proper timestamp column, (b) agrees exactly
with DuckDB's independent ns→us read of the same file, (c) loses
nothing an integer-division truncation shouldn't lose.
"""

from __future__ import annotations

import duckdb

from dirhash_spark.catalog import Catalog


def test_events_ts_is_timestamp(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    assert dict(cat.events.dtypes)["ts"] == "timestamp"


def test_no_ntz_survives_normalization_any_sf(spark):
    """Round-3 regression: the driver fixtures carry naive parquet
    TIMESTAMP(MICROS) (`isAdjustedToUTC=0`), which Spark 4 reads as
    TIMESTAMP_NTZ — a type `unix_micros()` and `withWatermark()` both
    reject.  The catalog must deliver plain TIMESTAMP for every
    timestamp-ish column of every table at every shipped scale factor,
    exactly as the driver ships them (no locally re-written fixtures)."""
    import os

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"/root/testdata/{sf}"
        if not os.path.isdir(sf_dir):
            continue
        cat = Catalog(spark, sf_dir)
        for table in ("events", "orders", "lineitem"):
            for col, dtype in cat.table(table).dtypes:
                assert dtype != "timestamp_ntz", (sf, table, col)
        assert dict(cat.events.dtypes)["ts"] == "timestamp", sf
        assert dict(cat.orders.dtypes)["o_orderdate"] == "timestamp", sf
        assert dict(cat.lineitem.dtypes)["l_shipdate"] == "timestamp", sf


def test_events_ts_matches_duckdb(spark, sf_dir):
    """Every converted value equals DuckDB's own TIMESTAMP(NANOS) read
    (both truncate ns→us), checked via per-row equality on event_id."""
    cat = Catalog(spark, sf_dir)
    got = {
        r["event_id"]: r["ts"]
        for r in cat.events.select("event_id", "ts").collect()
    }
    con = duckdb.connect()
    exp = dict(
        con.execute(
            f"SELECT event_id, ts FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    )
    assert len(got) == len(exp) > 0
    mismatches = [k for k in exp if got[k] != exp[k]]
    assert not mismatches, mismatches[:5]


def test_many_small_files_dirhash(spark, tmp_path):
    """500 tiny files + nested dirs: the chunk plan must batch small
    files into few tasks (not one task per file) and produce a stable
    digest — the small-file regime the reference's per-file-RDD union
    handled in O(files) driver work (dirhash.py:399-406) and our
    metadata DataFrame handles as ordinary rows."""
    from dirhash_spark.dirhash.hashdir import hash_directory

    root = tmp_path / "many"
    for i in range(500):
        d = root / f"d{i % 10}"
        d.mkdir(parents=True, exist_ok=True)
        (d / f"f{i}.txt").write_bytes(f"content-{i}".encode() * (i % 7 + 1))
    h1 = hash_directory(spark, str(root), "sha256", "1k")
    h2 = hash_directory(spark, str(root), "sha256", "1k")
    assert h1 == h2 and h1.startswith("v1-sha256-1k-")


def test_maintenance_compact_reduces_file_count(spark):
    """The compaction query must actually rewrite 64 fragments into 4
    files — the row-content check alone can't see layout."""
    import glob
    import os

    from dirhash_spark.catalog import sink_dir
    from dirhash_spark.registry import all_queries

    sf_dir = "/root/testdata/sf0.01"
    all_queries()["maintenance_compact"].fn(spark, sf_dir).count()
    frag = glob.glob(os.path.join(sink_dir("orders_fragmented", sf_dir), "*.parquet"))
    compact = glob.glob(os.path.join(sink_dir("orders_compacted", sf_dir), "*.parquet"))
    assert len(frag) == 64, len(frag)
    assert len(compact) == 4, len(compact)


def test_footer_caches_keep_no_miss(tmp_path):
    """A missing table answers None, and that miss is not cached: once
    the table is written, the next call in the same process sees it
    (both the byte-size and the row-group walkers)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.catalog import parquet_split_count, parquet_table_bytes

    sf = str(tmp_path)
    assert parquet_table_bytes(sf, "late") is None
    assert parquet_split_count(sf, "late") is None

    path = tmp_path / "late.parquet"
    pq.write_table(pa.table({"x": list(range(10))}), path)
    assert parquet_table_bytes(sf, "late") == path.stat().st_size
    assert parquet_split_count(sf, "late") == 1
