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


def test_table_stats_keeps_no_miss(tmp_path):
    """A missing table answers None, and that miss is not memoized:
    once the table is written, the next call in the same process sees
    it (bytes, row groups and rows alike)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.catalog import table_stats

    sf = str(tmp_path)
    assert table_stats(sf, "late") is None

    path = tmp_path / "late.parquet"
    pq.write_table(pa.table({"x": list(range(10))}), path)
    st = table_stats(sf, "late")
    assert st.bytes == path.stat().st_size
    assert st.row_groups == 1
    assert st.rows == 10


def test_table_stats_rows_match_spark_count(spark):
    """The footer-based corpus count feeding every derived-sizing rule
    must equal the distributed count on real fixtures (catalog load
    normalizes types, never row sets), and a path that is not local
    parquet answers None — triggering the Spark fallback."""
    from dirhash_spark.catalog import Catalog, table_stats

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        cat = Catalog(spark, sf)
        assert table_stats(sf, "embeddings").rows == cat.embeddings.count()
        assert table_stats(sf, "documents").rows == cat.documents.count()
    assert table_stats("/nonexistent/dir", "documents") is None


def test_table_stats_ignores_hidden_files(tmp_path):
    """Directory tables must count exactly what Spark's reader reads:
    underscore/dot-prefixed files and dirs (_temporary leftovers from
    an aborted write, _SUCCESS, .crc) are invisible, and a directory
    with NO visible parquet parts returns None (Spark fallback), not
    a silent n=0 that would misderive every sizing rule."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.catalog import table_stats

    d = tmp_path / "documents.parquet"
    (d / "_temporary" / "0").mkdir(parents=True)
    t = pa.table({"doc_id": pa.array([1, 2, 3], pa.int64())})
    pq.write_table(t, str(d / "part-0.parquet"))
    pq.write_table(t, str(d / "_temporary" / "0" / "part-x.parquet"))
    pq.write_table(t, str(d / "_hidden.parquet"))
    (d / "_SUCCESS").write_text("")
    st = table_stats(str(tmp_path), "documents")
    assert st.rows == 3
    assert st.bytes == (d / "part-0.parquet").stat().st_size
    assert [rel for rel, _, _ in st.fingerprint] == ["part-0.parquet"]

    # Spark reads part files regardless of extension (Hive/Impala
    # write suffix-less parts) — a suffix filter would undercount
    pq.write_table(t, str(d / "part-1"))
    assert table_stats(str(tmp_path), "documents").rows == 6

    # a visible NON-parquet file makes the directory's footer count
    # undefined — fall back to Spark rather than silently skipping it
    # (its bytes still count: they are what the reader would scan)
    (d / "notes.txt").write_text("not parquet")
    st = table_stats(str(tmp_path), "documents")
    assert st.rows is None and st.row_groups is None
    assert st.bytes == sum(
        (d / f).stat().st_size for f in ("part-0.parquet", "part-1", "notes.txt")
    )

    e = tmp_path / "embeddings.parquet"
    (e / "_temporary").mkdir(parents=True)
    (e / "_SUCCESS").write_text("")
    assert table_stats(str(tmp_path), "embeddings") is None


def test_rewrite_in_place_is_seen(spark, tmp_path):
    """A corpus rewritten in place inside one process: every value
    derived from it — the loaded plan, both corpus sizes, the trained
    coarse quantizer and the persisted ANN index's home — follows the
    new files on the next use, with nothing cleared by hand."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.catalog import load_table
    from dirhash_spark.operators import dedup as D
    from dirhash_spark.operators import similarity as S

    sf = str(tmp_path)

    def write(n):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(n), pa.int64()),
                    "text": pa.array([f"document number {i}" for i in range(n)]),
                }
            ),
            str(tmp_path / "documents.parquet"),
        )
        rng = np.random.RandomState(n)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(n), pa.int64()),
                    "embedding": pa.array(
                        rng.standard_normal((n, 64)).astype(np.float32).tolist(),
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array(np.zeros(n, np.int32), pa.int32()),
                }
            ),
            str(tmp_path / "embeddings.parquet"),
        )

    def derived():
        cat = Catalog(spark, sf)
        return (
            load_table(spark, sf, "documents").count(),
            D._corpus_n_docs(cat),
            S._corpus_n(cat),
            len(S._train_centroids(cat)),
            S._ann_index_path(sf),
        )

    write(300)
    before = derived()
    assert before[:4] == (300, 300, 300, 4)
    assert derived() == before  # unchanged files: the same values

    write(1000)
    after = derived()
    assert after[:4] == (1000, 1000, 1000, 8)
    assert after[4] != before[4]
