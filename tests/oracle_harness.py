"""Local replica of the driver's DuckDB-oracle comparison.

For each registered query: run the Spark DataFrame and the oracle SQL on
the same parquet fixtures, then compare row count, sorted column names,
and the order-insensitive multiset of canonicalized values.  Exact value
equality is required — queries are responsible for rounding floats so
summation-order differences can't leak through.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import tempfile
import uuid
from collections import Counter

import duckdb

from dirhash_spark.catalog import TABLE_NAMES


#: DuckDB's working-memory cap for an oracle connection.  Unset, DuckDB
#: takes 80% of the host's RAM, which an oracle that blows up (a CTE
#: inlined into a many-way self-join) spends in full, beside the Spark
#: JVM and its Python workers.  Every sf0.01 oracle runs under it.
ORACLE_MEMORY_LIMIT = "4GB"
#: Spill cap.  Unset, DuckDB spills without bound into ``.tmp/`` under
#: the working directory — the checkout.
ORACLE_SPILL_LIMIT = "8GB"


def make_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with a view per fixture table, its memory
    capped and its spill in a fresh directory under the system temp dir
    (DuckDB creates it, and removes it when the connection closes)."""
    spill = os.path.join(tempfile.gettempdir(), f"duckdb-oracle-{uuid.uuid4().hex}")
    con = duckdb.connect(
        config={
            "memory_limit": ORACLE_MEMORY_LIMIT,
            "temp_directory": spill,
            "max_temp_directory_size": ORACLE_SPILL_LIMIT,
        }
    )
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _canon(v):
    """Canonicalize a value for multiset comparison."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return f"f:{v!r}"
    if isinstance(v, dt.datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, dt.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, list):
        return "l:[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def _rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(_canon(row[i]) for i in order) for row in rows)


def compare(spark_df, con, sql: str) -> dict:
    """Return a comparison report dict; report['match'] is the verdict."""
    sdf = spark_df
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]

    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    report = {
        "spark_rows": len(s_rows),
        "duck_rows": len(d_rows),
        "spark_cols": sorted(s_cols),
        "duck_cols": sorted(d_cols),
        "match": False,
        "detail": "",
    }
    if sorted(s_cols) != sorted(d_cols):
        report["detail"] = "column names differ"
        return report
    if len(s_rows) != len(d_rows):
        report["detail"] = "row counts differ"
        return report
    s_ms = _rows_to_multiset(s_rows, s_cols)
    d_ms = _rows_to_multiset(d_rows, d_cols)
    if s_ms != d_ms:
        only_s = list((s_ms - d_ms).items())[:3]
        only_d = list((d_ms - s_ms).items())[:3]
        report["detail"] = f"values differ; spark-only={only_s} duck-only={only_d}"
        return report
    report["match"] = True
    return report
