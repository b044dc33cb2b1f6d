"""Warehouse maintenance operators: batch MERGE (upsert/delete apply).

EXT surface — the reference (a directory-hashing tool, ``dirhash.py``)
has no table-maintenance story; this is the CDC-apply batch pattern
every lakehouse needs next to ``scd2_history`` (timeseries.py): given a
base snapshot and a small change batch of ops (U=update, D=delete,
I=insert), produce the next snapshot in ONE pass over the base.

Physical shape (the 100-TB design): the change batch is orders of
magnitude smaller than the base, so it rides as a BROADCAST build side
— the base table streams through one broadcast hash join + a filter +
a union with the inserts, never shuffling.  The naive MERGE-as-full-
outer-join formulation would shuffle the entire base on the key; this
plan touches each base row exactly once, map-side.  (Engines with
copy-on-write MERGE add file-level pruning on top; the join shape
below is what runs inside each rewritten file group.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..registry import query


#: Fresh-key offset for MERGE inserts: the next power of ten ABOVE the
#: live key range, derived from max(c_custkey) — a fixed "+10M" offset
#: collides with base keys once the table exceeds 10M rows (TPC-H
#: sf ≳ 67), yielding a snapshot with duplicated primary keys that the
#: not-matched-insert contract forbids (and snapshot_diff's full-outer
#: join would then row-multiply on).  String-built power of ten, not
#: pow(): integer-exact and identical in both engines at any key width.
_FRESH_KEY_OFFSET_SQL = (
    "CAST('1' || repeat('0', length(CAST(max(c_custkey) AS STRING))) AS BIGINT)"
)
# Its oracle-side twin is the `off` CTE of _CHANGES_SQL.

#: The change batch of ``_change_batch`` in DuckDB SQL (CTEs upd, del,
#: off, ins), shared by every MERGE and diff oracle.
_CHANGES_SQL = """
    upd AS (
      SELECT c_custkey AS k, floor(c_acctbal * 50) / 100 AS new_bal
      FROM customer WHERE c_custkey % 10 = 3
    ),
    del AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 10 = 7),
    off AS (
      SELECT CAST('1' || repeat('0', length(CAST(max(c_custkey) AS VARCHAR)))
                  AS BIGINT) AS o
      FROM customer
    ),
    ins AS (SELECT c_custkey + o AS k FROM customer, off WHERE c_custkey % 100 = 1)"""

_MERGED_SQL = """
    SELECT c.c_custkey,
           c.c_name,
           c.c_nationkey,
           CASE WHEN u.k IS NOT NULL THEN u.new_bal ELSE c.c_acctbal END AS c_acctbal,
           c.c_mktsegment,
           CASE WHEN u.k IS NOT NULL THEN 'updated' ELSE 'kept' END AS merge_action
    FROM customer c
    LEFT JOIN upd u ON c.c_custkey = u.k
    LEFT JOIN del d ON c.c_custkey = d.k
    WHERE d.k IS NULL
    UNION ALL
    SELECT k,
           'Customer#new' || CAST(k AS VARCHAR),
           CAST(k % 25 AS INT),
           CAST(0.0 AS DOUBLE),
           'AUTOMOBILE',
           'inserted'
    FROM ins"""

#: The one-shot MERGE of the change batch into customer: the oracle of
#: merge_upsert AND of the streaming CDC apply (stream_cdc_merge_upsert),
#: whose key-disjoint micro-batches reach the same table.
MERGE_ORACLE = f"WITH {_CHANGES_SQL}{_MERGED_SQL}"


def _change_batch(cat: Catalog) -> DataFrame:
    """Deterministic change batch derived from the customer snapshot:
    key-residue selected updates (halve the balance), deletes, and
    inserts under fresh keys (provably above the live key range —
    see _FRESH_KEY_OFFSET_SQL) — both engines re-derive the same
    batch."""
    c = cat.customer
    upd = c.where(F.col("c_custkey") % 10 == 3).select(
        F.col("c_custkey").alias("k"),
        F.lit("U").alias("op"),
        (F.floor(F.col("c_acctbal") * 50) / 100).alias("new_bal"),
    )
    dele = c.where(F.col("c_custkey") % 10 == 7).select(
        F.col("c_custkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_bal"),
    )
    # The offset is a driver-side bounded scalar (one 1-row agg job at
    # construction — the documented eager-construction tier, same as
    # the ANN index builds): joining the 1-row aggregate in-plan
    # instead planned as a BroadcastNestedLoopJoin (a crossJoin, or an
    # equi-join whose constant keys Catalyst folds away), breaking the
    # snapshot_diff no-nested-loop plan pin.
    off = c.agg(F.expr(_FRESH_KEY_OFFSET_SQL).alias("o")).first()["o"]
    ins = c.where(F.col("c_custkey") % 100 == 1).select(
        (F.col("c_custkey") + F.lit(off)).alias("k"),
        F.lit("I").alias("op"),
        F.lit(0.0).alias("new_bal"),
    )
    return upd.unionByName(dele).unionByName(ins)


def merge_changes(base: DataFrame, changes: DataFrame) -> DataFrame:
    """One MERGE of a ``(k, op, new_bal)`` change batch into a customer
    snapshot that carries ``merge_action``: the non-insert changes ride
    as the broadcast build side of one left join, so the base streams
    through map-side and is never shuffled; U rows take the new balance
    and become 'updated', D rows drop, untouched rows keep their
    ``merge_action``, and I rows append as 'inserted'."""
    merged = base.join(
        F.broadcast(changes.where(F.col("op") != "I")),
        base["c_custkey"] == F.col("k"),
        "left",
    ).where(F.col("op").isNull() | (F.col("op") == "U"))
    survivors = merged.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.when(F.col("op") == "U", F.col("new_bal"))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_mktsegment",
        F.when(F.col("op") == "U", F.lit("updated"))
        .otherwise(F.col("merge_action"))
        .alias("merge_action"),
    )
    inserts = changes.where(F.col("op") == "I").select(
        F.col("k").alias("c_custkey"),
        F.concat(F.lit("Customer#new"), F.col("k").cast("string")).alias("c_name"),
        (F.col("k") % 25).cast("int").alias("c_nationkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("AUTOMOBILE").alias("c_mktsegment"),
        F.lit("inserted").alias("merge_action"),
    )
    return survivors.unionByName(inserts)


def kept_base(cat: Catalog) -> DataFrame:
    """The customer table as a MERGE base: every row 'kept'."""
    return cat.customer.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("kept").alias("merge_action"),
    )


@query(
    "merge_upsert",
    oracle=MERGE_ORACLE,
    tags=("warehouse", "merge", "cdc"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE: apply a (U/D/I) change batch to the customer
    snapshot in one base pass (see module docstring for the plan
    argument).  MERGE semantics made explicit:

    - matched + op=U  -> update (here: balance halved, floor-scaled)
    - matched + op=D  -> drop the row
    - not-matched + op=I -> insert (fresh keys, derived attributes)
    - base rows with no change row pass through unchanged

    The change batch is broadcast (``F.broadcast``); the base scan is
    the only large input and it is never shuffled — plan-asserted in
    tests/test_plans.py (no exchange above the customer scan).
    """
    cat = Catalog(spark, sf_dir)
    return merge_changes(kept_base(cat), _change_batch(cat))


@query(
    "snapshot_diff",
    oracle=f"""
    WITH {_CHANGES_SQL},
    nxt AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM ({_MERGED_SQL}
      ) m
    )
    SELECT CAST(coalesce(b.c_custkey, n.c_custkey) AS BIGINT) AS k,
           CASE WHEN b.c_custkey IS NULL THEN 'I'
                WHEN n.c_custkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           floor(b.c_acctbal * 100) / 100 AS old_bal,
           floor(n.c_acctbal * 100) / 100 AS new_bal
    FROM customer b FULL JOIN nxt n ON b.c_custkey = n.c_custkey
    WHERE b.c_custkey IS NULL OR n.c_custkey IS NULL
       OR b.c_name       IS DISTINCT FROM n.c_name
       OR b.c_nationkey  IS DISTINCT FROM n.c_nationkey
       OR b.c_acctbal    IS DISTINCT FROM n.c_acctbal
       OR b.c_mktsegment IS DISTINCT FROM n.c_mktsegment
    """,
    tags=("warehouse", "cdc", "diff"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed extraction: given two snapshots of a table (the
    customer base and the post-MERGE next snapshot — re-derived here
    from the same deterministic change rules as ``merge_upsert``),
    emit the row-level diff as (key, op∈{I,U,D}, old, new), dropping
    unchanged rows.  This is the inverse of MERGE: engines with storage-
    level change feeds read it from the log; between two plain parquet
    snapshots this join IS the algorithm.

    Scale shape: one full-outer join keyed on the primary key — both
    snapshots shuffle once and co-locate (with bucketed or z-ordered
    snapshots the exchanges drop out entirely); change detection is a
    map-side column-wise ``IS DISTINCT FROM`` after the join, exact
    (no fingerprint hashing, so no collision can fake an unchanged
    row).  Note an update whose new values equal the old (balance 0
    halved) correctly does NOT appear in the feed."""
    cat = Catalog(spark, sf_dir)
    base = cat.customer.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    nxt = merge_upsert(spark, sf_dir).drop("merge_action")
    b = base.alias("b")
    n = nxt.alias("n")
    bk, nk = F.col("b.c_custkey"), F.col("n.c_custkey")
    changed = (
        bk.isNull()
        | nk.isNull()
        | ~F.col("b.c_name").eqNullSafe(F.col("n.c_name"))
        | ~F.col("b.c_nationkey").eqNullSafe(F.col("n.c_nationkey"))
        | ~F.col("b.c_acctbal").eqNullSafe(F.col("n.c_acctbal"))
        | ~F.col("b.c_mktsegment").eqNullSafe(F.col("n.c_mktsegment"))
    )
    return (
        b.join(n, bk == nk, "full_outer")
        .where(changed)
        .select(
            F.coalesce(bk, nk).cast("bigint").alias("k"),
            F.when(bk.isNull(), "I").when(nk.isNull(), "D").otherwise("U").alias("op"),
            (F.floor(F.col("b.c_acctbal") * 100) / 100).alias("old_bal"),
            (F.floor(F.col("n.c_acctbal") * 100) / 100).alias("new_bal"),
        )
    )


@query(
    "quality_expectations",
    oracle="""
    SELECT 'not_null_custkey' AS check_name,
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS violations,
           count(*) FILTER (WHERE o_custkey IS NULL) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'unique_orderkey',
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
           count(*) = count(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'status_in_domain',
           CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) AS BIGINT),
           count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) = 0
    FROM orders
    UNION ALL
    SELECT 'positive_totalprice',
           CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT),
           count(*) FILTER (WHERE o_totalprice <= 0) = 0
    FROM orders
    UNION ALL
    SELECT 'fk_custkey_in_customer',
           CAST(count(*) AS BIGINT),
           count(*) = 0
    FROM orders WHERE o_custkey IS NOT NULL
      AND o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
    tags=("warehouse", "quality"),
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (the dbt-test / Deequ shape): five
    expectations over the orders table — not-null key, unique key,
    value domain, positivity, and referential integrity against
    customer — each reported as (check, violation count, passed).

    Scale shape: the four single-table checks FUSE into one
    partial-aggregated pass over the fact table (conditional-sum
    columns in a single agg, unpivoted to rows afterwards) — a naive
    one-query-per-check runner scans the 100 TB table four times for
    the same answer.  The FK check is a broadcast anti-join count (dim
    build side), adding zero fact shuffles.  The oracle states each
    check independently — five scans is fine at DuckDB's scale, and
    the mismatch of physical strategies is the point of the check."""
    cat = Catalog(spark, sf_dir)
    o = cat.orders
    one = o.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("not_null_custkey"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("unique_orderkey"),
        F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0))
        .cast("bigint")
        .alias("status_in_domain"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("positive_totalprice"),
    )
    fused = one.select(
        F.expr(
            """stack(4,
                 'not_null_custkey', not_null_custkey,
                 'unique_orderkey', unique_orderkey,
                 'status_in_domain', status_in_domain,
                 'positive_totalprice', positive_totalprice
               ) AS (check_name, violations)"""
        )
    )
    # NULL keys are NOT FK violations (the not_null_custkey check owns
    # them): unfiltered, the anti-join would count a NULL o_custkey row
    # while the oracle's NOT IN evaluates to NULL and excludes it — the
    # IS NOT NULL on both sides pins one semantics.
    fk = (
        o.where(F.col("o_custkey").isNotNull())
        .join(
            F.broadcast(cat.customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
        .select(F.lit("fk_custkey_in_customer").alias("check_name"), "violations")
    )
    return fused.unionByName(fk).select(
        "check_name", "violations", (F.col("violations") == 0).alias("passed")
    )
