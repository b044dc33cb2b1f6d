"""Skew-mitigation patterns (north-star scale surface; no REF analog —
the reference's only shuffle is a range sort of digests, dirhash.py:413).

At 100 TB the failure mode of groupBy/join is not volume, it is the ONE
reducer that receives a hot key while 999 executors idle.  Two manual
patterns complement AQE's runtime skew-join splitting (enabled in
session.py), and both are oracle-checked so the driver proves the
rewritten plans keep exact semantics:

- salted two-phase distinct: salting by ``hash(x) % S`` splits each
  group S ways; because the salt is a pure function of the DISTINCT
  value, each distinct x lands in exactly one (key, salt) cell, so the
  phase-2 SUM of per-cell exact distincts is the exact global distinct
  — at 1/S the per-reducer load.  Measured caveat (BASELINE.md,
  the skew lines): for plain COUNT(DISTINCT) Catalyst's distinct-
  aggregate rewrite already de-skews (it shuffles on (key, value)
  first), so manual salting buys nothing there; the pattern pays for
  aggregation STATE the planner cannot rewrite — collect_set/
  collect_list, exact medians, custom UDAF accumulators — where it
  measured 2.0x at 10M rows/32 cores, and the naive form's hot reducer
  does not get faster with more executors.

- salted hot-key join: a large⋈large equi join on a low-cardinality key
  puts each key on one reducer pair.  Replicating the build side S ways
  (explode over salts) and salting probe rows by ``hash(row_id) % S``
  turns each hot key into S balanced cells.  Cost: build side ×S — the
  trade that wins when build ≪ probe but exceeds broadcast size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..registry import query

_SALTS = 16


@query(
    "agg_skew_salted",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    tags=("skew", "agg"),
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type via salted two-phase
    aggregation, with planner-opaque set state (collect_set) in phase 1
    — the case where salting measurably pays (module docstring;
    2.0x at 10M rows, recorded in BASELINE.md).  Exactness: the salt is
    a pure function of user_id, so each distinct user counts in exactly
    one (event_type, salt) cell."""
    cat = Catalog(spark, sf_dir)
    salted = cat.events.select(
        "event_type",
        "user_id",
        F.pmod(F.xxhash64("user_id"), F.lit(_SALTS)).alias("salt"),
    )
    per_cell = salted.groupBy("event_type", "salt").agg(
        F.size(F.collect_set("user_id")).alias("cell_users")
    )
    return per_cell.groupBy("event_type").agg(F.sum("cell_users").alias("n_users"))


@query(
    "join_skew_salted",
    oracle="""
    WITH d AS (
      SELECT event_type,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sum_cents,
             count(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value - CAST(d.sum_cents AS DOUBLE) / (100 * d.n), 4)
             AS over_avg
    FROM events e JOIN d ON e.event_type = d.event_type
    WHERE CAST(floor(e.value * 100 + 0.5) AS BIGINT) * d.n > d.sum_cents
    """,
    tags=("skew", "join"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key equi join, salted: events (probe, 5-value key = extreme
    skew at scale) ⋈ per-type averages (build).  The build side is
    exploded over all 16 salts, probe rows get ``hash(event_id) % 16``,
    and the join key becomes (event_type, salt) — 5 hot cells become 80
    balanced ones.  hint("merge") keeps the demo on the shuffle path
    (Catalyst would broadcast the tiny build side here; at scale the
    build side is the pre-aggregated-but-still-large case where salting
    is the only lever).  The oracle is the unsalted join — proof the
    rewrite is semantics-preserving."""
    cat = Catalog(spark, sf_dir)
    # The threshold rides EXACT integer sufficient statistics (per-row
    # cents + count), never a float avg: `value > avg(double)` flips
    # membership on summation order when a row sits within an ulp of
    # its group average — a ROW-COUNT divergence no output rounding can
    # hide.  `cents·n > sum_cents` is the same predicate with
    # order-invariant integer arithmetic; the reported over_avg divides
    # the exact integers once (exactly-rounded, engine-stable).
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    dim = cat.events.groupBy("event_type").agg(
        F.sum(cents).alias("sum_cents"), F.count(F.lit(1)).alias("n")
    )
    dim_rep = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALTS - 1)))
    )
    probe = cat.events.select(
        "event_id",
        "event_type",
        "value",
        cents.alias("cents"),
        F.pmod(F.xxhash64("event_id"), F.lit(_SALTS)).cast("int").alias("salt"),
    )
    return (
        probe.hint("merge")
        .join(dim_rep, ["event_type", "salt"])
        .where(F.col("cents") * F.col("n") > F.col("sum_cents"))
        .select(
            "event_id",
            "event_type",
            F.round(
                F.col("value")
                - F.col("sum_cents").cast("double") / (100 * F.col("n")),
                4,
            ).alias("over_avg"),
        )
    )
