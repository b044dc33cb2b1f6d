"""The counted checkpoint every runtime router reads its measurement from,
and the one connected-components router every clustering query shares."""

from __future__ import annotations

import ast
import pathlib
import re
import uuid

from pyspark.sql import functions as F

from dirhash_spark.routing import checkpoint_counted

PKG = pathlib.Path(__file__).resolve().parent.parent / "dirhash_spark"


def _jobs(spark, action):
    sc = spark.sparkContext
    group = f"routing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "routing")
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_counted_rides_the_checkpoint_job(spark):
    """The measured values cost no job beyond the checkpoint's own, and
    equal the same aggregates computed by a separate pass."""
    df = (
        spark.range(2000)
        .select((F.col("id") % 97).alias("u"), (F.col("id") % 13).alias("v"))
        .distinct()
    )
    aggs = {
        "n": F.count(F.lit(1)),
        "h": F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
    }
    _, plain = _jobs(spark, df.localCheckpoint)
    (ckpt, values), counted = _jobs(spark, lambda: checkpoint_counted(df, **aggs))
    assert counted == plain
    separate = df.agg(*(a.alias(k) for k, a in aggs.items())).first().asDict()
    assert values == separate
    # ids 0..1999 cover all 97 * 13 residue pairs (97 and 13 coprime)
    assert values["n"] == ckpt.count() == 97 * 13


def test_observation_is_built_only_by_the_primitive():
    """Routers measure through checkpoint_counted; the one other
    Observation is the registered query that demonstrates the API."""
    users = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if re.search(r"\bObservation\(", p.read_text())
    )
    assert users == ["operators/udfs.py", "routing.py"]


def test_union_find_runs_only_inside_the_cc_primitive():
    """Every clustering query reaches the driver union-find through
    dedup._connected_components; no caller keeps a router of its own."""

    def calls(node):
        return sum(
            isinstance(n, ast.Call)
            and getattr(n.func, "id", getattr(n.func, "attr", None)) == "_union_by_min"
            for n in ast.walk(node)
        )

    callers = [
        (str(p.relative_to(PKG)), getattr(top, "name", None), calls(top))
        for p in sorted(PKG.rglob("*.py"))
        for top in ast.parse(p.read_text()).body
        if calls(top)
    ]
    assert callers == [("operators/dedup.py", "_connected_components", 1)]
