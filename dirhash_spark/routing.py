"""Runtime routing primitives shared by the operators and the dirhash routes."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def checkpoint_counted(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """``localCheckpoint`` ``df`` and measure it in the same Spark job:
    each keyword names an aggregate observed on the rows as they are
    materialized, so a router count or a convergence digest costs no
    second pass.  Returns the checkpointed frame and ``{name: value}``."""
    obs = Observation()
    df = df.observe(obs, *(agg.alias(name) for name, agg in aggs.items())).localCheckpoint()
    return df, obs.get
