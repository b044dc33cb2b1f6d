"""Query registry backing ``__spark_entry__``.

Each operator from SURVEY.md §2 registers one named query: a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the equivalent
ANSI SQL a DuckDB oracle can run on the same parquet tables.  Operators
without an exact SQL oracle (approximate sketches, UDF-opaque or stateful
ops) register ``oracle=None`` and get a rows-only check.

Contract details that live here so every operator honors them:
- column names must match between the Spark result and the oracle SQL
  (the comparison sorts columns by name before hashing values);
- floating-point outputs are rounded *inside* the query on both sides
  (summation order differs between engines; rounding makes values
  bit-comparable);
- construction is NOT guaranteed side-effect free: the index- and
  parameter-deriving ops (``sim_ann_ivfpq``, the ``*_indexed`` ANN
  forms, ``dedup_simhash``, ``dedup_embedding_ann``) do bounded work
  at query-construction time — index build for the indexed forms, one
  cached corpus row count per sf_dir for the derived-sizing rules
  (answered from local parquet footers without a Spark job where
  possible; a distributed count on non-local layouts) — see SURVEY
  §2.C's eager-construction note.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


#: name -> Query; populated by importing dirhash_spark.operators.
REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering an operator query under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


#: Size of the prefix of ``all_queries()`` order that the external
#: driver's correctness run verifies each round.
CORRECTNESS_WINDOW = 50

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_checked_round() -> dict[str, int]:
    """name -> newest round whose committed ``CORRECTNESS_rNN.json`` has
    a row for it (empty when no artifacts ship with the package)."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            for name in json.load(f):
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


def all_queries() -> dict[str, Query]:
    """Import all operator modules and return the populated registry.

    The first :data:`CORRECTNESS_WINDOW` names are the stalest queries
    by the committed correctness artifacts: ordered by each query's
    newest checked round (never-checked counts as round 0), ties broken
    by name — so every round's window re-checks the rows that waited
    longest, with no hand-kept list to rotate.  The rest keep
    registration order, as does everything when no artifacts are found.
    """
    from . import operators  # noqa: F401  (import populates REGISTRY)

    newest = _newest_checked_round()
    if not newest:
        return dict(REGISTRY)
    stalest = sorted(REGISTRY, key=lambda n: (newest.get(n, 0), n))
    ordered = {n: REGISTRY[n] for n in stalest[:CORRECTNESS_WINDOW]}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    return ordered
