#!/usr/bin/env python
"""One-snapshot oracle sweep: run EVERY registered query at a single
code state and record the verdicts in one artifact.

The external driver verifies a 50-query prefix window per round, so its
green wall accumulates across rounds (and code states).  This sweep
removes that caveat: one run, all queries, one commit hash.

Usage: python scripts/oracle_snapshot.py [sf_dir] [out.json] [--skip-tags t1,t2]

Spark runs at ``local[$SPARK_GRAFT_CPUS]``; unset, the width is the
number of CPUs this process may run on.

``--skip-tags witness`` mechanically excludes deliberate scale-witness
queries (currently ``join_asof_pairwise``: it multiplies each event by
the user's full order history, so a skewed corpus at sf0.1 gives it a
1.35-billion-row single-task intermediate — a recorded by-design
negative, not a failure).  Skew-corpus sweeps should pass it; skipped
queries are recorded in the artifact as ``mode: "skipped"`` so the
exclusion is visible, never silent.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str]) -> tuple[str, str, frozenset[str]]:
    skip_tags: frozenset[str] = frozenset()
    pos = []
    it = iter(argv)
    for a in it:
        if a == "--skip-tags":
            value = next(it, "")
            if not value or value.startswith("--"):
                # a trailing/typo'd --skip-tags must not silently run an
                # UNSKIPPED full sweep (frozenset({""}) matches no tag)
                sys.exit("usage: --skip-tags requires a comma-separated tag list")
            skip_tags = frozenset(value.split(","))
        else:
            pos.append(a)
    sf_dir = pos[0] if pos else "/root/testdata/sf0.01"
    out_path = pos[1] if len(pos) > 1 else "ORACLE_SNAPSHOT.json"
    return sf_dir, out_path, skip_tags


def main() -> int:
    sf_dir, out_path, skip_tags = parse_args(sys.argv[1:])
    # the width Tier-1 runs at: the CPUs this process may use, unless
    # SPARK_GRAFT_CPUS says otherwise (unset, get_spark opens local[32])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    from dirhash_spark.registry import all_queries
    from dirhash_spark.session import get_spark
    from tests.oracle_harness import compare, make_duckdb

    spark = get_spark("oracle_snapshot")
    con = make_duckdb(sf_dir)
    commit = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True
    ).stdout.strip()

    results: dict[str, dict] = {}
    n_ok = n_rows_only = n_fail = 0
    for name, q in all_queries().items():
        if skip_tags & set(q.tags):
            results[name] = {
                "mode": "skipped",
                "match": None,
                "detail": f"tags {sorted(skip_tags & set(q.tags))}",
            }
            continue
        try:
            if q.oracle is None:
                df = q.fn(spark, sf_dir)
                results[name] = {
                    "mode": "rows_only",
                    "spark_rows": df.count(),
                    "match": None,
                }
                n_rows_only += 1
            else:
                rep = compare(q.fn(spark, sf_dir), con, q.oracle)
                results[name] = {
                    "mode": "oracle",
                    "match": rep["match"],
                    "spark_rows": rep["spark_rows"],
                    "duck_rows": rep["duck_rows"],
                    "detail": rep["detail"],
                }
                if rep["match"]:
                    n_ok += 1
                else:
                    n_fail += 1
        except Exception as e:  # noqa: BLE001 — record, don't abort the sweep
            results[name] = {"mode": "error", "match": False, "detail": repr(e)[:300]}
            n_fail += 1
        print(f"# {name}: {results[name].get('match')}", file=sys.stderr)

    artifact = {
        "commit": commit,
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_oracle_match": n_ok,
        "n_rows_only": n_rows_only,
        "n_fail": n_fail,
        "results": results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps({k: artifact[k] for k in
                      ("commit", "n_queries", "n_oracle_match", "n_rows_only", "n_fail")}))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
