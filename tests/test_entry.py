"""Driver-contract stability: the host harness calls entry() for its
smoke check and may call it repeatedly; queries()/oracle_sql() must
stay consistent with each other.
"""

from __future__ import annotations

import __spark_entry__ as E


def test_entry_idempotent_and_stable_schema(spark):
    df1 = E.entry(spark)
    df2 = E.entry(spark)
    assert df1.schema == df2.schema
    rows1 = sorted(map(tuple, df1.collect()))
    rows2 = sorted(map(tuple, df2.collect()))
    assert rows1 == rows2 and len(rows1) > 0


def test_every_oracle_has_a_query():
    qs, osql = E.queries(), E.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 90
    # oracles are non-empty SQL strings
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in osql.values())


def test_every_query_has_a_doc():
    """Every registered query carries its docstring.  A ``\"\"\"...\"\"\".format()``
    docstring is an expression, not a docstring: ``fn.__doc__`` is then
    None and the registry's ``doc`` silently empty."""
    from dirhash_spark.registry import REGISTRY

    E.queries()  # imports the operators, which register themselves
    assert REGISTRY
    assert [n for n, q in REGISTRY.items() if not q.doc.strip()] == []


def test_correctness_window_is_derived_from_artifacts(tmp_path, monkeypatch):
    """The 50-name correctness window is a pure function of the
    committed CORRECTNESS_r*.json files: the stalest queries by newest
    checked round (never-checked = round 0), ties broken by name, then
    the rest in registration order; with no artifacts, registration
    order throughout."""
    from dirhash_spark import registry

    qs = registry.all_queries()
    assert list(qs.values()) == [registry.REGISTRY[n] for n in qs]
    assert sorted(qs) == sorted(registry.REGISTRY)

    newest = registry._newest_checked_round()
    assert newest, "no CORRECTNESS artifacts found"
    key = lambda n: (newest.get(n, 0), n)  # noqa: E731
    names = list(qs)
    window, rest = names[: registry.CORRECTNESS_WINDOW], names[registry.CORRECTNESS_WINDOW :]
    assert len(window) == registry.CORRECTNESS_WINDOW
    assert window == sorted(window, key=key)
    assert max(map(key, window)) < min(map(key, rest))
    assert rest == [n for n in registry.REGISTRY if n in set(rest)]

    monkeypatch.setattr(registry, "_REPO_ROOT", str(tmp_path))
    assert list(registry.all_queries()) == list(registry.REGISTRY)


def test_window_covers_stalest_driver_rows():
    """Self-enforcing rotation policy (round-4 verdict item 7),
    capacity-corrected in round 6: the registry outgrew the original
    three-behind bound (217 queries / 50 slots = a 5-round re-check
    cadence, so under ANY rotation some green row reaches age 4; a
    three-behind MUST-front demand of ~217/3 rows/round exceeds the
    window).  The sustainable contract is therefore two-tier:

    - MUST front: every query whose newest driver row is FIVE or more
      rounds behind the newest artifact (age >= 5 — the tightest bound
      a 50-slot window can always restore at 217 queries, demand
      ~217/5 = 44 rows/round);
    - MAY spend slots on: rows aged three or more rounds (pre-emptive
      rotation ahead of the MUST bound), never-checked queries, and
      driver-red rows.  Anything younger while unverified queries wait
      is still flagged as misspent.

    Reads the committed CORRECTNESS_r*.json files, so both tiers
    re-derive automatically as rounds accumulate."""
    import glob
    import json
    import os
    import re

    from dirhash_spark.registry import all_queries

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    rounds = []
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)", os.path.basename(path)).group(1))
        rounds.append(rnd)
        for name in json.load(open(path)):
            latest[name] = max(latest.get(name, 0), rnd)
    assert rounds, "no CORRECTNESS artifacts found"

    qs = all_queries()
    window = set(list(qs)[:50])
    # stale = newest driver row is three or more rounds behind the
    # newest artifact.  Never-checked queries (no driver row at all)
    # are exempt from the MUST-front rule — a query registered after
    # the window rotated cannot have a row yet, and forcing it in
    # would evict a genuinely stale one; instead their count is
    # bounded so "never checked" can't become a standing state.
    threshold = max(rounds) - 4  # MUST-front: age >= 5
    aging = max(rounds) - 2      # MAY-front: age >= 3
    stale = sorted(
        name for name in qs if 0 < latest.get(name, 0) < threshold
    )
    never = sorted(name for name in qs if name not in latest)
    missing = [name for name in stale if name not in window]
    assert len(stale) <= 50, (
        f"{len(stale)} stale queries exceed one 50-slot window; rotation "
        f"has fallen behind: {stale[:10]}..."
    )
    assert not missing, f"stale queries not fronted in the window: {missing}"
    # Verification-first registration, mechanically enforced: every
    # window slot NOT required by the stale set must be spent on either
    # a never-checked query or a driver-red one (newest row errored or
    # hash-mismatched) — re-fronting an already-green query while any
    # unverified query waits would let "never checked" become a
    # standing state.  The backlog itself is only runaway-bounded: the
    # window can drain at most (50 - len(stale)) never-checked names
    # per round, so mid-round registration legitimately overshoots one
    # round's slack (round 5: 41 stale slots left 6 of 17 frontable).
    newest = json.load(
        open(os.path.join(repo, f"CORRECTNESS_r{max(rounds):02d}.json"))
    )
    red = {
        name
        for name, row in newest.items()
        if row.get("err") or row.get("hash_match") is False
    }
    fresh_enough = {
        n for n in qs if latest.get(n, 0) >= aging
    }  # younger than the MAY-front tier
    misspent = [
        n for n in window if n in fresh_enough and n not in never and n not in red
    ]
    assert not misspent, (
        f"window slack spent on fresh green queries while "
        f"{len(never)} never-checked wait: {misspent}"
    )
    # A query may lack a DRIVER row (the 50-slot window lags a 190+
    # registry by design), but it may NEVER lack a committed
    # verification artifact: every never-driver-checked query must be
    # green in the newest full-registry ORACLE_SNAPSHOT.  This is the
    # enforcement with teeth — registering a query without re-running
    # the sweep fails here, so "registered but never verified" cannot
    # exist in a committed state.
    snaps = glob.glob(os.path.join(repo, "ORACLE_SNAPSHOT_r*.json"))
    snaps = [s for s in snaps if "_sf" not in os.path.basename(s)]
    assert snaps, "no ORACLE_SNAPSHOT artifacts found"
    newest_snap = max(
        snaps,
        key=lambda s: int(re.search(r"_r(\d+)", os.path.basename(s)).group(1)),
    )
    snap = json.load(open(newest_snap))["results"]
    unverified = [
        n
        for n in never
        if not (
            snap.get(n, {}).get("match") is True
            or snap.get(n, {}).get("mode") == "rows_only"
        )
    ]
    assert not unverified, (
        f"queries registered without a green row in {os.path.basename(newest_snap)} "
        f"(re-run scripts/oracle_snapshot.py): {unverified}"
    )


def test_scan_diamond_baseline_names_are_registered():
    """Every query named in the committed scan-diamond baseline must
    still exist in the registry — a rename would otherwise leave its
    recorded diamond orphaned while the renamed query's diamond counts
    as 'new' only at sweep time, not in CI."""
    import json
    import os

    from dirhash_spark.registry import all_queries

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "scripts", "scan_diamonds_baseline.json")
    baseline = json.load(open(path))
    qs = all_queries()
    stale = sorted(set(baseline) - set(qs))
    assert not stale, f"scan-diamond baseline names not in registry: {stale}"
    tables = set(
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )
    for name, counts in baseline.items():
        assert counts, name
        assert set(counts) <= tables, (name, counts)
        assert all(isinstance(c, int) and c > 1 for c in counts.values()), (
            name,
            counts,
        )
