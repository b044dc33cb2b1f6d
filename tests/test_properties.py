"""Property-based tests (hypothesis) for the v1 codec and chunk planning.

The reference's suite is example-based only (SURVEY §5); these pin the
*invariants* behind the golden examples: codec round-trips over the full
input domain, fold framing injectivity, and chunk-plan arithmetic for
arbitrary file sizes — the places where an off-by-one would silently
change every digest.
"""

from __future__ import annotations

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dirhash_spark.dirhash.codec import (
    build_hash_string,
    chunk_digest,
    chunk_preimage,
    fold,
    fold_digest,
    get_hash_func,
    parse_blocksize,
    parse_hash_string,
    supported_algorithms,
)

SUFFIX_FACTOR = {"": 1, "k": 2**10, "K": 2**10, "M": 2**20, "G": 2**30}


@given(n=st.integers(1, 1023), suffix=st.sampled_from(["", "k", "K", "M", "G"]))
def test_blocksize_parse_full_domain(n, suffix):
    assert parse_blocksize(f"{n}{suffix}") == n * SUFFIX_FACTOR[suffix]


@given(n=st.integers(-5, 5000), suffix=st.sampled_from(["", "k", "K", "M", "G"]))
def test_blocksize_rejects_out_of_range(n, suffix):
    if not (1 <= n <= 1023):
        with pytest.raises(ValueError):
            parse_blocksize(f"{n}{suffix}")


@given(
    algo=st.sampled_from(supported_algorithms()),
    n=st.integers(1, 1023),
    suffix=st.sampled_from(["", "k", "K", "M", "G"]),
    hexstr=st.text(alphabet="0123456789abcdef", min_size=2, max_size=128).filter(
        lambda s: len(s) % 2 == 0
    ),
)
def test_hash_string_roundtrip(algo, n, suffix, hexstr):
    bs = f"{n}{suffix}"
    back_algo, back_bs, back_hex = parse_hash_string(build_hash_string(algo, bs, hexstr))
    assert (back_algo, back_bs, back_hex) == (algo, bs, hexstr)


@given(
    path=st.text(alphabet=string.ascii_letters + string.digits + "/._-", min_size=1, max_size=40),
    num=st.integers(0, 2**40),
    content=st.binary(max_size=256),
)
def test_chunk_preimage_framing(path, num, content):
    """Preimage = path ‖ NUL ‖ ascii(num) ‖ NUL ‖ content, exactly —
    and parseable back (path has no NULs, num is digits), so two
    distinct (path, num, content) triples can never collide preimages.
    The digest both routes compute, fed in pieces, is the digest of
    that preimage."""
    pre = chunk_preimage(path, num, content)
    head, rest = pre.split(b"\x00", 1)
    numpart, tail = rest.split(b"\x00", 1)
    assert head.decode("utf-8") == path
    assert int(numpart) == num
    assert tail == content
    for algo in ("sha256", "blake2b"):
        f = get_hash_func(algo)
        assert chunk_digest(f, path, num, content) == f(pre).digest()


@given(
    entries=st.lists(
        st.text(alphabet=string.ascii_lowercase + "/._", min_size=1, max_size=20),
        max_size=8,
        unique=True,
    ),
    digests=st.lists(st.binary(min_size=32, max_size=32), max_size=6),
)
def test_fold_entry_order_invariance(entries, digests):
    """fold_digest sorts the listing itself (dirhash.py:418): any input
    permutation of entries yields the same digest, while chunk-digest
    ORDER matters (the Merkle chain is order-dependent by design).
    ``fold`` fed one-pass iterators — the cluster route's streams —
    gives the same digest."""
    h1 = fold_digest("sha256", entries, digests)
    h2 = fold_digest("sha256", list(reversed(entries)), digests)
    assert h1 == h2
    assert fold("sha256", len(entries), iter(sorted(entries)), iter(digests)) == h1
    if list(reversed(digests)) != digests:
        h3 = fold_digest("sha256", entries, list(reversed(digests)))
        assert h3 != h1


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sizes=st.lists(st.integers(0, 5000), min_size=1, max_size=4),
    blocksize=st.integers(1, 1024),
)
def test_chunk_plan_arithmetic(spark, sizes, blocksize):
    """For arbitrary file sizes, on both planners (the driver listing's
    segments, expanded, and the listing DataFrame's plan): block
    offsets/lengths tile each file exactly — contiguous indices from 0,
    every block full except a short last one, lengths summing to the
    file size, empty files absent (dirhash_test.py:205-208 semantics) —
    and the two planners give the same rows."""
    from dirhash_spark.dirhash.chunks import chunk_plan, chunk_plan_df, segment_rows
    from dirhash_spark.dirhash.listing import Entry, entries_frame

    entries = [
        Entry(
            relative_path=f"f{i}.bin",
            full_path=f"/nonexistent/f{i}.bin",
            size=s,
            is_dir=False,
            mtime_ns=0,
        )
        for i, s in enumerate(sizes)
    ]
    driver_rows = [
        row for seg in chunk_plan(spark, entries, blocksize) for row in segment_rows(seg, blocksize)
    ]
    cluster_rows = [
        tuple(r) for r in chunk_plan_df(entries_frame(spark, entries), blocksize).collect()
    ]
    assert sorted(driver_rows) == sorted(cluster_rows)
    for rows in (driver_rows, cluster_rows):
        by_file: dict[str, list] = {}
        for path, num, _, offset, length in rows:
            by_file.setdefault(path, []).append((num, offset, length))
        assert set(by_file) == {f"f{i}.bin" for i, s in enumerate(sizes) if s > 0}
        for i, s in enumerate(sizes):
            if s == 0:
                continue
            blocks = sorted(by_file[f"f{i}.bin"])
            assert [num for num, _, _ in blocks] == list(range(len(blocks)))
            assert all(offset == num * blocksize for num, offset, _ in blocks)
            assert all(length == blocksize for _, _, length in blocks[:-1])
            assert 1 <= blocks[-1][2] <= blocksize
            assert sum(length for _, _, length in blocks) == s


@settings(max_examples=300, deadline=None)
@given(
    files=st.dictionaries(
        st.text(alphabet="ab/é☃._", min_size=1, max_size=10).filter(
            lambda p: not p.endswith("/")
        ),
        st.integers(0, 5000),
        max_size=10,
    ),
    dirs=st.lists(st.text(alphabet="xyz", min_size=1, max_size=4), max_size=3),
    blocksize=st.integers(1, 1024),
    n=st.integers(1, 16),
)
def test_plan_segments_cover_order_and_balance(files, dirs, blocksize, n):
    """The driver route's segment planner: every (path, block_num) of
    every non-empty file lands in exactly one segment, ranges run in
    (path, block_num) code-point order, directories and empty files are
    absent, no segment holds more than total/n + blocksize bytes, and
    fewer chunks than segments give fewer (never empty) segments; the
    rows a segment expands to tile each file exactly."""
    from dirhash_spark.dirhash.chunks import plan_segments, segment_rows
    from dirhash_spark.dirhash.listing import Entry

    entries = [
        Entry(relative_path=p, full_path=f"/nonexistent/{p}", size=s, is_dir=False, mtime_ns=0)
        for p, s in files.items()
    ] + [
        Entry(relative_path=d + "/", full_path=f"/nonexistent/{d}", size=0, is_dir=True, mtime_ns=0)
        for d in dirs
    ]
    segments = plan_segments(entries, blocksize, n)
    ranges = [r for seg in segments for r in seg]
    expected = sorted(
        (p, num) for p, s in files.items() for num in range(-(-s // blocksize))
    )
    assert [(p, num) for p, _, _, first, end in ranges for num in range(first, end)] == expected
    assert all(first < end and files.get(p, 0) > 0 for p, _, _, first, end in ranges)
    assert all(full == f"/nonexistent/{p}" and s == files[p] for p, full, s, _, _ in ranges)
    assert len(segments) <= min(n, len(expected))
    total = sum(files.values())
    tiled: dict[str, int] = {}
    for seg in segments:
        rows = list(segment_rows(seg, blocksize))
        assert all(off == num * blocksize and 1 <= ln <= blocksize for _, num, _, off, ln in rows)
        seg_bytes = sum(ln for *_, ln in rows)
        assert 0 < seg_bytes and seg_bytes * n <= total + blocksize * n
        for p, *_, ln in rows:
            tiled[p] = tiled.get(p, 0) + ln
    assert tiled == {p: s for p, s in files.items() if s > 0}


_URL_RULES = (
    (r"#.*$", ""),
    (r"(\?|&)utm_[^&]*", r"\1"),
    (r"\?&+", "?"),
    (r"&&+", "&"),
    (r"[?&]+$", ""),
    (r"/+(\?|$)", r"\1"),
)


def _canon_url(u: str) -> str:
    """Python twin of dedup_url_canonical's regex chain (Spark applies
    the same rules JVM-side with $1 backrefs; semantics identical on
    this pattern subset)."""
    import re

    u = u.lower()
    for pat, rep in _URL_RULES:
        u = re.sub(pat, rep, u)
    return u


@given(
    host=st.text(alphabet=string.ascii_letters + ".", min_size=1, max_size=12),
    path=st.text(alphabet=string.ascii_letters + "/", max_size=12),
    params=st.lists(
        st.sampled_from(["utm_source=a", "utm_b", "id=7", "q=x", ""]), max_size=4
    ),
    frag=st.sampled_from(["", "#f", "#a/b?c"]),
    slash=st.sampled_from(["", "/", "//"]),
)
@settings(max_examples=200, deadline=None)
def test_url_canonicalization_idempotent(host, path, params, frag, slash):
    """canon(canon(u)) == canon(u): a canonical form that isn't a fixed
    point would split one page across dedup groups depending on how
    many times a pipeline normalized it."""
    url = f"https://{host}/{path}{slash}"
    if params:
        url += "?" + "&".join(params)
    url += frag
    once = _canon_url(url)
    assert _canon_url(once) == once, (url, once, _canon_url(once))


def test_scramble_and_recurrence_exact_beyond_float53(spark):
    """The Knuth scramble and the EWMA integer division must stay exact
    for keys/sums past the BIGINT-product wrap point (~3.5e9 doc_ids)
    and the 2^53 double-mantissa cliff: the DECIMAL(38,0) routing and
    shiftright forms must agree with Python's arbitrary-precision ints,
    where the old `* // via double` forms silently diverge."""
    from pyspark.sql import functions as F

    ids = [1, 3_500_000_000, 2**40 + 17, 2**62 + 11]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id: long")
    got = {
        r["doc_id"]: (r["skey"], r["shard"])
        for r in df.select(
            "doc_id",
            ((F.col("doc_id").cast("decimal(38,0)") * 2654435761) % 4294967296)
            .cast("long")
            .alias("skey"),
            ((F.col("doc_id").cast("decimal(38,0)") * 2654435761) % 8)
            .cast("long")
            .alias("shard"),
        ).collect()
    }
    for i in ids:
        assert got[i] == ((i * 2654435761) % 2**32, (i * 2654435761) % 8)

    # EWMA step: div 4 via shiftright — exact where double division
    # rounds.  At 2^56 the double grid spacing is 8, so 2^56 + 4 isn't
    # representable: the old `/ 4` path computes on the rounded-to-even
    # 2^56 and lands one off the true floor.
    v = 2**56 + 4
    assert float(v) != v  # precondition: v really is off-grid
    step = (
        spark.createDataFrame([(v,)], "v: long")
        .select(F.shiftright(F.col("v"), 2).alias("s2"))
        .collect()[0]["s2"]
    )
    assert step == v // 4 == 2**54 + 1
    assert int(float(v) / 4) == 2**54  # the double path is wrong here


# ---------------------------------------------------------------------------
# Arrow-batched gram stages (round-7 rewrites of Catalyst expressions that
# FEED ORACLE-CHECKED queries — a semantic drift here would silently change
# dedup_containment / pipeline_neardup_e2e / dedup_ngram_jaccard results)


@given(
    texts=st.lists(
        st.text(alphabet=string.ascii_lowercase + "  .'é", max_size=60),
        min_size=1,
        max_size=8,
    )
)
@settings(deadline=None)
def test_word5_gram_batches_match_definition(texts):
    """The numpy word-5-gram stage must equal the definitional form —
    distinct ' '-joins of clamped 5-windows over split-on-space tokens,
    start positions 1..max(n-4, 1) — for arbitrary texts, including
    empties, runs of spaces (empty tokens preserved, as F.split does),
    and non-ASCII.  The real hazards are the batch-level offset
    machinery: a wrong cumsum would alias one doc's tokens into the
    next doc's grams."""
    import pyarrow as pa

    from dirhash_spark.operators.dedup import _word5_gram_batches

    batch = pa.record_batch(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "ws": pa.array([t.split(" ") for t in texts], pa.list_(pa.string())),
        }
    )
    out = list(_word5_gram_batches(iter([batch])))[0].to_pandas()
    got = {int(r.doc_id): (sorted(r.grams), int(r.sz)) for r in out.itertuples()}
    assert set(got) == set(range(len(texts)))
    for i, t in enumerate(texts):
        w = t.split(" ")
        ref = list(dict.fromkeys(" ".join(w[j : j + 5]) for j in range(max(len(w) - 4, 1))))
        assert got[i] == (sorted(ref), len(ref)), (i, t)
        # first-occurrence order within a doc's list
        assert list(out.grams[i]) == ref, (i, t)


def test_char3_grams_match_definition_and_null_strict(spark):
    """The Catalyst char-trigram expression must equal the definitional
    form — first-occurrence-distinct t[i:i+3] windows, whole (clamped)
    string for texts under 3 chars — preserve first-occurrence ORDER,
    and propagate null as null (the property the retired Arrow variant
    once violated, ADVICE r7)."""
    from pyspark.sql import functions as F

    from dirhash_spark.operators.dedup import _char3_grams

    texts = ["", "a", "ab", "abc", "abcd", "banana banana", "é0 é0é0", None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    got = {
        r["i"]: r["g"]
        for r in df.select("i", _char3_grams(F.col("t")).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        if t is None:
            assert got[i] is None
        elif len(t) < 3:
            assert got[i] == [t], (i, t)
        else:
            ref = list(dict.fromkeys(t[j : j + 3] for j in range(len(t) - 2)))
            assert got[i] == ref, (i, t)


# --- Fused per-user funnel forms ≡ join-based reference (r8) --------------
#
# funnel_stages / funnel_time_to_convert / ts_cohort_retention were
# rewritten from aggregate→join-back chains into single per-user
# aggregates with in-row array resolution (see their docstrings).  The
# sf fixtures exercise only benign orderings, so these properties pin
# the fusion's null/ordering semantics — purchase-before-click users,
# users with no anchor event at all, ties, empty logs — against the
# ORIGINAL join-based Spark forms on adversarial micro-logs.


def _write_events(spark, rows, tmpdir):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, int(u), t, base + dt.timedelta(minutes=int(m)))
        for i, (u, t, m) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, user_id long, event_type string, ts timestamp"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")


_EVENT_LOGS = st.lists(
    st.tuples(
        st.integers(0, 4),
        st.sampled_from(["signup", "click", "purchase", "view"]),
        st.integers(0, 60 * 24 * 40),
    ),
    min_size=0,
    max_size=50,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_EVENT_LOGS)
def test_funnel_stages_fusion_matches_join_form(spark, rows, tmp_path_factory):
    import pyspark.sql.functions as F

    from dirhash_spark.operators.aggregates import funnel_stages

    tmpdir = str(tmp_path_factory.mktemp("funnel"))
    _write_events(spark, rows, tmpdir)
    got = {r["stage"]: r["n_users"] for r in funnel_stages(spark, tmpdir).collect()}

    ev = spark.read.parquet(f"{tmpdir}/events.parquet").select(
        "user_id", "event_type", "ts"
    )
    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    want = {
        "signup": s1.count(),
        "signup>click": s2.count(),
        "signup>click>purchase": s3.count(),
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_EVENT_LOGS)
def test_time_to_convert_fusion_matches_join_form(spark, rows, tmp_path_factory):
    import pyspark.sql.functions as F

    from dirhash_spark.operators.timeseries import funnel_time_to_convert

    tmpdir = str(tmp_path_factory.mktemp("ttc"))
    _write_events(spark, rows, tmpdir)
    got = funnel_time_to_convert(spark, tmpdir).collect()[0]

    ev = spark.read.parquet(f"{tmpdir}/events.parquet")
    fc = ev.where(F.col("event_type") == "click").groupBy("user_id").agg(
        F.min("ts").alias("first_click")
    )
    conv = (
        fc.join(
            ev.where(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
            ),
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") >= F.col("first_click")),
        )
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("p_ts") - F.unix_micros("first_click")).alias("lat_us"))
    )
    base = fc.agg(F.count(F.lit(1)).alias("n_users"))
    stats = conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(lat_us, 0.5D)").alias("med"),
        F.expr("percentile(lat_us, 0.9D)").alias("p90"),
    )
    want = (
        base.crossJoin(stats)
        .select(
            F.col("n_users").cast("bigint").alias("n_users"),
            F.col("n_converted").cast("bigint").alias("n_converted"),
            F.expr(
                "CAST(div(n_converted * 10000, nullif(n_users, 0)) AS BIGINT)"
            ).alias("conversion_bp"),
            (F.floor(F.col("med") / 1e6 * 100) / 100).alias("median_latency_s"),
            (F.floor(F.col("p90") / 1e6 * 100) / 100).alias("p90_latency_s"),
        )
        .collect()[0]
    )
    assert tuple(got) == tuple(want)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_EVENT_LOGS)
def test_cohort_retention_fusion_matches_join_form(spark, rows, tmp_path_factory):
    import pyspark.sql.functions as F

    from dirhash_spark.operators.analytics import ts_cohort_retention

    tmpdir = str(tmp_path_factory.mktemp("cohort"))
    _write_events(spark, rows, tmpdir)
    got = sorted(map(tuple, ts_cohort_retention(spark, tmpdir).collect()))

    ev = spark.read.parquet(f"{tmpdir}/events.parquet")
    uf = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cw")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("aw")
    ).distinct()
    joined = act.join(uf, "user_id").select(
        F.col("cw").alias("cohort_week"),
        F.expr("CAST(div(datediff(aw, cw), 7) AS INT)").alias("week_offset"),
        "user_id",
    )
    ca = joined.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    cs = uf.groupBy("cw").agg(F.count(F.lit(1)).alias("n_cohort"))
    want = sorted(
        map(
            tuple,
            ca.join(F.broadcast(cs), ca.cohort_week == cs.cw)
            .select(
                "cohort_week",
                "week_offset",
                F.col("n_active").cast("bigint").alias("n_active"),
                F.col("n_cohort").cast("bigint").alias("n_cohort"),
                F.expr("CAST(div(n_active * 10000, n_cohort) AS BIGINT)").alias(
                    "retention_bp"
                ),
            )
            .collect(),
        )
    )
    assert got == want


# --- Seasonal decompose: calendar-dense trend window (r8 advisor) ---------


def test_seasonal_decompose_gap_fill_calendar(spark, tmp_path):
    """A missing day must become a zero observation, not silently widen
    the 7-row trend window across non-adjacent calendar days (r8
    advisor finding): on a 15-day series with day 8 absent, the output
    still carries all 15 calendar days, the gap day reads
    daily_cents=0, every interior trend value averages exactly the 7
    ADJACENT calendar days, and the DuckDB oracle (densified the same
    way) agrees bit-for-bit."""
    import datetime as dt

    import duckdb

    from dirhash_spark.registry import all_queries
    from tests.oracle_harness import compare

    qs = all_queries()
    base = dt.datetime(2024, 3, 1, 12, 0)
    rows = [
        (i, 1, "click", base + dt.timedelta(days=d), float(d + 1))
        for i, d in enumerate(x for x in range(15) if x != 7)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    out = qs["ts_seasonal_decompose"].fn(spark, sf_dir).collect()
    by_day = {r["day"]: r for r in out}
    days = sorted(by_day)
    assert len(days) == 15 and (days[-1] - days[0]).days == 14  # dense span
    gap = dt.date(2024, 3, 8)
    assert by_day[gap]["daily_cents"] == 0
    # interior trend = truncated mean of the 7 adjacent calendar days
    cents = {base.date() + dt.timedelta(days=d): (d + 1) * 100 for d in range(15)}
    cents[gap] = 0
    for r in out:
        off = (r["day"] - days[0]).days
        if 3 <= off <= 11:
            win = [cents[r["day"] + dt.timedelta(days=k)] for k in range(-3, 4)]
            assert r["trend_cents"] == sum(win) // 7, r["day"]
        else:
            assert r["trend_cents"] is None, r["day"]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    rep = compare(
        qs["ts_seasonal_decompose"].fn(spark, sf_dir),
        con,
        qs["ts_seasonal_decompose"].oracle,
    )
    assert rep["match"], rep


# --- Embedding-ANN per-list scorer: exactly-once emission (r9) ------------


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(2, 40),
    nprobe=st.integers(1, 4),
    n_lists=st.integers(1, 6),
    block_rows=st.integers(1, 50),
    seed=st.integers(0, 10_000),
)
def test_score_list_pairs_ownership_exactly_once(n, nprobe, n_lists, block_rows, seed):
    """Union over every list's first-shared-list emissions must equal
    the brute-force thresholded pair set restricted to pairs sharing at
    least one list — each pair EXACTLY once, regardless of block size,
    list count, or assignment overlap (the exactly-once-by-construction
    claim behind dropping the cross-list reconciliation shuffle)."""
    import numpy as np

    from dirhash_spark.operators.dedup import _score_list_pairs

    rng = np.random.RandomState(seed)
    nprobe = min(nprobe, n_lists)
    ids = rng.permutation(np.arange(n)) * 3 + 1
    # half clustered (dense survivors), half scattered
    center = rng.randn(8) * 4
    mat = np.vstack(
        [center + rng.randn(n // 2, 8) * 0.1, rng.randn(n - n // 2, 8)]
    )
    lists = np.stack(
        [rng.choice(n_lists, nprobe, replace=False) for _ in range(n)]
    ).astype(np.int64)

    emitted = []
    for lid in range(n_lists):
        member = (lists == lid).any(axis=1)
        if not member.any():
            continue
        out = _score_list_pairs(
            ids[member].copy(),
            mat[member].copy(),
            block_rows=block_rows,
            lists=lists[member].copy(),
            owner_id=lid,
        )
        emitted.extend(zip(out["vec_a"].to_pylist(), out["vec_b"].to_pylist()))

    assert len(emitted) == len(set(emitted)), "a pair was emitted twice"

    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = unit @ unit.T
    expected = set()
    by_id = {int(i): k for k, i in enumerate(ids)}
    for a in sorted(by_id):
        for b in sorted(by_id):
            if a < b and cos[by_id[a], by_id[b]] >= 0.35:
                if set(lists[by_id[a]]) & set(lists[by_id[b]]):
                    expected.add((a, b))
    assert set(emitted) == expected


def test_score_list_pairs_ownership_chunking_is_transparent(monkeypatch):
    """The sub-chunked ownership check (r9 advisor: its npairs x
    nprobe^2 scratch must not scale with survivor count) is a pure
    memory bound — a pathologically small chunk size must produce the
    exact same pair set as one unchunked pass."""
    import numpy as np

    from dirhash_spark.operators import dedup

    rng = np.random.RandomState(7)
    n = 60
    ids = np.arange(n) * 2 + 1
    # one dense cone: nearly every pair survives the 0.35 threshold,
    # the exact regime where npairs approaches block_rows x |list|
    mat = rng.randn(8) * 3 + rng.randn(n, 8) * 0.05
    lists = np.stack([rng.choice(4, 3, replace=False) for _ in range(n)]).astype(
        np.int64
    )

    def run():
        got = []
        for lid in range(4):
            m = (lists == lid).any(axis=1)
            out = dedup._score_list_pairs(
                ids[m].copy(), mat[m].copy(), block_rows=16,
                lists=lists[m].copy(), owner_id=lid,
            )
            got.extend(map(tuple, out.to_pandas().itertuples(index=False)))
        return sorted(got)

    baseline = run()
    assert len(baseline) > 500  # the dense cone really is dense
    monkeypatch.setattr(dedup, "_ANN_OWNERSHIP_CHUNK_PAIRS", 3)
    assert run() == baseline


def test_exact_gram_chunks_and_overflow_guard():
    """_exact_gram must equal arbitrary-precision X.T @ X even when a
    one-shot int64 matmul would silently wrap, and must raise (not
    wrap) when a single product overflows (r9 advisor finding)."""
    import numpy as np
    import pytest

    from dirhash_spark.operators.similarity import _exact_gram

    rng = np.random.RandomState(3)
    # rows * amax^2 = 8 * 2^60 = 2^63: the one-shot product wraps
    xq = (rng.randint(-1, 2, size=(8, 4)) * (1 << 30)).astype(np.int64)
    ref = np.asarray(xq, dtype=object).T @ np.asarray(xq, dtype=object)
    got = _exact_gram(xq)
    assert (got == ref).all()
    assert any(abs(int(v)) >= 1 << 62 for v in ref.ravel())  # non-trivial
    # small values: single chunk, still exact
    small = rng.randint(-100, 100, size=(50, 4)).astype(np.int64)
    assert (_exact_gram(small) == small.T.astype(object) @ small.astype(object)).all()
    # a single coordinate too large for any chunking raises loudly
    with pytest.raises(ValueError, match="overflows a single product"):
        _exact_gram(np.array([[1 << 31]], dtype=np.int64))
    # empty input: zero matrix, no div-by-zero
    assert (_exact_gram(np.zeros((0, 3), dtype=np.int64)) == 0).all()


# --- streamed dirhash fold: randomized-tree equivalence (r10) -------------

_FNAME_ALPHABET = string.ascii_lowercase + string.digits + " -_é中𝓌"


@settings(
    max_examples=8,  # each example runs two Spark jobs — keep it tight
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    files=st.dictionaries(
        st.tuples(
            st.sampled_from(["", "d1", "d1/d2"]),
            st.text(_FNAME_ALPHABET, min_size=1, max_size=8).filter(
                lambda s: s not in (".", "..") and not s.startswith(".")
                and s == s.strip()
            ),
        ),
        st.binary(min_size=0, max_size=200),
        min_size=1,
        max_size=6,
    ),
    blocksize=st.sampled_from([1, 7, 64, 4096]),
)
def test_streamed_fold_equals_collect_fold_on_random_trees(
    spark, tmp_path_factory, files, blocksize
):
    """For ANY tree shape (empty files, nested dirs, unicode names, a
    1-byte blocksize making hundreds of chunks per file) the streamed
    digest drain (the cluster route on a driver listing, forced by
    lowering the chunk-count bound),
    the collect fold, and the independent pure-Python spec digest must
    agree byte-for-byte — the cluster-sort-order and boundary-sampling
    claims hold on the whole input domain, not just the curated
    fixture."""
    import hashlib
    import os as _os

    import dirhash_spark.dirhash.hashdir as H
    from dirhash_spark.dirhash.hashdir import hash_directory_raw

    root = str(tmp_path_factory.mktemp("rand_tree"))
    rels = {}
    for (d, name), content in files.items():
        rel = f"{d}/{name}" if d else name
        p = _os.path.join(root, rel)
        _os.makedirs(_os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(content)
        rels[rel] = content

    # independent spec digest (mirrors tests/test_dirhash_e2e.spec_hash)
    entries = []
    for dirpath, dirnames, filenames in _os.walk(root):
        for dn in dirnames:
            entries.append(
                _os.path.relpath(_os.path.join(dirpath, dn), root) + "/"
            )
        for fn in filenames:
            entries.append(_os.path.relpath(_os.path.join(dirpath, fn), root))
    chunks = []
    for rel in sorted(rels):
        content = rels[rel]
        for i in range((len(content) + blocksize - 1) // blocksize):
            pre = (
                rel.encode() + b"\x00" + str(i).encode() + b"\x00"
                + content[i * blocksize : (i + 1) * blocksize]
            )
            chunks.append(((rel, i), hashlib.sha256(pre).digest()))
    chunks.sort(key=lambda t: t[0])
    h = hashlib.sha256()
    entries.sort()
    h.update(str(len(entries)).encode() + b"\x00")
    h.update("\x00".join(entries).encode() + b"\x00")
    for _, dgst in chunks:
        h.update(dgst)
    expected = h.hexdigest()

    assert hash_directory_raw(spark, root, "sha256", blocksize) == expected
    bound = H.COLLECT_MAX_CHUNKS
    H.COLLECT_MAX_CHUNKS = -1
    try:
        assert hash_directory_raw(spark, root, "sha256", blocksize) == expected
    finally:
        H.COLLECT_MAX_CHUNKS = bound


# --- incremental re-hash: randomized-churn equivalence (r12) --------------


@settings(
    max_examples=5,  # each example runs a manifest build + 4 folds
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    files=st.dictionaries(
        st.tuples(
            st.sampled_from(["", "d1", "d1/d2"]),
            st.text(_FNAME_ALPHABET, min_size=1, max_size=8).filter(
                lambda s: s not in (".", "..") and not s.startswith(".")
                and s == s.strip()
            ),
        ),
        st.binary(min_size=0, max_size=200),
        min_size=1,
        max_size=5,
    ),
    mutated=st.dictionaries(
        st.tuples(
            st.sampled_from(["", "d1", "d1/d2"]),
            st.text(_FNAME_ALPHABET, min_size=1, max_size=8).filter(
                lambda s: s not in (".", "..") and not s.startswith(".")
                and s == s.strip()
            ),
        ),
        st.binary(min_size=0, max_size=200),
        min_size=0,
        max_size=3,
    ),
    do_delete=st.booleans(),
    blocksize=st.sampled_from(["1", "64"]),
)
def test_incremental_routes_equal_full_rehash_on_random_churn(
    spark, tmp_path_factory, files, mutated, do_delete, blocksize
):
    """For ANY initial tree and ANY churn (upserts of new/changed/
    same-content files, a deletion), the driver-side incremental
    splice, the cluster route on a shipped driver listing, AND the
    cluster route on a cluster listing (stat-diff join + digest-union
    splice) must all equal the full
    re-hash byte-for-byte — and the reuse stats must equal the churn
    computed independently from the (path, size, mtime_ns) contract.
    mtimes are SET explicitly so the expected-churn set is exact (a
    same-content, same-size rewrite with a new mtime counts as
    re-hashed — the rsync quick-check contract)."""
    import os as _os

    import dirhash_spark.dirhash.hashdir as H
    import dirhash_spark.dirhash.listing as L
    from dirhash_spark.dirhash.hashdir import hash_directory
    from dirhash_spark.dirhash.incremental import (
        build_chunk_manifest,
        hash_directory_incremental,
    )

    root = str(tmp_path_factory.mktemp("churn_tree"))

    def write(rels: dict, mtime_ns: int):
        for (d, name), content in rels.items():
            rel = f"{d}/{name}" if d else name
            p = _os.path.join(root, rel)
            _os.makedirs(_os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(content)
            _os.utime(p, ns=(mtime_ns, mtime_ns))

    write(files, 1_000_000_000)
    man = build_chunk_manifest(spark, root, "sha256", blocksize).localCheckpoint()

    write(mutated, 2_000_000_000)  # new mtime on every churned file
    deleted = None
    if do_delete:
        survivors = sorted(set(files) - set(mutated))
        if survivors:
            deleted = survivors[0]
            d, name = deleted
            _os.remove(_os.path.join(root, f"{d}/{name}" if d else name))

    n_files = len((set(files) | set(mutated)) - ({deleted} if deleted else set()))
    n_rehashed = len(set(mutated))  # every churned file got a fresh mtime

    expected = hash_directory(spark, root, "sha256", blocksize)
    for route in ("driver", "streamed", "cluster"):
        old_budget, old_bound = L.SERIAL_WALK_BUDGET_S, H.COLLECT_MAX_CHUNKS
        L.SERIAL_WALK_BUDGET_S = 0 if route == "cluster" else old_budget
        H.COLLECT_MAX_CHUNKS = -1 if route == "streamed" else old_bound
        try:
            h, stats = hash_directory_incremental(
                spark, root, man, "sha256", blocksize
            )
        finally:
            L.SERIAL_WALK_BUDGET_S, H.COLLECT_MAX_CHUNKS = old_budget, old_bound
        assert h == expected, route
        assert stats == {
            "n_files": n_files,
            "n_reused_files": n_files - n_rehashed,
            "n_rehashed_files": n_rehashed,
        }, route


# --- listing routes: randomized-tree equivalence (r11) --------------------


@settings(
    max_examples=6,  # each example runs a cluster walk — keep it tight
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    files=st.dictionaries(
        st.tuples(
            st.sampled_from(["", "d1", "d1/d2", "d1/d2/d3", "e1"]),
            st.text(_FNAME_ALPHABET, min_size=1, max_size=8).filter(
                lambda s: s not in (".", "..") and not s.startswith(".")
                and s == s.strip()
            ),
        ),
        st.binary(min_size=0, max_size=50),
        min_size=0,
        max_size=8,
    ),
    empty_dirs=st.lists(
        st.sampled_from(["z1", "z1/z2", "d1/zz"]), max_size=2, unique=True
    ),
)
def test_listing_routes_agree_on_random_trees(
    spark, tmp_path_factory, files, empty_dirs
):
    """For ANY tree shape — nested dirs, unicode names, empty files,
    empty directories, even a completely empty root — the serial walk
    and the level-parallel cluster walk must produce the identical
    set of Entry rows, all five fields: the routing budget may change
    WHERE the walk runs, never what it returns."""
    import os as _os

    from dirhash_spark.dirhash.listing import list_entries, list_entries_df

    root = str(tmp_path_factory.mktemp("rand_list_tree"))
    for (d, name), content in files.items():
        p = _os.path.join(root, d, name)
        _os.makedirs(_os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(content)
    for d in empty_dirs:
        _os.makedirs(_os.path.join(root, d), exist_ok=True)

    serial = {
        (e.relative_path, e.is_dir, e.size, e.full_path, e.mtime_ns)
        for e in list_entries(root)
    }
    dfr = {
        (r["relative_path"], r["is_dir"], r["size"], r["full_path"], r["mtime_ns"])
        for r in list_entries_df(spark, root).collect()
    }
    assert dfr == serial


def test_minhash_modmul_property_random():
    """Hypothesis twin of the fixed adversarial modmul check: the
    overflow-free (a*x + b) mod p schedule equals bigint arithmetic
    for random crc32-range inputs across all 64 permutations."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dirhash_spark.operators.dedup import _MERSENNE, _MH_A, _MH_B, _axb_mod_p

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.integers(0, 2**32 - 1), min_size=1, max_size=8))
    def check(xs):
        arr = np.array(xs, dtype=np.int64)
        got = _axb_mod_p(arr)
        for i in (0, 17, 63):  # spot permutations incl. the extremes
            for j, x in enumerate(xs):
                assert int(got[i, j]) == (int(_MH_A[i]) * x + int(_MH_B[i])) % _MERSENNE

    check()


def test_lloyd_assign_chunked_matches_unchunked():
    """The row-chunked Lloyd assignment must stitch to exactly the
    unchunked argmin — forced tiny chunks included (the same
    chunking-transparency discipline as the Arrow argmin and PQ
    encoder)."""
    import numpy as np

    from dirhash_spark.operators import similarity as S

    rng = np.random.RandomState(99)
    x = rng.standard_normal((257, 16))
    cents = rng.standard_normal((13, 16))
    want = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
    assert (S._assign_chunked(x, cents) == want).all()
    # force pathological chunking via a huge K surrogate: shrink the
    # budget by calling on a transposed-shape worst case
    big_cents = rng.standard_normal((4096, 16))
    want_big = ((x[:, None, :] - big_cents[None, :, :]) ** 2).sum(-1).argmin(1)
    assert (S._assign_chunked(x, big_cents) == want_big).all()


def test_local_root_property():
    """local_root over generated path shapes: bare paths (any weird
    characters short of a scheme marker) pass through verbatim;
    file:// round-trips localhost/case variants to the same local
    path; non-file schemes map to None (Hadoop route)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dirhash_spark.dirhash.listing import local_root

    safe = st.text(
        alphabet=st.characters(blacklist_characters="\x00", blacklist_categories=("Cs",)),
        min_size=1,
        max_size=40,
    ).filter(lambda s: "://" not in s)

    @settings(max_examples=80, deadline=None)
    @given(safe)
    def bare(p):
        assert local_root(p) == p

    bare()

    @settings(max_examples=80, deadline=None)
    @given(safe.filter(lambda s: not s.startswith("/")))
    def uri(p):
        assert local_root(f"file:///{p}") == f"/{p}"
        assert local_root(f"FILE://localhost/{p}") == f"/{p}"
        assert local_root(f"hdfs://nn/{p}") is None
        assert local_root(f"s3a://bucket/{p}") is None

    uri()

    # truncated file URIs (no path component) must error, NOT resolve
    # to '/' — that would serially walk and hash the whole host; the
    # explicit root spelling 'file:///' stays valid
    import pytest as _pytest

    for truncated in ("file://", "FILE://", "file://localhost", "file://LOCALHOST"):
        with _pytest.raises(ValueError, match="missing path"):
            local_root(truncated)
    assert local_root("file:///") == "/"


def test_simhash_hot_bucket_invariants_random_fps(spark, tmp_path, monkeypatch):
    """Randomized invariants of the duplicate-keyed simhash hot path
    (r13): plant seeded random 64-bit fingerprints with duplicate
    groups through the fp-stage seam, force the bucket cap low so the
    chain/rep machinery engages, and assert what the degradation
    CONTRACT guarantees regardless of the random draw:

    (a) exactly-once — no (doc_a, doc_b) row is emitted twice across
        the four quarter bands;
    (b) every emitted row's hamming equals the true popcount of the
        pair's fp xor and respects the <=12 filter;
    (c) identical-fp groups are always fully connected in the emitted
        pair graph (the chain guarantee — the exact property the e2e
        consumers rely on);
    (d) doc_a < doc_b on every row (the _opair ordering).
    """
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    import dirhash_spark.operators.dedup as dedup_mod
    from dirhash_spark.registry import all_queries

    qs = all_queries()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0], pa.int64()),
                "text": pa.array(["placeholder"]),
                "lang": pa.array(["en"]),
                "n_chars": pa.array([11], pa.int32()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    monkeypatch.setattr(dedup_mod, "_BUCKET_FULL_EXPAND_CAP", 8)

    for seed in (3, 17, 51):
        rng = random.Random(seed)
        fps: list[tuple[int, int]] = []
        doc = 0
        # duplicate groups of random size over a SMALL fp pool so
        # quarters collide constantly (hot buckets everywhere)
        pool = [rng.getrandbits(62) for _ in range(12)]
        # bias: make some pool members near-dups of each other
        pool += [pool[0] ^ (1 << rng.randrange(64)) for _ in range(4)]
        for fp in pool:
            for _ in range(rng.randrange(1, 30)):
                fps.append((doc, fp))
                doc += 1
        rng.shuffle(fps)
        planted = spark.createDataFrame(fps, "doc_id long, fp long")
        monkeypatch.setattr(dedup_mod, "_simhash_fingerprints", lambda cat: planted)
        rows = qs["dedup_simhash"].fn(spark, str(tmp_path)).collect()

        fp_of = dict(fps)
        seen = set()
        for r in rows:
            key = (r["doc_a"], r["doc_b"])
            assert key not in seen, f"pair emitted twice: {key} (seed {seed})"
            seen.add(key)
            assert r["doc_a"] < r["doc_b"]
            x = fp_of[r["doc_a"]] ^ fp_of[r["doc_b"]]
            assert r["hamming"] == bin(x).count("1")
            assert r["hamming"] <= 12

        # identical-fp groups fully connected in the emitted graph
        parent: dict[int, int] = {}

        def find(a):
            while parent.get(a, a) != a:
                parent[a] = parent.get(parent[a], parent[a])
                a = parent[a]
            return a

        for a, b in seen:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        groups: dict[int, list[int]] = {}
        for d, fp in fps:
            groups.setdefault(fp, []).append(d)
        for fp, members in groups.items():
            if len(members) > 1:
                roots = {find(d) for d in members}
                assert len(roots) == 1, (
                    f"identical-fp group (seed {seed}, fp {fp:#x}) split "
                    f"into {len(roots)} components"
                )


def test_expr_string_double_literals_bit_identical(spark):
    """The ADC lookup table and the probe·centroid map are built as ONE
    expr() string instead of m×k F.lit Py4J round-trips (measured
    0.168 s of pure gateway traffic per query at k=32, ~8x at the
    256-centroid cap).  That optimization is only sound if repr-printed
    double literals parse back BIT-IDENTICAL on the JVM side — pinned
    here over adversarial magnitudes (subnormals, ±0.0, max double,
    random values across 600 decades)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [
            rng.standard_normal(300) * 10.0 ** rng.randint(-300, 300, 300),
            np.array(
                [0.0, -0.0, 1e-310, -1e-310, 2**-1074,
                 1.7976931348623157e308, -2.2250738585072014e-308]
            ),
        ]
    )
    lit_form = F.array(*[F.lit(float(x)) for x in vals])
    expr_form = F.expr(
        "array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")"
    )
    row = spark.range(1).select(lit_form.alias("a"), expr_form.alias("b")).first()
    a, b = np.array(row["a"]), np.array(row["b"])
    assert (a.view(np.int64) == b.view(np.int64)).all()


def test_indexed_ann_parity_random_duplicate_layouts(spark, tmp_path):
    """v6 duplicate grouping must be invisible to answers on ARBITRARY
    duplicate layouts, not just the one the example test plants:
    seeded corpora mix duplicate groups of random sizes (some spanning
    the probe, some singletons) and the indexed IVF route must return
    bit-identical rows to its scan-time twin — same ids, same ties,
    same cosines — for every draw."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.operators import similarity as S

    for seed in (2, 11):
        rng = np.random.RandomState(seed)
        vecs = []
        # ~40 distinct vectors, each duplicated 1..60 times (some
        # groups straddle _TOP_K; probe's own group is random too)
        for _ in range(40):
            v = rng.standard_normal(64).astype(np.float32)
            vecs.extend([v] * rng.randint(1, 60))
        order = rng.permutation(len(vecs))
        V = np.asarray(vecs)[order]
        d = tmp_path / f"dup{seed}"
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(np.arange(len(V), dtype=np.int64), pa.int64()),
                    "embedding": pa.array([v.tolist() for v in V], pa.list_(pa.float32())),
                    "label": pa.array(
                        (np.arange(len(V)) % 5).astype(np.int32), pa.int32()
                    ),
                }
            ),
            str(d / "embeddings.parquet"),
        )
        sf = str(d)
        try:
            a = [tuple(r) for r in S.sim_ann_ivf(spark, sf).collect()]
            b = [tuple(r) for r in S.sim_ann_ivf_indexed(spark, sf).collect()]
            assert a == b, (seed, a, b)
            c = [tuple(r) for r in S.sim_ann_lsh(spark, sf).collect()]
            e = [tuple(r) for r in S.sim_ann_lsh_indexed(spark, sf).collect()]
            assert c == e, (seed, c, e)
        finally:
            shutil.rmtree(S._ann_index_path(sf), True)


@given(st.integers(min_value=0, max_value=10**12), st.integers(min_value=0, max_value=10**12))
@settings(max_examples=200)
def test_simhash_rep_cap_properties(n1, n2):
    """The derived rep budget is monotone in corpus size, clamped to
    [hot cap, memory ceiling], floors at the hot cap through the whole
    fixture range, and matches the 8x-birthday-load rule inside the
    clamp — so no corpus size can dip the budget below the r13
    constant or past the per-row memory bound."""
    from dirhash_spark.operators.dedup import (
        _BUCKET_FULL_EXPAND_CAP,
        _REP_EXPAND_CAP_MAX,
        _rep_expand_cap,
    )

    lo, hi = sorted((n1, n2))
    assert _rep_expand_cap(lo) <= _rep_expand_cap(hi)  # monotone
    for n in (n1, n2):
        cap = _rep_expand_cap(n)
        assert _BUCKET_FULL_EXPAND_CAP <= cap <= _REP_EXPAND_CAP_MAX
        raw = -(-8 * n // (1 << 16))
        if _BUCKET_FULL_EXPAND_CAP <= raw <= _REP_EXPAND_CAP_MAX:
            assert cap == raw


@given(st.integers(min_value=0, max_value=2**32), st.data())
@settings(max_examples=100)
def test_score_list_pairs_digest_never_false_negative(seed, data):
    """The duplicate pre-check may only err toward the exact path:
    whenever a matrix HAS byte-identical duplicate rows, the digest
    must report them (equal rows digest equal), so the grouped degrade
    can never be skipped on a genuinely duplicate-carrying list."""
    import numpy as np

    from dirhash_spark.operators.dedup import _rows_look_duplicate_free

    rng = np.random.RandomState(seed % 2**31)
    n = data.draw(st.integers(min_value=2, max_value=40))
    d = data.draw(st.integers(min_value=1, max_value=8))
    mat = rng.randn(n, d)
    # plant a duplicate of a random row at a random position
    src = data.draw(st.integers(min_value=0, max_value=n - 1))
    dst = data.draw(st.integers(min_value=0, max_value=n - 1))
    if src != dst:
        mat[dst] = mat[src]
        assert not _rows_look_duplicate_free(mat)
