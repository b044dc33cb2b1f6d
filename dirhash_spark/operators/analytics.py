"""Advanced analytics operators: regression / correlation aggregates,
cohort retention, rolling distinct users, fixed-point PageRank, and an
AES round-trip — each with an exact DuckDB oracle.

Cross-engine float discipline (DESIGN.md): every statistic here is
derived from *exact integer sums* (quantities, floor-scaled cents /
basis points), so the shuffled aggregation is order-independent, and
only the final scalar formula runs in DOUBLE — identical IEEE inputs
give identical IEEE outputs on both engines, then floor-scaling pins
the printed value.  PageRank goes further: the whole iteration is
fixed-point BIGINT arithmetic (scale 1e12, integer division), so three
rounds of rank propagation are bit-exact with no float anywhere.

Scale notes per operator are on the docstrings; none of these collects
to the driver, and the only loop (PageRank) is over a nation-level
aggregate that is dim-table sized by construction while the heavy
edge-extraction join runs once, before the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Catalog
from ..registry import query

#: PageRank fixed-point scale: ranks are BIGINTs worth rank * 1e12.
PR_SCALE = 1_000_000_000_000


@query(
    "agg_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS sx,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1e6) / 1e6 AS slope,
           floor((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) * 100) / 100 AS intercept,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1e6) / 1e6 AS r2
    FROM s ORDER BY l_returnflag
    """,
    tags=("aggregate", "stats"),
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression of price-cents on quantity, closed form.

    Spark ships ``regr_slope``/``regr_intercept``/``regr_r2``, but their
    internal double summation is order-dependent and cannot hash-match a
    second engine; instead the five sufficient statistics (n, Σx, Σy,
    Σxy, Σx², Σy²) are accumulated as exact integers (quantity is
    integral; extendedprice is exact cents under the established
    ``floor(x*100+0.5)`` idiom), so the one shuffle is a plain partial-
    aggregated hash agg over 3 groups, and the slope/intercept/R² math
    runs once per group on identical IEEE inputs.  Σy² exceeds BIGINT at
    ~sf1 (1e14 per row), so second-order sums go through DECIMAL(38,0) —
    exact at any scale factor.  Scale: identical plan shape to B17
    agg_basic; the statistics compose map-side, 100× data only widens
    the scan."""
    cat = Catalog(spark, sf_dir)
    x = F.col("l_quantity").cast("bigint")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    dec = "decimal(38,0)"
    s = cat.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    cov_n = n * sxy - sx * sy  # n·Σxy − Σx·Σy (all inputs exact-int doubles)
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        (F.floor(slope * 1e6) / 1e6).alias("slope"),
        (F.floor((sy - slope * sx) / n * 100) / 100).alias("intercept"),
        (F.floor(cov_n * cov_n / (var_x * var_y) * 1e6) / 1e6).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "agg_corr_matrix",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
             CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS d
      FROM lineitem
    ), s AS (
      SELECT l_returnflag, count(*) AS n,
             sum(q) AS sq, sum(c) AS sc, sum(d) AS sd,
             sum(q*q) AS sqq, sum(c*c) AS scc, sum(d*d) AS sdd,
             sum(q*c) AS sqc, sum(q*d) AS sqd, sum(c*d) AS scd
      FROM t GROUP BY 1
    ), p AS (
      SELECT l_returnflag, 'quantity' AS x_var, 'price' AS y_var,
             CAST(n AS DOUBLE) AS n, CAST(sq AS DOUBLE) AS sx,
             CAST(sc AS DOUBLE) AS sy, CAST(sqc AS DOUBLE) AS sxy,
             CAST(sqq AS DOUBLE) AS sxx, CAST(scc AS DOUBLE) AS syy
      FROM s
      UNION ALL
      SELECT l_returnflag, 'quantity', 'discount',
             CAST(n AS DOUBLE), CAST(sq AS DOUBLE), CAST(sd AS DOUBLE),
             CAST(sqd AS DOUBLE), CAST(sqq AS DOUBLE), CAST(sdd AS DOUBLE)
      FROM s
      UNION ALL
      SELECT l_returnflag, 'price', 'discount',
             CAST(n AS DOUBLE), CAST(sc AS DOUBLE), CAST(sd AS DOUBLE),
             CAST(scd AS DOUBLE), CAST(scc AS DOUBLE), CAST(sdd AS DOUBLE)
      FROM s
    )
    SELECT l_returnflag, x_var, y_var,
           floor((n*sxy - sx*sy)
                 / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) * 1e6) / 1e6
             AS corr
    FROM p ORDER BY l_returnflag, x_var, y_var
    """,
    tags=("aggregate", "stats"),
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over three lineitem measures.

    One hash aggregation accumulates all cross-moments as exact integers
    (quantity / price-cents / discount-bps); the three (x, y) pairs are
    then unpivoted from the single sufficient-statistics row with
    ``stack`` — so the correlation *matrix* costs exactly one shuffle
    regardless of how many measure pairs it covers (vs. one pass per
    pair with ``F.corr``, whose double accumulation is also summation-
    order-dependent and cross-engine unstable).  Second-order sums ride
    DECIMAL(38,0) for sf-proof exactness; the sqrt runs on identical
    IEEE-exact inputs in both engines."""
    cat = Catalog(spark, sf_dir)
    q = F.col("l_quantity").cast("bigint")
    c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    d = F.floor(F.col("l_discount") * 10000 + 0.5).cast("bigint")
    dec = "decimal(38,0)"
    s = cat.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"),
        F.sum(c).alias("sc"),
        F.sum(d).alias("sd"),
        F.sum((q * q).cast(dec)).alias("sqq"),
        F.sum((c * c).cast(dec)).alias("scc"),
        F.sum((d * d).cast(dec)).alias("sdd"),
        F.sum((q * c).cast(dec)).alias("sqc"),
        F.sum((q * d).cast(dec)).alias("sqd"),
        F.sum((c * d).cast(dec)).alias("scd"),
    )
    pairs = s.select(
        "l_returnflag",
        F.expr(
            """stack(3,
                 'quantity', 'price',    CAST(sq AS DOUBLE), CAST(sc AS DOUBLE),
                             CAST(sqc AS DOUBLE), CAST(sqq AS DOUBLE), CAST(scc AS DOUBLE),
                 'quantity', 'discount', CAST(sq AS DOUBLE), CAST(sd AS DOUBLE),
                             CAST(sqd AS DOUBLE), CAST(sqq AS DOUBLE), CAST(sdd AS DOUBLE),
                 'price',    'discount', CAST(sc AS DOUBLE), CAST(sd AS DOUBLE),
                             CAST(scd AS DOUBLE), CAST(scc AS DOUBLE), CAST(sdd AS DOUBLE)
               ) AS (x_var, y_var, sx, sy, sxy, sxx, syy)"""
        ),
        F.col("n").cast("double").alias("nd"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(cn) for cn in ("nd", "sx", "sy", "sxy", "sxx", "syy")
    )
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return pairs.select(
        "l_returnflag",
        "x_var",
        "y_var",
        (F.floor(corr * 1e6) / 1e6).alias("corr"),
    ).orderBy("l_returnflag", "x_var", "y_var")


@query(
    "ts_cohort_retention",
    oracle="""
    WITH uf AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
      FROM events GROUP BY 1
    ), act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS aw
      FROM events
    ), ca AS (
      SELECT uf.cw AS cohort_week,
             CAST(datediff('day', uf.cw, act.aw) // 7 AS INT) AS week_offset,
             count(DISTINCT act.user_id) AS n_active
      FROM act JOIN uf USING (user_id) GROUP BY 1, 2
    ), cs AS (SELECT cw, count(*) AS n_cohort FROM uf GROUP BY 1)
    SELECT cohort_week, week_offset,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(n_cohort AS BIGINT) AS n_cohort,
           CAST((n_active * 10000) // n_cohort AS BIGINT) AS retention_bp
    FROM ca JOIN cs ON ca.cohort_week = cs.cw
    ORDER BY cohort_week, week_offset
    """,
    tags=("timeseries", "aggregate"),
)
def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the events stream.

    cohort(u) = Monday-truncated week of u's first event; a cohort's
    week-k retention is the share of its users active in week
    cohort+k, reported in integer basis points (``div``-exact on both
    engines — no float ratio anywhere).  Scale shape: ONE events scan
    and ONE user-keyed shuffle — the per-user aggregate carries both
    the first-event week and the ``collect_set`` of activity weeks
    (set size bounded by the corpus timespan in weeks), so the old
    two-scan min/distinct pair plus user-keyed join collapses into one
    partial-aggregated pass (r8 plan audit; bit-identical, −20% at
    sf0.1).  Exploding the week set yields already-distinct
    (user, week) rows, and the cohort-size table needs NO second
    lineage: every user is active in their own cohort week, so
    n_cohort is exactly the offset-0 count, recovered with a window
    over the dim-sized (weeks × offsets) aggregate.  Nothing is ever
    keyed by a low-cardinality column before that final dim-sized agg,
    so skew at 100 TB stays bounded by per-user event counts."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events
    pu = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cw"),
        F.collect_set(F.date_trunc("week", "ts").cast("date")).alias("aws"),
    )
    offs = pu.select(
        F.col("cw").alias("cohort_week"), F.explode("aws").alias("aw")
    ).select(
        "cohort_week",
        F.expr("CAST(div(datediff(aw, cohort_week), 7) AS INT)").alias(
            "week_offset"
        ),
    )
    ca = offs.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )
    w = Window.partitionBy("cohort_week")
    return (
        ca.withColumn(
            "n_cohort",
            F.max(F.when(F.col("week_offset") == 0, F.col("n_active")))
            .over(w)
            .cast("bigint"),
        )
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            F.expr("CAST(div(n_active * 10000, n_cohort) AS BIGINT)").alias(
                "retention_bp"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "ts_rolling_distinct",
    oracle="""
    SELECT dd.day,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS users_7d
    FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) dd
    JOIN events e ON CAST(e.ts AS DATE) BETWEEN dd.day - 6 AND dd.day
    GROUP BY 1 ORDER BY 1
    """,
    tags=("timeseries", "window"),
)
def ts_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users, per observed day.

    Rolling COUNT(DISTINCT) cannot ride a window frame (Spark forbids
    DISTINCT aggregates over windows, and a naive range self-join is a
    7× fact-fact shuffle).  The scale-path rewrite: reduce events to
    distinct (day, user) pairs first (one user-day-keyed shuffle with
    map-side combine — the big win, since days×users is tiny next to
    raw events), then *forward-expand* each pair to the ≤7 trailing
    windows it can serve via ``explode(sequence(day, day+6))`` — a
    bounded map-side 7× on the already-reduced pairs — dedup, and count
    per window day.  The observed-day filter is a broadcast semi-join
    (days are dim-sized).  Total: shuffles keyed on (day,user) and day,
    no range join, no window state."""
    cat = Catalog(spark, sf_dir)
    pairs = cat.events.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    days = pairs.select(F.col("d").alias("day")).distinct()
    covers = pairs.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
        "user_id",
    ).distinct()
    return (
        covers.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("users_7d"))
        .orderBy("day")
    )


def _pagerank_oracle(iters: int = 3) -> str:
    """Generate the unrolled-CTE oracle for ``graph_pagerank``.

    DuckDB's ``//`` and Spark's ``div`` both do exact BIGINT division
    (all operands here are non-negative), so the fixed-point recurrence
    below is bit-identical to the Spark loop in :func:`graph_pagerank`.
    """
    ctes = [
        """e AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    )""",
        "ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1)",
        "nn AS (SELECT count(*) AS n FROM nation)",
        f"r0 AS (SELECT n_nationkey AS node, {PR_SCALE} // n AS r FROM nation, nn)",
    ]
    for k in range(1, iters + 1):
        prev = f"r{k - 1}"
        ctes.append(
            f"""r{k} AS (
      SELECT nd.node,
             ({15 * PR_SCALE} // (100 * nn.n))
             + (85 * (coalesce(ins.insum, 0) + (dg.dang // nn.n))) // 100 AS r
      FROM (SELECT node FROM r0) nd
      CROSS JOIN nn
      LEFT JOIN (SELECT e.dst AS node,
                        sum((p.r * e.w) // ow.outw) AS insum
                 FROM {prev} p
                 JOIN e ON e.src = p.node
                 JOIN ow ON ow.src = e.src
                 GROUP BY 1) ins ON ins.node = nd.node
      CROSS JOIN (SELECT coalesce(sum(p.r), 0) AS dang
                  FROM {prev} p LEFT JOIN ow ON ow.src = p.node
                  WHERE ow.src IS NULL) dg
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT n.n_nationkey AS node, n.n_name,
           CAST(r{iters}.r AS BIGINT) AS rank_fp
    FROM nation n JOIN r{iters} ON r{iters}.node = n.n_nationkey
    ORDER BY node"""
    )


@query("graph_pagerank", oracle=_pagerank_oracle(), tags=("graph", "iterative"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three damped PageRank iterations over the customer-nation →
    supplier-nation trade graph, in exact fixed-point arithmetic.

    Iterative algorithms are the one place Spark needs a driver-side
    loop — but only over the *rank* state, never the data: the heavy
    part (edge extraction: orders⋈customer⋈lineitem⋈supplier, grouped
    to weighted nation-pair edges) runs exactly once as a distributed
    aggregate, and the fixed-point iteration then runs entirely on the
    driver over the COLLECTED contracted graph — bounded by
    construction at nation×nation ≤ 625 weighted edges and ≤ 25 rank
    cells regardless of corpus size (graph contraction happens
    *before* iteration, the standard large-graph recipe).  History:
    r8 found un-truncated dataflow iteration compounding into a
    145-scan/144-join plan and fixed it with per-iteration
    ``localCheckpoint``s; r14 measured even the checkpointed loop at
    49 Spark jobs + ~2.8 s of driver stall per run for ≤25 rows of
    state, and moved the iteration driver-side outright (the same
    bounded-collect discipline as the BPE trainer's 1-row/step loop).
    Ranks are BIGINTs at scale 1e12 with integer-division
    damping (r' = div(15·S, 100·N) + div(85·(Σ div(r·w, outw) +
    div(dangling, N)), 100)), so all three engine-side iterations are
    bit-exact vs. the unrolled-CTE oracle — no float summation order
    anywhere.  Dangling mass (nations with no outgoing orders — real at
    small sf) is redistributed uniformly, matching the textbook
    formulation."""
    cat = Catalog(spark, sf_dir)
    edges = (
        cat.orders.join(cat.customer, F.expr("o_custkey = c_custkey"))
        .join(cat.lineitem, F.expr("l_orderkey = o_orderkey"))
        .join(cat.supplier, F.expr("l_suppkey = s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()  # bounded: nation×nation ≤ 625 weighted edges at ANY corpus size
    )
    nations = sorted(
        (r["n_nationkey"], r["n_name"])
        for r in cat.nation.select("n_nationkey", "n_name").collect()
    )  # bounded: the nation dimension
    n = len(nations)
    if n == 0:
        return spark.createDataFrame([], "node int, n_name string, rank_fp bigint")
    # r14 optimization: the previous form ran the 3 rank iterations as
    # dataflow (per iteration: two broadcast builds, a dangling-mass
    # anti-join aggregate, and a localCheckpoint) — 49 Spark jobs and
    # ~2.8 s of inter-job driver stall per run at sf0.1 (joblog), all
    # spent iterating a ≤25-row state.  The contracted graph is
    # dim-bounded BY CONSTRUCTION (nation×nation — independent of
    # corpus size), so the standard large-graph recipe applies in
    # full: the data-sized work (the 4-table edge contraction) stays a
    # distributed aggregate, and the fixed-point iteration runs on the
    # driver over the collected edge list in exact Python integers —
    # the same bounded-collect discipline as the BPE trainer's
    # 1-row/step loop.  Arithmetic is bit-identical to the old
    # dataflow and to the unrolled-CTE oracle: Python `//` on
    # non-negative BIGINTs == Spark `div` == DuckDB `//`.
    outw: dict[int, int] = {}
    for e in edges:
        outw[e["src"]] = outw.get(e["src"], 0) + e["w"]
    rank = {node: PR_SCALE // n for node, _ in nations}
    base = (15 * PR_SCALE) // (100 * n)
    for _ in range(3):
        insum: dict[int, int] = {}
        for e in edges:
            insum[e["dst"]] = insum.get(e["dst"], 0) + (rank[e["src"]] * e["w"]) // outw[e["src"]]
        dang = sum(r for node, r in rank.items() if node not in outw)
        rank = {
            node: base + (85 * (insum.get(node, 0) + dang // n)) // 100
            for node, _ in nations
        }
    return spark.createDataFrame(
        [(node, name, rank[node]) for node, name in nations],
        "node int, n_name string, rank_fp bigint",
    ).orderBy("node")


@query(
    "fn_aes_roundtrip",
    oracle="""
    SELECT c_custkey, c_name AS name_roundtrip,
           CAST((length(c_name) // 16 + 1) * 16 AS INT) AS ct_len
    FROM customer ORDER BY c_custkey
    """,
    tags=("function", "crypto"),
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AES-128-ECB encrypt→decrypt round trip on customer names.

    Exercises Spark's builtin column-level crypto (``aes_encrypt`` /
    ``aes_decrypt`` — JVM-side, codegen'd, no UDF): the decrypted
    output must round-trip byte-exactly, and the ciphertext length must
    equal the PKCS#7-padded block count (16·(⌊len/16⌋+1)) — a real
    property of the ciphertext the oracle can state without running
    AES.  ECB is used precisely because it is deterministic (GCM's
    random IV would break cross-run comparison); production callers
    wanting semantic security would pass 'GCM'.  Map-only: zero
    shuffles, scales with the scan."""
    cat = Catalog(spark, sf_dir)
    key = "0123456789abcdef"
    enc = F.expr(
        f"aes_encrypt(cast(c_name AS BINARY), '{key}', 'ECB', 'PKCS')"
    )
    dec = F.expr(
        f"cast(aes_decrypt(aes_encrypt(cast(c_name AS BINARY), '{key}', 'ECB', 'PKCS'),"
        f" '{key}', 'ECB', 'PKCS') AS STRING)"
    )
    return cat.customer.select(
        "c_custkey",
        dec.alias("name_roundtrip"),
        F.length(enc).cast("int").alias("ct_len"),
    ).orderBy("c_custkey")


@query(
    "text_rarity_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS w
      FROM documents
    ), tf AS (SELECT w, count(*) AS tf FROM tok GROUP BY 1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST((sum(tf) * 1000) // count(*) AS BIGINT) AS mean_tf_milli
    FROM tok JOIN tf USING (w)
    GROUP BY 1 ORDER BY doc_id
    """,
    tags=("text", "llm"),
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean corpus term frequency per document — the integer-exact core
    of rare/common-token quality filtering (documents whose tokens are
    on average very rare are OCR noise / codepoint soup; very common
    means boilerplate).  A unigram-LM perplexity score is this same
    dataflow with log-weights; the integer form is used here so the
    oracle is div-exact (float log sums are summation-order-dependent
    across engines).

    Scale shape: explode → token-keyed count (the corpus vocabulary,
    map-side combined) → token-keyed join of the exploded stream
    against the vocabulary → doc-keyed aggregate.  The vocabulary join
    is shuffle-on-token, which co-locates with the count that produced
    it; hot tokens (stopwords) are the classic skew key, bounded here
    by AQE skew-join splitting at scale."""
    cat = Catalog(spark, sf_dir)
    tok = cat.documents.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
            )
        ).alias("w"),
    )
    tf = tok.groupBy("w").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tok.join(tf, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.expr("CAST(div(sum(tf) * 1000, count(1)) AS BIGINT)").alias(
                "mean_tf_milli"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_drift_chi2",
    oracle="""
    WITH sl AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
    st AS (SELECT source, sum(c) AS t FROM sl GROUP BY 1),
    ll AS (SELECT lang, sum(c) AS lc FROM sl GROUP BY 1),
    tot AS (SELECT sum(c) AS n FROM sl),
    terms AS (
      SELECT sl.source, sl.lang, st.t,
             (CAST(sl.c AS DOUBLE)
              - CAST(st.t AS DOUBLE) * CAST(ll.lc AS DOUBLE) / CAST(tot.n AS DOUBLE))
             * (CAST(sl.c AS DOUBLE)
                - CAST(st.t AS DOUBLE) * CAST(ll.lc AS DOUBLE) / CAST(tot.n AS DOUBLE))
             / (CAST(st.t AS DOUBLE) * CAST(ll.lc AS DOUBLE) / CAST(tot.n AS DOUBLE))
               AS term
      FROM sl JOIN st USING (source) JOIN ll USING (lang) CROSS JOIN tot
    )
    SELECT source, CAST(max(t) AS BIGINT) AS n_docs,
           floor(list_reduce(list(term ORDER BY lang), (x, y) -> x + y) * 1e6)
             / 1e6 AS chi2
    FROM terms GROUP BY source ORDER BY source
    """,
    tags=("text", "llm", "stats"),
)
def corpus_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection per source: the chi-square statistic
    of each source's language mix against the corpus-wide mix — the
    monitoring primitive for "did this crawl slice drift from the
    corpus?".  Chi-square is chosen over KL deliberately: it needs only
    +,-,×,÷ on exact-integer-derived doubles (all correctly-rounded
    IEEE, bit-identical across engines), where KL's ``ln`` is only
    1-ulp-accurate per libm and NOT portable bit-for-bit.

    The remaining cross-engine hazard is summation ORDER, and it is
    removed structurally, not rounded away: per-(source,lang) terms are
    folded in sorted-by-lang order on both engines (``F.aggregate``
    over ``sort_array`` here, ``list_reduce(list(... ORDER BY lang))``
    in DuckDB) — a deterministic sequential reduction, exact at any
    scale.  Scale shape: the only corpus-sized pass is the first
    (source,lang) count (map-side combined); everything after operates
    on the (sources × languages) contingency table, which is dim-sized,
    and the per-source fold arrays are |languages| long, never
    |documents|."""
    cat = Catalog(spark, sf_dir)
    # The contingency table is (sources × languages)-sized and feeds
    # FOUR consumers (row/column/grand marginals + the term join):
    # checkpoint it so the corpus-sized count underneath runs ONCE —
    # localCheckpoint over cache() so no CacheManager entry outlives
    # the query (r8 audit; bit-identical, equal time at sf0.1).
    sl = (
        cat.documents.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    st = sl.groupBy("source").agg(F.sum("c").alias("t"))
    ll = sl.groupBy("lang").agg(F.sum("c").alias("lc"))
    tot = sl.agg(F.sum("c").alias("n"))
    cd, td, lcd, nd = (
        F.col("c").cast("double"),
        F.col("t").cast("double"),
        F.col("lc").cast("double"),
        F.col("n").cast("double"),
    )
    expected = td * lcd / nd
    terms = (
        sl.join(F.broadcast(st), "source")
        .join(F.broadcast(ll), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "t",
            ((cd - expected) * (cd - expected) / expected).alias("term"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("t").cast("bigint").alias("n_docs"),
            F.sort_array(F.collect_list(F.struct("lang", "term"))).alias("arr"),
        )
        .select(
            "source",
            "n_docs",
            (
                F.floor(
                    F.aggregate(
                        "arr", F.lit(0.0), lambda acc, x: acc + x["term"]
                    )
                    * 1e6
                )
                / 1e6
            ).alias("chi2"),
        )
        .orderBy("source")
    )


@query(
    "graph_triangle_count",
    # raw is MATERIALIZED: it is read six times, and DuckDB inlining it
    # into each read runs the four-way join six times over (past 3 GB
    # at sf0.1).  Same SQL meaning.
    oracle="""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
             greatest(c.c_nationkey, s.s_nationkey) AS b
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM raw e1
      JOIN raw e2 ON e2.a = e1.b
      JOIN raw e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT a AS node FROM raw UNION ALL SELECT b FROM raw)
      GROUP BY 1
    ),
    wedges AS (SELECT sum(d * (d - 1) // 2) AS n_wedges FROM deg)
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM raw) AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           CAST((3 * tri.n_triangles * 1000000) // wedges.n_wedges AS BIGINT)
             AS clustering_ppm
    FROM tri, wedges
    """,
    tags=("graph",),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the
    undirected nation trade graph (same edge extraction as
    ``graph_pagerank``, undirected/deduped).

    Algorithm: the oriented-edge join — every edge stored once as
    (a < b), triangles found by joining e1=(a,b) with e2=(b,c) and
    closing with e3=(a,c); the a<b<c orientation counts each triangle
    exactly once and, at scale, orienting from the lower-degree
    endpoint bounds each join's fan-out by the graph degeneracy (the
    standard distributed triangle recipe — here id-order stands in,
    the plan shape is identical).  The clustering coefficient is kept
    integer-exact: 3·triangles·1e6 div wedges (wedge count from exact
    per-node degrees), in parts-per-million.  Scale shape: the heavy
    4-table fact join contracts the graph FIRST; the triangle joins
    then run over the edge list, which is graph-sized, not
    corpus-sized."""
    cat = Catalog(spark, sf_dir)
    raw = (
        cat.orders.join(cat.customer, F.expr("o_custkey = c_custkey"))
        .join(cat.lineitem, F.expr("l_orderkey = o_orderkey"))
        .join(cat.supplier, F.expr("l_suppkey = s_suppkey"))
        .where(F.expr("c_nationkey <> s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
        # The deduped edge list feeds SIX consumers (three triangle
        # aliases, both degree projections, the edge count); checkpoint
        # rather than cache — lineage truncates the same way, the
        # graph-sized blocks free on GC, and no CacheManager entry
        # outlives the query (r8 audit; bit-identical, −20% at sf0.1).
        .localCheckpoint()
    )
    e1, e2, e3 = raw.alias("e1"), raw.alias("e2"), raw.alias("e3")
    tri = (
        e1.join(e2, F.expr("e2.a = e1.b"))
        .join(e3, F.expr("e3.a = e1.a AND e3.b = e2.b"))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        raw.select(F.col("a").alias("node"))
        .unionAll(raw.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("div(d * (d - 1), 2)")).alias("n_wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    n_edges = raw.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(n_edges))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            F.expr("CAST(div(3 * n_triangles * 1000000, n_wedges) AS BIGINT)").alias(
                "clustering_ppm"
            ),
        )
    )
