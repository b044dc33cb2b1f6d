"""Physical-plan assertions — the scale contract.

Correctness tests prove the operators compute the right answer at test
SF; these tests prove the *plans* are the ones that survive 100 TB:
filters and projections reach the parquet scan, small dimensions
broadcast, bucketed joins skip their exchanges, aggregates combine
map-side, and no row-at-a-time Python evaluation sneaks into the
relational hot path.  A regression here is invisible to result-checking
tests but turns a cluster-scale run from hours into days.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from dirhash_spark.registry import all_queries

SF = "/root/testdata/sf0.01"


def plan(spark, name: str, mode: str = "formatted") -> str:
    df = all_queries()[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_flagship_broadcasts_all_dims(spark):
    """Every join in the flagship is a broadcast hash join (orders,
    customer, nation, region all fit under the threshold); a sort-merge
    join here would mean shuffling the lineitem fact table 4 times."""
    p = plan(spark, "flagship_revenue_by_nation", "simple")
    assert p.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p


def test_flagship_prunes_lineitem_columns(spark):
    """The fact-table scan reads exactly the 3 columns the query needs
    (of 16) — at 100 TB column pruning is the difference between
    reading ~20 TB and reading 100 TB."""
    p = plan(spark, "flagship_revenue_by_nation")
    m = re.search(r"lineitem.*?ReadSchema: struct<([^>]*)>", p, re.S)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_extendedprice", "l_discount"}


def test_filter_reaches_parquet_scan(spark):
    """Comparison predicates are pushed into the parquet reader
    (row-group statistics skip data before it is ever decoded)."""
    p = plan(spark, "filter_pred")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, p
    assert "GreaterThan(l_quantity" in m.group(1)


def test_partitioned_sink_prunes_partitions(spark):
    """Reading back the hive-partitioned sink with a partition predicate
    shows PartitionFilters — the scan lists only the matching directory
    instead of the whole table."""
    p = plan(spark, "sink_parquet_partitioned")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m, p
    assert "o_orderstatus" in m.group(1)


def test_bucketed_join_has_no_join_exchange(spark):
    """Both sides are bucketed on the join key, so the forced sort-merge
    join runs with ZERO exchange before it — the only shuffle left is
    the post-join aggregation.  This is the amortization bucketing buys:
    the fact table's join shuffle is paid once at write time."""
    p = plan(spark, "join_bucketed", "simple")
    assert "SortMergeJoin" in p
    assert "BroadcastExchange" not in p
    # exactly one exchange: the groupBy(c_mktsegment) after the join
    assert p.count("Exchange") == 1, p


def test_broadcast_join_is_broadcast(spark):
    p = plan(spark, "join_broadcast", "simple")
    assert "BroadcastHashJoin" in p


def test_agg_combines_map_side(spark):
    """groupBy().agg() must plan partial (pre-shuffle) + final
    aggregation so the exchange carries one row per (group, partition),
    not one row per input row."""
    p = plan(spark, "agg_basic")
    assert "partial_sum" in p, p
    # two HashAggregate nodes around one Exchange: partial below, final above
    tree = p.split("(1) Scan")[0]
    assert tree.count("HashAggregate") == 2 and tree.count("Exchange") == 1, tree


def test_topk_uses_take_ordered(spark):
    """orderBy().limit(k) plans TakeOrderedAndProject — each partition
    keeps k rows and the driver merges, instead of a full global sort."""
    p = plan(spark, "limit_topk", "simple")
    assert "TakeOrderedAndProject" in p


def test_dedup_exact_is_single_shuffle(spark):
    """Exact dedup = one exchange on the 32-byte content hash; any
    second shuffle would double the cost of the cheapest dedup pass."""
    p = plan(spark, "dedup_exact", "simple")
    assert p.count("Exchange") == 1, p


@pytest.mark.parametrize(
    "name",
    [
        "flagship_revenue_by_nation",
        "join_inner_hash",
        "agg_basic",
        "win_running",
        "dedup_exact",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "sim_topk_cosine",
        "text_tokens",
        "merkle_fold_group",
    ],
)
def test_no_python_row_eval_in_hot_path(spark, name):
    """The relational + JVM-expressible LLM ops must never fall back to
    row-at-a-time Python evaluation (BatchEvalPython); Python appears
    only in explicitly Arrow-batched operators (minhash sketch, UDF
    surface queries)."""
    p = plan(spark, name, "simple")
    assert "BatchEvalPython" not in p


def test_aqe_coalesces_shuffle_partitions(spark):
    """AQE must be live, not just configured: after execution the final
    plan shows AQEShuffleRead coalescing the static shuffle-partition
    count down to what the data needs — the mechanism that makes the
    initial spark.sql.shuffle.partitions non-critical at any scale."""
    from pyspark.sql import functions as F

    from dirhash_spark.catalog import Catalog

    df = (
        Catalog(spark, SF)
        .orders.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:500]


def test_knn_join_embeddings_never_shuffle(spark):
    """k-NN join: the probe set broadcasts and the ranking exchange is
    the ONLY shuffle — it carries slim (probe_id, vec_id, score) tuples,
    never the embedding vectors (shuffling vectors would move the whole
    corpus per ranking pass)."""
    p = plan(spark, "sim_knn_join", "simple")
    assert "BroadcastExchange" in p
    assert p.count("Exchange hashpartitioning") == 1, p
    m = re.search(r"Exchange hashpartitioning\(probe_id[^\n]*", p)
    assert m is not None, p  # the one shuffle is on probe_id, post-scoring


def test_pivot_is_two_bounded_aggregations(spark):
    """pivot with an explicit value list plans exactly two aggregation
    passes (group on both keys map-side-reduced first, then the pivot
    aggregate) and NO distinct-values discovery job; both exchanges
    carry one row per group, not per input row."""
    p = plan(spark, "agg_pivot")
    tree = p.split("(1) Scan")[0]
    assert tree.count("Exchange") == 2, tree
    assert "partial_sum" in p, p  # map-side combine before the first exchange


def test_curation_pipeline_is_single_shuffle(spark):
    """The composed dedup→filter→sample pipeline must stay one scan +
    one shuffle, with the keeper pick PARTIALLY aggregated before the
    content-hash exchange (min_by carries the keeper row through the
    buffer — a join-back dedup would show a second exchange or a
    broadcast; a row_number window would admit no map-side combine and
    funnel a hot duplicate's every copy into one task)."""
    p = plan(spark, "pipeline_corpus_curation", "simple")
    assert p.count("Exchange") == 1, p
    assert "BroadcastExchange" not in p
    assert "partial_min_by" in p, p
    assert "Window" not in p, p


def test_clustered_sink_readback_pushes_date_filter(spark):
    """The clustered sink's read-back pushes the ship-date predicate to
    the parquet reader, where the write-time sortWithinPartitions makes
    row-group min/max statistics actually selective."""
    p = plan(spark, "sink_parquet_clustered")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "l_shipdate" in m.group(1), p


def test_ann_index_nprobe_is_partition_pruning(spark):
    """The persisted ANN index is partitioned by IVF list id, so the
    nprobe search reads only nprobe of the K index directories: the
    cluster_id IN (...) literal filter must appear as PartitionFilters
    on the index scan — at 100 TB this is the difference between
    scanning nprobe/K of the corpus and all of it."""
    p = plan(spark, "sim_ann_ivf_indexed")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m, p
    assert "cluster_id" in m.group(1), m.group(1)


def test_range_binned_broadcasts_points_and_prunes(spark):
    """The binned interval join must broadcast the small point side (the
    exploded interval side never shuffles for the join) and read only
    the 3 lineitem columns it needs — the whole point of the binning
    rewrite is one cheap equi join instead of an O(n*m) nested loop."""
    p = plan(spark, "join_range_binned")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    m = re.search(r"lineitem.*?ReadSchema: struct<([^>]*)>", p, re.S)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_quantity", "l_shipdate"}


def test_incremental_dedup_is_broadcast_probe(spark):
    """Batch-vs-corpus dedup probes a broadcast hash manifest — the
    corpus content itself is reduced to 32-byte digests before any
    join, and no sort-merge join (full corpus shuffle) appears."""
    p = plan(spark, "dedup_incremental", "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bitmap_distinct_combines_map_side(spark):
    """The bitmap distinct plan must build partial bitmaps before its
    shuffles (two-level HashAggregate on each key) — the point of the
    bitmap rewrite is that only (group, bucket) bitmaps cross the wire,
    never raw (group, user) pairs."""
    p = plan(spark, "agg_bitmap_distinct", "simple")
    # partial aggregation at both levels: bitmaps build before the
    # (event_type, bucket) exchange, counts sum before the final one
    assert "partial_bitmap_construct_agg" in p, p
    assert "partial_sum" in p, p
    assert "Exchange" in p


def test_ohlc_is_single_hash_aggregate(spark):
    """min_by/max_by endpoint picks keep OHLC a pure hash aggregate: no
    Sort, no Window in the plan — the window-function formulation would
    add a full per-key sort pass the aggregate form avoids.  (min_by
    over a struct key plans as SortAggregate — still partial+final with
    only per-partition sorts, not a global window sort.)"""
    p = plan(spark, "ts_resample_ohlc", "simple")
    assert "Window" not in p, p
    assert "partial_min_by" in p, p  # map-side combine before the shuffle


def test_levenshtein_join_is_equi_not_cartesian(spark):
    """Blocked candidate generation must plan as an equi-join on the
    (lang, bucket) block key — BroadcastNestedLoopJoin/CartesianProduct
    here would mean all-pairs comparison, the exact thing blocking
    exists to prevent."""
    p = plan(spark, "dedup_levenshtein", "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_null_safe_join_is_hash_join(spark):
    """Null-safe equality (<=>) must still hash-partition/broadcast like
    a plain equi-join — Catalyst treats it as a join key, not a residual
    condition forcing a nested loop."""
    p = plan(spark, "join_null_safe", "simple")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_pii_mask_is_map_only(spark):
    """PII masking is a pure projection: no Exchange anywhere in the
    plan — it must scale embarrassingly parallel with zero shuffle."""
    p = plan(spark, "text_pii_mask", "simple")
    assert "Exchange" not in p, p


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval set is tiny by construction — the overlap join must be a
    broadcast hash join so the (much larger) training-gram stream never
    shuffles."""
    p = plan(spark, "decontaminate_ngram_overlap", "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_common_ngrams_topk_never_global_sorts(spark):
    """The top-50 boilerplate cut must run as TakeOrderedAndProject —
    a global Sort of the full gram-frequency table would shuffle the
    whole vocabulary to one ordering pass."""
    p = plan(spark, "text_common_ngrams", "simple")
    assert "TakeOrderedAndProject" in p, p


def test_correlated_exists_decorrelates_to_semi_anti(spark):
    """EXISTS / NOT EXISTS must decorrelate to left-semi and left-anti
    hash joins — a correlated subquery left as a per-row nested loop is
    quadratic at scale."""
    p = plan(spark, "sql_correlated_exists", "simple")
    assert re.search(r"LeftSemi", p), p
    assert re.search(r"LeftAnti", p), p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_scalar_subquery_decorrelates(spark):
    """The correlated scalar max must run as an aggregate joined back
    (not per-row re-execution); the uncorrelated max enters as a
    one-time subquery literal."""
    p = plan(spark, "sql_scalar_subquery", "simple")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert re.search(r"HashAggregate", p), p


def test_url_canonical_is_single_shuffle(spark):
    """URL canonicalization is map-only regexp work; the whole query
    must cost exactly one exchange (the canonical-key groupBy)."""
    p = plan(spark, "dedup_url_canonical", "simple")
    assert p.count("Exchange") == 1, p


def test_lateral_topk_decorrelates_to_window(spark):
    """The correlated LATERAL LIMIT must rewrite to a window rank +
    hash join — per-customer re-execution (nested loop) would be
    O(customers × orders) at scale."""
    p = plan(spark, "sql_lateral_topk", "simple")
    assert "Window" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_python_datasource_plans_eight_partitions(spark):
    """The custom DataSource must expose its declared splits as real
    input partitions — one task per partition is what makes a custom
    reader scale like a file scan."""
    df = all_queries()["scan_python_datasource"].fn(spark, SF)
    assert df.rdd.getNumPartitions() == 8


def test_cached_branches_reuse_in_memory_scan(spark):
    """Both aggregation branches must read the persisted intermediate
    (InMemoryTableScan ×2), not rescan parquet — the reuse the persist
    exists to buy.  The registered query is now eager (it collects the
    13-row result so it can unpersist deterministically), so the pin
    explains the shared lazy union the query collects from."""
    import io
    from contextlib import redirect_stdout

    from dirhash_spark.operators.scans import _cached_branch_frames

    union, hot = _cached_branch_frames(spark, SF)
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            union.explain("simple")
        p = buf.getvalue()
        assert p.count("InMemoryTableScan") >= 2, p
    finally:
        hot.unpersist()


def test_aqe_coalesces_small_shuffle(spark):
    """With AQE on, a low-cardinality aggregate's 32 shuffle partitions
    must coalesce at runtime (AQEShuffleRead) — the knob that stops a
    1000-executor job from scheduling thousands of near-empty reducers."""
    df = all_queries()["agg_basic"].fn(spark, SF)
    df.collect()  # materialize so AQE finalizes the plan
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "AQEShuffleRead" in p, p
    assert "coalesced" in p.lower() or "isFinalPlan=true" in p, p


def test_zscore_is_broadcast_two_pass_not_window(spark):
    """ts_zscore must standardize via a tiny broadcast stats join — a
    whole-partition window here repartitions the full fact table onto
    #event-type reducers (5 at any SF), the textbook skew cliff.  The
    window form stays registered as ts_zscore_window (witness)."""
    p = plan(spark, "ts_zscore", "simple")
    assert "BroadcastHashJoin" in p
    assert "Window" not in p
    pw = plan(spark, "ts_zscore_window", "simple")
    assert "Window" in pw  # the witness really is the other physical form


def test_cogroup_asof_keys_on_bucket_not_user(spark):
    """udtf_cogroup_asof pays one Python call per cogroup; keying on the
    raw user_id means interpreter crossings scale with user cardinality
    (measured 12.7s at sf0.1 pre-fix).  The exchange must be on the
    64-way hash bucket, with merge_asof aligning users inside a batch."""
    p = plan(spark, "udtf_cogroup_asof", "formatted")
    assert "FlatMapCoGroupsInPandas" in p
    assert "hashpartitioning(bucket" in p
    assert "hashpartitioning(user_id" not in p


def test_pack_sequences_windows_per_shard_never_global(spark):
    """pack_sequences' prefix sum must be partitioned by the shard key —
    a global ORDER BY here means one total sort of the corpus and a
    single-reducer window at 100 TB.  The shard exchange is hash, not
    range."""
    p = plan(spark, "pack_sequences", "formatted")
    assert "hashpartitioning(shard" in p
    assert "rangepartitioning" not in p.lower()


def test_runtime_bloom_filter_injects_through_catalog_tables(spark):
    """The catalog must not break InjectRuntimeFilter: with bloom
    filtering enabled and a selective dim filter, the fact side of a
    shuffle join gets a bloom_filter_agg semi-join reduction.  This
    regressed silently when load_table wrapped timestamp columns in a
    cast Project (round 4); scan-level typing via inferTimestampNTZ=
    false restored it.  Thresholds are test-scale overrides — at real
    fact sizes the 10GB default triggers on its own."""
    from pyspark.sql import functions as F

    from dirhash_spark.catalog import Catalog

    # Build the DataFrames BEFORE overriding confs: every catalog access
    # runs configure(), which re-applies the engine's broadcast
    # threshold and would flip the join back to broadcast (where bloom
    # correctly does not apply — broadcast already beats it).
    cat = Catalog(spark, SF)
    li = cat.lineitem
    dim_base = cat.part

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        dim = dim_base.where(F.col("p_type") == "PROMO")
        j = (
            li.join(dim, li["l_partkey"] == dim["p_partkey"])
            .groupBy("p_type")
            .count()
        )
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in p, "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_temperature_sampling_broadcast_only(spark):
    """corpus_temperature_sampling: the quota table (one row per
    language) must ride as broadcast joins — a sort-merge join against
    a 5-row side would shuffle the whole corpus twice.  The only
    corpus-wide exchange allowed is the per-language window's
    hashpartitioning(lang) for the output-sized rank."""
    p = plan(spark, "corpus_temperature_sampling", "simple")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p


@pytest.mark.parametrize(
    "name",
    ["join_asof", "join_asof_forward", "join_asof_tolerance", "join_asof_nearest"],
)
def test_asof_union_merge_single_shuffle(spark, name):
    """The union-merge as-of forms must stay one exchange + one window
    pass with no join node at all: the tagged union co-partitions both
    inputs in a single hashpartitioning(user_id) shuffle and the window
    resolves the as-of match.  A SortMergeJoin (or a second Exchange)
    appearing here means the plan regressed to the pairwise form, whose
    intermediate blows up on power users at scale."""
    p = plan(spark, name, "simple")
    assert p.count("Exchange") == 1, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "Window" in p


def test_asof_pairwise_combines_map_side(spark):
    """The pairwise as-of witness deliberately multiplies rows through
    its range join; the reduction must be a max_by aggregate with a
    map-side partial (the exchange then carries at most one row per
    (partition, event), not the multiplied intermediate) and no Window
    stage — the row_number formulation would shuffle and fully sort the
    multiplied rows, which is what this form measured 2.3x slower."""
    p = plan(spark, "join_asof_pairwise", "formatted")
    assert "partial_max_by" in p, p
    assert "Window" not in p
    # exactly one shuffle (the broadcast of events is not a shuffle)
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_merge_upsert_never_shuffles_base(spark):
    """MERGE applies the change batch as a broadcast build side: the
    base customer scan streams through map-side with no exchange
    between scan and join — the full-outer-join formulation would
    shuffle the entire base on the key."""
    p = plan(spark, "merge_upsert", "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p


def test_mode_median_preaggregates_before_window(spark):
    """The mode branch windows over (group, value) COUNTS, never a
    per-group value list: the only pre-window exchange carries
    aggregated partials, and the stats-reassembly join is broadcast."""
    p = plan(spark, "agg_mode_median", "simple")
    assert "BroadcastHashJoin" in p
    assert "collect_list" not in p
    assert "SortMergeJoin" not in p


def test_anomaly_mad_is_broadcast_two_pass(spark):
    """Both median passes come back as 5-row broadcast tables; the
    events fact table itself joins them map-side and is never shuffled
    or windowed (same contract as ts_zscore's broadcast form)."""
    p = plan(spark, "ts_anomaly_mad", "simple")
    assert "SortMergeJoin" not in p
    assert "Window" not in p
    # Every exchange carries per-type aggregation partials — fact rows
    # themselves are never shuffled (the joins are all broadcast).
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "event_type" in line, line
    # The 5-row median table is localCheckpoint'ed and BOTH consumers
    # (MAD's build side, the final stats join) read the materialized
    # blocks: exactly 3 fact passes execute — median materialization,
    # MAD, final filter — and no CacheManager entry outlives the query.
    assert p.count("Scan ExistingRDD") == 2, p
    assert "InMemoryTableScan" not in p, p


def test_regexp_all_is_map_only(spark):
    """Five regexp expressions, one Project, zero exchanges — the whole
    query is a single codegen stage over the pruned (doc_id, text)
    scan."""
    p = plan(spark, "fn_regexp_all", "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_containment_is_equi_join_not_cartesian(spark):
    """The inverted-index pair generation is a hash equi-join on the
    gram key: no nested-loop/cartesian anywhere, and pair counts
    pre-aggregate map-side before the (doc_a, doc_b) exchange."""
    p = plan(spark, "dedup_containment", "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_event_transitions_single_fact_shuffle(spark):
    """The lag window's hashpartitioning(user_id) is the only exchange
    that scales with the data; everything after it is the
    |event vocabulary|^2-sized transition table."""
    p = plan(spark, "ts_event_transitions", "simple")
    assert "SortMergeJoin" not in p
    fact_exchanges = [
        ln
        for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln and "user_id" in ln
    ]
    assert len(fact_exchanges) == 1, p


def test_regression_and_corr_single_shuffle(spark):
    """The sufficient-statistics rewrite buys the whole regression /
    correlation matrix for ONE partial-aggregated shuffle over the
    3-row group key: no second pass per measure pair, no window, no
    join.  (F.corr per pair would be 3 passes and engine-unstable.)"""
    for name in ("agg_regression", "agg_corr_matrix"):
        p = plan(spark, name, "simple")
        assert p.count("Exchange hashpartitioning") == 1, (name, p)
        assert "partial_" in p, (name, p)  # map-side combine
        assert "Join" not in p, (name, p)


def test_rolling_distinct_no_range_join(spark):
    """The forward-expansion rewrite: no fact-fact range join (which
    would be a BroadcastNestedLoopJoin or cartesian on the interval
    predicate) — only hash exchanges on (day,user)/day plus a broadcast
    semi-join against the dim-sized observed-day list."""
    p = plan(spark, "ts_rolling_distinct", "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p  # observed-days semi-join


def test_pagerank_iterates_over_contracted_graph(spark):
    """The 4-table edge-extraction join happens once (a distributed
    aggregate collected as the dim-bounded contracted graph); the rank
    iteration runs driver-side over that ≤ nation×nation edge list
    (r14), so the heavy fact tables never appear in the returned plan
    at all — it is a literal local relation of the final ranks."""
    p = plan(spark, "graph_pagerank", "simple")
    assert "LocalTableScan" in p or "Scan ExistingRDD" in p, p
    assert "SortMergeJoin" not in p
    assert "FileScan parquet" not in p, p


def test_rarity_score_vocabulary_join_colocates(spark):
    """Token-frequency join keys on the token both sides — the exploded
    stream and the vocabulary arrive at the join under the same
    hashpartitioning(w), so the join itself adds no third exchange of
    the token stream (Spark reuses the child partitioning)."""
    p = plan(spark, "text_rarity_score", "simple")
    assert "CartesianProduct" not in p
    # exploded tokens shuffle on w for the count and for the join; the
    # doc-side aggregate shuffles on doc_id: no more than 4 exchanges
    # total (w-count, w-join x2 sides at worst, doc_id), never 5+.
    assert p.count("Exchange hashpartitioning") <= 4, p


def test_snapshot_diff_colocated_full_outer(spark):
    """Snapshot diffing is one key-keyed full-outer join: both snapshot
    sides exchange once on the key and co-locate; change detection is
    map-side column comparison above the join (no fingerprint subplan,
    no nested loop)."""
    p = plan(spark, "snapshot_diff", "simple")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_quality_checks_fuse_into_one_fact_pass(spark):
    """The four single-table expectations compile to ONE aggregate over
    orders (conditional sums in a single pass, unpivoted after); only
    the FK check adds a second scan, as a broadcast anti-join.  Two
    fact scans total — not one per check."""
    p = plan(spark, "quality_expectations")
    assert p.count("orders.parquet") == 2, p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_drift_chi2_single_corpus_pass(spark):
    """Only the (source,lang) count touches the corpus; every join
    after it is a broadcast over the dim-sized contingency table, and
    the ordered fold runs over |languages|-long arrays — no second
    corpus-sized exchange, no sort-merge join."""
    p = plan(spark, "corpus_drift_chi2", "simple")
    assert "SortMergeJoin" not in p
    # the contingency table is checkpointed: the corpus scan+count runs
    # once and every marginal reads the materialized blocks
    assert "Scan ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p


def test_maxsim_vectors_never_shuffle(spark):
    """Late-interaction scoring: the query token vectors broadcast;
    document vectors score partition-local and only slim
    (label, qid, max_dot) partials reach the exchanges — same contract
    as sim_knn_join."""
    p = plan(spark, "sim_maxsim_late_interaction", "simple")
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    for ln in p.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "arr" not in ln and "embedding" not in ln, ln


def test_triangle_count_iterates_cached_edges(spark):
    """The 4-table edge extraction contracts the graph once
    (checkpointed); the triangle closure joins run over the edge list,
    not the fact tables."""
    p = plan(spark, "graph_triangle_count", "simple")
    assert "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p


def test_cusum_single_fact_shuffle(spark):
    """Only the daily rollup touches the corpus: one
    hashpartitioning(day) exchange with map-side combine; the CUSUM
    windows run on the calendar-sized series (SinglePartition is
    deliberate and bounded)."""
    p = plan(spark, "ts_changepoint_cusum", "simple")
    # daily rollup checkpointed: corpus read once, blocks reused
    assert "Scan ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p


def test_simhash_bucket_collect_single_fingerprint_pass(spark):
    """The banded self-join form executed the 64-aggregate per-bit vote
    twice (two FileScans, no ReusedExchange) and broadcast the banded
    fingerprints of the whole corpus; the bucket-collect rewrite must
    scan documents ONCE and carry no broadcast at all — the pair
    expansion happens in-row inside each (band_id, band_val) bucket."""
    p = plan(spark, "dedup_simhash", "simple")
    assert p.count("FileScan parquet") == 1, p
    assert "BroadcastExchange" not in p, p
    assert "Join" not in p, p
    # First-shared-band emission (r8): each qualifying pair is emitted
    # exactly once — from the earliest quarter the two fingerprints
    # share — so the pair-volume distinct exchange is gone and the ONLY
    # shuffle left is the bucket groupBy.
    assert p.count("Exchange hashpartitioning") == 1, p


def test_containment_posting_list_single_gram_pass(spark):
    """The posting-list rewrite computes the shingle strings ONCE (one
    documents scan) and replaces the gram self-join + size join-back
    with in-row pair expansion: exactly two hash exchanges (gram,
    pair), no join operator at all."""
    p = plan(spark, "dedup_containment", "simple")
    assert p.count("FileScan parquet") == 1, p
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "Join" not in p, p


def test_dynamic_partition_pruning_in_fact_scan(spark):
    """The runtime month set from the filtered dim side must reach the
    partitioned fact scan as a dynamicpruning subquery — without it the
    join reads all month directories and filters after I/O."""
    p = plan(spark, "join_dynamic_partition_prune")
    assert "dynamicpruning" in p, p[:800]


def test_pattern_match_single_session_shuffle(spark):
    """Path serialization is one shuffle on the session key; the regex
    runs post-aggregation on session-count rows (no window, no join)."""
    p = plan(spark, "sessionize_pattern_match", "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p


def test_production_python_stages_cross_as_arrow_batches():
    """Every production Python stage takes and yields Arrow batches
    (mapInArrow / applyInArrow / arrow_udf): the pandas entry points
    appear only in udfs.py, whose queries prove each rung of the tier
    ladder, and stateful.py, whose applyInPandasWithState has no Arrow
    twin."""
    import pathlib

    import dirhash_spark

    pkg = pathlib.Path(dirhash_spark.__file__).resolve().parent
    allowed = {"operators/udfs.py", "streaming/stateful.py"}
    for needle in ("mapInPandas(", "applyInPandas(", "pandas_udf", "import pandas"):
        hits = {
            str(p.relative_to(pkg))
            for p in pkg.rglob("*.py")
            if needle in p.read_text()
        }
        assert hits <= allowed, (needle, sorted(hits - allowed))


def test_arrow_udf_plans_arrow_eval(spark):
    """@udf(useArrow=True) must cross the Python boundary as Arrow
    batches (ArrowEvalPython), never the pickled row path
    (BatchEvalPython) — the entire point of the middle rung."""
    p = plan(spark, "udf_python_arrow", "simple")
    assert "ArrowEvalPython" in p, p
    assert "BatchEvalPython" not in p, p


def test_nested_schema_pruning_and_pushdown(spark):
    """Struct payloads must prune to the touched leaves (the untouched
    `status` field absent from ReadSchema) AND push comparison filters
    into the struct fields at the parquet reader."""
    p = plan(spark, "scan_nested_pruning")
    m = re.search(r"ReadSchema: (.*)", p)
    assert m, p
    assert "status" not in m.group(1), m.group(1)
    assert "priority" in m.group(1) and "price" in m.group(1)
    assert "GreaterThan(info.price" in p, p


def test_exchange_reuse_at_runtime(spark):
    """Two branches over the same per-supplier aggregate must share ONE
    exchange: AQE's reuse detection replaces the second identical
    shuffle subtree with a ReusedExchange in the executed plan, so the
    corpus-sized aggregation runs once."""
    df = all_queries()["sql_exchange_reuse"].fn(spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p, p[:800]


def _verify_stage_plan(spark, sf_dir, include_lsh=False):
    import contextlib as _ctx
    import io as _io

    from dirhash_spark.operators.dedup import _neardup_verified_pairs

    df = _neardup_verified_pairs(spark, sf_dir, include_lsh=include_lsh)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


def test_neardup_e2e_verify_stage_no_all_pairs(spark):
    """The composed near-dup pipeline's candidate+verify stage (planned
    pre-checkpoint — the registered query materializes it before the CC
    loop) must never fall back to an all-pairs topology: candidates come
    from the df-capped posting index (plus the LSH band buckets in the
    union variant), and on a benign corpus the verify join broadcasts
    the slim pair list against the gram arrays — arrays don't shuffle."""
    for include_lsh in (False, True):
        p = _verify_stage_plan(spark, SF, include_lsh=include_lsh)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "SortMergeJoin" not in p
        assert "BroadcastHashJoin" in p


def test_neardup_e2e_verify_flips_to_smj_on_dense_candidates(spark, monkeypatch):
    """The broadcast→sort-merge flip is code, not a docstring: when the
    counted candidate list exceeds VERIFY_BROADCAST_MAX_PAIRS (here
    pinned to 0 to simulate a near-dup-dense corpus; the skew fixture's
    boilerplate clique is the real-world trigger), the verify stage must
    plan doc_id-keyed SortMergeJoins with NO broadcast of the pair
    list."""
    from dirhash_spark.operators import dedup

    monkeypatch.setattr(dedup, "VERIFY_BROADCAST_MAX_PAIRS", 0)
    p = _verify_stage_plan(spark, SF, include_lsh=False)
    assert "SortMergeJoin" in p, p
    assert "BroadcastHashJoin" not in p, p
    assert "CartesianProduct" not in p


def test_chunk_sliding_is_map_only(spark):
    """Chunking is tokenize + sequence-explode + slice: zero exchanges,
    runs at scan speed."""
    p = plan(spark, "text_chunk_sliding", "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_surprisal_token_stream_shuffles_once_per_purpose(spark):
    """The vocab table feeds both the 1-row total aggregate and the
    bits projection; un-pinned, that lineage diamond planned as two
    extra corpus scans (the claimed ReusedExchange never materialized
    across the partial-agg boundary — r8 audit).  With the vocab
    localCheckpoint the lazy plan holds exactly ONE parquet scan (the
    score probe) plus two reads of the materialized word-count table;
    the 1-row total broadcasts and the doc rollup is the only other
    corpus-scale exchange."""
    p = plan(spark, "text_surprisal_bits", "simple")
    assert "SortMergeJoin" not in p
    assert p.count("FileScan parquet") == 1, p
    assert p.count("ExistingRDD") == 2, p
    assert p.count("Exchange hashpartitioning") <= 4, p


def test_bloom_probe_manifest_broadcasts(spark):
    """The bloom manifest (512 words) must broadcast to the probe side;
    the exact-truth hash probe broadcasts too (dedup_incremental's
    contract) — no shuffle of the batch against either."""
    p = plan(spark, "dedup_bloom_probe", "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_verbatim_runs_no_join_topology(spark):
    """Verbatim-run stitching on a SMALL local corpus (below the hash
    pre-pass crossover) is bucket-collect + in-row expansion + one
    windowed island pass: no join operator anywhere, no
    nested-loop/cartesian fallback."""
    p = plan(spark, "dedup_verbatim_runs", "simple")
    assert "CartesianProduct" not in p
    assert "Join" not in p, p


def test_verbatim_runs_prepass_route_topology(spark, monkeypatch):
    """Production-size route (forced by zeroing the byte crossover):
    the matched-hash set joins back BROADCAST, so the only corpus-wide
    exchange before the survivor bucketing carries the 8-byte window
    hash — window strings never shuffle.  No sort-merge join, no
    cartesian."""
    import dirhash_spark.operators.dedup as dedup_mod

    monkeypatch.setattr(dedup_mod, "_VERBATIM_PREPASS_MIN_BYTES", 0)
    p = plan(spark, "dedup_verbatim_runs")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    # the count pre-pass ran eagerly inside the matched-hash
    # localCheckpoint (its 8-byte-key exchange is behind this
    # ExistingRDD scan); the string-side explode feeds the broadcast
    # join DIRECTLY — no exchange may sit between the window explode
    # and the survivor filter, i.e. window strings never shuffle
    # before the (survivor-only) bucket groupBy.
    assert "ExistingRDD" in p, p
    join_above_explode = re.search(r"BroadcastHashJoin[\s\S]*?Generate", p)
    assert join_above_explode, p
    assert "Exchange" not in join_above_explode.group(0), p


def test_vocab_coverage_corpus_touched_once(spark):
    """Only the token count touches the corpus (one hashpartitioning
    exchange on the word key); ranking and cumulative sums run on the
    vocabulary table, and the 3-row K list joins it broadcast."""
    p = plan(spark, "corpus_vocab_coverage", "simple")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_winnow_fingerprints_map_only_after_spread(spark):
    """Winnowing is in-row array math: after the parallelism-buying
    round-robin spread there is no keyed exchange, no join, and no
    Python evaluation anywhere."""
    p = plan(spark, "text_winnow_fingerprints", "simple")
    assert "Exchange hashpartitioning" not in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_gopher_rules_map_only(spark):
    """Every Gopher rule is in-row integer arithmetic: the whole filter
    must run at scan speed — zero exchanges, zero joins, zero Python."""
    p = plan(spark, "text_gopher_quality_rules", "simple")
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p, p


def test_pq_rerank_broadcasts_candidate_ids(spark):
    """PQ query path (r14 topology): the corpus shuffles ONCE — the
    distinct-embedding groupBy that replaced the round-robin
    repartition (same volume, map-side combined) — the Arrow encode
    stage runs once over the grouped reps, ADC scoring is in-row (no
    join), the exact re-rank is a probe crossJoin over the bounded
    candidate rows (rep vectors pass through the encoder, so no second
    corpus scan there), and the clique expansion joins the TOP-K rep
    vectors back to the corpus as a broadcast.  No sort-merge or
    shuffled-hash join anywhere; the only nested-loops are the 1-row
    probe/table crosses."""
    p = plan(spark, "sim_ann_pq", "simple")
    assert p.count("MapInArrow") == 1, p
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "ShuffledHashJoin" not in p, p


def test_bpe_encode_broadcasts_vocabulary(spark):
    """The trained-BPE apply must join the corpus token stream against
    the vocabulary-sized dictionary as a broadcast (the corpus only
    ever shuffles on doc_id for the final rollup)."""
    p = plan(spark, "vocab_bpe_encode", "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_ivfpq_prunes_partitions_and_never_scans_floats_for_adc(spark):
    """sim_ann_ivfpq's contract at 100 TB: (a) every index scan carries
    the cluster_id IN (...) PartitionFilters (only nprobe of the K
    directories are listed), (b) the ADC candidate stage — executed
    eagerly by the query, so pinned on its exposed helper frame — reads
    the ~50x-compressed codes+nrm columns WITHOUT the float vectors
    (the full-corpus float read is exactly what IVFPQ exists to avoid),
    and (c) the returned re-rank plan reads v but never codes, reduced
    to the collected candidate ids by a broadcast join."""
    import numpy as np

    from dirhash_spark.catalog import Catalog
    from dirhash_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    cat = Catalog(spark, sf)
    cents = S._train_centroids(cat)
    books = S._train_pq_residual_codebooks(cat, cents)
    index = spark.read.parquet(S.build_ann_index(spark, sf))
    pv = np.asarray(
        cat.embeddings.where("vec_id = 0")
        .selectExpr("cast(embedding as array<double>) p")
        .first()["p"]
    )
    lists = S._probe_nprobe_lists(cents, pv)
    adc_plan = S._ivfpq_adc_candidates(
        cat, index, cents, books, pv, lists
    )._sc._jvm.PythonSQLUtils.explainString(
        S._ivfpq_adc_candidates(cat, index, cents, books, pv, lists)
        ._jdf.queryExecution(),
        "formatted",
    )

    def scans(p):
        found = re.findall(
            r"Scan parquet[^(]*?PartitionFilters: \[([^\]]*)\].*?ReadSchema: struct<([^>]*)>",
            p,
            re.S,
        )
        return [
            ({c.split(":")[0] for c in rs.split(",")}, pf)
            for pf, rs in found
            if "cluster_id" in pf
        ]

    adc_scans = scans(adc_plan)
    assert adc_scans, adc_plan
    for cols, pf in adc_scans:
        assert "codes" in cols and "v" not in cols, cols
        assert "isin" in pf or "IN" in pf.upper(), pf

    p = plan(spark, "sim_ann_ivfpq")
    rerank_scans = scans(p)
    assert rerank_scans, p
    for cols, _ in rerank_scans:
        assert "v" in cols and "codes" not in cols, cols
    assert "BroadcastHashJoin" in p  # re-rank joins the tiny cand list


def test_embedding_ann_dedup_is_one_shuffle_blocked_matmul(spark):
    """dedup_embedding_ann's scale contract: ONE keyed shuffle on the
    IVF list id into a per-list blocked matmul (FlatMapGroupsInArrow)
    — no join of any kind, no cartesian, and exactly one parquet scan
    of the embeddings (the assignment pass)."""
    p = plan(spark, "dedup_embedding_ann")
    assert "CartesianProduct" not in p and "Join" not in p
    assert "FlatMapGroupsInArrow" in p
    # formatted mode prints each node in the tree AND a details section
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    # first-shared-list emission (r9): the per-list scorer IS the
    # output — exactly one exchange (the list-id keying), no cross-list
    # reconciliation shuffle over the survivor set
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_funnel_map_only_single_aggregate(spark):
    """The funnel report is one corpus scan with in-row predicate
    evaluation and ONE tiny hash exchange (the per-source rollup) — no
    explode, no join; at 100 TB it runs at scan speed."""
    p = plan(spark, "corpus_quality_filter_funnel", "simple")
    assert p.count("FileScan parquet") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, p
    assert "Generate" not in p, p


def test_seasonal_decompose_windows_on_rollup(spark):
    """The corpus is touched once (daily rollup groupBy, pinned behind
    a localCheckpoint since the r9 calendar densification made the
    rollup feed two branches); the gap-fill join and both window
    passes (7-day trend, day-of-week seasonal mean) run on the
    O(days x event_types) rollup, so their exchanges carry thousands
    of rows at any corpus size."""
    p = plan(spark, "ts_seasonal_decompose", "simple")
    # the corpus scan happens ONCE, eagerly, at rollup checkpoint time;
    # the lazy plan reads the materialized rollup twice (calendar span
    # + gap-fill probe) and must contain no parquet scan at all
    assert p.count("FileScan parquet") == 0, p
    assert p.count("ExistingRDD") == 2, p
    assert "BroadcastHashJoin" in p, p
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_perplexity_bigram_two_scan_no_count_diamond(spark):
    """Bigrams form in-row (no positional explode + lag), and c(w1)
    derives from the count table by a WINDOW, not a groupBy+self-join:
    the join form planned the c12 subtree twice, costing two extra
    corpus scans.  Pinned: exactly two corpus scans (count-table build
    + score probe — text_surprisal_bits' intended topology) and a
    single join (the score join)."""
    p = plan(spark, "text_perplexity_bigram", "simple")
    assert p.count("FileScan parquet") == 2, p
    assert p.count("Generate") == 2, p
    joins = p.count("SortMergeJoin") + p.count("ShuffledHashJoin") + p.count("BroadcastHashJoin")
    assert joins == 1, p


def test_event_funnel_single_scan_single_user_exchange(spark):
    """funnel_stages: the ordered signup>click>purchase funnel reads
    events ONCE and pays ONE user-keyed exchange — the per-stage
    aggregate-and-join-back form cost three corpus scans and four
    user-keyed exchanges (r8 audit; bit-identical, −42% at sf0.1).
    The in-row array_min(filter(...)) resolution means no join may
    ever appear."""
    p = plan(spark, "funnel_stages", "simple")
    assert p.count("FileScan parquet") == 1, p
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_cohort_retention_single_scan_no_join(spark):
    """ts_cohort_retention: one events scan, one user-keyed exchange
    (min-week + collect_set of activity weeks in the same partial-
    aggregated pass), and cohort size recovered from the offset-0 rows
    by a window over the dim-sized rollup — the min/distinct/join form
    cost two corpus scans plus a corpus-sized join (r8 audit;
    bit-identical, −20% at sf0.1)."""
    p = plan(spark, "ts_cohort_retention", "simple")
    assert p.count("FileScan parquet") == 1, p
    assert "Join" not in p, p


def test_pagerank_iteration_lineage_truncated(spark):
    """graph_pagerank: no iteration lineage survives into the returned
    plan at all — the contracted graph is collected (dim-bounded) and
    iterated driver-side (r14; the r8 localCheckpoint form still
    compounded 49 jobs + ~2.8 s of driver stall per run for ≤25 rows
    of state), so the result is a literal local relation with zero
    corpus scans and zero joins."""
    p = plan(spark, "graph_pagerank", "simple")
    assert p.count("FileScan parquet") == 0, p
    assert "Join" not in p, p


def test_triangle_count_single_checkpointed_edge_list(spark):
    """graph_triangle_count: the deduped oriented edge list is
    checkpointed once and every consumer (triangle aliases, degrees,
    edge count) reads the materialized blocks — no parquet scan may
    appear in the final plan at all."""
    p = plan(spark, "graph_triangle_count", "simple")
    assert p.count("FileScan parquet") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_time_to_convert_single_scan_no_join(spark):
    """funnel_time_to_convert: one events scan, one user-keyed
    exchange, one global aggregate — the first-click/purchase join
    chain plus separate base count planned as 3 scans and 2 joins (r8
    audit; the fused per-user form is bit-identical and −23% at
    sf0.1)."""
    p = plan(spark, "funnel_time_to_convert", "simple")
    assert p.count("FileScan parquet") == 1, p
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_incremental_refresh_batch_checkpointed(spark):
    """pipeline_incremental_refresh: the assembled batch (increment-
    sized) is checkpointed once and feeds all three admission signals;
    the only parquet scans left are the TWO standing-corpus passes
    (sha-manifest build, eval-gram build) plus the checkpoint's own
    build — un-pinned, the analyzed plan re-derived the batch union
    per signal (10 scans, r8 audit)."""
    p = plan(spark, "pipeline_incremental_refresh", "simple")
    assert p.count("FileScan parquet") == 2, p
    assert "Scan ExistingRDD" in p, p


def test_no_cache_manager_entries_leak(spark):
    """Running a query must leave NOTHING in the CacheManager: a
    query-local cache()/persist() has no post-collect unpersist hook
    (the returned DataFrame is lazy), so the entry would hold executor
    storage memory for the rest of the session — across a 234-query
    sweep, a slow leak.  This pins the r8 localCheckpoint policy on
    every query that historically cached (scan_cached_branches, the
    registered caching surface, is exercised last and excluded)."""
    spark.catalog.clearCache()
    for name in [
        "graph_pagerank",
        "graph_triangle_count",
        "corpus_drift_chi2",
        "ts_anomaly_mad",
        "ts_changepoint_cusum",
        "ts_autocorr",
        "pipeline_incremental_refresh",
        "text_tfidf",
    ]:
        all_queries()[name].fn(spark, SF).collect()
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.isEmpty(), f"{name} left CacheManager entries behind"


def test_span_dedup_partial_aggregates_before_span_exchange(spark):
    """C4-style span dedup must pick first occurrences with a partially
    aggregable min(struct) groupBy, NOT a row_number window: a window
    admits no map-side combine, so a mega-hot boilerplate span would
    shuffle every occurrence into one task and sort there (the r9
    verdict's scale-killer).  Pin: (a) a partial_min runs BEFORE the
    single span_text-keyed exchange (hot key reduced to one row per map
    task); (b) no window operator anywhere in the plan; (c) exactly two
    corpus scans — the explode pass and the map-only per-doc totals
    pass (no exchange on the totals branch feeds the doc_id join)."""
    p = plan(spark, "text_span_dedup", "simple")
    assert "partial_min" in p, p
    assert p.count("hashpartitioning(span_text") == 1, p
    assert "Window" not in p, p
    assert p.count("Scan parquet") == 2, p


def test_dsir_importance_is_two_scans_no_rescan_diamond(spark):
    """DSIR importance: the corpus is scanned exactly twice (vocab
    build + score probe) — the localCheckpoint pins the vocab-bounded
    count table so the totals/lambda diamond cannot replan as extra
    corpus scans (the defect class the r8 sweep fixed in tfidf and
    surprisal)."""
    p = plan(spark, "corpus_dsir_importance", "simple")
    assert p.count("Scan parquet") == 1, p  # probe side; vocab side is
    # behind the checkpoint (ScanExistingRDD), so exactly one live scan
    assert "ScanExistingRDD" in p or "ExistingRDD" in p, p


def test_embedding_pca_projection_is_shuffle_free(spark):
    """The PCA projection pass is map-only: broadcast components, no
    Exchange anywhere — the moment pass collects O(partitions) d²
    partials and never appears in this plan."""
    p = plan(spark, "embedding_pca", "simple")
    assert "Exchange" not in p, p


def test_repetition_score_is_single_pass_no_aggregation_exchange(spark):
    """text_repetition_score computes doc-local statistics, so its plan
    must be one scan feeding one Arrow stage — no (doc_id, gram)
    aggregation exchanges, no join.  The only Exchange permitted is the
    layout-aware spread in front of the Python stage (fires on the
    one-row-group fixtures, identity on splittable layouts).  The r13
    form paid 4 aggregation/join exchanges for numbers that never
    needed cross-row state."""
    p = plan(spark, "text_repetition_score", "simple")
    assert "MapInArrow" in p, p
    assert "HashAggregate" not in p, p
    assert "Join" not in p, p
    assert p.count("Exchange") <= 1, p
