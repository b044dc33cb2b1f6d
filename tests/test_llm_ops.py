"""Quality tests for the approximate LLM-pipeline operators (the ones the
DuckDB oracle can't check): MinHash/LSH sensitivity, ANN recall vs the
exact baseline, multimodal plumbing invariants."""

from __future__ import annotations

import pandas as pd

from dirhash_spark.operators.dedup import _minhash_bands
from dirhash_spark.operators.multimodal import fake_decode
from dirhash_spark.operators.similarity import sim_ann_lsh, sim_topk_cosine
from dirhash_spark.registry import all_queries

QUERIES = all_queries()

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden outside the house"
)
NEAR = BASE.replace("garden", "meadow")  # one word changed
FAR = "completely different content about distributed query engines and columnar storage formats"


def _bands(texts):
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    out = pd.concat(list(_minhash_bands(iter([pdf]))))
    return {
        doc: set(map(tuple, out[out.doc_id == doc][["band_id", "band_hash"]].values))
        for doc in out.doc_id.unique()
    }


def test_minhash_lsh_sensitivity():
    """Near-identical docs must collide in many bands; unrelated docs in
    (almost) none — the property the LSH banding scheme exists for."""
    bands = _bands([BASE, NEAR, FAR])
    near_shared = len(bands[0] & bands[1])
    far_shared = len(bands[0] & bands[2])
    assert near_shared >= 4, f"near-dup pair shares only {near_shared} bands"
    assert far_shared <= 1, f"unrelated pair shares {far_shared} bands"


def test_minhash_deterministic():
    assert _bands([BASE]) == _bands([BASE])


def test_minhash_vectorized_parity():
    """The r14 vectorized sketch (affine-table crc32, cross-document
    shingle dedup, batched permutations) must be BIT-identical to the
    original per-document reference form on every text class: normal
    ASCII, near-dup pairs, empty, shorter than the shingle width,
    non-ASCII (which takes the per-window zlib fallback), None, and
    whitespace-heavy strings."""
    import zlib

    import numpy as np

    from dirhash_spark.operators import dedup as dd

    def reference_bands(pdf):
        out_doc, out_band, out_hash = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            t = " ".join(str(text).lower().split())
            if len(t) < dd._SHINGLE_K:
                shingles = {t}
            else:
                shingles = {
                    t[i : i + dd._SHINGLE_K]
                    for i in range(len(t) - dd._SHINGLE_K + 1)
                }
            x = np.fromiter(
                (zlib.crc32(s.encode("utf-8")) for s in shingles),
                dtype=np.int64,
                count=len(shingles),
            )
            sig = dd._axb_mod_p(x).min(axis=1)
            for band in range(dd._N_BANDS):
                chunk = sig[band * dd._ROWS_PER_BAND : (band + 1) * dd._ROWS_PER_BAND]
                out_doc.append(int(doc_id))
                out_band.append(band)
                out_hash.append(int(zlib.crc32(chunk.tobytes())))
        return pd.DataFrame(
            {"doc_id": out_doc, "band_id": out_band, "band_hash": out_hash}
        )

    texts = [
        BASE,
        NEAR,
        FAR,
        "",
        "ab",
        "héllo wörld — çe n'est pas ascii mais assez long pour des fenêtres",
        None,
        "  spaced    out\ttext\nwith   runs  of whitespace and UPPER Case ",
        BASE * 40,  # long doc spanning many windows
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ref = reference_bands(pdf).astype(
        {"doc_id": "int64", "band_id": "int64", "band_hash": "int64"}
    )
    got = pd.concat(list(_minhash_bands(iter([pdf])))).reset_index(drop=True)
    pd.testing.assert_frame_equal(ref.reset_index(drop=True), got)

    # sub-batch boundary: force several sub-batches in one Arrow batch
    old = dd._SKETCH_SUB_WINDOWS
    dd._SKETCH_SUB_WINDOWS = 64
    try:
        got_small = pd.concat(list(_minhash_bands(iter([pdf])))).reset_index(drop=True)
    finally:
        dd._SKETCH_SUB_WINDOWS = old
    pd.testing.assert_frame_equal(ref.reset_index(drop=True), got_small)


def test_ann_recall_vs_exact(spark, sf_dir):
    """LSH candidate generation must recover most of the exact top-10
    (deterministic: fixed data, fixed hyperplanes)."""
    exact = {r["vec_id"] for r in sim_topk_cosine(spark, sf_dir).collect()}
    approx = {r["vec_id"] for r in sim_ann_lsh(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ANN recall@10 = {recall}"


def test_simhash_pairs_respect_threshold(spark, sf_dir):
    rows = QUERIES["dedup_simhash"].fn(spark, sf_dir).collect()
    assert all(r["hamming"] <= 12 for r in rows)
    assert all(r["doc_a"] < r["doc_b"] for r in rows)


def test_minhash_pairs_shape(spark, sf_dir):
    rows = QUERIES["dedup_minhash"].fn(spark, sf_dir).collect()
    assert all(1 <= r["n_shared_bands"] <= 16 for r in rows)
    assert all(r["doc_a"] < r["doc_b"] for r in rows)


def test_fake_decode_deterministic_and_bounded():
    meta = fake_decode(b"some payload")
    assert meta == fake_decode(b"some payload")
    assert 16 <= meta["width"] <= 255 and 16 <= meta["height"] <= 255
    assert meta["format"] in ("png", "jpeg", "webp")


def test_decode_image_stub_raises():
    import pytest

    from dirhash_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; stub not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_mm_frame_sample_expansion(spark, sf_dir):
    df = QUERIES["mm_frame_sample"].fn(spark, sf_dir)
    rows = df.limit(50).collect()
    assert all(r["frame_idx"] % 4 == 0 for r in rows)
    assert all(len(bytes.fromhex(r["frame_hex"])) <= 64 for r in rows)


def test_ivf_recall_vs_exact(spark, sf_dir):
    """IVF ANN must recover a meaningful share of the exact top-k even
    on these near-uniform fixtures (the no-structure worst case, where
    recall ≈ candidate share ≈ nprobe/K; clustered real embeddings do
    far better).  Measured 0.5-0.6 at nprobe=6/16; bound set below the
    noise floor."""
    from dirhash_spark.operators.similarity import sim_ann_ivf

    exact = {r["vec_id"] for r in sim_topk_cosine(spark, sf_dir).collect()}
    approx = {r["vec_id"] for r in sim_ann_ivf(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall@10 = {recall}"


def test_ann_recall_floors_all_variants(spark):
    """Fixed recall@10 floors vs exact brute force for ALL FOUR ANN
    variants on both committed fixtures — everything here is
    deterministic (fixed data, fixed hyperplanes, deterministic k-means
    init), so these are exact regression tripwires: a silent recall
    drop from a refactor fails loudly instead of hiding behind a
    relative tolerance.  Measured at r7: 0.6 on sf0.001, 0.5 on sf0.01
    for all four (distfit's full-corpus witness reads 1.0 and keeps its
    floor in test_ivf_distributed_trainer_recall_parity)."""
    from dirhash_spark.operators.similarity import (
        sim_ann_ivf,
        sim_ann_ivf_indexed,
        sim_ann_lsh,
        sim_ann_lsh_indexed,
    )

    floors = {"/root/testdata/sf0.001": 0.6, "/root/testdata/sf0.01": 0.5}
    for sf, floor in floors.items():
        exact = {r["vec_id"] for r in sim_topk_cosine(spark, sf).collect()}
        for fn in (sim_ann_lsh, sim_ann_ivf, sim_ann_lsh_indexed, sim_ann_ivf_indexed):
            approx = {r["vec_id"] for r in fn(spark, sf).collect()}
            recall = len(exact & approx) / len(exact)
            assert recall >= floor, f"{fn.__name__}@{sf}: recall@10 {recall} < {floor}"


def test_pq_recall_floor_and_code_shape(spark):
    """Product-quantization ANN: fixed recall@10 floors (deterministic
    codebooks, fixed seed) and the compression contract — every corpus
    vector encodes to exactly _PQ_M codes in [0, k_pq)."""
    from dirhash_spark.operators import similarity as S

    floors = {"/root/testdata/sf0.001": 0.9, "/root/testdata/sf0.01": 1.0}
    for sf, floor in floors.items():
        exact = {r["vec_id"] for r in sim_topk_cosine(spark, sf).collect()}
        rows = S.sim_ann_pq(spark, sf).collect()
        assert len(rows) == 10
        recall = len(exact & {r["vec_id"] for r in rows}) / len(exact)
        assert recall >= floor, f"PQ recall@10 {recall} < {floor} at {sf}"
    from dirhash_spark.catalog import Catalog

    books = S._train_pq_codebooks(Catalog(spark, "/root/testdata/sf0.01"))
    # the fixture corpora derive the original fixed 32-centroid book
    # (500/2000 vectors, ceil(N/64) clamps to _PQ_K_MIN) — the recall
    # floors above pin exactly the pre-derivation behavior
    assert S._pq_k(500) == S._pq_k(2000) == S._PQ_K_MIN == 32
    assert books.shape == (S._PQ_M, 32, 64 // S._PQ_M)
    # and the derivation rule itself: 20k -> 256-centroid books,
    # re-rank depth grows with N under the hard cap
    assert S._pq_k(20_000) == S._PQ_K_MAX == 256
    assert S._pq_rerank(2000) == S._PQ_RERANK_MIN
    assert S._pq_rerank(20_000) == 313
    assert S._pq_rerank(10**9) == S._PQ_RERANK_MAX


def test_ivf_distributed_trainer_recall_parity(spark, sf_dir):
    """The distributed (full-corpus Lloyd passes as Spark aggregations)
    and sampled (bounded driver-side) k-means trainers must yield IVF
    recall within tolerance of each other on the same query path — the
    'would the sampled trainer survive 100×' witness.  At these scale
    factors the sample covers the whole corpus, so the two fits see the
    same data and any recall gap is trainer drift, not sampling."""
    from dirhash_spark.operators.similarity import sim_ann_ivf, sim_ann_ivf_distfit

    exact = {r["vec_id"] for r in sim_topk_cosine(spark, sf_dir).collect()}
    sampled = {r["vec_id"] for r in sim_ann_ivf(spark, sf_dir).collect()}
    distfit = {r["vec_id"] for r in sim_ann_ivf_distfit(spark, sf_dir).collect()}
    recall_sampled = len(exact & sampled) / len(exact)
    recall_dist = len(exact & distfit) / len(exact)
    assert recall_dist >= 0.3, f"distributed-fit recall@10 = {recall_dist}"
    # one-sided: the distributed fit must not be materially WORSE than
    # the sampled fit (being better is fine — on these fixtures its
    # deterministic init happens to beat the sampled trainer's, e.g.
    # 1.0 vs 0.6 at sf0.001)
    assert recall_dist >= recall_sampled - 0.3, (
        f"trainer drift: sampled={recall_sampled} distributed={recall_dist}"
    )


def test_indexed_ann_matches_unindexed(spark, sf_dir):
    """The persisted-index variants must return exactly the same rows as
    their scan-time twins: same centroids (cached per sf_dir), same
    hyperplanes, so the index changes the physical plan, never the
    answer."""
    for base, indexed in (
        ("sim_ann_ivf", "sim_ann_ivf_indexed"),
        ("sim_ann_lsh", "sim_ann_lsh_indexed"),
    ):
        a = sorted(map(tuple, QUERIES[base].fn(spark, sf_dir).collect()))
        b = sorted(map(tuple, QUERIES[indexed].fn(spark, sf_dir).collect()))
        assert a == b, f"{base} != {indexed}"


def test_index_duplicate_grouping_bounded_and_exact(spark, tmp_path):
    """The v6 index stores one row per DISTINCT embedding — the
    duplicate-keyed answer to the r13 skew measurement, where a
    30%-byte-identical corpus piled its whole mass into one IVF list
    (47x the uniform target) that no quantizer can split.  On a corpus
    whose hot mass is one duplicated vector:

    (a) BOUNDED: the index holds exactly #distinct rows — the hot
        list's stored size is its distinct count, and each group
        carries at most _TOP_K+1 member ids;
    (b) EXACT: every indexed variant returns bit-identical rows to the
        exact brute-force top-k, INCLUDING the vec_id tie-break order
        inside the duplicate group and the probe's own duplicates
        ranking at cosine 1.0 (the probe sits inside the group; its
        rep row must stay a candidate while vec_id 0 itself is
        excluded member-level)."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dirhash_spark.operators import similarity as S

    rng = np.random.RandomState(99)
    n, n_hot = 600, 180
    center = rng.standard_normal(64)
    rest = rng.standard_normal((n - n_hot, 64))
    V = np.vstack([np.tile(center, (n_hot, 1)), rest]).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
                "embedding": pa.array([v.tolist() for v in V], pa.list_(pa.float32())),
                "label": pa.array(np.arange(n, dtype=np.int32) % 3, pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sf = str(tmp_path)
    try:
        idx = spark.read.parquet(S.build_ann_index(spark, sf))
        n_distinct = n - n_hot + 1
        assert idx.count() == n_distinct  # (a) one row per distinct vector
        hot = idx.where(F.col("group_n") > 1).collect()
        assert len(hot) == 1
        assert hot[0]["group_n"] == n_hot
        assert hot[0]["vec_id"] == 0 and len(hot[0]["member_ids"]) == S._TOP_K + 1
        assert hot[0]["member_ids"] == list(range(S._TOP_K + 1))

        exact = [tuple(r) for r in S.sim_topk_cosine(spark, sf).collect()]
        # probe (vec_id 0) is IN the duplicate group: true top-k = its
        # k smallest-id duplicates at cosine 1.0
        assert [r[0] for r in exact] == list(range(1, S._TOP_K + 1))
        assert all(r[2] == 1.0 for r in exact)
        for fn in (S.sim_ann_ivf, S.sim_ann_ivf_indexed, S.sim_ann_lsh,
                   S.sim_ann_lsh_indexed, S.sim_ann_ivfpq):
            got = [tuple(r) for r in fn(spark, sf).collect()]
            assert got == exact, fn.__name__  # (b) bit-identical, ties included
    finally:
        shutil.rmtree(S._ann_index_path(sf), True)


def test_cluster_canonical_properties(spark, sf_dir):
    """Cluster invariants the oracle hash can't express directly:
    every doc labeled, cluster_id is a member of its own cluster (the
    canonical doc), paired docs share a cluster."""
    rows = QUERIES["dedup_cluster_canonical"].fn(spark, sf_dir).collect()
    by_doc = {r["doc_id"]: r["cluster_id"] for r in rows}
    canon = {r["cluster_id"] for r in rows}
    assert len(by_doc) == len(rows)  # one row per doc
    for c in canon:
        assert by_doc[c] == c  # canonical labels itself
    for r in rows:
        assert r["is_canonical"] == (r["doc_id"] == r["cluster_id"])


def test_hll_sketch_estimate_accuracy(spark, sf_dir):
    """The merged per-hour HLL sketches must land within 5% of the exact
    per-type distinct-user count — the local accuracy gate for the
    rows-only agg_hll_sketch_merge query (DataSketches HLL at default
    lgK=12 has ~1.6% relative standard error, so 5% is ~3 sigma)."""
    from dirhash_spark.registry import all_queries

    qs = all_queries()
    est = {
        r["event_type"]: r["approx_users"]
        for r in qs["agg_hll_sketch_merge"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n_users"]
        for r in qs["agg_bitmap_distinct"].fn(spark, sf_dir).collect()
    }
    assert set(est) == set(exact)
    for et, n in exact.items():
        assert abs(est[et] - n) <= max(1, 0.05 * n), (et, est[et], n)


def test_pack_sequences_invariants(spark, sf_dir):
    """Structural packing invariants the oracle's value-hash can't state:
    every document lands in exactly one pack, pack numbers are dense
    from 0 within each shard, and no pack exceeds the 2048-token budget
    by more than one straddling document (first-fit-in-order bound)."""
    from dirhash_spark.registry import all_queries

    qs = all_queries()
    packs = qs["pack_sequences"].fn(spark, sf_dir).collect()
    docs = qs["text_token_count"].fn(spark, sf_dir).collect()
    n_docs = len(docs)
    max_doc_tokens = max(r["n_ws_tokens"] for r in docs)

    assert sum(r["n_docs"] for r in packs) == n_docs  # exactly-once
    by_shard: dict[int, list[int]] = {}
    for r in packs:
        by_shard.setdefault(r["shard"], []).append(r["pack_no"])
        # budget bound: a pack holds < 2048 tokens of prefix plus at most
        # one straddling document
        assert r["pack_tokens"] < 2048 + max_doc_tokens, r
        assert r["first_doc_id"] <= r["last_doc_id"]
    for shard, nos in by_shard.items():
        nos.sort()
        # pack_no = cum_tokens_before // budget: starts at 0 (first doc
        # has no prefix) and is strictly increasing, but a single doc
        # longer than the 2048 budget legitimately skips numbers (it
        # spans multiple budget windows) — so density is asserted only
        # when the fixture has no such doc, not as a universal law.
        assert nos[0] == 0 and len(set(nos)) == len(nos), (shard, nos[:5])
        if max_doc_tokens <= 2048:
            assert nos == list(range(len(nos))), (shard, nos[:5])


def test_temperature_sampling_quota_property(spark, sf_dir):
    """Per-language output counts must equal the closed-form quota
    floor(sqrt(n_min * n_l)) — the counts-proportional-to-sqrt(n)
    contract — as long as the hash prefilter admitted enough rows
    (true on these fixtures; the oracle pins cross-engine equality
    regardless)."""
    import collections
    import math

    out = QUERIES["corpus_temperature_sampling"].fn(spark, sf_dir).collect()
    got = collections.Counter(r["lang"] for r in out)
    raw = collections.Counter(
        r["lang"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").select("lang").collect()
    )
    n_min = min(raw.values())
    for lang, n_l in raw.items():
        assert got[lang] == math.floor(math.sqrt(n_min * n_l)), (lang, got[lang])


def test_pagerank_conserves_fixed_point_mass(spark, sf_dir):
    """PageRank invariant: with dangling redistribution, total rank mass
    stays ~1.0 at the fixed-point scale — integer-division truncation
    can only LOSE mass, never create it, and loses < 1 unit per div
    per node per round (3 rounds × ~3 divs × N nodes bound)."""
    rows = QUERIES["graph_pagerank"].fn(spark, sf_dir).collect()
    scale = 1_000_000_000_000
    total = sum(r["rank_fp"] for r in rows)
    n = len(rows)
    assert total <= scale
    assert total >= scale - 10 * n * 3  # truncation-loss bound
    assert all(r["rank_fp"] > 0 for r in rows)


def test_cohort_retention_bounds(spark, sf_dir):
    """Retention is a share of the cohort: 0 < n_active <= n_cohort,
    offset 0 retention is exactly 100% (a user's first event is in the
    cohort week by construction), and offsets are non-negative."""
    rows = QUERIES["ts_cohort_retention"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_active"] <= r["n_cohort"]
        assert r["week_offset"] >= 0
        if r["week_offset"] == 0:
            assert r["retention_bp"] == 10000
        assert 0 < r["retention_bp"] <= 10000


def test_rolling_distinct_dominates_daily(spark, sf_dir):
    """The trailing-7-day distinct count can never be below that day's
    own distinct count, and never above the global distinct count."""
    from dirhash_spark.catalog import Catalog
    from pyspark.sql import functions as F

    cat = Catalog(spark, sf_dir)
    daily = {
        r["day"]: r["n"]
        for r in cat.events.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    total = cat.events.select("user_id").distinct().count()
    rows = QUERIES["ts_rolling_distinct"].fn(spark, sf_dir).collect()
    assert set(daily) == {r["day"] for r in rows}
    for r in rows:
        assert daily[r["day"]] <= r["users_7d"] <= total


def test_changepoint_unique_and_cusum_closes(spark, sf_dir):
    """Exactly one changepoint flag, and the CUSUM telescopes to zero
    at the final day (n·S − n·S) — the arithmetic identity that proves
    the prefix/total bookkeeping is consistent."""
    rows = QUERIES["ts_changepoint_cusum"].fn(spark, sf_dir).collect()
    assert sum(1 for r in rows if r["is_changepoint"]) == 1
    assert rows[-1]["cusum"] == 0


# ---------------------------------------------------- skewed-corpus stress


def _write_skew_docs(tmp_path):
    """302-doc corpus with an adversarial boilerplate block: 300 short
    docs share the same 10-word license header (every 5-gram inside it
    has df=300, far over CONTAINMENT_DF_CAP=128), plus one planted
    containment pair built from rare grams (df=2).  Returns the sf_dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lic = " ".join(f"lic{j}" for j in range(10))
    rows = [(i, f"{lic} uniq{i}") for i in range(300)]
    small = " ".join(f"rare{j}" for j in range(12))
    big = small + " " + " ".join(f"tail{j}" for j in range(12))
    rows += [(1000, small), (1001, big)]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["skew"] * len(rows),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_containment_df_cap_bounds_boilerplate_blowup(spark, tmp_path):
    """Without the df cap the 300 boilerplate docs (containment 6/7
    with each other) would emit ~300*299 ordered pairs through six
    df=300 posting rows — an O(df^2) in-row expansion.  With the cap
    those grams are dropped before expansion, so the ONLY surviving
    pair is the planted rare-gram containment, and the worst posting
    row expands <= CAP^2 structs."""
    from dirhash_spark.operators.dedup import CONTAINMENT_DF_CAP

    sf_dir = _write_skew_docs(tmp_path)
    rows = QUERIES["dedup_containment"].fn(spark, sf_dir).collect()
    assert [(r["doc_small"], r["doc_big"], r["containment"]) for r in rows] == [
        (1000, 1001, 1.0)
    ]
    # the fixture really is adversarial: six grams exceed the cap, and
    # every *kept* gram's posting list stays far under it
    from pyspark.sql import functions as F

    from dirhash_spark.catalog import Catalog

    w = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 4, F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, 5), " "),
        )
    )
    df_dist = (
        Catalog(spark, sf_dir)
        .documents.select(F.explode(grams).alias("gram"), "doc_id")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    over = df_dist.where(F.col("df") > CONTAINMENT_DF_CAP).collect()
    assert len(over) == 6 and all(r["df"] == 300 for r in over)
    kept_max = df_dist.where(F.col("df") <= CONTAINMENT_DF_CAP).agg(
        F.max("df")
    ).collect()[0][0]
    assert kept_max <= 2  # kept pair expansion is O(1), not O(300^2)


def test_bigstar_cc_matches_minlabel_and_round_counts(spark, tmp_path, monkeypatch):
    """The large-star/small-star CC twin must compute the identical
    component labeling as min-label propagation on (a) a diameter-63
    chain plus a 20-clique, (b) fixed-seed random graphs, and (c) the
    adversarial skew fixture's near-dup graph (the 300-doc boilerplate
    clique — the skewed-degree regime the star algorithm targets), and
    must never need MORE rounds than the sibling on any of them."""
    import random

    import dirhash_spark.operators.dedup as dedup_mod
    from dirhash_spark.operators.dedup import (
        _cc_large_small_star,
        _connected_components,
    )

    # this test compares ROUND COUNTS of the two distributed
    # algorithms — force past the driver union-find fast path
    monkeypatch.setattr(dedup_mod, "_CC_DRIVER_EDGE_BOUND", -1)

    def both(pairs_list):
        pairs = spark.createDataFrame(pairs_list, "doc_a long, doc_b long")
        star_labels, it_star = _cc_large_small_star(pairs)
        star = dict(map(tuple, star_labels.collect()))
        ml_clusters, it_ml = _connected_components(pairs)
        ml = dict(map(tuple, ml_clusters.select("doc_id", "cluster_id").collect()))
        # the star form omits component roots (label == self by
        # construction); the registered query restores them via the
        # documents left-join, so compare with that coalesce applied
        star_full = {n: star.get(n, n) for n in ml}
        assert star_full == ml
        return it_star, it_ml

    chain = [(i, i + 1) for i in range(63)]
    clique = [(100 + i, 100 + j) for i in range(20) for j in range(i + 1, 20)]
    it_star, it_ml = both(chain + clique)
    assert it_star <= it_ml, (it_star, it_ml)

    rng = random.Random(7)
    rand = list({(min(a, b), max(a, b))
                 for a, b in ((rng.randrange(200), rng.randrange(200)) for _ in range(150))
                 if a != b})
    it_star, it_ml = both(rand)
    assert it_star <= it_ml, (it_star, it_ml)

    # the skew fixture's actual verified near-dup graph (the 300-doc
    # boilerplate clique, via LSH-union candidates + exact verify)
    from dirhash_spark.operators.dedup import _neardup_verified_pairs

    sf_dir = _write_skew_docs(tmp_path)
    ver = [
        (r["doc_a"], r["doc_b"])
        for r in _neardup_verified_pairs(spark, sf_dir, include_lsh=True).collect()
    ]
    assert len(ver) > 1000  # really is the dense clique regime
    it_star, it_ml = both(ver)
    assert it_star <= it_ml, (it_star, it_ml)


def test_neardup_family_bounded_under_skew(spark, tmp_path):
    """The other near-dup stages hold their documented pair bounds on
    the same adversarial fixture: jaccard's banded window caps pairs at
    n*window regardless of content, and minhash buckets only ever
    expand real near-dup groups (the 300 boilerplate docs ARE mutual
    near-dups, so their pairs are required output, bounded by the
    group size — never corpus^2 across groups)."""
    from dirhash_spark.operators.dedup import _JACCARD_WINDOW

    sf_dir = _write_skew_docs(tmp_path)
    jac = QUERIES["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    assert 0 < len(jac) <= 302 * _JACCARD_WINDOW
    mh = QUERIES["dedup_minhash"].fn(spark, sf_dir).collect()
    n_group_pairs = 300 * 299 // 2 + 1  # boilerplate clique + planted pair
    assert 0 < len(mh) <= n_group_pairs
    pairs = {(r["doc_a"], r["doc_b"]) for r in mh}
    # no candidate pair may bridge the boilerplate clique and the rare
    # pair — that would be a spurious cross-group blow-up
    assert not any(a < 1000 <= b for a, b in pairs)


def test_neardup_e2e_on_skew_fixture(spark, tmp_path):
    """End-to-end pipelines on the adversarial fixture: the 300
    boilerplate docs are genuine mutual near-dups (word-gram Jaccard
    6/8 between any two) whose every shared gram exceeds the df cap.
    The lsh_union variant must recover them — LSH candidates carry the
    clique through verify into ONE cluster with doc 0 canonical — while
    the planted containment pair (Jaccard 8/20 < 1/2) must NOT cluster.
    The oracle-symmetric registered query must drop the over-cap clique
    entirely (the documented engine↔oracle symmetry: both sides see no
    candidate), leaving zero clustered docs."""
    sf_dir = _write_skew_docs(tmp_path)
    rows = QUERIES["pipeline_neardup_e2e_lsh_union"].fn(spark, sf_dir).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    assert set(by_doc) == set(range(300))  # 1000/1001 below tau
    assert all(r["cluster_id"] == 0 for r in rows)
    assert [d for d, r in by_doc.items() if r["is_canonical"]] == [0]
    sym = QUERIES["pipeline_neardup_e2e"].fn(spark, sf_dir).collect()
    assert sym == []  # capped index drops the clique on BOTH engines


def test_bloom_probe_never_false_negative(spark, sf_dir):
    """The Bloom contract: maybe_seen is allowed to be wrong only in
    ONE direction.  Every exact duplicate must probe positive (a false
    negative would silently admit a duplicate at ingest); false
    positives are permitted and measured."""
    rows = QUERIES["dedup_bloom_probe"].fn(spark, sf_dir).collect()
    assert rows, "probe batch is empty"
    assert all(r["maybe_seen"] for r in rows if r["is_dup"])


def test_bpe_merges_overlap_semantics(spark, tmp_path):
    """Leftmost-nonoverlap merging on degenerate runs: 'aaaa' under
    rule (a,a) becomes [aa, aa] (not three overlapping merges), so
    step 2 must pick (aa, aa); after that the word is one symbol and
    the trainer stops early with only 2 of the 3 requested rules —
    exercising the early-exit the oracle reproduces with empty CTEs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": ["aaaa", "aaaa", "aaaa"],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": pa.array([4, 4, 4], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = [
        (r["step"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in QUERIES["vocab_bpe_merges"].fn(spark, str(tmp_path)).collect()
    ]
    assert rows == [(1, "a", "a", "aa", 9), (2, "aa", "aa", "aaaa", 3)]


def test_bpe_train_route_parity(spark, monkeypatch):
    """The r14 driver route (vocabulary collected below
    _BPE_DRIVER_VOCAB_BOUND, merges folded in exact Python ints) must
    produce the identical rule list AND final vocabulary as the
    distributed per-step dataflow loop it shortcuts."""
    from dirhash_spark.operators import text as T

    sf = "/root/testdata/sf0.01"
    rules_drv, w_drv = T._bpe_train(spark, sf)
    assert T._BPE_DRIVER_VOCAB_BOUND > 0  # default routes driver-side here
    monkeypatch.setattr(T, "_BPE_DRIVER_VOCAB_BOUND", -1)
    rules_dfl, w_dfl = T._bpe_train(spark, sf)
    assert rules_drv == rules_dfl
    key = lambda r: (r["word"], r["freq"], tuple(r["syms"]))
    assert sorted(map(key, w_drv.collect())) == sorted(map(key, w_dfl.collect()))


def test_winnowing_guarantee_shared_substring_collides(spark, tmp_path):
    """The winnowing theorem (Schleimer et al.): two documents sharing
    a substring of length >= k + w - 1 (= 11 chars at k=8, w=4) must
    share at least one selected fingerprint.  Two otherwise-unrelated
    docs embed the same 40-char quote; their fingerprint sets must
    intersect, while a third unrelated doc shares nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    quote = "the quick brown fox jumps over the dog"
    assert len(quote) >= 8 + 4 - 1  # >= k + w - 1, the theorem's bound
    texts = [
        "alpha beta gamma " + quote + " delta epsilon zeta",
        "one two three four " + quote + " five six seven",
        "completely unrelated content with no overlap at all here",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = QUERIES["text_winnow_fingerprints"].fn(spark, str(tmp_path)).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[0] & fps[1], "shared 40-char quote must share a fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_chunk_sliding_covers_every_token(spark, sf_dir):
    """Coverage completeness: with stride <= window every token index
    of every document appears in at least one chunk, chunk_ids are
    dense from 0, and reassembling non-overlap regions reproduces the
    document's token count."""
    from dirhash_spark.operators.text import _CHUNK_S, _CHUNK_W

    rows = QUERIES["text_chunk_sliding"].fn(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["n_chunk_tokens"]
    tok = {
        r["doc_id"]: r["n_ws_tokens"]
        for r in QUERIES["text_token_count"].fn(spark, sf_dir).collect()
    }
    for doc, chunks in by_doc.items():
        nc = len(chunks)
        assert sorted(chunks) == list(range(nc))  # dense ids
        n = tok[doc]
        # last chunk ends exactly at the last token
        assert (nc - 1) * _CHUNK_S + chunks[nc - 1] == n
        # every non-final chunk is full-width
        assert all(chunks[i] == _CHUNK_W for i in range(nc - 1))


def test_simhash_candidate_recall_vs_bruteforce(spark, sf_dir):
    """Pin dedup_simhash's candidate recall against ground truth
    (r7 verdict item 3): brute-force exact hamming pairs over the same
    fingerprints, then assert the banding's TWO-TIER envelope:

    - hamming <= 3 (the 4x16-bit quarter pigeonhole GUARANTEE): recall
      must be exactly 1.0 — any miss here is a candidate-generation
      bug, full stop;
    - hamming <= 12 (the verify threshold): recall is structurally
      partial (differing bits spread over all four quarters evade
      every band).  Measured 0.25 on these fixtures — templated docs
      make 42% of ALL pairs land within radius 12, the adversarial
      spread-bits case — pinned at a >=0.20 canary floor so a silent
      regression (e.g. a band arithmetic bug) still fails loudly.

    Precision is also exact-checked: every emitted pair must really be
    within hamming 12."""
    from dirhash_spark.catalog import Catalog
    from dirhash_spark.operators.dedup import _simhash_fingerprints

    rows = _simhash_fingerprints(Catalog(spark, sf_dir)).collect()
    docs = sorted((r["doc_id"], r["fp"] & 0xFFFFFFFFFFFFFFFF) for r in rows)
    ham = {
        (docs[i][0], docs[j][0]): (docs[i][1] ^ docs[j][1]).bit_count()
        for i in range(len(docs))
        for j in range(i + 1, len(docs))
    }
    exact12 = {p for p, h in ham.items() if h <= 12}
    exact3 = {p for p, h in ham.items() if h <= 3}
    got = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_simhash"].fn(spark, sf_dir).collect()
    }
    assert exact3, "fixture has no hamming<=3 pairs; guarantee test is vacuous"
    assert not (got - exact12), "emitted pair fails the exact-hamming check"
    missed_guaranteed = exact3 - got
    assert not missed_guaranteed, (
        f"pigeonhole-guaranteed pairs missed: {sorted(missed_guaranteed)[:5]}"
    )
    recall12 = len(got & exact12) / len(exact12)
    assert recall12 >= 0.20, (
        f"radius-12 candidate recall {recall12:.3f} ({len(got)}/{len(exact12)}) "
        "fell below the measured-envelope canary floor"
    )


def test_ivfpq_recall_vs_exact(spark, sf_dir):
    """The composed IVF+PQ query must not lose recall beyond its own
    coarse stage: measured recall@10 equals sim_ann_ivf_indexed's
    (0.5-0.6 on these near-uniform fixtures) because the exact re-rank
    recovers everything the ADC ordering admits into _PQ_RERANK.  Same
    floor as the IVF family."""
    from dirhash_spark.operators.similarity import sim_ann_ivfpq

    exact = {r["vec_id"] for r in sim_topk_cosine(spark, sf_dir).collect()}
    approx = {r["vec_id"] for r in sim_ann_ivfpq(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVFPQ recall@10 = {recall}"


def test_embedding_ann_duplicate_group_chain_bounded(spark, tmp_path):
    """dedup_embedding_ann's output contract (all pairs >= threshold)
    is inherently O(b²) on a byte-identical group — no blocking bounds
    an output that is itself quadratic.  Above _BUCKET_FULL_EXPAND_CAP
    a group now participates as its min-id representative plus an
    internal chain (the r13 duplicate-keyed rule): on a corpus with a
    700-strong duplicate clique the emitted pair set stays O(n), the
    chain spans the clique at cosine 1.0 exactly once across the
    multi-assign list copies, and the SemDeDup capstone still marks
    exactly one canonical in the clique's cluster."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.operators import similarity as S

    rng = np.random.RandomState(31)
    n, n_dup = 800, 700  # clique > the 512 cap
    center = rng.standard_normal(64)
    V = np.vstack(
        [np.tile(center, (n_dup, 1)), rng.standard_normal((n - n_dup, 64))]
    ).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
                "embedding": pa.array([v.tolist() for v in V], pa.list_(pa.float32())),
                "label": pa.array(np.zeros(n, np.int32), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sf = str(tmp_path)
    try:
        rows = QUERIES["dedup_embedding_ann"].fn(spark, sf).collect()
        pairs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in rows}
        chain = {(i, i + 1) for i in range(n_dup - 1)}
        internal = {p for p in pairs if p[0] < n_dup and p[1] < n_dup}
        assert internal == chain, (len(internal), len(chain))
        assert all(pairs[p] == 1.0 for p in chain)
        assert len(pairs) < 3 * n  # O(n), not the 244k of naive all-pairs
        # non-rep clique members never pair outside the clique (their
        # cosine info is the rep's); connectivity flows rep + chain
        assert not {
            p for p in pairs
            if (0 < p[0] < n_dup) != (0 < p[1] < n_dup) and 0 not in p
        }

        keep = QUERIES["pipeline_semdedup_e2e"].fn(spark, sf).collect()
        clique = [r for r in keep if r["vec_id"] < n_dup]
        assert len(clique) == n_dup
        assert len({r["cluster_id"] for r in clique}) == 1  # one component
        assert sum(r["is_canonical"] for r in clique) == 1  # one keeper
    finally:
        import shutil

        shutil.rmtree(S._ann_index_path(sf), True)


def test_ivfpq_dense_blob_saturation_fallback(spark, tmp_path):
    """A probe INSIDE a dense blob is PQ's blind spot: every candidate
    differs from the probe by less than one quantization cell, the ADC
    ordering is noise, and recall@10 measured 0.0 with raw AND residual
    books (BASELINE.md r13).  The saturation guard must detect the
    collapsed ADC spread (0.011-0.013 here vs >= 0.45 on every healthy
    corpus) and re-rank all probed representatives exactly — recall
    recovers to ~1.0 at the same partition-pruned read."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.operators import similarity as S

    rng = np.random.RandomState(777)
    n, n_hot = 2000, 600
    center = rng.standard_normal(64)
    hot = center + 0.05 * rng.standard_normal((n_hot, 64))
    rest = rng.standard_normal((n - n_hot, 64))
    V = np.vstack([hot, rest]).astype(np.float32)  # vec_id 0 = hot probe
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
                "embedding": pa.array([v.tolist() for v in V], pa.list_(pa.float32())),
                "label": pa.array(np.zeros(n, np.int32), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sf = str(tmp_path)
    try:
        exact = {r["vec_id"] for r in S.sim_topk_cosine(spark, sf).collect()}
        approx = {r["vec_id"] for r in S.sim_ann_ivfpq(spark, sf).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"saturation fallback recall@10 {recall} < 0.9"
    finally:
        shutil.rmtree(S._ann_index_path(sf), True)


def test_embedding_ann_dedup_recall_and_exact_precision(spark):
    """dedup_embedding_ann (label-free semantic near-dup): brute-force
    ground truth over all pairs, then assert (a) precision is EXACT —
    every emitted pair really has cosine >= 0.35 (the in-query verify
    is exact, so a false positive means a broken verify), and (b) the
    3-assignment IVF blocking recovers >=0.8 of the true pairs on the
    near-uniform worst-case fixtures (measured 0.86-0.87 at
    sf0.001/0.01 and 0.83 at sf0.1's larger K/N ratio — the sf0.1 leg
    is the r8 verdict's regression tripwire for larger lists), and (c)
    the pair-key dedupe leaves no pair emitted twice (a pair sharing
    several IVF lists is scored per list; last-ulp rounding drift must
    not survive as two rows)."""
    import numpy as np

    for sf in [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]:
        emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
        ids = np.array([r["vec_id"] for r in emb])
        V = np.array([r["embedding"] for r in emb], dtype=np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        C = Vn @ Vn.T
        iu = np.triu_indices(len(ids), 1)
        m = C[iu] >= 0.35
        truth = {
            (min(int(ids[i]), int(ids[j])), max(int(ids[i]), int(ids[j])))
            for i, j in zip(iu[0][m], iu[1][m])
        }
        rows = QUERIES["dedup_embedding_ann"].fn(spark, sf).collect()
        got = {(r["vec_a"], r["vec_b"]) for r in rows}
        assert len(rows) == len(got), f"duplicate pair keys emitted at {sf}"
        assert truth, "fixture has no cosine>=0.35 pairs; test is vacuous"
        assert not (got - truth), f"false positives at {sf}"
        recall = len(got & truth) / len(truth)
        assert recall >= 0.8, f"embedding-ANN dedup recall {recall:.3f} at {sf}"


def test_semdedup_e2e_matches_driver_union_find(spark):
    """pipeline_semdedup_e2e's CC + canonical stage must EXACTLY equal
    a driver-side union-find over the same emitted pair set (candidate
    recall is pinned separately on dedup_embedding_ann; this isolates
    the graph stage), with every vector present exactly once and
    is_canonical iff the vector is its cluster's minimum."""
    for sf in [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]:
        pairs = [
            (r["vec_a"], r["vec_b"])
            for r in QUERIES["dedup_embedding_ann"].fn(spark, sf).collect()
        ]
        ids = [
            r["vec_id"]
            for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
        ]
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical labels: min member per component
        comp = {}
        for i in ids:
            comp.setdefault(find(i), []).append(i)
        expected = {
            i: min(members) for root, members in comp.items() for i in members
        }
        rows = QUERIES["pipeline_semdedup_e2e"].fn(spark, sf).collect()
        assert len(rows) == len(ids)
        got = {r["vec_id"]: (r["cluster_id"], r["is_canonical"]) for r in rows}
        for i in ids:
            assert got[i] == (expected[i], i == expected[i]), i
        assert pairs, "no pairs; CC test is vacuous"


def test_pq_derived_codebook_recall_floor(spark, tmp_path):
    """The derived PQ sizing rule at a corpus size the fixtures never
    reach (r11 verdict item 3): a 20k near-uniform gaussian corpus —
    the measured recall WORST CASE — derives 256-centroid books and a
    313-deep re-rank, and recall@10 vs brute force must clear 0.7
    (the fixed 32-centroid/100-rerank constants measured 0.3-0.4 here;
    the derived path reads 0.9, see BASELINE.md r12)."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.catalog import Catalog
    from dirhash_spark.operators import similarity as S

    rng = np.random.RandomState(4242)  # the ann_scale_bench corpus
    V = rng.standard_normal((20_000, 64)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(len(V), dtype=np.int64), pa.int64()),
                "embedding": pa.array([v.tolist() for v in V], pa.list_(pa.float32())),
                "label": pa.array(np.zeros(len(V), np.int32), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sf = str(tmp_path)
    try:
        assert S._corpus_pq_params(Catalog(spark, sf)) == (256, 313)
        exact = {r["vec_id"] for r in S.sim_topk_cosine(spark, sf).collect()}
        approx = {r["vec_id"] for r in S.sim_ann_ivfpq(spark, sf).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.7, f"derived-codebook IVFPQ recall@10 {recall} < 0.7"
    finally:
        shutil.rmtree(S._ann_index_path(sf), True)


def _write_skew_embeddings(tmp_path):
    """500-vector corpus where HALF the vectors sit in one tight
    cluster far from the rest — the adversarial Voronoi-cell skew the
    r8 verdict called out (real embedding corpora cluster heavily, so
    one inverted list can dwarf the average; the full |list|² cosine
    matrix for such a cell is what OOMs at scale).  Embedding twin of
    :func:`_write_skew_docs`.  Returns the sf_dir."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(13)
    d = 64
    center = rng.randn(d) * 4.0
    clustered = center + rng.randn(250, d) * 0.05
    scattered = rng.randn(250, d)
    V = np.vstack([clustered, scattered]).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(V)), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in V], pa.list_(pa.float32())
            ),
            "label": pa.array(
                [0] * 250 + [1] * 250, pa.int32()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_score_list_pairs_blocked_matches_full_matrix_on_skew():
    """The row-blocked per-list scorer must emit EXACTLY the pairs of
    the unblocked |list|² matmul on a skewed list (half the rows one
    near-duplicate clique), for block sizes from degenerate (1 row) to
    past-the-end — same keys, same rounded cosines, same order.  This
    is the bit-identity claim that lets the blocked form replace the
    full matrix at scale."""
    import numpy as np

    from dirhash_spark.operators.dedup import _score_list_pairs

    rng = np.random.RandomState(29)
    center = rng.randn(64) * 4.0
    mat = np.vstack([center + rng.randn(150, 64) * 0.05, rng.randn(150, 64)])
    ids = rng.permutation(np.arange(300)) * 3 + 1
    full = _score_list_pairs(ids.copy(), mat.copy(), block_rows=10**9)
    ref = list(map(tuple, full.itertuples(index=False)))
    assert len(ref) >= 150 * 149 // 2  # the clique really is dense
    for block_rows in (1, 7, 64, 299, 300, 301):
        blocked = _score_list_pairs(ids.copy(), mat.copy(), block_rows=block_rows)
        assert list(map(tuple, blocked.itertuples(index=False))) == ref, block_rows


def test_embedding_ann_dedup_completes_on_skewed_cell(spark, tmp_path):
    """End-to-end on the skewed fixture: one Voronoi cell holds >=40%
    of the corpus (asserted against the trained coarse quantizer, so
    the fixture can't silently stop being adversarial), and the query
    must still complete with exact precision and recover >=95% of the
    250-member near-duplicate clique's pairs (k-means plants several
    centroids INSIDE the tight cluster, so a small tail of pairs lands
    in disjoint 3-nearest triples — measured 0.973; a scorer bug that
    drops a block would crater far below the floor)."""
    import numpy as np

    from dirhash_spark.catalog import Catalog
    from dirhash_spark.operators.similarity import _train_centroids

    sf_dir = _write_skew_embeddings(tmp_path)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in emb])
    V = np.array([r["embedding"] for r in emb], dtype=np.float64)

    # the fixture really is skewed: the dominant cell of the trained
    # quantizer holds at least 40% of the corpus under 3-assignment
    cents = _train_centroids(Catalog(spark, sf_dir))
    d2 = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    near3 = np.argsort(d2, axis=1)[:, :3]
    counts = np.bincount(near3.ravel(), minlength=len(cents))
    assert counts.max() >= 0.4 * len(ids), counts.max()

    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    iu = np.triu_indices(len(ids), 1)
    m = C[iu] >= 0.35
    truth = {
        (min(int(ids[i]), int(ids[j])), max(int(ids[i]), int(ids[j])))
        for i, j in zip(iu[0][m], iu[1][m])
    }
    clique = {(a, b) for a, b in truth if a < 250 and b < 250}
    assert len(clique) == 250 * 249 // 2

    rows = QUERIES["dedup_embedding_ann"].fn(spark, sf_dir).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in rows}
    assert len(rows) == len(got), "duplicate pair keys on the skew fixture"
    assert not (got - truth), "false positives on the skew fixture"
    clique_recall = len(clique & got) / len(clique)
    assert clique_recall >= 0.95, (
        f"clique recall {clique_recall:.3f} on the skewed cell"
    )


def test_funnel_stages_are_cumulative(spark, sf_dir):
    """Each funnel stage must be a subset of the previous one, the
    totals must cover the corpus, and every stage must actually
    discriminate somewhere (a funnel whose stages all pass or all fail
    reports nothing)."""
    from dirhash_spark.registry import all_queries

    rows = all_queries()["corpus_quality_filter_funnel"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_total >= r.n_len >= r.n_shape >= r.n_lang >= r.n_kept >= 0
        assert r.retention_bp == (10000 * r.n_kept) // r.n_total
    tot = [sum(r[i] for r in rows) for i in range(1, 6)]
    # strict drop at n_len, n_lang and n_kept on the synthetic corpus
    assert tot[0] > tot[1] and tot[2] > tot[3] > tot[4]


def test_perplexity_bigram_score_properties(spark, sf_dir):
    """Surprisal bits are non-negative, mean is exact integer
    centibits, and docs with fewer than two tokens are absent."""
    from pyspark.sql import functions as F

    from dirhash_spark.registry import all_queries

    df = all_queries()["text_perplexity_bigram"].fn(spark, sf_dir)
    bad = df.where(
        (F.col("bigram_bits") < 0)
        | (F.col("n_bigrams") < 1)
        | (F.col("mean_centibits") != F.expr("(100 * bigram_bits) div n_bigrams"))
    ).count()
    assert bad == 0


# --- round-9 additions: span dedup / DSIR / distributed PCA ---------------


def test_span_dedup_matches_driver_reference(spark):
    """text_span_dedup's keep-set must EXACTLY equal a driver-side
    reference: first global occurrence of each distinct 5-word span by
    (doc_id, span_idx), every document rebuilt from its surviving
    spans in order — pinned independently of the SQL oracle."""
    from dirhash_spark.operators.text import _SPAN_W

    sf = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    spans = []
    for did in sorted(docs):
        w = docs[did].split(" ")
        for idx in range(0, (len(w) + _SPAN_W - 1) // _SPAN_W):
            spans.append((did, idx, " ".join(w[idx * _SPAN_W : (idx + 1) * _SPAN_W])))
    first = {}
    for did, idx, sp in sorted(spans):
        first.setdefault(sp, (did, idx))
    expected = {}
    for did in sorted(docs):
        w = docs[did].split(" ")
        chunks = [
            " ".join(w[i * _SPAN_W : (i + 1) * _SPAN_W])
            for i in range(0, (len(w) + _SPAN_W - 1) // _SPAN_W)
        ]
        kept = [sp for i, sp in enumerate(chunks) if first[sp] == (did, i)]
        expected[did] = (len(chunks), len(kept), " ".join(kept))

    rows = QUERIES["text_span_dedup"].fn(spark, sf).collect()
    got = {r["doc_id"]: (r["n_spans"], r["n_kept"], r["cleaned_text"]) for r in rows}
    assert got == expected
    # the corpus really exercises dedup, and kept spans are globally unique
    assert any(g[1] < g[0] for g in got.values())
    from collections import Counter

    kept_counts = Counter()
    for did, (_, _, cleaned) in got.items():
        if cleaned:
            w = cleaned.split(" ")
            for i in range(0, (len(w) + _SPAN_W - 1) // _SPAN_W):
                kept_counts[" ".join(w[i * _SPAN_W : (i + 1) * _SPAN_W])] += 1
    assert kept_counts and max(kept_counts.values()) == 1


def test_dsir_importance_matches_driver_reference(spark):
    """corpus_dsir_importance's integer bit arithmetic must EXACTLY
    equal a driver-side add-1-smoothed unigram reference, and the
    target slice (src0) must outscore the rest on average — the
    defining DSIR property (target docs look target-like)."""
    import re
    from collections import Counter

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    toks = {
        r["doc_id"]: [t for t in re.split(r"\s+", r["text"].lower()) if t]
        for r in docs
    }
    src = {r["doc_id"]: r["source"] for r in docs}
    c_r, c_t = Counter(), Counter()
    for did, ws in toks.items():
        c_r.update(ws)
        if src[did] == "src0":
            c_t.update(ws)
    n_r, n_t, vsz = sum(c_r.values()), sum(c_t.values()), len(c_r)

    def bits(total, c):
        return ((total + vsz) // (c + 1)).bit_length() - 1

    expected = {}
    for did, ws in toks.items():
        if not ws:
            continue
        score = sum(bits(n_r, c_r[w]) - bits(n_t, c_t[w]) for w in ws)
        expected[did] = (
            len(ws),
            score,
            (score * 100) // len(ws) if score >= 0 else -((-score * 100) // len(ws)),
        )

    rows = QUERIES["corpus_dsir_importance"].fn(spark, sf).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["score_bits"], r["mean_centibits"])
        for r in rows
    }
    assert got == expected
    tgt = [got[d][2] for d in got if src[d] == "src0"]
    rest = [got[d][2] for d in got if src[d] != "src0"]
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_embedding_pca_matches_numpy_reference(spark):
    """embedding_pca's partition-partial moment pass + driver eigh must
    agree with a single-shot numpy PCA on the same data: components
    aligned by the deterministic sign rule, projections within one
    rounding ulp (2e-4); projected variances must be in descending
    order and each pc mean-centered."""
    import numpy as np

    from dirhash_spark.operators.similarity import _PCA_K

    for sf in ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]:
        emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
        ids = np.array([r["vec_id"] for r in emb])
        X = np.array([r["embedding"] for r in emb], dtype=np.float64)
        mu = X.mean(0)
        cov = (X - mu).T @ (X - mu) / len(X)
        _, evecs = np.linalg.eigh(cov)
        comp = evecs[:, ::-1][:, :_PCA_K]
        for j in range(_PCA_K):
            if comp[np.abs(comp[:, j]).argmax(), j] < 0:
                comp[:, j] = -comp[:, j]
        ref = {
            int(i): p for i, p in zip(ids, (X - mu) @ comp)
        }
        rows = QUERIES["embedding_pca"].fn(spark, sf).collect()
        assert len(rows) == len(ids)
        P = np.array(
            [[r[f"pc{j + 1}"] for j in range(_PCA_K)] for r in rows]
        )
        for r in rows:
            got = np.array([r[f"pc{j + 1}"] for j in range(_PCA_K)])
            assert np.abs(got - ref[r["vec_id"]]).max() <= 2e-4, r["vec_id"]
        var = P.var(axis=0)
        assert all(var[j] >= var[j + 1] for j in range(_PCA_K - 1))
        assert np.abs(P.mean(axis=0)).max() < 1e-3


def test_ivf_k_derivation_and_nprobe_scaling():
    """K = ceil(N / target-list-size), clamped to [min, max] and to N;
    nprobe keeps the 6/16 probed fraction as K grows, floors at the
    baseline, and caps at K (r10 verdict item 5)."""
    from dirhash_spark.operators import similarity as S

    assert S._ivf_k(0) == S._IVF_K_MIN
    assert S._ivf_k(2) == 2  # never more centroids than points
    assert S._ivf_k(500) == 4
    assert S._ivf_k(2000) == 16  # the former fixed value, at its fixture size
    assert S._ivf_k(128 * 1000) == 1000
    assert S._ivf_k(10**9) == S._IVF_K_MAX
    assert S._nprobe_for(4) == 4  # probe everything on tiny quantizers
    assert S._nprobe_for(16) == 6
    assert S._nprobe_for(64) == 24  # 6/16 fraction preserved


def test_ivf_k_scales_with_fixture_size(spark):
    """Per-list parallelism scales with the corpus-size knob: the
    trained quantizer (and hence inverted-list count) grows with the
    fixture's vector count instead of staying pinned at 16."""
    from dirhash_spark.catalog import Catalog
    from dirhash_spark.operators import similarity as S

    k_small = len(S._train_centroids(Catalog(spark, "/root/testdata/sf0.01")))
    k_big = len(S._train_centroids(Catalog(spark, "/root/testdata/sf0.1")))
    assert (k_small, k_big) == (4, 16)
    assert len(S._train_centroids_distributed(Catalog(spark, "/root/testdata/sf0.01"))) == 4


def test_nprobe_routes_bit_identical_on_near_ties(spark):
    """ADVICE r11: the Spark assignment (the unindexed queries) and the
    driver-side probe of the indexed queries accumulate squared
    distances per DIMENSION in dimension order — one left-to-right IEEE
    addition chain — so both probe the same lists, BIT-identically,
    including on near-tie and exact-tie rankings that numpy's
    reassociating .sum() could flip.  Adversarial data: random vectors
    against centroids containing exact duplicates (tie broken by
    centroid id on both routes) and tight jitter clusters (distances
    differing near the last ulp)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dirhash_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    base = rng.standard_normal((12, 16))
    cents = np.vstack([
        base,
        base[:6],                      # exact duplicates: forced ties
        base[6:] + 1e-15,              # sub-ulp jitter: near ties
    ])  # K = 30
    vecs = np.vstack([base + rng.standard_normal((12, 16)) * 0.3,
                      base[:5]])       # some probes exactly ON a centroid
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, v array<double>",
    )

    nprobe = S._nprobe_for(len(cents))
    out = df.select(
        "vec_id", S._nprobe_clusters(F.col("v"), cents, nprobe).alias("l")
    ).collect()
    spark_lists = {r["vec_id"]: list(r["l"]) for r in out}
    driver_lists = {i: S._probe_nprobe_lists(cents, v) for i, v in enumerate(vecs)}
    assert spark_lists == driver_lists


def test_pq_encode_chunk_stitch_transparent():
    """_pq_codes_nrm bounds its (rows, M, K, d) scratch by row-chunking
    (needed once the derived codebook reaches 256 centroids); the
    multi-chunk stitch must return exactly the codes an unchunked
    argmin computes, and codes must stay in [0, K)."""
    import numpy as np

    from dirhash_spark.operators.similarity import _pq_codes_nrm

    rng = np.random.RandomState(3)
    books = rng.standard_normal((8, 256, 8))  # chunk = 512 rows at 64 MB
    v = rng.standard_normal((1200, 64))  # 3 chunks, last one partial
    codes, nrm = _pq_codes_nrm(v, books)
    sub = v.reshape(len(v), 8, 8)
    want = ((sub[:, :, None, :] - books[None]) ** 2).sum(-1).argmin(-1)
    assert np.array_equal(np.asarray(codes), want)
    assert all(0 <= c < 256 for row in codes for c in row)
    assert np.allclose(nrm, np.sqrt((v**2).sum(1)))


def test_ivf_arrow_route_chunked_scratch(spark):
    """The Arrow argmin bounds its (chunk, K, dim) scratch at ~64 MB by
    row-chunking each batch; with a K large enough to force chunk=1-3
    rows the multi-chunk stitch (vstack across chunks) must still
    return every row's true nearest lists in order."""
    import numpy as np
    from pyspark.sql import functions as F

    from dirhash_spark.operators import similarity as S

    rng = np.random.RandomState(99)
    cents = rng.standard_normal((40_000, 64))  # chunk = 64MB/(40000*64*8) = 3
    vecs = rng.standard_normal((10, 64))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "id long, v array<double>"
    )
    got = {
        r["id"]: list(r["lists"])
        for r in df.select(
            "id", S._nprobe_clusters(F.col("v"), cents, 4).alias("lists")
        ).collect()
    }
    d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    want = {i: list(np.argsort(d2[i], kind="stable")[:4]) for i in range(len(vecs))}
    assert got == want


def test_cc_driver_fastpath_matches_distributed(spark, monkeypatch):
    """The CC router's driver union-find must cluster every graph
    identically to the forced distributed min-label propagation —
    including singletons (present in ids, absent from the pairs: they
    must be their own canonical cluster, proving corpus-sized ids never
    enter the driver mapping), chains, cliques, and fixed-seed random
    graphs — and the router must actually take each route (0 rounds on
    the fast path, > 0 when forced distributed)."""
    import random

    from pyspark.sql import functions as F

    import dirhash_spark.operators.dedup as dedup_mod
    from dirhash_spark.operators.dedup import _connected_components

    def run(pairs_list, n_nodes):
        pairs = spark.createDataFrame(pairs_list, "doc_a long, doc_b long")
        ids = spark.range(n_nodes).select(F.col("id").alias("doc_id"))
        fast_clusters, rounds = _connected_components(pairs, ids)
        fast = {r[0]: tuple(r[1:]) for r in fast_clusters.collect()}
        assert rounds == 0, "fast path not taken"
        monkeypatch.setattr(dedup_mod, "_CC_DRIVER_EDGE_BOUND", -1)
        slow_clusters, rounds = _connected_components(pairs, ids)
        slow = {r[0]: tuple(r[1:]) for r in slow_clusters.collect()}
        assert rounds > 0, "force-route failed"
        monkeypatch.setattr(dedup_mod, "_CC_DRIVER_EDGE_BOUND", 1 << 16)
        assert fast == slow and len(fast) == n_nodes

    rng = random.Random(13)
    chain = [(i, i + 1) for i in range(40)]
    clique = [(60 + i, 60 + j) for i in range(12) for j in range(i + 1, 12)]
    run(chain + clique, 100)  # ids 80-99 are singletons
    rand = list({(min(a, b), max(a, b))
                 for a, b in ((rng.randrange(150), rng.randrange(150)) for _ in range(120))
                 if a != b})
    run(rand, 180)


def test_neardup_cluster_route_parity(spark, sf_dir, monkeypatch):
    """Every caller of the CC primitive must emit, on its driver route
    (bounded collect + union-find; a local frame of the endpoints, or a
    broadcast join back over the corpus ids), the exact row set and
    schema of the forced distributed CC path — the two near-dup
    pipelines, dedup_cluster_canonical and pipeline_semdedup_e2e — and
    the verify stage's default broadcast join those of its forced
    sort-merge join (candidate count above VERIFY_BROADCAST_MAX_PAIRS)."""
    import dirhash_spark.operators.dedup as dedup_mod

    cc_callers = (
        "pipeline_neardup_e2e",
        "pipeline_neardup_e2e_lsh_union",
        "dedup_cluster_canonical",
        "pipeline_semdedup_e2e",
    )
    for constant, forced, names in (
        ("_CC_DRIVER_EDGE_BOUND", -1, cc_callers),
        ("VERIFY_BROADCAST_MAX_PAIRS", 0, cc_callers[:2]),
    ):
        default = getattr(dedup_mod, constant)
        for name in names:
            df_fast = QUERIES[name].fn(spark, sf_dir)
            fast = sorted(map(tuple, df_fast.collect()))
            monkeypatch.setattr(dedup_mod, constant, forced)
            df_slow = QUERIES[name].fn(spark, sf_dir)
            slow = sorted(map(tuple, df_slow.collect()))
            monkeypatch.setattr(dedup_mod, constant, default)
            assert fast == slow, (constant, name)
            assert df_fast.dtypes == df_slow.dtypes, (constant, name)


def test_ann_index_keyed_by_path_identity(tmp_path):
    """Two corpora whose directories share a BASENAME must never share
    a persisted index home — a basename-keyed path silently served
    corpus A's neighbors to corpus B's queries."""
    from dirhash_spark.operators.similarity import _ann_index_path

    a = tmp_path / "runA" / "sf0.1"
    b = tmp_path / "runB" / "sf0.1"
    assert _ann_index_path(str(a)) != _ann_index_path(str(b))
    # stable for the same corpus, trailing slash irrelevant
    assert _ann_index_path(str(a)) == _ann_index_path(str(a) + "/")


def test_zero_norm_embedding_never_ranks(spark, tmp_path):
    """A zero (norm-0) embedding has no direction: 0/0 is NaN and Spark
    sorts NaN above every finite double, so without the nullif guard an
    all-zeros row ranks as the #1 neighbor of every probe.  Plant one
    in a copy of the fixture corpus and require every ANN/exact variant
    to keep it out of the top-k and emit only finite cosines."""
    import math
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.operators import similarity as S

    src = "/root/testdata/sf0.001/embeddings.parquet"
    t = pq.read_table(src)
    zero_id = 999_999
    extra = pa.table(
        {
            "vec_id": pa.array([zero_id], t.schema.field("vec_id").type),
            "embedding": pa.array(
                [np.zeros(64).tolist()], t.schema.field("embedding").type
            ),
            "label": pa.array([0], t.schema.field("label").type),
        }
    )
    sf = str(tmp_path)
    pq.write_table(pa.concat_tables([t, extra]), str(tmp_path / "embeddings.parquet"))
    try:
        for fn in (S.sim_topk_cosine, S.sim_ann_lsh, S.sim_ann_ivf, S.sim_ann_pq,
                   S.sim_ann_ivfpq):
            rows = fn(spark, sf).collect()
            assert rows, fn.__name__
            assert all(r["vec_id"] != zero_id for r in rows), fn.__name__
            assert all(
                r["cosine"] is not None and math.isfinite(r["cosine"]) for r in rows
            ), fn.__name__
    finally:
        shutil.rmtree(S._ann_index_path(sf), True)


def test_minhash_modmul_exact_vs_bigint():
    """The overflow-free (a*x + b) mod p schedule must equal Python
    bigint arithmetic for every permutation over adversarial inputs —
    the naive int64 form wrapped mod 2^64 before the Mersenne
    reduction, silently breaking the universal-hash family."""
    import numpy as np

    from dirhash_spark.operators.dedup import _MERSENNE, _MH_A, _MH_B, _axb_mod_p

    xs = np.array(
        [0, 1, 2, 0xFFFFFFFF, 0x80000000, 0x7FFFFFFF, 12345678, 3141592653],
        dtype=np.int64,
    )
    got = _axb_mod_p(xs)
    for i in range(len(_MH_A)):
        for j, x in enumerate(xs):
            want = (int(_MH_A[i]) * int(x) + int(_MH_B[i])) % _MERSENNE
            assert int(got[i, j]) == want, (i, int(x))


def test_hot_bucket_star_expansion_bounded(spark, tmp_path, monkeypatch):
    """A degenerate corpus (every doc identical → ONE bucket per band
    holding the whole corpus) must not build an O(n^2) pair array
    inside a single row: above _BUCKET_FULL_EXPAND_CAP minhash
    degrades to star topology (O(n) pairs against the bucket minimum)
    and simhash to an identical-fingerprint CHAIN (O(n) hamming-0
    edges between fp-adjacent members) — both span the same connected
    component the e2e pipelines consume.  Below the cap the exact
    all-pairs form is unchanged (pinned by the existing clique
    tests)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import dirhash_spark.operators.dedup as dedup_mod

    n = 60
    monkeypatch.setattr(dedup_mod, "_BUCKET_FULL_EXPAND_CAP", 40)  # < n
    text = "identical boilerplate license text repeated verbatim in every document"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array([text] * n),
                "lang": pa.array(["en"] * n),
                "n_chars": pa.array([len(text)] * n, pa.int32()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    sf = str(tmp_path)

    mh = QUERIES["dedup_minhash"].fn(spark, sf).collect()
    # star: every band contributes (0, x) pairs only → n-1 distinct
    # pairs, not n(n-1)/2
    assert {(r["doc_a"], r["doc_b"]) for r in mh} == {(0, i) for i in range(1, n)}
    assert all(r["n_shared_bands"] == 16 for r in mh)

    sh = QUERIES["dedup_simhash"].fn(spark, sf).collect()
    # identical docs → identical fingerprints → ONE equal-fp run →
    # chain edges (i-1, i), each emitted exactly once (first-shared-
    # band on quarter 0); the single distinct-fp representative yields
    # no rep pairs
    assert {(r["doc_a"], r["doc_b"]) for r in sh} == {(i - 1, i) for i in range(1, n)}
    assert all(r["hamming"] == 0 for r in sh)


def test_simhash_hot_bucket_keeps_nonduplicate_near_dup_pair(
    spark, tmp_path, monkeypatch
):
    """The hot-bucket guard must key on DUPLICATE-NESS, not raw bucket
    size: a quarter bucket inflated past the cap by a duplicate clique
    still has to emit the exact pair between two genuinely-distinct
    near-dup members (the r12 star-to-bucket-min form lost that pair
    whenever both its star edges to the min exceeded hamming 12).
    Fingerprints are planted via the fp-stage seam so the scenario is
    exact: 60 docs with fp=0 (the clique) plus docs 100/101 whose fps
    share quarter 0 with the clique, sit hamming 13 from it (past the
    <=12 verify filter), and hamming 2 from each other."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import dirhash_spark.operators.dedup as dedup_mod

    n = 60
    fp_100 = 0x1FFF << 16  # 13 bits in quarter 1
    fp_101 = 0x3FFE << 16  # 13 bits, shifted by one: xor has 2 bits
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
    planted = spark.createDataFrame(
        [(i, 0) for i in range(n)] + [(100, fp_100), (101, fp_101)],
        "doc_id long, fp long",
    )
    monkeypatch.setattr(dedup_mod, "_BUCKET_FULL_EXPAND_CAP", 40)  # < 62
    monkeypatch.setattr(dedup_mod, "_simhash_fingerprints", lambda cat: planted)
    rows = QUERIES["dedup_simhash"].fn(spark, str(tmp_path)).collect()
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    # the clique chains (band-0 bucket holds all 62 docs: hot)
    for i in range(1, n):
        assert got[(i - 1, i)] == 0
    # clique↔100/101 rep pairs are hamming 13: correctly filtered
    assert (0, 100) not in got and (0, 101) not in got
    # THE pair the old star topology dropped, exactly once, hamming 2
    assert got[(100, 101)] == 2
    assert len(got) == n  # 59 chain edges + the rep pair


def test_simhash_rep_cap_derived_from_corpus_size():
    """The distinct-rep all-pairs budget follows the derive-don't-
    hardcode rule (r13 verdict item 3): 8x the expected 16-bit
    birthday load, floored at the hot cap, ceilinged by the per-row
    memory bound — so today's corpora keep the exact r13 behavior
    while the old fixed-512 cliff at ~34M docs disappears."""
    from dirhash_spark.operators.dedup import _rep_expand_cap

    assert _rep_expand_cap(0) == 512
    assert _rep_expand_cap(6_000) == 512  # sf0.1-scale: unchanged
    assert _rep_expand_cap(4_194_304) == 512  # 512*2^16/8 boundary, exact
    assert _rep_expand_cap(8_000_000) == 977  # ceil(8*8e6/2^16)
    assert _rep_expand_cap(34_000_000) == 2048  # old cliff: ceiling binds
    assert _rep_expand_cap(10**9) == 2048


def test_simhash_hot_distinct_bucket_window_beats_chain(
    spark, tmp_path, monkeypatch
):
    """Past the derived rep budget, a hot-by-DISTINCT-fps bucket must
    fall back to the Manku rotated-order probe window, not the old
    adjacent-only chain: a hamming-1 pair with 17 far-away strangers
    sorting between its members has no chain edge under the hamming
    filter (the chain form returned zero rows here) but sits well
    inside the 64-wide window."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import dirhash_spark.operators.dedup as dedup_mod
    from tests.simhash_fixtures import window_bucket_fps

    fps = window_bucket_fps()
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
    planted = spark.createDataFrame(fps, "doc_id long, fp long")
    monkeypatch.setattr(dedup_mod, "_BUCKET_FULL_EXPAND_CAP", 8)  # < 19
    monkeypatch.setattr(dedup_mod, "_simhash_fingerprints", lambda cat: planted)
    monkeypatch.setattr(dedup_mod, "_corpus_n_docs", lambda cat: 1)
    rows = QUERIES["dedup_simhash"].fn(spark, str(tmp_path)).collect()
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    assert got == {(0, 1): 1}


def test_simhash_derived_cap_keeps_exact_pairs_past_old_cliff(
    spark, tmp_path, monkeypatch
):
    """A corpus PAST the old constant's cliff (pinned at 50M docs, so
    the derived budget saturates at the 2048 memory ceiling) keeps
    EXACT all-pairs over a quarter bucket holding 530 distinct
    fingerprints — the r13 code chained this bucket (530 > fixed 512)
    and lost every non-adjacent pair; output must equal brute force."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import dirhash_spark.operators.dedup as dedup_mod
    from tests.simhash_fixtures import cliff_bucket_fps

    fps = cliff_bucket_fps()
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
    planted = spark.createDataFrame(fps, "doc_id long, fp long")
    monkeypatch.setattr(dedup_mod, "_simhash_fingerprints", lambda cat: planted)
    monkeypatch.setattr(dedup_mod, "_corpus_n_docs", lambda cat: 50_000_000)
    rows = QUERIES["dedup_simhash"].fn(spark, str(tmp_path)).collect()
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    # every doc shares quarter 0, so band 0 is each pair's first shared
    # band and brute force over the planted fps IS the expected output
    want = {}
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            h = bin(fps[i][1] ^ fps[j][1]).count("1")
            if h <= 12:
                want[(i, j)] = h
    assert got == want
    assert got[(0, 1)] == 1  # the non-adjacent pair the chain dropped


def test_adc_broadcast_table_parity_and_codes_only_scan(spark, monkeypatch):
    """Forcing the ADC constants onto broadcast relations (inline
    budget 0) must leave both PQ query results bit-identical to the
    literal-expression path, and the ivfpq ADC stage must keep its
    100-TB contract: partition-pruned scan reading codes+nrm, never
    the float vectors (the table/dot map now live in broadcast
    relations instead of the Catalyst tree — r13 verdict item 4)."""
    import re

    import numpy as np

    import dirhash_spark.operators.similarity as S
    from dirhash_spark.catalog import Catalog

    sf = "/root/testdata/sf0.001"
    base_pq = sorted(map(tuple, QUERIES["sim_ann_pq"].fn(spark, sf).collect()))
    base_ivfpq = sorted(map(tuple, QUERIES["sim_ann_ivfpq"].fn(spark, sf).collect()))

    monkeypatch.setattr(S, "_ADC_LIT_ENTRIES_MAX", 0)
    got_pq = sorted(map(tuple, QUERIES["sim_ann_pq"].fn(spark, sf).collect()))
    got_ivfpq = sorted(map(tuple, QUERIES["sim_ann_ivfpq"].fn(spark, sf).collect()))
    assert got_pq == base_pq
    assert got_ivfpq == base_ivfpq

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
    adc = S._ivfpq_adc_candidates(cat, index, cents, books, pv, lists)
    p = adc._sc._jvm.PythonSQLUtils.explainString(
        adc._jdf.queryExecution(), "formatted"
    )
    scans = re.findall(
        r"Scan parquet[^(]*?PartitionFilters: \[([^\]]*)\].*?ReadSchema: struct<([^>]*)>",
        p,
        re.S,
    )
    idx_scans = [
        ({c.split(":")[0] for c in rs.split(",")}, pf)
        for pf, rs in scans
        if "cluster_id" in pf
    ]
    assert idx_scans, p
    for cols, pf in idx_scans:
        assert "codes" in cols and "v" not in cols, cols
        assert "isin" in pf or "IN" in pf.upper(), pf
    # the constants moved off the expression tree into broadcasts
    assert "BroadcastExchange" in p, p


def test_adc_table_sanitizes_non_finite(spark, monkeypatch):
    """NaN-poisoned codebooks (e.g. a NaN embedding reaching the
    trainer) must not fail the literal parse ('nanD' is not SQL) or
    NaN every ADC score: non-finite table entries map to 0.0 and the
    queries still return a full finite top-k (r13 advice)."""
    import math

    import numpy as np

    import dirhash_spark.operators.similarity as S
    from dirhash_spark.catalog import Catalog

    # unit: poisoned books/probe sanitize to finite zeros
    books = np.zeros((2, 2, 2))
    books[0, 0, 0] = np.nan
    books[1, 1, 1] = np.inf
    t = S._adc_table(np.full(4, np.nan), books)
    assert np.isfinite(t).all()

    sf = "/root/testdata/sf0.001"
    real = S._train_pq_codebooks(Catalog(spark, sf))
    poisoned = real.copy()
    poisoned[0, :, :] = np.nan  # one whole subspace unusable
    monkeypatch.setattr(S, "_train_pq_codebooks", lambda cat: poisoned)
    rows = QUERIES["sim_ann_pq"].fn(spark, sf).collect()
    assert len(rows) == 10
    assert all(r["cosine"] is not None and math.isfinite(r["cosine"]) for r in rows)

    realr = S._train_pq_residual_codebooks(
        Catalog(spark, sf), S._train_centroids(Catalog(spark, sf))
    )
    poisonedr = realr.copy()
    poisonedr[0, :, :] = np.nan
    monkeypatch.setattr(S, "_train_pq_residual_codebooks", lambda cat, cents: poisonedr)
    rows = QUERIES["sim_ann_ivfpq"].fn(spark, sf).collect()
    assert len(rows) == 10
    assert all(r["cosine"] is not None and math.isfinite(r["cosine"]) for r in rows)


def test_adc_probe_nan_does_not_nan_scores(spark):
    """The PROBE half of the sanitization contract: a NaN-poisoned
    probe zeroes the table entries (covered above) but used to leak
    through the unsanitized probe norm — every approx_cos went
    dot/(nrm*NaN) = NaN, and Spark sorts NaN above every finite
    double, so the ADC depth cut degenerated to a vec_id-ordered
    prefix.  A non-finite probe norm must force the zero-norm guard
    instead: scores come back null, never NaN."""
    import math

    import numpy as np

    import dirhash_spark.operators.similarity as S

    books = np.zeros((2, 3, 2))
    probe = np.array([np.nan, 0.0, 1.0, 1.0])
    df = spark.createDataFrame(
        [(1, [0, 1], 1.0), (2, [2, 0], 2.0)],
        "vec_id long, codes array<int>, nrm double",
    )
    df, table_col = S._attach_adc_table(df, probe, books)
    rows = df.select(
        S._pq_adc_cosine(probe, books, table_col).alias("s")
    ).collect()
    assert len(rows) == 2
    assert all(r["s"] is None or math.isfinite(r["s"]) for r in rows)


def test_pq_duplicate_clique_does_not_flood_rerank(spark, tmp_path, monkeypatch):
    """The r13 docstring-admitted limit, now closed: with the PQ books
    forced to zeros every ADC score ties at 0.0, so the old per-row
    encoder's depth cut (here 12) filled entirely with the low-id
    members of a 60-strong byte-identical clique and the true top-10
    (strictly closer, higher ids) never reached the exact re-rank.
    With distinct-embedding grouping the clique holds ONE candidate
    slot, all 10 distinct closer vectors survive the cut, and the
    output is exactly the true top-10."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import dirhash_spark.operators.similarity as S

    d = 64
    probe = np.zeros(d); probe[0] = 1.0

    def at_angle(theta, axis):
        v = np.zeros(d)
        v[0] = np.cos(theta)
        v[axis] = np.sin(theta)
        return v

    rows = [(0, 0, probe)]
    clique_v = at_angle(0.32, 1)  # cosine ~0.949
    for i in range(1, 61):
        rows.append((i, 1, clique_v))  # byte-identical clique, low ids
    for j in range(10):  # strictly closer distinct vectors, HIGH ids
        rows.append((61 + j, 2, at_angle(0.05 + 0.01 * j, 2 + j)))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "label": pa.array([r[1] for r in rows], pa.int32()),
                "embedding": pa.array(
                    [r[2].astype(np.float32).tolist() for r in rows],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sf = str(tmp_path)
    monkeypatch.setattr(S, "_train_pq_codebooks", lambda cat: np.zeros((8, 32, 8)))
    monkeypatch.setattr(S, "_corpus_pq_params", lambda cat: (32, 12))  # depth 12 < clique
    got = QUERIES["sim_ann_pq"].fn(spark, sf).collect()
    assert [r["vec_id"] for r in got] == list(range(61, 71))


def test_pq_winning_clique_expands_to_members(spark, tmp_path, monkeypatch):
    """The flip side of the grouping: when the byte-identical clique
    genuinely IS the nearest neighbourhood, its members must re-enter
    the final top-k individually (rep vec_id 1 plus the next lowest
    member ids), not as a single representative row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import dirhash_spark.operators.similarity as S

    d = 64
    probe = np.zeros(d); probe[0] = 1.0

    def at_angle(theta, axis):
        v = np.zeros(d)
        v[0] = np.cos(theta)
        v[axis] = np.sin(theta)
        return v

    rows = [(0, 0, probe)]
    clique_v = at_angle(0.32, 1)
    for i in range(1, 61):
        rows.append((i, 1, clique_v))
    for j in range(5):  # only FIVE closer vectors: clique fills the rest
        rows.append((61 + j, 2, at_angle(0.05 + 0.01 * j, 2 + j)))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "label": pa.array([r[1] for r in rows], pa.int32()),
                "embedding": pa.array(
                    [r[2].astype(np.float32).tolist() for r in rows],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sf = str(tmp_path)
    monkeypatch.setattr(S, "_train_pq_codebooks", lambda cat: np.zeros((8, 32, 8)))
    monkeypatch.setattr(S, "_corpus_pq_params", lambda cat: (32, 12))
    got = QUERIES["sim_ann_pq"].fn(spark, sf).collect()
    # top-5 = the distinct closer vectors, then the clique's five
    # lowest member ids (ties broken by vec_id), each its own row
    assert [r["vec_id"] for r in got] == [61, 62, 63, 64, 65, 1, 2, 3, 4, 5]
    assert all(
        abs(r["cosine"] - round(float(np.cos(0.32)), 4)) < 1e-9
        for r in got[5:]
    )


def test_score_list_pairs_digest_gate_parity():
    """The r14 duplicate pre-check (vectorized row digest) must be
    output-invisible: a >cap duplicate-free list takes the fast path
    (digest proves distinctness, lexicographic row sort skipped) and
    emits exactly the pairs the exact-check path emits; a >cap list
    WITH a >cap duplicate clique still falls through to the grouped
    degrade (rep + chain), digests notwithstanding."""
    import numpy as np

    import dirhash_spark.operators.dedup as D

    rng = np.random.RandomState(3)
    n, d = 600, 8  # > _BUCKET_FULL_EXPAND_CAP distinct rows
    mat = rng.randn(n, d)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.arange(n, dtype=np.int64)
    fast = D._score_list_pairs(ids.copy(), mat.copy(), threshold=0.9)
    # force the slow path by planting one duplicate pair (digest
    # collision by construction) far from every near-dup pair
    mat2 = np.vstack([mat, mat[:1]])
    ids2 = np.arange(n + 1, dtype=np.int64)
    slow = D._score_list_pairs(ids2, mat2, threshold=0.9)
    # the fast run's pair set must be a subset of the slow run's
    # (which adds only pairs involving the planted duplicate row)
    f = {(r.vec_a, r.vec_b) for r in fast.itertuples()}
    s = {(r.vec_a, r.vec_b) for r in slow.itertuples()}
    assert f <= s
    extra = s - f
    assert all(n in (a, b) for a, b in extra)

    # duplicate clique past the cap: grouped degrade still engages
    clique = np.tile(mat[:1], (D._BUCKET_FULL_EXPAND_CAP + 10, 1))
    cids = np.arange(len(clique), dtype=np.int64)
    out = D._score_list_pairs(cids, clique.copy(), threshold=0.9)
    # rep + adjacent chain: O(b) rows, not b(b-1)/2
    assert len(out) == len(clique) - 1


def test_simhash_window_chunking_is_output_invisible(spark, tmp_path, monkeypatch):
    """The bounded-row chunked window must emit exactly the same pair
    set as a single-chunk run: with the chunk width shrunk to 6 (so
    the 19-rep fixture spans four overlapping chunks) the output is
    identical to the one-chunk form — every cross-chunk pair is owned
    by its left member's chunk exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import dirhash_spark.operators.dedup as dedup_mod
    from tests.simhash_fixtures import window_bucket_fps

    fps = window_bucket_fps()
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
    planted = spark.createDataFrame(fps, "doc_id long, fp long")
    monkeypatch.setattr(dedup_mod, "_BUCKET_FULL_EXPAND_CAP", 8)
    monkeypatch.setattr(dedup_mod, "_simhash_fingerprints", lambda cat: planted)
    monkeypatch.setattr(dedup_mod, "_corpus_n_docs", lambda cat: 1)

    one_chunk = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in QUERIES["dedup_simhash"].fn(spark, str(tmp_path)).collect()
    }
    monkeypatch.setattr(dedup_mod, "_WINDOW_CHUNK", 6)  # 19 reps -> 4 chunks
    many_chunks = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in QUERIES["dedup_simhash"].fn(spark, str(tmp_path)).collect()
    }
    assert one_chunk == many_chunks == {(0, 1): 1}


def test_verbatim_runs_route_parity(spark, monkeypatch):
    """The corpus-size route of dedup_verbatim_runs is bit-identical:
    single-pass string form (small local corpora), hash pre-pass with
    broadcast survivor filter (production sizes, forced by zeroing the
    byte crossover), and the pre-pass's merge-join fallback
    (boilerplate-dense corpora, forced by zeroing the broadcast cap)
    must all emit exactly the same rows."""
    import dirhash_spark.operators.dedup as dedup_mod

    sf = "/root/testdata/sf0.01"
    fn = QUERIES["dedup_verbatim_runs"].fn

    def rows():
        return sorted(map(tuple, fn(spark, sf).collect()))

    base = rows()
    assert base, "fixture corpus must contain verbatim runs"
    monkeypatch.setattr(dedup_mod, "_VERBATIM_PREPASS_MIN_BYTES", 0)
    assert rows() == base
    monkeypatch.setattr(dedup_mod, "_VERBATIM_BROADCAST_MAX_HASHES", -1)
    assert rows() == base
