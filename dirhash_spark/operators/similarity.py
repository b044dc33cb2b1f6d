"""Similarity search over embeddings (SURVEY §2.B B44 + ANN extension).

- ``sim_topk_cosine``: exact brute-force top-k vs a probe vector — the
  correctness baseline.  One pass over the corpus, dot products via
  zip_with/aggregate (JVM, codegen), TakeOrderedAndProject for the top-k
  (no global sort).
Public constructions: random-hyperplane LSH (Charikar, STOC 2002);
IVF coarse quantization (Jégou/Douze/Schmid, "Product quantization for
nearest neighbor search", TPAMI 2011 — the inverted-file part, without
the PQ residual codes).

- ``sim_ann_lsh``: the 100 TB path — random-hyperplane LSH.  Each vector
  gets a 16-bit signature (sign of 16 fixed hyperplane dot products);
  candidates = signatures within hamming ≤ 6 of the probe's, then exact
  cosine re-rank of candidates only.  All JVM-side bitwise ops; the
  hyperplanes are deterministic literals (seeded), so results are
  reproducible across runs and engines.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog, corpus_memo, table_rowcount, table_stats
from ..registry import query

_TOP_K = 10


def _probe(cat: Catalog):
    """1-row DataFrame with the probe vector (vec_id 0) — broadcast, so
    the 'parameter' stays a dataflow edge, never a driver collect."""
    return F.broadcast(
        cat.embeddings.where(F.col("vec_id") == 0).select(
            F.col("embedding").cast("array<double>").alias("probe")
        )
    )


def _cosine(v, p):
    dot = F.aggregate(F.zip_with(v, p, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    nv = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    np_ = F.sqrt(F.aggregate(p, F.lit(0.0), lambda a, x: a + x * x))
    # A zero-norm vector has no direction: 0/0 is NaN, and Spark sorts
    # NaN ABOVE every finite double, so one all-zeros embedding would
    # rank as the #1 neighbor in every top-k.  nullif makes it NULL
    # instead, which orderBy(desc) places last — degenerate vectors
    # drop out of the ranking rather than hijacking it.
    return dot / F.nullif(nv * np_, F.lit(0.0))


@query(
    "sim_topk_cosine",
    oracle=f"""
    WITH p AS (SELECT embedding::DOUBLE[] AS probe FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
                  list_cosine_similarity(embedding::DOUBLE[], probe) AS cos_raw
           FROM embeddings, p
           WHERE vec_id <> 0
         )
    SELECT vec_id, label, round(cos_raw, 4) AS cosine
    FROM scored
    ORDER BY cos_raw DESC, vec_id
    LIMIT {_TOP_K}
    """,
    tags=("similarity",),
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B44: exact top-k cosine similarity vs the vec_id=0 probe.
    Ranking happens on the unrounded value (rounded only for output, so
    float-association noise can't reorder the cut)."""
    cat = Catalog(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    scored = (
        cat.embeddings.where(F.col("vec_id") != 0)
        .crossJoin(_probe(cat))
        .select("vec_id", "label", _cosine(v, F.col("probe")).alias("cos_raw"))
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(_TOP_K)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cosine"))
    )


_N_PLANES = 16
_DIM = 64
_HYPERPLANES = np.random.RandomState(1234).standard_normal((_N_PLANES, _DIM))


def _lsh_signature(vec_col):
    """16-bit LSH signature: bit i = sign(hyperplane_i · v) — all JVM
    codegen (zip_with dot product, shiftleft/bitwiseOR bit packing)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.array(*[F.lit(float(w)) for w in _HYPERPLANES[i]]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(_N_PLANES)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


@query("sim_ann_lsh", oracle=None, tags=("similarity", "ann", "lsh"))
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH + exact re-rank of candidates.

    rows-only: the bucketing is engine-specific; recall vs the exact
    brute force is asserted in tests instead.  The write-time form is
    ``sim_ann_lsh_indexed`` (signatures persisted in the ANN index).
    """
    cat = Catalog(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")

    probe = F.broadcast(
        cat.embeddings.where(F.col("vec_id") == 0).select(
            v.alias("probe"), _lsh_signature(v).alias("probe_sig")
        )
    )
    sigs = cat.embeddings.where(F.col("vec_id") != 0).select(
        "vec_id", "label", v.alias("v"), _lsh_signature(v).alias("sig")
    )
    # Hamming ≤ 6 of 16 planes ⇒ ~20% of a random corpus scanned at
    # recall ≈ 0.6 for weakly-similar probes (measured on the fixtures);
    # clustered real-world embeddings concentrate much harder, pushing
    # recall up and candidate share down at the same threshold.
    candidates = sigs.crossJoin(probe).where(
        F.bit_count(F.col("sig").bitwiseXOR(F.col("probe_sig"))) <= 6
    )
    return (
        candidates.select("vec_id", "label", _cosine(F.col("v"), F.col("probe")).alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(_TOP_K)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cosine"))
    )


# ------------------------------------------------------------------ IVF ANN

#: K is DERIVED from corpus size at train time (r10 verdict item 5):
#: K = ceil(N / _IVF_TARGET_LIST), clamped — the production sizing rule
#: (each inverted list targets ~_IVF_TARGET_LIST vectors so a list's
#: scoring block fits one task and lists >> cores).  On the test
#: fixtures: 500 vectors → K=4, 2000 → K=16 (the former fixed value),
#: so per-list parallelism now scales with the corpus-size knob.
_IVF_TARGET_LIST = 128
_IVF_K_MIN = 4
#: Driver/centroid-state bound: K×64 doubles stays ~2 MB at the cap.
_IVF_K_MAX = 4096
_IVF_ITERS = 8
_IVF_NPROBE = 6  # probed lists at K=16; scales with K via _nprobe_for
_IVF_SAMPLE = 2048


def _ivf_k(n_vectors: int) -> int:
    """Coarse-quantizer size for an N-vector corpus: ceil(N / target
    list size), clamped to [_IVF_K_MIN, _IVF_K_MAX] and to N itself
    (k-means cannot have more centroids than points)."""
    if n_vectors <= 0:
        return _IVF_K_MIN
    k = -(-n_vectors // _IVF_TARGET_LIST)
    return max(min(_IVF_K_MIN, n_vectors), min(_IVF_K_MAX, k, n_vectors))


def _nprobe_for(k: int) -> int:
    """Probed-list count for a K-list quantizer: keep the probed
    FRACTION of the baseline (_IVF_NPROBE of 16) as K grows — recall
    tracks the probed fraction, not the absolute list count — with the
    baseline as the floor and K itself as the cap (a 4-list quantizer
    probes all 4: small corpora degrade toward exact search, never
    toward missed lists)."""
    return min(k, max(_IVF_NPROBE, -(-k * _IVF_NPROBE // 16)))


def _corpus_n(cat: Catalog) -> int:
    """Embeddings corpus size, shared by every parameter-derivation rule
    (IVF K and the PQ codebook/re-rank sizing below): parquet footers
    for local corpora, one memoized ``count()`` otherwise."""
    return table_rowcount(cat.spark, cat.sf_dir, "embeddings")


def _corpus_ivf_k(cat: Catalog) -> int:
    """Derived K for the corpus (benches pin a K by patching this
    accessor — scripts/ann_scale_bench.py's fixed16 mode)."""
    return _ivf_k(_corpus_n(cat))


def _train_sample_order(df):
    """Trainer-sample ordering: the first-N rows by ``xxhash64(vec_id)``
    (vec_id tiebreak) — a deterministic PSEUDO-RANDOM total order, so
    the bounded sample is ingestion-order independent.  Ordering by raw
    vec_id took the id-PREFIX of the corpus: on a source-ordered ingest
    (the normal case at scale — source 1 owns the low ids) every
    centroid would train inside the first source's region of the
    embedding space and every other source's vectors would pile into a
    few nearest lists.  limit-after-orderBy stays a TakeOrdered (no
    full sort materialization); fixtures keep bit-identical behavior
    classes (same seed, same k-means), only the sample membership is
    now unbiased."""
    return df.orderBy(F.xxhash64("vec_id"), "vec_id")


def _assign_chunked(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Nearest-centroid assignment with ROW-CHUNKED scratch: the naive
    ``(x[:,None,:] - cents[None,:,:])`` broadcast materializes a
    (rows, K, dim) float64 block — 274 GB at the sample/K caps — so
    rows are processed in blocks sized to keep the block ~64 MB (the
    same bounding discipline as the Arrow argmin and the PQ encoder)."""
    block = max(1, (64 << 20) // (len(cents) * x.shape[1] * 8))
    out = np.empty(len(x), dtype=np.int64)
    for s in range(0, len(x), block):
        xs = x[s : s + block]
        out[s : s + block] = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
    return out


@corpus_memo("embeddings")
def _train_centroids(cat: Catalog) -> np.ndarray | None:
    """Driver-side k-means on a bounded, deterministically-ordered
    sample — the coarse-quantizer training step.  The sample SCALES
    WITH K (32 points per derived centroid, floor ``_IVF_SAMPLE``): a
    fixed 2048-row sample left 13 points per centroid at K=157 and
    measurably mistrained the quantizer (IVFPQ recall@10 0.6 vs 0.9 at
    32/centroid on the 20k gaussian worst case, BASELINE.md r12) — and
    at the K cap it silently CLAMPED K to the sample size.  Training
    cost is O(sample·K·dim·iters) on the driver, independent of corpus
    size; the distributed trainer (``sim_ann_ivf_distfit``) is the
    path when even that sample can't represent the corpus.  Memoized
    on the corpus fingerprint: train once per corpus version, reuse
    for every query in the process — the in-process stand-in for the
    persisted model a production deployment would load (the on-disk
    form is the ANN index, ``_ann_index_path``)."""
    sample = (
        _train_sample_order(cat.embeddings)
        .limit(max(_IVF_SAMPLE, 32 * _corpus_ivf_k(cat)))
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .toPandas()["v"]  # bounded: limit() right above caps the rows
        .tolist()
    )
    if not sample:  # empty corpus: nothing to quantize (callers emit empty)
        return None
    x = np.asarray(sample, dtype=np.float64)
    n_k = min(_corpus_ivf_k(cat), len(x))  # K derived from corpus size
    rng = np.random.RandomState(7)
    cents = x[rng.choice(len(x), n_k, replace=False)]
    for _ in range(_IVF_ITERS):
        assign = _assign_chunked(x, cents)
        for k in range(n_k):
            if (assign == k).any():
                cents[k] = x[assign == k].mean(0)
    return cents


@corpus_memo("embeddings")
def _train_centroids_distributed(cat: Catalog) -> np.ndarray | None:
    """Dataflow twin of the sampled trainer: Lloyd's k-means where every
    pass runs over the FULL corpus as a Spark aggregation — the answer
    to "what if the training sample can't represent 100 TB".

    Per iteration: assignment reuses the same map-only Arrow argmin the
    query path uses (:func:`_nprobe_clusters`), and
    re-centering is one ``groupBy(cluster).agg(avg per dimension)``
    shuffle whose output is exactly K rows of K×64 doubles.  Only those
    K centroids (a few KiB) return to the driver between iterations —
    the kmeans‖ execution shape: O(corpus) work per pass, O(K·dim)
    driver state, never a corpus collect.  Init is the first K vectors
    in deterministic xxhash64 order (:func:`_train_sample_order` — a
    no-RNG pseudo-shuffle; first-K *by vec_id* was prefix-biased).
    Empty clusters keep their previous centroid, like the sampled
    trainer.

    tests/test_llm_ops.py asserts IVF recall with these centroids is
    within tolerance of the sampled trainer's.  Memoized on the corpus
    fingerprint, like :func:`_train_centroids`.
    """
    emb = cat.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    init = (
        _train_sample_order(emb)
        .limit(_corpus_ivf_k(cat))  # K derived from corpus size
        .select("v")
        .toPandas()["v"]  # bounded: limit() right above caps the rows
        .tolist()
    )
    if not init:  # empty corpus: nothing to quantize (callers emit empty)
        return None
    cents = np.asarray(init, dtype=np.float64)
    dim = cents.shape[1]
    for _ in range(_IVF_ITERS):
        recentered = (
            emb.select(_nprobe_clusters(F.col("v"), cents, 1)[0].alias("cid"), "v")
            .groupBy("cid")
            .agg(*[F.avg(F.col("v")[i]).alias(f"c{i}") for i in range(dim)])
            .collect()  # exactly K rows — bounded by design
        )
        for r in recentered:
            cents[r["cid"]] = [r[f"c{i}"] for i in range(dim)]
    return cents


def _nearest_lists(x: np.ndarray, cents: np.ndarray, take: int) -> np.ndarray:
    """Ids of each row of ``x``'s ``take`` nearest centroids, nearest
    first — the one assignment kernel behind every IVF query.  Squared
    distances accumulate per DIMENSION, in dimension order, so every
    caller runs the identical left-to-right IEEE addition chain per
    (row, centroid): the Spark assignment and the driver-side probe of
    the indexed queries rank bit-identically (numpy's pairwise
    ``.sum(-1)`` reassociates and could flip near-tie rankings, ADVICE
    r11).  Stable argsort keeps ties on the smallest centroid id."""
    d = np.zeros((x.shape[0], cents.shape[0]), dtype=np.float64)
    for j in range(cents.shape[1]):
        t = x[:, j, None] - cents[None, :, j]
        d += t * t
    return np.argsort(d, axis=1, kind="stable")[:, :take]


def _nprobe_clusters(vec_col, cents: np.ndarray, nprobe: int):
    """The ``nprobe`` nearest centroid ids for a vector column, as an
    Arrow-batched map-only expression over :func:`_nearest_lists` — so
    probe→lists stays a dataflow edge, not a driver collect (``[0]`` of
    a 1-probe call is the nearest centroid).  The plan is one node
    whatever K is; a literal-expression argmin grows O(K·dim) Catalyst
    nodes, measured r14 at K=16 as 3.2 s of driver planning per run
    against ~0.05 s here.  Scratch is (chunk, K) per dimension step."""
    from pyspark.sql.functions import pandas_udf

    c = np.ascontiguousarray(cents, dtype=np.float64)
    take = int(nprobe)
    # chunk rows so PEAK live scratch stays ~64 MB: each dimension step
    # holds three (chunk, K) float64 arrays at once — the accumulator
    # `d`, the difference `t`, and the `t*t` temporary — so the budget
    # divides by 3, not 1 (sizing only the accumulator understated peak
    # residency 3x per concurrent Python worker).
    chunk = max(1, (64 << 20) // (3 * c.shape[0] * 8))

    @pandas_udf("array<int>")
    def nearest_lists(v: pd.Series) -> pd.Series:
        x = np.asarray(v.tolist(), dtype=np.float64)
        out = [
            _nearest_lists(x[s : s + chunk], c, take).astype(np.int32)
            for s in range(0, len(x), chunk)
        ]
        return pd.Series([row.tolist() for row in np.vstack(out)]) if out else pd.Series(
            [], dtype=object
        )

    return nearest_lists(vec_col)


#: Every ANN top-k query emits this shape; the empty-corpus result is
#: an empty frame of it (trainers return None when their bounded
#: sample is empty — ANN over nothing is nothing, not a crash).
_TOPK_SCHEMA = "vec_id bigint, label int, cosine double"


def _empty_topk(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _TOPK_SCHEMA)


@query("sim_ann_ivf", oracle=None, tags=("similarity", "ann", "ivf"))
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF coarse quantization: k-means centroids (trained
    once per corpus version on a bounded sample, memoized), map-only
    Arrow cluster assignment, search only the probe's nprobe nearest
    clusters, exact cosine re-rank inside.

    On these near-uniform fixtures recall ≈ candidate share (the
    no-structure worst case, measured in tests); on clustered real
    embeddings the inverted lists concentrate neighbors so recall ≫
    share — the standard IVF trade.  The whole query path is dataflow:
    the probe's nprobe lists are computed by the same Arrow expression on
    the broadcast probe row (no ``.first()``), and the write-time form of
    the assignment is ``sim_ann_ivf_indexed`` below, where list id is a
    partition key and nprobe pruning is partition pruning on read.

    rows-only: centroid training is engine-specific; recall vs exact
    brute force is asserted in tests/test_llm_ops.py.
    """
    cat = Catalog(spark, sf_dir)
    cents = _train_centroids(cat)
    if cents is None:
        return _empty_topk(spark)
    return _ivf_topk(cat, cents)


def _ivf_topk(cat: Catalog, cents: np.ndarray) -> DataFrame:
    """The IVF query path, parameterized by the trained centroids —
    shared by the sampled-trainer and distributed-trainer exposures so
    the two differ ONLY in where the coarse quantizer came from."""
    v = F.col("embedding").cast("array<double>")

    probe = F.broadcast(
        cat.embeddings.where(F.col("vec_id") == 0).select(
            v.alias("probe"),
            _nprobe_clusters(v, cents, _nprobe_for(len(cents))).alias("probe_clusters"),
        )
    )
    assigned = cat.embeddings.where(F.col("vec_id") != 0).select(
        "vec_id", "label", v.alias("vv"), _nprobe_clusters(v, cents, 1)[0].alias("cluster_id")
    )
    candidates = assigned.crossJoin(probe).where(
        F.array_contains(F.col("probe_clusters"), F.col("cluster_id"))
    )
    return (
        candidates.select("vec_id", "label", _cosine(F.col("vv"), F.col("probe")).alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(_TOP_K)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cosine"))
    )


@query("sim_ann_ivf_distfit", oracle=None, tags=("similarity", "ann", "ivf", "kmeans"))
def sim_ann_ivf_distfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose coarse quantizer is trained by the DISTRIBUTED
    k-means (``_train_centroids_distributed``: full-corpus Lloyd passes
    as Spark aggregations, K centroids to the driver per iteration) —
    the scale witness for the sampled trainer: same query path
    (``_ivf_topk``), different fit.  rows-only like its twin; recall
    parity with the sampled trainer is asserted in
    tests/test_llm_ops.py.
    """
    cat = Catalog(spark, sf_dir)
    cents = _train_centroids_distributed(cat)
    if cents is None:
        return _empty_topk(spark)
    return _ivf_topk(cat, cents)


# ------------------------------------------------- persisted ANN index

#: Bump when signature/centroid logic changes: the version is part of
#: the index path, so a stale on-disk index from older code can never be
#: read by newer query logic (it would silently return wrong neighbors).
_ANN_INDEX_VERSION = 7  # v6: duplicate-grouped rows; v7: residual PQ codes


def _probe_nprobe_lists(cents: np.ndarray, probe_vec: np.ndarray) -> list[int]:
    """Driver-side twin of :func:`_nprobe_clusters` for a single probe:
    the same kernel, so the indexed queries probe EXACTLY the lists the
    unindexed form would."""
    return _nearest_lists(probe_vec[None, :], cents, _nprobe_for(len(cents)))[0].tolist()


def _ann_index_path(sf_dir: str) -> str:
    """On-disk home of the persisted ANN index for ``sf_dir``.

    Keyed by the ABSOLUTE corpus path (hashed), not just its basename:
    two corpora named ``.../runA/sf0.1`` and ``.../runB/sf0.1`` must
    never reuse each other's index — a basename collision would
    silently return corpus A's neighbors for corpus B's queries (the
    readable basename stays in the key for humans; the hash carries
    identity).  A short hash of the embeddings fingerprint
    (:func:`~dirhash_spark.catalog.table_stats`) sits beside it, so a
    corpus rewritten in place gets a fresh index home and the stale
    index is never read — no manual drop needed; the version prefix
    invalidates on CODE changes.
    """
    import hashlib
    import os
    import tempfile

    resolved = os.path.abspath(sf_dir.rstrip("/") or "/")
    tag = (os.path.basename(resolved) or "default") + "-" + hashlib.sha256(
        resolved.encode("utf-8")
    ).hexdigest()[:12]
    st = table_stats(sf_dir, "embeddings")
    if st is not None:
        tag += "-" + hashlib.sha256(repr(st.fingerprint).encode("utf-8")).hexdigest()[:8]
    return os.path.join(
        tempfile.gettempdir(), "dirhash_spark_ann_index", f"v{_ANN_INDEX_VERSION}", tag
    )


def build_ann_index(spark: SparkSession, sf_dir: str) -> str | None:
    """Write-time ANN index: ONE row per **distinct embedding** with
    its precomputed LSH signature, its IVF list id, AND its PQ codes
    (+ norm), stored as parquet **partitioned by cluster_id** (one
    directory per inverted list).

    This is the artifact a 100 TB deployment maintains at ingest: the
    expensive per-vector work (signature bits, centroid assignment, PQ
    encoding) happens once at write, and every query afterwards reads
    the index — nprobe search becomes partition pruning (only nprobe of the
    K index directories are listed/read), signature filtering reuses the
    stored sig column, and IVFPQ's ADC stage reads only the ~50x-
    compressed codes column instead of the float vectors.

    Duplicate grouping (v6): byte-identical vectors are the ONE skew
    no quantizer can split — the r13 skew measurement
    (``ann_scale_bench.py --skew``, BASELINE.md) shows a 30%-identical
    corpus piling its whole mass into a single list (47x the uniform
    target) while a dense-but-nonzero-variance blob stays within 3.4x
    (k-means allocates centroids mass-proportionally).  So the index
    keys its rows on the exact vector: the representative (min vec_id)
    carries ``member_ids``/``member_labels`` — the _TOP_K+1 smallest
    members, all a top-k query can ever surface from a group whose
    distances are identical and whose ties break by vec_id — plus the
    full ``group_n`` count.  Per-query distance work is then bounded
    by DISTINCT embeddings per list (the same duplicate-keyed
    degradation rule as the LSH/simhash bucket caps), and query paths
    expand members only after scoring (:func:`_expand_members`).
    Grouping is EXACT float equality (post NaN/-0.0 normalization) —
    near-duplicates are semantic-dedup's job, not the index's.  The
    group rollup is a window over the vector key; a degenerate group
    is one sort partition (spill-backed, ingest-time one-off) and
    never materializes a group-sized array.
    Idempotent: returns the existing index if already built.
    """
    import os

    import pandas as pd
    from pyspark.sql.window import Window

    out = _ann_index_path(sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        cat = Catalog(spark, sf_dir)
        cents = _train_centroids(cat)
        if cents is None:  # empty corpus: no index
            return None
        # v7: the stored codes quantize the RESIDUAL v − centroid, so
        # the books' resolution concentrates within each list (the
        # dense-blob recall fix; sim_ann_pq keeps its raw-vector books)
        books = _train_pq_residual_codebooks(cat, cents)
        if books is None:
            return None
        v = F.col("embedding").cast("array<double>")
        sig = _lsh_signature(F.col("v"))

        wv = Window.partitionBy("v")
        grouped = (
            cat.embeddings.select("vec_id", "label", v.alias("v"))
            .select(
                "vec_id",
                "label",
                "v",
                F.row_number().over(wv.orderBy("vec_id")).alias("rn"),
                F.count(F.lit(1)).over(wv).alias("group_n"),
            )
            .where(F.col("rn") <= _TOP_K + 1)  # bounded BEFORE any collect
            .groupBy("v")
            .agg(
                F.min("vec_id").alias("vec_id"),
                F.sort_array(
                    F.collect_list(F.struct("vec_id", "label"))
                ).alias("m"),
                F.min("group_n").alias("group_n"),  # identical across members
            )
        )

        def encode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf.assign(
                        codes=pd.Series(dtype=object), nrm=pd.Series(dtype=float)
                    )
                    continue
                vv = np.asarray(pdf["v"].tolist(), dtype=np.float64)
                resid = vv - cents[pdf["cluster_id"].to_numpy()]
                codes, _ = _pq_codes_nrm(resid, books)
                # the stored norm stays ||v|| — it is the cosine
                # denominator, not part of the quantized displacement
                yield pdf.assign(codes=codes, nrm=np.sqrt((vv**2).sum(1)))

        (
            grouped.select(
                "vec_id",
                F.element_at("m", 1)["label"].alias("label"),
                "v",
                sig.alias("sig"),
                _nprobe_clusters(F.col("v"), cents, 1)[0].alias("cluster_id"),
                # primitive parallel arrays (not array<struct>): they
                # round-trip the Arrow mapInPandas boundary untouched
                F.transform("m", lambda s: s["vec_id"]).alias("member_ids"),
                F.transform("m", lambda s: s["label"]).alias("member_labels"),
                "group_n",
            )
            .repartition("cluster_id")
            .mapInPandas(
                encode,
                "vec_id bigint, label int, v array<double>, sig bigint, "
                "cluster_id int, member_ids array<bigint>, "
                "member_labels array<int>, group_n bigint, "
                "codes array<int>, nrm double",
            )
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(out)
        )
    return out


def _expand_members(scored: DataFrame, top_k: int | None = None) -> DataFrame:
    """Representative rows → member rows, AFTER scoring: every stored
    duplicate-group member inherits its group's cosine (identical
    vectors, identical distance), the probe itself (vec_id 0) is
    dropped at the member level — its group's rep row must stay in the
    candidate set so the probe's own duplicates can rank — and the
    final (cos desc, vec_id) top-k runs over the expanded rows,
    reproducing the ungrouped ordering exactly: a group's members
    occupy consecutive rank positions in ascending vec_id order, and
    the stored _TOP_K+1 smallest ids are sufficient because no top-k
    can reach deeper than k members into one group (+1 absorbs the
    probe exclusion).

    ``scored`` must carry member_ids, member_labels, and cos_raw.
    """
    out = (
        scored.select(
            F.explode(F.arrays_zip("member_ids", "member_labels")).alias("g"),
            "cos_raw",
        )
        .select(
            F.col("g.member_ids").alias("vec_id"),
            F.col("g.member_labels").alias("label"),
            "cos_raw",
        )
        .where(F.col("vec_id") != 0)
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(top_k if top_k is not None else _TOP_K)
    )
    return out.select("vec_id", "label", F.round("cos_raw", 4).alias("cosine"))


@query("sim_ann_ivf_indexed", oracle=None, tags=("similarity", "ann", "ivf", "index"))
def sim_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the persisted index: identical semantics (and
    results) to ``sim_ann_ivf``, but the query path reads precomputed
    assignments and prunes partitions instead of scanning + assigning
    the whole corpus.

    The probe's nprobe list ids are resolved driver-side from the cached
    centroids — that lookup is the query *parameter* (microseconds over
    the K cached centroids), and expressing it as literals is exactly what
    lets Catalyst turn ``cluster_id IN (...)`` into PartitionFilters, so
    only nprobe of the K index directories are ever listed or read
    (asserted in tests/test_plans.py).  Cosines are computed once per
    DISTINCT embedding (the v6 duplicate-grouped rows) and the stored
    members expand only at the final top-k (:func:`_expand_members`),
    so a duplicate-heavy list costs its distinct count, not its size.
    """
    cat = Catalog(spark, sf_dir)
    cents = _train_centroids(cat)
    if cents is None:
        return _empty_topk(spark)
    index = spark.read.parquet(build_ann_index(spark, sf_dir))

    probe_vec = np.asarray(
        cat.embeddings.where(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("p"))
        .first()["p"],
        dtype=np.float64,
    )
    probe_lists = _probe_nprobe_lists(cents, probe_vec)

    # no vec_id filter here: the probe's own rep row must stay so its
    # duplicates can rank (the probe is dropped member-level instead)
    candidates = index.where(
        F.col("cluster_id").isin([int(c) for c in probe_lists])
    )
    scored = candidates.crossJoin(_probe(cat)).select(
        "member_ids",
        "member_labels",
        _cosine(F.col("v"), F.col("probe")).alias("cos_raw"),
    )
    return _expand_members(scored)


@query("sim_ann_lsh_indexed", oracle=None, tags=("similarity", "ann", "lsh", "index"))
def sim_ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN over the persisted index: identical semantics (and
    results) to ``sim_ann_lsh``, but the 16-bit signatures are read from
    the index instead of being recomputed per scan — the write-time
    persistence of the signature work (16 hyperplane dot products per
    vector ⇒ once at ingest, never per query).  Signature filter and
    cosine run once per DISTINCT embedding (v6 duplicate-grouped rows);
    members expand at the final top-k (:func:`_expand_members`)."""
    path = build_ann_index(spark, sf_dir)
    if path is None:
        return _empty_topk(spark)
    index = spark.read.parquet(path)
    probe = F.broadcast(
        index.where(F.col("vec_id") == 0).select(
            F.col("v").alias("probe"), F.col("sig").alias("probe_sig")
        )
    )
    # the probe's rep row stays a candidate (its duplicates must rank);
    # vec_id 0 itself is dropped member-level in _expand_members
    candidates = index.crossJoin(probe).where(
        F.bit_count(F.col("sig").bitwiseXOR(F.col("probe_sig"))) <= 6
    )
    scored = candidates.select(
        "member_ids",
        "member_labels",
        _cosine(F.col("v"), F.col("probe")).alias("cos_raw"),
    )
    return _expand_members(scored)


_KNN_K = 5


@query(
    "sim_knn_join",
    oracle=f"""
    WITH p AS (
      SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    scored AS (
      SELECT p.probe_id, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], p.pv) AS cos_raw
      FROM embeddings e CROSS JOIN p
      WHERE e.vec_id <> p.probe_id
    )
    SELECT probe_id, vec_id, rnk, round(cos_raw, 4) AS cosine FROM (
      SELECT probe_id, vec_id, cos_raw,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos_raw DESC, vec_id) AS rnk
      FROM scored
    ) WHERE rnk <= {_KNN_K}
    """,
    tags=("similarity", "knn"),
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN: exact top-{_KNN_K} neighbors for EVERY probe in a probe
    set (every 100th vector) — the batch form of similarity search
    (dataset linkage, recommendation candidates), vs sim_topk_cosine's
    single probe.

    Physical shape: broadcast the bounded probe set against the corpus,
    score JVM-side, then one window pass partitioned by probe.  The
    embedding vectors never shuffle; the single exchange (ranking, on
    probe_id) carries slim (probe_id, vec_id, score) tuples — still
    |corpus|x|probes| of them, so at 100 TB with a large probe set,
    replace the broadcast with the IVF route: assign both sides to
    centroid lists and swap the cross join for an equi join on list id,
    which bounds scored pairs to same-list candidates."""
    cat = Catalog(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    probes = F.broadcast(
        cat.embeddings.where(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("probe_id"), v.alias("pv")
        )
    )
    scored = (
        cat.embeddings.crossJoin(probes)
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", _cosine(v, F.col("pv")).alias("cos_raw"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _KNN_K)
        .select("probe_id", "vec_id", "rnk", F.round("cos_raw", 4).alias("cosine"))
    )


@query(
    "embedding_quantize_int8",
    # Bit-exact across engines: float32 cells cast to float64 exactly,
    # amax is an order-free max of |x|, and both sides state the same
    # IEEE sequence x*(127/amax)+0.5 then floor.  half-up via floor,
    # never round() (half-even vs half-away diverges between engines).
    oracle="""
    WITH b AS (
      SELECT vec_id,
             embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      FROM embeddings
    )
    SELECT vec_id, CAST(i - 1 AS INT) AS dim_idx,
           CAST(CASE WHEN amax > 0
                THEN floor(CAST(embedding[i] AS DOUBLE) * (127.0 / amax) + 0.5)
                ELSE 0 END AS INT) AS q,
           amax
    FROM b, unnest(generate_series(1, len(embedding))) AS t(i)
    """,
    tags=("similarity", "quantize", "embedding"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 post-training quantization of the embedding
    column: per-vector absolute-max scaling to [-127, 127] — the 4×
    memory/bandwidth lever that makes billion-vector ANN fit executor
    memory (dequantize ≈ q * amax/127; recall loss is the standard
    ~1% for normalized text embeddings).

    Scale shape: map-only per-row array math in whole-stage codegen
    (transform/array_max/posexplode, no shuffle at all before the
    sink); emitted long-skinny (vec_id, dim_idx, q, amax) — the layout
    a feature store or a PTQ index-build job consumes, and the shape
    whose scalar cells every comparator canonicalizes.
    """
    cat = Catalog(spark, sf_dir)
    amax = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    scale = F.lit(127.0) / F.col("amax")
    quantized = F.transform(
        "embedding",
        lambda x: F.when(
            F.col("amax") > 0,
            F.floor(x.cast("double") * scale + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return (
        cat.embeddings.select("vec_id", "embedding", amax.alias("amax"))
        .select("vec_id", "amax", F.posexplode(quantized).alias("dim_idx", "q"))
        .select("vec_id", F.col("dim_idx").cast("int"), "q", "amax")
    )


@query(
    "sim_maxsim_late_interaction",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            v -> CAST(floor(v * 1e6) AS BIGINT)) AS arr
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, arr AS qarr FROM e WHERE vec_id < 5),
    dots AS (
      SELECT e.label, q.qid,
             max(list_reduce(
                   list_transform(list_zip(e.arr, q.qarr),
                                  x -> x[1] * x[2]),
                   (a, b) -> a + b)) AS max_dot
      FROM e CROSS JOIN q
      GROUP BY 1, 2
    )
    SELECT label, CAST(sum(max_dot) AS BIGINT) AS maxsim_score
    FROM dots GROUP BY label ORDER BY label
    """,
    tags=("similarity", "llm", "multivector"),
)
def sim_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction (MaxSim) scoring, ColBERT-style:
    each label group plays a document of 64-d token vectors, vec_ids
    0-4 play the query's token vectors, and a document's score is
    Σ_q max_d ⟨q, d⟩ — every query token finds its best-matching
    document token, then the per-token maxima sum.

    Exactness: vectors are quantized to 1e-6-scaled BIGINTs first, so
    every dot product, max, and final sum is integer arithmetic — all
    partials stay under 2^53, so even a double-typed accumulator
    cannot round, and the oracle's fold order is irrelevant.  (This is
    the engine's quantized-inner-product variant; production cosine
    MaxSim adds a per-vector norm divide on top of the same plan.)

    Scale shape: the query's token vectors broadcast (a query is tens
    of vectors); document vectors NEVER shuffle — dot products compute
    partition-local against the broadcast side, and the only exchange
    carries slim (label, qid, max_dot) partials with a map-side max
    already applied.  At corpus scale this is the re-rank stage after
    an ANN prefilter (sim_ann_*) trims candidates."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda v: F.floor(v * 1e6).cast("long")
        ).alias("arr"),
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("arr").alias("qarr")
    )
    dot = F.aggregate(
        F.zip_with("arr", "qarr", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .select("label", "qid", dot.alias("dot"))
        .groupBy("label", "qid")
        .agg(F.max("dot").alias("max_dot"))
        .groupBy("label")
        .agg(F.sum("max_dot").cast("bigint").alias("maxsim_score"))
        .orderBy("label")
    )


# ----------------------------------------------- product quantization (PQ)

_PQ_M = 8   # subspaces (64-dim embeddings -> 8-dim subvectors)
#: Per-subspace centroid count is DERIVED from corpus size like the IVF
#: K (r11 verdict item 3 — the fixed 32-centroid/5-bit codebook was the
#: measured recall bottleneck on the 20k/100k gaussian worst case:
#: 0.3-0.4 recall@10).  Rule: ceil(N / _PQ_TARGET) clamped to
#: [_PQ_K_MIN, _PQ_K_MAX] — fixtures (500/2000 vectors) keep the
#: original 32 (5-bit codes, recall floors 0.9/1.0 unchanged); 20k+
#: corpora reach 256 (8-bit codes — the FAISS default — still ~12x
#: memory vs float32 after the +3 bits/code).
_PQ_TARGET = 64
_PQ_K_MIN = 32
_PQ_K_MAX = 256
#: Exact re-rank depth scales with N too (same clamp pattern): recall@10
#: is capped by whether the true top-10 survive the ADC ordering into
#: the re-rank set, and a fixed 100 starves at 100k vectors.  The cap
#: bounds the broadcast back-join at ~2k ids regardless of corpus size.
_PQ_RERANK_MIN = 100
_PQ_RERANK_MAX = 2048
#: ADC saturation threshold for sim_ann_ivfpq: when the re-rank set's
#: approx-cosine spread falls below this, the ADC ordering carries no
#: signal (quantization error >= inter-candidate deltas) and the query
#: re-ranks every probed representative exactly.  Measured margins:
#: saturated hot-blob probes read 0.011-0.013, every healthy corpus
#: reads >= 0.45 (BASELINE.md r13) — 4x/9x margins either side.
_ADC_SATURATION_SPREAD = 0.05


def _pq_k(n_vectors: int) -> int:
    """Per-subspace codebook size for an N-vector corpus."""
    if n_vectors <= 0:
        return _PQ_K_MIN
    k = -(-n_vectors // _PQ_TARGET)
    return max(min(_PQ_K_MIN, n_vectors), min(_PQ_K_MAX, k, n_vectors))


def _pq_rerank(n_vectors: int) -> int:
    """ADC candidate count kept for the exact re-rank."""
    return min(_PQ_RERANK_MAX, max(_PQ_RERANK_MIN, -(-n_vectors // _PQ_TARGET)))


def _corpus_pq_params(cat: Catalog) -> tuple[int, int]:
    """Derived (codebook K, re-rank depth) for the corpus; benches and
    tests pin them by patching this accessor, like :func:`_corpus_ivf_k`."""
    n = _corpus_n(cat)
    return _pq_k(n), _pq_rerank(n)


@corpus_memo("embeddings")
def _train_pq_codebooks(cat: Catalog) -> np.ndarray | None:
    """Per-subspace k-means codebooks (Jégou/Douze/Schmid, "Product
    quantization for nearest neighbor search", TPAMI 2011) on a bounded
    deterministic sample — O(sample) driver-side work at ANY corpus
    size, memoized on the corpus fingerprint.  The sample grows with the derived
    codebook (16 points per centroid, floor _IVF_SAMPLE) so a 256-
    centroid book never trains on fewer points than centroids; at the
    fixture sizes the derived K is _PQ_K_MIN and the sample covers the
    whole corpus (membership identical to the fixed-constant era; the
    hash-ordered sampling changes only row ORDER, and the pinned
    recall floors hold on the retrained books).  Books have shape
    (_PQ_M, k_pq, D/_PQ_M)."""
    k_pq, _ = _corpus_pq_params(cat)
    sample = (
        _train_sample_order(cat.embeddings)
        .limit(max(_IVF_SAMPLE, 16 * k_pq))
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .toPandas()["v"]  # bounded: limit() right above caps the rows
        .tolist()
    )
    if not sample:  # empty corpus: nothing to encode (callers emit empty)
        return None
    return _fit_pq_books(np.asarray(sample, dtype=np.float64), k_pq)


def _fit_pq_books(x: np.ndarray, k_pq: int) -> np.ndarray:
    """Per-subspace k-means over a training matrix (raw vectors for
    ``sim_ann_pq``, coarse-quantizer residuals for the v7 index) —
    deterministic seed, shared by both trainers."""
    k_pq = min(k_pq, len(x))  # k-means needs centroids <= points
    d = x.shape[1] // _PQ_M
    sub = x.reshape(len(x), _PQ_M, d)
    rng = np.random.RandomState(11)
    books = np.empty((_PQ_M, k_pq, d))
    for m in range(_PQ_M):
        xs = sub[:, m, :]
        cents = xs[rng.choice(len(xs), k_pq, replace=False)]
        for _ in range(_IVF_ITERS):
            assign = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
            for k in range(k_pq):
                if (assign == k).any():
                    cents[k] = xs[assign == k].mean(0)
        books[m] = cents
    return books


@corpus_memo("embeddings")
def _train_pq_residual_codebooks(cat: Catalog, cents: np.ndarray) -> np.ndarray | None:
    """Residual PQ codebooks (Jégou et al., TPAMI 2011 §IV-A — the
    FAISS ``IVFx,PQy`` layout): quantize ``v − centroid(v)`` instead of
    ``v``.  The r13 skew measurement found the raw-vector books' blind
    spot — a probe INSIDE a dense blob read recall@10 0.0, because
    global codebooks spread their resolution over the whole corpus
    span while every candidate differed from the probe by less than
    one quantization cell.  Residuals re-center every list at its
    centroid, so the books spend all their resolution on the
    within-list displacement, exactly the scale the blob case needs.
    Same bounded deterministic sample and per-subspace k-means as the
    raw trainer (:func:`_fit_pq_books`).  Kept apart from the RAW-vector
    books ``sim_ann_pq`` (no coarse stage) uses; ``cents`` is the
    corpus's own memoized quantizer, so the corpus fingerprint keys
    these books too."""
    k_pq, _ = _corpus_pq_params(cat)
    sample = (
        _train_sample_order(cat.embeddings)
        .limit(max(_IVF_SAMPLE, 16 * k_pq))
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .toPandas()["v"]  # bounded: limit() right above caps the rows
        .tolist()
    )
    if not sample:
        return None
    x = np.asarray(sample, dtype=np.float64)
    return _fit_pq_books(x - cents[_assign_chunked(x, cents)], k_pq)


def _pq_codes_nrm(v: np.ndarray, books: np.ndarray):
    """Encode a batch of float vectors: per-subspace nearest-centroid
    codes plus the stored L2 norm.  Shared by the per-query encoder in
    ``sim_ann_pq`` and the write-time encoder in ``build_ann_index``.
    Rows are chunked so the (rows, M, K, d) distance scratch stays
    ~64 MB — at the 256-centroid derived codebook an unchunked Arrow
    batch would materialize gigabytes."""
    m_, k_, d_ = books.shape
    chunk = max(1, (64 << 20) // (m_ * k_ * d_ * 8))
    codes = np.empty((len(v), m_), dtype=np.int64)
    for s in range(0, len(v), chunk):
        sub = v[s : s + chunk].reshape(-1, m_, d_)
        codes[s : s + chunk] = (
            ((sub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(-1).argmin(-1)
        )
    return (
        [c.astype("int32").tolist() for c in codes],
        np.sqrt((v**2).sum(1)),
    )


#: Literal-inline budget for driver-computed lookup constants (the ADC
#: table and the probed-list centroid-dot map): up to this many scalar
#: entries ride the Catalyst tree as ONE parsed literal expression
#: (measured ~1 ms vs thousands of F.lit Py4J round-trips); beyond it
#: they ride a broadcast RELATION instead (one-row cross for the
#: table, an equi-join on cluster_id for the dot map), so plan size
#: stays independent of codebook size and probed-list count — the r13
#: verdict's scale watch at production K (plan-size A/B in
#: BASELINE.md r14).  Fixture corpora sit under the budget, keeping
#: their committed plans bit-identical.
_ADC_LIT_ENTRIES_MAX = 512


def _adc_table(probe_vec: np.ndarray, books: np.ndarray) -> np.ndarray:
    """The (_PQ_M x k_pq) table of probe-subvector . centroid inner
    products, SANITIZED: non-finite entries (NaN-poisoned embeddings
    reaching the codebooks or the probe) map to 0.0 — a poisoned
    subspace contributes nothing to the approximate dot instead of
    failing the literal parse ('nanD' is not valid SQL) or NaN-ing
    every ADC score (r13 advice)."""
    m_ = books.shape[0]
    table = np.einsum("md,mkd->mk", probe_vec.reshape(m_, -1), books)
    return np.where(np.isfinite(table), table, 0.0)


def _attach_adc_table(df: DataFrame, probe_vec: np.ndarray, books: np.ndarray):
    """Return ``(df', table_col)`` making the ADC lookup table readable
    from ``df``'s rows: inlined as one parsed literal under
    :data:`_ADC_LIT_ENTRIES_MAX` entries, otherwise carried by a
    ONE-ROW broadcast relation crossJoined in (a BroadcastNestedLoopJoin
    against a single row — constant cost, and the table bytes live in
    the broadcast, not the expression tree)."""
    table = _adc_table(probe_vec, books)
    if table.size <= _ADC_LIT_ENTRIES_MAX:
        # ONE expr-string parse instead of m×k F.lit Py4J round-trips:
        # at the derived 256-centroid books that is 2048 gateway calls
        # (measured 0.168 s at k=32, ~8x that at the cap) vs 0.9 ms
        # for the string — repr() round-trips doubles exactly, D=DOUBLE
        return df, F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")"
                for row in table
            )
            + ")"
        )
    tdf = df.sparkSession.createDataFrame(
        [(table.tolist(),)], "__adc_table array<array<double>>"
    )
    return df.crossJoin(F.broadcast(tdf)), F.col("__adc_table")


def _pq_adc_cosine(probe_vec: np.ndarray, books: np.ndarray, table_col, extra_dot=None):
    """Approximate-cosine column from PQ codes via asymmetric distance
    computation: every row scores sum(table[m][code[m]]) / (nrm * |p|)
    — a map-only JVM lookup-sum over ``codes``/``nrm`` columns, with
    the lookup table supplied by :func:`_attach_adc_table` (literal
    below the inline budget, broadcast relation above).

    ``extra_dot``: for RESIDUAL codes (the v7 index), the probe·v dot
    decomposes as probe·centroid + probe·residual; the caller passes
    the per-row probe·centroid Column (literal map or broadcast-joined
    column over the probed lists) and the table lookup supplies the
    residual term."""
    m_ = books.shape[0]
    p_nrm = float(np.sqrt((probe_vec**2).sum()))
    # a NaN/inf-poisoned PROBE must not NaN every score through the
    # denominator (the table/cent-dot terms already sanitize to 0.0):
    # force the zero-norm guard below, which nulls the column instead
    if not math.isfinite(p_nrm):
        p_nrm = 0.0
    approx_dot = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(1), F.lit(m_)),
            lambda c, m: F.element_at(F.element_at(table_col, m), c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if extra_dot is not None:
        approx_dot = approx_dot + extra_dot
    # same zero-norm guard as _cosine: a zero vector (stored nrm 0)
    # must not surface as NaN and outrank every real candidate
    return approx_dot / F.nullif(F.col("nrm") * F.lit(p_nrm), F.lit(0.0))


@query("sim_ann_pq", oracle=None, tags=("similarity", "ann", "pq"))
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: the billion-vector MEMORY lever beyond
    int8 (embedding_quantize_int8's 4x) — each 64-dim float vector
    compresses to 8 sub-codebook codes of 5-8 bits (+ one stored
    norm), a ~25-50x reduction, and queries never touch the original
    vectors until the final bounded re-rank.

    Query path (asymmetric distance computation, ADC):

    1. encode the corpus once: per subvector, nearest of the k_pq
       (derived from corpus size, 32 on the fixtures) sub-codebook
       centroids — Arrow-batched numpy (write-time work in production,
       like build_ann_index);
    2. driver computes the (_PQ_M x k_pq) table of probe-subvector .
       centroid inner products (microseconds — this is the query
       PARAMETER, like the IVF nprobe list) and attaches it via
       :func:`_attach_adc_table`: ONE parsed literal under the
       512-entry inline budget (Catalyst constant-folds it), a
       one-row broadcast relation above — plan size O(1) in codebook
       size; non-finite entries sanitize to 0.0;
    3. every encoded row scores approx_dot = sum over m of
       table[m][code[m]] — a map-only JVM lookup-sum, no Python, no
       shuffle, 8 element_at calls per vector;
    4. top-(derived re-rank depth) by approximate cosine re-rank
       EXACTLY against the true vectors: the depth cut keeps each
       rep's float vector in-row, so the re-rank is a probe
       crossJoin over the candidate rows — NO join back to the
       corpus — and the winning reps expand to clique members via
       one map-only broadcast value-join, top-10 out.

    Duplicate handling (r14, closing the r13 docstring-admitted limit):
    the encoder consumes DISTINCT embedding values — a groupBy on the
    vector replaces the old round-robin repartition (same single
    shuffle, now map-side combined), so a byte-identical clique holds
    ONE ADC/re-rank slot, and the winning rep vectors expand back to
    every member via a broadcast value-join at the end — the same v6
    grouping rule the persisted-index form ``sim_ann_ivfpq`` applies
    at write time.

    rows-only: the sketch is engine-specific; recall@10 vs exact brute
    force is pinned in tests/test_llm_ops.py.
    """
    import pandas as pd

    cat = Catalog(spark, sf_dir)
    books = _train_pq_codebooks(cat)  # (M, K, d)
    if books is None:
        return _empty_topk(spark)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "v": [], "codes": [], "nrm": []})
                continue
            codes, nrm = _pq_codes_nrm(
                np.asarray(pdf["v"].tolist(), dtype=np.float64), books
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "v": pdf["v"],  # pass-through: re-rank needs no 2nd scan
                    "codes": codes,
                    "nrm": nrm,
                }
            )

    # DISTINCT-embedding grouping at query time (r14, the v6 index
    # rule applied to the per-query form): the groupBy replaces the
    # old round-robin repartition — the SAME single shuffle of the
    # float vectors, but hash-keyed on the vector value with map-side
    # partial aggregation, so a byte-identical clique reaches the
    # encoder (and the ADC depth limit) as ONE representative row
    # instead of flooding the re-rank set with equal-scored members.
    reps = (
        cat.embeddings.where(F.col("vec_id") != 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .groupBy("v")
        .agg(F.min("vec_id").alias("vec_id"))
        .mapInPandas(
            encode, "vec_id bigint, v array<double>, codes array<int>, nrm double"
        )
    )

    probe_vec = np.asarray(
        cat.embeddings.where(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("p"))
        .first()["p"],
        dtype=np.float64,
    )
    reps, table_col = _attach_adc_table(reps, probe_vec, books)
    # the ADC depth cut keeps the rep VECTOR in-row (<= depth x 64
    # doubles, ~1 MB), so the exact re-rank is a probe crossJoin over
    # the candidate rows — no second corpus scan for the floats
    cands = (
        reps.select(
            "vec_id",
            "v",
            _pq_adc_cosine(probe_vec, books, table_col).alias("approx_cos"),
        )
        .orderBy(F.col("approx_cos").desc(), "vec_id")
        .limit(_corpus_pq_params(cat)[1])
    )
    # rep vec_id tiebreak keeps the cut DETERMINISTIC when two
    # distinct rep vectors tie on exact cosine (e.g. scaled copies:
    # v and 2v cosine bit-identically) — without it the boundary reps
    # would vary with partition arrival order
    top_reps = (
        cands.crossJoin(_probe(cat))
        .select(
            "v",
            "vec_id",
            _cosine(F.col("v"), F.col("probe")).alias("cos_raw"),
        )
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(_TOP_K)
        .drop("vec_id")
    )
    # clique expansion: the top rep VECTORS (10 rows) broadcast back
    # against the corpus on the vector value — ONE map-only corpus
    # pass — so every byte-identical member of a winning clique
    # re-enters the final top-k with its own vec_id/label (the true
    # top-k when duplicates genuinely are the nearest neighbours);
    # the production form reads member lists from the persisted index
    # instead (sim_ann_ivfpq).
    members = cat.embeddings.where(F.col("vec_id") != 0).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    return (
        members.join(F.broadcast(top_reps), "v")
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(_TOP_K)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cosine"))
    )


def _ivfpq_adc_candidates(
    cat: Catalog,
    index: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    probe_vec: np.ndarray,
    probe_lists,
) -> DataFrame:
    """The LAZY rep-level ADC candidate frame for ``sim_ann_ivfpq``:
    top-(derived re-rank depth) representatives by residual-ADC approx
    cosine over the probed lists.  Reads ONLY the compressed
    ``codes``/``nrm`` columns of the nprobe partitions (never the
    float vectors — plan-pinned in tests/test_plans.py on this helper,
    since the registered query collects the candidates eagerly and its
    returned plan therefore contains only the re-rank scan).

    v7 residual ADC: probe·v = probe·centroid (one entry per probed
    list — a literal map under :data:`_ADC_LIT_ENTRIES_MAX` entries, a
    broadcast equi-join on the partition column above it, so nprobe
    growth at production K never inflates the expression tree) +
    probe·residual (the code-table lookup inside
    :func:`_pq_adc_cosine`).  Non-finite dots sanitize to 0.0 like the
    table entries (r13 advice)."""
    cdots = [
        (int(c), d if math.isfinite(d) else 0.0)
        for c in probe_lists
        for d in (float(probe_vec @ cents[int(c)]),)
    ]
    probed = index.where(F.col("cluster_id").isin([c for c, _ in cdots]))
    if len(cdots) <= _ADC_LIT_ENTRIES_MAX:
        cent_dot = F.element_at(
            F.expr("map(" + ",".join(f"{c}, {d!r}D" for c, d in cdots) + ")"),
            F.col("cluster_id"),
        )
    else:
        cdf = index.sparkSession.createDataFrame(
            cdots, "cluster_id int, __cent_dot double"
        )
        probed = probed.join(F.broadcast(cdf), "cluster_id")
        cent_dot = F.col("__cent_dot")
    probed, table_col = _attach_adc_table(probed, probe_vec, books)
    return (
        probed.select(
            "vec_id",
            _pq_adc_cosine(probe_vec, books, table_col, cent_dot).alias("approx_cos"),
        )
        .orderBy(F.col("approx_cos").desc(), "vec_id")
        .limit(_corpus_pq_params(cat)[1])
    )


@query("sim_ann_ivfpq", oracle=None, tags=("similarity", "ann", "ivf", "pq", "index"))
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed into the production billion-vector query shape
    (Jégou et al., TPAMI 2011; the FAISS ``IVFxx,PQyy`` layout): the
    two levers that previously existed only separately —
    ``sim_ann_ivf_indexed``'s partition pruning and ``sim_ann_pq``'s
    literal-table ADC — applied in sequence over the persisted index.

    1. COARSE: resolve the probe's nprobe nearest lists driver-
       side from the cached centroids and express them as a
       ``cluster_id IN (...)`` literal — Catalyst turns that into
       PartitionFilters, so only nprobe of the K index directories
       are ever listed or read;
    2. ADC within the probed lists: score approx cosine from the
       stored PQ ``codes``/``nrm`` columns via the inlined lookup
       table — map-only JVM, and column pruning means the float
       vectors are NOT read in this stage (the scan's ReadSchema
       carries codes+nrm, not v — asserted in tests/test_plans.py).
       The codes are RESIDUAL (v7, Jégou et al. §IV-A): probe·v =
       probe·centroid (a literal map over the probed lists) +
       probe·residual (the table lookup), so the books' resolution
       concentrates within each list;
    3. RE-RANK: the top candidates (derived re-rank depth, capped at
       _PQ_RERANK_MAX) re-ranked EXACTLY against the true vectors of
       the probed partitions only (broadcast semi-join on vec_id),
       top-10 out.  If the candidate set's ADC spread reads below
       :data:`_ADC_SATURATION_SPREAD` — the probe sits in a region
       denser than the quantization resolution, where the ADC ordering
       is provably noise (measured recall 0.0) — the query instead
       re-ranks EVERY probed representative exactly, still partition-
       pruned (measured recall 1.0 at the same pruned read).

    At scale this reads nprobe/K of the corpus as compressed codes
    plus a bounded set of float vectors — neither a full-corpus scan
    nor a full-corpus float read anywhere.  rows-only: recall@10 vs
    exact brute force is pinned in tests/test_llm_ops.py.
    """
    cat = Catalog(spark, sf_dir)
    cents = _train_centroids(cat)
    if cents is None:
        return _empty_topk(spark)
    books = _train_pq_residual_codebooks(cat, cents)
    if books is None:
        return _empty_topk(spark)
    index = spark.read.parquet(build_ann_index(spark, sf_dir))

    probe_vec = np.asarray(
        cat.embeddings.where(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("p"))
        .first()["p"],
        dtype=np.float64,
    )
    probe_lists = _probe_nprobe_lists(cents, probe_vec)
    # rep rows only (v6): ADC scores each DISTINCT embedding once, so
    # the re-rank depth counts distinct candidates — a duplicate clique
    # occupies ONE slot instead of flooding the whole depth; the
    # probe's rep row stays (vec_id 0 drops member-level)
    probed = index.where(F.col("cluster_id").isin([int(c) for c in probe_lists]))
    cand_rows = _ivfpq_adc_candidates(
        cat, index, cents, books, probe_vec, probe_lists
    ).collect()  # bounded: limit(_PQ_RERANK_MAX) inside the helper
    scores = [r["approx_cos"] for r in cand_rows if r["approx_cos"] is not None]
    # ADC saturation guard: when the probe sits inside a region denser
    # than the quantization resolution, the candidate set's approx-
    # cosine spread collapses and its ORDERING is noise — measured
    # 0.011-0.013 on a hot-probed sigma-0.05 blob (recall@10 read 0.0
    # with raw AND residual books) vs >= 0.45 on every healthy corpus
    # (BASELINE.md r13, 40x separation).  The collected candidate list
    # decides; on saturation the query re-ranks ALL probed
    # representatives exactly — still partition-pruned to nprobe/K of
    # the corpus, the same cost class as sim_ann_ivf_indexed (which
    # reads recall 1.0 there).  The spread test only applies when the
    # depth limit actually CUT the candidate list (r13 advice: a
    # degenerate 1-candidate set has spread 0 by construction): if
    # every probed rep already made it through, the exact re-rank of
    # the candidates IS the exact re-rank of all probed reps, so ADC
    # ordering noise cannot have dropped anything and the cheaper
    # broadcast path is equivalent.
    depth = _corpus_pq_params(cat)[1]
    if not scores or (
        len(cand_rows) >= depth
        and (max(scores) - min(scores)) < _ADC_SATURATION_SPREAD
    ):
        scored = probed.select("v", "member_ids", "member_labels").crossJoin(
            _probe(cat)
        ).select(
            "member_ids",
            "member_labels",
            _cosine(F.col("v"), F.col("probe")).alias("cos_raw"),
        )
        return _expand_members(scored)
    cand_df = spark.createDataFrame(
        [(int(r["vec_id"]),) for r in cand_rows], "vec_id bigint"
    )
    scored = (
        probed.select("vec_id", "v", "member_ids", "member_labels")
        .join(F.broadcast(cand_df), "vec_id")
        .crossJoin(_probe(cat))
        .select(
            "member_ids",
            "member_labels",
            _cosine(F.col("v"), F.col("probe")).alias("cos_raw"),
        )
    )
    return _expand_members(scored)


_PCA_K = 4  # projected dimensions
#: Fixed-point scale for the exact-integer moment pass: coordinates
#: quantize to round(x * 2^20) (~6 decimal digits — far below the
#: 4-decimal output rounding) so count/sum/Gram reduce as exact
#: integers and the decomposition is layout-invariant by construction.
_PCA_SCALE = 1 << 20


def _exact_gram(xq: np.ndarray) -> np.ndarray:
    """Exact ``xq.T @ xq`` for an int64 matrix, overflow-proof.

    NumPy integer matmul wraps silently, so the "coordinates are small
    and batches are short" assumption the int64 product rests on must
    be enforced, not assumed (r9 advisor finding): larger embedding
    magnitudes or a raised ``arrow.maxRecordsPerBatch`` would corrupt
    the PCA components without any error.  A Gram cell of a
    ``rows``-row chunk is bounded by ``rows * amax^2``, so chunking to
    ``rows < 2^62 / amax^2`` keeps every chunk product exact in int64
    (2x margin) and the object-int accumulation across chunks is
    arbitrary-precision — the result equals the one-shot matmul for
    ANY input magnitude.  A single coordinate with ``amax^2 >= 2^62``
    (|x| >= ~2^11 at 2^20 fixed point) cannot be chunked below one
    row; that raises loudly instead of wrapping.
    """
    amax = int(np.abs(xq).max()) if len(xq) else 0
    if amax and amax * amax >= 1 << 62:
        raise ValueError(
            f"exact int64 Gram impossible: |quantized coordinate| {amax} "
            f"overflows a single product"
        )
    g = np.zeros((xq.shape[1], xq.shape[1]), dtype=object)
    chunk = max(1, (1 << 62) // (amax * amax)) if amax else max(1, len(xq))
    for r0 in range(0, len(xq), chunk):
        xc = xq[r0 : r0 + chunk]
        g += xc.T @ xc
    return g


@query("embedding_pca", oracle=None, tags=("embedding", "linalg"))
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding column — the classic
    two-pass linear-algebra-on-a-dataflow shape, sized so NOTHING
    corpus-scale ever reaches one machine:

    1. moment pass: each partition emits ONE row carrying its count,
       d-vector sum, and flattened d×d Gram partial (``mapInPandas``
       over Arrow batches, integer ``X.T @ X`` per batch on 2^20
       fixed-point coordinates — EXACT, so the reduced moments are
       identical under any partitioning); the driver reduces
       O(partitions) rows of d² integers — KB-scale regardless of
       corpus size, the same collect-digests-only discipline as the
       dirhash fold;
    2. driver: covariance = Gram/n − mean·meanᵀ (d×d), ``eigh``, top
       ``_PCA_K`` components with DETERMINISTIC sign (the coordinate
       of largest |loading| is made positive — eigenvectors are
       sign-ambiguous and two BLAS builds may disagree);
    3. projection pass: components broadcast, map-only Arrow-batched
       matmul emitting (vec_id, pc1..pc4) rounded to 4 decimals.
       Zero shuffles end-to-end.

    rows-only: SQL has no eigendecomposition; the numerics are pinned
    in tests/test_llm_ops.py against a single-shot numpy PCA on the
    same fixture (components aligned, 2e-4 tolerance = one rounding
    ulp) plus exact variance-ordering properties.
    """
    import pandas as pd

    cat = Catalog(spark, sf_dir)
    src = cat.embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    schema = "vec_id long, " + ", ".join(f"pc{j + 1} double" for j in range(_PCA_K))

    def moments(batches):
        # Fixed-point EXACT moments (the repo's integer discipline
        # applied to linear algebra): each coordinate quantizes to
        # round(x * 2^20) and the count/sum/Gram accumulate as exact
        # integers, so the reduced moments — and therefore the
        # covariance, eigenvectors, and every rounded projection — are
        # IDENTICAL under any partitioning.  Float partials summed in
        # partition order would make the 4-decimal output layout-
        # sensitive at the last ulp (the failure mode the layout-
        # invariance sweep exists to catch).  Cross-batch accumulation
        # promotes to Python ints, and the partial row carries them as
        # decimal strings (they exceed 2^53, so array<double> would
        # silently round).  The int64 Gram product is chunked to the
        # PROVEN-safe row count — NumPy integer matmul wraps silently,
        # so "batches are small and coordinates are ~2^3" must be
        # enforced, not assumed: larger embedding magnitudes or a
        # raised arrow.maxRecordsPerBatch would otherwise corrupt the
        # components without any error (r9 advisor finding).
        n, s, g = 0, None, None
        for pdf in batches:
            x = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            if not len(x):
                continue
            xq = np.rint(x * _PCA_SCALE).astype(np.int64)
            if s is None:
                d = x.shape[1]
                s = np.zeros(d, dtype=object)
                g = np.zeros((d, d), dtype=object)
            n += len(x)
            s += xq.sum(0)
            g += _exact_gram(xq)
        yield pd.DataFrame(
            {
                "n": [n],
                "s": [[] if s is None else [str(int(v)) for v in s]],
                "g": [[] if g is None else [str(int(v)) for v in g.ravel()]],
            }
        )

    parts = src.select("v").mapInPandas(
        moments, "n long, s array<string>, g array<string>"
    ).collect()  # O(partitions) rows of d^2 integers — bounded by design
    parts = [p for p in parts if p["n"]]
    n = sum(p["n"] for p in parts)
    if n == 0:  # empty corpus: no moments to decompose
        return spark.createDataFrame([], schema)
    d = int(len(parts[0]["s"]))
    s = np.zeros(d, dtype=object)
    g = np.zeros((d, d), dtype=object)
    for p in parts:
        s += np.array([int(v) for v in p["s"]], dtype=object)
        g += np.array([int(v) for v in p["g"]], dtype=object).reshape(d, d)
    # exact integers -> floats: same integers on every layout, so the
    # float results (and eigh) are bit-identical across layouts too
    mean = (s / n).astype(np.float64) / _PCA_SCALE
    cov = (g / n).astype(np.float64) / (_PCA_SCALE * _PCA_SCALE) - np.outer(mean, mean)
    _, evecs = np.linalg.eigh(cov)
    comp = evecs[:, ::-1][:, :_PCA_K]  # columns = top-k components
    for j in range(_PCA_K):
        if comp[np.abs(comp[:, j]).argmax(), j] < 0:
            comp[:, j] = -comp[:, j]

    bc = spark.sparkContext.broadcast((mean, comp))

    def project(batches):
        mu, w = bc.value
        for pdf in batches:
            x = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            p = np.round((x - mu) @ w, 4) if len(x) else np.zeros((0, _PCA_K))
            out = {"vec_id": pdf["vec_id"]}
            for j in range(_PCA_K):
                out[f"pc{j + 1}"] = p[:, j]
            yield pd.DataFrame(out)

    return src.mapInPandas(project, schema)
