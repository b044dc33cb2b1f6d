"""Deduplication operators for LLM-data pipelines (SURVEY §2.B B42-B43 +
north-star extensions): exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Algorithms are the standard public constructions: MinHash resemblance
sketching (Broder, "On the resemblance and containment of documents",
1997) with banded LSH (Leskovec/Rajaraman/Ullman, *Mining of Massive
Datasets* ch. 3), and SimHash (Charikar, "Similarity estimation
techniques from rounding algorithms", STOC 2002; applied to web dedup in
Manku/Jain/Das Sarma, WWW 2007).

Scale design (the point of each variant at 100 TB):
- exact: one shuffle on a 32-byte content hash — the cheapest possible
  dedup; always run it first to shrink the corpus.
- MinHash+LSH: near-dup without O(n²) — signatures are embarrassingly
  parallel (Arrow-batched pandas), candidate generation is an equi-join
  on (band, band_hash) buckets, so cost is driven by bucket collision
  counts, not corpus size².
- SimHash: one 64-bit fingerprint per doc, entirely JVM-side; banding
  on 16-bit quarters finds candidates with ≤3 differing bands, exact
  hamming check via xor+bit_count.
- n-gram Jaccard: the exact verifier to run on *candidate pairs only*
  (here bounded by a same-source/nearby-id candidate window so the
  oracle stays O(bounded pairs)).
- embedding cosine: exact pairwise within a blocking key (label) —
  the brute-force baseline; the LSH-bucketed ANN in similarity.py is
  the scale path.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import Catalog, spread_for_compute, table_rowcount, table_stats
from ..registry import REGISTRY, query
from ..routing import checkpoint_counted
from .text import gram_start_indices

# Shared normalization (Spark expr and DuckDB SQL must stay in lockstep).
_NORM_SPARK = lambda c: F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", " "), r" +", " "))  # noqa: E731
_NORM_SQL = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"


@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash, min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B42: exact dedup by content hash — keeper = lowest doc_id per
    hash.  One shuffle on the 32-byte digest regardless of corpus size."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.documents.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "dedup_exact_normalized",
    oracle=f"""
    SELECT sha256({_NORM_SQL}) AS content_hash,
           min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup",),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after text normalization (lowercase, strip
    punctuation, collapse whitespace) — catches trivially-reformatted
    copies before any fuzzy pass."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.documents.select(F.sha2(_NORM_SPARK(F.col("text")), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------- MinHash+LSH

_N_HASHES = 64
_N_BANDS = 16  # 16 bands × 4 rows
_ROWS_PER_BAND = _N_HASHES // _N_BANDS
_SHINGLE_K = 5
_MERSENNE = (1 << 61) - 1
#: Bucket size above which the LSH/simhash pair expansions switch from
#: all-pairs to star topology (see the guard comments at the two
#: expansion sites): 512 keeps the worst single-row array at ~131k
#: structs while every realistic near-dup group stays on the exact
#: all-pairs form.
_BUCKET_FULL_EXPAND_CAP = 512

#: Per-row memory ceiling for the DISTINCT-fingerprint all-pairs
#: expansion inside one hot simhash quarter bucket: 2048 reps build at
#: most 2048²/2 ≈ 2.1M pair structs (~50 MB) in a single array value
#: before the explode — the largest row a 100-TB executor profile can
#: still absorb without spilling a whole task to one value.  The
#: EFFECTIVE cap is derived per corpus by :func:`_rep_expand_cap`;
#: this constant only bounds it from above.
_REP_EXPAND_CAP_MAX = 2048

#: Manku-style probe window for quarter buckets whose DISTINCT
#: fingerprint count exceeds even the derived all-pairs budget: reps
#: are sorted by the fingerprint ROTATED so the bucket's shared
#: quarter occupies the most-significant bits (the probe-table order
#: of Manku, Jain, Das Sarma — WWW 2007 §4), and each rep pairs with
#: its next 64 neighbours — O(b·64) structs TOTAL instead of O(b²),
#: and a near-dup pair is found whenever < 64 reps sort between them
#: (rotated order clusters pairs agreeing on the bits adjacent to the
#: shared quarter).  The old fallback was this window with width 1 (a
#: bare chain), which missed any pair separated by a single stranger.
_REP_WINDOW = 64

#: Chunk width for the window expansion: the rep array explodes into
#: overlapping slices of (_WINDOW_CHUNK + _REP_WINDOW) BEFORE pair
#: construction, so no single row ever materializes more than
#: _WINDOW_CHUNK × _REP_WINDOW ≈ 32k pair structs — the windowed
#: branch stays under the per-row ceiling the rep budget enforces no
#: matter how hot the bucket (an unchunked window at a 10^10-doc
#: birthday-loaded bucket would build ~10M structs in one value).
_WINDOW_CHUNK = 512


def _corpus_n_docs(cat) -> int:
    """Documents corpus size for the parameter-derivation rules below:
    parquet footers for local corpora, one memoized ``count()``
    otherwise (the same rule as the embeddings size in
    operators/similarity.py)."""
    return table_rowcount(cat.spark, cat.sf_dir, "documents")


def _rep_expand_cap(n_docs: int) -> int:
    """Distinct-fingerprint all-pairs budget for one hot simhash
    quarter bucket, DERIVED from corpus size (r13 verdict item 3, the
    same derive-don't-hardcode rule as IVF K / PQ K / session state
    width): 8× the expected 16-bit birthday load ``N / 2^16``, floored
    at the constant hot cap and ceilinged by the per-row memory bound.

    With the 8× headroom a random (duplicate-free) quarter bucket
    essentially never crosses the budget — Poisson(λ) mass above 8λ is
    negligible for any λ ≥ 1 — so exact all-pairs over distinct reps
    now holds until the MEMORY ceiling binds at
    ``_REP_EXPAND_CAP_MAX · 2^16 / 8 ≈ 16.8M`` docs of derivation
    headroom, and buckets only exceed the saturated 2048 budget from
    birthday load alone past ``2048 · 2^16 ≈ 134M`` docs (4× the old
    fixed-512 cliff).  Past THAT the fallback is no longer a chain but
    the :data:`_REP_WINDOW` probe window, so recall degrades
    gracefully instead of collapsing (see ``dedup_simhash``'s
    contract)."""
    return max(
        _BUCKET_FULL_EXPAND_CAP,
        min(_REP_EXPAND_CAP_MAX, -(-8 * n_docs // (1 << 16))),
    )

_rng = np.random.RandomState(42)
_MH_A = _rng.randint(1, _MERSENNE, size=_N_HASHES, dtype=np.int64)
_MH_B = _rng.randint(0, _MERSENNE, size=_N_HASHES, dtype=np.int64)

_SIG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("band_id", LongType(), False),
        StructField("band_hash", LongType(), False),
    ]
)


def _axb_mod_p(x: np.ndarray) -> np.ndarray:
    """``(a_i * x_j + b_i) mod p`` over the 61-bit Mersenne prime,
    computed EXACTLY in int64 — the naive ``(_MH_A[:,None] * x) % p``
    silently wrapped mod 2^64 first (a up to 2^61, crc32 x up to 2^32:
    products up to ~2^93), so the permutations were NOT the documented
    universal family and the MinHash estimator's pairwise-independence
    guarantee did not actually hold.  Overflow-free schedule: split
    a = a_hi·2^31 + a_lo (a_hi < 2^30, a_lo < 2^31) so both partial
    products stay < 2^63, and reduce the high half's 2^31 shift with
    the Mersenne identity 2^61 ≡ 1 (mod p): for t < p,
    t·2^31 ≡ (t >> 30) + ((t & (2^30-1)) << 31) (mod p).  Every
    intermediate is < 2^63; property-checked against Python bigint
    arithmetic in tests/test_llm_ops.py."""
    a_hi = (_MH_A >> 31)[:, None]  # < 2^30
    a_lo = (_MH_A & ((1 << 31) - 1))[:, None]  # < 2^31
    hi = (a_hi * x[None, :]) % _MERSENNE  # products < 2^62: no wrap
    hi_shift = ((hi >> 30) + ((hi & ((1 << 30) - 1)) << 31)) % _MERSENNE
    lo = (a_lo * x[None, :]) % _MERSENNE  # products < 2^63: no wrap
    return (hi_shift + lo + _MH_B[:, None]) % _MERSENNE  # < 3·2^61 < 2^63


def _crc32_affine_tables(length: int) -> tuple[int, np.ndarray]:
    """Per-(position, byte) XOR tables turning ``zlib.crc32`` over
    fixed-``length`` messages into pure numpy: CRC32's register update
    is affine over GF(2) in the message bits, so for equal-length
    messages ``crc(m) = crc(0^n) ^ XOR_j T[j][m[j]]`` with
    ``T[j][b] = crc(0^j b 0^(n-j-1)) ^ crc(0^n)``.  Exact — the tables
    are built BY zlib.crc32 itself, so every value the vectorized path
    can produce is one zlib would produce (parity pinned in tests)."""
    zero = zlib.crc32(b"\x00" * length)
    tables = np.empty((length, 256), dtype=np.uint32)
    buf = bytearray(length)
    for j in range(length):
        for b in range(256):
            buf[j] = b
            tables[j, b] = zlib.crc32(bytes(buf)) ^ zero
        buf[j] = 0
    return zero, tables


#: crc32 over _SHINGLE_K-byte windows (the shingle hash) and over the
#: 4×int64 band chunks (the bucket hash), as affine tables.  Built once
#: per process (~1.5k zlib calls, <2 ms); forked Python workers inherit
#: them through the preloaded daemon copy-on-write.
_SHINGLE_CRC_ZERO, _SHINGLE_CRC_TABLES = _crc32_affine_tables(_SHINGLE_K)
_BAND_BYTES = _ROWS_PER_BAND * 8
_BAND_CRC_ZERO, _BAND_CRC_TABLES = _crc32_affine_tables(_BAND_BYTES)

#: Sub-batch bound for the sketch: group documents until their windows
#: total this many before one dedup+permute+min pass, bounding the
#: distinct-shingle table at 64×2^18×8 B = 128 MB per worker in the
#: worst (fully distinct) case while leaving plenty of cross-document
#: shingle overlap for the dedup to harvest.
_SKETCH_SUB_WINDOWS = 1 << 18


def _shingle_crcs(t: str) -> np.ndarray:
    """crc32 of every ``_SHINGLE_K``-char window of ``t`` (duplicates
    kept — the segment-min downstream is insensitive to them), int64.
    ASCII texts (chars == utf-8 bytes) take the affine-table route: K
    table gathers over the byte array replace a Python loop that
    sliced, encoded and hashed each window (guide §4.2 — the loop was
    the sketch's dominant cost).  Non-ASCII texts keep the per-window
    zlib path, since a K-CHAR window is then a variable number of
    BYTES and the fixed-length tables do not apply."""
    if len(t) < _SHINGLE_K:
        return np.array([zlib.crc32(t.encode("utf-8"))], dtype=np.int64)
    if t.isascii():
        arr = np.frombuffer(t.encode(), dtype=np.uint8)
        n = len(arr) - _SHINGLE_K + 1
        out = np.full(n, _SHINGLE_CRC_ZERO, dtype=np.uint32)
        for j in range(_SHINGLE_K):
            out ^= _SHINGLE_CRC_TABLES[j][arr[j : j + n]]
        return out.astype(np.int64)
    n = len(t) - _SHINGLE_K + 1
    return np.fromiter(
        (zlib.crc32(t[i : i + _SHINGLE_K].encode("utf-8")) for i in range(n)),
        dtype=np.int64,
        count=n,
    )


def _minhash_bands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """text → (doc_id, band_id, band_hash) rows.  Deterministic (crc32
    shingle hashing, fixed-seed permutations) and BIT-IDENTICAL to the
    original per-document form (pinned by test_minhash_vectorized_parity);
    restructured at r14 so the whole sub-batch is one numpy pass:

    - window crc32s via affine tables (:func:`_shingle_crcs`), no
      per-shingle Python slicing/hashing/set-building;
    - shingles deduplicated ONCE ACROSS DOCUMENTS (np.unique) — on
      near-dup-heavy corpora the same shingle recurs in many documents
      (the sf0.1 fixture: 500× mean multiplicity), so the 64-permutation
      modular arithmetic runs per DISTINCT shingle (the expensive 13-pass
      chain) and each document only pays a cache-resident gather + min
      over its own window indices.  min over a doc's windows == min over
      its distinct shingles, so the per-doc set dedup was redundant;
    - band bucket hashes via the 32-byte affine tables over the
      signature bytes (same native little-endian layout ``tobytes``
      serialized) instead of 16 zlib calls per document.

    Measured 2.16 → 0.38 s single-thread over the sf0.1 corpus (5.7×),
    identical output frame."""
    for pdf in batches:
        docs = list(zip(pdf["doc_id"], pdf["text"]))
        doc_out: list[np.ndarray] = []
        band_out: list[np.ndarray] = []
        hash_out: list[np.ndarray] = []
        i = 0
        while i < len(docs):
            xs, ids, total = [], [], 0
            while i < len(docs) and (total < _SKETCH_SUB_WINDOWS or not xs):
                doc_id, text = docs[i]
                i += 1
                t = " ".join(str(text).lower().split())
                x = _shingle_crcs(t)
                xs.append(x)
                ids.append(int(doc_id))
                total += len(x)
            offs = np.cumsum([0] + [len(x) for x in xs])
            ux, inv = np.unique(np.concatenate(xs), return_inverse=True)
            # (n_distinct, 64): permutations once per distinct shingle
            table_t = np.ascontiguousarray(_axb_mod_p(ux).T)
            nd = len(ids)
            sig = np.empty((nd, _N_HASHES), dtype=np.int64)
            for d in range(nd):
                sig[d] = table_t[inv[offs[d] : offs[d + 1]]].min(axis=0)
            sig_bytes = sig.view(np.uint8).reshape(nd, _N_HASHES * 8)
            bh = np.empty((nd, _N_BANDS), dtype=np.uint32)
            for band in range(_N_BANDS):
                chunk = sig_bytes[:, band * _BAND_BYTES : (band + 1) * _BAND_BYTES]
                acc = np.full(nd, _BAND_CRC_ZERO, dtype=np.uint32)
                for j in range(_BAND_BYTES):
                    acc ^= _BAND_CRC_TABLES[j][chunk[:, j]]
                bh[:, band] = acc
            doc_out.append(np.repeat(np.asarray(ids, dtype=np.int64), _N_BANDS))
            band_out.append(np.tile(np.arange(_N_BANDS, dtype=np.int64), nd))
            hash_out.append(bh.reshape(-1).astype(np.int64))
        if doc_out:
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(doc_out),
                    "band_id": np.concatenate(band_out),
                    "band_hash": np.concatenate(hash_out),
                }
            )
        else:
            yield pd.DataFrame(
                {
                    "doc_id": np.array([], dtype=np.int64),
                    "band_id": np.array([], dtype=np.int64),
                    "band_hash": np.array([], dtype=np.int64),
                }
            )


@query("dedup_minhash", oracle=None, tags=("dedup", "lsh"))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B43: MinHash+LSH near-dup candidates.  Pipeline: shingle →
    64-perm minhash signature → 16 banded bucket keys → self-equi-join
    on (band_id, band_hash) → distinct candidate pairs with the number
    of agreeing bands (more bands ⇒ higher Jaccard estimate).

    ``n_shared_bands`` contract: EXACT for pairs all of whose shared
    buckets are at or below ``_BUCKET_FULL_EXPAND_CAP``.  For a pair
    touching any capped bucket it is a LOWER BOUND — capped buckets
    emit only star pairs against the bucket minimum, so a non-min
    pair's count reflects just the buckets where it was actually
    emitted (possibly zero, in which case the pair appears only via
    its two star edges).  Downstream thresholds on n_shared_bands
    therefore behave differently above the cap; the e2e pipelines
    consume candidate CONNECTIVITY (star spans the same component),
    which is exact.  Unlike simhash's 16-bit quarters, band_hash is a
    32-bit crc over the band chunk, so buckets only reach the cap on
    genuinely duplicate-heavy corpora (birthday pileup would need
    ≳ cap·2^32 docs), where the bucket min IS a duplicate of every
    member and the star loses no real candidates.

    rows-only check: DuckDB can't replay the permutation sketch; the
    estimator itself is validated in tests against exact Jaccard.
    """
    cat = Catalog(spark, sf_dir)
    # One small parquet file would mean one Python worker doing all the
    # shingling; spread the CPU-bound sketch across the cluster first
    # (conditional: an identity on layouts whose scan already splits).
    sig = (
        spread_for_compute(
            cat.documents.select("doc_id", "text"), cat.sf_dir, "documents"
        )
        .mapInPandas(_minhash_bands, _SIG_SCHEMA)
    )
    # Candidate pairs via bucket-collect, NOT a self-join: a self-join
    # would execute the sketch stage twice (both join inputs re-run the
    # lineage) and shuffle the signatures twice.  Collecting each
    # (band, hash) bucket's doc list is ONE sketch pass and ONE shuffle;
    # the i<j pair expansion happens inside the bucket, whose size is
    # bounded by the near-dup group size, not the corpus.
    # Explicit-width bucket exchange (same fix as dedup_simhash's, same
    # r14 stagelog evidence): the signature rows are byte-small so AQE's
    # byte-based coalescing folds the reduce to one task, serializing
    # the compute-heavy in-row expansion; the explicit count is the
    # session's configured shuffle width, exempt from coalescing.
    shuffle_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    buckets = (
        sig.repartition(shuffle_w, "band_id", "band_hash")
        .groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    # Hot-bucket guard: a bucket of b docs expands b(b-1)/2 pair
    # structs INSIDE ONE ROW before the explode — fine for real
    # near-dup groups (the skew fixture's 300-doc clique builds ~45k
    # structs), a task-killer on degenerate corpora (1M identical docs
    # → 5·10^11 structs in one array value).  Above the cap a bucket
    # degrades to STAR topology — every member pairs with the bucket's
    # minimum doc_id only, O(b) structs — which preserves exactly the
    # property the downstream near-dup pipelines consume (candidates
    # are verified then connected-component'd, and a star spans the
    # same component), at the documented cost that n_shared_bands
    # between two NON-min members of a degenerate bucket undercounts.
    all_pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    star = F.transform(
        F.slice(F.col("ids"), 2, F.size("ids")),
        lambda y: F.struct(
            F.element_at(F.col("ids"), 1).alias("doc_a"), y.alias("doc_b")
        ),
    )
    pairs = buckets.select(
        F.explode(
            F.when(F.size("ids") <= _BUCKET_FULL_EXPAND_CAP, all_pairs).otherwise(star)
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_shared_bands"))


# ------------------------------------------------------------------- SimHash


def _simhash_fingerprints(cat: Catalog) -> DataFrame:
    """(doc_id, fp: 64-bit SimHash) computed fully JVM-side: distinct
    whitespace tokens → xxhash64 → per-bit majority vote in a SINGLE
    aggregate pass carrying a 64-counter array accumulator.  Shared by
    the registered query and the recall-pinning test (which brute-
    forces exact hamming pairs over these same fingerprints).

    counts[i] = #tokens with bit i set, so the ±1 vote is positive iff
    2·counts[i] > n_tokens — same fingerprint, one traversal.  The
    prior form unrolled 64 separate aggregates (shift amounts must be
    literals in the Python DSL), re-reading the hash array 64 times
    with a branch per element; the r8 warm A/B at sf0.1 measured the
    stage at 2.58 s unrolled vs 0.89 s single-pass (min-of-3,
    bit-identical on all 5000 fingerprints) — numbers in BASELINE.md.
    An Arrow/numpy vote was ALSO tried (r7) and measured slower than
    the unrolled JVM form; the win here is pass fusion, not Python."""
    tokens = F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    # The vote below is the heavy per-row stage (tokens × 64 bit ops);
    # on an unsplittable layout it would otherwise run inside a
    # single-task scan stage (r14 joblog: 1.19 s of a 2.3 s query in
    # one task at sf0.1) — spread is conditional on the layout.
    base = spread_for_compute(
        cat.documents.select("doc_id", "text"), cat.sf_dir, "documents"
    ).select("doc_id", hashes.alias("hashes"))
    counts = F.expr(
        """
        aggregate(
          hashes,
          array_repeat(0L, 64),
          (acc, h) -> zip_with(
            acc,
            transform(sequence(0, 63), i -> (shiftright(h, i) & 1L)),
            (a, b) -> a + b))
        """
    )
    fp = F.expr(
        """
        aggregate(
          zip_with(cnts, sequence(0, 63),
                   (c, i) -> IF(2 * c > t, shiftleft(1L, i), 0L)),
          0L,
          (acc, x) -> acc | x)
        """
    )
    return base.select(
        "doc_id", counts.alias("cnts"), F.size("hashes").alias("t")
    ).select("doc_id", fp.alias("fp"))


@query("dedup_simhash", oracle=None, tags=("dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprint per document
    (:func:`_simhash_fingerprints`), candidates = pairs sharing any
    16-bit quarter, verified by exact hamming distance (xor+bit_count).

    Candidate recall envelope (measured, pinned by tests/test_llm_ops
    .py::test_simhash_candidate_recall_vs_bruteforce): quarter banding
    pigeonhole-GUARANTEES a candidate for hamming <= 3 — that stratum
    is recall 1.0 by construction and exact-asserted.  Beyond it,
    pairs whose differing bits spread across all four quarters evade
    every band: brute-force ground truth on the fixtures measures
    recall 0.25 at the full hamming<=12 verify threshold (the fixtures
    are adversarial — templated docs put 42% of ALL pairs within
    radius 12, mostly spread-bit).  The operator is therefore a
    TIGHT-radius near-dup detector; for guaranteed recall at radius
    12 the upgrade path is Manku-style permuted band tables
    (Manku, Jain, Das Sarma — WWW 2007), at a multiplicative
    candidate-volume cost this pipeline does not need (the e2e dedup
    path verifies via exact n-gram containment, not simhash).

    Hot-bucket contract: buckets above ``_BUCKET_FULL_EXPAND_CAP``
    degrade by FINGERPRINT IDENTITY, not raw size — identical fps
    chain (hamming-0 edges, connectivity exact), distinct-fp
    representatives keep exact all-pairs up to a budget DERIVED from
    corpus size (:func:`_rep_expand_cap`: 8× the expected 16-bit
    birthday load ``N/2^16``, floor ``_BUCKET_FULL_EXPAND_CAP``,
    ceiling ``_REP_EXPAND_CAP_MAX``), so pure birthday pileup cannot
    exceed it below ~134M docs (the old fixed-512 form cliffed at
    ~34M).  Past the budget the representatives fall back to a
    :data:`_REP_WINDOW`-wide probe scan in Manku rotated-fingerprint
    order (shared quarter as most-significant bits) rather than a
    bare chain: a pair is then found whenever fewer than 64 reps
    sort between them, i.e. recall degrades gracefully with bucket
    density instead of collapsing to adjacent-only.  Per-pair rows
    between non-representative hot-bucket members undercount;
    component connectivity is what the e2e consumers use.

    NOTE the derived budget makes construction EAGER: building this
    query reads one memoized corpus row count per corpus version (local
    parquet footers where possible, a distributed count otherwise — same
    contract as the ANN index builders in operators/similarity.py;
    see SURVEY §2.C's eager-construction note).

    rows-only: the fingerprint construction is engine-specific.
    """
    cat = Catalog(spark, sf_dir)
    fps = _simhash_fingerprints(cat)

    # Band on 16-bit quarters; docs agreeing on any quarter are candidates.
    # Candidate pairs via bucket-collect, NOT a banded self-join: the
    # self-join form re-executed the expensive 64-aggregate vote stage
    # on BOTH join inputs (two FileScans, no ReusedExchange) and
    # broadcast the banded fingerprints of the whole corpus — an
    # O(corpus) build side that dies at scale.  Collecting each
    # (band_id, band_val) bucket instead costs ONE fingerprint pass and
    # ONE shuffle, and the i<j expansion happens in-row on a bucket
    # bounded by the near-dup group size (same topology as
    # dedup_minhash above).  tests/test_plans.py pins the plan shape.
    # Each band's doc struct also carries ``rfp`` — the fingerprint
    # ROTATED LEFT so band i's 16 bits become the most-significant
    # (bit 16i+j → bit 48+j).  Within a bucket the rotated top 16 bits
    # (= band_val, including the sign bit) are constant, so a plain
    # signed sort on rfp IS the Manku probe-table order over the
    # remaining 48 bits, and equal-fp runs stay adjacent (rotation is
    # a bijection).  The shift amounts are per-band Python literals
    # formatted into the SQL, which is why rfp is computed here and
    # not inside the bucket's array_sort comparator.
    #
    # The whole expansion below is built as FORMATTED SQL STRINGS
    # (selectExpr / F.expr) rather than the Column-DSL equivalent: the
    # r14 driver profile measured ~3000 Py4J round trips (≈1.2 s per
    # bench run) constructing this query, dominated by the Python-
    # lambda higher-order functions — each lambda is a dozen gateway
    # calls, while a SQL string is parsed JVM-side in one.  The
    # expressions are term-for-term the same; results are pinned
    # identical by the recall/star-cap/window tests and the rows-only
    # gate.
    def _rotl_sql(s: int) -> str:
        if s == 0:
            return "fp"
        return f"shiftleft(fp, {s}) | shiftrightunsigned(fp, {64 - s})"

    band_structs = ", ".join(
        f"struct({i} AS band_id, "
        f"shiftright(fp, {16 * i}) & 65535 AS band_val, "
        f"struct(doc_id, fp, {_rotl_sql(48 - 16 * i)} AS rfp) AS doc)"
        for i in range(4)
    )
    bands = fps.selectExpr(f"explode(array({band_structs})) AS band").selectExpr(
        "band.band_id", "band.band_val", "band.doc"
    )
    # Explicit-width bucket exchange: the banded fingerprints are
    # byte-small (a struct of three longs per row) but the in-row pair
    # expansion below them is compute-heavy, so AQE's BYTE-based
    # partition coalescing is the wrong policy — at sf0.1 it folded the
    # reduce side to ONE task holding 0.6 s of the query's 1.4 s wall
    # (r14 stagelog), a serial tail that also flattens the core-count
    # scaling the driver measures.  repartition with an explicit count
    # (the session's configured shuffle width — the scale-parameterized
    # conf, NOT a local constant) is exempt from AQE coalescing, and
    # hash-partitioning on the bucket key satisfies the groupBy's
    # distribution so the exchange count is unchanged (plan pin:
    # test_simhash_bucket_collect_single_fingerprint_pass).
    shuffle_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    buckets = (
        bands.repartition(shuffle_w, "band_id", "band_val")
        .groupBy("band_id", "band_val")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    # First-shared-band emission instead of a distinct: a pair sharing
    # k quarters would be expanded in all k buckets, and the old form
    # deduplicated those emissions with a full pair-volume exchange
    # (~1.16M rows at sf0.1).  Both fingerprints are in-row at expansion
    # time, so each bucket can instead check — three bitwise tests on
    # the pair's xor — whether the two docs ALSO agree on any earlier
    # quarter, and emit only from the first shared band.  Every
    # qualifying pair is emitted exactly once globally; the hamming
    # threshold and the min-band test both run map-side, and the
    # distinct exchange disappears from the plan entirely (the only
    # shuffle left is the bucket groupBy).
    quarter = lambda i: f"(shiftright(p.x, {16 * i}) & 65535)"
    # Hot-bucket guard, keyed on DUPLICATE-NESS rather than raw bucket
    # size (the r12 form starred every member against the bucket min,
    # which broke connectivity for non-duplicate hot buckets: band_val
    # is 16 bits, so above ~cap·2^16 ≈ 34M docs every quarter bucket
    # exceeds the cap by birthday collision alone, and a genuine
    # near-dup pair far from the bucket min lost both its star edges
    # to the hamming<=12 filter).  Above the cap a bucket now:
    #   (a) CHAINS identical fingerprints — members are re-sorted by
    #       (fp, doc_id) so equal fps are adjacent; each adjacent
    #       equal-fp pair emits a hamming-0 edge, O(b) structs, and
    #       the chain spans exactly the same connected component a
    #       star would (duplicate cliques, the case that motivated
    #       the cap, degrade in volume but never in connectivity);
    #   (b) runs the exact ALL-PAIRS expansion over the DISTINCT-
    #       fingerprint representatives (first doc of each equal-fp
    #       run) — duplicates no longer inflate the quadratic term,
    #       so a bucket that is hot *because of duplicates* keeps
    #       exact cross-group pairs.
    # Only when the bucket holds more genuinely DISTINCT fingerprints
    # than the corpus-derived budget (_rep_expand_cap: pure 16-bit
    # birthday pileup cannot get there below ~134M docs) do the
    # representatives leave exact all-pairs — and then they degrade to
    # a _REP_WINDOW-wide Manku probe scan (rotated-fp order), not a
    # chain: a near-dup pair whose only shared quarter is such a
    # bucket is missed only when >= 64 reps sort between them in
    # rotated order, a density-graded trade instead of the old
    # adjacent-only cliff.  Per-pair rows between non-representative
    # members of a hot bucket undercount either way (see the
    # first-shared-band note): exact row-level parity holds below the
    # cap, component-level parity up to the derived budget, windowed
    # recall beyond.
    _opair = lambda a, b: (
        f"struct(least({a}.doc_id, {b}.doc_id) AS doc_a, "
        f"greatest({a}.doc_id, {b}.doc_id) AS doc_b, "
        f"{a}.fp ^ {b}.fp AS x)"
    )
    _all_pairs = lambda arr: (
        f"flatten(transform({arr}, (pa, pi) -> "
        f"transform(slice({arr}, pi + 2, size({arr})), "
        f"pb -> {_opair('pa', 'pb')})))"
    )
    # Window expansion over ONE chunk: only the first _WINDOW_CHUNK
    # elements originate pairs (overlap rows are neighbours only, so
    # every global pair is emitted by exactly one chunk — the one
    # owning its left member); each origin pairs with its next
    # _REP_WINDOW neighbours in the sorted slice.  Per-row output is
    # therefore bounded by _WINDOW_CHUNK × _REP_WINDOW ≈ 32k structs
    # NO MATTER how many distinct fps the bucket holds — the unchunked
    # form built b·64 structs in a single array value, blowing the
    # very per-row memory ceiling the rep budget enforces, in exactly
    # the past-the-budget regime this path exists for (r14 review).
    _window_chunk = lambda chunk: (
        f"flatten(transform(slice({chunk}, 1, {_WINDOW_CHUNK}), (pa, pi) -> "
        f"transform(slice({chunk}, pi + 2, {_REP_WINDOW}), "
        f"pb -> {_opair('pa', 'pb')})))"
    )
    # Hot buckets sort by (rfp, doc_id): the Manku probe-table order
    # (shared quarter rotated to the top — see the bands comment), so
    # window neighbours are the reps agreeing on the most bits after
    # the shared quarter.  Equal fps are still adjacent (rotation is
    # a bijection), which is all the dup-chain and reps extraction
    # below rely on.
    by_fp_sql = (
        "array_sort(docs, (l, r) -> CASE"
        " WHEN l.rfp < r.rfp THEN -1 WHEN l.rfp > r.rfp THEN 1"
        " WHEN l.doc_id < r.doc_id THEN -1 WHEN l.doc_id > r.doc_id THEN 1"
        " ELSE 0 END)"
    )
    hot = f"(size(docs) > {_BUCKET_FULL_EXPAND_CAP})"
    buckets = buckets.withColumn(
        # sort only pays on hot buckets
        "by_fp",
        F.expr(f"IF({hot}, {by_fp_sql}, NULL)"),
    ).withColumn(
        "reps",
        F.expr(
            # keep the first element of each equal-fp run; greatest()
            # avoids element_at(…, 0) on the first element (ANSI)
            f"IF({hot}, filter(by_fp, (e, i) -> (i = 0) OR "
            "(e.fp != element_at(by_fp, greatest(i, 1)).fp)), NULL)"
        ),
    )
    _dup_chain = (
        "filter(zip_with("
        "slice(by_fp, 1, size(by_fp) - 1), "
        "slice(by_fp, 2, size(by_fp) - 1), "
        f"(ca, cb) -> IF(ca.fp = cb.fp, {_opair('ca', 'cb')}, NULL)), "
        "p -> p IS NOT NULL)"
    )
    rep_cap = _rep_expand_cap(_corpus_n_docs(cat))
    # Two-level emission keeps EVERY row bounded.  Each bucket first
    # explodes into "groups" — either ready pair arrays (the exact
    # branches, whose sizes the caps already bound) or RAW chunk
    # slices of the rep array (the past-budget window branch, ≤
    # _WINDOW_CHUNK + _REP_WINDOW doc structs each, O(b) total across
    # a bucket's groups = the same order as the bucket row itself) —
    # and only then does each chunk row expand its ≤32k window pairs.
    # The group struct type-unifies the two shapes (ps XOR ch set).
    _pair_arr_t = "array<struct<doc_a:bigint,doc_b:bigint,x:bigint>>"
    _doc_arr_t = "array<struct<doc_id:bigint,fp:bigint,rfp:bigint>>"
    _pair_group = lambda arr: f"struct({arr} AS ps, CAST(NULL AS {_doc_arr_t}) AS ch)"
    _chunk_group = lambda arr: f"struct(CAST(NULL AS {_pair_arr_t}) AS ps, {arr} AS ch)"
    _chain_plus_rep_pairs = f"concat({_dup_chain}, {_all_pairs('reps')})"
    _chunk_slice = f"slice(reps, c * {_WINDOW_CHUNK} + 1, {_WINDOW_CHUNK + _REP_WINDOW})"
    groups = (
        f"CASE WHEN NOT {hot} THEN array({_pair_group(_all_pairs('docs'))}) "
        f"WHEN size(reps) <= {rep_cap} THEN "
        f"array({_pair_group(_chain_plus_rep_pairs)}) "
        "ELSE concat("
        f"array({_pair_group(_dup_chain)}), "
        f"transform(sequence(0, CAST(floor((size(reps) - 1) / {_WINDOW_CHUNK}) AS INT)), "
        f"c -> {_chunk_group(_chunk_slice)})"
        ") END"
    )
    pairs = (
        buckets.selectExpr("band_id", f"explode({groups}) AS g")
        .selectExpr(
            "band_id",
            f"explode(IF(g.ps IS NOT NULL, g.ps, {_window_chunk('g.ch')})) AS p",
        )
        .where(
            "bit_count(p.x) <= 12"
            f" AND (band_id < 1 OR {quarter(0)} != 0)"
            f" AND (band_id < 2 OR {quarter(1)} != 0)"
            f" AND (band_id < 3 OR {quarter(2)} != 0)"
        )
        .selectExpr("p.doc_a", "p.doc_b", "bit_count(p.x) AS hamming")
    )
    return pairs


# ------------------------------------------------------------ n-gram Jaccard


_JACCARD_WINDOW = 5


def _char3_grams(t):
    """Distinct character trigrams of ``t`` in first-occurrence order,
    whole (clamped) string for texts under 3 chars — pure Catalyst
    (array_distinct over transform(sequence, substring)), null-strict.

    History: an Arrow-batched variant of this stage was measured faster
    at r6 (when the interpreted chain was the query's dominant cost),
    then re-A/B'd at r8 after a +12% drift: interpreted-JVM 1.286 s vs
    arrow 1.337 s warm min-of-3 at sf0.1, bit-identical output — the
    margin flipped, so the JVM form (no Python workers in the path)
    wins on both time and operational shape.  Numbers in BASELINE.md."""
    # explicit null guard: greatest() SKIPS nulls, so the bare chain
    # would turn a null text into [null] instead of propagating null
    return F.when(
        t.isNotNull(),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(t) - 2, F.lit(1))),
                lambda g: F.substring(t, g, F.lit(3)),
            )
        ),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH n AS (
      SELECT doc_id,
             list_distinct([substr(t, g, 3) FOR g IN generate_series(1, greatest(len(t) - 2, 1))]) AS grams
      FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           floor(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))) * 10000) / 10000 AS jaccard
    FROM n a JOIN n b
      ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= {_JACCARD_WINDOW}
    """,
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-trigram Jaccard over a bounded candidate window
    (ids within ±{window}) — the precise verifier stage that LSH
    candidates would feed at scale.  Entirely JVM-side array ops.

    Physical shape, two deliberate choices:
    - The ±id window is a *range* predicate; alone it would force a
      nested-loop over all pairs.  Banding ``doc_id div window`` and
      exploding the probe side into [band, band+1] makes it one equi
      join — only O(n·window) pairs materialize their gram arrays.
    - The trigram table is materialized ONCE (localCheckpoint) before
      the self-join: left as an expression it would execute on BOTH
      join inputs (the simhash lesson).  The gram stage itself is pure
      Catalyst (:func:`_char3_grams`) — re-chosen over an Arrow variant
      by the r8 warm A/B (1.286 vs 1.337 s at sf0.1, bit-identical
      output; an Arrow stage had won narrowly at r6/r7 — the margin is
      noise-scale either way and the JVM form keeps Python workers out
      of the path).  The repartition spreads the compute-heavy stage
      across workers, which AQE would otherwise coalesce onto a single
      core.  (Historical trap, still relevant: the normalization MUST
      be materialized into column ``t`` first — referencing the raw
      regexp chain inside ``transform`` re-evaluated it once per
      trigram, measured 98 s vs 3 s at sf0.1.)
    """
    cat = Catalog(spark, sf_dir)
    n_parts = spark.sparkContext.defaultParallelism
    base = (
        cat.documents.select(
            "doc_id",
            F.expr(f"doc_id div {_JACCARD_WINDOW}").alias("band"),
            _NORM_SPARK(F.col("text")).alias("t"),
        )
        .repartition(n_parts, "band")
    )
    n = base.select(
        "doc_id", "band", _char3_grams(F.col("t")).alias("grams")
    ).localCheckpoint()
    a = n.select(
        F.col("doc_id").alias("a_id"),
        F.explode(F.array(F.col("band"), F.col("band") + 1)).alias("jband"),
        F.col("grams").alias("a_grams"),
    )
    b = n.select(
        F.col("doc_id").alias("b_id"),
        F.col("band").alias("b_band"),
        F.col("grams").alias("b_grams"),
    )
    inter = F.size(F.array_intersect(F.col("a_grams"), F.col("b_grams")))
    union = F.size(F.array_union(F.col("a_grams"), F.col("b_grams")))
    return (
        a.repartition(n_parts, "jband")
        .join(b.repartition(n_parts, "b_band"), F.col("jband") == F.col("b_band"))
        .where((F.col("a_id") < F.col("b_id")) & (F.col("b_id") - F.col("a_id") <= _JACCARD_WINDOW))
        .select(
            F.col("a_id").alias("doc_a"),
            F.col("b_id").alias("doc_b"),
            (F.floor(inter.cast("double") / union * 10000) / 10000).alias("jaccard"),
        )
    )


# --------------------------------------------------- incremental dedup

_INCR_SPLIT = 400  # doc_id >= split plays the role of "today's batch"


@query(
    "dedup_incremental",
    oracle=f"""
    WITH corpus AS (
      SELECT sha256({_NORM_SQL}) AS h FROM documents WHERE doc_id < {_INCR_SPLIT}
    ),
    batch AS (
      SELECT doc_id, sha256({_NORM_SQL}) AS h FROM documents WHERE doc_id >= {_INCR_SPLIT}
    )
    SELECT b.doc_id, b.h AS content_hash,
           NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h) AS is_new
    FROM batch b
    """,
    tags=("dedup", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: classify an incoming batch against an existing
    corpus by normalized content hash — the daily-ingest shape (dedup
    the delta, never re-scan history against itself).

    Here the corpus is docs below the id split and the batch is the
    rest; production would read the corpus side from a hash manifest
    (32 bytes/doc — a 1B-doc corpus is a 32 GB manifest, far cheaper
    than the corpus).  Physical shape: the batch left-semi-probes the
    corpus hash set on a 32-byte key; with a small batch vs a huge
    corpus this wants the batch broadcast AS THE BUILD SIDE of the probe
    (hint the smaller side), or at both-sides-huge, one equi shuffle on
    the hash — never a rescan of corpus content.
    """
    cat = Catalog(spark, sf_dir)
    h = F.sha2(_NORM_SPARK(F.col("text")), 256)
    corpus = cat.documents.where(F.col("doc_id") < _INCR_SPLIT).select(h.alias("ch"))
    batch = cat.documents.where(F.col("doc_id") >= _INCR_SPLIT).select(
        "doc_id", h.alias("content_hash")
    )
    seen = corpus.distinct().select(F.col("ch"), F.lit(True).alias("seen"))
    return batch.join(
        F.broadcast(seen), F.col("content_hash") == F.col("ch"), "left"
    ).select(
        "doc_id",
        "content_hash",
        F.coalesce(~F.col("seen"), F.lit(True)).alias("is_new"),
    )


# ------------------------------------------- near-dup clustering (CC)

_CLUSTER_JACCARD = 0.6
_CC_MAX_ITERS = 20


#: Edge-count bound under which :func:`_connected_components` solves
#: the labeling driver-side instead of iterating cluster-side.  The
#: same route-by-measurement pattern as the listing's serial-walk
#: budget: the pair list's entry checkpoint counts it on the same job,
#: so one count decides; at or below the bound (two symmetric edges per
#: pair) a union-find costs one collect of <= 2^15 pairs (~0.5 MB) and
#: at most ONE broadcast join back, replacing O(log diameter) rounds
#: of two shuffles + a checkpoint each — measured 1.5-2 s of fixed
#: per-round job overhead on the e2e dedup pipelines whose verified-pair
#: graphs are far smaller than this at any corpus size where they're
#: sparse.  Above the bound (web-scale dup graphs) the distributed
#: propagation runs unchanged.  Tests monkeypatch to -1 to force the
#: distributed path.
_CC_DRIVER_EDGE_BOUND = 1 << 16


def _union_by_min(pairs) -> Callable:
    """Union-find over ``(a, b)`` pairs with path compression and
    union-by-min: returns ``find``, which maps every element to the
    minimum member of its component — min-label propagation's fixpoint
    exactly, so :func:`_connected_components`' driver route matches its
    distributed one."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return find


def _clusters_over(ids: DataFrame, labels: DataFrame) -> DataFrame:
    """``(doc_id, cluster_id, is_canonical)`` for every row of ``ids``
    from a ``(doc_id, label)`` frame that may leave ids out: an id with
    no label is a singleton, its own cluster and its own keeper."""
    cluster = F.coalesce("label", "doc_id")
    return ids.join(labels, "doc_id", "left").select(
        "doc_id",
        cluster.alias("cluster_id"),
        (F.col("doc_id") == cluster).alias("is_canonical"),
    )


def _connected_components(
    pairs: DataFrame, ids: DataFrame | None = None
) -> tuple[DataFrame, int]:
    """Near-dup pairs → clusters: the one connected-components step of
    every clustering query.  ``pairs`` is a ``(doc_a, doc_b)`` edge
    list; ``ids`` is a ``(doc_id)`` frame of every node — the corpus,
    so singletons are their own cluster — or None for the pairs'
    endpoints alone.  Returns ``(clusters, rounds)``: clusters are
    ``(doc_id, cluster_id, is_canonical)``, cluster_id the smallest
    doc_id in the component; ``rounds == 0`` means the driver route
    ran.  The large/small-star scale witness
    (``dedup_cluster_canonical_bigstar``) deliberately does NOT route:
    it exists to demonstrate the distributed algorithm.

    One counted checkpoint on entry both materializes the pairs and
    counts them for the router.  The checkpoint matters on both routes:
    left lazy, the upstream lineage (candidate generation, sketches,
    verification) would run once per read — per symmetrized branch,
    per round — measured 170 s → 11 s on pipeline_neardup_e2e at sf0.1.

    - Driver route (2·pairs <= :data:`_CC_DRIVER_EDGE_BOUND` symmetric
      edges): one bounded collect of the pairs and :func:`_union_by_min`.
      With ``ids`` the label map broadcasts back over them (the corpus
      never enters the driver; a lazy map-side join, so callers need no
      checkpoint); without, the result is a local frame of the
      endpoints.
    - Distributed route: min-label propagation with pointer jumping
      over the symmetrized pairs, nodes = ``ids`` or the distinct
      endpoints.  Each round does one neighbor-min step (every node
      adopts the smallest label among itself and its neighbors — one
      shuffle) and one pointer-jump step (label ← label(label), the
      path-halving trick that turns O(diameter) convergence into
      O(log diameter) — one more shuffle).  Convergence is detected by
      the monotonically-decreasing label sum, and lineage is truncated
      per round with a checkpoint so the plan doesn't grow across
      iterations.

    This simple variant is fine up to graphs whose label table fits a
    normal shuffle (billions of nodes).  For web-scale edge sets the
    published refinement is the large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — same primitives, provably fewer rounds on skewed
    degree distributions.
    """
    pairs, m = checkpoint_counted(pairs.select("doc_a", "doc_b"), n=F.count(F.lit(1)))
    if 2 * m["n"] <= _CC_DRIVER_EDGE_BOUND:
        spark = pairs.sparkSession
        t = dict(pairs.dtypes)["doc_a"] if ids is None else dict(ids.dtypes)["doc_id"]
        rows = pairs.collect()  # bounded: router-counted
        find = _union_by_min(rows)
        label = {x: find(x) for r in rows for x in r}
        if ids is None:
            return spark.createDataFrame(
                [(x, c, x == c) for x, c in label.items()],
                f"doc_id {t}, cluster_id {t}, is_canonical boolean",
            ), 0
        labels = spark.createDataFrame(list(label.items()), f"doc_id {t}, label {t}")
        return _clusters_over(ids, F.broadcast(labels)), 0

    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    nodes = edges.select(F.col("u").alias("doc_id")).distinct() if ids is None else ids
    labels = nodes.select("doc_id", F.col("doc_id").alias("label"))
    prev_sum = None
    iters = 0
    for _ in range(_CC_MAX_ITERS):
        iters += 1
        neigh = edges.join(labels, edges["u"] == labels["doc_id"]).select(
            F.col("v").alias("doc_id"), "label"
        )
        labels = (
            labels.unionByName(neigh).groupBy("doc_id").agg(F.min("label").alias("label"))
        )
        jump = labels.select(
            F.col("doc_id").alias("pj_doc"), F.col("label").alias("pj_label")
        )
        labels = labels.join(jump, labels["label"] == jump["pj_doc"], "left").select(
            "doc_id", F.coalesce("pj_label", "label").alias("label")
        )
        labels, m = checkpoint_counted(labels, s=F.sum("label"))
        if m["s"] == prev_sum:
            break
        prev_sum = m["s"]
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    ), iters


#: Shared by dedup_cluster_canonical and its large-star/small-star twin
#: — both compute the identical clustering fixpoint, so one declarative
#: ground truth serves both.
_CLUSTER_ORACLE = f"""
    WITH RECURSIVE n AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([substr(t, g, 3) FOR g IN generate_series(1, greatest(len(t) - 2, 1))]) AS grams
      FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    ),
    p AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM n a JOIN n b
        ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= {_JACCARD_WINDOW}
      WHERE floor(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.grams, b.grams))) * 10000) / 10000
            >= {_CLUSTER_JACCARD}
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM p
      UNION ALL
      SELECT doc_b, doc_a FROM p
    ),
    reach(doc, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.doc, e.v FROM reach JOIN edges e ON e.u = reach.r
    )
    SELECT doc AS doc_id, min(r) AS cluster_id,
           (doc = min(r)) AS is_canonical
    FROM reach GROUP BY doc
    """


@query(
    "dedup_cluster_canonical",
    oracle=_CLUSTER_ORACLE,
    tags=("dedup", "cluster"),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the verified
    near-dup pair graph, one canonical keeper per cluster — the step a
    real curation pipeline needs after candidate pairs (pairs alone
    can't answer "which rows do I drop": a↔b and b↔c must collapse into
    one {a,b,c} cluster with a single survivor).

    Edges = exact trigram-Jaccard pairs (the dedup_ngram_jaccard
    construction) at ≥ ``_CLUSTER_JACCARD``; components via distributed
    min-label propagation + pointer jumping (see
    :func:`_connected_components`); canonical = smallest doc_id in the
    component.  Every document appears in the output — singletons are
    their own cluster — so ``WHERE is_canonical`` is exactly the
    post-dedup keep set.

    The oracle computes the same fixpoint declaratively: a recursive
    CTE builds the reachability closure and takes min(reachable id) per
    doc — portable SQL, no engine-specific CC primitive.
    """
    pairs = REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).where(
        F.col("jaccard") >= _CLUSTER_JACCARD
    )
    ids = Catalog(spark, sf_dir).documents.select("doc_id")
    return _connected_components(pairs, ids)[0]


def _cc_large_small_star(
    pairs: DataFrame, max_iters: int = _CC_MAX_ITERS
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — the web-scale refinement next to
    :func:`_connected_components`' min-label propagation.

    ``pairs`` is a distinct (doc_a < doc_b) edge list.  Each round
    rewrites the EDGE SET (not a label table):

    - large-star: per node u over its symmetric neighborhood, connect
      every strictly larger neighbor to min(Γ(u) ∪ {u});
    - small-star: per node u over its smaller neighbors (edges kept
      (big, small)-oriented), connect u and every non-min neighbor to
      the minimum.

    Both steps preserve connectivity and only ever decrease the
    (lexicographic) edge sum; the fixpoint is a star per component
    rooted at its minimum node, reached in O(log n) rounds even on
    high-diameter or skewed-degree graphs — where plain label
    propagation pays O(diameter)-ish rounds (path halving brings it to
    O(log diameter), but each round still touches the full label
    table; star rounds shrink the edge set itself as stars form).

    Returns ``(labels, rounds)``: labels are (doc_id, label) for every
    node that appears in an edge — singletons are the caller's join.
    """
    # (u, v) with u > v, deduped; checkpointed so iteration re-reads
    # rows, not the upstream candidate/verify lineage.
    edges = (
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    prev = None
    iters = 0
    for _ in range(max_iters):
        iters += 1
        # ---- large-star over the symmetric neighborhood
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nb = sym.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        mstar = F.least(F.col("u"), F.array_min("nbrs"))
        ls = (
            nb.select(
                F.explode(F.filter("nbrs", lambda x: x > F.col("u"))).alias("big"),
                mstar.alias("small"),
            )
            .where(F.col("big") != F.col("small"))
            .select(F.col("big").alias("u"), F.col("small").alias("v"))
            .distinct()
        )
        # ---- small-star over the (big, small)-oriented result
        nb2 = ls.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        m2 = F.array_min("nbrs")  # every neighbor is smaller than u
        ss = (
            nb2.select(
                F.explode(F.array_union("nbrs", F.array(F.col("u")))).alias("node"),
                m2.alias("m"),
            )
            .where(F.col("node") != F.col("m"))
            .select(F.col("node").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # order-independent fixpoint digest: (count, sum of xxhash64
        # over the (u, v) pair).  A (count, sum(u), sum(v)) triple can
        # collide for distinct edge sets (a round that rewires edges
        # while preserving both endpoint sums would break early with a
        # non-star edge set); the per-pair hash sum changes whenever
        # any edge changes.  decimal(38,0) accumulator: a long sum of
        # 64-bit hashes overflows under ANSI mode.
        edges, cur = checkpoint_counted(
            ss,
            n=F.count(F.lit(1)),
            h=F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        )
        if cur == prev:
            break
        prev = cur
    # at the fixpoint each non-root points straight at its component
    # minimum; the min() is a no-op guard against a max_iters bailout
    return edges.groupBy("u").agg(F.min("v").alias("label")).select(
        F.col("u").alias("doc_id"), "label"
    ), iters


@query(
    "dedup_cluster_canonical_bigstar",
    oracle=_CLUSTER_ORACLE,
    tags=("dedup", "cluster"),
)
def dedup_cluster_canonical_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cluster_canonical's exact twin computed with the
    large-star/small-star algorithm (:func:`_cc_large_small_star`)
    instead of min-label propagation — same edges (trigram Jaccard >=
    ``_CLUSTER_JACCARD``), same oracle, same (doc_id, cluster_id, is_canonical)
    fixpoint.  The alternating star rounds converge in O(log n) on
    skewed degree distributions and long chains where label propagation
    pays per-round full-label-table work; the round-count comparison on
    the adversarial fixtures lives in tests/test_llm_ops.py.
    """
    pairs = (
        REGISTRY["dedup_ngram_jaccard"]
        .fn(spark, sf_dir)
        .where(F.col("jaccard") >= _CLUSTER_JACCARD)
        .select("doc_a", "doc_b")
    )
    member, _ = _cc_large_small_star(pairs)
    return _clusters_over(Catalog(spark, sf_dir).documents.select("doc_id"), member)


# ------------------------------------------------------- embedding near-dup


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.35
    """,
    tags=("dedup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key (label) —
    brute-force exact baseline; dot products via zip_with/aggregate stay
    in the JVM.  The label block bounds the quadratic term; at 100 TB
    replace the block with LSH buckets (see sim_ann_lsh)."""
    cat = Catalog(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    e = cat.embeddings.select("vec_id", "label", v.alias("v"), norm.alias("nrm"))
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .where(cos >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 4).alias("cosine"),
        )
    )


#: Row-block height for per-list cosine scoring: peak scratch memory is
#: O(_ANN_SCORE_BLOCK_ROWS * |list|) floats instead of O(|list|^2).  At
#: 1024 rows x 100k-vector list x 8 bytes that is ~0.8 GB per in-flight
#: block (freed between blocks) where the full matrix would be 80 GB —
#: the difference between a skewed Voronoi cell completing and OOMing.
_ANN_SCORE_BLOCK_ROWS = 1024

#: Pair-chunk length for the exactly-once ownership check: the check
#: broadcasts each surviving pair's two nprobe-length assignment arrays
#: against each other (nprobe^2 int64 cells per pair), so its scratch is
#: a SECOND memory term on top of the block x |list| cosine matrix.  In
#: a dense skewed Voronoi cell — the exact case the blocking targets —
#: nearly every pair in a block can survive the threshold, so
#: npairs ~ block_rows x |list| (1024 x 100k = 1e8 pairs ~ 7 GB at
#: nprobe=3) would dwarf the documented ~0.8 GB block bound (r9 advisor
#: finding).  Chunking bounds it at CHUNK x nprobe^2 x 8 bytes
#: (~72 MB at 1M pairs / nprobe=3), independent of survivor density.
_ANN_OWNERSHIP_CHUNK_PAIRS = 1 << 20


def _rows_look_duplicate_free(m: np.ndarray) -> bool:
    """Cheap duplicate pre-check (r13 advice): np.unique(axis=0) is a
    full lexicographic ROW sort — O(n·d·log n) — and at scale every
    healthy IVF list is duplicate-free, so it must not run
    unconditionally.  One vectorized O(n·d) pass computes a 64-bit row
    digest (bit-pattern × odd-constant mixdown, wraparound sum);
    all-distinct digests PROVE all-distinct rows (equal rows always
    digest equal — property-pinned), so the common path pays a digest
    + an 8-byte unique (measured 36-115× cheaper, BASELINE.md r14)
    and only digest collisions fall through to the exact check.
    (Bit-pattern equality is slightly stricter than np.unique's value
    equality — a -0.0/0.0 alias row digests differently — which can
    only SKIP the degradation, never an emission: those rows then
    score through the exact all-pairs path.)"""
    b = np.ascontiguousarray(m, dtype=np.float64).view(np.uint64)
    mix = np.arange(1, 2 * b.shape[1], 2, dtype=np.uint64)
    h = (b * mix).sum(axis=1, dtype=np.uint64)
    return len(np.unique(h)) == len(h)


def _score_list_pairs(
    ids: np.ndarray,
    mat: np.ndarray,
    threshold: float = 0.35,
    block_rows: int = _ANN_SCORE_BLOCK_ROWS,
    lists: np.ndarray | None = None,
    owner_id: int | None = None,
) -> pd.DataFrame:
    """Score every unordered pair of one inverted list against a cosine
    threshold, in fixed row-blocks.

    Same Σ|list|²·d FLOPs as the single ``unit @ unit.T`` product (BLAS
    does the arithmetic either way) but the scratch matrix is
    ``block_rows × |list|`` instead of ``|list|²``: real embedding
    corpora cluster heavily (the exact motivation for SemDeDup), so a
    skewed Voronoi cell can hold orders of magnitude more vectors than
    the average list and the full-matrix form would materialize its
    square in ONE task.  Survivors are emitted per block; output is
    bit-identical to the unblocked form (pinned in
    tests/test_llm_ops.py against a whole-matrix reference on a skewed
    fixture).

    When ``lists``/``owner_id`` are given (each row's full nprobe
    assignment array and the current list id), a surviving pair is
    emitted ONLY when this list is the pair's smallest shared list —
    the first-shared-band trick the r8 simhash rewrite used: every
    multi-assigned pair is emitted by exactly one task, so the caller
    needs no cross-list reconciliation shuffle at all and the emitted
    cosine is deterministic (always the owner list's block shape).
    Consequence (r9 advisor note): threshold adjudication is
    owner-list-only — the owner list's block-shaped BLAS product is the
    sole verdict, so a pair whose cosine straddles the threshold by a
    last ulp ACROSS lists (above in some non-owner list's block shape,
    below in the owner's) is dropped, where the old
    union-of-lists+distinct form would have emitted it.  Boundary-only
    float behavior, deliberate: exactly-once emission is worth a
    one-ulp fuzz band at the threshold.  The ownership check itself
    runs in ``_ANN_OWNERSHIP_CHUNK_PAIRS`` sub-chunks so its
    npairs x nprobe^2 scratch stays bounded when a dense cell makes
    nearly every pair survive (see the constant's doc).

    Duplicate-keyed degrade (r13, same rule as the LSH/simhash bucket
    caps and the v6 ANN index): a byte-identical vector group larger
    than ``_BUCKET_FULL_EXPAND_CAP`` would make both the FLOPs and the
    EMITTED pair set quadratic in the duplicate count (every internal
    pair scores cosine 1.0 ≥ any threshold) — no blocking bounds an
    output that is itself O(b²).  Such a group participates in the
    matmul as its min-id REPRESENTATIVE only, plus an internal CHAIN of
    adjacent-id pairs at the group's self-cosine: connectivity (what
    the SemDeDup CC consumes) is exact — a member reaches anything its
    group qualifies against via rep + chain — while per-pair rows
    between non-adjacent members, and between non-rep members and
    outside vectors, undercount (cos(member, x) == cos(rep, x), so no
    distinct cosine information is lost).  Groups at or below the cap
    keep the exact all-pairs form, so fixtures and real corpora are
    byte-identical to the ungrouped code path.
    """
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    if lists is not None:
        lists = lists[order]
    chain_a: list[np.ndarray] = []
    chain_b: list[np.ndarray] = []
    chain_c: list[np.ndarray] = []
    if len(ids) > _BUCKET_FULL_EXPAND_CAP and not _rows_look_duplicate_free(
        mat
    ):  # a >cap group needs a >cap list
        _, uniq_inv, counts = np.unique(
            mat, axis=0, return_inverse=True, return_counts=True
        )
        uniq_inv = uniq_inv.reshape(-1)  # numpy 2.0 returns (n, 1) for axis=0
        if counts.max() > _BUCKET_FULL_EXPAND_CAP:
            keep = np.ones(len(ids), dtype=bool)
            for g in np.nonzero(counts > _BUCKET_FULL_EXPAND_CAP)[0]:
                members = np.nonzero(uniq_inv == g)[0]  # ascending ids
                keep[members[1:]] = False  # rep = min-id member stays
                gv = mat[members[0]]
                gn = float(np.linalg.norm(gv))
                # zero-norm duplicates have no direction: cosine 0 to
                # everything incl. each other — no chain, same as the
                # all-pairs form would (not) emit
                self_cos = float(gv @ gv / (gn * gn)) if gn > 0 else 0.0
                if self_cos >= threshold:
                    if lists is None or int(lists[members[0]].min()) == owner_id:
                        # exactly-once across the nprobe list copies:
                        # the whole group shares one assignment array
                        chain_a.append(ids[members[:-1]])
                        chain_b.append(ids[members[1:]])
                        chain_c.append(
                            np.full(len(members) - 1, round(self_cos, 4))
                        )
            ids, mat = ids[keep], mat[keep]
            if lists is not None:
                lists = lists[keep]
    # zero-norm guard (same class as similarity._cosine): a zero vector
    # divides to NaN here; NaN >= threshold happens to be False in
    # numpy so such pairs were dropped by accident — make the exclusion
    # explicit (norm 1 → cosine 0 against everything) instead of
    # resting on NaN comparison semantics
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = mat / np.where(nrm == 0.0, 1.0, nrm)
    n = len(ids)
    out_a: list[np.ndarray] = []
    out_b: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    for start in range(0, n, block_rows):
        stop = min(start + block_rows, n)
        # columns j >= start only: pairs are unordered, so each (i, j)
        # with i < j is owned by i's block — the leading block×block
        # corner keeps its strict upper triangle, every column beyond
        # the corner is a valid partner for all block rows.
        cos = unit[start:stop] @ unit[start:].T
        rows, cols = np.nonzero(np.triu(cos >= threshold, 1))
        if len(rows) and lists is not None:
            # smallest shared list of each surviving pair == owner_id?
            # Chunked: the nprobe x nprobe broadcast is per-PAIR scratch
            # and survivor count is data-dependent (dense cells approach
            # all-pairs), so it must not scale with len(rows).
            own_parts = []
            for c0 in range(0, len(rows), _ANN_OWNERSHIP_CHUNK_PAIRS):
                c1 = min(c0 + _ANN_OWNERSHIP_CHUNK_PAIRS, len(rows))
                la = lists[start + rows[c0:c1]][:, :, None]
                lb = lists[start + cols[c0:c1]][:, None, :]
                shared = np.where(la == lb, la, np.iinfo(np.int64).max)
                own_parts.append(shared.min(axis=(1, 2)) == owner_id)
            own = np.concatenate(own_parts)
            rows, cols = rows[own], cols[own]
        if len(rows):
            out_a.append(ids[start + rows])
            out_b.append(ids[start + cols])
            out_c.append(np.round(cos[rows, cols], 4))
    out_a, out_b, out_c = out_a + chain_a, out_b + chain_b, out_c + chain_c
    if not out_a:
        return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
        )
    return pd.DataFrame(
        {
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_c),
        }
    )


@query("dedup_embedding_ann", oracle=None, tags=("dedup", "embedding", "ann"))
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) near-dup WITHOUT a blocking label —
    the production form of ``dedup_embedding_cosine`` for corpora where
    no natural block key exists (SemDeDup-style curation): candidates
    are generated by IVF coarse quantization instead of a label equi-
    join, then verified by exact cosine.

    Topology (one pass, ONE keyed shuffle, zero joins):

    1. ASSIGN each vector to its 3 nearest k-means centroids
       (multi-assignment catches pairs straddling a Voronoi boundary;
       the map-only Arrow argmin and trainer/centroids of the sim_ann_ivf
       family);
    2. per-list row-blocked matmul: ``groupBy(list_id).applyInPandas``
       — each inverted list normalizes its vector block once and
       scores its pairs as BLAS matrix products in fixed
       ``_ANN_SCORE_BLOCK_ROWS``-row chunks (:func:`_score_list_pairs`),
       emitting cosine >= 0.35 survivors per chunk.  Pair ARITHMETIC
       is Σ|list|²·d FLOPs either way (numpy matmul vs a per-pair
       interpreted HOF dot measured 3.48 → 1.96 s at sf0.1), but the
       scratch matrix is block×|list| instead of |list|² — a skewed
       Voronoi cell (real embedding corpora cluster heavily; a
       100k-vector cell's full matrix is 80 GB) completes in bounded
       memory instead of OOMing one task;
    3. first-shared-list emission (the r8 simhash trick): a pair
       assigned to several lists is scored wherever the matrix product
       covers it, but EMITTED only by the task owning its smallest
       shared list — exactly-once by construction, deterministic
       cosine (always the owner list's block shape), and no cross-list
       reconciliation shuffle at all (the min-cosine groupBy this
       replaced carried the full survivor set through a second
       exchange).

    Measured recall vs brute-force exact cosine on the fixtures
    (near-uniform vectors — the worst case; weak 0.35-cosine pairs
    scatter across Voronoi cells): assignments=2 → 0.62, 3 → 0.87
    (candidate volume ~half of all-pairs even at this tiny K/N ratio),
    4 → 0.95.  The 3-assignment point is pinned >=0.8 in
    tests/test_llm_ops.py, with precision exact by construction.

    At 100 TB the lever is K: K = ceil(N / target-list-size) is DERIVED
    from the corpus count at train time (``similarity._ivf_k``, r11) so
    each list's block fits one task's memory and lists scale with the
    corpus (500-vector fixtures → 4 lists, 2000 → 16, growing with the
    size knob); the IVF index already persists exactly this
    partitioning.  rows-only: the clustering is engine-specific; recall
    vs brute-force exact cosine and exact precision are pinned in
    tests/test_llm_ops.py.
    """
    from .similarity import _nprobe_clusters, _train_centroids

    cat = Catalog(spark, sf_dir)
    cents = _train_centroids(cat)
    if cents is None:  # empty corpus: no pairs (trainer sample empty)
        return spark.createDataFrame([], "vec_a long, vec_b long, cosine double")
    v = F.col("embedding").cast("array<double>")
    assigned = cat.embeddings.select(
        "vec_id",
        v.alias("v"),
        _nprobe_clusters(v, cents, 3).alias("lists"),
    ).select("vec_id", "v", "lists", F.explode("lists").alias("list_id"))

    def pairs_in_list(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        lists = np.asarray(pdf["lists"].tolist(), dtype=np.int64)
        return _score_list_pairs(
            ids, mat, lists=lists, owner_id=int(pdf["list_id"].iloc[0])
        )

    # each pair is emitted by exactly ONE task (its first shared list),
    # so the applyInPandas output IS the answer — no cross-list
    # reconciliation exchange (the aggregate this replaced carried the
    # full survivor set through a second shuffle).
    return assigned.groupBy("list_id").applyInPandas(
        pairs_in_list, "vec_a long, vec_b long, cosine double"
    )


@query(
    "pipeline_semdedup_e2e",
    oracle=None,
    tags=("dedup", "embedding", "pipeline", "e2e"),
)
def pipeline_semdedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup end-to-end (Abbas et al., 2023 —
    cluster the embedding space, drop near-duplicate members): the
    embedding twin of ``pipeline_neardup_e2e``, composing stages that
    otherwise only prove themselves separately:

        IVF-blocked cosine pairs (:func:`dedup_embedding_ann` — one
        checkpointed assignment pass, equi-join candidates, exact
        cosine >= 0.35 verify)
        → connected components over the verified pair graph
          (:func:`_connected_components`; pair list checkpointed once
          on entry, label table corpus-keyed)
        → canonical keep-list (vec_id, cluster_id, is_canonical) with
          every vector present — singletons are their own cluster.

    Scale shape is the sum of its parts: candidates never all-pairs
    (Σ|list|²·nprobe²), CC label traffic is graph-sized, and the final
    join-back is a plain key join.  rows-only (the IVF blocking is
    engine-specific); the CC + canonical stage is EXACTLY pinned in
    tests/test_llm_ops.py by a driver-side union-find over the same
    emitted pair set, so only candidate recall (pinned separately on
    dedup_embedding_ann) is probabilistic.
    """
    pairs = dedup_embedding_ann(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    ids = Catalog(spark, sf_dir).embeddings.select(F.col("vec_id").alias("doc_id"))
    return _connected_components(pairs, ids)[0].withColumnRenamed("doc_id", "vec_id")


@query(
    "dedup_levenshtein",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars, n_chars // 32 AS bucket,
             left(text, 64) AS prefix
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS lev
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE abs(a.n_chars - b.n_chars) <= 8
      AND levenshtein(a.prefix, b.prefix) <= 8
    """,
    tags=("dedup", "levenshtein"),
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection: block candidates on (lang,
    length bucket), prune by length difference (|Δlen| ≤ k bounds the
    edit distance from below), then verify with Levenshtein over a
    64-char prefix, keeping pairs within distance 8.

    The blocked self-join is an ordinary equi-join on the block key —
    never all-pairs; pair count is Σ|block|² over balanced buckets.
    Spark's ``levenshtein(l, r, threshold)`` (3.5+) passes the bound
    into the DP so verification cost is O(len·k), not O(len²), and the
    banded DP early-exits hopeless pairs.  At corpus scale this exact
    verifier runs *downstream of* MinHash-LSH candidates
    (``dedup_minhash``) rather than of length blocking; the operator
    shape — candidate equi-join + bounded verifier — is identical.
    The oracle states the same blocking with DuckDB's unbounded
    ``levenshtein``.
    """
    cat = Catalog(spark, sf_dir)
    d = cat.documents.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars") / 32).cast("int").alias("bucket"),
        F.substring("text", 1, 64).alias("prefix"),
    )
    a = d.alias("a")
    b = d.alias("b")
    lev = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"), 8)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(
            (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 8) & (lev >= 0)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.alias("lev"),
        )
    )


@query(
    "decontaminate_ngram_overlap",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, gram
      FROM (SELECT doc_id,
                   unnest([array_to_string(t[i:i+7], ' ')
                           FOR i IN generate_series(1, len(t) - 7)]) AS gram
            FROM toks)
    ),
    eval_g  AS (SELECT doc_id AS eval_doc,  gram FROM grams WHERE doc_id % 7 = 0),
    train_g AS (SELECT doc_id AS train_doc, gram FROM grams WHERE doc_id % 7 <> 0)
    SELECT t.train_doc, e.eval_doc, count(*) AS n_shared_grams
    FROM train_g t JOIN eval_g e USING (gram)
    GROUP BY t.train_doc, e.eval_doc
    """,
    tags=("dedup", "decontamination"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training documents that share any
    8-gram with a held-out evaluation set (here: ``doc_id % 7 == 0``
    stands in for the benchmark) and report the shared-gram count per
    (train, eval) pair — the standard n-gram overlap check run before
    training so eval answers don't leak into the corpus.

    Scale shape: per-document gram dedup happens inside the row
    (``array_distinct`` on the gram array BEFORE explode), so the
    distinct semantics cost zero shuffle — a corpus-wide
    ``DISTINCT (doc, gram)`` here would shuffle every gram of every
    document, and because both sides branch from the same lineage,
    pay it twice.  Each side then filters its residue class at the
    scan and explodes independently; they meet in one equi-join on
    ``xxhash64(gram)`` (8-byte keys instead of ~50-byte strings; at
    64 bits the collision-induced false-pair probability at corpus
    scale is negligible, and a residual string-equality filter after
    the join removes even those).  The eval side is tiny by
    construction, so it broadcasts; the training grams never shuffle —
    the only exchange left is the final tiny (train, eval) pair
    aggregate.
    """
    cat = Catalog(spark, sf_dir)
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
    gram_arr = F.array_distinct(
        F.transform(
            gram_start_indices(toks, 8),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 8)),
        )
    )

    # Explode amplifies each document into ~|tokens| grams, so input
    # bytes under-signal the work: a scan-split sized for bytes leaves
    # whole cores idle.  The pre-explode spread is layout-aware
    # (spread_for_compute): under-split fixture layouts repartition,
    # production layouts whose scan already splits skip the shuffle.
    def side(pred):
        return spread_for_compute(
            cat.documents.where(pred), cat.sf_dir, "documents"
        ).select("doc_id", F.explode(gram_arr).alias("gram"))

    eval_g = side(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_doc"),
        F.xxhash64("gram").alias("egh"),
        F.col("gram").alias("egram"),
    )
    train_g = side(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("train_doc"),
        F.xxhash64("gram").alias("gh"),
        "gram",
    )
    return (
        train_g.join(F.broadcast(eval_g), F.col("gh") == F.col("egh"))
        .where(F.col("gram") == F.col("egram"))  # collision guard
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


@query(
    "dedup_url_canonical",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             'HTTPS://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END
               || upper(lang) || '.Example.COM/Docs/' || source || '/'
               || (doc_id // 4)
               || CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END
               || '?utm_source=feed&id=' || (doc_id // 4)
               || CASE WHEN doc_id % 4 = 2 THEN '&utm_campaign=x' ELSE '' END
               || CASE WHEN doc_id % 4 = 3 THEN '#frag' ELSE '' END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(lower(url), '#.*$', ''),
                       '(\\?|&)utm_[^&]*', '\\1', 'g'),
                     '\\?&+', '?', 'g'),
                   '&&+', '&', 'g'),
                 '[?&]+$', ''),
               '/+(\\?|$)', '\\1', 'g') AS curl
      FROM raw
    )
    SELECT curl, min(doc_id) AS canonical_doc, count(*) AS n_variants
    FROM canon GROUP BY curl
    """,
    tags=("dedup", "url"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: crawl frontiers see the same page as
    https/HTTPS, with and without www-case variance, trailing slashes,
    ``utm_*`` tracking parameters, and fragments.  Canonicalize
    (lowercase, strip fragment, drop utm params, collapse separators,
    trim trailing slash before query/end) and keep the smallest doc_id
    per canonical URL.

    The fixture has no URL column, so each document synthesizes a
    deterministic messy URL — four variants share each canonical form
    (``doc_id // 4``), making the dedup observable: output rows = ~¼ of
    input.  All canonicalization is JVM regexp_replace in one map-only
    pass; the only shuffle is the final groupBy on the canonical key —
    the same one-shuffle shape as ``dedup_exact``.
    """
    cat = Catalog(spark, sf_dir)
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(F.col("doc_id") % 2 == 0, "WWW.").otherwise("www."),
        F.upper("lang"),
        F.lit(".Example.COM/Docs/"),
        F.col("source"),
        F.lit("/"),
        (F.col("doc_id") / 4).cast("long").cast("string"),
        F.when(F.col("doc_id") % 4 == 1, "/").otherwise(""),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") / 4).cast("long").cast("string"),
        F.when(F.col("doc_id") % 4 == 2, "&utm_campaign=x").otherwise(""),
        F.when(F.col("doc_id") % 4 == 3, "#frag").otherwise(""),
    )
    curl = F.lower(url)
    curl = F.regexp_replace(curl, r"#.*$", "")
    curl = F.regexp_replace(curl, r"(\?|&)utm_[^&]*", r"$1")
    curl = F.regexp_replace(curl, r"\?&+", "?")
    curl = F.regexp_replace(curl, r"&&+", "&")
    curl = F.regexp_replace(curl, r"[?&]+$", "")
    curl = F.regexp_replace(curl, r"/+(\?|$)", r"$1")
    return (
        cat.documents.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


@query(
    "pipeline_incremental_refresh",
    oracle=r"""
    WITH batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 5 <> 4 AND doc_id % 31 = 0
    ),
    corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
    ),
    dup_hit AS (
      SELECT DISTINCT b.doc_id FROM batch b
      JOIN (SELECT DISTINCT sha256(text) AS h FROM corpus) c
        ON sha256(b.text) = c.h
    ),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS t
      FROM batch
      UNION ALL
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS t
      FROM corpus WHERE doc_id % 7 = 0
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+3], ' ')
                                   FOR i IN generate_series(1, len(t) - 3)])) AS gram
      FROM toks
    ),
    contaminated AS (
      SELECT DISTINCT bg.doc_id
      FROM (SELECT doc_id, gram FROM grams WHERE doc_id % 5 = 4 OR doc_id >= 1000000) bg
      JOIN (SELECT DISTINCT gram FROM grams
            WHERE doc_id < 1000000 AND doc_id % 5 <> 4 AND doc_id % 7 = 0) eg
        ON bg.gram = eg.gram
    ),
    quality AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS n_tokens
      FROM batch
    )
    SELECT b.doc_id,
           CASE WHEN d.doc_id IS NOT NULL THEN 'dup'
                WHEN c.doc_id IS NOT NULL THEN 'contaminated'
                WHEN q.n_tokens < 20 THEN 'low_quality'
                ELSE 'keep' END AS verdict
    FROM batch b
    LEFT JOIN dup_hit d USING (doc_id)
    LEFT JOIN contaminated c USING (doc_id)
    LEFT JOIN quality q USING (doc_id)
    """,
    tags=("pipeline", "composed", "dedup", "hygiene"),
)
def pipeline_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-refresh gate — the admission decision an
    incremental training-data pipeline makes for every incoming batch,
    as ONE declarative program: exact-dup check against the standing
    corpus (sha256 manifest), eval-set contamination check (shared
    4-gram with the held-out slice), quality floor (token count), with
    verdict priority dup > contaminated > low_quality > keep.

    The incoming batch = the mod-5 residue class PLUS a re-crawl slice
    (every 31st corpus doc re-ingested under a fresh id) — the
    synthetic re-crawl makes the dup branch observable (the fixture has
    no natural cross-class dups), 4-grams make contamination fire
    naturally (~17 docs at sf0.01; 8-grams never collide in this
    corpus), and the 20-token floor catches the short tail.  Every
    verdict is reachable, so every branch is falsifiable.

    Scale shape: the dup check joins 32-byte digests (the corpus side
    is manifest-sized, not corpus-sized); contamination reuses the
    decontamination shape — in-row ``array_distinct`` before explode,
    eval grams broadcast, batch grams never shuffle; the quality floor
    is map-only and doubles as the join spine.  The assembled batch is
    ``localCheckpoint``ed: it feeds three consumers, and un-pinned each
    re-derived the two-branch union from the corpus scan — 10 scans in
    the analyzed plan (r8 audit; pinned form bit-identical, −12% at
    sf0.1).  The checkpoint is bounded by the INCREMENT, not the
    corpus — exactly the table a real refresh pipeline would land on
    disk anyway.  Three independent signals then meet the batch in
    left joins keyed on doc_id — at 100 TB each signal is its own
    bounded stage and nothing materializes cross-key state.
    """
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    recrawl = corpus.where(F.col("doc_id") % 31 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    batch = (
        docs.where(F.col("doc_id") % 5 == 4)
        .select("doc_id", "text")
        .unionAll(recrawl)
        .localCheckpoint()
    )

    dup_hit = (
        batch.select("doc_id", F.sha2("text", 256).alias("h"))
        .join(corpus.select(F.sha2("text", 256).alias("h")).distinct(), "h")
        .select("doc_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )

    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
    gram_arr = F.array_distinct(
        F.transform(
            gram_start_indices(toks, 4),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 4)),
        )
    )

    def grams_of(df):
        # layout-aware pre-explode spread, as decontaminate_ngram_overlap
        return spread_for_compute(df, cat.sf_dir, "documents").select(
            "doc_id", F.explode(gram_arr).alias("gram")
        )

    eval_grams = (
        grams_of(corpus.where(F.col("doc_id") % 7 == 0)).select("gram").distinct()
    )
    contaminated = (
        grams_of(batch)
        .join(F.broadcast(eval_grams), "gram")
        .select("doc_id")
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )

    spine = batch.select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"), lambda w: w != "")).alias("n_tokens"),
    )

    return (
        spine.join(dup_hit, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_dup"), "dup")
            .when(F.col("is_contaminated"), "contaminated")
            .when(F.col("n_tokens") < 20, "low_quality")
            .otherwise("keep")
            .alias("verdict"),
        )
    )


#: Max documents a 5-gram may appear in before its posting list is
#: dropped from containment's pair expansion.  A boilerplate gram with
#: document frequency d expands O(d^2) ordered pairs inside ONE posting
#: row — the cap bounds that at CAP^2 structs (~16k) per row, turning
#: the worst-case hot key from a task-killer into noise.  Dropped grams
#: are boilerplate (license headers, navigation chrome), which near-dup
#: practice EXCLUDES anyway; the fixtures' max df is 4, so the fixture
#: results are byte-identical with or without the cap.
CONTAINMENT_DF_CAP = 128

_GRAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("grams", ArrayType(StringType(), False), False),
        StructField("sz", IntegerType(), False),
    ]
)


def _word5_gram_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, ws: array<string>) → (doc_id, grams: distinct word
    5-grams, sz: their count), Arrow-batched and numpy-vectorized over
    the token axis (the _minhash_bands pattern).

    Replaces the interpreted Catalyst form
    ``array_distinct(transform(sequence(...), i -> array_join(slice(ws,
    i, 5), ' ')))`` whose per-element expression evaluation dominated
    dedup_containment / pipeline_neardup_e2e (r6 audit: 3.15-4.3 s at
    sf0.1).  Here the whole batch's tokens live in ONE object ndarray;
    the five shifted views concatenate elementwise in C, and the
    per-doc distinct is a single hash pass (pandas drop_duplicates)
    over (doc, gram) — no per-gram Python, no per-gram expression tree.

    Gram semantics are identical to the Catalyst form and the DuckDB
    oracle (``w[i:i+4]`` 1-based inclusive): start positions 1..max(n-4,
    1), window clamped at the document end, so docs under 5 tokens
    yield their full token string and empty token lists yield "".
    """
    for pdf in batches:
        if len(pdf) == 0:
            yield pd.DataFrame({"doc_id": [], "grams": [], "sz": []})
            continue
        # F.split never yields an empty array (empty input -> [""]),
        # but normalize anyway so a zero-length list can't alias the
        # next doc's tokens through the clamped gram window.
        lists = [x if len(x) else [""] for x in pdf["ws"].tolist()]
        lens = np.fromiter((len(x) for x in lists), dtype=np.int64, count=len(lists))
        off = np.zeros(len(lists) + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        toks = np.empty(off[-1], dtype=object)
        for j, x in enumerate(lists):
            toks[off[j] : off[j + 1]] = x
        n_grams = np.maximum(lens - 4, 1)
        doc_idx = np.repeat(np.arange(len(lists)), n_grams)
        gram_off = np.zeros(len(lists) + 1, dtype=np.int64)
        np.cumsum(n_grams, out=gram_off[1:])
        # global token position of each gram's first word
        pos = (
            np.arange(gram_off[-1])
            - np.repeat(gram_off[:-1], n_grams)
            + np.repeat(off[:-1], n_grams)
        )
        end = np.repeat(off[1:], n_grams)
        g = toks[pos].copy() if len(pos) else np.empty(0, dtype=object)
        for k in range(1, 5):
            idx = pos + k
            m = idx < end
            if m.any():
                g[m] = g[m] + " "
                g[m] = g[m] + toks[idx[m]]
        dd = pd.DataFrame({"d": doc_idx, "g": g}).drop_duplicates()
        grouped = dd.groupby("d", sort=True)["g"].agg(list)
        ids = pdf["doc_id"].to_numpy()
        yield pd.DataFrame(
            {
                "doc_id": ids[grouped.index.to_numpy()],
                "grams": grouped.to_numpy(),
                "sz": [len(x) for x in grouped],
            }
        )


@query(
    "dedup_containment",
    # Join on raw gram STRINGS on both engines (not hashes): equality
    # is then definitionally identical, and the 0.5*|Sa| cut uses only
    # exact integer/half-integer arithmetic — no rounding guard.  The
    # df cap is mirrored as a HAVING on the gram key; |Sa| (sz) stays
    # the UNCAPPED distinct-gram count on both sides.
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+4], ' ')
                            FOR i IN generate_series(1, greatest(len(w) - 4, 1))])
               AS grams
      FROM toks
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    kept AS (SELECT gram FROM e GROUP BY gram HAVING count(*) <= 128),
    ek AS (SELECT e.doc_id, e.gram FROM e JOIN kept USING (gram)),
    s AS (SELECT doc_id, len(grams) AS sz FROM g),
    p AS (
      SELECT a.doc_id AS doc_small, b.doc_id AS doc_big, count(*) AS inter
      FROM ek a JOIN ek b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_small, p.doc_big,
           floor(CAST(p.inter AS DOUBLE) / s.sz * 10000) / 10000 AS containment
    FROM p JOIN s ON p.doc_small = s.doc_id
    WHERE p.inter >= 0.5 * s.sz
    """,
    tags=("dedup", "containment", "ngram"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |Sa ∩ Sb| / |Sa| ≥ 0.5 over
    distinct word 5-grams — catches the near-dup class Jaccard misses:
    a short document quoted/embedded inside a much longer one (the
    union term dilutes Jaccard toward 0 as the container grows, while
    containment of the quoted side stays ~1).  Ordered pairs: the row
    (a, b) asserts "a is half-contained in b".

    Physical shape — the inverted-index join, the second canonical
    near-dup topology next to ``dedup_ngram_jaccard``'s banded form:
    distinct (doc, gram) postings shuffle once on the gram key, pair
    counts aggregate map-side before one (doc_a, doc_b) shuffle, and
    the per-doc size table joins back on the small pair set.  Linear
    in postings + output pairs, never all-pairs.

    The 100 TB guard: grams with document frequency above
    :data:`CONTAINMENT_DF_CAP` are dropped BEFORE pair expansion (a
    HAVING on the aggregated posting list — same plan shape, no extra
    exchange), bounding the in-row pair blow-up at CAP^2 per gram.
    The drop is never silent — the posting stage carries an observed
    metric ``dedup_containment_df_cap`` = (dropped_grams,
    max_df) via ``DataFrame.observe``, so a production listener sees
    exactly how much boilerplate the cap removed.  |Sa| remains the
    uncapped distinct-gram count, so containment scores of surviving
    pairs are unchanged; only intersections THROUGH ultra-common grams
    are forgone.  Residual worst case: the collect_list buffer itself
    is linear in df for the hot gram before the filter discards it —
    if a corpus ever concentrates billions of postings in one gram,
    pre-filter with a two-pass df table (count, then join) at the cost
    of a second gram-keyed exchange; tests/test_llm_ops.py pins the
    cap behavior under a synthetic boilerplate gram either way.
    """
    cat = Catalog(spark, sf_dir)
    # Perf note (r6 audit → r7 fix): the dominant cost was the
    # interpreted per-element slice+join+distinct of the Catalyst gram
    # expression (~3.8 s of the 3.35 s warm query at sf0.1), not the
    # shuffle — so the r7 rewrite moved the gram construction to the
    # Arrow-batched numpy stage (:func:`_word5_gram_batches`), measured
    # 3.82 → 1.54 s warm for the full query at sf0.1 with identical
    # gram sets.  An exchange-pin of the split array was profiled and
    # rejected in r6 (the cost was expression eval, not lambda
    # re-evaluation); the repartition here spreads the Python stage
    # across workers, same as the minhash sketch.
    #
    # Posting-list form: ONE pass computes the (expensive) shingle
    # strings — a gram-keyed self-join would re-run that lineage on
    # both sides plus a third time for the size table (measured 3
    # scans, no exchange reuse) — then each gram's posting list
    # expands its ordered pairs IN-ROW (the dedup_minhash bucket
    # trick), so pair counts need no join at all; |Sa| rides along in
    # the posting struct, killing the size join-back too.
    g = spread_for_compute(
        cat.documents.select("doc_id", F.split(F.col("text"), " ").alias("ws")),
        cat.sf_dir,
        "documents",
    ).mapInPandas(_word5_gram_batches, _GRAM_SCHEMA)
    e = g.select("doc_id", "sz", F.explode("grams").alias("gram"))
    postings = (
        e.groupBy("gram")
        .agg(F.collect_list(F.struct("doc_id", "sz")).alias("docs"))
        .observe(
            "dedup_containment_df_cap",
            F.sum((F.size("docs") > CONTAINMENT_DF_CAP).cast("long")).alias(
                "dropped_grams"
            ),
            F.max(F.size("docs")).alias("max_df"),
        )
        .where(F.size("docs") <= CONTAINMENT_DF_CAP)
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                "docs",
                lambda x: F.transform(
                    F.filter("docs", lambda y: y["doc_id"] != x["doc_id"]),
                    lambda y: F.struct(
                        x["doc_id"].alias("doc_small"),
                        x["sz"].alias("sz"),
                        y["doc_id"].alias("doc_big"),
                    ),
                ),
            )
        )
    )
    return (
        postings.select(pair.alias("p"))
        .groupBy("p.doc_small", "p.doc_big", "p.sz")
        .agg(F.count(F.lit(1)).alias("inter"))
        .where(F.col("inter") >= 0.5 * F.col("sz"))
        .select(
            "doc_small",
            "doc_big",
            (F.floor(F.col("inter").cast("double") / F.col("sz") * 10000) / 10000).alias(
                "containment"
            ),
        )
    )


# ------------------------------------- composed near-dup pipeline (e2e)

#: Exact word-5-gram Jaccard threshold for the e2e verify stage (tau).
_E2E_TAU_NUM, _E2E_TAU_DEN = 1, 2  # tau = 1/2: keep iff den*i >= num*(a+b-i)


@query(
    "pipeline_neardup_e2e",
    # Ground truth is EXACT and SQL-expressible because BOTH engines
    # generate the SAME candidate set by construction: the df-capped
    # inverted gram index (a pair is a candidate iff it shares at least
    # one gram whose document frequency is <= the cap).  Below the cap
    # that set is provably complete (any pair with word-gram Jaccard
    # > 0 shares a gram); a tau-pair whose shared grams ALL exceed the
    # cap is dropped by both sides symmetrically, so the oracle match
    # holds on ANY corpus, boilerplate-heavy or not.  The LSH-union
    # variant that also recovers over-cap cliques is registered
    # separately (pipeline_neardup_e2e_lsh_union, rows-only).  The
    # closure is the dedup_cluster_canonical recursive CTE restricted
    # to clustered docs.  tau = 1/2 compares as 3*i >= |A|+|B| — exact
    # integers.  Both engines tokenize via the shared normalizer
    # (_NORM_SPARK / _NORM_SQL), like every sibling dedup query.
    oracle=f"""
    WITH RECURSIVE d AS MATERIALIZED (
      SELECT doc_id, {_NORM_SQL} AS t
      FROM documents
    ),
    w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
    n AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([array_to_string(ws[i:i+4], ' ')
                            FOR i IN generate_series(1, greatest(len(ws) - 4, 1))])
               AS grams
      FROM w
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM n),
    kept AS (SELECT gram FROM e GROUP BY gram
             HAVING count(*) <= {CONTAINMENT_DF_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM (SELECT e.* FROM e JOIN kept USING (gram)) a
      JOIN (SELECT e.* FROM e JOIN kept USING (gram)) b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    ver AS MATERIALIZED (
      SELECT doc_a, doc_b
      FROM cand
      JOIN n na ON na.doc_id = cand.doc_a
      JOIN n nb ON nb.doc_id = cand.doc_b
      WHERE 3 * len(list_intersect(na.grams, nb.grams))
            >= len(na.grams) + len(nb.grams)
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM ver
      UNION ALL
      SELECT doc_b, doc_a FROM ver
    ),
    reach(doc, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT reach.doc, e2.v FROM reach JOIN edges e2 ON e2.u = reach.r
    )
    SELECT doc AS doc_id, min(r) AS cluster_id, (doc = min(r)) AS is_canonical
    FROM reach GROUP BY doc
    """,
    tags=("dedup", "pipeline", "e2e"),
)
def pipeline_neardup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed near-dup pipeline a real corpus run executes, as ONE
    operator exercising the hand-offs the stages only prove separately:

        candidates (df-capped word-gram posting index — the
                    oracle-symmetric exact generator)
        → exact word-5-gram Jaccard >= 1/2 verify on CANDIDATE PAIRS
          ONLY (never all-pairs)
        → connected components over the verified pair graph
        → canonical keep-list (doc_id, cluster_id, is_canonical)

    The registered query uses the posting index ALONE so the engine and
    the DuckDB oracle compute the identical candidate set on any corpus
    (both drop pairs whose every shared gram exceeds the df cap — the
    boilerplate-clique regime).  The production-scale variant that
    unions MinHash/LSH candidates — recovering those over-cap cliques
    at probabilistic recall — is :func:`pipeline_neardup_e2e_lsh_union`
    (registered rows-only; the skew-fixture test pins its recall).

    Physical shape: posting pairs expand in-row after the df cap
    (bounded CAP^2); the verify join broadcasts the slim candidate pair
    list against the gram-array table so gram arrays never shuffle, and
    flips to a doc_id-keyed sort-merge join at runtime when the counted
    candidate list exceeds ``VERIFY_BROADCAST_MAX_PAIRS`` (near-dup-
    dense corpora — the count is free, the list is checkpointed);
    components via min-label propagation + pointer jumping
    (:func:`_connected_components`) on the verified-pair graph only,
    which is near-dup-group-sized, not corpus-sized: the node set is the
    verified pairs' endpoints, so on the driver route the result is a
    local frame, with no node DISTINCT shuffle and no join back.
    """
    return _connected_components(_neardup_verified_pairs(spark, sf_dir))[0]


@query("pipeline_neardup_e2e_lsh_union", oracle=None, tags=("dedup", "pipeline", "e2e"))
def pipeline_neardup_e2e_lsh_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_neardup_e2e with the candidate stream widened to
    MinHash/LSH banding ∪ the df-capped posting index — the 100 TB
    production shape.  The union recovers near-dup cliques whose shared
    grams ALL exceed the df cap (boilerplate corpora), which the
    oracle-symmetric posting index deliberately drops; that extra
    recall is probabilistic (banded sketch), so this variant is
    rows-only — its behavior is pinned by the adversarial skew-fixture
    test instead (tests/test_llm_ops.py), and the verify stage's
    contract is unchanged: it accepts ANY candidate stream and owns
    correctness from there."""
    return _connected_components(_neardup_verified_pairs(spark, sf_dir, include_lsh=True))[0]


#: Candidate-pair count above which the e2e verify join abandons the
#: broadcast of the pair list for a doc_id-keyed sort-merge join.  A
#: pair row is two longs (~50 B serialized), so the default caps the
#: broadcast near 100 MB — past that, shipping the list to every
#: executor costs more than one shuffle of the gram table.
VERIFY_BROADCAST_MAX_PAIRS = 2_000_000


def _neardup_verified_pairs(
    spark: SparkSession, sf_dir: str, include_lsh: bool = False
) -> DataFrame:
    """Candidate generation + exact verify for the e2e pipelines,
    exposed so tests can assert its physical plan (the registered
    queries checkpoint this result before the CC loop, which hides the
    upstream plan behind an RDD scan)."""
    cat = Catalog(spark, sf_dir)
    # Normalization stays JVM-side (_NORM_SPARK, in lockstep with the
    # oracle's _NORM_SQL); the gram construction is the Arrow-batched
    # numpy stage shared with dedup_containment — the interpreted
    # Catalyst gram expression was the dominant per-row cost (r6
    # audit; the swap measured 2.5x on the containment query).  The
    # repartition spreads the Python stage across workers.
    base = spread_for_compute(
        cat.documents.select(
            "doc_id", F.split(_NORM_SPARK(F.col("text")), " ").alias("ws")
        ),
        cat.sf_dir,
        "documents",
    )
    # Materialize the gram table ONCE: three consumers read it (the
    # posting explode and both verify sides) and the gram construction
    # is the dominant per-row cost — left lazy it runs 3×, measured
    # 12.0 → 5.9 s for the verify stage at sf0.1 (r6, pre-Arrow).  At
    # cluster scale this is the same call: one pass over the corpus
    # building the gram column, persisted, instead of three.
    g = base.mapInPandas(_word5_gram_batches, _GRAM_SCHEMA).localCheckpoint()

    # -- candidate stream 1: exact posting index, df-capped (in-row i<j
    #    expansion on the sorted bucket, as dedup_minhash's buckets do)
    buckets = (
        g.select("doc_id", F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= CONTAINMENT_DF_CAP))
    )
    cand = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    # -- candidate stream 2 (lsh_union variant only): LSH banding — the
    #    probabilistic recovery path for over-cap boilerplate cliques
    if include_lsh:
        cand_lsh = REGISTRY["dedup_minhash"].fn(spark, sf_dir).select("doc_a", "doc_b")
        cand = cand.unionByName(cand_lsh)
    # Checkpointed so the verify join doesn't re-execute the candidate
    # lineage per join side.
    cand, m = checkpoint_counted(cand.distinct(), n=F.count(F.lit(1)))

    # -- exact verify on candidates only (integer comparison, no floats).
    #    Join strategy decided at RUNTIME from the actual candidate
    #    count: broadcast the slim pair list while it's small (gram
    #    arrays never shuffle), flip to a doc_id-keyed sort-merge join
    #    on near-dup-dense corpora where the list itself is huge.
    a = g.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"), F.col("sz").alias("sa"))
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"), F.col("sz").alias("sb"))
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    if m["n"] <= VERIFY_BROADCAST_MAX_PAIRS:
        joined = a.join(F.broadcast(cand), "doc_a").join(b, "doc_b")
    else:
        joined = a.hint("merge").join(cand, "doc_a").join(b.hint("merge"), "doc_b")
    return (
        joined.where(3 * inter >= F.col("sa") + F.col("sb")).select("doc_a", "doc_b")
    )


# --------------------------------------------- bloom-filter dedup manifest

_BLOOM_M = 16384  # bits, packed 32/word (bit 63 would overflow DuckDB's
# signed left shift, so words are 32-bit halves stored in BIGINT) -> 512 rows
_BLOOM_K = 4      # probes per key, from disjoint sha256 hex slices


def _bloom_positions_spark(hcol):
    """K probe positions from disjoint 8-hex-char slices of a sha256:
    exact integer parses, identical to the oracle's ('0x'||slice)::BIGINT."""
    return F.array(
        *[
            (F.conv(F.substring(hcol, 1 + 8 * i, 8), 16, 10).cast("long") % _BLOOM_M)
            for i in range(_BLOOM_K)
        ]
    )


_BLOOM_POS_SQL = ", ".join(
    f"(('0x' || substr(h, {1 + 8 * i}, 8))::BIGINT % {_BLOOM_M})"
    for i in range(_BLOOM_K)
)


def bloom_corpus(cat: Catalog) -> tuple[DataFrame, DataFrame]:
    """The corpus side of every Bloom query, built once: the
    ``(word_idx, bits)`` manifest over the sha256 of the documents
    below the id split, and their distinct hash set ``h`` (the exact
    truth the verdicts are checked against)."""
    corpus = cat.documents.where(F.col("doc_id") < _INCR_SPLIT).select(
        F.sha2("text", 256).alias("h")
    )
    manifest = (
        corpus.select(F.explode(_bloom_positions_spark(F.col("h"))).alias("pos"))
        .select(
            F.expr("CAST(pos div 32 AS BIGINT)").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("b").cast("bigint").alias("bits"))
    )
    return manifest, corpus.distinct()


def bloom_verdicts(docs: DataFrame, manifest: DataFrame, hashes: DataFrame) -> DataFrame:
    """Per document of ``docs`` (doc_id, text): ``maybe_seen`` (all K
    manifest bits set) and the exact ``is_dup`` (its sha256 is in
    ``hashes``).  Both probes broadcast their small side; the one
    doc_id-keyed shuffle folds the K probe rows back with bool_and."""
    batch = docs.select("doc_id", F.sha2("text", 256).alias("h"))
    probes = batch.select(
        "doc_id", F.explode(_bloom_positions_spark(F.col("h"))).alias("pos")
    )
    hit = (
        probes.join(
            F.broadcast(manifest),
            F.expr("pos div 32") == F.col("word_idx"),
            "left",
        )
        .select(
            "doc_id",
            F.expr(
                "(shiftright(coalesce(bits, CAST(0 AS BIGINT)), CAST(pos % 32 AS INT)) & 1) = 1"
            ).alias("bit_set"),
        )
        .groupBy("doc_id")
        .agg(F.bool_and("bit_set").alias("maybe_seen"))
    )
    seen = hashes.select(F.col("h").alias("ch"), F.lit(True).alias("seen"))
    truth = batch.join(F.broadcast(seen), F.col("h") == F.col("ch"), "left").select(
        "doc_id", F.coalesce("seen", F.lit(False)).alias("is_dup")
    )
    return hit.join(truth, "doc_id").select("doc_id", "maybe_seen", "is_dup")


@query(
    "dedup_bloom_manifest",
    oracle=f"""
    WITH h AS (
      SELECT sha256(text) AS h FROM documents WHERE doc_id < {_INCR_SPLIT}
    ),
    pos AS (SELECT unnest([{_BLOOM_POS_SQL}]) AS pos FROM h)
    SELECT CAST(pos // 32 AS BIGINT) AS word_idx,
           CAST(bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS BIGINT) AS bits
    FROM pos GROUP BY 1
    """,
    tags=("dedup", "bloom", "manifest"),
)
def dedup_bloom_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Bloom-filter membership manifest over the corpus's
    content hashes (docs below the id split, as in dedup_incremental):
    K=``_BLOOM_K`` probe positions per document from disjoint sha256 hex
    slices, OR-ed into ``_BLOOM_M``-bit words.  The returned
    (word_idx, bits) table IS the manifest — at 100 TB it replaces the
    32-byte-per-doc hash manifest with ~1.25 bits/doc/probe: a 1e12-doc
    corpus needs a ~2 TB hash manifest but only a few GB of bloom
    words, small enough to BROADCAST to every ingest executor.

    Exactness: probe positions are integer parses of hex slices
    (conv base 16 == DuckDB '0x' cast), and the bit OR is associative-
    commutative integer math — no engine variance anywhere, so even
    the false-positive pattern is reproducible.  One shuffle on the
    word index (256 groups), map-side combined.
    """
    return bloom_corpus(Catalog(spark, sf_dir))[0]


#: Shared by dedup_bloom_probe AND the streaming ingest gate
#: (stream_bloom_ingest_gate): the gate's verdicts are
#: micro-batch-invariant, so the batch probe's SQL states both.
BLOOM_PROBE_ORACLE = f"""
    WITH corpus AS (
      SELECT sha256(text) AS h FROM documents WHERE doc_id < {_INCR_SPLIT}
    ),
    manifest AS (
      SELECT pos // 32 AS word_idx, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
      FROM (SELECT unnest([{_BLOOM_POS_SQL}]) AS pos FROM corpus)
      GROUP BY 1
    ),
    batch AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id >= {_INCR_SPLIT}
    ),
    probes AS (
      SELECT doc_id, h, unnest([{_BLOOM_POS_SQL}]) AS pos FROM batch
    ),
    hit AS (
      SELECT p.doc_id,
             bool_and((coalesce(m.bits, 0) >> CAST(p.pos % 32 AS INT)) & 1 = 1)
               AS maybe_seen
      FROM probes p LEFT JOIN manifest m ON p.pos // 32 = m.word_idx
      GROUP BY 1
    ),
    truth AS (
      SELECT b.doc_id, (c.h IS NOT NULL) AS is_dup
      FROM batch b LEFT JOIN (SELECT DISTINCT h FROM corpus) c ON b.h = c.h
    )
    SELECT hit.doc_id, hit.maybe_seen, truth.is_dup
    FROM hit JOIN truth ON hit.doc_id = truth.doc_id
    """


@query(
    "dedup_bloom_probe",
    oracle=BLOOM_PROBE_ORACLE,
    tags=("dedup", "bloom", "incremental"),
)
def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe an incoming batch against the Bloom manifest — the
    constant-memory form of dedup_incremental's hash-manifest probe.
    Output per batch doc: ``maybe_seen`` (all K bits set — bloom
    verdict, false positives possible but deterministic) alongside the
    exact ``is_dup`` truth, which is both the correctness oracle for
    the bloom math AND the operational measurement of its
    false-positive rate on this corpus (maybe_seen & !is_dup rows).

    Scale shape: the manifest aggregates to ``_BLOOM_M``/32 rows and
    broadcasts; the batch explodes K probe rows per doc, joins the
    broadcast manifest, and folds back to one row per doc with
    bool_and — map-side work plus one doc_id-keyed shuffle.  The
    exact-truth join probes the corpus hash set exactly as
    dedup_incremental does (32-byte key semi-probe); production runs
    bloom-first and only hash-verifies the maybe_seen survivors,
    cutting manifest I/O by the true-negative rate.
    """
    cat = Catalog(spark, sf_dir)
    return bloom_verdicts(
        cat.documents.where(F.col("doc_id") >= _INCR_SPLIT), *bloom_corpus(cat)
    )


# ------------------------------------------- verbatim run detection

_VERBATIM_W = 12  # anchor window length (words)

#: Broadcast cap for the matched-window-hash table (8-byte keys).  The
#: table is the AGGREGATED set of window hashes seen >= 2 times, so its
#: size is bounded by the corpus's distinct duplicated windows, not its
#: postings; 1<<22 hashes is ~32 MB framed — comfortably broadcastable.
#: Above the cap (pathologically boilerplate-dense corpora) the
#: survivor filter degrades to a sort-merge semi-join on the 8-byte
#: hash, which still never shuffles window STRINGS corpus-wide.
_VERBATIM_BROADCAST_MAX_HASHES = 1 << 22

#: Corpus-size crossover for the hash pre-pass route: the pre-pass pays
#: a SECOND tokenization scan (map-side, scales linearly with workers)
#: to keep window strings out of the corpus-wide bucket exchange
#: (shuffles do NOT scale — guide §2.2).  Below this documents-table
#: byte size the whole string shuffle is a few MB of node-local memcpy
#: and the extra scan costs more than it saves (paired A/B at sf0.1,
#: 11 MB table: single-pass 1.62 s vs pre-pass 2.93 s), so small local
#: corpora keep the single-pass form; at/above it — and on non-local
#: layouts, whose size is unknowable from footers and which are
#: production-sized by assumption — the pre-pass route runs.  Routes
#: are bit-identical by construction (equal strings hash equal; the
#: definitional per-string bucketing runs unchanged over survivors),
#: pinned by tests/test_llm_ops.py::test_verbatim_runs_route_parity.
_VERBATIM_PREPASS_MIN_BYTES = 1 << 30


def _verbatim_window_hashes(ws_col, wh_col):
    """8-byte windowed fold hash per ``_VERBATIM_W``-word window: each
    window's slice of per-word xxhash64 values is folded afresh through
    rotate-left-7 XOR (O(n·w) per document — a per-window fold, not a
    rolling hash).  Pure bitwise (ANSI-safe, no overflow) and
    deterministic, so equal word windows always hash equal; UNequal
    windows may collide, which is harmless because every consumer
    re-groups survivors by the definitional window STRING (collisions
    only admit a few extra postings to that exact pass)."""

    def _rot7(a):
        return F.shiftleft(a, 7).bitwiseOR(F.shiftrightunsigned(a, 57))

    def _fold(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, x: _rot7(acc).bitwiseXOR(x)
        )

    return F.when(
        F.size(ws_col) >= _VERBATIM_W,
        F.transform(
            F.sequence(F.lit(1), F.size(ws_col) - (_VERBATIM_W - 1)),
            lambda i: _fold(F.slice(wh_col, i, _VERBATIM_W)),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))


@query(
    "dedup_verbatim_runs",
    # Windows join on raw STRINGS (definitionally identical equality);
    # run stitching is the diagonal gaps-and-islands trick in exact
    # integer arithmetic.  The df cap mirrors the Spark bucket filter.
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             unnest(generate_series(1, len(ws) - {_VERBATIM_W - 1})) AS pos,
             unnest([array_to_string(ws[i:i+{_VERBATIM_W - 1}], ' ')
                     FOR i IN generate_series(1, len(ws) - {_VERBATIM_W - 1})]) AS win
      FROM d WHERE len(ws) >= {_VERBATIM_W}
    ),
    kept AS (
      SELECT win FROM e GROUP BY win
      HAVING count(*) >= 2 AND count(*) <= 128
    ),
    p AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      FROM (SELECT e.* FROM e JOIN kept USING (win)) a
      JOIN (SELECT e.* FROM e JOIN kept USING (win)) b
        ON a.win = b.win AND a.doc_id < b.doc_id
    ),
    i AS (
      SELECT da, db, pa, pb,
             pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa)
               AS grp,
             pa - pb AS diag
      FROM p
    ),
    r AS (
      SELECT da, db, diag, grp,
             count(*) + {_VERBATIM_W - 1} AS run, count(*) AS nwin
      FROM i GROUP BY 1, 2, 3, 4
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(max(run) AS BIGINT) AS max_run_words,
           CAST(sum(nwin) AS BIGINT) AS n_matching_windows
    FROM r GROUP BY 1, 2
    """,
    tags=("dedup", "verbatim", "forensics"),
)
def dedup_verbatim_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-copy forensics: for every document pair sharing at
    least one ``_VERBATIM_W``-word window, the length of the LONGEST contiguous
    shared word run and the total number of matching window pairs —
    the quote/boilerplate detector that set-overlap dedup
    (jaccard/containment) cannot express, because it is order- and
    adjacency-sensitive: 60 shared words scattered through a document
    score the same Jaccard as a 60-word verbatim quote, but only the
    quote yields max_run_words = 60.

    Algorithm (all exact integers): a COUNT pre-pass over 8-byte
    windowed fold hashes decides WHICH windows are shared, then the
    definitional string algorithm runs over only those survivors —
    explode every window with its position; bucket by window
    string (df-capped, the dedup_containment guard) and expand
    cross-doc position pairs in-row; matches at positions (pa, pb)
    with equal diagonal pa-pb that are CONSECUTIVE in pa belong to one
    verbatim run, stitched by the gaps-and-islands trick
    (pa - row_number over the diagonal); island of n windows = run of
    n + _VERBATIM_W - 1 words.

    The hash pre-pass (r15, guide §8 "decide with small rows, move big
    rows once"), routed by corpus size
    (:data:`_VERBATIM_PREPASS_MIN_BYTES`): the single-pass form
    shuffles EVERY window string corpus-wide into the bucket groupBy,
    though on real corpora only a few percent of windows are shared.
    At production sizes pass 1 explodes only the 8-byte window hash
    and partially-aggregates counts (the only corpus-wide exchange
    carries (hash, count) pairs); the hashes seen >= 2 times broadcast
    back (merge-join fallback above
    :data:`_VERBATIM_BROADCAST_MAX_HASHES`), and pass 2 rebuilds the
    window strings map-side, keeps only postings whose hash matched,
    and runs the UNCHANGED string bucketing on them.  Exactness: equal
    strings always hash equal, so every truly-shared window survives;
    hash collisions only admit extra postings whose per-STRING count
    is 1 and which the definitional ``>= 2`` bucket filter then drops
    — results are bit-identical by construction, and the df cap stays
    per-string.  The corpus is token-scanned twice (map-side, scales
    linearly) in exchange for never shuffling window strings — the
    guide-§2.2 trade, which inverts on small local corpora (see the
    bound's docstring), so those keep the single-pass form.

    Scale shape (pre-pass route): one 8-byte-key count exchange, one
    shuffle on the window key over SURVIVORS only (bounded buckets →
    bounded in-row expansion), one shuffle on the (pair, diagonal)
    window, one pair rollup — linear in postings + matched windows,
    never all-pairs.
    """
    cat = Catalog(spark, sf_dir)

    # token array pinned behind the exchange: the window lambda
    # references it per element and the NORM regex chain must run once
    # per row, not once per window slot (measured on the e2e pipeline)
    def tokens():
        return spread_for_compute(
            cat.documents.select(
                "doc_id",
                F.filter(
                    F.split(_NORM_SPARK(F.col("text")), " "), lambda x: x != ""
                ).alias("ws"),
            ),
            cat.sf_dir,
            "documents",
        )

    st = table_stats(cat.sf_dir, "documents")
    if st is not None and st.bytes < _VERBATIM_PREPASS_MIN_BYTES:
        # Small local corpus: window strings cost less to shuffle than
        # a second tokenization scan — single-pass definitional form.
        win_t = "ARRAY<STRUCT<pos: INT, win: STRING>>"
        wins = F.when(
            F.size("ws") >= _VERBATIM_W,
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (_VERBATIM_W - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    F.array_join(F.slice(F.col("ws"), i, _VERBATIM_W), " ").alias("win"),
                ),
            ),
        ).otherwise(F.expr(f"CAST(array() AS {win_t})"))
        surv = tokens().select("doc_id", F.explode(wins).alias("w")).select(
            "doc_id", F.col("w.pos").alias("pos"), F.col("w.win").alias("win")
        )
    else:
        # -- pass 1: count window HASHES (8 bytes each) corpus-wide.
        #    The exchange is map-side partially aggregated
        #    (hash, count) pairs; no doc_id, position, or string
        #    crosses the wire.
        p1 = tokens().select(F.transform("ws", lambda w: F.xxhash64(w)).alias("wh"))
        matched, m = checkpoint_counted(
            p1.select(F.explode(_verbatim_window_hashes("wh", F.col("wh"))).alias("h"))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= 2)
            .select("h"),
            n=F.count(F.lit(1)),
        )
        # -- pass 2: rebuild windows WITH strings map-side, keep only
        #    postings whose window hash matched, then the definitional
        #    string algorithm over the survivors.
        base = tokens().select(
            "doc_id", "ws", F.transform("ws", lambda w: F.xxhash64(w)).alias("wh")
        )
        win_t = "ARRAY<STRUCT<pos: INT, win: STRING, h: BIGINT>>"
        hashes = _verbatim_window_hashes("ws", F.col("wh"))
        wins = F.when(
            F.size("ws") >= _VERBATIM_W,
            F.zip_with(
                F.sequence(F.lit(1), F.size("ws") - (_VERBATIM_W - 1)),
                hashes,
                lambda i, h: F.struct(
                    i.cast("int").alias("pos"),
                    F.array_join(F.slice(F.col("ws"), i, _VERBATIM_W), " ").alias("win"),
                    h.alias("h"),
                ),
            ),
        ).otherwise(F.expr(f"CAST(array() AS {win_t})"))
        e = base.select("doc_id", F.explode(wins).alias("w")).select(
            "doc_id", F.col("w.pos").alias("pos"), F.col("w.win").alias("win"),
            F.col("w.h").alias("h"),
        )
        if m["n"] <= _VERBATIM_BROADCAST_MAX_HASHES:
            surv = e.join(F.broadcast(matched), "h")
        else:  # boilerplate-dense degenerate corpora: 8-byte merge join
            surv = e.hint("merge").join(matched, "h")
    buckets = (
        surv.groupBy("win")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "pos"))).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= CONTAINMENT_DF_CAP))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size("ids")),
                    lambda y: F.struct(
                        x["doc_id"].alias("da"),
                        y["doc_id"].alias("db"),
                        x["pos"].alias("pa"),
                        y["pos"].alias("pb"),
                    ),
                ),
            )
        )
    )
    p = (
        buckets.select(pair.alias("p"))
        .select("p.da", "p.db", "p.pa", "p.pb")
        .where(F.col("da") < F.col("db"))
    )
    from pyspark.sql.window import Window as W

    diag_w = W.partitionBy("da", "db", F.col("pa") - F.col("pb")).orderBy("pa")
    i = p.select(
        "da",
        "db",
        "pa",
        (F.col("pa") - F.col("pb")).alias("diag"),
        (F.col("pa") - F.row_number().over(diag_w)).alias("grp"),
    )
    r = i.groupBy("da", "db", "diag", "grp").agg(
        (F.count(F.lit(1)) + (_VERBATIM_W - 1)).alias("run"),
        F.count(F.lit(1)).alias("nwin"),
    )
    return r.groupBy("da", "db").agg(
        F.max("run").cast("bigint").alias("max_run_words"),
        F.sum("nwin").cast("bigint").alias("n_matching_windows"),
    ).select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        "max_run_words",
        "n_matching_windows",
    )
