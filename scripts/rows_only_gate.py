"""Permanent gate over the rows-only family's invariants — the checks
the DuckDB oracle can never see.

The r12 self-review of the 18 oracle-less implementations found SEVEN
real defects that had shipped green for multiple rounds (MinHash
permutation int64 overflow, prefix-biased trainer sampling, zero-norm
NaN ranking #1 in every top-k, index keyed by sf_dir basename, nprobe
reassociation divergence, O(b²) bucket explosion, unordered range
reads).  This script makes that class of audit a ritual artifact
instead of a heroic one-off — the same promotion the r8 scan-diamond
audit got (`scripts/scan_diamond_sweep.py`): every invariant the
review pinned is re-measured here and diffed against the COMMITTED
baseline (`scripts/rows_only_baseline.json`), exit 1 on regression.

Checks (each maps to the defect class that motivated it):
- modmul_max_diff        — MinHash permutation schedule vs Python
                           bigint arithmetic (must be exactly 0)
- derived_params         — the corpus-derived sizing rules at their
                           anchors: IVF K, PQ codebook K, PQ re-rank
                           depth, session state-store width (exact)
- ann_index_version      — persisted-index format stamp (a code change
                           that alters index layout must bump it)
- recall                 — recall@10 vs exact brute force for all six
                           ANN variants on both committed fixtures
                           (deterministic ⇒ regression = any drop
                           below the frozen reading)
- zero_norm_guard        — a planted all-zeros embedding must never
                           rank and every cosine stays finite
- star_cap               — degenerate-corpus pair topology stays O(n)
                           (minhash star, simhash identical-fp chain)
                           and a hot bucket inflated by duplicates
                           still emits the exact pair between two
                           genuinely-distinct near-dup members; r14
                           adds the derived-cap rows: a bucket past
                           the rep budget degrades to the Manku
                           rotated-order window (pair kept across 17
                           strangers), and a 50M-doc-pinned corpus
                           keeps exact all-pairs over 530 distinct
                           fps (past the old fixed-512 cliff)
- cc_route_equivalent    — driver union-find label map == forced
                           distributed min-label propagation on a
                           seeded random graph
- recall_blob_hot_ivfpq  — the r13 saturation-fallback fix: a probe
                           INSIDE a dense sigma-0.05 blob (where ADC
                           ordering is structurally noise and recall
                           measured 0.0 pre-fix) must keep recall@10
                           at the frozen reading via the exact
                           re-rank fallback

Usage: python scripts/rows_only_gate.py [--freeze]
  --freeze  rewrite the baseline from the current readings (review the
            diff before committing it!)
Exit 0 = no regressions.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "rows_only_baseline.json"
)
FIXTURES = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def check_modmul() -> int:
    """Max |schedule - bigint| over adversarial inputs; must be 0."""
    import numpy as np

    from dirhash_spark.operators.dedup import _MERSENNE, _MH_A, _MH_B, _axb_mod_p

    xs = np.array(
        [0, 1, 2, 0xFFFFFFFF, 0x80000000, 0x7FFFFFFF, 12345678, 3141592653],
        dtype=np.int64,
    )
    got = _axb_mod_p(xs)
    worst = 0
    for i in range(len(_MH_A)):
        for j, x in enumerate(xs):
            want = (int(_MH_A[i]) * int(x) + int(_MH_B[i])) % _MERSENNE
            worst = max(worst, abs(int(got[i, j]) - want))
    return worst


def check_derived_params() -> dict:
    from dirhash_spark.operators import dedup as D
    from dirhash_spark.operators import similarity as S
    from dirhash_spark.streaming import stateful as ST

    return {
        "ivf_k_500": S._ivf_k(500),
        "ivf_k_2000": S._ivf_k(2000),
        "ivf_k_1e9": S._ivf_k(10**9),
        "pq_k_500": S._pq_k(500),
        "pq_k_20000": S._pq_k(20_000),
        "pq_rerank_2000": S._pq_rerank(2000),
        "pq_rerank_20000": S._pq_rerank(20_000),
        "pq_rerank_1e9": S._pq_rerank(10**9),
        "state_width_150": ST._width_for_sessions(150),
        "state_width_1500": ST._width_for_sessions(1500),
        "state_width_1e9": ST._width_for_sessions(10**9),
        "simhash_rep_cap_6000": D._rep_expand_cap(6_000),
        "simhash_rep_cap_8e6": D._rep_expand_cap(8_000_000),
        "simhash_rep_cap_1e9": D._rep_expand_cap(10**9),
    }


def check_recall(spark) -> dict:
    from dirhash_spark.operators import similarity as S

    variants = {
        "lsh": S.sim_ann_lsh,
        "ivf": S.sim_ann_ivf,
        "lsh_indexed": S.sim_ann_lsh_indexed,
        "ivf_indexed": S.sim_ann_ivf_indexed,
        "pq": S.sim_ann_pq,
        "ivfpq": S.sim_ann_ivfpq,
    }
    out: dict[str, dict[str, float]] = {}
    for sf in FIXTURES:
        exact = {r["vec_id"] for r in S.sim_topk_cosine(spark, sf).collect()}
        row: dict[str, float] = {}
        for name, fn in variants.items():
            ids = {r["vec_id"] for r in fn(spark, sf).collect()}
            row[name] = round(len(exact & ids) / len(exact), 2)
        out[os.path.basename(sf)] = row
    return out


def check_zero_norm(spark) -> bool:
    """Planted all-zeros embedding must never rank; cosines finite."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.operators import similarity as S

    t = pq.read_table(os.path.join(FIXTURES[0], "embeddings.parquet"))
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
    tmp = tempfile.mkdtemp(prefix="rows_only_gate_zero_")
    pq.write_table(pa.concat_tables([t, extra]), os.path.join(tmp, "embeddings.parquet"))
    try:
        for fn in (S.sim_topk_cosine, S.sim_ann_lsh, S.sim_ann_ivf,
                   S.sim_ann_pq, S.sim_ann_ivfpq):
            rows = fn(spark, tmp).collect()
            if not rows:
                return False
            if any(r["vec_id"] == zero_id for r in rows):
                return False
            if any(r["cosine"] is None or not math.isfinite(r["cosine"]) for r in rows):
                return False
        return True
    finally:
        shutil.rmtree(S._ann_index_path(tmp), True)
        shutil.rmtree(tmp, True)


def check_star_cap(spark) -> dict:
    """Degenerate-corpus topology + the hot-bucket nondup-pair keep."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import dirhash_spark.operators.dedup as dedup_mod
    from dirhash_spark.registry import all_queries

    qs = all_queries()
    out: dict = {}
    saved_cap = dedup_mod._BUCKET_FULL_EXPAND_CAP
    saved_n_docs = dedup_mod._corpus_n_docs
    n = 60
    tmp = tempfile.mkdtemp(prefix="rows_only_gate_star_")
    try:
        dedup_mod._BUCKET_FULL_EXPAND_CAP = 40  # < n: force the hot path
        text = "identical boilerplate license text repeated verbatim everywhere"
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(n), pa.int64()),
                    "text": pa.array([text] * n),
                    "lang": pa.array(["en"] * n),
                    "n_chars": pa.array([len(text)] * n, pa.int32()),
                }
            ),
            os.path.join(tmp, "documents.parquet"),
        )
        mh = qs["dedup_minhash"].fn(spark, tmp).collect()
        out["minhash_star_exact"] = (
            {(r["doc_a"], r["doc_b"]) for r in mh} == {(0, i) for i in range(1, n)}
            and all(r["n_shared_bands"] == 16 for r in mh)
        )
        sh = qs["dedup_simhash"].fn(spark, tmp).collect()
        out["simhash_chain_exact"] = (
            {(r["doc_a"], r["doc_b"]) for r in sh}
            == {(i - 1, i) for i in range(1, n)}
            and all(r["hamming"] == 0 for r in sh)
        )

        # hot bucket inflated by a duplicate clique must keep the exact
        # pair between two distinct near-dup members both hamming-13
        # from the clique (the r12 star-to-min form lost it)
        planted = spark.createDataFrame(
            [(i, 0) for i in range(n)] + [(100, 0x1FFF << 16), (101, 0x3FFE << 16)],
            "doc_id long, fp long",
        )
        saved_fp = dedup_mod._simhash_fingerprints
        try:
            dedup_mod._simhash_fingerprints = lambda cat: planted
            rows = qs["dedup_simhash"].fn(spark, tmp).collect()
        finally:
            dedup_mod._simhash_fingerprints = saved_fp
        got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
        out["hot_bucket_nondup_pair_kept"] = (
            got.get((100, 101)) == 2
            and (0, 100) not in got
            and len(got) == n
        )

        # r14: past the derived rep budget a hot-by-DISTINCT-fps bucket
        # degrades to the Manku rotated-order window, NOT the old
        # adjacent-only chain — a hamming-1 pair with 17 far strangers
        # between its members in rotated order must survive (SHARED
        # fixture with tests/test_llm_ops.py::
        # test_simhash_hot_distinct_bucket_window_beats_chain)
        from tests.simhash_fixtures import cliff_bucket_fps, window_bucket_fps

        fps = window_bucket_fps()
        planted_w = spark.createDataFrame(fps, "doc_id long, fp long")
        dedup_mod._BUCKET_FULL_EXPAND_CAP = 8  # < 19 docs, floors the budget
        dedup_mod._corpus_n_docs = lambda cat: 1
        try:
            dedup_mod._simhash_fingerprints = lambda cat: planted_w
            rows = qs["dedup_simhash"].fn(spark, tmp).collect()
        finally:
            dedup_mod._simhash_fingerprints = saved_fp
            dedup_mod._BUCKET_FULL_EXPAND_CAP = saved_cap
        got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
        out["simhash_window_past_derived_cap"] = got == {(0, 1): 1}

        # r14: a corpus pinned PAST the old fixed-512 cliff (50M docs →
        # derived budget saturates at 2048) keeps EXACT all-pairs over
        # a 530-distinct-fp quarter bucket — output equals brute force
        # (shared fixture with tests/test_llm_ops.py::
        # test_simhash_derived_cap_keeps_exact_pairs_past_old_cliff)
        fps = cliff_bucket_fps()
        planted_c = spark.createDataFrame(fps, "doc_id long, fp long")
        dedup_mod._corpus_n_docs = lambda cat: 50_000_000
        try:
            dedup_mod._simhash_fingerprints = lambda cat: planted_c
            rows = qs["dedup_simhash"].fn(spark, tmp).collect()
        finally:
            dedup_mod._simhash_fingerprints = saved_fp
        got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
        want = {}
        for i in range(len(fps)):
            for j in range(i + 1, len(fps)):
                h = bin(fps[i][1] ^ fps[j][1]).count("1")
                if h <= 12:
                    want[(i, j)] = h
        out["simhash_allpairs_past_old_cliff"] = got == want and got[(0, 1)] == 1
        return out
    finally:
        dedup_mod._BUCKET_FULL_EXPAND_CAP = saved_cap
        dedup_mod._corpus_n_docs = saved_n_docs
        shutil.rmtree(tmp, True)


def check_blob_hot_recall(spark) -> float:
    """IVFPQ recall@10 with the probe inside a dense blob — the ADC
    saturation-fallback reading (deterministic corpus, same shape as
    tests/test_llm_ops.py::test_ivfpq_dense_blob_saturation_fallback)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.operators import similarity as S

    rng = np.random.RandomState(777)
    n, n_hot = 2000, 600
    center = rng.standard_normal(64)
    V = np.vstack(
        [center + 0.05 * rng.standard_normal((n_hot, 64)),
         rng.standard_normal((n - n_hot, 64))]
    ).astype(np.float32)
    tmp = tempfile.mkdtemp(prefix="rows_only_gate_blob_")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
                "embedding": pa.array([v.tolist() for v in V], pa.list_(pa.float32())),
                "label": pa.array(np.zeros(n, np.int32), pa.int32()),
            }
        ),
        os.path.join(tmp, "embeddings.parquet"),
    )
    try:
        exact = {r["vec_id"] for r in S.sim_topk_cosine(spark, tmp).collect()}
        ids = {r["vec_id"] for r in S.sim_ann_ivfpq(spark, tmp).collect()}
        return round(len(exact & ids) / len(exact), 2)
    finally:
        shutil.rmtree(S._ann_index_path(tmp), True)
        shutil.rmtree(tmp, True)


def check_cc_routes(spark) -> bool:
    """Driver union-find == forced distributed propagation on a seeded
    random graph (route equivalence, not just both-converge)."""
    import random

    import dirhash_spark.operators.dedup as dedup_mod

    rng = random.Random(13)
    pairs_list = list(
        {(min(a, b), max(a, b))
         for a, b in ((rng.randrange(300), rng.randrange(300)) for _ in range(220))
         if a != b}
    )
    pairs = spark.createDataFrame(pairs_list, "doc_a long, doc_b long")

    def clusters():
        return sorted(map(tuple, dedup_mod._connected_components(pairs)[0].collect()))

    saved = dedup_mod._CC_DRIVER_EDGE_BOUND
    try:
        dedup_mod._CC_DRIVER_EDGE_BOUND = 1 << 30  # force driver route
        drv = clusters()
        dedup_mod._CC_DRIVER_EDGE_BOUND = -1  # force distributed route
        dist = clusters()
    finally:
        dedup_mod._CC_DRIVER_EDGE_BOUND = saved
    return drv == dist


def compare(current: dict, baseline: dict) -> list[str]:
    """Regressions only; improvements are reported by the caller."""
    bad: list[str] = []
    if current["modmul_max_diff"] != 0:
        bad.append(f"modmul_max_diff = {current['modmul_max_diff']} (must be 0)")
    for k, v in baseline["derived_params"].items():
        if current["derived_params"].get(k) != v:
            bad.append(
                f"derived_params.{k}: {current['derived_params'].get(k)} != frozen {v}"
            )
    if current["ann_index_version"] != baseline["ann_index_version"]:
        bad.append(
            f"ann_index_version {current['ann_index_version']} != frozen "
            f"{baseline['ann_index_version']} — if the index layout changed "
            "on purpose, re-freeze"
        )
    for sf, row in baseline["recall"].items():
        for name, floor in row.items():
            got = current["recall"].get(sf, {}).get(name)
            if got is None or got < floor:
                bad.append(f"recall.{sf}.{name}: {got} < frozen {floor}")
    for key in ("zero_norm_guard", "cc_route_equivalent"):
        if current[key] is not True:
            bad.append(f"{key} = {current[key]}")
    frozen_blob = baseline.get("recall_blob_hot_ivfpq")
    if frozen_blob is not None:
        got = current.get("recall_blob_hot_ivfpq")
        if got is None or got < frozen_blob:
            bad.append(f"recall_blob_hot_ivfpq: {got} < frozen {frozen_blob}")
    for k, v in baseline["star_cap"].items():
        if current["star_cap"].get(k) is not True or v is not True:
            bad.append(f"star_cap.{k}: {current['star_cap'].get(k)} (frozen {v})")
    return bad


def main() -> int:
    freeze = "--freeze" in sys.argv

    from dirhash_spark.session import get_spark

    spark = get_spark("rows_only_gate")
    current = {
        "modmul_max_diff": check_modmul(),
        "derived_params": check_derived_params(),
        "ann_index_version": __import__(
            "dirhash_spark.operators.similarity", fromlist=["_ANN_INDEX_VERSION"]
        )._ANN_INDEX_VERSION,
        "recall": check_recall(spark),
        "zero_norm_guard": check_zero_norm(spark),
        "star_cap": check_star_cap(spark),
        "cc_route_equivalent": check_cc_routes(spark),
        "recall_blob_hot_ivfpq": check_blob_hot_recall(spark),
    }
    print(json.dumps(current, indent=1, sort_keys=True))

    if freeze or not os.path.exists(BASELINE_PATH):
        with open(BASELINE_PATH, "w") as f:
            json.dump(current, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"# baseline frozen -> {BASELINE_PATH}", file=sys.stderr)
        return 0

    baseline = json.load(open(BASELINE_PATH))
    bad = compare(current, baseline)
    for sf, row in current["recall"].items():
        for name, got in row.items():
            frozen = baseline["recall"].get(sf, {}).get(name)
            if frozen is not None and got > frozen:
                print(
                    f"# improvement: recall.{sf}.{name} {frozen} -> {got} "
                    "(consider --freeze)",
                    file=sys.stderr,
                )
    if bad:
        for b in bad:
            print(f"REGRESSION: {b}", file=sys.stderr)
        return 1
    print("# rows-only gate: no regressions", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
