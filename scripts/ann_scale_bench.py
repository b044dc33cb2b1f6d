#!/usr/bin/env python
"""ANN-family scaling measurement: brute force vs IVF-indexed vs IVFPQ
as the corpus grows 2k → 20k → 100k vectors.

The similarity family's 100 TB claim decomposes into two levers this
script separates:

- the PRUNING lever, measured in mode "fixed16" by PINNING the
  derived K back to 16/nprobe=6 via the per-corpus K cache: the
  indexed queries read nprobe/K of the corpus (partition pruning), and
  IVFPQ reads that slice as ~50x-compressed codes — so their wall
  should grow far slower than the brute-force scan's as N grows, with
  the SAME query plans across sizes;
- the LIST-SIZE lever (K ∝ N), measured in mode "derived" with the
  r11 automatic sizing (K = ceil(N/128), nprobe holding the 6/16
  fraction): per-list work stays constant and the >32-K Arrow argmin
  route gets exercised at 20k (K=157) and 100k (K=782) — sizes the
  fixtures never reach.

Corpora: the real sf0.1 table (2000 vectors) plus seeded gaussian
synthetics at 20k/100k (same 64-dim shape, vec_id 0 = probe).  Also
records recall@10 vs brute force per size (near-uniform gaussian is
the recall worst case — candidate share ~ nprobe/K) and the one-time
index build wall (the ingest-side cost the query path amortizes).

Usage: python scripts/ann_scale_bench.py [--skew]
Prints one JSON line per size plus a summary line.

--skew runs the LIST-SIZE SKEW measurement instead (r12 verdict item
5): the relational skew sweep covers hot JOIN/AGG keys, but a skewed
EMBEDDING distribution concentrates vectors in few IVF lists — the
ANN analog of the hot reducer.  Two adversarial 20k corpora:
- "clustered": 30% of vectors in one tight gaussian blob (sigma 0.05)
  — realistic semantic redundancy.  Hypothesis: k-means allocates
  centroids ∝ sample mass, so the blob SPLITS across many lists and
  the max-list share stays near the uniform target (bounded by
  design).
- "degenerate": 30% of vectors byte-identical — the worst case no
  quantizer can split (identical points are indistinguishable to any
  distance-based rule).
Records the assignment histogram (max-list share, p99/target ratio)
plus hot-probe vs cold-probe query wall and recall.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _write_corpus(n: int, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(4242)
    V = rng.standard_normal((n, 64)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "embedding": pa.array([v.tolist() for v in V], pa.list_(pa.float32())),
            "label": pa.array(np.zeros(n, np.int32), pa.int32()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "embeddings.parquet"))


def _write_skew_corpus(n: int, path: str, kind: str, hot_probe: bool) -> None:
    """30% of the corpus in one hot region: a tight gaussian blob
    ("clustered") or byte-identical copies of one vector
    ("degenerate").  vec_id 0 is the probe — placed inside the hot
    region when ``hot_probe`` (the query that must read the hot list)
    or in the spread mass otherwise."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(777)
    n_hot = int(n * 0.3)
    center = rng.standard_normal(64)
    rest = rng.standard_normal((n - n_hot, 64))
    if kind == "clustered":
        hot = center + 0.05 * rng.standard_normal((n_hot, 64))
    else:
        hot = np.tile(center, (n_hot, 1))
    V = (np.vstack([hot, rest]) if hot_probe else np.vstack([rest, hot])).astype(
        np.float32
    )
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "embedding": pa.array([v.tolist() for v in V], pa.list_(pa.float32())),
            "label": pa.array(np.zeros(n, np.int32), pa.int32()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "embeddings.parquet"))


def skew_main() -> int:
    """IVF list-size skew measurement (see module docstring)."""
    from pyspark.sql import functions as F

    from dirhash_spark.catalog import Catalog
    from dirhash_spark.operators import similarity as S
    from dirhash_spark.operators.similarity import build_ann_index
    from dirhash_spark.registry import all_queries
    from dirhash_spark.session import get_spark

    spark = get_spark("ann_skew_bench")
    qs = all_queries()
    n = 20_000
    out: dict[str, dict] = {}
    for kind in ("clustered", "degenerate"):
        for probe in ("hot", "cold"):
            sf_dir = os.path.join(tempfile.gettempdir(), f"ann_skew_{kind}_{probe}")
            shutil.rmtree(sf_dir, True)
            _write_skew_corpus(n, sf_dir, kind, hot_probe=(probe == "hot"))
            shutil.rmtree(S._ann_index_path(sf_dir), True)

            t0 = time.perf_counter()
            idx = build_ann_index(spark, sf_dir)
            build_s = round(time.perf_counter() - t0, 2)
            k = len(S._train_centroids(Catalog(spark, sf_dir)))

            # v6 duplicate-grouped index: stored rows per list bound the
            # per-query SCAN cost (one row per distinct embedding);
            # represented rows (sum of group_n) are the logical mass
            lists = (
                spark.read.parquet(idx)
                .groupBy("cluster_id")
                .agg(F.count(F.lit(1)).alias("stored"), F.sum("group_n").alias("repr"))
                .collect()
            )
            stored = np.asarray(sorted(r["stored"] for r in lists), dtype=float) / n
            repr_ = np.asarray(sorted(r["repr"] for r in lists), dtype=float) / n
            target = 1.0 / k
            row = {
                "K": k,
                "build_s": build_s,
                "lists_used": len(lists),
                "max_list_share": round(float(repr_[-1]), 4),
                "max_over_target": round(float(repr_[-1] / target), 1),
                "p99_over_target": round(float(np.percentile(repr_, 99) / target), 1),
                "max_stored_share": round(float(stored[-1]), 4),
                "max_stored_over_target": round(float(stored[-1] / target), 1),
            }
            exact = {r["vec_id"] for r in qs["sim_topk_cosine"].fn(spark, sf_dir).collect()}
            for name in ("sim_ann_ivf_indexed", "sim_ann_ivfpq"):
                qs[name].fn(spark, sf_dir).collect()  # warm
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    rows = qs[name].fn(spark, sf_dir).collect()
                    best = min(best, time.perf_counter() - t0)
                row[f"{name}_s"] = round(best, 3)
                row[f"recall_{name}"] = round(
                    len(exact & {r["vec_id"] for r in rows}) / len(exact), 2
                )
            out[f"{kind}/{probe}"] = row
            print(f"# {kind}/{probe}: {row}", file=sys.stderr)
            shutil.rmtree(S._ann_index_path(sf_dir), True)
            shutil.rmtree(sf_dir, True)
    print(json.dumps({"metric": "IVF list-size skew (30% hot mass, 20k vectors)",
                      "corpora": out}))
    spark.stop()
    return 0


def main() -> int:
    from dirhash_spark.catalog import MEMO, Catalog
    from dirhash_spark.operators.similarity import build_ann_index
    from dirhash_spark.registry import all_queries
    from dirhash_spark.session import get_spark

    from dirhash_spark.operators import similarity as S

    spark = get_spark("ann_scale_bench")
    qs = all_queries()
    derived_k, derived_pq = S._corpus_ivf_k, S._corpus_pq_params
    variants = ["sim_topk_cosine", "sim_ann_ivf_indexed", "sim_ann_ivfpq"]
    summary: dict[str, dict] = {}

    for n in (2000, 20_000, 100_000):
        sf_dir = os.path.join(tempfile.gettempdir(), f"ann_scale_{n}")
        if n == 2000:
            # bench the real sf0.1 corpus from a COPY: the on-disk ANN
            # index is keyed by basename(sf_dir), so benching sf0.1 in
            # place would leave a fixed16-pinned index artifact behind
            # for later sf0.1 sessions if the script aborts between
            # modes (ADVICE r11) — the copy gets its own index tag
            os.makedirs(sf_dir, exist_ok=True)
            shutil.copy(
                "/root/testdata/sf0.1/embeddings.parquet",
                os.path.join(sf_dir, "embeddings.parquet"),
            )
        else:
            _write_corpus(n, sf_dir)

        for mode in ("fixed16", "derived"):
            # reset per-corpus state: trained quantizers and codebooks,
            # and the on-disk index (its path is keyed by the corpus,
            # so the two modes would otherwise read each other's
            # artifact)
            MEMO.clear()
            shutil.rmtree(S._ann_index_path(sf_dir), True)
            # fixed16 pins the pruning-lever premise: the pre-derivation
            # constants (IVF K=16, PQ 32 centroids / 100 re-rank)
            S._corpus_ivf_k = (lambda cat: 16) if mode == "fixed16" else derived_k
            S._corpus_pq_params = (
                (lambda cat: (32, 100)) if mode == "fixed16" else derived_pq
            )

            t0 = time.perf_counter()
            assert build_ann_index(spark, sf_dir) is not None  # non-empty corpora
            build_s = round(time.perf_counter() - t0, 2)

            k = len(S._train_centroids(Catalog(spark, sf_dir)))
            row = {"build_index_s": build_s, "K": k}
            exact: set[int] = set()
            for name in variants:
                qs[name].fn(spark, sf_dir).collect()  # warm
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    rows = qs[name].fn(spark, sf_dir).collect()
                    best = min(best, time.perf_counter() - t0)
                ids = {r["vec_id"] for r in rows}
                if name == "sim_topk_cosine":
                    exact = ids
                else:
                    row[f"recall_{name}"] = round(len(ids & exact) / len(exact), 2)
                row[f"{name}_s"] = round(best, 3)
            summary[f"{n}/{mode}"] = row
            print(f"# n={n} mode={mode}: {row}", file=sys.stderr)

    print(json.dumps({"metric": "ann wall vs corpus size "
                      "(fixed16 = pruning lever, derived = K \u221d N)",
                      "sizes": summary}))
    for n in (2000, 20_000, 100_000):
        shutil.rmtree(os.path.join(tempfile.gettempdir(), f"ann_scale_{n}"), True)
        shutil.rmtree(
            S._ann_index_path(os.path.join(tempfile.gettempdir(), f"ann_scale_{n}")),
            True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(skew_main() if "--skew" in sys.argv else main())
