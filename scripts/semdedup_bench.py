#!/usr/bin/env python
"""Embedding-dedup (SemDeDup) family scaling measurement — the
embedding twin of scripts/neardup_bench.py.

Builds corpora of 1x/2x/4x the sf0.1 embeddings table.  Copies get
distinct vec_ids and a per-copy RANDOM ROTATION (seeded orthogonal
matrix): a rotation is an isometry, so every intra-copy cosine — and
therefore the near-dup rate — is preserved EXACTLY, while cross-copy
cosines are ~0 in 64 dims (the vector analog of the text bench's
per-copy Caesar cipher, rejected-alternatives reasoning identical:
adding noise would perturb the dup rate, offsetting would leave copies
near-dups of their originals).

The claim under test (dedup_embedding_ann's docstring): candidate
volume is Θ(Σ|list|²·nprobe²) and the production lever holding that
linear in N is K ∝ N / target-list-size.  So each scale runs with
K = 16·mult (fixed target list size — exactly how production sizes an
IVF), and the script records BOTH the measured candidate volume
(Σ nC2 over actual list sizes) and the end-to-end
pipeline_semdedup_e2e wall, which should then grow ~linearly like the
text e2e's 4x→1.72x number.

Usage: python scripts/semdedup_bench.py [sf_dir]
Prints one JSON line:
  {"scales_sec": {1: s, 2: s, 4: s}, "candidate_pairs": {...},
   "clustered_rows": {...}, "ratio_4x_over_1x": r}
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dirhash_spark.catalog import Catalog
    from dirhash_spark.operators import similarity as S
    from dirhash_spark.registry import all_queries
    from dirhash_spark.session import get_spark

    spark = get_spark("semdedup_bench")
    qs = all_queries()

    base = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids0 = base.column("vec_id").to_numpy()
    V0 = np.asarray(base.column("embedding").to_pylist(), dtype=np.float64)
    n0, d = V0.shape

    out, cand, rows_out = {}, {}, {}
    for mult in (1, 2, 4):
        tmp = os.path.join(tempfile.gettempdir(), f"semdedup_bench_x{mult}")
        blocks, idblocks = [V0], [ids0]
        for c in range(1, mult):
            rng = np.random.RandomState(1000 + c)
            q, _ = np.linalg.qr(rng.randn(d, d))
            blocks.append(V0 @ q)
            idblocks.append(ids0 + c * 10_000_000)
        V = np.vstack(blocks)
        ids = np.concatenate(idblocks)
        tbl = pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in V.astype(np.float32)],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(np.zeros(len(ids), np.int32), pa.int32()),
            }
        )
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(tbl, os.path.join(tmp, "embeddings.parquet"))

        # fixed target list size: K ∝ N — derived automatically
        # by _ivf_k(count) since r11; a corpus rewritten in place is
        # retrained on its new fingerprint

        def run():
            return qs["pipeline_semdedup_e2e"].fn(spark, tmp).count()

        nrows = run()  # warm: trains + caches centroids, python pool
        best = min(
            (lambda t0=time.perf_counter(): (run(), time.perf_counter() - t0)[1])()
            for _ in range(2)
        )
        out[mult] = round(best, 2)
        rows_out[mult] = nrows

        # measured candidate volume Σ nC2 over the ACTUAL inverted
        # lists of the trained quantizer under 3-assignment
        cents = S._train_centroids(Catalog(spark, tmp))
        d2 = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        near3 = np.argsort(d2, axis=1)[:, :3]
        sizes = np.bincount(near3.ravel(), minlength=len(cents)).astype(np.int64)
        cand[mult] = int((sizes * (sizes - 1) // 2).sum())
        print(
            f"# x{mult}: vecs={n0 * mult} K={len(cents)} "
            f"cand={cand[mult]} rows={nrows} {best:.2f}s",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "pipeline_semdedup_e2e wall vs corpus multiple "
                "(K ∝ N, fixed target list size)",
                "base_vectors": n0,
                "scales_sec": out,
                "candidate_pairs": cand,
                "clustered_rows": rows_out,
                "ratio_4x_over_1x": round(out[4] / out[1], 2),
                "cand_ratio_4x_over_1x": round(cand[4] / cand[1], 2),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
