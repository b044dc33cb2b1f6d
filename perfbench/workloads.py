"""The measured workloads.  Each op is one closed-loop request from a
single client; ``before_op`` does the untimed preparation of the next
op and ``check`` judges its output against the independent oracle.
``warmup_ops`` untimed ops, the same number on every run, end the
set-up and count in ``setup_s``."""

from __future__ import annotations

import os
from contextlib import nullcontext

from trees import V1Oracle, churn

ALGO = "sha256"


class HashLarge:
    """Full collect-fold ``hash_directory`` of an unchanged warm tree.

    512K blocks turn the 896 MiB of large files into 1,792 chunks.  The
    engine hash-partitions chunks over one partition per core, so the
    fullest partition sets the op's time; at 2M blocks its excess over
    the mean ranged 1-14% across seeds, at 512K 2-7%."""

    blocksize = "512K"
    #: the first ops after session start run slow for several ops more
    warmup_ops = 6

    def __init__(self, tree, seed: int, work: str):
        self.tree = tree
        self.oracle = V1Oracle(tree.root, _bytes(self.blocksize))
        self.expected = f"v1-{ALGO}-{self.blocksize}-{self.oracle.hex()}"
        self.span = lambda name: nullcontext()

    def setup(self, spark) -> None:
        pass

    def before_op(self) -> None:
        pass

    def op(self, spark):
        from dirhash_spark.dirhash import hashdir

        return hashdir.hash_directory(spark, self.tree.root, ALGO, self.blocksize)

    def check(self, result) -> bool:
        return result == self.expected

    def finish(self, spark) -> bool:
        return True


class RehashChurn:
    """The CLI's daily-rollover path (``--manifest PREV --write-manifest
    NEXT``) through the same public calls, after a seeded 1% in-place
    rewrite.  Manifests alternate between two dirs and each op rolls the
    previous op's manifest forward, so every op sees the same churn."""

    blocksize = "128M"
    warmup_ops = 2

    def __init__(self, tree, seed: int, work: str):
        self.tree = tree
        self.seed = seed
        self.oracle = V1Oracle(tree.root, _bytes(self.blocksize))
        self.manifests = [os.path.join(work, "manifest0"), os.path.join(work, "manifest1")]
        self.n_ops = 0
        self.churned: list[str] = []
        self.last_hash = None
        self.span = lambda name: nullcontext()

    def setup(self, spark) -> None:
        from dirhash_spark.dirhash import incremental

        manifest = incremental.build_chunk_manifest(
            spark, self.tree.root, ALGO, self.blocksize
        )
        manifest.write.mode("overwrite").parquet(self.manifests[0])

    def before_op(self) -> None:
        self.churned = churn(self.tree, self.seed, self.n_ops)
        self.oracle.refresh(self.churned)
        self.n_ops += 1

    def op(self, spark):
        from dirhash_spark.dirhash import incremental

        prev = self.manifests[(self.n_ops - 1) % 2]
        nxt = self.manifests[self.n_ops % 2]
        prior = spark.read.parquet(prev)
        hash_string, stats, new_manifest = incremental.hash_directory_incremental(
            spark, self.tree.root, prior, ALGO, self.blocksize, with_manifest=True
        )
        with self.span("incremental.manifest_write"):
            new_manifest.write.mode("overwrite").parquet(nxt)
        self.last_hash = hash_string
        return hash_string, stats

    def check(self, result) -> bool:
        hash_string, stats = result
        return (
            hash_string == f"v1-{ALGO}-{self.blocksize}-{self.oracle.hex()}"
            and stats["n_rehashed_files"] == len(self.churned)
            and stats["n_files"] == len(self.tree.files)
        )

    def finish(self, spark) -> bool:
        """The rolled-forward result must equal a full re-hash."""
        from dirhash_spark.dirhash import hashdir

        full = hashdir.hash_directory(spark, self.tree.root, ALGO, self.blocksize)
        return full == self.last_hash


WORKLOADS = {"hash_large": HashLarge, "rehash_churn": RehashChurn}


def _bytes(blocksize: str) -> int:
    return int(blocksize[:-1]) << {"K": 10, "M": 20, "G": 30}[blocksize[-1]]
