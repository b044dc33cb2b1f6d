"""Seeded input trees, the in-place churn, and an independent v1 fold.

Everything here is plain ``os`` + ``hashlib`` + ``numpy``: the oracle
must not share code with ``dirhash_spark`` (``codec.fold_digest`` does
not count as independent), so the v1 framing is written out again:

    chunk digest = H(utf8(path) || 0x00 || ascii(block_num) || 0x00 || block)
    fold         = H(ascii(len(entries)) || 0x00 || 0x00.join(sorted entries)
                     || 0x00 || chunk digests in (path, block_num) order)

where ``entries`` are root-relative paths, directories with a trailing
``/``, the root itself excluded, and empty files listed with no chunks.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np

MiB = 1 << 20
KiB = 1 << 10

#: Shapes per workload and size.  ``full`` is what the benchmark
#: measures; ``tiny`` runs the same code paths in seconds (self-test).
SHAPES = {
    "hash_large": {
        # 896 MiB in 7 large files (the 192 MiB one spans 384 blocks at
        # 512K) plus 3,000 small files of 1-64 KiB and a few empty ones.
        "full": {"large_mib": (192, 160, 144, 128, 112, 96, 64), "dirs": 30,
                 "files_per_dir": 100, "small_kib": (1, 64), "empty": 5},
        "tiny": {"large_mib": (3, 2), "dirs": 4,
                 "files_per_dir": 10, "small_kib": (1, 16), "empty": 2},
    },
    "rehash_churn": {
        # 20,000 files of 1-16 KiB in 20 x 10 = 200 leaf directories.
        "full": {"large_mib": (), "dirs": 200,
                 "files_per_dir": 100, "small_kib": (1, 16), "empty": 0},
        "tiny": {"large_mib": (), "dirs": 8,
                 "files_per_dir": 25, "small_kib": (1, 16), "empty": 0},
    },
}

_POOL_BYTES = 32 * MiB


@dataclass
class Tree:
    root: str
    files: list[str]  # relative paths of regular files
    n_bytes: int


class ContentPool:
    """Seeded random bytes; a file's content is a pool slice chosen by
    its own seeded offset, so no two files start alike."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.pool = rng.bytes(_POOL_BYTES)

    def write(self, path: str, size: int) -> None:
        start = int(self.rng.integers(0, _POOL_BYTES))
        with open(path, "wb") as fh:
            left = size
            while left:
                n = min(left, _POOL_BYTES - start)
                fh.write(self.pool[start : start + n])
                left -= n
                start = 0


def _leaf_dir(i: int) -> str:
    return f"d{i // 10:02d}/s{i % 10}"


def generate(root: str, workload: str, size: str, seed: int) -> Tree:
    """Write the workload's tree under ``root`` from ``seed``."""
    shape = SHAPES[workload][size]
    rng = np.random.default_rng([seed, 0])
    pool = ContentPool(rng)
    files: list[str] = []
    n_bytes = 0
    if shape["large_mib"]:
        os.makedirs(os.path.join(root, "big"))
    for mib in shape["large_mib"]:
        rel = f"big/{rng.integers(1 << 40):010x}.bin"
        pool.write(os.path.join(root, rel), mib * MiB)
        files.append(rel)
        n_bytes += mib * MiB
    lo, hi = shape["small_kib"]
    for d in range(shape["dirs"]):
        leaf = _leaf_dir(d)
        os.makedirs(os.path.join(root, leaf))
        sizes = rng.integers(lo * KiB, hi * KiB + 1, shape["files_per_dir"])
        for j, nb in enumerate(sizes):
            rel = f"{leaf}/f{j:03d}_{rng.integers(1 << 20):05x}.dat"
            pool.write(os.path.join(root, rel), int(nb))
            files.append(rel)
            n_bytes += int(nb)
    for j in range(shape["empty"]):
        rel = f"{_leaf_dir(j)}/empty{j}"
        open(os.path.join(root, rel), "wb").close()
        files.append(rel)
    return Tree(root, files, n_bytes)


def churn(tree: Tree, seed: int, op_index: int, fraction: float = 0.01) -> list[str]:
    """Rewrite a seeded ``fraction`` of the files in place: same size,
    new content, mtime moved one second past its previous value (so the
    change shows on any mtime granularity).  Returns the churned paths."""
    rng = np.random.default_rng([seed, 1, op_index])
    n = max(1, round(len(tree.files) * fraction))
    picked = [tree.files[i] for i in sorted(rng.choice(len(tree.files), n, replace=False))]
    pool = ContentPool(rng)
    for rel in picked:
        full = os.path.join(tree.root, rel)
        st = os.stat(full)
        pool.write(full, st.st_size)
        os.utime(full, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    return picked


def _file_digests(root: str, rel: str, blocksize: int) -> list[bytes]:
    out = []
    with open(os.path.join(root, rel), "rb") as fh:
        num = 0
        while block := fh.read(blocksize):
            h = hashlib.sha256()
            h.update(rel.encode("utf-8") + b"\x00" + str(num).encode("ascii") + b"\x00")
            h.update(block)
            out.append(h.digest())
            num += 1
    return out


class V1Oracle:
    """Independent sha256 v1 fold of a tree, kept current under churn:
    :meth:`refresh` re-hashes only the named files."""

    def __init__(self, root: str, blocksize: int):
        self.root = root
        self.blocksize = blocksize
        self.entries: list[str] = []
        for dirpath, dirnames, filenames in os.walk(root):
            rel_dir = os.path.relpath(dirpath, root)
            prefix = "" if rel_dir == "." else rel_dir.replace(os.sep, "/") + "/"
            self.entries += [prefix + d + "/" for d in dirnames]
            self.entries += [prefix + f for f in filenames]
        self.entries.sort()
        self.digests: dict[str, list[bytes]] = {}
        self.refresh([e for e in self.entries if not e.endswith("/")])

    def refresh(self, rel_paths: list[str]) -> None:
        for rel in rel_paths:
            self.digests[rel] = _file_digests(self.root, rel, self.blocksize)

    def hex(self) -> str:
        h = hashlib.sha256()
        h.update(str(len(self.entries)).encode("ascii") + b"\x00")
        h.update("\x00".join(self.entries).encode("utf-8") + b"\x00")
        for rel in sorted(self.digests):
            for d in self.digests[rel]:
                h.update(d)
        return h.hexdigest()
