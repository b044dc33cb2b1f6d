"""v1 hash codec: blocksize parsing, algorithm whitelist, hash strings,
and the exact byte framing of the reference's digests.

Byte semantics (SURVEY §2.A note 5): the reference hashed Python-2 str;
the Py3 reading pinned by the golden digests is UTF-8 bytes for paths and
ASCII decimal for counts/indices.  Verified against the reference's
golden chunk digest for ``dir/subdir3/abc.txt`` chunk 0
(/root/reference/dirhash_test.py:78-79).

Reference behavior mirrored here:
- blocksize: int 1..1023 with optional k/K/M/G suffix (dirhash.py:223-248);
  malformed input raises ValueError (the reference's accidental
  AttributeError at dirhash.py:227-228 is a bug we do not replicate).
- algorithm whitelist: SHA-2 family (either case), sha3 family,
  blake2b/blake2s; md5/sha1 rejected (dirhash.py:158-173).
- hash string: ``v1-<algo>-<blocksize>-<hex>`` (dirhash.py:250-274).

The v1 byte framing is written once, here, and both routes run it:
:func:`chunk_digest` digests a chunk's preimage (:func:`chunk_preimage`
is its reference form), and :func:`fold` is the final chain, fed
driver-sorted lists by :func:`fold_digest` on the driver route and
cluster-sorted one-pass streams on the cluster route.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterable

#: Reference default (dirhash.py:153).
DEFAULT_BLOCK_SIZE = "128M"
_MAX_BLOCK_SIZE_INT = 1024

_SUFFIX_FACTOR = {"": 1, "k": 2**10, "K": 2**10, "M": 2**20, "G": 2**30}

#: Whitelist (dirhash.py:159-173): md5/sha1 deliberately excluded.
_ALGO_CANONICAL = (
    "sha224",
    "sha256",
    "sha384",
    "sha512",
    "sha3_224",
    "sha3_256",
    "sha3_384",
    "sha3_512",
    "blake2b",
    "blake2s",
)

# \A..\Z anchoring (not ^..$): a trailing newline must NOT be accepted,
# matching the reference's anchoring (dirhash.py:256).
_BLOCKSIZE_RE = re.compile(r"\A(\d+)([kKMG]?)\Z")
# Mixed-case hex, matching the reference's [0-9a-fA-F]+ (dirhash.py:256).
_HEX_RE = re.compile(r"\A[0-9a-fA-F]+\Z")


def supported_algorithms() -> tuple[str, ...]:
    """Whitelisted algorithms available on this platform."""
    return tuple(a for a in _ALGO_CANONICAL if a in hashlib.algorithms_available)


def get_hash_func(name: str):
    """Return the hashlib constructor for a whitelisted algorithm.

    SHA-2 names are accepted in either case (the reference normalizes,
    dirhash.py:159-166); anything off the whitelist — notably md5/sha1 —
    raises ValueError.
    """
    canonical = name.lower() if name.lower().startswith("sha") else name
    if canonical not in _ALGO_CANONICAL:
        raise ValueError(f"unsupported hash algorithm: {name!r}")
    if canonical not in hashlib.algorithms_available:
        raise ValueError(f"hash algorithm not available on this platform: {name!r}")
    return getattr(hashlib, canonical)


def parse_blocksize(blocksize: str) -> int:
    """``'32M'`` → 33554432.  Integer part must be in 1..1023.

    Deliberate deviation: the reference raises AttributeError on regex
    non-matches ('x', '-3', '2G5' — ``match.group`` on None,
    dirhash.py:227-228) and ValueError only for out-of-range integers.
    We normalize both rejection paths to ValueError; the accepted/
    rejected DOMAIN is identical, only the accidental error class of
    the non-match path differs."""
    m = _BLOCKSIZE_RE.match(str(blocksize))
    if m is None:
        raise ValueError(f"malformed blocksize: {blocksize!r}")
    i = int(m.group(1))
    if i <= 0 or i >= _MAX_BLOCK_SIZE_INT:
        raise ValueError(f"blocksize integer part out of range 1..1023: {blocksize!r}")
    return i * _SUFFIX_FACTOR[m.group(2)]


def build_hash_string(algo: str, blocksize: str, hex_digest: str) -> str:
    """``v1-<algo>-<blocksize>-<hex>``, algo lowercased (dirhash.py:250-253)."""
    return f"v1-{algo.lower()}-{blocksize}-{hex_digest}"


def parse_hash_string(hash_string: str) -> tuple[str, str, str]:
    """Validate and split a v1 hash string → (algo, blocksize, hex).

    Mirrors dirhash.py:259-274: version must be 'v1', algo must pass the
    whitelist, blocksize must parse, digest must be mixed-case hex with
    no surrounding whitespace (``\\A..\\Z`` anchoring, so a trailing
    newline is rejected like the reference's regex).
    """
    parts = hash_string.split("-")
    if len(parts) != 4:
        raise ValueError(f"malformed hash string: {hash_string!r}")
    version, algo, blocksize, hex_digest = parts
    if version != "v1":
        raise ValueError(f"unsupported hash string version: {version!r}")
    get_hash_func(algo)
    parse_blocksize(blocksize)
    if not _HEX_RE.match(hex_digest):
        raise ValueError(f"malformed hex digest: {hex_digest!r}")
    return algo, blocksize, hex_digest


def chunk_preimage(relative_path: str, block_num: int, content: bytes) -> bytes:
    """Per-chunk digest preimage: ``path ‖ NUL ‖ ascii(num) ‖ NUL ‖ content``
    (dirhash.py:288-303)."""
    return relative_path.encode("utf-8") + b"\x00" + str(block_num).encode("ascii") + b"\x00" + bytes(content)


def chunk_digest(func, relative_path: str, block_num: int, content: bytes) -> bytes:
    """``func(chunk_preimage(relative_path, block_num, content)).digest()``
    for a hashlib constructor ``func``, with the preimage fed in pieces:
    no concatenated copy of the chunk is made."""
    h = func()
    h.update(relative_path.encode("utf-8"))
    h.update(b"\x00")
    h.update(str(block_num).encode("ascii"))
    h.update(b"\x00")
    h.update(content)
    return h.digest()


def fold(
    algo: str, n_entries: int, sorted_entries: Iterable[str], chunk_digests: Iterable[bytes]
) -> str:
    """THE v1 fold (dirhash.py:422-441) → hex digest.

    Framing: ``ascii(n_entries) ‖ NUL ‖ NUL.join(sorted_entries) ‖ NUL``
    then the raw chunk digests concatenated.  ``sorted_entries`` are the
    relative paths in Python string order (dirs carry a trailing '/',
    empty files appear with zero chunks) and ``chunk_digests`` are in
    (path, block_num) order.  Each sequence is read once, in order, so
    either may be a one-pass iterator that starts its work only when
    the fold reaches it."""
    h = get_hash_func(algo)()
    h.update(str(n_entries).encode("ascii"))
    h.update(b"\x00")
    for i, path in enumerate(sorted_entries):
        if i:
            h.update(b"\x00")
        h.update(path.encode("utf-8"))
    h.update(b"\x00")
    for digest in chunk_digests:
        h.update(bytes(digest))
    return h.hexdigest()


def fold_digest(algo: str, entries: list[str], chunk_digests: list[bytes]) -> str:
    """:func:`fold` over a driver listing's relative paths, sorted here
    with Python's lexicographic string sort to match the reference
    (dirhash.py:418), and its chunk digests in (path, block_num)
    order."""
    ordered = sorted(entries)
    return fold(algo, len(ordered), ordered, chunk_digests)
