"""Reference-parity directory hashing (SURVEY §2.A, §3).

Distributed content-addressable directory hashing with the reference's
exact v1 hash semantics (/root/reference/dirhash.py), rebuilt on the
DataFrame stack:

  codec.py    blocksize / algo whitelist / hash-string / v1 preimages
  listing.py  recursive listing → entries (dirs get a trailing '/'),
              routed driver/cluster by a serial-walk time budget
  chunks.py   fixed-size chunk plan (metadata DF) + range-read mapInPandas
  hashdir.py  fused read+hash stage → ordered collect (or cluster sort
              past a chunk-count bound) → fold
  incremental.py  manifest-spliced re-hash of changed files only
  verify.py   recompute + compare (HashComparisonResult)
  archive.py  content-addressed archive sink (move, dedupe, chmod, link)
  cli.py      argparse CLI mirroring the reference's flags/exit codes
"""

from .codec import (
    build_hash_string,
    get_hash_func,
    parse_blocksize,
    parse_hash_string,
    supported_algorithms,
)
from .hashdir import hash_directory, hash_directory_raw
from .verify import HashComparisonResult, verify_directory_hash, verify_raw_directory_hash
from .archive import move_folder_to_hashed_archive

__all__ = [
    "build_hash_string",
    "get_hash_func",
    "parse_blocksize",
    "parse_hash_string",
    "supported_algorithms",
    "hash_directory",
    "hash_directory_raw",
    "HashComparisonResult",
    "verify_directory_hash",
    "verify_raw_directory_hash",
    "move_folder_to_hashed_archive",
]
