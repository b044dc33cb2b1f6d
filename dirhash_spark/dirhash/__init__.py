"""Reference-parity directory hashing (SURVEY §2.A, §3).

Distributed content-addressable directory hashing with the reference's
exact v1 hash semantics (/root/reference/dirhash.py), rebuilt on the
DataFrame stack:

  codec.py    blocksize / algo whitelist / hash-string / the v1 byte
              framing: chunk digest and fold, one each for both routes
  listing.py  recursive listing → entries (dirs get a trailing '/'),
              routed driver/cluster by a serial-walk time budget; one
              directory scan for both local walks
  chunks.py   fixed-size chunks, one planner per listing kind: byte-
              balanced segments of a driver listing (the read+hash stage
              and read_chunks), the plan DataFrame of a cluster listing;
              the range reader
  hashdir.py  the fused read+hash loop and its stage (both routes)
  incremental.py  THE pipeline: list → diff against stored digests →
              read+hash the changed files → splice → fold, on a driver
              or a cluster route; a full hash is the re-hash with
              nothing stored
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
