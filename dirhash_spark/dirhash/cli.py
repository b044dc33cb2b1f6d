"""CLI entry point (REF A12, dirhash.py:582-687).

Usage mirrors the reference:
  python -m dirhash_spark.dirhash.cli DIR                    # print hash
  ... --check v1-sha256-128M-<hex>                           # verify, exit 0/1
  ... --check-name                                           # expected = basename(DIR)
  ... --block-size 32M --hash-algorithm sha3_256
  ... --move-to-archive /archive [--softlink]

Engine extension (no reference analog — the reference re-reads every
byte on every run):
  ... --write-manifest /state/manifest      # also persist chunk digests
  ... --manifest /state/manifest            # incremental: re-read churn only
"""

from __future__ import annotations

import argparse
import os
import sys

from .archive import move_folder_to_hashed_archive
from .codec import DEFAULT_BLOCK_SIZE, build_hash_string, parse_blocksize
from .hashdir import hash_directory
from .verify import verify_directory_hash


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dirhash_spark",
        description="Create and verify hash values for contents of entire directories, in parallel with PySpark.",
    )
    p.add_argument("directory", help="directory to hash")
    group = p.add_mutually_exclusive_group()
    group.add_argument("--check", metavar="HASH", help="verify against this v1 hash string")
    group.add_argument(
        "--check-name",
        action="store_true",
        help="verify against the directory's basename (self-describing archive dirs)",
    )
    p.add_argument("--block-size", default=DEFAULT_BLOCK_SIZE, help="chunk size, e.g. 128M")
    p.add_argument("--hash-algorithm", default="sha256")
    p.add_argument("--move-to-archive", metavar="ARCHIVE_DIR")
    p.add_argument("--softlink", action="store_true")
    p.add_argument(
        "--manifest",
        metavar="PARQUET_DIR",
        help="chunk-digest manifest from a prior --write-manifest run; "
        "re-reads only files whose (path, size, mtime) changed",
    )
    p.add_argument(
        "--write-manifest",
        metavar="PARQUET_DIR",
        help="persist the (path, size, mtime, block, digest) manifest "
        "for future incremental runs",
    )
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    """Run the CLI.  ``spark=None`` builds (and stops) a session, like
    the reference's optional-SparkContext pattern (dirhash.py:326-332);
    passing one in leaves its lifecycle to the caller."""
    parser = build_parser()
    args = parser.parse_args(argv)
    if (args.check or args.check_name) and (args.manifest or args.write_manifest):
        # the verify path neither consumes nor produces manifests;
        # silently ignoring the flag would let a user believe a
        # manifest was refreshed when it wasn't
        parser.error(
            "--manifest/--write-manifest cannot be combined with "
            "--check/--check-name (the verify path does not touch manifests)"
        )
    owns_session = spark is None
    if owns_session:
        from ..session import get_spark

        spark = get_spark("dirhash_cli")
    try:
        if args.check or args.check_name:
            expected = args.check or os.path.basename(args.directory.rstrip("/"))
            result = verify_directory_hash(spark, args.directory, expected)
            if result:
                print(f"OK {result.actual_hash_value}")
                return 0
            print(f"MISMATCH expected={expected} actual={result.actual_hash_value}")
            return 1

        if args.manifest:
            from .incremental import hash_directory_incremental

            prior = spark.read.parquet(args.manifest)
            hash_string, stats, new_manifest = hash_directory_incremental(
                spark,
                args.directory,
                prior,
                args.hash_algorithm,
                args.block_size,
                with_manifest=True,
            )
            # stats to stderr: stdout stays the reference's hash-only contract
            print(
                f"incremental: reused {stats['n_reused_files']}/{stats['n_files']} "
                f"files, re-hashed {stats['n_rehashed_files']}",
                file=sys.stderr,
            )
        elif args.write_manifest:
            from .incremental import rehash

            # one pipeline call: the hash and the manifest from one read
            # of every byte
            hex_digest, _, new_manifest = rehash(
                spark,
                args.directory,
                None,
                args.hash_algorithm,
                parse_blocksize(args.block_size),
                with_manifest=True,
            )
            hash_string = build_hash_string(args.hash_algorithm, args.block_size, hex_digest)
        else:
            hash_string = hash_directory(
                spark, args.directory, args.hash_algorithm, args.block_size
            )
        print(hash_string)
        if args.write_manifest:
            new_manifest.write.mode("overwrite").parquet(args.write_manifest)
            print(f"manifest: {args.write_manifest}", file=sys.stderr)
        if args.move_to_archive:
            target = move_folder_to_hashed_archive(
                args.directory, hash_string, args.move_to_archive, softlink=args.softlink
            )
            print(f"archived: {target}")
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
