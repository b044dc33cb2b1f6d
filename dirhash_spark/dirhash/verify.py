"""Hash verification (REF A10, dirhash.py:462-555)."""

from __future__ import annotations

from pyspark.sql import SparkSession

from .codec import parse_blocksize, parse_hash_string
from .hashdir import hash_directory_raw


class HashComparisonResult:
    """Truthiness = match; carries the recomputed hash for reporting
    (mirrors dirhash.py:462-517)."""

    def __init__(self, match: bool, actual_hash_value: str):
        self.match = bool(match)
        self.actual_hash_value = actual_hash_value

    def __bool__(self) -> bool:
        return self.match

    def __eq__(self, other) -> bool:
        if isinstance(other, HashComparisonResult):
            return (
                self.match == other.match
                and self.actual_hash_value == other.actual_hash_value
            )
        if isinstance(other, bool):
            return self.match == other
        return NotImplemented

    def __repr__(self) -> str:
        return f"HashComparisonResult(match={self.match}, actual={self.actual_hash_value!r})"


def verify_raw_directory_hash(
    spark: SparkSession,
    directory: str,
    hex_digest: str,
    hash_algorithm: str = "sha256",
    blocksize: int | None = None,
) -> HashComparisonResult:
    """Recompute the hex digest of ``directory`` and compare."""
    actual = hash_directory_raw(spark, directory, hash_algorithm, blocksize)
    return HashComparisonResult(actual == hex_digest, actual)


def verify_directory_hash(
    spark: SparkSession, directory: str, hash_string: str
) -> HashComparisonResult:
    """Parse a v1 hash string, recompute, compare (dirhash.py:538-555)."""
    algo, blocksize_str, hex_digest = parse_hash_string(hash_string)
    return verify_raw_directory_hash(
        spark, directory, hex_digest, algo, parse_blocksize(blocksize_str)
    )
