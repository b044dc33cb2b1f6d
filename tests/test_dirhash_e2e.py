"""End-to-end dirhash pipeline tests on the FIXTURES.md F1 tree.

The expected final digest is recomputed *independently* in pure Python
from the documented v1 composition (the same strategy as the reference's
own E2E test, dirhash_test.py:226-296) — the Spark pipeline must agree
byte-for-byte.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from dirhash_spark.dirhash.chunks import read_chunks
from dirhash_spark.dirhash.hashdir import hash_directory, hash_directory_raw
from dirhash_spark.dirhash.listing import list_entries
from dirhash_spark.dirhash.verify import (
    HashComparisonResult,
    verify_directory_hash,
    verify_raw_directory_hash,
)

ZEROS_SIZE = 1 * 2**20  # multi-chunk binary file (1 MiB of zeros)


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    """FIXTURES.md F1: space-in-name file, empty file, empty dir,
    multi-chunk binary, small text files."""
    root = tmp_path_factory.mktemp("dirhash_tree") / "fixture"
    files = {
        "1M Zeros.bin": b"\x00" * ZEROS_SIZE,
        "dir/empty_file.txt": b"",
        "dir/subdir1/hello_world.html": b"<html><body>Hello, World!</body></html>",
        "dir/subdir1/loremipsum.txt": b"Lorem ipsum dolor sit amet, consetetur sadipscing elitr.",
        "dir/subdir2/my_passwords.txt": b"123456\npassword\nqwerty\nadmin\n1968\n",
        "dir/subdir3/abc.txt": b"abc",
    }
    for rel, content in files.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(content)
    (root / "dir" / "emptysubdir").mkdir()
    return str(root), files


def spec_hash(root: str, files: dict[str, bytes], blocksize: int, algo: str = "sha256") -> str:
    """Independent pure-Python v1 digest (no engine imports)."""
    entries = []
    for dirpath, dirnames, filenames in os.walk(root):
        for d in dirnames:
            entries.append(os.path.relpath(os.path.join(dirpath, d), root) + "/")
        for f in filenames:
            entries.append(os.path.relpath(os.path.join(dirpath, f), root))
    chunks = []
    for rel in sorted(files):
        content = files[rel]
        for i in range(0, (len(content) + blocksize - 1) // blocksize):
            block = content[i * blocksize : (i + 1) * blocksize]
            pre = rel.encode() + b"\x00" + str(i).encode() + b"\x00" + block
            chunks.append(((rel, i), getattr(hashlib, algo)(pre).digest()))
    chunks.sort(key=lambda t: t[0])
    h = getattr(hashlib, algo)()
    entries.sort()
    h.update(str(len(entries)).encode() + b"\x00")
    h.update("\x00".join(entries).encode() + b"\x00")
    for _, d in chunks:
        h.update(d)
    return h.hexdigest()


def spec_manifest(root: str, blocksize: int) -> set:
    """Independent pure-Python manifest rows
    (path, size, mtime_ns, block_num, digest): one row per chunk, and a
    (path, size, mtime_ns, None, None) row per empty file."""
    rows = set()
    for dirpath, _, filenames in os.walk(root):
        for f in filenames:
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, root)
            st = os.stat(full)
            with open(full, "rb") as fh:
                content = fh.read()
            if not content:
                rows.add((rel, 0, st.st_mtime_ns, None, None))
            for i in range((len(content) + blocksize - 1) // blocksize):
                pre = rel.encode() + b"\x00" + str(i).encode() + b"\x00"
                pre += content[i * blocksize : (i + 1) * blocksize]
                rows.add(
                    (rel, len(content), st.st_mtime_ns, i, hashlib.sha256(pre).digest())
                )
    return rows


def manifest_rows(manifest) -> set:
    return {
        (
            r["path"],
            r["size"],
            r["mtime_ns"],
            r["block_num"],
            None if r["digest"] is None else bytes(r["digest"]),
        )
        for r in manifest.collect()
    }


def force_route(monkeypatch, route: str) -> None:
    """Pin the route the listing's measurements pick: "driver" (a) as
    measured, "streamed" (b) by lowering the chunk-count bound below
    any tree's chunk count, "cluster" (c) by a zero serial-walk budget."""
    import dirhash_spark.dirhash.hashdir as H
    import dirhash_spark.dirhash.listing as L

    if route == "streamed":
        monkeypatch.setattr(H, "COLLECT_MAX_CHUNKS", -1)
    elif route == "cluster":
        monkeypatch.setattr(L, "SERIAL_WALK_BUDGET_S", 0)
    else:
        assert route == "driver", route


def test_listing_conventions(tree):
    root, files = tree
    entries = list_entries(root)
    rels = sorted(e.relative_path for e in entries)
    assert "dir/" in rels
    assert "dir/emptysubdir/" in rels
    assert "dir/empty_file.txt" in rels
    assert "1M Zeros.bin" in rels
    assert len(rels) == len(files) + 5  # 5 dirs: dir + emptysubdir + subdir1..3


def test_chunking_goldens(spark, tree):
    root, _ = tree
    entries = [e for e in list_entries(root) if e.relative_path == "dir/subdir3/abc.txt"]
    for bs, expected in [
        (1, [(0, b"a"), (1, b"b"), (2, b"c")]),
        (2, [(0, b"ab"), (1, b"c")]),
        (1024, [(0, b"abc")]),
    ]:
        rows = (
            read_chunks(spark, entries, bs)
            .orderBy("block_num")
            .collect()
        )
        got = [(r["block_num"], bytes(r["content"])) for r in rows]
        assert got == expected, f"blocksize={bs}"


def test_empty_file_zero_chunks(spark, tree):
    root, _ = tree
    entries = [e for e in list_entries(root) if e.relative_path == "dir/empty_file.txt"]
    assert read_chunks(spark, entries, 1024).count() == 0


def test_multiblock_chunking(spark, tree):
    root, _ = tree
    entries = [e for e in list_entries(root) if e.relative_path == "1M Zeros.bin"]
    bs = 32 * 1024
    rows = read_chunks(spark, entries, bs).collect()
    assert len(rows) == ZEROS_SIZE // bs
    assert all(len(r["content"]) == bs for r in rows)


def test_e2e_matches_spec(spark, tree):
    root, files = tree
    bs = 32 * 1024
    expected = spec_hash(root, files, bs)
    assert hash_directory_raw(spark, root, "sha256", bs) == expected
    # trailing-slash invariance (dirhash_test.py:275-279)
    assert hash_directory_raw(spark, root + "/", "sha256", bs) == expected


def test_e2e_short_last_block(spark, tree):
    """Blocksize that doesn't divide file sizes → short final blocks."""
    root, files = tree
    bs = 7
    assert hash_directory_raw(spark, root, "sha256", bs) == spec_hash(root, files, bs)


@pytest.mark.parametrize("algo", ["sha512", "sha3_256", "blake2b"])
def test_e2e_other_algorithms(spark, tree, algo):
    root, files = tree
    bs = 64 * 1024
    assert hash_directory_raw(spark, root, algo, bs) == spec_hash(root, files, bs, algo)


def test_streamed_fold_bit_identical(spark, tree, monkeypatch):
    """The constant-memory digest drain (cluster-side orderBy +
    toLocalIterator, route (b)) must produce the exact digest of the
    collect-and-sort fold for every blocksize shape: multi-chunk, short
    last block, single chunk."""
    root, files = tree
    want = hash_directory(spark, root, "sha256", "32k")
    force_route(monkeypatch, "streamed")
    for bs in (7, 32 * 1024, 1 << 20):
        assert hash_directory_raw(spark, root, "sha256", bs) == spec_hash(
            root, files, bs
        )
    assert hash_directory(spark, root, "sha256", "32k") == want


def test_streamed_fold_nonascii_sort_parity(spark, tmp_path, monkeypatch):
    """The streamed fold's load-bearing claim: Spark's binary UTF8String
    ordering equals Python's code-point string sort (UTF-8 byte order
    preserves code-point order), so the cluster-sorted digest stream
    arrives in exactly the reference driver-sort order.  Exercised with
    names across 1/2/3/4-byte UTF-8 classes, spaces, and digits."""
    root = tmp_path / "unicode_tree"
    files = {
        "Z.txt": b"z",
        "a b.txt": b"ab",
        "é.txt": b"e-acute",       # 2-byte UTF-8
        "ß.bin": b"sharp-s" * 900,  # 2-byte, multi-chunk at bs=1k
        "中文.txt": b"cjk",      # 3-byte
        "\U0001d4cc.dat": b"script-w",   # 4-byte (beyond BMP)
        "0digit.txt": b"d",
    }
    for rel, content in files.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_bytes(content)
    bs = 1024
    expected = spec_hash(str(root), files, bs)
    assert hash_directory_raw(spark, str(root), "sha256", bs) == expected
    for route in ("streamed", "cluster"):
        with monkeypatch.context() as m:
            force_route(m, route)
            assert hash_directory_raw(spark, str(root), "sha256", bs) == expected, route


def test_streamed_fold_empty_and_emptyfile_tree(spark, tmp_path, monkeypatch):
    """No chunk rows at all (dirs + empty files only): the streamed
    digest drain over an empty digest set must still match."""
    root = tmp_path / "hollow"
    (root / "sub").mkdir(parents=True)
    (root / "sub" / "void.txt").write_bytes(b"")
    want = hash_directory_raw(spark, str(root), "sha256", 1024)
    force_route(monkeypatch, "streamed")
    assert hash_directory_raw(spark, str(root), "sha256", 1024) == want


def test_verify_roundtrip(spark, tree):
    root, _ = tree
    hs = hash_directory(spark, root, "sha256", "32k")
    assert hs.startswith("v1-sha256-32k-")
    res = verify_directory_hash(spark, root, hs)
    assert res and res.match
    bad = hs[:-8] + "00000000"
    res2 = verify_directory_hash(spark, root, bad)
    assert not res2
    assert res2.actual_hash_value == hs.rsplit("-", 1)[1]


def test_verify_raw(spark, tree):
    root, files = tree
    bs = 32 * 1024
    expected = spec_hash(root, files, bs)
    assert verify_raw_directory_hash(spark, root, expected, "sha256", bs)
    assert not verify_raw_directory_hash(spark, root, "0" * 64, "sha256", bs)


def test_comparison_result_semantics():
    a = HashComparisonResult(True, "x")
    b = HashComparisonResult(True, "x")
    c = HashComparisonResult(False, "y")
    assert a == b and a != c
    assert bool(a) and not bool(c)
    assert a == True and c == False  # noqa: E712  (reference API contract)


def test_empty_directory_tree(spark, tmp_path):
    root = tmp_path / "empty"
    root.mkdir()
    expected = hashlib.sha256(b"0\x00\x00").hexdigest()
    assert hash_directory_raw(spark, str(root), "sha256", 1024) == expected


def test_archive_roundtrip(spark, tmp_path):
    from dirhash_spark.dirhash.archive import move_folder_to_hashed_archive

    src = tmp_path / "src"
    (src / "sub").mkdir(parents=True)
    (src / "sub" / "f.txt").write_text("hello")
    hs = hash_directory(spark, str(src), "sha256", "1k")

    archive = tmp_path / "archive"
    target = move_folder_to_hashed_archive(str(src), hs, str(archive), softlink=True)
    assert os.path.isdir(target) and os.path.basename(target) == hs
    assert os.path.islink(src)  # softlink left behind
    # root bypasses permission checks, so inspect the mode bits directly
    import stat

    mode = os.stat(os.path.join(target, "sub", "f.txt")).st_mode
    assert not (mode & (stat.S_IWUSR | stat.S_IWGRP | stat.S_IWOTH))
    # verify the archived dir against its own name (--check-name semantics)
    res = verify_directory_hash(spark, target, os.path.basename(target))
    assert res.match
    # restore writability so pytest can clean tmp
    for dirpath, dirnames, filenames in os.walk(target):
        for n in dirnames + filenames:
            os.chmod(os.path.join(dirpath, n), 0o755)
    os.chmod(target, 0o755)


def test_single_byte_corruption_changes_hash(spark, tmp_path):
    """Flipping ONE content byte anywhere in the tree must change the
    final digest (the content-addressing property the verify/archive
    workflow depends on), and verify must reject the stale hash."""
    import os

    from dirhash_spark.dirhash.verify import verify_directory_hash

    root = tmp_path / "tree"
    (root / "sub").mkdir(parents=True)
    (root / "a.bin").write_bytes(bytes(range(256)) * 64)
    (root / "sub" / "b.bin").write_bytes(b"spark" * 1000)

    before = hash_directory(spark, str(root), "sha256", "1k")

    data = bytearray((root / "sub" / "b.bin").read_bytes())
    data[2049] ^= 0x01  # middle of the third 1k chunk
    (root / "sub" / "b.bin").write_bytes(bytes(data))

    after = hash_directory(spark, str(root), "sha256", "1k")
    assert after != before
    assert not verify_directory_hash(spark, str(root), before)
    assert verify_directory_hash(spark, str(root), after)


def test_incremental_rehash_splices_exactly(spark, tmp_path):
    """hash_directory_incremental must (a) equal the full re-hash
    bit-for-bit in every churn scenario — unchanged, appended-to file,
    same-size rewrite, new file, deleted file — and (b) really be
    incremental: the stats show exactly the churn re-hashed."""
    import shutil
    import time

    from dirhash_spark.dirhash.incremental import (
        build_chunk_manifest,
        hash_directory_incremental,
    )

    root = tmp_path / "tree"
    (root / "sub").mkdir(parents=True)
    (root / "a.bin").write_bytes(bytes(range(256)) * 40)  # 10 chunks at 1k
    (root / "sub" / "b.bin").write_bytes(b"spark" * 1000)
    (root / "empty.txt").write_bytes(b"")

    man = build_chunk_manifest(spark, str(root), "sha256", "1k").localCheckpoint()

    h, st = hash_directory_incremental(spark, str(root), man, "sha256", "1k")
    assert h == hash_directory(spark, str(root), "sha256", "1k")
    assert st == {"n_files": 3, "n_reused_files": 3, "n_rehashed_files": 0}

    time.sleep(0.01)  # ensure a distinct mtime on coarse filesystems
    with open(root / "sub" / "b.bin", "ab") as f:
        f.write(b"tail")
    h, st = hash_directory_incremental(spark, str(root), man, "sha256", "1k")
    assert h == hash_directory(spark, str(root), "sha256", "1k")
    assert st["n_rehashed_files"] == 1 and st["n_reused_files"] == 2

    # same-size in-place rewrite: mtime (not size) must catch it
    time.sleep(0.01)
    data = bytearray((root / "a.bin").read_bytes())
    data[123] ^= 0xFF
    (root / "a.bin").write_bytes(bytes(data))
    h, st = hash_directory_incremental(spark, str(root), man, "sha256", "1k")
    assert h == hash_directory(spark, str(root), "sha256", "1k")
    assert st["n_rehashed_files"] == 2

    # new file + deletion both reconcile against the fresh listing
    (root / "new.txt").write_bytes(b"fresh")
    (root / "empty.txt").unlink()
    h, st = hash_directory_incremental(spark, str(root), man, "sha256", "1k")
    assert h == hash_directory(spark, str(root), "sha256", "1k")
    assert st["n_files"] == 3

    # a refreshed manifest restores full reuse
    man2 = build_chunk_manifest(spark, str(root), "sha256", "1k").localCheckpoint()
    h, st = hash_directory_incremental(spark, str(root), man2, "sha256", "1k")
    assert h == hash_directory(spark, str(root), "sha256", "1k")
    assert st["n_rehashed_files"] == 0

    shutil.rmtree(root)


@pytest.mark.parametrize("route", ["driver", "streamed", "cluster"])
def test_forced_route_parity(spark, tmp_path, monkeypatch, capsys, route):
    """Every route the listing's measurements can pick — (a) driver
    collect fold, (b) driver listing with the digests drained from a
    cluster sort, (c) cluster listing, diff, splice and fold — gives the
    same results on every dirhash entry point: hash_directory and
    verify against the spec digest; build_chunk_manifest and the
    incremental re-hash's refreshed manifest against spec manifest
    rows; the reuse stats against the known churn; and the CLI's
    stdout, stderr and exit codes.  Counters prove the forced route
    was really taken."""
    from dirhash_spark.dirhash import hashdir as H
    from dirhash_spark.dirhash import incremental as I
    from dirhash_spark.dirhash.cli import main
    from dirhash_spark.dirhash.incremental import (
        build_chunk_manifest,
        hash_directory_incremental,
    )

    root = tmp_path / "tree"
    (root / "sub").mkdir(parents=True)
    (root / "emptydir").mkdir()
    files = {
        "a.bin": bytes(range(256)) * 40,  # 10 chunks at 1k
        "sub/b.bin": b"spark" * 1000,
        "empty.txt": b"",
    }

    def write(rel, content, mtime_ns):
        (root / rel).write_bytes(content)
        os.utime(root / rel, ns=(mtime_ns, mtime_ns))

    for rel, content in files.items():
        write(rel, content, 1_000_000_000)
    tree, bs = str(root), 1024

    calls = {"drain": 0, "cluster_walk": 0}

    def count(module, attr, key):
        real = getattr(module, attr)

        def counted(*a, **k):
            calls[key] += 1
            return real(*a, **k)

        monkeypatch.setattr(module, attr, counted)

    for module in (H, I):
        count(module, "fold_digests_streamed", "drain")
        count(module, "list_entries_df", "cluster_walk")
    force_route(monkeypatch, route)

    # full hash + verify
    hs = hash_directory(spark, tree, "sha256", "1k")
    assert hs == "v1-sha256-1k-" + spec_hash(tree, files, bs)
    assert verify_directory_hash(spark, tree, hs)
    bad = verify_directory_hash(spark, tree, hs[:-8] + "00000000")
    assert not bad and bad.actual_hash_value == hs.rsplit("-", 1)[1]

    # manifest build, then full reuse from it
    man = build_chunk_manifest(spark, tree, "sha256", "1k").localCheckpoint()
    assert manifest_rows(man) == spec_manifest(tree, bs)
    man_path = str(tmp_path / "manifest")
    man.write.parquet(man_path)
    h, st = hash_directory_incremental(spark, tree, man, "sha256", "1k")
    assert h == hs
    assert st == {"n_files": 3, "n_reused_files": 3, "n_rehashed_files": 0}

    # churn: append, add, delete — the interesting diff shapes at once
    files["sub/b.bin"] += b"tail"
    write("sub/b.bin", files["sub/b.bin"], 2_000_000_000)
    files["new.txt"] = b"fresh"
    write("new.txt", files["new.txt"], 2_000_000_000)
    del files["empty.txt"]
    (root / "empty.txt").unlink()
    want = "v1-sha256-1k-" + spec_hash(tree, files, bs)

    h, st, man2 = hash_directory_incremental(
        spark, tree, man, "sha256", "1k", with_manifest=True
    )
    assert h == want
    assert st == {"n_files": 3, "n_reused_files": 1, "n_rehashed_files": 2}
    man2 = man2.localCheckpoint()
    assert manifest_rows(man2) == spec_manifest(tree, bs)
    h, st = hash_directory_incremental(spark, tree, man2, "sha256", "1k")
    assert h == want and st["n_rehashed_files"] == 0

    # the CLI on the same route: hash-only stdout, reuse stats on
    # stderr, verify exit codes
    capsys.readouterr()
    assert main([tree, "--block-size", "1k"], spark=spark) == 0
    assert capsys.readouterr().out.strip() == want
    argv = [tree, "--block-size", "1k", "--manifest", man_path]
    assert main([*argv, "--write-manifest", str(tmp_path / "m2")], spark=spark) == 0
    cap = capsys.readouterr()
    assert cap.out.strip() == want
    assert "reused 1/3 files, re-hashed 2" in cap.err
    assert main([tree, "--check", want], spark=spark) == 0
    assert capsys.readouterr().out.startswith("OK ")
    assert main([tree, "--check", want[:-8] + "00000000"], spark=spark) == 1
    assert "MISMATCH" in capsys.readouterr().out

    assert (calls["drain"] > 0) == (route != "driver"), calls
    assert (calls["cluster_walk"] > 0) == (route == "cluster"), calls


def test_incremental_streamed_cluster_route_bit_identical(
    spark, tmp_path, monkeypatch
):
    """The streamed-fold route (b) and, with the serial-walk budget
    forced to 0, the fully cluster-side incremental route (c) (stat-diff
    join + digest-union splice + streamed fold, no O(files) driver
    structure anywhere): hash string, reuse stats, AND the refreshed
    manifest must all equal the driver route's on a mutated tree."""
    import time

    import dirhash_spark.dirhash.listing as L
    from dirhash_spark.dirhash import hashdir as H
    from dirhash_spark.dirhash import incremental as I
    from dirhash_spark.dirhash.incremental import (
        build_chunk_manifest,
        hash_directory_incremental,
    )

    root = tmp_path / "tree"
    (root / "sub").mkdir(parents=True)
    (root / "a.bin").write_bytes(bytes(range(256)) * 40)
    (root / "sub" / "b.bin").write_bytes(b"spark" * 1000)
    (root / "empty.txt").write_bytes(b"")
    man = build_chunk_manifest(spark, str(root), "sha256", "1k").localCheckpoint()

    # churn: append, add, delete — the interesting diff shapes at once
    time.sleep(0.01)
    with open(root / "sub" / "b.bin", "ab") as f:
        f.write(b"tail")
    (root / "new.txt").write_bytes(b"fresh")
    (root / "empty.txt").unlink()

    want_h, want_st, want_man = hash_directory_incremental(
        spark, str(root), man, "sha256", "1k", with_manifest=True
    )

    # streamed fold on a driver-sized listing: route (b) must NOT take
    # the cluster path when the budget passes (fixed metadata jobs
    # would only slow a small tree, same routing as the raw fold)
    def _boom(*a, **k):
        raise AssertionError("cluster route taken on a driver-sized tree")

    monkeypatch.setattr(I, "_incremental_cluster", _boom)
    monkeypatch.setattr(H, "COLLECT_MAX_CHUNKS", -1)
    got_h, got_st = hash_directory_incremental(spark, str(root), man, "sha256", "1k")
    assert (got_h, got_st) == (want_h, want_st)
    monkeypatch.undo()

    # forced cluster route: budget 0 → listing, diff, splice, and fold
    # all cluster-side; bit-identical results
    monkeypatch.setattr(L, "SERIAL_WALK_BUDGET_S", 0)
    got_h, got_st, got_man = hash_directory_incremental(
        spark, str(root), man, "sha256", "1k", with_manifest=True
    )
    assert (got_h, got_st) == (want_h, want_st)
    assert manifest_rows(got_man) == manifest_rows(want_man)

    # and the refreshed cluster-route manifest restores full reuse
    h2, st2 = hash_directory_incremental(
        spark, str(root), got_man.localCheckpoint(), "sha256", "1k"
    )
    assert h2 == want_h and st2["n_rehashed_files"] == 0

    # the BUILD side has the same two routes: the forced-cluster
    # manifest build (no O(files) driver structure) must produce
    # row-identical output to the driver-side build, and feed full
    # reuse back into the incremental fold
    built_cluster = build_chunk_manifest(
        spark, str(root), "sha256", "1k"
    ).localCheckpoint()
    monkeypatch.undo()
    built_driver = build_chunk_manifest(spark, str(root), "sha256", "1k")
    assert manifest_rows(built_cluster) == manifest_rows(built_driver)
    monkeypatch.setattr(L, "SERIAL_WALK_BUDGET_S", 0)
    h3, st3 = hash_directory_incremental(
        spark, str(root), built_cluster, "sha256", "1k"
    )
    assert h3 == want_h and st3["n_rehashed_files"] == 0


def test_incremental_rejects_mismatched_manifest_parameters(spark, tmp_path):
    """A manifest records the (hash_algorithm, blocksize) its digests
    were computed under; hash_directory_incremental must refuse to
    splice under different parameters (the silent-corruption path from
    ADVICE r7: old-parameter digests mixed with fresh ones print a
    plausible but wrong v1 hash).  A manifest without the stamp is
    equally unverifiable and must be rejected."""
    import pytest

    from dirhash_spark.dirhash.incremental import (
        build_chunk_manifest,
        hash_directory_incremental,
    )

    root = tmp_path / "tree"
    root.mkdir()
    (root / "a.bin").write_bytes(b"spark" * 500)

    man = build_chunk_manifest(spark, str(root), "sha256", "1k").localCheckpoint()
    assert {"hash_algorithm", "blocksize_bytes"} <= set(man.columns)

    with pytest.raises(ValueError, match="rebuild the manifest"):
        hash_directory_incremental(spark, str(root), man, "sha3_256", "1k")
    with pytest.raises(ValueError, match="rebuild the manifest"):
        hash_directory_incremental(spark, str(root), man, "sha256", "2k")

    # matching parameters still splice bit-identically
    h, st = hash_directory_incremental(spark, str(root), man, "sha256", "1k")
    assert h == hash_directory(spark, str(root), "sha256", "1k")
    assert st["n_rehashed_files"] == 0

    # pre-stamp manifests (no parameter columns) are rejected outright
    bare = man.drop("hash_algorithm", "blocksize_bytes")
    with pytest.raises(ValueError, match="no .*stamp"):
        hash_directory_incremental(spark, str(root), bare, "sha256", "1k")

    # the rolled-over manifest carries the stamp too
    _, _, man2 = hash_directory_incremental(
        spark, str(root), man, "sha256", "1k", with_manifest=True
    )
    assert {"hash_algorithm", "blocksize_bytes"} <= set(man2.columns)


def test_parallel_listing_equals_serial(spark, tree, tmp_path):
    """The level-parallel cluster walk must produce the identical entry
    set — same relative paths (dirs slash-suffixed), sizes, and dir
    flags — as the serial walk, on the fixture tree and on a wide
    many-dir tree (the shape whose serial walk is latency-bound at
    scale)."""
    from dirhash_spark.dirhash.hashdir import fold_listing_df
    from dirhash_spark.dirhash.listing import list_entries_df

    root, _ = tree
    as_set = lambda es: {(e.relative_path, e.is_dir, e.size) for e in es}  # noqa: E731
    as_row_set = lambda df: {  # noqa: E731
        (r["relative_path"], r["is_dir"], r["size"]) for r in df.collect()
    }
    assert as_row_set(list_entries_df(spark, root)) == as_set(list_entries(root))

    wide = tmp_path / "wide"
    for i in range(40):
        d = wide / f"d{i:02d}" / "sub"
        d.mkdir(parents=True)
        (d / f"f{i}.bin").write_bytes(b"x" * i)
    wide_df = list_entries_df(spark, str(wide))
    assert as_row_set(wide_df) == as_set(list_entries(str(wide)))
    # and the fold consumes it identically: same v1 digest
    assert fold_listing_df(spark, wide_df, "sha256", 7) == hash_directory_raw(
        spark, str(wide), "sha256", 7
    )


def test_parallel_listing_symlink_parity(spark, tmp_path):
    """os.walk parity on symlinks (ADVICE r10): a symlink to a
    directory lists as a dir entry but is NOT walked into; a symlink to
    a file records the TARGET's size (getsize follows links).  The
    cluster walk must match the serial walk's Entry set exactly."""
    from dirhash_spark.dirhash.listing import list_entries_df

    root = tmp_path / "links"
    (root / "real").mkdir(parents=True)
    (root / "real" / "inner.txt").write_bytes(b"inner-bytes")
    (root / "target.bin").write_bytes(b"x" * 777)
    (root / "dirlink").symlink_to(root / "real", target_is_directory=True)
    (root / "filelink.bin").symlink_to(root / "target.bin")

    serial = list_entries(str(root))
    as_set = lambda es: {(e.relative_path, e.is_dir, e.size) for e in es}  # noqa: E731
    expected = as_set(serial)
    # the serial walk's own semantics, pinned so the parity claim means
    # something: dirlink listed as a dir, its contents absent, filelink
    # sized as the 777-byte target
    assert ("dirlink/", True, 0) in expected
    assert ("filelink.bin", False, 777) in expected
    assert not any(p.startswith("dirlink/") and p != "dirlink/" for p, _, _ in expected)

    df_rows = list_entries_df(spark, str(root)).collect()
    assert {(r["relative_path"], r["is_dir"], r["size"]) for r in df_rows} == expected


def test_file_scheme_symlink_parity_streamed_vs_collect(spark, tmp_path, monkeypatch):
    """ADVICE r11 (medium): a ``file://`` root must list with the SAME
    symlink semantics as the bare path in EVERY form.  Hadoop's
    LocalFileSystem reports a symlinked dir as a directory and walks
    INTO it, so routing file:// through the JVM-gateway walk made the
    driver route descend where the cluster walk (os.walk semantics:
    dirlink listed, not descended) did not — a false MISMATCH whenever
    the routes differed, and hash("file:///t") != hash("/t") on the
    same tree."""
    from dirhash_spark.dirhash.hashdir import hash_directory_raw
    from dirhash_spark.dirhash.listing import list_entries

    root = tmp_path / "ftree"
    (root / "real").mkdir(parents=True)
    (root / "real" / "inner.txt").write_bytes(b"inner-bytes" * 7)
    (root / "plain.bin").write_bytes(b"y" * 123)
    (root / "dirlink").symlink_to(root / "real", target_is_directory=True)

    uri = f"file://{root}"
    plain_set = {
        (e.relative_path, e.is_dir, e.size) for e in list_entries(str(root))
    }
    uri_set = {
        (e.relative_path, e.is_dir, e.size) for e in list_entries(uri, spark)
    }
    assert uri_set == plain_set
    # and the sessionless form accepts file:// too (it used to raise
    # FileNotFoundError on the unstripped scheme prefix)
    no_spark_set = {
        (e.relative_path, e.is_dir, e.size) for e in list_entries(uri)
    }
    assert no_spark_set == plain_set
    # the divergence witness: the dirlink's contents must be absent
    assert ("dirlink/", True, 0) in uri_set
    assert not any(
        p.startswith("dirlink/") and p != "dirlink/" for p, _, _ in uri_set
    )

    expected = hash_directory_raw(spark, str(root), "sha256", 64)
    assert hash_directory_raw(spark, uri, "sha256", 64) == expected
    for route in ("streamed", "cluster"):
        with monkeypatch.context() as m:
            force_route(m, route)
            for path in (uri, str(root)):
                assert hash_directory_raw(spark, path, "sha256", 64) == expected, (
                    route,
                    path,
                )


def test_listing_df_cluster_route_matches_serial(spark, tree, tmp_path):
    """list_entries_df's cluster-side level walk must produce the same
    rows as the serial walk, and full_path must stay readable."""
    from dirhash_spark.dirhash.listing import list_entries_df

    root, _ = tree
    serial = [(e.relative_path, e.is_dir, e.size, e.full_path) for e in list_entries(root)]
    clustered = list_entries_df(spark, root).collect()
    key = lambda r: (r["relative_path"], r["is_dir"], r["size"], r["full_path"])  # noqa: E731
    assert sorted(map(key, clustered)) == sorted(serial)
    assert all(
        r["is_dir"] or open(r["full_path"], "rb").read(1) is not None for r in clustered
    )


def test_streamed_fold_cluster_listing_bit_identical(spark, tree, monkeypatch):
    """Force EVERY listing through the cluster walk (budget 0) — the
    100-TB route where neither the listing nor the digest set ever
    materializes on the driver — and require the exact spec digest."""
    import dirhash_spark.dirhash.listing as L

    monkeypatch.setattr(L, "SERIAL_WALK_BUDGET_S", 0.0)
    root, files = tree
    bs = 32 * 1024
    assert hash_directory_raw(spark, root, "sha256", bs) == spec_hash(
        root, files, bs
    )


def test_list_entries_budget_crossover(spark, tree, monkeypatch):
    """list_entries is the one router: inside the serial-walk budget it
    returns the Entry list (driver route); a tripped budget returns
    None, and the cluster walk the caller then takes carries the same
    rows.  The budget is the module constant, read at call time, so
    deployments (and tests) can retune it; a sessionless call always
    walks serially."""
    import dirhash_spark.dirhash.listing as L

    root, _ = tree
    serial = list_entries(root)
    as_set = lambda es: {(e.relative_path, e.is_dir, e.size) for e in es}  # noqa: E731
    assert as_set(list_entries(root, spark)) == as_set(serial)

    monkeypatch.setattr(L, "SERIAL_WALK_BUDGET_S", 0.0)
    assert list_entries(root, spark) is None
    assert as_set(list_entries(root)) == as_set(serial)
    clustered = {
        (r["relative_path"], r["is_dir"], r["size"])
        for r in L.list_entries_df(spark, root).collect()
    }
    assert clustered == as_set(serial)


def test_streamed_fold_cluster_listing_hollow_tree(spark, tmp_path, monkeypatch):
    """Cluster-walk route on a tree with no chunk rows at all (dirs +
    empty files): header-only fold, still bit-identical."""
    import dirhash_spark.dirhash.listing as L

    root = tmp_path / "hollow2"
    (root / "sub" / "subsub").mkdir(parents=True)
    (root / "sub" / "void.txt").write_bytes(b"")
    expected = hash_directory_raw(spark, str(root), "sha256", 1024)
    monkeypatch.setattr(L, "SERIAL_WALK_BUDGET_S", 0.0)
    assert hash_directory_raw(spark, str(root), "sha256", 1024) == expected


def test_listing_for_fold_routing(spark, tree, monkeypatch):
    """The fold's routing contract: an inside-budget serial walk feeds
    the driver-side fold (no cluster walk), a tripped budget sends the
    fold to the cluster listing (no driver read+hash stage), and both
    give the spec digest.  The budget is the module constant, read at
    call time (deployment-tunable)."""
    import dirhash_spark.dirhash.hashdir as H
    import dirhash_spark.dirhash.listing as L

    root, files = tree
    bs = 32 * 1024
    calls = {"cluster_walk": 0, "driver_stage": 0}

    def count(attr, key):
        real = getattr(H, attr)

        def counted(*a, **k):
            calls[key] += 1
            return real(*a, **k)

        monkeypatch.setattr(H, attr, counted)

    count("list_entries_df", "cluster_walk")
    count("digest_directory", "driver_stage")

    assert hash_directory_raw(spark, root, "sha256", bs) == spec_hash(root, files, bs)
    assert calls == {"cluster_walk": 0, "driver_stage": 1}

    monkeypatch.setattr(L, "SERIAL_WALK_BUDGET_S", 0.0)
    assert hash_directory_raw(spark, root, "sha256", bs) == spec_hash(root, files, bs)
    assert calls == {"cluster_walk": 1, "driver_stage": 1}


def test_broken_symlink_fails_loudly_on_every_walk(spark, tmp_path):
    """A broken symlink kills the serial walk (os.path.getsize follows
    the link) — the cluster walk must also fail loudly rather than
    silently emitting a divergent Entry set."""
    from dirhash_spark.dirhash.listing import list_entries_df

    root = tmp_path / "broken"
    root.mkdir()
    (root / "ok.txt").write_bytes(b"fine")
    (root / "dangling").symlink_to(root / "no-such-target")

    with pytest.raises(OSError):
        list_entries(str(root))
    with pytest.raises(Exception):  # surfaces as a Spark task failure
        list_entries_df(spark, str(root)).collect()


def test_collect_fold_bit_identical_under_forced_parallel_listing(
    spark, tree, monkeypatch
):
    """hash_directory_raw routes its listing through the budget
    crossover — forcing the cluster walk must not change the digest."""
    import dirhash_spark.dirhash.listing as L

    root, files = tree
    bs = 32 * 1024
    expected = spec_hash(root, files, bs)
    monkeypatch.setattr(L, "SERIAL_WALK_BUDGET_S", 0.0)
    assert hash_directory_raw(spark, root, "sha256", bs) == expected


def test_file_uri_authority_and_scheme_case(spark, tmp_path):
    """file:// URI edge forms route through ONE helper (local_root) in
    every listing form: a 'localhost' authority addresses this host
    (RFC 8089), the scheme matches case-insensitively (RFC 3986), and
    a REAL remote authority is refused loudly in every route — neither
    a local walk nor Hadoop's LocalFileSystem (which silently ignores
    the authority) can honour another host's filesystem, and a silently
    wrong route is a silently wrong digest."""
    import pytest as _pytest

    from dirhash_spark.dirhash.hashdir import hash_directory_raw
    from dirhash_spark.dirhash.listing import (
        list_entries,
        list_entries_df,
        local_root,
    )

    root = tmp_path / "utree"
    (root / "sub").mkdir(parents=True)
    (root / "sub" / "a.bin").write_bytes(b"z" * 97)
    (root / "top.txt").write_bytes(b"q" * 11)
    plain = {(e.relative_path, e.is_dir, e.size) for e in list_entries(str(root))}

    for uri in (f"file://localhost{root}", f"FILE://{root}", f"File://localhost{root}"):
        got = {(e.relative_path, e.is_dir, e.size) for e in list_entries(uri, spark)}
        assert got == plain, uri
        assert hash_directory_raw(spark, uri, "sha256", 64) == hash_directory_raw(
            spark, str(root), "sha256", 64
        )

    bad = f"file://otherhost{root}"
    for call in (
        lambda: list_entries(bad, spark),
        lambda: list_entries(bad),
        lambda: list_entries_df(spark, bad),
    ):
        with _pytest.raises(ValueError, match="authority"):
            call()

    # bare paths (including ':' in a component) are never URI-parsed
    weird = tmp_path / "odd:name"
    weird.mkdir()
    (weird / "f").write_bytes(b"1")
    assert local_root(str(weird)) == str(weird)
    assert {e.relative_path for e in list_entries(str(weird))} == {"f"}


def test_manifest_records_prehash_mtime_not_post(spark, tmp_path, monkeypatch):
    """A file rewritten MID-RUN (after the diff snapshot, during the
    read+hash stage) must read as changed on the NEXT incremental run:
    the refreshed manifest pairs each digest with the PRE-hash mtime.
    The old code re-statted after hashing, pairing the post-rewrite
    mtime with the pre-rewrite digest — every later run then spliced
    the stale digest silently, forever."""
    import time

    import dirhash_spark.dirhash.incremental as inc
    from dirhash_spark.dirhash.hashdir import hash_directory
    from dirhash_spark.dirhash.incremental import (
        build_chunk_manifest,
        hash_directory_incremental,
    )

    root = tmp_path / "tree"
    root.mkdir()
    (root / "victim.bin").write_bytes(b"A" * 2048)
    (root / "other.bin").write_bytes(b"B" * 2048)
    man = build_chunk_manifest(spark, str(root), "sha256", "1k").localCheckpoint()

    real = inc.digest_directory

    def rewrite_mid_run(spark_, entries, bs, algo):
        # same-size rewrite AFTER the diff snapshot, BEFORE/DURING the
        # hash stage — victim was classified unchanged, so its stale
        # manifest digest is spliced (correct pre-rewrite semantics);
        # what matters is what the refreshed manifest then records
        time.sleep(0.01)
        (root / "victim.bin").write_bytes(b"Z" * 2048)
        return real(spark_, entries, bs, algo)

    monkeypatch.setattr(inc, "digest_directory", rewrite_mid_run)
    # touch other.bin so the hash stage actually runs (victim stays
    # "unchanged" in the diff)
    time.sleep(0.01)
    with open(root / "other.bin", "ab") as f:
        f.write(b"tail")
    _, st, man2 = hash_directory_incremental(
        spark, str(root), man, "sha256", "1k", with_manifest=True
    )
    assert st["n_reused_files"] == 1  # victim spliced this run
    monkeypatch.setattr(inc, "digest_directory", real)

    # next run: victim's on-disk mtime postdates the manifest's
    # pre-hash snapshot -> rehashed, and the hash equals a full run
    man2 = man2.localCheckpoint()
    h3, st3 = hash_directory_incremental(spark, str(root), man2, "sha256", "1k")
    assert st3["n_rehashed_files"] >= 1
    assert h3 == hash_directory(spark, str(root), "sha256", "1k")


def test_archive_chmod_skips_symlinks(tmp_path):
    """Archiving a tree with symlinks must not chmod targets OUTSIDE
    the tree (the listing layer supports symlinked files, so such
    trees are in-contract) and must survive a broken link — parity
    with the reference's `chmod -R a-w`, which skips symlinks."""
    import os
    import stat as stat_mod

    from dirhash_spark.dirhash.archive import move_folder_to_hashed_archive

    outside = tmp_path / "outside.txt"
    outside.write_text("keep me writable")
    src = tmp_path / "tree"
    src.mkdir()
    (src / "f.txt").write_text("data")
    os.symlink(str(outside), str(src / "link_out"))
    os.symlink(str(tmp_path / "nonexistent"), str(src / "link_broken"))

    target = move_folder_to_hashed_archive(
        str(src), "v1-sha256-4k-deadbeef", str(tmp_path / "archive")
    )
    # outside target untouched, archived regular file read-only
    assert os.stat(outside).st_mode & stat_mod.S_IWUSR
    assert not (os.stat(os.path.join(target, "f.txt")).st_mode & stat_mod.S_IWUSR)


def test_strip_trailing_slash_preserves_uri_roots():
    """'file:///' (the documented filesystem-root spelling) and
    'hdfs://nn/' (an authority root) must survive strip_trailing_slash
    — stripping produced exactly the truncated URIs local_root
    rejects, making the documented spelling unreachable."""
    from dirhash_spark.dirhash.listing import local_root, strip_trailing_slash

    assert strip_trailing_slash("file:///") == "file:///"
    assert local_root(strip_trailing_slash("file:///")) == "/"
    assert strip_trailing_slash("hdfs://nn/") == "hdfs://nn/"
    assert strip_trailing_slash("file:///tmp/") == "file:///tmp"
    assert strip_trailing_slash("/tmp/") == "/tmp"
    assert strip_trailing_slash("/") == "/"


def test_undecodable_filename_raises_clearly(spark, tmp_path):
    """A non-UTF-8 filename (surrogateescaped by os.walk) must fail
    with a named ValueError at listing time, not a UnicodeEncodeError
    from deep inside a worker or the fold."""
    import os

    import pytest

    from dirhash_spark.dirhash.hashdir import hash_directory

    root = tmp_path / "tree"
    root.mkdir()
    (root / "ok.txt").write_bytes(b"fine")
    fd = os.open(os.path.join(bytes(root), b"\xff\xfebad"), os.O_CREAT | os.O_WRONLY)
    os.close(fd)

    with pytest.raises(ValueError, match="not valid UTF-8"):
        hash_directory(spark, str(root), "sha256", "1k")
