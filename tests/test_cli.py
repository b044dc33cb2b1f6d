"""CLI behavior (REF A12): exit codes, output format, verify modes,
archive move + softlink — mirroring the reference's _main contract
(dirhash.py:582-687): exit 0 on match/success, 1 on mismatch.
"""

from __future__ import annotations

import os

import pytest

from dirhash_spark.dirhash.cli import main


@pytest.fixture()
def tree(tmp_path):
    d = tmp_path / "data"
    (d / "sub").mkdir(parents=True)
    (d / "a.txt").write_bytes(b"alpha")
    (d / "sub" / "b.bin").write_bytes(os.urandom(5000))
    (d / "empty.txt").write_bytes(b"")
    return str(d)


def test_hash_prints_v1_string(spark, tree, capsys):
    assert main([tree, "--block-size", "1k"], spark=spark) == 0
    out = capsys.readouterr().out.strip()
    assert out.startswith("v1-sha256-1k-")
    int(out.rsplit("-", 1)[1], 16)  # hex payload


def test_check_roundtrip_and_mismatch(spark, tree, capsys):
    main([tree, "--block-size", "1k"], spark=spark)
    good = capsys.readouterr().out.strip()

    assert main([tree, "--check", good], spark=spark) == 0
    assert capsys.readouterr().out.startswith("OK ")

    bad = good[:-8] + "00000000"
    assert main([tree, "--check", bad], spark=spark) == 1
    assert "MISMATCH" in capsys.readouterr().out


def test_check_is_algo_and_blocksize_aware(spark, tree, capsys):
    """The expected string carries algo+blocksize; verify recomputes with
    THOSE, not the defaults (dirhash.py:538-555)."""
    assert main([tree, "--block-size", "2k", "--hash-algorithm", "sha3_256"], spark=spark) == 0
    h = capsys.readouterr().out.strip()
    assert h.startswith("v1-sha3_256-2k-")
    assert main([tree, "--check", h], spark=spark) == 0


def test_archive_move_and_check_name(spark, tree, tmp_path, capsys):
    archive = str(tmp_path / "archive")
    assert main([tree, "--block-size", "1k", "--move-to-archive", archive, "--softlink"], spark=spark) == 0
    out = capsys.readouterr().out
    hash_string = out.splitlines()[0].strip()
    target = os.path.join(archive, hash_string)
    assert os.path.isdir(target)
    # chmod a-w (os.access is useless as root — check the mode bits)
    import stat

    mode = stat.S_IMODE(os.stat(os.path.join(target, "a.txt")).st_mode)
    assert mode & 0o222 == 0, oct(mode)
    assert os.path.islink(tree)  # --softlink replaces the source
    # self-describing archive dir: basename == its own hash string
    assert main([target, "--check-name"], spark=spark) == 0
    assert capsys.readouterr().out.startswith("OK ")


def test_incremental_manifest_cli_roundtrip(spark, tree, tmp_path, capsys):
    """--write-manifest then --manifest: the incremental run must print
    the identical v1 hash (stdout keeps the hash-only contract; reuse
    stats go to stderr), report full reuse on an unchanged tree, then
    exactly one re-hash after a mutation — and the rolled-over manifest
    (written WITHOUT a second read pass) must itself verify."""
    import time

    man1 = str(tmp_path / "man1")
    man2 = str(tmp_path / "man2")

    assert main([tree, "--block-size", "1k", "--write-manifest", man1], spark=spark) == 0
    cap = capsys.readouterr()
    full = cap.out.strip().splitlines()[0]

    assert main([tree, "--block-size", "1k", "--manifest", man1], spark=spark) == 0
    cap = capsys.readouterr()
    assert cap.out.strip() == full  # stdout: hash only, identical
    assert "reused 3/3 files, re-hashed 0" in cap.err

    time.sleep(0.01)
    with open(os.path.join(tree, "a.txt"), "ab") as f:
        f.write(b"!")
    assert (
        main(
            [tree, "--block-size", "1k", "--manifest", man1, "--write-manifest", man2],
            spark=spark,
        )
        == 0
    )
    cap = capsys.readouterr()
    changed = cap.out.strip()
    assert changed != full
    assert "re-hashed 1" in cap.err

    # the rolled-over manifest is immediately usable and fully reused
    assert main([tree, "--block-size", "1k", "--manifest", man2], spark=spark) == 0
    cap = capsys.readouterr()
    assert cap.out.strip() == changed
    assert "reused 3/3" in cap.err


def test_manifest_flags_rejected_on_verify_path(spark, tree, capsys):
    """--manifest/--write-manifest combined with --check/--check-name
    must be rejected up front (exit 2, argparse error): the verify path
    touches no manifests, and silently ignoring the flag would let a
    user believe one was refreshed (ADVICE r7)."""
    import pytest

    for extra in (["--write-manifest", "/tmp/nope"], ["--manifest", "/tmp/nope"]):
        with pytest.raises(SystemExit) as exc:
            main([tree, "--check", "v1-sha256-1k-00", *extra], spark=spark)
        assert exc.value.code == 2
        assert "cannot be combined" in capsys.readouterr().err


def _force_streamed_route(monkeypatch) -> dict:
    """Force route (b) — driver listing, digests drained through the
    constant-memory ``fold_digests_streamed`` — by lowering the
    chunk-count bound below any tree's chunk count; returns a counter
    of the drains taken, so each test can prove the route ran."""
    from dirhash_spark.dirhash import hashdir as H
    from dirhash_spark.dirhash import incremental as I

    calls = {"drain": 0}
    for module in (H, I):
        real = module.fold_digests_streamed

        def counted(*a, _real=real, **k):
            calls["drain"] += 1
            return _real(*a, **k)

        monkeypatch.setattr(module, "fold_digests_streamed", counted)
    monkeypatch.setattr(H, "COLLECT_MAX_CHUNKS", -1)
    return calls


def test_streamed_fold_flag_same_hash(spark, tree, capsys, monkeypatch):
    """The streamed fold (route (b), picked by chunk count) must print
    byte-identical output to the default collect-and-sort fold (it only
    changes WHERE the sort runs)."""
    assert main([tree, "--block-size", "1k"], spark=spark) == 0
    default = capsys.readouterr().out.strip()
    calls = _force_streamed_route(monkeypatch)
    assert main([tree, "--block-size", "1k"], spark=spark) == 0
    assert capsys.readouterr().out.strip() == default
    assert calls["drain"] == 1


def test_streamed_fold_on_verify_path(spark, tree, capsys, monkeypatch):
    """--check on the streamed-fold route: same verdict and exit codes,
    recomputed via the constant-memory fold."""
    main([tree, "--block-size", "1k"], spark=spark)
    good = capsys.readouterr().out.strip()

    calls = _force_streamed_route(monkeypatch)
    assert main([tree, "--check", good], spark=spark) == 0
    assert capsys.readouterr().out.startswith("OK ")
    bad = good[:-8] + "00000000"
    assert main([tree, "--check", bad], spark=spark) == 1
    assert "MISMATCH" in capsys.readouterr().out
    assert calls["drain"] == 2


def test_streamed_fold_with_manifest_incremental(spark, tree, tmp_path, capsys, monkeypatch):
    """--manifest on the streamed-fold route runs the streamed
    incremental path: same hash-only stdout contract, same stderr reuse
    stats, byte-identical output to the plain incremental run."""
    from dirhash_spark.dirhash.incremental import build_chunk_manifest

    man_path = str(tmp_path / "manifest")
    build_chunk_manifest(spark, tree, "sha256", "1k").write.mode(
        "overwrite"
    ).parquet(man_path)

    assert main([tree, "--block-size", "1k", "--manifest", man_path], spark=spark) == 0
    plain = capsys.readouterr()
    calls = _force_streamed_route(monkeypatch)
    assert main([tree, "--block-size", "1k", "--manifest", man_path], spark=spark) == 0
    streamed = capsys.readouterr()
    assert streamed.out == plain.out
    assert "reused" in streamed.err
    assert calls["drain"] == 1
