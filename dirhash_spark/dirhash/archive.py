"""Content-addressed archive sink (REF A11, dirhash.py:558-578,662-682).

Driver-side filesystem operations, unchanged in spirit: move a hashed
directory into the archive under its hash string, dedupe when the target
already exists, make it read-only, optionally leave a symlink behind.
"""

from __future__ import annotations

import os
import shutil
import stat


def _chmod_readonly(path: str) -> None:
    """chmod -R a-w (dirhash.py:571-572).  Symlinks are SKIPPED, like
    the reference's recursive ``chmod -R``: following them would strip
    write permission from targets OUTSIDE the archived tree (the
    listing layer explicitly supports symlinked files/dirs, so such
    trees are in-contract), and a broken link would crash os.stat
    halfway through an already-moved archive.  A subdirectory that
    cannot be listed raises, instead of being skipped with its files
    left writable."""

    def _raise(err: OSError) -> None:
        raise err

    for dirpath, dirnames, filenames in os.walk(path, topdown=False, onerror=_raise):
        for name in filenames + dirnames:
            p = os.path.join(dirpath, name)
            if os.path.islink(p):
                continue
            mode = os.stat(p).st_mode
            os.chmod(p, mode & ~(stat.S_IWUSR | stat.S_IWGRP | stat.S_IWOTH))
    mode = os.stat(path).st_mode
    os.chmod(path, mode & ~(stat.S_IWUSR | stat.S_IWGRP | stat.S_IWOTH))


def move_folder_to_hashed_archive(
    source_dir: str, hash_string: str, archive_dir: str, softlink: bool = False
) -> str:
    """Move ``source_dir`` to ``<archive_dir>/<hash_string>``.

    If the target already exists the source is deleted instead (content
    addressing makes them identical — dedupe, dirhash.py:568-570).  The
    archived tree is made read-only; optionally a symlink replaces the
    source (dirhash.py:662-682).  Returns the target path.
    """
    source_dir = source_dir.rstrip("/")
    target = os.path.join(archive_dir, hash_string)
    os.makedirs(archive_dir, exist_ok=True)
    if os.path.exists(target):
        shutil.rmtree(source_dir)
    else:
        shutil.move(source_dir, target)
        _chmod_readonly(target)
    if softlink and not os.path.exists(source_dir):
        os.symlink(target, source_dir)
    return target
