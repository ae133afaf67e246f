"""Scratch directories for the files a query stages on local disk.

Replays, round-trip scans and bucketed tables write files that the
returned DataFrame still reads lazily, so they cannot be removed when
the operator returns. Every such directory is created under one root
per process, and the root is removed when that process exits; the
exit hook compares ``os.getpid()`` with the creator, so a forked child
that exits never removes its parent's root (a child that stages files
gets a root of its own).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_root: str | None = None
_owner: int | None = None


def _remove(root: str, owner: int) -> None:
    if os.getpid() == owner:
        shutil.rmtree(root, ignore_errors=True)


def scratch_root() -> str:
    """this process's scratch root, created on first use."""
    global _root, _owner
    if _owner != os.getpid():
        _root, _owner = tempfile.mkdtemp(prefix="rsbsa_"), os.getpid()
        atexit.register(_remove, _root, _owner)
    return _root


def scratch_dir(prefix: str) -> str:
    """a new empty directory under the scratch root, removed with it
    at process exit."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())
