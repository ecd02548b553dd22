"""Scratch directories for the queries that write a layout copy, a sink
round-trip, a checkpoint or a state store.

Every scratch dir lives under ONE per-process root in the temp dir
(``TMPDIR``), created on first use and removed when the interpreter
exits, so a run leaves nothing behind in the temp dir.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

_ROOT: str | None = None


def _remove_root(root: str, owner_pid: int) -> None:
    # a forked child inherits the exit hook; only the creating process
    # may delete the root its still-running siblings write under
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh, not yet existing path ``<root>/<prefix>_<8 hex>``."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        atexit.register(_remove_root, _ROOT, os.getpid())
    return os.path.join(_ROOT, f"{prefix}_{uuid.uuid4().hex[:8]}")
