"""Process-scoped scratch-directory root.

Queries that materialize through the filesystem (bounded-stream
parquet drains, persisted ANN/dedup index caches, bucketed-table
scratch, the registry's build-once artifacts) get their directories
here instead of from a bare ``tempfile.mkdtemp``, which would leak a
handful of directories per bench/test run. One root per process,
removed at interpreter exit, so every scratch path disappears together
without each call site owning a ``finally``. Within the process the dirs stay
alive as long as any DataFrame might lazily re-read them — exactly
the lifetime a cached persisted index or a drained sink needs.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_ROOT: str | None = None


def scratch_root() -> str:
    """The per-process scratch root, created on first use and removed
    via ``atexit``."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="kcbdml9_scratch_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def scratch_dir(prefix: str) -> str:
    """A fresh directory under :func:`scratch_root` — same contract as
    ``tempfile.mkdtemp(prefix=...)`` but reclaimed at process exit."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())
