"""Run-scoped scratch directories (staging relations, throwaway
checkpoints, test sinks).

RAM-backed scratch (/dev/shm) when available, system tmp otherwise: the
consumers are all WITHIN-RUN artifacts — staged narrow relations that are
read back seconds later, availableNow checkpoint protocols, memory-sink
spill — where fsync latency is pure overhead (~25% of a small stream
query's wall time on this VM). Anything that must survive a process
(durable checkpoints, real sink output) takes an explicit caller-chosen
path instead; the restart-safety paths are tested with on-disk dirs in
tests/test_streaming.py.

On a cluster the analogue is executor local SSD / instance store for
shuffle+staging and durable shared storage for checkpoints — the split
is the same, only the mount points change.

:func:`scoped_scratch_dir` is removed when its block exits, for artifacts
nothing reads afterwards (an availableNow checkpoint). Every other
directory handed out here is registered for removal at process exit, and
callers whose staged relation is a pure function of their inputs should
take :func:`scratch_dir_keyed` — a memoized per-key path
reused across invocations (each call still rewrites it with
``mode("overwrite")``, so no work is skipped; only the mkdtemp-per-call
directory accumulation in a long-lived session goes away — ADVICE r11).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Iterator
from contextlib import contextmanager

_CREATED: list[str] = []
_KEYED: dict[tuple, str] = {}
_LOCK = threading.Lock()


def _base() -> str | None:
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


@atexit.register
def _cleanup() -> None:
    for d in _CREATED:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh throwaway directory, removed at process exit."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_base())
    with _LOCK:
        _CREATED.append(d)
    return d


@contextmanager
def scoped_scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh throwaway directory, removed when the block exits."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_base())
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir_keyed(prefix: str, *key) -> str:
    """One stable directory per (prefix, key), created on first use and
    reused by every later call with the same key — for staged relations
    that are rewritten wholesale (``mode("overwrite")``) on each
    invocation, where a fresh dir per call would only accumulate."""
    full = (prefix,) + key
    with _LOCK:
        d = _KEYED.get(full)
        if d is None:
            d = tempfile.mkdtemp(prefix=prefix, dir=_base())
            _KEYED[full] = d
            _CREATED.append(d)
        return d
