"""The one owner of operator scratch space (replays, sinks, handoffs).

Each process lazily creates one root, ``<tmp>/bdt_spark_scratch/
<pid>-<uuid8>/``, and holds an exclusive ``flock`` on ``<root>.lock``
for its whole life; an atexit hook in the creating process removes the
root.  On first use a process also removes every sibling root whose
lock it can take: the kernel drops a lock on any exit (SIGKILL
included), so a free lock means a dead owner, whatever its pid was.
Labels are therefore private to one process, and a crashed run's
scratch is reclaimed by the next run.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import os
import shutil
import tempfile
import uuid
from typing import IO

_BASE = os.path.join(tempfile.gettempdir(), "bdt_spark_scratch")
_root = ""


def _reap() -> None:
    """Remove every sibling root whose lock is free (its owner exited)."""
    for name in os.listdir(_BASE):
        if name.endswith(".lock"):
            lock = os.path.join(_BASE, name)
            with contextlib.suppress(OSError), open(lock) as fh:
                fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
                shutil.rmtree(lock[: -len(".lock")], ignore_errors=True)
                os.unlink(lock)


def _remove(root: str, creator: int, lock: IO[str]) -> None:
    if os.getpid() == creator:  # a forked child must not delete it
        shutil.rmtree(root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.unlink(root + ".lock")
        lock.close()


def path(label: str) -> str:
    """Where ``label`` lives in this process's root (creates the root)."""
    global _root
    if not _root:
        os.makedirs(_BASE, exist_ok=True)
        _reap()
        while True:  # a concurrent reaper may unlink the lock before we hold it
            root = os.path.join(_BASE, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
            fh = open(root + ".lock", "w")
            fcntl.flock(fh, fcntl.LOCK_EX)
            if os.path.exists(root + ".lock"):
                break
            fh.close()
        os.makedirs(root)
        _root = root
        atexit.register(_remove, root, os.getpid(), fh)
    return os.path.join(_root, label)


def fresh(label: str) -> str:
    """An empty directory for ``label``; its previous contents are gone."""
    p = path(label)
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p, exist_ok=True)
    return p


def tag(sf_dir: str) -> str:
    """Label part for a fixture dir: its basename plus a hash of its
    absolute path, so two dirs that share a basename never collide."""
    p = os.path.abspath(sf_dir)
    return f"{os.path.basename(p)}_{hashlib.md5(p.encode()).hexdigest()[:8]}"
