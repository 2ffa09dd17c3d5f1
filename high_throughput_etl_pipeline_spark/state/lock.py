"""Driver lock: one live driver per state table (the reference's ``LOCK#``
rows, lambda_manifest_builder.py:1218-1229; DEVELOPER_GUIDE.md:154-163).

The state tables are plain Parquet with no multi-writer transaction
(tracker.py header), so a second driver attaching to a live state path
must fail fast instead of interleaving partition rewrites.  The lock is a
non-blocking exclusive ``flock`` on the lock file: the kernel keeps one
holder and frees the lock when :meth:`DriverLock.release` closes the
descriptor or the holder's process dies.  The reference's lock row needs
a TTL because a Lambda cannot hold a lock past a crash; a kernel lock
dies with its holder, so there is no expiry, no steal and no stale state.

The file is never unlinked: were a holder to unlink it and then release,
a process that had already opened the old inode could lock it while a
third locked the new file, and both would hold the lock.  Drivers on
several hosts need a shared file system that honours ``flock``.
"""

from __future__ import annotations

import fcntl
import os
import socket
from contextlib import contextmanager, suppress


class LockHeldError(RuntimeError):
    """Another live driver holds the lock."""


class DriverLock:
    def __init__(self, path: str):
        self.path = path
        self._fd: int | None = None

    def acquire(self) -> None:
        """Take the lock, held until :meth:`release` or process exit, or
        raise :class:`LockHeldError` at once."""
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        fd = os.open(self.path, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError as exc:
            holder = os.read(fd, 256).decode(errors="replace").strip()
            os.close(fd)
            if not isinstance(exc, BlockingIOError):
                raise
            raise LockHeldError(
                f"state lock {self.path} held by {holder or 'unknown'!r}; a "
                "second driver must not attach to a live state table"
            ) from None
        self._fd = fd
        with suppress(OSError):  # the owner line only names the holder
            os.ftruncate(fd, 0)
            os.write(fd, f"{socket.gethostname()} pid {os.getpid()}\n".encode())

    def release(self) -> None:
        """Drop the lock; the file stays in place."""
        fd, self._fd = self._fd, None
        if fd is not None:
            os.close(fd)

    @contextmanager
    def hold(self):
        self.acquire()
        try:
            yield self
        finally:
            self.release()
