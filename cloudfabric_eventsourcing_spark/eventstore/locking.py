"""Exclusive advisory file lock shared by the parquet event store and the
JSON metadata repository.

`fcntl.flock` locks belong to the open file description, so two `open()`
calls on one path exclude each other across threads and processes alike,
and the kernel drops the lock when its holder closes the file, exits or
is killed — the liveness a Postgres row lock gets from its transaction
(PostgresqlEventStore.cs:386-409).  Lock files are never unlinked:
removing a file another contender has opened but not yet locked would
let two holders lock two different inodes under one path.
"""

from __future__ import annotations

import contextlib
import fcntl
import logging
import os
import time

log = logging.getLogger(__name__)


@contextlib.contextmanager
def exclusive_lock(path: str, timeout: float):
    """Hold an exclusive flock on `path` (created if missing) for the
    body; raise TimeoutError if it cannot be taken within `timeout`
    seconds."""
    fd = os.open(path, os.O_CREAT | os.O_WRONLY)
    try:
        deadline = time.monotonic() + timeout
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() > deadline:
                    log.warning("lock %s still held after %.1f s", path, timeout)
                    raise TimeoutError(f"could not acquire {path}") from None
                time.sleep(0.01)
        yield
    finally:
        os.close(fd)  # releases this open file description's flock
