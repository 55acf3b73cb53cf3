"""The one writer of every small metadata file a lake keeps beside its data
(snapshot manifests, CURRENT and branch heads, the snapshot-id
high-watermark, tags, consumers, staged WAP batches, Delta-export versions).

* :func:`claim` creates a name exactly once, and only after its text is
  fsynced: a reader never sees a partial file, and a failed write leaves
  no named file behind.
* :func:`replace` atomically moves a name to new text.
* :func:`locked` serialises a read-check-replace; the kernel drops the lock
  with the process, so a crash leaves no stale lock.
* :class:`RefStore` is one kind of named ref file on top of them.
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import uuid
from dataclasses import dataclass
from typing import Iterator


def _durable_tmp(path: str, text: str) -> str:
    tmp = os.path.join(os.path.dirname(path), f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def claim(path: str, text: str) -> None:
    """Create ``path`` holding ``text``; ``FileExistsError`` if it exists."""
    tmp = _durable_tmp(path, text)
    try:
        os.link(tmp, path)
    finally:
        os.remove(tmp)


def replace(path: str, text: str) -> None:
    """Atomically make ``path`` hold ``text``, whether or not it exists."""
    os.replace(_durable_tmp(path, text), path)


@contextlib.contextmanager
def locked(path: str) -> Iterator[None]:
    """Hold an exclusive flock on the lock file ``path``."""
    with open(path, "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


@dataclass(frozen=True)
class RefStore:
    """The ``kind`` refs of one lake: files ``<lake>/<prefix><name><suffix>``."""

    lake: str
    kind: str
    prefix: str
    suffix: str

    def path(self, name: str) -> str:
        """The file of ref ``name``; ``ValueError`` unless ``name`` is a
        plain, non-hidden file name."""
        if not name or name != os.path.basename(name) or name.startswith("."):
            raise ValueError(f"invalid {self.kind} name {name!r}")
        return os.path.join(self.lake, f"{self.prefix}{name}{self.suffix}")

    def names(self) -> list[str]:
        end = len(self.suffix)
        return sorted(
            fn[len(self.prefix):len(fn) - end]
            for fn in os.listdir(self.lake)
            if fn.startswith(self.prefix) and fn.endswith(self.suffix)
        )

    def _missing(self, name: str) -> KeyError:
        return KeyError(
            f"no {self.kind} {name!r} on table {os.path.dirname(self.lake)} "
            f"({self.kind} names: {self.names()})"
        )

    def read(self, name: str) -> str:
        try:
            with open(self.path(name)) as f:
                return f.read()
        except FileNotFoundError:
            raise self._missing(name) from None

    def create(self, name: str, text: str) -> None:
        """Claim ``name``; ``ValueError`` if it exists (a ref never silently
        moves — drop it first)."""
        try:
            claim(self.path(name), text)
        except FileExistsError:
            raise ValueError(
                f"{self.kind} {name!r} already exists; drop it first"
            ) from None

    def drop(self, name: str) -> None:
        try:
            os.remove(self.path(name))
        except FileNotFoundError:
            raise self._missing(name) from None
