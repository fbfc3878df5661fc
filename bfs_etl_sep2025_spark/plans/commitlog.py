"""One link-commit log: the commit protocol of every durable state change.

A log is a directory of entries ``v<N>.json``; its head is the highest
linked N (0 when there is none). ``VersionedTable`` manifests, the COPY
load ledger (one log per target table) and STREAM offsets (one log per
stream) are all logs.

Commit protocol (the whole trick): whatever an entry will name is written
in full first, invisible to readers, who follow only linked entries. The
entry's json then goes to a temp name in the log directory, is fsynced,
and ``os.link`` publishes it as ``v<N>.json``: an atomic create-if-absent
with the full content, so an entry is never seen torn or empty. The link
is the commit point. Concurrency is optimistic: if another writer linked
vN first, the link fails and :class:`ConcurrentWriteError` tells the loser
to retry from fresh state, never clobbering. A writer that dies before the
link leaves only a temp file and what it staged; readers still see the old
head and the next writer commits vN.

Paths are POSIX-local (a plain path or a ``file:`` URI); any other scheme
raises at once. The protocol needs an atomic create-if-absent of the entry
name — ``link`` on POSIX, a no-overwrite rename on HDFS, a conditional put
(``If-None-Match: *``) on object stores — and this module is the one place
such a port lands.
"""

from __future__ import annotations

import json
import os
import re
import uuid

_ENTRY = re.compile(r"v(\d+)\.json")


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this commit was based on."""


class CommitLog:
    def __init__(self, root: str) -> None:
        scheme = re.match(r"([A-Za-z][\w+.-]*):", root)
        if scheme and scheme.group(1).lower() != "file":
            raise ValueError(
                f"commit log {root!r}: only local POSIX paths can link-commit"
            )
        self.root = os.path.abspath(re.sub(r"^file:(//)?", "", root))

    def path(self, n: int) -> str:
        return os.path.join(self.root, f"v{n:05d}.json")

    def versions(self) -> list[int]:
        """Committed entries by number (never by name: v100000 follows
        v99999); temp files of writers that never linked do not count."""
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return []
        return sorted(int(m.group(1)) for m in map(_ENTRY.fullmatch, names) if m)

    def head(self) -> int:
        return max(self.versions(), default=0)

    def read(self, n: int) -> dict:
        with open(self.path(n)) as f:
            return json.load(f)

    def entries(self) -> list[dict]:
        return [self.read(n) for n in self.versions()]

    def append(self, n: int, entry: dict) -> int:
        """Link ``entry`` as ``v<n>.json``, or raise ConcurrentWriteError
        when another writer already committed ``n``."""
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, f".v{n}-{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self.path(n))
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {n} of {self.root} was committed by another "
                "writer; re-read and retry"
            ) from None
        finally:
            os.unlink(tmp)
        return n
