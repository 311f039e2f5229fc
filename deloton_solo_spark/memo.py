"""The engine's one memo mechanism, :class:`Memo`. ``catalog`` keeps its
footer schemas in one; ``api`` keeps its resolved route frames in one
(8 entries; a local one holds its relation and its serialized rows,
each within the broadcast threshold, and key indexes that grow with
its row count);
:data:`ARTIFACTS` holds the corpus artifacts (``similarity``'s
checkpoints, ``dedup``'s parquet indexes and masks). The last two are
keyed by :func:`input_identity` of their files, so a table or corpus
rewritten in place at the same path is rebuilt, never served stale.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse


class Memo:
    """A thread-safe LRU of at most ``size`` entries, each with an owner
    and an optional ``cleanup``. Storing an entry for a new owner first
    drops every other owner's entries; past the bound the least
    recently used entry is dropped. Cleanups run outside the lock."""

    def __init__(self, size: int) -> None:
        self.size = size
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def keys(self) -> list:
        with self._lock:
            return list(self._entries)

    def get_or_put(self, key, build, owner=None, cleanup=None):
        """The value under ``key``, now the most recently used; on a
        miss, ``build()`` runs outside the lock and its result is
        stored."""
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                return self._entries[key][0]
        value = build()
        self.put(key, value, owner, cleanup)
        return value

    def put(self, key, value, owner=None, cleanup=None) -> None:
        with self._lock:
            dropped = [
                self._entries.pop(k)
                for k, (_, o, _) in list(self._entries.items())
                if o != owner
            ]
            self._entries[key] = (value, owner, cleanup)
            self._entries.move_to_end(key)
            while len(self._entries) > self.size:
                dropped.append(self._entries.popitem(last=False)[1])
        for _, _, fn in dropped:
            if fn is not None:
                fn()


#: Corpus artifacts, owned by their SparkContext's applicationId (a
#: stopped context's checkpoints are unusable). The tier-1 suite peaks
#: at 21 entries and a benchmark run at 16, so neither ever evicts.
ARTIFACTS = Memo(128)


def input_identity(paths) -> tuple | None:
    """``(path, size, mtime_ns, ctime_ns, footer digest)`` of each file
    in ``paths`` (local paths or ``file:`` URIs, such as a frame's
    ``inputFiles()``); a parquet footer's length is in the file's last
    8 bytes. A rewrite can keep the size and the footer (same row
    groups and statistics) and reset the mtime with ``os.utime``, but
    it cannot reset the ctime. ``None`` if ``paths`` is empty or a path
    is not a readable local parquet file: the caller builds without
    memoizing."""
    ident = []
    for uri in sorted(paths):
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        local = unquote(parsed.path) if parsed.scheme else uri
        try:
            with open(local, "rb") as f:
                st = os.fstat(f.fileno())
                f.seek(-8, os.SEEK_END)
                tail = f.read(8)
                if tail[4:] != b"PAR1":
                    return None
                f.seek(-8 - int.from_bytes(tail[:4], "little"), os.SEEK_END)
                footer = hashlib.blake2b(f.read(), digest_size=16).digest()
        except (OSError, ValueError):
            return None
        ident.append((uri, st.st_size, st.st_mtime_ns, st.st_ctime_ns, footer))
    return tuple(ident) or None
