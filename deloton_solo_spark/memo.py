"""The engine's one memo mechanism, :class:`Memo`. ``catalog`` keeps its
footer schemas in one; :data:`ARTIFACTS` holds the corpus artifacts
(``similarity``'s checkpoints, ``dedup``'s parquet indexes and masks),
keyed by :func:`input_identity` so a corpus rewritten in place at the
same path is rebuilt, never served stale.
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


def input_identity(df) -> tuple | None:
    """``(uri, size, mtime_ns, footer digest)`` of each of ``df``'s
    input files; a parquet footer's length is in the file's last 8
    bytes. ``None`` if ``df`` reads no file or an input is not a
    readable local parquet file: the caller builds without memoizing."""
    ident = []
    for uri in sorted(df.inputFiles()):
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            with open(unquote(parsed.path), "rb") as f:
                st = os.fstat(f.fileno())
                f.seek(-8, os.SEEK_END)
                tail = f.read(8)
                if tail[4:] != b"PAR1":
                    return None
                f.seek(-8 - int.from_bytes(tail[:4], "little"), os.SEEK_END)
                footer = hashlib.blake2b(f.read(), digest_size=16).digest()
        except (OSError, ValueError):
            return None
        ident.append((uri, st.st_size, st.st_mtime_ns, footer))
    return tuple(ident) or None
