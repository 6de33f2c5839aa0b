"""Per-owner memo stores: the one policy behind every driver-side cache.

A key starts with ``id(owner)`` (a session or an input DataFrame); each
entry pins its owner, so the id cannot be reused while the entry lives,
and a lookup hits only when the pinned owner ``is`` the caller's.
Eviction is FIFO at the store's bound. Dict operations hold the store's
lock; ``build()`` runs outside it, since a build can re-enter another
store (a registry query reads its tables through the scan store). Racing
misses may both build: the first value stored wins and both return it.
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Callable
from typing import Any

_STORES: weakref.WeakSet[Memo] = weakref.WeakSet()  # every live store, for clear_all()


class Memo:
    """Bounded FIFO map ``(id(owner), *key) -> value``, pinning owners."""

    def __init__(self, bound: int):
        self._bound = bound
        self._entries: dict[tuple, tuple[object, Any]] = {}
        self._lock = threading.Lock()
        _STORES.add(self)

    def get_or_build(self, owner: object, key: tuple, build: Callable[[], Any]) -> Any:
        """The value stored for (owner, key), else ``build()``'s result,
        stored unless it is None."""
        full = (id(owner), *key)
        with self._lock:
            hit = self._entries.get(full)
        if hit is None or hit[0] is not owner:
            value = build()
            if value is None:
                return None
            with self._lock:
                hit = self._entries.get(full)
                if hit is None or hit[0] is not owner:
                    if len(self._entries) >= self._bound:
                        del self._entries[next(iter(self._entries))]
                    hit = self._entries[full] = (owner, value)
        return hit[1]

    def __contains__(self, full_key: tuple) -> bool:
        with self._lock:
            return full_key in self._entries

    def __len__(self) -> int:
        with self._lock:
            return len(self._entries)

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()


def clear_all() -> None:
    """Empty every store in the process (tests / long-lived drivers)."""
    for store in list(_STORES):
        store.clear()
