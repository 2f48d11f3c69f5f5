"""Single-slot persisted-DataFrame cache (shared by packing/boilerplate).

Some operators fork their DAG (prefix-sum window branch + totals branch;
boilerplate digest-set branch + kept-sentence branch) and persist a
narrow base so the fork costs ONE corpus scan.  The consuming join is
lazy, so the operator cannot unpersist before returning — but letting
every call stack another cached RDD leaks cache for the session's
lifetime (ADVICE r2).  The compromise is a bounded SLOT: at most one
live cached frame per operator, the previous one released on the next
call, the last one via ``release()``.

Thread-safety (ADVICE r3): the swap is lock-guarded, so two threads
calling the owning operator concurrently can never double-unpersist or
leak a frame.  What a lock CANNOT fix is the single-consumer semantics:
call B releases call A's base (unless both bases have the same plan and
so share one cache entry), so if A's result is still lazy its subtree
recomputes on materialization — correct, just slower (persist keeps
lineage).  When composing two results of the same operator in one plan,
materialize the first before the second call.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame


class CacheSlot:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._df: DataFrame | None = None

    def swap(self, df: DataFrame | None) -> None:
        """Install ``df`` (already persisted by the caller) as the live
        frame, releasing the previous occupant — unless both have the
        same plan: Spark keeps ONE cache entry per plan, so a repeat
        call's ``persist`` reuses the previous entry, and unpersisting
        the previous frame would drop ``df``'s cache too."""
        with self._lock:
            prev, self._df = self._df, df
        if prev is not None and (df is None or not prev.sameSemantics(df)):
            prev.unpersist(blocking=False)

    def release(self) -> None:
        """Unpersist the live frame (no-op if empty)."""
        self.swap(None)

    def current(self) -> DataFrame | None:
        """The live frame (None if empty) — for the owning operator's
        same-call chain only; other callers must not rely on it."""
        with self._lock:
            return self._df
