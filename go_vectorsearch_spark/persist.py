"""Persist ownership, the one module that calls ``persist``/``unpersist``.

``persist`` registers a plan in the session's CacheManager until
something calls ``unpersist`` — which evicts whichever entry is
*plan-equal* to its frame, whoever created it. So every entry the
package creates has one owner, a :class:`Scope`, and only it releases it:

- **hold**: persist a frame at :data:`LEVEL` and own it. A frame whose
  plan is already cached is *borrowed*: used as is, never released here.
- **release**: drop an owned frame before the scope ends (a fixpoint's
  superseded pass); a no-op for a frame the scope does not own.
- **hand_off** / **adopt**: pass an owned frame (a fixpoint's persisted
  result) to the caller, whose scope adopts it. A caller outside the
  package releases a handed-off frame itself, with ``unpersist()``.
- **exit**: release everything still owned, on every exit path.

A function that returns a lazy frame owns nothing after it returns.
Frames that outlive a call (the registry's caches, a stream's static
side) belong to :func:`session_scope`, which lives as long as its session.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

LEVEL = StorageLevel.MEMORY_AND_DISK_DESER
_HANDED_OFF = "_gvs_handed_off"  # set on a frame between hand_off and adopt


def is_cached(df: DataFrame) -> bool:
    """True when a plan-equal entry of ``df`` is in the CacheManager."""
    level = df.storageLevel
    return level.useMemory or level.useDisk


class Scope:
    """The owner of the cache entries one call (or one session) creates."""

    def __init__(self) -> None:
        self._owned: list[DataFrame] = []
        self._lock = threading.Lock()  # the session scope is shared

    def __enter__(self) -> Scope:
        return self

    def __exit__(self, *exc) -> None:
        with self._lock:
            owned, self._owned = self._owned, []
        for df in reversed(owned):
            df.unpersist()

    def _own(self, df: DataFrame) -> DataFrame:
        with self._lock:
            self._owned.append(df)
        return df

    def _take(self, df: DataFrame) -> bool:
        with self._lock:
            for i, owned in enumerate(self._owned):
                if owned is df:
                    del self._owned[i]
                    return True
        return False

    def hold(self, df: DataFrame) -> DataFrame:
        return df if is_cached(df) else self._own(df.persist(LEVEL))

    def release(self, df: DataFrame) -> None:
        if self._take(df):
            df.unpersist()

    def hand_off(self, df: DataFrame) -> DataFrame:
        if self._take(df):
            vars(df)[_HANDED_OFF] = True
        return df

    def adopt(self, df: DataFrame) -> DataFrame:
        # vars(): DataFrame.__getattr__ would resolve a column name
        return self._own(df) if vars(df).pop(_HANDED_OFF, False) else df


def session_scope(spark: SparkSession) -> Scope:
    """The scope attached to ``spark``, which never exits."""
    return vars(spark).setdefault("_gvs_persist_scope", Scope())
