"""Bounded cache for eagerly-materialized per-(session, sf_dir) stores.

`spatial_mm._spatial_layers` and `geo_analytics._geo_store` build a
synthetic polygon store once per session (ingest-once / query-many, the
reference's load_data.py vs app.py split) and pin it with
`session.checkpoint`. A plain module dict keyed by ``(id(spark), sf_dir)``
has two failure modes the property harnesses exposed in review:

* unbounded growth — harnesses that iterate many random sf_dirs
  accumulate checkpoint RDD blocks for the whole session lifetime;
* ``id()`` reuse — after a session is GC'd, a new session can be
  allocated at the same address and silently inherit the dead session's
  (unusable) checkpointed DataFrames.

This cache fixes both: LRU eviction above ``maxsize`` entries, and a
``weakref.finalize`` per session that drops all of that session's
entries the moment the session object is collected, so a recycled id()
can never alias a live entry.
"""

from __future__ import annotations

import weakref
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class MaterializedStoreCache:
    """LRU cache of materialized stores, session-lifetime aware.

    Eager release: ``df.rdd.unpersist`` does NOT free a localCheckpoint —
    ``df.rdd`` wraps the internal checkpointed RDD in a NEW derived RDD,
    so unpersisting it never touches the persisted blocks (verified
    empirically against ``sc.getPersistentRDDs``, r10 ADVICE). Instead
    the cache diffs the JVM's persistent-RDD map around ``build()`` and
    stores the JavaRDD handles that appeared; eviction unpersists those
    handles directly, which drops the BlockManager entries now rather
    than at some future GC + ContextCleaner cycle.

    Single-threaded assumption (r11 advice): the diff-around-build
    capture claims EVERY RDD persisted during the window — an RDD
    persisted concurrently by another thread sharing this SparkContext
    would be captured too and unpersisted on eviction, dropping someone
    else's cached blocks. The gate/bench/pytest drivers run entries
    sequentially on one thread, so this cannot occur today; if entries
    ever run in parallel sessions-sharing-a-context, narrow the capture
    (match the localCheckpoint RDD names/callsites) before relying on
    eviction."""

    def __init__(self, maxsize: int = 4) -> None:
        self._maxsize = maxsize
        # key -> (df, [JavaRDD handles persisted during build])
        self._data: OrderedDict[tuple[int, str], tuple[DataFrame, list]] = (
            OrderedDict()
        )
        self._finalized: set[int] = set()

    def get_or_build(
        self, spark: SparkSession, sf_dir: str, build: Callable[[], DataFrame]
    ) -> DataFrame:
        key = (id(spark), sf_dir)
        hit = self._data.get(key)
        if hit is not None:
            self._data.move_to_end(key)
            return hit[0]
        before = self._persistent_ids(spark)
        df = build()
        handles = self._new_persistent_handles(spark, before)
        sid = id(spark)
        if sid not in self._finalized:
            self._finalized.add(sid)
            weakref.finalize(spark, self._evict_session, sid)
        self._data[key] = (df, handles)
        while len(self._data) > self._maxsize:
            _, (_, old_handles) = self._data.popitem(last=False)
            self._release(old_handles)
        return df

    @staticmethod
    def _persistent_ids(spark: SparkSession) -> set[int]:
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            return {int(k) for k in jmap.keySet().toArray()}
        except Exception:
            return set()

    @staticmethod
    def _new_persistent_handles(spark: SparkSession, before: set[int]) -> list:
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            return [
                jmap.get(k)
                for k in jmap.keySet().toArray()
                if int(k) not in before
            ]
        except Exception:
            return []

    @staticmethod
    def _release(handles: list) -> None:
        """EAGER release of an evicted store's checkpoint blocks via the
        JavaRDD handles captured at build time (see class docstring).
        Failures (dead session, already released) are swallowed —
        eviction must never raise."""
        for h in handles:
            try:
                h.unpersist(False)
            except Exception:
                pass

    def _evict_session(self, sid: int) -> None:
        # Session is being GC'd — its JVM side may be gone, so only drop
        # the Python references here (no _release: that needs the JVM).
        self._finalized.discard(sid)
        for k in [k for k in self._data if k[0] == sid]:
            self._data.pop(k, None)

    def __len__(self) -> int:  # for tests
        return len(self._data)
