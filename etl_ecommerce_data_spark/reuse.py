"""Shared intermediates: computed once per query, never reused across queries.

The rule: ``shared(df)`` persists ``df`` at ``MEMORY_AND_DISK`` so every
consumer inside one query reads it once computed, and ``scoped(fn)``
unpersists all frames ``shared`` recorded when the next outermost scoped
call starts. Every registered builder (``plans.queries.register``) and every
public operator that calls ``shared`` is scoped, so a query's or a direct
operator call's frames live until the next such call, while an operator
called inside a builder releases nothing of the builder's.

Why it holds:

- ``persist`` is lazy. Nothing runs at build time; the frame materializes
  inside the consuming action, lineage is kept (a lost executor recomputes
  a partition rather than failing the job), and the full upstream plan stays
  visible under ``InMemoryRelation``.
- Spark's ``CacheManager`` matches cached plans by canonical form, so a
  re-invoked builder or operator would otherwise read the previous
  invocation's blocks. Releasing at each outermost start makes every
  invocation compute from its inputs, and bounds storage to one query's
  intermediates.
- Unpersisting a frame that an earlier, still-referenced DataFrame reads is
  safe: persistence never changes results, the plan recomputes from lineage.
- ``MEMORY_AND_DISK`` spills under memory pressure, and nothing outlives its
  query, so a corpus-scale frame cannot crowd out a later query's work.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []
_depth = 0


def shared(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the consumers of the current query."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(out)
    return out


def scoped(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """``fn``, first releasing every frame the previous outermost scoped
    call shared; a call nested in another scoped call releases nothing."""

    @functools.wraps(fn)
    def run(*args, **kwargs) -> DataFrame:
        global _depth
        if _depth == 0:
            _release()
        _depth += 1
        try:
            return fn(*args, **kwargs)
        finally:
            _depth -= 1

    return run


def _release() -> None:
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist(False)
        except Py4JError:  # its session has already stopped
            pass
