"""Session cache registry for operator intermediates.

Several operators persist() an intermediate that feeds both sides of a
self-join (shingle tables, LSH signatures). The returned plans are lazy,
so the operator builders can't unpersist after the consuming action —
instead every persist is registered here and long-lived sessions release
the storage memory between operator calls via
:func:`unpersist_intermediates` (bench.py does this after each timed
query; one-shot driver runs don't need to).

:func:`persist_tracked` is lazy: the first action that reads the frame
fills the cache. :func:`materialize` fills it at once, with one eager
``count()`` job while the operator is being built — the contract for a
frame that feeds a broadcast build side, where a lazily persisted input
is recomputed rather than read from the cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Persist ``df`` (tracked) and fill the cache with an eager
    ``count()``: a lazily persisted input under a broadcast build side is
    recomputed instead of read from the cache, even inside one action
    (measured 280 s lazy vs 2 s eager on 1k docs)."""
    df = persist_tracked(df)
    df.count()
    return df


def unpersist_intermediates() -> None:
    """Release every operator-persisted intermediate in this session."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
