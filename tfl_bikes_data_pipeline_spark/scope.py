"""The query scope: every relation or broadcast a query keeps past its
own return.

A query builder returns a lazy DataFrame, so a relation it persists
(or a broadcast it ships) must outlive the builder until the caller has
materialized the result. Builders register that state here instead of
releasing it themselves; :func:`release` unpersists all of it.
``registry`` calls :func:`release` before it builds each query, so a
harness that runs queries one after another holds at most one query's
state, and harnesses that time queries call it after each query's runs.

Release unpersists and never destroys: a frame built earlier stays
evaluable and only recomputes what was released.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame

_HELD: list[DataFrame | Broadcast] = []


def register(resource: DataFrame | Broadcast) -> DataFrame | Broadcast:
    """Hold an already persisted frame or a broadcast until the next
    :func:`release`; returns it."""
    _HELD.append(resource)
    return resource


def retain(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) for the rest of the query.

    Lazy on purpose: most retained relations are read by scans inside
    one downstream job, where cache population shares a single
    evaluation, and an eager ``count()`` here only serialized the
    pipeline (+0.2-1.1 s per query at sf0.1). An iterative consumer
    whose first job reads the unpopulated cache from several stages
    must materialize it at its own site (``connected_components``,
    ``textrank_keywords``)."""
    return register(df.persist(StorageLevel.MEMORY_AND_DISK))


def release() -> None:
    """Unpersist everything held. An empty scope makes no JVM call."""
    while _HELD:
        _HELD.pop().unpersist()
