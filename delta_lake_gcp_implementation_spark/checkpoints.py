"""Checkpoint ownership: which scope frees a ``localCheckpoint``'s blocks.

``DataFrame.unpersist()`` talks only to the SQL CacheManager and does
not drop localCheckpoint blocks; those go when the JVM GCs the RDD and
the ContextCleaner runs, which a long-lived driver never does in time
(at 1M-doc ingest batches the pinned blocks filled executor storage by
batch 3).  So every checkpoint in the package is made by
:func:`checkpoint`, which records the new frame's RDD in the current
owner, and :func:`owned_checkpoints` frees exactly the RDDs its own
scope recorded when it exits, even on error.  A scope never touches
blocks it did not make: the caller's frames, a sibling thread's
in-flight frames (a new thread starts with an empty context, hence no
owner) and session memo frames (built under :func:`session_owned`) all
survive it.  Scopes nest; an inner scope frees only its own.  With no
owner, a checkpoint lives as long as its frame is referenced.
"""

from __future__ import annotations

import contextvars
from contextlib import contextmanager

from pyspark.sql import DataFrame

_OWNER: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "checkpoint_owner", default=None
)


def checkpoint(df: DataFrame) -> DataFrame:
    """Local-checkpoint ``df`` (eagerly, Spark's default); the enclosing
    scope owns the blocks."""
    cp = df.localCheckpoint()
    owner = _OWNER.get()
    if owner is not None:
        # the frame's plan is a LogicalRDD over exactly the persisted RDD
        owner.append(cp._jdf.queryExecution().analyzed().rdd())
    return cp


@contextmanager
def _owner(owner: list | None):
    token = _OWNER.set(owner)
    try:
        yield
    finally:
        _OWNER.reset(token)


@contextmanager
def owned_checkpoints():
    """Free, on exit, every checkpoint made in this scope."""
    owned: list = []
    try:
        with _owner(owned):
            yield
    finally:
        for rdd in owned:
            rdd.unpersist(False)


def session_owned():
    """Checkpoints made in this scope outlive every enclosing scope."""
    return _owner(None)
