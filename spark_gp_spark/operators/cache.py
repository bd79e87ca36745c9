"""One lifetime rule for persisted relations that a returned lazy result
still reads.

``persist(df)`` persists the frame and registers it in the calling
context's open ``cache_scope()``.  The outermost scope's exit unpersists
every frame registered in it; a scope opened inside an open scope joins it,
so an inner exit releases nothing.  Because nothing is released while the
scope is open, a repeated call over the same input maps onto the same
cache entry and every lazy result built in the scope stays cheap to
collect.  With no scope open, a frame lives until its caller unpersists it
or calls ``spark.catalog.clearCache()`` — Spark's own rule.

The scope is a ``contextvars`` variable, so each thread sees only the
scope it opened.  A persist that the same function releases before it
returns does not go through here: it keeps its explicit ``unpersist``.
"""

from __future__ import annotations

import contextlib
import contextvars
from collections.abc import Iterator

from pyspark.sql import DataFrame

_scope: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "cache_scope", default=None
)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the open ``cache_scope()`` if there is one."""
    df = df.persist()
    frames = _scope.get()
    if frames is not None:
        frames.append(df)
    return df


@contextlib.contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist, at exit, every frame ``persist`` registered inside.  Nested
    scopes join the outermost one."""
    if _scope.get() is not None:
        yield
        return
    frames: list[DataFrame] = []
    token = _scope.set(frames)
    try:
        yield
    finally:
        _scope.reset(token)
        for df in frames:
            df.unpersist()
