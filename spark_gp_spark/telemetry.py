"""One telemetry path: where a caller's time went, recorded per caller.

``record()`` opens a list in the calling context and yields it; ``span``
and ``event`` append ``{"kind", "stage", "s", **extra}`` rows to it while
it is open.  A record opened inside an open record joins it, so the
outermost caller sees every row.  With no record open, ``span`` and
``event`` store nothing, so a long-lived process accumulates no rows.

The record is a ``contextvars`` variable, so each thread sees only the
record it opened.

    with record() as rows:
        df = QUERIES["ivf_topk_auto"](spark, sf_dir)
    plan_build_s = sum(r["s"] for r in rows if r["stage"] == "plan_build")
"""

from __future__ import annotations

import contextlib
import contextvars
import time
from collections.abc import Iterator

_rows: contextvars.ContextVar[list[dict] | None] = contextvars.ContextVar(
    "telemetry_record", default=None
)


@contextlib.contextmanager
def record() -> Iterator[list[dict]]:
    """Yield the list every ``span``/``event`` inside appends to.  Nested
    records join the outermost one."""
    rows = _rows.get()
    if rows is not None:
        yield rows
        return
    rows = []
    token = _rows.set(rows)
    try:
        yield rows
    finally:
        _rows.reset(token)


def event(kind: str, stage: str, seconds: float = 0.0, **extra) -> None:
    """Append one row to the open record, if there is one."""
    rows = _rows.get()
    if rows is not None:
        rows.append({"kind": kind, "stage": stage, "s": round(seconds, 3), **extra})


@contextlib.contextmanager
def span(kind: str, stage: str, **extra) -> Iterator[None]:
    """Time the body and ``event`` its wall seconds when it returns."""
    t0 = time.perf_counter()
    yield
    event(kind, stage, time.perf_counter() - t0, **extra)
