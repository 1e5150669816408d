"""Driver-side event log. ``event(name, **fields)`` appends ``(name,
fields)`` to every active recorder, a no-op when none is active;
``recording()`` yields the list of events raised inside its block. The
recorders sit in a ContextVar, so they nest and are per thread. Events are
raised where the driver already made the decision: they add no Spark job."""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

_recorders: ContextVar[tuple[list, ...]] = ContextVar("x5_obs_recorders", default=())


def event(name: str, **fields) -> None:
    for log in _recorders.get():
        log.append((name, fields))


@contextmanager
def recording():
    log: list[tuple[str, dict]] = []
    token = _recorders.set(_recorders.get() + (log,))
    try:
        yield log
    finally:
        _recorders.reset(token)
