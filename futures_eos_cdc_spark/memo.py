"""Session-scoped memo for driver-side artifacts: table handles, trained
models and prepared indexes.

Each artifact is a pure function of its key within one SparkContext, but
holds JVM plans or py4j references that die with that context. ``memo``
keys every value on (active ``applicationId``, ``key``); a miss drops every
other application's entries (one SparkContext is active per process, so
those pin a stopped session's plans), and each namespace — ``key[0]`` —
keeps at most ``MAX_PER_NAMESPACE`` entries, least recently used first out,
so a long session that retrains models does not keep every one alive.
Values are held by strong reference: a caller may key on ``id(obj)`` if the
value pins ``obj``.
"""

from __future__ import annotations

from collections import OrderedDict

MAX_PER_NAMESPACE = 32

_ENTRIES: OrderedDict = OrderedDict()  # (applicationId, key) -> value
_COUNTS: dict[str, int] = {}


def _app_id() -> str | None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return sc.applicationId if sc is not None else None


def _count(ns: str, what: str) -> None:
    name = f"memo.{ns}.{what}"
    _COUNTS[name] = _COUNTS.get(name, 0) + 1


def memo(key: tuple, build):
    """The value for ``key`` (a tuple led by a namespace string) in the
    active application, calling ``build()`` on a miss. A raising build
    stores nothing."""
    app, ns = _app_id(), key[0]
    full = (app, key)
    if full in _ENTRIES:
        _ENTRIES.move_to_end(full)
        _count(ns, "hits")
        return _ENTRIES[full]
    _count(ns, "misses")
    for k in [k for k in _ENTRIES if k[0] != app]:
        del _ENTRIES[k]
    value = _ENTRIES[full] = build()
    same_ns = [k for k in _ENTRIES if k[1][0] == ns]
    for k in same_ns[: max(0, len(same_ns) - MAX_PER_NAMESPACE)]:
        del _ENTRIES[k]
    return value


def forget(ns: str) -> None:
    """Drop every entry of namespace ``ns``."""
    for k in [k for k in _ENTRIES if k[1][0] == ns]:
        del _ENTRIES[k]


def counters() -> dict[str, int]:
    """Per-namespace ``memo.<ns>.hits`` / ``memo.<ns>.misses`` since import."""
    return dict(_COUNTS)
