"""The one cache for state derived from fixture tables.

An entry is keyed by (session, ``abspath(sf_dir)``, name), pins its
session so the ``id()`` key cannot alias a later one, and is rebuilt
when the ``(mtime_ns, size)`` of a source table changes; the old value
then goes to the entry's ``release``. ``by_object`` entries are keyed
by a pinned object instead, under the LRU bound ``OBJECT_ENTRIES``.
Two threads that miss on one key both build it; the later store wins.
"""

from __future__ import annotations

import dataclasses
import os
import threading
import time
from collections import OrderedDict

# Steady-state hits come from the session-memoized scans, a handful per
# session and sf_dir; any other object is a fresh DataFrame that would
# otherwise stay pinned for the life of the process.
OBJECT_ENTRIES = 32


@dataclasses.dataclass
class Stats:
    builds: int = 0
    hits: int = 0
    build_s: float = 0.0


_LOCK = threading.Lock()
# (id(session), abspath(sf_dir), name) -> (stamp, session, value, release)
_ENTRIES: dict[tuple, tuple] = {}
# (name, id(obj)) -> (obj, value), least recently used first
_OBJECTS: OrderedDict[tuple, tuple] = OrderedDict()
_STATS: dict[str, Stats] = {}


def _stamp(sf_dir: str, tables) -> tuple:
    from mongo_to_clickhouse_spark.io import table_path

    stats = [os.stat(table_path(sf_dir, t)) for t in tables]
    return tuple((st.st_mtime_ns, st.st_size) for st in stats)


def _build(name: str, build):
    t0 = time.perf_counter()
    value = build()
    with _LOCK:
        s = _STATS.setdefault(name, Stats())
        s.builds += 1
        s.build_s += time.perf_counter() - t0
    return value


def get(spark, sf_dir: str, name: str, build, tables, release=None):
    """The value cached under (spark, sf_dir, name), built with
    ``build()`` on a miss or when a table in ``tables`` changed on
    disk. ``release(old_value)`` runs when the entry is replaced or
    cleared."""
    key = (id(spark), os.path.abspath(sf_dir), name)
    stamp = _stamp(sf_dir, tables)
    with _LOCK:
        hit = _ENTRIES.get(key)
        if hit is not None and hit[0] == stamp:
            _STATS.setdefault(name, Stats()).hits += 1
            return hit[2]
        stale = _ENTRIES.pop(key, None)
    if stale is not None and stale[3] is not None:
        stale[3](stale[2])
    value = _build(name, build)
    with _LOCK:
        _ENTRIES[key] = (stamp, spark, value, release)
    return value


def by_object(obj, name: str, build):
    """The value cached under (name, obj), built with ``build()`` on a
    miss. The entry pins ``obj``, so its ``id()`` is not reused while
    the entry lives."""
    key = (name, id(obj))
    with _LOCK:
        hit = _OBJECTS.get(key)
        if hit is not None:
            _OBJECTS.move_to_end(key)
            _STATS.setdefault(name, Stats()).hits += 1
            return hit[1]
    value = _build(name, build)
    with _LOCK:
        _OBJECTS[key] = (obj, value)
        while len(_OBJECTS) > OBJECT_ENTRIES:
            _OBJECTS.popitem(last=False)
    return value


def stats(name: str) -> Stats:
    """A copy of the builds / hits / build seconds counted for ``name``."""
    with _LOCK:
        return dataclasses.replace(_STATS.get(name, Stats()))


def entries(name: str) -> int:
    """How many live entries ``name`` has."""
    with _LOCK:
        return (sum(k[2] == name for k in _ENTRIES)
                + sum(k[0] == name for k in _OBJECTS))


def clear() -> None:
    """Drop every entry and counter, releasing each entry's resource and
    the sessions and objects the entries pin."""
    with _LOCK:
        dropped = list(_ENTRIES.values())
        _ENTRIES.clear()
        _OBJECTS.clear()
        _STATS.clear()
    for _, _, value, release in dropped:
        if release is not None:
            release(value)
