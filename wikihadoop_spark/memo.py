"""One bounded memo for driver-side plan construction.

Building a query from PySpark is py4j traffic: every Column, literal
and reader call is a JVM round trip on the driver, and a long-lived
driver builds the same catalog queries again and again.  Unresolved
Columns and DataFrames are immutable plan objects, so the work of
building them can be reused; every action on a memoized plan still
runs its full job, and no row or result is stored here.

Key rule.  An entry is stored under ``(scope, key)``:

- Columns take the live SparkContext, :func:`context`: their literals
  hold JVM references, so a restarted context rebuilds them.
- Anything that holds a DataFrame takes the caller's session,
  :func:`session`, so a frame is always bound to, and planned under,
  the session that asked for it.
- Plain Python values take ``None``.

A key that depends on files carries :func:`stat_key` of every such
file, so rewriting any of them changes the key.  Only regular files
qualify: rewriting a part file of a directory dataset changes neither
the directory's mtime nor its size, so for anything else ``stat_key``
returns ``None`` and the caller builds without the memo.

Bound.  One LRU store holds at most :data:`BOUND` entries, and entries
of dead contexts and sessions age out like any other.  A full catalog
cycle over two sf dirs fills 262 entries: 168 prepared plans, 20 table
scans, 2 scan partition counts and 72 expressions and IVF centroid
lists.  The bound holds about two such cycles.
"""

from __future__ import annotations

import itertools
import os
import stat
import threading
from collections import OrderedDict
from collections.abc import Callable, Iterable
from typing import Any

BOUND = 512

_STORE: OrderedDict[tuple, Any] = OrderedDict()
_LOCK = threading.Lock()
_SESSION_SERIAL = itertools.count()


def context() -> tuple:
    """Identity of the live SparkContext, unique per JVM context.

    ``id(sc)`` is not: CPython reuses it after a stopped context is
    collected.  The lookup itself costs two py4j round trips, so the
    identity rides the context object and dies with it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return ("none",)
    ident = getattr(sc, "_wikihadoop_ctx_ident", None)
    if ident is None:
        ident = (sc.applicationId, sc.startTime)
        sc._wikihadoop_ctx_ident = ident
    return ident


def session(spark) -> tuple:
    """Identity of one SparkSession object, never reused in the process."""
    ident = getattr(spark, "_wikihadoop_memo_scope", None)
    if ident is None:
        ident = ("session", next(_SESSION_SERIAL))
        spark._wikihadoop_memo_scope = ident
    return ident


def stat_key(paths: Iterable[str]) -> tuple | None:
    """``(mtime_ns, size)`` of each path, or ``None`` (do not memoize)
    when any path is missing or is not a regular file."""
    out = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            return None
        if not stat.S_ISREG(st.st_mode):
            return None
        out.append((st.st_mtime_ns, st.st_size))
    return tuple(out)


def memo(scope: Any, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()`` memoized under ``(scope, key)``; see the module
    docstring for which scope to pass."""
    full = (scope, key)
    with _LOCK:
        if full in _STORE:
            _STORE.move_to_end(full)
            return _STORE[full]
    val = build()
    with _LOCK:
        _STORE[full] = val
        _STORE.move_to_end(full)
        while len(_STORE) > BOUND:
            _STORE.popitem(last=False)
    return val
