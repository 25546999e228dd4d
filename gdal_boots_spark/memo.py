"""The engine's one session memo.

Driver-side values that are pure functions of their input plans —
collected dimension tables, statistics probes, base relations, small
driver-built DataFrames and the broadcasts made from them — are
remembered for the life of one Spark application.  A rebuilt plan
(bench repetitions, runner retries, one dim used by two branches of a
single build) then pays the collect or probe job once.

* **Keys.**  ``plan_key`` combines each input plan's semantic hash with
  a fingerprint of the files the plan reads: their names, plus size and
  mtime for local files.  The semantic hash alone is blind to a
  rewritten path (a file relation hashes by its root paths only), so
  the fingerprint is what keeps a rewrite from serving stale rows.
  ``path_key`` keys a path about to be read on its local listing.  When
  Spark's internal plan API is unreachable, or a path is not local, the
  key is None and the value is built without being memoised.
* **Session.**  The memo serves one ``applicationId``; a new
  application drops every entry, so no key carries the ID.
* **Eviction.**  Each kind is a least-recently-used map bounded by the
  call site's ``limit``.  An evicted ``Broadcast`` or DataFrame, or one
  held in an evicted tuple, is unpersisted, never destroyed: plans that
  are already built may still read it.
* **Persisted relations.**  ``persist`` is the engine's one way to
  cache a DataFrame.  Entries are keyed by semantic hash and keep the
  file fingerprint ``plan_key`` saw; Spark's cache matches a file
  relation by root path only, so a same-hash plan over rewritten files
  unpersists the stale entry first.  They are never evicted (a built
  plan would recompute them), only freed by ``clear()`` or the
  ``releasing()`` block that first persisted them.
* **Scratch directories.**  ``temp_dir`` makes a directory that the
  memo owns like a persisted relation: ``clear()`` and the
  ``releasing()`` block that made it remove it.  An application change
  keeps them: they hold no Spark state.

Callers must treat returned values as read-only; they are the memo's
entries themselves.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
from collections import OrderedDict
from contextlib import contextmanager
from typing import Any, Callable
from urllib.parse import unquote, urlparse

_entries: dict[str, OrderedDict] = {}
_counts: dict[str, list[int]] = {}  # kind -> [hits, misses]
_context: Any = None  # the SparkContext the entries belong to
_app_id: str | None = None
_lock = threading.Lock()


def _active() -> bool:
    """True when a SparkContext is active.  A context of a different
    application than the entries' drops them all (without unpersisting:
    their broadcasts died with their context) except the scratch
    directories, which belong to no application and may still be read
    by a plan built before this call."""
    global _context, _app_id
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return False
    if sc is not _context:
        app_id = sc.applicationId
        if app_id != _app_id:
            dirs = _entries.pop("temp_dir", None)
            _entries.clear()
            if dirs:
                _entries["temp_dir"] = dirs
        _context, _app_id = sc, app_id
    return True


class _Dir(str):
    """A directory path the memo owns: releasing it removes it."""


def _release(value: Any) -> None:
    from pyspark.broadcast import Broadcast
    from pyspark.sql import DataFrame

    if isinstance(value, (Broadcast, DataFrame)):
        value.unpersist()
    elif isinstance(value, _Dir):
        shutil.rmtree(value, ignore_errors=True)
    elif isinstance(value, tuple):  # e.g. a collected dim holding its broadcast
        for v in value:
            _release(v)


def get(kind: str, key: Any, build: Callable[[], Any], limit: int = 64) -> Any:
    """The value memoised under ``(kind, key)``; ``build()`` makes it on
    a miss.  A None key builds without memoising (counted as a miss).
    The lock guards the maps, not ``build()``, which may run Spark jobs."""
    with _lock:
        counts = _counts.setdefault(kind, [0, 0])
        keep = key is not None and _active()
        entries = _entries.get(kind)
        if keep and entries is not None and key in entries:
            entries.move_to_end(key)
            counts[0] += 1
            return entries[key]
        counts[1] += 1
    value = build()
    if not keep:
        return value
    with _lock:
        entries = _entries.setdefault(kind, OrderedDict())
        value = entries.setdefault(key, value)
        evicted = [entries.popitem(last=False)[1] for _ in range(len(entries) - limit)]
    for old in evicted:
        _release(old)
    return value


def persist(df):
    """``df`` persisted (MEMORY_AND_DISK) and owned by the memo.  Every
    call persists: a no-op while Spark holds the plan, a re-cache after
    an outside ``clearCache``.  A plan without a key is owned too."""
    from pyspark.storagelevel import StorageLevel

    key = plan_key(df)
    h, files = key[0] if key is not None else (object(), None)
    with _lock:
        entries = _entries.setdefault("persist", OrderedDict()) if _active() else {}
        old = entries.get(h)
        hit = old is not None and old[1] == files
        _counts.setdefault("persist", [0, 0])[0 if hit else 1] += 1
        if not hit:
            entries[h] = (df, files)
    if old is not None and not hit:  # same plan over rewritten files
        _release(old[0])
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def temp_dir(prefix: str) -> str:
    """A new local scratch directory (``tempfile.mkdtemp``) that the
    memo owns: removed by ``clear()`` or by the ``releasing()`` block
    that made it, so a caller that reads it lazily keeps it until then."""
    path = _Dir(tempfile.mkdtemp(prefix=prefix))
    with _lock:
        _entries.setdefault("temp_dir", OrderedDict())[path] = (path, None)
    return path


_OWNED = ("persist", "temp_dir")  # kinds freed by releasing(), as (value, files) pairs


@contextmanager
def releasing():
    """Unpersist (or remove), on exit, every relation ``persist`` and
    every directory ``temp_dir`` began to own inside the block; entries
    owned before it stay."""
    with _lock:
        before = {kind: dict(_entries.get(kind, {})) for kind in _OWNED}
    try:
        yield
    finally:
        with _lock:
            dropped = []
            for kind in _OWNED:
                entries = _entries.get(kind, {})
                dropped += [entries.pop(k) for k, v in list(entries.items()) if before[kind].get(k) is not v]
        for value, _files in dropped:
            _release(value)


def clear() -> None:
    """Drop every entry (unpersisting memoised broadcasts and persisted
    relations, removing owned directories) and zero the hit/miss counts."""
    with _lock:
        owned = _entries if _active() else {"temp_dir": _entries.get("temp_dir", {})}
        dropped = [v for entries in owned.values() for v in entries.values()]
        _entries.clear()
        _counts.clear()
    for value in dropped:
        _release(value)


def stats() -> dict[str, dict[str, int]]:
    """Per-kind hit and miss counts since the last ``clear()``."""
    return {kind: {"hits": h, "misses": m} for kind, (h, m) in _counts.items()}


def _file_id(uri: str) -> tuple:
    u = urlparse(uri)
    if u.scheme not in ("", "file"):
        return (uri,)
    try:
        st = os.stat(unquote(u.path) if u.scheme else uri)
    except OSError:
        return (uri, None)
    return (uri, st.st_size, st.st_mtime_ns)


def _plan_id(df) -> tuple:
    """(semantic hash, files read) of a DataFrame's analyzed plan.  The
    file relations are found by walking the analyzed plan's leaves, not
    by ``DataFrame.inputFiles()``, which optimizes the plan first (about
    10 ms on a fresh plan)."""
    plan = df._jdf.queryExecution().analyzed()
    files = []
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRelation":
            files.extend(leaf.relation().location().inputFiles())
    return (plan.semanticHash(), tuple(_file_id(f) for f in files))


def plan_key(*parts: Any) -> tuple | None:
    """Key for a value derived from DataFrames plus plain hashable
    parts: each DataFrame stands for its semantic hash and the files it
    reads.  None when Spark's internal plan API is unreachable (for
    example on Spark Connect, or a non-file relation)."""
    from pyspark.sql import DataFrame

    try:
        return tuple(_plan_id(p) if isinstance(p, DataFrame) else p for p in parts)
    except Exception:  # internal API moved: no key, no memo
        return None


def path_key(path: str) -> tuple | None:
    """Key for reading ``path``: the path plus its local listing (name,
    size, mtime of every file below it).  None for non-local paths and
    paths that do not exist."""
    u = urlparse(path)
    if u.scheme not in ("", "file"):
        return None
    local = unquote(u.path) if u.scheme else path
    if os.path.isfile(local):
        return (path, _file_id(local))
    if not os.path.isdir(local):
        return None
    listing = []
    for root, dirs, names in os.walk(local):
        dirs.sort()
        listing.extend(_file_id(os.path.join(root, n)) for n in sorted(names))
    return (path, tuple(listing))
