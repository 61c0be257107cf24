"""Session memo: the one rule for every per-session intermediate the
operators reuse.

A builder is a function ``f(spark, sf_dir, *params)`` decorated with
``@memo``. Its result is kept under

    (applicationId, absolute sf_dir, builder, params)

and stamped with the ``fixtures.table_fingerprint`` of every fixture table
the build read. The builder declares no inputs: while it runs, every
``fixtures.table`` / ``wide_table`` call on the same thread is recorded,
and a nested memo hit passes on the tables its own build recorded. A
lookup re-stats the recorded tables (one ``os.stat`` each). When a stamp
no longer matches — a table was rewritten in place — the old entry is
released (a DataFrame's cache or checkpoint blocks are freed, see
``release``) before the builder runs again: the MySQL query-cache rule,
where a write to a table drops every cached result that read it.

The memo stores only what the builder returns. A builder that wants its
DataFrame materialized calls ``.cache()`` / ``localCheckpoint`` itself, so
the physical plans stay the builders' own.

``unpersist_all`` (exported as ``sdp_spark.unpersist_all``) releases every
DataFrame entry and keeps the value entries (counts, fitted centroids, gate
decisions): those describe the data, not executor storage, and their stamps
still retire them when a table changes. ``evict`` drops chosen builders'
entries for one (app, sf_dir), e.g. before a forced rebuild.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import threading

from pyspark.sql import DataFrame

from sdp_spark.sources import fixtures

# key -> (value, {(sf_dir, table): fingerprint read by the build})
_ENTRIES: dict[tuple, tuple[object, dict]] = {}
_local = threading.local()


def _frames() -> list[dict]:
    """This thread's open recordings, outermost first."""
    if not hasattr(_local, "frames"):
        _local.frames = []
    return _local.frames


def record(sf_dir: str, name: str, fingerprint: tuple[int, int]) -> None:
    """Note a fixture-table read in every recording open on this thread."""
    for reads in _frames():
        reads.setdefault((sf_dir, name), fingerprint)


@contextlib.contextmanager
def recording():
    """Collect the fixture tables read inside the block, as
    ``{(sf_dir, table): fingerprint}`` (memo hits included)."""
    reads: dict = {}
    frames = _frames()
    frames.append(reads)
    try:
        yield reads
    finally:
        frames.pop()


def release(df: DataFrame) -> None:
    """Free a DataFrame's executor storage: its ``.cache()``, or the RDD of
    a ``localCheckpoint``, which ``DataFrame.unpersist`` does not reach."""
    try:
        df.unpersist(blocking=False)
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # session already stopped; dropping the ref suffices


def _release(key: tuple) -> bool:
    """Drop one entry; True when it held a DataFrame (now released)."""
    value, _ = _ENTRIES.pop(key, (None, None))
    if not isinstance(value, DataFrame):
        return False
    release(value)
    return True


def memo(fn):
    """Memoize ``fn(spark, sf_dir, *params)`` under the rule above. The
    undecorated builder stays reachable as ``__wrapped__``."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def builder(spark, sf_dir, *args, **kwargs):
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        params = tuple(bound.arguments.values())[2:]
        key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), fn, params)
        hit = _ENTRIES.get(key)
        if hit is not None:
            value, reads = hit
            if all(
                fixtures.table_fingerprint(d, n) == fp for (d, n), fp in reads.items()
            ):
                for (d, n), fp in reads.items():
                    record(d, n, fp)
                return value
            _release(key)
        with recording() as reads:
            value = fn(spark, sf_dir, *args, **kwargs)
        # setdefault is atomic: when another thread stored this key while we
        # built, keep its entry and release our duplicate
        kept = _ENTRIES.setdefault(key, (value, reads))[0]
        if kept is not value and isinstance(value, DataFrame):
            release(value)
        return kept

    return builder


def evict(spark, sf_dir: str, *builders) -> None:
    """Release every entry of ``builders`` for this (app, sf_dir)."""
    scope = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    fns = {b.__wrapped__ for b in builders}
    for key in [k for k in _ENTRIES if k[:2] == scope and k[2] in fns]:
        _release(key)


def unpersist_all() -> int:
    """Release every DataFrame entry; returns how many were released."""
    keys = [k for k, (v, _) in _ENTRIES.items() if isinstance(v, DataFrame)]
    return sum(_release(k) for k in keys)
