"""Operator-internal cache registry.

Several operators materialize an intermediate relation that feeds a
self-join (shingles, LSH bands) or multiple consumers (a relation read by
both sides of a join) — without a materialized cache Spark
re-evaluates the subtree per consumer (measured ~40× slower for the
shingle explode at sf0.1). Those persists cannot be released inside
the operator (the returned DataFrame is lazy; the cache must survive
until the caller's action runs), so they register here and the
CALLER releases them once its action completes.

Two release models:

1. **Scoped (preferred for concurrent callers)** — registrations made
   inside a ``with caching.scope():`` block belong to that block (the
   scope stack is thread-local) and are unpersisted when it exits::

       with caching.scope():
           result = some_query(...).collect()   # caches released here

   A scope only ever releases caches its own thread registered, so
   concurrent queries cannot unpersist each other's relations.

2. **Global** — registrations made outside any scope land in a
   process-wide registry; ``release_all()`` drains it. This is the
   single-threaded benchmark/oracle-harness model (one query at a
   time, release between queries). ``release_all()`` does NOT touch
   scoped registrations.

All registry mutations hold a lock, so mixed-thread use is safe; the
caveat is semantic, not structural: calling ``release_all()`` while
another thread's *unscoped* lazy query is still pending can force
that query to recompute (never to fail) — use scopes when threading.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_LIVE: list[DataFrame] = []
_TLS = threading.local()
_SCOPED_COUNT = 0  # live scoped registrations across ALL threads


def _active_scope() -> list[DataFrame] | None:
    stack = getattr(_TLS, "stack", None)
    return stack[-1] if stack else None


@contextmanager
def scope():
    """Thread-local cache scope: registrations inside the block are
    unpersisted on exit (and only those — see module docstring)."""
    stack = getattr(_TLS, "stack", None)
    if stack is None:
        stack = _TLS.stack = []
    mine: list[DataFrame] = []
    stack.append(mine)
    try:
        yield mine
    finally:
        global _SCOPED_COUNT
        stack.pop()
        for df in mine:
            try:
                df.unpersist()
            except Exception:
                pass  # session may already be stopped
        with _LOCK:
            _SCOPED_COUNT -= len(mine)


def materialize(df: DataFrame) -> DataFrame:
    """persist() + eager count() + registration.

    The eager count matters for self-joins: both sides of a join on a
    not-yet-computed cached relation race and each recomputes the
    subtree; counting first fills the cache once.

    Idempotent: an already-persisted input (e.g. a composition like
    ``ensemble_flags`` materializing the series it then hands to
    ``robust_flags``, which materializes its own input) is NOT
    re-registered — double registration would let the first releaser
    unpersist a relation the second registrant still counts on, and
    Spark warns on the re-persist. The eager fill still runs.
    """
    if df.is_cached:
        df.count()
        return df
    df = df.persist()
    df.count()
    return register(df)


def register(df: DataFrame) -> DataFrame:
    """Register an already-persisted DataFrame for later release
    (for call sites that persist lazily on purpose). Lands in the
    innermost active scope of this thread, else the global registry."""
    sc = _active_scope()
    if sc is not None:
        global _SCOPED_COUNT
        with _LOCK:
            _SCOPED_COUNT += 1
        sc.append(df)
        return df
    with _LOCK:
        _LIVE.append(df)
    return df


def release_all() -> int:
    """Unpersist every GLOBALLY registered relation; returns how many.
    Scoped registrations are untouched (their scope releases them)."""
    n = 0
    while True:
        with _LOCK:
            if not _LIVE:
                return n
            df = _LIVE.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session may already be stopped
        n += 1


def release_orphan_rdds(spark) -> int:
    """Unpersist EVERY persistent RDD in the session — harness-only
    (bench / oracle gate, between queries, single-threaded).

    ``localCheckpoint`` (used by the iterative connected-components
    loop) stores its data as persistent RDD blocks that no registry
    tracks; across many benchmarked queries in one session they
    accumulate and squeeze the block manager. Between queries every
    legitimate registry cache has already been released, so a blanket
    sweep is safe THERE — never call this while any query's lazy
    DataFrame is still pending. Returns the number of RDDs swept.

    Guard: refuses (RuntimeError) while the global registry still
    holds registered caches OR any thread has live scoped
    registrations — sweeping then would silently drop relations
    Spark's CacheManager believes cached (the caller gets
    recomputation, not failure), including another thread's
    mid-query ``scope()`` caches. Call ``release_all()`` / let scopes
    exit first; the check makes the sweep structurally harness-only."""
    with _LOCK:
        if _LIVE or _SCOPED_COUNT:
            raise RuntimeError(
                f"release_orphan_rdds called with {len(_LIVE)} registered "
                f"global cache(s) and {_SCOPED_COUNT} scoped cache(s) "
                "still live — call release_all() / exit scopes first"
            )
    jsc = spark.sparkContext._jsc.sc()
    rdds = jsc.getPersistentRDDs()
    it = rdds.iterator()
    n = 0
    while it.hasNext():
        it.next()._2().unpersist(False)
        n += 1
    return n
