"""Query-scoped persist registry.

Plan-building functions persist relations their returned (lazy) plan
reads more than once — a shingle explode, a granule projection, a
frontier — so they cannot unpersist them: the plan has not run yet.
They call ``persist(df)`` instead, and whoever owns the query scope
calls ``release()`` before building the next plan (each
``__spark_entry__.queries()`` entry, each streaming micro-batch, each
test). A relation persisted for one query therefore never stays
cached into the next, where Spark's CacheManager would substitute it
into an unrelated plan. A plan built before a release but run after it
recomputes what it had persisted: slower, never wrong.

Code that persists and unpersists within one call keeps its own
``try/finally``; this registry is only for persists that outlive the
call that made them.
"""

from __future__ import annotations

_PERSISTED: list = []


def persist(df):
    """Persist ``df`` until the next ``release()``; returns it. A frame
    its caller already persisted is only recorded (persisting it again
    makes Spark log a warning)."""
    if not df.is_cached:
        df = df.persist()
    _PERSISTED.append(df)
    return df


def release() -> None:
    """Unpersist everything persisted since the last release."""
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
        except Exception:
            # a stopped session or an already-dropped cache entry: the
            # relation is gone either way
            pass
