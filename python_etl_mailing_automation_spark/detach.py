"""Lifetimes of intermediate frames — the one module that decides them.

Spark frames are lazy, so every operator that reuses or iterates a
frame has to say how long its intermediate state lives. There are
exactly three lifetimes, each with one call:

- **Lineage cut** — :func:`detach`. Loop rounds and operator results
  are cut from their lineage so the plan does not double per round
  (2^rounds lineage) and a shared frame is not re-derived per consumer.
  ``eager=False`` (the loop discipline) lets the frame's first action —
  the convergence count every loop already runs — materialize it, so no
  extra job is scheduled. ``eager=True`` is the lazy cut plus one
  ``count()``: a result frame the operator hands back after releasing
  the caches it was built from (measured ~1 s cheaper at sf0.1 than
  ``localCheckpoint(eager=True)``, which adds a separate store pass —
  SCALING.md §pagerank).
- **Scoped cache** — :func:`held`. A frame read by several actions
  inside one call is persisted for the ``with`` block and unpersisted
  when it exits, normally or by an exception, so repeated calls in a
  shared session pin nothing.
- **Result-lifetime cache** — :func:`cache_once`. A frame the lazy
  result still reads after the operator returns (LSH band entries,
  SRP/IVF bucket frames) cannot be released by the operator; it is
  cached once and freed by the ContextCleaner when the result is
  garbage-collected.

The lineage cut has two postures, chosen per session with the conf
``spark.pyetl.detach.mode``. Both give identical results:

- ``local`` (default) — ``localCheckpoint``: executor-local,
  non-replicated storage. Fastest; a lost executor aborts the job
  (the lineage was truncated, so there is no recompute path).
- ``reliable`` — ``checkpoint`` into ``spark.checkpoint.dir`` (required,
  or Spark raises). Survives executor loss at the cost of a
  distributed-FS write per cut: the posture for long loops on
  preemptible fleets.

A third posture, ``persist`` (keep the lineage, cache each round), was
removed: a persisted frame keeps its full logical plan, and a loop
whose round frame is read twice (``dedup_clusters``' labels and
frontier) doubles that plan every round. On an 8-edge chain at 4 cores
and a 16 GB driver it was OOM-killed at 15.9 GB RSS in round 9, where
``local`` finished in 13.0 s and ``reliable`` in 11.9 s.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

DETACH_MODE_CONF = "spark.pyetl.detach.mode"
_VALID = ("local", "reliable")


def detach_mode(df: DataFrame) -> str:
    """The session's detach mode (``local`` unless the conf says so)."""
    try:
        mode = df.sparkSession.conf.get(DETACH_MODE_CONF, "local")
    except Exception:  # noqa: BLE001 - conf access locked down
        mode = "local"
    if mode not in _VALID:
        raise ValueError(
            f"{DETACH_MODE_CONF}={mode!r}: expected one of {_VALID}"
        )
    return mode


def detach(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Cut ``df`` from its lineage per the configured mode.

    The cut is always lazy; ``eager=True`` materializes it with one
    ``count()`` before returning."""
    if detach_mode(df) == "reliable":
        out = df.checkpoint(eager=False)
    else:
        out = df.localCheckpoint(eager=False)
    if eager:
        out.count()
    return out


@contextmanager
def held() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Scoped cache: ``with held() as hold: e = hold(df)`` persists each
    frame handed to ``hold`` and unpersists all of them when the block
    exits. A result returned from inside the block must not read a held
    frame lazily — cut it with ``detach(..., eager=True)`` first."""
    frames: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        df = df.persist()
        frames.append(df)
        return df

    try:
        yield hold
    finally:
        for df in frames:
            df.unpersist()


def cache_once(df: DataFrame) -> DataFrame:
    """Result-lifetime cache: ``df.cache()`` unless an IDENTICAL plan is
    already cached.

    ``DataFrame.storageLevel`` resolves through the CacheManager by
    canonicalized plan, not object identity, so a second construction of
    the same frame in one session sees the first call's cache; caching it
    again would only log ``CacheManager: Asked to cache already cached
    data``. The returned handle then shares the first owner's entry: if
    that owner's frame is GC'd first, this frame silently loses caching
    and re-derives its plan — a performance cliff, never a correctness
    one. So nothing ever unpersists a ``cache_once`` frame; a frame with
    a deterministic release point goes through :func:`held` instead.
    """
    if df.storageLevel == StorageLevel.NONE:
        return df.cache()
    return df
