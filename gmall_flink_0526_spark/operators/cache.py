"""Scoped persist: one lifetime rule for per-query and per-epoch frames.

Operators like MinHash-LSH persist intermediates (shingles, band keys)
that feed several downstream consumers inside one query, and the
streaming ``foreachBatch`` apps pin per-epoch frames (the batch, its
shingles, a ``localCheckpoint`` that cuts lineage from a store the
epoch is about to write). A catalog or bench session runs dozens of
queries back to back in one SparkSession, so fire-and-forget pinning
accumulates dead blocks across the whole run. Every such frame is
registered in a NAMED scope instead, and the scope's owner releases
all of it at once:

- :func:`scoped_persist` persists a frame; :func:`scoped_checkpoint`
  ``localCheckpoint``-s one. Both register the result in the current
  scope, so a checkpoint is freed at the same boundary as a persist —
  never left to Python GC and Spark's asynchronous ContextCleaner.
- :func:`release_scoped` frees a scope's frames. A checkpoint's blocks
  belong to the ``LogicalRDD`` under its plan, not to the cache
  manager (``df.unpersist()`` leaves them pinned), so the scope
  registers and unpersists that RDD.
- :func:`cache_scope` runs a block in its own scope and releases it on
  exit, success or failure. A streaming epoch wraps itself in one, so
  its frames live exactly one epoch and two concurrent streams — or a
  stream beside an enclosing batch query — never release each other's
  frames mid-flight.

Scope NAMES are thread-local (frames live in a process-global dict
keyed by name). The main thread's unscoped frames register under
``"default"``, drained by ``plans.catalog.register`` at the next
query. A thread started for the scope's owner (the overlapped epoch
writes) runs under the owner's scope via :func:`in_current_scope`.
Any other unscoped thread falls into a thread-id-keyed scope, so the
main thread's per-query drain can never reach its frames: they leak
until that thread drains itself, which is the safe failure (Spark
recomputes; nothing is yanked mid-epoch).
"""

from __future__ import annotations

import threading

from contextlib import contextmanager

from pyspark.sql import DataFrame

# scope name -> pinned handles: persisted DataFrames and the JVM RDDs
# of localCheckpoints, both released by ``unpersist(False)``
_SCOPES: dict[str, list] = {}
_LOCK = threading.Lock()  # an epoch's overlapped writes register concurrently
_TLS = threading.local()


def _current_scope() -> str:
    explicit = getattr(_TLS, "scope", None)
    if explicit is not None:
        return explicit
    if threading.current_thread() is threading.main_thread():
        return "default"
    # unscoped persist on a worker/stream thread: isolate per thread
    # rather than sharing "default" with the main catalog loop, whose
    # per-query drain would otherwise unpersist it mid-flight
    return f"thread:{threading.get_ident()}"


def _register(handle) -> None:
    with _LOCK:
        _SCOPES.setdefault(_current_scope(), []).append(handle)


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it in the current thread's scope for
    release at that scope's next :func:`release_scoped` (for batch
    catalog queries: when the next query starts; inside a
    :func:`cache_scope` block: at block exit)."""
    df.persist()
    _register(df)
    return df


def scoped_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` (eager: the rows are computed now and
    the result's plan no longer references ``df``'s sources), with the
    checkpoint's blocks registered in the current scope like a
    :func:`scoped_persist` frame."""
    cut = df.localCheckpoint()
    _register(cut._jdf.queryExecution().logical().rdd())
    return cut


def release_scoped(scope: str | None = None) -> None:
    """Unpersist every frame and checkpoint registered in ``scope``
    (default: the current thread's scope), non-blocking. Other scopes'
    frames are untouched."""
    with _LOCK:
        live = _SCOPES.pop(scope if scope is not None else _current_scope(), [])
    while live:
        try:
            live.pop().unpersist(False)
        except Exception:
            pass


@contextmanager
def _named(name: str):
    prev = getattr(_TLS, "scope", None)
    _TLS.scope = name
    try:
        yield
    finally:
        if prev is None:
            del _TLS.scope
        else:
            _TLS.scope = prev


@contextmanager
def cache_scope(name: str):
    """Run a block with its own scope: every ``scoped_persist`` and
    ``scoped_checkpoint`` inside (same thread, or a thread started
    through :func:`in_current_scope`) registers under ``name``, and the
    scope is released on exit — success or failure."""
    with _named(name):
        try:
            yield
        finally:
            release_scoped(name)


def in_current_scope(fn):
    """Bind ``fn`` to the CALLER's scope: the returned zero-arg callable
    runs ``fn`` on whatever thread calls it with the caller's scope
    name set, so its frames are released with the caller's scope
    rather than leaking into a ``thread:<id>`` one. The caller must
    join the thread before its scope exits."""
    name = _current_scope()

    def run():
        with _named(name):
            return fn()

    return run


# -- corpus-scoped persist ----------------------------------------------
#
# Some intermediates are pure functions of the CORPUS, not of one
# query: the shingle table, the minhash signature table, the band-key
# table. A production pipeline materializes these once and keeps them
# (operators/dedup.lsh_band_keys docstring; SCALE.md "Dedup /
# similarity") — every dedup job is then a join against the stored
# signatures. corpus_persist is the local analogue: keyed by corpus
# dir, persisted for the life of the process, deliberately NOT
# released by release_scoped. Memory is bounded by ONE corpus's
# signature volume (the thing production stores on disk): the cache
# holds a single (session, corpus dir) scope at a time — the catalog
# never interleaves corpora, so when a query first touches a NEW
# corpus dir (or a new SparkSession: a frame persisted in a stopped
# session must never be served to, or leak into, a new one) every
# entry of the previous scope is unpersisted and forgotten. Without
# the eviction, a long-lived process iterating corpus dirs or cycling
# sessions accumulates dead persisted frames — the same leak class
# scoped_persist exists to stop.

_CORPUS: dict[tuple[str, str], dict[str, DataFrame]] = {}

# Driver-side VALUES that are pure functions of the corpus (k-means
# centroids, corpus row counts) share the scope — same lifecycle, same
# eviction, so no per-module dict can outlive its (session, corpus).
_CORPUS_VALS: dict[tuple[str, str], dict[str, object]] = {}


def _scope(spark, corpus_dir: str) -> tuple[str, str]:
    """Resolve (and on first use, open — evicting every other scope)
    the (session, corpus dir) cache scope."""
    scope = (spark.sparkContext.applicationId, corpus_dir)
    if scope not in _CORPUS:
        release_corpus()
        _CORPUS[scope] = {}
        _CORPUS_VALS[scope] = {}
    return scope


def corpus_persist(spark, kind: str, corpus_dir: str, build) -> DataFrame:
    """Return the cached ``kind`` frame for ``corpus_dir`` in the
    session ``spark``, building + persisting it on first use.
    ``build`` is a zero-arg callable so the plan is only constructed
    when actually needed. First use of a new (session, corpus dir)
    scope releases every other scope's frames."""
    frames = _CORPUS[_scope(spark, corpus_dir)]
    df = frames.get(kind)
    if df is None:
        df = build()
        df.persist()
        frames[kind] = df
    return df


def corpus_value(spark, kind: str, corpus_dir: str, build):
    """Corpus-scoped memo for a plain driver-side VALUE (a fit result,
    a row count): same (session, corpus dir) scope and eviction as
    :func:`corpus_persist`, no persist — the value is just Python."""
    vals = _CORPUS_VALS[_scope(spark, corpus_dir)]
    if kind not in vals:
        vals[kind] = build()
    return vals[kind]


def has_corpus_value(spark, kind: str, corpus_dir: str) -> bool:
    """Warm-check for :func:`corpus_value` without building: True when
    the memo already holds ``kind`` for this (session, corpus dir)
    scope. Public so plan-layer seeders (e.g. the joint PQ Lloyd pass)
    can skip work without reaching into the cache's representation.
    Shares :func:`corpus_value`'s scope resolution, including its
    open-on-first-use eviction."""
    return kind in _CORPUS_VALS[_scope(spark, corpus_dir)]


def release_corpus() -> None:
    """Unpersist and forget every corpus-scoped frame (and drop every
    corpus-scoped value). Called automatically when a new (session,
    corpus dir) scope starts; also a test hook. Unpersisting a frame
    whose session has stopped raises — swallowed, the JVM-side blocks
    died with the session."""
    for frames in _CORPUS.values():
        for df in frames.values():
            try:
                df.unpersist(False)
            except Exception:
                pass
    _CORPUS.clear()
    _CORPUS_VALS.clear()
