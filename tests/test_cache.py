"""Cache-scope lifecycle: query-scoped frames die at the next query's
entry; corpus-scoped frames (the signature-table analogue) survive it,
and first touch of a DIFFERENT corpus scope evicts them — the cache
holds at most one (session, corpus dir) worth of persisted frames."""

from __future__ import annotations

import pytest

from gmall_flink_0526_spark.operators import cache


def test_scoped_released_but_corpus_survives(spark):
    df_scoped = cache.scoped_persist(spark.range(10))
    df_corpus = cache.corpus_persist(spark, "shingles", "/corpus/a", lambda: spark.range(20))
    assert df_scoped.storageLevel.useMemory
    assert df_corpus.storageLevel.useMemory

    cache.release_scoped()  # what plans.catalog.register does per query
    assert not df_scoped.storageLevel.useMemory
    assert df_corpus.storageLevel.useMemory  # corpus frame survives

    # same (session, dir, kind) returns the SAME frame without rebuilding
    again = cache.corpus_persist(
        spark, "shingles", "/corpus/a", lambda: (_ for _ in ()).throw(AssertionError)
    )
    assert again is df_corpus

    cache.release_corpus()
    assert not df_corpus.storageLevel.useMemory
    # after release, the key rebuilds
    rebuilt = cache.corpus_persist(spark, "shingles", "/corpus/a", lambda: spark.range(5))
    assert rebuilt is not df_corpus
    cache.release_corpus()


def test_cache_scope_isolates_concurrent_owners(spark):
    """The r9 ADVICE trap: a stream's per-epoch drain must not unpersist
    a concurrent owner's frames. cache_scope gives each owner a named
    scope — frames registered inside drain at block exit; the enclosing
    ('default') scope's frames survive, and vice versa. Also pins
    thread isolation: a frame registered in another THREAD's default
    scope is untouched by this thread's release_scoped()."""
    import threading

    outer = cache.scoped_persist(spark.range(11))
    with cache.cache_scope("stream:test_a"):
        inner = cache.scoped_persist(spark.range(12))
        assert inner.storageLevel.useMemory
        # a sibling scope draining itself touches neither
        with cache.cache_scope("stream:test_b"):
            sib = cache.scoped_persist(spark.range(13))
        assert not sib.storageLevel.useMemory  # b drained at exit
        assert inner.storageLevel.useMemory  # a untouched by b's drain
        assert outer.storageLevel.useMemory  # default untouched
    assert not inner.storageLevel.useMemory  # a drained at exit
    assert outer.storageLevel.useMemory

    # another thread's default-scope frame: this thread's release keeps it
    holder = {}

    def other_thread():
        with cache.cache_scope("stream:other"):
            holder["df"] = cache.scoped_persist(spark.range(14))
            holder["mid"] = holder["df"].storageLevel.useMemory
            # simulate the enclosing batch query draining ITS scope
            # while the stream's epoch is mid-flight
            cache.release_scoped("default")

    t = threading.Thread(target=other_thread)
    t.start()
    t.join()
    assert holder["mid"]  # stream frame was live mid-epoch
    assert not holder["df"].storageLevel.useMemory  # drained at its exit
    assert not outer.storageLevel.useMemory  # default WAS drained by name
    cache.release_scoped()


def test_unscoped_persist_on_worker_thread_escapes_main_drain(spark):
    """Defense in depth (r10 review finding): code that FORGETS
    cache_scope on a stream thread must not share 'default' with the
    main catalog loop — the main thread's per-query drain would yank
    its frame mid-epoch. An unscoped worker-thread persist falls into
    a thread-keyed scope: main's release_scoped() leaves it alone,
    and the worker thread's own release_scoped() drains it."""
    import threading

    holder = {}

    def worker():
        holder["df"] = cache.scoped_persist(spark.range(15))
        holder["scope"] = cache._current_scope()

    th = threading.Thread(target=worker)
    th.start()
    th.join()
    assert holder["scope"].startswith("thread:")
    assert holder["df"].storageLevel.useMemory
    cache.release_scoped()  # main thread's per-query drain ("default")
    assert holder["df"].storageLevel.useMemory  # untouched
    cache.release_scoped(holder["scope"])  # the owner's drain
    assert not holder["df"].storageLevel.useMemory


def test_new_corpus_dir_evicts_previous_scope(spark):
    """Touching corpus B releases corpus A's frames (the catalog never
    interleaves corpora, so holding both is pure leak — VERDICT r5)."""
    a_sh = cache.corpus_persist(spark, "shingles", "/corpus/a", lambda: spark.range(20))
    a_bd = cache.corpus_persist(spark, "bands", "/corpus/a", lambda: spark.range(21))
    assert a_sh.storageLevel.useMemory and a_bd.storageLevel.useMemory

    b_sh = cache.corpus_persist(spark, "shingles", "/corpus/b", lambda: spark.range(30))
    assert b_sh.storageLevel.useMemory
    assert not a_sh.storageLevel.useMemory  # whole A scope evicted
    assert not a_bd.storageLevel.useMemory

    # returning to A rebuilds (and in turn evicts B)
    a_again = cache.corpus_persist(spark, "shingles", "/corpus/a", lambda: spark.range(22))
    assert a_again is not a_sh
    assert not b_sh.storageLevel.useMemory
    cache.release_corpus()


def test_same_scope_kinds_accumulate_without_eviction(spark):
    """Within one scope, kinds share the dict: building bands must not
    evict the shingles they were derived from."""
    sh = cache.corpus_persist(spark, "shingles", "/corpus/a", lambda: spark.range(20))
    bd = cache.corpus_persist(spark, "bands", "/corpus/a", lambda: spark.range(21))
    sg = cache.corpus_persist(spark, "sigs", "/corpus/a", lambda: spark.range(22))
    assert sh.storageLevel.useMemory
    assert bd.storageLevel.useMemory
    assert sg.storageLevel.useMemory
    cache.release_corpus()


def test_corpus_value_shares_scope_and_eviction(spark):
    """Driver-side values (fit results, corpus row counts) live in the
    SAME (session, corpus dir) scope as the persisted frames: memoized
    within the scope, dropped by release_corpus, and evicted when a
    different corpus dir opens — so no value can outlive its corpus
    (VERDICT r6 nit: the old module-level _EMB_N_CACHE could)."""
    calls = []

    def build():
        calls.append(1)
        return 42

    assert cache.corpus_value(spark, "emb_n:all", "/corpus/a", build) == 42
    assert cache.corpus_value(spark, "emb_n:all", "/corpus/a", build) == 42
    assert len(calls) == 1  # memoized within the scope

    # a frame opened in the same scope must not evict the value...
    fr = cache.corpus_persist(spark, "shingles", "/corpus/a", lambda: spark.range(3))
    assert cache.corpus_value(spark, "emb_n:all", "/corpus/a", build) == 42
    assert len(calls) == 1

    # ...and a value opened for a NEW corpus evicts the whole old
    # scope, frames included (one corpus's worth of state, ever)
    assert cache.corpus_value(spark, "emb_n:all", "/corpus/b", lambda: 7) == 7
    assert not fr.storageLevel.useMemory
    assert cache.corpus_value(spark, "emb_n:all", "/corpus/a", build) == 42
    assert len(calls) == 2  # scope A was rebuilt from scratch

    cache.release_corpus()
    assert cache.corpus_value(spark, "emb_n:all", "/corpus/a", build) == 42
    assert len(calls) == 3  # release dropped the value too
    cache.release_corpus()


def _pinned(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _checkpoint_rdd(df):
    """The JVM RDD holding a localCheckpoint frame's blocks."""
    return df._jdf.queryExecution().logical().rdd()


def test_cache_scope_releases_persists_and_checkpoints_on_failure(spark):
    """The per-epoch lifetime rule without a stream: a scope frees its
    persisted frames AND its localCheckpoints at exit, even when the
    block raises, leaving no RDD pinned. Also pins the Spark fact the
    checkpoint release depends on: ``df.unpersist()`` alone leaves a
    localCheckpoint's RDD pinned, so a release that only unpersists the
    frame would leak one RDD per checkpoint."""
    before = _pinned(spark)
    probe = spark.range(8).localCheckpoint()
    probe.unpersist(True)
    assert _pinned(spark) - before == {_checkpoint_rdd(probe).id()}
    _checkpoint_rdd(probe).unpersist(True)
    assert _pinned(spark) - before == set()

    with pytest.raises(RuntimeError, match="epoch failed"):
        with cache.cache_scope("stream:test_lifetime"):
            persisted = cache.scoped_persist(spark.range(16))
            persisted.count()
            cut = cache.scoped_checkpoint(spark.range(17))
            assert cut.count() == 17
            assert len(_pinned(spark) - before) == 2
            raise RuntimeError("epoch failed")
    assert _pinned(spark) - before == set()
    assert not persisted.storageLevel.useMemory
    assert not cut.storageLevel.useMemory
    assert not _checkpoint_rdd(cut).getStorageLevel().useMemory()


def test_overlap_writes_run_under_callers_scope(spark):
    """Pool threads of ``_overlap_writes`` inherit the calling epoch's
    scope: a frame a write thunk persists or checkpoints is released
    when that scope exits, not leaked into a ``thread:<id>`` scope."""
    from gmall_flink_0526_spark.streaming.pipelines import _overlap_writes

    before = _pinned(spark)
    got = {}

    def persist_write():
        got["scope"] = cache._current_scope()
        got["p"] = cache.scoped_persist(spark.range(18))

    with cache.cache_scope("stream:test_overlap"):
        _overlap_writes(
            persist_write,
            lambda: got.update(c=cache.scoped_checkpoint(spark.range(19))),
        )
        assert got["scope"] == "stream:test_overlap"
        assert got["p"].storageLevel.useMemory
    assert not got["p"].storageLevel.useMemory
    assert not _checkpoint_rdd(got["c"]).getStorageLevel().useMemory()
    assert _pinned(spark) - before == set()


def test_concurrent_registration_into_one_scope_loses_nothing():
    """Many threads bound to one scope (more than the host's cores, fast
    thread switching) register at once; the scope's release must reach
    every frame. Fake frames: the registry only calls persist/unpersist."""
    import sys
    import threading

    class Frame:
        released = 0

        def persist(self):
            pass

        def unpersist(self, blocking):
            Frame.released += 1

    n_threads, per_thread = 32, 200
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with cache.cache_scope("stream:test_concurrent_register"):

            def work():
                for _ in range(per_thread):
                    cache.scoped_persist(Frame())

            threads = [
                threading.Thread(target=cache.in_current_scope(work))
                for _ in range(n_threads)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(prev)
    assert Frame.released == n_threads * per_thread
    assert "stream:test_concurrent_register" not in cache._SCOPES
