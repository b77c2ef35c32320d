"""The one-time build store (plans/artifacts): every process-scoped
build-once artifact goes through it.

It must key by scale dir — one process routinely serves multiple sf
dirs (this very pytest suite runs sf0.001 fixtures while ad-hoc checks
hit sf0.01), and a cross-contaminated memo would hand one scale's pair
list to another scale's entry: wrong results that LOOK plausible.
Also pins that a memo hit returns the same rows as a fresh build, that
concurrent requests of one key build it once, and that no module
outside the store keeps its own temp root.
"""

from __future__ import annotations

import pytest

from big_data_processing_spark.plans import artifacts as art
from big_data_processing_spark.plans import catalog_ext as ce

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def _fresh_memo():
    saved = dict(art._ARTIFACTS)
    art._ARTIFACTS.clear()
    yield
    art._ARTIFACTS.clear()
    art._ARTIFACTS.update(saved)


def test_memo_keys_by_sf_dir(spark):
    a = ce._dedup_pairs_default(spark, SF_A)
    b = ce._dedup_pairs_default(spark, SF_B)
    pa = {(r.id_a, r.id_b) for r in a.collect()}
    pb = {(r.id_a, r.id_b) for r in b.collect()}
    # distinct artifacts on disk, not one frame served twice
    assert art._ARTIFACTS[(SF_A, "minhash_pairs_default")] != art._ARTIFACTS[
        (SF_B, "minhash_pairs_default")
    ]
    assert pa != pb  # different corpora -> different pair sets


def test_memo_hit_matches_fresh_build(spark):
    first = {(r.id_a, r.id_b, r.jaccard) for r in
             ce._dedup_pairs_default(spark, SF_A).collect()}
    # second call must be a memo hit...
    path = art._ARTIFACTS[(SF_A, "minhash_pairs_default")]
    again = {(r.id_a, r.id_b, r.jaccard) for r in
             ce._dedup_pairs_default(spark, SF_A).collect()}
    assert art._ARTIFACTS[(SF_A, "minhash_pairs_default")] == path
    assert again == first
    # ...and a forced fresh build produces the identical pair set
    # (doubles included: the parquet round-trip is bit-exact)
    art._ARTIFACTS.clear()
    fresh = {(r.id_a, r.id_b, r.jaccard) for r in
             ce._dedup_pairs_default(spark, SF_A).collect()}
    assert fresh == first


def test_concurrent_requests_build_once():
    """prebuild_artifacts' pool threads request shared roots at once
    (every txn chain starts from base_rollup): the first request of a
    key builds it, the rest wait, and all of them get its path."""
    import os
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    n = 6
    built: list[str] = []
    start = threading.Barrier(n)

    def build(path):
        built.append(path)
        time.sleep(0.5)  # every other request arrives mid-build
        open(os.path.join(path, "part"), "w").close()

    def request(_):
        start.wait(timeout=60)
        return art.build_once("sf_once", "once", build)

    with ThreadPoolExecutor(max_workers=n) as pool:
        paths = list(pool.map(request, range(n), timeout=120))
    assert len(built) == 1, f"{len(built)} builds of one key"
    assert paths == built * n


def test_txn_fixture_and_frame_artifact_share_one_root(spark, sf_dir):
    """A txnlog table fixture and the parquet frame it is built from
    live under the one process root."""
    import os

    from big_data_processing_spark.plans import txnfix

    table = txnfix.create_fixture(spark, sf_dir)
    frame = art._ARTIFACTS[(os.path.abspath(sf_dir), "txn_base_rollup")]
    assert os.path.dirname(table) == os.path.dirname(frame) == art.root()
    assert os.path.basename(table).startswith("txn_create2_")


def test_only_the_store_keeps_a_process_temp_root():
    """A module with its own mkdtemp / gettempdir root and atexit
    cleanup is a hand-copied build-once store with its own validity
    rule.  Scoped TemporaryDirectory() uses stay allowed."""
    import pathlib
    import re

    pkg = pathlib.Path(art.__file__).resolve().parents[1]
    store = pathlib.Path(art.__file__).resolve()
    word = re.compile(r"\b(mkdtemp|gettempdir|atexit)\b")
    offenders = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        if path.resolve() != store
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if word.search(line)
    ]
    assert not offenders, f"temp roots outside plans/artifacts.py: {offenders}"


def test_build_barriers_released_after_artifact_write(spark):
    """ADVICE r13: barriers persisted INSIDE a one-time build can never
    be reused once the artifact parquet exists, so the store must
    release them at the write instead of deferring to the owner's next
    release_barriers() (driver_sim never drains)."""
    from big_data_processing_spark.operators.util import _BARRIERS

    n_before = len(_BARRIERS)
    # the pairs build persists the banded frame across its branches
    ce._dedup_pairs_default(spark, SF_A)
    assert len(_BARRIERS) == n_before, (
        f"{len(_BARRIERS) - n_before} build-internal barrier(s) left "
        "registered after the artifact write"
    )


def test_concurrent_builds_get_distinct_paths(spark):
    """prebuild_artifacts runs builds from a thread pool: concurrent
    builds of the same name must land in distinct dirs."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    def build_for(i):
        return lambda: spark.range(10 * (i + 1))

    def run(i):
        df = art._memo_artifact(spark, f"sf_stress_{i}", "stress", build_for(i))
        return art._ARTIFACTS[(os.path.abspath(f"sf_stress_{i}"), "stress")], df.count()

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = [f.result(timeout=300) for f in [pool.submit(run, i) for i in range(8)]]
    paths = [p for p, _ in results]
    assert len(set(paths)) == len(paths)
    assert [n for _, n in results] == [10 * (i + 1) for i in range(8)]


def test_interleaved_builds_release_only_their_own_barriers(spark):
    """N builds on threads, each persisting one barrier, with their
    registrations and returns forced to interleave: build i starts and
    registers only after build i-1 has registered, build 0 returns once
    all N have registered, and build i>0 returns only after build i-1's
    memo call has returned.  Every build's barrier must be freed when
    that build finishes, and a caller's barrier registered outside any
    build must stay live."""
    import os
    import threading

    from big_data_processing_spark.operators import util

    n = 4
    registered = [threading.Event() for _ in range(n)]
    returned = [threading.Event() for _ in range(n)]
    barriers: list = [None] * n
    build_ids: list = [set()] * n
    results: list = [None] * n
    errors: list = []

    def persistent_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    def wait(event):
        assert event.wait(timeout=120), "interleaving stalled"

    def build_for(i):
        def build():
            before = persistent_ids()
            df = util.persist_barrier(spark.range(10 * (i + 1)))
            df.count()  # materialize: the barrier now holds an RDD
            # no other build persists anything until registered[i] is set
            build_ids[i] = persistent_ids() - before
            barriers[i] = df
            registered[i].set()
            wait(registered[n - 1] if i == 0 else returned[i - 1])
            return df

        return build

    def run(i):
        try:
            if i:
                wait(registered[i - 1])
            df = art._memo_artifact(spark, f"sf_interleave_{i}", "interleave",
                                   build_for(i))
            results[i] = df.count()
        except Exception as e:  # surfaced by the main thread
            errors.append(e)
        finally:
            returned[i].set()

    caller = util.persist_barrier(spark.range(5))
    base = persistent_ids()
    caller.count()
    caller_ids = persistent_ids() - base
    assert caller_ids

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors

    assert results == [10 * (i + 1) for i in range(n)]
    for i in range(n):
        path = art._ARTIFACTS[(os.path.abspath(f"sf_interleave_{i}"), "interleave")]
        assert spark.read.parquet(path).count() == 10 * (i + 1)
    live = persistent_ids()
    still = [i for i, df in enumerate(barriers) if df.unpersist in util._BARRIERS]
    assert not still, f"build barriers still registered: {still}"
    assert all(build_ids)
    leaked = [i for i, ids in enumerate(build_ids) if ids & live]
    assert not leaked, f"build barriers still persisted: {leaked}"
    assert caller.unpersist in util._BARRIERS
    assert caller_ids <= live, "the caller's barrier was released"


def test_nested_barrier_scopes_release_only_their_own():
    """A build that calls another memoized build (dedup_components ->
    pairs) nests scopes: the inner scope frees only its own barriers at
    its exit, the outer one its own at its exit, and a barrier
    registered outside both waits for release_barriers()."""
    from big_data_processing_spark.operators import util

    freed: list = []
    util.register_release(lambda: freed.append("caller"))
    with util.barrier_scope():
        util.register_release(lambda: freed.append("outer-1"))
        with util.barrier_scope():
            util.register_release(lambda: freed.append("inner"))
        assert freed == ["inner"]
        util.register_release(lambda: freed.append("outer-2"))
    assert freed == ["inner", "outer-2", "outer-1"]
    util.release_barriers()
    assert freed[-1] == "caller"


def test_timed_phase_keeps_every_update_under_threads(monkeypatch):
    """timed_phase's read-modify-write on the shared phase registry must
    not lose updates when the prebuild pool's threads record at once."""
    import sys
    import threading
    import types

    from big_data_processing_spark.operators import util

    # each thread's clock advances 0.5 s per read: every phase adds 0.5
    local = threading.local()

    def perf_counter():
        local.t = getattr(local, "t", 0.0) + 0.5
        return local.t

    monkeypatch.setattr(util, "time", types.SimpleNamespace(perf_counter=perf_counter))
    util.drain_phases()
    n_threads, n_iter = 16, 2000

    def work():
        for _ in range(n_iter):
            with util.timed_phase("stress"):
                pass

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(saved)
    assert util.drain_phases()["stress"]["setup"] == 0.5 * n_threads * n_iter


def _broken_release():
    raise RuntimeError("stale block")


def test_failed_barrier_release_is_counted_and_logged(caplog):
    """release_barriers keeps going past a release that raises, but the
    failure is counted and logged, not swallowed."""
    import logging

    from big_data_processing_spark.operators import util

    before = util.release_failures()
    util.register_release(_broken_release)
    with caplog.at_level(logging.WARNING, logger=util.__name__):
        util.release_barriers()
    assert util.release_failures() == before + 1
    assert "stale block" in caplog.text
    assert not util._BARRIERS


def test_failed_build_barrier_release_is_counted(spark):
    """The memo's release of a build's own barriers counts a failure
    the same way."""
    from big_data_processing_spark.operators import util

    def build():
        util.register_release(_broken_release)
        return spark.range(3)

    before = util.release_failures()
    assert art._memo_artifact(spark, "sf_release_fail", "broken", build).count() == 3
    assert util.release_failures() == before + 1
