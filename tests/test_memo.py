"""The per-owner memo store and the caches built on it."""

from __future__ import annotations

import gc
import sys
import threading
import time
import weakref
from concurrent.futures import ThreadPoolExecutor

from sparkflow_spark.memo import Memo


class _Owner:
    __slots__ = ("__weakref__",)


def _with_tiny_switch_interval(fn):
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        return fn()
    finally:
        sys.setswitchinterval(old)


def test_concurrent_misses_keep_the_bound_and_raise_nothing():
    bound = 4
    store = Memo(bound)
    owners = [_Owner() for _ in range(3)]
    errors: list[BaseException] = []
    peaks: list[int] = []

    def work(t: int) -> None:
        peak = 0
        try:
            for i in range(20_000):
                owner = owners[(t + i) % len(owners)]
                store.get_or_build(owner, (i % 11,), object)
                peak = max(peak, len(store))
        except BaseException as exc:  # recorded, asserted below
            errors.append(exc)
        peaks.append(peak)

    def run() -> list[threading.Thread]:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
        return threads

    threads = _with_tiny_switch_interval(run)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(peaks) == 8 and 0 < max(peaks) <= bound
    assert len(store) <= bound


def test_racing_builds_of_one_key_share_the_first_stored_value():
    store = Memo(8)
    owner = _Owner()
    n = 8
    barrier = threading.Barrier(n, timeout=60)
    built = []

    def build():
        value = object()
        built.append(value)
        time.sleep(0.05)  # every thread misses before the first stores
        return value

    def call(_):
        barrier.wait()
        return store.get_or_build(owner, ("k",), build)

    with ThreadPoolExecutor(n) as pool:
        results = _with_tiny_switch_interval(
            lambda: [f.result(timeout=60) for f in [pool.submit(call, i) for i in range(n)]]
        )
    assert len(built) > 1
    assert len({id(v) for v in results}) == 1
    assert any(results[0] is v for v in built)
    assert store.get_or_build(owner, ("k",), build) is results[0]
    assert len(store) == 1


def test_entry_pins_its_owner_and_a_successor_with_its_id_misses():
    store = Memo(1)
    first = _Owner()
    first_id = id(first)
    alive = weakref.ref(first)
    assert store.get_or_build(first, ("k",), lambda: "first") == "first"
    assert (first_id, "k") in store
    del first
    gc.collect()
    assert alive() is not None  # pinned: its id cannot be reused

    store.get_or_build(_Owner(), ("other",), lambda: "evicts first")
    gc.collect()
    assert alive() is None and (first_id, "k") not in store

    keep = []
    while len(keep) < 100_000 and (not keep or id(keep[-1]) != first_id):
        keep.append(_Owner())
    successor = keep[-1]
    assert id(successor) == first_id
    assert store.get_or_build(successor, ("k",), lambda: "successor") == "successor"


def test_none_builds_are_not_stored():
    store = Memo(4)
    owner = _Owner()
    assert store.get_or_build(owner, ("k",), lambda: None) is None
    assert len(store) == 0


def test_clear_result_memo_empties_every_store(spark):
    from sparkflow_spark import catalog, dedup, memo, similarity
    from sparkflow_spark.queries import _RESULT_MEMO, clear_result_memo, load_all
    from sparkflow_spark.queries import similarity_suite
    from sparkflow_spark.streaming import windows
    from sparkflow_spark.streaming.stateful import _tws_runner_session

    load_all()
    named = [
        _RESULT_MEMO,
        catalog._SCAN_CACHE,
        catalog._SCAN_TUNED,
        catalog._DIM_CACHE,
        dedup._NGRAM_RESULT_CACHE,
        similarity._IVF_MODEL_CACHE,
        similarity._PQ_MODEL_CACHE,
        similarity_suite._SEM_PAIRS_MEMO,
        windows._SESSION_CLONES,
        windows._SCHEMA_CACHE,
    ]
    assert all(any(store is s for s in memo._STORES) for store in named)
    owner = _Owner()
    for store in list(memo._STORES):
        store.get_or_build(owner, ("probe",), object)
        assert len(store) > 0
    tws = _tws_runner_session(spark)
    assert _tws_runner_session(spark) is tws
    clear_result_memo()
    assert all(len(store) == 0 for store in memo._STORES)
    rebuilt = _tws_runner_session(spark)
    assert rebuilt is not tws
    assert rebuilt.conf.get("spark.sql.streaming.stateStore.providerClass").endswith(
        "RocksDBStateStoreProvider"
    )


# Entries whose plans share memoized stages: scans, the n-gram pair
# plan (jaccard pairs + near-dedup keep), the semantic-dedup pair frame
# (pairs + keep) and the IVF quantizer.
CONCURRENT_ENTRIES = (
    "tpch_q1_pricing_summary",
    "d_ngram_jaccard_pairs",
    "d_near_dedup_keep",
    "d_semantic_dedup_pairs",
    "d_semantic_dedup_keep",
    "s_ivf_ann_top1",
)


def test_registry_entries_built_from_threads_match_a_serial_run(spark, sf_dir):
    from sparkflow_spark.oracle import _canon
    from sparkflow_spark.queries import REGISTRY, clear_result_memo, load_all

    load_all()

    def run(name: str):
        return _canon(REGISTRY[name].fn(spark, sf_dir).toPandas())

    clear_result_memo()
    serial = {name: run(name) for name in CONCURRENT_ENTRIES}

    clear_result_memo()
    names = CONCURRENT_ENTRIES * 2  # two threads race on every entry's memo key
    with ThreadPoolExecutor(len(CONCURRENT_ENTRIES)) as pool:
        futures = [(name, pool.submit(run, name)) for name in names]
        threaded = [(name, f.result(timeout=900)) for name, f in futures]

    for name, frame in threaded:
        assert frame.equals(serial[name]), name
    for name in CONCURRENT_ENTRIES:
        q = REGISTRY[name]
        if q.memo:
            assert q.fn(spark, sf_dir) is q.fn(spark, sf_dir), name
