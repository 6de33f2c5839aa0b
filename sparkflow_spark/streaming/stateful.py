"""Custom stateful streaming via ``applyInPandasWithState`` (Q39).

The canonical "running per-key aggregate with explicit state" operator:
per user_id, keep a count in GroupState and emit the updated total each
micro-batch. With AvailableNow over a static source the final emission
per key equals the batch ``GROUP BY user_id`` count — the t2 oracle.

State is O(1) per key (a single long), so at scale the state store stays
bounded by key cardinality, not event volume.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sparkflow_spark.streaming.windows import _session_clone, run_stream_to_memory, stream_events


def _ensure_protobuf() -> None:
    """Driver-side protobuf resolution, deferred to FIRST TWS USE.

    transformWithStateInPandas speaks protobuf to the JVM state server;
    pyspark's client imports ``StateMessage_pb2`` lazily inside its
    methods, so registering the from-scratch minipb runtime here — at
    the top of each TWS query builder — is early enough. It is NOT done
    at module import (ADVICE r10): mutating process-wide ``sys.modules``
    as an import side effect would hand every other library in the
    process a partial ``google.protobuf`` it never asked for. Executor
    workers are covered separately by the processors' ``__setstate__``
    bootstrap (see :func:`_processor_base`). With the real
    wheel installed this is a no-op and the official runtime wins.
    """
    from sparkflow_spark.minipb import install_if_missing

    install_if_missing()

_OUT_SCHEMA = T.StructType(
    [T.StructField("user_id", T.LongType()), T.StructField("c", T.LongType())]
)
_STATE_SCHEMA = T.StructType([T.StructField("count", T.LongType())])


def _update_count(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (count,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        count += len(pdf)
    state.update((count,))
    yield pd.DataFrame({"user_id": [key[0]], "c": [count]})


def running_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user event counts with explicit GroupState."""
    sdf = stream_events(spark, sf_dir, watermark=None)
    counts = sdf.groupBy("user_id").applyInPandasWithState(
        _update_count,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_memory(counts, "update")
    # one emission per key per micro-batch; keep the final (max) total
    return out.groupBy("user_id").agg(F.max("c").alias("c")).orderBy("user_id")


# ---------------------------------------------------------------------------
# transformWithState (Spark 4.x successor API to applyInPandasWithState)


_TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("c", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)


def _processor_base() -> type:
    """A ``StatefulProcessor`` base class that ships BY VALUE.

    The TWS "driver worker" is a separate python process the JVM spawns
    with only pyspark.zip on its path — it gets neither the repo cwd
    nor the addPyFile package zip, so anything pickled by REFERENCE to
    ``sparkflow_spark`` dies there with ModuleNotFoundError at
    ``read_command``. The class below, and every processor subclassing
    it inside a builder function, is local to a function, so cloudpickle
    ships it by value (methods, closure and all); processor bodies
    import only pandas/numpy/stdlib.

    The closure embeds the SOURCE of :mod:`sparkflow_spark.minipb`:
    ``__setstate__`` runs at unpickle time — before the worker's first
    protobuf-framed state-server message — and installs it as
    ``google.protobuf`` if the real wheel is absent there (the
    constructor plants a marker attribute so pickle always calls
    ``__setstate__``). The state-v2 handlers a processor does not use
    are no-ops here.
    """
    import inspect

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    import sparkflow_spark.minipb as _minipb_mod

    minipb_src = inspect.getsource(_minipb_mod)

    class TwsProcessor(StatefulProcessor):
        def __init__(self):
            # non-empty instance state → pickle invokes __setstate__
            self._minipb_bootstrap = True

        def __setstate__(self, state):
            import types as _types

            try:
                import google.protobuf as _g

                installed = getattr(_g, "__file__", None) is not None or getattr(
                    _g, "_MINIPB", False
                )
            except ImportError:
                installed = False
            if not installed:
                mod = _types.ModuleType("sparkflow_minipb_embedded")
                exec(compile(minipb_src, "<sparkflow minipb embedded>", "exec"), mod.__dict__)
                mod.install_if_missing()
            self.__dict__.update(state or {})

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            return iter(())

        def handleInitialState(self, key, initialState, timerValues) -> None:
            pass

        def close(self) -> None:
            pass

    return TwsProcessor


_TWS_CONFS = (
    ("spark.sql.shuffle.partitions", "4"),
    (
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    ),
)


def _tws_runner_session(spark: SparkSession, no_data_batches: bool = True):
    """Session clone for a TWS query: RocksDB state store (TWS state
    lives in per-variable column families, which the default
    HDFS-backed provider rejects — RocksDB is also the production
    store) + fixture-sized state width. The clone keeps the provider
    override from leaking into sibling queries, and comes from the
    :func:`streaming_session` clone store, so every TWS entry/pass
    reuses the warm Python TWS workers and state-server processes
    (measured ~2-4 s of fixed per-call cost for a fresh clone).

    ``no_data_batches=False`` adds
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` — for
    processors that never register timers, a processingTime-mode
    AvailableNow run then ends at its last DATA batch and
    ``awaitTermination`` RETURNS (measured: 1 batch instead of 3; the
    settle-drain protocol and its empty state-store-commit batches are
    not needed at all). Timer-driven processors must NOT use it —
    their timers fire in exactly the post-data batches this removes."""
    _ensure_protobuf()  # every TWS query builder funnels through here
    return _session_clone(spark, _TWS_CONFS, no_data_batches)


def _final_emission(out: DataFrame, order_col: str, *cols: str) -> DataFrame:
    """Each user's FINAL emission: the row with the highest
    ``order_col``, which must be strictly increasing per key across
    micro-batches."""
    w = Window.partitionBy("user_id").orderBy(F.col(order_col).desc())
    return out.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).select(*cols)


def _build_user_stats_processor():
    """The user-stats processor instance: (count, sum-in-integer-cents)
    per user. Cents keep the running sum EXACT and order-independent —
    the final emission is bit-comparable to a batch GROUP BY regardless
    of micro-batch arrival order. State is two longs per key: bounded
    by key cardinality, with getValueState's ttlDurationMs as the
    production expiry knob.
    """

    class UserStatsProcessor(_processor_base()):
        def init(self, handle) -> None:
            self._state = handle.getValueState("stats", "c LONG, sum_cents LONG")

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as _pd

            _prev = self._state.get()  # one roundtrip: None == absent
            c, cents = _prev if _prev is not None else (0, 0)
            for pdf in rows:
                c += len(pdf)
                v = pdf["value"].to_numpy(dtype="float64")
                cents += int(np.floor(v * 100 + 0.5).sum())
            self._state.update((c, cents))
            yield _pd.DataFrame({"user_id": [key[0]], "c": [c], "sum_cents": [cents]})

    return UserStatsProcessor()


def _protobuf_requirement() -> str:
    """The exact pip requirement the TWS gate must name: parsed from the
    ValidateProtobufRuntimeVersion(...) pin inside the INSTALLED
    pyspark's generated StateMessage_pb2.py, so a pyspark upgrade that
    regenerates against a newer protobuf updates the remedy
    automatically (tests assert the refusal carries this exact string).
    Falls back to the Spark-4.1 gencode pin if the module moves."""
    import os
    import re

    try:
        import pyspark

        src_path = os.path.join(
            os.path.dirname(pyspark.__file__),
            "sql",
            "streaming",
            "proto",
            "StateMessage_pb2.py",
        )
        with open(src_path) as fh:
            m = re.search(
                r"ValidateProtobufRuntimeVersion\(\s*[^,]+,\s*(\d+),\s*(\d+),\s*(\d+)",
                fh.read(),
            )
        if m:
            major, minor, patch = m.groups()
            return f"protobuf>={major}.{minor}.{patch},<{int(major) + 1}"
    except OSError:  # pragma: no cover - pyspark layout changed
        pass
    return "protobuf>=6.33.0,<7"  # pragma: no cover


def _user_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-user (count, sum_cents) TWS stream over the events,
    bound to the TWS runner clone (its ``sparkSession``)."""
    sdf = stream_events(_tws_runner_session(spark), sf_dir, watermark=None, state_partitions=None)
    return sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_build_user_stats_processor(),
        outputStructType=_TWS_OUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )


def running_user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, sum) via ``transformWithStateInPandas``
    — the Spark 4 state-v2 API (typed state handles, timers, TTL),
    exercised alongside the legacy ``applyInPandasWithState`` twin
    above so both stateful surfaces stay covered.

    Protobuf resolution: the state-server protocol is protobuf-framed
    (pyspark's generated StateMessage_pb2 wants the runtime named by
    :func:`_protobuf_requirement`); with the wheel absent
    :func:`_ensure_protobuf` registers :mod:`sparkflow_spark.minipb` as
    ``google.protobuf`` at first TWS use — every round-trip through the
    JVM state server cross-checks that runtime against real protobuf on
    the JVM side."""
    _ensure_protobuf()
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - minipb install failed
        raise NotImplementedError(
            "transformWithStateInPandas needs a protobuf runtime "
            f"(`pip install '{_protobuf_requirement()}'`) and the bundled "
            "minipb fallback failed to install."
        ) from exc
    out = run_stream_to_memory(_user_stats_stream(spark, sf_dir), "update")
    # every emission for a key strictly increases c
    return _final_emission(out, "c", "user_id", "c", "sum_cents")


_TWS_LIST_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_kept", T.LongType()),
        T.StructField("top3_cents", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def tws_last_events_list_state(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """TWS ListState coverage: per user keep the 3 most-recent events
    (by ts, event_id) in a typed ListState and emit their count + exact
    integer-cents sum, READ BACK FROM THE STATE STORE (put → appendValue
    → get round-trips the JVM state server, so the emission proves the
    list survived serialization, not just local arithmetic). Exercises
    the ListStatePut / AppendValue / ListStateGet protocol paths of the
    protobuf runtime. Correct for ANY micro-batch arrival pattern
    (ADVICE r10): each call merges the previously stored list with the
    new rows before re-ranking, so maxFilesPerTrigger / real streams
    converge to the same top-3 as the single-batch AvailableNow run."""

    class LastEventsProcessor(_processor_base()):
        def init(self, handle) -> None:
            self._last = handle.getListState(
                "last_events", "ts_us LONG, event_id LONG, cents LONG"
            )
            # monotone per-key total: identifies the FINAL emission
            # under any micro-batch arrival pattern
            self._seen = handle.getValueState("n_seen", "n LONG")

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as _pd

            # merge prior state with this batch's rows, THEN re-rank:
            # correct under any micro-batch split of a key's events
            prev = [
                (int(t[0]), int(t[1]), int(t[2])) for t in self._last.get()
            ]
            parts = [pdf for pdf in rows]
            pdf = _pd.concat(parts, ignore_index=True)
            cents = np.floor(pdf["value"].to_numpy(dtype="float64") * 100 + 0.5)
            new = [
                (int(ts.value // 1000), int(eid), int(c))
                for ts, eid, c in zip(pdf["ts"], pdf["event_id"], cents)
            ]
            # (ts_us, event_id) ordering == (ts, event_id): keep last 3
            tuples = sorted(prev + new)[-3:]
            # put the head, append the tail — exercises BOTH write paths
            self._last.put(tuples[:-1] if len(tuples) > 1 else tuples)
            if len(tuples) > 1:
                self._last.appendValue(tuples[-1])
            _sv = self._seen.get()  # one roundtrip: None == absent
            seen = (_sv[0] if _sv is not None else 0) + len(pdf)
            self._seen.update((seen,))
            stored = list(self._last.get())  # read back through the server
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_kept": [len(stored)],
                    "top3_cents": [sum(t[2] for t in stored)],
                    "n_seen": [seen],
                }
            )

    runner = _tws_runner_session(spark)
    sdf = stream_events(
        runner,
        sf_dir,
        watermark=None,
        state_partitions=None,
        max_files_per_trigger=max_files_per_trigger,
    )
    out = sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=LastEventsProcessor(),
        outputStructType=_TWS_LIST_SCHEMA,
        outputMode="update",
        timeMode="none",
    )
    res = run_stream_to_memory(out, "update")
    return _final_emission(res, "n_seen", "user_id", "n_kept", "top3_cents", "n_seen")


_TWS_MAP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("c", T.LongType()),
    ]
)


def tws_type_counts_map_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWS MapState coverage: per user a MapState keyed by event_type
    holding counts, updated via containsKey/getValue/updateValue and
    EMITTED FROM iterator() — every (key, value) pair round-trips the
    JVM state server through the MapStateCall protocol paths
    (UpdateValue / ContainsKey / GetValue / Iterator) of the protobuf
    runtime. Final emission per user == batch GROUP BY (user_id,
    event_type)."""

    class TypeCountsProcessor(_processor_base()):
        def init(self, handle) -> None:
            self._counts = handle.getMapState("type_counts", "t STRING", "c LONG")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            for pdf in rows:
                for t, n in pdf["event_type"].value_counts().items():
                    k = (str(t),)
                    if self._counts.containsKey(k):
                        (cur,) = self._counts.getValue(k)
                    else:
                        cur = 0
                    self._counts.updateValue(k, (cur + int(n),))
            ks, cs = [], []
            for (t,), (c,) in self._counts.iterator():
                ks.append(t)
                cs.append(c)
            yield _pd.DataFrame(
                {"user_id": [key[0]] * len(ks), "event_type": ks, "c": cs}
            )

    runner = _tws_runner_session(spark)
    sdf = stream_events(runner, sf_dir, watermark=None, state_partitions=None)
    out = sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TypeCountsProcessor(),
        outputStructType=_TWS_MAP_SCHEMA,
        outputMode="update",
        timeMode="none",
    )
    res = run_stream_to_memory(out, "update")
    return res.groupBy("user_id", "event_type").agg(F.max("c").alias("c"))


_TWS_TIMER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_end_ms", T.LongType()),
    ]
)


def tws_session_end_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWS EVENT-TIME TIMER coverage: per user, (re)register a timer at
    last-seen-ts + gap (delete-then-register exercises ListTimers /
    DeleteTimer / RegisterTimer; expiry delivery exercises the
    ExpiryTimerRequest path), and emit (user, session_end) from
    handleExpiredTimer when the watermark expires the session. With
    AvailableNow over the static source the timing rule is
    deterministic: the final flush batch fires exactly the timers with
    expiry <= final watermark = (min over watermark nodes of max ts) -
    delay, floored to whole ms — users whose last event is younger keep
    their timer buffered (same watermark arithmetic the left-outer join
    entry pinned; the boundary inclusivity is pinned by t1)."""
    gap_ms = 30 * 60 * 1000

    class SessionTimerProcessor(_processor_base()):
        def init(self, handle) -> None:
            self._handle = handle
            self._last_ts = handle.getValueState("last_ts", "ts_ms LONG")

        def handleInputRows(self, key, rows, timerValues):
            mx = None
            for pdf in rows:
                m = pdf["ts"].max()
                mx = m if mx is None or m > mx else mx
            last_ms = int(mx.value // 1_000_000)
            prev = self._last_ts.get()  # None == absent (single roundtrip)
            if prev is None or last_ms > prev[0]:
                for t in self._handle.listTimers():
                    self._handle.deleteTimer(t)
                self._handle.registerTimer(last_ms + gap_ms)
                self._last_ts.update((last_ms,))
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as _pd

            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_end_ms": [expiredTimerInfo.getExpiryTimeInMs()],
                }
            )

    runner = _tws_runner_session(spark)
    sdf = stream_events(runner, sf_dir, watermark="3 hours", state_partitions=None)
    out = sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionTimerProcessor(),
        outputStructType=_TWS_TIMER_SCHEMA,
        outputMode="append",
        timeMode="eventtime",
    )
    res = run_stream_to_memory(out, "append")
    return res.select("user_id", "session_end_ms").orderBy("user_id")


_TWS_SEED_CUTOFF = "2024-01-15"


def tws_seeded_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWS INITIAL-STATE coverage (the last state-v2 API leg): per-user
    event counts seeded from a BATCH DataFrame of pre-cutoff history
    (``initialState=GroupedData`` → ``handleInitialState`` installs the
    seed into ValueState), while the stream delivers only post-cutoff
    events — the standard backfill-then-stream migration shape. Final
    emission per active user = seed + streamed = the batch all-time
    count. Users with history but NO post-cutoff activity are seeded
    but never emit (update-mode emission rides handleInputRows) — the
    oracle reproduces exactly that: all-time counts for users active
    after the cutoff."""
    from sparkflow_spark.catalog import cached_table

    class SeededCountsProcessor(_processor_base()):
        def init(self, handle) -> None:
            self._count = handle.getValueState("count", "c LONG")

        def handleInitialState(self, key, initialState, timerValues) -> None:
            self._count.update((int(initialState["c"].iloc[0]),))

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            _cv = self._count.get()  # one roundtrip: None == absent
            (c,) = _cv if _cv is not None else (0,)
            for pdf in rows:
                c += len(pdf)
            self._count.update((c,))
            yield _pd.DataFrame({"user_id": [key[0]], "c": [c]})

    runner = _tws_runner_session(spark)
    seed = (
        cached_table(runner, sf_dir, "events")
        .where(F.col("ts") < F.lit(_TWS_SEED_CUTOFF).cast("timestamp"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sdf = stream_events(runner, sf_dir, watermark=None, state_partitions=None).where(
        F.col("ts") >= F.lit(_TWS_SEED_CUTOFF).cast("timestamp")
    )
    out = sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SeededCountsProcessor(),
        outputStructType=_OUT_SCHEMA,
        outputMode="update",
        timeMode="none",
        initialState=seed.groupBy("user_id"),
    )
    res = run_stream_to_memory(out, "update")
    return res.groupBy("user_id").agg(F.max("c").alias("c"))


# ---------------------------------------------------------------------------
# state TTL + processing-time timers (r10 verdict ask #4)


_TWS_TTL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("c", T.LongType()),
        T.StructField("pt_ms", T.LongType()),
    ]
)


def tws_ttl_user_counts(
    spark: SparkSession,
    sf_dir: str,
    ttl_ms: int = 6 * 3600 * 1000,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Per-user running counts in a ValueState with ``TTLConfig``
    (``ttlDurationMs``) — the production knob that keeps keyed-stream
    state bounded at 100 TB: a key idle longer than the TTL is evicted
    by the store itself, no user code.

    TTL in state-v2 is PROCESSING-time based (expiry = batch processing
    time + ttl). Two deterministic regimes, both used:

    - ``ttl_ms`` >> run duration (default 6 h vs a seconds-long
      AvailableNow run): nothing can expire mid-run, so the final
      per-key count equals the batch ``GROUP BY`` exactly — the t2
      oracle regime;
    - ``ttl_ms`` << inter-batch gap (1 ms, with
      ``max_files_per_trigger=1`` forcing multiple batches): state
      written in batch N is ALWAYS expired by batch N+1 (micro-batches
      are never sub-millisecond apart), so counts restart per batch —
      the t1 boundary regime.

    Each emission carries ``pt_ms`` (the batch's processing time) —
    strictly increasing across micro-batches — so the FINAL emission
    per key is identifiable under expiry, where the count is not
    monotone.
    """
    _ttl = int(ttl_ms)

    class TtlCountsProcessor(_processor_base()):
        def init(self, handle) -> None:
            self._count = handle.getValueState(
                "cnt", "c LONG", ttlDurationMs=_ttl
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            _cv = self._count.get()  # one roundtrip: None == absent
            c = _cv[0] if _cv is not None else 0
            for pdf in rows:
                c += len(pdf)
            self._count.update((c,))
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "c": [c],
                    "pt_ms": [timerValues.getCurrentProcessingTimeInMs()],
                }
            )

    # r14 (guide §5 — the settle drain's empty micro-batches cost
    # 0.4-0.9 s of state-store load/commit each): this processor never
    # registers timers, so nothing can ever emit after the last DATA
    # batch — run it on the noDataMicroBatches=false runner, where
    # AvailableNow+processingTime terminates at the last data batch
    # and awaitTermination works (measured: 3 batches -> 1; TTL
    # eviction is applied on state ACCESS inside data batches, so both
    # TTL regimes — and every emission — are byte-identical).
    runner = _tws_runner_session(spark, no_data_batches=False)
    sdf = stream_events(
        runner,
        sf_dir,
        watermark=None,
        state_partitions=None,
        max_files_per_trigger=max_files_per_trigger,
    )
    out = sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TtlCountsProcessor(),
        outputStructType=_TWS_TTL_SCHEMA,
        outputMode="update",
        timeMode="processingTime",  # TTL is only legal in this timeMode
    )
    res = run_stream_to_memory(out, "update")
    return _final_emission(res, "pt_ms", "user_id", "c")


_TWS_PT_TIMER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("fired_after_pt_ms", T.LongType()),
    ]
)


def tws_processing_time_timer_fires(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """PROCESSING-time timers (``timeMode="processingTime"``) — the
    state-v2 leg event-time timers don't cover. Per key, batch 1
    registers a timer at (current processing time - 1 ms): an
    already-elapsed expiry, so the NEXT micro-batch must fire it —
    deterministic without controlling the wall clock, because batch
    processing time strictly increases and fired timers are delivered
    when expiry < the batch's processing time. ``handleExpiredTimer``
    emits (key, expiry); a key therefore appears iff a batch ran after
    its registration batch (with ``max_files_per_trigger=1`` over a
    multi-file source: every key seen before the final batch).
    Duplicate registrations are prevented by a seen-marker ValueState.
    """

    class PtTimerProcessor(_processor_base()):
        def init(self, handle) -> None:
            self._handle = handle
            self._armed = handle.getValueState("armed", "a LONG")

        def handleInputRows(self, key, rows, timerValues):
            for _ in rows:
                pass
            if not self._armed.exists():
                self._handle.registerTimer(
                    timerValues.getCurrentProcessingTimeInMs() - 1
                )
                self._armed.update((1,))
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as _pd

            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "fired_after_pt_ms": [expiredTimerInfo.getExpiryTimeInMs()],
                }
            )

    runner = _tws_runner_session(spark)
    sdf = stream_events(
        runner,
        sf_dir,
        watermark=None,
        state_partitions=None,
        max_files_per_trigger=max_files_per_trigger,
    )
    out = sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PtTimerProcessor(),
        outputStructType=_TWS_PT_TIMER_SCHEMA,
        outputMode="update",
        timeMode="processingTime",
    )
    # timers fire in the post-data empty batches that processingTime
    # mode keeps scheduling — settle-drain captures them, then stops.
    # Stopping at the first quiet batch is sound here: every timer is
    # already-elapsed at registration, every fired timer emits one row,
    # and handleExpiredTimer registers no new timer — so the FIRST empty
    # batch with no sink growth proves no timers remained and nothing
    # can ever emit again (condition (b) in run_stream_to_memory).
    return run_stream_to_memory(out, "update", drain="settle")


_TWS_TTL3_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("v_cnt", T.LongType()),
        T.StructField("l_len", T.LongType()),
        T.StructField("m_types", T.LongType()),
        T.StructField("pt_ms", T.LongType()),
    ]
)


def tws_ttl_all_state_types(
    spark: SparkSession,
    sf_dir: str,
    ttl_ms: int,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """TTL breadth twin of :func:`tws_ttl_user_counts`: the SAME
    ttlDurationMs applied to all THREE state variable kinds — a
    ValueState running count, a ListState of event_ids (append-only),
    and a MapState of per-event-type counts. Each emission reports the
    post-update sizes read back from the store, so with ttl <<
    inter-batch gap every batch observes freshly-expired state (value
    restarts, list holds only this batch's appends, map holds only
    this batch's types) while ttl >> run length reproduces the
    accumulate-forever semantics. The t1 pins both regimes."""
    _ttl = int(ttl_ms)

    class Ttl3Processor(_processor_base()):
        def init(self, handle) -> None:
            self._v = handle.getValueState("v", "c LONG", ttlDurationMs=_ttl)
            self._l = handle.getListState("l", "eid LONG", ttlDurationMs=_ttl)
            self._m = handle.getMapState(
                "m", "t STRING", "c LONG", ttlDurationMs=_ttl
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            _cv = self._v.get()  # one roundtrip: None == absent
            c = _cv[0] if _cv is not None else 0
            for pdf in rows:
                c += len(pdf)
                self._l.appendList([(int(e),) for e in pdf["event_id"]])
                for t_, n in pdf["event_type"].value_counts().items():
                    prev = (
                        self._m.getValue((t_,))[0]
                        if self._m.containsKey((t_,))
                        else 0
                    )
                    self._m.updateValue((t_,), (prev + int(n),))
            self._v.update((c,))
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "v_cnt": [c],
                    "l_len": [sum(1 for _ in self._l.get())],
                    "m_types": [sum(1 for _ in self._m.keys())],
                    "pt_ms": [timerValues.getCurrentProcessingTimeInMs()],
                }
            )

    # no timers registered — same no-data-batch-free termination
    # argument as tws_ttl_user_counts above
    runner = _tws_runner_session(spark, no_data_batches=False)
    sdf = stream_events(
        runner,
        sf_dir,
        watermark=None,
        state_partitions=None,
        max_files_per_trigger=max_files_per_trigger,
    )
    out = sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Ttl3Processor(),
        outputStructType=_TWS_TTL3_SCHEMA,
        outputMode="update",
        timeMode="processingTime",
    )
    res = run_stream_to_memory(out, "update")
    return _final_emission(res, "pt_ms", "user_id", "v_cnt", "l_len", "m_types")
