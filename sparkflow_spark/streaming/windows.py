"""Event-time windowed aggregations over a file-source stream."""

from __future__ import annotations

import hashlib
import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from sparkflow_spark.catalog import normalize_event_time, table_path
from sparkflow_spark.memo import Memo
from sparkflow_spark.session import ensure_runtime_configs


def _as_stream_dir(path: str) -> str:
    """Spark's file stream source requires a *directory*; the fixtures
    are single parquet files. Stage a stable symlink directory per
    source file (a production stream reads a landing directory anyway —
    this adapter exists only for the single-file fixtures)."""
    if os.path.isdir(path):
        return path
    digest = hashlib.sha1(path.encode()).hexdigest()[:12]
    d = os.path.join("/tmp", "sparkflow_stream_src", digest)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(path, link)
    return d


_SESSION_CLONES = Memo(32)
_SCHEMA_CACHE = Memo(64)


def streaming_session(
    spark: SparkSession,
    state_partitions: int | None = 4,
    no_data_batches: bool = True,
) -> SparkSession:
    """A cloned session (same SparkContext, isolated SQL conf) sized for
    streaming state.

    A streaming query's shuffle width fixes its STATE STORE count for
    the life of the checkpoint, so it should be set to expected key
    cardinality and state volume — not inherited from the
    batch-oriented session default (each state store instance costs
    per-batch init/commit, so oversizing hurts latency directly; at
    real scale you size it before first start — it cannot change across
    restarts without a new checkpoint). The default 4 matches the
    fixture streams' state volume (≤ a few thousand keys: per-store
    init + commit dominates beyond that width — measured 1.04 s at 8
    stores vs 0.92 s at 4 for the tumbling query); real deployments
    pass their own width. The override lives on a
    ``newSession()`` clone so the caller's conf is never mutated — a
    set-then-restore on the shared session races with any concurrently
    running query (round-3 review finding). ``newSession()`` starts
    from base defaults, so the runtime configs are re-applied.

    ``no_data_batches=False`` (r14, guide §5 — each empty micro-batch
    costs 0.2-0.9 s of per-partition state-store load/commit) turns
    ``spark.sql.streaming.noDataMicroBatches.enabled`` off on the
    clone, so an AvailableNow run ends at its LAST DATA batch instead
    of scheduling watermark-advance/settle batches after it (and a
    processingTime-mode run terminates at all — see
    run_stream_to_memory's drain notes). ONLY legal when the query's
    RESULT cannot depend on post-data batches: complete-mode
    aggregations (every batch rewrites the whole sink; the extra batch
    re-emits identical content), update-mode stateful queries with no
    timers (emissions ride handleInputRows), inner stream-stream joins
    and within-watermark dedup (rows emit on arrival; the final batch
    only evicts state). NEVER for append-mode watermarked aggregations,
    OUTER stream-stream joins, or timer-driven processors — those emit
    rows IN the post-data batches.
    """
    if state_partitions is None:
        return ensure_runtime_configs(spark)
    confs = (("spark.sql.shuffle.partitions", str(state_partitions)),)
    return _session_clone(spark, confs, no_data_batches)


def _session_clone(
    spark: SparkSession, confs: tuple[tuple[str, str], ...], no_data_batches: bool = True
) -> SparkSession:
    """``spark``'s ``newSession()`` clone with the runtime configs, then
    the ``(key, value)`` pairs in ``confs``, set; ``no_data_batches=False``
    appends the noDataMicroBatches override. Memoized per (parent,
    overrides applied): the clone itself is stateless (each query gets
    its own checkpoint/sink), but building one costs a newSession + ~a
    dozen conf py4j round-trips, and a fresh clone per call would also
    spawn fresh Python workers (``spark.python.worker.reuse`` is per
    session)."""
    if not no_data_batches:
        confs = (*confs, ("spark.sql.streaming.noDataMicroBatches.enabled", "false"))

    def clone() -> SparkSession:
        runner = ensure_runtime_configs(spark.newSession())
        for key, value in confs:
            runner.conf.set(key, value)
        return runner

    return _SESSION_CLONES.get_or_build(spark, confs, clone)


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    watermark: str | None = "2 hours",
    state_partitions: int | None = 4,
    max_files_per_trigger: int | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """``readStream`` over the events parquet with event-time ``ts``.

    File sources need an explicit schema; we take it from the batch
    reader (which also tells us whether ts arrived as raw nanos — see
    catalog nanosAsLong note) and convert to a proper timestamp. The
    returned stream is bound to a :func:`streaming_session` clone so
    its state-store count follows ``state_partitions``; pass ``None``
    to stay on the caller's session (e.g. when composing two streams
    into one query — they must share a session).
    ``no_data_batches=False`` forwards to :func:`streaming_session`
    (see the legality notes there).
    """
    spark = streaming_session(spark, state_partitions, no_data_batches)
    path = table_path(sf_dir, "events")
    # memoize the RAW batch schema per (session, path): a fresh
    # spark.read.parquet re-reads the footer on every call (~50 ms of
    # the per-query floor). It must be the PRE-normalization schema —
    # the stream reads the file as it is on disk (bigint nanos / ntz /
    # ltz) and normalize_event_time converts below; the catalog's
    # cached events table is already normalized and would mis-declare
    # a bigint-nanos fixture.
    batch_schema = _SCHEMA_CACHE.get_or_build(
        spark, (path,), lambda: spark.read.parquet(path).schema
    )
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger is not None:
        # one micro-batch per N source files — the way to exercise real
        # multi-batch behavior (CDC merges, state evolution) against an
        # AvailableNow static directory, which otherwise arrives as a
        # single batch
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    sdf = reader.parquet(_as_stream_dir(path))
    # Handle every ts arrival shape the fixtures have shipped (bigint
    # nanos / timestamp_ntz / timestamp) — withWatermark requires LTZ.
    sdf = normalize_event_time(sdf)
    if watermark is not None:
        sdf = sdf.withWatermark("ts", watermark)
    return sdf


# settle drain: poll interval (correctness does not depend on it, only
# poll frequency), bound on the whole wait for a query that never goes
# quiet, and the quiet batches that prove completion
_SETTLE_POLL_S = 0.1
_SETTLE_TIMEOUT_S = 60.0
_SETTLE_QUIET_BATCHES = 1


def run_stream_to_memory(sdf: DataFrame, output_mode: str, drain: str = "terminate") -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a
    memory sink; return the final result as a batch DataFrame.

    State sizing happens at PLAN construction via
    :func:`streaming_session` (the stream must be built under the sized
    session — a conf applied after the DataFrame exists does not rebind
    its JVM-side session); this runner only starts the query and waits.

    ``drain`` picks the completion protocol:

    - ``"terminate"`` (default): ``awaitTermination()`` — correct for
      every timeMode except processingTime, where AvailableNow NEVER
      self-terminates (the micro-batch executor keeps scheduling empty
      batches because processing time always advances, so
      ``shouldRunAnotherBatch`` stays true — observed: 212 epochs and
      counting on a one-file source);
    - ``"settle"``: watch StreamingQueryProgress and stop at the first
      completed batch with ``numInputRows == 0`` and no sink growth
      since the previous batch. ``processAllAvailable()`` ALSO never
      returns under processingTime+AvailableNow (verified by traceback:
      it blocks while the executor schedules empty batch after empty
      batch), and those post-data empty batches are exactly where
      already-elapsed processing-time timers fire, so their emissions
      are wanted. Progress-based, NOT sink-count stability over a
      time window: a wall-clock window races slow multi-file batches
      (observed: a 1 s window stopped a maxFilesPerTrigger=1 query
      between file batches 5.4 s apart and silently truncated the
      stream to batch 1).

    One quiet batch proves completion (empty micro-batches cost 0.4-0.7 s
    of state-store load/commit each, so the drain waits for no more)
    ONLY when the processor guarantees that a quiet empty batch cannot
    be followed by an emitting one — true when (a) the processor never
    registers timers (emissions ride handleInputRows, so once the
    AvailableNow backlog is drained — the first empty batch proves it,
    batches are sequential — nothing can emit again), or (b) every
    registered timer is already-elapsed at registration AND every fired
    timer emits ≥1 row and registers no new timer (so a quiet empty
    batch means no timers remained). A settle caller must meet (a) or (b).
    """
    import time as _time

    spark = sdf.sparkSession
    name = f"st_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if drain == "terminate":
        q.awaitTermination()
    elif drain == "settle":
        deadline = _time.time() + _SETTLE_TIMEOUT_S
        last_pid, last_count, empty_quiet = None, -1, 0
        while _time.time() < deadline:
            prog = q.lastProgress
            if prog is not None and prog["batchId"] != last_pid:
                # a batch completed since the last poll. The sink count
                # (a Spark job) runs ONLY here — r13: counting on every
                # 0.1 s poll fired hundreds of driver jobs that contended
                # with the stream's own micro-batches; the protocol only
                # ever consumes the count taken at a batch boundary.
                n = spark.table(name).count()
                if prog["numInputRows"] == 0 and n == last_count:
                    empty_quiet += 1
                else:
                    empty_quiet = 0
                last_pid, last_count = prog["batchId"], n
                if empty_quiet >= _SETTLE_QUIET_BATCHES:
                    break
            _time.sleep(_SETTLE_POLL_S)
        q.stop()
        q.awaitTermination()
    else:  # pragma: no cover - programmer error
        raise ValueError(f"run_stream_to_memory: unknown drain {drain!r}")
    return spark.table(name)


def tumbling_counts(
    spark: SparkSession, sf_dir: str, duration: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time window counts (Q37). Complete mode so the
    final memory table holds every window — equal to the batch GROUP BY
    date_trunc."""
    sdf = stream_events(spark, sf_dir)
    agg = sdf.groupBy(F.window("ts", duration).alias("win")).agg(
        F.count(F.lit(1)).alias("c")
    )
    out = run_stream_to_memory(agg, "complete")
    return out.select(F.col("win.start").alias("w"), "c").orderBy("w")


def sliding_counts(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "2 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """Sliding (overlapping) window counts (Q38): each event lands in
    duration/slide windows."""
    sdf = stream_events(spark, sf_dir)
    agg = sdf.groupBy(F.window("ts", duration, slide).alias("win")).agg(
        F.count(F.lit(1)).alias("c")
    )
    out = run_stream_to_memory(agg, "complete")
    return out.select(F.col("win.start").alias("w"), "c").orderBy("w")


def stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "purchase",
    right_type: str = "signup",
    within: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    each left event matches right events of the same user that happened
    in (left.ts - within, left.ts]. Watermarks on BOTH sides bound the
    join state (Spark buffers only rows inside the watermark horizon —
    this is what makes stream-stream joins feasible at scale).

    Inner joins in append mode emit every match once both sides arrive,
    so with AvailableNow over a static source the result equals the
    batch join — the t2 oracle.
    """
    # both legs must be built under the SAME (sized) session — clone
    # once here, then stream_events with state_partitions=None.
    # no_data_batches=False (r14): an INNER join emits each match in
    # the data batch where its second side arrives; the post-data
    # watermark-advance batch only EVICTS state and can emit nothing,
    # so skipping it is result-identical and saves one empty batch of
    # 4-partition x 4-store load/commit (measured ~0.4-0.6 s). The
    # outer-join twins below keep no-data batches — their null-padded
    # rows are emitted exactly there.
    runner = streaming_session(spark, no_data_batches=False)
    left = (
        stream_events(runner, sf_dir, watermark="3 hours", state_partitions=None)
        .filter(F.col("event_type") == left_type)
        .select(F.col("user_id"), F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id"))
    )
    right = (
        stream_events(runner, sf_dir, watermark="3 hours", state_partitions=None)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
    )
    cond = (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") > F.col("l_ts") - F.expr(f"INTERVAL {within}"))
    )
    joined = left.join(right, cond, "inner").select("l_id", "r_id")
    out = run_stream_to_memory(joined, "append")
    return out.orderBy("l_id", "r_id")


def session_counts_batch(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows (gap-based) as a *batch* query —
    ``session_window`` is the same operator Catalyst uses in streaming;
    batch mode lets the oracle check every session including the
    still-open tail ones that streaming append mode would hold back.
    Streaming-mode session windows are exercised in tests.
    """
    from sparkflow_spark.catalog import cached_table

    ev = cached_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select("user_id", F.col("win.start").alias("session_start"), "c")
        .orderBy("user_id", "session_start")
    )


def stream_static_join_counts(
    spark: SparkSession, sf_dir: str, dim_table: str = "customer"
) -> DataFrame:
    """Stream-static join: the event stream enriched with a STATIC
    dimension table, then aggregated. The static side is a plain batch
    DataFrame — Spark re-plans it per micro-batch and (given the
    broadcast hint) ships it as a broadcast hash join, so the stream
    side never shuffles for the join; only the aggregation keeps state.
    This is the standard enrich-then-aggregate streaming shape (and at
    100 TB the dim stays broadcast — the scale argument is identical to
    the batch q05/q06 joins).
    """
    from pyspark.sql.functions import broadcast

    from sparkflow_spark.catalog import cached_table

    sdf = stream_events(spark, sf_dir)
    # the static side must come from the SAME (cloned) session the
    # stream plan is bound to
    dim = cached_table(sdf.sparkSession, sf_dir, dim_table).select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = sdf.join(broadcast(dim), sdf["user_id"] == dim["c_custkey"], "inner")
    agg = joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("c"))
    out = run_stream_to_memory(agg, "complete")
    return out.orderBy("c_mktsegment")


def stream_stream_left_join(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "purchase",
    right_type: str = "signup",
    within: str = "2 hours",
    delay: str = "3 hours",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the state-store
    behavior real pipelines hit: matches emit as both sides arrive
    (inner semantics), and an unmatched left row emits null-padded only
    when the watermark proves no future right row can join it.

    The null-padding timing is the contract here. The verified rule
    (encoded in the registered oracle and hash-matched at three SFs) is:
    an unmatched left row emits null-padded iff
    ``l_ts < wm``, where ``wm = min over the two filtered legs of
    (max event ts in that leg) - delay``, strict ``<`` at whole-ms
    resolution — with NO ``within`` term. The join range
    ``r_ts ∈ (l_ts - within, l_ts]`` only looks BACKWARD from the left
    row, so once the watermark passes ``l_ts`` no future right row
    (all of which arrive with ``r_ts ≥ wm``) can satisfy
    ``r_ts ≤ l_ts``; Spark's state cleanup therefore needs no extra
    ``within`` grace on the left side for this condition shape.
    Unmatched rows younger than ``wm`` stay buffered in the state
    store when the query stops — they are NOT in the result, and the
    oracle must not invent them. Verified empirically: at sf0.001
    unmatched purchases just under the watermark emit, while those at
    or above it are correctly withheld.

    Scale shape: state is bounded by the watermark horizon on both
    sides (the point of watermarked outer joins); keys shuffle once
    into the join's state-store partitioning, sized by
    :func:`streaming_session`.
    """
    runner = streaming_session(spark)
    left = (
        stream_events(runner, sf_dir, watermark=delay, state_partitions=None)
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
    )
    right = (
        stream_events(runner, sf_dir, watermark=delay, state_partitions=None)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
    )
    cond = (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") > F.col("l_ts") - F.expr(f"INTERVAL {within}"))
    )
    joined = left.join(right, cond, "left_outer").select("l_id", "r_id")
    out = run_stream_to_memory(joined, "append")
    return out.orderBy("l_id", "r_id")


def stream_stream_full_join(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "purchase",
    right_type: str = "signup",
    within: str = "2 hours",
    delay: str = "3 hours",
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join (r10 verdict ask #3)
    — the hardest state-expiry semantics: BOTH sides null-pad, each on
    its own watermark-proven-unmatchable schedule.

    With the range condition ``r_ts ∈ (l_ts - within, l_ts]`` and
    global watermark ``wm = min over the two filtered legs of
    (max event ts in that leg) - delay`` (whole-ms, per-leg maxima):

    - an unmatched LEFT row null-pads iff ``l_ts < wm`` (strict): any
      future right arrives with ``r_ts ≥ wm > l_ts`` and the condition
      needs ``r_ts ≤ l_ts`` — same rule as the left-outer twin;
    - an unmatched RIGHT row null-pads iff ``r_ts + within ≤ wm``
      (INCLUSIVE, unlike the left leg): a future left arrives with
      ``l_ts ≥ wm`` and the condition needs the STRICT
      ``l_ts < r_ts + within``, so at ``wm == r_ts + within`` the row
      is already provably unmatchable and Spark evicts it that same
      batch. The asymmetry is forced by the range bounds — ``r_ts ≤
      l_ts`` is inclusive (a right arriving exactly at ``wm`` can still
      match a left with ``l_ts == wm``, so left eviction waits for
      ``l_ts < wm`` strictly), while ``r_ts > l_ts - within`` is
      exclusive. Both legs pinned by the planted-boundary t1
      (±1 ms around each horizon).

    Rows younger than their side's horizon stay buffered in the state
    store when the query stops — they are NOT in the result, and the
    oracle must not invent them.

    Scale shape: state on each side is bounded by (delay + within) of
    event time — the point of watermarked outer joins; keys shuffle
    once into the join's state-store partitioning.
    """
    runner = streaming_session(spark)
    left = (
        stream_events(runner, sf_dir, watermark=delay, state_partitions=None)
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
    )
    right = (
        stream_events(runner, sf_dir, watermark=delay, state_partitions=None)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
    )
    cond = (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") > F.col("l_ts") - F.expr(f"INTERVAL {within}"))
    )
    joined = left.join(right, cond, "full_outer").select("l_id", "r_id")
    out = run_stream_to_memory(joined, "append")
    return out.orderBy("l_id", "r_id")


def stream_stream_right_join(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "purchase",
    right_type: str = "signup",
    within: str = "2 hours",
    delay: str = "3 hours",
) -> DataFrame:
    """Watermarked stream-stream RIGHT OUTER join — the right-leg half
    of :func:`stream_stream_full_join`: matches emit as both sides
    arrive; an unmatched RIGHT row null-pads iff ``r_ts + within ≤ wm``
    (inclusive — see the full-join docstring for why the legs'
    horizons differ); left rows never pad. Same state bounds as the
    full join."""
    runner = streaming_session(spark)
    left = (
        stream_events(runner, sf_dir, watermark=delay, state_partitions=None)
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
    )
    right = (
        stream_events(runner, sf_dir, watermark=delay, state_partitions=None)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
    )
    cond = (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") > F.col("l_ts") - F.expr(f"INTERVAL {within}"))
    )
    joined = left.join(right, cond, "right_outer").select("l_id", "r_id")
    out = run_stream_to_memory(joined, "append")
    return out.orderBy("l_id", "r_id")


def stream_scd2_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream enriched against a VERSIONED (SCD type-2) dimension: each
    streamed event joins the dimension row whose validity interval
    contains its event time — the as-of-attribute enrich every CDC-fed
    warehouse needs when facts must see the dimension AS IT WAS, not as
    it is. The dimension is the X33 scd2_from_changes build (per-user
    event_type attribute intervals from the same events table, so the
    enrich is exactly replayable); the join is a stream-static EQUI
    join on user_id (broadcast dim — at 100 TB a sort-merge on the
    same key) plus the interval containment filter, which keeps the
    stream side completely STATELESS: only the final aggregate holds
    state. Boundary semantics: intervals are [valid_from, valid_to),
    so an event at exactly a change instant belongs to the NEW version;
    same-microsecond ties inherit the dimension's (ts, event_id)
    tiebreak. Emitted: counts by (dimension attribute at event time,
    actual event type) — the attribute-transition census."""
    from pyspark.sql.functions import broadcast

    from sparkflow_spark.operators import scd2_from_changes

    sdf = stream_events(spark, sf_dir, watermark=None)
    runner = sdf.sparkSession
    from sparkflow_spark.catalog import cached_table

    ev = cached_table(runner, sf_dir, "events")
    dim = scd2_from_changes(
        ev, "user_id", "event_type", "ts", tiebreak_col="event_id"
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("attr"),
        "valid_from",
        "valid_to",
    )
    joined = sdf.join(
        broadcast(dim),
        (sdf["user_id"] == dim["d_user"])
        & (sdf["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (sdf["ts"] < dim["valid_to"])),
        "inner",
    )
    agg = joined.groupBy("attr", "event_type").agg(F.count(F.lit(1)).alias("c"))
    out = run_stream_to_memory(agg, "complete")
    return out
