"""SparkSession construction and runtime configuration.

The reference pins Spark 2.4.3 and configures nothing (SURVEY.md, repo map;
reference Dockerfile:29). The new engine is explicit about the knobs that
matter at 100 TB scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion/promotion.
- Arrow on: every Python exchange (pandas_udf, mapInPandas, toPandas) is
  columnar and vectorized instead of row-pickled.
- UTC session timezone: deterministic date/timestamp semantics regardless
  of host timezone (fixtures are written tz-naive; see FIXTURES.md).
- shuffle.partitions sized for the local harness; on a real cluster AQE's
  coalescing makes the initial number much less sensitive, and
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` should be
  set to ~3× total cores.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Configs that are safe (and meaningful) to set on an already-running
# session. Everything the query layer depends on must be here, because the
# driver harness hands us a session we did not build.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # minPartitionSize deliberately stays at the 1 MiB default. A 64 KiB
    # floor was tried (keeps more post-shuffle partitions for CPU-bound
    # window/HOF stages; one window sort improved 0.65 → 0.33 s in
    # isolation) but a full-bench A/B showed it a NET LOSS: the extra
    # tasks on every small shuffle inflated the 16-query cold pass
    # 12.0 → 18.8 s (jaccard alone 4.3 → 8.0 s) and even steady state
    # 5.6 → 5.8 s. Stages that genuinely need row-based width get it
    # explicitly (ngram_jaccard_pairs sizes its index repartition to the
    # data); a global byte-floor override taxes everything else.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Fixture doubles are exact in both engines; ANSI off keeps Spark's
    # permissive casts aligned with DuckDB's TRY-free behavior for the
    # oracle contract.
    "spark.sql.ansi.enabled": "false",
    # size(NULL) must be NULL (SQL semantics, what every DuckDB oracle
    # yields), not the -1 the legacy flag's true default produces when
    # ANSI is off.
    "spark.sql.legacy.sizeOfNull": "false",
    # Historical fixture shapes stored ts as TIMESTAMP(NANOS), which
    # Spark's vectorized reader rejects; read as raw nanos and convert in
    # the catalog (ns → µs, Spark's native precision). Harmless when the
    # file is already µs.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Current fixtures store ts as parquet timestamp[µs]
    # isAdjustedToUTC=false, which Spark 4.x would otherwise infer as
    # TIMESTAMP_NTZ — a type withWatermark rejects
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Read as session-local
    # TIMESTAMP instead; with the UTC session timezone above the wall
    # clock values are identical. The catalog additionally casts
    # defensively (normalize_event_time) so externally built sessions
    # that ignore this conf still work.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


# Spark application ids that already had the package zip shipped to
# executors (applicationId, not id(sc): object ids can be reused after GC).
_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``sparkflow_spark`` importable on executor Python workers.

    cloudpickle serializes module-level functions (the ML inference
    pandas_udf, the stateful-streaming update function) by REFERENCE, so
    every executor worker must be able to ``import sparkflow_spark``.
    When the driving process runs from the repo directory that works by
    accident (cwd is on sys.path and local-mode workers inherit it); a
    driver process launched anywhere else gets
    ``ModuleNotFoundError: sparkflow_spark`` inside read_udfs. Shipping
    a zip of the package via ``addPyFile`` fixes it for every
    deployment — local mode, cluster executors, and externally built
    sessions alike. Idempotent per SparkContext; the zip is rebuilt at
    most once per driver process.
    """
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    import tempfile
    import uuid
    import zipfile

    import sparkflow_spark

    pkg_dir = os.path.dirname(os.path.abspath(sparkflow_spark.__file__))
    root = os.path.dirname(pkg_dir)
    # fresh zip per (process, context): a few dozen small files, cheap to
    # rebuild — never reuse a cached path (pid reuse across container
    # restarts with a persistent /tmp would ship STALE code to executors,
    # the exact driver/executor skew this function exists to prevent)
    zpath = os.path.join(
        tempfile.gettempdir(), f"sparkflow_spark_pyfiles_{uuid.uuid4().hex[:12]}.zip"
    )
    import atexit

    atexit.register(lambda p=zpath: os.path.exists(p) and os.remove(p))
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    try:
        sc.addPyFile(zpath)
    except Exception as exc:
        # e.g. a session mode that forbids adding files mid-flight; the
        # import-by-reference paths will still work wherever the package
        # is on the workers' PYTHONPATH — but say so instead of hiding it.
        warnings.warn(f"ship_package: addPyFile failed ({exc}); executors must "
                      "have sparkflow_spark on their own PYTHONPATH", stacklevel=2)
    _SHIPPED.add(key)


def ensure_runtime_configs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally provided session.

    Idempotent and cheap; call at every entry point.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            # A config may be static in some deployments; never fail the
            # query path over a tuning knob, but say which one was refused.
            warnings.warn(f"ensure_runtime_configs: could not set {key}={value} ({exc})",
                          stacklevel=2)
    ship_package(spark)
    return spark


def build_session(
    app_name: str = "sparkflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a session tuned for the local harness.

    On a real cluster most of these come from spark-submit conf; the
    builder only hard-codes what is semantically required (timezone,
    Arrow, AQE).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 20g default (round-8): the harness host has 128 GiB and local
        # mode makes the driver THE executor; at 8g the long bench
        # session was GC-bound on the array-heavy dedup shapes
        # (measured same-session A/B at sf0.1: v1 steady 6.97 -> 6.15 s,
        # d_ngram 1.53 -> 1.35 s, v2 1.74 -> 1.40 s). ParallelGC was
        # also measured and LOST to G1 (0.998 vs 0.898 s isolated
        # d_ngram steady) — heap size was the lever, not the collector.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"))
        # Whole-stage-codegen class cache: the 100-entry default thrashes
        # in a mixed-shape session (a 16-query pass overflows it, so
        # every repeat Janino-recompiles the evicted stages — the r8
        # "in-session edge": d_ngram back-to-back converged to 0.83 s
        # but interleaved stayed ~1.5-1.7 s). Measured same-harness A/B
        # at sf0.1: d_ngram steady 1.48 -> 0.93 s, 15-query steady total
        # 5.25 -> 4.02 s (-23%). Static conf — must be set pre-JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return ensure_runtime_configs(spark)
