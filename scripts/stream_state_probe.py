#!/usr/bin/env python
"""Streaming-state + shuffle-width probe (r10 verdict asks #1/#7).

Two measurements the scale_probe harness can't see:

1. **RocksDB state-store footprint** of the TWS per-user stats query at
   a given fixture dir: runs the SAME processor the registry entry uses
   (streaming/stateful._build_user_stats_processor) under its RocksDB
   runner session and reports the final StreamingQueryProgress
   stateOperators row — numRowsTotal, state bytes, provider metrics.
   State is 2 longs/key, so bytes should track key cardinality, not
   event volume — the boundedness claim behind Q39/X25, with
   ttlDurationMs (X164) as the idle-key eviction knob.

2. **Prescreen shuffle width** of exact vs hashed-gram exact-substring
   dedup: runs both variants and reads per-stage shuffle write volumes
   from the Spark status REST API, reporting MAX stage shuffle-write —
   the gram-keyed prescreen exchange dominates both plans, so the max
   isolates it without stage-name archaeology. Expected ~(8 bytes +
   row overhead) vs ~(30 chars + overhead) per position: the hashed
   key's exchange should be a fraction of the exact one.

Usage: python scripts/stream_state_probe.py [sf_dir]
(point sf_dir at a kept scale_probe dir, e.g. /tmp/sparkflow_scale/x64,
for the ×N readings)
"""

from __future__ import annotations

import json
import sys
import urllib.request

sys.path.insert(0, "/root/repo")

from sparkflow_spark.session import build_session  # noqa: E402


def tws_state_footprint(spark, sf_dir: str, width: int | None = None) -> dict:
    """One TWS run; ``width`` overrides the state width (shuffle
    partitions at FIRST checkpoint — the r11 verdict's open assertion:
    the runner pins 4 for fixture-sized state, and 'width ∝ keys
    restores per-worker constancy' needs a measured row at a wide
    setting, r12 ask #2)."""
    import time
    import uuid

    import pyspark.sql.functions as F  # noqa: F401

    from sparkflow_spark.streaming import stateful
    from sparkflow_spark.streaming.windows import _session_clone, stream_events

    proc = stateful._build_user_stats_processor()
    runner = stateful._tws_runner_session(spark)
    if width is not None:
        # its own clone (the later width override wins), so the shared
        # TWS runner keeps its fixture width
        runner = _session_clone(
            spark, (*stateful._TWS_CONFS, ("spark.sql.shuffle.partitions", str(width)))
        )
    sdf = stream_events(runner, sf_dir, watermark=None, state_partitions=None)
    stats = sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=stateful._TWS_OUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )
    name = f"probe_{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    q = (
        stats.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall_s = round(time.time() - t0, 2)
    prog = q.lastProgress
    ops = (prog or {}).get("stateOperators") or []
    row = ops[0] if ops else {}
    keep = {
        k: row.get(k)
        for k in (
            "operatorName",
            "numRowsTotal",
            "numRowsUpdated",
            "allUpdatesTimeMs",
            "commitTimeMs",
            "memoryUsedBytes",
            "numShufflePartitions",
        )
    }
    cm = row.get("customMetrics") or {}
    keep["rocksdb"] = {
        k: cm[k]
        for k in cm
        if "SizeBytes" in k or k in ("rocksdbFilesCopied", "rocksdbBytesCopied")
    }
    keep["inputRows"] = (prog or {}).get("numInputRows")
    keep["wall_s"] = wall_s
    keep["width"] = width if width is not None else 4
    return keep


def _stage_shuffle_writes(spark) -> dict[int, int]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages") as r:
        stages = json.load(r)
    return {
        s["stageId"]: s.get("shuffleWriteBytes", 0)
        for s in stages
        if s.get("status") == "COMPLETE"
    }


def substring_shuffle_width(spark, sf_dir: str) -> dict:
    from sparkflow_spark.catalog import cached_table
    from sparkflow_spark.dedup import exact_substring_spans

    docs = cached_table(spark, sf_dir, "documents")
    out = {}
    for mode in ("exact", "hash"):
        before = _stage_shuffle_writes(spark)
        import time

        t0 = time.time()
        exact_substring_spans(docs, min_len=30, gram_key=mode).write.format(
            "noop"
        ).mode("overwrite").save()
        wall = time.time() - t0
        after = _stage_shuffle_writes(spark)
        new = {k: v for k, v in after.items() if k not in before and v > 0}
        out[mode] = {
            "wall_s": round(wall, 2),
            "max_stage_shuffle_write_bytes": max(new.values(), default=0),
            "total_new_shuffle_write_bytes": sum(new.values()),
        }
    e, h = out["exact"], out["hash"]
    if e["max_stage_shuffle_write_bytes"]:
        out["prescreen_width_ratio_hash_vs_exact"] = round(
            h["max_stage_shuffle_write_bytes"] / e["max_stage_shuffle_write_bytes"], 3
        )
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # the shuffle-width half reads the status REST API, which needs the
    # UI server — the harness session disables it, so enable it FIRST
    # (the conf is fixed at SparkContext creation)
    from pyspark.sql import SparkSession

    # context-creation confs must ALL land on this first builder —
    # build_session only applies its heap sizing when IT creates the
    # context (default 1g OOMs the ×64 substring probe)
    SparkSession.builder.config("spark.ui.enabled", "true").config(
        "spark.ui.port", "4059"
    ).config("spark.driver.memory", "20g").getOrCreate()
    spark = build_session(app_name="stream_state_probe")
    assert spark.sparkContext.uiWebUrl, "UI must be on for stage metrics"
    widths = None
    if len(sys.argv) > 2 and sys.argv[2].startswith("--tws-widths="):
        widths = [int(w) for w in sys.argv[2].split("=", 1)[1].split(",")]
    if widths is not None:
        # the r12 width A/B: TWS footprint + wall at each state width,
        # nothing else (the widths are set at FIRST checkpoint — each
        # run uses a fresh ephemeral checkpoint, so widths don't stick)
        for w in widths:
            print(
                json.dumps(
                    {
                        "sf_dir": sf_dir,
                        "tws_state": tws_state_footprint(spark, sf_dir, width=w),
                    }
                )
            )
        return 0
    print(json.dumps({"sf_dir": sf_dir, "tws_state": tws_state_footprint(spark, sf_dir)}))
    print(json.dumps({"sf_dir": sf_dir, "substring_shuffle": substring_shuffle_width(spark, sf_dir)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
