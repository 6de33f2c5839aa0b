"""One benchmark run inside a fresh Python process.

The process builds the session, loads the registry and warms the
engine, then prints ``READY``: that is the end of set-up. With
``--mode setup`` it stops there. With ``--mode run`` it goes on:

1. cold pass: every entry once, in the fresh session, in the order the
   workload declares them;
2. warm-up passes, not measured, until ``--seconds`` have passed (at
   least one), on workloads that declare a warm-up;
3. steady passes until another ``--seconds`` have passed, and at least
   the workload's minimum;
4. correctness gate: the outputs of the last steady pass against each
   entry's DuckDB oracle.

Only the calls into the program's entry points are timed:
``Query.fn`` and the noop write that executes its result. Each pass
after the cold one runs the entries one after another in a seeded
order. With ``--trace 1`` the layer boundaries are wrapped (see
``trace.py``), steady passes alternate between traced and untraced,
and the result carries per-layer metrics. The result is one JSON line
prefixed ``RESULT`` on standard output.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Work counts that repeat exactly for a given seed: a wall-time change
# with none of these moving points at the box, not the code.
COUNTERS = (
    "spark.tasks",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "python.rows",
    "streaming.batches",
    "lsh_index.bytes_written",
)
# Misclassification bound of m01_train_predict's behavioural check, the
# bound tests/test_ml.py holds every trained model to.
M01_MAX_ERROR_SHARE = 0.25


def execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark) -> None:
    """One trivial job through the noop sink: the first job of a session
    starts the executor threads and loads the job path once."""
    execute(spark.range(1))


def peak_heap_mb(spark) -> float:
    """Peak used driver heap: the sum of each heap pool's peak, which
    follows the program's heap use where resident memory keeps pages
    the heap once touched."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(p.getPeakUsage().getUsed() for p in pools if p.getType().name() == "HEAP") / 2**20


def digest(frame) -> str:
    """Order-insensitive hash of a canonical (sorted, stringified) frame."""
    import pandas as pd

    h = hashlib.sha256(",".join(frame.columns).encode())
    h.update(pd.util.hash_pandas_object(frame, index=False).values.tobytes())
    return h.hexdigest()[:16]


class Runner:
    def __init__(self, spark, registry, inputs: str, names: list[str], tracer):
        self.spark = spark
        self.registry = registry
        self.inputs = inputs
        self.names = names
        self.tracer = tracer
        if tracer is not None:
            from perfbench.trace import StatusReader

            self.status = StatusReader(spark)
        self.frames = {}  # each entry's latest result, checked by the gate
        self.attempted = 0
        self.failed: list[str] = []
        self.entries: list[dict] = []  # traced entry records

    def run_entry(self, name: str, traced: bool) -> float:
        from sparkflow_spark.queries import _RESULT_MEMO

        q = self.registry[name]
        tr = self.tracer
        self.attempted += 1
        if tr is not None:
            tr.enabled = traced
        if traced:
            tr.entry_id = f"{name}#{len(self.entries)}"
            tr.streams.clear()
            mark = self.status.mark()
            memo_hit = q.memo and (id(self.spark), self.inputs, name) in _RESULT_MEMO
            self.spark.sparkContext.setJobGroup(tr.entry_id, name)
            first_span = len(tr.spans)
        t0 = time.perf_counter()
        wall0 = time.time()
        try:
            if traced:
                with tr.span("entry", query=name):
                    with tr.span("queries.plan", memo=q.memo, memo_hit=memo_hit):
                        df = q.fn(self.spark, self.inputs)
                    with tr.span("sql.execute"):
                        execute(df)
            else:
                df = q.fn(self.spark, self.inputs)
                execute(df)
            self.frames[name] = df
        except Exception as exc:  # counted in fail_ratio, reported on stderr
            print(f"perfbench: {name} failed: {str(exc)[:500]}", file=sys.stderr)
            self.failed.append(name)
        seconds = time.perf_counter() - t0
        if traced:
            self.entries.append(self._entry_record(name, mark, wall0, tr.spans[first_span:]))
        return seconds

    def _entry_record(self, name, mark, wall0, spans) -> dict:
        status = self.status.read(mark)
        for s in spans:
            if "frame" in s:
                s["pairs"] = s.pop("frame").count()
        execs = sorted(status.pop("executions"), key=lambda e: e["submit"])
        plan = next(s for s in spans if s["name"] == "queries.plan")
        intervals = [(e["submit"], e["end"]) for e in execs if e["end"] is not None]
        from perfbench.trace import stream_progress

        batches = [p for q in self.tracer.streams for p in stream_progress(q)]
        return {
            "name": name,
            "spans": spans,
            "memo": plan["memo"],
            "memo_hit": plan["memo_hit"],
            "pre_submit_s": (execs[0]["submit"] - wall0) if execs else 0.0,
            "exec_s": _union_seconds(intervals),
            "batches": batches,
            **status,
        }

    def run_pass(self, order: list[str], traced: bool = False) -> dict[str, float]:
        return {n: self.run_entry(n, traced) for n in order}

    def gate(self) -> dict[str, dict]:
        """Check every entry's latest output once, outside the timed
        window. Eager entries (training, index builds, streams) return a
        frame over what they materialised, so checking it re-runs none
        of that work."""
        from sparkflow_spark import oracle

        con = oracle.duckdb_connection(self.inputs)
        # compare() canonicalises the Spark frame first; keep that frame
        # to hash it, rather than collecting each result a second time.
        canon = oracle._canon
        captured = []

        def capturing_canon(frame):
            captured.append(canon(frame))
            return captured[-1]

        oracle._canon = capturing_canon
        results = {}
        try:
            for name in self.names:
                q = self.registry[name]
                captured.clear()
                self.attempted += 1
                try:
                    df = self.frames[name] if name in self.frames else q.fn(self.spark, self.inputs)
                    if q.oracle is None:
                        ok, rows, detail = self._check_m01(df)
                    else:
                        r = oracle.compare(name, df, q.oracle, con)
                        ok, rows, detail = r.match, r.spark_rows, r.detail
                except Exception as exc:
                    ok, rows, detail = False, -1, f"error: {str(exc)[:300]}"
                results[name] = {"ok": ok, "rows": rows, "detail": detail,
                                 "hash": digest(captured[0]) if captured else None}
                if not ok:
                    self.failed.append(name)
                    print(f"perfbench: {name} output check failed: {detail}", file=sys.stderr)
        finally:
            oracle._canon = canon
        return results

    def _check_m01(self, df) -> tuple[bool, int, str]:
        """Training has no oracle: every input row gets a prediction and
        at most a quarter of the (label % 2) targets are missed."""
        import pyarrow.parquet as pq
        from sparkflow_spark import oracle

        out = oracle._canon(df.toPandas())
        truth = pq.read_table(os.path.join(self.inputs, "embeddings.parquet"),
                              columns=["vec_id", "label"]).to_pandas()
        want = dict(zip(truth["vec_id"].astype(str), (truth["label"] % 2).astype(str)))
        errors = sum(want.get(v) != p for v, p in zip(out["vec_id"], out["pred_label"]))
        ok = len(out) == len(truth) and errors <= M01_MAX_ERROR_SHARE * len(truth)
        return ok, len(out), f"{errors}/{len(truth)} misclassified"

    def duckdb_seconds(self) -> float:
        """The same entries' oracle SQL, timed in this process (median of
        three after one untimed run, summed over entries)."""
        from sparkflow_spark.oracle import duckdb_connection

        con = duckdb_connection(self.inputs)
        total = 0.0
        for name in self.names:
            sql = self.registry[name].oracle
            if sql is None:
                continue
            con.execute(sql).fetchall()
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                times.append(time.perf_counter() - t0)
            total += statistics.median(times)
        return total


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def layer_metrics(cold: list[dict], steady: list[list[dict]], slots: int) -> dict[str, float]:
    """Per-layer metrics from traced entry records.

    Metrics aimed at ``cold_s`` (plan build, pre-submit, catalog probes)
    sum over the cold pass; every other metric is the median over the
    traced steady passes of its per-pass sum.
    """

    def spans(records, name):
        return [s for r in records for s in r["spans"] if s["name"] == name]

    def seconds(records, name):
        return sum(s["end"] - s["start"] for s in spans(records, name))

    def one_pass(records) -> dict[str, float]:
        jobs = [j for r in records for j in r["jobs"]]
        task_run = sum(r["task_run_s"] for r in records)
        batches = [b for r in records for b in r["batches"]]
        batch_ms = sorted(b.get("durationMs", {}).get("triggerExecution", 0) for b in batches)
        stream_span = seconds(records, "streaming.run")
        fit_spans = spans(records, "ml.fit")
        memo = [r for r in records if r["memo"]]
        m = {
            "queries.memo_hit_ratio": (sum(r["memo_hit"] for r in memo) / len(memo)) if memo else 0.0,
            "sql.exec_s": sum(r["exec_s"] for r in records),
            "spark.jobs": len(jobs),
            "spark.stages": sum(r["stages"] for r in records),
            "spark.tasks": sum(r["tasks"] for r in records),
            "spark.task_run_s": task_run,
            "spark.task_cpu_s": sum(r["task_cpu_s"] for r in records),
            "spark.gc_s": sum(r["gc_s"] for r in records),
            "spark.sched_wait_s": max(0.0, sum(j["wall"] for j in jobs) * slots - task_run),
            "spark.shuffle_read_bytes": sum(r["shuffle_read_bytes"] for r in records),
            "spark.shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in records),
            "spark.spill_bytes": sum(r["spill_bytes"] for r in records),
            "spark.failed_tasks": sum(r["failed_tasks"] for r in records),
            "python.rows": sum(r["python"]["rows"] for r in records),
            "python.bytes_sent": sum(r["python"]["bytes_sent"] for r in records),
            "python.bytes_received": sum(r["python"]["bytes_received"] for r in records),
            "python.eval_s": sum(r["python"]["eval_s"] for r in records),
            "ml.fit_s": seconds(records, "ml.fit"),
            "ml.fit_jobs": sum(s.get("jobs", 0) for s in fit_spans),
            "ml.transform_s": seconds(records, "ml.transform"),
            "ml.save_load_s": seconds(records, "ml.save_load"),
            "dedup.cc_s": seconds(records, "dedup.cc"),
            "dedup.pairs_s": seconds(records, "dedup.pairs"),
            "dedup.pair_yield": _pair_yield(records),
            "lsh_index.build_s": seconds(records, "lsh_index.build"),
            "lsh_index.query_s": seconds(records, "lsh_index.query"),
            # size of each index directory after its last write
            "lsh_index.bytes_written": sum(
                {s["index"]: s["index_bytes"] for s in spans(records, "lsh_index.build")}.values()
            ),
            "streaming.batches": len(batches),
            "streaming.empty_batches": sum(1 for b in batches if b.get("numInputRows", 0) == 0),
            "streaming.batch_ms_p50": _quantile(batch_ms, 0.5),
            "streaming.batch_ms_p90": _quantile(batch_ms, 0.9),
            "streaming.add_batch_ms": _duration_ms(batches, "addBatch"),
            "streaming.planning_ms": _duration_ms(batches, "queryPlanning"),
            "streaming.commit_ms": _duration_ms(batches, "commitOffsets") + _duration_ms(batches, "walCommit"),
            "streaming.state_commit_ms": sum(
                s.get("commitTimeMs", 0) for b in batches for s in b.get("stateOperators", [])
            ),
            "streaming.drain_wait_s": max(0.0, stream_span - sum(batch_ms) / 1e3) if batches else 0.0,
        }
        from perfbench.trace import self_seconds

        for layer, value in self_seconds([s for r in records for s in r["spans"]]).items():
            m[f"{layer}.self_s"] = value
        return m

    per_pass = [one_pass(p) for p in steady]
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["queries.plan_s"] = seconds(cold, "queries.plan")
    out["sql.pre_submit_s"] = sum(r["pre_submit_s"] for r in cold)
    out["catalog.probe_s"] = seconds(cold, "catalog.probe")
    return out


def _pair_yield(records) -> float:
    """Final pairs over the rows the pair-expansion kernel emitted."""
    finals = sum(s.get("pairs", 0) for r in records for s in r["spans"] if s["name"] == "dedup.pairs")
    candidates = sum(r["python"]["rows"] for r in records if any(s["name"] == "dedup.pairs" for s in r["spans"]))
    return finals / candidates if candidates else 0.0


def _duration_ms(batches, key) -> float:
    return float(sum(b.get("durationMs", {}).get(key, 0) for b in batches))


def _quantile(sorted_values, q) -> float:
    if not sorted_values:
        return 0.0
    return float(sorted_values[min(len(sorted_values) - 1, int(q * len(sorted_values)))])


def median_pass(passes: list[dict[str, float]]) -> float:
    """Seconds of a typical pass: each entry's median over the passes,
    summed over entries."""
    return sum(statistics.median(p[n] for p in passes) for n in passes[0])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--mode", choices=("setup", "run"), required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    # Set-up: only the program's own imports and calls until READY.
    from sparkflow_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}")
    build_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    from sparkflow_spark.queries import load_all

    registry = load_all()
    warm_up(spark)
    print("READY", flush=True)
    if args.mode == "setup":
        return 0

    from perfbench.trace import Tracer, install
    from perfbench.workloads import MIN_STEADY_PASSES, WARM_UP, WORKLOADS

    traced = bool(args.trace)
    tracer = Tracer() if traced else None
    if traced:
        install(tracer, spark)
    names = list(WORKLOADS[args.workload])
    rng = random.Random(args.seed)
    runner = Runner(spark, registry, args.inputs, names, tracer)

    def order() -> list[str]:
        return rng.sample(names, len(names))

    # The cold pass keeps the declared order: the first entry that uses
    # a Python worker pays its start-up, about 5 s, so a seeded order
    # would move cold_s by which entry comes first.
    cold = {n: runner.run_entry(n, traced) for n in names}
    cold_entries = list(runner.entries)
    deadline = time.perf_counter() + args.seconds
    while WARM_UP[args.workload] and time.perf_counter() < deadline:
        runner.run_pass(order())

    # Traced runs pair each traced pass with an untraced one (the
    # overhead base), alternating which of the two runs first.
    steady, traced_passes, untraced = [], [], []
    deadline = time.perf_counter() + args.seconds
    min_passes = MIN_STEADY_PASSES[args.workload]
    while time.perf_counter() < deadline or len(steady) + len(untraced) < min_passes:
        if not traced:
            steady.append(runner.run_pass(order()))
            continue
        for with_trace in (False, True) if len(steady) % 2 == 0 else (True, False):
            if with_trace:
                first = len(runner.entries)
                steady.append(runner.run_pass(order(), traced=True))
                traced_passes.append(runner.entries[first:])
            else:
                untraced.append(runner.run_pass(order()))

    heap_mb = peak_heap_mb(spark)
    t0 = time.perf_counter()
    gate = runner.gate()
    gate_s = time.perf_counter() - t0
    # Outside every timed window, in traced and untraced runs alike: a
    # wall-time change counts as the program's only if the counters
    # moved or this control did not.
    control_s = runner.duckdb_seconds()
    sc = spark.sparkContext
    result = {
        "build_s": build_s,
        "cold_s": sum(cold.values()),
        "cold_entries": cold,
        "steady_s": median_pass(steady),
        "steady_passes": steady,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "failed_entries": sorted(set(runner.failed)),
        "gate": gate,
        "gate_s": gate_s,
        "control_duckdb_s": control_s,
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory", ""),
        "peak_heap_mb": heap_mb,
    }
    if traced:
        tracer.enabled = False
        layers = layer_metrics(cold_entries, traced_passes, sc.defaultParallelism)
        layers["session.build_s"] = build_s
        layers["spark.peak_heap_mb"] = heap_mb
        layers["control.duckdb_s"] = control_s
        layers["trace.overhead_ratio"] = median_pass(steady) / median_pass(untraced)
        result["layers"] = layers
        result["counters"] = {"output_rows": sum(g["rows"] for g in gate.values()),
                              **{k: layers[k] for k in COUNTERS}}
        result["spans"] = [s for r in runner.entries for s in r["spans"]]
    print("RESULT " + json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
