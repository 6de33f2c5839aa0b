#!/usr/bin/env python
"""Per-batch anatomy of the streaming entries (r14, guide §1).

Runs each REGISTRY entry unchanged, keeping every query it starts
through the real windows.run_stream_to_memory (a DataStreamWriter.start
hook), and reads each completed batch's StreamingQueryProgress
(durationMs breakdown: queryPlanning, addBatch, getBatch,
walCommit/commitOffsets, triggerExecution; numInputRows; stateOperators
commit/total-rows). Prints per entry: wall seconds per pass, batch
count, empty-batch count, and the durationMs sums.

Usage: python scripts/stream_anatomy.py entry1,entry2 [--passes N] [--sf DIR] [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming.readwriter import DataStreamWriter

from sparkflow_spark.queries import load_all
from sparkflow_spark.session import build_session


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("only")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", dest="json_out", default=None)
    args = ap.parse_args()

    # every query the real run_stream_to_memory starts, in start order
    started: list = []
    orig_start = DataStreamWriter.start

    def recording_start(self, *a, **kw):
        query = orig_start(self, *a, **kw)
        started.append(query)
        return query

    DataStreamWriter.start = recording_start

    spark = build_session(app_name="stream_anatomy")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    def execute(df):
        df.write.format("noop").mode("overwrite").save()

    # engine warmup (same as bench.py)
    execute(registry["q13_hash_agg_tpch_q1"].fn(spark, args.sf))
    execute(registry["st_tumbling_hour_counts"].fn(spark, "/root/testdata/sf0.001"))

    out: dict[str, dict] = {}
    for name in args.only.split(","):
        q = registry[name]
        rows = []
        for i in range(args.passes):
            started.clear()
            t0 = time.perf_counter()
            execute(q.fn(spark, args.sf))
            wall = round(time.perf_counter() - t0, 3)
            runs = []
            for query in started:
                batches = []
                for p in query.recentProgress:
                    d = p.durationMs
                    batches.append(
                        {
                            "batchId": p.batchId,
                            "rows": p.numInputRows,
                            "triggerExecution": d.get("triggerExecution"),
                            "queryPlanning": d.get("queryPlanning"),
                            "addBatch": d.get("addBatch"),
                            "getBatch": d.get("getBatch"),
                            "walCommit": d.get("walCommit"),
                            "commitOffsets": d.get("commitOffsets"),
                            "stateCommitMs": sum(s.commitTimeMs for s in p.stateOperators),
                            "stateRowsTotal": sum(s.numRowsTotal for s in p.stateOperators),
                        }
                    )
                runs.append(batches)
            rows.append({"wall": wall, "runs": runs})
            n_batches = sum(len(r) for r in runs)
            n_empty = sum(1 for r in runs for b in r if b["rows"] == 0)
            tot_trig = sum(
                (b["triggerExecution"] or 0) for r in runs for b in r
            )
            tot_plan = sum((b["queryPlanning"] or 0) for r in runs for b in r)
            tot_add = sum((b["addBatch"] or 0) for r in runs for b in r)
            print(
                f"{name} pass{i}: wall={wall}s queries={len(runs)} "
                f"batches={n_batches} empty={n_empty} "
                f"trigSum={tot_trig}ms planSum={tot_plan}ms addSum={tot_add}ms",
                flush=True,
            )
        out[name] = {"passes": rows}
    DataStreamWriter.start = orig_start
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
