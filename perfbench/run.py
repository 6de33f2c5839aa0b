#!/usr/bin/env python3
"""Benchmark command: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 6 --trace 0

Run from anywhere inside a checkout of the repository. The run:

1. writes the seeded inputs (``gen.py``) into its own directory under
   ``.perfbench_runs/`` in the checkout, which also holds the Spark
   local dirs, the warehouse and every temporary file of the run;
2. with ``--trace 0``, starts ``SETUP_SAMPLES - 1`` set-up-only worker
   process, then the measuring worker (``worker.py``), each a fresh
   Python process with its own JVM, and times each from process start
   to ``READY``; a set-up-only worker is gone before the next starts;
3. samples the resident memory of the measuring worker's processes
   (driver JVM, Python daemons and workers) from outside every 200 ms,
   and reads the host's CPU steal time from ``/proc/stat`` at the start
   and end of that worker;
4. prints the end-to-end metrics (``--trace 0``) or the per-layer
   metrics (``--trace 1``) as the last line of standard output, and
   the full run record on standard error and under ``.perfbench_out/``.

It exits 1 when an output check failed and 2 when the run could not
complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# Fresh-process set-ups per untraced run; setup_s is their median. Each
# costs 7-10 s, so two (the measuring worker and one set-up-only worker)
# keep a run near a minute, and two dozen runs per workload in an hour.
SETUP_SAMPLES = 2
# The whole command, set-ups included, ends within this many seconds.
TIMEOUT_S = 170
# local[N] with N at most this many cores, and a driver heap far below
# physical memory (local mode runs every task inside the driver JVM).
MAX_CPUS = 4
DRIVER_MEM_MB = 2048
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
# One sample costs 2-5 ms of a core. The peak is set by the resident
# heap and the long-lived Python workers, so a short interval finds
# nothing more and only takes CPU from the measured run.
MEMORY_SAMPLE_S = 0.2
# A run during which other tenants took more than this share of the
# host's CPU (steal time) is flagged in its record: under 6-27% steal,
# pipeline rows_per_s spread by 0.46 across runs.
STEAL_FLAG_SHARE = 0.05


def fail(message: str) -> int:
    print(f"perfbench: {message}", file=sys.stderr)
    return 2


def worker_env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    mem_total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = min(DRIVER_MEM_MB, mem_total_mb // 3)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(min(MAX_CPUS, len(os.sched_getaffinity(0)))),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    for name in ("SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS"):
        env.pop(name, None)
    return env


def cpu_jiffies() -> tuple[int, int, int]:
    """``(steal, idle, total)`` CPU time of the host from ``/proc/stat``,
    summed over all CPUs (guest time is already part of user time)."""
    with open("/proc/stat") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return steal, idle + iowait, user + nice + system + idle + iowait + irq + softirq + steal


def _session_procs(sid: int) -> dict[int, tuple[int, str]]:
    """``pid -> (parent pid, executable name)`` of every live process in
    a session. A session, not a process group: Spark's Python daemons
    put themselves and their workers in process groups of their own."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                if int(fields[3]) == sid and fields[0] != "Z":
                    exe = os.path.basename(os.readlink(f"/proc/{entry}/exe"))
                    procs[int(entry)] = (int(fields[1]), exe)
            except OSError:
                continue
    return procs


def _session_memory(sid: int) -> dict[str, int]:
    """Resident bytes of each process of a session, keyed ``exe:pid``.

    The JVM counts its resident set from ``statm``, the kernel's
    counters: ``smaps_rollup`` walks the JVM's page tables under its
    memory lock, which at this sampling rate took a quarter of a core
    and stalled the measured process. A JVM child that has forked but
    not yet exec'd (the JVM starting the Python daemon) is skipped, since
    it shows its parent's whole resident set. Python processes count
    their proportional set size, so pages a forked Python worker shares
    with its daemon count once.
    """
    procs = _session_procs(sid)
    out = {}
    for pid, (ppid, exe) in procs.items():
        try:
            if exe == "java":
                if procs.get(ppid, (0, ""))[1] == "java":
                    continue
                with open(f"/proc/{pid}/statm") as fh:
                    size = int(fh.read().split()[1]) * PAGE_BYTES
            else:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    size = next(int(line.split()[1]) << 10 for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[f"{exe}:{pid}"] = size
    return out


class Worker:
    """A worker process in a session of its own, stopped with every
    process of that session."""

    def __init__(self, args: list[str], env: dict, cwd: str, log) -> None:
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env, cwd=cwd, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True,
        )
        self.peak_rss = 0
        self.peak_by_process: dict[str, int] = {}
        self._sampling = False

    def sample_rss(self) -> None:
        self._sampling = True

        def loop():
            while self._sampling:
                sample = _session_memory(self.proc.pid)
                total = sum(sample.values())
                if total > self.peak_rss:
                    self.peak_rss, self.peak_by_process = total, sample
                time.sleep(MEMORY_SAMPLE_S)

        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def read_until(self, prefix: str, deadline: float) -> str | None:
        """The first stdout line starting with ``prefix`` before the
        ``perf_counter`` deadline; other lines (printed by the engine's
        Python workers) are skipped."""
        result: list[str] = []

        def reader():
            for line in self.proc.stdout:
                if line.startswith(prefix):
                    result.append(line[len(prefix):].strip())
                    return

        t = threading.Thread(target=reader, daemon=True)
        t.start()
        t.join(max(0.0, deadline - time.perf_counter()))
        return result[0] if result else None

    def _kill_session(self) -> dict[int, tuple[int, str]]:
        procs = _session_procs(self.proc.pid)
        for pid in procs:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        return procs

    def kill(self) -> None:
        """Kill the whole session: the worker, its JVM and the Python
        daemons and workers."""
        self._sampling = False
        self._kill_session()
        self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()

    def wait_gone(self, timeout: float = 20.0) -> None:
        """Kill and wait until no process of the session is left."""
        deadline = time.time() + timeout
        while self._kill_session() and time.time() < deadline:
            time.sleep(0.05)


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    q = statistics.quantiles(values, n=4)
    return [q[0], statistics.median(values), q[2]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sparkflow_spark")):
        return fail(f"no sparkflow_spark package next to {HERE}; run inside a checkout")
    try:
        from perfbench.gen import write_inputs
        from perfbench.workloads import WORKLOADS, rows_per_pass
        import pyspark  # noqa: F401
    except ImportError as exc:
        return fail(f"missing dependency: {exc}")
    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cwd = os.path.join(run_dir, "cwd")
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(cwd)
    write_inputs(inputs, args.seed)
    env = worker_env(run_dir)
    common = ["--workload", args.workload, "--inputs", inputs, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace)]
    deadline = time.perf_counter() + TIMEOUT_S
    setups: list[float] = []
    workers: list[Worker] = []
    result = None
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        try:
            # Each set-up worker is gone, JVM and all, before the next
            # worker starts, so no set-up overlaps another's teardown.
            for _ in range(0 if args.trace else SETUP_SAMPLES - 1):
                w = Worker([*common, "--mode", "setup"], env, cwd, log)
                workers.append(w)
                try:
                    if w.read_until("READY", deadline) is None:
                        return fail("set-up worker did not become ready")
                    setups.append(time.perf_counter() - w.started)
                finally:
                    w.kill()
                    w.wait_gone()
            cpu_start = cpu_jiffies()
            w = Worker([*common, "--mode", "run"], env, cwd, log)
            workers.append(w)
            w.sample_rss()
            try:
                if w.read_until("READY", deadline) is None:
                    return fail("worker did not become ready")
                setups.append(time.perf_counter() - w.started)
                line = w.read_until("RESULT ", deadline)
                peak_rss, peak_by_process = w.peak_rss, w.peak_by_process
                cpu = [b - a for a, b in zip(cpu_start, cpu_jiffies())]
            finally:
                w.kill()
            if line is None:
                return fail("worker ended without a result")
            result = json.loads(line)
        finally:
            for w in workers:
                w.kill()
                w.wait_gone()
            if result is None:
                with open(log_path) as fh:
                    sys.stderr.write(fh.read()[-4000:])
            shutil.rmtree(run_dir, ignore_errors=True)

    passes = result["steady_passes"]
    steal_share, idle_share = cpu[0] / max(cpu[2], 1), cpu[1] / max(cpu[2], 1)
    if steal_share > STEAL_FLAG_SHARE:
        print(f"perfbench: steal took {steal_share:.1%} of the host's CPU during the run; "
              "its times measure the host, not the program", file=sys.stderr)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "setup_samples_s": setups,
        "rows_per_pass": rows_per_pass(args.workload),
        "steady_pass_count": len(passes),
        "steady_pass_quartiles_s": quartiles([sum(p.values()) for p in passes]),
        "steal_share": steal_share,
        "idle_share": idle_share,
        "steal_flagged": steal_share > STEAL_FLAG_SHARE,
        "peak_rss_mb": peak_rss / 2**20,
        "peak_rss_mb_by_process": {k: v / 2**20 for k, v in peak_by_process.items()},
        **{k: v for k, v in result.items() if k not in ("spans",)},
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({**record, "spans": result.get("spans", [])}, fh)
    print("perfbench record: " + json.dumps(record), file=sys.stderr)

    if args.trace:
        values = dict(result["layers"], fail_ratio=result["failed"] / result["attempted"])
        values["control.steal_share"] = steal_share
    else:
        values = {
            "setup_s": statistics.median(setups),
            "cold_s": result["cold_s"],
            "rows_per_s": rows_per_pass(args.workload) / result["steady_s"],
            "peak_rss_mb": peak_rss / 2**20,
        }
    # Names and units as BENCHMARK.json declares them.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    correct = result["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
