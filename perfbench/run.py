"""Benchmark launcher: one workload run in a fresh worker process.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The launcher pins the run
environment (cores, driver memory, a per-run Spark local dir, the package
on PYTHONPATH for Python workers), runs perfbench/worker.py --stage to
generate the inputs, then starts perfbench/worker.py in its own process
group, samples the resident memory of the worker's whole process tree
(Python driver, JVM, Python workers), removes the run's scratch
directory, and prints a diagnostics line followed by one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
It exits non-zero without a result when the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

RUN_TIMEOUT_S = 170
MAX_CPUS = 4
MAX_DRIVER_MB = 3072

END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "op_geomean_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def pinned_env(run_dir: str) -> dict[str, str]:
    cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    driver_mb = min(MAX_DRIVER_MB, total_mb // 4)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM of the run (spark-submit's launcher and the Spark driver) keeps its
        # temp files and derby home in the run dir, and writes no perf data
        "JAVA_TOOL_OPTIONS": " ".join([
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
        ]),
        "OMP_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
    })
    return env


def _stat(pid: str) -> list[str]:
    """/proc/<pid>/stat fields after the parenthesised command name:
    [0] state, [1] ppid, [2] pgrp, ..., [19] starttime, [21] rss pages."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _same_exe(pid: int, other: int) -> bool:
    try:
        return os.readlink(f"/proc/{pid}/exe") == os.readlink(f"/proc/{other}/exe")
    except OSError:
        return False


class TreeRss:
    """Peak summed RSS of a process and all its descendants, sampled. Every
    descendant seen is remembered, so that ones which left the process
    group (the Python worker daemon makes its own) can be stopped too.

    A JVM forks itself to run helper commands; until the child execs, it
    reports the parent's whole RSS, which it only shares copy-on-write, so
    a child running the same binary as a JVM parent is not counted."""

    def __init__(self, pid: int, period_s: float = 0.1):
        self.pid, self.period = pid, period_s
        self.peak_kb = 0
        self.peak_by_command: dict[str, float] = {}  # MB, at the peak sample
        self.seen: dict[int, str] = {}  # pid -> start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        rss: dict[int, tuple[int, str, str]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                fields = _stat(d)
                with open(f"/proc/{d}/comm") as f:
                    cmd = f.read().strip()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(d))
            rss[int(d)] = (int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024, fields[19], cmd)
        total, by_command, todo = 0, {}, [self.pid]
        while todo:
            p = todo.pop()
            if p not in rss:
                continue
            kb, start, cmd = rss[p]
            self.seen.setdefault(p, start)
            total += kb
            by_command[cmd] = by_command.get(cmd, 0) + kb / 1024
            todo.extend(
                c for c in children.get(p, []) if not (cmd == "java" and _same_exe(c, p))
            )
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_command = total, by_command

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def stop_all(pgid: int, seen: dict[int, str], timeout_s: float = 20.0) -> None:
    """Kill what is left of the worker's process group and of every
    descendant seen, and wait until each has ended."""

    def alive() -> list[int]:
        pids = []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                fields = _stat(d)
            except OSError:
                continue
            if fields[0] != "Z" and (int(fields[2]) == pgid or seen.get(int(d)) == fields[19]):
                pids.append(int(d))
        return pids

    deadline = time.monotonic() + timeout_s
    while (pids := alive()) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_child(cmd: list[str], env: dict[str, str], cwd: str, deadline: float):
    """Run cmd in its own process group until it exits or the deadline
    passes; stop everything it started. -> (exit code or None, TreeRss)"""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=sys.stderr, stderr=sys.stderr)
    rss = TreeRss(proc.pid)
    code = None
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        rss.stop()
        stop_all(proc.pid, rss.seen)
        proc.wait()
    return code, rss


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "unstract_spark")):
        print("perfbench: no unstract_spark package next to perfbench/", file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("local", "tmp", "work"):
        os.makedirs(os.path.join(run_dir, d))
    env = pinned_env(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    deadline = time.monotonic() + RUN_TIMEOUT_S
    worker = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--run-dir", run_dir,
    ]
    res = None
    try:
        # inputs and oracle digests come from a process that has ended
        # before the measured one starts
        code, _ = run_child(worker + ["--stage"], env, run_dir, deadline)
        load_before = os.getloadavg()
        if code == 0:
            code, rss = run_child(
                worker + ["--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--out", result_path],
                env, run_dir, deadline,
            )
        if code == 0:
            with open(result_path) as f:
                res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    if res is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1

    res["peak_rss_mb"] = rss.peak_kb / 1024
    res["peak_rss_by_command_mb"] = rss.peak_by_command
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
        "load_avg_before": load_before,
        "load_avg_after": os.getloadavg(),
        **{k: v for k, v in res.items() if k != "layers"},
    }
    print(json.dumps({"diagnostics": diagnostics}))
    if args.trace:
        metrics = res["layers"]
    else:
        metrics = {name: {"value": res[name], "unit": unit} for name, unit in END_TO_END.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
