"""One benchmark run in a fresh process (started by run.py).

With --stage it only generates the workload's inputs and the calibration
table and writes what the checks need to <run dir>/staged.json; run.py
runs that first, in a process of its own, so that input generation and the
oracle are not part of the measured process tree.

Otherwise it brings the engine session up, warms the workload, then runs
rounds of ops in a closed loop for the requested seconds and writes the
measurements as JSON to --out. With --trace 1 untraced and traced rounds
alternate; per-layer numbers come from the traced rounds only, and their
difference in round time is the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import workloads  # noqa: E402

# Rounds a run measures even when its window is shorter (per-op medians of
# two samples). More rounds would not steady the runs much: their spread
# comes from host speed changing between runs, and each run already pays
# ~10 s of JVM launch plus its warm-up.
MIN_ROUNDS = 2
TRACED_ROUNDS = 2  # in a --trace 1 run, with one untraced round between
CALIBRATION_ROWS = 200_000


def _conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def bring_up(conf: dict[str, str]):
    """The program's session factory plus one tiny job: the set-up a user
    pays before the first real call."""
    from unstract_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def write_calibration_table(path: str) -> None:
    n = CALIBRATION_ROWS
    pq.write_table(
        pa.table({
            "k": pa.array([i % 5003 for i in range(n)], pa.int64()),
            "price": pa.array([(i * 37 % 1000) / 10 for i in range(n)], pa.float64()),
            "qty": pa.array([i % 50 for i in range(n)], pa.int64()),
        }),
        path,
    )


def calibration(spark, path: str) -> float:
    """A fixed scan-aggregate whose cost depends only on the host (the
    shape of bench.py's calibration); recorded as a drift diagnostic."""
    df = spark.read.parquet(path)
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.selectExpr("sum(price * qty)", "sum(qty)", "count(distinct k)").collect()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples[1:])


def one_round(wl, k: int, tracer=None) -> list[dict]:
    """One op of every type, each issued after the previous one completed."""
    ops = []
    for op in wl.ops:
        arg = wl.prepare(op, k)
        span = tracer.op_span(op) if tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                out = wl.run(op, k, arg)
            dt = time.perf_counter() - t0
            ok, items, counts = wl.check(op, k, out)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            print(f"op {op} #{k} failed: {e!r}"[:500], file=sys.stderr)
            dt, ok, items, counts = time.perf_counter() - t0, False, 0, {}
        ops.append({"op": op, "s": dt, "ok": ok, "items": items, "counts": counts})
    return ops


def measure(wl, seconds: float) -> list[list[dict]]:
    """Closed loop of rounds until `seconds` have passed (at least
    MIN_ROUNDS)."""
    rounds: list[list[dict]] = []
    t_end = time.perf_counter() + seconds
    while len(rounds) < MIN_ROUNDS or time.perf_counter() < t_end:
        rounds.append(one_round(wl, len(rounds)))
    return rounds


def measure_traced(wl, seconds: float, tracer) -> tuple[list, list]:
    """Traced and untraced rounds alternate (traced first and last), so
    both kinds see the same warm-up drift; -> (untraced, traced rounds)."""
    plain: list[list[dict]] = []
    traced: list[list[dict]] = []
    t_end = time.perf_counter() + seconds
    while True:
        with tracer.installed():
            traced.append(one_round(wl, len(plain) + len(traced), tracer))
        if len(traced) >= TRACED_ROUNDS and time.perf_counter() >= t_end:
            return plain, traced
        plain.append(one_round(wl, len(plain) + len(traced)))


def summarize(rounds: list[list[dict]]) -> dict:
    """Each op type's median time; work_s is a round at those medians."""
    by_op: dict[str, list[float]] = {}
    for o in (o for r in rounds for o in r):
        by_op.setdefault(o["op"], []).append(o["s"])
    medians = {op: statistics.median(v) for op, v in by_op.items()}
    op_s = sum(o["s"] for r in rounds for o in r)
    items = sum(o["items"] for r in rounds for o in r)
    return {
        "work_s": sum(medians.values()),
        "op_geomean_s": math.exp(sum(math.log(m) for m in medians.values()) / len(medians)),
        "items_per_s": items / op_s,
        "op_medians_s": medians,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--stage", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    work_dir = os.path.join(args.run_dir, "work")
    staged_path = os.path.join(args.run_dir, "staged.json")
    calibration_path = os.path.join(args.run_dir, "calibration.parquet")
    Workload = workloads.WORKLOADS[args.workload]
    if args.stage:
        staged = Workload.stage(work_dir, args.seed)
        write_calibration_table(calibration_path)
        with open(staged_path, "w") as f:
            json.dump(staged, f)
        return 0

    trace = bool(args.trace)
    t_proc = time.perf_counter()
    with open(staged_path) as f:
        staged = json.load(f)
    t0 = time.perf_counter()
    spark = bring_up(_conf(args.run_dir, trace))
    setup_s = time.perf_counter() - t0
    wl = Workload(spark, work_dir, args.seed, staged)
    calibration_s = calibration(spark, calibration_path)
    t0 = time.perf_counter()
    wl.setup()
    warmup_s = time.perf_counter() - t0

    tracer = None
    if trace:
        import layers

        tracer = layers.Tracer(spark, run_id=f"{args.workload}-{args.seed}")
        untraced, rounds = measure_traced(wl, args.seconds, tracer)
    else:
        untraced = []
        rounds = measure(wl, args.seconds)
    finished_ok = wl.finish()
    spark.stop()

    all_rounds = untraced + rounds
    attempted = sum(len(r) for r in all_rounds)
    # a failed end-of-run check fails every op whose output it covers
    failed = sum(
        1 for r in all_rounds for o in r
        if not o["ok"] or (not finished_ok and o["op"] in wl.checked_at_finish)
    )
    summary = summarize(rounds)
    out = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "warmup_s": warmup_s,
        "calibration_s": calibration_s,
        "process_s": time.perf_counter() - t_proc,
        "rounds": len(rounds),
        "round_op_s": [{o["op"]: o["s"] for o in r} for r in rounds],
        **summary,
    }
    if tracer is not None:
        overhead_s = summary["work_s"] - summarize(untraced)["work_s"]
        out["layers"] = tracer.report(rounds, overhead_s, args.run_dir)
    if wl.store_digest is not None:
        out["store_digest"] = wl.store_digest
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
