"""Per-layer tracing for the traced run (--trace 1).

Spans are recorded from outside the program: the benchmark wraps the
public functions each layer exposes (catalog listing/staging, history
planning/merge, extraction, streaming fires, registry queries) and sets a
Spark job group for the duration of each call. After the session stops,
the uncompressed Spark event log is parsed and every job is attributed to
the span whose group it carries, or else to the innermost span open when
the job was submitted. Streaming fire phases come from a
StreamingQueryListener. Spans and counts stay in memory until the run
ends and are then written to .perfbench_out/ in the checkout.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from datetime import datetime

from workloads import CURATION_QUERIES, FAMILIES

MB = float(1 << 20)
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "PythonMapInArrow")
STREAM_PHASES = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "latest_offset_ms": "latestOffset",
}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._tagged: dict[int, tuple[object, str]] = {}
        self.progress: list[dict] = []

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc.setJobGroup(f"perfbench-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"perfbench-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def op_span(self, op: str):
        if op.endswith("_run"):
            return self.span("plans.pipeline.run_extraction")
        if op.endswith("_fire"):
            return self.span("streaming.incremental.fire." + op[: -len("_fire")])
        return self.span("queries." + op)

    def _wrap(self, fn, name: str, tag: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if tag is not None:
                tracer._tagged[id(out)] = (out, tag)
            return out

        return traced

    def _checkpoint_wrapper(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(df, *args, **kwargs):
            tagged = tracer._tagged.get(id(df))
            inner = tracer.spans[tracer._stack[-1]]["name"] if tracer._stack else ""
            if tagged is not None and tagged[0] is df:
                name = tagged[1] + ".stage"
            elif inner.startswith("sinks.history"):
                name = "sinks.history.snapshot"
            elif inner == "plans.pipeline.run_extraction":
                name = "plans.pipeline.extract_stage"
            else:
                name = inner + ".checkpoint"
            with tracer.span(name):
                return fn(df, *args, **kwargs)

        return traced

    @contextlib.contextmanager
    def installed(self):
        """Wrap the layers' public functions for the duration of the block."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.streaming import StreamingQueryListener

        from unstract_spark.plans import pipeline
        from unstract_spark.sinks.history import FileHistoryStore

        patches = [
            (pipeline, "list_files", self._wrap(pipeline.list_files, "sources.catalog.list")),
            (pipeline, "build_catalog",
             self._wrap(pipeline.build_catalog, "sources.catalog.build", tag="sources.catalog")),
            (pipeline, "extract_text", self._wrap(pipeline.extract_text, "operators.extract.plan")),
            (FileHistoryStore, "dedup_catalog",
             self._wrap(FileHistoryStore.dedup_catalog, "sinks.history.plan")),
            (FileHistoryStore, "replay_results",
             self._wrap(FileHistoryStore.replay_results, "sinks.history.plan")),
            (FileHistoryStore, "merge", self._wrap(FileHistoryStore.merge, "sinks.history.merge")),
            (DataFrame, "localCheckpoint", self._checkpoint_wrapper(DataFrame.localCheckpoint)),
        ]
        saved = [(obj, attr, obj.__dict__[attr]) for obj, attr, _ in patches]
        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({
                    "run_id": str(p.runId),
                    "timestamp": p.timestamp,
                    "durations": dict(p.durationMs),
                    "input_rows": p.numInputRows,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Listener()
        self.spark.streams.addListener(listener)
        for obj, attr, fn in patches:
            setattr(obj, attr, fn)
        try:
            yield self
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)
            time.sleep(0.5)  # the listener bus delivers the last progress late
            self.spark.streams.removeListener(listener)
            self._tagged.clear()

    # -- attribution ------------------------------------------------------

    def _owner(self, group: str | None, t: float) -> int | None:
        if group and group.startswith("perfbench-"):
            return int(group.split("-", 1)[1])
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t) and (best is None or s["start"] >= best["start"]):
                best = s
        return None if best is None else best["id"]

    def _within(self, sid: int, prefix: str) -> bool:
        s = self.spans[sid]
        while True:
            if s["name"].startswith(prefix):
                return True
            if s["parent"] is None:
                return False
            s = self.spans[s["parent"]]

    def _parse_event_logs(self, log_dir: str) -> tuple[list[dict], list[dict]]:
        """-> (jobs with their owning span, tasks with their owning span)"""
        jobs, tasks = [], []
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if not os.path.isfile(path):
                continue
            stage_owner: dict[int, int | None] = {}
            python_accums: set[int] = set()
            rows_accums: set[int] = set()
            stage_accums: dict[int, dict[int, float]] = {}
            app_tasks = []
            with open(path, errors="replace") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        owner = self._owner(props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
                        jobs.append({"owner": owner})
                        for sid in ev.get("Stage IDs", []):
                            stage_owner.setdefault(sid, owner)
                    elif kind == "SparkListenerTaskEnd":
                        app_tasks.append(ev)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        stage_accums[info["Stage ID"]] = {
                            a["ID"]: float(a["Value"]) for a in info.get("Accumulables", [])
                            if str(a.get("Value", "")).lstrip("-").isdigit()
                        }
                    elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"
                    ):
                        _python_metrics(ev.get("sparkPlanInfo") or {}, python_accums, rows_accums)
            for ev in app_tasks:
                stage = ev["Stage ID"]
                accums = stage_accums.get(stage, {})
                python_stage = bool(python_accums & accums.keys())
                tasks.append({
                    "owner": stage_owner.get(stage),
                    "stage": (path, stage),
                    "python": python_stage,
                    "python_rows": sum(v for a, v in accums.items() if a in rows_accums),
                    **_task_metrics(ev),
                })
        return jobs, tasks

    # -- report -----------------------------------------------------------

    def report(self, rounds: list[list[dict]], overhead_s: float, run_dir: str) -> dict:
        jobs, tasks = self._parse_event_logs(os.path.join(run_dir, "eventlog"))
        n_rounds = len(rounds)
        ops = [o for r in rounds for o in r]
        etl_ops = [o for o in ops if o["op"].endswith("_run")]
        roots = [s for s in self.spans if s["parent"] is None]

        def dur(prefix: str) -> float:
            """Summed duration of spans named `prefix`*, outermost only."""
            return sum(
                s["end"] - s["start"] for s in self.spans
                if s["name"].startswith(prefix)
                and (s["parent"] is None or not self._within(s["parent"], prefix))
            )

        def tasks_in(prefix: str) -> list[dict]:
            return [t for t in tasks if t["owner"] is not None and self._within(t["owner"], prefix)]

        owned = [t for t in tasks if t["owner"] is not None]
        per_round = lambda x: x / n_rounds  # noqa: E731
        per_etl = lambda x: x / len(etl_ops) if etl_ops else 0.0  # noqa: E731
        catalog = tasks_in("sources.catalog")
        extract = tasks_in("plans.pipeline.run_extraction")
        run_s = sum(t["run_s"] for t in owned)
        m: dict[str, tuple[float, str]] = {
            "sources.catalog.s": (per_etl(dur("sources.catalog")), "s"),
            "sources.catalog.files": (per_etl(sum(t["input_records"] for t in catalog)), "count"),
            "sources.catalog.bytes_read_mb": (per_etl(sum(t["input_bytes"] for t in catalog) / MB), "MB"),
            "sources.catalog.scan_tasks": (per_etl(sum(1 for t in catalog if t["input_records"])), "count"),
            "sinks.history.plan_s": (per_etl(dur("sinks.history.plan")), "s"),
            "sinks.history.merge_s": (per_etl(dur("sinks.history.merge")), "s"),
            "sinks.history.rows_written": (
                per_etl(sum(t["records_written"] for t in tasks_in("sinks.history.merge"))), "count"),
            "sinks.history.hit_ratio": (
                per_etl(sum(o["counts"]["skipped"] / (o["counts"]["skipped"] + o["counts"]["results"])
                            for o in etl_ops if o["counts"])), "ratio"),
            "sinks.history.empty_merges": (
                per_etl(sum(1 for o in etl_ops if o["counts"] and o["counts"]["results"] == 0)), "count"),
            "operators.extract.python_rows": (
                per_etl(sum(t["python_rows"] for t in _stages(extract) if t["python"])), "count"),
            "operators.extract.python_stage_s": (
                per_etl(sum(t["run_s"] for t in extract if t["python"])), "s"),
            "operators.extract.error_rows": (
                per_etl(sum(o["counts"].get("error_rows", 0) for o in etl_ops)), "count"),
            "plans.pipeline.extract_stage_s": (per_etl(dur("plans.pipeline.extract_stage")), "s"),
            "plans.pipeline.jobs_per_run": (
                per_etl(sum(1 for j in jobs if j["owner"] is not None
                            and self._within(j["owner"], "plans.pipeline.run_extraction"))), "count"),
        }
        family_s = {f: 0.0 for f in FAMILIES.values()}
        for q in CURATION_QUERIES:
            q_spans = [s for s in roots if s["name"] == "queries." + q]
            q_s = statistics.median(s["end"] - s["start"] for s in q_spans) if q_spans else 0.0
            shuffle = sum(t["shuffle_write"] for t in tasks_in("queries." + q)) / MB
            m[f"queries.{q}.s"] = (q_s, "s")
            m[f"queries.{q}.shuffle_write_mb"] = (shuffle / len(q_spans) if q_spans else 0.0, "MB")
            family_s[FAMILIES[q.split("_")[0]]] += q_s
        for fam, s in family_s.items():
            m[f"operators.{fam}.s"] = (s, "s")

        fires = [s for s in roots if s["name"].startswith("streaming.incremental.fire")]
        phases = {f["id"]: [] for f in fires}
        for p in self.progress:
            t = _epoch(p["timestamp"])
            for f in fires:
                if f["start"] <= t <= f["end"]:
                    phases[f["id"]].append(p)
        per_fire = lambda x: x / len(fires) if fires else 0.0  # noqa: E731

        def phase_ms(key: str) -> float:
            return per_fire(sum(p["durations"].get(key, 0) for ps in phases.values() for p in ps))

        m["streaming.incremental.fire_s"] = (per_fire(sum(f["end"] - f["start"] for f in fires)), "s")
        for name, key in STREAM_PHASES.items():
            m[f"streaming.incremental.{name}"] = (phase_ms(key), "ms")
        m["streaming.incremental.machinery_ms"] = (phase_ms("triggerExecution") - phase_ms("addBatch"), "ms")
        m["streaming.incremental.input_rows"] = (
            per_fire(sum(p["input_rows"] for ps in phases.values() for p in ps)), "count")

        m.update({
            "spark.jobs": (per_round(sum(1 for j in jobs if j["owner"] is not None)), "count"),
            "spark.tasks": (per_round(len(owned)), "count"),
            "spark.sched_delay_s": (per_round(sum(t["sched_delay_s"] for t in owned)), "s"),
            "spark.executor_run_s": (per_round(run_s), "s"),
            "spark.executor_cpu_s": (per_round(sum(t["cpu_s"] for t in owned)), "s"),
            "spark.jvm_gc_s": (per_round(sum(t["gc_s"] for t in owned)), "s"),
            "spark.shuffle_write_mb": (per_round(sum(t["shuffle_write"] for t in owned) / MB), "MB"),
            "spark.shuffle_read_mb": (per_round(sum(t["shuffle_read"] for t in owned) / MB), "MB"),
            "spark.spill_mb": (per_round(sum(t["spill"] for t in owned) / MB), "MB"),
            "spark.python_stage_share": (
                sum(t["run_s"] for t in owned if t["python"]) / run_s if run_s else 0.0, "ratio"),
            "trace.overhead_s": (overhead_s, "s"),
        })
        self._write(run_dir, m)
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _write(self, run_dir: str, metrics: dict) -> None:
        # run_dir is <checkout>/.perfbench_runs/<run>
        out_dir = os.path.join(os.path.dirname(os.path.dirname(run_dir)), ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{self.run_id}.json"), "w") as f:
            json.dump({"spans": self.spans, "streaming_progress": self.progress,
                       "layers": {k: v for k, (v, _) in metrics.items()}}, f)


def _python_metrics(node: dict, python_accums: set[int], rows_accums: set[int]) -> None:
    """Collect the accumulator ids of Python-stage plan nodes."""
    if any(node.get("nodeName", "").startswith(n) for n in PYTHON_NODES):
        for metric in node.get("metrics", []):
            python_accums.add(metric["accumulatorId"])
            if metric["name"] == "number of output rows":
                rows_accums.add(metric["accumulatorId"])
    for child in node.get("children", []):
        _python_metrics(child, python_accums, rows_accums)


def _stages(tasks: list[dict]) -> list[dict]:
    """One entry per stage (stage-level SQL metrics repeat on its tasks)."""
    seen, out = set(), []
    for t in tasks:
        if t["stage"] not in seen:
            seen.add(t["stage"])
            out.append(t)
    return out


def _task_metrics(ev: dict) -> dict:
    info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    run_ms = tm.get("Executor Run Time", 0)
    duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead_ms = (tm.get("Executor Deserialize Time", 0) + tm.get("Result Serialization Time", 0)
                   + info.get("Getting Result Time", 0))
    sr, sw = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
    return {
        "run_s": run_ms / 1000,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1000,
        "sched_delay_s": max(0, duration_ms - run_ms - overhead_ms) / 1000,
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill": tm.get("Disk Bytes Spilled", 0),
        "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_records": tm.get("Input Metrics", {}).get("Records Read", 0),
        "records_written": tm.get("Output Metrics", {}).get("Records Written", 0),
    }


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
