"""Tracing for the benchmark's per-layer split, measured from outside the
engine.

A traced pass runs in a Spark context started with the event log on
(uncompressed). Each op runs under its own job group, with a local
property naming the phase (build or collect). Around the op the tracer
records spans for the op, its builder call and its collect, and the
block-manager bytes held after it. A ``QueryExecutionListener`` records
every DataFrame action the op runs, in its builder (``ensure_*`` writes,
counts, model fits) as well as its final collect: the action's Catalyst
phase times from ``queryExecution().tracker()`` and its shuffle exchange
count from ``plans.inspect.exchange_count``. Calls into the ``ensure_*`` /
``update_*`` stores and into ``pin()`` are timed and counted through
wrappers that are installed only for the traced pass. A
``StreamingQueryListener`` records micro-batches. After the context
stops, the event log gives job, stage and task spans and task metrics,
attributed to ops by job group. Spans are kept in memory and written out
once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from types import SimpleNamespace

PHASE = "perfbench.phase"

# The store layer's public entry points.
STORE_FUNCS = (
    ("etlutil_spark.operators.dedup", "ensure_cluster_store"),
    ("etlutil_spark.operators.dedup", "ensure_minhash_store"),
    ("etlutil_spark.operators.text_analysis", "ensure_postings_store"),
    ("etlutil_spark.operators.text_analysis", "update_postings_store"),
    ("etlutil_spark.operators.text_analysis", "ensure_quality_store"),
    ("etlutil_spark.operators.clustering", "ensure_ivfadc_index"),
    ("etlutil_spark.operators.clustering", "update_ivfadc_index"),
    ("etlutil_spark.operators.sketch", "ensure_hist_store"),
    ("etlutil_spark.operators.sketch", "update_hist_store"),
    ("etlutil_spark.operators.similarity", "ensure_ivf_store"),
    ("etlutil_spark.sources.io", "ensure_bucketed_table"),
)
PIN_FUNCS = (
    ("etlutil_spark.operators.util", "pin"),
    ("etlutil_spark.operators.util", "pin_eager"),
)


def tree_size(root: str) -> tuple[int, int, int]:
    """(files, bytes, newest mtime_ns) under root."""
    files = size = newest = 0
    for d, _, names in os.walk(root):
        for n in names:
            try:
                st = os.stat(os.path.join(d, n))
            except OSError:
                continue
            files += 1
            size += st.st_size
            newest = max(newest, st.st_mtime_ns)
    return files, size, newest


class Tracer:
    def __init__(self, spark, store_root: str):
        self.spark = spark
        self.store_root = store_root
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        self.run_ids: dict[str, str] = {}
        self.batches: list[dict] = []
        self.terminated: set[str] = set()
        self._op: dict | None = None
        self._open: dict | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None
        self._actions = None

    # -- spans ---------------------------------------------------------
    def _span(self, name: str, kind: str, parent: int | None, start: float,
              end: float | None = None, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": parent, "name": name,
                "kind": kind, "start": start, "end": end,
                "op_id": self._op["op_id"] if self._op else None, **attrs}
        self.spans.append(span)
        return span

    def begin(self, op_id: str, name: str) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, name)
        sc.setLocalProperty(PHASE, "build")
        now = time.time()
        self._op = {"op_id": op_id, "op": name,
                    "store_calls": [], "pin_calls": 0, "actions": []}
        self.ops[op_id] = self._op
        self._op["span"] = self._span(name, "op", None, now)
        self._open = self._op["build"] = self._span(
            "build", "build", self._op["span"]["id"], now)

    def collecting(self) -> None:
        now = time.time()
        self._open["end"] = now
        self.spark.sparkContext.setLocalProperty(PHASE, "collect")
        self._open = self._op["collect"] = self._span(
            "collect", "collect", self._op["span"]["id"], now)

    def end(self, rows: int | None) -> None:
        """Close the op; total its actions' Catalyst phases and exchanges,
        and read the block bytes held after it."""
        now = time.time()
        op = self._op
        self._open["end"] = now
        op["span"]["end"] = now
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty(PHASE, None)
        # Action listeners run on the listener bus: drain it so that every
        # action of this op has been recorded before the next op begins.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        op["rows"] = rows or 0
        op["catalyst"] = defaultdict(float)
        for action in op["actions"]:
            for phase, s in action["catalyst"].items():
                op["catalyst"][phase] += s
        op["exchanges"] = sum(a["exchanges"] for a in op["actions"])
        op["pin_bytes"] = sum(
            i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
        )
        self._op = self._open = None

    def _action(self, func: str, qe, failed: bool) -> None:
        """QueryExecutionListener callback: one finished DataFrame action."""
        from etlutil_spark.plans.inspect import exchange_count

        op = self._op
        if op is None:
            return
        try:
            # exchange_count reads a DataFrame's QueryExecution; hand it this one
            df = SimpleNamespace(_sc=self.spark.sparkContext,
                                 _jdf=SimpleNamespace(queryExecution=lambda: qe))
            op["actions"].append({
                "func": func, "failed": failed,
                "catalyst": catalyst_phases(self.spark, qe),
                "exchanges": exchange_count(df),
            })
        except Exception as e:  # never let a listener error reach the engine
            op["actions"].append({"func": func, "failed": failed, "catalyst": {},
                                  "exchanges": 0, "error": repr(e)[:200]})

    # -- wrappers around public layer entry points ---------------------
    def _store_wrapper(self, fn, name):
        def wrapped(*args, **kwargs):
            before = tree_size(self.store_root)
            t0, start = time.perf_counter(), time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                kind = "build" if tree_size(self.store_root) != before else "reuse"
                if self._op is not None:
                    self._op["store_calls"].append(
                        {"fn": name, "kind": kind, "s": dt})
                    self._span(name, "store", self._open["id"], start,
                               start + dt, decision=kind)

        return wrapped

    def _pin_wrapper(self, fn):
        def wrapped(*args, **kwargs):
            if self._op is not None:
                self._op["pin_calls"] += 1
            return fn(*args, **kwargs)

        return wrapped

    def _patch(self, funcs, make) -> None:
        import importlib

        for mod_name, attr in funcs:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = make(original, attr)
            # rebind every module-level alias (``from x import pin``)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("etlutil_spark") and \
                        getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, original))

    @contextmanager
    def installed(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                if tracer._op is not None:
                    tracer.run_ids[str(event.runId)] = tracer._op["op_id"]

            def onQueryProgress(self, event):
                p = event.progress
                tracer.batches.append({
                    "run_id": str(p.runId), "batch_id": p.batchId,
                    "rows": p.numInputRows, "duration_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer.terminated.add(str(event.runId))

        class Actions:
            def onSuccess(self, func, qe, _duration_ns):
                tracer._action(func, qe, failed=False)

            def onFailure(self, func, qe, _exception):
                tracer._action(func, qe, failed=True)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        from pyspark import SparkContext
        from pyspark.java_gateway import ensure_callback_server_started

        self._patch(STORE_FUNCS, self._store_wrapper)
        self._patch(PIN_FUNCS, lambda fn, _name: self._pin_wrapper(fn))
        self._listener = Listener()
        self.spark.streams.addListener(self._listener)
        ensure_callback_server_started(SparkContext._gateway)
        self._actions = Actions()
        listeners = self.spark._jsparkSession.listenerManager()
        listeners.register(self._actions)
        try:
            yield self
        finally:
            for mod, attr, original in reversed(self._patched):
                setattr(mod, attr, original)
            self._patched.clear()
            self._drain_listener()
            self.spark.streams.removeListener(self._listener)
            listeners.unregister(self._actions)

    def _drain_listener(self, timeout_s: float = 30.0) -> None:
        """Streaming listener events arrive asynchronously; wait until every
        started query's termination has been seen."""
        deadline = time.monotonic() + timeout_s
        while set(self.run_ids) - self.terminated and time.monotonic() < deadline:
            time.sleep(0.05)

    # -- event log -------------------------------------------------------
    def attribute(self, eventlog_dir: str) -> None:
        """Attach jobs, stages and task metrics from the (stopped)
        context's event log to the ops that ran them."""
        groups = {**{k: k for k in self.ops}, **self.run_ids}

        def owner(props: dict, at: float) -> str | None:
            """The op by job group; else the op running at that time."""
            op_id = groups.get(props.get("spark.jobGroup.id"))
            if op_id is None:
                op_id = next((o["op_id"] for o in self.ops.values()
                              if o["span"]["start"] <= at <= o["span"]["end"]), None)
            return op_id

        jobs: dict[int, dict] = {}
        stages: dict[tuple, dict] = {}
        stage_props: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        job_span: dict[int, int] = {}
        for event in _events(eventlog_dir):
            kind = event.get("Event")
            if kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                start = event["Submission Time"] / 1000.0
                jobs[event["Job ID"]] = {"op_id": owner(props, start),
                                         "phase": props.get(PHASE), "start": start}
                for stage_id in event.get("Stage IDs", []):
                    stage_job[stage_id] = event["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if event["Job ID"] in jobs:
                    jobs[event["Job ID"]]["end"] = event["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = event["Stage Info"]
                stage_props[info["Stage ID"]] = event.get("Properties") or {}
            elif kind == "SparkListenerStageCompleted":
                info = event["Stage Info"]
                start = info.get("Submission Time", 0) / 1000.0
                stage = stages.setdefault(
                    (info["Stage ID"], info["Stage Attempt ID"]), {"tasks": []})
                stage.update(
                    op_id=owner(stage_props.get(info["Stage ID"], {}), start),
                    start=start, end=info.get("Completion Time", 0) / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                key = (event["Stage ID"], event["Stage Attempt ID"])
                stages.setdefault(key, {"tasks": []})["tasks"].append(_task(event))
        for op in self.ops.values():
            op.update(jobs=0, build_jobs=0, stages=0, tasks=0, job_spans=[],
                      exec=defaultdict(float), worst_skew=1.0)
        for job_id, job in sorted(jobs.items()):
            op = self.ops.get(job["op_id"])
            if op is None:
                continue
            op["jobs"] += 1
            op["build_jobs"] += job["phase"] == "build"
            op["job_spans"].append((job["start"], job.get("end", job["start"])))
            parent = op.get(job["phase"], op["span"])["id"]
            job_span[job_id] = len(self.spans)
            self.spans.append({"id": len(self.spans), "parent": parent,
                               "name": f"job {job_id}", "kind": "job",
                               "op_id": op["op_id"], "start": job["start"],
                               "end": job.get("end"), "phase": job["phase"]})
        for (stage_id, attempt), stage in sorted(stages.items()):
            op = self.ops.get(stage.get("op_id"))
            if op is None:
                continue
            op["stages"] += 1
            op["tasks"] += len(stage["tasks"])
            for t in stage["tasks"]:
                for k, v in t.items():
                    op["exec"][k] += v
            runs = [t["run_s"] for t in stage["tasks"]]
            if len(runs) >= 2 and max(runs) >= 0.05:
                op["worst_skew"] = max(
                    op["worst_skew"], max(runs) / max(statistics.median(runs), 0.001))
            parent = job_span.get(stage_job.get(stage_id), op["span"]["id"])
            self.spans.append({"id": len(self.spans), "parent": parent,
                               "name": f"stage {stage_id}.{attempt}",
                               "kind": "stage", "op_id": op["op_id"],
                               "start": stage.get("start"), "end": stage.get("end"),
                               "tasks": len(stage["tasks"])})

    def write(self, path: Path, payload: dict) -> None:
        ops = []
        for op in self.ops.values():
            row = {k: v for k, v in op.items()
                   if k not in ("span", "build", "collect", "job_spans")}
            row["exec"] = dict(row.get("exec", {}))
            row["catalyst"] = dict(row.get("catalyst", {}))
            ops.append(row)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {**payload, "ops": ops, "spans": self.spans,
             "streaming_batches": self.batches}, indent=1, default=str))


def collect_driver_s(op: dict) -> float:
    """Collect wall time not covered by the op's job spans."""
    if "collect" not in op:
        return 0.0
    lo, hi = op["collect"]["start"], op["collect"]["end"]
    covered, cursor = 0.0, lo
    for start, end in sorted(op["job_spans"]):
        start, end = max(start, cursor), min(end, hi)
        if end > start:
            covered += end - start
            cursor = end
    return max(0.0, (hi - lo) - covered)


def catalyst_phases(spark, qe) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis, optimization, planning) of a
    JVM QueryExecution."""
    phases = qe.tracker().phases()
    m = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
    return {k: m.get(k).durationMs() / 1000.0 for k in m.keySet()}


def _events(eventlog_dir: str):
    files = sorted(
        p for p in Path(eventlog_dir).rglob("*")
        if p.is_file() and not p.name.startswith(("appstatus", "."))
    )
    for p in files:
        with p.open() as f:
            for line in f:
                yield json.loads(line)


def _task(event: dict) -> dict:
    info = event["Task Info"]
    m = event.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
    sched = max(0, duration - run_ms - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0) - getting)
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    return {
        "run_s": run_ms / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "sched_delay_s": sched / 1000.0,
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
    }
